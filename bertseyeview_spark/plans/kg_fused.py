"""Fused page-local KG construction: one Arrow pass, zero mid shuffles.

The modular plan (plans/kg.py) composes E1-E4 as separate operators —
readable, individually testable, but each stage boundary is a shuffle
and at small-to-medium batch sizes the serial stage latency dominates
(measured: ~26s of non-parallel time per run on the sandbox VM).

Everything E1-E4 computes is *page-local*: extraction, dictionary NER,
keyword tagging, linking (broadcast dictionary — including the
embedding disambiguation, whose context is the sentence itself), and
sentence-pattern triple pairing. So the fused plan runs all of it in a
single ``mapInPandas`` over the pages table and emits edge rows
directly:

    pages -> [one Arrow UDF] -> (src, rel, dst) -> global dedup
          -> canonical remap -> dangling-citation semi-join

Only three shuffles remain end-to-end (dedup, remap is broadcast,
semi-join). The per-page logic is THE SAME pure functions the modular
operators use (extract_one, tag_text, NeuralTypeScorer, the token-hash
embedding) — a parity test asserts fused == modular output.

At 10^12 docs this fusion is exactly what you want anyway: the
page-local hot path is embarrassingly parallel, and stage fusion keeps
every byte inside one Arrow batch until the first true aggregation.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark import Broadcast
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..datagen import (
    EMBED_DIM,
    alias_dict_to_spark,
    build_alias_dict,
    build_curation_rules,
    token_embedding,
)
from ..dispatch import pull_within
from ..operators import canonicalize as canon
from ..operators import graph as G
from ..operators.extract import extract_one
from ..operators.mentions import _compile_matcher, get_scorer, tag_text
from ..operators.triples import DEFAULT_PATTERNS, normalize_patterns

_KEYWORDS_DEFAULT = ["therapy", "biomarker", "clinical trial", "prognosis"]


def _embed(text: str, cache: dict[str, np.ndarray]) -> np.ndarray:
    toks = [t for t in (text or "").lower().split() if t]
    if not toks:
        return np.zeros(EMBED_DIM)
    acc = np.zeros(EMBED_DIM)
    for t in toks:
        v = cache.get(t)
        if v is None:
            v = token_embedding(t)
            cache[t] = v
        acc += v
    n = np.linalg.norm(acc)
    return acc / n if n > 0 else acc


def _page_edges(
    url: str,
    html: bytes,
    alias_map: dict[str, list[tuple[str, np.ndarray]]],
    matcher,
    keywords: list[str],
    patterns: dict[str, str],
    emb_cache: dict[str, np.ndarray],
    mention_contexts: list[str] | None = None,
) -> list[tuple[str, str, str]]:
    """All edge rows for one page. Pure, deterministic.
    ``mention_contexts`` (if given) collects each mention's sentence
    for the batched type scorer."""
    text, links = extract_one(html)
    out: list[tuple[str, str, str]] = []

    # citing
    for dst in links:
        if dst != url:
            out.append((url, "citing", dst))

    # keywords (substring semantics, reference F2)
    low = text.lower()
    for kw in keywords:
        if kw in low:
            out.append((url, "contains", f"Keyword:{kw}"))

    # mentions + linking
    mentions = tag_text(text, matcher)
    linked: list[tuple[str, int, str, str]] = []  # (sent_start, start, surface, id)
    sent_emb_cache: dict[str, np.ndarray] = {}
    for surface, start, end, sent_start, sentence in mentions:
        cands = alias_map.get(surface)
        if not cands:
            continue
        if mention_contexts is not None:
            mention_contexts.append(sentence)
        if len(cands) == 1:
            eid = cands[0][0]
        else:
            se = sent_emb_cache.get(sentence)
            if se is None:
                se = _embed(sentence, emb_cache)
                sent_emb_cache[sentence] = se
            # max cosine, tie-break lexicographic id (dict embeddings
            # are unit-norm, so dot == cosine)
            eid = min(cands, key=lambda c: (-float(se @ c[1]), c[0]))[0]
        if eid != "Null":
            out.append((url, "has_named_entity", eid))
        linked.append((sent_start, start, end, surface, sentence, eid))

    # relation triples: co-sentence ordered pairs, connecting-gap match
    by_sentence: dict[tuple[int, str], list] = {}
    for sent_start, start, end, surface, sentence, eid in linked:
        by_sentence.setdefault((sent_start, sentence), []).append(
            (start, end, surface, eid)
        )
    for (sent_start, sentence), ms in by_sentence.items():
        if len(ms) < 2:
            continue
        for a in ms:
            for b in ms:
                if a[1] >= b[0]:
                    continue
                gap = sentence[a[1] - sent_start : b[0] - sent_start].strip().lower()
                hit = patterns.get(gap)
                if hit and a[3] != "Null" and b[3] != "Null" and a[3] != b[3]:
                    pred, inverted = hit
                    s, o = (b[3], a[3]) if inverted else (a[3], b[3])
                    out.append((s, pred, o))
    return out


# CEILING: the fused plan ships the alias dictionary to every Python
# worker as one broadcast built from one Arrow pull. Peak driver Python
# memory is ~2.2 KB per dictionary row: 534 MB for dictionary_broadcast
# at 250,000 rows with 64-float embeddings (tracemalloc plus Arrow pool
# peak, CPython 3.11, pyarrow 16), so the ceiling bounds the driver at
# ~0.55 GB. Each worker's copy is the pickled map, 138 MB at 250,000
# rows. Above it ``dictionary_broadcast`` raises, and KGPipeline runs
# the modular plan (plans/kg.py) instead: its linking joins the
# dictionary as a DataFrame, which scales to any dictionary size. Parity
# between the two plans is pinned by tests/test_kg_fused.py.
FUSED_ALIAS_CEILING = 250_000


def dictionary_broadcast(
    spark: SparkSession,
    alias_df: DataFrame,
    keywords: list[str] | None = None,
    patterns: dict[str, str] | None = None,
    ner_scorer_layers: int = 0,
) -> Broadcast:
    """Pull the alias dictionary and broadcast it, with the per-page
    config, as plain python (model-broadcast pattern, like shipping
    tokenizer/model weights to workers).

    Raises ``ValueError`` above ``FUSED_ALIAS_CEILING`` rows; the pull
    (:func:`~..dispatch.pull_within`) reads at most one row past the
    ceiling, so the guard itself stays inside the driver-memory bound."""
    ceiling = FUSED_ALIAS_CEILING
    t, _ = pull_within(alias_df.select("alias", "entity_id", "embedding"), ceiling)
    if t is None:
        raise ValueError(
            f"alias dictionary has more than {ceiling} rows, the fused "
            "plan's broadcast ceiling (FUSED_ALIAS_CEILING); use the "
            "modular plan (plans/kg.py construct_triples, or KGPipeline, "
            "which falls back to it above the ceiling)"
        )
    alias_map: dict[str, list[tuple[str, np.ndarray]]] = {}
    # embeddings come out as numpy arrays (None when null); converting
    # through a python float list per row takes ten times as long
    aliases, eids = t.column(0).to_pylist(), t.column(1).to_pylist()
    embs = t.column(2).to_numpy(zero_copy_only=False)
    for alias, eid, emb in zip(aliases, eids, embs):
        if emb is None or not len(emb):
            emb = np.zeros(EMBED_DIM)
        alias_map.setdefault(alias, []).append((eid, np.array(emb, np.float64)))
    for cands in alias_map.values():
        cands.sort(key=lambda c: c[0])
    return spark.sparkContext.broadcast(
        {
            "alias_map": alias_map,
            "keywords": list(keywords or _KEYWORDS_DEFAULT),
            "patterns": dict(normalize_patterns(patterns or DEFAULT_PATTERNS)),
            "aliases": sorted(alias_map),
            "ner_layers": ner_scorer_layers,
        }
    )


def fused_page_edges(
    pages: DataFrame, dictionary: Broadcast, with_origin: bool = False
) -> DataFrame:
    """pages(url, html) -> page-local edges (src, rel, dst), null nodes
    dropped and deduped, in one ``mapInPandas`` pass against a
    ``dictionary_broadcast``.

    ``with_origin=True`` adds ``origin_url`` (the page each edge was
    extracted from — every fused edge is page-local, so the origin is
    exact) and dedups per (edge, origin)."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        cfg = dictionary.value
        matcher = _compile_matcher(cfg["aliases"])
        scorer = (
            get_scorer(cfg["ner_layers"]) if cfg["ner_layers"] else None
        )
        emb_cache: dict[str, np.ndarray] = {}
        for pdf in batches:
            srcs: list[str] = []
            rels: list[str] = []
            dsts: list[str] = []
            origins: list[str] = []
            contexts: list[str] | None = [] if scorer is not None else None
            for url, html in zip(pdf["url"], pdf["html"]):
                for s, r, d in _page_edges(
                    url,
                    html,
                    cfg["alias_map"],
                    matcher,
                    cfg["keywords"],
                    cfg["patterns"],
                    emb_cache,
                    contexts,
                ):
                    srcs.append(s)
                    rels.append(r)
                    dsts.append(d)
                    origins.append(url)
            if scorer is not None and contexts:
                scorer.score(contexts)  # model cost per mention batch
            cols = {
                "src": pd.Series(srcs, dtype="object"),
                "rel": pd.Series(rels, dtype="object"),
                "dst": pd.Series(dsts, dtype="object"),
            }
            if with_origin:
                cols["origin_url"] = pd.Series(origins, dtype="object")
            yield pd.DataFrame(cols)

    schema = "src string, rel string, dst string"
    if with_origin:
        schema += ", origin_url string"
    staged = pages.select("url", "html").mapInPandas(run, schema=schema)
    # dedup per (edge, origin) when origins are kept: the origin pick
    # must be deterministic or idempotent chunk reruns would re-bucket
    # rows; the global pass collapses cross-page duplicates later
    dedup_cols = ["src", "rel", "dst"] + (
        ["origin_url"] if with_origin else []
    )
    return G.cleanup_null_nodes(staged).dropDuplicates(dedup_cols)


def construct_triples_fused(
    spark: SparkSession,
    pages: DataFrame,
    alias_dict: DataFrame | None = None,
    curation_rules: DataFrame | None = None,
    keywords: list[str] | None = None,
    patterns: dict[str, str] | None = None,
    drop_dangling_citations: bool = True,
    ner_scorer_layers: int = 0,
    canonicalize: bool = True,
    with_origin: bool = False,
) -> DataFrame:
    """pages(url, warc_ts, html, text, lang) -> (subj, pred, obj).

    Raises ``ValueError`` when the alias dictionary is above
    ``FUSED_ALIAS_CEILING`` rows (see ``dictionary_broadcast``).

    ``canonicalize=False`` skips the canonical-map build/apply — used
    when a caller (e.g. a sharded run) canonicalizes once globally
    instead of per shard.

    ``with_origin=True`` adds ``origin_url`` and dedups per (edge,
    origin) (see ``fused_page_edges``). Requires ``canonicalize=False``
    and ``drop_dangling_citations=False`` (the caller's global pass does
    both once)."""
    if with_origin and (canonicalize or drop_dangling_citations):
        raise ValueError(
            "with_origin=True requires canonicalize=False and "
            "drop_dangling_citations=False"
        )
    alias_df = (
        alias_dict
        if alias_dict is not None
        else alias_dict_to_spark(spark, build_alias_dict())
    )
    curation_rules = (
        curation_rules
        if curation_rules is not None
        else spark.createDataFrame(build_curation_rules())
    )
    staged = fused_page_edges(
        pages,
        dictionary_broadcast(
            spark, alias_df, keywords, patterns, ner_scorer_layers
        ),
        with_origin,
    )

    if canonicalize:
        cmap = canon.build_canonical_map_auto(
            spark, curation_rules=curation_rules, alias_dict=alias_df
        )
        edges = canon.apply_canonical_map(staged, cmap)
    else:
        edges = staged
    if drop_dangling_citations:
        # single-pass filter (rel != citing OR dst in corpus) via one
        # left join — a union of two branches over the same subtree
        # would execute the expensive UDF stage twice (measured 2x)
        urls = pages.select(F.col("url").alias("dst")).distinct().withColumn(
            "_in_corpus", F.lit(True)
        )
        edges = (
            edges.join(urls, "dst", "left")
            .where((F.col("rel") != "citing") | F.col("_in_corpus").isNotNull())
            .select("src", "rel", "dst")
        )
    out = [
        F.col("src").alias("subj"),
        F.col("rel").alias("pred"),
        F.col("dst").alias("obj"),
    ]
    if with_origin:
        out.append(F.col("origin_url"))
    return edges.select(*out)
