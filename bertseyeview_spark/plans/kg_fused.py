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
``plans/kg.py`` composes this module's page-local edges with the global
pass, and picks this plan while the dictionary fits its broadcast.

At 10^12 docs this fusion is exactly what you want anyway: the
page-local hot path is embarrassingly parallel, and stage fusion keeps
every byte inside one Arrow batch until the first true aggregation.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
import pyarrow as pa
from pyspark import Broadcast
from pyspark.sql import DataFrame, SparkSession

from ..datagen import EMBED_DIM, token_embedding
from ..dispatch import pull_within
from ..operators import graph as G
from ..operators.extract import extract_one
from ..operators.mentions import _compile_matcher, get_scorer, tag_text
from ..operators.triples import DEFAULT_PATTERNS, normalize_patterns


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
# rows. Above it ``plans/kg.page_local_plan`` picks the modular plan
# (``plans/kg.modular_page_edges``) on its own, in ``construct_triples``
# and in ``KGPipeline`` alike: its linking joins the dictionary as a
# DataFrame, which scales to any dictionary size. Parity between the two
# plans is pinned by tests/test_kg_fused.py.
FUSED_ALIAS_CEILING = 250_000


def pull_dictionary(alias_df: DataFrame) -> tuple[pa.Table | None, int]:
    """The alias dictionary's ``(alias, entity_id, embedding)`` as one
    Arrow table, pulled by :func:`~..dispatch.pull_within` at
    ``FUSED_ALIAS_CEILING``: the table (``None`` above the ceiling) and
    the rows pulled. The pull reads at most one row past the ceiling,
    so it stays inside the driver-memory bound."""
    return pull_within(
        alias_df.select("alias", "entity_id", "embedding"), FUSED_ALIAS_CEILING
    )


def dictionary_broadcast(
    spark: SparkSession,
    alias_dict: DataFrame | pa.Table | None,
    keywords: list[str],
    ner_scorer_layers: int = 0,
) -> Broadcast:
    """Broadcast the alias dictionary, with the per-page config, as
    plain python (model-broadcast pattern, like shipping tokenizer/model
    weights to workers).

    ``alias_dict`` is the alias dictionary, or the table
    :func:`pull_dictionary` already pulled of it. Raises ``ValueError``
    when the dictionary is above ``FUSED_ALIAS_CEILING`` rows (a pulled
    table of ``None``)."""
    t = (
        pull_dictionary(alias_dict)[0]
        if isinstance(alias_dict, DataFrame)
        else alias_dict
    )
    if t is None:
        raise ValueError(
            f"alias dictionary has more than {FUSED_ALIAS_CEILING} rows, "
            "the fused plan's broadcast ceiling (FUSED_ALIAS_CEILING); use "
            "the modular plan (plans/kg.modular_page_edges), which "
            "construct_triples and KGPipeline fall back to on their own"
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
            "keywords": list(keywords),
            "patterns": dict(normalize_patterns(DEFAULT_PATTERNS)),
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
