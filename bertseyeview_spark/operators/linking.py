"""E4 — entity linking: mention surface -> canonical entity id.

Reference analogue: PubTator hands the reference pre-normalized ids
(Type:MESH:ID) and mygene/NCBI enrich them (neo4j_helper.py:1190-1355).
The north rule replaces that with in-engine linking against a
**broadcast alias dictionary** with an **embedding-similarity fallback**
for ambiguous surfaces:

1. *Fast path* (the overwhelming majority at web scale): surfaces whose
   alias maps to exactly one entity id — a broadcast hash join, zero
   shuffle on the big side, fully JVM.
2. *Slow path*: ambiguous aliases (same surface, >=2 candidate ids).
   The mention's sentence is embedded once per distinct (url, sentence)
   by a batched Arrow UDF (token-hash embedding — stands in for a real
   encoder; the Spark plumbing is identical), then cosine against each
   candidate's dictionary embedding is computed JVM-side with
   ``zip_with``/``aggregate``, and the winner is picked with a window:
   max similarity, ties broken by lexicographically smallest id
   (deterministic, per SURVEY.md G6).

Output: linked mentions (url, surface, start, end, sentence, entity_id,
entity_type).
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..datagen import EMBED_DIM, token_embedding
from .similarity import _dot


def _embed_series(texts: pd.Series, cache: dict[str, np.ndarray]) -> pd.Series:
    out = []
    for t in texts:
        toks = [x for x in (t or "").lower().split() if x]
        if not toks:
            out.append([0.0] * EMBED_DIM)
            continue
        acc = np.zeros(EMBED_DIM)
        for tok in toks:
            v = cache.get(tok)
            if v is None:
                v = token_embedding(tok)
                cache[tok] = v
            acc += v
        n = np.linalg.norm(acc)
        out.append((acc / n if n > 0 else acc).tolist())
    return pd.Series(out)


def embed_text_column(df: DataFrame, col: str, out_col: str = "embedding") -> DataFrame:
    """Batched Arrow UDF: embed a text column. Deterministic; per-worker
    token cache keeps the hot loop cheap."""
    fields = ", ".join(f"{f.name} {f.dataType.simpleString()}" for f in df.schema)
    schema = f"{fields}, {out_col} array<double>"

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        cache: dict[str, np.ndarray] = {}
        for pdf in batches:
            pdf = pdf.copy()
            pdf[out_col] = _embed_series(pdf[col], cache)
            yield pdf

    return df.mapInPandas(run, schema=schema)


def link_mentions(mentions: DataFrame, alias_dict: DataFrame) -> DataFrame:
    """Link mention surfaces to canonical entity ids.

    ``alias_dict(alias, entity_id, entity_type, embedding)`` is assumed
    small enough to broadcast (north rule: "broadcast alias dictionary");
    at 100 TB the dictionary is O(10^7) rows and still broadcastable at
    ~1 GB, else it becomes a bucketed map-side join.
    """
    ambiguity = alias_dict.groupBy("alias").agg(
        F.count("*").alias("n_candidates")
    )
    dict_flagged = alias_dict.join(F.broadcast(ambiguity), "alias")

    uniq = dict_flagged.where(F.col("n_candidates") == 1).select(
        "alias", "entity_id", "entity_type"
    )
    ambi = dict_flagged.where(F.col("n_candidates") > 1).select(
        "alias",
        "entity_id",
        "entity_type",
        F.col("embedding").cast("array<double>").alias("cand_emb"),
    )
    out_cols = [
        "url", "surface", "start", "end", "sentence", "entity_id", "entity_type",
    ]

    # fast path — broadcast hash join, no Python
    fast = mentions.join(
        F.broadcast(uniq), mentions["surface"] == uniq["alias"]
    ).select(*out_cols)

    # ambi derives from the broadcast-small alias dict, so this emptiness
    # probe is cheap; the alias *values* never travel to the driver — at
    # web scale an ambiguous-surface list can be millions of entries, so
    # the slow-path filter below is a broadcast LEFT SEMI join, not isin().
    if ambi.isEmpty():
        return fast

    # slow path — only mentions with ambiguous surfaces are embedded
    ambi_surfaces = ambi.select(F.col("alias").alias("surface")).distinct()
    slow_src = mentions.join(F.broadcast(ambi_surfaces), "surface", "left_semi")
    slow_emb = embed_text_column(slow_src, "sentence", "ctx_emb")
    scored = (
        slow_emb.join(F.broadcast(ambi), slow_emb["surface"] == ambi["alias"])
        .withColumn("sim", _dot(F.col("ctx_emb"), F.col("cand_emb")))
    )
    w = Window.partitionBy("url", "start", "end").orderBy(
        F.desc("sim"), F.asc("entity_id")
    )
    slow = (
        scored.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") == 1)
        .select(*out_cols)
    )
    return fast.unionByName(slow)


def mention_edges(linked: DataFrame) -> DataFrame:
    """Linked mentions -> has_named_entity edge rows (src, rel, dst).
    Drops the Null entity early (reference F8, neo4j_helper.py:2128-2129)
    — at web scale Null/stopword surfaces are mega-hubs, so filtering
    before the dedup shuffle is the cheap place to do it."""
    return (
        linked.where(F.col("entity_id") != "Null")
        .select(
            F.col("url").alias("src"),
            F.lit("has_named_entity").alias("rel"),
            F.col("entity_id").alias("dst"),
        )
        .select("src", "rel", "dst")
    )


def link_triples(
    triples: DataFrame, linked: DataFrame, keep_url: bool = False
) -> DataFrame:
    """Resolve (subj_surface, pred, obj_surface) to canonical-id triples
    using the *sentence-level* linking result: joining on
    (url, sentence, surface) keeps disambiguation decisions consistent
    with the context in which the triple was extracted, and is
    deterministic (identical surfaces in one sentence share one context,
    hence one link). ``keep_url=True`` adds ``origin_url`` (the page the
    triple was extracted from) — the pipeline partitions its staging
    table by origin bucket for idempotent chunk commits."""
    lk = linked.select("url", "sentence", "surface", "entity_id").dropDuplicates(
        ["url", "sentence", "surface"]
    )
    subj = lk.select(
        "url",
        "sentence",
        F.col("surface").alias("subj_surface"),
        F.col("entity_id").alias("subj"),
    )
    obj = lk.select(
        "url",
        "sentence",
        F.col("surface").alias("obj_surface"),
        F.col("entity_id").alias("obj"),
    )
    out_cols = [
        F.col("subj").alias("src"),
        F.col("pred").alias("rel"),
        F.col("obj").alias("dst"),
    ]
    if keep_url:
        out_cols.append(F.col("url").alias("origin_url"))
    return (
        triples.join(subj, ["url", "sentence", "subj_surface"])
        .join(obj, ["url", "sentence", "obj_surface"])
        .where(
            (F.col("subj") != "Null")
            & (F.col("obj") != "Null")
            & (F.col("subj") != F.col("obj"))
        )
        .select(*out_cols)
    )
