"""Document deduplication operators for large-scale training-data pipelines.

Four families, each designed so the *candidate generation* is a bounded
shuffle rather than an O(n^2) cross join:

* exact      — hash-groupBy on a content digest (one shuffle);
* n-gram Jaccard — exact set-similarity join: count each pair's
  shared word n-grams with a broadcast CSR kernel while the shingle
  table fits under the broadcast ceilings, and by ppjoin (prefix,
  length and positional filters, then verification) above them;
* MinHash + LSH — k independent min-hashes per doc computed **entirely
  JVM-side** (xxhash64 with per-permutation seeds over exploded
  shingles — no Python), banded into buckets, candidate pairs from
  bucket equi-joins, then exact-Jaccard verification of candidates;
* SimHash   — 64-bit token-hash majority signature (one Arrow UDF),
  near-dup = hamming distance <= d via banded buckets + bit_count.

Both banded families find candidates through
:func:`~.similarity.banded_pairs`, the LSH join shared with the
embedding operators and canonicalization: each pair is kept at the
first band where its two bucket arrays agree, so no pair-dedup
exchange follows the bucket join.

The three Jaccard operators share one exact verifier and one broadcast
decision. Candidate pairs are confirmed by :func:`_verify_jaccard`, and
both it and the n-gram pair counter choose between a broadcast of the
per-doc ``xxhash64`` arrays and a shuffle join (for the n-gram counter,
ppjoin) automatically, from the array table's row count against
``BROADCAST_ROWS_CEILING``
(:func:`_broadcast_path`). Each choice is logged as one JSON record on
this module's logger; no caller picks the path.

All outputs are deterministic: hash functions are seed-fixed, and ties
break on document id.
"""

from __future__ import annotations

import json
import logging
import re
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .. import dispatch
from ..dispatch import log_dispatch
from .similarity import ab_sides, banded_pairs
from .textquality import norm_tokens

log = logging.getLogger(__name__)

# Broadcast ceiling for the per-doc xxhash64 arrays, in (doc, shingle)
# rows: the exact-Jaccard verifier broadcasts them onto the candidate
# pairs, and the n-gram CSR kernel collects and broadcasts them. At 8
# bytes per hash, 32M rows hold ~256 MB of driver memory while the
# broadcast is built (and as much again per executor). Above it both
# take the shuffle join. It also keeps the kernel's int32 posting
# indices far below 2**31.
BROADCAST_ROWS_CEILING = 32_000_000
# The CSR kernel's doc bound, on top of the rows ceiling: each task's
# sort-count blocks scan O(n_docs^2 / tasks) doc pairs.
CSR_DOCS_CEILING = 150_000


# ---------------------------------------------------------------------------
# exact
# ---------------------------------------------------------------------------

def exact_dedup(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Representative-per-content: group on a sha256 digest (collision
    odds negligible; grouping by digest, not raw text, keeps shuffle
    rows small at 100 TB). Returns (rep_id, n_dups) with rep = min id.
    """
    return (
        df.select(F.col(id_col).alias("id"), F.sha2(F.col(text_col), 256).alias("h"))
        .groupBy("h")
        .agg(F.min("id").alias("rep_id"), F.count("*").alias("n_dups"))
        .select("rep_id", "n_dups")
    )


# ---------------------------------------------------------------------------
# shingling (shared)
# ---------------------------------------------------------------------------

def word_ngrams(text_col, n: int):
    """Array of word n-grams via a higher-order ``transform`` lambda.

    NOTE: kept for array-shaped callers/tests, but HOF lambdas are NOT
    whole-stage-codegen'd — Catalyst evaluates them interpreted, which
    measured ~6x slower than the exploded formulation in
    :func:`shingle_table`. Don't use this on the hot path."""
    toks = norm_tokens(text_col)
    count = F.size(toks) - F.lit(n - 1)
    return F.when(
        count > 0,
        F.transform(
            F.sequence(F.lit(1), count),
            lambda i: F.array_join(F.slice(toks, i, n), " "),
        ),
    ).otherwise(F.array().cast("array<string>"))


def _token_windows(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int,
    out_col: str = "shingle",
    with_pos: bool = False,
) -> DataFrame:
    """Codegen-only (id[, start], n-token-window-string) rows — the ONE
    window builder behind :func:`shingle_table`, :func:`decontaminate`,
    and :func:`exact_substring_spans` (a tokenizer fix lands once, not
    three times). Tokenize on whitespace, zip ``n`` shifted slices of
    the token array, (pos)explode, concat — no interpreted HOF on the
    corpus scan (the ``transform``-lambda formulation measured ~6x
    slower; see :func:`word_ngrams`). ``with_pos`` adds the 0-based
    window start via ``posexplode``. Documents shorter than ``n``
    tokens produce no rows."""
    toks = norm_tokens(text_col)
    m = F.size("_t") - F.lit(n - 1)
    zipped = F.arrays_zip(
        *[F.slice(F.col("_t"), k + 1, m) for k in range(n)]
    )
    base = df.select(F.col(id_col).alias("id"), toks.alias("_t")).where(
        F.size("_t") >= n
    )
    if with_pos:
        ex = base.select("id", F.posexplode(zipped).alias("start", "_z"))
        head = ["id", "start"]
    else:
        ex = base.select("id", F.explode(zipped).alias("_z"))
        head = ["id"]
    return ex.select(
        *head,
        F.concat_ws(" ", *[F.col("_z")[str(k)] for k in range(n)]).alias(
            out_col
        ),
    )


def _shingle_sets(
    df: DataFrame, id_col: str, text_col: str, n: int
) -> DataFrame:
    """(id, _za array<struct>) — each document's DISTINCT n-token
    windows as one compact per-doc array.

    Per-doc set semantics via a LOCAL ``array_distinct`` on the zipped
    window structs — duplicates of a shingle only ever occur inside one
    document's own window array, so deduping the array is equivalent to
    a global ``dropDuplicates([id, shingle])`` over the exploded rows
    but removes that exchange entirely (guide §2.4; one full shuffle of
    the corpus' shingle rows gone — measured 7.7s -> 4.5s for the
    sf1.0 build). Struct-distinct == string-distinct because tokens
    are whitespace-split (no separator collisions in
    ``concat_ws(" ")``). The un-exploded shape is also what the dedup
    builders persist: ~n_docs rows instead of ~n_docs * |set| shingle
    rows, set sizes become a free ``F.size`` instead of a grouped
    count, and each consumer explodes locally."""
    toks = norm_tokens(text_col)
    m = F.size("_t") - F.lit(n - 1)
    zipped = F.arrays_zip(*[F.slice(F.col("_t"), k + 1, m) for k in range(n)])
    return (
        df.select(F.col(id_col).alias("id"), toks.alias("_t"))
        .where(F.size("_t") >= n)
        .select("id", F.array_distinct(zipped).alias("_za"))
    )


def _shingle_text(n: int) -> "F.Column":
    """Shingle string from an exploded window struct ``_z``."""
    return F.concat_ws(" ", *[F.col("_z")[str(k)] for k in range(n)])


def shingle_table(df: DataFrame, id_col: str, text_col: str, n: int) -> DataFrame:
    """(id, shingle) rows, distinct per doc (set semantics); see
    :func:`_shingle_sets` for the dedup-without-exchange argument.

    The window array is exploded INLINE (not via a projected column):
    exploding an attribute makes InferFiltersFromGenerate add a
    ``size(col) > 0`` guard that projection-collapse inlines into the
    scan filter with the whole zip+split expression — re-tokenizing
    every row several times over (the gopher bigram pathology,
    textquality.py). The dedup builders that DO project the array
    (ngram/minhash) are safe because they persist it first — the
    inferred filter then reads the cached column."""
    toks = norm_tokens(text_col)
    m = F.size("_t") - F.lit(n - 1)
    zipped = F.arrays_zip(*[F.slice(F.col("_t"), k + 1, m) for k in range(n)])
    return (
        df.select(F.col(id_col).alias("id"), toks.alias("_t"))
        .where(F.size("_t") >= n)
        .select("id", F.explode(F.array_distinct(zipped)).alias("_z"))
        .select("id", _shingle_text(n).alias("shingle"))
    )


# ---------------------------------------------------------------------------
# exact Jaccard and its broadcast decision (shared by the Jaccard operators)
# ---------------------------------------------------------------------------

def _jaccard(pairs: DataFrame, threshold: float) -> DataFrame:
    """(id_a, id_b, common, size_a, size_b) -> (id_a, id_b, jaccard): the
    one exact-Jaccard expression, kept where ``jaccard >= threshold`` and
    rounded to 6 places."""
    jaccard = F.col("common").cast("double") / (
        F.col("size_a") + F.col("size_b") - F.col("common")
    )
    return (
        pairs.withColumn("jaccard", jaccard)
        .where(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", F.round("jaccard", 6).alias("jaccard"))
    )


def _with_sizes(common: DataFrame, sizes: DataFrame) -> DataFrame:
    """(id_a, id_b, common) -> adds ``size_a``/``size_b`` from the
    per-doc (id, set_size) table."""

    def side(s: str) -> DataFrame:
        return sizes.select(
            F.col("id").alias(f"id_{s}"), F.col("set_size").alias(f"size_{s}")
        )

    return common.join(side("a"), "id_a").join(side("b"), "id_b")


def _broadcast_path(
    dispatcher: str,
    harr: DataFrame,
    rows: int | None = None,
    docs_ceiling: int | None = None,
) -> str:
    """``"broadcast"`` or ``"join"`` for a consumer of the per-doc hash
    arrays ``harr`` (id, _ha array<bigint>), logged as one JSON record
    (``dispatcher``, ``docs``, ``rows``, ``ceiling``, ``docs_ceiling``,
    ``path``).

    Broadcast while the table's (doc, hash) rows are at or below
    ``BROADCAST_ROWS_CEILING`` and, when ``docs_ceiling`` is given, its
    docs at or below that; one aggregation job counts both. ``rows``
    is the row count the caller will ship when it already knows it (the
    n-gram frequency probe's capped universe); when that exceeds the
    ceiling the answer is ``"join"`` without the job (``docs`` is then
    logged as null)."""
    ceiling = BROADCAST_ROWS_CEILING
    docs = None
    if rows is None or rows <= ceiling:
        st = harr.agg(
            F.count("*").alias("docs"), F.sum(F.size("_ha")).alias("rows")
        ).first()
        docs = int(st["docs"])
        if rows is None:
            rows = int(st["rows"] or 0)
    fits = rows <= ceiling and (docs_ceiling is None or docs <= docs_ceiling)
    return log_dispatch(
        log,
        dispatcher,
        "broadcast" if fits else "join",
        docs=docs,
        rows=rows,
        ceiling=ceiling,
        docs_ceiling=docs_ceiling,
    )


def _verify_jaccard(
    dispatcher: str, cands: DataFrame, harr: DataFrame, threshold: float
) -> DataFrame:
    """Exact Jaccard of the candidate pairs ``cands`` (id_a, id_b) over
    the per-doc distinct shingle-hash arrays ``harr`` (id, _ha
    array<bigint>) -> (id_a, id_b, jaccard), see :func:`_jaccard`.

    :func:`_broadcast_path` picks the path (identical outputs):

    * ``"broadcast"``: broadcast the arrays onto the candidates and
      count each pair's intersection as ``size(array_intersect)`` — no
      re-explode of the shingle stream; work and exchange are
      O(candidates) (measured ~115 s on the 72M within-budget simhash
      candidates of sf1.0);
    * ``"join"``: explode the arrays, equi-join the candidates on
      (id, hash) and count per pair — no broadcast, any corpus size,
      but the exchange is O(candidates x set_size) (~374 s on the same
      input).
    """
    if _broadcast_path(dispatcher, harr) == "broadcast":

        def side(s: str) -> DataFrame:
            return F.broadcast(
                harr.select(F.col("id").alias(f"id_{s}"), F.col("_ha").alias(f"_h{s}"))
            )

        pairs = (
            cands.join(side("a"), "id_a")
            .join(side("b"), "id_b")
            .select(
                "id_a",
                "id_b",
                F.size(F.array_intersect("_ha", "_hb")).alias("common"),
                F.size("_ha").alias("size_a"),
                F.size("_hb").alias("size_b"),
            )
        )
        return _jaccard(pairs, threshold)
    sh = harr.select("id", F.explode("_ha").alias("shingle"))
    common = (
        cands.join(sh.withColumnRenamed("id", "id_a"), "id_a")
        .join(sh.withColumnRenamed("id", "id_b"), ["id_b", "shingle"])
        .groupBy("id_a", "id_b")
        .agg(F.count("*").alias("common"))
    )
    sizes = harr.select("id", F.size("_ha").alias("set_size"))
    return _jaccard(_with_sizes(common, sizes), threshold)


# ---------------------------------------------------------------------------
# n-gram Jaccard set-similarity join
# ---------------------------------------------------------------------------

def _pair_counts(joined: DataFrame) -> DataFrame:
    """(id_a, id_b[, ...]) join rows -> (id_a, id_b, common) counts,
    exchanging the RAW pair rows instead of running a map-side partial
    aggregation first.

    A plain ``groupBy(id_a, id_b).count()`` plans partial+final hash
    aggregates; here the candidate stream has ~2.4 rows per distinct
    pair (most co-shingle pairs share only 1-3 shingles), so the
    map-side hash maps grow to millions of entries per task, deliver
    almost no combining, and their build/GC cost dominates — measured
    29.3s vs 10.7s at sf1.0 (127M pair rows, 52M distinct pairs) for
    partial-agg vs repartition-then-aggregate. The explicit repartition
    on the pair key satisfies the aggregation's distribution, so Spark
    plans ONE complete hash aggregate after the exchange; the exchange
    itself carries 16-byte key rows (shuffle volume is the same either
    way at this duplication factor). Width = the session shuffle
    setting (cluster-sized in production). Deep-overlap duplicates of
    a single pair are bounded by that pair's set size, so the lost
    map-side combining cannot re-introduce a skewed partition."""
    sess_parts = int(
        joined.sparkSession.conf.get("spark.sql.shuffle.partitions")
    )
    return (
        joined.select("id_a", "id_b")
        .repartition(sess_parts, "id_a", "id_b")
        .groupBy("id_a", "id_b")
        .agg(F.count("*").alias("common"))
    )

def _concat_ranges(starts, lens):
    """Concatenate ``[starts[i], starts[i]+lens[i])`` ranges into one flat
    int64 index array without a Python loop (zero-length ranges drop out
    of ``np.repeat`` naturally)."""
    import numpy as np

    cs = np.cumsum(lens, dtype=np.int64)
    tot = int(cs[-1]) if len(cs) else 0
    if tot == 0:
        return np.empty(0, np.int64)
    offs = np.repeat(starts - np.concatenate(([0], cs[:-1])), lens)
    return offs + np.arange(tot, dtype=np.int64)


def _pair_counts_broadcast(
    joinable: DataFrame,
    sizes: DataFrame,
    threshold: float,
    doc_arrays: DataFrame | None = None,
) -> DataFrame:
    """(id_a, id_b, common) intersection counts WITHOUT the candidate
    exchange: broadcast the doc<->shingle bipartite structure as CSR
    arrays and count each doc's co-occurrences with one vectorized
    sort-count (``np.unique``) per block inside a ``mapInArrow`` kernel (guide
    §4.2 — hand whole batches to numpy; §2.4 — the 127M-row shingle
    self-join *and* its 52M-key pair aggregation are removed outright).

    Exactness: counts are per distinct (doc, shingle-hash) exactly as
    the equi-join path; the same xxhash64 keys are used, so collision
    semantics are unchanged. Only pairs whose numpy-float64 Jaccard
    reaches ``threshold - 1e-9`` are emitted (c, |a|, |b| are exactly
    representable ints and the division is the same IEEE double op
    Catalyst performs, so this prefilter cannot drop a qualifying pair;
    the epsilon is insurance, and the EXACT filter still runs in
    Catalyst downstream). Pair orientation: the doc index table is
    ordered by Spark's own ``orderBy(id)``, so ``index_a < index_b``
    reproduces the join path's ``id_a < id_b`` under Spark's comparator
    for any id type. Each unordered pair is produced exactly once (by
    the task owning the smaller-id doc; task slices are disjoint).

    Scale ceiling (enforced by the caller's automatic dispatch,
    :func:`_broadcast_path`): the CSR arrays must broadcast (~16 bytes
    per (doc, shingle) row) and the per-task count blocks scan
    O(n_docs^2 / tasks) cells, so this path runs only at or below
    ``CSR_DOCS_CEILING`` docs and ``BROADCAST_ROWS_CEILING`` rows; past
    either, ppjoin (:func:`_prefix_join_counts`) takes over. The
    rows ceiling (32M) is also what makes the int32 posting indices
    (``post_docs``, ``pair_start``, ``pair_len``) safe: they index at
    most that many postings, far below 2**31.
    """
    import numpy as np
    import pyarrow as pa

    spark = (doc_arrays or joinable).sparkSession
    id_type = dict(zip(sizes.schema.names, sizes.schema.fields))[
        "id"
    ].dataType.simpleString()
    # Spark-ordered doc table: index order == Spark's `<` order on ids.
    # With ``doc_arrays`` (id, harr array<bigint>) ONE collect yields
    # ids, set sizes and postings together (the caller passes it when
    # the join universe is the full per-doc set — the uncapped case);
    # otherwise collect the exploded (id, shingle) rows + sizes.
    if doc_arrays is not None:
        doc_pdf = doc_arrays.orderBy("id").toPandas()
        n_docs = len(doc_pdf)
        if n_docs == 0:
            return spark.createDataFrame(
                [], schema=f"id_a {id_type}, id_b {id_type}, common bigint"
            )
        doc_ids = doc_pdf["id"].to_numpy()
        harr = doc_pdf["harr"].to_numpy()
        doc_sz = np.fromiter(
            (len(x) for x in harr), np.int64, n_docs
        )
        if int(doc_sz.sum()) == 0:
            return spark.createDataFrame(
                [], schema=f"id_a {id_type}, id_b {id_type}, common bigint"
            )
        sh = np.concatenate(harr)
        di = np.repeat(np.arange(n_docs, dtype=np.int64), doc_sz)
    else:
        doc_pdf = sizes.orderBy("id").toPandas()
        post_pdf = joinable.toPandas()
        n_docs = len(doc_pdf)
        if n_docs == 0 or len(post_pdf) == 0:
            return spark.createDataFrame(
                [], schema=f"id_a {id_type}, id_b {id_type}, common bigint"
            )
        doc_ids = doc_pdf["id"].to_numpy()
        doc_sz = doc_pdf["set_size"].to_numpy().astype(np.int64)

        import pandas as pd_mod

        di = (
            pd_mod.Index(doc_pdf["id"])
            .get_indexer(post_pdf["id"])
            .astype(np.int64)
        )
        sh = post_pdf["shingle"].to_numpy()
    # postings sorted by (shingle, doc-index): each shingle's segment is
    # ascending in doc index, so "co-occurrences with docs AFTER me" is
    # a contiguous tail slice of the segment — counting only those
    # halves the increments vs all-ordered-pairs AND yields id_a < id_b
    # by construction (index order == Spark id order).
    order = np.lexsort((di, sh))
    sh_sorted = sh[order]
    post_docs = di[order].astype(np.int32)
    npost = len(post_docs)
    new_sh = np.empty(npost, dtype=bool)
    new_sh[0] = True
    np.not_equal(sh_sorted[1:], sh_sorted[:-1], out=new_sh[1:])
    seg_start = np.flatnonzero(new_sh)
    seg_end_all = np.append(seg_start[1:], npost)
    seg_id = (np.cumsum(new_sh) - 1).astype(np.int64)
    # per (doc, shingle) posting row: gather range = (own position + 1,
    # segment end) — the docs after me in this shingle's posting list
    tail_start = np.arange(1, npost + 1, dtype=np.int64)
    tail_len = (seg_end_all[seg_id] - tail_start).astype(np.int32)
    # doc -> its posting rows CSR (rows sorted by doc via stable sort)
    dorder = np.argsort(post_docs, kind="stable")
    pair_start = tail_start[dorder].astype(np.int32)
    pair_len = tail_len[dorder]
    doc_offsets = np.concatenate(
        ([0], np.cumsum(np.bincount(post_docs, minlength=n_docs)))
    ).astype(np.int64)

    bc = spark.sparkContext.broadcast(
        {
            "n": n_docs,
            "doc_ids": doc_ids,
            "doc_sz": doc_sz,
            "doc_offsets": doc_offsets,
            "pair_start": pair_start,
            "pair_len": pair_len,
            "post_docs": post_docs,
            "thr": float(threshold),
        }
    )

    def count_blocks(batches):
        import numpy as np

        b = bc.value
        n = b["n"]
        doc_offsets = b["doc_offsets"]
        pair_start = b["pair_start"]
        pair_len = b["pair_len"]
        post_docs = b["post_docs"]
        doc_sz = b["doc_sz"]
        doc_ids = b["doc_ids"]
        thr = b["thr"] - 1e-9
        for batch in batches:
            ids = batch.column(0).to_numpy()
            if len(ids) == 0:
                continue
            blk_all = ids.astype(np.int64)
            # split the batch so one block gathers ~8M co-occurrence
            # rows (bounds temporaries; no dense n-wide window exists)
            scnt = doc_offsets[blk_all + 1] - doc_offsets[blk_all]
            fs_all = _concat_ranges(doc_offsets[blk_all], scnt)
            work = np.zeros(len(blk_all) + 1, dtype=np.int64)
            np.cumsum(
                np.add.reduceat(
                    np.concatenate(
                        (pair_len[fs_all].astype(np.int64), [0])
                    ),
                    np.concatenate(([0], np.cumsum(scnt[:-1]))),
                )
                * (scnt > 0),
                out=work[1:],
            )
            cuts = [0]
            while cuts[-1] < len(blk_all):
                nxt = int(
                    np.searchsorted(
                        work, work[cuts[-1]] + 8_000_000, side="left"
                    )
                )
                cuts.append(max(nxt, cuts[-1] + 1))
            for s, e in zip(cuts[:-1], cuts[1:]):
                blk = blk_all[s:e]
                cnt_s = scnt[s:e]
                fs_idx = _concat_ranges(doc_offsets[blk], cnt_s)
                if len(fs_idx) == 0:
                    continue
                rl = pair_len[fs_idx].astype(np.int64)
                gidx = _concat_ranges(pair_start[fs_idx], rl)
                if len(gidx) == 0:
                    continue
                gdocs = post_docs[gidx].astype(np.int64)
                owner = np.repeat(
                    np.repeat(blk, cnt_s), rl
                )
                uk, c = np.unique(owner * n + gdocs, return_counts=True)
                a_idx = uk // n
                b_idx = uk % n
                jac = c / (doc_sz[a_idx] + doc_sz[b_idx] - c)
                keep = jac >= thr
                a_idx, b_idx, c = a_idx[keep], b_idx[keep], c[keep]
                if len(c) == 0:
                    continue
                yield pa.record_batch(
                    [
                        pa.array(doc_ids[a_idx]),
                        pa.array(doc_ids[b_idx]),
                        pa.array(c, type=pa.int64()),
                    ],
                    names=["id_a", "id_b", "common"],
                )

    driver = spark.range(0, n_docs, 1, spark.sparkContext.defaultParallelism)
    return driver.mapInArrow(
        count_blocks, schema=f"id_a {id_type}, id_b {id_type}, common bigint"
    )


def _prefix_join_counts(
    joinable: DataFrame, freq: DataFrame, sizes: DataFrame, threshold: float
) -> DataFrame:
    """(id_a, id_b, common) over the (id, shingle) join universe
    ``joinable`` by ppjoin: a self-join of each document's prefix, cut
    by the length and positional filters, then a count of each
    surviving pair's overlap against the full ``joinable`` sets.

    Each document's shingles are ranked by ascending global frequency
    (``freq``: shingle, f; rarest first, shingle hash as tiebreak) and
    only its first ``|s| - ceil(t*|s|) + 1`` join. Two sets with
    Jaccard >= t share at least one prefix token under a common global
    order (the prefix-filtering guarantee), so every qualifying pair is
    a candidate. ``freq`` may count shingles outside ``joinable`` (the
    frequency cap drops them); a shingle inside keeps all its rows, so
    its count is the same. The verification join makes the counts
    equal to those of a plain shingle self-join."""
    from pyspark.sql import Window

    ranked = joinable.join(freq, "shingle").withColumn(
        "_rk",
        F.row_number().over(
            Window.partitionBy("id").orderBy(F.asc("f"), F.asc("shingle"))
        ),
    )
    # prefix length over the CAPPED set size (the join universe):
    # |s| - ceil(t*|s|) + 1 == floor((1-t)*|s|) + 1. The epsilon
    # matters: IEEE 0.8*5 = 4.0000000000000002 would ceil to 5 and
    # SHORTEN the prefix (missed pairs); the +1e-9 errs toward a
    # LONGER prefix (extra candidates, never dropped answers).
    cap_sizes = joinable.groupBy("id").agg(F.count("*").alias("_cap_size"))
    prefix = (
        ranked.join(cap_sizes, "id")
        .where(
            F.col("_rk")
            <= F.floor(
                F.lit(1.0 - threshold) * F.col("_cap_size") + F.lit(1e-9)
            )
            + F.lit(1)
        )
        .select("id", "shingle", "_rk", "_cap_size")
    )

    # candidates carry first-shared-prefix-token positions for the
    # ppjoin positional filter: overlap <= 1 + min(|a|c - pa,
    # |b|c - pb) for the first shared token at ranks (pa, pb)
    def side(s: str) -> DataFrame:
        return prefix.select(
            F.col("id").alias(f"id_{s}"),
            "shingle",
            F.col("_rk").alias(f"_rk{s}"),
            F.col("_cap_size").alias(f"_cap{s}"),
        )

    cand = (
        side("a")
        .join(side("b"), "shingle")
        .where(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b", "_capa", "_capb")
        .agg(F.min("_rka").alias("_pa"), F.min("_rkb").alias("_pb"))
    )
    # length + positional filters (the classic ppjoin companions,
    # e.g. "Scalable and Robust Set Similarity Join"): J >= t
    # forces t*|a| <= |b| <= |a|/t on FULL sizes and a minimum
    # overlap of t/(1+t)*(|a|+|b|) that the positional upper bound
    # must reach. Epsilons err toward keeping candidates.
    minoverlap = F.ceil(
        F.lit(threshold / (1.0 + threshold)) * (F.col("size_a") + F.col("size_b"))
        - F.lit(1e-9)
    )
    ubound = F.lit(1) + F.least(
        F.col("_capa") - F.col("_pa"), F.col("_capb") - F.col("_pb")
    )
    cand = (
        _with_sizes(cand, sizes)
        .where(
            (F.col("size_b") >= F.lit(threshold) * F.col("size_a") - F.lit(1e-9))
            & (F.col("size_a") >= F.lit(threshold) * F.col("size_b") - F.lit(1e-9))
            & (ubound >= minoverlap)
        )
        .select("id_a", "id_b")
    )
    return _pair_counts(
        cand.join(joinable.withColumnRenamed("id", "id_a"), "id_a").join(
            joinable.withColumnRenamed("id", "id_b"), ["id_b", "shingle"]
        )
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    threshold: float = 0.8,
    max_shingle_freq: int | None = 1000,
) -> DataFrame:
    """Pairs (id_a < id_b, jaccard) with word-n-gram Jaccard >= threshold.

    ``max_shingle_freq`` drops ubiquitous shingles (boilerplate) before
    the self-join — the skew guard: a shingle appearing in f docs
    yields f^2 candidate rows, so capping f bounds the join blow-up.
    Default-ON (1000): at web scale one boilerplate shingle otherwise
    makes the self-join quadratic. Capped shingles still count toward
    set sizes, so Jaccard can only under-estimate for pairs whose
    overlap was mostly boilerplate — the desired bias for dedup. Pass
    ``None`` to disable (exact semantics, e.g. vs a SQL oracle on data
    known shingle-skew-free). The cap is never silent: the number of
    excluded shingles is computed inside the same frequency aggregation
    the cap already needs — no extra job — and logged as a WARNING
    JSON record on this module's logger whenever it is non-zero.

    Internals run on ``xxhash64`` of the shingle window struct, never
    the shingle STRING: Jaccard only needs equality, and 8-byte long
    keys shuffle/compare ~2x faster than ~25-byte strings across the
    self-join and the candidate-count aggregation (guide §2.3,
    narrower types — measured 37.8s -> 18.7s for the sf1.0 pair count).
    A 64-bit collision merging two distinct shingles has probability
    ~|distinct shingles|^2 / 2^65 (~1e-7 at 2.6M shingles) and is
    accepted; outputs are oracle-verified equal at every test SF.

    Intersections are counted on one of two paths with identical
    outputs (asserted in tests), picked by :func:`_broadcast_path` and
    logged as one ``ngram_jaccard_pairs.pair_count`` record:

    * ``broadcast``, while the join universe is at or below
      ``BROADCAST_ROWS_CEILING`` (doc, shingle) rows and
      ``CSR_DOCS_CEILING`` docs: ship the doc<->shingle CSR to every
      task and sort-count co-occurrences per doc block in a numpy
      ``mapInArrow`` kernel (:func:`_pair_counts_broadcast`) — no
      shingle self-join and no pair aggregation exchange; only
      near-threshold pairs (thousands) ever leave the kernel;
    * ``join``, above either ceiling: ppjoin
      (:func:`_prefix_join_counts`) — a self-join of each document's
      rarest-first prefix, pruned by the length and positional
      filters, then verified against the full capped sets. No
      broadcast requirement: the 100-TB shape.

    Measured cost of the join side (4-vCPU VM, local[4],
    ``SPARK_DRIVER_MEM=6g``, one run per short-doc cell; ceilings
    patched to 0; "plain" is the shingle self-join + :func:`_pair_counts`
    that ppjoin replaced; outputs identical). Short docs are the 5,000
    sf0.1 documents salted into 10 shards (~54 words, 2.6M capped
    (doc, shingle) rows, 69.1M shingle-join candidates, 8,185 pairs);
    long docs join each document's 10 salted copies (~540 words, 1.7M
    rows, 41.7M candidates, 216 pairs):

    ==============  ===  ====  ==========  =========
    docs            t    cap   ppjoin (s)  plain (s)
    ==============  ===  ====  ==========  =========
    50,000 short    0.7  1000  51.0        69.1
    50,000 short    0.7  None  41.5        66.6
    50,000 short    0.8  1000  35.8        70.7
    50,000 short    0.8  None  32.5        66.0
    5,000 long      0.8  1000  29.0        25.5
    ==============  ===  ====  ==========  =========

    ppjoin wins 1.4-2.0x on short documents. On long ones, where each
    prefix is ~70 shingles deep, it loses: the long row is the median
    of 3 runs per side (ppjoin 24.2-34.8 s, plain 24.0-28.0 s). Suffix
    filtering (ppjoin+) would target that case and is not implemented.
    Below the ceilings the CSR kernel ran the default 50,000-short
    call (t 0.8, cap 1000) in 14.0-15.1 s.

    The deciding counts come from one aggregation over the persisted
    per-doc hash arrays; with the cap on, the rows are the capped
    universe the frequency probe already summed, and when those alone
    exceed the ceiling the aggregation is skipped. The exact Jaccard
    filter and rounding run in Catalyst on every path
    (:func:`_jaccard`).
    """
    # cache per-doc HASH arrays, not the window structs: every internal
    # consumer (probe, join sides, broadcast kernel, sizes) runs on the
    # 8-byte xxhash64 keys, so hashing once before the persist shrinks
    # the cached rows ~4x (array<bigint> vs 3-string structs) and the
    # explode sides read longs straight from cache. Distinct runs on
    # the STRUCTS first, so set semantics (and the within-doc collision
    # class) are unchanged vs the historical shape.
    shsets = _shingle_sets(df, id_col, text_col, n).select(
        "id", F.transform("_za", lambda z: F.xxhash64(z)).alias("_ha")
    ).persist()
    sh = shsets.select("id", F.explode("_ha").alias("shingle"))
    # set size is array length on the cached per-doc rows — no grouped
    # count over the exploded shingle rows (one exchange fewer)
    sizes = shsets.select("id", F.size("_ha").alias("set_size"))

    joinable = sh
    nnz_join = None  # (doc, shingle) rows in the join universe, if known
    freq = sh.groupBy("shingle").agg(F.count("*").alias("f"))
    if max_shingle_freq is not None:
        in_join = F.col("f") <= max_shingle_freq
        probe = freq.agg(
            F.sum(F.when(~in_join, 1).otherwise(0)).alias("n_dropped"),
            F.sum(F.when(in_join, F.col("f")).otherwise(0)).alias("nnz_join"),
        ).first()
        n_dropped = int(probe["n_dropped"] or 0)
        nnz_join = int(probe["nnz_join"] or 0)
        if n_dropped:
            log.warning(
                json.dumps(
                    {
                        "operator": "ngram_jaccard_pairs",
                        "dropped_shingles": n_dropped,
                        "max_shingle_freq": max_shingle_freq,
                    }
                )
            )
        joinable = sh.join(freq.where(in_join).select("shingle"), "shingle", "semi")

    if (
        _broadcast_path(
            "ngram_jaccard_pairs.pair_count",
            shsets,
            rows=nnz_join,
            docs_ceiling=CSR_DOCS_CEILING,
        )
        == "broadcast"
    ):
        # uncapped universe: ship the per-doc hash arrays in ONE
        # collect (ids, sizes and postings together); the capped
        # universe collects the semi-joined rows instead
        doc_arrays = (
            shsets.select("id", F.col("_ha").alias("harr"))
            if max_shingle_freq is None
            else None
        )
        common = _pair_counts_broadcast(
            joinable, sizes, threshold, doc_arrays=doc_arrays
        )
    else:
        common = _prefix_join_counts(joinable, freq, sizes, threshold)
    out = _jaccard(_with_sizes(common, sizes), threshold)
    return dispatch._finalize(out, shsets)


# ---------------------------------------------------------------------------
# MinHash + LSH
# ---------------------------------------------------------------------------

def minhash_lsh_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    num_perm: int = 32,
    bands: int = 8,
    threshold: float = 0.8,
) -> DataFrame:
    """Near-dup pairs via banding: docs agreeing on all rows of any band
    become candidates (bucket equi-join on (band, band-slice-hash),
    each pair once, at its first agreeing band: :func:`banded_pairs`),
    then candidates are verified with exact n-gram Jaccard. With
    num_perm=32, bands=8 (r=4), the S-curve crosses ~0.7 — standard
    public MinHash-LSH parameterization.

    The persisted intermediate is the per-doc distinct window ARRAY
    (:func:`_shingle_sets`) rather than exploded shingle rows: ~n_docs
    cached rows instead of n_docs * |set|, set sizes via ``F.size``
    (no grouped count), and each consumer (signature agg, verify join)
    explodes locally from the cache. Verification runs on ``xxhash64``
    of the window struct — 8-byte keys instead of shingle strings
    (guide §2.3); signature hashing stays on the shingle STRING so the
    banding dice are unchanged.

    Verification is :func:`_verify_jaccard`, shared with
    :func:`simhash_verified_pairs`: it broadcasts each doc's
    window-hash array onto the candidate pairs while the array table
    is at or below ``BROADCAST_ROWS_CEILING`` rows, and takes the
    shuffle join above it (identical outputs). The choice is logged on
    this module's logger."""
    rows_per_band = num_perm // bands
    # one shingle pass feeds both signatures and candidate verification
    shsets = _shingle_sets(df, id_col, text_col, n).persist()
    sh = shsets.select("id", F.explode("_za").alias("_z")).select(
        "id", _shingle_text(n).alias("shingle")
    )
    aggs = [
        F.min(F.xxhash64(F.col("shingle"), F.lit(i))).alias(f"h{i}")
        for i in range(num_perm)
    ]
    sigs = (
        sh.groupBy("id")
        .agg(*aggs)
        .select("id", F.array(*[F.col(f"h{i}") for i in range(num_perm)]).alias("sig"))
    )
    bkts = F.array(
        *[
            F.xxhash64(
                *[
                    F.element_at("sig", b * rows_per_band + r + 1)
                    for r in range(rows_per_band)
                ]
            )
            for b in range(bands)
        ]
    )
    # (id, bkts) feeds both sides of the band self-join; persisted, the
    # signature aggregate runs once instead of once per side
    bkts = sigs.select("id", bkts.alias("bkts")).persist()
    candidates = banded_pairs(*ab_sides(bkts), F.col("id_a") < F.col("id_b"))

    # verify candidates with exact Jaccard (reuses the cached per-doc
    # sets; hashed 8-byte keys, see docstring)
    harr = shsets.select(
        "id", F.transform("_za", lambda z: F.xxhash64(z)).alias("_ha")
    )
    out = _verify_jaccard(
        "minhash_lsh_pairs.verify", candidates, harr, threshold
    )
    return dispatch._finalize(out, shsets, bkts)


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------

def _simhash64(text: str) -> int:
    """64-bit SimHash over whitespace tokens using a stable per-token
    hash (zlib.crc32 folded to 64 bits via two salts)."""
    import zlib

    votes = [0] * 64
    for tok in (text or "").lower().split():
        h = (
            zlib.crc32(tok.encode()) << 32 | zlib.crc32((tok + "#").encode())
        ) & 0xFFFFFFFFFFFFFFFF
        for b in range(64):
            votes[b] += 1 if (h >> b) & 1 else -1
    sig = 0
    for b in range(64):
        if votes[b] > 0:
            sig |= 1 << b
    return sig - (1 << 64) if sig >= (1 << 63) else sig  # to signed


def simhash_signatures(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """(id, simhash bigint) via one batched Arrow UDF; ``id`` keeps the
    input id column's type."""
    src = df.select(F.col(id_col).alias("id"), F.col(text_col).alias("t"))
    id_type = src.schema["id"].dataType.simpleString()

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield pd.DataFrame(
                {
                    "id": pdf["id"],
                    "simhash": pdf["t"].map(_simhash64).astype("int64"),
                }
            )

    return src.mapInPandas(run, schema=f"id {id_type}, simhash long")


def _band_bounds(bits: int, bands: int) -> list[tuple[int, int]]:
    """(shift, width) per band, splitting ``bits`` as evenly as possible
    (widths differ by at most 1, wider bands first)."""
    base, rem = divmod(bits, bands)
    bounds: list[tuple[int, int]] = []
    shift = 0
    for b in range(bands):
        w = base + (1 if b < rem else 0)
        bounds.append((shift, w))
        shift += w
    return bounds


def simhash_candidates_from_sigs(
    sigs: DataFrame, max_hamming: int = 3
) -> DataFrame:
    """Candidate near-dup pairs from a (id, simhash) table via banded
    buckets, verified with JVM ``bit_count(a ^ b) <= max_hamming``.

    The band count is DERIVED from the hamming budget: with
    ``max_hamming + 1`` bands, any two signatures differing in <=
    max_hamming bits must agree on at least one whole band
    (pigeonhole), so candidate recall over the hamming budget is
    guaranteed — not empirical — at every budget.

    Each pair is joined once, at its first agreeing band
    (:func:`banded_pairs`), and the hamming filter runs per join row
    inside the join's codegen stage: on low-entropy corpora the 6-bit
    band buckets degenerate (50k docs -> 2.35B joined rows measured at
    sf1.0), and a pair-dedup exchange before the filter took 660 s
    where the in-stage filter takes ~35 s.

    Cost model (measured, not hoped): the *verification* work is
    proportional to the number of pairs within the hamming budget —
    banding only avoids enumerating pairs OUTSIDE it. On low-entropy
    corpora (tiny vocabularies, boilerplate) signature mass
    concentrates and the within-budget pair count itself grows toward
    quadratic; no banding scheme fixes that (a band-PAIR probing
    variant was measured 3x WORSE there — it re-finds each degenerate
    pair C(b,2)/b times). Keep ``max_hamming`` small at scale; that is
    the knob that bounds work."""
    if max_hamming > 63:
        raise ValueError(
            "max_hamming must be <= 63: a 64-bit signature has at most "
            "64 bands"
        )
    bkts = F.array(
        *[
            F.shiftright("simhash", shift).bitwiseAND(F.lit((1 << width) - 1))
            for shift, width in _band_bounds(64, max_hamming + 1)
        ]
    )
    return (
        banded_pairs(
            *ab_sides(sigs.select("id", "simhash", bkts.alias("bkts"))),
            F.col("id_a") < F.col("id_b"),
        )
        .withColumn(
            "hamming",
            F.bit_count(F.col("simhash_a").bitwiseXOR(F.col("simhash_b"))),
        )
        .where(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
    )


def simhash_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    max_hamming: int = 3,
) -> DataFrame:
    """Near-dup pairs with hamming(simhash) <= max_hamming. Candidates
    come from ``max_hamming + 1`` band buckets (pigeonhole guarantee —
    see :func:`simhash_candidates_from_sigs`); verification is JVM
    ``bit_count(a ^ b)``."""
    sigs = simhash_signatures(df, id_col, text_col)
    return simhash_candidates_from_sigs(sigs, max_hamming)


def simhash_verified_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    max_hamming: int = 10,
    n: int = 3,
    threshold: float = 0.8,
) -> DataFrame:
    """SimHash-bucketed near-dup pairs with an exact n-gram-Jaccard
    verify: candidates = :func:`simhash_pairs` (hamming banding prunes
    the quadratic space), output = candidates whose exact word-n-gram
    Jaccard >= threshold, as (id_a, id_b, jaccard).

    This is the production dedup shape — cheap bitwise candidate
    generation, exact verification only on the pruned set. Candidate
    recall over the hamming budget is GUARANTEED (max_hamming + 1
    bands, pigeonhole — see simhash_candidates_from_sigs),
    so the only remaining approximation is SimHash itself: whether
    hamming <= max_hamming captures every true Jaccard >= t pair is
    corpus-dependent. Measured on the synthetic docs corpus: budget 10
    captures 100% at sf0.01 (the driver gate), while sf0.1 needs 14
    (2 of 256 true pairs sit at hamming 11-14 — tiny-vocabulary text
    compresses signature variance, the known SimHash failure mode).
    When the budget saturates, the output equals the exact-SQL Jaccard
    join, so an ANSI oracle grades it without replaying crc32.

    Verification is :func:`_verify_jaccard` (shared with
    :func:`minhash_lsh_pairs`) over each document's distinct
    window-hash array: broadcast onto the candidates while the array
    table is at or below ``BROADCAST_ROWS_CEILING`` rows, the shuffle
    join above it (identical outputs), chosen automatically and logged.
    """
    cands = simhash_pairs(df, id_col, text_col, max_hamming).select(
        "id_a", "id_b"
    )
    # one cache feeds the size probe and both verify sides
    harr = _shingle_sets(df, id_col, text_col, n).select(
        "id", F.transform("_za", lambda z: F.xxhash64(z)).alias("_ha")
    ).persist()
    out = _verify_jaccard("simhash_verified_pairs.verify", cands, harr, threshold)
    return dispatch._finalize(out, harr)


# ---------------------------------------------------------------------------
# near-dup clusters -> representative selection (the "keep one" step)
# ---------------------------------------------------------------------------

def dedup_representatives(
    df: DataFrame,
    pairs: DataFrame,
    id_col: str,
) -> DataFrame:
    """Near-dup pairs (id_a, id_b) -> the deduplicated corpus decision:
    connected components over the pair graph, one representative per
    cluster (the minimum id in the id's own type and order, 9 before
    10), every other member marked with its representative. Documents
    in no pair keep themselves.

    This is the step after candidate generation in every production
    dedup pipeline: pairs alone don't dedup — transitive clusters do
    (a~b, b~c must drop two docs, not one per pair). Returns
    (id, rep_id, is_rep), ids in ``id_col``'s type. CC is the same
    size-dispatched min-label propagation the entity canonicalizer uses
    (driver union-find for small pair graphs, iterative DataFrame loop
    at scale), see :func:`~.canonicalize.component_min_ids`."""
    from .canonicalize import component_min_ids

    return component_min_ids(
        df.select(F.col(id_col).alias("id")), pairs
    ).withColumn("is_rep", F.col("id") == F.col("rep_id"))


# ---------------------------------------------------------------------------
# benchmark decontamination
# ---------------------------------------------------------------------------

def decontaminate(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    benchmark: DataFrame,
    bench_text_col: str,
    n: int = 8,
) -> DataFrame:
    """Flag training documents that share any word n-gram with an
    evaluation benchmark — the published decontamination recipe (GPT-3
    appendix C used 13-gram overlap; FineWeb and most open pipelines
    use 8-10-grams). A document containing even one benchmark shingle
    is marked ``contaminated`` so the training split can exclude it and
    eval numbers stay honest.

    Returns (id, n_hit_shingles, contaminated) for every document.

    Scale plan: the benchmark suite is tiny relative to the corpus, so
    its distinct shingles BROADCAST and the corpus side is scanned
    exactly once. The corpus shingles are generated WITHOUT per-doc
    set dedup (``shingle_table`` now dedups locally via array_distinct,
    but even that local pass is unnecessary here): the raw zipped-slice
    explode stays codegen, the
    broadcast hash probe filters to HIT rows immediately, and
    per-document distinctness is recovered by ``count_distinct`` over
    only those hit rows — so shingle generation, the probe, and the
    partial distinct aggregation fuse into one codegen stage and the
    only exchange carries (id, partial distinct set) for documents
    that hit. No corpus-side shuffle keyed on shingle ever happens, so
    benchmark skew (a common phrase in many eval questions) cannot
    hotspot. For a benchmark too large to broadcast, drop the hint and
    the same plan degrades gracefully to a shuffle semi-join.
    """

    bench_sh = (
        _token_windows(
            benchmark.select(F.lit(0).alias("_bid"), F.col(bench_text_col)),
            "_bid",
            bench_text_col,
            n,
        )
        .select("shingle")
        .distinct()
    )
    # raw windows, deliberately NOT shingle_table: per-doc set dedup
    # is pointless ahead of a broadcast probe + count_distinct
    corpus_sh = _token_windows(docs, id_col, text_col, n)
    hits = (
        corpus_sh.join(F.broadcast(bench_sh), "shingle")
        .groupBy("id")
        .agg(F.count_distinct("shingle").alias("n_hit_shingles"))
    )
    ids = docs.select(F.col(id_col).alias("id"))
    return ids.join(hits, "id", "left").select(
        "id",
        F.coalesce("n_hit_shingles", F.lit(0)).alias("n_hit_shingles"),
        (F.coalesce("n_hit_shingles", F.lit(0)) > 0).alias("contaminated"),
    )


# ---------------------------------------------------------------------------
# exact substring (repeated-span) dedup
# ---------------------------------------------------------------------------

def exact_substring_spans(
    df: DataFrame,
    id_col: str,
    text_col: str,
    window: int = 50,
    min_count: int = 2,
    exact: bool = True,
    pair_budget: int = 50_000_000,
) -> DataFrame:
    """Find maximal token spans that repeat across (or within)
    documents — the exact-substring family of the "Deduplicating
    Training Data Makes Language Models Better" recipe (Lee et al.
    2022), where the published implementation builds a corpus suffix
    array and removes every >= 50-token substring that occurs more
    than once.

    A suffix array is a single-machine data structure; the
    distributed detection shape is a fixed-length token-window
    fingerprint equi-join:

    1. every ``window``-token window of every document becomes one
       (id, start, fingerprint) row — built with the same
       codegen-only arrays_zip-of-shifted-slices trick as
       :func:`shingle_table` (no interpreted HOF on the corpus scan);
    2. windows whose fingerprint occurs >= ``min_count`` times
       corpus-wide are flagged (grouped count + equi-join back on the
       fingerprint; both shuffles key on the fingerprint, and AQE's
       skew split handles boilerplate fingerprints shared by millions
       of documents);
    3. with ``exact=True`` (default, the suffix-array-exact
       semantics): flagged windows self-join on the fingerprint into
       occurrence PAIRS, and per (doc pair, alignment diagonal
       ``startA - startB``) consecutive matched windows merge into
       maximal pairwise-aligned runs (gaps-and-islands, one
       row_number per diagonal). Each run IS a genuinely repeated
       token string of >= ``window`` tokens with token-exact start
       and end — the boundaries Lee et al.'s suffix array emits —
       unlike the window-union mode where overlapping windows that
       repeat against DIFFERENT partners chain into one span that
       never occurs twice as a whole. Per doc, duplicate runs (same
       interval via different partners) collapse and runs strictly
       contained in a longer run of the same doc are pruned (a
       running max of span ends over a (start asc, end desc) window).
    4. with ``exact=False`` (the cheap window-granular mode):
       per document, overlapping or adjacent flagged windows merge
       into island spans. The token COVERAGE is identical to the
       exact mode (every token of a repeated >=window-token run lies
       in some flagged window and vice versa); only the span
       segmentation is coarser.

    Fingerprints are 128 effective bits (two independently seeded
    xxhash64 over the space-joined window), computed JVM-side: at
    10^12 documents the window count approaches 2^49, where a single
    64-bit key would already yield billions of birthday collisions;
    two keys push the expected collision count below 1e-9. Tokens
    cannot contain whitespace (the tokenizer splits on it), so the
    space join is injective.

    Scale note for ``exact=True``: the pair join materializes
    c*(c-1)/2 rows per fingerprint with c flagged occurrences —
    quadratic in the duplication degree of boilerplate. A cheap count
    probe (one aggregate over the already-needed hot-fingerprint
    counts) rejects the call with guidance when the estimated pair
    volume exceeds ``pair_budget`` (the ppjoin cost-probe
    discipline); at that point either raise ``min_count``, pre-clean
    boilerplate with :func:`dedup_paragraphs`, or fall back to
    ``exact=False`` whose cost stays linear in the flagged windows.

    Returns one row per maximal repeated span:
    (id, span_start, span_end, n_tokens, n_windows) with 0-based
    inclusive token positions (``n_windows`` = number of
    ``window``-token windows inside the span). Deterministic;
    documents shorter than ``window`` tokens produce no rows.

    What a user does with it: cut the spans out of the training text
    (keeping one canonical occurrence), exactly as the reference
    recipe does — this operator is the detection stage, which is the
    part that needs the cluster.
    """
    if not exact:
        flagged = _flagged_windows(df, id_col, text_col, window, min_count)
        return _merge_islands(flagged.select("id", "start", "end"))
    from pyspark.sql import Window

    runs = _pair_runs(
        df, id_col, text_col, window, min_count, pair_budget
    ).select("id", "start", "end").dropDuplicates()
    # containment prune: a preceding row in (start asc, end desc)
    # order has start' <= start (start' == start only with end' > end),
    # so "strictly contained in another span" is exactly
    # prev_max_end >= end
    w = Window.partitionBy("id").orderBy(F.asc("start"), F.desc("end"))
    prev_max_end = F.max("end").over(
        w.rowsBetween(Window.unboundedPreceding, -1)
    )
    return (
        runs.withColumn("_pme", F.coalesce(prev_max_end, F.lit(-1)))
        .where(F.col("_pme") < F.col("end"))
        .select(
            "id",
            F.col("start").alias("span_start"),
            F.col("end").alias("span_end"),
            (F.col("end") - F.col("start") + 1).alias("n_tokens"),
            (F.col("end") - F.col("start") + 2 - window).alias("n_windows"),
        )
    )


def _pair_runs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    window: int,
    min_count: int,
    pair_budget: int,
) -> DataFrame:
    """One row per SIDE of each maximal pairwise-aligned duplicated
    token run: (id, start, end, key1, key2, run_len) where
    (key1, key2, run_len) identifies the run CONTENT — key1/key2 are
    the 128-bit fingerprint of the run's FIRST window, so two runs
    with equal content share the key (unequal content collides only
    at 128-bit fingerprint odds, the same discipline the window flag
    stage already accepts).

    Shape: flagged-window self-join on the fingerprint (ordered
    occurrence pairs, each unordered pair once), then gaps-and-islands
    per (idA, idB, diagonal) over consecutive A-starts — a run of m
    consecutive matched windows is a repeated token string of
    m + window - 1 tokens, maximal because a one-token extension on
    either side would be another matched window on the same diagonal
    (flagged too: its fingerprint occurs at both ends of THIS pair,
    hence >= 2 times; with min_count > 2 runs clip to windows hot
    enough corpus-wide, the natural generalization). Both sides of
    each island are emitted (B's interval is A's shifted by the
    diagonal)."""
    # probe + occ join both consume wins: ONE cached corpus scan
    wins = _token_windows(
        df, id_col, text_col, window, out_col="_s", with_pos=True
    ).select(
        "id",
        "start",
        F.xxhash64("_s", F.lit(1)).alias("fp1"),
        F.xxhash64("_s", F.lit(2)).alias("fp2"),
    ).persist()
    counts = wins.groupBy("fp1", "fp2").agg(F.count("*").alias("_n"))
    hot = counts.where(F.col("_n") >= min_count).persist()
    # pair-volume probe BEFORE the quadratic join (see docstring);
    # inherently eager — the validation must run before the join is
    # even planned. The persist above makes the probe PAY FOR the scan
    # the join then reuses, instead of doubling it.
    est = hot.agg(
        F.sum(F.col("_n") * (F.col("_n") - 1) / 2).alias("pairs")
    ).collect()[0]["pairs"]
    if est is not None and est > pair_budget:
        wins.unpersist(blocking=True)
        hot.unpersist(blocking=True)
        raise ValueError(
            f"exact substring pair join would materialize ~{int(est)} "
            f"occurrence pairs (> pair_budget={pair_budget}); raise "
            "min_count, pre-clean boilerplate, or use exact=False"
        )
    occ = wins.join(hot.select("fp1", "fp2"), ["fp1", "fp2"])
    a = occ.select(
        F.col("fp1"), F.col("fp2"),
        F.col("id").alias("_ida"), F.col("start").alias("_sa"),
    )
    b = occ.select(
        F.col("fp1").alias("_bfp1"), F.col("fp2").alias("_bfp2"),
        F.col("id").alias("_idb"), F.col("start").alias("_sb"),
    )
    pairs = a.join(
        b,
        (F.col("fp1") == F.col("_bfp1"))
        & (F.col("fp2") == F.col("_bfp2"))
        & (
            (F.col("_ida") < F.col("_idb"))
            | ((F.col("_ida") == F.col("_idb")) & (F.col("_sa") < F.col("_sb")))
        ),
    ).select(
        "_ida", "_sa", "_idb", "_sb",
        (F.col("_sa") - F.col("_sb")).alias("_diag"),
        "fp1", "fp2",
    )
    from pyspark.sql import Window

    wd = Window.partitionBy("_ida", "_idb", "_diag").orderBy("_sa")
    islands = (
        pairs.withColumn(
            "_grp", F.col("_sa") - F.row_number().over(wd)
        )
        .groupBy("_ida", "_idb", "_diag", "_grp")
        .agg(
            F.min("_sa").alias("_a0"),
            F.max("_sa").alias("_a1"),
            F.min(F.struct("_sa", "fp1", "fp2")).alias("_first"),
            # whole-run content key: xor over the run's window
            # fingerprints (order-insensitive, but combined with the
            # first-window fps and the length it identifies the exact
            # window-fp SEQUENCE up to engineered collisions)
            F.expr("bit_xor(fp1)").alias("xkey1"),
            F.expr("bit_xor(fp2)").alias("xkey2"),
        )
        .select(
            "_ida", "_idb", "_diag", "_a0", "_a1",
            F.col("_first.fp1").alias("key1"),
            F.col("_first.fp2").alias("key2"),
            "xkey1",
            "xkey2",
            (F.col("_a1") - F.col("_a0") + window).alias("run_len"),
        )
    )
    keys = ["key1", "key2", "xkey1", "xkey2", "run_len"]
    side_a = islands.select(
        F.col("_ida").alias("id"),
        F.col("_a0").alias("start"),
        (F.col("_a1") + window - 1).alias("end"),
        *keys,
    )
    side_b = islands.select(
        F.col("_idb").alias("id"),
        (F.col("_a0") - F.col("_diag")).alias("start"),
        (F.col("_a1") - F.col("_diag") + window - 1).alias("end"),
        *keys,
    )
    # run rows are small (one per duplicated-run side)
    return dispatch._finalize(side_a.unionByName(side_b), wins, hot)


def _flagged_windows(
    df: DataFrame, id_col: str, text_col: str, window: int, min_count: int
) -> DataFrame:
    """(id, start, end, fp1, fp2) for every ``window``-token window
    whose 128-bit fingerprint occurs >= ``min_count`` times corpus-wide
    — the shared flag stage of :func:`exact_substring_spans` and
    :func:`cut_repeated_spans`."""
    if window < 2:
        raise ValueError("window must be >= 2 tokens")
    wins = _token_windows(
        df, id_col, text_col, window, out_col="_s", with_pos=True
    ).select(
        "id",
        "start",
        F.xxhash64("_s", F.lit(1)).alias("fp1"),
        F.xxhash64("_s", F.lit(2)).alias("fp2"),
    )
    hot = (
        wins.groupBy("fp1", "fp2")
        .agg(F.count("*").alias("_n"))
        .where(F.col("_n") >= min_count)
        .select("fp1", "fp2")
    )
    return wins.join(hot, ["fp1", "fp2"]).select(
        "id",
        "start",
        (F.col("start") + F.lit(window - 1)).alias("end"),
        "fp1",
        "fp2",
    )


def _merge_islands(flagged: DataFrame) -> DataFrame:
    """Merge overlapping/adjacent (id, start, end) windows into maximal
    spans: gaps-and-islands over a per-doc window (partition size is
    bounded by document length). Returns
    (id, span_start, span_end, n_tokens, n_windows)."""
    from pyspark.sql import Window

    byid = Window.partitionBy("id").orderBy("start")
    prev_end = F.max("end").over(
        byid.rowsBetween(Window.unboundedPreceding, -1)
    )
    return (
        flagged.withColumn(
            "_brk",
            (F.col("start") > F.coalesce(prev_end, F.lit(-2)) + F.lit(1))
            .cast("int"),
        )
        .withColumn(
            "_g",
            F.sum("_brk").over(
                byid.rowsBetween(Window.unboundedPreceding, 0)
            ),
        )
        .groupBy("id", "_g")
        .agg(
            F.min("start").alias("span_start"),
            F.max("end").alias("span_end"),
            F.count("*").alias("n_windows"),
        )
        .select(
            "id",
            "span_start",
            "span_end",
            (F.col("span_end") - F.col("span_start") + F.lit(1)).alias(
                "n_tokens"
            ),
            "n_windows",
        )
    )


def cut_repeated_spans(
    df: DataFrame,
    id_col: str,
    text_col: str,
    window: int = 50,
    min_count: int = 2,
    exact: bool = True,
    pair_budget: int = 50_000_000,
) -> DataFrame:
    """The REMOVAL stage completing the exact-substring recipe: every
    repeated ``window``-token occurrence is cut from the corpus except
    one canonical copy, exactly the "remove all but one occurrence of
    every duplicated substring" step the published suffix-array
    implementation applies after detection.

    With ``exact=True`` (default — the Lee et al. token-exact
    semantics) the duplication unit is the maximal pairwise-aligned
    repeated RUN from :func:`_pair_runs`: per run content (identified
    by first-window fingerprint + xor of all window fingerprints +
    length) the occurrence with the smallest (id, start) is canonical
    and survives INTACT — protection is run-aligned, so the surviving
    copy keeps its exact token boundaries instead of the scattered
    per-window protection of the legacy mode, where a fingerprint
    shared with a different run in a lower-id document could yank
    single windows out of the keep set and clip the survivor by up to
    window-1 tokens per edge. Tokens covered by a non-canonical run
    occurrence and not inside any canonical occurrence of the same
    document are cut. The token-coverage of the cut set equals the
    legacy mode's (both are flagged-window unions); only the
    protection boundaries differ.

    With ``exact=False`` (legacy window-granular mode): canonical
    choice is per window fingerprint — the occurrence
    with the smallest (id, start) survives. Tokens covered only by
    NON-canonical flagged windows are cut; tokens inside a canonical
    window are protected, so the surviving copy is never clipped by an
    overlapping duplicate of a different fingerprint.

    Returns (id, clean_text, n_tokens, n_tokens_cut) for EVERY input
    document (unflagged documents pass through with 0 cut).
    ``clean_text`` is the space-joined remaining tokens of the
    NORMALIZED text (lowercased, whitespace-collapsed) — the same
    token stream every operator in this module works on; cutting from
    the raw byte text would need byte-offset bookkeeping the token
    pipeline deliberately discards.

    Scale shape: flag + canonical-pick shuffles key on the fingerprint
    (AQE skew-split covers boilerplate); the cut itself is a per-doc
    broadcast of that doc's OWN ranges (grouped collect_list bounded
    by doc length) applied as one higher-order filter over the token
    array — linear, no corpus-wide state. The HOF runs interpreted,
    but this is the output-materialization stage, not a hot inner
    join; its cost is one pass over the kept tokens.
    """
    from pyspark.sql import Window

    if exact:
        occ = _pair_runs(
            df, id_col, text_col, window, min_count, pair_budget
        ).dropDuplicates(["id", "start", "end"])
        # canonical occurrence per run CONTENT = min (id, start); the
        # per-content partition is bounded by the duplication degree
        # of that one run (the pair_budget probe has already rejected
        # pathological degrees before this point)
        canon_first = F.row_number().over(
            Window.partitionBy(
                "key1", "key2", "xkey1", "xkey2", "run_len"
            ).orderBy("id", "start")
        )
        marked = occ.withColumn("_is_canon", canon_first == 1)
    else:
        flagged = _flagged_windows(df, id_col, text_col, window, min_count)
        # canonical occurrence per fingerprint = min (id, start)
        canon_first = F.row_number().over(
            Window.partitionBy("fp1", "fp2").orderBy("id", "start")
        )
        marked = flagged.withColumn("_is_canon", canon_first == 1)
    cut_ranges = (
        _merge_islands(
            marked.where(~F.col("_is_canon")).select("id", "start", "end")
        )
        .groupBy("id")
        .agg(
            F.collect_list(F.struct("span_start", "span_end")).alias("_cuts")
        )
    )
    keep_ranges = (
        _merge_islands(
            marked.where(F.col("_is_canon")).select("id", "start", "end")
        )
        .groupBy("id")
        .agg(
            F.collect_list(F.struct("span_start", "span_end")).alias("_keeps")
        )
    )
    toks = norm_tokens(text_col)
    base = df.select(F.col(id_col).alias("id"), toks.alias("_t"))
    joined = (
        base.join(cut_ranges, "id", "left")
        .join(keep_ranges, "id", "left")
        .withColumn("_cuts", F.coalesce("_cuts", F.array()))
        .withColumn("_keeps", F.coalesce("_keeps", F.array()))
    )
    # one F.expr with unique explicit lambda names: nested HOFs built
    # as composed Columns can mis-bind auto-named lambda variables
    # when Catalyst collapses projections (see _normalized_expr in
    # similarity.py / the node2vec round-2 incident)
    # size(_t)=0 guard: sequence(0, -1) is the DESCENDING [0, -1] in
    # Spark, so zip_with would null-pad an empty doc to 2 phantom
    # tokens (n_tokens_cut=-2, caught by the unicode fuzz suite)
    kept = F.expr(
        "CASE WHEN size(_t) = 0 THEN _t ELSE transform("
        "  filter(zip_with(_t, sequence(0, size(_t) - 1),"
        "                  (_ctok, _cpos) -> named_struct('tok', _ctok, 'pos', _cpos)),"
        "         _cs -> NOT ("
        "            exists(_cuts,  _cr -> _cs.pos >= _cr.span_start AND _cs.pos <= _cr.span_end)"
        "            AND NOT exists(_keeps, _ckr -> _cs.pos >= _ckr.span_start AND _cs.pos <= _ckr.span_end)"
        "         )),"
        "  _cx -> _cx.tok) END"
    )
    return joined.select(
        "id",
        F.array_join(kept, " ").alias("clean_text"),
        F.size("_t").alias("n_tokens"),
        (F.size("_t") - F.size(kept)).alias("n_tokens_cut"),
    )


# ---------------------------------------------------------------------------
# paragraph/line-level exact dedup (CCNet / RefinedWeb recipe)
# ---------------------------------------------------------------------------

def dedup_paragraphs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    sep: str = "\n",
) -> DataFrame:
    """Corpus-wide exact paragraph (or line) deduplication — the CCNet
    preprocessing stage (RefinedWeb runs the same recipe at line
    granularity): split each document on ``sep``, hash a NORMALIZED
    form of every unit (lowercase, trim, inner whitespace collapsed —
    the same normalization family CCNet hashes), keep only the
    CANONICAL occurrence of each duplicated unit (minimal (id, pos) —
    the substring_cut canonicalization rule at paragraph granularity),
    and reassemble. Whitespace-only units carry no content and are
    never treated as duplicates of each other: they survive in every
    document (dropping them would silently reflow unrelated text).

    Returns (id, clean_text, n_paragraphs, n_kept, n_dropped) for
    every input document; a document whose every unit was a
    non-canonical duplicate comes back with clean_text = ''.

    Distributed shape: posexplode to (id, pos, unit) rows, ONE
    grouped min-struct per normalized unit (map-side combined; keyed
    on the unit hash, so AQE's skew split covers boilerplate
    paragraphs — the same key discipline as exact_substring_spans),
    one broadcast-free equi-join back on the hash, and ONE per-doc
    regroup ordered by position to reassemble. Both shuffles carry
    64-bit hashes + positions, never full paragraph text twice.

    Reference for semantics: CCNet (Wenzek et al. 2020) §3.1
    paragraph dedup; RefinedWeb (Penedo et al. 2023) line-level
    exact dedup.
    """
    units = df.select(
        F.col(id_col).alias("id"),
        F.posexplode(
            # sep is a LITERAL separator on both sides of the round
            # trip (F.split takes a regex, array_join a literal), so
            # escape it — sep='.' would otherwise split on every
            # character (r6 review finding; re.escape output is
            # Java-regex-safe, the mentions.py matcher precedent)
            F.split(F.coalesce(F.col(text_col), F.lit("")), re.escape(sep))
        ).alias("pos", "unit"),
    )
    # collapse BEFORE trimming: trim() strips only 0x20, so a tab-only
    # separator line would otherwise normalize to ' ' (non-empty) and
    # get deduped corpus-wide, silently fusing unrelated paragraphs in
    # non-canonical documents (r6 review finding)
    norm = F.trim(F.regexp_replace(F.lower(F.col("unit")), r"\s+", " "))
    hashed = units.select(
        "id", "pos", "unit",
        F.when(norm == "", F.lit(None)).otherwise(
            F.xxhash64(norm, F.lit(11))
        ).alias("h"),
    )
    canon = (
        hashed.where(F.col("h").isNotNull())
        .groupBy("h")
        .agg(F.min(F.struct("id", "pos")).alias("first"))
        .select("h", F.col("first.id").alias("cid"),
                F.col("first.pos").alias("cpos"))
    )
    kept = hashed.join(canon, "h", "left").where(
        F.col("h").isNull()
        | ((F.col("id") == F.col("cid")) & (F.col("pos") == F.col("cpos")))
    )
    stats = hashed.groupBy("id").agg(
        F.count("*").alias("n_paragraphs")
    )
    rebuilt = kept.groupBy("id").agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "unit"))),
                lambda s: s["unit"],
            ),
            sep,
        ).alias("clean_text"),
        F.count("*").alias("n_kept"),
    )
    return (
        stats.join(rebuilt, "id", "left")
        .select(
            "id",
            F.coalesce("clean_text", F.lit("")).alias("clean_text"),
            "n_paragraphs",
            F.coalesce("n_kept", F.lit(0)).cast("bigint").alias("n_kept"),
            (F.col("n_paragraphs") - F.coalesce("n_kept", F.lit(0)))
            .cast("bigint").alias("n_dropped"),
        )
    )
