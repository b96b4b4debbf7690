"""E7 — ArticleRank / PageRank, personalized PageRank and HITS.

Reference analogue: gds.articleRank.write over the Article/citing
projection (shared/helper/neo4j_helper.py:2154-2186; invoked from
knowledge-graph-manager/__main__.py:1322-1328, :1434-1439). ArticleRank
is the published PageRank variant that dampens hub influence by adding
the *average out-degree* to each source's out-degree in the
denominator:

    r_{t+1}(v) = (1 - d) + d * sum_{u -> v} r_t(u) / (out(u) + avgOut)

(plain PageRank is the avgOut = 0 special case, exposed via
``variant="pagerank"``).

Scale notes:
* **size dispatch.** Every operator deduplicates and persists its edge
  table, then pulls at most ``RANK_LOCAL_MAX_EDGES + 1`` of its rows to
  the driver as one Arrow table (``dispatch.pull_within``, the probe
  every driver-side fast path shares). At or below the ceiling that
  pull is the whole graph: the ids are dictionary-encoded in
  sorted order, and the iterations run in-process as ``np.bincount``
  passes; the result comes back through one ``createDataFrame``, which
  keeps the id column's type. Above the ceiling the iterations run as
  a distributed DataFrame loop. Each choice is logged as one JSON
  record on this module's logger. The local path exists because a
  citation graph of a few thousand edges spends nearly all of a
  distributed loop's time scheduling ~3 jobs per iteration.
* **fixed iteration count** (GDS default maxIterations=20), not a
  float-threshold stop. On the local path the edges are sorted by
  (src, dst) index, so the summation order, and so every bit of the
  result, does not depend on input partitioning. The distributed path
  sums in Spark's grouped order, which can differ from the local one in
  the last bits.
* distributed loop: one shuffle per iteration (groupBy dst), combined
  map-side by the partial hash agg; the rank table is repartitioned on
  id once and the edge table on src once, so every iteration's join
  reuses the same hash partitioning; ``localCheckpoint`` every 5 rounds
  truncates the lineage chain; the loop runs at an edge-count-derived
  shuffle width (``graph.derived_shuffle_width``).
* edges with a null endpoint are dropped before ranking.
"""

from __future__ import annotations

import logging

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .. import dispatch
from ..dispatch import log_dispatch, pull_within
from .graph import derived_shuffle_width

log = logging.getLogger(__name__)

# CEILING: at or below this many deduplicated edges the rank operators
# iterate on the driver. Peak driver Python memory at the ceiling is
# ~0.4 GB, measured on a 2,000,000-edge graph over 1,000,000 nodes with
# 20-character string ids (CPython 3.11, pyarrow 16): 177 MB tracemalloc
# peak (the numpy index, weight and rank arrays) plus 198 MB Arrow pool
# peak (the pulled edge table and its dictionary encoding). That run's
# local path took 5.4 s for 20 ArticleRank iterations on 2 cores. Above
# the ceiling the distributed loop runs, which scales to any edge count.
RANK_LOCAL_MAX_EDGES = 2_000_000


def _dedup_edges(edges: DataFrame) -> DataFrame:
    """Distinct non-null (src, dst), both cast to the type their union
    takes (the result's id type), persisted."""
    id_type = edges.select("src").union(edges.select("dst")).schema[0].dataType
    return (
        edges.select(
            F.col("src").cast(id_type).alias("src"),
            F.col("dst").cast(id_type).alias("dst"),
        )
        .dropna()
        .dropDuplicates()
        .persist()
    )


def _dispatch(
    dispatcher: str, e: DataFrame, **counts: int
) -> tuple[pa.Table | None, int]:
    """Pick the local or distributed path for the persisted edge table
    ``e`` and log the choice as one JSON record. The probe is the pull
    itself (:func:`~..dispatch.pull_within`): at most
    ``RANK_LOCAL_MAX_EDGES + 1`` rows come back as one Arrow table, so
    the local path costs no job beyond it and the probe stays inside the
    ceiling's driver-memory bound. ``counts`` are other
    driver-bound inputs, held to the same ceiling. Returns the edge
    table (``None`` on the distributed path) and the exact edge count,
    from which the distributed path sizes its shuffle width."""
    ceiling = RANK_LOCAL_MAX_EDGES
    t, n = pull_within(e, ceiling)
    n_edges = n if t is not None else e.count()
    local = n_edges <= ceiling and all(v <= ceiling for v in counts.values())
    log_dispatch(
        log,
        dispatcher,
        "local" if local else "distributed",
        edges=n_edges,
        **counts,
        ceiling=ceiling,
    )
    return (t if local else None), n_edges


def _local_edges(t: pa.Table) -> tuple[pa.Array, np.ndarray, np.ndarray]:
    """Edge table (src, dst) -> ``(ids, s, d)``: ``ids`` is the sorted
    Arrow array of distinct endpoint ids, and ``s``/``d`` are the int64
    positions in ``ids`` of each edge's src/dst, with the edges sorted
    by ``(s, d)``. Both orders are functions of the edge set alone,
    never of partition arrival order."""
    both = pa.chunked_array(
        t.column("src").chunks + t.column("dst").chunks, t.schema.field("src").type
    ).combine_chunks().dictionary_encode()
    order = pc.sort_indices(both.dictionary).to_numpy()
    pos = np.empty(len(order), dtype=np.int64)
    pos[order] = np.arange(len(order))
    idx = pos[both.indices.to_numpy()]
    s, d = idx[: t.num_rows], idx[t.num_rows :]
    by_edge = np.lexsort((d, s))
    return both.dictionary.take(order), s[by_edge], d[by_edge]


def _power_iteration_local(
    s: np.ndarray,
    d: np.ndarray,
    restart: np.ndarray,
    avg_out: bool,
    damping: float,
    iterations: int,
) -> np.ndarray:
    """r_{t+1} = (1-d) * restart + d * sum_{u->v} r_t(u) / (out(u) + avg),
    from r_0 = restart, with avg the mean out-degree over nodes that
    have out-edges when ``avg_out`` (ArticleRank) and 0 otherwise."""
    n = len(restart)
    out = np.bincount(s, minlength=n)
    avg = len(s) / np.count_nonzero(out) if avg_out and len(s) else 0.0
    w = 1.0 / (out[s] + avg)
    r = restart
    for _ in range(iterations):
        r = (1.0 - damping) * restart + damping * np.bincount(
            d, weights=r[s] * w, minlength=n
        )
    return r


def _vertices(e: DataFrame, p: int) -> DataFrame:
    return (
        e.select(F.col("src").alias("id"))
        .union(e.select(F.col("dst").alias("id")))
        .distinct()
        .repartition(p, "id")
    )


def _power_iteration(
    e: DataFrame,
    vertices: DataFrame,
    p: int,
    avg_out: bool,
    damping: float,
    iterations: int,
) -> DataFrame:
    """The distributed form of :func:`_power_iteration_local` over the
    persisted ``vertices(id, restart)``, planned at width ``p``."""
    out_deg = e.groupBy(F.col("src").alias("id")).agg(
        F.count("*").alias("out_deg")
    )
    norm_src = out_deg
    avg_out_col = F.lit(0.0)
    if avg_out:
        # broadcast 1-row scalar instead of a blocking collect: the
        # average folds into the e_norm checkpoint job
        norm_src = norm_src.crossJoin(
            F.broadcast(
                out_deg.agg(
                    F.coalesce(F.avg("out_deg"), F.lit(0.0)).alias("_avg_out")
                )
            )
        )
        avg_out_col = F.col("_avg_out")

    # per-source normalization factor, attached to the edge table ONCE,
    # so the per-iteration plan is a single join + grouped sum. Nodes
    # with no out-edges contribute nothing (dangling mass is not
    # redistributed — matches the GDS formulation of ArticleRank).
    norm_src = norm_src.select(
        F.col("id").alias("src"),
        (F.lit(1.0) / (F.col("out_deg") + avg_out_col)).alias("inv_norm"),
    )
    e_norm = (
        e.join(norm_src, "src")
        .select(F.col("src").alias("id"), "dst", "inv_norm")
        .repartition(p, "id")
        .localCheckpoint()
    )
    ranks = vertices.select("id", F.col("restart").alias("rank")).localCheckpoint()

    # the groupBy keeps its map-side partial aggregation — the hub-skew
    # compressor a manual repartition(dst) would forfeit — while its
    # output stays co-partitioned with the p-partitioned vertex/edge
    # tables, so no iteration pays a width-mismatch exchange
    for it in range(iterations):
        contribs = (
            ranks.join(e_norm, "id")
            .groupBy(F.col("dst").alias("id"))
            .agg(F.sum(F.col("rank") * F.col("inv_norm")).alias("incoming"))
        )
        ranks = vertices.join(contribs, "id", "left").select(
            "id",
            (
                F.lit(1.0 - damping) * F.col("restart")
                + F.lit(damping) * F.coalesce(F.col("incoming"), F.lit(0.0))
            ).alias("rank"),
        )
        # checkpoint every 5 rounds: enough to keep lineage flat without
        # a materialization job per iteration (measured on the
        # 10-iteration sf0.1 graph: 4.44s at 5 vs 4.77s at 4, 5.86s at
        # 2, 4.84s at 10; output hash identical at every cadence)
        if it % 5 == 4 or it == iterations - 1:
            ranks = ranks.localCheckpoint()
    return ranks


def article_rank(
    edges: DataFrame,
    damping: float = 0.85,
    iterations: int = 20,
    variant: str = "article_rank",
) -> DataFrame:
    """edges(src, dst) [direction src->dst] -> (id, rank).

    Only nodes appearing in the edge set are ranked (the reference
    guards the GDS call with citationCount > 0, __main__.py:1322-1328);
    isolated articles keep the implicit floor 1-d.

    Graphs of at most ``RANK_LOCAL_MAX_EDGES`` distinct edges iterate on
    the driver (numpy), larger ones as a distributed loop; the dispatch
    is logged as a ``rank.article_rank`` JSON record."""
    e = _dedup_edges(edges)
    t, n_edges = _dispatch("rank.article_rank", e)
    avg_out = variant == "article_rank"
    if t is not None:
        e.unpersist()
        ids, s, d = _local_edges(t)
        rank = _power_iteration_local(
            s, d, np.ones(len(ids)), avg_out, damping, iterations
        )
        return e.sparkSession.createDataFrame(pa.table({"id": ids, "rank": rank}))
    with derived_shuffle_width(e, n_edges) as p:
        vertices = (
            _vertices(e, p).select("id", F.lit(1.0).alias("restart")).persist()
        )
        out = _power_iteration(e, vertices, p, avg_out, damping, iterations)
    e.unpersist()
    vertices.unpersist()
    return out


def personalized_pagerank(
    edges: DataFrame,
    sources: DataFrame,
    damping: float = 0.85,
    iterations: int = 10,
) -> DataFrame:
    """Personalized PageRank: random walk with restart into a source
    set — (id, rank). ``sources`` is a one-column (id) frame; restart
    mass is split uniformly over its distinct ids, so a source that is
    not in the graph takes its share of the split but receives none:

        r_{t+1}(v) = (1-d) * restart(v) + d * sum_{u->v} r_t(u)/out(u)

    The GDS-family companion to :func:`article_rank` (same invocation
    surface, neo4j_helper.py:2154-2186) used for "relevance to THESE
    seed entities" ranking — e.g. ranking the KG neighborhood of a
    query's linked entities instead of global prestige.

    Same dispatch and iteration as article_rank (avgOut = 0, restart in
    place of the constant 1); dangling mass is dropped. On the local
    path the distinct sources also travel to the driver, so they are
    held to the same ceiling as the edges."""
    src_ids = sources.select(F.col(sources.columns[0]).alias("id")).distinct()
    n_sources = src_ids.count()
    if n_sources == 0:
        raise ValueError("personalized_pagerank needs a non-empty source set")
    e = _dedup_edges(edges)
    t, n_edges = _dispatch("rank.personalized_pagerank", e, sources=n_sources)
    if t is not None:
        e.unpersist()
        ids, s, d = _local_edges(t)
        src = src_ids.toArrow().column("id").cast(ids.type)
        is_src = pc.is_in(ids, value_set=src).to_numpy(zero_copy_only=False)
        restart = np.where(is_src, 1.0 / n_sources, 0.0)
        rank = _power_iteration_local(s, d, restart, False, damping, iterations)
        return e.sparkSession.createDataFrame(pa.table({"id": ids, "rank": rank}))
    with derived_shuffle_width(e, n_edges) as p:
        # the restart vector rides the vertex table as a column (one
        # broadcast-sized left join up front, never per iteration)
        vertices = (
            _vertices(e, p)
            .join(
                F.broadcast(src_ids.withColumn("_is_src", F.lit(True))),
                "id",
                "left",
            )
            .select(
                "id",
                F.when(F.col("_is_src"), F.lit(1.0 / n_sources))
                .otherwise(F.lit(0.0))
                .alias("restart"),
            )
            .persist()
        )
        out = _power_iteration(e, vertices, p, False, damping, iterations)
    e.unpersist()
    vertices.unpersist()
    return out


def hits_scores(edges: DataFrame, iterations: int = 5) -> DataFrame:
    """HITS hubs & authorities over directed edges(src, dst) ->
    (id, auth, hub), L1-normalized once after a FIXED iteration count
    and rounded to 6 decimals.

    Complements :func:`article_rank` the way the reference's graph-
    algorithm surface does (gds.* invocations in
    shared/helper/neo4j_helper.py:2154-2186 — ArticleRank is the one
    wired up; HITS is the standard companion for citation graphs).

    Same dispatch as article_rank. Per iteration the local path runs two
    ``np.bincount`` passes (auth from hubs, then hubs from auths) and
    the distributed path two map-side-combined shuffles (groupBy dst,
    then groupBy src). Normalization is deferred to ONE final pass (the
    per-iteration normalization of textbook HITS only rescales — at a
    fixed iteration count the normalized result is identical). Both
    paths round with Spark's ``round`` (half-up), not numpy's
    (half-even)."""
    if iterations < 1:
        raise ValueError("hits_scores needs at least one iteration")
    e = _dedup_edges(edges)
    t, n_edges = _dispatch("rank.hits_scores", e)
    if t is not None:
        e.unpersist()
        ids, s, d = _local_edges(t)
        hub = np.ones(len(ids))
        for _ in range(iterations):
            auth = np.bincount(d, weights=hub[s], minlength=len(ids))
            hub = np.bincount(s, weights=auth[d], minlength=len(ids))
        scores = pa.table(
            {"id": ids, "auth": auth / auth.sum(), "hub": hub / hub.sum()}
        )
        return e.sparkSession.createDataFrame(scores).select(
            "id", F.round("auth", 6).alias("auth"), F.round("hub", 6).alias("hub")
        )

    with derived_shuffle_width(e, n_edges) as p:
        vertices = _vertices(e, p).persist()
        # only hubs need initialization: iteration 0 derives auths from
        # them before any read of a prior auth value (matching the SQL
        # oracle, which declares h0 only)
        hubs = vertices.select("id", F.lit(1.0).alias("hub")).localCheckpoint()
        auths = None
        for it in range(iterations):
            auth_in = (
                hubs.join(e, hubs["id"] == e["src"])
                .groupBy(F.col("dst").alias("id"))
                .agg(F.sum("hub").alias("x"))
            )
            auths = vertices.join(auth_in, "id", "left").select(
                "id", F.coalesce("x", F.lit(0.0)).alias("auth")
            )
            hub_in = (
                auths.join(e, auths["id"] == e["dst"])
                .groupBy(F.col("src").alias("id"))
                .agg(F.sum("auth").alias("x"))
            )
            hubs = vertices.join(hub_in, "id", "left").select(
                "id", F.coalesce("x", F.lit(0.0)).alias("hub")
            )
            if it % 2 == 1 or it == iterations - 1:
                auths = auths.localCheckpoint()
                hubs = hubs.localCheckpoint()
        # the final L1 scalars join in as broadcast 1-row relations
        a_sum = auths.agg(F.sum("auth").alias("a_sum"))
        h_sum = hubs.agg(F.sum("hub").alias("h_sum"))
        out = (
            auths.join(hubs, "id")
            .crossJoin(F.broadcast(a_sum))
            .crossJoin(F.broadcast(h_sum))
            .select(
                "id",
                F.round(F.col("auth") / F.col("a_sum"), 6).alias("auth"),
                F.round(F.col("hub") / F.col("h_sum"), 6).alias("hub"),
            )
        )
        return dispatch._finalize(out, e, vertices)


def attach_rank(nodes: DataFrame, ranks: DataFrame) -> DataFrame:
    """nodes(id, label) + ranks(id, rank) -> nodes with a rank column
    (reference writes article_rank as a node property,
    neo4j_helper.py:2172-2179)."""
    return nodes.join(ranks, "id", "left").select(
        "id", "label", F.coalesce(F.col("rank"), F.lit(0.0)).alias("rank")
    )
