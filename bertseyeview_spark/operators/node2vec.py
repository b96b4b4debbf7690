"""G2 — node embeddings: random walks + Word2Vec, DataFrame-native.

Reference analogue: gds.node2vec.stream over multi-label undirected
projections (shared/helper/neo4j_helper.py:1645-1671; nine embedding
runs at knowledge-graph-manager/__main__.py:1486-1572, params dim 128 /
50 walks x len 80 / 4 iterations). GDS runs inside the Neo4j JVM; here
the walk corpus is generated as an **iterative DataFrame join** (one
hash join on the frontier per step, ``localCheckpoint`` to keep lineage
flat) and the skip-gram fit is ``pyspark.ml.feature.Word2Vec`` over the
walk "sentences" — both distributed, both deterministic:

* neighbor choice at (node, walk, step) is ``xxhash64(node, walk, step,
  seed) mod degree`` over the *sorted* adjacency list — seeded, no RNG
  state, identical at any parallelism;
* Word2Vec gets a fixed seed (its parallel SGD is still only
  reproducible per-partitioning — embeddings feed viz/similarity, not
  the scored triple set, so bit-parity is not required there).

Walks are first-order by default (p=q=1, one adjacency join/step).
Passing ``p``/``q`` != 1 enables true node2vec second-order bias
(reference returnFactor/inOutFactor 0.9, neo4j_helper.py:1663): the
previous node is carried through the walk join, the previous node's
adjacency is joined a second time, and each neighbor x of cur gets
weight 1/p if x == prev (return), 1 if x is a neighbor of prev
(distance 1), else 1/q (distance 2) — the standard node2vec transition.
The weighted choice is a deterministic hash-uniform draw resolved by a
JVM-side cumulative-weight fold (``F.aggregate`` over the weight
array), so biased walks are also bit-identical at any parallelism.

``portable_hash=True`` swaps xxhash64 for ``conv(substr(md5(key),1,8),
16,10)`` — slower, but byte-reproducible in ANSI SQL engines (DuckDB),
which is what the driver's random-walk oracle replays.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.ml.functions import vector_to_array


def build_adjacency(edges: DataFrame, undirected: bool = True) -> DataFrame:
    """(src, dst) -> (node, nbrs array<string> sorted). Sorting makes
    the hash-indexed neighbor choice deterministic."""
    e = edges.select("src", "dst")
    if undirected:
        e = e.union(e.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
    return (
        e.dropDuplicates()
        .groupBy(F.col("src").alias("node"))
        .agg(F.sort_array(F.collect_list("dst")).alias("nbrs"))
    )


def _weighted_pick_expr(weights_sql: str, u01_sql: str) -> Column:
    """1-based index of the first element whose cumulative weight reaches
    u01 * total — a linear JVM fold (no Python, no RNG state). The
    size-of-array fallback guards the FP edge where the final cumsum
    lands a hair under the target.

    Written as one SQL expression with explicit lambda variable names:
    composing pyspark higher-order-function Columns (aggregate over a
    transform, with a captured aggregate as the target) trips a lambda
    variable-capture bug when Catalyst's projection collapse inlines one
    copy into another — two copies of the same pick expression evaluated
    to different indices inside a single Project. Unique names (_bw/_bi/
    _bacc/_bs) keep every binding unambiguous after substitution."""
    return F.expr(
        f"""
        aggregate(
          zip_with({weights_sql}, sequence(1, size({weights_sql})),
                   (_bw, _bi) -> struct(_bw AS w, _bi AS i)),
          struct(CAST(0.0 AS DOUBLE) AS cum, -1 AS pick,
                 CAST(({u01_sql}) * aggregate({weights_sql},
                     CAST(0.0 AS DOUBLE), (_ba, _bx) -> _ba + _bx)
                   AS DOUBLE) AS tgt),
          (_bacc, _bs) -> CASE WHEN _bacc.pick >= 1 THEN _bacc ELSE
            struct(_bacc.cum + _bs.w AS cum,
                   CASE WHEN _bacc.cum + _bs.w >= _bacc.tgt
                        THEN _bs.i ELSE -1 END AS pick,
                   _bacc.tgt AS tgt) END,
          _bacc -> CASE WHEN _bacc.pick >= 1 THEN _bacc.pick
                        ELSE size({weights_sql}) END
        )
        """
    )


def generate_walks(
    edges: DataFrame,
    walks_per_node: int = 10,
    walk_length: int = 20,
    seed: int = 42,
    undirected: bool = True,
    checkpoint_every: int = 5,
    p: float = 1.0,
    q: float = 1.0,
    portable_hash: bool = False,
) -> DataFrame:
    """-> (walk_key, walk array<string>): walks_per_node walks of up to
    walk_length nodes from every node. Each step is one equi-join of
    the frontier against the adjacency table (both hash-partitioned on
    the node key, so consecutive steps reuse the exchange). p/q != 1
    adds a second adjacency join per step (the previous node's
    neighborhood) for node2vec return/in-out bias."""
    biased = not (p == 1.0 and q == 1.0)
    adj = build_adjacency(edges, undirected).persist()

    starts = adj.select("node").crossJoin(
        F.broadcast(
            edges.sparkSession.range(walks_per_node).select(
                F.col("id").cast("int").alias("walk_i")
            )
        )
    )
    walks = starts.select(
        F.concat_ws("#", "node", "walk_i").alias("walk_key"),
        F.col("walk_i"),
        F.col("node").alias("cur"),
        F.lit(None).cast("string").alias("prev"),
        F.array("node").alias("walk"),
    ).localCheckpoint()

    adj_prev = adj.select(
        F.col("node").alias("_pnode"), F.col("nbrs").alias("prev_nbrs")
    )

    for step in range(1, walk_length):
        if portable_hash:
            hash_sql = (
                "CAST(conv(substring(md5(concat_ws('#', cur, "
                f"CAST(walk_i AS STRING), '{step}', '{seed}')), 1, 8), "
                "16, 10) AS BIGINT)"
            )
        else:
            hash_sql = f"xxhash64(cur, walk_i, {step}, {seed})"
        if biased:
            # node2vec transition weights over cur's sorted neighbors:
            # 1/p return, 1 if distance-1 from prev, 1/q otherwise.
            weights_sql = (
                "transform(nbrs, _bn -> CASE "
                f"WHEN _bn = prev THEN CAST({1.0 / p!r} AS DOUBLE) "
                "WHEN array_contains(coalesce(prev_nbrs, "
                "CAST(array() AS ARRAY<STRING>)), _bn) THEN 1.0D "
                f"ELSE CAST({1.0 / q!r} AS DOUBLE) END)"
            )
            u01_sql = (
                f"CAST(pmod({hash_sql}, 2147483648) AS DOUBLE)"
                " / 2147483648.0D"
            )
            nxt_idx = _weighted_pick_expr(weights_sql, u01_sql).cast("int")
            stepped = walks.join(
                adj, walks["cur"] == adj["node"], "left"
            ).join(adj_prev, walks["prev"] == F.col("_pnode"), "left")
        else:
            nxt_idx = (
                F.pmod(F.expr(hash_sql), F.size("nbrs")) + F.lit(1)
            ).cast("int")
            stepped = walks.join(adj, walks["cur"] == adj["node"], "left")
        walks = stepped.select(
            "walk_key",
            "walk_i",
            "cur",
            "prev",
            "walk",
            F.when(
                F.col("nbrs").isNotNull(), F.element_at("nbrs", nxt_idx)
            ).alias("_next"),
        ).select(
            "walk_key",
            "walk_i",
            F.coalesce("_next", "cur").alias("_cur2"),
            F.when(F.col("_next").isNotNull(), F.col("cur"))
            .otherwise(F.col("prev"))
            .alias("_prev2"),
            F.when(
                F.col("_next").isNotNull(),
                F.concat("walk", F.array("_next")),
            )
            .otherwise(F.col("walk"))
            .alias("_walk2"),
        ).toDF("walk_key", "walk_i", "cur", "prev", "walk")
        if step % checkpoint_every == 0 or step == walk_length - 1:
            walks = walks.localCheckpoint()
    adj.unpersist()
    return walks.select("walk_key", "walk")


def node2vec_embeddings(
    edges: DataFrame,
    dim: int = 64,
    walks_per_node: int = 10,
    walk_length: int = 20,
    seed: int = 42,
    min_count: int = 1,
    undirected: bool = True,
    p: float = 1.0,
    q: float = 1.0,
) -> DataFrame:
    """-> (id, embedding array<float>): Word2Vec skip-gram over walks."""
    from pyspark.ml.feature import Word2Vec

    walks = generate_walks(
        edges, walks_per_node, walk_length, seed, undirected, p=p, q=q
    )
    w2v = Word2Vec(
        vectorSize=dim,
        minCount=min_count,
        seed=seed,
        inputCol="walk",
        outputCol="_vec",
        windowSize=5,
        maxIter=1,
    )
    model = w2v.fit(walks)
    vectors = model.getVectors()  # (word, vector)
    return vectors.select(
        F.col("word").alias("id"),
        vector_to_array("vector").cast("array<float>").alias("embedding"),
    )


def node2vec_projection_sweep(
    edges: DataFrame,
    runs: list[tuple[str, list[str]]] | None = None,
    dim: int = 64,
    walks_per_node: int = 10,
    walk_length: int = 20,
    seed: int = 42,
    p: float = 0.9,
    q: float = 0.9,
) -> DataFrame:
    """The reference's per-entity-pair embedding sweep
    (knowledge-graph-manager/__main__.py:1486-1572: nine node2vec runs,
    one per Article+label(-pair) projection, returnFactor/inOutFactor
    0.9) as a parameterized loop: for each named run, keep only edges
    whose endpoints are Articles or carry one of the run's labels, run
    biased node2vec on that projection, and tag rows with the run name
    -> (run, id, embedding).

    Runs are independent Spark jobs over successively smaller
    projections; at scale they parallelize trivially across a scheduler
    pool. Default runs mirror the reference's single-label sweeps plus
    its gene/disease, gene/chemical, disease/chemical pairs."""
    from .graph import node_label_expr

    if runs is None:
        runs = [
            ("dis", ["disease"]),
            ("gen", ["gene"]),
            ("che", ["chemical"]),
            ("spe", ["species"]),
            ("mut", ["mutation"]),
            ("cel", ["cellline"]),
            ("gen_dis", ["gene", "disease"]),
            ("gen_che", ["gene", "chemical"]),
            ("dis_che", ["disease", "chemical"]),
        ]
    out: DataFrame | None = None
    labeled = edges.select(
        "src",
        "dst",
        node_label_expr("src").alias("_sl"),
        node_label_expr("dst").alias("_dl"),
    )
    for name, labels in runs:
        allowed = ["Article", *labels]
        proj = labeled.where(
            F.col("_sl").isin(allowed) & F.col("_dl").isin(allowed)
        ).select("src", "dst")
        if proj.isEmpty():
            # a corpus without this run's entity labels yields an empty
            # projection; skip it (Word2Vec would raise on an empty
            # vocabulary and abort the runs that do have data)
            continue
        emb = node2vec_embeddings(
            proj,
            dim=dim,
            walks_per_node=walks_per_node,
            walk_length=walk_length,
            seed=seed,
            p=p,
            q=q,
        ).withColumn("run", F.lit(name))
        out = emb if out is None else out.unionByName(emb)
    if out is None:  # every projection was empty
        return edges.sparkSession.createDataFrame(
            [], "run string, id string, embedding array<float>"
        )
    return out.select("run", "id", "embedding")
