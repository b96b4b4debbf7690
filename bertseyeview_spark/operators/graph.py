"""E6 — materialize the labeled property graph as nodes/edges tables.

Reference analogue: LOAD CSV + MERGE upserts into Neo4j
(shared/helper/neo4j_helper.py:2190-2241), per-label name indexes
(:2136-2152), Null-node cleanup (:2128-2129), duplicate-edge cleanup
(:2120-2124). Here the graph IS two tables (SURVEY.md §1.4):

    nodes(id string, label string)         -- identity = (label, id)
    edges(src string, rel string, dst string)

MERGE semantics == ``dropDuplicates`` before write; the per-label name
index == partitioning the nodes table by ``label`` (+ bucketing by id
at real scale); Iceberg ``MERGE INTO`` handles incremental upserts in
production (parquet overwrite stands in locally — jars not bundled).
"""

from __future__ import annotations

import json
import logging
from contextlib import contextmanager

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .. import dispatch

log = logging.getLogger(__name__)


@contextmanager
def derived_shuffle_width(df: DataFrame, n_rows: int, rows_per_part: int = 50_000):
    """Run a block of iterative-loop planning at a shuffle width derived
    from the loop's working-set row count (guide §2.2/§2.5, the
    article_rank pattern): each iteration of a DataFrame loop is its own
    tiny stage, so at small row counts the session-level width (cores
    locally, 2-3x cluster cores in production) multiplies per-stage
    scheduling overhead for no parallelism gain — measured 6.3s -> 4.4s
    for the 10-iteration pagerank on a 150k-edge graph. Width =
    ceil(n_rows / rows_per_part) (~50k small rows, a few MB, per
    partition), capped at the session setting so cluster configuration
    still dominates at scale; restored on exit. Purely a partitioning
    change — exact-arithmetic loop results are identical, and callers
    with floating-point aggregations keep the same operator order per
    group (only grouping placement moves). The override is session-
    visible while held: a plan built concurrently on another driver
    thread would pick it up — keep loop operators on the sequential
    query path (they are today), or scope a separate session."""
    conf = df.sparkSession.conf
    sess_parts = int(conf.get("spark.sql.shuffle.partitions"))
    p = max(1, min(sess_parts, -(-max(n_rows, 1) // rows_per_part)))
    conf.set("spark.sql.shuffle.partitions", str(p))
    try:
        yield p
    finally:
        conf.set("spark.sql.shuffle.partitions", str(sess_parts))

# entity-id prefix -> node label (reference label set,
# neo4j_helper.py:2136-2152 + input/als/cytoscape_attributes.json)
_LABEL_RULES: list[tuple[str, str]] = [
    ("Keyword:", "Keyword"),
    ("Gene:", "gene"),
    ("Disease:", "disease"),
    ("Chemical:", "chemical"),
    ("Species:", "species"),
    ("Mutation:", "mutation"),
    ("CellLine:", "cellline"),
]


def node_label_expr(col):
    """id -> label: Article for urls, per-prefix entity labels, else
    'entity'. Pure when/otherwise chain — codegen'd."""
    expr = F.when(
        F.col(col).startswith("http://") | F.col(col).startswith("https://"),
        F.lit("Article"),
    )
    for prefix, label in _LABEL_RULES:
        expr = expr.when(F.col(col).startswith(prefix), F.lit(label))
    return expr.otherwise(F.lit("entity"))


def union_edges(*edge_dfs: DataFrame) -> DataFrame:
    """Union edge sources (mention/citing/contains/relation) and dedup.
    The dedup is one hash shuffle on (src, rel, dst); upstream stages
    already deduped locally so the exchange carries near-final rows."""
    out = edge_dfs[0]
    for e in edge_dfs[1:]:
        out = out.unionByName(e)
    return out.dropDuplicates(["src", "rel", "dst"])


def cleanup_null_nodes(edges: DataFrame) -> DataFrame:
    """Reference F8 (cleanup_null_nodes, neo4j_helper.py:2128-2129):
    drop edges touching the Null node. Done as an early filter rather
    than a post-hoc delete — Null surfaces are stopword-like mega-hubs
    at web scale and must never reach the shuffle."""
    return edges.where((F.col("src") != "Null") & (F.col("dst") != "Null"))


def _empty_props():
    return F.map_from_arrays(
        F.array().cast("array<string>"), F.array().cast("array<string>")
    )


def properties_map(cols: dict[str, "F.Column"]):
    """Named columns -> map<string,string>, dropping NULL values — the
    reference's SET only writes attributes that are present
    (neo4j_helper.py:1933-1962)."""
    entries = F.array(
        *[
            F.struct(
                F.lit(k).alias("key"), v.cast("string").alias("value")
            )
            for k, v in cols.items()
        ]
    )
    return F.map_from_entries(
        F.filter(entries, lambda s: s["value"].isNotNull())
    )


def derive_nodes(
    edges: DataFrame,
    page_meta: DataFrame | None = None,
    meta_id_col: str = "url",
) -> DataFrame:
    """Edge endpoints -> deduped node table
    ``(id, label, properties map<string,string>)`` (SURVEY §1.4's node
    shape; rank attaches via rank.attach_rank).

    The union is two column-pruned passes over the edge table; the
    distinct is one shuffle keyed on id. At scale, write partitioned by
    label (the per-label index analogue).

    ``page_meta`` (optional) accretes per-page attributes onto Article
    nodes: every column except ``meta_id_col`` becomes a properties
    entry (NULLs skipped). One left join keyed on id — entity-side
    attribute tables compose the same way via
    :func:`accrete_properties`."""
    ids = edges.select(F.col("src").alias("id")).union(
        edges.select(F.col("dst").alias("id"))
    )
    nodes = (
        ids.distinct()
        .withColumn("label", node_label_expr("id"))
        .select("id", "label")
        .withColumn("properties", _empty_props())
    )
    if page_meta is None:
        return nodes
    attr_cols = [c for c in page_meta.columns if c != meta_id_col]
    meta = page_meta.select(
        F.col(meta_id_col).alias("id"),
        properties_map({c: F.col(c) for c in attr_cols}).alias("_meta_props"),
    )
    return accrete_properties(nodes, meta, props_col="_meta_props")


def accrete_properties(
    nodes: DataFrame, updates: DataFrame, props_col: str = "properties"
) -> DataFrame:
    """Merge attribute updates into the node properties map — the
    reference's ``SET n.attr = value`` accretion (neo4j_helper.py:
    1933-1962) as one left join: update keys overwrite, other keys
    survive, nodes without updates are untouched. All map surgery is
    JVM-side (map_filter + map_concat)."""
    upd = updates.select("id", F.col(props_col).alias("_upd"))
    new = F.coalesce(F.col("_upd"), _empty_props())
    merged = F.map_concat(
        F.map_filter(
            F.col("properties"),
            lambda k, _: ~F.array_contains(F.map_keys(new), k),
        ),
        new,
    )
    return (
        nodes.join(upd, "id", "left")
        .withColumn("properties", merged)
        .drop("_upd")
    )


def node_similarity(
    edges: DataFrame,
    threshold: float = 0.2,
    max_dst_freq: int | None = 1000,
) -> DataFrame:
    """Neighborhood Jaccard between source nodes — the reference's
    ``gds.nodeSimilarity`` surface (the GDS family invoked from
    shared/helper/neo4j_helper.py:2154-2186) re-expressed as a
    set-similarity self-join: two entities are similar when their
    out-neighbor sets (e.g. the articles that mention them) overlap.

    Returns (id_a < id_b, similarity) with Jaccard >= threshold.

    Same candidate-generation shape as the n-gram dedup join (the
    neighbor id plays the shingle role): adjacency equi-join on the
    shared neighbor, grouped intersection counts, exact Jaccard
    verification — never all-pairs. ``max_dst_freq`` is the skew guard:
    a neighbor shared by f sources yields f^2 candidate rows, so
    mega-hub neighbors (stopword-like pages at web scale) are excluded
    from the JOIN while still counting toward set sizes (similarity
    only under-estimates for hub-dominated pairs — the desired bias).
    Never silent: a non-zero dropped-hub count is logged as a WARNING
    JSON record on this module's logger."""
    # self-loop filter compares as strings: bipartite callers carry
    # different src/dst types and an ANSI-mode numeric cast of a
    # non-numeric id would throw. The deduped adjacency feeds sizes,
    # the hub-cap probe, and both self-join sides — persist it once
    # (same multi-consumer discipline as the dedup shingle tables) and
    # release it after materializing the result.
    adj = edges.select("src", "dst").where(
        F.col("src").cast("string") != F.col("dst").cast("string")
    ).dropDuplicates().persist()
    sizes = adj.groupBy("src").agg(F.count("*").alias("deg"))
    joinable = adj
    if max_dst_freq is not None:
        freq = adj.groupBy("dst").agg(F.count("*").alias("f"))
        # one probe job over the (small) frequency table — the
        # aggregation the cap needs anyway, not an extra pass over the
        # adjacency
        n_dropped = freq.agg(
            F.sum(F.when(F.col("f") > max_dst_freq, 1).otherwise(0)).alias("n")
        ).first()["n"]
        if n_dropped:
            log.warning(
                json.dumps(
                    {
                        "event": "graph.node_similarity.hub_cap",
                        "excluded_neighbors": int(n_dropped),
                        "max_dst_freq": max_dst_freq,
                    }
                )
            )
        joinable = adj.join(
            freq.where(F.col("f") <= max_dst_freq).select("dst"),
            "dst",
            "semi",
        )
    a = joinable.select(F.col("src").alias("id_a"), "dst")
    b = joinable.select(F.col("src").alias("id_b"), "dst")
    common = (
        a.join(b, "dst")
        .where(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count("*").alias("common"))
    )
    out = (
        common.join(
            sizes.select(F.col("src").alias("id_a"), F.col("deg").alias("deg_a")),
            "id_a",
        )
        .join(
            sizes.select(F.col("src").alias("id_b"), F.col("deg").alias("deg_b")),
            "id_b",
        )
        .withColumn(
            "similarity",
            F.col("common").cast("double")
            / (F.col("deg_a") + F.col("deg_b") - F.col("common")),
        )
        .where(F.col("similarity") >= threshold)
        .select("id_a", "id_b", F.round("similarity", 6).alias("similarity"))
    )
    return dispatch._finalize(out, adj)


def k_core(edges: DataFrame, k: int = 2, iterations: int = 6) -> DataFrame:
    """Nodes surviving ``iterations`` rounds of k-core peeling over the
    undirected simple graph, with their degree inside the core —
    (id, core_degree). GDS-family companion (``gds.kcore``-shaped) to
    :func:`triangle_counts`: each round drops every node whose current
    degree is < k, then recomputes degrees over the induced subgraph.

    FIXED iteration count, not a convergence test — deterministic
    across parallelism levels and replayable by an unrolled SQL oracle
    (peeling converges geometrically; 6 rounds suffice for the corpora
    here, and callers can raise it). Each round is one grouped degree
    count plus two semi-joins; localCheckpoint every other round keeps
    the lineage flat so the plan never grows superlinearly."""
    und = (
        edges.select("src", "dst")
        .union(
            edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        )
        .where(F.col("src") != F.col("dst"))
        .dropDuplicates()
    )
    cur = und.localCheckpoint(eager=True)
    # peeling loop at an edge-count-derived width (derived_shuffle_width;
    # integer degree counts — partitioning-independent). The checkpoint
    # above is eager so the count is a cache read, not a recompute.
    with derived_shuffle_width(cur, cur.count()):
        for it in range(iterations):
            keep = (
                cur.groupBy("src")
                .agg(F.count("*").alias("deg"))
                .where(F.col("deg") >= k)
                .select("src")
            )
            cur = cur.join(keep, "src", "semi").join(
                keep.select(F.col("src").alias("dst")), "dst", "semi"
            )
            if it % 2 == 1 or it == iterations - 1:
                cur = cur.localCheckpoint(eager=False)
        out = (
            cur.groupBy("src")
            .agg(F.count("*").alias("core_degree"))
            .where(F.col("core_degree") >= k)
            .select(F.col("src").alias("id"), "core_degree")
            .localCheckpoint(eager=True)
        )
    return out


def triangle_counts(edges: DataFrame) -> DataFrame:
    """Per-node triangle counts over the undirected simple graph —
    (id, n_triangles). The standard distributed formulation: orient
    each undirected edge from the lexicographically smaller endpoint
    (every triangle is counted exactly once as a<b<c), join oriented
    edges on the shared apex to enumerate wedges, then close each
    wedge with a semi-check against the edge set. Two equi-joins, no
    enumeration blowup beyond the true wedge count.

    At web scale the wedge join is the known hot spot (high-degree
    apexes); the orientation trick already bounds it by sum of
    min-degree^2, the published mitigation."""
    und = (
        edges.select("src", "dst")
        .where(F.col("src") != F.col("dst"))
        .union(
            edges.select(
                F.col("dst").alias("src"), F.col("src").alias("dst")
            )
        )
        .dropDuplicates()
    )
    # oriented: a < b only
    o = und.where(F.col("src") < F.col("dst")).select(
        F.col("src").alias("a"), F.col("dst").alias("b")
    )
    wedges = (
        o.alias("x")
        .join(o.alias("y"), F.col("x.a") == F.col("y.a"))
        .where(F.col("x.b") < F.col("y.b"))
        .select(
            F.col("x.a").alias("a"),
            F.col("x.b").alias("b"),
            F.col("y.b").alias("c"),
        )
    )
    closing = o.select(F.col("a").alias("b"), F.col("b").alias("c"))
    triangles = wedges.join(closing, ["b", "c"], "left_semi")
    per_node = (
        triangles.select(F.col("a").alias("id"))
        .union(triangles.select(F.col("b").alias("id")))
        .union(triangles.select(F.col("c").alias("id")))
        .groupBy("id")
        .agg(F.count("*").alias("n_triangles"))
    )
    nodes = und.select(F.col("src").alias("id")).distinct()
    return nodes.join(per_node, "id", "left").select(
        "id", F.coalesce("n_triangles", F.lit(0)).alias("n_triangles")
    )


def adamic_adar(
    edges: DataFrame,
    threshold: float = 0.0,
    max_neighbor_deg: int | None = 1000,
) -> DataFrame:
    """Adamic-Adar link prediction over the symmetrized simple graph —
    the GDS link-prediction family companion
    (``gds.alpha.linkprediction.adamicAdar``) to
    :func:`node_similarity`:

        score(x, y) = sum over common neighbors z of 1 / ln(deg(z))

    Rare shared neighbors count more than hubs (the published
    link-prediction weighting). Returns (id_a < id_b, score) for pairs
    with score >= threshold; ids compare as strings like every graph
    operator here. ln(deg(z)) is always positive: a common neighbor of
    two distinct nodes has degree >= 2 by construction.

    Same candidate-generation discipline as node_similarity: adjacency
    equi-join on the shared neighbor (never all-pairs), grouped
    weighted sum with map-side combine, and the same default-on hub
    guard — a neighbor of degree f yields f^2 candidate rows, so
    mega-hubs are excluded from the JOIN (scores only under-estimate
    for hub-mediated pairs, the desired bias; never silent)."""
    e = edges.select(
        F.col("src").cast("string").alias("a"),
        F.col("dst").cast("string").alias("b"),
    ).where(F.col("a") != F.col("b"))
    und = (
        e.unionByName(e.select(F.col("b").alias("a"), F.col("a").alias("b")))
        .dropDuplicates()
        .persist()
    )
    deg = und.groupBy("a").agg(F.count("*").alias("d"))
    # degree-1 nodes can never be a COMMON neighbor of two distinct
    # nodes, but the weight projection would still evaluate 1/ln(1)
    # for them (ANSI mode: DIVIDE_BY_ZERO aborts the job) — filter
    # them out BEFORE the division, which also shrinks the join side
    w = deg.where(F.col("d") >= 2).select(
        F.col("a").alias("_z"), (F.lit(1.0) / F.log(F.col("d"))).alias("w"), F.col("d")
    )
    joinable = und.select("a", F.col("b").alias("_z"))
    if max_neighbor_deg is not None:
        n_dropped = w.agg(
            F.sum(F.when(F.col("d") > max_neighbor_deg, 1).otherwise(0)).alias("n")
        ).first()["n"]
        if n_dropped:
            log.warning(
                json.dumps(
                    {
                        "event": "graph.adamic_adar.hub_cap",
                        "excluded_neighbors": int(n_dropped),
                        "max_neighbor_deg": max_neighbor_deg,
                    }
                )
            )
        joinable = joinable.join(
            w.where(F.col("d") <= max_neighbor_deg).select("_z"), "_z", "semi"
        )
    x = joinable.select(F.col("a").alias("id_a"), "_z")
    y = joinable.select(F.col("a").alias("id_b"), "_z")
    out = (
        x.join(y, "_z")
        .where(F.col("id_a") < F.col("id_b"))
        .join(w.select("_z", "w"), "_z")
        .groupBy("id_a", "id_b")
        .agg(F.sum("w").alias("_s"))
        .where(F.col("_s") >= threshold)
        .select("id_a", "id_b", F.round("_s", 6).alias("score"))
    )
    return dispatch._finalize(out, und)


def label_propagation(edges: DataFrame, iterations: int = 4) -> DataFrame:
    """Synchronous label-propagation community detection — the GDS
    family's ``gds.labelPropagation`` analogue. Every node starts in
    its own community; each round it adopts the most frequent label
    among its neighbors (tie -> smallest label). Returns
    (id, community) after a FIXED number of synchronous rounds.

    Determinism at any parallelism: synchronous updates (every round
    reads only the previous round's labels), integer counts, and a
    total tie order (count desc, label asc) — no float math, no
    partition-order dependence. Fixed iterations keep the plan static
    and the run replayable; synchronous LPA can oscillate on bipartite
    structure, and a fixed horizon makes that a defined, replayable
    outcome rather than a nondeterministic stopping race.

    Shape per round: one join (adjacency x labels, both pre-hashed on
    the same key) + one grouped count (map-side combined) + one
    per-node top-1 window — all bounded by |E|; localCheckpoint every
    other round keeps lineage flat."""
    from pyspark.sql import Window

    e = edges.select(
        F.col("src").cast("string").alias("a"),
        F.col("dst").cast("string").alias("b"),
    ).where(F.col("a") != F.col("b"))
    und = (
        e.unionByName(e.select(F.col("b").alias("a"), F.col("a").alias("b")))
        .dropDuplicates()
        .repartition("b")
        .persist()
    )
    # width derived from the (just-persisted) undirected edge count —
    # see derived_shuffle_width; label counts/tie-order are integer and
    # total, so the result is partitioning-independent
    with derived_shuffle_width(und, und.count()):
        labels = (
            und.select(F.col("a").alias("id"))
            .distinct()
            .select("id", F.col("id").alias("lbl"))
            .localCheckpoint(eager=True)
        )
        w = Window.partitionBy("id").orderBy(F.desc("c"), F.asc("lbl"))
        for it in range(iterations):
            msgs = und.join(
                labels.select(F.col("id").alias("b"), "lbl"), "b"
            ).select(F.col("a").alias("id"), "lbl")
            counts = msgs.groupBy("id", "lbl").agg(F.count("*").alias("c"))
            labels = (
                counts.withColumn("_rn", F.row_number().over(w))
                .where(F.col("_rn") == 1)
                .select("id", "lbl")
            )
            if it % 2 == 1 and it < iterations - 1:
                labels = labels.localCheckpoint(eager=True)
        out = labels.select("id", F.col("lbl").alias("community"))
        return dispatch._finalize(out, und)


def bfs_distances(
    edges: DataFrame,
    sources: DataFrame,
    max_hops: int = 6,
) -> DataFrame:
    """Unweighted multi-source shortest hop distances over a DIRECTED
    edge set — the gds.bfs / gds.shortestPath family member (the
    reference's graph layer exposes Neo4j path procedures; see
    neo4j_helper.py's GDS call sites).

    ``edges`` is (src, dst); ``sources`` a one-column frame of start
    vertices. Returns (id, dist) for every vertex reachable within
    ``max_hops`` (sources at 0; unreachable vertices absent).

    Distributed shape: textbook frontier relaxation — per hop ONE
    equi-join of the CURRENT frontier against the edge list, a dedup
    of the candidates (frontier-sized), and one LEFT ANTI membership
    probe against the settled set to keep only first discoveries. The
    settled set is only ever PROBED and unioned, never re-aggregated —
    level-synchronous BFS guarantees a vertex's first discovery hop is
    its shortest distance, so no min-merge over the visited set is
    needed. Hop count is FIXED so the plan is static and an
    unrolled/recursive SQL oracle can replay it exactly. Lineage is
    flattened with a localCheckpoint every few hops, the same cadence
    discipline as article_rank / k_core.
    """
    e = edges.select("src", "dst").where(
        F.col("src").isNotNull() & F.col("dst").isNotNull()
    ).distinct()
    src_col = sources.columns[0]
    frontier = sources.select(
        F.col(src_col).alias("id"), F.lit(0).alias("dist")
    ).distinct()
    dist = frontier
    # NOTE (r8): deliberately left at session width and un-persisted —
    # see weighted_shortest_paths for the AQE zip hazard that both a
    # derived-width override and a persist+final-checkpoint variant
    # triggered on this frontier/anti-join/union loop shape.
    for h in range(1, max_hops + 1):
        # rename the frontier column before the join: the looped
        # lineage contains e after hop 1, and unaliased refs into a
        # repeated self-join are ambiguous
        new = (
            frontier.select(F.col("id").alias("_fid"))
            .join(e, F.col("_fid") == F.col("src"))
            .select(F.col("dst").alias("id"), F.lit(h).alias("dist"))
            .dropDuplicates(["id"])
            .join(dist.select("id"), "id", "left_anti")
        )
        dist = dist.unionByName(new)
        frontier = new
        if h % 3 == 0:
            dist = dist.localCheckpoint(eager=True)
            frontier = frontier.localCheckpoint(eager=True)
    return dist


def weighted_shortest_paths(
    edges: DataFrame,
    sources: DataFrame,
    max_rounds: int = 8,
    weight_col: str = "weight",
) -> DataFrame:
    """Multi-source single-source-set shortest COST over a DIRECTED
    weighted edge set — the gds.shortestPath Dijkstra/Bellman-Ford
    family member completing the group :func:`bfs_distances` started
    (the reference's graph layer exposes Neo4j path procedures; see
    neo4j_helper.py's GDS call sites).

    ``edges`` is (src, dst, weight); ``sources`` a one-column frame of
    start vertices. Returns (id, cost) — the minimum total edge weight
    from ANY source to each vertex reachable within ``max_rounds``
    edges (sources at 0.0; unreachable vertices absent). Negative
    weights are rejected (Bellman-Ford would need V-1 rounds to be
    exact with them; the fixed round cap is the oracle-replayable
    contract); NaN weights are dropped like nulls — NaN evades a
    ``< 0`` guard and would otherwise propagate through min/+ as a
    NaN cost for every vertex behind the edge.

    Distributed shape: Bellman-Ford frontier relaxation, the delta-
    stepping degenerate form that needs no priority queue — per round
    ONE equi-join of the improved-last-round frontier against the edge
    list, a grouped min-merge of the candidates (unlike BFS, a later
    discovery can be CHEAPER, so first-discovery dedup is wrong here),
    and one left join against the settled bests keeping strict
    improvements only. Work per round tracks the improving boundary,
    never the settled set; parallel edges are min-collapsed once up
    front so candidate volume is bounded by the simple-edge count.
    Round count is FIXED so the plan is static and a depth-capped
    recursive SQL oracle can replay it exactly (cost accumulates
    left-to-right along each path in both engines, so IEEE doubles
    match bit-for-bit). Lineage is flattened with a localCheckpoint
    every few rounds, the same cadence discipline as bfs_distances.
    """
    e = (
        edges.select("src", "dst", F.col(weight_col).cast("double").alias("_w"))
        .where(
            F.col("src").isNotNull()
            & F.col("dst").isNotNull()
            & F.col("_w").isNotNull()
            # NaN weights are dropped alongside nulls, not rejected:
            # NaN < 0 is false so the negative guard below never sees
            # them, and min()/+ would otherwise propagate NaN costs to
            # every vertex reachable only through such an edge
            & ~F.isnan("_w")
        )
        .groupBy("src", "dst")
        .agg(F.min("_w").alias("_w"))
    )
    # validate on the raw rows WITH the same null guards as e (a
    # negative weight on a null-src/dst row never joins the graph and
    # must not reject the call): a scan + limit(1), no shuffle —
    # probing e would pay the min-collapse groupBy twice, once here
    # and once uncached in round 1 (r6 review findings, both passes)
    neg = edges.where(
        F.col("src").isNotNull()
        & F.col("dst").isNotNull()
        & (F.col(weight_col).cast("double") < 0)
    ).limit(1).count()
    if neg > 0:
        raise ValueError("weighted_shortest_paths requires non-negative weights")
    src_col = sources.columns[0]
    dist = sources.select(
        F.col(src_col).alias("id"), F.lit(0.0).alias("cost")
    ).distinct()
    frontier = dist
    # NOTE (r8): left exactly at session width and un-persisted — BOTH
    # a derived-width override and an e.persist()+final-checkpoint
    # variant made AQE zip checkpointed pieces of unequal partition
    # counts here (IllegalArgumentException "Can't zip RDDs ...",
    # List(1,2)/List(8,16) at sf0.01). The frontier/anti-join/union
    # chain is the fragile pattern; rebuild-per-round loops (pagerank,
    # LPA, k-core, HITS, CC) take the width optimization safely.
    for r in range(1, max_rounds + 1):
        cand = (
            # rename before the join: the looped lineage contains e
            # after round 1 (same ambiguity hazard as bfs_distances)
            frontier.select(F.col("id").alias("_fid"), F.col("cost").alias("_fc"))
            .join(e, F.col("_fid") == F.col("src"))
            .select(F.col("dst").alias("id"), (F.col("_fc") + F.col("_w")).alias("cost"))
            .groupBy("id")
            .agg(F.min("cost").alias("cost"))
        )
        improved = (
            cand.join(
                dist.select(F.col("id"), F.col("cost").alias("_best")),
                "id",
                "left",
            )
            .where(F.col("_best").isNull() | (F.col("cost") < F.col("_best")))
            .select("id", "cost")
        )
        dist = dist.join(improved, "id", "left_anti").unionByName(improved)
        frontier = improved
        if r % 3 == 0:
            dist = dist.localCheckpoint(eager=True)
            frontier = frontier.localCheckpoint(eager=True)
    return dist

def closeness_centrality(
    edges: DataFrame,
    sources: DataFrame,
    max_hops: int = 6,
) -> DataFrame:
    """Sampled-source closeness centrality — the gds.closeness family
    member, estimated the published way (Eppstein-Wang style pivot
    sampling): run a per-source BFS from a SAMPLE of source vertices
    and score every vertex by the distances at which the sample
    reaches it. Returns, for each vertex reached by at least one
    source at hop >= 1:

        (id, n_reached, total_dist, closeness, harmonic)

    where ``n_reached`` counts sources reaching the vertex within
    ``max_hops``, ``total_dist`` is the exact integer hop sum, and
    ``closeness = n_reached / total_dist`` (the inverse mean distance
    from the sample — one IEEE division of two exact integers, so the
    score is bit-replayable in any engine; self-distances are excluded
    so a source's own row does not deflate its mean). ``harmonic`` is
    the harmonic-centrality variant (sum of 1/d — the form that
    handles disconnected reach gracefully), computed EXACTLY: with
    ``max_hops <= 6`` every 1/d is replayed as the integer 2520/d
    (2520 = lcm(1..9), so hop caps up to 9 stay exact) summed as a
    bigint, then ONE division by 2520 — the same
    integer-sums-then-one-division discipline as ``closeness``.

    Distributed shape: the same level-synchronous frontier relaxation
    as :func:`bfs_distances` with the state keyed by (source, vertex)
    — per hop ONE equi-join of the frontier against the edge list, a
    (source, vertex) dedup, and one LEFT ANTI probe against the
    settled set (first discovery = shortest hop, so no min-merge).
    State size is |sample| x |reach|, linear in the sample size — the
    knob that makes closeness affordable at 100 TB where the exact
    all-sources algorithm is quadratic. Fixed hop cap keeps the plan
    static for the depth-capped recursive-CTE oracle; localCheckpoint
    every 3 hops flattens the looped lineage, the bfs_distances
    cadence.
    """
    if max_hops > 9:
        raise ValueError("max_hops > 9 breaks the exact harmonic sum")
    e = edges.select("src", "dst").where(
        F.col("src").isNotNull() & F.col("dst").isNotNull()
    ).distinct()
    src_col = sources.columns[0]
    dist = sources.select(
        F.col(src_col).alias("s"),
        F.col(src_col).alias("id"),
        F.lit(0).alias("dist"),
    ).distinct()
    frontier = dist
    for h in range(1, max_hops + 1):
        new = (
            # rename before the join: the looped lineage contains e
            # after hop 1 (same ambiguity hazard as bfs_distances)
            frontier.select("s", F.col("id").alias("_fid"))
            .join(e, F.col("_fid") == F.col("src"))
            .select("s", F.col("dst").alias("id"), F.lit(h).alias("dist"))
            .dropDuplicates(["s", "id"])
            .join(dist.select("s", "id"), ["s", "id"], "left_anti")
        )
        dist = dist.unionByName(new)
        frontier = new
        if h % 3 == 0:
            dist = dist.localCheckpoint(eager=True)
            frontier = frontier.localCheckpoint(eager=True)
    return (
        dist.where(F.col("dist") > 0)
        .groupBy("id")
        .agg(
            F.count("*").alias("n_reached"),
            F.sum("dist").cast("bigint").alias("total_dist"),
            F.sum(F.expr("2520 div dist")).cast("bigint").alias("_hnum"),
        )
        .select(
            "id",
            "n_reached",
            "total_dist",
            (
                F.col("n_reached").cast("double")
                / F.col("total_dist").cast("double")
            ).alias("closeness"),
            (F.col("_hnum").cast("double") / F.lit(2520.0)).alias(
                "harmonic"
            ),
        )
    )


def betweenness_centrality(
    edges: DataFrame,
    sources: DataFrame,
    max_hops: int = 6,
) -> DataFrame:
    """Sampled-source betweenness centrality — Brandes' algorithm
    (Brandes 2001) restricted to a pivot sample, the published way to
    make betweenness affordable (Brandes-Pich 2007): C_B(v) =
    sum over sampled sources s != v of the dependency delta_s(v).

    Forward phase: the same level-synchronous per-source BFS as
    :func:`closeness_centrality`, additionally accumulating the exact
    shortest-path COUNT sigma as a grouped integer sum per hop (every
    shortest-path predecessor of a depth-h vertex sits at depth h-1,
    so summing sigma over the discovering frontier is exact — the
    textbook level-synchronous recurrence). sigma stays integer all
    the way (bigint; with the hop cap H it is bounded by out_deg^H).

    Backward phase: dependencies unroll depth-by-depth from the hop
    cap down — per level ONE reversed edge join of the depth-h delta
    rows onto their depth-(h-1) shortest-path predecessors and a
    grouped sum of (sigma_v / sigma_w) * (1 + delta_w), the Brandes
    accumulation. A fixed ``max_hops`` keeps both phases statically
    unrollable (the depth-capped recursive-CTE + per-depth-CTE oracle
    replays them); the returned score is ROUNDED to 6 decimals on both
    engines because the dependency sums are genuine float folds whose
    addition order differs across partitionings (the adamic_adar /
    lm_perplexity rounding discipline — float error ~1e-15 of value,
    rounding step 1e-6).

    Returns (id, betweenness) for every vertex reached at hop >= 1 by
    at least one source (leaves legitimately score 0.0). Semantics
    note: scores are with-respect-to-the-sample (no extrapolation
    factor n/|sample| is applied — multiply externally if an estimate
    of the full-graph score is wanted, per Brandes-Pich).

    Distributed shape: per hop/level ONE equi-join + one grouped sum,
    state keyed (source, vertex) — |sample| x |reach| like closeness;
    localCheckpoint every 3 levels flattens the looped lineage. The
    backward pass accretes one left join per depth level onto that
    state, so the SAMPLE SIZE is the budget knob on both phases:
    measured on a 50k-vertex graph (BENCH/centrality_stress_r7.json),
    wall stays flat from |sample|=8 to 128 (state rows 13.5x) with
    zero spill — the knob buys reach coverage at ~zero wall cost until
    |sample| x |reach| approaches corpus scale.
    """
    e = edges.select("src", "dst").where(
        F.col("src").isNotNull() & F.col("dst").isNotNull()
    ).distinct()
    src_col = sources.columns[0]
    dist = sources.select(
        F.col(src_col).alias("s"),
        F.col(src_col).alias("id"),
        F.lit(0).alias("d"),
        F.lit(1).cast("bigint").alias("sigma"),
    ).distinct()
    frontier = dist
    for h in range(1, max_hops + 1):
        new = (
            frontier.select(
                "s", F.col("id").alias("_fid"), F.col("sigma").alias("_fsig")
            )
            .join(e, F.col("_fid") == F.col("src"))
            .groupBy("s", F.col("dst").alias("id"))
            .agg(F.sum("_fsig").cast("bigint").alias("sigma"))
            .join(dist.select("s", "id"), ["s", "id"], "left_anti")
            .select("s", "id", F.lit(h).alias("d"), "sigma")
        )
        dist = dist.unionByName(new)
        frontier = new
        if h % 3 == 0:
            dist = dist.localCheckpoint(eager=True)
            frontier = frontier.localCheckpoint(eager=True)
    cur = dist.withColumn("delta", F.lit(0.0))
    for h in range(max_hops, 0, -1):
        # rename every column before the joins: cur's lineage already
        # contains e after the forward loop (the bfs_distances /
        # closeness ambiguity hazard)
        succ = cur.where(F.col("d") == h).select(
            F.col("s").alias("_ws"),
            F.col("id").alias("_w"),
            F.col("sigma").alias("_wsig"),
            F.col("delta").alias("_wdelta"),
        )
        preds = cur.where(F.col("d") == h - 1).select(
            F.col("s").alias("_vs"),
            F.col("id").alias("_v"),
            F.col("sigma").alias("_vsig"),
        )
        contrib = (
            succ.join(e, F.col("_w") == F.col("dst"))
            .join(
                preds,
                (F.col("src") == F.col("_v"))
                & (F.col("_ws") == F.col("_vs")),
            )
            .select(
                F.col("_vs").alias("s"),
                F.col("_v").alias("id"),
                (
                    (F.col("_vsig").cast("double") / F.col("_wsig").cast("double"))
                    * (F.lit(1.0) + F.col("_wdelta"))
                ).alias("_term"),
            )
            .groupBy("s", "id")
            .agg(F.sum("_term").alias("_add"))
        )
        cur = (
            cur.join(contrib, ["s", "id"], "left")
            .withColumn(
                "delta", F.col("delta") + F.coalesce(F.col("_add"), F.lit(0.0))
            )
            .drop("_add")
        )
        if h % 3 == 0:
            cur = cur.localCheckpoint(eager=True)
    return (
        cur.where(F.col("d") > 0)
        .groupBy("id")
        .agg(F.round(F.sum("delta"), 6).alias("betweenness"))
    )


def strongly_connected_components(
    edges: DataFrame,
    max_peels: int = 3,
    max_prop: int = 10,
) -> DataFrame:
    """Strongly connected components over a DIRECTED edge set — the
    gds.scc analogue completing the components family next to the
    undirected WCC (operators/canonicalize.py connected_components)
    and label_propagation. On a crawl link graph the SCCs are the
    classic bow-tie structure query (Broder et al. 2000): the giant
    core, the IN/OUT tendrils, and the spam/link-farm cycles.

    Algorithm: iterative coloring + peeling, the Orzan "ColorSCC"
    shape every distributed SCC implementation uses (GraphX's
    Pregel SCC is the same idea):

      per peel round, on the still-unassigned ("live") subgraph:
        1. FORWARD min-label propagation, ``max_prop`` rounds:
           color(v) converges to the minimum vertex id that can
           reach v within ``max_prop`` hops (v itself included).
        2. Roots are vertices with color(v) == v. Vertex v belongs
           to SCC(r) iff color(v) == r AND v can reach r through
           vertices of color r (``max_prop``-hop backward BFS from
           the roots, constrained to the root's color class) — the
           mutual-reachability certificate: r reaches v (it colored
           v) and v reaches r.
        3. Assigned vertices leave the live set; repeat.

    Every SCC whose minimum id has no smaller-id ancestor peels in
    the round it becomes exposed, so ``max_peels`` bounds the min-id
    nesting depth and ``max_prop`` bounds SCC diameter AND the
    color-propagation radius. Both caps are FIXED so the plan is
    static and an unrolled recursive-CTE oracle replays the
    assignment exactly; with sufficient caps the result equals exact
    SCC (pytest cross-checks against Tarjan on random digraphs). A
    count probe exits early once the live set drains — the common
    case after 1-2 peels — without changing the result (further
    peels are no-ops on an empty set).

    The caps are SELF-CERTIFYING budgets: each peel's assignments are
    used only if BOTH phases provably converged under ``max_prop`` —
    one extra relaxation probe shows no color improvement, and the
    final backward frontier is empty. A starved cap would otherwise
    assign confidently WRONG components (a cycle longer than the cap
    gets its root peeled as a singleton; a partially-collected SCC
    leaves its far members to re-color among themselves), so on the
    first non-converged peel the operator STOPS assigning and every
    still-live vertex returns scc_id NULL — honestly undecided,
    never wrong.

    Returns (id, scc_id) for every vertex, scc_id = the component's
    minimum vertex id (NULL if undecided under the caps).

    Distributed shape: everything is frontier/label relaxation —
    per propagation round ONE equi-join of the V-sized color table
    against the edge list plus a grouped min; the backward pass is
    the bfs_distances frontier discipline keyed by (vertex, root).
    State is O(V), work per peel O(E * max_prop) — the published
    ColorSCC bound; no reachability SETS are ever materialized (the
    oracle's pair enumeration is the small-scale replay only).
    localCheckpoint flattens the looped lineage at the
    bfs_distances cadence.
    """
    e0 = edges.select("src", "dst").where(
        F.col("src").isNotNull() & F.col("dst").isNotNull()
    ).distinct().persist()
    verts = (
        e0.select(F.col("src").alias("id"))
        .unionByName(e0.select(F.col("dst").alias("id")))
        .distinct()
    )
    # e0 persisted: each peel semi-joins it twice and the vertex table
    # derives from it. NO derived-width override here — the backward
    # member pass is a frontier/anti-join/union chain, the pattern
    # where a mid-chain session-width change made AQE zip checkpointed
    # pieces of unequal partition counts (see weighted_shortest_paths).
    out = _scc_body(e0, verts, max_peels, max_prop)
    e0.unpersist()
    return out


def _scc_body(
    e0: DataFrame, verts: DataFrame, max_peels: int, max_prop: int
) -> DataFrame:
    live = verts.localCheckpoint(eager=True)
    assigned = None
    for _peel in range(max_peels):
        if live.limit(1).count() == 0:
            break
        e = (
            e0.join(live.select(F.col("id").alias("src")), "src", "left_semi")
            .join(live.select(F.col("id").alias("dst")), "dst", "left_semi")
            .localCheckpoint(eager=True)
        )
        # 1. forward min-label propagation: color(v) -> min id
        # reaching v within max_prop hops (monotone non-increasing,
        # so a full-table least() per round is the textbook update)
        color = live.select("id", F.col("id").alias("color"))
        for r in range(1, max_prop + 1):
            inc = (
                color.select(F.col("id").alias("_cid"), "color")
                .join(e, F.col("_cid") == F.col("src"))
                .groupBy(F.col("dst").alias("id"))
                .agg(F.min("color").alias("_in_min"))
            )
            color = (
                color.join(inc, "id", "left")
                .select(
                    "id",
                    F.least(
                        F.col("color"), F.coalesce("_in_min", F.col("color"))
                    ).alias("color"),
                )
            )
            if r % 3 == 0:
                color = color.localCheckpoint(eager=True)
        color = color.localCheckpoint(eager=True)
        # convergence certificate #1: one extra relaxation must find
        # NO improvable color, else the coloring is not the true
        # min-ancestor labeling and roots cannot be trusted (a cycle
        # longer than the cap would peel its root as a WRONG
        # singleton) — stop assigning, leave the rest NULL
        improvable = (
            color.select(F.col("id").alias("_cid"), "color")
            .join(e, F.col("_cid") == F.col("src"))
            .groupBy(F.col("dst").alias("id"))
            .agg(F.min("color").alias("_in_min"))
            .join(color, "id")
            .where(F.col("_in_min") < F.col("color"))
        )
        if improvable.limit(1).count() > 0:
            break
        # 2. backward BFS from the roots inside each color class:
        # member(v) = r certifies the mutual reachability
        roots = color.where(F.col("color") == F.col("id")).select(
            "id", F.col("id").alias("scc_id")
        )
        member = roots
        frontier = roots
        for r in range(1, max_prop + 1):
            new = (
                frontier.select(F.col("id").alias("_mid"), "scc_id")
                .join(e, F.col("_mid") == F.col("dst"))
                .select(F.col("src").alias("id"), "scc_id")
                # dedup on the PAIR before the color filter: a vertex
                # reached by two roots' frontiers must not have its
                # one legitimate (color-matching) candidate dropped by
                # an id-only dedup picking the other root
                .dropDuplicates(["id", "scc_id"])
                .join(color, "id")
                .where(F.col("color") == F.col("scc_id"))
                .select("id", "scc_id")
                .join(member.select("id"), "id", "left_anti")
            )
            member = member.unionByName(new)
            frontier = new
            if r % 3 == 0:
                member = member.localCheckpoint(eager=True)
                frontier = frontier.localCheckpoint(eager=True)
        member = member.localCheckpoint(eager=True)
        # convergence certificate #2: one more expansion of the final
        # frontier must yield NO new member, else SCC(r) may be only
        # partially collected (its far members would re-color among
        # themselves next peel into wrong separate components) — stop
        # assigning instead. Probing for new members rather than raw
        # frontier emptiness avoids an off-by-one that would discard a
        # complete assignment whose last member arrived exactly at
        # round max_prop (r7 second review)
        if frontier.limit(1).count() > 0:
            extra = (
                frontier.select(F.col("id").alias("_mid"), "scc_id")
                .join(e, F.col("_mid") == F.col("dst"))
                .select(F.col("src").alias("id"), "scc_id")
                .dropDuplicates(["id", "scc_id"])
                .join(color, "id")
                .where(F.col("color") == F.col("scc_id"))
                .select("id", "scc_id")
                .join(member.select("id"), "id", "left_anti")
            )
            if extra.limit(1).count() > 0:
                break
        # 3. peel: assigned vertices leave the live set
        assigned = (
            member if assigned is None else assigned.unionByName(member)
        )
        live = live.join(member.select("id"), "id", "left_anti")
        live = live.localCheckpoint(eager=True)
    if assigned is not None:
        out = verts.join(assigned, "id", "left")
    else:
        out = verts.select("id", F.lit(None).cast(verts.schema["id"].dataType).alias("scc_id"))
    # materialize inside the caller's width override while e0 is still
    # persisted — the lazy verts subtree would otherwise replay e0's
    # dedup after the caller unpersists it
    return out.select("id", "scc_id").localCheckpoint(eager=True)


def bowtie_classification(
    edges: DataFrame,
    max_peels: int = 3,
    max_prop: int = 10,
    max_hops: int = 6,
) -> DataFrame:
    """Bow-tie structure classification of a directed link graph —
    Broder et al. 2000 ("Graph structure in the Web"), the canonical
    crawl-graph analysis: the giant strongly connected CORE, the IN
    set (reaches the core), the OUT set (reached from the core), and
    everything else (tendrils, tubes, disconnected islands — lumped
    as 'other'; Broder's finer tendril/tube split is a trivial
    further join users can add on top of the reach flags).

    Composition of two proven operators: the core is the LARGEST SCC
    from :func:`strongly_connected_components` (ties broken by min
    scc_id — deterministic), and membership is pure capped
    reachability via two :func:`bfs_distances` runs seeded with the
    core (forward on the edges, backward on the reversed edges).
    Classification is reach-based: a vertex that both reaches and is
    reached by the core within the caps is mutually reachable with it
    — i.e. core (the SCC rows are only needed to FIND the core, so a
    vertex the SCC caps left NULL still classifies correctly by its
    reach flags). Returns (id, cls) with cls in
    {'core', 'in', 'out', 'other'} for every vertex.

    Scale shape: the SCC peel bounds (see
    :func:`strongly_connected_components`), one bounded 1-row collect
    for the core id (a grouped count + top-1), and two frontier BFS
    passes whose state is the reach set — exactly the work a crawl
    analyst's ad-hoc queries would spend, composed once. Fixed caps
    keep the whole thing oracle-replayable.
    """
    scc = strongly_connected_components(
        edges, max_peels=max_peels, max_prop=max_prop
    )
    # three consumers fan out of the SCC table (sizes agg, core
    # filter, vertex spine) — checkpoint the V-sized result once so
    # the peel's final verts-join runs once, not three times
    scc = scc.localCheckpoint(eager=True)
    sizes = (
        scc.where(F.col("scc_id").isNotNull())
        .groupBy("scc_id")
        .agg(F.count("*").alias("_n"))
    )
    core_row = (
        sizes.orderBy(F.desc("_n"), F.asc("scc_id")).limit(1).collect()
    )
    verts = scc.select("id")
    if not core_row:
        return verts.select("id", F.lit("other").alias("cls"))
    core_id = core_row[0]["scc_id"]
    core_v = scc.where(F.col("scc_id") == F.lit(core_id)).select(
        F.col("id").alias("v")
    )
    e = edges.select("src", "dst")
    fwd = bfs_distances(e, core_v, max_hops=max_hops).select(
        "id", F.lit(True).alias("_fwd")
    )
    bwd = bfs_distances(
        e.select(F.col("dst").alias("src"), F.col("src").alias("dst")),
        core_v,
        max_hops=max_hops,
    ).select("id", F.lit(True).alias("_bwd"))
    return (
        verts.join(fwd, "id", "left")
        .join(bwd, "id", "left")
        .select(
            "id",
            F.when(F.col("_fwd") & F.col("_bwd"), F.lit("core"))
            .when(F.col("_fwd"), F.lit("out"))
            .when(F.col("_bwd"), F.lit("in"))
            .otherwise(F.lit("other"))
            .alias("cls"),
        )
    )
