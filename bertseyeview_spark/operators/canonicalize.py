"""E5 — entity canonicalization: merge duplicate entity ids.

Reference analogue: curation merges/renames driven by
input/global/curate_annotations.json through apoc.refactor.mergeNodes
(shared/helper/neo4j_helper.py:803-880) — a hand-written (from -> to)
map applied node-at-a-time. The scalable generalization (north rule) is:

1. build *merge-candidate pairs* from (a) explicit curation rules,
   (b) entity ids sharing an alias AND embedding-similar, and
   (c) an LSH-bucketed embedding similarity self-join (random
   hyperplane signatures -> band buckets -> within-bucket cosine,
   each pair scored once at its first agreeing band through
   :func:`~.similarity.banded_pairs`);
2. run **connected components** over the pair graph (iterative
   min-label propagation on DataFrames, the public "hash-to-min"
   scheme; ``localCheckpoint`` per iteration truncates lineage);
3. canonical id = lexicographically smallest member of each component
   (deterministic across parallelism levels);
4. remap the edge table through the resulting (entity_id ->
   canonical_id) map with two left joins + ``coalesce``.

``build_canonical_map_auto`` runs all of this on the driver for
dictionaries of at most ``DRIVER_SIM_MAX_ROWS`` rows, with exact
cosine in place of (c). ``MAX_ALIAS_FREQ`` caps the aliases (b) uses
on both paths.

Note sharing a surface alone is NOT merge-worthy — truly ambiguous
aliases (one surface, two different real-world entities, e.g. disease
ALS vs gene ALR) must stay separate, hence the embedding-similarity
conjunct in (b).
"""

from __future__ import annotations

import logging
from collections.abc import Iterable, Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..dispatch import log_dispatch, pull_within
from .graph import derived_shuffle_width
from .similarity import _dot, ab_sides, banded_pairs

log = logging.getLogger(__name__)

_N_PLANES = 16  # LSH signature bits
_N_BANDS = 4    # 4 bands x 4 bits
# an alias mapped to more entity ids than this is too ambiguous to
# justify a merge: both canonicalization paths skip it in source (b)
MAX_ALIAS_FREQ = 64


def curation_pairs(curation_rules: DataFrame) -> DataFrame:
    """curation_rules(method, from_id, to_id) -> undirected pair rows (a, b)."""
    return (
        curation_rules.where(F.col("method").isin("merge", "rename"))
        .select(F.col("from_id").alias("a"), F.col("to_id").alias("b"))
    )


def _lsh_signature_df(entities: DataFrame, seed: int = 7) -> DataFrame:
    """entity (entity_id, embedding:array<double>) -> one row per entity:
    (entity_id, bkts, embedding), ``bkts`` holding the ``_N_BANDS``
    band buckets of the signature bits. Random hyperplanes are
    seeded-deterministic and generated identically on every worker."""
    fields = "entity_id string, bkts array<int>, embedding array<double>"
    per_band = _N_PLANES // _N_BANDS
    weights = 1 << np.arange(per_band)

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        planes = None
        for pdf in batches:
            bkts, embs = [], []
            for emb in pdf["embedding"]:
                if emb is None or len(emb) == 0:
                    # no signature: null buckets never join
                    bkts.append(None)
                    embs.append(None)
                    continue
                v = np.asarray(emb, dtype=np.float64)
                if planes is None:
                    rng = np.random.RandomState(seed)
                    planes = rng.standard_normal((_N_PLANES, len(v)))
                bits = ((planes @ v) > 0).reshape(_N_BANDS, per_band)
                bkts.append((bits @ weights).tolist())
                embs.append(list(v))
            yield pd.DataFrame(
                {
                    "entity_id": pdf["entity_id"],
                    "bkts": pd.Series(bkts, dtype="object"),
                    "embedding": pd.Series(embs, dtype="object"),
                }
            )

    return entities.mapInPandas(run, schema=fields)


def similarity_pairs(alias_dict: DataFrame, threshold: float = 0.90) -> DataFrame:
    """Merge-candidate pairs among canonical entity ids.

    (b) same-alias + cosine >= threshold;
    (c) LSH-banded embedding self-join + cosine >= threshold
        (same entity under two namespaces usually has no shared alias).

    Embeddings in the dictionary are unit-norm, so cosine == dot.
    At 10^8 dictionary entries the LSH path shuffles only
    (band, bucket)-bucketed candidates instead of the full cross join,
    and each pair leaves it once, at its first agreeing band
    (:func:`banded_pairs`); the final ``dropDuplicates`` only merges
    the two sources.

    ``MAX_ALIAS_FREQ`` caps the shared-alias self-join: an alias mapped
    to f entity ids yields f^2 candidate rows, and at web scale a single
    stopword-like surface (f ~ 10^5) would dominate the whole shuffle.
    Aliases above the cap are excluded from path (b) — they are exactly
    the surfaces too ambiguous to justify a merge, and genuinely
    duplicate ids they cover are still caught by the LSH path (c).
    """
    ents = (
        alias_dict.where(F.col("entity_id") != "Null")
        .select("alias", "entity_id", F.col("embedding").cast("array<double>").alias("emb"))
    )

    # (b) shared alias, frequency-capped (see docstring). The SMALL set
    # is the over-cap complement (a handful of stopword-like surfaces),
    # so broadcast THAT and anti-join — broadcasting the under-cap side
    # would ship nearly the whole dictionary to every executor.
    freq_bad = (
        ents.groupBy("alias")
        .agg(F.count("*").alias("_f"))
        .where(F.col("_f") > MAX_ALIAS_FREQ)
        .select("alias")
    )
    capped = ents.join(F.broadcast(freq_bad), "alias", "left_anti")
    l = capped.select("alias", F.col("entity_id").alias("a"), F.col("emb").alias("ea"))
    r = capped.select("alias", F.col("entity_id").alias("b"), F.col("emb").alias("eb"))
    shared = (
        l.join(r, "alias")
        .where(F.col("a") < F.col("b"))
        .withColumn("sim", _dot("ea", "eb"))
        .where(F.col("sim") >= threshold)
        .select("a", "b")
    )

    # (c) LSH over one representative embedding per entity id
    reps = (
        ents.groupBy("entity_id")
        .agg(F.min_by("emb", "alias").alias("embedding"))
        .select("entity_id", "embedding")
    )
    sigs = _lsh_signature_df(reps).select(
        F.col("entity_id").alias("id"), F.col("embedding").alias("e"), "bkts"
    )
    lsh = (
        banded_pairs(*ab_sides(sigs), F.col("id_a") < F.col("id_b"))
        .where(_dot("e_a", "e_b") >= threshold)
        .select(F.col("id_a").alias("a"), F.col("id_b").alias("b"))
    )
    return shared.unionByName(lsh).dropDuplicates()


def connected_components(pairs: DataFrame) -> DataFrame:
    """Undirected pair rows (a, b) -> (entity_id, canonical_id).

    Iterative min-label propagation: comp(v) <- min(comp(v),
    min_{u ~ v} comp(u)) until fixpoint; converges in O(diameter)
    rounds (entity-duplicate clusters are tiny, so 2-4 rounds in
    practice). Labels only decrease, so the loop always reaches the
    fixpoint; a one-row convergence probe after each round stops it
    there, whatever the diameter. Each round is one shuffle;
    ``localCheckpoint`` cuts the lineage so round k doesn't replay
    rounds 1..k-1. Canonical = min string id in the component —
    deterministic regardless of partitioning, so local[8] == local[32].
    """
    edges = (
        pairs.select("a", "b")
        .union(pairs.select(F.col("b").alias("a"), F.col("a").alias("b")))
        .dropDuplicates()
        .persist()
    )
    # each round is its own tiny stage, so the per-round exchanges run
    # at an edge-count-derived width (graph.derived_shuffle_width). The
    # count is ~free on the just-persisted edges and doubles as
    # materialization.
    with derived_shuffle_width(edges, edges.count()):
        comp = (
            edges.select(F.col("a").alias("id"))
            .union(edges.select(F.col("b").alias("id")))
            .distinct()
            .withColumn("comp", F.col("id"))
            .localCheckpoint()
        )
        while True:
            nbr_min = (
                edges.join(comp, edges["b"] == comp["id"])
                .groupBy(F.col("a").alias("id"))
                .agg(F.min("comp").alias("nbr_comp"))
            )
            new_comp = (
                comp.join(nbr_min, "id", "left")
                .select(
                    "id",
                    F.least(
                        F.col("comp"), F.coalesce(F.col("nbr_comp"), F.col("comp"))
                    ).alias("comp"),
                )
                .localCheckpoint()
            )
            changed = (
                new_comp.alias("n")
                .join(comp.alias("o"), "id")
                .where(F.col("n.comp") != F.col("o.comp"))
                .limit(1)
                .count()
            )
            comp = new_comp
            if changed == 0:
                break
    edges.unpersist()
    return comp.select(
        F.col("id").alias("entity_id"), F.col("comp").alias("canonical_id")
    )


def build_canonical_map(
    spark: SparkSession,
    curation_rules: DataFrame | None = None,
    alias_dict: DataFrame | None = None,
    threshold: float = 0.90,
) -> DataFrame:
    """Union all pair sources, run CC, keep only rows that actually
    remap (entity_id != canonical_id) so the downstream join stays small
    and broadcastable."""
    sources = []
    if curation_rules is not None:
        sources.append(curation_pairs(curation_rules))
    if alias_dict is not None:
        sources.append(similarity_pairs(alias_dict, threshold))
    if not sources:
        return spark.createDataFrame([], "entity_id string, canonical_id string")
    pairs = sources[0]
    for s in sources[1:]:
        pairs = pairs.unionByName(s)
    cc = connected_components_auto(spark, pairs)
    return cc.where(F.col("entity_id") != F.col("canonical_id"))


# CEILING: dictionaries of at most this many rows are canonicalized
# entirely on the driver (one Arrow pull + numpy cosine + union-find) —
# the distributed LSH/CC path costs several fixed seconds of stage
# latency that a 10^4-entry dictionary never justifies. Driver memory is
# quadratic in the r distinct entity ids with an embedding: the r x r
# float64 cosine matrix and its boolean mask, 9 bytes per id pair. Peak
# driver Python memory (tracemalloc plus Arrow pool peak, CPython 3.11,
# pyarrow 16, 64-d unit embeddings, one alias per id) measured 59 MB at
# 2,500 rows, 225 MB at 5,000 and 878 MB at 10,000, so ~21 GB at the
# ceiling when every row is its own id, far above a 2 GB driver. A
# dictionary with a aliases per id needs about 1/a^2 of that.
DRIVER_SIM_MAX_ROWS = 50_000


def _union_find(pairs: Iterable[tuple[str, str]]) -> dict[str, str]:
    """Every node of the undirected ``pairs`` -> the minimum node of its
    connected component. Union by min id keeps the canonical id
    deterministic, whatever the pair order."""
    parent: dict[str, str] = {}

    def find(x: str) -> str:
        root = x
        while parent.setdefault(root, root) != root:
            root = parent[root]
        while parent[x] != root:
            parent[x], x = root, parent[x]
        return root

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            lo, hi = (ra, rb) if ra < rb else (rb, ra)
            parent[hi] = lo
    return {n: find(n) for n in parent}


def build_canonical_map_auto(
    spark: SparkSession,
    curation_rules: DataFrame | None = None,
    alias_dict: DataFrame | None = None,
    threshold: float = 0.90,
) -> DataFrame:
    """Size-dispatched :func:`build_canonical_map`: dictionaries of at
    most ``DRIVER_SIM_MAX_ROWS`` rows run as one Arrow pull + numpy
    cosine + union-find on the driver; larger ones take the distributed
    path. The pull is the probe (:func:`~..dispatch.pull_within`: at
    most one row past the ceiling reaches the driver), and the choice is
    logged as one JSON record on this module's logger.

    The two paths apply the same curation rules and the same
    shared-alias source (b), frequency cap included. They differ in
    source (c): the driver path compares every pair of entity
    representatives by exact cosine, while the distributed path only
    scores pairs that share an LSH band bucket, so it can miss a pair
    above the threshold and merge fewer ids."""
    if alias_dict is None:
        return build_canonical_map(spark, curation_rules, alias_dict, threshold)
    t, n = pull_within(
        alias_dict.select("alias", "entity_id", "embedding"), DRIVER_SIM_MAX_ROWS
    )
    path = log_dispatch(
        log, "canonicalize.build_canonical_map_auto",
        "driver" if t is not None else "distributed",
        rows=n, ceiling=DRIVER_SIM_MAX_ROWS,
    )
    if path == "distributed":
        return build_canonical_map(spark, curation_rules, alias_dict, threshold)

    pairs: list[tuple[str, str]] = []
    if curation_rules is not None:
        for r in curation_rules.collect():
            if r["method"] in ("merge", "rename"):
                pairs.append((r["from_id"], r["to_id"]))

    aliases, eids = t.column(0).to_pylist(), t.column(1).to_pylist()
    embs = t.column(2).to_numpy(zero_copy_only=False)  # arrays, None when null
    ents = [
        (alias, eid, np.array([] if emb is None else emb, dtype=float))
        for alias, eid, emb in zip(aliases, eids, embs)
        if eid != "Null"
    ]
    # (b) shared alias + cosine, with the same frequency cap the
    # distributed path applies (dispatch-path parity)
    by_alias: dict[str, list[tuple[str, np.ndarray]]] = {}
    for alias, eid, emb in ents:
        by_alias.setdefault(alias, []).append((eid, emb))
    for cands in by_alias.values():
        if len(cands) > MAX_ALIAS_FREQ:
            continue
        for i in range(len(cands)):
            for j in range(i + 1, len(cands)):
                a, ea = cands[i]
                b, eb = cands[j]
                if a != b and ea.size and eb.size and float(ea @ eb) >= threshold:
                    pairs.append((a, b))
    # (c) exact cosine among entity representatives (min alias per id)
    reps: dict[str, tuple[str, np.ndarray]] = {}
    for alias, eid, emb in ents:
        if emb.size and (eid not in reps or alias < reps[eid][0]):
            reps[eid] = (alias, emb)
    ids = sorted(reps)
    if ids:
        mat = np.stack([reps[i][1] for i in ids])
        sims = mat @ mat.T
        ii, jj = np.where(sims >= threshold)
        for i, j in zip(ii, jj):
            if i < j:
                pairs.append((ids[i], ids[j]))

    out = [(node, root) for node, root in _union_find(pairs).items() if root != node]
    return spark.createDataFrame(out, "entity_id string, canonical_id string")


# CEILING: merge-pair graphs of at most this many pairs run as
# driver-side union-find: the distributed loop costs ~1-2s of stage
# latency per round, while a million-pair union-find takes ~2 s
# in-process. Above it, the iterative DataFrame CC takes over (the
# 10^12-doc path). Peak driver Python memory at the ceiling (tracemalloc
# plus Arrow pool peak, CPython 3.11, pyarrow 16, 20-character string
# ids): 0.43 GB for 2,000,000 pairs over 1,000,000 nodes and 1.0 GB for
# 2,000,000 disjoint pairs (4,000,000 nodes, the most a pair count
# allows): the pulled table, its python strings, the parent map and the
# (node, root) rows handed to createDataFrame.
DRIVER_CC_MAX_PAIRS = 2_000_000


def connected_components_auto(spark: SparkSession, pairs: DataFrame) -> DataFrame:
    """Size-dispatched connected components: driver union-find for
    small pair graphs, iterative min-label propagation otherwise. Same
    output either way (canonical = min id in component). The choice is
    logged as one JSON record on this module's logger.

    The probe is the pull (:func:`~..dispatch.pull_within`): at most
    one pair past the ceiling reaches the driver, so deciding never
    pulls O(data) rows, and the driver path reads the pairs it pulled.
    The pairs are persisted first, so the distributed path re-reads the
    probe's partitions instead of recomputing them."""
    pairs = pairs.persist()
    t, n = pull_within(pairs.select("a", "b"), DRIVER_CC_MAX_PAIRS)
    path = log_dispatch(
        log, "canonicalize.connected_components_auto",
        "driver" if t is not None else "distributed",
        pairs=n, ceiling=DRIVER_CC_MAX_PAIRS,
    )
    if path == "distributed":
        out = connected_components(pairs)
        pairs.unpersist()
        return out
    pairs.unpersist()
    roots = _union_find(zip(*(c.to_pylist() for c in t.columns)))
    return spark.createDataFrame(
        list(roots.items()), "entity_id string, canonical_id string"
    )


def component_min_ids(nodes: DataFrame, pairs: DataFrame) -> DataFrame:
    """``nodes`` (id, ...) plus ``rep_id``: the minimum ``id`` of each
    node's connected component over the undirected ``pairs`` (id_a,
    id_b), in the id's own type and order (9 before 10), where
    :func:`connected_components_auto` labels components by the string
    minimum. A node in no pair is its own rep. The near-dup keep-one
    step of ``dedup_representatives`` and ``semdedup``."""
    cc = connected_components_auto(
        nodes.sparkSession,
        pairs.select(
            F.col("id_a").cast("string").alias("a"),
            F.col("id_b").cast("string").alias("b"),
        ),
    )
    comp = nodes.withColumn("_sid", F.col("id").cast("string")).join(
        cc.select(
            F.col("entity_id").alias("_sid"), F.col("canonical_id").alias("_comp")
        ),
        "_sid",
        "left",
    )
    reps = (
        comp.where(F.col("_comp").isNotNull())
        .groupBy("_comp")
        .agg(F.min("id").alias("_rep"))
    )
    return comp.join(reps, "_comp", "left").select(
        *nodes.columns, F.coalesce("_rep", "id").alias("rep_id")
    )


def apply_canonical_map(edges: DataFrame, cmap: DataFrame) -> DataFrame:
    """Remap edge endpoints through the canonical map (broadcast —
    merge maps are tiny relative to the edge set) and re-dedup.
    Mirrors apoc.refactor.to/from + duplicate-edge cleanup
    (neo4j_helper.py:706-801, :2120-2124) as two joins."""
    src_map = F.broadcast(
        cmap.select(
            F.col("entity_id").alias("src"), F.col("canonical_id").alias("src_c")
        )
    )
    dst_map = F.broadcast(
        cmap.select(
            F.col("entity_id").alias("dst"), F.col("canonical_id").alias("dst_c")
        )
    )
    return (
        edges.join(src_map, "src", "left")
        .join(dst_map, "dst", "left")
        .select(
            F.coalesce("src_c", "src").alias("src"),
            F.col("rel"),
            F.coalesce("dst_c", "dst").alias("dst"),
        )
        .where(F.col("src") != F.col("dst"))
        .dropDuplicates(["src", "rel", "dst"])
    )
