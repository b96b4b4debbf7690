"""ArticleRank/PageRank vs a pure-python oracle; connected components
on crafted clusters (incl. a hub); linking disambiguation invariants."""

import json
import logging

import pytest
from pyspark.sql import functions as F

from bertseyeview_spark.datagen import (
    alias_dict_to_spark,
    build_alias_dict,
    text_embedding,
)
from bertseyeview_spark.operators.canonicalize import (
    connected_components,
    similarity_pairs,
)
from bertseyeview_spark.operators.rank import (
    RANK_LOCAL_MAX_EDGES,
    article_rank,
    hits_scores,
    personalized_pagerank,
)


def _py_article_rank(edges, damping=0.85, iterations=20, variant="article_rank"):
    nodes = sorted({a for a, _ in edges} | {b for _, b in edges})
    out_deg = {}
    for a, _ in edges:
        out_deg[a] = out_deg.get(a, 0) + 1
    avg_out = (
        sum(out_deg.values()) / len(out_deg)
        if variant == "article_rank" and out_deg
        else 0.0
    )
    ranks = {n: 1.0 for n in nodes}
    for _ in range(iterations):
        incoming = {n: 0.0 for n in nodes}
        for a, b in edges:
            incoming[b] += ranks[a] / (out_deg[a] + avg_out)
        ranks = {n: (1 - damping) + damping * incoming[n] for n in nodes}
    return ranks


@pytest.mark.parametrize("variant", ["article_rank", "pagerank"])
def test_article_rank_vs_python(spark, rank_paths, variant):
    edges = [
        ("a", "b"), ("a", "c"), ("b", "c"), ("c", "a"),
        ("d", "c"), ("e", "c"), ("f", "c"), ("d", "a"),
    ]
    df = spark.createDataFrame(edges, ["src", "dst"])
    want = _py_article_rank(edges, iterations=15, variant=variant)
    for path in rank_paths():
        got = {
            r["id"]: r["rank"]
            for r in article_rank(df, iterations=15, variant=variant).collect()
        }
        assert set(got) == set(want), path
        for n in want:
            assert got[n] == pytest.approx(want[n], abs=1e-9), (path, n)
        # 'c' is the most-cited node and must rank highest
        assert max(got, key=got.get) == "c", path


def _rank_graph(spark, id_type):
    """Varied in-degrees (two moduli per source) and enough edges per
    node that sum order would show in the last bits."""
    edges = [(i, (i * 7 + 3) % 97) for i in range(300)]
    edges += [(i, (i * 13 + 5) % 61) for i in range(300)]
    if id_type == "string":
        edges = [(f"n{a}", f"n{b}") for a, b in edges]
    return spark.createDataFrame(edges, f"src {id_type}, dst {id_type}")


@pytest.mark.parametrize("id_type", ["long", "string"])
def test_rank_local_path_partition_invariant(spark, id_type):
    """The local path sorts ids and edges before summing, so its rows
    are bit-identical however the input is partitioned, and the id
    column keeps its type."""
    df = _rank_graph(spark, id_type)
    seeds = [(0,), (5,)] if id_type == "long" else [("n0",), ("n5",)]
    srcs = spark.createDataFrame(seeds, f"id {id_type}")
    ops = {
        "article_rank": lambda g: article_rank(g, iterations=20),
        "personalized_pagerank": lambda g: personalized_pagerank(g, srcs),
        "hits_scores": lambda g: hits_scores(g, iterations=5),
    }
    for name, op in ops.items():
        runs = [op(g) for g in (df, df.repartition(1), df.repartition(7))]
        assert runs[0].schema["id"].dataType.simpleString() == (
            "bigint" if id_type == "long" else "string"
        ), name
        rows = [sorted(map(tuple, r.collect())) for r in runs]
        assert rows[0] == rows[1] == rows[2], name
        assert len(rows[0]) == 300, name


def test_rank_dispatch_records(spark, rank_paths, caplog):
    df = _rank_graph(spark, "long")
    srcs = spark.createDataFrame([(0,)], "id long")
    n_edges = df.distinct().count()
    logger = "bertseyeview_spark.operators.rank"
    for path in rank_paths():
        caplog.clear()
        with caplog.at_level(logging.INFO, logger=logger):
            article_rank(df, iterations=2)
            personalized_pagerank(df, srcs, iterations=2)
            hits_scores(df, iterations=1)
        ceiling = 0 if path == "distributed" else RANK_LOCAL_MAX_EDGES
        recs = [json.loads(r.getMessage()) for r in caplog.records if r.name == logger]
        assert recs == [
            {"dispatcher": "rank.article_rank", "edges": n_edges,
             "ceiling": ceiling, "path": path},
            {"dispatcher": "rank.personalized_pagerank", "edges": n_edges,
             "sources": 1, "ceiling": ceiling, "path": path},
            {"dispatcher": "rank.hits_scores", "edges": n_edges,
             "ceiling": ceiling, "path": path},
        ]


def test_connected_components_clusters(spark):
    # two chains + one hub star + a singleton pair
    pairs = (
        [("a1", "a2"), ("a2", "a3")]
        + [("hub", f"s{i}") for i in range(25)]
        + [("z1", "z2")]
    )
    df = spark.createDataFrame(pairs, ["a", "b"])
    cc = {r["entity_id"]: r["canonical_id"] for r in connected_components(df).collect()}
    assert cc["a1"] == cc["a2"] == cc["a3"] == "a1"
    assert all(cc[f"s{i}"] == "hub" for i in range(25))
    assert cc["z1"] == cc["z2"] == "z1"
    # three components total
    assert len(set(cc.values())) == 3


def test_similarity_pairs_merges_near_duplicates_only(spark, band_join_paths):
    """Identical embeddings (they agree in every LSH band) merge,
    dissimilar ones and an entity with no embedding do not, and the LSH
    path returns the pair set of the old every-band join +
    dropDuplicates shape."""
    e1 = [float(x) for x in text_embedding("alpha beta gamma")]
    e2 = [float(x) for x in text_embedding("alpha beta gamma")]  # identical
    e3 = [float(x) for x in text_embedding("totally different context")]
    rows = [
        ("alpha syndrome", "Disease:MESH:D1", "disease", e1),
        ("alpha disorder", "Disease:OMIM:9", "disease", e2),
        ("alpha condition", "Disease:DOID:4", "disease", e2),
        ("beta complex", "Disease:MESH:D2", "disease", e3),
        ("alpha syndrome", "Disease:MESH:D3", "disease", None),
    ]
    df = spark.createDataFrame(
        rows, "alias string, entity_id string, entity_type string, "
        "embedding array<double>",
    )
    got = {}
    for path in band_join_paths():
        out = similarity_pairs(df, threshold=0.9)
        got[path] = sorted(map(tuple, out.collect()))
    pairs = set(got["first_band"])
    assert len(pairs) == len(got["first_band"])
    assert ("Disease:MESH:D1", "Disease:OMIM:9") in pairs
    assert ("Disease:DOID:4", "Disease:MESH:D1") in pairs
    assert all("Disease:MESH:D2" not in p for p in pairs)
    assert all("Disease:MESH:D3" not in p for p in pairs)
    assert got["first_band"] == got["join_dedup"]


def test_ambiguous_alias_not_merged(spark):
    """The truly ambiguous alias (disease ALS vs gene ALR) shares a
    surface but has dissimilar embeddings — must NOT become a merge
    pair (SURVEY.md G6)."""
    alias = alias_dict_to_spark(spark, build_alias_dict())
    pairs = {(r["a"], r["b"]) for r in similarity_pairs(alias, threshold=0.9).collect()}
    assert ("Disease:MESH:D000690", "Gene:2671") not in pairs
    assert ("Gene:2671", "Disease:MESH:D000690") not in pairs


def test_pull_within_boundary(spark):
    """The shared driver pull returns the table only when it is the
    whole input, and the rows it pulled: N at ceiling N, None and N at
    ceiling N - 1, and an empty table that keeps its schema."""
    from bertseyeview_spark.dispatch import pull_within

    df = spark.createDataFrame([(i, f"v{i}") for i in range(5)], "k long, v string")
    t, n = pull_within(df, 5)
    assert n == 5 and sorted(t.column("k").to_pylist()) == list(range(5))
    assert pull_within(df, 4) == (None, 5)
    t, n = pull_within(df.where("k < 0"), 5)
    assert n == 0 and t.num_rows == 0 and t.column_names == ["k", "v"]
    assert [str(f.type) for f in t.schema] == ["int64", "string"]


def _canon_records(caplog):
    from bertseyeview_spark.operators import canonicalize

    out = [
        json.loads(r.getMessage())
        for r in caplog.records
        if r.name == canonicalize.__name__
    ]
    caplog.clear()
    return out


def test_build_canonical_map_auto_dispatch_records(spark, monkeypatch, caplog):
    """The dictionary-size dispatch logs one record per call with the
    probed row count and the ceiling: driver at the default ceiling,
    distributed with the ceiling at 0."""
    from bertseyeview_spark.operators import canonicalize

    alias = alias_dict_to_spark(spark, build_alias_dict())
    n = alias.count()
    caplog.set_level(logging.INFO, logger=canonicalize.__name__)
    canonicalize.build_canonical_map_auto(spark, None, alias)
    assert _canon_records(caplog) == [{
        "dispatcher": "canonicalize.build_canonical_map_auto",
        "rows": n, "ceiling": canonicalize.DRIVER_SIM_MAX_ROWS,
        "path": "driver",
    }]
    monkeypatch.setattr(canonicalize, "DRIVER_SIM_MAX_ROWS", 0)
    canonicalize.build_canonical_map_auto(spark, None, alias).collect()
    sim, cc = _canon_records(caplog)
    assert sim == {
        "dispatcher": "canonicalize.build_canonical_map_auto",
        "rows": 1, "ceiling": 0, "path": "distributed",
    }
    # the distributed path's pair graph goes through the CC dispatch
    assert cc["dispatcher"] == "canonicalize.connected_components_auto"


def test_connected_components_auto_dispatch_records(spark, monkeypatch, caplog):
    """The pair-count dispatch logs one record per call with the probed
    pair count and the ceiling, on both sides of it, and both paths
    agree on the components."""
    from bertseyeview_spark.operators import canonicalize

    pairs = spark.createDataFrame(
        [("a1", "a2"), ("a2", "a3"), ("z1", "z2")], ["a", "b"]
    )
    caplog.set_level(logging.INFO, logger=canonicalize.__name__)
    driver = sorted(map(tuple, canonicalize.connected_components_auto(
        spark, pairs).collect()))
    assert _canon_records(caplog) == [{
        "dispatcher": "canonicalize.connected_components_auto",
        "pairs": 3, "ceiling": canonicalize.DRIVER_CC_MAX_PAIRS,
        "path": "driver",
    }]
    monkeypatch.setattr(canonicalize, "DRIVER_CC_MAX_PAIRS", 0)
    dist = sorted(map(tuple, canonicalize.connected_components_auto(
        spark, pairs).collect()))
    assert _canon_records(caplog) == [{
        "dispatcher": "canonicalize.connected_components_auto",
        "pairs": 1, "ceiling": 0, "path": "distributed",
    }]
    assert dist == driver
