"""HITS hubs/authorities vs a pure-python oracle; k-core peeling on
crafted graphs; neighborhood-Jaccard node similarity (the GDS-family
surface, shared/helper/neo4j_helper.py:2154-2186 analogues)."""

import json
import logging

import pytest
from pyspark.sql import functions as F

from bertseyeview_spark.operators.graph import k_core, node_similarity
from bertseyeview_spark.operators.rank import hits_scores


def _py_hits(edges, iterations=5):
    nodes = sorted({a for a, _ in edges} | {b for _, b in edges})
    hub = {n: 1.0 for n in nodes}
    auth = {n: 1.0 for n in nodes}
    for _ in range(iterations):
        auth = {n: 0.0 for n in nodes}
        for a, b in edges:
            auth[b] += hub[a]
        hub = {n: 0.0 for n in nodes}
        for a, b in edges:
            hub[a] += auth[b]
    a_sum = sum(auth.values()) or 1.0
    h_sum = sum(hub.values()) or 1.0
    return (
        {n: auth[n] / a_sum for n in nodes},
        {n: hub[n] / h_sum for n in nodes},
    )


def test_hits_vs_python(spark, rank_paths):
    edges = [
        ("a", "x"), ("a", "y"), ("b", "x"), ("b", "y"), ("b", "z"),
        ("c", "y"), ("d", "z"), ("x", "a"),
    ]
    df = spark.createDataFrame(edges, ["src", "dst"])
    want_auth, want_hub = _py_hits(edges, iterations=5)
    for path in rank_paths():
        rows = hits_scores(df, iterations=5).collect()
        got_auth = {r["id"]: r["auth"] for r in rows}
        got_hub = {r["id"]: r["hub"] for r in rows}
        assert set(got_auth) == set(want_auth), path
        for n in want_auth:
            assert got_auth[n] == pytest.approx(want_auth[n], abs=1e-6), (path, n)
            assert got_hub[n] == pytest.approx(want_hub[n], abs=1e-6), (path, n)
        # b links to every authority -> best hub; y is cited most -> best auth
        assert max(got_hub, key=got_hub.get) == "b", path
        assert max(got_auth, key=got_auth.get) == "y", path


def test_hits_deterministic_across_parallelism(spark, rank_paths):
    edges = [(f"n{i}", f"n{(i * 7 + 3) % 20}") for i in range(40)]
    df = spark.createDataFrame(edges, ["src", "dst"])
    for path in rank_paths():
        a = sorted(map(tuple, hits_scores(df, iterations=4).collect()))
        b = sorted(
            map(tuple, hits_scores(df.repartition(1), iterations=4).collect())
        )
        assert a == b, path


def _py_k_core(edges, k, iterations):
    und = set()
    for a, b in edges:
        if a != b:
            und.add((a, b))
            und.add((b, a))
    cur = set(und)
    for _ in range(iterations):
        deg = {}
        for a, _ in cur:
            deg[a] = deg.get(a, 0) + 1
        keep = {n for n, d in deg.items() if d >= k}
        cur = {(a, b) for a, b in cur if a in keep and b in keep}
    deg = {}
    for a, _ in cur:
        deg[a] = deg.get(a, 0) + 1
    return {n: d for n, d in deg.items() if d >= k}


def test_k_core_peels_tendrils(spark):
    # K4 core with a pendant chain hung off it: the chain must peel
    # away at k=2, the K4 survives with degree 3
    k4 = [("a", "b"), ("a", "c"), ("a", "d"), ("b", "c"), ("b", "d"), ("c", "d")]
    chain = [("d", "e"), ("e", "f"), ("f", "g")]
    df = spark.createDataFrame(k4 + chain, ["src", "dst"])
    got = {r["id"]: r["core_degree"] for r in k_core(df, k=2).collect()}
    assert got == {"a": 3, "b": 3, "c": 3, "d": 3}
    assert got == _py_k_core(k4 + chain, 2, 6)


def test_k_core_matches_python_on_random_graph(spark):
    edges = [(f"n{(i * 13) % 30}", f"n{(i * 7 + 5) % 30}") for i in range(60)]
    df = spark.createDataFrame(edges, ["src", "dst"])
    for k in (2, 3):
        got = {r["id"]: r["core_degree"] for r in k_core(df, k=k).collect()}
        assert got == _py_k_core(edges, k, 6), k


def test_node_similarity_jaccard(spark):
    # e1 and e2 share 2 of 3 neighbors (J = 2/4); e3 disjoint
    edges = [
        ("e1", "p1"), ("e1", "p2"), ("e1", "p3"),
        ("e2", "p2"), ("e2", "p3"), ("e2", "p4"),
        ("e3", "p9"),
    ]
    df = spark.createDataFrame(edges, ["src", "dst"])
    rows = node_similarity(df, threshold=0.1).collect()
    assert len(rows) == 1
    r = rows[0]
    assert (r["id_a"], r["id_b"]) == ("e1", "e2")
    assert r["similarity"] == pytest.approx(0.5)


def test_node_similarity_hub_cap_excludes_but_counts(spark, caplog):
    # p_hub is shared by all three entities; with the hub capped out of
    # the join, e1/e2 still pair via p2 but similarity counts the hub
    # in the set sizes (underestimate, never overestimate)
    edges = [
        ("e1", "p_hub"), ("e2", "p_hub"), ("e3", "p_hub"),
        ("e1", "p2"), ("e2", "p2"),
    ]
    df = spark.createDataFrame(edges, ["src", "dst"])
    log_name = "bertseyeview_spark.operators.graph"
    with caplog.at_level(logging.WARNING, logger=log_name):
        rows = node_similarity(df, threshold=0.0, max_dst_freq=2).collect()
    assert [
        json.loads(r.getMessage()) for r in caplog.records if r.name == log_name
    ] == [
        {
            "event": "graph.node_similarity.hub_cap",
            "excluded_neighbors": 1,
            "max_dst_freq": 2,
        }
    ]
    got = {(r["id_a"], r["id_b"]): r["similarity"] for r in rows}
    # only the p2 pair survives candidate generation; J = 1/(2+2-1)
    assert got == {("e1", "e2"): pytest.approx(1 / 3)}
    # uncapped ground truth for comparison: hub pairs appear too
    full = node_similarity(df, threshold=0.0, max_dst_freq=None).collect()
    assert len(full) == 3


def _py_ppr(edges, sources, damping=0.85, iterations=10):
    nodes = sorted({a for a, _ in edges} | {b for _, b in edges})
    out_deg = {}
    for a, _ in edges:
        out_deg[a] = out_deg.get(a, 0) + 1
    restart = {n: (1.0 / len(sources) if n in sources else 0.0) for n in nodes}
    r = dict(restart)
    for _ in range(iterations):
        inc = {n: 0.0 for n in nodes}
        for a, b in edges:
            inc[b] += r[a] / out_deg[a]
        r = {
            n: (1 - damping) * restart[n] + damping * inc[n] for n in nodes
        }
    return r


def test_personalized_pagerank_vs_python(spark, rank_paths):
    from bertseyeview_spark.operators.rank import personalized_pagerank

    edges = [
        ("s", "a"), ("a", "b"), ("b", "c"), ("c", "a"),
        ("s", "c"), ("d", "e"), ("e", "d"),
    ]
    df = spark.createDataFrame(edges, ["src", "dst"])
    srcs = spark.createDataFrame([("s",)], ["id"])
    want = _py_ppr(edges, {"s"}, iterations=12)
    for path in rank_paths():
        got = {
            r["id"]: r["rank"]
            for r in personalized_pagerank(df, srcs, iterations=12).collect()
        }
        assert set(got) == set(want), path
        for n in want:
            assert got[n] == pytest.approx(want[n], abs=1e-12), (path, n)
        # mass reachable from s only: the d/e island scores exactly zero
        assert got["d"] == 0.0 and got["e"] == 0.0, path
        assert got["a"] > 0 and got["c"] > 0, path


def test_personalized_pagerank_empty_sources_raises(spark, rank_paths):
    from bertseyeview_spark.operators.rank import personalized_pagerank

    df = spark.createDataFrame([("a", "b")], ["src", "dst"])
    for path in rank_paths():
        with pytest.raises(ValueError, match="non-empty source set"):
            personalized_pagerank(df, spark.createDataFrame([], "id string"))


def test_adamic_adar_vs_python(spark, caplog):
    """AA scores on a crafted graph match the textbook formula, incl.
    the hub cap's under-estimate bias."""
    import math

    from bertseyeview_spark.operators.graph import adamic_adar

    # z1 connects a-b (deg(z1)=2); hub h connects a,b,c,d (deg 4);
    # c-d share only the hub
    edges = [("a", "z1"), ("b", "z1"),
             ("a", "h"), ("b", "h"), ("c", "h"), ("d", "h")]
    df = spark.createDataFrame(edges, ["src", "dst"])
    got = {
        (r["id_a"], r["id_b"]): r["score"]
        for r in adamic_adar(df, threshold=0.0, max_neighbor_deg=None).collect()
    }
    w_z1 = 1 / math.log(2)
    w_h = 1 / math.log(4)
    assert got[("a", "b")] == pytest.approx(round(w_z1 + w_h, 6))
    assert got[("c", "d")] == pytest.approx(round(w_h, 6))
    # every hub-co-neighbor pair exists
    assert len([p for p in got if "z1" not in p]) >= 6
    # hub cap 3 removes h from the join: a-b keeps only z1's term,
    # c-d disappears (under-estimate bias, never over)
    log_name = "bertseyeview_spark.operators.graph"
    with caplog.at_level(logging.WARNING, logger=log_name):
        capped = {
            (r["id_a"], r["id_b"]): r["score"]
            for r in adamic_adar(df, threshold=0.0, max_neighbor_deg=3).collect()
        }
    assert capped[("a", "b")] == pytest.approx(round(w_z1, 6))
    assert ("c", "d") not in capped
    # the cap is never silent: one WARNING record names the one hub
    assert [
        json.loads(r.getMessage()) for r in caplog.records if r.name == log_name
    ] == [
        {
            "event": "graph.adamic_adar.hub_cap",
            "excluded_neighbors": 1,
            "max_neighbor_deg": 3,
        }
    ]


def test_label_propagation_two_cliques(spark):
    """Two 4-cliques joined by one bridge edge: LPA converges to one
    community per clique (min label), bridge notwithstanding; result
    is identical at different parallelism (synchronous + total tie
    order)."""
    from bertseyeview_spark.operators.graph import label_propagation

    def clique(names):
        return [(x, y) for x in names for y in names if x < y]

    edges = clique(["a1", "a2", "a3", "a4"]) + clique(
        ["b1", "b2", "b3", "b4"]
    ) + [("a4", "b1")]
    df = spark.createDataFrame(edges, ["src", "dst"])
    got = {
        r["id"]: r["community"]
        for r in label_propagation(df, iterations=4).collect()
    }
    assert {got[f"a{i}"] for i in range(1, 5)} == {"a1"}
    assert {got[f"b{i}"] for i in range(2, 5)} == {"b1"}
    # repartitioned input -> identical communities
    got2 = {
        r["id"]: r["community"]
        for r in label_propagation(df.repartition(7), iterations=4).collect()
    }
    assert got2 == got


def test_bfs_distances_hand_graph(spark):
    """Multi-source BFS vs hand-walked distances: min over sources,
    hop cap honored, unreachable vertices absent, duplicate edges and
    self-loop-free frontier behavior."""
    from bertseyeview_spark.operators.graph import bfs_distances

    edges = spark.createDataFrame(
        [
            ("a", "b"), ("b", "c"), ("c", "d"), ("d", "e"),
            ("s", "c"),            # shortcut source
            ("a", "b"),            # duplicate edge
            ("x", "y"),            # island, unreachable
        ],
        ["src", "dst"],
    )
    sources = spark.createDataFrame([("a",), ("s",)], ["v"])
    got = {
        r["id"]: r["dist"]
        for r in bfs_distances(edges, sources, max_hops=3).collect()
    }
    # a:0 s:0 b:1 c:1(via s, not 2 via a) d:2 e:3; x,y unreachable
    assert got == {"a": 0, "s": 0, "b": 1, "c": 1, "d": 2, "e": 3}
    # hop cap: with max_hops=2, e is absent
    got2 = {
        r["id"]: r["dist"]
        for r in bfs_distances(edges, sources, max_hops=2).collect()
    }
    assert got2 == {"a": 0, "s": 0, "b": 1, "c": 1, "d": 2}


def test_weighted_sssp_shortcut_vs_cheap_path(spark):
    """Bellman-Ford frontier relaxation vs hand-walked costs: the
    direct heavy edge (a->d, 10) must LOSE to the 3-hop cheap path
    (a->b->c->d, 1+1+1=3) — the case plain BFS first-discovery dedup
    would get wrong — plus min over sources, parallel-edge collapse,
    round cap, and unreachable-vertex absence."""
    from bertseyeview_spark.operators.graph import weighted_shortest_paths

    edges = spark.createDataFrame(
        [
            ("a", "d", 10.0),            # heavy shortcut, found at round 1
            ("a", "b", 1.0), ("b", "c", 1.0), ("c", "d", 1.0),  # cheap path
            ("a", "b", 5.0),             # parallel edge, must min-collapse
            ("s", "c", 0.5),             # second source undercuts a's path
            ("d", "e", 1.0),
            ("x", "y", 2.0),             # island, unreachable
        ],
        ["src", "dst", "weight"],
    )
    sources = spark.createDataFrame([("a",), ("s",)], ["v"])
    got = {
        r["id"]: r["cost"]
        for r in weighted_shortest_paths(edges, sources, max_rounds=4).collect()
    }
    # d: min(10 direct, 3 via a-path, 0.5+1 via s) = 1.5; e follows d
    assert got == {
        "a": 0.0, "s": 0.0, "b": 1.0, "c": 0.5, "d": 1.5, "e": 2.5
    }
    # round cap 1: only direct relaxations from the sources exist
    got1 = {
        r["id"]: r["cost"]
        for r in weighted_shortest_paths(edges, sources, max_rounds=1).collect()
    }
    assert got1 == {"a": 0.0, "s": 0.0, "b": 1.0, "c": 0.5, "d": 10.0}
    # a cost found at an early round is still IMPROVED by a later,
    # longer-but-cheaper discovery (the min-merge semantics): at 3
    # rounds d has already dropped from 10.0 to 1.5
    got3 = {
        r["id"]: r["cost"]
        for r in weighted_shortest_paths(edges, sources, max_rounds=3).collect()
    }
    assert got3["d"] == 1.5


def test_weighted_sssp_rejects_negative_weights(spark):
    from bertseyeview_spark.operators.graph import weighted_shortest_paths

    edges = spark.createDataFrame(
        [("a", "b", 1.0), ("b", "c", -0.5)], ["src", "dst", "weight"]
    )
    sources = spark.createDataFrame([("a",)], ["v"])
    with pytest.raises(ValueError, match="non-negative"):
        weighted_shortest_paths(edges, sources, max_rounds=2)


def test_closeness_centrality_hand_walked(spark):
    """Hand-walked sampled-source closeness on a 4-node DAG: per-source
    BFS hop counts, exact integer n_reached/total_dist, closeness as
    their single IEEE division, and exclusion of the dist-0 self rows
    (a source reached by ANOTHER source still scores)."""
    from bertseyeview_spark.operators.graph import closeness_centrality

    edges = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("a", "c"), ("c", "d")], ["src", "dst"]
    )
    sources = spark.createDataFrame([("a",), ("b",)], ["v"])
    got = {
        r["id"]: (
            r["n_reached"], r["total_dist"], r["closeness"], r["harmonic"]
        )
        for r in closeness_centrality(edges, sources, max_hops=6).collect()
    }
    # from a: b@1 c@1 d@2; from b: c@1 d@2; harmonic = sum of 1/d
    assert got == {
        "b": (1, 1, 1.0, 1.0),     # source b's own 0-row excluded
        "c": (2, 2, 1.0, 2.0),
        "d": (2, 4, 0.5, 1.0),     # 1/2 + 1/2
    }
    # 'a' has no in-edges -> never reached -> absent
    assert "a" not in got


def test_closeness_centrality_hop_cap_and_cycle(spark):
    from bertseyeview_spark.operators.graph import closeness_centrality

    edges = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("b", "a")], ["src", "dst"]
    )
    sources = spark.createDataFrame([("a",)], ["v"])
    # hop cap 1: only b is reached
    got1 = {
        r["id"]: (r["n_reached"], r["total_dist"])
        for r in closeness_centrality(edges, sources, max_hops=1).collect()
    }
    assert got1 == {"b": (1, 1)}
    # cycle back to the source does NOT resurface a (settled at dist 0,
    # excluded from scoring) even though b->a exists
    got = {
        r["id"]: (r["n_reached"], r["total_dist"])
        for r in closeness_centrality(edges, sources, max_hops=6).collect()
    }
    assert got == {"b": (1, 1), "c": (1, 2)}


def test_betweenness_hand_computed(spark):
    """Textbook diamond: s->a,b; a,b->c; c->t. sigma(c)=2 via two
    shortest paths; Brandes dependencies delta(a)=delta(b)=(1/2)(1+1)=1,
    delta(c)=(2/2)(1+0)=1, delta(t)=0."""
    from bertseyeview_spark.operators.graph import betweenness_centrality

    edges = spark.createDataFrame(
        [("s", "a"), ("s", "b"), ("a", "c"), ("b", "c"), ("c", "t")],
        ["src", "dst"],
    )
    sources = spark.createDataFrame([("s",)], ["v"])
    got = {
        r["id"]: r["betweenness"]
        for r in betweenness_centrality(edges, sources, max_hops=6).collect()
    }
    assert got == {"a": 1.0, "b": 1.0, "c": 1.0, "t": 0.0}


def test_betweenness_multi_source_and_cap(spark):
    from bertseyeview_spark.operators.graph import betweenness_centrality

    edges = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("c", "d")], ["src", "dst"]
    )
    sources = spark.createDataFrame([("a",), ("b",)], ["v"])
    # from a: delta(b)=(1)(1+delta(c))= (1)(1+1)=2, delta(c)=1, d=0
    # from b: delta(c)=1, delta(d)=0
    got = {
        r["id"]: r["betweenness"]
        for r in betweenness_centrality(edges, sources, max_hops=6).collect()
    }
    assert got == {"b": 2.0, "c": 2.0, "d": 0.0}
    # hop cap 1: no two-hop shortest paths exist, every dependency is 0
    got1 = {
        r["id"]: r["betweenness"]
        for r in betweenness_centrality(edges, sources, max_hops=1).collect()
    }
    assert got1 == {"b": 0.0, "c": 0.0}


def _py_bfs(edges, sources, max_hops):
    """Reference per-source BFS: {(s, v): (dist, sigma)}."""
    adj = {}
    for a, b in edges:
        adj.setdefault(a, set()).add(b)
    out = {}
    for s in sources:
        dist = {s: 0}
        sigma = {s: 1}
        frontier = [s]
        for h in range(1, max_hops + 1):
            nxt = {}
            for v in frontier:
                for w in adj.get(v, ()):
                    if w not in dist:
                        nxt[w] = nxt.get(w, 0) + sigma[v]
            for w, sg in nxt.items():
                dist[w] = h
                sigma[w] = sg
            frontier = list(nxt)
        for v, d in dist.items():
            out[(s, v)] = (d, sigma[v])
    return out


def _py_brandes(edges, sources, max_hops):
    adj = {}
    for a, b in edges:
        adj.setdefault(a, set()).add(b)
    sp = _py_bfs(edges, sources, max_hops)
    bc = {}
    for s in sources:
        dist = {v: d for (ss, v), (d, _) in sp.items() if ss == s}
        sigma = {v: g for (ss, v), (_, g) in sp.items() if ss == s}
        delta = {v: 0.0 for v in dist}
        for v in sorted(dist, key=lambda x: -dist[x]):
            for w in adj.get(v, ()):
                if w in dist and dist[w] == dist[v] + 1:
                    delta[v] += (sigma[v] / sigma[w]) * (1 + delta[w])
        for v in dist:
            if v != s:
                bc[v] = bc.get(v, 0.0) + delta[v]
    return bc


def test_centralities_vs_bruteforce_random_graphs(spark):
    """Brandes betweenness, closeness, and harmonic against a pure
    python reference on seeded random digraphs — beyond the hand-walked
    cases, this sweeps shapes with cycles, multi-parents (sigma > 1),
    unreachable islands, and source-to-source paths."""
    import random

    from bertseyeview_spark.operators.graph import (
        betweenness_centrality,
        closeness_centrality,
    )

    for seed in (3, 17, 99):
        rng = random.Random(seed)
        nodes = [f"n{i}" for i in range(18)]
        edges = set()
        while len(edges) < 36:
            a, b = rng.sample(nodes, 2)
            edges.add((a, b))
        edges = sorted(edges)
        sources = nodes[:4]
        e_df = spark.createDataFrame(edges, ["src", "dst"])
        s_df = spark.createDataFrame([(s,) for s in sources], ["v"])

        sp = _py_bfs(edges, sources, max_hops=6)
        want_close = {}
        for (s, v), (d, _) in sp.items():
            if d > 0:
                n, t, h = want_close.get(v, (0, 0, 0))
                want_close[v] = (n + 1, t + d, h + 2520 // d)
        got_close = {
            r["id"]: r
            for r in closeness_centrality(e_df, s_df, max_hops=6).collect()
        }
        assert set(got_close) == set(want_close), seed
        for v, (n, t, h) in want_close.items():
            r = got_close[v]
            assert (r["n_reached"], r["total_dist"]) == (n, t), (seed, v)
            assert r["closeness"] == n / t, (seed, v)
            assert r["harmonic"] == h / 2520.0, (seed, v)

        want_bc = _py_brandes(edges, sources, max_hops=6)
        got_bc = {
            r["id"]: r["betweenness"]
            for r in betweenness_centrality(e_df, s_df, max_hops=6).collect()
        }
        assert set(got_bc) == set(want_bc), seed
        for v, x in want_bc.items():
            assert got_bc[v] == pytest.approx(round(x, 6), abs=2e-6), (seed, v)


def _py_tarjan(edges):
    """Exact SCCs (iterative Tarjan); returns {vertex: min id in its SCC}
    over the vertices that appear in the edge list."""
    adj = {}
    nodes = set()
    for a, b in edges:
        adj.setdefault(a, []).append(b)
        nodes.add(a)
        nodes.add(b)
    index = {}
    low = {}
    on_stack = set()
    stack = []
    comp = {}
    counter = [0]

    for root in sorted(nodes):
        if root in index:
            continue
        work = [(root, iter(sorted(adj.get(root, []))))]
        index[root] = low[root] = counter[0]
        counter[0] += 1
        stack.append(root)
        on_stack.add(root)
        while work:
            v, it = work[-1]
            advanced = False
            for w in it:
                if w not in index:
                    index[w] = low[w] = counter[0]
                    counter[0] += 1
                    stack.append(w)
                    on_stack.add(w)
                    work.append((w, iter(sorted(adj.get(w, [])))))
                    advanced = True
                    break
                elif w in on_stack:
                    low[v] = min(low[v], index[w])
            if advanced:
                continue
            work.pop()
            if work:
                pv = work[-1][0]
                low[pv] = min(low[pv], low[v])
            if low[v] == index[v]:
                scc = []
                while True:
                    w = stack.pop()
                    on_stack.discard(w)
                    scc.append(w)
                    if w == v:
                        break
                m = min(scc)
                for w in scc:
                    comp[w] = m
    return comp


def test_scc_hand_graph(spark):
    """Two cycles bridged by a one-way edge, a DAG chain, a 2-cycle:
    SCC ids are each component's min vertex id."""
    from bertseyeview_spark.operators.graph import (
        strongly_connected_components,
    )

    edges = [
        # 3-cycle {1,2,3}
        (1, 2), (2, 3), (3, 1),
        # one-way bridge into 3-cycle {4,5,6} (no back edge)
        (3, 4), (4, 5), (5, 6), (6, 4),
        # DAG chain of singletons
        (6, 7), (7, 8),
        # 2-cycle {9, 10}
        (8, 9), (9, 10), (10, 9),
    ]
    df = spark.createDataFrame(edges, ["src", "dst"])
    got = {
        r["id"]: r["scc_id"]
        for r in strongly_connected_components(
            # 5 peel rounds: the min-id exposure chain runs
            # {1,2,3} -> {4,5,6} -> {7} -> {8} -> {9,10}
            df, max_peels=5, max_prop=10
        ).collect()
    }
    want = _py_tarjan(edges)
    assert got == want


def test_scc_vs_tarjan_random_digraphs(spark):
    """Capped ColorSCC against exact Tarjan on seeded random digraphs
    with caps sized to the graph (prop >= longest path, peels >= #SCCs
    via the early-exit drain)."""
    import random

    from bertseyeview_spark.operators.graph import (
        strongly_connected_components,
    )

    for seed in (5, 23, 71):
        rng = random.Random(seed)
        n = 14
        nodes = list(range(n))
        edges = set()
        while len(edges) < 26:
            a, b = rng.sample(nodes, 2)
            edges.add((a, b))
        edges = sorted(edges)
        df = spark.createDataFrame(edges, ["src", "dst"])
        got = {
            r["id"]: r["scc_id"]
            for r in strongly_connected_components(
                df, max_peels=n, max_prop=n
            ).collect()
        }
        assert got == _py_tarjan(edges), seed


def test_scc_insufficient_caps_returns_null_not_wrong(spark):
    """A long 2-SCC chain under a starved peel cap: the peeled prefix
    is correct and the rest is NULL (undecided), never a wrong id."""
    from bertseyeview_spark.operators.graph import (
        strongly_connected_components,
    )

    # chain of 2-cycles: {0,1} -> {2,3} -> {4,5} -> {6,7}, bridges one
    # way DOWNSTREAM, so higher blocks have smaller-id ancestors and
    # only the exposed head peels per round
    edges = []
    for b in range(4):
        u, v = 2 * b, 2 * b + 1
        edges += [(u, v), (v, u)]
        if b:
            edges.append((2 * (b - 1), u))
    df = spark.createDataFrame(edges, ["src", "dst"])
    got = {
        r["id"]: r["scc_id"]
        for r in strongly_connected_components(
            df, max_peels=2, max_prop=8
        ).collect()
    }
    assert got[0] == 0 and got[1] == 0
    assert got[2] == 2 and got[3] == 2
    assert got[6] is None and got[7] is None


def test_scc_starved_prop_cap_returns_null_not_wrong(spark):
    """A 12-cycle under max_prop=10: the coloring cannot converge
    (vertex 0 needs 11 hops to color vertex 11), and an uncertified
    peel would return vertex 0 as a WRONG singleton SCC. The
    convergence certificate must refuse to assign: every vertex NULL."""
    from bertseyeview_spark.operators.graph import (
        strongly_connected_components,
    )

    edges = [(i, (i + 1) % 12) for i in range(12)]
    df = spark.createDataFrame(edges, ["src", "dst"])
    got = {
        r["id"]: r["scc_id"]
        for r in strongly_connected_components(
            df, max_peels=3, max_prop=10
        ).collect()
    }
    assert set(got) == set(range(12))
    assert all(v is None for v in got.values())
    # and with a sufficient cap the same cycle resolves exactly
    got2 = {
        r["id"]: r["scc_id"]
        for r in strongly_connected_components(
            df, max_peels=1, max_prop=12
        ).collect()
    }
    assert got2 == {i: 0 for i in range(12)}


def _py_bowtie(edges, max_hops=6):
    comp = _py_tarjan(edges)
    sizes = {}
    for v, r in comp.items():
        sizes[r] = sizes.get(r, 0) + 1
    core_id = min(
        (r for r in sizes), key=lambda r: (-sizes[r], r)
    )
    core = {v for v, r in comp.items() if r == core_id}
    fadj, badj = {}, {}
    for a, b in edges:
        fadj.setdefault(a, []).append(b)
        badj.setdefault(b, []).append(a)

    def reach(seed, adj):
        seen = set(seed)
        frontier = set(seed)
        for _ in range(max_hops):
            nxt = {
                w for v in frontier for w in adj.get(v, []) if w not in seen
            }
            seen |= nxt
            frontier = nxt
        return seen

    fwd, bwd = reach(core, fadj), reach(core, badj)
    out = {}
    for v in comp:
        if v in fwd and v in bwd:
            out[v] = "core"
        elif v in fwd:
            out[v] = "out"
        elif v in bwd:
            out[v] = "in"
        else:
            out[v] = "other"
    return out


def test_bowtie_hand_graph(spark):
    """Textbook bow-tie: a 3-cycle core, IN chain, OUT chain, a
    tendril off IN, and a disconnected 2-cycle."""
    from bertseyeview_spark.operators.graph import bowtie_classification

    edges = [
        # core 3-cycle {1,2,3}
        (1, 2), (2, 3), (3, 1),
        # IN: 10 -> 11 -> core
        (10, 11), (11, 1),
        # OUT: core -> 20 -> 21
        (3, 20), (20, 21),
        # tendril off IN (reaches neither direction of the core)
        (10, 30),
        # disconnected 2-cycle
        (40, 41), (41, 40),
    ]
    df = spark.createDataFrame(edges, ["src", "dst"])
    got = {
        r["id"]: r["cls"]
        for r in bowtie_classification(
            df, max_peels=4, max_prop=10, max_hops=6
        ).collect()
    }
    assert got == {
        1: "core", 2: "core", 3: "core",
        10: "in", 11: "in",
        20: "out", 21: "out",
        30: "other", 40: "other", 41: "other",
    }
    assert got == _py_bowtie(edges)


def test_bowtie_vs_python_random_digraphs(spark):
    from bertseyeview_spark.operators.graph import bowtie_classification
    import random

    for seed in (11, 42):
        rng = random.Random(seed)
        n = 14
        nodes = list(range(n))
        edges = set()
        while len(edges) < 24:
            a, b = rng.sample(nodes, 2)
            edges.add((a, b))
        edges = sorted(edges)
        df = spark.createDataFrame(edges, ["src", "dst"])
        got = {
            r["id"]: r["cls"]
            for r in bowtie_classification(
                df, max_peels=n, max_prop=n, max_hops=n
            ).collect()
        }
        assert got == _py_bowtie(edges, max_hops=n), seed


def test_scc_boundary_cap_still_assigns(spark):
    """Certificate #2 must probe for NEW members, not raw frontier
    emptiness: a 13-cycle at max_prop=12 collects its last member
    exactly at round 12 (frontier non-empty), but one more expansion
    finds nothing new — the complete assignment must be kept."""
    from bertseyeview_spark.operators.graph import (
        strongly_connected_components,
    )

    edges = [(i, (i + 1) % 13) for i in range(13)]
    df = spark.createDataFrame(edges, ["src", "dst"])
    got = {
        r["id"]: r["scc_id"]
        for r in strongly_connected_components(
            df, max_peels=1, max_prop=12
        ).collect()
    }
    assert got == {i: 0 for i in range(13)}


def test_bowtie_empty_and_null_scc_graphs(spark):
    """Degenerate inputs: an empty edge set yields no rows; a graph
    whose SCCs are ALL cap-starved (no assignment) classifies every
    vertex 'other' via the no-core fallback."""
    from bertseyeview_spark.operators.graph import bowtie_classification

    empty = spark.createDataFrame([], "src long, dst long")
    assert bowtie_classification(empty).collect() == []

    # a 13-cycle at max_prop=10: coloring can't converge, the SCC
    # certificates assign nothing -> no core -> everything 'other'
    edges = [(i, (i + 1) % 13) for i in range(13)]
    df = spark.createDataFrame(edges, ["src", "dst"])
    got = {
        r["id"]: r["cls"]
        for r in bowtie_classification(
            df, max_peels=2, max_prop=10, max_hops=6
        ).collect()
    }
    assert set(got) == set(range(13))
    assert all(c == "other" for c in got.values())
