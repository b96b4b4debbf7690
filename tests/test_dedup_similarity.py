"""Dedup + similarity operators vs independent pure-python oracles."""

import json
import logging

import numpy as np
import pytest
from pyspark.sql import functions as F

from bertseyeview_spark import dispatch
from bertseyeview_spark.operators import dedup as D
from bertseyeview_spark.operators import similarity as SIM
from bertseyeview_spark.operators.textquality import rolling_fingerprint
from bertseyeview_spark.operators import textquality as TQ


@pytest.fixture(scope="module")
def docs(spark):
    base = "the quick brown fox jumps over the lazy dog near the river bank today"
    rows = [
        (0, base),
        (1, base),                                   # exact dup of 0
        (2, base + " extra"),                        # near dup of 0
        (3, "completely different words about spark shuffles and joins here"),
        (4, "another unrelated document regarding window functions and state"),
        (5, base.replace("quick", "slow")),          # near dup of 0
    ]
    return spark.createDataFrame(rows, ["doc_id", "text"])


def _py_jaccard(a: str, b: str, n: int = 3) -> float:
    def sh(t):
        toks = t.lower().split()
        return {" ".join(toks[i : i + n]) for i in range(len(toks) - n + 1)}

    sa, sb = sh(a), sh(b)
    return len(sa & sb) / len(sa | sb)


def test_exact_dedup(spark, docs):
    out = {r["rep_id"]: r["n_dups"] for r in D.exact_dedup(docs, "doc_id", "text").collect()}
    assert out[0] == 2  # docs 0 and 1
    assert sum(out.values()) == 6
    assert 1 not in out  # min-id is the representative


def test_exact_substring_spans_planted(spark):
    """Planted cross-document and within-document repeated token runs
    come back as maximal merged spans with exact 0-based positions;
    unique windows and sub-window-length docs produce nothing."""
    rows = [
        # docs 0 and 1 share the 8-token run "a b c d e f g h"
        (0, "a b c d e f g h i j"),
        (1, "p q a b c d e f g h r s"),
        # doc 2 repeats "m n o p" at token offsets 0 and 7 (within-doc)
        (2, "m n o p z y x m n o p"),
        (3, "u v w"),  # shorter than the window -> no rows
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    got = {
        (r["id"], r["span_start"]): (
            r["span_end"], r["n_tokens"], r["n_windows"]
        )
        for r in D.exact_substring_spans(
            df, "doc_id", "text", window=4, min_count=2
        ).collect()
    }
    assert got == {
        # shared run: window starts 0..4 (doc 0) / 2..6 (doc 1) merge
        (0, 0): (7, 8, 5),
        (1, 2): (9, 8, 5),
        # within-doc repeat: two disjoint spans, one window each
        (2, 0): (3, 4, 1),
        (2, 7): (10, 4, 1),
    }

    # raising min_count above the occurrence count silences everything
    assert (
        D.exact_substring_spans(
            df, "doc_id", "text", window=4, min_count=3
        ).count()
        == 0
    )


def test_cut_repeated_spans_planted(spark):
    """Removal stage: per repeated fingerprint the minimal (id, start)
    occurrence survives; every other occurrence is cut; canonical
    windows are protected from overlapping cuts; untouched and
    sub-window docs pass through with 0 cut."""
    rows = [
        (0, "a b c d e f g h i j"),      # canonical home of the run
        (1, "p q a b c d e f g h r s"),  # cross-doc copy -> cut
        (2, "m n o p z y x m n o p"),    # within-doc repeat -> 2nd cut
        (3, "u v w"),                    # shorter than window
        (4, "only unique words appear in this document here"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    got = {
        r["id"]: (r["clean_text"], r["n_tokens"], r["n_tokens_cut"])
        for r in D.cut_repeated_spans(
            df, "doc_id", "text", window=4, min_count=2
        ).collect()
    }
    assert got == {
        0: ("a b c d e f g h i j", 10, 0),      # canonical survives whole
        1: ("p q r s", 12, 8),                  # copied run removed
        2: ("m n o p z y x", 11, 4),            # second occurrence removed
        3: ("u v w", 3, 0),
        4: ("only unique words appear in this document here", 8, 0),
    }


def test_exact_substring_spans_token_exact(spark):
    """The r7 token-exact contract (Lee et al. boundaries): chained
    overlapping repeats against DIFFERENT partners must come back as
    separate runs with exact start/end tokens — the legacy window-union
    mode merged them into one span that never occurs twice as a whole —
    and runs contained in a longer run of the same doc are pruned."""
    base = " ".join(f"w{i}" for i in range(12)) + " x y z"
    rows = [
        (10, base),                                   # w0..w11 x y z
        (11, "a b w0 w1 w2 w3 w4 w5 w6 c"),           # base[0..6] at 2..8
        (12, "d e f w4 w5 w6 w7 w8 w9 w10 w11 g"),    # base[4..11] at 3..10
        (13, "p q w1 w2 w3 w4 r s t u"),              # base[1..4] at 2..5
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    got = {
        (r["id"], r["span_start"]): (
            r["span_end"], r["n_tokens"], r["n_windows"]
        )
        for r in D.exact_substring_spans(
            df, "doc_id", "text", window=4, min_count=2
        ).collect()
    }
    assert got == {
        # doc 10: TWO exact runs (vs 11 and vs 12), not one [0,11] span;
        # the [1,4] run vs doc 13 is contained in [0,6] -> pruned
        (10, 0): (6, 7, 4),
        (10, 4): (11, 8, 5),
        (11, 2): (8, 7, 4),       # its own copy of base[0..6]
        (12, 3): (10, 8, 5),      # its own copy of base[4..11]
        (13, 2): (5, 4, 1),       # maximal THERE, so it stays
    }
    # the legacy window-union mode is still available and chains the
    # two doc-10 runs into one non-repeating span — pin the difference
    legacy = {
        (r["id"], r["span_start"]): r["span_end"]
        for r in D.exact_substring_spans(
            df, "doc_id", "text", window=4, min_count=2, exact=False
        ).collect()
        if r["id"] == 10
    }
    assert legacy == {(10, 0): 11}


def test_exact_substring_coverage_identity(spark):
    """Token COVERAGE (which tokens sit inside some repeated >=window
    run) is provably identical between the exact and window-union
    modes; only the span segmentation differs. Fuzz a seeded corpus
    with heavy phrase reuse and assert the per-doc covered-token sets
    match exactly."""
    import random

    rng = random.Random(7)
    vocab = [f"t{i}" for i in range(30)]
    phrases = [
        " ".join(rng.choice(vocab) for _ in range(rng.randint(4, 9)))
        for _ in range(6)
    ]
    rows = []
    for i in range(20):
        parts = [
            rng.choice(phrases) if rng.random() < 0.6
            else " ".join(rng.choice(vocab) for _ in range(rng.randint(2, 6)))
            for _ in range(rng.randint(2, 5))
        ]
        rows.append((i, " ".join(parts)))
    df = spark.createDataFrame(rows, ["doc_id", "text"])

    def coverage(exact):
        cov = {}
        for r in D.exact_substring_spans(
            df, "doc_id", "text", window=4, min_count=2, exact=exact
        ).collect():
            cov.setdefault(r["id"], set()).update(
                range(r["span_start"], r["span_end"] + 1)
            )
        return cov

    assert coverage(True) == coverage(False)


def test_cut_repeated_spans_run_aligned_canonical(spark):
    """Exact-mode keep-one is RUN-aligned: the canonical occurrence of
    a repeated run survives intact even when one of its windows also
    occurs inside different content in a lower-id document (the legacy
    per-window canonical clipped the survivor's edge in that case)."""
    rows = [
        (0, "k1 k2 m1 m2 m3 m4 k3 k4 k5"),            # holds M = m1..m4
        (5, "m1 m2 m3 m4 m5 m6 m7 m8"),               # run Y, canonical
        (6, "z1 m1 m2 m3 m4 m5 m6 m7 m8 z2"),         # copy of Y
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    got = {
        r["id"]: (r["clean_text"], r["n_tokens"], r["n_tokens_cut"])
        for r in D.cut_repeated_spans(
            df, "doc_id", "text", window=4, min_count=2
        ).collect()
    }
    assert got == {
        # doc 0 is the canonical home of content M -> untouched
        0: ("k1 k2 m1 m2 m3 m4 k3 k4 k5", 9, 0),
        # doc 5 is the canonical home of run Y and survives INTACT —
        # the legacy mode cut its first token because window m1..m4's
        # per-window canonical lived in doc 0
        5: ("m1 m2 m3 m4 m5 m6 m7 m8", 8, 0),
        # doc 6 holds non-canonical occurrences of both M and Y
        6: ("z1 z2", 10, 8),
    }
    # pin the legacy clipping behavior the exact mode fixes
    legacy = {
        r["id"]: r["clean_text"]
        for r in D.cut_repeated_spans(
            df, "doc_id", "text", window=4, min_count=2, exact=False
        ).collect()
    }
    assert legacy[5] == "m2 m3 m4 m5 m6 m7 m8"


def test_exact_substring_pair_budget_probe(spark):
    """The quadratic pair join is guarded by a cost probe computed
    from the hot-fingerprint counts BEFORE any pair materializes."""
    rows = [(i, "dup " * 12) for i in range(30)]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    for builder in (D.exact_substring_spans, D.cut_repeated_spans):
        with pytest.raises(ValueError, match="pair_budget"):
            builder(
                df, "doc_id", "text", window=4, min_count=2, pair_budget=10
            ).collect()


def test_ngram_jaccard_vs_python(spark, docs):
    rows = {(r["id_a"], r["id_b"]): r["jaccard"] for r in
            D.ngram_jaccard_pairs(docs, "doc_id", "text", n=3, threshold=0.5).collect()}
    texts = {r["doc_id"]: r["text"] for r in docs.collect()}
    expected = {}
    for i in texts:
        for j in texts:
            if i < j:
                jac = _py_jaccard(texts[i], texts[j])
                if jac >= 0.5:
                    expected[(i, j)] = round(jac, 6)
    assert rows == expected
    assert (0, 1) in rows and rows[(0, 1)] == 1.0


def _force_join(monkeypatch):
    """Ceilings at 0: every broadcast dispatch in dedup takes the join."""
    monkeypatch.setattr(D, "BROADCAST_ROWS_CEILING", 0)
    monkeypatch.setattr(D, "CSR_DOCS_CEILING", 0)


def _str_ids(docs):
    """String ids whose lexicographic order differs from insertion
    order, so pair orientation must follow Spark's comparator."""
    return docs.withColumn(
        "doc_id", F.concat(F.lit("d"), (F.lit(10) - F.col("doc_id")))
    )


def _skewed_docs(spark):
    """8 docs with near and exact dups, a partial overlap and one doc
    that shares 0's shingles but is much longer (the length filter may
    prune it as a candidate)."""
    texts = [
        (0, "alpha beta gamma delta epsilon zeta"),
        (1, "alpha beta gamma delta epsilon eta"),    # near-dup of 0
        (2, "alpha beta gamma delta epsilon zeta"),   # exact dup of 0
        (3, "one two three four five six seven"),
        (4, "one two three four five six eight"),     # near-dup of 3
        (5, "totally different words here now ok"),
        (6, "alpha beta gamma unrelated tail words"), # partial overlap
        (7, "alpha beta gamma delta epsilon zeta plus a very long tail "
            "of extra words that dilute the jaccard far below threshold"),
    ]
    return spark.createDataFrame(texts, "doc_id long, text string")


def _random_docs(spark):
    """90 docs over a 25-word vocabulary: 60 random, then 30
    single-token mutations of the first 30."""
    import random

    rng = random.Random(7)
    vocab = [f"w{i}" for i in range(25)]
    rows = []
    for i in range(60):
        n = rng.randint(3, 15)
        rows.append((i, " ".join(rng.choice(vocab) for _ in range(n))))
    for i in range(60, 90):
        base = rows[i - 60][1].split()
        base[rng.randrange(len(base))] = rng.choice(vocab)
        rows.append((i, " ".join(base)))
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_ngram_pair_modes_identical(spark, docs, monkeypatch):
    """The broadcast CSR counter and ppjoin (prefix, length and
    positional filters, then verification) must be row-identical,
    near-threshold pairs included, under a frequency cap (counting on
    the capped universe, Jaccard on full sizes) and with STRING ids.
    Tiny corpora dispatch to the broadcast kernel; ceilings at 0 force
    ppjoin."""
    cases = [
        (docs, dict(n=3, threshold=0.5)),
        (docs, dict(n=3, threshold=0.3, max_shingle_freq=3)),
        (_str_ids(docs), dict(n=3, threshold=0.5)),
    ]

    def run(df, kw):
        return sorted(
            map(tuple, D.ngram_jaccard_pairs(df, "doc_id", "text", **kw).collect())
        )

    broadcast = [run(df, kw) for df, kw in cases]
    _force_join(monkeypatch)
    join = [run(df, kw) for df, kw in cases]
    assert broadcast == join
    assert len(broadcast[0]) > 0 and len(broadcast[2]) > 0


def _csr_vs_ppjoin(df, monkeypatch):
    """ngram_jaccard_pairs rows (n=2) at thresholds 0.5 and 0.8 on the
    broadcast CSR path, then on ppjoin (ceilings at 0)."""

    def run():
        return [
            set(map(tuple, D.ngram_jaccard_pairs(
                df, "doc_id", "text", n=2, threshold=thr
            ).collect()))
            for thr in (0.5, 0.8)
        ]

    plain = run()
    _force_join(monkeypatch)
    return plain, run()


def test_prefix_filter_output_identical(spark, monkeypatch):
    """ppjoin prefix filtering must be a pure candidate-pruning
    optimization: its output equals the unfiltered CSR count exactly,
    near-threshold and size-skewed pairs included."""
    plain, pref = _csr_vs_ppjoin(_skewed_docs(spark), monkeypatch)
    for thr, p, q in zip((0.5, 0.8), plain, pref):
        assert q == p, f"threshold {thr}"
        assert p  # non-empty: the comparison is meaningful


def test_prefix_filter_randomized_equality(spark, monkeypatch):
    """Randomized corpus with planted near-dups: prefix+length+positional
    filtering must equal the unfiltered CSR count at both thresholds."""
    plain, pref = _csr_vs_ppjoin(_random_docs(spark), monkeypatch)
    for thr, p, q in zip((0.5, 0.8), plain, pref):
        assert q == p, f"threshold {thr}"
        assert p


def test_verify_paths_identical(spark, docs, monkeypatch):
    """minhash_lsh_pairs and simhash_verified_pairs share one exact
    verifier: its broadcast and join paths return identical rows (int
    and string ids), and the Jaccards equal the pure-python oracle."""
    texts = {r["doc_id"]: r["text"] for r in docs.collect()}
    sdocs = _str_ids(docs)
    str_texts = {r["doc_id"]: r["text"] for r in sdocs.collect()}

    def run(df):
        return [
            sorted(map(tuple, op(df, "doc_id", "text", **kw).collect()))
            for op, kw in [
                (D.minhash_lsh_pairs,
                 dict(n=3, num_perm=64, bands=16, threshold=0.5)),
                (D.simhash_verified_pairs, dict(n=3, threshold=0.5)),
            ]
        ]

    broadcast = {"int": run(docs), "str": run(sdocs)}
    _force_join(monkeypatch)
    join = {"int": run(docs), "str": run(sdocs)}
    assert broadcast == join
    for kind, tx in [("int", texts), ("str", str_texts)]:
        for rows in broadcast[kind]:
            assert len(rows) > 0
            for a, b, jac in rows:
                assert a < b
                assert jac == round(_py_jaccard(tx[a], tx[b]), 6)


def test_dedup_dispatch_records(spark, docs, monkeypatch, caplog):
    """Each broadcast dispatch logs one JSON record naming its counts,
    ceiling and path; the shingle cap logs what it dropped."""
    import json

    def records():
        out = [
            json.loads(r.getMessage())
            for r in caplog.records
            if r.name == D.__name__
        ]
        caplog.clear()
        return out

    toks = [r["text"].lower().split() for r in docs.collect()]
    rows = sum(len({tuple(t[i : i + 3]) for i in range(len(t) - 2)}) for t in toks)
    caplog.set_level("INFO", logger=D.__name__)
    D.minhash_lsh_pairs(docs, "doc_id", "text", n=3, threshold=0.5)
    D.ngram_jaccard_pairs(docs, "doc_id", "text", n=3, threshold=0.3, max_shingle_freq=3)
    mh, capped, ng = records()
    assert mh == {
        "dispatcher": "minhash_lsh_pairs.verify", "docs": 6, "rows": rows,
        "ceiling": D.BROADCAST_ROWS_CEILING, "docs_ceiling": None,
        "path": "broadcast",
    }
    assert capped["operator"] == "ngram_jaccard_pairs"
    assert capped["max_shingle_freq"] == 3 and capped["dropped_shingles"] > 0
    assert ng["dispatcher"] == "ngram_jaccard_pairs.pair_count"
    assert ng["docs_ceiling"] == D.CSR_DOCS_CEILING and ng["path"] == "broadcast"

    # uncapped: the one pair_count record is the only probe, and its
    # rows are the full per-doc sets
    D.ngram_jaccard_pairs(docs, "doc_id", "text", n=3, threshold=0.5, max_shingle_freq=None)
    (ng,) = records()
    assert ng == {
        "dispatcher": "ngram_jaccard_pairs.pair_count", "docs": 6, "rows": rows,
        "ceiling": D.BROADCAST_ROWS_CEILING, "docs_ceiling": D.CSR_DOCS_CEILING,
        "path": "broadcast",
    }

    _force_join(monkeypatch)
    D.simhash_verified_pairs(docs, "doc_id", "text", n=3, threshold=0.5)
    D.ngram_jaccard_pairs(docs, "doc_id", "text", n=3, threshold=0.3, max_shingle_freq=3)
    sh, capped, ng = records()
    assert sh == {
        "dispatcher": "simhash_verified_pairs.verify", "docs": 6, "rows": rows,
        "ceiling": 0, "docs_ceiling": None, "path": "join",
    }
    # the capped universe already exceeds the 0-row ceiling: no size
    # probe runs, so the doc count is unknown
    assert ng["docs"] is None and ng["rows"] > 0 and ng["path"] == "join"
    # the join path is ppjoin: the prefix ranks come from a row_number
    # window in the plan the operator checkpoints
    seen = _capture_finalized(monkeypatch)
    D.ngram_jaccard_pairs(
        docs, "doc_id", "text", n=3, threshold=0.5, max_shingle_freq=None,
    )
    (ng,) = records()
    assert ng["dispatcher"] == "ngram_jaccard_pairs.pair_count"
    assert ng["path"] == "join"
    plan = seen["out"]._jdf.queryExecution().optimizedPlan().toString()
    assert "row_number" in plan


def test_minhash_lsh_finds_near_dups(spark, docs):
    got = {(r["id_a"], r["id_b"]) for r in
           D.minhash_lsh_pairs(docs, "doc_id", "text", n=3, num_perm=64,
                               bands=16, threshold=0.5).collect()}
    assert (0, 1) in got
    assert (0, 2) in got or (0, 5) in got
    # verified candidates can't include unrelated docs
    assert (3, 4) not in got


def test_simhash_vs_python(spark, docs):
    got = {r["id"]: r["simhash"] for r in
           D.simhash_signatures(docs, "doc_id", "text").collect()}
    texts = {r["doc_id"]: r["text"] for r in docs.collect()}
    for i, t in texts.items():
        assert got[i] == D._simhash64(t)
    # exact dups share the signature; near dups are hamming-close
    assert got[0] == got[1]
    pairs = {(r["id_a"], r["id_b"]): r["hamming"] for r in
             D.simhash_pairs(docs, "doc_id", "text", max_hamming=10).collect()}
    assert pairs[(0, 1)] == 0


def test_brute_force_topk_vs_numpy(spark):
    rng = np.random.RandomState(3)
    vecs = rng.standard_normal((40, 8)).astype(np.float32)
    df = spark.createDataFrame(
        [(i, [float(x) for x in vecs[i]]) for i in range(40)],
        "vec_id long, embedding array<float>",
    )
    q = df.where(F.col("vec_id") < 3)
    got = SIM.brute_force_topk(df, q, k=5).collect()
    v = vecs.astype(np.float64)
    sims = (v @ v.T) / (
        np.linalg.norm(v, axis=1)[:, None] * np.linalg.norm(v, axis=1)[None, :]
    )
    for qid in range(3):
        order = [
            int(j)
            for j in sorted(
                (j for j in range(40) if j != qid),
                key=lambda j: (-sims[qid, j], j),
            )[:5]
        ]
        mine = [r["neighbor_id"] for r in sorted(
            (r for r in got if r["query_id"] == qid), key=lambda r: r["rank"]
        )]
        assert mine == order


def test_lsh_ann_recall(spark, sf_dir):
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    q = emb.where(F.col("vec_id") < 10)
    exact = SIM.brute_force_topk(emb, q, k=10).collect()
    # weak-neighbor corpus (max cosine ~0.5): use many short bands —
    # 6 bands x 2 bits -> ~94% theoretical recall at cos 0.4
    approx = SIM.lsh_ann_topk(emb, q, dim=64, k=10, n_planes=12, bands=6).collect()
    exact_set = {(r["query_id"], r["neighbor_id"]) for r in exact}
    approx_set = {(r["query_id"], r["neighbor_id"]) for r in approx}
    recall = len(exact_set & approx_set) / len(exact_set)
    assert recall >= 0.7, f"ANN recall too low: {recall}"


def test_embedding_neardup_exact(spark):
    df = spark.createDataFrame(
        [
            (0, [1.0, 0.0, 0.0]),
            (1, [0.999, 0.04, 0.0]),
            (2, [0.0, 1.0, 0.0]),
        ],
        "vec_id long, embedding array<float>",
    )
    pairs = {(r["id_a"], r["id_b"]) for r in
             SIM.embedding_neardup_pairs(df, threshold=0.95).collect()}
    assert pairs == {(0, 1)}


def _banded_lsh_candidates(spark):
    """20 seeded 8-d vectors, three exact copies of vector 0 (equal
    signatures, so they agree in every band) and a null vector."""
    vecs = np.random.RandomState(5).standard_normal((20, 8))
    rows = [(i, [float(x) for x in vecs[i]]) for i in range(20)]
    rows += [(100 + i, rows[0][1]) for i in range(3)] + [(200, None)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    q = df.where((F.col("vec_id") < 4) | (F.col("vec_id") >= 100))
    return SIM.lsh_candidates(df, q, dim=8, n_planes=12, bands=4)


def _banded_minhash(spark):
    base = "the quick brown fox jumps over the lazy dog near the river bank"
    rows = [(i, base) for i in range(3)] + [
        (3, base + " today"),
        (4, "an unrelated document about shuffles joins and exchanges"),
        (5, None),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    return D.minhash_lsh_pairs(df, "doc_id", "text", n=3, threshold=0.5)


def _banded_simhash(spark):
    sig = 0x0123456789ABCDEF
    rows = [(i, sig) for i in range(3)] + [
        (3, sig ^ 0b101),
        (4, 0x7777000011112222),
        (5, None),
    ]
    sigs = spark.createDataFrame(rows, "id long, simhash long")
    return D.simhash_candidates_from_sigs(sigs, max_hamming=3)


def _banded_direct(spark):
    """banded_pairs itself, on bucket arrays with null elements."""
    rows = [(1, [None, 5, 7]), (2, [None, 5, 7]), (3, [None, None, 7]),
            (4, [1, 2, 3]), (5, [1, None, 3]), (6, None)]
    df = spark.createDataFrame(rows, "id long, bkts array<long>")
    return SIM.banded_pairs(*SIM.ab_sides(df), F.col("id_a") < F.col("id_b"))


_BANDED_CALLERS = {
    "minhash_lsh_pairs": (_banded_minhash, 3),
    "simhash_candidates_from_sigs": (_banded_simhash, 6),
    "lsh_candidates": (_banded_lsh_candidates, 12),
    "banded_pairs": (_banded_direct, 4),
}


def _rows(df):
    return sorted(
        tuple(tuple(x) if isinstance(x, list) else x for x in r)
        for r in df.collect()
    )


@pytest.mark.parametrize("caller", list(_BANDED_CALLERS))
def test_banded_callers_match_join_dedup(spark, band_join_paths, caller):
    """The banded candidate generators join through banded_pairs. On
    planted copies that agree in every band, plus a null input (a null
    bucket element for banded_pairs itself), each returns the pair set
    of the old every-band join + dropDuplicates shape, and no pair row
    twice. embedding_neardup_pairs and canonicalize.similarity_pairs
    take the same case in their own tests."""
    build, min_pairs = _BANDED_CALLERS[caller]
    got = {}
    for path in band_join_paths():
        out = build(spark)
        got[path] = _rows(out)
        if path == "first_band":
            assert out.count() == out.distinct().count()
    assert got["first_band"] == got["join_dedup"]
    assert len(got["first_band"]) >= min_pairs


def test_embedding_neardup_banded_matches_exact(spark, band_join_paths):
    """The banded branch (pairs kept only at their FIRST agreeing
    band, cosine + threshold filtered in-stage, no pair dedup) must
    emit each qualifying pair exactly once. At saturated banding
    (per-band width 1, miss probability 2^-n_planes on near-identical
    vectors) its output equals the exact self-join; at modest banding
    it must be a subset."""
    rng = np.random.RandomState(17)
    vecs = rng.standard_normal((60, 16))
    rows = [(i, [float(x) for x in vecs[i]]) for i in range(60)]
    # planted near-dups: tiny perturbations of vectors 0..9
    for i in range(10):
        rows.append((100 + i, [float(x + 0.001 * ((i + j) % 5 - 2))
                               for j, x in enumerate(vecs[i])]))
    # exact copies of vector 0 agree in every band; a null vector
    # has no cosine
    rows += [(200 + i, rows[0][1]) for i in range(2)] + [(300, None)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    exact = sorted(map(tuple, SIM.embedding_neardup_pairs(
        df, threshold=0.98, dim=16, exact=True).collect()))
    banded = {}
    for path in band_join_paths():
        banded[path] = [
            sorted(map(tuple, SIM.embedding_neardup_pairs(
                df, threshold=0.98, dim=16, n_planes=12, bands=bands,
                exact=False).collect()))
            for bands in (12, 3)
        ]
    saturated, modest = banded["first_band"]
    assert saturated == exact and len(exact) >= 13
    assert set(modest) <= set(exact)
    assert len(modest) == len(set(modest))  # no pair emitted twice
    # the same pair sets as the old every-band join + dropDuplicates
    assert banded["first_band"] == banded["join_dedup"]


def test_fingerprint_vs_python(spark, docs):
    got = {r["id"]: r["fingerprint"] for r in
           TQ.fingerprint(docs, "doc_id", "text").collect()}
    for r in docs.collect():
        assert got[r["doc_id"]] == rolling_fingerprint(r["text"])


def test_dedup_representatives_numeric_min(spark, monkeypatch):
    """The representative is the minimum id in the id's own type (9
    before 10, returned as a long), not the string minimum the
    connected components label by, on both CC paths. A 20-doc
    near-dup chain keeps one doc on both paths: the distributed CC
    runs to its fixpoint, not a fixed number of rounds."""
    from pyspark.sql.types import LongType

    import bertseyeview_spark.operators.canonicalize as C

    small = (
        [3, 9, 10, 11, 20],
        [(9, 10), (10, 11)],
        {3: (3, True), 9: (9, True), 10: (9, False), 11: (9, False), 20: (20, True)},
    )
    chain = (
        list(range(20)),
        [(i, i + 1) for i in range(19)],
        {i: (0, i == 0) for i in range(20)},
    )
    for ids, edges, want in (small, chain):
        docs = spark.createDataFrame(
            [(i, "x") for i in ids], "doc_id long, text string"
        )
        pairs = spark.createDataFrame(edges, "id_a long, id_b long")
        for ceiling in (C.DRIVER_CC_MAX_PAIRS, 0):
            monkeypatch.setattr(C, "DRIVER_CC_MAX_PAIRS", ceiling)
            out = D.dedup_representatives(docs, pairs, "doc_id")
            assert out.schema["id"].dataType == LongType()
            assert out.schema["rep_id"].dataType == LongType()
            got = {r["id"]: (r["rep_id"], r["is_rep"]) for r in out.collect()}
            assert got == want, (len(ids), ceiling)


def _capture_finalized(monkeypatch):
    """Patch ``dispatch._finalize`` so each call records the frame it
    checkpoints under ``"out"`` before running the real helper."""
    seen = {}
    finalize = dispatch._finalize

    def capture(out, *caches):
        seen["out"] = out
        return finalize(out, *caches)

    monkeypatch.setattr(dispatch, "_finalize", capture)
    return seen


def test_minhash_signature_aggregate_once(spark, docs, monkeypatch):
    """Both sides of the band self-join read one persisted (id, bkts)
    frame: the executed plan holds one final signature aggregate, not
    one per side (the cached plan prints under each scan with the same
    attribute ids)."""
    import re

    seen = _capture_finalized(monkeypatch)
    D.minhash_lsh_pairs(docs, "doc_id", "text", n=3, threshold=0.5).collect()
    plan = seen["out"]._jdf.queryExecution().executedPlan().toString()
    final_aggs = set(
        re.findall(r"HashAggregate\(keys=\[(id#\d+L?)\], functions=\[min\(xxhash64", plan)
    )
    assert len(final_aggs) == 1


def test_dedup_releases_shingle_cache(spark, cached_rdds):
    """Every builder that persists an intermediate returns through
    ``dispatch._finalize``, which releases it once the result is
    checkpointed: repeated calls in one session may not accumulate
    cached RDDs (a storage-memory leak). Each call gets a different
    input, since a second persist of the same plan reuses its cache."""
    from bertseyeview_spark.operators.graph import adamic_adar, node_similarity

    corpus = spark.createDataFrame(
        [(i, f"w{i} w{i + 1} w{i + 2} w{i + 3}") for i in range(20)],
        "doc_id long, text string",
    )
    builders = {
        "ngram_jaccard_pairs": lambda docs, _: D.ngram_jaccard_pairs(
            docs, "doc_id", "text", n=2, threshold=0.5
        ),
        "minhash_lsh_pairs": lambda docs, _: D.minhash_lsh_pairs(
            docs, "doc_id", "text", n=2, num_perm=8, bands=4, threshold=0.5
        ),
        "simhash_verified_pairs": lambda docs, _: D.simhash_verified_pairs(
            docs, "doc_id", "text", n=2, threshold=0.5
        ),
        "exact_substring_spans": lambda docs, _: D.exact_substring_spans(
            docs, "doc_id", "text", window=2
        ),
        "cut_repeated_spans": lambda docs, _: D.cut_repeated_spans(
            docs, "doc_id", "text", window=2
        ),
        "repetition_signals": lambda docs, _: TQ.repetition_signals(
            docs, "doc_id", "text"
        ),
        "node_similarity": lambda _, edges: node_similarity(edges, threshold=0.0),
        "adamic_adar": lambda _, edges: adamic_adar(edges),
    }
    for name, build in builders.items():
        before = cached_rdds()
        for k in range(3):
            docs = corpus.where(F.col("doc_id") != k)
            edges = docs.select(
                F.col("doc_id").alias("src"), (F.col("doc_id") % 5).alias("dst")
            )
            build(docs, edges).collect()
        assert cached_rdds() == before, name


def test_simhash_banding_pigeonhole(spark):
    """Bands are derived from the hamming budget (max_hamming + 1
    bands): a signature pair whose differing bits land in EVERY 16-bit
    quarter — invisible to the old fixed 4x16 banding beyond hamming 3
    — must be found when max_hamming covers it."""
    import bertseyeview_spark.operators.dedup as D

    base = 0x0123456789ABCDEF
    # flip one bit in each 16-bit quarter (bits 0, 16, 32, 48): the old
    # 4-band scheme has NO identical band for this hamming-4 pair
    other = base ^ ((1 << 0) | (1 << 16) | (1 << 32) | (1 << 48))

    def to_signed(v):
        return v - (1 << 64) if v >= (1 << 63) else v

    sigs = spark.createDataFrame(
        [(0, to_signed(base)), (1, to_signed(other)), (2, to_signed(0x7777000011112222))],
        "id long, simhash long",
    )
    got = {
        (r["id_a"], r["id_b"]): r["hamming"]
        for r in D.simhash_candidates_from_sigs(sigs, max_hamming=4).collect()
    }
    assert got.get((0, 1)) == 4
    # and the guarantee generalizes: any <=10-bit spread is caught at
    # max_hamming=10 (11 bands)
    spread = base ^ sum(1 << (6 * k) for k in range(10))  # bits 0,6,...,54
    sigs2 = spark.createDataFrame(
        [(0, to_signed(base)), (1, to_signed(spread))],
        "id long, simhash long",
    )
    got2 = {
        (r["id_a"], r["id_b"]): r["hamming"]
        for r in D.simhash_candidates_from_sigs(sigs2, max_hamming=10).collect()
    }
    assert got2.get((0, 1)) == 10
    # old fixed-width behavior is preserved at the default budget:
    # 4 bands of 16 bits
    assert D._band_bounds(64, 4) == [(0, 16), (16, 16), (32, 16), (48, 16)]
    # a 64-bit signature splits into at most 64 bands: max_hamming 63
    with pytest.raises(ValueError, match="max_hamming must be <= 63"):
        D.simhash_candidates_from_sigs(sigs, max_hamming=64)


def test_decontaminate_flags_benchmark_overlap(spark):
    """Docs sharing an 8-gram with the benchmark are flagged; clean
    docs are not; counts are per-distinct-shingle."""
    from bertseyeview_spark.operators.dedup import decontaminate

    bench_sent = "alpha beta gamma delta epsilon zeta eta theta"  # 8 tokens
    docs = spark.createDataFrame(
        [
            (1, f"intro words {bench_sent} trailing tail here"),  # hit
            (2, "totally clean document with no benchmark overlap at all ok"),
            (3, bench_sent),                                      # exact hit
            (4, "short doc"),                                     # <8 tokens
        ],
        ["doc_id", "text"],
    )
    bench = spark.createDataFrame([(bench_sent,)], ["text"])
    got = {
        r["id"]: (r["n_hit_shingles"], r["contaminated"])
        for r in decontaminate(docs, "doc_id", "text", bench, "text", n=8).collect()
    }
    assert got[1] == (1, True)
    assert got[2] == (0, False)
    assert got[3] == (1, True)
    assert got[4] == (0, False)
    assert len(got) == 4


def test_lm_perplexity_vs_python(spark):
    """Bigram add-alpha perplexity matches an exact python oracle."""
    import math
    from collections import Counter

    from bertseyeview_spark.operators.textquality import lm_perplexity

    texts = {
        1: "a b a b c",
        2: "a b c a b",
        3: "c c a",
        4: "solo",  # 1 token -> no bigrams -> absent from output
    }
    docs = spark.createDataFrame(
        [(i, t) for i, t in texts.items()], ["doc_id", "text"]
    )
    toks = {i: t.split() for i, t in texts.items()}
    c2 = Counter()
    c1 = Counter()
    vocab = set()
    for t in toks.values():
        vocab.update(t)
        for x, y in zip(t, t[1:]):
            c2[(x, y)] += 1
            c1[x] += 1
    a, v = 0.1, len(vocab)
    exp = {}
    for i, t in toks.items():
        bgs = list(zip(t, t[1:]))
        if not bgs:
            continue
        lp = [math.log((c2[bg] + a) / (c1[bg[0]] + a * v)) for bg in bgs]
        exp[i] = (len(bgs), round(math.exp(-sum(lp) / len(lp)), 6))
    got = {
        r["id"]: (r["n_bigrams"], r["ppl"])
        for r in lm_perplexity(docs, "doc_id", "text", alpha=0.1).collect()
    }
    assert set(got) == set(exp)
    for i in exp:
        assert got[i][0] == exp[i][0]
        assert abs(got[i][1] - exp[i][1]) < 1e-6


def test_kmeans_semdedup_vs_numpy(spark, kmeans_paths):
    """Deterministic Lloyd's matches an exact numpy replica (same init,
    same rounding), and semdedup keeps one representative per
    within-cluster near-dup group."""
    import numpy as np

    from bertseyeview_spark.operators.similarity import (
        kmeans_embeddings,
        semdedup,
    )

    rng = np.random.RandomState(7)
    dim, n, k, iters = 8, 40, 4, 3
    vecs = rng.standard_normal((n, dim))
    # plant a near-dup pair: vec 30 ~ vec 31
    vecs[31] = vecs[30] + 1e-4 * rng.standard_normal(dim)
    # an all-zero embedding (empty doc) must not abort the job under
    # ANSI mode: it normalizes to itself, dots 0 with every centroid
    # (deterministic cluster 0) and can never be a near-dup
    vecs[39] = 0.0
    rows = [(i, [float(x) for x in vecs[i]]) for i in range(n)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")

    # numpy oracle: identical algorithm (zero vectors normalize to 0)
    norms = np.linalg.norm(vecs, axis=1, keepdims=True)
    nv = np.divide(vecs, norms, out=np.zeros_like(vecs), where=norms != 0)
    cents = np.round(nv[:k], 9)
    for _ in range(iters):
        sims = nv @ cents.T
        # argmax with min-cluster tie-break == np.argmax (first max)
        assign = np.argmax(sims, axis=1)
        new = []
        for c in range(k):
            m = nv[assign == c]
            new.append(
                np.round(m.mean(axis=0), 9) if len(m) else cents[c]
            )
        cents = np.array(new)
    exp_assign = np.argmax(nv @ cents.T, axis=1)

    for _ in kmeans_paths():
        got = {
            r["id"]: r["cluster"]
            for r in kmeans_embeddings(df, "vec_id", "embedding", k, iters).collect()
        }
        assert got == {i: int(exp_assign[i]) for i in range(n)}

        sd = {
            r["id"]: (r["cluster"], r["rep_id"], r["is_rep"])
            for r in semdedup(
                df, "vec_id", "embedding", k=k, iterations=iters, threshold=0.999
            ).collect()
        }
        assert len(sd) == n
        # the planted near-dup collapses to rep = NUMERIC min id (id's
        # original type, not the canonicalizer's string-order label)
        assert sd[30] == (int(exp_assign[30]), 30, True)
        assert sd[31] == (int(exp_assign[31]), 30, False)
        # everything else survives as its own representative (incl. the
        # zero vector, which can never reach any cosine threshold)
        assert all(sd[i][2] for i in range(n) if i != 31)


def test_semdedup_split_oversized_guard(spark, kmeans_paths):
    """Cluster-size guard: a single runaway k-means cluster (forced
    with k=1) holding three well-separated blobs is recursively
    re-split below the size budget before the quadratic pair join,
    each sub-cluster lands on one blob, and planted near-dups still
    collapse to their numeric-min representative."""
    import numpy as np

    from bertseyeview_spark.operators.similarity import (
        _split_oversized,
        semdedup,
    )

    rng = np.random.RandomState(3)
    dim, n = 8, 90
    centers = np.eye(3, dim) * 10.0
    vecs = np.empty((n, dim))
    for i in range(n):
        # ids interleave blobs (blob = id % 3) so the deterministic
        # sub-k-means seeds (smallest ids) span all three blobs
        vecs[i] = centers[i % 3] + 0.1 * rng.standard_normal(dim)
    vecs[87] = vecs[84] + 1e-4 * rng.standard_normal(dim)  # near-dup pair
    rows = [(i, [float(x) for x in vecs[i]]) for i in range(n)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")

    # direct guard check: one oversized cluster -> sub-clusters under
    # the budget, each pure (exactly one blob per sub-cluster)
    nv = vecs / np.linalg.norm(vecs, axis=1, keepdims=True)
    vdf = spark.createDataFrame(
        [(i, [float(x) for x in nv[i]], 0) for i in range(n)],
        "id long, nv array<double>, cluster int",
    )
    for _ in kmeans_paths():
        split = _split_oversized(vdf, 1, max_cluster_size=35).collect()
        by_cluster: dict[int, set[int]] = {}
        for r in split:
            by_cluster.setdefault(r["cluster"], set()).add(r["id"] % 3)
        assert all(len(blobs) == 1 for blobs in by_cluster.values())
        sizes = {c: sum(1 for r in split if r["cluster"] == c) for c in by_cluster}
        assert max(sizes.values()) <= 35 and sum(sizes.values()) == n

        # end-to-end: guard on, near-dup still collapses, everyone else reps
        sd = {
            r["id"]: (r["rep_id"], r["is_rep"])
            for r in semdedup(
                df, "vec_id", "embedding", k=1, iterations=1,
                threshold=0.99999, max_cluster_size=35,
            ).collect()
        }
        assert len(sd) == n
        assert sd[87] == (84, False)
        assert all(sd[i] == (i, True) for i in range(n) if i != 87)


def test_semdedup_identical_vector_cluster_is_linear(spark, kmeans_paths):
    """Fully degenerate case: a cluster of byte-identical vectors that
    NO k-means can split (every dot ties). The guard detects zero
    split progress and stops; the exact-duplicate collapse then
    reduces the cluster to ONE delegate, so the pair stage emits O(n)
    member edges instead of an O(n^2) join, and all copies collapse to
    the numeric-min representative."""
    import numpy as np

    from bertseyeview_spark.operators.similarity import semdedup

    dim, n_same = 8, 50
    same = [1.0, 2.0, 3.0] + [0.0] * (dim - 3)
    rng = np.random.RandomState(5)
    rows = [(i, list(same)) for i in range(n_same)] + [
        (100 + j, [float(x) for x in rng.standard_normal(dim)])
        for j in range(5)
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")

    for _ in kmeans_paths():
        sd = {
            r["id"]: (r["rep_id"], r["is_rep"])
            for r in semdedup(
                df, "vec_id", "embedding", k=2, iterations=2,
                threshold=0.99, max_cluster_size=10, max_split_depth=2,
            ).collect()
        }
        assert len(sd) == n_same + 5
        assert sd[0] == (0, True)
        assert all(sd[i] == (0, False) for i in range(1, n_same))
        assert all(sd[100 + j] == (100 + j, True) for j in range(5))


def test_ivf_topk_clustered_full_recall_at_nprobe1(spark, kmeans_paths):
    """On data WITH cluster structure (the real-corpus shape) IVF
    achieves full recall probing a single list: 4 well-separated
    clusters, queries near the centers -> nprobe=1 equals brute force
    while scanning ~1/4 of the corpus; and on any data nprobe ==
    n_clusters degenerates to exact search."""
    import numpy as np

    from bertseyeview_spark.operators.similarity import (
        brute_force_topk,
        ivf_topk,
    )

    rng = np.random.RandomState(11)
    dim, per = 8, 12
    centers = np.eye(4, dim) * 10.0
    rows = []
    for c in range(4):
        for j in range(per):
            v = centers[c] + 0.1 * rng.standard_normal(dim)
            rows.append((c * per + j, [float(x) for x in v]))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    qs = df.where("vec_id % 12 = 0")  # one query per cluster

    exact = {
        (r["query_id"], r["rank"]): (r["neighbor_id"], r["cos_sim"])
        for r in brute_force_topk(df, qs, "vec_id", "embedding", k=5).collect()
    }
    for _ in kmeans_paths():
        got1 = {
            (r["query_id"], r["rank"]): (r["neighbor_id"], r["cos_sim"])
            for r in ivf_topk(
                df, qs, "vec_id", "embedding", k=5, n_clusters=4, nprobe=1
            ).collect()
        }
        assert got1 == exact
        # saturation: nprobe == n_clusters is exact on ANY data
        got_all = {
            (r["query_id"], r["rank"]): (r["neighbor_id"], r["cos_sim"])
            for r in ivf_topk(
                df, qs, "vec_id", "embedding", k=5, n_clusters=4, nprobe=4
            ).collect()
        }
        assert got_all == exact


def _kmeans_records(caplog):
    out = [
        json.loads(r.getMessage())
        for r in caplog.records
        if r.name == SIM.__name__
    ]
    caplog.clear()
    return out


def _tie_planted(spark, id_type: str, elem_type: str):
    """300 8-d vectors whose first assignment is full of ties: the six
    seeds (ids 0-5) are coordinate permutations of one integer vector,
    a fifth of the rows are integer-grid points (cosines to permuted
    seeds that are equal in exact arithmetic, so the fold's summation
    order decides them), two seeds coincide (every row ties between
    them) and one row is the zero vector (ties everywhere)."""
    rng = np.random.RandomState(13)
    n, dim = 300, 8
    x = rng.standard_normal((n, dim))
    grid = rng.permutation(np.arange(6, n))[: n // 5]
    x[grid] = rng.randint(-1, 3, (len(grid), dim))
    base = np.array([3.0, 1.0, 2.0, 1.0, 0.0, 0.0, 0.0, 0.0])
    for i in range(6):
        x[i] = np.roll(base, i)
    x[5] = x[4]
    x[n - 1] = 0.0
    ids = [i if id_type == "long" else f"v{i:03d}" for i in range(n)]
    return spark.createDataFrame(
        [(ids[i], [float(v) for v in x[i]]) for i in range(n)],
        f"vec_id {id_type}, embedding array<{elem_type}>",
    )


@pytest.mark.parametrize(
    "id_type,elem_type", [("long", "double"), ("string", "float")]
)
def test_kmeans_paths_bit_identical(spark, kmeans_paths, id_type, elem_type):
    """The driver-local fit reproduces the distributed Catalyst fit bit
    for bit, assignments and centroids, on tie-planted data at any
    partitioning, keeping the id type; empty input yields no rows and
    no centroids."""
    df = _tie_planted(spark, id_type, elem_type)
    inputs = {
        "p1": df.repartition(1),
        "p7": df.repartition(7),
        "empty": df.limit(0),
    }
    fits = {}
    for path in kmeans_paths():
        for name, d in inputs.items():
            assign, cents = SIM._kmeans_fit(d, "vec_id", "embedding", 6, 3)
            assert assign.schema["id"].dataType.simpleString() == (
                "bigint" if id_type == "long" else "string"
            )
            fits[path, name] = (
                sorted(map(tuple, assign.collect())),
                np.array(cents).tobytes(),
            )
    for name in inputs:
        assert fits["local", name] == fits["distributed", name], name
    assert fits["local", "p1"] == fits["local", "p7"]
    assert len(fits["local", "p1"][0]) == 300
    assert fits["local", "empty"] == ([], np.array([]).tobytes())
    # an empty pull fits any ceiling, so the distributed loop's own
    # empty case is checked directly
    pairs = inputs["empty"].select(
        F.col("vec_id").alias("id"),
        F.col("embedding").cast("array<double>").alias("v"),
    )
    assign, cents = SIM._kmeans_distributed(pairs, 6, 3)
    assert assign.collect() == [] and cents == []


def test_kmeans_dispatch_records(spark, kmeans_paths, caplog):
    """Every k-means fit logs one record naming rows, dim, ceiling and
    path, plus the reason on a fallback; a ragged input falls back; k
    below 1 is rejected before any probe."""
    rng = np.random.RandomState(17)
    rows = [(i, [float(v) for v in rng.standard_normal(8)]) for i in range(40)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    ragged = df.union(spark.createDataFrame([(40, [1.0, 2.0, 3.0])], df.schema))
    with pytest.raises(ValueError):
        SIM.kmeans_embeddings(df, k=0)
    caplog.set_level(logging.INFO, logger=SIM.__name__)
    SIM.kmeans_embeddings(ragged, k=4).collect()
    assert _kmeans_records(caplog) == [
        {"dispatcher": "similarity.kmeans", "rows": 41, "dim": 8,
         "ceiling": SIM.KMEANS_LOCAL_MAX_VALUES, "reason": "ragged_or_null",
         "path": "distributed"},
    ]
    for path in kmeans_paths():
        SIM.kmeans_embeddings(df, k=4).collect()
        if path == "local":
            expected = {"rows": 40, "ceiling": SIM.KMEANS_LOCAL_MAX_VALUES}
        else:
            expected = {"rows": None, "ceiling": 0, "reason": "ceiling"}
        assert _kmeans_records(caplog) == [
            {"dispatcher": "similarity.kmeans", "dim": 8, **expected,
             "path": path},
        ]


@pytest.mark.parametrize("bad", [None, [1.0, None] + [0.5] * 6])
def test_kmeans_null_embedding_at_smallest_id(spark, caplog, bad):
    """A null embedding, or one with a null element, at the smallest id
    is no seed and adds to no mean: the fit runs distributed, returns
    one row per input and clusters the other rows exactly as without
    it."""
    rng = np.random.RandomState(19)
    rows = [(i, [float(v) for v in rng.standard_normal(8)]) for i in range(1, 41)]
    schema = "vec_id long, embedding array<double>"
    clean = spark.createDataFrame(rows, schema)
    df = spark.createDataFrame([(0, bad)] + rows, schema)
    caplog.set_level(logging.INFO, logger=SIM.__name__)
    got = dict(map(tuple, SIM.kmeans_embeddings(df, k=4).collect()))
    (rec,) = _kmeans_records(caplog)
    assert rec["path"] == "distributed" and rec["reason"] == "ragged_or_null"
    assert sorted(got) == list(range(41))
    want = dict(map(tuple, SIM.kmeans_embeddings(clean, k=4).collect()))
    assert {i: got[i] for i in range(1, 41)} == want


def test_dedup_paragraphs_ccnet_semantics(spark):
    """CCNet/RefinedWeb paragraph dedup: canonical (min (id,pos))
    occurrence survives, normalization merges case/whitespace
    spellings, whitespace-only units are never deduped, fully-duplicate
    docs come back empty, null text behaves as one empty unit."""
    from bertseyeview_spark.operators.dedup import dedup_paragraphs

    rows = [
        (1, "alpha line\nBOILER  plate\nunique one"),
        (2, "boiler plate\nunique two\nboiler plate"),
        (3, "boiler plate"),
        (4, "   \nboiler plate\n   "),
        (5, None),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    got = {
        r["id"]: (
            r["clean_text"], r["n_paragraphs"], r["n_kept"], r["n_dropped"]
        )
        for r in dedup_paragraphs(df, "doc_id", "text").collect()
    }
    assert got[1] == ("alpha line\nBOILER  plate\nunique one", 3, 3, 0)
    assert got[2] == ("unique two", 3, 1, 2)
    assert got[3] == ("", 1, 0, 1)
    assert got[4] == ("   \n   ", 3, 2, 1)
    assert got[5] == ("", 1, 1, 0)
    # paragraph granularity via sep: intra-doc duplicate paragraph cut
    df6 = spark.createDataFrame(
        [(6, "para one\n\npara one")], ["doc_id", "text"]
    )
    got6 = dedup_paragraphs(df6, "doc_id", "text", sep="\n\n").collect()[0]
    assert (got6["clean_text"], got6["n_kept"]) == ("para one", 1)


def test_dedup_paragraphs_review_edges(spark):
    """r6 review findings: tab-only separator lines are never deduped
    (collapse-before-trim normalization), edge-tab spellings of the
    same paragraph DO dedup, and a regex-metacharacter separator is
    treated literally."""
    from bertseyeview_spark.operators.dedup import dedup_paragraphs

    rows = [(1, "aaa\n\t\nbbb"), (2, "ccc\n\t\nddd"), (3, "\tboiler"),
            (4, "boiler")]
    got = {
        r["id"]: (r["clean_text"], r["n_dropped"])
        for r in dedup_paragraphs(
            spark.createDataFrame(rows, ["doc_id", "text"]), "doc_id", "text"
        ).collect()
    }
    assert got[1] == ("aaa\n\t\nbbb", 0)
    assert got[2] == ("ccc\n\t\nddd", 0)      # '\t' line survives in BOTH
    assert got[3] == ("\tboiler", 0)          # canonical (id 3 < 4)
    assert got[4] == ("", 1)                  # edge-tab spelling deduped
    # sep is literal: '.' must not split on every character
    got6 = dedup_paragraphs(
        spark.createDataFrame([(6, "a.b.a")], ["doc_id", "text"]),
        "doc_id", "text", sep=".",
    ).collect()[0]
    assert (got6["clean_text"], got6["n_paragraphs"], got6["n_kept"]) == (
        "a.b", 3, 2
    )


def test_dedup_paragraphs_invariants_random(spark):
    """Seeded random corpora: count identity (kept + dropped == total),
    corpus-wide uniqueness of surviving normalized units, and
    idempotence (a second pass over the cleaned corpus drops nothing)."""
    import random
    import re

    from bertseyeview_spark.operators.dedup import dedup_paragraphs

    rng = random.Random(42)
    vocab = ["alpha", "beta", "gamma", "delta", "eps"]
    rows = []
    for i in range(40):
        lines = [
            " ".join(rng.choices(vocab, k=rng.randint(0, 4)))
            for _ in range(rng.randint(0, 6))
        ]
        rows.append((i, "\n".join(lines)))
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = dedup_paragraphs(df, "doc_id", "text").collect()
    assert {r["id"] for r in out} == {i for i, _ in rows}
    for r in out:
        assert r["n_kept"] + r["n_dropped"] == r["n_paragraphs"], r
    # surviving non-whitespace units are unique corpus-wide
    seen = {}
    for r in out:
        if r["clean_text"] == "":
            continue
        for u in r["clean_text"].split("\n"):
            nrm = re.sub(r"\s+", " ", u.lower()).strip()
            if nrm:
                assert nrm not in seen, (nrm, seen[nrm], r["id"])
                seen[nrm] = r["id"]
    # idempotence
    clean = spark.createDataFrame(
        [(r["id"], r["clean_text"]) for r in out], ["doc_id", "text"]
    )
    out2 = dedup_paragraphs(clean, "doc_id", "text").collect()
    assert all(r["n_dropped"] == 0 for r in out2)
