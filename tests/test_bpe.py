"""BPE trainer/encoder: hand-computed merges, determinism, and the
word-frequency-table formulation (training never touches raw text
twice)."""

import pytest

from bertseyeview_spark.operators.bpe import (
    END_OF_WORD,
    bpe_tokenize,
    encode_word,
    learn_bpe,
    word_frequencies,
)


def test_learn_bpe_hand_example(spark):
    # classic toy corpus: 'low' x5, 'lower' x2, 'newest' x6, 'widest' x3
    rows = [(0, " ".join(["low"] * 5 + ["lower"] * 2 +
                         ["newest"] * 6 + ["widest"] * 3))]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    wf = word_frequencies(docs, "text")
    merges = learn_bpe(wf, n_merges=4)
    # highest-count pair first: ('e','s') occurs 9x (newest+widest)
    assert merges[0] == ("e", "s")
    assert merges[1] == ("es", "t")
    assert merges[2] == ("est", END_OF_WORD)
    ranks = {tuple(p): i for i, p in enumerate(merges)}
    assert encode_word("newest", ranks)[-1] == "est" + END_OF_WORD


def test_tokenize_roundtrip_and_determinism(spark):
    docs = spark.createDataFrame(
        [(i, "the lowest newest widest rates") for i in range(6)],
        "doc_id long, text string",
    )
    merges = learn_bpe(word_frequencies(docs, "text"), n_merges=12)
    merges2 = learn_bpe(word_frequencies(docs, "text"), n_merges=12)
    assert merges == merges2  # deterministic at any parallelism

    out = bpe_tokenize(docs, "doc_id", "text", merges).collect()
    assert len(out) == 6
    for r in out:
        # detokenize: concatenation restores the text + markers
        joined = "".join(r["tokens"]).replace(END_OF_WORD, " ").strip()
        assert joined == "the lowest newest widest rates"
        assert r["n_tokens"] == len(r["tokens"])


def test_encode_token_arrays_matches_encode_word(spark):
    from bertseyeview_spark.operators.bpe import (
        BPE_MERGES_V1,
        encode_token_arrays,
        encode_word,
    )

    ranks = {tuple(p): i for i, p in enumerate(BPE_MERGES_V1)}
    rows = [
        (1, ["power", "slow", "join"]),
        (2, ["customer", "customer", "vector"]),
        (3, []),          # empty word array -> zero tokens
        (4, None),        # NULL array -> zero tokens, no crash
    ]
    df = spark.createDataFrame(rows, "id long, w array<string>")
    got = {
        r["id"]: (r["tokens"], r["n_tokens"])
        for r in encode_token_arrays(df, "id", "w", BPE_MERGES_V1).collect()
    }
    for i, ws in rows:
        want = []
        for w in ws or []:
            want.extend(encode_word(w, ranks))
        assert got[i] == (want, len(want)), i


def test_chunk_text_bpe_equals_manual_compose(spark):
    """chunk_text(token_model='bpe') must equal encoding norm_tokens
    words and slicing the encoded stream with the same grid."""
    from pyspark.sql import functions as F

    from bertseyeview_spark.operators.bpe import (
        BPE_MERGES_V1,
        encode_word,
    )
    from bertseyeview_spark.operators.textquality import chunk_text

    ranks = {tuple(p): i for i, p in enumerate(BPE_MERGES_V1)}
    texts = [
        (1, "power slow join merge batch customer vector order line"),
        (2, "  Scan  ROW hash\tvalue  "),   # case + edge whitespace
        (3, "   "),                          # whitespace-only -> no chunks
        (4, None),                           # NULL -> no chunks
    ]
    df = spark.createDataFrame(texts, "id long, text string")
    got = sorted(
        (
            (r["id"], r["chunk_id"], r["chunk_start"],
             r["n_chunk_tokens"], r["chunk_text"])
            for r in chunk_text(
                df, "id", "text", size=6, overlap=2,
                token_model="bpe", merges=BPE_MERGES_V1,
            ).collect()
        )
    )
    want = []
    for i, t in texts:
        words = (t or "").lower().split()
        toks = []
        for w in words:
            toks.extend(encode_word(w, ranks))
        if not toks:
            continue
        n, size, stride = len(toks), 6, 4
        nc = ((n - size + stride - 1) // stride) + 1 if n > size else 1
        for k in range(nc):
            c = toks[k * stride:k * stride + size]
            want.append((i, k, k * stride, len(c), " ".join(c)))
    assert got == sorted(want)


def test_chunk_text_bpe_requires_merges_and_known_model(spark):
    import pytest

    from bertseyeview_spark.operators.textquality import chunk_text

    df = spark.createDataFrame([(1, "a b")], "id long, text string")
    with pytest.raises(ValueError):
        chunk_text(df, "id", "text", size=4, overlap=1, token_model="bpe")
    with pytest.raises(ValueError):
        chunk_text(df, "id", "text", size=4, overlap=1,
                   token_model="wordpiece")


def test_pack_sequences_bpe_token_model(spark):
    """The packing side of the opt-in BPE token model: bins budgeted
    on encoded-token counts equal a python replay of sequential fill."""
    from pyspark.sql import functions as F

    from bertseyeview_spark.operators.bpe import (
        BPE_MERGES_V1,
        encode_token_arrays,
        encode_word,
    )
    from bertseyeview_spark.operators.textquality import (
        norm_tokens,
        pack_sequences,
    )

    ranks = {tuple(p): i for i, p in enumerate(BPE_MERGES_V1)}
    texts = [
        (1, "power slow join"),
        (2, "customer vector order line merge batch scan row hash"),
        (3, "a b c d"),
        (4, "join join join join join join"),
    ]
    df = spark.createDataFrame(texts, "id long, text string")
    enc = encode_token_arrays(
        df.select("id", norm_tokens("text").alias("w")),
        "id", "w", BPE_MERGES_V1,
    )
    got = {
        r["id"]: (r["n_tokens"], r["bin"], r["offset"])
        for r in pack_sequences(enc, "id", "n_tokens", budget=12).collect()
    }
    offset, want = 0, {}
    for i, t in texts:
        n = sum(len(encode_word(w, ranks)) for w in t.lower().split())
        want[i] = (n, offset // 12, offset)
        offset += n
    assert got == want


def test_chunk_text_bpe_string_ids(spark):
    """The encoder echoes the caller's id type (r7 review): url-keyed
    corpora must work identically under both token models."""
    from bertseyeview_spark.operators.bpe import BPE_MERGES_V1
    from bertseyeview_spark.operators.textquality import chunk_text

    df = spark.createDataFrame(
        [("https://a/1", "power slow join merge batch"),
         ("https://a/2", "customer vector")],
        "id string, text string",
    )
    rows = chunk_text(
        df, "id", "text", size=6, overlap=2,
        token_model="bpe", merges=BPE_MERGES_V1,
    ).collect()
    assert {r["id"] for r in rows} == {"https://a/1", "https://a/2"}
    assert all(isinstance(r["id"], str) for r in rows)


def test_bpe_tokenize_matches_norm_tokens_split(spark):
    """bpe_tokenize splits with the SAME class the learner trains on
    (r7 review): an NBSP is NOT a separator on either side now."""
    from bertseyeview_spark.operators.bpe import (
        BPE_MERGES_V1,
        bpe_tokenize,
        encode_word,
    )

    ranks = {tuple(p): i for i, p in enumerate(BPE_MERGES_V1)}
    df = spark.createDataFrame(
        [(1, "foo bar baz"), (2, "\tSLOW  join\r\n")],
        "id long, text string",
    )
    got = {r["id"]: r["tokens"] for r in bpe_tokenize(df, "id", "text", BPE_MERGES_V1).collect()}
    # norm_tokens: NBSP stays inside one word; tabs/CRLF are edges
    assert got[1] == encode_word("foo bar", ranks) + encode_word("baz", ranks)
    assert got[2] == encode_word("slow", ranks) + encode_word("join", ranks)


def test_oracle_replace_replay_equals_greedy_encode_fuzz():
    """The graded text_chunking_bpe oracle re-derives the encode with
    a recursive CTE applying one merge rank per step via delimited
    replace(). This pins the equivalence argument (left-to-right
    non-overlapping replace-all per rank == the greedy lowest-rank-
    first encode, because merged symbols only feed later ranks) on
    adversarial inputs: overlapping same-pair runs ('aaaa'), words
    built from merge-table fragments, long repeats, and words that
    CONTAIN the '▁' end-of-word marker char (a mid-word ▁ symbol is a
    legal symbol both engines must treat identically). Pure
    python + DuckDB — no Spark session needed."""
    import random

    import duckdb

    from bertseyeview_spark.operators.bpe import (
        BPE_MERGES_V1,
        encode_word,
    )

    ranks = {tuple(p): i for i, p in enumerate(BPE_MERGES_V1)}
    rng = random.Random(20260818)
    alphabet = "abcdefghijlmnoprstuvwy"
    words = [
        "aaaa", "aaaaaaa", "abab", "ababab", "erer", "ererer",
        "power", "slowslow", "joinjoin", "customercustomer",
        "a▁b", "▁▁", "er▁er", "x", "",
    ]
    for _ in range(60):
        n = rng.randint(1, 14)
        words.append("".join(rng.choice(alphabet) for _ in range(n)))
    for _ in range(20):
        # fragments of merge outputs, concatenated — maximizes merge
        # collisions and rank interleavings
        parts = rng.sample([a + b for a, b in BPE_MERGES_V1], 3)
        words.append("".join(p.replace("▁", "") for p in parts))
    words = sorted(set(w for w in words if w))

    vals = ", ".join(
        f"({i}, '{a}', '{b}')" for i, (a, b) in enumerate(BPE_MERGES_V1)
    )
    wvals = ", ".join(f"('{w}')" for w in words)
    q = f"""
WITH RECURSIVE mg(rk, a, b) AS (VALUES {vals}),
dw(word) AS (VALUES {wvals}),
enc(word, seq, step) AS (
  SELECT word,
         chr(1) || array_to_string(string_split(word, ''), chr(2) || chr(1))
           || chr(2) || chr(1) || '▁' || chr(2),
         0
  FROM dw
  UNION ALL
  SELECT e.word,
         replace(e.seq, chr(1) || m.a || chr(2) || chr(1) || m.b || chr(2),
                 chr(1) || m.a || m.b || chr(2)),
         e.step + 1
  FROM enc e JOIN mg m ON m.rk = e.step
)
SELECT word,
       string_split(trim(seq, chr(1) || chr(2)), chr(2) || chr(1)) AS toks
FROM enc WHERE step = {len(BPE_MERGES_V1)}
"""
    got = {w: list(t) for w, t in duckdb.sql(q).fetchall()}
    assert set(got) == set(words)
    for w in words:
        assert got[w] == encode_word(w, ranks), w


def test_learn_bpe_dispatch_records(spark, monkeypatch, caplog):
    """The vocabulary probe logs one record with the probed row count
    and the ceiling: driver at the default ceiling; with the ceiling at
    0 the record reads error and training raises."""
    import json
    import logging

    from bertseyeview_spark.operators import bpe

    def records():
        out = [
            json.loads(r.getMessage())
            for r in caplog.records
            if r.name == bpe.__name__
        ]
        caplog.clear()
        return out

    docs = spark.createDataFrame([(0, "low lower newest")], "doc_id long, text string")
    wf = word_frequencies(docs, "text")
    caplog.set_level(logging.INFO, logger=bpe.__name__)
    learn_bpe(wf, n_merges=2)
    assert records() == [{
        "dispatcher": "bpe.learn_bpe", "rows": 3,
        "ceiling": bpe.VOCAB_DRIVER_MAX_ROWS, "path": "driver",
    }]
    monkeypatch.setattr(bpe, "VOCAB_DRIVER_MAX_ROWS", 0)
    with pytest.raises(ValueError, match="vocabulary exceeds 0 rows"):
        learn_bpe(wf, n_merges=2)
    assert records() == [{
        "dispatcher": "bpe.learn_bpe", "rows": 1, "ceiling": 0,
        "path": "error",
    }]
