"""Fused page-local KG plan == modular plan, and matches the oracle."""

import pytest

from bertseyeview_spark.datagen import build_alias_dict, generate_corpus, pages_to_spark
from bertseyeview_spark.plans import kg_fused
from bertseyeview_spark.plans.kg import construct_triples
from bertseyeview_spark.plans.kg_fused import construct_triples_fused


def _as_set(df):
    return {(r["subj"], r["pred"], r["obj"]) for r in df.collect()}


def test_fused_equals_modular_and_oracle(spark):
    corpus = generate_corpus(180, seed=31)
    pages = pages_to_spark(spark, corpus, num_partitions=8)
    modular = _as_set(construct_triples(spark, pages))
    fused = _as_set(construct_triples_fused(spark, pages))
    assert fused == modular
    want = {
        (r.subj, r.pred, r.obj)
        for r in corpus.expected_triples.itertuples(index=False)
    }
    assert fused == want


def test_fused_with_scorer_unchanged_output(spark):
    corpus = generate_corpus(60, seed=8)
    pages = pages_to_spark(spark, corpus, num_partitions=4)
    base = _as_set(construct_triples_fused(spark, pages, ner_scorer_layers=0))
    scored = _as_set(construct_triples_fused(spark, pages, ner_scorer_layers=4))
    assert base == scored


def test_fused_ceiling_guard_raises(spark, monkeypatch):
    """Above FUSED_ALIAS_CEILING rows the fused plan refuses to collect
    the dictionary and names the modular plan; at the ceiling it runs."""
    pages = pages_to_spark(spark, generate_corpus(5, seed=2))
    n_rows = len(build_alias_dict())
    monkeypatch.setattr(kg_fused, "FUSED_ALIAS_CEILING", n_rows)
    assert _as_set(construct_triples_fused(spark, pages))
    monkeypatch.setattr(kg_fused, "FUSED_ALIAS_CEILING", n_rows - 1)
    with pytest.raises(ValueError, match="modular plan"):
        construct_triples_fused(spark, pages)


def test_scorer_chunked_equals_naive():
    """The execution-tuned forward pass (vocab-cached vectorized
    featurization + chunked ping-pong GEMM) is bit-equal to the naive
    per-batch formulation it replaced, including batches larger than
    one GEMM chunk and the layers=0 head-only path."""
    import zlib

    import numpy as np

    from bertseyeview_spark.operators.mentions import NeuralTypeScorer

    rng = np.random.RandomState(2)
    vocab = [f"w{i}" for i in range(700)]
    ctxs = [
        " ".join(rng.choice(vocab, rng.randint(1, 20)))
        for _ in range(NeuralTypeScorer.CHUNK * 2 + 37)
    ] + [""]  # empty context: featurizes to zeros with length clamp 1
    # repeated contexts exercise the unique+inverse-scatter path: every
    # occurrence must get the same score, in input order
    ctxs = ctxs + ctxs[:500]

    for layers in (0, 4):
        sc = NeuralTypeScorer(layers)
        got = sc.score(ctxs)

        x = np.zeros((len(ctxs), sc.DIM), dtype="float32")
        for i, ctx in enumerate(ctxs):
            toks = ctx.lower().split()
            for t in toks:
                x[i, zlib.crc32(t.encode()) % sc.DIM] += 1.0
            if toks:
                x[i] /= len(toks)
        for w in sc.weights:
            x = np.tanh(x @ w)
        exp = (x @ sc.head).ravel().round(4).tolist()
        assert got == exp
