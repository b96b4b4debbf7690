"""construct_triples picks the fused or modular page-local plan from
the alias dictionary's size; both sides give the oracle's triples."""

import json
import logging

import pytest

from bertseyeview_spark.datagen import (
    alias_dict_to_spark,
    build_alias_dict,
    generate_corpus,
    pages_to_spark,
)
from bertseyeview_spark.plans import kg_fused
from bertseyeview_spark.plans.kg import construct_triples


def _as_set(df):
    return {(r["subj"], r["pred"], r["obj"]) for r in df.collect()}


def _oracle(corpus):
    return {
        (r.subj, r.pred, r.obj)
        for r in corpus.expected_triples.itertuples(index=False)
    }


def _below_dictionary(monkeypatch):
    """Put the fused plan's ceiling one row below the default
    dictionary, so construct_triples takes the modular plan."""
    monkeypatch.setattr(
        kg_fused, "FUSED_ALIAS_CEILING", len(build_alias_dict()) - 1
    )


def _plan_paths(caplog):
    return [
        json.loads(r.getMessage())["path"]
        for r in caplog.records
        if r.name == "bertseyeview_spark.plans.kg"
    ]


def test_fused_equals_modular_and_oracle(spark, monkeypatch, caplog):
    caplog.set_level(logging.INFO, logger="bertseyeview_spark.plans.kg")
    corpus = generate_corpus(180, seed=31)
    pages = pages_to_spark(spark, corpus, num_partitions=8)
    fused = _as_set(construct_triples(spark, pages))
    _below_dictionary(monkeypatch)
    modular = _as_set(construct_triples(spark, pages))
    assert _plan_paths(caplog) == ["fused", "modular"]
    assert fused == modular
    assert fused == _oracle(corpus)


def test_fused_with_scorer_unchanged_output(spark):
    corpus = generate_corpus(60, seed=8)
    pages = pages_to_spark(spark, corpus, num_partitions=4)
    base = _as_set(construct_triples(spark, pages, ner_scorer_layers=0))
    scored = _as_set(construct_triples(spark, pages, ner_scorer_layers=4))
    assert base == scored


def test_fused_ceiling_guard_raises(spark, monkeypatch, caplog):
    """Above FUSED_ALIAS_CEILING rows construct_triples logs the modular
    plan and returns the oracle's triples (at the ceiling it runs the
    fused plan), and dictionary_broadcast, called on its own, refuses
    the dictionary and names the modular plan."""
    caplog.set_level(logging.INFO, logger="bertseyeview_spark.plans.kg")
    corpus = generate_corpus(20, seed=2)
    pages = pages_to_spark(spark, corpus)
    monkeypatch.setattr(kg_fused, "FUSED_ALIAS_CEILING", len(build_alias_dict()))
    assert _as_set(construct_triples(spark, pages)) == _oracle(corpus)
    _below_dictionary(monkeypatch)
    assert _as_set(construct_triples(spark, pages)) == _oracle(corpus)
    assert _plan_paths(caplog) == ["fused", "modular"]
    alias_df = alias_dict_to_spark(spark, build_alias_dict())
    with pytest.raises(ValueError, match="modular plan"):
        kg_fused.dictionary_broadcast(spark, alias_df, ["therapy"])


def test_modular_plan_releases_its_caches(spark, monkeypatch, cached_rdds):
    """The modular in-memory plan caches the extracted pages, the
    mentions and the linked mentions, and releases all three: two runs
    leave no cached RDD behind."""
    _below_dictionary(monkeypatch)
    before = cached_rdds()
    for seed in (3, 4):
        pages = pages_to_spark(spark, generate_corpus(20, seed=seed))
        assert _as_set(construct_triples(spark, pages))
        assert cached_rdds() == before


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
