"""Checkpointed pipeline in fused mode: same triples as modular mode,
resume still works at bucket granularity, and run_all picks the plan
from the alias dictionary's row count."""

import json
import logging
import os

import pytest

from bertseyeview_spark.datagen import (
    build_alias_dict,
    generate_corpus,
    pages_to_spark,
)
from bertseyeview_spark.pipeline import KGPipeline
from bertseyeview_spark.plans import kg_fused

N_PAGES = 150


@pytest.fixture(scope="module")
def corpus():
    return generate_corpus(N_PAGES, seed=17)


def _triples(pipe):
    return {(r["subj"], r["pred"], r["obj"]) for r in pipe.triples().collect()}


def _plan_records(caplog):
    return [
        json.loads(r.getMessage())
        for r in caplog.records
        if r.name == "bertseyeview_spark.plans.kg"
    ]


def test_fused_pipeline_matches_modular_and_oracle(spark, corpus, tmp_path_factory):
    pages = pages_to_spark(spark, corpus, num_partitions=8)

    w1 = str(tmp_path_factory.mktemp("mod"))
    p1 = KGPipeline(spark, w1, n_buckets=4, chunk_size=2, rank_iterations=5)
    p1.run_extract(pages)
    p1.run_mentions()
    p1.run_link_and_stage_edges()
    p1.run_global()

    w2 = str(tmp_path_factory.mktemp("fus"))
    p2 = KGPipeline(spark, w2, n_buckets=4, chunk_size=2, rank_iterations=5)
    p2.run_all(pages)

    a, b = _triples(p1), _triples(p2)
    assert a == b
    want = {
        (r.subj, r.pred, r.obj)
        for r in corpus.expected_triples.itertuples(index=False)
    }
    assert b == want
    assert p2.verify_extraction(pages) == 0


def test_fused_pipeline_resume(spark, corpus, tmp_path_factory):
    pages = pages_to_spark(spark, corpus, num_partitions=8)
    work = str(tmp_path_factory.mktemp("fusres"))
    pipe = KGPipeline(spark, work, n_buckets=4, chunk_size=1, rank_iterations=5)
    pipe.run_extract(pages)
    with pytest.raises(RuntimeError, match="injected failure"):
        pipe.run_fused_stage_edges(pages, fail_after_chunks=2)
    assert len(pipe.lineage.done_buckets("edges_staging")) == 2

    pipe2 = KGPipeline(spark, work, n_buckets=4, chunk_size=1, rank_iterations=5)
    pipe2.run_all(pages)
    rows = [r for r in pipe2.lineage.rows() if r["stage"] == "edges_staging"]
    assert sorted(r["bucket"] for r in rows) == [0, 1, 2, 3]  # each once
    want = {
        (r.subj, r.pred, r.obj)
        for r in corpus.expected_triples.itertuples(index=False)
    }
    assert _triples(pipe2) == want


def test_default_run_all_picks_fused(spark, tmp_path, caplog):
    caplog.set_level(logging.INFO, logger="bertseyeview_spark.plans.kg")
    pages = pages_to_spark(spark, generate_corpus(30, seed=23))
    pipe = KGPipeline(
        spark, str(tmp_path), n_buckets=2, chunk_size=2, rank_iterations=2
    )
    pipe.run_all(pages)
    assert _plan_records(caplog) == [
        {
            "dispatcher": "kg.page_local_plan",
            "alias_rows": len(build_alias_dict()),
            "ceiling": kg_fused.FUSED_ALIAS_CEILING,
            "path": "fused",
        }
    ]
    assert not os.path.exists(pipe._path("mentions"))
    assert {r["stage"] for r in pipe.lineage.rows()} == {
        "extract",
        "edges_staging",
    }


def test_above_ceiling_dispatch_matches_fused(
    spark, tmp_path, monkeypatch, caplog
):
    pages = pages_to_spark(spark, generate_corpus(40, seed=29))
    fused = KGPipeline(
        spark, str(tmp_path / "fus"), n_buckets=2, chunk_size=2, rank_iterations=2
    )
    fused.run_all(pages)

    # one row below the default dictionary: the same boundary the
    # dictionary_broadcast guard raises at
    monkeypatch.setattr(
        kg_fused, "FUSED_ALIAS_CEILING", len(build_alias_dict()) - 1
    )
    caplog.set_level(logging.INFO, logger="bertseyeview_spark.plans.kg")
    modular = KGPipeline(
        spark, str(tmp_path / "mod"), n_buckets=2, chunk_size=2, rank_iterations=2
    )
    modular.run_all(pages)
    assert [r["path"] for r in _plan_records(caplog)] == ["modular"]
    assert os.path.isdir(modular._path("mentions"))
    assert _triples(modular) == _triples(fused)


def test_modular_stage_releases_linked_cache(spark, tmp_path, cached_rdds):
    """The modular plan caches each chunk's linked mentions for their
    two consumers and releases every one of them: E2 then E3+E4 over
    three chunks leave no cached RDD behind."""
    pages = pages_to_spark(spark, generate_corpus(30, seed=31))
    pipe = KGPipeline(
        spark, str(tmp_path), n_buckets=3, chunk_size=1, rank_iterations=2
    )
    pipe.run_extract(pages)
    before = cached_rdds()
    pipe.run_mentions()
    pipe.run_link_and_stage_edges()
    assert len(pipe.lineage.done_buckets("edges_staging")) == 3
    assert cached_rdds() == before
