"""Structured Streaming: incremental ingest exactly-once, windowed aggs
on a stream == batch, stateful running counts across micro-batches."""

import os

import pytest
from pyspark.sql import functions as F

from bertseyeview_spark.datagen import (
    alias_dict_to_spark,
    build_alias_dict,
    generate_corpus,
    pages_to_spark,
)
from bertseyeview_spark.operators.extract import extract_text
from bertseyeview_spark.operators.mentions import detect_mentions
from bertseyeview_spark.plans.kg import modular_page_edges
from bertseyeview_spark.streaming import incremental as S


def test_incremental_ingest_exactly_once(spark, tmp_path):
    pages_dir = str(tmp_path / "pages")
    out_dir = str(tmp_path / "out")
    corpus = generate_corpus(60, seed=5)
    pdf = corpus.pages
    alias = alias_dict_to_spark(spark, corpus.alias_dict)
    kw = ["therapy", "biomarker"]

    # first drop: 30 pages
    pages_to_spark(spark, pdf.iloc[:30]).coalesce(1).write.mode("append").parquet(pages_dir)
    S.incremental_kg_ingest(spark, pages_dir, out_dir, alias, kw)
    edges1 = spark.read.parquet(os.path.join(out_dir, "edges_staging"))
    n1 = edges1.count()
    # the first drop's page urls (relation triples have entity ids as
    # src, and one triple can come from a page in each drop)
    urls1 = sorted(pdf.iloc[:30]["url"])
    assert n1 > 0

    # rerun with no new data: nothing reprocessed (checkpoint = ledger)
    S.incremental_kg_ingest(spark, pages_dir, out_dir, alias, kw)
    assert spark.read.parquet(os.path.join(out_dir, "edges_staging")).count() == n1

    # second drop: remaining 30 pages -> only the delta is integrated
    pages_to_spark(spark, pdf.iloc[30:]).coalesce(1).write.mode("append").parquet(pages_dir)
    S.incremental_kg_ingest(spark, pages_dir, out_dir, alias, kw)
    edges2 = spark.read.parquet(os.path.join(out_dir, "edges_staging"))
    assert edges2.count() > n1
    # no duplicated first-batch edges
    first_batch_again = edges2.where(F.col("src").isin(urls1[:5])).groupBy(
        "src", "rel", "dst"
    ).count().where(F.col("count") > 1)
    assert first_batch_again.count() == 0

    # the staged edges are the batch page-local builder's over all 60
    # pages, relation triples included
    ext = extract_text(pages_to_spark(spark, pdf))
    batch, linked = modular_page_edges(
        ext,
        detect_mentions(ext, list(corpus.alias_dict["alias"]), spark),
        alias,
        kw,
        with_origin=False,
    )
    want = {tuple(r) for r in batch.collect()}
    linked.unpersist()
    assert {rel for _, rel, _ in want} - {"citing", "contains", "has_named_entity"}
    got = {tuple(r) for r in edges2.select("src", "rel", "dst").collect()}
    assert got == want


def test_windowed_counts_stream_equals_batch(spark, sf_dir, tmp_path):
    # the file stream source needs a directory — stage the table
    events_dir = str(tmp_path / "events")
    spark.read.parquet(f"{sf_dir}/events.parquet").write.parquet(events_dir)
    batch = spark.read.parquet(events_dir)
    want = {
        (str(r["window_start"]), r["event_type"]): (r["n_events"], r["sum_value"])
        for r in S.windowed_event_counts(batch).collect()
    }

    stream = spark.readStream.schema(S.EVENTS_SCHEMA).parquet(events_dir)
    q = (
        S.windowed_event_counts(stream)
        .writeStream.outputMode("complete")
        .format("memory")
        .queryName("win_out")
        .option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = {
        (str(r["window_start"]), r["event_type"]): (r["n_events"], r["sum_value"])
        for r in spark.sql("SELECT * FROM win_out").collect()
    }
    assert got == want


def test_stateful_running_counts(spark, tmp_path):
    import datetime as dt

    rows = [
        (1, dt.datetime(2024, 1, 1, 0, 0), 7, "click", 1.0, None),
        (2, dt.datetime(2024, 1, 1, 0, 1), 7, "view", 2.5, None),
        (3, dt.datetime(2024, 1, 1, 0, 2), 9, "click", 4.0, None),
    ]
    src_dir = str(tmp_path / "ev")
    spark.createDataFrame(rows, S.EVENTS_SCHEMA).coalesce(1).write.parquet(src_dir)
    stream = spark.readStream.schema(S.EVENTS_SCHEMA).parquet(src_dir)
    q = (
        S.stateful_running_counts(stream)
        .writeStream.outputMode("update")
        .format("memory")
        .queryName("state_out")
        .option("checkpointLocation", str(tmp_path / "ck2"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = {r["user_id"]: (r["total_events"], r["total_value"]) for r in
           spark.sql("SELECT * FROM state_out").collect()}
    assert got == {7: (2, 3.5), 9: (1, 4.0)}


def test_dedup_stream_within_watermark(spark, tmp_path):
    import datetime as dt

    rows = [
        (1, dt.datetime(2024, 1, 1, 0, 0), 7, "click", 1.0, None),
        (1, dt.datetime(2024, 1, 1, 0, 1), 7, "click", 1.0, None),  # dup id
        (2, dt.datetime(2024, 1, 1, 0, 2), 9, "view", 2.0, None),
        (2, dt.datetime(2024, 1, 1, 0, 2), 9, "view", 2.0, None),   # dup id
        (3, dt.datetime(2024, 1, 1, 0, 3), 7, "view", 3.0, None),
    ]
    src_dir = str(tmp_path / "ev3")
    spark.createDataFrame(rows, S.EVENTS_SCHEMA).coalesce(1).write.parquet(src_dir)
    stream = spark.readStream.schema(S.EVENTS_SCHEMA).parquet(src_dir)
    q = (
        S.dedup_stream(stream, ["event_id"], watermark="10 minutes")
        .writeStream.outputMode("append")
        .format("memory")
        .queryName("dedup_out")
        .option("checkpointLocation", str(tmp_path / "ck3"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = sorted(
        r["event_id"] for r in spark.sql("SELECT * FROM dedup_out").collect()
    )
    assert got == [1, 2, 3]
