"""Incremental / streaming execution (SURVEY.md §2.9).

The reference has no true streaming — its manager polls PubMed every
2s-60s, diffs an id ledger, and integrates only new articles
(knowledge-graph-manager/__main__.py:1602-1641, ledger at :1356-1377).
The Spark-first equivalent is **incremental batch as Structured
Streaming**:

* :func:`incremental_kg_ingest` — ``readStream`` over the pages table
  directory with ``Trigger.AvailableNow`` (process everything new, then
  stop), ``foreachBatch`` running the page-local KG stages and
  appending edges; the streaming checkpoint directory IS the ledger —
  a restart resumes exactly after the last committed batch, the
  generalization of the reference's DOI ledger.
* :func:`windowed_event_counts` — watermarked tumbling-window
  aggregation (the standard late-data pattern).
* :func:`sessionize_stream` — session windows with a watermark.
* :func:`stateful_running_counts` — a custom stateful operator via
  ``applyInPandasWithState`` (per-key running aggregates that survive
  across micro-batches).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

PAGES_SCHEMA = T.StructType(
    [
        T.StructField("url", T.StringType(), False),
        T.StructField("warc_ts", T.TimestampType(), True),
        T.StructField("html", T.BinaryType(), True),
        T.StructField("text", T.StringType(), True),
        T.StructField("lang", T.StringType(), True),
    ]
)

EVENTS_SCHEMA = T.StructType(
    [
        T.StructField("event_id", T.LongType(), True),
        T.StructField("ts", T.TimestampType(), True),
        T.StructField("user_id", T.LongType(), True),
        T.StructField("event_type", T.StringType(), True),
        T.StructField("value", T.DoubleType(), True),
        T.StructField("props", T.StringType(), True),
    ]
)


def incremental_kg_ingest(
    spark: SparkSession,
    pages_dir: str,
    out_dir: str,
    alias_dict: DataFrame,
    keywords: list[str],
) -> None:
    """Process new page files since the last run, append their edges.

    ``Trigger.AvailableNow`` drains the backlog then stops — the
    scheduled-batch shape of the reference's poll loop. The streaming
    checkpoint gives exactly-once *file tracking*; end-to-end
    exactly-once additionally needs the sink write to be idempotent,
    so each micro-batch overwrites its own ``epoch=<id>`` partition —
    a replayed batch (crash after write, before checkpoint commit)
    rewrites the same directory instead of appending duplicates.

    Each micro-batch stages the edges of the batch's pages through the
    modular page-local builder (``plans/kg.modular_page_edges``), so
    the staged ``(src, rel, dst)`` set over all batches equals the batch
    builder's over the same pages, relation triples included.
    """
    from ..operators.extract import extract_text
    from ..operators.mentions import detect_mentions
    from ..plans.kg import modular_page_edges

    alias_list = [r["alias"] for r in alias_dict.select("alias").distinct().collect()]
    edges_path = os.path.join(out_dir, "edges_staging")
    ckpt = os.path.join(out_dir, "_checkpoint")

    def process(batch_df: DataFrame, epoch_id: int) -> None:
        if batch_df.isEmpty():
            return
        # extraction and NER feed several edge sources each: cached, or
        # their Python UDFs re-run once per consumer
        ext = extract_text(batch_df).persist()
        ments = detect_mentions(ext, alias_list, spark).persist()
        staged, linked = modular_page_edges(
            ext, ments, alias_dict, keywords, with_origin=False
        )
        # idempotent per-epoch commit: replays overwrite, never duplicate
        try:
            staged.write.mode("overwrite").parquet(
                os.path.join(edges_path, f"epoch={int(epoch_id)}")
            )
        finally:
            for c in (ext, ments, linked):
                c.unpersist()

    q = (
        spark.readStream.schema(PAGES_SCHEMA)
        .parquet(pages_dir)
        .writeStream.foreachBatch(process)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def stream_kg_maintenance(
    spark: SparkSession,
    pages_dir: str,
    pipeline,
    corpus_catalog,
    corpus_table: str = "pages",
) -> None:
    """Continuously maintain the FULL knowledge graph from a stream of
    crawl deltas — the streaming face of
    :meth:`~bertseyeview_spark.pipeline.KGPipeline.run_incremental`.

    Each micro-batch of pages (new or re-crawled urls) is MERGEd into
    the corpus snapshot table (Iceberg-style upsert by url), then the
    pipeline rebuilds ONLY the url-hash buckets the batch touched and
    re-runs the global pass. After every batch the nodes/edges tables
    equal a from-scratch ``run_all`` over the current corpus snapshot
    (the invariant run_incremental's tests pin).

    Exactly-once: the streaming checkpoint tracks which delta files
    were consumed; both downstream steps are idempotent — merge_into
    upserts by key (a replayed batch re-asserts the same rows) and the
    incremental rebuild rewrites whole bucket partitions — so a crash
    between sink write and checkpoint commit replays into the same
    state instead of duplicating.

    ``Trigger.AvailableNow`` drains the backlog and stops (the
    scheduled-crawl shape); swap for a processing-time trigger for a
    long-lived maintainer.
    """
    ckpt = os.path.join(pipeline.work_dir, "_maintenance_checkpoint")

    def process(batch_df: DataFrame, epoch_id: int) -> None:
        if batch_df.isEmpty():
            return
        # A batch may contain two crawls of the same url; the winner
        # must be DETERMINISTIC or a post-crash replay of the same
        # batch could upsert a different row and break the idempotent-
        # replay invariant (dropDuplicates keeps an arbitrary row).
        # Latest warc_ts wins (nulls lose); a hash over ALL non-key
        # columns breaks exact timestamp ties so the pick is stable at
        # any parallelism — hashing only text/html would leave rows
        # differing in another column (lang) arbitrarily ordered.
        non_key = [c for c in batch_df.columns if c not in ("url", "warc_ts")]
        w = Window.partitionBy("url").orderBy(
            F.desc_nulls_last("warc_ts"),
            F.desc(F.xxhash64(*[F.col(c) for c in non_key])),
        )
        batch = (
            batch_df.withColumn("_rn", F.row_number().over(w))
            .where(F.col("_rn") == 1)
            .drop("_rn")
        )
        corpus_catalog.merge_into(batch, corpus_table, keys=["url"])
        pipeline.run_incremental(
            corpus_catalog.read_table(corpus_table), batch.select("url")
        )

    q = (
        spark.readStream.schema(PAGES_SCHEMA)
        .parquet(pages_dir)
        .writeStream.foreachBatch(process)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def windowed_event_counts(
    events: DataFrame,
    window: str = "1 hour",
    watermark: str = "10 minutes",
) -> DataFrame:
    """Watermarked tumbling-window counts per event_type — works on a
    streaming OR batch DataFrame (same plan, Catalyst handles both)."""
    src = events
    if events.isStreaming:
        src = events.withWatermark("ts", watermark)
    return (
        src.groupBy(F.window("ts", window).alias("w"), "event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.round(F.sum("value"), 4).alias("sum_value"),
        )
        .select(F.col("w.start").alias("window_start"), "event_type", "n_events", "sum_value")
    )


def sessionize_stream(
    events: DataFrame, gap: str = "30 minutes", watermark: str = "30 minutes"
) -> DataFrame:
    src = events
    if events.isStreaming:
        src = events.withWatermark("ts", watermark)
    return (
        src.groupBy(F.session_window("ts", gap).alias("w"), "user_id")
        .agg(F.count("*").alias("n_events"), F.round(F.sum("value"), 4).alias("sum_value"))
        .select("user_id", F.col("w.start").alias("session_start"), "n_events", "sum_value")
    )


def dedup_stream(
    events: DataFrame,
    key_cols: list[str],
    ts_col: str = "ts",
    watermark: str = "10 minutes",
) -> DataFrame:
    """Streaming dedup: drop repeated keys arriving within the
    watermark horizon (``dropDuplicatesWithinWatermark``) — the
    bounded-state form of the ledger dedup for at-least-once upstream
    sources (duplicate deliveries cluster in time, so the state store
    only keys the current horizon instead of all history)."""
    return events.withWatermark(ts_col, watermark).dropDuplicatesWithinWatermark(
        key_cols
    )


_STATE_SCHEMA = "total long, total_value double"
_OUT_SCHEMA = "user_id long, total_events long, total_value double"


def _running_counts_fn(key, pdf_iter, state):
    """Per-user running totals kept in GroupState across micro-batches."""
    import pandas as pd

    if state.exists:
        total, total_value = state.get
    else:
        total, total_value = 0, 0.0
    for pdf in pdf_iter:
        total += len(pdf)
        total_value += float(pdf["value"].sum())
    state.update((total, total_value))
    # emit the RAW running double: rounding belongs to the consumer,
    # exactly once — per-update Python round() (banker's) composed with
    # a downstream SQL round can diverge from round(sum(value), d) at
    # half boundaries
    yield pd.DataFrame(
        {
            "user_id": [key[0]],
            "total_events": [total],
            "total_value": [total_value],
        }
    )


def stateful_running_counts(events: DataFrame) -> DataFrame:
    """Custom stateful streaming operator: per-user running event count
    and value sum via ``applyInPandasWithState`` (update mode)."""
    return events.groupBy("user_id").applyInPandasWithState(
        _running_counts_fn,
        outputStructType=_OUT_SCHEMA,
        stateStructType=_STATE_SCHEMA,
        outputMode="update",
        timeoutConf="NoTimeout",
    )
