"""Incremental KG maintenance: applying a page-level changelog to an
already-built graph must be byte-identical to a full rebuild on the new
corpus (the 10^12-doc maintenance invariant — only delta url-buckets
re-run the expensive per-page extraction)."""

import pandas as pd
import pytest
from pyspark.sql import functions as F

from bertseyeview_spark.datagen import generate_corpus, pages_to_spark
from bertseyeview_spark.pipeline import KGPipeline, bucket_expr
from bertseyeview_spark.plans import kg_fused
from bertseyeview_spark.sources.catalog import TableCatalog


def _triples(pipe):
    return {
        (r["subj"], r["pred"], r["obj"]) for r in pipe.triples().collect()
    }


def _extract_rows(pipe):
    return {
        (r["url"], r["text"])
        for r in pipe._read("extract").select("url", "text").collect()
    }


@pytest.mark.parametrize("fused", [False, True])
def test_incremental_equals_full_rebuild(spark, tmp_path, monkeypatch, fused):
    if not fused:
        # a ceiling below the default dictionary's 27 rows makes the
        # pipeline dispatch to the modular plan
        monkeypatch.setattr(kg_fused, "FUSED_ALIAS_CEILING", 0)
    corpus = generate_corpus(120, seed=5)
    pages_v1 = pages_to_spark(spark, corpus).cache()

    # v2: delete EVERY page of one bucket (stale-partition case) plus a
    # few scattered urls, rewrite the content of 8 pages, insert 15 new
    bucket3 = {
        r["url"]
        for r in pages_v1.select(
            "url", bucket_expr("url", 8).alias("b")
        ).where(F.col("b") == 3).collect()
    }
    all_urls = [r["url"] for r in pages_v1.select("url").collect()]
    deleted = bucket3 | set(sorted(set(all_urls) - bucket3)[:4])
    survivors = sorted(set(all_urls) - deleted)
    updated = survivors[:8]

    pdf = corpus.pages.set_index("url", drop=False)
    donor = generate_corpus(8, seed=77).pages
    for i, u in enumerate(updated):
        for col in ("html", "text"):
            pdf.at[u, col] = donor.iloc[i][col]
    pdf = pdf[~pdf["url"].isin(deleted)]
    ins = generate_corpus(15, seed=99).pages.copy()
    ins["url"] = [f"https://example.org/new/{i:04d}" for i in range(len(ins))]
    pdf_v2 = pd.concat([pdf.reset_index(drop=True), ins], ignore_index=True)

    pages_v2 = pages_to_spark(spark, pdf_v2).cache()
    changed = spark.createDataFrame(
        [(u,) for u in sorted(deleted) + list(updated)]
        + [(u,) for u in ins["url"]],
        "url string",
    )

    wd_inc = str(tmp_path / "inc")
    pipe = KGPipeline(spark, wd_inc, n_buckets=8, chunk_size=4)
    pipe.run_all(pages_v1)
    t1 = _triples(pipe)
    pipe.run_incremental(pages_v2, changed)

    wd_full = str(tmp_path / "full")
    pipe_full = KGPipeline(spark, wd_full, n_buckets=8, chunk_size=4)
    pipe_full.run_all(pages_v2)

    assert _triples(pipe) == _triples(pipe_full)
    assert _triples(pipe) != t1  # the update actually changed the graph
    assert _extract_rows(pipe) == _extract_rows(pipe_full)
    # deleted pages are gone from the corpus/extract table
    got_urls = {u for u, _ in _extract_rows(pipe)}
    assert not (got_urls & deleted)
    assert set(ins["url"]) <= got_urls
    # lineage shows exactly the affected buckets re-done (tombstone +
    # fresh done mark), untouched buckets have a single done mark
    rows = pipe.lineage.rows()
    resets = {
        (r["stage"], r["bucket"]) for r in rows if r["status"] == "reset"
    }
    affected = {
        r["b"]
        for r in changed.select(bucket_expr("url", 8).alias("b"))
        .distinct()
        .collect()
    }
    assert resets == {
        (s, b)
        for s in (
            ["extract", "edges_staging"]
            if fused
            else ["extract", "mentions", "edges_staging"]
        )
        for b in affected
    }


def test_incremental_noop_changelog(spark, tmp_path):
    corpus = generate_corpus(40, seed=3)
    pages = pages_to_spark(spark, corpus)
    pipe = KGPipeline(spark, str(tmp_path / "wd"), n_buckets=4, chunk_size=4)
    pipe.run_all(pages)
    before = _triples(pipe)
    out = pipe.run_incremental(
        pages, spark.createDataFrame([], "url string")
    )
    assert {"edges", "nodes"} <= set(out)
    assert _triples(pipe) == before


def test_incremental_from_catalog_changelog(spark, tmp_path):
    """End-to-end with the Iceberg-shaped catalog: commit pages v1/v2,
    derive the changelog via snapshot_diff, feed it to the pipeline."""
    corpus = generate_corpus(60, seed=9)
    pages_v1 = pages_to_spark(spark, corpus)
    cat = TableCatalog(spark, str(tmp_path / "wh"))
    cat.write_table(pages_v1, "pages")

    # v2: drop 5 urls, rewrite 3
    urls = sorted(r["url"] for r in pages_v1.select("url").collect())
    deleted, updated = set(urls[:5]), urls[5:8]
    donor = generate_corpus(3, seed=21).pages
    pdf = corpus.pages.set_index("url", drop=False)
    for i, u in enumerate(updated):
        for col in ("html", "text"):
            pdf.at[u, col] = donor.iloc[i][col]
    pdf = pdf[~pdf["url"].isin(deleted)].reset_index(drop=True)

    pages_v2 = pages_to_spark(spark, pdf)
    cat.write_table(pages_v2, "pages")

    changed = cat.snapshot_diff("pages", 1, 2, keys=["url"]).select("url")
    assert changed.count() == len(deleted) + len(updated)

    pipe = KGPipeline(spark, str(tmp_path / "wd"), n_buckets=4, chunk_size=4)
    pipe.run_all(cat.read_table("pages", version=1))
    pipe.run_incremental(cat.read_table("pages", version=2), changed)

    pipe_full = KGPipeline(
        spark, str(tmp_path / "wd_full"), n_buckets=4, chunk_size=4
    )
    pipe_full.run_all(pages_v2)
    assert _triples(pipe) == _triples(pipe_full)


def test_stream_kg_maintenance_matches_full_rebuild(spark, tmp_path):
    """Streaming crawl deltas -> merged corpus snapshot -> incremental
    graph maintenance; after draining, the graph equals run_all over
    the merged corpus."""
    import os

    from bertseyeview_spark.streaming.incremental import stream_kg_maintenance

    c1 = generate_corpus(50, seed=13)
    pages1 = pages_to_spark(spark, c1)
    # delta: re-crawl 5 pages with new content + 10 brand-new urls
    urls = sorted(r["url"] for r in pages1.select("url").collect())
    donor = generate_corpus(5, seed=31).pages
    pdf = c1.pages.set_index("url", drop=False)
    for i, u in enumerate(urls[:5]):
        for col in ("html", "text"):
            pdf.at[u, col] = donor.iloc[i][col]
    recrawled = pdf.loc[urls[:5]].reset_index(drop=True)
    newpages = generate_corpus(10, seed=47).pages.copy()
    newpages["url"] = [f"https://example.org/live/{i:04d}" for i in range(10)]

    stream_dir = str(tmp_path / "deltas")
    pages_to_spark(spark, c1.pages).coalesce(1).write.mode("append").parquet(
        stream_dir
    )

    cat = TableCatalog(spark, str(tmp_path / "wh"))
    pipe = KGPipeline(spark, str(tmp_path / "wd"), n_buckets=4, chunk_size=4)
    # drain batch 0 (bootstrap: full build through the same code path)
    stream_kg_maintenance(spark, stream_dir, pipe, cat)
    boot = _triples(pipe)
    assert boot  # bootstrap produced a graph

    # drop the delta files and drain again (checkpoint skips batch0)
    import pandas as pd

    pages_to_spark(
        spark, pd.concat([recrawled, newpages], ignore_index=True)
    ).coalesce(1).write.mode("append").parquet(stream_dir)
    stream_kg_maintenance(spark, stream_dir, pipe, cat)

    merged = pd.concat(
        [pdf[~pdf["url"].isin(set(newpages["url"]))], newpages],
        ignore_index=True,
    )
    pipe_full = KGPipeline(
        spark, str(tmp_path / "wd_full"), n_buckets=4, chunk_size=4
    )
    pipe_full.run_all(pages_to_spark(spark, merged))
    assert _triples(pipe) == _triples(pipe_full)
    assert _triples(pipe) != boot
    # corpus snapshot reflects the merge: 60 urls, recrawls updated
    assert cat.read_table("pages").count() == 60


def test_stream_batch_duplicate_url_latest_crawl_wins(spark, tmp_path):
    """A micro-batch with two crawls of the same url must upsert the
    LATEST (by warc_ts) deterministically — dropDuplicates would keep
    an arbitrary row, so a post-crash replay could pick a different
    winner and break the idempotent-replay invariant."""
    import pandas as pd

    from bertseyeview_spark.streaming.incremental import stream_kg_maintenance

    c1 = generate_corpus(10, seed=3)
    base = c1.pages
    url = sorted(base["url"])[0]
    old = base[base["url"] == url].copy()
    new = old.copy()
    old["warc_ts"] = pd.Timestamp("2025-01-01")
    old["text"] = "stale crawl body"
    new["warc_ts"] = pd.Timestamp("2025-06-01")
    # one batch directory holding base + BOTH crawls of `url`
    batch = pd.concat(
        [base[base["url"] != url], new, old], ignore_index=True
    )
    stream_dir = str(tmp_path / "deltas")
    pages_to_spark(spark, batch).coalesce(1).write.mode("append").parquet(
        stream_dir
    )
    cat = TableCatalog(spark, str(tmp_path / "wh"))
    pipe = KGPipeline(spark, str(tmp_path / "wd"), n_buckets=4, chunk_size=4)
    stream_kg_maintenance(spark, stream_dir, pipe, cat)
    rows = cat.read_table("pages").where(f"url = '{url}'").collect()
    assert len(rows) == 1
    assert rows[0]["text"] != "stale crawl body"
    assert str(rows[0]["warc_ts"]).startswith("2025-06-01")


def test_run_incremental_null_url_consistent_bucket(spark, tmp_path):
    """A NULL url in the changed-url set maps to the fixed bucket
    pmod(xxhash64(NULL)=42, n) — the same bucket the stage runners
    place null-url pages in — so the rebuild is consistent (and an
    unchanged corpus stays byte-identical)."""
    from pyspark.sql import functions as F

    from bertseyeview_spark.pipeline import bucket_expr

    # pin the premise: xxhash64(NULL) is a constant, never NULL
    b = (
        spark.createDataFrame([(None,)], "url string")
        .select(bucket_expr("url", 4).alias("b"))
        .collect()[0]["b"]
    )
    assert b == int(
        spark.range(1).select(F.pmod(F.xxhash64(F.lit(None).cast("string")), F.lit(4))).collect()[0][0]
    )
    c1 = generate_corpus(12, seed=5)
    pages = pages_to_spark(spark, c1.pages)
    pipe = KGPipeline(spark, str(tmp_path / "wd"), n_buckets=4, chunk_size=4)
    pipe.run_all(pages)
    before = _triples(pipe)
    changed = spark.createDataFrame([(None,)], "url string")
    out = pipe.run_incremental(pages, changed)
    assert out is not None
    assert _triples(pipe) == before
