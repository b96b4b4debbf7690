"""KG-construction pipeline orchestrator: E1..E7 with lineage + resume.

North-rule requirements implemented here:

* **Per-partition lineage + metrics**: the page corpus is split into
  ``n_buckets`` stable hash buckets (``pmod(xxhash64(url), n))`` — the
  same page lands in the same bucket at any parallelism). Each bucketed
  stage records one lineage row per completed bucket
  ``(stage, bucket, n_rows, wall_ms, status, ts)``.
* **Resume without recomputation**: a rerun reads the lineage ledger
  and anti-joins completed buckets — only pending buckets are
  processed. This generalizes the reference's integration ledger
  (DOI-list-all.csv diffing, knowledge-graph-manager/__main__.py:
  1356-1377, :1426-1429) from per-id to per-partition.
* **Checkpointed stage outputs**: every stage materializes to a
  parquet table partitioned by bucket (Iceberg in production — the
  local image has no Iceberg jars, so the table layer is parquet with
  identical layout; snapshot-commit semantics are documented, not
  emulated).

Stages E1-E4 are *page-local* (embarrassingly parallel, bucketable);
E5-E7 are global graph passes that run once after all buckets land.
"""

from __future__ import annotations

import json
import os
import time
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .operators import graph as G
from .operators import rank as R
from .operators.extract import extract_text
from .operators.mentions import detect_mentions
from .plans import kg, kg_fused


def bucket_expr(col: str, n_buckets: int):
    """Stable hash bucket, independent of partitioning/parallelism."""
    return F.pmod(F.xxhash64(F.col(col)), F.lit(n_buckets)).cast("int")


@dataclass
class Lineage:
    """Append-only JSONL ledger of completed (stage, bucket) work units."""

    path: str
    _done: set[tuple[str, int]] = field(default_factory=set)

    def __post_init__(self) -> None:
        if os.path.exists(self.path):
            with open(self.path) as f:
                for line in f:
                    row = json.loads(line)
                    if row.get("status") == "done":
                        self._done.add((row["stage"], row["bucket"]))
                    elif row.get("status") == "reset":
                        self._done.discard((row["stage"], row["bucket"]))

    def done_buckets(self, stage: str) -> set[int]:
        return {b for s, b in self._done if s == stage}

    def mark(self, stage: str, bucket: int, n_rows: int, wall_ms: float) -> None:
        row = {
            "stage": stage,
            "bucket": bucket,
            "n_rows": n_rows,
            "wall_ms": round(wall_ms, 1),
            "status": "done",
            "ts": time.time(),
        }
        with open(self.path, "a") as f:
            f.write(json.dumps(row) + "\n")
        self._done.add((stage, bucket))

    def reset(self, stage: str, buckets: list[int]) -> None:
        """Append tombstones un-marking (stage, bucket) pairs so the
        next stage run reprocesses them — the ledger stays append-only
        (history is auditable; replay applies marks and resets in
        order, same as Iceberg's append-only snapshot log)."""
        with open(self.path, "a") as f:
            for b in buckets:
                f.write(
                    json.dumps(
                        {
                            "stage": stage,
                            "bucket": b,
                            "status": "reset",
                            "ts": time.time(),
                        }
                    )
                    + "\n"
                )
                self._done.discard((stage, b))

    def rows(self) -> list[dict]:
        out = []
        if os.path.exists(self.path):
            with open(self.path) as f:
                out = [json.loads(line) for line in f]
        return out


class KGPipeline:
    """Orchestrates pages -> triples with bucket-level resume.

    ``chunk_size`` buckets are processed per Spark job; a crash between
    chunks loses at most one chunk's work, and the rerun skips every
    bucket already marked done.
    """

    def __init__(
        self,
        spark: SparkSession,
        work_dir: str,
        n_buckets: int = 8,
        chunk_size: int = 4,
        keywords: list[str] | None = None,
        alias_dict: DataFrame | None = None,
        curation_rules: DataFrame | None = None,
        rank_iterations: int = 20,
    ) -> None:
        self.spark = spark
        self.work_dir = work_dir
        os.makedirs(work_dir, exist_ok=True)
        self.n_buckets = n_buckets
        self.chunk_size = chunk_size
        self.alias_dict, self.curation_rules, self.keywords = kg.kg_inputs(
            spark, alias_dict, curation_rules, keywords
        )
        self.rank_iterations = rank_iterations
        self.lineage = Lineage(os.path.join(work_dir, "lineage.jsonl"))
        # the page-local plan, picked once per pipeline from the
        # dictionary pull (plans/kg.page_local_plan); the pulled table
        # waits for run_fused_stage_edges to broadcast it
        self._plan, self._dictionary = kg.page_local_plan(self.alias_dict)

    # ---------------- storage helpers ----------------

    def _path(self, stage: str) -> str:
        return os.path.join(self.work_dir, stage)

    def _read(self, stage: str) -> DataFrame:
        return self.spark.read.parquet(self._path(stage))

    def _append_chunk(self, stage: str, df: DataFrame) -> None:
        """Idempotent chunk commit: dynamic partition overwrite replaces
        exactly the bucket partitions this chunk produced. Every stage
        partitions by the *input-derived* bucket (page-url hash), so a
        chunk owns its partitions outright — a crash between this write
        and the lineage mark makes the rerun rewrite the same partitions
        byte-for-byte instead of appending duplicates (exactly-once
        resume without a commit protocol)."""
        (
            df.write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("bucket")
            .parquet(self._path(stage))
        )

    # ---------------- bucketed stage runner ----------------

    def _run_bucketed_stage(
        self, stage: str, build_fn, fail_after_chunks: int | None = None
    ) -> None:
        """Run ``build_fn(pending_bucket_subset) -> DataFrame-with-bucket``
        over pending buckets in chunks, appending output + lineage.

        ``fail_after_chunks`` injects a crash for the resume test.
        """
        done = self.lineage.done_buckets(stage)
        pending = [b for b in range(self.n_buckets) if b not in done]
        chunks = [
            pending[i : i + self.chunk_size]
            for i in range(0, len(pending), self.chunk_size)
        ]
        for ci, chunk in enumerate(chunks):
            if fail_after_chunks is not None and ci >= fail_after_chunks:
                raise RuntimeError(f"injected failure before chunk {ci} of {stage}")
            t0 = time.time()
            out = build_fn(chunk)
            self._append_chunk(stage, out)
            wall = (time.time() - t0) * 1000
            # per-bucket metrics from the committed files (cheap columnar
            # count — partition pruning reads only this chunk's bucket
            # directories, which the chunk owns outright since every
            # stage buckets by input page, so counts are exact)
            counts = {
                r["bucket"]: r["n"]
                for r in self.spark.read.parquet(self._path(stage))
                .where(F.col("bucket").isin(chunk))
                .groupBy("bucket")
                .agg(F.count("*").alias("n"))
                .collect()
            }
            for b in chunk:
                self.lineage.mark(stage, b, int(counts.get(b, 0)), wall / len(chunk))

    # ---------------- stages ----------------

    def run_extract(self, pages: DataFrame, fail_after_chunks: int | None = None) -> None:
        """E1: html -> text + links, bucketed."""
        src = pages.withColumn("bucket", bucket_expr("url", self.n_buckets))

        def build(chunk: list[int]) -> DataFrame:
            subset = src.where(F.col("bucket").isin(chunk))
            ext = extract_text(subset.select("url", "warc_ts", "html", "lang"))
            return ext.withColumn("bucket", bucket_expr("url", self.n_buckets))

        self._run_bucketed_stage("extract", build, fail_after_chunks)

    def run_mentions(self, fail_after_chunks: int | None = None) -> None:
        """E2: dictionary NER over extracted text, bucketed."""
        ext = self._read("extract")
        alias_list = [
            r["alias"] for r in self.alias_dict.select("alias").distinct().collect()
        ]

        def build(chunk: list[int]) -> DataFrame:
            subset = ext.where(F.col("bucket").isin(chunk))
            m = detect_mentions(subset, alias_list, self.spark)
            return m.withColumn("bucket", bucket_expr("url", self.n_buckets))

        self._run_bucketed_stage("mentions", build, fail_after_chunks)

    def run_link_and_stage_edges(self, fail_after_chunks: int | None = None) -> None:
        """E3+E4 (``plans/kg.modular_page_edges``): link mentions and
        emit the page-local edge staging table (citing, contains,
        has_named_entity, relation triples), bucketed. Each chunk's
        linked mentions are cached for their two consumers and released
        once the chunk's write has landed, when the next chunk is built
        or the stage ends."""
        ext = self._read("extract")
        men = self._read("mentions")
        linked = None

        def build(chunk: list[int]) -> DataFrame:
            nonlocal linked
            if linked is not None:
                linked.unpersist()
            staged, linked = kg.modular_page_edges(
                ext.where(F.col("bucket").isin(chunk)),
                men.where(F.col("bucket").isin(chunk)).drop("bucket"),
                self.alias_dict,
                self.keywords,
                with_origin=True,
            )
            # bucket by originating page: the chunk owns exactly the
            # input buckets it processed (idempotent overwrite + exact
            # per-bucket lineage counts)
            return staged.withColumn(
                "bucket", bucket_expr("origin_url", self.n_buckets)
            )

        try:
            self._run_bucketed_stage("edges_staging", build, fail_after_chunks)
        finally:
            if linked is not None:
                linked.unpersist()

    def run_fused_stage_edges(
        self, pages: DataFrame, fail_after_chunks: int | None = None
    ) -> None:
        """E2-E4 as the single-Arrow-pass plan (plans/kg_fused.py): the
        staged edge table straight from pages, bucketed for resume — the
        same table run_mentions + run_link_and_stage_edges build.
        run_all and run_incremental take this path while the alias
        dictionary fits the fused plan's broadcast ceiling. The
        dictionary is broadcast once per stage run, on its first pending
        chunk, from the table the constructor's plan probe pulled (a
        later stage run pulls it again), and released when the stage
        ends.
        The extract stage still runs separately — its checkpointed text
        is the byte-identity oracle and the corpus-url set;
        canonicalization and corpus filtering happen in run_global."""
        src = pages.withColumn("bucket", bucket_expr("url", self.n_buckets))
        dictionary = None

        def build(chunk: list[int]) -> DataFrame:
            nonlocal dictionary
            if dictionary is None:
                pulled = self._dictionary
                self._dictionary = None
                dictionary = kg_fused.dictionary_broadcast(
                    self.spark,
                    self.alias_dict if pulled is None else pulled,
                    self.keywords,
                )
            subset = src.where(F.col("bucket").isin(chunk)).drop("bucket")
            staged = kg_fused.fused_page_edges(subset, dictionary, with_origin=True)
            # bucket by originating page (see run_link_and_stage_edges)
            return staged.withColumn(
                "bucket", bucket_expr("origin_url", self.n_buckets)
            )

        try:
            self._run_bucketed_stage("edges_staging", build, fail_after_chunks)
        finally:
            if dictionary is not None:
                dictionary.destroy()

    def run_global(self) -> dict[str, DataFrame]:
        """E5-E7: the global pass (``plans/kg.global_edges``),
        materialize nodes/edges, rank. Global single-shot stages
        (stage-level lineage via directory presence)."""
        edges = kg.global_edges(
            self.spark,
            self._read("edges_staging"),
            self._read("extract"),
            self.alias_dict,
            self.curation_rules,
        )
        edges.write.mode("overwrite").parquet(self._path("edges"))
        edges = self._read("edges")

        # node properties accreted from page metadata (reference SET
        # semantics): lang, crawl timestamp, text length
        page_meta = self._read("extract").select(
            "url",
            "lang",
            F.col("warc_ts").cast("string").alias("warc_ts"),
            F.length("text").alias("n_chars"),
        )
        nodes = G.derive_nodes(edges, page_meta=page_meta)
        ranks = R.article_rank(
            edges.where(F.col("rel") == "citing").select("src", "dst"),
            iterations=self.rank_iterations,
        )
        nodes_ranked = R.attach_rank(nodes, ranks)
        nodes_ranked.write.mode("overwrite").partitionBy("label").parquet(
            self._path("nodes")
        )
        return {"edges": edges, "nodes": self._read("nodes")}

    def _run_page_local(self, pages: DataFrame) -> None:
        if self._plan == "fused":
            self.run_fused_stage_edges(pages)
        else:
            self.run_mentions()
            self.run_link_and_stage_edges()

    def run_all(self, pages: DataFrame) -> dict[str, DataFrame]:
        """E1-E7 over ``pages``. The page-local stages run as the fused
        single-Arrow pass (2 bucketed stages) while the alias dictionary
        fits its broadcast ceiling, and as the modular mentions ->
        link/stage chain (3 bucketed stages) above it."""
        self.run_extract(pages)
        self._run_page_local(pages)
        return self.run_global()

    def run_incremental(
        self, pages: DataFrame, changed_urls: DataFrame
    ) -> dict[str, DataFrame]:
        """Apply a page-level changelog to an already-built KG.

        ``pages`` is the FULL new corpus snapshot; ``changed_urls`` is
        a one-column (url) frame naming every inserted, updated, or
        deleted page — exactly what ``TableCatalog.snapshot_diff``
        emits between two corpus snapshots. Only the url-hash buckets
        containing changed pages are recomputed: their lineage marks
        are tombstoned, their partitions dropped (deleted pages simply
        aren't in the rebuilt partition — so deletions need no special
        path), and the bucketed stage runners of the page-local plan
        ``run_all`` picks re-run, which skip every untouched bucket.
        The global pass (canonicalize -> corpus filter -> rank) then
        re-runs over the stitched staging tables. The result is
        byte-identical to ``run_all`` on the new corpus (asserted in
        tests), and a crash mid-update resumes like any other run.

        This is the 10^12-document maintenance story (north rule:
        resumable, per-partition lineage): a crawl delta touches a
        vanishing fraction of url buckets, so the per-page Arrow
        extraction — the dominant cost — runs only over delta buckets,
        while the global graph passes operate on the much smaller edge
        tables. The partition drop is a local-FS stand-in for Iceberg's
        metadata-only partition rewrite driven by a changelog scan.
        """
        import shutil

        # NULL urls need no special-casing: xxhash64(NULL) is the
        # seed constant 42 (verified), so bucket_expr maps a NULL url
        # to the SAME fixed bucket the stage runners place null-url
        # pages in — filtering nulls here would silently skip
        # rebuilding exactly that bucket and break run_all-equivalence
        affected = sorted(
            r["b"]
            for r in changed_urls.select(
                bucket_expr("url", self.n_buckets).alias("b")
            )
            .distinct()
            .collect()
        )
        if not affected:
            return {"edges": self._read("edges"), "nodes": self._read("nodes")}
        stages = (
            ["extract", "edges_staging"]
            if self._plan == "fused"
            else ["extract", "mentions", "edges_staging"]
        )
        for stage in stages:
            self.lineage.reset(stage, affected)
            for b in affected:
                pdir = os.path.join(self._path(stage), f"bucket={b}")
                if os.path.isdir(pdir):
                    shutil.rmtree(pdir)
        self.run_extract(pages)
        self._run_page_local(pages)
        return self.run_global()

    # ---------------- outputs ----------------

    def triples(self) -> DataFrame:
        """The scored (subj, pred, obj) set == the edges table."""
        return self._read("edges").select(
            F.col("src").alias("subj"),
            F.col("rel").alias("pred"),
            F.col("dst").alias("obj"),
        )

    def verify_extraction(self, pages: DataFrame) -> int:
        """Byte-identity check of extracted text per url vs the oracle
        ``text`` column on pages; returns mismatch count (must be 0)."""
        ext = self._read("extract").select("url", F.col("text").alias("got"))
        exp = pages.select("url", F.col("text").alias("want"))
        return (
            exp.join(ext, "url", "left")
            .where(
                F.col("got").isNull() | (F.col("got") != F.col("want"))
            )
            .count()
        )
