"""One process-isolated scaling worker: a single-core SparkSession that
processes a disjoint bucket shard of the shared corpus through the fused
KG plan and reports wall/triples/multiset-hash as one JSON line.

Invoked by tools/bench_scaling_sharded.py, N workers concurrently —
each worker is its own JVM with its own memory bandwidth accounting,
the closest sandbox analogue to adding executors to a cluster.
"""

from __future__ import annotations

import json
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

# one BLAS thread per worker: this process IS one core of the modeled
# cluster; multithreaded numpy across N concurrent workers
# oversubscribes the box and anti-scales (same pin session.py applies)
for _v in ("OMP_NUM_THREADS", "OPENBLAS_NUM_THREADS", "MKL_NUM_THREADS"):
    os.environ[_v] = "1"


def main() -> int:
    corpus_path = sys.argv[1]
    shard_ids = [int(x) for x in sys.argv[2].split(",")]
    ner_layers = int(sys.argv[3])
    out_path = sys.argv[4]
    # passes > 1: process the shard K times and report total
    # pages/wall. After the r5 scorer optimizations a single pass over
    # a sandbox-generatable corpus finishes in seconds and fixed
    # per-job costs (scan/plan/agg) would dominate the ratio; repeating
    # the identical workload measures steady-state throughput — every
    # pass re-executes the full plan including the Arrow UDF, and the
    # triple multiset is asserted identical across passes.
    passes = int(sys.argv[5]) if len(sys.argv) > 5 else 1

    from pyspark.sql import SparkSession
    from pyspark.sql import functions as F

    from bertseyeview_spark.plans.kg import kg_inputs
    from bertseyeview_spark.plans.kg_fused import dictionary_broadcast, fused_page_edges

    spark = (
        SparkSession.builder.master("local[1]")
        .appName(f"scale_worker_{shard_ids[0]}")
        .config("spark.sql.shuffle.partitions", "1")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", "6g")
        # the timed mega-job unions `passes` copies of one subtree;
        # exchange/subquery reuse would execute the shared
        # dropDuplicates exchange ONCE and hand every branch the
        # cached result (observed: a 12-pass run timing like 1 pass),
        # silently measuring nothing — force every branch to execute
        .config("spark.sql.exchange.reuse", "false")
        .config("spark.sql.execution.reuseSubquery", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    # untimed warmup, same convention as bench.py: the first job pays
    # whole-stage-codegen JIT + Python/Arrow worker startup (~6-8s on
    # this host), which long-lived production executors amortize to
    # zero. After the r5 scorer optimizations the real shard work is
    # small enough that cold-start would otherwise dominate the wall
    # and the measured "scaling" would be JVM boot, not data
    # processing (the same reason launch_wall is excluded).
    from bertseyeview_spark.datagen import generate_corpus, pages_to_spark

    alias_dict, _, keywords = kg_inputs(spark)
    dictionary = dictionary_broadcast(
        spark, alias_dict, keywords, ner_scorer_layers=ner_layers
    )
    warm = pages_to_spark(spark, generate_corpus(200, seed=1))
    fused_page_edges(warm, dictionary, with_origin=True).write.format(
        "noop"
    ).mode("overwrite").save()

    pages = spark.read.parquet(corpus_path).where(
        F.col("bucket").isin(shard_ids)
    )
    # page-local output (with_origin) so the triple multiset is
    # sharding-invariant: dedup scope is one page, not one shard
    triples = fused_page_edges(pages, dictionary, with_origin=True).toDF(
        "subj", "pred", "obj", "origin_url"
    )
    hash_agg = [
        F.count("*").alias("n"),
        F.sum(
            F.xxhash64("subj", "pred", "obj", "origin_url").cast(
                "decimal(38,0)"
            )
        ).alias("hsum"),
    ]
    # untimed identity pass: the per-pass triple multiset compared
    # across workers, configurations, and rounds (also extra warmup)
    agg = triples.agg(*hash_agg).collect()[0]
    n_pages = pages.count()

    # timed steady-state measurement: ONE job whose plan unions
    # `passes` copies of the triple subtree — union branches are
    # executed independently, so the full pipeline (including the
    # Arrow UDF) runs `passes` times inside a single job and the
    # per-job fixed costs (plan, scheduling, agg) are paid once.
    # Timing K separate jobs instead would re-pay those fixed costs
    # per pass, which at 8 workers x small shards would measure job
    # overhead, not processing.
    big = triples
    for _ in range(passes - 1):
        big = big.unionAll(triples)
    t0 = time.time()
    tot = big.agg(*hash_agg).collect()[0]
    wall = time.time() - t0
    spark.stop()

    if int(tot["n"]) != passes * int(agg["n"]) or int(tot["hsum"]) != passes * int(
        agg["hsum"]
    ):
        raise RuntimeError("triple multiset differed across passes")

    with open(out_path, "w") as f:
        json.dump(
            {
                "shards": shard_ids,
                "pages": n_pages * passes,
                "pages_distinct": n_pages,
                "passes": passes,
                "triples": int(agg["n"]),
                "hash_sum": str(int(agg["hsum"])),
                "wall": wall,
            },
            f,
        )
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
