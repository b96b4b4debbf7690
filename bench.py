"""Benchmark harness (driver contract).

Runs the headline queries at ``$SPARK_GRAFT_SF_DIR`` (default
/root/testdata/sf0.1) on ``local[$SPARK_GRAFT_CPUS]`` and prints ONE
JSON line::

    {"metric": "headline_total_sec", "value": N, "unit": "sec",
     "queries": {...per-query sec...}, "sf": ...,
     "extras": {"kg_pages": n, "kg_triples": n, "kg_triples_per_sec": r}}

Variance guard: every headline query runs ``$BENCH_REPS`` times
(default 2) at the bench SF; ``queries`` reports the per-query BEST
(steady-state — the first rep doubles as the at-SF warmup that the
sf0.001 warmup pass cannot provide, since JIT of the sf0.1-shaped
exchanges only happens at sf0.1), and ``extras.queries_median``
reports the median, so round-over-round comparisons can separate host
phase from plan changes.

The KG-construction stage (the north-rule workload) runs over a
deterministic synthetic pages corpus (seeded; BENCH_KG_PAGES env,
default 20000) — triples/sec is the authoritative throughput metric
(BASELINE.json). It is reported at BOTH NER depths: the
production-shaped depth 96 (matching the N->4N scaling evidence in
BENCH/BASELINE.md, where the Arrow-UDF hot path carries realistic
per-mention model compute) and the dictionary-only depth 0 (pure
pipeline overhead). tools/bench_scaling.py reruns this at two
parallelism levels for the N->4N efficiency evidence.
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import __spark_entry__ as E  # noqa: E402
from bertseyeview_spark.datagen import generate_corpus, pages_to_spark  # noqa: E402
from bertseyeview_spark.plans.kg import construct_triples  # noqa: E402
from bertseyeview_spark.session import get_spark  # noqa: E402

HEADLINE = [
    "label_abundance_two_groups",
    "top_articles_citations",
    "top_entities",
    "dictionary_mention_topk",
    "minhash_lsh_dedup",
    "ngram_jaccard_dedup",
    "embedding_topk_cosine",
    "quality_features",
    "language_id",
    "events_windowed_agg",
    "sessionization",
    "kg_pagerank",
    "connected_components",
]

# production-shaped NER depth: must match the scaling evidence
# (BENCH/BASELINE.md drives the deterministic scorer at depth 96 so the
# per-mention compute resembles a real model head). When the caller
# pins a depth via BENCH_KG_NER_LAYERS (tools/bench_scaling.py does),
# ONLY that depth runs and it IS the headline — otherwise the scaling
# harness's depth parameter would be silently ignored and every rep
# would pay an unrequested second build.
PROD_NER_LAYERS = 96


def calibration(spark) -> dict:
    """Host-phase calibration pair (fixed-size, fixed-seed) emitted
    into every bench JSON so cross-round comparisons can be normalized
    for this sandbox's 1.5-3x sustained-capacity swing (the r5 driver
    bench 'regressed' 6.7% while the same tree's pooled-min improved
    10% — without a probe those deltas are uninterpretable):

    * ``numpy_sgemm_gflops`` — best-of-3 float32 768^3 GEMM on the
      driver process (OMP_NUM_THREADS is NOT forced, so this reads the
      same burst/steady host phase the Arrow UDF workers see);
    * ``jvm_agg_mrows_per_sec`` — best-of-3 bit_xor(xxhash64) fold
      over a fixed 200M-row range() on the bench's own local[N]
      session (whole-stage-codegen JVM throughput at bench
      parallelism, one untimed warmup for JIT).

    Reading a bench delta: divide each query's time by the ratio of
    its round's probe to the other round's probe before comparing —
    UDF-heavy queries (kg_construct) track the sgemm number, shuffle/
    agg queries track the JVM number.
    """
    import numpy as np
    from pyspark.sql import functions as F

    n = 768
    rng = np.random.default_rng(7)
    a = rng.standard_normal((n, n), dtype=np.float32)
    b = rng.standard_normal((n, n), dtype=np.float32)
    (a @ b).sum()  # warm (allocator + BLAS thread pool spin-up)
    best = min(
        _timed(lambda: (a @ b).sum()) for _ in range(3)
    )
    gflops = 2.0 * n**3 / best / 1e9

    jvm_rows = 200_000_000
    job = lambda: (  # noqa: E731
        spark.range(jvm_rows)
        .agg(F.bit_xor(F.xxhash64("id")))
        .collect()
    )
    job()  # warm (codegen JIT)
    jbest = min(_timed(job) for _ in range(3))
    return {
        "numpy_sgemm_gflops": round(gflops, 2),
        "jvm_agg_mrows_per_sec": round(jvm_rows / jbest / 1e6, 1),
        "sgemm_n": n,
        "jvm_agg_rows": jvm_rows,
    }


def _timed(fn) -> float:
    t0 = time.time()
    fn()
    return time.time() - t0


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    n_pages = int(os.environ.get("BENCH_KG_PAGES", "20000"))
    reps = max(1, int(os.environ.get("BENCH_REPS", "2")))
    ner_env = os.environ.get("BENCH_KG_NER_LAYERS")
    headline_depth = int(ner_env) if ner_env is not None else PROD_NER_LAYERS
    kg_depths = (
        [(headline_depth, f"ner{headline_depth}")]
        if ner_env is not None
        else [(PROD_NER_LAYERS, "ner96"), (0, "ner0")]
    )
    # sentences per page: "lo,hi" — the compute-density knob (heavy pages
    # make the scaling runs compute-dominant, like real web documents)
    sent_lo, sent_hi = (
        int(x) for x in os.environ.get("BENCH_KG_SENTENCES", "2,5").split(",")
    )
    sf = sf_dir.rstrip("/").split("sf")[-1]

    spark = get_spark("bench", master=f"local[{cpus}]", shuffle_partitions=cpus)
    spark.sparkContext.setLogLevel("ERROR")

    # host-phase probe FIRST (before any query work skews the JIT/page
    # cache state); BENCH_CALIBRATION=0 skips it (scaling harness runs
    # its own per-level probes)
    calib = (
        calibration(spark)
        if os.environ.get("BENCH_CALIBRATION", "1") == "1"
        else None
    )

    qs = E.queries()
    timings: dict[str, float] = {}
    medians: dict[str, float] = {}

    # KG construction throughput (the north-rule metric)
    corpus = generate_corpus(
        n_pages, seed=42, min_sentences=sent_lo, max_sentences=sent_hi
    )
    pages = pages_to_spark(spark, corpus, num_partitions=cpus * 2).persist()
    pages.count()  # materialize input outside the timed window
    # untimed warmup of the KG path: the first build pays whole-stage-
    # codegen JIT and Python/Arrow worker startup (~6s on this host —
    # 3x the actual 20k-page work), which a long-running production job
    # amortizes to zero. Steady-state is the number a 100 TB run sees.
    if os.environ.get("BENCH_WARMUP", "1") == "1":
        warm_pages = pages_to_spark(
            spark, generate_corpus(500, seed=1), num_partitions=cpus
        )
        for depth, _ in kg_depths:
            construct_triples(
                spark, warm_pages, ner_scorer_layers=depth
            ).write.format("noop").mode("overwrite").save()

    from pyspark.sql import functions as F

    kg_extras: dict[str, float | int] = {}
    triples_hash = None
    n_triples = 0
    # headline depth first — it is the "kg_construct" timing (the
    # production-shaped number the north rule cites); depth 0 is the
    # pipeline-overhead companion, labeled separately in extras
    for depth, label in kg_depths:
        t0 = time.time()
        triples = construct_triples(
            spark, pages, ner_scorer_layers=depth
        ).persist()
        n = triples.count()
        sec = time.time() - t0
        kg_extras[f"kg_sec_{label}"] = round(sec, 3)
        kg_extras[f"kg_triples_per_sec_{label}"] = round(n / sec, 1)
        if depth == headline_depth:
            timings["kg_construct"] = round(sec, 3)
            medians["kg_construct"] = round(sec, 3)
            n_triples = n
            # order-insensitive set hash: equality across parallelism
            # levels is the determinism check (local[8] == local[32],
            # BASELINE.md §3)
            triples_hash = triples.agg(
                F.bit_xor(F.xxhash64("subj", "pred", "obj")).alias("h")
            ).collect()[0]["h"]
        triples.unpersist(blocking=True)

    headline = [] if os.environ.get("BENCH_SKIP_HEADLINE") else HEADLINE
    # untimed warmup at the smallest SF: compiles each query's
    # whole-stage-codegen + JIT once so the timed pass measures steady-
    # state execution, not first-compile storms (the 32-expr minhash
    # agg alone cost multi-second JIT warmup). The at-SF steady state
    # comes from rep 1 of the timed loop below. BENCH_WARMUP=0 disables.
    if headline and os.environ.get("BENCH_WARMUP", "1") == "1":
        warm_dir = "/root/testdata/sf0.001"
        if os.path.isdir(warm_dir):
            for name in headline:
                try:
                    qs[name](spark, warm_dir).write.format("noop").mode(
                        "overwrite"
                    ).save()
                except Exception:  # noqa: BLE001 - warmup is best-effort
                    pass
    for name in headline:
        fn = qs[name]
        runs = []
        for _ in range(reps):
            t0 = time.time()
            df = fn(spark, sf_dir)
            df.write.format("noop").mode("overwrite").save()
            runs.append(time.time() - t0)
        timings[name] = round(min(runs), 3)
        medians[name] = round(statistics.median(runs), 3)

    total = round(sum(timings.values()), 3)
    print(
        json.dumps(
            {
                "metric": "headline_total_sec",
                "value": total,
                "unit": "sec",
                "queries": timings,
                "sf": sf,
                "extras": {
                    "calibration": calib,
                    "kg_pages": n_pages,
                    "kg_triples": n_triples,
                    "kg_triples_per_sec": kg_extras[
                        f"kg_triples_per_sec_ner{headline_depth}"
                    ],
                    "kg_triples_hash": triples_hash,
                    "kg_ner_layers": headline_depth,
                    **kg_extras,
                    "queries_median": medians,
                    "bench_reps": reps,
                    "cpus": cpus,
                },
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()
