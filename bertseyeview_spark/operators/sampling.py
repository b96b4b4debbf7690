"""Deterministic corpus sampling — the reproducibility-critical subset
operators every training-data pipeline needs.

``sample()``/``rand()`` are banned in this engine: they change with
partitioning, retries, and Spark versions. These operators key the
keep/drop decision on a HASH OF A ROW KEY, so the same row makes the
same decision on any cluster size, on resume, and across reruns — the
property that makes ablation corpora and holdout splits reproducible.

* :func:`hash_sample` — keep a fraction ``rate`` of rows.
* :func:`stratified_sample` — per-stratum rates (e.g. down-sample the
  dominant language/source, keep the tail whole — the standard corpus
  rebalancing step).

Both are single codegen'd filters — no shuffle, no state; at 100 TB
the sample IS the scan with a pushed-down-able predicate on top.

Hash choice: ``xxhash64`` (JVM, fastest) by default; ``portable=True``
switches to a 32-bit prefix of md5, bit-replayable in any engine
(DuckDB: ``('0x' || substr(md5(k),1,8))::BIGINT``) for cross-engine
verification. Same guarantees, ~2x slower — use it for audits, not
production scans.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..dispatch import pull_within

_BUCKETS = 1_000_000


def _bucket(key_col, seed: int, portable: bool):
    if portable:
        return F.pmod(
            F.conv(
                F.substring(
                    F.md5(F.concat(key_col.cast("string"), F.lit(f"#{seed}"))),
                    1,
                    8,
                ),
                16,
                10,
            ).cast("bigint"),
            F.lit(_BUCKETS),
        )
    return F.pmod(F.xxhash64(key_col.cast("string"), F.lit(seed)), F.lit(_BUCKETS))


def hash_sample(
    df: DataFrame,
    key_col: str,
    rate: float,
    seed: int = 42,
    portable: bool = False,
) -> DataFrame:
    """Keep rows whose key hashes into the first ``rate`` fraction of
    1e6 buckets. Exact-in-expectation, deterministic always."""
    if not 0.0 <= rate <= 1.0:
        raise ValueError("rate must be in [0, 1]")
    return df.where(
        _bucket(F.col(key_col), seed, portable) < int(rate * _BUCKETS)
    )


def stratified_sample(
    df: DataFrame,
    strata_col: str,
    key_col: str,
    rates: dict[str, float],
    default_rate: float = 1.0,
    seed: int = 42,
    portable: bool = False,
) -> DataFrame:
    """Per-stratum hash sampling: ``rates`` maps stratum value ->
    keep fraction; unlisted strata use ``default_rate``. The rate map
    compiles to a when/otherwise chain (strata counts are small — a
    handful of languages/sources), so the whole decision stays one
    codegen'd filter; hand a DataFrame-shaped rate table to a broadcast
    join instead if strata run to thousands.

    A ``None`` key in ``rates`` is matched null-safely (NULL <=> NULL),
    so rows with a NULL stratum follow their DEFINED rate instead of
    silently falling through to ``default_rate`` — the contract
    :func:`temperature_rates` relies on for corpora with missing
    source/language values."""
    for v in rates.values():
        if not 0.0 <= v <= 1.0:
            raise ValueError("rates must be in [0, 1]")
    threshold = F.lit(int(default_rate * _BUCKETS))
    expr = None
    # sort with None first, then by string — None is not orderable
    # against str, and the chain order must be deterministic
    for value, rate in sorted(
        rates.items(), key=lambda t: (t[0] is not None, str(t[0]))
    ):
        cond = F.col(strata_col).eqNullSafe(F.lit(value))
        t = F.lit(int(rate * _BUCKETS))
        expr = F.when(cond, t) if expr is None else expr.when(cond, t)
    threshold = threshold if expr is None else expr.otherwise(threshold)
    return df.where(_bucket(F.col(key_col), seed, portable) < threshold)


def temperature_rates(
    df: DataFrame,
    strata_col: str,
    temperature: float = 0.7,
    target_frac: float = 0.5,
    max_strata: int = 10_000,
) -> dict[str, float]:
    """Per-stratum keep rates for temperature-based data mixing — the
    published multilingual/domain rebalancing recipe (mT5/UniMax
    family): stratum s gets sampling weight N_s^tau / sum_t N_t^tau,
    so tau < 1 UP-weights rare domains relative to their natural
    frequency and tau = 1 reproduces it. The expected kept volume is
    ``target_frac`` of the corpus; per-stratum rates are capped at 1
    (a rare domain cannot be over-sampled without replacement).

        rate_s = min(1, target_frac * N * w_s / N_s),
        w_s    = N_s^tau / sum_t N_t^tau

    One grouped count (strata are languages/sources — small), rates
    computed driver-side in deterministic stratum order and rounded to
    9 decimals so float summation noise can't flip a bucket threshold;
    feed the result straight into :func:`stratified_sample` for the
    deterministic hash filter. A NULL stratum is a real stratum here
    (missing source/language): it gets a computed rate under key
    ``None``, which stratified_sample matches null-safely. Guarded against accidentally passing a
    high-cardinality column as the stratum (``max_strata``): the counts
    come to the driver in one pull of at most ``max_strata + 1`` rows
    (:func:`~..dispatch.pull_within`), and it raises above the cap."""
    if not 0.0 < target_frac <= 1.0:
        raise ValueError("target_frac must be in (0, 1]")
    counts = df.groupBy(strata_col).agg(F.count("*").alias("n"))
    t, _ = pull_within(counts, max_strata)
    if t is None:
        raise ValueError(
            f"more than {max_strata} strata in '{strata_col}' — this is a "
            "per-domain/language operator; use a coarser stratum column"
        )
    rows = sorted(zip(*(c.to_pylist() for c in t.columns)), key=lambda r: str(r[0]))
    n_total = float(sum(n for _, n in rows))
    sw = sum(float(n) ** temperature for _, n in rows)
    return {
        s: round(
            min(1.0, target_frac * n_total * ((float(n) ** temperature) / sw) / n),
            9,
        )
        for s, n in rows
    }


def dsir_select(
    df: DataFrame,
    id_col: str,
    text_col: str,
    target_col: str,
    n_buckets: int = 256,
    k: int = 50,
    seed: int = 7,
    portable: bool = False,
) -> DataFrame:
    """DSIR — Data Selection via Importance Resampling (Xie et al.
    2023, arXiv:2302.03169): pick the raw-pool documents whose hashed
    n-gram profile looks most like a small in-domain target sample.

    ``target_col`` is a boolean column: true rows are the target
    (in-domain) sample, false rows the raw pool being selected from.
    Features are the paper's hashed n-grams — the unigram+bigram
    multiset of each document, hashed into ``n_buckets`` buckets.
    Bucket b gets a log importance ratio

        lr_b = ln( ((ct_b + 1) / (Tt + B)) / ((cr_b + 1) / (Tr + B)) )

    (add-one smoothed target vs raw gram distributions), and a raw
    document's weight is sum over its buckets of count_b * lr_b. The
    top ``k`` by weight are returned as (id, dsir_weight, rank) —
    deterministic top-k in place of the paper's Gumbel resampling, the
    same substitution every sampler in this module makes.

    Distributed shape: gram rows come from the shared codegen window
    builder (two corpus scans — target and raw — no interpreted HOF on
    the scan); the two bucket histograms are B-row aggregates whose
    ratio table BROADCASTS onto the per-document bucket counts, and the
    per-document weight folds a bucket-sorted array (<= B entries) so
    the float summation ORDER is deterministic — the same
    sorted-fold discipline the embedding oracles rely on, which makes
    the weight bit-replayable in any engine. One corpus-wide shuffle
    (doc x bucket counts) + one B-row broadcast; top-k is
    TakeOrderedAndProject. ``portable=True`` swaps xxhash64 for the
    32-bit md5 prefix bucket hash (cross-engine audits, ~2x slower).

    Documents that produce no grams (empty/whitespace-only text) have
    no feature mass and are absent from the ranking by construction.
    """
    from .dedup import _token_windows

    if portable:
        bucket = F.pmod(
            F.conv(
                F.substring(
                    F.md5(F.concat(F.col("shingle"), F.lit(f"#{seed}"))), 1, 8
                ),
                16,
                10,
            ).cast("bigint"),
            F.lit(n_buckets),
        )
    else:
        bucket = F.pmod(
            F.xxhash64(F.col("shingle"), F.lit(seed)), F.lit(n_buckets)
        )

    def grams(sub: DataFrame) -> DataFrame:
        g = _token_windows(sub, id_col, text_col, 1).unionByName(
            _token_windows(sub, id_col, text_col, 2)
        )
        return g.select("id", bucket.alias("bucket"))

    tgt = grams(df.where(F.col(target_col)))
    raw = grams(df.where(~F.col(target_col)))

    b = float(n_buckets)
    tc = tgt.groupBy("bucket").agg(F.count("*").cast("double").alias("ct"))
    rc = raw.groupBy("bucket").agg(F.count("*").cast("double").alias("cr"))
    tt = tgt.select(F.count("*").cast("double").alias("tt"))
    tr = raw.select(F.count("*").cast("double").alias("tr"))
    # raw-side buckets are the only ones a raw document can join to,
    # so the ratio table is rc LEFT JOIN tc (target-only buckets are
    # unreachable); both totals are broadcast 1-row scalars
    ratio = (
        rc.join(tc, "bucket", "left")
        .crossJoin(F.broadcast(tt))
        .crossJoin(F.broadcast(tr))
        .select(
            "bucket",
            F.log(
                ((F.coalesce(F.col("ct"), F.lit(0.0)) + F.lit(1.0))
                 / (F.col("tt") + F.lit(b)))
                / ((F.col("cr") + F.lit(1.0)) / (F.col("tr") + F.lit(b)))
            ).alias("lr"),
        )
    )
    doc_buckets = raw.groupBy("id", "bucket").agg(
        F.count("*").cast("double").alias("cnt")
    )
    terms = doc_buckets.join(F.broadcast(ratio), "bucket").select(
        "id", "bucket", (F.col("cnt") * F.col("lr")).alias("term")
    )
    folded = terms.groupBy("id").agg(
        F.sort_array(F.collect_list(F.struct("bucket", "term"))).alias("_ts")
    )
    # fold in bucket order — one expr so the lambda binds cleanly
    weighted = folded.select(
        "id",
        F.expr(
            "aggregate(_ts, CAST(0.0 AS DOUBLE),"
            " (dsir_acc, dsir_s) -> dsir_acc + dsir_s.term)"
        ).alias("dsir_weight"),
    )
    from pyspark.sql import Window

    # orderBy + limit plans as TakeOrderedAndProject (per-partition
    # heaps, no global single-partition sort); the rank window then
    # orders only the k survivors
    topk = weighted.orderBy(F.desc("dsir_weight"), F.asc("id")).limit(k)
    w = Window.orderBy(F.desc("dsir_weight"), F.asc("id"))
    return topk.withColumn("rank", F.row_number().over(w)).select(
        "id", "dsir_weight", "rank"
    )


def temperature_resample(
    df: DataFrame,
    strata_col: str,
    key_col: str,
    temperature: float = 0.7,
    target_frac: float = 0.5,
    seed: int = 42,
    portable: bool = False,
) -> DataFrame:
    """Deterministically resample the corpus to a temperature-flattened
    domain mix: :func:`temperature_rates` computes the per-stratum keep
    rates, :func:`stratified_sample` applies them as one codegen'd
    hash filter — reproducible on any cluster size, on resume, and
    across reruns, like every sampler in this module."""
    rates = temperature_rates(df, strata_col, temperature, target_frac)
    return stratified_sample(
        df, strata_col, key_col, rates, default_rate=1.0,
        seed=seed, portable=portable,
    )
