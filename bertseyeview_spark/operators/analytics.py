"""Read-side analytics: the reference's REST query surface as Catalyst plans.

Covers SURVEY.md §2.2-§2.7: label abundance (A1-A5), top-n articles by
citation metric (A8/A9), top entities (A7), degree-ranked search
(F5/F6/A6/T2), all expressed as declarative DataFrame plans so Catalyst
gets predicate pushdown / column pruning / broadcast choices for free.

Scale notes baked in:
* scalar counts (count_articles, count_subset) travel as 1-row
  DataFrames through ``crossJoin`` — Spark broadcasts them; no
  ``collect()`` round-trip, no driver-side constants in the plan.
* subsets are LEFT SEMI joins (reference collects node lists and does
  ``IN subset_list``, H:540-542 — a collect that cannot scale; the
  semi-join is the distributed equivalent).
* hub entities (stopword-like mega-hubs at web scale) get
  ``salted_count``: two-phase (key, salt) pre-aggregation then final
  combine, the classic skew fix the north rule requires.
"""

from __future__ import annotations

import json
import logging
from functools import reduce

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

log = logging.getLogger(__name__)

# ---------------------------------------------------------------------------
# skew-aware counting
# ---------------------------------------------------------------------------

def salted_count(df: DataFrame, key_cols: list[str], n_salt: int = 16) -> DataFrame:
    """groupBy(key).count() in two phases: partial counts on
    (key, salt) — salt derived from a row-stable hash, NOT rand(), so
    retries/replays are deterministic — then a final combine on key.
    The partial shuffle spreads a mega-hub key over ``n_salt``
    reducers; the final shuffle carries at most n_salt rows per key.
    """
    all_cols = df.columns
    salt = F.pmod(F.xxhash64(*[F.col(c) for c in all_cols]), F.lit(n_salt))
    partial = (
        df.withColumn("_salt", salt)
        .groupBy(*key_cols, "_salt")
        .agg(F.count("*").alias("_partial"))
    )
    return partial.groupBy(*key_cols).agg(F.sum("_partial").alias("count"))


# ---------------------------------------------------------------------------
# A1-A5: label abundance (reference get_label_abundance, H:294-579)
# ---------------------------------------------------------------------------

def label_abundance(
    mentions: DataFrame,
    articles: DataFrame,
    subset_1: DataFrame,
    subset_2: DataFrame | None = None,
    min_mentions: int = 10,
    salt_partitions: int = 0,
) -> DataFrame:
    """Entity-enrichment scores.

    ``mentions``: (article, entity) mention edges, already restricted to
    the goal entity label (and jump-joined for pathway/GO labels — see
    :func:`jump_mentions`). ``articles``: one column ``article`` — the
    global population. ``subset_N``: one column ``article``.

    Per entity (exact reference math, H:531-548):
      absolute_mentions          = count(articles mentioning entity)
      expected_mentions          = absolute_mentions / count_articles
      absolute_subset_mentions_1 = count within subset_1
      relative_subset_mentions_1 = absolute_subset_1 / count_subset_1
      score_1 = round(relative_1 / expected, 4)
      HAVING absolute_mentions > min_mentions
    Two-group mode adds the same for subset_2 and
      score = (relative_2 / expected) / score_1      (numerator unrounded,
      denominator the *rounded* score_1 — reference quirk, H:482-486).
    """
    # ONE pass over the mention set: tag each mention with subset
    # membership (left joins against the small subset tables — Catalyst
    # broadcasts them under the threshold) and compute all entity
    # counts in a single grouped aggregation. The former shape (three
    # groupBys + two semi-joins) scanned the mention join three times;
    # at 100 TB the mention set is the expensive side, so one scan and
    # one shuffle is the structure that matters. Inner-join semantics
    # of the old shape are preserved by the >0 filters (an entity with
    # no subset mentions never appeared in the joined row set).
    m = mentions.select("article", "entity")

    count_articles = articles.agg(F.count("*").alias("count_articles"))
    count_subset_1 = subset_1.agg(F.count("*").alias("count_subset_1"))

    # .distinct() keeps the left joins duplicate-safe like the semi-
    # joins they replaced: a repeated article row in a subset must tag,
    # not multiply, the mention rows (absolute_mentions would silently
    # inflate otherwise)
    tagged = m.join(
        subset_1.select("article").distinct().withColumn("_in1", F.lit(1)),
        "article",
        "left",
    )
    aggs = [
        F.count("*").alias("absolute_mentions"),
        F.count("_in1").alias("absolute_subset_mentions_1"),
    ]
    if subset_2 is not None:
        tagged = tagged.join(
            subset_2.select("article").distinct().withColumn("_in2", F.lit(1)),
            "article",
            "left",
        )
        aggs.append(F.count("_in2").alias("absolute_subset_mentions_2"))

    if salt_partitions > 1:
        # two-phase (salted) variant of the same single-pass agg: the
        # partial shuffle spreads a hub entity over salt_partitions
        # reducers, the final combine carries <= salt rows per entity
        salt = F.pmod(
            F.xxhash64(*[F.col(c) for c in tagged.columns]),
            F.lit(salt_partitions),
        )
        partial = tagged.withColumn("_salt", salt).groupBy("entity", "_salt").agg(
            *[
                F.count(c).alias(f"_p_{i}")
                for i, c in enumerate(
                    ["*", "_in1"] + (["_in2"] if subset_2 is not None else [])
                )
            ]
        )
        names = ["absolute_mentions", "absolute_subset_mentions_1"] + (
            ["absolute_subset_mentions_2"] if subset_2 is not None else []
        )
        counts = partial.groupBy("entity").agg(
            *[F.sum(f"_p_{i}").alias(n) for i, n in enumerate(names)]
        )
    else:
        counts = tagged.groupBy("entity").agg(*aggs)

    out = (
        counts.where(F.col("absolute_subset_mentions_1") > 0)
        .crossJoin(F.broadcast(count_articles))
        .withColumn(
            "expected_mentions",
            F.col("absolute_mentions").cast("double") / F.col("count_articles"),
        )
        .crossJoin(F.broadcast(count_subset_1))
        .withColumn(
            "relative_subset_mentions_1",
            F.col("absolute_subset_mentions_1").cast("double")
            / F.col("count_subset_1"),
        )
        .withColumn(
            "score_1",
            F.round(
                F.col("relative_subset_mentions_1") / F.col("expected_mentions"), 4
            ),
        )
        .where(F.col("absolute_mentions") > min_mentions)
    )

    if subset_2 is None:
        return (
            out.withColumn("score", F.col("score_1"))
            .select(
                "entity",
                "score",
                "absolute_mentions",
                "expected_mentions",
                "absolute_subset_mentions_1",
                "relative_subset_mentions_1",
            )
            .orderBy(F.desc("score"), F.asc("entity"))
        )

    count_subset_2 = subset_2.agg(F.count("*").alias("count_subset_2"))
    return (
        out.where(F.col("absolute_subset_mentions_2") > 0)
        .crossJoin(F.broadcast(count_subset_2))
        .withColumn(
            "relative_subset_mentions_2",
            F.col("absolute_subset_mentions_2").cast("double")
            / F.col("count_subset_2"),
        )
        .withColumn(
            "score_2",
            F.round(
                F.col("relative_subset_mentions_2") / F.col("expected_mentions"), 4
            ),
        )
        .withColumn(
            "score",
            (F.col("relative_subset_mentions_2") / F.col("expected_mentions"))
            / F.col("score_1"),
        )
        .select(
            "entity",
            "score",
            "score_1",
            "score_2",
            "absolute_mentions",
            "expected_mentions",
            "absolute_subset_mentions_1",
            "relative_subset_mentions_1",
            "absolute_subset_mentions_2",
            "relative_subset_mentions_2",
        )
        .orderBy(F.asc("score"), F.asc("entity"))
    )


def jump_mentions(entity_link_edges: DataFrame, gene_mentions: DataFrame) -> DataFrame:
    """J3 pathway/GO 'jump' join (H:349-369): pathway/GO/drug entities
    reach articles only through genes —
    (entity)-->(gene)<--(article). Two chained equi-joins; the
    entity->gene edge table is small (enrichment data) and broadcast."""
    e = entity_link_edges.select(
        F.col("src").alias("entity"), F.col("dst").alias("gene")
    )
    g = gene_mentions.select(
        F.col("article"), F.col("entity").alias("gene")
    )
    return F.broadcast(e).join(g, "gene").select("article", "entity")


# ---------------------------------------------------------------------------
# A8/A9/T3: top-n articles by citation metric (H:919-1061)
# ---------------------------------------------------------------------------

def top_n_articles(
    citing: DataFrame,
    subset: DataFrame,
    article_age_months: DataFrame | None = None,
    weight_mention: int = 100,
    top_n: int = 10,
    metric_norm: bool = True,
) -> DataFrame:
    """Rank subset articles by in-citations.

    ``citing``: (src, dst) article-cites-article edges. ``subset``: one
    column ``article``. Exact reference math (H:981-1011):
      count_all    = in-citations of each subset article from anywhere
      count_target = in-citations from within the subset
      count_metric = count_all + weight_mention * count_target
      count_metric_age_norm = count_metric / max(age_in_months, 1)
    Only articles with >= 1 in-citation appear (Cypher MATCH semantics).
    Spark's orderBy+limit compiles to TakeOrderedAndProject — a
    distributed top-k, no global sort materialized.
    """
    c = citing.select("src", "dst")
    in_subset = c.join(
        subset.select(F.col("article").alias("dst")), "dst", "semi"
    )
    count_all = in_subset.groupBy(F.col("dst").alias("article")).agg(
        F.count("*").alias("count_all")
    )
    from_subset = in_subset.join(
        subset.select(F.col("article").alias("src")), "src", "semi"
    )
    count_target = from_subset.groupBy(F.col("dst").alias("article")).agg(
        F.count("*").alias("count_target")
    )
    out = count_all.join(count_target, "article", "left").withColumn(
        "count_target", F.coalesce("count_target", F.lit(0))
    )
    out = out.withColumn(
        "count_metric",
        F.col("count_all") + F.lit(weight_mention) * F.col("count_target"),
    )
    if article_age_months is not None:
        out = (
            out.join(article_age_months, "article", "left")
            .withColumn(
                "age_norm",
                F.greatest(F.coalesce(F.col("age_in_months"), F.lit(1)), F.lit(1)),
            )
            .withColumn(
                "count_metric_age_norm",
                F.col("count_metric").cast("double") / F.col("age_norm"),
            )
        )
    else:
        out = out.withColumn("age_norm", F.lit(1)).withColumn(
            "count_metric_age_norm", F.col("count_metric").cast("double")
        )
    order = "count_metric_age_norm" if metric_norm else "count_metric"
    return (
        out.select(
            "article",
            "count_all",
            "count_target",
            "count_metric",
            "count_metric_age_norm",
        )
        .orderBy(F.desc(order), F.asc("article"))
        .limit(top_n)
    )


# ---------------------------------------------------------------------------
# A7/T4: top entities by mention count (H:1063-1093)
# ---------------------------------------------------------------------------

def top_entities(
    mentions: DataFrame, top_n: int = 10, salt_partitions: int = 0
) -> DataFrame:
    """(article, entity) -> top-n entities by count_mentions. Salted
    two-phase count when hub skew is expected."""
    if salt_partitions > 1:
        counts = salted_count(mentions, ["entity"], salt_partitions).withColumnRenamed(
            "count", "count_mentions"
        )
    else:
        counts = mentions.groupBy("entity").agg(
            F.count("*").alias("count_mentions")
        )
    return counts.orderBy(F.desc("count_mentions"), F.asc("entity")).limit(top_n)


# ---------------------------------------------------------------------------
# A6 + F5/F6/T2: degree count and attribute search
# ---------------------------------------------------------------------------

def degree_count(edges: DataFrame) -> DataFrame:
    """Undirected degree per node (H:639-643): union both endpoints,
    one grouped count."""
    ids = edges.select(F.col("src").alias("id")).union(
        edges.select(F.col("dst").alias("id"))
    )
    return ids.groupBy("id").agg(F.count("*").alias("count_links"))


_OPERATOR_WHITELIST = {
    "=", "<", ">", ">=", "<=", "<>",
    "IS NULL", "IS NOT NULL",
    "STARTS WITH", "ENDS WITH", "CONTAINS",
}


def _predicate(col: Column, op: str, value: str | None) -> Column:
    """One whitelisted predicate (reference get_where_clause,
    H:177-209 + whitelist H:378-383): case-insensitive comparison."""
    op = op.upper().strip()
    if op not in _OPERATOR_WHITELIST:
        raise ValueError(f"operator not allowed: {op!r}")
    low = F.lower(col.cast("string"))
    v = F.lit(value.lower()) if value is not None else None
    if op == "=":
        return low == v
    if op == "<":
        return low < v
    if op == ">":
        return low > v
    if op == ">=":
        return low >= v
    if op == "<=":
        return low <= v
    if op == "<>":
        return low != v
    if op == "IS NULL":
        return col.isNull()
    if op == "IS NOT NULL":
        return col.isNotNull()
    if op == "STARTS WITH":
        return low.startswith(value.lower())
    if op == "ENDS WITH":
        return low.endswith(value.lower())
    return low.contains(value.lower())  # CONTAINS


def search(
    df: DataFrame,
    attributes: list[str],
    operators: list[str],
    values: list[str | None],
    combine: str = "or",
    sort_by: str | None = None,
    ascending: bool = False,
    limit: int | None = None,
    degree_edges: DataFrame | None = None,
) -> DataFrame:
    """Attribute search (F5 OR-chains for search, F6 AND-chains for
    article filters) with optional degree-ranked ordering (A6/T2:
    ORDER BY count_links) and distributed top-k limit."""
    preds = [
        _predicate(F.col(a), o, v)
        for a, o, v in zip(attributes, operators, values)
    ]
    combiner = (lambda x, y: x | y) if combine == "or" else (lambda x, y: x & y)
    out = df.where(reduce(combiner, preds)) if preds else df
    if sort_by == "count_links":
        if degree_edges is None:
            raise ValueError("degree ordering requires degree_edges")
        deg = degree_count(degree_edges)
        out = out.join(deg, out[df.columns[0]] == deg["id"], "left").withColumn(
            "count_links", F.coalesce("count_links", F.lit(0))
        ).drop("id")
        sort_col = F.col("count_links")
    elif sort_by:
        sort_col = F.col(sort_by)
    else:
        sort_col = None
    if sort_col is not None:
        out = out.orderBy(sort_col.asc() if ascending else sort_col.desc())
    if limit:
        out = out.limit(limit)
    return out


# ---------------------------------------------------------------------------
# mergeable distinct-count sketches (the 100 TB COUNT(DISTINCT) path)
# ---------------------------------------------------------------------------

def sketch_distinct(
    df: DataFrame, key_cols: list[str], value_col: str, lg_k: int = 12
) -> DataFrame:
    """Per-key HLL sketches of distinct values: (keys..., sketch binary).
    Sketches are MERGEABLE — the property that matters at 100 TB:
    per-partition/per-day sketches combine with :func:`merge_sketches`
    without re-touching raw data (exact distinct needs a full reshuffle
    of every value; a sketch union is bytes). Estimates are approximate
    (~1.6%/sqrt(2^lg_k) relative error); use exact distinct when the
    gate needs value equality."""
    return df.groupBy(*key_cols).agg(
        F.hll_sketch_agg(F.col(value_col), F.lit(lg_k)).alias("sketch")
    )


def merge_sketches(
    sketches: DataFrame, key_cols: list[str], lg_k: int = 12
) -> DataFrame:
    """Union per-shard sketches to (keys..., approx_distinct)."""
    return (
        sketches.groupBy(*key_cols)
        .agg(F.hll_union_agg(F.col("sketch")).alias("merged"))
        .select(
            *key_cols,
            F.hll_sketch_estimate("merged").alias("approx_distinct"),
        )
    )


# ---------------------------------------------------------------------------
# heavy hitters: Misra-Gries candidates + exact verification
# ---------------------------------------------------------------------------

def heavy_hitters(
    df: DataFrame,
    value_col: str,
    k: int = 10,
    counters: int = 4096,
) -> DataFrame:
    """Exact top-k most frequent values with a BOUNDED shuffle — the
    published two-phase frequent-items design (per-partition
    Misra-Gries summaries + exact recount of the merged candidates).

    Why not a plain groupBy: at 100 TB with high-cardinality values
    (tokens, hosts, shingles) the hash aggregation's shuffle carries
    one row per distinct key per partition — unbounded, spill-prone.
    Phase 1 streams each partition through a Misra-Gries summary with
    ``counters`` slots (one Arrow pass, no shuffle), emitting at most
    counters candidate keys + one row-count row per partition. The MG
    guarantee transfers to the merge: any value with GLOBAL count >
    N/counters must exceed its quota in at least one partition, so it
    appears among the candidates. Phase 2 exactly recounts ONLY
    candidate values (broadcast semi-join filter, map-side combined
    grouped count — the shuffle is bounded by |candidates| x
    partitions rows whatever the raw cardinality).

    EXACTNESS IS VERIFIED, NOT ASSUMED: if the k-th exact candidate
    count exceeds N/counters, no non-candidate can beat it and the
    result is provably the exact top-k. Otherwise the guarantee does
    not cover rank k and the operator falls back to the exact plain
    groupBy (correct on any input; pick more counters to keep the
    fast path). Returns (value, cnt, rank); ties break on value —
    deterministic at any parallelism.
    """
    from collections.abc import Iterator

    import pandas as pd

    src = df.select(F.col(value_col).cast("string").alias("v")).where(
        F.col("v").isNotNull()
    )

    def mg(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        counts: dict[str, int] = {}
        n_rows = 0
        for pdf in batches:
            for val in pdf["v"]:
                n_rows += 1
                if val in counts:
                    counts[val] += 1
                elif len(counts) < counters:
                    counts[val] = 1
                else:
                    # decrement-all step, dropping zeroed slots
                    dead = []
                    for key in counts:
                        counts[key] -= 1
                        if counts[key] == 0:
                            dead.append(key)
                    for key in dead:
                        del counts[key]
        yield pd.DataFrame(
            {
                "cand": list(counts.keys()) + [None],
                "part_rows": [0] * len(counts) + [n_rows],
            }
        )

    summary = src.mapInPandas(
        mg, "cand string, part_rows long"
    ).localCheckpoint(eager=True)
    n_total = summary.agg(F.sum("part_rows")).collect()[0][0] or 0
    candidates = summary.where(F.col("cand").isNotNull()).select(
        F.col("cand").alias("v")
    ).distinct()

    exact = (
        src.join(F.broadcast(candidates), "v", "semi")
        .groupBy("v")
        .agg(F.count("*").alias("cnt"))
    )
    # top-k via orderBy+limit (TakeOrderedAndProject — distributed
    # partial top-k, never a global single-task window), then rank the
    # k surviving rows
    from pyspark.sql import Window

    w = Window.orderBy(F.desc("cnt"), F.asc("v"))

    def ranked_topk(counts: DataFrame) -> list:
        return (
            counts.orderBy(F.desc("cnt"), F.asc("v"))
            .limit(k)
            .withColumn("rank", F.row_number().over(w))
            .select(F.col("v").alias("value"), "cnt", "rank")
            .collect()
        )

    rows = ranked_topk(exact)
    threshold = n_total / counters
    if len(rows) >= k and rows[-1]["cnt"] > threshold:
        return df.sparkSession.createDataFrame(
            rows, "value string, cnt long, rank int"
        )
    # guarantee not met at rank k: exact fallback (log, don't silently
    # return a possibly-wrong tail)
    log.warning(
        json.dumps(
            {
                "event": "analytics.heavy_hitters.exact_fallback",
                "k": k,
                "n_over_counters": threshold,
            }
        )
    )
    rows = ranked_topk(src.groupBy("v").agg(F.count("*").alias("cnt")))
    return df.sparkSession.createDataFrame(
        rows, "value string, cnt long, rank int"
    )
