"""The end-to-end corpus cleaning recipe — one composed plan.

What an LLM training-data pipeline actually runs over 100 TB, as a
single declarative composition of the engine's proven operators:

    language gate (marker-score language ID)
      -> Gopher-rules quality gate (word count / mean word length /
         top-bigram repetition)
      -> near-dup keep-one (MinHash-LSH pairs -> connected components
         -> min-id representative)

Every document gets a verdict row (id, keep, reason) with the FIRST
failing stage as the reason ('language' | 'quality' | 'duplicate') —
the shape audit tooling wants (per-reason drop counts are one groupBy
away). Gates run in the cheap-first order: language and quality are
per-row codegen'd expressions that shrink the corpus before the dedup
stage pays its shuffles, which is exactly the order a 100 TB run needs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..operators.dedup import dedup_representatives, minhash_lsh_pairs
from ..operators.textquality import gopher_quality_flags, language_id


def clean_corpus(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    keep_langs: tuple[str, ...] = ("en",),
    min_words: int = 20,
    max_words: int = 100_000,
    min_mean_word_len: float = 3.0,
    max_mean_word_len: float = 10.0,
    max_top_bigram_frac: float = 0.20,
    dedup_threshold: float = 0.8,
) -> DataFrame:
    """-> one row per document: (id, keep boolean, reason string|NULL).

    Dedup candidates are generated only among documents that survive
    the language+quality gates (survivors are what a rerun would keep,
    and the pruned input is what makes the pair join affordable);
    representatives are deterministic min-id per transitive cluster."""
    base = docs.select(F.col(id_col).alias("id"), F.col(text_col).alias("t"))

    lang = language_id(base, "t").select(
        "id", "t", (F.col("lang_guess").isin(*keep_langs)).alias("_lang_ok")
    )
    quality = gopher_quality_flags(
        base,
        "id",
        "t",
        min_words=min_words,
        max_words=max_words,
        min_mean_word_len=min_mean_word_len,
        max_mean_word_len=max_mean_word_len,
        max_top_bigram_frac=max_top_bigram_frac,
    ).select("id", F.col("keep").alias("_quality_ok"))

    # materialize the gate table ONCE: three consumers read it (the
    # survivor set feeding the pair join, the representative join, and
    # the final verdict) and each would otherwise replay the full
    # language + Gopher expression chains over the corpus — measured
    # ~5s per replay at sf1.0. localCheckpoint (not persist) so the
    # blocks are lineage-cut and GC-reclaimed with the returned frame.
    gated = lang.join(quality, "id").localCheckpoint(eager=True)
    survivors = gated.where(F.col("_lang_ok") & F.col("_quality_ok")).select(
        "id", "t"
    )
    pairs = minhash_lsh_pairs(
        survivors, "id", "t", n=3, num_perm=32, bands=8,
        threshold=dedup_threshold,
    )
    reps = dedup_representatives(survivors, pairs, "id").select(
        "id", F.col("is_rep").alias("_dup_ok")
    )

    verdict = (
        gated.select("id", "_lang_ok", "_quality_ok")
        .join(reps, "id", "left")
        .select(
            "id",
            (
                F.col("_lang_ok")
                & F.col("_quality_ok")
                & F.coalesce(F.col("_dup_ok"), F.lit(False))
            ).alias("keep"),
            F.when(~F.col("_lang_ok"), F.lit("language"))
            .when(~F.col("_quality_ok"), F.lit("quality"))
            .when(~F.coalesce(F.col("_dup_ok"), F.lit(True)), F.lit("duplicate"))
            .alias("reason"),
        )
    )
    return verdict
