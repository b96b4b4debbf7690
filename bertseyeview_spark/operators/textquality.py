"""Text-analysis operators for training-data curation at corpus scale.

All of these stay in whole-stage codegen (built-in string/regex
functions) except the rolling-hash fingerprint, which is one Arrow UDF.

* language-ID: marker-token heuristic (presence-count of per-language
  stopwords, argmax with fixed precedence) — the n-gram-free variant
  that is exactly expressible in ANSI SQL for oracle checking;
* quality scoring: token/char counts, punctuation ratio, stopword
  ratio, mean word length — the usual C4/Gopher-style filters;
* token counting: whitespace tokens + a BPE-ish regex segmentation
  (letters / digits / single punctuation);
* document fingerprinting: 61-bit polynomial rolling hash.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .. import dispatch

LANG_MARKERS: dict[str, list[str]] = {
    "en": ["the", "and", "of", "with"],
    "de": ["der", "und", "nicht", "ist"],
    "fr": ["le", "la", "et", "les"],
    "es": ["el", "los", "que", "por"],
    "zh": ["de5", "shi4", "zai4", "he2"],  # romanized placeholders
}

STOPWORDS_EN = [
    "the", "a", "an", "and", "or", "of", "in", "on", "to", "is", "was",
    "for", "with", "that", "this", "it", "as", "at", "by",
]


def _padded(col: Column) -> Column:
    return F.concat(F.lit(" "), F.lower(col), F.lit(" "))


def language_scores(text_col: Column) -> dict[str, Column]:
    """Per-language marker-presence score (0..len(markers)). Presence,
    not frequency — keeps the SQL oracle trivially identical."""
    padded = _padded(text_col)
    return {
        lang: sum(
            F.when(padded.contains(f" {m} "), 1).otherwise(0) for m in markers
        )
        for lang, markers in LANG_MARKERS.items()
    }


def language_id(df: DataFrame, text_col: str, out_col: str = "lang_guess") -> DataFrame:
    """Argmax over marker scores; fixed precedence (dict order) breaks
    ties — the earliest language with the maximal score wins; all-zero
    -> 'und'."""
    scores = language_scores(F.col(text_col))
    max_score = None
    for lang in scores:
        max_score = (
            scores[lang] if max_score is None else F.greatest(max_score, scores[lang])
        )
    guess = F.lit("und")
    for lang in reversed(list(scores)):
        guess = F.when(
            (scores[lang] == max_score) & (max_score > 0), F.lit(lang)
        ).otherwise(guess)
    return df.withColumn(out_col, guess)


def norm_tokens(text_col: str | Column) -> Column:
    """THE canonical normalized tokenizer (lowercase, trim, split on
    whitespace) shared by every token-POSITIONAL operator — the window
    builders in dedup.py (_token_windows, cut_repeated_spans) and the
    chunk/repetition operators here. Positions produced by one copy
    and consumed by another must come from the same expression, so a
    tokenizer change lands once; a drifted copy would silently cut or
    chunk the wrong tokens.

    Empty/whitespace-only text yields an EMPTY array — a bare
    ``split(trim(''))`` returns ``['']``, which used to leak a phantom
    1-token document into :func:`chunk_text` (one empty chunk) and
    :func:`~..dedup.cut_repeated_spans` (``n_tokens=1``); the guard
    pins token count 0 for empty documents everywhere. "Whitespace"
    here is the explicit Java-``\\s`` class ``[ \\t\\n\\x0B\\f\\r]``
    EVERYWHERE, including the edge strip: trim() removes only 0x20, so
    a leading/trailing tab or CRLF would otherwise split to a phantom
    empty first/last token (``'\\tfoo' -> ['', 'foo']``) that inflates
    token counts and pollutes windows — both degenerate (whole-doc)
    and edge cases are caught by the unicode fuzz suite. Unicode
    spaces (NBSP etc.) are NOT separators, so an NBSP-only document is
    one real token, not empty."""
    c = F.col(text_col) if isinstance(text_col, str) else text_col
    t = F.regexp_replace(
        F.lower(c), "^[ \t\n\x0B\f\r]+|[ \t\n\x0B\f\r]+$", ""
    )
    return F.when(
        (t.isNull()) | (F.length(t) == 0), F.array().cast("array<string>")
    ).otherwise(F.split(t, r"\s+"))


def whitespace_token_count(text_col: Column) -> Column:
    t = F.trim(text_col)
    return F.when(F.length(t) == 0, F.lit(0)).otherwise(
        F.size(F.split(t, r"\s+"))
    )


# BPE-ish segmentation: letter runs, digit runs, single other non-space
BPE_TOKEN_RE = r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9 \t\n\x0B\f\r]"


def bpe_token_count(text_col: Column) -> Column:
    return F.regexp_count(text_col, F.lit(BPE_TOKEN_RE))


def quality_features(
    df: DataFrame, text_col: str, id_col: str | None = None
) -> DataFrame:
    """Per-document quality features + a composite [0,1] score.

    score = 0.25*len_ok + 0.25*mean_word_ok + 0.25*(1-punct_ratio)
          + 0.25*stop_ratio_clamped — a deterministic, SQL-expressible
    stand-in for the usual heuristic quality classifiers.
    """
    t = F.col(text_col)
    n_chars = F.length(t)
    n_tokens = whitespace_token_count(t)
    n_punct = F.regexp_count(t, F.lit(r"[^\w \t\n\x0B\f\r]"))
    padded = _padded(t)
    n_stop = sum(
        F.when(padded.contains(f" {w} "), 1).otherwise(0) for w in STOPWORDS_EN
    )
    mean_word_len = F.when(n_tokens > 0, n_chars.cast("double") / n_tokens).otherwise(
        F.lit(0.0)
    )
    punct_ratio = F.when(n_chars > 0, n_punct.cast("double") / n_chars).otherwise(
        F.lit(0.0)
    )
    stop_presence = n_stop.cast("double") / len(STOPWORDS_EN)
    len_ok = F.when((n_chars >= 100) & (n_chars <= 20000), 1.0).otherwise(0.0)
    word_ok = F.when((mean_word_len >= 3) & (mean_word_len <= 12), 1.0).otherwise(0.0)
    score = F.round(
        0.25 * len_ok
        + 0.25 * word_ok
        + 0.25 * (1 - F.least(punct_ratio * 5, F.lit(1.0)))
        + 0.25 * F.least(stop_presence * 2, F.lit(1.0)),
        4,
    )
    cols = [F.col(id_col)] if id_col else []
    return df.select(
        *cols,
        n_chars.alias("n_chars"),
        n_tokens.alias("n_tokens"),
        bpe_token_count(t).alias("n_bpe_tokens"),
        F.round(punct_ratio, 6).alias("punct_ratio"),
        F.round(mean_word_len, 4).alias("mean_word_len"),
        F.round(stop_presence, 4).alias("stopword_presence"),
        score.alias("quality_score"),
    )


# ---------------------------------------------------------------------------
# fingerprinting (Arrow UDF — arbitrary-precision modular arithmetic)
# ---------------------------------------------------------------------------

_FP_MOD = (1 << 61) - 1
_FP_BASE = 131


def rolling_fingerprint(text: str) -> int:
    """Polynomial rolling hash over code points, mod 2^61-1."""
    h = 0
    for ch in text or "":
        h = (h * _FP_BASE + ord(ch)) % _FP_MOD
    return h


def fingerprint(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    src = df.select(F.col(id_col).alias("id"), F.col(text_col).alias("t"))

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield pd.DataFrame(
                {
                    "id": pdf["id"],
                    "fingerprint": pdf["t"].map(rolling_fingerprint).astype("int64"),
                }
            )

    return src.mapInPandas(run, schema="id long, fingerprint long")


# ---------------------------------------------------------------------------
# sequence packing (training-batch assembly)
# ---------------------------------------------------------------------------

def pack_sequences(
    df: DataFrame,
    id_col: str,
    tokens_col: str,
    budget: int,
    order_col: str | None = None,
    shard_col: str | None = None,
) -> DataFrame:
    """Assign documents to fixed-token-budget training bins by
    *sequential fill* in a deterministic document order: bin id =
    floor(cumulative_tokens_before_doc / budget). One window pass,
    pure Catalyst — the standard streaming-packing scheme (greedy
    first-fit needs sequential state; sequential fill is the
    shuffle-friendly variant production pipelines use at scale, and is
    exactly replayable in ANSI SQL).

    ``tokens_col`` is whatever token model the training run budgets
    by: whitespace counts, or BPE-encoded counts from
    :func:`~.bpe.encode_token_arrays` over the committed merges table
    (``pack_sequences(enc, "id", "n_tokens", ...)`` — the opt-in BPE
    token model, same composition the chunking side exposes via
    ``chunk_text(token_model="bpe")``).

    Oversized documents (tokens > budget) still land in a bin —
    downstream truncation policy is the caller's. ``shard_col`` is the
    100 TB shape: the window partitions by the shard key so each shard
    sorts independently (bins are then per-shard, which is what a
    sharded training-data layout wants anyway); the global variant is
    the small-scale/oracle shape.

    Returns (id, n_tokens, bin, offset) where offset is the doc's token
    start position within its (global or shard) stream."""
    from pyspark.sql import Window

    order = order_col or id_col
    out = df.select(
        F.col(id_col).alias("id"),
        F.col(tokens_col).cast("long").alias("n_tokens"),
        F.col(order).alias("_ord"),
        *([F.col(shard_col).alias("_shard")] if shard_col else []),
    )
    if shard_col:
        w = Window.partitionBy("_shard").orderBy(F.col("_ord").asc())
    else:
        w = Window.orderBy(F.col("_ord").asc())
    cum_before = F.sum("n_tokens").over(
        w.rowsBetween(Window.unboundedPreceding, -1)
    )
    sel = ["id", "n_tokens", "bin", "offset"] + (
        ["_shard"] if shard_col else []
    )
    res = (
        out.withColumn("offset", F.coalesce(cum_before, F.lit(0)))
        .withColumn("bin", F.floor(F.col("offset") / F.lit(budget)))
        .select(*sel)
    )
    return res.withColumnRenamed("_shard", shard_col) if shard_col else res


# ---------------------------------------------------------------------------
# Gopher-style repetition / quality flags
# ---------------------------------------------------------------------------

def gopher_quality_flags(
    df: DataFrame,
    id_col: str,
    text_col: str,
    min_words: int = 50,
    max_words: int = 100_000,
    min_mean_word_len: float = 3.0,
    max_mean_word_len: float = 10.0,
    max_top_bigram_frac: float = 0.20,
) -> DataFrame:
    """The published Gopher-rules quality/repetition filter family as
    one plan: word-count bounds, mean-word-length bounds, and the
    top-bigram repetition fraction (share of all bigrams taken by the
    most frequent one — boilerplate/spam detector). Everything is
    whole-stage-codegen'd splits + one (id, bigram) grouped count; no
    Python. Returns per-doc signals + booleans + a combined keep flag.
    """
    # the canonical norm_tokens (edge-strip + empty guard): the old
    # local trim()-based guard missed tab/CRLF-only and tab-edged
    # documents (phantom '' tokens — the r6 tokenizer-drift class)
    #
    # r8 PERFORMANCE NOTE — two rewrites, both value-identical:
    # * mean_word_len: sum-of-token-lengths via ONE
    #   length(array_join(w, "")) instead of an interpreted
    #   aggregate(transform(w, length)) fold (same integer sum, one
    #   collection call per row instead of 2 per token);
    # * bigrams: the arrays_zip-of-shifted-slices window build (the
    #   dedup._token_windows formulation) instead of an indexed lambda
    #   `(x, i) -> concat(x, ' ', w[i + 1])`. The indexed lambda
    #   re-evaluated the WHOLE tokenizer split for every `w[i + 1]`
    #   element access after projection collapse — measured 99s for the
    #   bigram explode at sf1.0 vs 1.9s for the zip form (a 50x
    #   pathology, the same reason word_ngrams is banned from hot
    #   paths). The zip must be exploded INLINE (never materialized as
    #   a projected column first): exploding an attribute makes
    #   InferFiltersFromGenerate add a `size(col) > 0` filter that
    #   projection-collapse rewrites into the pre-exchange Filter with
    #   the whole zip+split expression inlined — re-tokenizing every
    #   row several times over (measured 14s vs 1.9s).
    toks = norm_tokens(text_col)
    tok_base = df.select(F.col(id_col).alias("id"), toks.alias("w"))
    base = tok_base.select(
        "id",
        F.size("w").alias("n_words"),
        F.round(
            F.when(
                F.size("w") > 0,
                F.length(F.array_join("w", "")).cast("double") / F.size("w"),
            ).otherwise(F.lit(0.0)),
            6,
        ).alias("mean_word_len"),
    )
    m2 = F.size("w") - F.lit(1)
    bg = (
        tok_base.where(F.size("w") >= 2)
        .select(
            "id",
            F.explode(
                F.arrays_zip(F.slice("w", 1, m2), F.slice("w", 2, m2))
            ).alias("_z"),
        )
        .select(
            "id",
            F.concat_ws(" ", F.col("_z")["0"], F.col("_z")["1"]).alias(
                "bigram"
            ),
        )
    )
    top = (
        bg.groupBy("id", "bigram")
        .agg(F.count("*").alias("c"))
        .groupBy("id")
        .agg(F.max("c").alias("top_c"), F.sum("c").alias("total_bg"))
    )
    out = (
        base
        .join(top, "id", "left")
        .withColumn(
            "top_bigram_frac",
            F.round(
                F.when(
                    F.col("total_bg") > 0,
                    F.col("top_c").cast("double") / F.col("total_bg"),
                ).otherwise(F.lit(0.0)),
                6,
            ),
        )
        .drop("top_c", "total_bg")
    )
    wc_ok = (F.col("n_words") >= min_words) & (F.col("n_words") <= max_words)
    mwl_ok = (F.col("mean_word_len") >= min_mean_word_len) & (
        F.col("mean_word_len") <= max_mean_word_len
    )
    rep_ok = F.col("top_bigram_frac") <= max_top_bigram_frac
    return out.select(
        "id",
        "n_words",
        "mean_word_len",
        "top_bigram_frac",
        wc_ok.alias("word_count_ok"),
        mwl_ok.alias("mean_word_len_ok"),
        rep_ok.alias("repetition_ok"),
        (wc_ok & mwl_ok & rep_ok).alias("keep"),
    )


def c4_line_filter(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """The C4 line+page cleaning recipe (Raffel et al. 2020, the
    "Colossal Clean Crawled Corpus" heuristics), as one zero-shuffle
    scan. Line rules — a line survives iff it ends in a terminal
    punctuation mark ('.', '!', '?', '"'), has at least 3 words, and
    does not mention "javascript" — and page rules: keep a page iff its
    CLEANED text has >= 5 sentences and the original text contains
    neither "lorem ipsum" nor a curly brace. (The published recipe's
    remaining steps live elsewhere in this engine: the bad-words list
    is a policy input to the same contains() machinery, and the
    three-sentence-span corpus dedup is :func:`~..dedup.
    exact_substring_spans`.) Returns every page annotated —
    (id, clean_text, n_lines, n_kept_lines, n_sentences, c4_keep) —
    filter-as-annotation like :func:`gopher_quality_flags`.

    Distributed shape: the line filter is an in-place array
    ``filter(transform(split(...)))`` on each row — a narrow map with
    NO exchange, deliberately chosen over the explode + re-assemble
    formulation whose groupBy would shuffle the ENTIRE corpus just to
    glue lines back together. The interpreted-HOF penalty (~6x vs
    codegen, measured on shingling) buys removal of a corpus-wide
    shuffle — the right trade for a per-line predicate this cheap.
    The whole nested HOF is ONE expr with unique lambda names (nested
    pyspark lambda Columns mis-bind under projection collapse).
    Regexes stay inside the RE2-safe subset (explicit char classes,
    no lookaround) so the SQL oracle replays them exactly.
    """
    # pre-select the text under a fixed alias so the F.expr SQL never
    # interpolates a raw user column name (a name needing backtick
    # quoting — space/dot/hyphen — would break parsing or silently
    # resolve wrong; F.col handles those, string splicing doesn't)
    df = df.select(
        F.col(id_col).alias("_c4id"),
        F.coalesce(F.col(text_col), F.lit("")).alias("_c4txt"),
    )
    text = F.col("_c4txt")
    kept = F.expr(
        "filter("
        "  transform(split(_c4txt, '\n'),"
        "            c4l -> regexp_replace(c4l, '^[ \\t\\r]+|[ \\t\\r]+$', '')),"
        "  c4t -> c4t rlike '[.!?\"]$'"
        "     AND c4t rlike '^[^ \\t]+([ \\t]+[^ \\t]+){2,}'"
        "     AND NOT contains(lower(c4t), 'javascript'))"
    )
    base = df.select(
        F.col("_c4id").alias("id"),
        F.size(F.split(text, "\n")).alias("n_lines"),
        kept.alias("_kept"),
        text.alias("_orig"),
    ).select(
        "id",
        F.array_join(F.col("_kept"), "\n").alias("clean_text"),
        "n_lines",
        F.size("_kept").alias("n_kept_lines"),
        "_orig",
    )
    n_sentences = F.regexp_count(F.col("clean_text"), F.lit(r"[.!?]"))
    page_ok = (
        (n_sentences >= 5)
        & ~F.contains(F.lower(F.col("_orig")), F.lit("lorem ipsum"))
        & ~F.contains(F.col("_orig"), F.lit("{"))
    )
    return base.select(
        "id",
        "clean_text",
        "n_lines",
        "n_kept_lines",
        n_sentences.alias("n_sentences"),
        page_ok.alias("c4_keep"),
    )


# ---------------------------------------------------------------------------
# host-level corpus profiling (web-corpus hygiene)
# ---------------------------------------------------------------------------

def host_profile(
    df: DataFrame, url_col: str, text_col: str, chars_col: str
) -> DataFrame:
    """Per-host corpus profile over Common-Crawl-style pages: document
    count, exact-duplicate count (docs minus distinct content digests —
    boilerplate farms and mirror hosts light up here, the standard
    first cut when deciding which hosts to down-sample), and mean page
    length. Host extraction is one dialect-safe regex (no parse_url —
    identical semantics in an ANSI oracle) that tolerates uppercase
    schemes and pathless URLs (``https://example.com`` with no
    trailing slash is the common crawl-index form — requiring a ``/``
    would silently dump those rows under host ''); digests group by
    md5 so the shuffle carries 32-byte keys, never page text. One
    grouped aggregation; at web scale this is a single
    map-side-combined pass."""
    host = F.lower(
        F.regexp_extract(
            F.col(url_col), r"^[A-Za-z][A-Za-z0-9+.\-]*://([^/?#]+)", 1
        )
    )
    return (
        df.select(
            host.alias("host"),
            F.md5(F.col(text_col)).alias("_digest"),
            F.col(chars_col).alias("_chars"),
        )
        .groupBy("host")
        .agg(
            F.count("*").alias("n_docs"),
            (F.count("*") - F.count_distinct(F.col("_digest"))).alias(
                "n_exact_dupes"
            ),
            # raw IEEE double, not rounded: int-sum / int-count divides
            # bit-identically in any engine, while round() at a half
            # boundary does not (the usual cross-engine float trap)
            (F.sum("_chars").cast("double") / F.count("*")).alias(
                "avg_chars"
            ),
        )
    )


# ---------------------------------------------------------------------------
# PII redaction (training-data hygiene)
# ---------------------------------------------------------------------------

# dialect-safe patterns: identical semantics under Java regex (Spark)
# and RE2 (DuckDB) — no backrefs, no lookaround. ORDER MATTERS: kinds
# apply sequentially and earlier kinds consume their spans, so the
# broader/more specific form must come before any pattern that could
# match inside it (intl_phone before phone: the national part of
# "+1-202-555-0199" is itself a valid plain phone).
PII_PATTERNS: dict[str, str] = {
    "email": r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}",
    "ssn": r"\b\d{3}-\d{2}-\d{4}\b",
    "intl_phone": r"\+\d{1,3}[- .]\d{3}[- .]\d{3}[- .]\d{4}",
    "phone": r"\d{3}[- .]\d{3}[- .]\d{4}",
    "ipv4": r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b",
    "iban": r"\b[A-Z]{2}\d{2}[A-Z0-9]{10,30}\b",
}


def redact_pii(
    df: DataFrame,
    id_col: str,
    text_col: str,
    patterns: dict[str, str] | None = None,
) -> DataFrame:
    """Replace PII spans with [KIND] placeholders and count what was
    redacted — the standard pre-training hygiene pass, entirely
    codegen'd regexp_replace/extract (no UDFs). Patterns apply in dict
    order and each kind's COUNT is taken on the text after every
    earlier kind was redacted, so counts report exactly what the
    replacement did — an overlapping span is attributed to precisely
    one kind (the earliest), never double-counted. The whole pass is
    one projection (nested regexp expressions, no UDF, no extra scan).

    Returns (id, text, n_<kind>... per pattern)."""
    patterns = patterns or PII_PATTERNS
    out = df.select(
        F.col(id_col).alias("id"), F.col(text_col).alias("text")
    )
    counts = []
    cur = F.col("text")
    for kind, pat in patterns.items():
        counts.append(
            F.size(F.regexp_extract_all(cur, F.lit(pat), F.lit(0))).alias(
                f"n_{kind}"
            )
        )
        cur = F.regexp_replace(cur, pat, f"[{kind.upper()}]")
    return out.select("id", cur.alias("text"), *counts)


# ---------------------------------------------------------------------------
# LM perplexity quality signal (CCNet-style)
# ---------------------------------------------------------------------------

def lm_perplexity(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    alpha: float = 0.1,
    model_docs: DataFrame | None = None,
) -> DataFrame:
    """Per-document perplexity under a bigram language model fit on the
    corpus (add-alpha smoothed) — the CCNet quality signal: CCNet ranks
    CommonCrawl documents by KenLM perplexity and keeps the fluent
    tail. The distributed shape is identical for any count-based LM:
    *fitting* is grouped aggregation, *scoring* is a join against the
    count tables, so the same plan carries a 5-gram KenLM export at
    100 TB (the model becomes a bigger lookup table).

        P(w_i | w_{i-1}) = (c(w_{i-1} w_i) + a) / (c(w_{i-1}) + a*V)
        ppl(doc)         = exp(-mean_i ln P(w_i | w_{i-1}))

    ``model_docs`` (default: ``docs`` itself, the self-scoring mode)
    is the corpus the model is fit on, so held-out scoring works; the
    smoothing keeps unseen bigrams finite.

    Returns (id, n_bigrams, ppl) for documents with >= 1 bigram
    (single-token/empty docs define no bigram distribution).

    Scale notes: bigram extraction is the zipped-slices explode (pure
    codegen, no HOF lambdas); the bigram-count join is an equi-join on
    (w1, w2) — composite bigram keys are far flatter than unigram
    keys, so no salting needed; the CONTEXT-count table is
    vocabulary-sized and broadcast, which removes the one genuinely
    skewed join (every bigram starting with 'the' hitting one key) —
    cap the vocabulary upstream if it outgrows the broadcast ceiling.
    """
    if model_docs is None:
        model_docs = docs

    def bigrams(src: DataFrame, idc: str) -> DataFrame:
        toks = norm_tokens(text_col)
        m = F.size("_t") - F.lit(1)
        return (
            src.select(F.col(idc).alias("id"), toks.alias("_t"))
            .where(F.size("_t") >= 2)
            .select(
                "id",
                F.explode(
                    F.arrays_zip(
                        F.slice(F.col("_t"), 1, m), F.slice(F.col("_t"), 2, m)
                    )
                ).alias("_z"),
            )
            .select("id", F.col("_z")["0"].alias("w1"), F.col("_z")["1"].alias("w2"))
        )

    model_bg = bigrams(model_docs, id_col)
    c2 = model_bg.groupBy("w1", "w2").agg(F.count("*").alias("c2"))
    c1 = model_bg.groupBy("w1").agg(F.count("*").alias("c1"))
    # vocab over the SAME tokenizer as the bigrams (norm_tokens) — a
    # drifted copy here counted a phantom '' token for edge-whitespace
    # documents (r6 review finding)
    vocab = (
        model_docs.select(
            F.explode(norm_tokens(text_col)).alias("tok")
        )
        .agg(F.count_distinct("tok").alias("v"))
    )

    doc_bg = bigrams(docs, id_col)
    logp = F.log(
        (F.coalesce(F.col("c2"), F.lit(0)) + F.lit(alpha))
        / (F.coalesce(F.col("c1"), F.lit(0)) + F.lit(alpha) * F.col("v"))
    )
    return (
        doc_bg.join(c2, ["w1", "w2"], "left")
        .join(F.broadcast(c1), ["w1"], "left")
        .crossJoin(F.broadcast(vocab))
        .groupBy("id")
        .agg(
            F.count("*").alias("n_bigrams"),
            F.round(F.exp(-F.avg(logp)), 6).alias("ppl"),
        )
    )


# ---------------------------------------------------------------------------
# Gopher repetition signals (Rae et al. 2021, Table A1)
# ---------------------------------------------------------------------------

def repetition_signals(
    df: DataFrame,
    id_col: str,
    text_col: str,
) -> DataFrame:
    """The full Gopher repetition-filter table per document — the
    signals the published quality pipeline thresholds to drop
    self-repetitive pages (:func:`gopher_quality_flags` carries only
    the top-bigram member of this family):

    * ``dup_line_frac`` / ``dup_line_char_frac`` — lines (split on
      newline, lowercased, trimmed, empties dropped) occurring more
      than once: repeat occurrences over total, unweighted and
      char-weighted;
    * ``top_{2,3,4}gram_char_frac`` — character mass of the most
      frequent word n-gram over total n-gram character mass (mass =
      count x n-gram length; the top n-gram is the max of
      (count, mass), so equal-frequency ties resolve to the longer
      gram deterministically in both engines);
    * ``dup_{5..10}gram_char_frac`` — character mass of all n-grams
      occurring at least twice over total n-gram character mass.

    Every numerator/denominator is an exact integer sum; each output
    is a single IEEE division, so results are bit-identical across
    engines and partitionings with no rounding step. Documents too
    short for an n produce 0.0 for that column.

    DENOMINATOR CAVEAT — the published Gopher/datatrove filters
    normalize the n-gram char-mass numerators by the *document's*
    character count; this table normalizes by *total n-gram char
    mass* (the exact-integer formulation above). The ratios are
    therefore on a different scale than the published ones and the
    published thresholds (e.g. top_2gram > 0.20) are NOT directly
    transferable — recalibrate thresholds against this table before
    filtering with it.

    Scale shape (r8 fusion): ONE tokenize feeds a cached (id, tokens)
    table, the nine per-n window explodes union into a SINGLE stream
    keyed (id, n, gram) — the id in the key spreads hot boilerplate
    grams across the cluster — and all nine numerator/denominator
    pairs come out of one grouped count plus one per-id conditional
    aggregation. The former shape ran nine independent
    scan+explode+two-groupBy subtrees and joined nine stat tables back
    on id (measured 15.1s at 50k docs vs ~4s fused); the integer sums
    and single IEEE divisions are unchanged, so outputs are
    bit-identical. The gram-count exchange is an explicit
    repartition-then-complete-aggregate — the candidate stream is
    mostly-unique per (id, n, gram), the same
    pathological-partial-agg profile as the dedup pair counts
    (dedup.py `_pair_counts`). The small per-doc result is
    checkpointed eagerly so the token cache can be released.
    """
    toks = norm_tokens(text_col)
    base = df.select(F.col(id_col).alias("id"), toks.alias("_t")).persist()

    def gram_rows(n: int) -> DataFrame:
        m = F.size("_t") - F.lit(n - 1)
        z = F.arrays_zip(*[F.slice(F.col("_t"), k + 1, m) for k in range(n)])
        return (
            base.where(F.size("_t") >= n)
            .select("id", F.lit(n).alias("n"), F.explode(z).alias("_z"))
            .select(
                "id",
                "n",
                F.concat_ws(
                    " ", *[F.col("_z")[str(k)] for k in range(n)]
                ).alias("gram"),
            )
        )

    allg = gram_rows(2)
    for n in range(3, 11):
        allg = allg.unionByName(gram_rows(n))
    sess_parts = int(df.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    counts = (
        allg.repartition(sess_parts, "id", "n", "gram")
        .groupBy("id", "n", "gram")
        .agg(F.count("*").alias("cnt"))
        .withColumn("mass", F.col("cnt") * F.length("gram"))
    )
    gram_aggs = []
    gram_cols = []
    for n in (2, 3, 4):
        c = f"top_{n}gram_char_frac"
        gram_aggs.append(
            (
                F.max(F.when(F.col("n") == n, F.struct("cnt", "mass")))[
                    "mass"
                ]
                / F.sum(F.when(F.col("n") == n, F.col("mass")))
            ).alias(c)
        )
        gram_cols.append(c)
    for n in range(5, 11):
        c = f"dup_{n}gram_char_frac"
        gram_aggs.append(
            (
                F.sum(
                    F.when(
                        (F.col("n") == n) & (F.col("cnt") >= 2),
                        F.col("mass"),
                    ).otherwise(0)
                )
                / F.sum(F.when(F.col("n") == n, F.col("mass")))
            ).alias(c)
        )
        gram_cols.append(c)
    gram_table = counts.groupBy("id").agg(*gram_aggs)

    lines = (
        df.select(
            F.col(id_col).alias("id"),
            F.explode(F.split(F.lower(F.col(text_col)), "\n")).alias("_l"),
        )
        .select("id", F.trim("_l").alias("line"))
        .where(F.col("line") != "")
        .groupBy("id", "line")
        .agg(F.count("*").alias("cnt"))
    )
    line_stats = lines.groupBy("id").agg(
        (
            F.sum(F.col("cnt") - 1) / F.sum("cnt")
        ).alias("dup_line_frac"),
        (
            F.sum((F.col("cnt") - 1) * F.length("line"))
            / F.sum(F.col("cnt") * F.length("line"))
        ).alias("dup_line_char_frac"),
    )

    out = df.select(F.col(id_col).alias("id"))
    out = out.join(line_stats, "id", "left")
    out = out.join(gram_table, "id", "left")
    cols = ["dup_line_frac", "dup_line_char_frac"] + gram_cols
    out = out.select(
        "id", *[F.coalesce(c, F.lit(0.0)).alias(c) for c in cols]
    )
    return dispatch._finalize(out, base)


# ---------------------------------------------------------------------------
# token-window chunking (RAG / training-sequence preparation)
# ---------------------------------------------------------------------------

def chunk_text(
    df: DataFrame,
    id_col: str,
    text_col: str,
    size: int = 256,
    overlap: int = 32,
    token_model: str | None = None,
    merges: list[tuple[str, str]] | None = None,
) -> DataFrame:
    """Split each document into overlapping token-window chunks — the
    standard retrieval/RAG and long-document preprocessing step
    (:func:`pack_sequences` is the complementary training-side
    operator that concatenates; this one slices).

    Chunk starts step by ``stride = size - overlap``; the LAST chunk
    is the first whose window reaches the document end, so the tail is
    covered exactly once and no chunk is a pure suffix of its
    predecessor. A document of ``<= size`` tokens is one chunk; an
    empty/whitespace-only document is NO chunks.

    ``token_model`` picks the token stream the budget counts
    (training-data consumers budget by TOKENIZER tokens, not words):

    * ``None`` (default) — whitespace words (``norm_tokens``);
    * ``"bpe"`` — the words are BPE-encoded with ``merges`` (e.g. the
      committed :data:`~.bpe.BPE_MERGES_V1` table) via one batched
      Arrow pass (:func:`~.bpe.encode_token_arrays`) and the windows
      slice the ENCODED token sequence; chunk_text re-joins encoded
      tokens (the '▁' end-of-word marker keeps word boundaries
      recoverable). Both engines replay the same committed table, so
      the graded query's oracle re-derives the encode in SQL.

    Returns (id, chunk_id, chunk_start, n_chunk_tokens, chunk_text)
    with 0-based token offsets, chunk_id ordinal per document.

    Scale shape: chunk count and starts are closed-form expressions of
    the token count, so the default path is one codegen projection +
    posexplode of a per-doc ``sequence`` — no shuffle at all; the bpe
    path adds exactly one narrow Arrow map stage before the same
    shuffle-free grid.
    """
    if size < 2 or not 0 <= overlap < size:
        raise ValueError("need size >= 2 and 0 <= overlap < size")
    if token_model not in (None, "bpe"):
        raise ValueError("token_model must be None or 'bpe'")
    stride = size - overlap
    toks = norm_tokens(text_col)
    n = F.size("_t")
    # ceil((n - size) / stride) + 1 for n > size, else 1
    n_chunks = F.when(
        n > size,
        F.floor((n - F.lit(size) + F.lit(stride - 1)) / F.lit(stride)) + 1,
    ).otherwise(F.lit(1)).cast("int")
    if token_model == "bpe":
        from .bpe import encode_token_arrays

        if merges is None:
            raise ValueError("token_model='bpe' requires a merges table")
        # one canonical tokenizer feeds the encoder (no drift between
        # the word splitter and the token counter), then the grid
        # below slices the ENCODED sequence
        words = df.select(F.col(id_col).alias("id"), toks.alias("_w"))
        base = encode_token_arrays(words, "id", "_w", merges).select(
            "id", F.col("tokens").alias("_t")
        )
    else:
        base = df.select(F.col(id_col).alias("id"), toks.alias("_t"))
    return (
        base
        # empty documents produce NO chunks (norm_tokens pins their
        # token array empty; without this filter they'd still emit one
        # zero-token chunk via the n_chunks floor of 1)
        .where(F.size("_t") > 0)
        .select(
            "id",
            "_t",
            # pos of posexplode over a 0..n-1 sequence equals the
            # element itself — one exploded value serves as both the
            # ordinal and the stride multiplier
            F.explode(F.sequence(F.lit(0), n_chunks - 1)).alias("chunk_id"),
        )
        .select(
            "id",
            "chunk_id",
            (F.col("chunk_id") * F.lit(stride)).alias("chunk_start"),
            F.slice(
                F.col("_t"), F.col("chunk_id") * F.lit(stride) + 1, size
            ).alias("_c"),
        )
        .select(
            "id",
            "chunk_id",
            "chunk_start",
            F.size("_c").alias("n_chunk_tokens"),
            F.array_join("_c", " ").alias("chunk_text"),
        )
    )
