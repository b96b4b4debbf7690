"""The one composition of the E1-E7 KG chain: pages -> triples.

Both KG entries compose their chain from this module:
:func:`construct_triples` (one in-memory DataFrame plan, used by the
driver entrypoint, the bench harness, and anywhere lineage/resume isn't
needed) and :class:`~bertseyeview_spark.pipeline.KGPipeline` (the
checkpointed, resumable production path). Each picks its page-local
plan with :func:`page_local_plan`, builds the page-local edges with
``kg_fused.fused_page_edges`` or :func:`modular_page_edges`, and ends in
the one E5 pass, :func:`global_edges`.
"""

from __future__ import annotations

import logging

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .. import dispatch
from ..datagen import alias_dict_to_spark, build_alias_dict, build_curation_rules
from ..operators import canonicalize as canon
from ..operators import graph as G
from ..operators.extract import citing_edges, extract_text
from ..operators.linking import link_mentions, link_triples, mention_edges
from ..operators.mentions import detect_mentions, keyword_matches
from ..operators.triples import extract_triples
from . import kg_fused

log = logging.getLogger(__name__)

_KEYWORDS_DEFAULT = ["therapy", "biomarker", "clinical trial", "prognosis"]


def kg_inputs(
    spark: SparkSession,
    alias_dict: DataFrame | None = None,
    curation_rules: DataFrame | None = None,
    keywords: list[str] | None = None,
) -> tuple[DataFrame, DataFrame, list[str]]:
    """``(alias_dict, curation_rules, keywords)``, each left as given or
    defaulted to the synthetic corpus's dictionary, curation rules and
    keyword list."""
    return (
        alias_dict
        if alias_dict is not None
        else alias_dict_to_spark(spark, build_alias_dict()),
        curation_rules
        if curation_rules is not None
        else spark.createDataFrame(build_curation_rules()),
        keywords or _KEYWORDS_DEFAULT,
    )


def page_local_plan(alias_dict: DataFrame) -> tuple[str, pa.Table | None]:
    """Pick the E2-E4 plan from the alias dictionary's size: ``"fused"``
    (``kg_fused.fused_page_edges``) while the dictionary fits the fused
    plan's driver broadcast (``FUSED_ALIAS_CEILING`` rows), else
    ``"modular"`` (:func:`modular_page_edges`), which joins the
    dictionary as a DataFrame.

    The probe is the pull the fused plan broadcasts from
    (``kg_fused.pull_dictionary``), so the fused path pays no job to
    decide; it is returned with the choice (``None`` on the modular
    path). Logs one JSON record: ``alias_rows`` (the exact row count at
    or below the ceiling, ``ceiling + 1`` above it), ``ceiling``,
    ``path``."""
    t, rows = kg_fused.pull_dictionary(alias_dict)
    path = dispatch.log_dispatch(
        log,
        "kg.page_local_plan",
        "fused" if t is not None else "modular",
        alias_rows=rows,
        ceiling=kg_fused.FUSED_ALIAS_CEILING,
    )
    return path, t


def modular_page_edges(
    extracted: DataFrame,
    mentions: DataFrame,
    alias_dict: DataFrame,
    keywords: list[str],
    with_origin: bool,
) -> tuple[DataFrame, DataFrame]:
    """E3+E4 as separate operators: link ``mentions`` against
    ``alias_dict``, then the page-local edges (has_named_entity,
    citing, contains and the linked relation triples) as one deduped
    ``(src, rel, dst)`` table. The counterpart of
    ``kg_fused.fused_page_edges``.

    ``with_origin=True`` adds ``origin_url`` (the page each edge came
    from) and dedups per (edge, origin).

    Returns the edges and the linked mentions, persisted for their two
    consumers (the mention edges and both sides of the triple join);
    the caller releases them once the edges are materialized."""
    linked = link_mentions(mentions, alias_dict).persist()
    parts = [
        mention_edges(linked),
        citing_edges(extracted),
        keyword_matches(extracted, keywords),
    ]
    if with_origin:
        parts = [p.withColumn("origin_url", F.col("src")) for p in parts]
    parts.append(link_triples(extract_triples(mentions), linked, keep_url=with_origin))
    staged = parts[0]
    for p in parts[1:]:
        staged = staged.unionByName(p)
    # dedup per (edge, origin) when origins are kept: the origin must
    # stay deterministic so an idempotent rerun re-buckets rows
    # identically; the global pass collapses cross-page duplicates
    cols = ["src", "rel", "dst"] + (["origin_url"] if with_origin else [])
    return staged.dropDuplicates(cols), linked


def global_edges(
    spark: SparkSession,
    staged: DataFrame,
    corpus: DataFrame,
    alias_dict: DataFrame,
    curation_rules: DataFrame,
) -> DataFrame:
    """E5 over the page-local edges ``staged`` (src, rel, dst, ...):
    drop Null-node edges, remap both endpoints through the canonical
    map, and drop citing edges whose target is not a ``corpus`` url
    (the reference only MERGEs articles it has metadata for) ->
    ``(src, rel, dst)``."""
    cmap = canon.build_canonical_map_auto(
        spark, curation_rules=curation_rules, alias_dict=alias_dict
    )
    edges = canon.apply_canonical_map(
        G.cleanup_null_nodes(staged.select("src", "rel", "dst")), cmap
    )
    # single-pass filter (rel != citing OR dst in corpus) via one left
    # join: a union of two branches over the same subtree would execute
    # the page-local stage twice (measured 2x)
    urls = corpus.select(F.col("url").alias("dst")).distinct().withColumn(
        "_in_corpus", F.lit(True)
    )
    return (
        edges.join(urls, "dst", "left")
        .where((F.col("rel") != "citing") | F.col("_in_corpus").isNotNull())
        .select("src", "rel", "dst")
    )


def construct_triples(
    spark: SparkSession,
    pages: DataFrame,
    alias_dict: DataFrame | None = None,
    curation_rules: DataFrame | None = None,
    keywords: list[str] | None = None,
    ner_scorer_layers: int = 0,
) -> DataFrame:
    """pages(url, warc_ts, html, text, lang) -> (subj, pred, obj).

    The page-local plan is :func:`page_local_plan`'s choice. The fused
    plan returns a lazy frame. The modular plan caches the extracted
    pages, the mentions and the linked mentions, so it returns an eager
    result through ``dispatch._finalize``, which releases them."""
    alias_dict, curation_rules, keywords = kg_inputs(
        spark, alias_dict, curation_rules, keywords
    )
    path, table = page_local_plan(alias_dict)
    caches: list[DataFrame] = []
    if path == "fused":
        dictionary = kg_fused.dictionary_broadcast(
            spark, table, keywords, ner_scorer_layers=ner_scorer_layers
        )
        staged, corpus = kg_fused.fused_page_edges(pages, dictionary), pages
    else:
        corpus = extract_text(pages).persist()
        alias_list = [
            r["alias"] for r in alias_dict.select("alias").distinct().collect()
        ]
        ments = detect_mentions(
            corpus, alias_list, spark, scorer_layers=ner_scorer_layers
        ).drop("type_score" if ner_scorer_layers else "").persist()
        staged, linked = modular_page_edges(
            corpus, ments, alias_dict, keywords, with_origin=False
        )
        caches = [corpus, ments, linked]
    out = global_edges(spark, staged, corpus, alias_dict, curation_rules).select(
        F.col("src").alias("subj"),
        F.col("rel").alias("pred"),
        F.col("dst").alias("obj"),
    )
    return dispatch._finalize(out, *caches) if caches else out


def documents_as_pages(spark: SparkSession, documents: DataFrame) -> DataFrame:
    """Adapt the driver's ``documents(doc_id, text, lang, ...)`` table to
    the input_hint pages shape: html is the utf-8 body wrapped in a
    deterministic template, so extraction is exercised for real and its
    byte-identity oracle is the original text."""
    return documents.select(
        F.concat(F.lit("doc://"), F.col("doc_id").cast("string")).alias("url"),
        F.lit("2024-01-01 00:00:00").cast("timestamp").alias("warc_ts"),
        F.encode(
            F.concat(
                F.lit("<html><head><title></title></head><body><article><p>"),
                F.col("text"),
                F.lit("</p></article></body></html>"),
            ),
            "utf-8",
        ).alias("html"),
        F.col("text"),
        F.col("lang"),
    )
