"""Dump formatted physical plans for the headline queries -> EXPLAIN.md.

The point (per the build brief): after correctness, verify each plan is
the one you'd want at 100 TB — filters pushed to the scan, projections
pruned, small sides broadcast, aggregations partial+final, top-k as
TakeOrderedAndProject, no Python in JVM-only paths.

With ``--label`` it instead writes one plan per query to
``<out>/<query>_<label>.txt`` (default: the ``HEADLINE`` queries), for a
before/after diff: run it with ``--label before`` in a checkout of the
starting commit and ``--label after`` in the changed tree.

Usage: python tools/explain_plans.py [--sf DIR] [--label L [--out DIR] [query ...]]
"""

from __future__ import annotations

import argparse
import io
import os
import sys
from contextlib import redirect_stdout

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as E  # noqa: E402
from bertseyeview_spark import dispatch  # noqa: E402
from bertseyeview_spark.session import get_spark  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# the queries captured for a before/after plan diff
HEADLINE = [
    "ngram_jaccard_dedup", "minhash_lsh_dedup", "quality_features",
    "language_id", "embedding_topk_cosine", "label_abundance_two_groups",
    "top_entities", "sessionization", "events_windowed_agg",
    "dictionary_mention_topk", "top_articles_citations",
    "connected_components",
]

QUERIES = [
    ("label_abundance", "scalar counts broadcast; LEFT SEMI subsets; partial+final hash aggs"),
    ("top_articles_citations", "two semi-joined grouped counts; TakeOrderedAndProject top-k"),
    ("top_entities", "broadcast dim join; partial+final count; distributed top-k"),
    ("search_topk", "predicate pushdown into the parquet scan; top-k"),
    ("minhash_lsh_dedup", "JVM-side signatures; banded bucket equi-join through banded_pairs (first agreeing band in the join condition: no pair-dedup aggregate or exchange); broadcast-arrays candidate verification (size(array_intersect) per pair, shingle stream never re-exploded); no Python"),
    ("embedding_topk_cosine", "broadcast query side; codegen'd cosine; window top-k"),
    ("events_windowed_agg", "single hash agg over time buckets"),
    ("label_abundance_two_groups", "ONE scan of the mention set: membership tags via broadcast left joins, single grouped agg with conditional counts"),
    ("citation_rows", "metadata prepped once, joined twice (article/reference side); single boundary window for the ordinal"),
    ("node_properties_search", "properties map built from one meta join; map projection; filter + top-k"),
    ("simhash_dedup", "one Arrow UDF for the signatures; max_hamming + 1 band buckets through banded_pairs (first agreeing band in the join condition, bit_count hamming filter in the same stage, no pair-dedup exchange); broadcast-arrays exact-Jaccard verify"),
    ("embedding_ann_lsh", "hyperplane signatures JVM-side; banded_pairs with the query side broadcast (first agreeing band in the join condition, no pair-dedup exchange); cosine re-rank + window top-k"),
    ("embedding_neardup", "LSH banded self-join through banded_pairs (no cross join; first agreeing band in the join condition, so no pair-dedup exchange); codegen'd cosine verify"),
    ("ngram_jaccard_dedup", "one ceiling probe picks the pair-count path: broadcast-CSR MapInArrow pair counting at this scale (past the broadcast ceilings, ppjoin: prefix self-join with length and positional filters, verified against the full capped sets); codegen shingling, broadcast size joins, exact Jaccard filter in Catalyst"),
    ("motif_two_hop", "pattern terms compiled to chained equi-joins (Cypher MATCH analogue)"),
    ("gopher_quality", "codegen'd splits + one (id, bigram) grouped count; no Python"),
    ("kg_pagerank", "size-dispatched: at or below RANK_LOCAL_MAX_EDGES the deduplicated edges come to the driver in one Arrow pull and iterate as np.bincount passes, so the dump is the createDataFrame scan of the ranks; above it inv_norm is pre-joined onto edges: ONE join + grouped sum per iteration"),
    ("bm25_search", "explode fused with codegen In/InSet term filter (no interpreted HOF); tf/df grouped counts; idf/norm broadcast scalars; no UDFs"),
    ("triangle_counts", "oriented wedge equi-join + closing LEFT SEMI"),
    ("pii_redaction", "single codegen'd projection: regex counts + chained replaces"),
    ("hits_scores", "size-dispatched like kg_pagerank: two np.bincount passes per iteration on the driver at this scale (the dump is the created frame plus the Spark round); above the ceiling two grouped sums per iteration (map-side combined) and the final L1 scalars as broadcast 1-row relations"),
    ("k_core", "per-round grouped degree count + two LEFT SEMI prunes; flat lineage via localCheckpoint"),
    ("node_similarity", "neighbor equi-join candidates + exact Jaccard verify; hub cap as a broadcast semi-join"),
    ("host_profile", "ONE partial+final hash agg; shuffle carries md5 digests, never page text"),
    ("decontamination", "benchmark shingles broadcast; corpus scanned once, raw-shingle explode + probe + partial count-distinct in one codegen stage, no corpus shuffle on shingle"),
    ("lm_perplexity", "bigram counts as grouped aggs; context table broadcast (kills unigram key skew); scoring = one composite-key shuffle join"),
    ("embedding_ivf_topk", "IVF: the quantizer is semdedup's size-dispatched k-means (driver-local at this scale, so the lists' assignments are a created frame); centroids as broadcast literals; probe rows broadcast against the cluster equi-join — each query touches ~nprobe/n_clusters of the corpus, no query-dependent corpus shuffle"),
    ("temperature_resample", "domain-mix rates compiled to ONE codegen'd when/otherwise hash filter over the scan — no shuffle; the grouped count that derived the rates is a separate tiny job"),
    ("exact_substring_dedup", "codegen arrays_zip window build + dual-seed xxhash64 fingerprints; both shuffles key on the fingerprint (AQE skew-split covers boilerplate keys); per-doc gaps-and-islands window bounded by doc length"),
    ("substring_cut", "flag stage shared with exact_substring_dedup; canonical pick = one row_number window over the fingerprint; cut applied as a per-doc HOF filter against that doc's own collected ranges — no corpus-wide state"),
    ("repetition_signals", "ONE cached tokenize; nine per-n window explodes union into a single (id, n, gram) stream (id in the key spreads boilerplate grams); one repartition-then-complete grouped count + one per-id conditional aggregation replace nine independent subtrees"),
    ("bfs_distances", "frontier expansion: per hop ONE frontier-edge equi-join, then dedup + left-anti membership probe against the settled set (first discovery = shortest hop, no min-merge needed); work tracks the expanding boundary"),
    ("warc_roundtrip", "one Arrow pass per WARC blob (binaryFile granularity); no per-record Python round trips; md5/length computed JVM-side on the parsed payloads"),
    ("text_chunking", "zero-shuffle: one codegen projection + posexplode of a closed-form per-doc chunk grid"),
    ("semdedup", "size-dispatched k-means, fitted eagerly: at or below KMEANS_LOCAL_MAX_VALUES vector values the (id, vector) rows come to the driver in one Arrow pull and Lloyd's runs in numpy, so the assignments enter the dump as the created frame's scan; above it centroids travel as broadcast literals (one scan/iteration); size-guarded cluster equi-join for pairs; delegate collapse via (cluster, nv) window"),
    ("weighted_sssp", "Bellman-Ford frontier relaxation: per round ONE frontier-edge equi-join + grouped min-merge against the settled costs (a later discovery can be cheaper, unlike BFS first-discovery); parallel edges min-collapsed once up front"),
    ("closeness_centrality", "per-source BFS keyed (source, vertex): per hop ONE frontier-edge equi-join + dedup + left-anti settled probe; state is |sample| x |reach| — the pivot-sampling knob that keeps closeness linear at scale; final grouped count/sum + one division"),
    ("dsir_select", "hashed-ngram importance weights: codegen window build, two B-row bucket histograms whose log-ratio table BROADCASTS onto per-doc bucket counts; one corpus shuffle (doc x bucket) + bucket-ordered fold; top-k as TakeOrderedAndProject"),
    ("c4_line_filter", "zero-shuffle narrow map: line rules as an in-place filter(transform(split)) HOF (trades interpreted-HOF cost for removing a corpus-wide explode+regroup shuffle); page rules as codegen'd regexp_count/contains"),
    ("anchor_text_topk", "ONE (target, anchor) grouped count with map-side combine (shuffle carries pre-aggregated pairs, not links); totals as a second agg on the same key; top-k window over UNIQUE anchors per target, bounded by anchor vocabulary not in-degree"),
    ("robots_filter", "parse = posexplode + two per-host windows (lag group-start + running-sum group id, gaps-and-islands); gate = ONE host equi-join (rules side broadcast-sized at crawl scale, AQE skew split on boilerplate hosts) + per-url longest-match window over a robots-file-sized candidate set"),
    ("dedup_paragraphs", "CCNet paragraph dedup: posexplode units, ONE grouped min-struct per unit hash (map-side combined, AQE skew split on boilerplate keys), hash equi-join back, ONE per-doc regroup for reassembly; shuffles carry 64-bit hashes + positions"),
    ("betweenness_centrality", "Brandes forward: per hop one frontier-edge equi-join + grouped integer sigma sum; backward: per depth one reversed edge join + grouped dependency sum; state keyed (source, vertex) = |sample| x |reach|, localCheckpoint every 3 levels"),
    ("sitemap_parse", "zero-shuffle per-file map: root-tag kind + entry array materialized once per file, explode carries entry slices (never the xml body), codegen'd per-entry field extraction; no joins, no exchange"),
    ("fetch_schedule", "frontier prune = exact salted two-phase top-k per host (priorities final before bucketing); slot = one per-host window over <= 16k survivors; delays broadcast left join"),
    ("bowtie", "the dump shows the COMPOSITION stage only: reach-flag classification joins over the checkpointed SCC/BFS outputs (their iterative internals are plan-dumped under the scc and bfs_distances entries; like kg_pagerank, the iterative operator executes eagerly to produce its dump)"),
    ("scc", "ColorSCC peel: per prop round ONE color-edge equi-join + grouped min (monotone label relaxation); backward membership = bfs-style frontier joins filtered to the root's color class; state O(V), never reachability sets"),
    ("text_chunking_bpe", "one batched Arrow encode stage (merges broadcast via closure) feeding the same zero-shuffle closed-form chunk grid as text_chunking"),
    ("crawl_discovery", "canonicalization fused into each scan; union dedup = ONE groupBy on the canonical url; robots gate = one host equi-join (rules broadcast); naming = salted two-phase top-k joined back"),
    ("kg_construct_triples", "construct_triples picks the fused page-local plan at this dictionary size, from the same Arrow pull of the dictionary it broadcasts (no extra job): ONE MapInPandas over the pages emits the page-local edges, Null filter + one (src, rel, dst) dedup; the canonical remap is two broadcast left joins + dedup; the dangling-citation filter is ONE left join against the distinct page urls"),
]


def plan_of(query, spark, sf_dir: str) -> str:
    """The formatted physical plan of ``query(spark, sf_dir)``.

    ``dispatch._finalize`` is swapped for identity while the query is
    built, so an operator that returns an eager result hands back the
    lazy plan it would checkpoint, and the dump shows its real joins
    instead of a ``Scan ExistingRDD`` of the checkpoint. The caches
    the operator persisted are released once the plan is formatted."""
    finalize = dispatch._finalize
    caches = []

    def lazy(out, *cs):
        caches.extend(cs)
        return out

    dispatch._finalize = lazy
    try:
        df = query(spark, sf_dir)
    finally:
        dispatch._finalize = finalize
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    for c in caches:
        c.unpersist()
    return buf.getvalue()


def _write(path: str, text: str) -> None:
    with open(path, "w") as f:
        f.write(text)
    print(f"wrote {path}")


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default=SF_DIR)
    ap.add_argument("--label", help="write <out>/<query>_<label>.txt plans")
    ap.add_argument("--out", default=os.path.join(REPO, "plans", "r08"))
    ap.add_argument("queries", nargs="*")
    args = ap.parse_args()
    spark = get_spark("explain", master="local[8]", shuffle_partitions=8)
    spark.sparkContext.setLogLevel("ERROR")
    qs = E.queries()
    if args.label:
        os.makedirs(args.out, exist_ok=True)
        for name in args.queries or HEADLINE:
            plan = plan_of(qs[name], spark, args.sf)
            _write(os.path.join(args.out, f"{name}_{args.label}.txt"), plan)
    else:
        out = [
            "# EXPLAIN — physical plans of the headline queries\n",
            f"Generated by tools/explain_plans.py at sf_dir={args.sf}.",
            "Annotations state the property each plan is expected to show.\n",
        ]
        for name, expectation in QUERIES:
            plan = plan_of(qs[name], spark, args.sf)
            out.append(f"\n## {name}\n\nExpected: {expectation}\n\n```\n{plan}```\n")
        _write(os.path.join(REPO, "EXPLAIN.md"), "\n".join(out))
    spark.stop()


if __name__ == "__main__":
    main()
