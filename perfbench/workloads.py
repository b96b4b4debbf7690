"""The three workloads: seeded inputs, the timed operation, its output
check, and the spans a traced run wraps.

Each workload exposes

* ``make_inputs(seed)`` -> in-process inputs (pandas / numpy), a pure
  function of the seed;
* ``load(spark, inputs)`` -> the Spark-side inputs the operation reads;
* ``run(spark, data, tracer, workdir)`` -> the operation's output,
  fully materialized (the timed unit);
* ``check(inputs, out)`` -> True iff the output is correct;
* ``trace(tracer, pairs)`` -> install the span wrappers;
* ``n_items`` -> input items one operation completes;
* ``spans`` -> the span names a traced run can record;
* ``pair_span`` -> the span whose pair yield is reported, if any, and
  ``pair_candidates(join_rows, outs)`` -> the yield's base.
"""

from __future__ import annotations

import os
import shutil
from contextlib import nullcontext

import numpy as np
import pandas as pd

HERE = os.path.dirname(os.path.abspath(__file__))

# Input sizes are set so that one cold operation of each workload, 22 runs
# each, fits the benchmark's time budget on 4 cores (see README.md).


def _span(tracer, name):
    return tracer.span(name) if tracer is not None else nullcontext()


# ---------------------------------------------------------------- kg_build


class KGBuild:
    """``KGPipeline(fresh workdir).run_all(pages)`` with the pipeline's
    defaults over ``generate_corpus(N_PAGES, seed)``."""

    name = "kg_build"
    N_PAGES = 1000
    n_items = N_PAGES
    STAGES = ("run_extract", "run_mentions", "run_link_and_stage_edges",
              "run_fused_stage_edges", "run_global")
    spans = ("pipeline.KGPipeline", *(f"pipeline.{s}" for s in STAGES),
             "rank.article_rank", "canonicalize.build_canonical_map_auto")
    pair_span = None

    def make_inputs(self, seed: int):
        from bertseyeview_spark.datagen import generate_corpus

        return generate_corpus(self.N_PAGES, seed=seed)

    def load(self, spark, corpus):
        from bertseyeview_spark.datagen import pages_to_spark

        return pages_to_spark(spark, corpus)

    def run(self, spark, pages, tracer, workdir):
        from bertseyeview_spark.pipeline import KGPipeline

        shutil.rmtree(workdir, ignore_errors=True)
        with _span(tracer, "pipeline.KGPipeline"):
            pipe = KGPipeline(spark, workdir)
        pipe.run_all(pages)
        return pipe, pages

    def check(self, corpus, out) -> bool:
        pipe, pages = out
        got = {(r["subj"], r["pred"], r["obj"]) for r in pipe.triples().collect()}
        want = set(corpus.expected_triples.itertuples(index=False, name=None))
        return got == want and pipe.verify_extraction(pages) == 0

    def trace(self, tracer, pairs) -> None:
        from bertseyeview_spark import pipeline
        from bertseyeview_spark.operators import canonicalize, rank

        for fn in self.STAGES:
            tracer.wrap(pipeline.KGPipeline, fn, f"pipeline.{fn}")
        tracer.wrap(rank, "article_rank", "rank.article_rank")
        tracer.wrap(canonicalize, "build_canonical_map_auto",
                    "canonicalize.build_canonical_map_auto")


# ------------------------------------------------------------ corpus_clean


class CorpusClean:
    """``plans.cleaning.clean_corpus`` over the sf0.1 documents salted
    into ``N_SHARDS`` shards the way ``tools/scale_stress.py build``
    does, with the shard salt tokens drawn from the seed."""

    name = "corpus_clean"
    N_SHARDS = 2
    n_items = 5000 * N_SHARDS
    spans = ("cleaning.clean_corpus", "textquality.language_id",
             "textquality.gopher_quality_flags", "dedup.minhash_lsh_pairs",
             "dedup.dedup_representatives",
             "canonicalize.connected_components_auto", "bench.collect")
    pair_span = "dedup.minhash_lsh_pairs"

    def make_inputs(self, seed: int) -> pd.DataFrame:
        from tools.scale_stress import _salt_text

        docs = pd.read_parquet(os.path.join(HERE, "data", "documents.parquet"))
        docs = docs[["doc_id", "text"]]
        n = len(docs)
        # a multiple of 10 keeps scale_stress's salted positions
        # (shard % 5) while the salt token itself changes with the seed
        base = 10 * int(np.random.default_rng(seed).integers(1, 10**6))
        parts = []
        for k in range(self.N_SHARDS):
            p = docs.copy()
            p["doc_id"] = p["doc_id"] + k * n
            if k:
                p["text"] = [
                    _salt_text(t, d, base + k)
                    for d, t in zip(docs["doc_id"], docs["text"])
                ]
            parts.append(p)
        return pd.concat(parts, ignore_index=True)

    def load(self, spark, docs):
        return spark.createDataFrame(docs)

    def run(self, spark, docs, tracer, workdir):
        from bertseyeview_spark.plans import cleaning

        with _span(tracer, "cleaning.clean_corpus"):
            verdict = cleaning.clean_corpus(docs)
        with _span(tracer, "bench.collect"):
            return verdict.collect()

    def check(self, docs: pd.DataFrame, rows) -> bool:
        v = pd.DataFrame([r.asDict() for r in rows], columns=["id", "keep", "reason"])
        if len(v) != len(docs) or set(v["id"]) != set(docs["doc_id"]):
            return False
        v = v.merge(docs, left_on="id", right_on="doc_id")
        v["gated"] = v["reason"].isin(["language", "quality"])
        # shard 0 is the unsalted file whatever the seed: its gate
        # verdicts equal the reference (make_reference.py)
        ref = pd.read_csv(os.path.join(HERE, "data", "shard0_reference.csv"),
                          keep_default_na=False)
        got = v.set_index("id")["reason"].reindex(ref["doc_id"])
        got = got.where(got.isin(["language", "quality"]), "")
        if (got.to_numpy() != ref["gate"].to_numpy()).any():
            return False
        # verbatim copies get the same gate verdict
        if (v.groupby("text")["gated"].nunique() != 1).any():
            return False
        # a verbatim copy group past both gates keeps at most one member
        # and marks every other member duplicate. A group may keep none
        # when it is a near-duplicate of a kept document outside it, but
        # the group of a shard-0 document with no near-duplicate keeps
        # exactly one.
        past = v[~v["gated"]]
        keeps = past.groupby("text")["keep"].sum()
        isolated = ref.loc[ref["isolated"] == 1, "doc_id"]
        must_keep = past.loc[past["id"].isin(isolated), "text"].unique()
        return bool(
            (past["keep"] | (past["reason"] == "duplicate")).all()
            and (keeps <= 1).all()
            and (keeps.loc[must_keep] == 1).all()
        )

    def pair_candidates(self, join_rows, outs) -> float:
        """Band-join output rows (SQL metric), the largest join of each
        execution under the span: candidates with id_a < id_b, before
        the per-pair dedup and the Jaccard check."""
        return sum(join_rows)

    def trace(self, tracer, pairs) -> None:
        from bertseyeview_spark.operators import canonicalize
        from bertseyeview_spark.plans import cleaning

        tracer.wrap(cleaning, "language_id", "textquality.language_id")
        tracer.wrap(cleaning, "gopher_quality_flags",
                    "textquality.gopher_quality_flags")
        tracer.wrap(cleaning, "minhash_lsh_pairs", "dedup.minhash_lsh_pairs",
                    on_result=lambda a, kw, out: pairs.append(
                        ("dedup.minhash_lsh_pairs", out)))
        tracer.wrap(cleaning, "dedup_representatives",
                    "dedup.dedup_representatives")
        tracer.wrap(canonicalize, "connected_components_auto",
                    "canonicalize.connected_components_auto")


# ---------------------------------------------------------------- semdedup


class SemDedup:
    """``operators.similarity.semdedup`` over seeded 64-d embeddings in
    ``TOPICS`` equal topics: ``N_ORIG`` originals spread round-robin over
    the topics, each with ``COPIES`` planted copies perturbed by
    N(0, 0.01) (cosine ~0.998 to their original)."""

    name = "semdedup"
    TOPICS = 8  # semdedup's default k
    N_ORIG = 200
    COPIES = 3
    DIM = 64
    n_items = N_ORIG * (1 + COPIES)
    spans = ("similarity.semdedup", "similarity.kmeans_embeddings",
             "canonicalize.connected_components_auto", "bench.collect")
    pair_span = "similarity.semdedup"

    def make_inputs(self, seed: int) -> pd.DataFrame:
        rng = np.random.default_rng(seed)
        centers = rng.standard_normal((self.TOPICS, self.DIM))
        centers /= np.linalg.norm(centers, axis=1, keepdims=True)
        # originals of one topic sit at cosine ~0.84 to its center and
        # ~0.7 to each other: clustered, but not near-duplicates. k-means
        # starts from the smallest ids, one per topic, so every seed gets
        # equal clusters and the same within-cluster pair work.
        topic = np.arange(self.N_ORIG) % self.TOPICS
        orig = centers[topic] + rng.normal(0.0, 0.08, (self.N_ORIG, self.DIM))
        vecs = [orig] + [
            orig + rng.normal(0.0, 0.01, orig.shape) for _ in range(self.COPIES)
        ]
        x = np.concatenate(vecs)
        ids = np.arange(len(x), dtype=np.int64)
        return pd.DataFrame({
            "vec_id": ids,
            "embedding": list(x),
            "orig_id": ids % self.N_ORIG,
        })

    def load(self, spark, emb):
        return spark.createDataFrame(emb[["vec_id", "embedding"]])

    def run(self, spark, emb, tracer, workdir):
        from bertseyeview_spark.operators import similarity

        with _span(tracer, "similarity.semdedup"):
            out = similarity.semdedup(emb)
        with _span(tracer, "bench.collect"):
            return out.collect()

    def check(self, emb: pd.DataFrame, rows) -> bool:
        out = pd.DataFrame([r.asDict() for r in rows],
                           columns=["id", "cluster", "rep_id", "is_rep"])
        if len(out) != len(emb) or set(out["id"]) != set(emb["vec_id"]):
            return False
        out = out.set_index("id").loc[emb["vec_id"]]
        orig = emb["orig_id"].to_numpy()
        # originals sit at cosine <= ~0.86 to each other and copies at
        # >= 0.995 to their original (threshold 0.95), and copies share
        # their original's cluster: each original represents itself and
        # its copies
        return bool(
            (out["cluster"].to_numpy() == out.loc[orig, "cluster"].to_numpy()).all()
            and (out["rep_id"].to_numpy() == orig).all()
            and (out["is_rep"].to_numpy() == (emb["vec_id"].to_numpy() == orig)).all()
        )

    def pair_candidates(self, join_rows, outs) -> float:
        """Within-cluster pairs id_a < id_b, from the output's cluster
        sizes. The join evaluates the cosine test as its join condition,
        so its SQL output-row metric counts kept pairs, not candidates."""
        total = 0
        for rows in outs:
            sizes = pd.Series([r["cluster"] for r in rows]).value_counts()
            total += int((sizes * (sizes - 1) // 2).sum())
        return float(total)

    def trace(self, tracer, pairs) -> None:
        from bertseyeview_spark.operators import canonicalize, similarity

        tracer.wrap(similarity, "kmeans_embeddings", "similarity.kmeans_embeddings")
        tracer.wrap(canonicalize, "connected_components_auto",
                    "canonicalize.connected_components_auto",
                    on_result=lambda a, kw, out: pairs.append(
                        ("similarity.semdedup", a[1] if len(a) > 1 else kw["pairs"])))


WORKLOADS = {w.name: w for w in (KGBuild(), CorpusClean(), SemDedup())}
# every span any workload records, in first-seen order
ALL_SPANS = tuple(dict.fromkeys(s for w in WORKLOADS.values() for s in w.spans))
PAIR_SPANS = tuple(w.pair_span for w in WORKLOADS.values() if w.pair_span)
