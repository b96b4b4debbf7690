"""Write ``data/shard0_reference.csv``: the corpus_clean check's reference
for the unsalted documents in ``data/documents.parquet`` (shard 0 of
every corpus_clean input, whatever the seed).

    python3 perfbench/make_reference.py

Columns:

* ``doc_id``;
* ``gate``: ``language`` or ``quality`` when ``clean_corpus`` drops the
  document at that gate, empty when it passes both gates;
* ``isolated``: 1 when no other document of the file shares 70% or more
  of its distinct 3-token windows (exact Jaccard over
  ``operators.dedup.shingle_table``), so ``clean_corpus`` (threshold
  0.8) can pair it with no document of the file. Salted copies cannot
  pair with it either: salting replaces every fifth token, which
  leaves at most 2 in 5 of a copy's windows unchanged.
"""

from __future__ import annotations

import os
import sys
from collections import defaultdict

import pandas as pd

HERE = os.path.dirname(os.path.abspath(__file__))
ISOLATION_JACCARD = 0.7


def max_jaccard(sets: dict[int, set[str]]) -> dict[int, float]:
    """doc id -> the largest exact Jaccard to any other doc, counting
    common windows through an inverted index."""
    index: dict[str, list[int]] = defaultdict(list)
    for doc, windows in sets.items():
        for w in windows:
            index[w].append(doc)
    best = dict.fromkeys(sets, 0.0)
    for doc, windows in sets.items():
        common: dict[int, int] = defaultdict(int)
        for w in windows:
            for other in index[w]:
                if other != doc:
                    common[other] += 1
        for other, c in common.items():
            j = c / (len(windows) + len(sets[other]) - c)
            best[doc] = max(best[doc], j)
    return best


def main() -> int:
    sys.path.insert(0, os.path.dirname(HERE))
    from bertseyeview_spark.operators.dedup import shingle_table
    from bertseyeview_spark.plans.cleaning import clean_corpus
    from bertseyeview_spark.session import get_spark

    spark = get_spark(app_name="perfbench-reference", master="local[2]",
                      shuffle_partitions=2,
                      extra_conf={"spark.ui.showConsoleProgress": "false"})
    spark.sparkContext.setLogLevel("ERROR")
    try:
        docs = pd.read_parquet(os.path.join(HERE, "data", "documents.parquet"))
        sdf = spark.createDataFrame(docs[["doc_id", "text"]])
        verdict = clean_corpus(sdf).toPandas()
        sets: dict[int, set[str]] = defaultdict(set)
        for r in shingle_table(sdf, "doc_id", "text", 3).collect():
            sets[r["id"]].add(r["shingle"])
    finally:
        spark.stop()
    best = max_jaccard(sets)
    ref = pd.DataFrame({"doc_id": docs["doc_id"]})
    gate = verdict.set_index("id")["reason"]
    ref["gate"] = ref["doc_id"].map(gate).where(lambda g: g.isin(["language", "quality"]))
    # a document with fewer than 3 tokens has no windows and no pair
    ref["isolated"] = [int(best.get(d, 0.0) < ISOLATION_JACCARD) for d in ref["doc_id"]]
    out = os.path.join(HERE, "data", "shard0_reference.csv")
    ref.to_csv(out, index=False)
    print(f"{out}: {len(ref)} docs, gates {ref['gate'].value_counts().to_dict()}, "
          f"{int(ref['isolated'].sum())} isolated")
    return 0


if __name__ == "__main__":
    sys.exit(main())
