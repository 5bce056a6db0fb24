#!/usr/bin/env python
"""Side benchmark: per-query timing with a noop sink, outside bench.py's
headline protocol.

    python bench_extra.py [isolate] [sf_dir] [q1,q2,...]

Each query is planned and run from its parquet inputs; no operator keeps
state between calls, so no timing reuses an earlier query's work. Each
query's jobs carry the description `isolate:<name>`.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def _noop(df):
    df.write.format("noop").mode("overwrite").save()


def isolate(spark, sf_dir: str, names: list[str]) -> None:
    import __spark_entry__ as entrymod

    qs = entrymod.queries()
    out = {}
    for name in names:
        spark.sparkContext.setJobDescription(f"isolate:{name}")
        t0 = time.time()
        df = qs[name](spark, sf_dir)
        _noop(df)
        out[name] = round(time.time() - t0, 3)
        print(f"{name}: {out[name]}s", flush=True)
    print(json.dumps(out))


HEADLINE_DEFAULT = [
    "q1_pricing_summary", "q_top_customers", "q_supplier_part_join",
    "q_dedup_ngram_jaccard", "q_dedup_clusters", "q_knn_ivf",
    "q_embedding_neardup", "q_pagerank", "q_bm25_search",
    "q_dedup_segments", "q_bpe_merges",
]


def main() -> None:
    from ai4orgwebscraper_spark.session import get_spark

    mode = sys.argv[1] if len(sys.argv) > 1 else "isolate"
    if mode != "isolate":
        sys.exit(f"unknown mode {mode!r}; the one mode is isolate")
    sf_dir = sys.argv[2] if len(sys.argv) > 2 else SF_DIR
    spark = get_spark(app_name=f"bench_extra_{mode}")
    names = sys.argv[3].split(",") if len(sys.argv) > 3 else HEADLINE_DEFAULT
    isolate(spark, sf_dir, names)
    spark.stop()


if __name__ == "__main__":
    main()
