#!/usr/bin/env python
"""1M-seed BFS stress evidence (BENCH/BASELINE.md appendix): the full
multi-round machinery at scale-mode settings, with the bloom seen
prefilter on its "auto" threshold. Prints one JSON line per run;
paste/append results into BENCH/BASELINE.md.

Usage: python scripts/bfs_stress.py [n_seeds]
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def run(n_seeds: int) -> dict:
    from ai4orgwebscraper_spark.frontier.engine import CrawlEngine
    from ai4orgwebscraper_spark.session import get_spark
    from ai4orgwebscraper_spark.sources.corpus import distributed_seed_urls

    spark = get_spark(app_name="bfs_stress")
    engine = CrawlEngine(
        spark, hosts=[], default_rps=100000.0, round_seconds=10.0,
        max_depth=1, max_rounds=12, use_bloom_prefilter="auto",
    )
    t0 = time.time()
    out = engine.run(distributed_seed_urls(spark, n_seeds))
    fetched = out.fetch_log.count()
    wall = time.time() - t0
    res = {
        "seeds": n_seeds,
        "urls_fetched": fetched,
        "documents": out.documents.count(),
        "seen_entries": out.seen.count(),
        "rounds": out.metrics.get("rounds"),
        "wall_s": round(wall, 1),
        "urls_per_sec": round(fetched / wall, 1),
    }
    engine.close()
    spark.stop()
    return res


if __name__ == "__main__":
    n = int(sys.argv[1]) if len(sys.argv) > 1 else 1_000_000
    print(json.dumps(run(n)), flush=True)
