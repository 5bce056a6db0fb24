"""Frontier cardinality/skew telemetry (approx_count_distinct path)."""

from __future__ import annotations

from ai4orgwebscraper_spark.frontier.engine import CrawlEngine, frontier_telemetry
from ai4orgwebscraper_spark.sources.corpus import SKEW_HOST, default_hosts, seed_urls


def test_frontier_telemetry(spark):
    engine = CrawlEngine(spark, hosts=default_hosts(), max_depth=0, max_rounds=1)
    seeds = engine.seeds_from_list(seed_urls(200))
    canon = engine._canonical_seeds(seeds)
    out = engine.run(seeds)
    t = frontier_telemetry(canon, out.seen)
    exact = canon.select("url_hash").distinct().count()
    # HLL default rsd=5%; allow generous slack
    assert abs(t["frontier_approx_urls"] - exact) <= max(3, exact * 0.15)
    assert t["frontier_rows"] == canon.count()
    assert 1 <= t["frontier_approx_hosts"] <= 30
    # skew surfaced: the hot host tops the histogram (FIXTURES.md: ~40%)
    assert t["top_hosts"][0][0] == SKEW_HOST
    assert t["top_hosts"][0][1] > t["top_hosts"][1][1]
    # count-min sketch (SURVEY §2.4 skew detector): never under-counts,
    # and at eps=0.1% of this tiny frontier the estimate is exact
    exact = dict(t["top_hosts"])
    for host, est in t["host_sketch_counts"].items():
        assert est >= exact[host]
        assert est <= exact[host] + max(3, 0.01 * t["frontier_rows"])


def test_spill_overflow_falls_back_to_disk(spark, monkeypatch):
    """Spills past the tmpfs budget must land on a disk-backed dir
    instead of ENOSPC'ing the RAM-backed one (ADVICE r02); early spill
    files stay put (still lineage-referenced) and results are
    unaffected."""
    import os

    monkeypatch.setenv("SPARK_GRAFT_SPILL_BUDGET_BYTES", "1")  # force overflow
    engine = CrawlEngine(spark, hosts=default_hosts(), max_depth=1, max_rounds=3)
    out = engine.run(engine.seeds_from_list(seed_urls(30)))
    n = out.fetch_log.count()
    assert n > 0
    dirs = engine.state
    assert dirs.overflow is not None and os.path.isdir(dirs.overflow)
    assert any(os.scandir(dirs.overflow))  # later spills landed on disk
    assert any(os.scandir(dirs.primary))  # earlier spills untouched
    engine.close()
    assert not os.path.exists(dirs.overflow)


def test_close_releases_run_state(spark):
    """ADVICE r01: close() unpersists every DataFrame a BFS run pinned
    (per-round fetch results and global-seq bases) and deletes the
    spill dirs — no cached data or tmpfs files outlive the engine."""
    import os

    from pyspark import StorageLevel

    engine = CrawlEngine(spark, hosts=default_hosts(), max_depth=1, max_rounds=3)
    out = engine.run(engine.seeds_from_list(seed_urls(30)))
    assert out.fetch_log.count() > 0
    state = engine.state
    pinned = list(state.pinned)
    assert pinned and all(df.storageLevel != StorageLevel.NONE for df in pinned)
    assert any(os.scandir(state.primary))  # round 0 spilled to parquet
    engine.close()
    assert all(df.storageLevel == StorageLevel.NONE for df in pinned)
    assert not os.path.exists(state.primary)
    assert state.overflow is None or not os.path.exists(state.overflow)
