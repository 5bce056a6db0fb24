"""SparkSession factory tuned for this engine.

Local-mode knobs chosen for the sandbox (single JVM, N threads); the
same settings generalize to a real cluster: AQE for runtime re-plan +
skew-join splitting, shuffle partitions sized to parallelism (not the
200 default), Arrow enabled for every pandas-UDF stage, UTC session
timezone so timestamp outputs compare exactly against the DuckDB
oracle.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def _driver_mem() -> str:
    """A quarter of the host's physical memory, 4g to 16g. The local-mode
    JVM grows its heap toward the limit before it collects hard, so a
    limit near the host's memory gets the process OOM-killed (a 16g heap
    on a 16 GB host did, mid test suite)."""
    total_gb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // 2**30
    return f"{min(max(total_gb // 4, 4), 16)}g"


def get_spark(
    app_name: str = "ai4orgwebscraper_spark",
    cpus: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the tuned SparkSession.

    ``cpus`` defaults to $SPARK_GRAFT_CPUS or 32 — the sandbox proxy
    for executor count. ``shuffle_partitions`` defaults to the core
    count: on a real cluster you'd size this to 2-3x total cores and
    let AQE coalesce; locally 1 partition per thread avoids tiny-task
    overhead at sf<=0.1.
    """
    if cpus is None:
        cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    if shuffle_partitions is None:
        shuffle_partitions = cpus

    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        # Worker reuse OFF: the daemon's worker-release handshake races
        # intermittently in this Spark build (fetch stages hang with the
        # JVM reader in epoll and a worker stuck in tcp_sendmsg — seen
        # even on 60-row stages, so it is not backpressure; drain-first
        # in fetch_arrow_fn covers that separately). ~15 runs with
        # reuse=false incl. 8M-row stages never hung; the cost is a
        # pandas-import tax per task, ~1-2s per python stage.
        .config("spark.python.worker.reuse", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", _driver_mem()))
        .config("spark.ui.enabled", "false")
        # shuffle spill to tmpfs: local-mode shuffles write to disk,
        # which does not scale with cores; RAM-backed shuffle keeps the
        # scaling bench measuring the ENGINE, not /dev/vda
        .config("spark.local.dir", os.environ.get("SPARK_GRAFT_LOCAL_DIR", "/dev/shm/spark-local"))
        # broadcast anything under 64MB — dimension tables (hosts,
        # nation, region) should never shuffle
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
    )
    if extra_conf:
        for k, v in extra_conf.items():
            builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def stop_spark() -> None:
    active = SparkSession.getActiveSession()
    if active is not None:
        active.stop()
