"""Shared harness for iterative DataFrame algorithms (connected
components, PageRank, any fixpoint loop): shuffle width sized to the
STATE table rather than the session's corpus-tuned default, and
statics materialized before that width is narrowed. Per-step lineage
truncation is ``plans.state.RunState`` with two-step retention.

Why each piece exists:
- **Truncate, not persist**: persist caches partitions but leaves the
  logical plan growing — Catalyst analysis time doubles per iteration
  (1.2s → 42s/iter observed before truncation).
- **Loop width**: iterative state is |nodes| rows — tiny next to the
  corpus — and AQE's parallelismFirst never coalesces the session
  width down, so every iteration pays stages × near-empty tasks of
  scheduling overhead. ~500k state rows per partition, capped at the
  session default (a real cluster keeps its own width at 10^10 rows).
- **Materialize statics BEFORE narrowing**: the loop's static inputs
  (adjacency, degree tables) carry the HEAVY upstream lineage
  (LSH pipeline, crawl fetch). If their first materialization happens
  lazily inside the loop it runs under the narrowed width — the exact
  shuffles the session conf was tuned for, under-parallelized. The
  harness persists and counts every static at session width first.
"""

from __future__ import annotations

from contextlib import contextmanager

from pyspark.sql import DataFrame, SparkSession

from ai4orgwebscraper_spark.plans.state import RunState

ROWS_PER_PARTITION = 500_000


def loop_width(spark: SparkSession, n_state_rows: int) -> int:
    """Shuffle width for a state table of ``n_state_rows`` rows —
    callers use this to pre-partition static inputs on the loop's join
    key so the per-iteration join reuses the partitioning (the edge
    table shuffles once, not once per iteration)."""
    sess_parts = int(spark.conf.get("spark.sql.shuffle.partitions", "200"))
    return max(
        1, min(sess_parts, (n_state_rows + ROWS_PER_PARTITION - 1) // ROWS_PER_PARTITION)
    )


@contextmanager
def spill_loop(
    spark: SparkSession,
    n_state_rows: int,
    statics: list[DataFrame] | None = None,
    prefix: str = "iter_state_",
):
    """Context manager for an iterative loop.

    ``statics`` are persisted and force-materialized at the SESSION
    shuffle width before the width is narrowed for the loop, then
    unpersisted on exit. Yields a ``RunState`` keeping the last two
    steps: ``state.truncate(df, "step", i, n_state_rows)`` cuts step
    ``i``'s lineage and releases step ``i-2``. The state is not closed
    on exit — the loop's result reads from its last step; its dirs are
    removed at interpreter exit."""
    sess_parts = int(spark.conf.get("spark.sql.shuffle.partitions", "200"))
    statics = statics or []
    for s in statics:
        s.persist()
        s.count()  # materialize heavy upstream lineage at session width

    spark.conf.set("spark.sql.shuffle.partitions", str(loop_width(spark, n_state_rows)))
    try:
        yield RunState(prefix, keep_steps=2)
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", str(sess_parts))
        for s in statics:
            s.unpersist(blocking=False)
