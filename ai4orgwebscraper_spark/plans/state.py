"""Run-scoped state for iterative DataFrame work: lineage truncation,
pinned DataFrames, and the budgeted spill directories behind them.

One ``RunState`` serves both iterative users; they differ only in
retention:

- **run lifetime** (``keep_steps=None``, the crawl engine): every
  truncated step is kept until ``close()``. Long-lived DataFrames —
  run-long persisted fetch results, the returned CrawlOutputs — keep
  lineage into earlier steps, and deleting a still-referenced spill
  would turn any cache-partition loss on a real cluster into
  FileNotFoundException at recompute (ADVICE r01). Disk is bounded by
  sum-of-round-state, the envelope an Iceberg snapshot history holds.
- **last two steps** (``keep_steps=2``, ``plans.iterate.spill_loop``):
  step ``i`` of a name supersedes step ``i-2`` — its spill files are
  deleted and its localCheckpoint reference dropped, so retained
  state is O(2 x |state|).

Truncation policy (``truncate``): when the caller bounds the state
with a deterministic row estimate at or below
``SPARK_GRAFT_LOCAL_CKPT_MAX_ROWS`` (default 5M), lineage is cut with
``localCheckpoint`` — one job, no file commit, blocks in the executor
storage tier. Otherwise (or with no estimate) the step takes a parquet
round-trip: durable files that survive executor loss and bound memory
explicitly, which a 10^9-node loop needs (a columnar parquet
write+read also costs a fraction of localCheckpoint's Java
serialization at that size). The bound is on state rows, not cores,
so the choice scales with the data, not the machine.
``SPARK_GRAFT_LOCAL_CKPT_MAX_ROWS=0`` routes every truncation to the
durable parquet path — the switch for clusters where losing an
executor must not lose iterative state.

Spill directories: tmpfs ($SPARK_GRAFT_STATE_DIR, default /dev/shm)
is the fast path, but it is RAM-backed, so unbounded state would
ENOSPC it mid-run. Budget = half the backing filesystem's free space
at construction (override: $SPARK_GRAFT_SPILL_BUDGET_BYTES); once LIVE
spill bytes cross it, later spills land on a disk-backed overflow dir
(sticky — files already written stay put, still referenced by live
lineage). Superseded steps return their bytes to the budget, so the
accounting tracks live state, not cumulative writes.
"""

from __future__ import annotations

import atexit
import os
import shutil
import tempfile

from pyspark.sql import DataFrame


def _local_ckpt_max_rows() -> int:
    # read per call so tests can pin either branch
    return int(os.environ.get("SPARK_GRAFT_LOCAL_CKPT_MAX_ROWS", "5000000"))


def _tree_bytes(path: str) -> int:
    try:
        return sum(e.stat().st_size for e in os.scandir(path) if e.is_file())
    except OSError:
        return 0


class RunState:
    """Owner of one run's truncated steps, pinned DataFrames and spill
    dirs; ``keep_steps`` is the retention (module docstring)."""

    def __init__(self, prefix: str, keep_steps: int | None = None):
        self.keep_steps = keep_steps
        base = os.environ.get("SPARK_GRAFT_STATE_DIR") or (
            "/dev/shm" if os.path.isdir("/dev/shm") else tempfile.gettempdir()
        )
        self.primary = tempfile.mkdtemp(prefix=prefix, dir=base)
        # leak guard for owners never close()d (loops whose result reads
        # the last spill, tests, notebooks)
        atexit.register(shutil.rmtree, self.primary, ignore_errors=True)
        self.overflow: str | None = None
        self._prefix = prefix
        self.live_bytes = 0
        try:
            st = os.statvfs(self.primary)
            self.budget = int(
                os.environ.get(
                    "SPARK_GRAFT_SPILL_BUDGET_BYTES", st.f_bavail * st.f_frsize // 2
                )
            )
        except OSError:
            self.budget = 1 << 34  # 16 GiB fallback
        # persisted DataFrames, unpersisted at close(); also handed to
        # with_global_seq as its pin_registry
        self.pinned: list[DataFrame] = []
        # (name, step) -> spill path, or the localCheckpoint DataFrame
        # whose reference keeps the ContextCleaner off its blocks
        self._steps: dict[tuple[str, int], str | DataFrame] = {}

    def truncate(
        self, df: DataFrame, name: str, step: int, est_rows: int | None = None
    ) -> DataFrame:
        """Cut ``df``'s lineage (policy in the module docstring) and
        return the lineage-free DataFrame."""
        if est_rows is not None and est_rows <= _local_ckpt_max_rows():
            out = df.localCheckpoint(eager=True)
            self._keep(name, step, out)
            return out
        path = os.path.join(self.overflow or self.primary, f"{name}_{step}")
        df.write.mode("overwrite").parquet(path)
        self.live_bytes += _tree_bytes(path)
        if self.overflow is None and self.live_bytes > self.budget:
            self.overflow = tempfile.mkdtemp(
                prefix=f"{self._prefix}overflow_", dir=tempfile.gettempdir()
            )
            atexit.register(shutil.rmtree, self.overflow, ignore_errors=True)
        self._keep(name, step, path)
        return df.sparkSession.read.parquet(path)

    def _keep(self, name: str, step: int, kept: str | DataFrame) -> None:
        self._steps[(name, step)] = kept
        if self.keep_steps is None:
            return
        old = self._steps.pop((name, step - self.keep_steps), None)
        if isinstance(old, str):
            self.live_bytes = max(0, self.live_bytes - _tree_bytes(old))
            shutil.rmtree(old, ignore_errors=True)

    def pin(self, df: DataFrame) -> DataFrame:
        """Persist ``df`` until ``close()``."""
        df = df.persist()
        self.pinned.append(df)
        return df

    def close(self) -> None:
        """Unpersist every pinned DataFrame, drop the localCheckpoint
        references and delete the spill dirs. Call after every
        DataFrame read from this state has been consumed."""
        for df in self.pinned:
            try:
                df.unpersist()
            except Exception:
                pass
        self.pinned.clear()
        self._steps.clear()
        shutil.rmtree(self.primary, ignore_errors=True)
        if self.overflow:
            shutil.rmtree(self.overflow, ignore_errors=True)
