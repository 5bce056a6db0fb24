"""Fold a Spark event log into per-job-description totals.

The benchmark sets ``spark.job.description`` around every call it wants
attributed (``"engine"``, ``"fetch"``, one per query leg, ...). Each
task is charged to the description of the first job that ran its
stage. Python-boundary figures come from the SQL metrics Spark 4
records on every Python exec node: data sent to and returned from the
Python workers, and the time spent starting, initializing and running
them (milliseconds).
"""

from __future__ import annotations

import json
import os
from collections import defaultdict

_PY_BYTES = ("data sent to Python workers", "data returned from Python workers")
_PY_INIT_MS = ("time to start Python workers", "time to initialize Python workers")
_PY_RUN_MS = "time to run Python workers"


def _event_files(log_dir: str) -> list[str]:
    out = []
    for root, _dirs, files in os.walk(log_dir):
        out += [os.path.join(root, f) for f in files if f.startswith(("events_", "local-"))]
    return sorted(out)


def fold(log_dir: str) -> dict[str, dict[str, float]]:
    """description -> {jobs, tasks, task_s, jvm_cpu_s, gc_s, shuffle_bytes,
    result_bytes, python_bytes, python_init_s, python_run_s}."""
    totals: dict[str, dict[str, float]] = defaultdict(lambda: defaultdict(float))
    stage_desc: dict[int, str] = {}
    for path in _event_files(log_dir):
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    desc = (ev.get("Properties") or {}).get("spark.job.description") or ""
                    totals[desc]["jobs"] += 1
                    for sid in ev.get("Stage IDs", []):
                        stage_desc.setdefault(sid, desc)
                elif kind == "SparkListenerTaskEnd":
                    t = totals[stage_desc.get(ev["Stage ID"], "")]
                    m = ev.get("Task Metrics") or {}
                    t["tasks"] += 1
                    t["task_s"] += m.get("Executor Run Time", 0) / 1e3
                    t["jvm_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
                    t["gc_s"] += m.get("JVM GC Time", 0) / 1e3
                    t["result_bytes"] += m.get("Result Size", 0)
                    t["shuffle_bytes"] += (m.get("Shuffle Write Metrics") or {}).get(
                        "Shuffle Bytes Written", 0
                    )
                    for acc in (ev.get("Task Info") or {}).get("Accumulables", []):
                        name, upd = acc.get("Name"), acc.get("Update")
                        if name in _PY_BYTES:
                            t["python_bytes"] += int(upd)
                        elif name in _PY_INIT_MS:
                            t["python_init_s"] += int(upd) / 1e3
                        elif name == _PY_RUN_MS:
                            t["python_run_s"] += int(upd) / 1e3
    return {d: dict(v) for d, v in totals.items()}


def combine(folded: dict[str, dict[str, float]], descs) -> dict[str, float]:
    out: dict[str, float] = defaultdict(float)
    for d in descs:
        for k, v in folded.get(d, {}).items():
            out[k] += v
    return out
