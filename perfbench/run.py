#!/usr/bin/env python3
"""Run one benchmark workload and print one JSON result line.

    python3 perfbench/run.py --workload crawl_bulk --seed 1 --seconds 10 --trace 0

Run from the repository root. The workloads and metrics are listed in
``BENCHMARK.json``; ``perfbench/README.md`` explains each of them.

* ``--trace 0`` reports the end-to-end metrics: ``setup_s`` (median of
  three session set-ups) and ``pass_cpu_s`` (median CPU time one warm
  workload pass used in this process, the Spark JVM and its Python
  workers). The median wall time of a pass is in the ``detail`` line.
* ``--trace 1`` runs one pass in a session with Spark's event log on,
  plus replays of single layers, and reports the per-layer metrics. Its
  pass is warmed up like an untraced one, so the tracing overhead is
  ``trace.pass_s`` over the untraced ``pass_s`` of the same workload and
  seed.

Everything the run writes goes to ``.perfbench_work/run-<pid>/`` under
the repository root (Spark local dir, spill and checkpoint dirs, event
log, generated inputs), which is removed when the run ends. The last
stdout line is ``{"correct", "attempted", "failed", "metrics"}``; the
line before it is a JSON ``detail`` object with per-workload figures.
Exits non-zero without a result if the package cannot be imported.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
N_SETUPS = 3
DRIVER_MEMORY = "4g"


def _java_children() -> list[int]:
    """Pids of the JVMs this process launched (the py4j gateway)."""
    me, out = str(os.getpid()), []
    for pid in filter(str.isdigit, os.listdir("/proc")):
        try:
            with open(f"/proc/{pid}/stat") as f:
                ppid = f.read().rsplit(")", 1)[1].split()[1]
            with open(f"/proc/{pid}/comm") as f:
                comm = f.read().strip()
        except OSError:
            continue
        if ppid == me and comm == "java":
            out.append(int(pid))
    return out


def _java_peak_rss_mb() -> float:
    for pid in _java_children():
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024
    return 0.0


def _end_jvm(timeout_s: float = 30.0) -> None:
    """Terminate the gateway JVM (its Python workers exit with it) and
    wait until it has ended."""
    for pid in _java_children():
        os.kill(pid, signal.SIGTERM)
        deadline = time.monotonic() + timeout_s
        while time.monotonic() < deadline:
            try:
                if os.waitpid(pid, os.WNOHANG)[0] == pid:
                    break
            except ChildProcessError:
                break
            time.sleep(0.1)
        else:
            os.kill(pid, signal.SIGKILL)
            os.waitpid(pid, 0)


def _identity(batches):
    yield from batches


class Bench:
    """Session lifecycle and the per-run scratch directory."""

    def __init__(self, args, work: str):
        from workloads import SIZES

        self.seed = args.seed
        self.sizes = SIZES[args.scale]
        self.work = work
        self.cpus = len(os.sched_getaffinity(0))
        self.spark = None
        self.conf = {
            "spark.driver.memory": DRIVER_MEMORY,
            "spark.local.dir": self.path("spark-local"),
            "spark.sql.warehouse.dir": self.path("warehouse"),
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={self.path('tmp')}",
            "spark.ui.showConsoleProgress": "false",
        }

    def path(self, name: str) -> str:
        return os.path.join(self.work, name)

    def start(self, event_log: bool = False) -> tuple[float, float, float]:
        """Start a session and run its first Python and first SQL job;
        returns the three wall times."""
        from ai4orgwebscraper_spark.session import get_spark

        conf = dict(self.conf)
        if event_log:
            os.makedirs(self.path("events"), exist_ok=True)
            conf.update({
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": self.path("events"),
                "spark.eventLog.compress": "false",
            })
        t0 = time.perf_counter()
        self.spark = get_spark(app_name="perfbench", cpus=self.cpus, extra_conf=conf)
        t1 = time.perf_counter()
        self.spark.range(self.cpus, numPartitions=self.cpus).mapInArrow(_identity, "id long").collect()
        t2 = time.perf_counter()
        self.spark.range(1000).selectExpr("sum(id)").collect()
        t3 = time.perf_counter()
        return t1 - t0, t2 - t1, t3 - t2

    def stop(self) -> None:
        if self.spark is not None:
            self.spark.stop()
            self.spark = None


def _load_metric_specs() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return {
        "end_to_end": {m["name"]: m["unit"] for m in spec["end_to_end"]},
        "per_layer": {m["name"]: m["unit"] for m in spec["per_layer"]},
    }


def run(args, work: str) -> dict:
    import workloads

    specs = _load_metric_specs()
    bench = Bench(args, work)
    tally = workloads.Tally(plant_bad_output=args.plant_bad_output)
    layers: dict = {}
    try:
        setups, passes = [], []
        if args.trace:
            start_s, first_py_s, _ = bench.start(event_log=True)
            layers["session.start_s"] = start_s
            layers["session.first_python_s"] = first_py_s
            wl = workloads.WORKLOADS[args.workload](bench)
            wl.warm_up()
            layers.update(wl.trace(tally))
        else:
            for _ in range(N_SETUPS):
                bench.stop()
                setups.append(sum(bench.start()))
            wl = workloads.WORKLOADS[args.workload](bench)
            wl.warm_up()
            passes = wl.measure(tally, args.seconds)
        timed = [p["pass_s"] for p in passes if "pass_s" in p]
        cpu = [p["pass_cpu_s"] for p in passes if "pass_s" in p]
        peak_rss = _java_peak_rss_mb()
    finally:
        bench.stop()
    if args.trace:
        import eventlog

        layers.update(wl.fold_layers(eventlog.fold(bench.path("events"))))

    e2e = {
        "setup_s": statistics.median(setups) if setups else 0.0,
        "pass_cpu_s": statistics.median(cpu) if cpu else 0.0,
    }
    detail = {
        "workload": args.workload, "seed": args.seed, "passes": len(timed),
        "pass_s": statistics.median(timed) if timed else 0.0,
        "pass_s_all": timed, "pass_cpu_s_all": cpu, "setup_s_all": setups,
        "peak_rss_mb": peak_rss,
        "fail_frac": len(tally.bad) / max(tally.attempted, 1),
        "failures": tally.bad,
        **wl.detail(passes),
    }
    if args.trace:
        names, values = specs["per_layer"], layers
    else:
        names, values = specs["end_to_end"], e2e
    print(json.dumps({"detail": detail}, default=str), flush=True)
    return {
        "correct": not tally.bad,
        "attempted": tally.attempted,
        "failed": len(tally.bad),
        "metrics": {
            n: {"value": float(values.get(n, 0.0)), "unit": unit} for n, unit in names.items()
        },
    }


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=["crawl_bulk", "query_suite"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--scale", choices=["full", "tiny"], default="full",
                    help="input sizes; 'tiny' is for the smoke test")
    ap.add_argument("--plant-bad-output", action="store_true",
                    help="corrupt one output before its check (smoke test)")
    args = ap.parse_args()

    sys.path[:0] = [HERE, ROOT]
    sys.dont_write_bytecode = True
    try:
        import __spark_entry__  # noqa: F401

        import ai4orgwebscraper_spark  # noqa: F401
    except ImportError as e:
        print(f"perfbench: the package is not importable from {ROOT}: {e}", file=sys.stderr)
        return 2

    work = os.path.join(ROOT, ".perfbench_work", f"run-{os.getpid()}")
    for sub in ("state", "tmp"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    # every writer the package and Spark use lands in the run directory;
    # Python workers inherit PYTHONPATH to import the package
    os.environ["SPARK_GRAFT_STATE_DIR"] = os.path.join(work, "state")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["PYTHONDONTWRITEBYTECODE"] = "1"
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT, HERE] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    )
    try:
        result = run(args, work)
    finally:
        _end_jvm()
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))  # only if no other run is live
        except OSError:
            pass
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
