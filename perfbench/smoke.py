#!/usr/bin/env python3
"""Smoke test of the benchmark at tiny sizes (a few minutes).

    python3 perfbench/smoke.py

Checks that every workload runs and passes its output checks, that every
end-to-end metric of BENCHMARK.json prints with its unit, that a traced
run emits every per-layer metric, that a planted bad output is counted
as a failure, and that no run leaves or changes a file in the repository.
Exits non-zero on the first broken check.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SKIP = {".git", ".perfbench_work", "__pycache__", ".pytest_cache", ".hypothesis"}


def _tree() -> dict[str, tuple[float, int]]:
    out = {}
    for root, dirs, files in os.walk(ROOT):
        dirs[:] = [d for d in dirs if d not in SKIP]
        for f in files:
            p = os.path.join(root, f)
            st = os.stat(p)
            out[os.path.relpath(p, ROOT)] = (st.st_mtime, st.st_size)
    return out


def _run(workload: str, trace: int, *extra: str) -> tuple[dict, dict]:
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", "7", "--seconds", "1", "--trace", str(trace), "--scale", "tiny", *extra]
    p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
    assert p.returncode == 0, f"{cmd} exited {p.returncode}:\n{p.stderr[-3000:]}"
    lines = p.stdout.strip().splitlines()
    return json.loads(lines[-2])["detail"], json.loads(lines[-1])


def _expect_metrics(result: dict, specs: list[dict], what: str) -> None:
    want = {m["name"]: m["unit"] for m in specs}
    got = {k: v["unit"] for k, v in result["metrics"].items()}
    assert got == want, f"{what}: metric names/units differ: {set(got) ^ set(want)}"
    for k, v in result["metrics"].items():
        assert isinstance(v["value"], float), f"{what}: {k} is not a number"


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    before = _tree()
    for w in (wl["name"] for wl in spec["workloads"]):
        for trace, metrics in ((0, spec["end_to_end"]), (1, spec["per_layer"])):
            detail, res = _run(w, trace)
            assert res["correct"] and res["failed"] == 0, f"{w} trace={trace}: {detail['failures']}"
            assert res["attempted"] >= 1
            _expect_metrics(res, metrics, f"{w} trace={trace}")
            if trace == 0:
                for m in spec["end_to_end"]:
                    assert res["metrics"][m["name"]]["value"] > 0, f"{w}: {m['name']} is 0"
            print(f"ok  {w} trace={trace}", flush=True)
        detail, res = _run(w, 0, "--plant-bad-output")
        assert not res["correct"] and res["failed"] >= 1 and detail["fail_frac"] > 0, res
        print(f"ok  {w} planted bad output counted: {list(detail['failures'])}", flush=True)
    after = _tree()
    changed = sorted(p for p in set(before) | set(after) if before.get(p) != after.get(p))
    assert not changed, f"runs changed files in the repository: {changed[:10]}"
    print("ok  no file in the repository was written")
    return 0


if __name__ == "__main__":
    sys.exit(main())
