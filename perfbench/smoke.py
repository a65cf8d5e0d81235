"""Smoke test of the benchmark at tiny sizes.

    python3 perfbench/smoke.py

Checks, for every workload in BENCHMARK.json, that

* an untraced run prints every end-to-end metric with its unit and passes
  its gates, and a traced run prints every per-layer metric with its unit;
* a run whose scorer is fed one triple fewer than the KG holds fails a
  gate (``correct`` false, ``failed`` > 0).

Exits non-zero on the first failed check.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def run(workload: str, trace: int, *extra: str) -> dict:
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "7",
           "--seconds", "1", "--trace", str(trace), "--scale", "tiny", *extra]
    proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
    if proc.returncode != 0:
        sys.exit(f"FAIL {' '.join(cmd)} exited {proc.returncode}:\n{proc.stderr[-3000:]}")
    return json.loads(proc.stdout.strip().splitlines()[-1])


def check_metrics(result: dict, spec: list, what: str) -> None:
    got = result["metrics"]
    want = {m["name"]: m["unit"] for m in spec}
    if set(got) != set(want):
        sys.exit(f"FAIL {what}: metric names differ: missing {set(want) - set(got)}, "
                 f"extra {set(got) - set(want)}")
    for name, unit in want.items():
        v = got[name]
        if v["unit"] != unit or not isinstance(v["value"], (int, float)):
            sys.exit(f"FAIL {what}: {name} printed as {v}, expected unit {unit}")


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    for w in (w["name"] for w in bench["workloads"]):
        res = run(w, 0)
        check_metrics(res, bench["end_to_end"], f"{w} end-to-end")
        if not res["correct"] or res["failed"]:
            sys.exit(f"FAIL {w}: gates failed on clean inputs: {res}")
        check_metrics(run(w, 1), bench["per_layer"], f"{w} per-layer")
        bad = run(w, 0, "--corrupt")
        if bad["correct"] or not bad["failed"]:
            sys.exit(f"FAIL {w}: a dropped triple tripped no gate: {bad}")
        print(f"ok {w}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
