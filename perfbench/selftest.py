"""Self-test of the benchmark: runs every workload in BENCHMARK.json at
toy size (3 tickers; the query rows over the sf0.001 tables) and
checks that the result line carries every end-to-end and per-layer
metric with its declared unit, and that no operation failed.

    python3 perfbench/selftest.py
"""

from __future__ import annotations

import json
import math
import os
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)


def main() -> int:
    with open(os.path.join(REPO, "BENCHMARK.json")) as f:
        spec = json.load(f)
    declared = {m["name"]: m["unit"] for m in spec["end_to_end"] + spec["per_layer"]}
    problems = []
    t0 = time.time()
    # the workloads run side by side: this checks outputs, not speed
    procs = {}
    for w in spec["workloads"]:
        cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", w["name"]]
        cmd += ["--seed", "1", "--seconds", "1", "--trace", "1", "--toy"]
        procs[w["name"]] = subprocess.Popen(
            cmd, cwd=REPO, stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True
        )
    for wl, proc in procs.items():
        out, err = proc.communicate(timeout=170)
        if proc.returncode != 0:
            problems.append(f"{wl}: exit {proc.returncode}\n{err[-2000:]}")
            continue
        result = json.loads(out.strip().splitlines()[-1])
        if set(result) != {"correct", "attempted", "failed", "metrics"}:
            problems.append(f"{wl}: result keys {sorted(result)}")
        if not result["correct"] or result["failed"] or result["attempted"] < 1:
            problems.append(f"{wl}: {result['attempted']} attempted, {result['failed']} failed")
        metrics = result["metrics"]
        for name, unit in declared.items():
            got = metrics.get(name)
            if got is None:
                problems.append(f"{wl}: metric {name} missing")
            elif got["unit"] != unit or not math.isfinite(got["value"]):
                problems.append(f"{wl}: metric {name} = {got}, unit should be {unit}")
        for m in spec["end_to_end"]:
            if metrics.get(m["name"], {}).get("value", 0) <= 0:
                problems.append(f"{wl}: end-to-end metric {m['name']} is not positive")
        extra = set(metrics) - set(declared)
        if extra:
            problems.append(f"{wl}: undeclared metrics {sorted(extra)}")
    for p in problems:
        print("FAIL", p)
    print(f"{'FAILED' if problems else 'OK'} in {time.time() - t0:.0f} s")
    return 1 if problems else 0


if __name__ == "__main__":
    sys.exit(main())
