"""Run the benchmark several times, one seed each, and print every
metric's median and quartile spread (IQR / median), the figure each
bound in BENCHMARK.json is set against.

    python3 perfbench/spread.py --workload shared_topic --seeds 1-10 [--trace 0]
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--seconds", default="30")
    ap.add_argument("--trace", default="0")
    a = ap.parse_args()
    lo, _, hi = a.seeds.partition("-")
    runs, walls = [], []
    for seed in range(int(lo), int(hi or lo) + 1):
        t0 = time.monotonic()
        p = subprocess.run([sys.executable, "perfbench/run.py", "--workload", a.workload,
                            "--seed", str(seed), "--seconds", a.seconds, "--trace", a.trace],
                           cwd=ROOT, capture_output=True, text=True, timeout=400)
        walls.append(time.monotonic() - t0)
        if p.returncode != 0:
            print(f"seed {seed}: rc={p.returncode}\n{p.stderr[-2000:]}", file=sys.stderr)
            continue
        res = json.loads(p.stdout.strip().splitlines()[-1])
        runs.append(res)
        print(f"seed {seed}: {walls[-1]:.1f}s correct={res['correct']} "
              f"failed={res['failed']}/{res['attempted']}", file=sys.stderr, flush=True)
    table = {}
    for name in runs[0]["metrics"]:
        vals = [r["metrics"][name]["value"] for r in runs]
        q1, med, q3 = statistics.quantiles(vals, n=4) if len(vals) > 1 else (vals[0],) * 3
        table[name] = {"median": med, "spread": (q3 - q1) / med if med else float("nan"),
                       "min": min(vals), "max": max(vals)}
    print(json.dumps({"workload": a.workload, "runs": len(runs), "wall_s": walls,
                      "shares_failed": sorted({r["failed"] / r["attempted"] for r in runs}),
                      "metrics": table}, indent=1))


if __name__ == "__main__":
    main()
