#!/usr/bin/env python3
"""Run a workload once per seed and report each metric's median and
spread (interquartile range as a share of the median, the figure the
end-to-end bounds are checked against).

    python3 perfbench/spread.py --workload cdc_trickle --seeds 1-10 [--trace 1]

Each run is a fresh process of ``perfbench/run.py``; wall time per run
is printed too, since the whole benchmark has a time budget.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))


def seeds(spec: str) -> list[int]:
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--log", help="append each run's record and result lines to this file")
    args = ap.parse_args()
    values: dict[str, list[float]] = {}
    walls = []
    for seed in seeds(args.seeds):
        t0 = time.perf_counter()
        out = subprocess.run(
            [sys.executable, os.path.join(HERE, "run.py"), "--workload", args.workload,
             "--seed", str(seed), "--seconds", str(args.seconds), "--trace", str(args.trace)],
            cwd=os.path.dirname(HERE), capture_output=True, text=True, check=False,
        )
        walls.append(time.perf_counter() - t0)
        lines = out.stdout.strip().splitlines()
        if out.returncode != 0 or not lines:
            print(f"seed {seed}: exit {out.returncode}\n{out.stderr[-2000:]}", file=sys.stderr)
            return 1
        res = json.loads(lines[-1])
        rec = json.loads(lines[-2])
        if args.log:
            with open(args.log, "a") as fh:
                fh.write(lines[-2] + "\n" + lines[-1] + "\n")
        print(f"seed {seed}: {walls[-1]:.1f}s correct={res['correct']} "
              f"{res['attempted']}/{res['failed']} steal={rec.get('cpu_steal_share', 0):.3f} "
              f"fsync={rec.get('fsync_ms', 0):.2f}ms", flush=True)
        for k, v in res["metrics"].items():
            values.setdefault(k, []).append(v["value"])
    print(f"wall per run: median {statistics.median(walls):.1f}s max {max(walls):.1f}s")
    for k, vals in sorted(values.items()):
        med = statistics.median(vals)
        if len(vals) >= 2 and med:
            q1, _, q3 = statistics.quantiles(vals, n=4)
            spread = (q3 - q1) / med
        else:
            spread = 0.0
        print(f"{k:34s} median {med:14.5g}  spread {spread:6.3f}  min {min(vals):.5g} max {max(vals):.5g}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
