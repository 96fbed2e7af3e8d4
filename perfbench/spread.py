#!/usr/bin/env python3
"""Run the benchmark on several seeds and report each end-to-end
metric's spread: the distance between the first and third quartile of
its values (``statistics.quantiles(values, n=4)``) as a share of their
median, next to the bound ``BENCHMARK.json`` gives it.

    python3 perfbench/spread.py --seeds 10 [--workload NAME ...]

A set containing a run that the host-contention sentinel flagged (spin
drift or CPU steal) is run again, not trimmed (up to ``RETRIES``
times).
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
ROOT = os.path.dirname(HERE)
#: times a flagged set is run again
RETRIES = 2


def run_once(workload: str, seed: int,
             seconds: int) -> tuple[dict, bool, float]:
    t0 = time.perf_counter()
    out = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload",
         workload, "--seed", str(seed), "--seconds", str(seconds),
         "--trace", "0"],
        cwd=ROOT, capture_output=True, text=True, timeout=600, check=True,
    ).stdout.strip().splitlines()
    sentinel = next(line for line in out if line.startswith("sentinel"))
    passes = next(line for line in out if line.startswith("setup_s="))
    wall = time.perf_counter() - t0
    print(f"  wall_s={wall:.1f} {passes}\n  {sentinel}", flush=True)
    return json.loads(out[-1]), "flagged=True" in sentinel, wall


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--seeds", type=int, default=10)
    ap.add_argument("--first-seed", type=int, default=1)
    ap.add_argument("--workload", action="append")
    args = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    workloads = args.workload or [w["name"] for w in bench["workloads"]]
    for wl in workloads:
        for attempt in range(RETRIES + 1):
            results, flagged, walls = [], False, []
            for seed in range(args.first_seed, args.first_seed + args.seeds):
                res, flag, wall = run_once(wl, seed, bench["run_seconds"])
                flagged |= flag
                walls.append(wall)
                results.append(res)
                print(f"{wl} seed={seed} correct={res['correct']} "
                      f"failed={res['failed']}/{res['attempted']} "
                      + " ".join(f"{k}={v['value']:.4g}"
                                 for k, v in res["metrics"].items()),
                      flush=True)
            if not flagged:
                break
            print(f"{wl}: a run was flagged by the sentinel; "
                  + ("running the set again" if attempt < RETRIES
                     else "no retries left"), flush=True)
        print(f"{wl}: run wall median={statistics.median(walls):.1f} s "
              f"max={max(walls):.1f} s", flush=True)
        for name, bound in bounds.items():
            vals = [r["metrics"][name]["value"] for r in results]
            q1, med, q3 = statistics.quantiles(vals, n=4)
            spread = (q3 - q1) / med
            print(f"{wl} {name}: median={med:.4g} spread={spread:.4f} "
                  f"bound={bound} third={bound / 3:.4f} "
                  f"{'ok' if spread < bound / 3 else 'WIDE'}", flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
