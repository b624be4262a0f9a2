#!/usr/bin/env python3
"""Run the benchmark over several seeds and report each metric's spread.

    python3 perfbench/spread.py --workloads pg_scalar_export staged_export --seeds 1-10

Spread = (third quartile - first quartile) / median of a metric's values
across the seeds, with quartiles as ``statistics.quantiles(values, n=4)``
gives them; the benchmark is steady when every end-to-end spread stays well
under that metric's bound in BENCHMARK.json. Runs are sequential.
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


def _seeds(text: str) -> list[int]:
    lo, _, hi = text.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def main() -> int:
    spec = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workloads", nargs="+", default=[w["name"] for w in spec["workloads"]])
    ap.add_argument("--seeds", type=_seeds, default=_seeds("1-10"))
    ap.add_argument("--trace", type=int, default=0)
    args = ap.parse_args()
    bounds = {m["name"]: m["bound"] for m in spec["end_to_end"]}
    report = {}
    for wl in args.workloads:
        values: dict[str, list[float]] = {}
        for seed in args.seeds:
            t0 = time.perf_counter()
            proc = subprocess.run(
                spec["command"] + ["--workload", wl, "--seed", str(seed),
                                   "--seconds", str(spec["run_seconds"]), "--trace", str(args.trace)],
                cwd=ROOT, capture_output=True, text=True,
            )
            wall = time.perf_counter() - t0
            last = json.loads(proc.stdout.strip().splitlines()[-1]) if proc.stdout.strip() else {}
            print(f"{wl} seed={seed} rc={proc.returncode} wall={wall:.1f}s correct={last.get('correct')} "
                  + " ".join(f"{k}={v['value']:.4g}" for k, v in last.get("metrics", {}).items()),
                  flush=True)
            for k, v in last.get("metrics", {}).items():
                values.setdefault(k, []).append(v["value"])
            values.setdefault("run_wall_s", []).append(wall)
        rows = {}
        for k, vals in values.items():
            q1, med, q3 = statistics.quantiles(vals, n=4)
            rows[k] = {"median": med, "spread": (q3 - q1) / med if med else None, "bound": bounds.get(k)}
            print(f"  {wl} {k}: median={med:.4g} spread={rows[k]['spread']} bound={bounds.get(k)}")
        report[wl] = rows
    print(json.dumps(report))
    return 0


if __name__ == "__main__":
    sys.exit(main())
