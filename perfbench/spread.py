#!/usr/bin/env python3
"""Run the benchmark over several seeds and report each metric's spread.

    python3 perfbench/spread.py --workloads spatial_join,link_dedup --seeds 1-10 \
        --out perfbench/results/set1.json

For every workload and end-to-end metric it prints the median of the runs
and the distance between the first and third quartiles as a share of the
median (``statistics.quantiles(values, n=4)``), next to the bound in
``BENCHMARK.json``.  Runs go one at a time, in seed order, untraced: the
end-to-end metrics come only from untraced runs.
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


def seeds(spec: str) -> list[int]:
    out = []
    for part in spec.split(","):
        lo, _, hi = part.partition("-")
        out += list(range(int(lo), int(hi or lo) + 1))
    return out


def spread(values: list[float]) -> float:
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / q2 if q2 else float("nan")


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workloads", required=True)
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--out", required=True)
    args = ap.parse_args()

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    bounds = {m["name"]: m.get("bound") for m in bench["end_to_end"]}
    runs = []
    for wl in args.workloads.split(","):
        for seed in seeds(args.seeds):
            cmd = [*bench["command"], "--workload", wl, "--seed", str(seed),
                   "--seconds", str(bench["run_seconds"]), "--trace", "0"]
            t0 = time.time()
            proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=900)
            result = json.loads(proc.stdout.strip().splitlines()[-1]) if proc.returncode == 0 else None
            runs.append({"workload": wl, "seed": seed, "wall_s": time.time() - t0,
                         "exit": proc.returncode, "result": result,
                         "report": proc.stdout.strip().splitlines()[:-1]})
            print(f"{wl} seed {seed}: exit {proc.returncode}, {time.time() - t0:.0f} s, "
                  + json.dumps(result["metrics"] if result else None), flush=True)
    os.makedirs(os.path.dirname(os.path.abspath(args.out)), exist_ok=True)
    with open(args.out, "w") as f:
        json.dump(runs, f, indent=1)

    print(f"{'workload':14s} {'metric':14s} {'median':>10s} {'spread':>7s} {'bound':>6s}  runs")
    for wl in args.workloads.split(","):
        ok = [r["result"] for r in runs if r["workload"] == wl and r["result"]]
        for name in sorted({k for r in ok for k in r["metrics"]}):
            vals = [r["metrics"][name]["value"] for r in ok]
            sp = spread(vals) if len(vals) >= 2 else float("nan")
            print(f"{wl:14s} {name:14s} {statistics.median(vals):10.4f} {sp:7.3f} "
                  f"{bounds.get(name) or '-':>6}  {len(vals)}")
        failed = sum(r["failed"] for r in ok)
        print(f"{wl:14s} failed {failed} of {sum(r['attempted'] for r in ok)} attempted; "
              f"{sum(not r['correct'] for r in ok)} incorrect runs")
    return 0


if __name__ == "__main__":
    sys.exit(main())
