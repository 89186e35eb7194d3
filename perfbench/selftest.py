#!/usr/bin/env python3
"""Self-test of the benchmark itself, on a tiny input (``--smoke``).

    python3 perfbench/selftest.py

Checks, each by running ``perfbench/run.py`` as a harness would:

1. every workload runs once, is correct, and prints exactly the
   end-to-end metric names of ``BENCHMARK.json``;
2. a traced run prints exactly the per-layer metric names;
3. a deliberately corrupted output (rows dropped from one operation)
   makes the run incorrect and counts as failed;
4. in a directory holding only ``BENCHMARK.json`` and ``perfbench/`` the
   benchmark exits non-zero without printing a result.

Exits non-zero if any check fails.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def run(cwd: str, *args: str) -> tuple[int, dict | None]:
    cmd = [sys.executable, "perfbench/run.py", "--seed", "3", "--seconds", "1", *args]
    proc = subprocess.run(cmd, cwd=cwd, capture_output=True, text=True, timeout=600)
    lines = proc.stdout.strip().splitlines()
    try:
        result = json.loads(lines[-1]) if lines else None
    except json.JSONDecodeError:
        result = None
    return proc.returncode, result


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    e2e = [m["name"] for m in bench["end_to_end"]]
    layers = [m["name"] for m in bench["per_layer"]]
    workloads = [w["name"] for w in bench["workloads"]]
    problems = []

    def expect(ok: bool, what: str) -> None:
        print(("ok    " if ok else "FAIL  ") + what, flush=True)
        if not ok:
            problems.append(what)

    for wl in workloads:
        code, res = run(ROOT, "--workload", wl, "--trace", "0", "--smoke")
        expect(code == 0 and res is not None and res["correct"] and res["failed"] == 0,
               f"{wl}: smoke run correct")
        expect(res is not None and sorted(res["metrics"]) == sorted(e2e),
               f"{wl}: end-to-end metric names match BENCHMARK.json")

    code, res = run(ROOT, "--workload", workloads[0], "--trace", "1", "--smoke")
    expect(code == 0 and res is not None and res["correct"], f"{workloads[0]}: traced smoke run correct")
    expect(res is not None and sorted(res["metrics"]) == sorted(layers),
           f"{workloads[0]}: per-layer metric names match BENCHMARK.json")

    code, res = run(ROOT, "--workload", "link_dedup", "--trace", "0", "--smoke", "--corrupt", "warc_gz")
    expect(code == 0 and res is not None and not res["correct"] and res["failed"] >= 1,
           f"corrupted warc_gz output counted as failed ({res and res['failed']} failed)")

    bare = os.path.join(ROOT, ".perfbench_work", "bare")
    shutil.rmtree(bare, ignore_errors=True)
    os.makedirs(bare)
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
    shutil.copytree(HERE, os.path.join(bare, "perfbench"),
                    ignore=shutil.ignore_patterns("__pycache__"))
    code, res = run(bare, "--workload", workloads[0], "--trace", "0")
    shutil.rmtree(bare)
    expect(code != 0 and res is None, f"without the program: exit {code}, no result")

    print("selftest " + ("passed" if not problems else f"FAILED: {problems}"))
    return 1 if problems else 0


if __name__ == "__main__":
    sys.exit(main())
