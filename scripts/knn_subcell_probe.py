#!/usr/bin/env python
"""Oversized-halo kNN probe (VERDICT r5 item 5 / PERF.md §16 100-TB note):
a SINGLE pathologically dense tile whose page halo alone would blow the
per-group memory budget of the dense-cell local pass at s = 1, one group
per tile (query salting replicates the full halo per bucket, so it cannot
help).

Synthesizes n_pages clustered inside ONE grid tile, with the queries
drawn from the same cluster, then runs the one local pass twice, the
split factor s chosen by ``local_max_halo_pages``:

* s = 1 (a bound above the halo: one group per tile and salt bucket) —
  per-group page payload = the FULL halo;
* s > 1 (a bound below the halo → s×s sub-grid) — per-group payload
  ~halo/s².

One untimed warm-up run of the split plan pays the session's first
kernel and job costs; then each plan is timed twice, the order
alternating (split, s = 1, s = 1, split), so neither plan's wall carries
a position bias.  Reports both walls per plan and their mean, the split
factor, the per-group page bound implied by each plan, and asserts
identical output rows (the exactness contract is plan-independent).

Usage: python scripts/knn_subcell_probe.py [--pages 1500000]
       [--queries 100000] [--cpus N] [--halo-budget 200000]
"""

from __future__ import annotations

import argparse
import json
import math
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--pages", type=int, default=1_500_000)
    ap.add_argument("--queries", type=int, default=100_000)
    ap.add_argument("--cpus", type=int, default=int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 1)))
    ap.add_argument("--halo-budget", type=int, default=200_000)
    ap.add_argument("--k", type=int, default=5)
    ap.add_argument("--check-rows", action="store_true",
                    help="also collect+compare full row sets (memory-heavy)")
    args = ap.parse_args()

    from pyspark.sql import functions as F

    from datacube_core_spark.geom.grid import GridSpec
    from datacube_core_spark.operators.knn import knn_join
    from datacube_core_spark.session import get_spark

    spark = get_spark(
        app_name="knn-subcell-probe",
        master=f"local[{args.cpus}]",
        shuffle_partitions=args.cpus,
    )
    grid = GridSpec("EPSG:4326", tile_size=(1.0, 1.0), resolution=(-0.01, 0.01))

    # one hot tile at (10..11, 10..11): deterministic quasi-uniform cloud
    base = spark.range(0, args.pages).select(
        F.col("id").alias("doc_id"),
        (F.lit(10.0) + F.pmod(F.xxhash64("id"), F.lit(999983)).cast("double") / 999983.0).alias("lon"),
        (F.lit(10.0) + F.pmod(F.xxhash64("id", F.lit(1)), F.lit(999979)).cast("double") / 999979.0).alias("lat"),
    )
    p = base.localCheckpoint(eager=True)
    q = (
        p.where(F.col("doc_id") % (args.pages // args.queries) == 0)
        .select(F.col("doc_id").alias("qid"), "lon", "lat")
        .localCheckpoint(eager=True)
    )
    n_p, n_q = p.count(), q.count()
    halo = n_p  # everything sits in one tile; its 3×3 halo is ~all pages
    s_split = math.isqrt(max(1, (halo - 1) // args.halo_budget)) + 1

    def run(halo_budget):
        t0 = time.perf_counter()
        df = knn_join(
            p, q, grid, k=args.k, broadcast_queries=False,
            local_index_pairs=0, local_max_halo_pages=halo_budget,
        )
        n = df.count()
        return time.perf_counter() - t0, n, df

    with open("/proc/loadavg") as fh:
        load = fh.read().split()[0]

    run(args.halo_budget)  # warm-up, untimed
    budgets = {"split": args.halo_budget, "tile": halo * 10}
    walls = {"split": [], "tile": []}
    last = {}
    for order in (("split", "tile"), ("tile", "split")):
        for plan in order:
            wall, rows, df = run(budgets[plan])
            walls[plan].append(round(wall, 1))
            last[plan] = (rows, df)
    (split_rows, split_df), (tile_rows, tile_df) = last["split"], last["tile"]

    out = {
        "probe": "knn_subcell",
        "pages": n_p,
        "queries": n_q,
        "cpus": args.cpus,
        "loadavg_at_start": load,
        "halo_budget": args.halo_budget,
        "split_factor": s_split,
        "tile_pass_group_pages": halo,
        "subcell_pass_group_pages_bound": -(-halo // (s_split * s_split)) * 1,
        "tile_pass_s": round(sum(walls["tile"]) / 2, 1),
        "subcell_pass_s": round(sum(walls["split"]) / 2, 1),
        "tile_pass_walls_s": walls["tile"],
        "subcell_pass_walls_s": walls["split"],
        "rows": split_rows,
    }
    assert tile_rows == split_rows, (tile_rows, split_rows)
    if args.check_rows:
        a = {tuple(r) for r in tile_df.collect()}
        b = {tuple(r) for r in split_df.collect()}
        out["rows_identical"] = a == b
        assert a == b
    print(json.dumps(out))
    spark.stop()


if __name__ == "__main__":
    main()
