#!/usr/bin/env python
"""Dense-cell bulk-kNN probe (PERF.md §15 shape): queries = the synthetic
hot cluster itself, so ~n_q × n_p candidate pairs land in a handful of
cells and the pure ring-join plan explodes (505 s measured in r4).

Measures knn_join in shuffle mode with the dense-cell local pass ON
(default cutoff; its split factor s follows ``local_max_halo_pages``, so
s = 1 unless a tile's page halo exceeds 4M) vs OFF
(local_index_pairs=None), reports both walls and asserts the two row
multisets are identical (a distributed EXCEPT ALL both ways).

Usage: python scripts/dense_knn_probe.py [--repl 1000] [--cpus N]
       [--skip-baseline]  (baseline = the 505s-class ring-join plan)
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--repl", type=int, default=1000)
    ap.add_argument("--cpus", type=int, default=int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 1)))
    ap.add_argument("--sf-dir", default=os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    ap.add_argument("--skip-baseline", action="store_true")
    ap.add_argument("--k", type=int, default=5)
    args = ap.parse_args()

    from pyspark.sql import functions as F

    import __spark_entry__ as entry
    from datacube_core_spark.operators.knn import knn_join
    from datacube_core_spark.session import get_spark
    from datacube_core_spark.sources.pages import pages

    spark = get_spark(
        app_name="dense-knn-probe",
        master=f"local[{args.cpus}]",
        shuffle_partitions=args.cpus,
    )
    G = entry._G

    p = pages(spark, args.sf_dir, repl=args.repl)
    # the hot cluster IS the query set — every query co-located with ~20%
    # of all pages in 3 half-degree boxes
    q = p.where(F.col("doc_id") % 5 == 0).select(
        F.col("doc_id").alias("qid"), "lon", "lat"
    )
    n_p, n_q = p.count(), q.count()

    def run(local_pairs):
        t0 = time.perf_counter()
        df = knn_join(
            p, q, G, k=args.k, broadcast_queries=False, local_index_pairs=local_pairs
        )
        n = df.count()
        return time.perf_counter() - t0, n, df

    with open("/proc/loadavg") as fh:
        load = fh.read().split()[0]

    local_s, local_rows, local_df = run(4_000_000)
    out = {
        "probe": "dense_knn",
        "sf_dir": args.sf_dir,
        "repl": args.repl,
        "cpus": args.cpus,
        "pages": n_p,
        "queries": n_q,
        "loadavg_at_start": load,
        "local_index_s": round(local_s, 1),
        "local_rows": local_rows,
    }
    if not args.skip_baseline:
        base_s, base_rows, base_df = run(None)
        out["ring_join_s"] = round(base_s, 1)
        out["ring_rows"] = base_rows
        out["speedup"] = round(base_s / local_s, 1)
        out["rows_identical"] = (
            base_df.exceptAll(local_df).isEmpty()
            and local_df.exceptAll(base_df).isEmpty()
        )
        assert out["rows_identical"], (base_rows, local_rows)
    print(json.dumps(out))
    spark.stop()


if __name__ == "__main__":
    main()
