#!/usr/bin/env python
"""Pathological-skew benchmark: ALL rows in one grid cell.

Measures the grouped aggregation path under worst-case key skew:
  plain groupBy(cell).agg  vs  salted two-level (operators/skew.salted_agg)
for (a) algebraic aggs and (b) the array-payload fuser
(fuse_first_valid vs fuse_first_valid_salted).

Usage: python scripts/skew_bench.py [--rows 2000000] [--cpus N]
Appends a results line to stdout (JSON).
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def timed(fn, runs=3):
    fn()
    xs = []
    for _ in range(runs):
        t0 = time.perf_counter()
        fn()
        xs.append(time.perf_counter() - t0)
    return round(statistics.median(xs), 3)


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--rows", type=int, default=2_000_000)
    ap.add_argument("--fuse-rows", type=int, default=100_000)
    ap.add_argument("--dedup-docs", type=int, default=4_000)
    ap.add_argument("--cpus", type=int, default=int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 1)))
    args = ap.parse_args()

    from pyspark.sql import functions as F

    from datacube_core_spark.operators.grouping import (
        fuse_first_valid,
        fuse_first_valid_kernel,
        fuse_first_valid_salted,
    )
    from datacube_core_spark.operators.skew import salted_agg
    from datacube_core_spark.session import get_spark

    spark = get_spark(app_name="skew-bench", master=f"local[{args.cpus}]", shuffle_partitions=args.cpus)

    # every row in ONE cell — the worst case a hot URL cluster can create
    df = (
        spark.range(0, args.rows, 1, args.cpus * 2)
        .select(
            F.lit(7).alias("tile_x"), F.lit(9).alias("tile_y"),
            F.col("id").alias("doc_id"),
            (F.col("id") % 1000).cast("double").alias("v"),
        )
    )

    plain = timed(lambda: df.groupBy("tile_x", "tile_y").agg(
        F.count("*").alias("n"), F.sum("v").alias("s"), F.max("doc_id").alias("m")).count())
    salted = timed(lambda: salted_agg(
        df, ["tile_x", "tile_y"],
        {"n": ("doc_id", "count"), "s": ("v", "sum"), "m": ("doc_id", "max")},
        salt_factor=args.cpus).count())

    # fuser payload: one cell, many overlapping 64-px sources
    fdf = (
        spark.range(0, args.fuse_rows, 1, args.cpus * 2)
        .select(
            F.lit(0).alias("tx"), F.lit(0).alias("ty"),
            F.col("id").alias("id"), (F.col("id") % 97).cast("double").alias("sv"),
            F.transform(F.sequence(F.lit(1), F.lit(64)),
                        lambda i: F.when((i + F.col("id")) % 3 == 0, F.lit(-1.0)).otherwise(i.cast("double"))
                        ).alias("arr"),
        )
    )
    # consume the fused arrays (a bare count() lets Catalyst prune the
    # fold projection entirely)
    def _drain(df):
        return df.select(F.sum(F.aggregate("fused", F.lit(0.0), lambda a, x: a + x)).alias("s")).collect()

    fuse_plain = timed(lambda: _drain(fuse_first_valid(fdf, ["tx", "ty"], F.col("sv"), "id", "arr", -1.0)), runs=1)
    fuse_salted = timed(lambda: _drain(fuse_first_valid_salted(
        fdf, ["tx", "ty"], F.col("sv"), "id", "arr", -1.0, salt_factor=args.cpus)), runs=1)
    fuse_kernel = timed(lambda: _drain(fuse_first_valid_kernel(
        fdf, ["tx", "ty"], ["sv"], "id", "arr", -1.0)), runs=1)

    # --- planted stop-shingle: dedup pipeline skew guards -----------------
    # Every doc contains the shingle "zz zz zz" (df = N, the pathological
    # hot key a real web corpus always has); docs 0..19 form 10 identical
    # pairs (the true near-dups).  Proves:
    #   (a) jaccard_pairs' df-cut bounds the pair-join's max hash bucket to
    #       the residual max-df (here 2), vs N for the uncut join, and the
    #       broadcast-anti cut form beats the old Window-over-shingle form
    #       under this exact skew (the window funnels all N hot rows into
    #       one task before filtering);
    #   (b) minhash_lsh_pairs' candidate-bounded verify joins only
    #       candidate docs' shingles (max bucket ≈ |cand docs|), vs the
    #       unbounded full-corpus self-join (max bucket = N → N² pair rows
    #       inside ONE task).
    from pyspark.sql import Window

    from datacube_core_spark.operators.dedup import (
        _df_cut, jaccard_pairs, minhash_lsh_pairs, with_shingles,
    )

    nd = args.dedup_docs
    gid = F.when(F.col("id") < 20, F.floor(F.col("id") / 2)).otherwise(F.col("id"))
    docs = spark.range(0, nd, 1, args.cpus * 2).select(
        F.col("id").alias("doc_id"),
        F.format_string("zz zz zz a%s b%s c%s d%s e%s", gid, gid, gid, gid, gid).alias("text"),
    ).localCheckpoint(eager=True)

    sh = with_shingles(docs, 3)
    max_bucket_raw = sh.groupBy("shingle").count().agg(F.max("count")).collect()[0][0]
    max_bucket_cut = (
        _df_cut(sh, 100).groupBy("shingle").count().agg(F.max("count")).collect()[0][0]
    )

    def window_cut_jaccard():  # the pre-r3 Window-over-shingle form, for comparison
        s = (
            with_shingles(docs, 3)
            .withColumn("_df", F.count("*").over(Window.partitionBy("shingle")))
            .where(F.col("_df") <= 100).drop("_df")
            .withColumn("n_sh", F.count("*").over(Window.partitionBy("doc_id")))
        )
        a = s.select(F.col("doc_id").alias("a"), "shingle", F.col("n_sh").alias("n_a"))
        b = s.select(F.col("doc_id").alias("b"), "shingle", F.col("n_sh").alias("n_b"))
        c = (a.join(b, "shingle").where(F.col("a") < F.col("b"))
             .groupBy("a", "b", "n_a", "n_b").agg(F.count("*").alias("common")))
        jac = F.col("common") / (F.col("n_a") + F.col("n_b") - F.col("common"))
        return c.where(jac >= 0.5).count()

    jac_window = timed(window_cut_jaccard, runs=1)
    jac_anti = timed(lambda: jaccard_pairs(docs, max_df=100).count(), runs=1)

    def unbounded_verify():  # the pre-r3 verify: full-corpus shingle self-join
        s = with_shingles(docs, 3).localCheckpoint(eager=False)
        cand = minhash_lsh_pairs(docs, verify=False).localCheckpoint(eager=True)
        a = s.select(F.col("doc_id").alias("a"), "shingle", F.col("n_sh").alias("n_a"))
        b = s.select(F.col("doc_id").alias("b"), "shingle", F.col("n_sh").alias("n_b"))
        return (a.join(b, "shingle").join(cand, ["a", "b"], "left_semi")
                .groupBy("a", "b", "n_a", "n_b").agg(F.count("*").alias("common")).count())

    mh_unbounded = timed(unbounded_verify, runs=1)
    mh_bounded = timed(lambda: minhash_lsh_pairs(docs).count(), runs=1)

    # --- AQE skew-join runtime re-plan probe -------------------------------
    # One pathologically hot join key (90% of all fact rows) against a dim
    # table, broadcast disabled: with skewJoin ON, AQE's OptimizeSkewedJoin
    # splits the hot shuffle partition at runtime and the straggler
    # disappears.  Measured on/off in the SAME session (all knobs are
    # runtime-settable) — this is the engine-level backstop the PIP/tile
    # pipeline relies on when a hot cell exceeds what salting was sized
    # for.  (Reference numbers on this VM: 6.2s OFF → 2.0s ON at 8M rows.)
    _AQE_KEYS = (
        "spark.sql.autoBroadcastJoinThreshold",
        "spark.sql.adaptive.skewJoin.enabled",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes",
        "spark.sql.adaptive.forceOptimizeSkewedJoin",
    )
    _saved = {k: spark.conf.get(k, None) for k in _AQE_KEYS}
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "2.0")
    spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "1048576")
    spark.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "1048576")
    spark.conf.set("spark.sql.adaptive.forceOptimizeSkewedJoin", "true")
    fact = spark.range(0, max(args.rows, 4_000_000), 1, args.cpus * 2).select(
        F.when(F.col("id") % 10 < 9, F.lit(7)).otherwise(F.col("id") % 1000).alias("key"),
        F.md5(F.col("id").cast("string")).alias("pad"),  # incompressible payload
    )
    dim = spark.range(0, 1000).select(F.col("id").alias("key"), (F.col("id") * 2).alias("attr"))

    def skew_join_sec():
        q = fact.join(dim, "key").select(F.sum(F.length("pad")))
        t0 = time.perf_counter()
        q.collect()
        return round(time.perf_counter() - t0, 3)

    spark.conf.set("spark.sql.adaptive.skewJoin.enabled", "false")
    skew_join_sec()  # warm
    skew_off = skew_join_sec()
    spark.conf.set("spark.sql.adaptive.skewJoin.enabled", "true")
    skew_on = skew_join_sec()
    # restore EVERY touched conf to its prior value so probes appended
    # after this block measure under the session's original planning
    for k, v in _saved.items():
        if v is None:
            spark.conf.unset(k)
        else:
            spark.conf.set(k, v)

    print(json.dumps({
        "rows": args.rows, "cpus": args.cpus,
        "algebraic": {"plain_groupby_sec": plain, "salted_sec": salted},
        "fuse_rows": args.fuse_rows,
        "fuser": {"plain_sec": fuse_plain, "salted_sec": fuse_salted, "kernel_sec": fuse_kernel},
        "aqe_skew_join": {"hot_frac": 0.9, "skew_off_sec": skew_off,
                          "skew_on_sec": skew_on,
                          "speedup": round(skew_off / skew_on, 2)},
        "stop_shingle": {
            "docs": nd,
            "max_join_bucket_raw": max_bucket_raw,
            "max_join_bucket_after_cut": max_bucket_cut,
            "jaccard_window_cut_sec": jac_window,
            "jaccard_anti_cut_sec": jac_anti,
            "minhash_verify_unbounded_sec": mh_unbounded,
            "minhash_verify_bounded_sec": mh_bounded,
        },
    }))
    spark.stop()


if __name__ == "__main__":
    main()
