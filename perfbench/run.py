#!/usr/bin/env python3
"""The repository's benchmark: one workload, one seed, one closed loop.

    python3 perfbench/run.py --workload spatial_join --seed 1 --seconds 5 --trace 0

Run from the root of a checkout.  One client runs one operation at a time
and waits for it, on ``local[k]`` with k = min(4, cores) and 2k shuffle
partitions.  A run:

1. writes the seeded input under ``.perfbench_work/`` (outside every timed
   window);
2. sets up: process start to a ready SparkSession with the input
   registered, in a cold driver JVM;
3. runs a first pass over the workload's operations, fetching every
   output row, then warm passes until ``--seconds`` have gone by, at
   least one, each reducing every output to a digest;
4. checks the first pass's rows against each operation's DuckDB twin and
   every warm digest against the first pass's.

The end-to-end metrics are CPU seconds of the process tree (this process,
the driver JVM, its Python workers): ``setup_s`` (the set-up less the
CPU of input generation), ``first_pass_cpu_s`` and ``warm_pass_cpu_s``
(median over the warm passes).  On a shared host they repeat far better
than wall time, which the report prints next to them.

With ``--trace 1`` the session has Spark's event log on, and after the
first pass and one warm-up pass the warm passes alternate untraced,
traced (span wrappers and a Catalyst listener installed), untraced, ...
until ``--seconds`` have gone by, ending untraced.  The per-layer
metrics come from the traced passes; ``trace.overhead`` is the median
traced warm-pass wall time over the median untraced one, which bracket
it.  End-to-end metrics come only from untraced runs.

The last line of standard output is one JSON object with ``correct``,
``attempted``, ``failed`` and ``metrics``.  Without the program next to
``perfbench/`` the run exits with code 2 and prints no result.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK_ROOT = os.path.join(ROOT, ".perfbench_work")

CORES = min(4, len(os.sched_getaffinity(0)))  # what nproc reports
SHUFFLE_PARTITIONS = 2 * CORES
N_DOCS = 250
SMOKE_DOCS = 60
DEFAULT_SEED = 1
HELD_OUT_SEED = 7919

END_TO_END = {
    "setup_s": "s",
    "first_pass_cpu_s": "s",
    "warm_pass_cpu_s": "s",
}
PER_LAYER = {
    "wall.setup_s": "s",
    "wall.first_pass_s": "s",
    "wall.warm_pass_s": "s",
    "peak_rss_mb": "MB",
    "session.start_s": "s",
    "sources.build_s": "s",
    "entry.build_s": "s",
    "entry.eager_jobs": "count",
    "ops.build_s": "s",
    "pip.index_lookups": "count",
    "pip.index_builds": "count",
    "pip.index_hit_ratio": "ratio",
    "pip.join_calls": "count",
    "ops.knn.calls": "count",
    "ops.dedup.calls": "count",
    "ops.graph.calls": "count",
    "ops.similarity.calls": "count",
    "ops.warc.calls": "count",
    "ops.robots.calls": "count",
    "materialize.calls": "count",
    "materialize.eager_calls": "count",
    "materialize.stored_mb": "MB",
    "catalyst.analysis_s": "s",
    "catalyst.optimization_s": "s",
    "catalyst.planning_s": "s",
    "exec.jobs": "count",
    "exec.stages": "count",
    "exec.tasks": "count",
    "exec.task_s": "s",
    "exec.cpu_s": "s",
    "exec.gc_s": "s",
    "exec.deser_s": "s",
    "exec.shuffle_read_mb": "MB",
    "exec.shuffle_write_mb": "MB",
    "exec.broadcast_mb": "MB",
    "exec.slot_util": "ratio",
    "python.nodes": "count",
    "python.worker_share": "ratio",
    "python.sent_mb": "MB",
    "python.returned_mb": "MB",
    "write.commits": "count",
    "write.files": "count",
    "write.mb": "MB",
    "write.amp": "ratio",
    "host.loadavg_1m": "load",
    "host.control_s": "s",
    "trace.overhead": "ratio",
}


def program_present() -> bool:
    return (os.path.isfile(os.path.join(ROOT, "__spark_entry__.py"))
            and os.path.isdir(os.path.join(ROOT, "datacube_core_spark")))


class Context:
    """What an operation needs: the session, the input dir, a scratch dir."""

    def __init__(self, spark, sf_dir: str, work_dir: str, entry_mod, tracer=None):
        self.spark = spark
        self.sf_dir = sf_dir
        self.work_dir = work_dir
        self.entry = entry_mod
        self.tracer = tracer
        self.state_dirs: list[str] = []

    def span(self, name: str):
        return self.tracer.span(name) if self.tracer else contextlib.nullcontext()


def start_session(work_dir: str, extra: dict | None = None):
    from datacube_core_spark.session import get_spark

    conf = {
        "spark.local.dir": os.path.join(work_dir, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(work_dir, "warehouse"),
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={os.path.join(work_dir, 'tmp')} -XX:-UsePerfData",
        **(extra or {}),
    }
    return get_spark(app_name="perfbench", master=f"local[{CORES}]",
                     shuffle_partitions=SHUFFLE_PARTITIONS, extra_conf=conf)


def register_inputs(spark, sf_dir: str) -> None:
    spark.read.parquet(os.path.join(sf_dir, "documents.parquet")).createOrReplaceTempView("documents")
    spark.table("documents").count()


def set_up(work_dir: str, sf_dir: str, gen_wall_s: float, gen_cpu_s: float, extra: dict | None):
    """Start the session in a cold driver JVM and register the input.
    Return the session, the set-up's wall and CPU seconds from process
    start, less the benchmark's own input generation, and the wall
    seconds of ``get_spark`` alone."""
    from host import process_age_s, tree_cpu_s

    t0 = time.perf_counter()
    spark = start_session(work_dir, extra)
    session_s = time.perf_counter() - t0
    register_inputs(spark, sf_dir)
    wall = process_age_s() - gen_wall_s
    cpu = tree_cpu_s(os.getpid()) - gen_cpu_s
    return spark, wall, cpu, session_s


def corrupt(df):
    """Drop about a seventh of the rows (self-test only)."""
    from pyspark.sql import functions as F

    return df.where(F.xxhash64(*df.columns) % 7 != 0)


def run_pass(ctx, ops, fetch_rows: bool, corrupt_op: str | None) -> dict:
    from check import digest, fetch
    from host import tree_cpu_s

    w0, t0, cpu0 = time.time(), time.perf_counter(), tree_cpu_s(os.getpid())
    gc0 = ctx.tracer.gc_seconds() if ctx.tracer else 0.0
    results = {}
    for op in ops:
        if ctx.tracer:
            ctx.tracer.query = op.name
        s0 = time.perf_counter()
        rec = {"s": None, "digest": None, "error": None}
        try:
            df = op.output(ctx)
            if op.name == corrupt_op:
                df = corrupt(df)
            if fetch_rows:
                rec["cols"], rec["rows"], rec["digest"] = fetch(df)
            else:
                rec["digest"] = digest(df)
        except Exception as exc:  # noqa: BLE001 - a failed operation is counted, the run goes on
            rec["error"] = f"{type(exc).__name__}: {exc}".splitlines()[0][:300]
            traceback.print_exc(file=sys.stderr)
        rec["s"] = time.perf_counter() - s0
        results[op.name] = rec
        if ctx.tracer:
            ctx.tracer.sample_storage()
    wall = time.perf_counter() - t0
    gc_s = ctx.tracer.gc_seconds() - gc0 if ctx.tracer else 0.0
    return {"wall": wall, "cpu": tree_cpu_s(os.getpid()) - cpu0, "window": (w0, time.time()),
            "ops": results, "gc_s": gc_s}


def run_passes(ctx, ops, seconds: float, corrupt_op: str | None):
    """The first pass, then warm passes until ``seconds`` have gone by (at least one)."""
    first = run_pass(ctx, ops, True, corrupt_op)
    warm, t0 = [], time.perf_counter()
    while not warm or time.perf_counter() - t0 < seconds:
        warm.append(run_pass(ctx, ops, False, corrupt_op))
    return first, warm


def check_passes(ctx, ops, first: dict, passes: list[dict]) -> list[str]:
    """Compare the first pass's rows with DuckDB and every pass's digest
    with the first pass's.  Return one line per failed operation run."""
    import duckdb

    from check import check_oracle

    con = duckdb.connect()
    con.execute(f"SET threads = {CORES}")
    con.execute("CREATE VIEW documents AS SELECT * FROM read_parquet("
                f"'{os.path.join(ctx.sf_dir, 'documents.parquet')}')")
    failures = []
    for op in ops:
        rec = first["ops"][op.name]
        reference = None
        if rec["error"] is None:
            try:
                check_oracle(rec["cols"], rec["rows"], con, op.oracle(ctx))
                reference = rec["digest"]
            except Exception as exc:  # noqa: BLE001 - reported as a failed check
                failures.append(f"{op.name}: DuckDB check: {exc}")
        for i, p in enumerate(passes):
            got = p["ops"][op.name]
            if got["error"] is not None:
                failures.append(f"{op.name} pass {i}: {got['error']}")
            elif reference is None:
                failures.append(f"{op.name} pass {i}: no verified reference")
            elif got["digest"] != reference:
                failures.append(f"{op.name} pass {i}: digest {got['digest']} != reference {reference}")
    con.close()
    return failures


def dir_bytes(path: str) -> int:
    return sum(os.path.getsize(os.path.join(d, f)) for d, _, fs in os.walk(path) for f in fs)


def stop_session(spark) -> None:
    """Stop Spark, then end the driver JVM (and with it every Python
    worker) by closing its stdin, and wait for it to exit."""
    from pyspark import SparkContext

    spark.stop()
    proc = getattr(SparkContext._gateway, "proc", None)
    if proc is None:
        return
    with contextlib.suppress(OSError):
        proc.stdin.close()
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait(timeout=30)


def layer_metrics(tracer, warm: list[dict], log_path: str, input_b: int, ctx) -> dict:
    from tracing import OP_LAYERS, catalyst_metrics, fold_event_log, span_metrics

    windows = [p["window"] for p in warm]
    builds = [(s["start"], s["end"]) for s in tracer.spans if s["name"] == "entry.build"]
    sp = span_metrics(tracer, windows)
    ev = fold_event_log(log_path, windows, builds)
    cat = catalyst_metrics(tracer, windows)

    def mean(rows, key, scale=1.0):
        return statistics.mean(r.get(key, 0.0) for r in rows) * scale

    lookups = sum(r.get("calls:pip.index_lookup", 0) for r in sp)
    built = sum(r.get("calls:pip.index_build", 0) for r in sp)
    stored = [max([mb for t, mb in tracer.stored if w[0] <= t < w[1]], default=0.0) for w in windows]
    walls = [p["wall"] for p in warm]
    amp = [dir_bytes(d) / input_b for d in ctx.state_dirs[-len(warm):]] if ctx.state_dirs else [0.0]
    m = {
        "sources.build_s": mean(sp, "self:sources"),
        "entry.build_s": mean(sp, "self:entry"),
        "entry.eager_jobs": mean(ev, "eager_jobs"),
        "ops.build_s": statistics.mean(sum(r.get(f"self:{layer}", 0.0) for layer in OP_LAYERS) for r in sp),
        "pip.index_lookups": lookups / len(sp),
        "pip.index_builds": built / len(sp),
        "pip.index_hit_ratio": (lookups - built) / lookups if lookups else 0.0,
        "pip.join_calls": mean(sp, "calls:pip.join_build"),
        "materialize.calls": mean(sp, "calls:materialize.eager") + mean(sp, "calls:materialize.lazy"),
        "materialize.eager_calls": mean(sp, "calls:materialize.eager"),
        "materialize.stored_mb": statistics.mean(stored),
        "catalyst.analysis_s": mean(cat, "analysis"),
        "catalyst.optimization_s": mean(cat, "optimization"),
        "catalyst.planning_s": mean(cat, "planning"),
        "exec.jobs": mean(ev, "jobs"),
        "exec.stages": mean(ev, "stages"),
        "exec.tasks": mean(ev, "tasks"),
        "exec.task_s": mean(ev, "task_s"),
        "exec.cpu_s": mean(ev, "cpu_s"),
        "exec.gc_s": statistics.mean(p["gc_s"] for p in warm),
        "exec.deser_s": mean(ev, "deser_s"),
        "exec.shuffle_read_mb": mean(ev, "shuffle_read_b", 1e-6),
        "exec.shuffle_write_mb": mean(ev, "shuffle_write_b", 1e-6),
        "exec.broadcast_mb": mean(ev, "broadcast_b", 1e-6),
        "exec.slot_util": statistics.mean(r.get("task_s", 0.0) / (CORES * w) for r, w in zip(ev, walls)),
        "python.nodes": mean(ev, "python_nodes"),
        # a share, not seconds: spatial_join's warm passes cross into Python
        # nowhere, and a time that reads exactly 0 on every run is not a measurement
        "python.worker_share": sum(r.get("python_s", 0.0) for r in ev) / max(sum(r.get("task_s", 0.0) for r in ev), 1e-9),
        "python.sent_mb": mean(ev, "python_sent_b", 1e-6),
        "python.returned_mb": mean(ev, "python_returned_b", 1e-6),
        "write.commits": mean(sp, "calls:write.parquet"),
        "write.files": mean(ev, "written_files"),
        "write.mb": mean(ev, "written_b", 1e-6),
        "write.amp": statistics.mean(amp),
    }
    for name in ("knn", "dedup", "graph", "similarity", "warc", "robots"):
        m[f"ops.{name}.calls"] = mean(sp, f"layer_calls:ops.{name}")
    return m


def summarize(args, ops, first, warm, attempted, setup, failures, host_info, extra_lines) -> None:
    """Human-readable report (everything but the last line of stdout)."""
    print(f"workload {args.workload}  seed {args.seed}  local[{CORES}]  "
          f"shuffle partitions {SHUFFLE_PARTITIONS}  documents {args.docs}")
    print(f"setup_s          {setup['cpu']:.3f} s  (1 cold set-up from process start, "
          f"input generation excluded; wall {setup['wall']:.3f} s, get_spark {setup['session']:.3f} s)")
    print(f"first_pass_cpu_s {first['cpu']:.3f} s  (1 sample; wall {first['wall']:.3f} s)")
    print(f"warm_pass_cpu_s  {statistics.median(p['cpu'] for p in warm):.3f} s  (median of "
          f"{len(warm)} passes: " + ", ".join(f"{p['cpu']:.2f}" for p in warm) + "; wall "
          + ", ".join(f"{p['wall']:.3f}" for p in warm) + " s)")
    for line in extra_lines:
        print(line)
    print(f"failed_frac  {len(failures)}/{attempted}")
    for op in ops:
        times = ", ".join(f"{p['ops'][op.name]['s']:.3f}" for p in warm)
        print(f"  op {op.name:18s} first {first['ops'][op.name]['s']:.3f} s  warm {times}")
    print("host  loadavg_1m before {:.2f} after {:.2f}  control_s {}".format(
        host_info["load_before"], host_info["load_after"],
        ", ".join(f"{c:.4f}" for c in host_info["control"])))
    for f in failures:
        print(f"FAILED {f}")


def event_log_conf(log_dir: str) -> dict:
    os.makedirs(log_dir)
    return {
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": "file://" + log_dir,
        "spark.eventLog.compress": "false",
        "spark.eventLog.rolling.enabled": "false",
    }


def traced_run(args, ctx, ops, input_b: int, log_dir: str):
    """The first pass and one warm-up pass, then warm passes alternating
    untraced and traced in the same session, so that JIT warm-up, steepest
    in the first passes, favours neither side.  Return the per-layer
    metrics, every pass, the untraced warm passes and the report lines."""
    from host import PeakRss
    from tracing import Tracer

    tracer = Tracer(args.workload)
    tctx = Context(ctx.spark, ctx.sf_dir, ctx.work_dir, ctx.entry, tracer)
    with PeakRss() as rss:
        first = run_pass(ctx, ops, True, args.corrupt)
        warmup = run_pass(ctx, ops, False, args.corrupt)
        untraced, traced, t0 = [run_pass(ctx, ops, False, args.corrupt)], [], time.perf_counter()
        while not traced or time.perf_counter() - t0 < args.seconds:
            tracer.install(ctx.spark, ctx.entry)
            try:
                traced.append(run_pass(tctx, ops, False, args.corrupt))
            finally:
                tracer.uninstall()
            untraced.append(run_pass(ctx, ops, False, args.corrupt))
    stop_session(ctx.spark)

    (log_path,) = [os.path.join(log_dir, f) for f in os.listdir(log_dir)]
    metrics = layer_metrics(tracer, traced, log_path, input_b, tctx)
    traced_s = statistics.median(p["wall"] for p in traced)
    untraced_s = statistics.median(p["wall"] for p in untraced)
    metrics["trace.overhead"] = traced_s / untraced_s
    metrics["wall.first_pass_s"] = first["wall"]
    metrics["wall.warm_pass_s"] = untraced_s
    metrics["peak_rss_mb"] = rss.peak / 1e6
    tracer.write_spans(os.path.join(WORK_ROOT, "traces", f"{args.workload}-seed{args.seed}.json"))
    lines = [
        f"trace.overhead   {metrics['trace.overhead']:.4f}  (traced warm pass {traced_s:.4f} s, median of "
        f"{len(traced)}; untraced {untraced_s:.4f} s, median of {len(untraced)}, alternating)",
        f"peak_rss_mb      {metrics['peak_rss_mb']:.1f} MB",
        "spans in .perfbench_work/traces/",
    ]
    return metrics, first, [first, warmup, *untraced, *traced], untraced, lines


def measure(args, work_dir: str, sf_dir: str, gen_wall_s: float, gen_cpu_s: float) -> dict:
    import __spark_entry__ as entry_mod
    from host import control_burn, loadavg_1m
    from inputs import input_bytes
    from workloads import WORKLOADS

    ops = WORKLOADS[args.workload]()
    input_b = input_bytes(sf_dir)
    host_info = {"load_before": loadavg_1m(), "control": []}
    log_dir = os.path.join(work_dir, "eventlog")
    extra = event_log_conf(log_dir) if args.trace else None
    spark, setup_wall, setup_cpu, session_s = set_up(work_dir, sf_dir, gen_wall_s, gen_cpu_s, extra)
    setup = {"wall": setup_wall, "cpu": setup_cpu, "session": session_s}
    ctx = Context(spark, sf_dir, work_dir, entry_mod)
    host_info["control"].append(control_burn())

    if args.trace:
        metrics, first, passes, warm, lines = traced_run(args, ctx, ops, input_b, log_dir)
        metrics["session.start_s"] = session_s
        metrics["wall.setup_s"] = setup_wall
    else:
        first, warm = run_passes(ctx, ops, args.seconds, args.corrupt)
        stop_session(spark)
        passes, metrics = [first, *warm], {
            "setup_s": setup_cpu,
            "first_pass_cpu_s": first["cpu"],
            "warm_pass_cpu_s": statistics.median(p["cpu"] for p in warm),
        }
        lines = []
        if ctx.state_dirs:
            amps = [dir_bytes(d) / input_b for d in ctx.state_dirs]
            lines.append("write_amp        " + ", ".join(f"{a:.3f}" for a in amps)
                         + f"  (state-dir bytes / input bytes, {input_b} B input)")

    host_info["control"].append(control_burn())
    host_info["load_after"] = loadavg_1m()
    metrics["host.loadavg_1m"] = (host_info["load_before"] + host_info["load_after"]) / 2
    metrics["host.control_s"] = statistics.median(host_info["control"])
    failures = check_passes(ctx, ops, first, passes)
    summarize(args, ops, first, warm, len(passes) * len(ops), setup, failures, host_info, lines)
    units = PER_LAYER if args.trace else END_TO_END
    return {
        "correct": not failures,
        "attempted": len(passes) * len(ops),
        "failed": len(failures),
        "metrics": {k: {"value": metrics[k], "unit": u} for k, u in units.items()},
    }


def main(argv=None) -> int:
    from workloads import WORKLOADS

    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, default=DEFAULT_SEED,
                    help=f"input seed (default {DEFAULT_SEED}; held out for checking claims: {HELD_OUT_SEED})")
    ap.add_argument("--seconds", type=float, default=10.0, help="warm-pass measuring time")
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true", help=f"tiny input ({SMOKE_DOCS} documents)")
    ap.add_argument("--corrupt", metavar="OP", help=argparse.SUPPRESS)
    args = ap.parse_args(argv)
    args.docs = SMOKE_DOCS if args.smoke else N_DOCS

    if not program_present():
        print(f"perfbench: no __spark_entry__.py / datacube_core_spark/ under {ROOT}", file=sys.stderr)
        return 2

    work_dir = os.path.join(WORK_ROOT, f"run-{os.getpid()}")
    shutil.rmtree(work_dir, ignore_errors=True)
    os.makedirs(os.path.join(work_dir, "tmp"))
    # everything Spark, its JVM and its Python workers write stays in the checkout
    os.environ["TMPDIR"] = os.path.join(work_dir, "tmp")
    os.environ["PYTHONPATH"] = os.pathsep.join(filter(None, [ROOT, os.environ.get("PYTHONPATH")]))
    # the checkpointed job calls get_spark() with its defaults; keep them equal to ours
    os.environ["SPARK_GRAFT_CPUS"] = str(CORES)
    os.environ["SPARK_GRAFT_SHUFFLE_PARTITIONS"] = str(SHUFFLE_PARTITIONS)
    sys.path.insert(0, ROOT)
    try:
        from inputs import write_inputs

        t0, c0 = time.perf_counter(), time.process_time()
        sf_dir = write_inputs(os.path.join(work_dir, "input"), args.seed, args.docs)
        result = measure(args, work_dir, sf_dir, time.perf_counter() - t0, time.process_time() - c0)
    finally:
        shutil.rmtree(work_dir, ignore_errors=True)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
