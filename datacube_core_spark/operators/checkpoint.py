"""Checkpointed, resumable per-cell batch runs (+ lineage & metrics views).

North-rule requirement: a killed run resumes without recomputing
completed cells.  Semantics come from the reference:

* remaining work = ``find_diff`` anti-join (reference
  ``datacube/scripts/ingest.py:44-52``): cells present in the task list
  but absent from the completed set.
* persistence of task state between processes (reference
  ``datacube/ui/task_app.py:36-74`` pickles tasks to disk) — here it is
  ONE append-only state table, designed as an Iceberg table (one append
  = one Iceberg commit per batch); this sandbox has no Iceberg runtime
  so it is a parquet directory with the same schema and commit
  discipline:

  - ``checkpoints``: cell_x, cell_y, job_id, batch_id, status, attempt,
    rows, secs, n_inputs, ts

  ``lineage()`` (cell_x, cell_y, job_id, n_inputs, input_min, input_max)
  and ``metrics()`` (job_id, stage, cell_x, cell_y, rows, secs, ts) are
  views over it: each of their fields is a projection of the checkpoint
  row.

Commit discipline (the Iceberg-snapshot validity rule, made explicit):
every batch writes its output under a *batch-scoped partition*
(``output/batch_id=<job>-<attempt_nonce>-<seq>/``) BEFORE appending its
checkpoint rows,
which carry the same ``batch_id``.  A batch's output is committed iff a
``done`` checkpoint row with its batch_id exists; ``committed_output()``
semi-joins on batch_id, so a kill in the window between the output append
and the checkpoint append leaves an *orphaned* batch directory that is
never read — the retry writes a fresh batch_id and no duplicates can
surface (this is exactly what an Iceberg snapshot commit gives
atomically: data files exist, but only manifests referenced by a
committed snapshot are scanned).

Each batch's plan executes ONCE: row counts are collected with
``DataFrame.observe`` on the write action itself, never via a second
``.count()`` pass.
"""

from __future__ import annotations

import os
import time
import uuid
from typing import Callable, List, Optional, Tuple

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from ..frames import local_frame

# the driver-built part of a checkpoint row; ``ts`` is stamped at write
_CHECKPOINT_FIELDS = (
    "cell_x INT, cell_y INT, job_id STRING, batch_id STRING, status STRING, "
    "attempt INT, rows LONG, secs DOUBLE, n_inputs LONG"
)
CHECKPOINT_SCHEMA = f"{_CHECKPOINT_FIELDS}, ts TIMESTAMP"


def _has_parquet(path: str) -> bool:
    """True if any .parquet file exists under path (recursively — output
    batches live in batch_id=... subdirectories)."""
    if not os.path.isdir(path):
        return False
    for root, _dirs, files in os.walk(path):
        if any(f.endswith(".parquet") for f in files):
            return True
    return False


class CheckpointedJob:
    def __init__(self, spark: SparkSession, base_path: str, job_id: Optional[str] = None):
        self.spark = spark
        self.base = base_path.rstrip("/")
        self.job_id = job_id or uuid.uuid4().hex[:12]
        self.ckpt_path = f"{self.base}/checkpoints"
        self.output_path = f"{self.base}/output"

    # -- table readers (empty-safe) ---------------------------------------

    def _read(self, path: str, schema: str) -> DataFrame:
        if _has_parquet(path):
            return self.spark.read.schema(schema).parquet(path)
        return local_frame(self.spark, [], schema)

    def checkpoints(self) -> DataFrame:
        return self._read(self.ckpt_path, CHECKPOINT_SCHEMA)

    def lineage(self) -> DataFrame:
        """cell_x, cell_y, job_id, n_inputs, input_min, input_max."""
        n = F.col("n_inputs")
        return self.checkpoints().select(
            "cell_x", "cell_y", "job_id", n, F.lit(0).cast("long").alias("input_min"), n.alias("input_max")
        )

    def metrics(self) -> DataFrame:
        """job_id, stage, cell_x, cell_y, rows, secs, ts."""
        return self.checkpoints().select(
            "job_id", F.lit("process_batch").alias("stage"), "cell_x", "cell_y", "rows", "secs", "ts"
        )

    def completed_cells(self) -> DataFrame:
        return self.checkpoints().where(F.col("status") == "done").select("cell_x", "cell_y").distinct()

    def committed_batches(self) -> DataFrame:
        return self.checkpoints().where(F.col("status") == "done").select("batch_id").distinct()

    def remaining(self, all_cells: DataFrame) -> DataFrame:
        """find_diff: task cells minus completed cells (left anti join)."""
        return all_cells.join(self.completed_cells(), on=["cell_x", "cell_y"], how="left_anti")

    # -- committed-output reader ------------------------------------------

    def committed_output(self, schema: Optional[str] = None) -> DataFrame:
        """Output rows from committed batches only (semi-join on batch_id
        — the Iceberg-snapshot validity rule).  Orphaned batch directories
        from runs killed between the output append and the checkpoint
        append are never read.

        Empty-safe: with no output written yet, returns an empty frame
        with ``schema`` if given, else the minimal (cell_x, cell_y,
        batch_id) shape.
        """
        if not _has_parquet(self.output_path):
            return local_frame(self.spark, [], schema or "cell_x INT, cell_y INT, batch_id STRING")
        out = self.spark.read.parquet(self.output_path)
        return out.join(F.broadcast(self.committed_batches()), on="batch_id", how="left_semi")

    def vacuum(self, min_age_s: float = 24 * 3600.0) -> List[str]:
        """Delete ORPHANED output batch directories — batch partitions
        written by attempts killed inside the commit window, which
        ``committed_output`` never reads but which otherwise accumulate
        forever.  The Iceberg ``remove_orphan_files`` analog.

        Safety: (a) a batch_id is never reused across attempts
        (per-attempt nonce), so a DEAD attempt's directory is orphaned
        forever; (b) a LIVE attempt may sit inside its commit window
        (output written, ``done`` row not yet appended) — exactly like
        Iceberg's remove_orphan_files, ``min_age_s`` (default 24 h)
        guards that race: only directories last modified at least that
        long ago are deleted.  Pass 0 ONLY when no attempt can be
        running.  Returns the deleted batch_ids."""
        import shutil
        import time as _time

        if not os.path.isdir(self.output_path):
            return []
        committed = {r["batch_id"] for r in self.committed_batches().collect()}
        now = _time.time()
        deleted: List[str] = []
        for name in sorted(os.listdir(self.output_path)):
            if not name.startswith("batch_id="):
                continue
            bid = name[len("batch_id="):]
            path = os.path.join(self.output_path, name)
            if bid in committed:
                continue
            age = now - max(
                (os.path.getmtime(os.path.join(dp, f)) for dp, _dn, fs in os.walk(path) for f in fs),
                default=os.path.getmtime(path),
            )
            if age >= min_age_s:
                shutil.rmtree(path)
                deleted.append(bid)
        return deleted

    # -- the run loop ------------------------------------------------------

    def run(
        self,
        cells: DataFrame,
        process_batch: Callable[[List[Tuple[int, int]]], Tuple[DataFrame, int]],
        batch_size: int = 64,
        max_batches: Optional[int] = None,
        fail_before_checkpoint: Optional[int] = None,
    ) -> int:
        """Process all not-yet-done cells in batches.

        ``cells``: DataFrame(cell_x, cell_y).  ``process_batch`` maps a
        list of cell tuples to (output_df_with_cell_cols, n_input_rows);
        output must carry cell_x/cell_y columns.  Returns #batches run.
        ``max_batches`` lets tests simulate a kill between batches;
        ``fail_before_checkpoint`` (1-based batch number) simulates the
        harder kill *inside* the commit window — after the output append,
        before the checkpoint append.
        """
        todo = [(int(r["cell_x"]), int(r["cell_y"])) for r in self.remaining(cells).collect()]
        todo.sort()
        batches = [todo[i : i + batch_size] for i in range(0, len(todo), batch_size)]
        ran = 0
        # batch_id carries a per-run-ATTEMPT nonce, not just (job_id, seq):
        # a retry that reuses the same job_id (the natural resume) restarts
        # seq over the remaining cells, and with a job_id-seq-only id it
        # would append into the partition already holding the orphaned rows
        # of an attempt killed inside the commit window — committing that
        # batch would then surface both copies.  The nonce makes every
        # attempt's partitions disjoint; orphans stay orphaned forever.
        attempt_nonce = uuid.uuid4().hex[:8]
        for seq, batch in enumerate(batches, start=1):
            if max_batches is not None and ran >= max_batches:
                break
            batch_id = f"{self.job_id}-{attempt_nonce}-{seq:06d}"
            t0 = time.perf_counter()
            out_df, n_inputs = process_batch(batch)
            # observe() rides the write action: one execution, no second
            # count() pass over the batch plan
            obs = Observation()
            out_df = out_df.withColumn("batch_id", F.lit(batch_id)).observe(
                obs, F.count(F.lit(1)).alias("rows")
            )
            out_df.write.mode("append").partitionBy("batch_id").parquet(self.output_path)
            n_rows = int(obs.get["rows"])
            secs = time.perf_counter() - t0

            if fail_before_checkpoint is not None and seq == fail_before_checkpoint:
                raise RuntimeError(f"simulated kill inside commit window (batch {batch_id})")

            # the batch's one state append: its rows carry the lineage and
            # metrics fields too
            ckpt_rows = [
                (cx, cy, self.job_id, batch_id, "done", 1, n_rows, float(secs), int(n_inputs))
                for cx, cy in batch
            ]
            (
                local_frame(self.spark, ckpt_rows, _CHECKPOINT_FIELDS)
                .withColumn("ts", F.current_timestamp())
                .coalesce(1)  # a few rows: one file, not one per core
                .write.mode("append")
                .parquet(self.ckpt_path)
            )
            ran += 1
        return ran
