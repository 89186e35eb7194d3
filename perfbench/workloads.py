"""The benchmark's operations and the workloads that group them.

An operation builds one output from the generated input and is timed as a
single closed-loop action (build, execute, reduce to a digest).  Each
workload is an ordered list of operations; one pass runs each once.

Why these two workloads (see README.md for the full table):

* ``spatial_join`` - the paper's flagship pipeline, GridSpec tiling plus a
  point-in-polygon join and per-(tile, region) counts, next to the other
  PIP entry points and a kNN join, and the write path (the checkpointed
  per-cell job: many small PIP joins, each committed as parquet appends,
  then a resume that must do nothing).  PIP index builds, broadcast joins
  and parquet commits do most of its work; it runs no fixpoint loop, and
  its rectangular regions need no Python refine kernel.
* ``link_dedup`` - MinHash LSH and connected components over the link
  graph: fixpoint loops with a lazy ``localCheckpoint`` every round, many
  small jobs and shuffles.  Next to them run two crawl-format pipelines
  (WARC gzip streams, robots.txt decisions) that cross the Python/Arrow
  boundary per batch.  It builds no PIP index and writes nothing, so it is
  the bypass workload for the PIP and write layers, and ``spatial_join``
  is the bypass for the checkpoint-heavy loops and the Arrow kernels.
"""

from __future__ import annotations

import contextlib
import io
import json
import os

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# the headline replicates every document this many times (16 pages per
# document is the program's own correctness replication)
HEADLINE_REPL = 16
# the checkpointed job commits per-cell batches of 256 cells (the batch
# size of ``__main__``); 4 pages per document give the 250-document input
# 1000 pages in about 1000 cells, so each run commits four batches
COMMIT_REPL = 4


def headline_sql(repl: int) -> str:
    """DuckDB twin of the headline: per-(tile, region) page counts."""
    from datacube_core_spark.geom import GRID_PAGES
    from datacube_core_spark.sources.pages import pages_cte
    from datacube_core_spark.sources.regions import REGIONS_CTE

    (sy, sx), (oy, ox) = GRID_PAGES.tile_size, GRID_PAGES.origin
    return f"""{pages_cte(repl)}, {REGIONS_CTE}
SELECT CAST(FLOOR((lon - ({ox})) / {sx}) AS INT) AS tile_x,
       CAST(FLOOR((lat - ({oy})) / {sy}) AS INT) AS tile_y,
       CAST(r.region_id AS BIGINT) AS region_id, COUNT(*) AS n
FROM pages p JOIN regions r
  ON p.lon > r."left" AND p.lon < r."right" AND p.lat > r."bottom" AND p.lat < r."top"
GROUP BY 1, 2, 3
"""


def _tile_counts(df: DataFrame, x: str, y: str) -> DataFrame:
    return df.select(
        F.col(x).cast("int").alias("tile_x"),
        F.col(y).cast("int").alias("tile_y"),
        F.col("region_id").cast("long").alias("region_id"),
        F.col("n").cast("long").alias("n"),
    )


class EntryQuery:
    """One ``__spark_entry__.queries()`` entry, checked against its ``oracle_sql()`` twin."""

    def __init__(self, name: str):
        self.name = name

    def output(self, ctx) -> DataFrame:
        with ctx.span("entry.build"):
            return ctx.entry.queries()[self.name](ctx.spark, ctx.sf_dir)

    def oracle(self, ctx) -> str:
        return ctx.entry.oracle_sql()[self.name]


class Headline:
    """Tile assignment + PipIndex join + per-(tile, region) count over
    replicated pages.  The index is built once per session, in the first
    pass, as the program's own bench does."""

    name = "headline"

    def __init__(self, repl: int = HEADLINE_REPL):
        self.repl = repl
        self._index = None

    def _pip_index(self, ctx):
        from datacube_core_spark.geom import GRID_PAGES
        from datacube_core_spark.operators.pip import PipIndex
        from datacube_core_spark.sources.regions import regions

        if self._index is None or self._index[0] is not ctx.spark:
            self._index = (ctx.spark, PipIndex(ctx.spark, regions(ctx.spark), GRID_PAGES))
        return self._index[1]

    def output(self, ctx) -> DataFrame:
        from datacube_core_spark.geom import GRID_PAGES
        from datacube_core_spark.operators.tiling import with_tile
        from datacube_core_spark.sources.pages import pages

        p = pages(ctx.spark, ctx.sf_dir, repl=self.repl)
        joined = self._pip_index(ctx).join(p, keep_cols=["doc_id"])
        agg = with_tile(joined, GRID_PAGES).groupBy("tile_x", "tile_y", "region_id").agg(
            F.count("*").alias("n")
        )
        return _tile_counts(agg, "tile_x", "tile_y")

    def oracle(self, ctx) -> str:
        return headline_sql(self.repl)


class TileCommit:
    """The program's ``checkpointed`` job into a fresh state dir, then a
    resume on the same dir that must run no batch, then the committed
    output read back.  Its reference is the one-shot headline aggregate
    over the same pages, computed by DuckDB."""

    name = "tile_commit"

    def __init__(self, repl: int = COMMIT_REPL):
        self.repl = repl
        self.runs = 0

    def _job(self, ctx, state_dir: str) -> int:
        from datacube_core_spark.__main__ import main

        argv = ["--job", "checkpointed", "--sf-dir", ctx.sf_dir,
                "--repl", str(self.repl), "--state-dir", state_dir]
        out = io.StringIO()
        with contextlib.redirect_stdout(out):
            main(argv)
        for line in out.getvalue().splitlines():
            if line.startswith("{") and "batches_run" in line:
                return int(json.loads(line)["batches_run"])
        raise RuntimeError("checkpointed job printed no batches_run line")

    def output(self, ctx) -> DataFrame:
        from datacube_core_spark.operators.checkpoint import CheckpointedJob

        self.runs += 1
        state_dir = os.path.join(ctx.work_dir, f"state-{self.runs}")
        ctx.state_dirs.append(state_dir)
        with ctx.span("job.checkpointed"):
            if self._job(ctx, state_dir) < 1:
                raise RuntimeError("fresh state dir ran no batch")
        with ctx.span("job.resume"):
            resumed = self._job(ctx, state_dir)
        if resumed:
            raise RuntimeError(f"resume on a finished state dir ran {resumed} batches")
        out = CheckpointedJob(ctx.spark, state_dir).committed_output()
        return _tile_counts(out, "cell_x", "cell_y")

    def oracle(self, ctx) -> str:
        return headline_sql(self.repl)


WORKLOADS = {
    "spatial_join": lambda: [
        Headline(),
        EntryQuery("pip_region_count"),
        EntryQuery("knn_bulk"),
        TileCommit(),
    ],
    "link_dedup": lambda: [
        EntryQuery("minhash_lsh"),
        EntryQuery("link_components"),
        EntryQuery("warc_gz"),
        EntryQuery("robots_txt"),
    ],
}
