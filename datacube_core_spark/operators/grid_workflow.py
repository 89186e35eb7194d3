"""GridWorkflow: cell-observation listing + cell grouping (the batch/tiled
query path — reference ``datacube/api/grid_workflow.py:29-295``, SURVEY
§3.2, the scale-out pattern the reference uses in production).

Semantics reproduced:

* ``cell_observations`` (``:168-237``) — three modes:
  - ``cell_index``: fixed tile (optionally buffered), exact
    intersects∧¬touches against each dataset extent;
  - ``geopolygon``: query-polygon tiles pre-enumerated as a semi-join
    filter (``query_tiles``, ``:213-228``), per-dataset bbox tile
    enumeration, exact refine; buffering is an error here (as in the
    reference);
  - unconstrained: per-dataset ``tiles_from_geopolygon`` with
    ``tile_buffer`` padding both the bbox and the tile extent.
* ``group_into_cells`` / ``tile_sources`` (``:246-295``) — per-cell
  grouping with ``group_datasets`` ordering; tile keys are
  ``(tile_x, tile_y, time)``.

Spark shape: dataset extents here are rectangles (page footprints), so
candidate enumeration AND the exact refine are pure Catalyst (strict
interval overlap = interiors-intersect for rects); arbitrary-polygon
extents would reuse the PipIndex subcell machinery.  The whole listing is
one codegen stage + a shuffle on the tile key.
"""

from __future__ import annotations

from typing import Optional, Tuple

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..frames import local_frame
from ..geom.grid import GridSpec
from .grouping import group_datasets
from .tiling import explode_bbox_tiles, tile_bounds_cols


def _buffered_tile_bounds(grid: GridSpec, tile_buffer: Optional[Tuple[float, float]]):
    tl, tb, tr, tt = tile_bounds_cols(grid, F.col("tile_x"), F.col("tile_y"))
    if tile_buffer:
        by, bx = tile_buffer
        tl, tr = tl - F.lit(bx), tr + F.lit(bx)
        tb, tt = tb - F.lit(by), tt + F.lit(by)
    return tl, tb, tr, tt


def cell_observations(
    datasets: DataFrame,
    grid: GridSpec,
    cell_index: Optional[Tuple[int, int]] = None,
    query_polygon_tiles: Optional[DataFrame] = None,
    tile_buffer: Optional[Tuple[float, float]] = None,
) -> DataFrame:
    """Assign datasets (rows with rect extents ``left/bottom/right/top``)
    to grid cells.  Returns dataset columns + (tile_x, tile_y).

    ``query_polygon_tiles``: optional (tile_x, tile_y) DataFrame from
    ``GridSpec.tiles_from_geopolygon`` over the query polygon — applied
    as a broadcast semi-join before the exact refine.
    """
    if tile_buffer is not None and query_polygon_tiles is not None:
        raise ValueError("Cannot process tile_buffering and geopolygon together.")

    if cell_index is not None:
        tx, ty = int(cell_index[0]), int(cell_index[1])
        cand = datasets.withColumn("tile_x", F.lit(tx)).withColumn("tile_y", F.lit(ty))
    else:
        boxed = datasets
        if tile_buffer:
            by, bx = tile_buffer
            boxed = (
                boxed.withColumn("left", F.col("left") - F.lit(bx))
                .withColumn("right", F.col("right") + F.lit(bx))
                .withColumn("bottom", F.col("bottom") - F.lit(by))
                .withColumn("top", F.col("top") + F.lit(by))
            )
        cand = explode_bbox_tiles(boxed, grid)
        if query_polygon_tiles is not None:
            cand = cand.join(F.broadcast(query_polygon_tiles), on=["tile_x", "tile_y"], how="left_semi")

    # exact refine: interiors of (possibly buffered) tile and dataset rect
    # overlap — the reference's intersects ∧ ¬touches for rect extents
    tl, tb, tr, tt = _buffered_tile_bounds(grid, tile_buffer)
    refined = cand.where(
        (F.col("left") < tr) & (tl < F.col("right")) & (F.col("bottom") < tt) & (tb < F.col("top"))
    )
    return refined


def query_polygon_tiles_df(spark, grid: GridSpec, polygon) -> DataFrame:
    """Driver-side tile enumeration of the query polygon (semi-join set)."""
    rows = [(int(tx), int(ty)) for (tx, ty), _ in grid.tiles_from_geopolygon(polygon)]
    return local_frame(spark, rows, "tile_x INT, tile_y INT")


def list_cells(
    datasets: DataFrame,
    grid: GridSpec,
    id_col: str = "doc_id",
    time_col: str = "warc_ts",
    **kwargs,
) -> DataFrame:
    """Per-cell dataset groups: (tile_x, tile_y, datasets array) with the
    group_datasets (sort_key, id) ordering."""
    obs = cell_observations(datasets, grid, **kwargs)
    entry = F.struct(
        F.col(time_col).alias("_sort"), F.col(id_col).cast("long").alias("_id"), F.col(id_col)
    )
    return (
        obs.select("tile_x", "tile_y", entry.alias("_e"))
        .groupBy("tile_x", "tile_y")
        .agg(F.sort_array(F.collect_list("_e")).alias("datasets"))
    )


def list_tiles(
    datasets: DataFrame,
    grid: GridSpec,
    id_col: str = "doc_id",
    time_col: str = "warc_ts",
    time_bucket=None,
    **kwargs,
) -> DataFrame:
    """Tile keys are (tile_x, tile_y, time): one row per cell × time
    group, datasets sorted within (reference tile_sources semantics)."""
    obs = cell_observations(datasets, grid, **kwargs)
    t = F.col(time_col) if time_bucket is None else time_bucket(F.col(time_col))
    entry = F.struct(
        F.col(time_col).alias("_sort"), F.col(id_col).cast("long").alias("_id"), F.col(id_col)
    )
    return (
        obs.select("tile_x", "tile_y", t.alias("time"), entry.alias("_e"))
        .groupBy("tile_x", "tile_y", "time")
        .agg(F.sort_array(F.collect_list("_e")).alias("datasets"))
    )
