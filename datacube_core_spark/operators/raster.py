"""Raster↔vector operators: rasterize polygons onto the tile grid, sample
rasters at point locations.

Reference analog (SURVEY §2.9): ODC's load/reproject path materializes
per-tile pixel grids; rasterize = PIP of the pixel-center lattice
(reference ``GeoBox.coordinates``, ``_base.py:1134-1148``) against
polygons; sample = point → pixel index via the inverse affine
(``~geobox.transform``).  Here:

* rasterize (axis-rect regions) — pure Catalyst: the raster is
  ``transform(sequence(0, h*w-1), i -> predicate(pixel_center(i)))``,
  entirely inside codegen.  Pixel row 0 is the TOP row (negative y
  resolution), matching the reference's geobox orientation.
* rasterize (generic polygons) — vectorized numpy PIP kernel over the
  pixel-center meshgrid inside ``mapInPandas``, one raster per
  (tile, region) pair of the index's ``region_tiles`` view (the
  reference's per-tile kernel shape).
* sample — pure Catalyst: tile + pixel index arithmetic, broadcast join
  against the raster tiles, ``element_at`` lookup.

Raster layout: ``array<int>`` of length h*w, index = row * width + col,
row 0 = top (lat max), col 0 = left (lon min).  Pixel membership uses the
strict-interior rule, consistent with the PIP join.
"""

from __future__ import annotations

import functools
from typing import Iterator, Optional

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..geom.grid import GridSpec
from ..geom.polygon import points_strictly_inside_multi, unpack_multipolygon
from .pip import PipIndex
from .tiling import point_tile_cols


def _tile_frame(grid: GridSpec, res: float):
    """(h, w, tile step helpers) for square pixels of size ``res``."""
    size_y, size_x = abs(grid.tile_size[0]), abs(grid.tile_size[1])
    w = int(round(size_x / res))
    h = int(round(size_y / res))
    return h, w


def rasterize_rect_regions(
    regions_df: DataFrame,
    grid: GridSpec,
    res: float,
    index: Optional[PipIndex] = None,
) -> DataFrame:
    """Per-(tile, region) 0/1 mask rasters for axis-rect regions — pure
    Catalyst.  Returns (tile_x, tile_y, region_id, h, w, raster)."""
    spark = regions_df.sparkSession
    if index is None:
        index = PipIndex(spark, regions_df, grid)
    if index.rect_candidates is None:
        raise ValueError("no axis-rect regions to rasterize")
    h, w = _tile_frame(grid, res)
    size_y, size_x = grid.tile_size
    oy, ox = grid.origin

    cand = index.rect_candidates
    tile_left = F.col("tile_x").cast("double") * F.lit(abs(size_x)) + F.lit(ox)
    tile_top = (F.col("tile_y").cast("double") + 1) * F.lit(abs(size_y)) + F.lit(oy)

    def pix(i: Column):
        row = F.floor(i / F.lit(w))
        col = i % F.lit(w)
        cx = tile_left + (col.cast("double") + F.lit(0.5)) * F.lit(res)
        cy = tile_top - (row.cast("double") + F.lit(0.5)) * F.lit(res)
        return cx, cy

    def cell_value(i: Column) -> Column:
        cx, cy = pix(i)
        inside = (
            (cx > F.col("r_left")) & (cx < F.col("r_right")) & (cy > F.col("r_bottom")) & (cy < F.col("r_top"))
        )
        return F.when(inside, F.lit(1)).otherwise(F.lit(0))

    raster = F.transform(F.sequence(F.lit(0), F.lit(h * w - 1)), cell_value)
    return cand.select(
        "tile_x", "tile_y", "region_id", F.lit(h).alias("h"), F.lit(w).alias("w"), raster.alias("raster")
    )


def rasterize_generic_regions(
    regions_df: DataFrame,
    grid: GridSpec,
    res: float,
    index: Optional[PipIndex] = None,
) -> DataFrame:
    """Per-(tile, region) mask rasters for arbitrary polygons.  Axis-rect
    regions take the Catalyst path of :func:`rasterize_rect_regions`;
    generic polygons run numpy PIP over the pixel-center meshgrid inside
    mapInPandas (per-tile kernel), reading their blobs from the index's
    generic-blob broadcast — the region geometry is collected once, by
    the index build."""
    spark = regions_df.sparkSession
    if index is None:
        index = PipIndex(spark, regions_df, grid)
    h, w = _tile_frame(grid, res)
    size_y, size_x = grid.tile_size
    oy, ox = grid.origin
    parts = []
    if index.rect_candidates is not None:
        parts.append(rasterize_rect_regions(regions_df, grid, res, index=index))

    bc = index._bc_geoms
    abs_sx, abs_sy = abs(size_x), abs(size_y)

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        cache = {}
        for pdf in batches:
            out_rows = []
            for r in pdf.itertuples():
                rid = int(r.region_id)
                mp = cache.get(rid)
                if mp is None:
                    mp = unpack_multipolygon(bc.value[rid])
                    cache[rid] = mp
                left = r.tile_x * abs_sx + ox
                top = (r.tile_y + 1) * abs_sy + oy
                cols_ = left + (np.arange(w) + 0.5) * res
                rows_ = top - (np.arange(h) + 0.5) * res
                XX, YY = np.meshgrid(cols_, rows_)  # row-major: row 0 = top
                mask = points_strictly_inside_multi(XX.ravel(), YY.ravel(), mp)
                out_rows.append(
                    (int(r.tile_x), int(r.tile_y), rid, h, w, mask.astype(np.int32).tolist())
                )
            if out_rows:
                yield pd.DataFrame(
                    out_rows, columns=["tile_x", "tile_y", "region_id", "h", "w", "raster"]
                )

    if index.geom_map:
        schema = "tile_x INT, tile_y INT, region_id INT, h INT, w INT, raster ARRAY<INT>"
        parts.append(index.region_tiles.mapInPandas(kernel, schema=schema))
    return functools.reduce(DataFrame.unionByName, parts)


def sample_rasters(
    points_df: DataFrame,
    rasters_df: DataFrame,
    grid: GridSpec,
    res: float,
    lon: str = "lon",
    lat: str = "lat",
    value_col: str = "value",
) -> DataFrame:
    """Sample each point against the raster tiles: inverse-affine pixel
    lookup, pure Catalyst.  Points outside any raster tile are dropped
    (inner join); returns points cols + region_id + ``value``."""
    h, w = _tile_frame(grid, res)
    size_y, size_x = grid.tile_size
    oy, ox = grid.origin

    tx, ty = point_tile_cols(grid, F.col(lon), F.col(lat))
    pts = points_df.withColumn("tile_x", tx).withColumn("tile_y", ty)

    tile_left = F.col("tile_x").cast("double") * F.lit(abs(size_x)) + F.lit(ox)
    tile_top = (F.col("tile_y").cast("double") + 1) * F.lit(abs(size_y)) + F.lit(oy)
    col_i = F.floor((F.col(lon) - tile_left) / F.lit(res)).cast("int")
    row_i = F.floor((tile_top - F.col(lat)) / F.lit(res)).cast("int")
    col_c = F.least(F.greatest(col_i, F.lit(0)), F.lit(w - 1))
    row_c = F.least(F.greatest(row_i, F.lit(0)), F.lit(h - 1))
    idx = row_c * F.lit(w) + col_c + F.lit(1)  # element_at is 1-based

    joined = pts.join(F.broadcast(rasters_df), on=["tile_x", "tile_y"], how="inner")
    return joined.withColumn(value_col, F.element_at(F.col("raster"), idx)).drop("raster", "h", "w")
