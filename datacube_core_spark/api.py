"""Datacube-style load facade (reference ``Datacube.load`` lifecycle,
SURVEY §3.1: parse → plan grid → scan → group → execute).

For the pages payload the "pixel plane" is observation density / sampled
values on the tile lattice:

* :meth:`Datacube.find_datasets` — parse kwargs (Query) + predicate scan.
* :meth:`Datacube.load_observations` — scan → tile assign → group
  (solar_day or time bucket) with group_datasets ordering.
* :meth:`Datacube.load_density` — the load_data analog: per-tile
  page-count rasters.  The scalable form is SPARSE (tile, bucket, py,
  px, n) — pure Catalyst, shuffles once on the tile key; ``dense=True``
  assembles per-tile numpy arrays in a grouped kernel (the reference's
  ``create_storage`` + fuse step, which is inherently per-tile).
  Empty tiles never materialize — inner-join sparsity mirrors the
  reference's ``_mk_empty`` chunk elision (``api/core.py:1052-1082``).
"""

from __future__ import annotations

from typing import Iterator, Optional

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .frames import local_frame
from .geom.grid import GRID_PAGES, GridSpec
from .operators.grouping import group_datasets, solar_day_col
from .operators.tiling import point_tile_cols, tile_bounds_cols, with_tile
from .plans.query import Query
from .sources.pages import pages


class Datacube:
    def __init__(self, spark: SparkSession, sf_dir: str, grid: GridSpec = GRID_PAGES, repl: int = 1):
        self.spark = spark
        self.sf_dir = sf_dir
        self.grid = grid
        self.repl = repl

    def find_datasets(self, **query) -> DataFrame:
        return Query(**query).apply(pages(self.spark, self.sf_dir, repl=self.repl))

    def list_products(self) -> DataFrame:
        """Product catalog as a DataFrame — reference ``dc.list_products()``
        (``datacube/api/core.py:100-130``)."""
        from .catalog import PAGES_PRODUCT

        rows = [(
            PAGES_PRODUCT.name,
            len(PAGES_PRODUCT.measurements),
            self.grid.crs,
            [float(x) for x in self.grid.tile_size],   # grids may carry ints
            [float(x) for x in self.grid.resolution],
        )]
        return local_frame(
            self.spark,
            rows,
            "name STRING, n_measurements INT, crs STRING, "
            "tile_size ARRAY<DOUBLE>, resolution ARRAY<DOUBLE>",
        )

    def list_measurements(self) -> DataFrame:
        """Measurement catalog — reference ``dc.list_measurements()``
        (``datacube/api/core.py:132-150``): one row per (product,
        measurement) with dtype/nodata/units/aliases."""
        from .catalog import PAGES_PRODUCT

        rows = [
            (PAGES_PRODUCT.name, m.name, m.dtype,
             float(m.nodata) if m.nodata is not None else None,
             m.units, list(m.aliases))
            for m in PAGES_PRODUCT.measurements
        ]
        return local_frame(
            self.spark,
            rows,
            "product STRING, measurement STRING, dtype STRING, nodata DOUBLE, "
            "units STRING, aliases ARRAY<STRING>",
        )

    def load_observations(self, group_by: str = "time", **query) -> DataFrame:
        """Grouped observations per tile: (tile_x, tile_y, <dim>, datasets)."""
        df = with_tile(self.find_datasets(**query), self.grid)
        if group_by == "solar_day":
            label = solar_day_col(F.col("warc_ts"), F.col("lon"))
            dim = "solar_day"
        elif group_by == "time":
            label = F.to_date(F.col("warc_ts"))
            dim = "time"
        else:
            raise ValueError(f"unknown group_by {group_by!r}")
        entry = F.struct(
            F.col("warc_ts").alias("_sort"), F.col("doc_id").alias("_id"), F.col("doc_id"), F.col("url")
        )
        return (
            df.select("tile_x", "tile_y", label.alias(dim), entry.alias("_e"))
            .groupBy("tile_x", "tile_y", dim)
            .agg(F.sort_array(F.collect_list("_e")).alias("datasets"))
        )

    def _pixel_cols(self, res: float):
        size_y, size_x = self.grid.tile_size
        oy, ox = self.grid.origin
        w = int(round(abs(size_x) / res))
        h = int(round(abs(size_y) / res))
        tile_left = F.col("tile_x").cast("double") * F.lit(abs(size_x)) + F.lit(ox)
        tile_top = (F.col("tile_y").cast("double") + 1) * F.lit(abs(size_y)) + F.lit(oy)
        px = F.least(
            F.greatest(F.floor((F.col("lon") - tile_left) / F.lit(res)).cast("int"), F.lit(0)),
            F.lit(w - 1),
        )
        py = F.least(
            F.greatest(F.floor((tile_top - F.col("lat")) / F.lit(res)).cast("int"), F.lit(0)),
            F.lit(h - 1),
        )
        return h, w, py, px

    def load_density(
        self,
        res: float,
        time_bucket: Optional[str] = None,
        dense: bool = False,
        **query,
    ) -> DataFrame:
        """Per-tile page-density rasters at pixel size ``res``.

        Sparse output: (tile_x, tile_y[, bucket], py, px, n) — row 0 is
        the TOP pixel row (geobox orientation).  ``dense=True`` returns
        (tile_x, tile_y[, bucket], h, w, raster array<long>).
        """
        df = with_tile(self.find_datasets(**query), self.grid)
        h, w, py, px = self._pixel_cols(res)
        keys = ["tile_x", "tile_y"]
        cols = [F.col("tile_x"), F.col("tile_y")]
        if time_bucket:
            cols.append(F.to_date(F.date_trunc(time_bucket, F.col("warc_ts"))).alias("bucket"))
            keys.append("bucket")
        sparse = (
            df.select(*cols, py.alias("py"), px.alias("px"))
            .groupBy(*keys, "py", "px")
            .agg(F.count("*").alias("n"))
        )
        if not dense:
            return sparse

        def to_dense(key: tuple, grp: pd.DataFrame) -> pd.DataFrame:
            arr = np.zeros((h, w), dtype=np.int64)
            arr[grp["py"].to_numpy(), grp["px"].to_numpy()] = grp["n"].to_numpy()
            return pd.DataFrame([(*key, h, w, arr.ravel().tolist())], columns=[*keys, "h", "w", "raster"])

        key_schema = "tile_x INT, tile_y INT" + (", bucket DATE" if time_bucket else "")
        schema = f"{key_schema}, h INT, w INT, raster ARRAY<LONG>"
        return sparse.groupBy(*keys).applyInPandas(to_dense, schema=schema)


def output_geobox(
    like=None,
    output_crs=None,
    resolution=None,
    align=None,
    grid_spec: Optional[GridSpec] = None,
    load_hints: Optional[dict] = None,
    bbox=None,
):
    """Configure the output GeoBox with the reference's precedence
    (reference ``datacube/api/core.py:870-930``):

    ``like`` (returned as-is, incompatible with explicit specs)
    > explicit ``output_crs`` + ``resolution`` (+ ``align``)
    > product ``load_hints``
    > product ``grid_spec`` (its resolution + alignment as defaults);
    bounds come from ``bbox`` (the query geopolygon / dataset footprints
    fold); snapping via ``GeoBox.from_bbox`` (_align_pix rule).
    """
    from .geom.bbox import BoundingBox
    from .geom.grid import GeoBox

    if like is not None:
        assert output_crs is None, "'like' and 'output_crs' are not supported together"
        assert resolution is None, "'like' and 'resolution' are not supported together"
        assert align is None, "'like' and 'align' are not supported together"
        return like

    if load_hints:
        output_crs = output_crs or load_hints.get("output_crs")
        resolution = resolution or load_hints.get("resolution")
        align = align or load_hints.get("align")

    if output_crs is not None:
        if resolution is None:
            raise ValueError("Must specify 'resolution' when specifying 'output_crs'")
        crs = output_crs
    elif grid_spec is not None:
        crs = grid_spec.crs
        if resolution is None:
            resolution = grid_spec.resolution
        align = align or grid_spec.alignment
    else:
        raise ValueError("Product has no default CRS. Must specify 'output_crs' and 'resolution'")

    if bbox is None:
        raise ValueError("Bounds are not specified")
    if not isinstance(bbox, BoundingBox):
        bbox = BoundingBox(*bbox)
    return GeoBox.from_bbox(bbox, resolution, crs=crs, align=align)


def _warp_density(
    dense: DataFrame,
    grid: GridSpec,
    res: float,
    output_grid: GridSpec,
    output_res: float,
    resampling: str,
) -> DataFrame:
    """Warp dense per-tile rasters onto ``output_grid`` — candidates are
    the output tiles overlapping the DATA's own tiles (no region table),
    derived with the monotone merc corner arithmetic."""
    from .geom.mercator import MAX_LAT, merc_x_col, merc_y_col
    from .operators.warp import _axis_seq, warp_rasters_to_grid

    sy, sx = grid.tile_size
    oy, ox = grid.origin
    d_sy, d_sx = output_grid.tile_size
    d_oy, d_ox = output_grid.origin

    src_tiles = dense.select("tile_x", "tile_y").distinct()
    tl = F.col("tile_x").cast("double") * F.lit(abs(sx)) + F.lit(ox)
    tr = tl + F.lit(abs(sx))
    tb = F.col("tile_y").cast("double") * F.lit(abs(sy)) + F.lit(oy)
    tt = tb + F.lit(abs(sy))
    # clamp latitudes into the mercator domain (polar tiles would map to ±inf)
    clamp = lambda c: F.greatest(F.least(c, F.lit(MAX_LAT)), F.lit(-MAX_LAT))
    cand = (
        src_tiles.withColumn(
            "dst_tx", F.explode(_axis_seq(merc_x_col(tl), merc_x_col(tr), d_ox, abs(d_sx)))
        )
        .withColumn(
            "dst_ty",
            F.explode(_axis_seq(merc_y_col(clamp(tb)), merc_y_col(clamp(tt)), d_oy, abs(d_sy))),
        )
        .select("dst_tx", "dst_ty", F.lit(0).alias("region_id"))
        .distinct()
    )
    src = dense.select(
        "tile_x", "tile_y", F.lit(0).alias("region_id"),
        F.col("raster").cast("array<int>").alias("raster"),
    )
    out = warp_rasters_to_grid(src, grid, res, output_grid, output_res, cand, resampling)
    return out.drop("region_id")


def _load_density_reprojected(
    self,
    res: float,
    output_grid: GridSpec = None,
    output_res: float = 256_000.0,
    resampling: str = "nearest",
    **query,
):
    """``dc.load(output_crs=...)`` analog: per-tile density rasters warped
    onto a target-CRS grid (default Web Mercator), any of the 13
    resampling modes.  Output (dst_tx, dst_ty, h, w, raster)."""
    from .geom.grid import GRID_MERC

    output_grid = output_grid or GRID_MERC
    dense = self.load_density(res, dense=True, **query)
    return _warp_density(dense, self.grid, res, output_grid, output_res, resampling)


Datacube.load_density_reprojected = _load_density_reprojected
