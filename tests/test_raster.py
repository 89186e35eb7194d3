"""Tests for rasterize/sample: rect-vs-generic path consistency, pixel
orientation, and sample lookup parity with the pure-python oracle."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from datacube_core_spark.geom import GridSpec, box_ring, points_strictly_inside_multi
from datacube_core_spark.geom.polygon import pack_multipolygon
from datacube_core_spark.operators.raster import (
    rasterize_generic_regions,
    rasterize_rect_regions,
    sample_rasters,
)
from datacube_core_spark.sources.pages import pages

from .conftest import SF_TINY

GRID = GridSpec("EPSG:4326", tile_size=(4.0, 4.0), resolution=(-0.01, 0.01), origin=(-90.0, -180.0))
RES = 0.5  # 8x8 rasters for tests


def _mk_regions(spark, shapes):
    rows = [
        (i, name, bytearray(pack_multipolygon(mp))) for i, (name, mp) in enumerate(sorted(shapes.items()))
    ]
    return spark.createDataFrame(rows, "region_id INT, name STRING, geom BINARY")


def test_rect_and_generic_paths_agree(spark):
    # same rectangle through the Catalyst path and the numpy kernel path
    rect = {"r": [[box_ring(1.0, 1.0, 7.0, 6.0)]]}
    rdf = _mk_regions(spark, rect)
    a = rasterize_rect_regions(rdf, GRID, RES).collect()
    b = rasterize_generic_regions(rdf, GRID, RES).collect()
    am = {(r["tile_x"], r["tile_y"]): list(r["raster"]) for r in a}
    bm = {(r["tile_x"], r["tile_y"]): list(r["raster"]) for r in b}
    assert am == bm
    assert len(am) > 0


def test_raster_orientation_row0_is_top(spark):
    # tile (45, 22) spans lon 0..4, lat -2..2; region covers its top half
    # (lat 0..2) -> raster rows 0-3 (row 0 = top) set, rows 4-7 clear
    shapes = {"top": [[box_ring(0.0, 0.0, 4.0, 2.0)]]}
    out = rasterize_rect_regions(_mk_regions(spark, shapes), GRID, RES).collect()
    tile = next(r for r in out if r["tile_x"] == 45 and r["tile_y"] == 22)
    arr = np.array(tile["raster"]).reshape(8, 8)
    assert arr[:4].sum() == 32  # rows 0-3 (top, lat 2..4) all set
    assert arr[4:].sum() == 0


def test_generic_rasterize_collects_geometry_once(spark, monkeypatch):
    """A rect + generic region set pulls the region blobs to the driver
    ONCE — in the index build; the kernel reads the index's generic-blob
    broadcast and rect regions are rasterized from their bbox."""
    shapes = {
        "box": [[box_ring(1.0, 1.0, 7.0, 6.0)]],
        "ell": [[np.array([(8, 8), (14, 8), (14, 10), (10, 10), (10, 14), (8, 14)], dtype=float)]],
    }
    rdf = _mk_regions(spark, shapes)
    cls = type(rdf)
    collect = cls.collect
    geom_collects = []

    def counting_collect(self):
        if "geom" in self.columns:
            geom_collects.append(self.columns)
        return collect(self)

    monkeypatch.setattr(cls, "collect", counting_collect)
    out = rasterize_generic_regions(rdf, GRID, RES)
    monkeypatch.setattr(cls, "collect", collect)
    assert len(geom_collects) == 1, geom_collects
    got = {(r["tile_x"], r["tile_y"], r["region_id"]) for r in out.collect()}
    assert {rid for _, _, rid in got} == {0, 1}


def test_generic_matches_bruteforce_pixel_pip(spark):
    shapes = {
        "donut": [[box_ring(1.0, 1.0, 7.0, 7.0), box_ring(3.0, 3.0, 5.0, 5.0)]],
        "ell": [[np.array([(8, 8), (14, 8), (14, 10), (10, 10), (10, 14), (8, 14)], dtype=float)]],
    }
    rdf = _mk_regions(spark, shapes)
    out = rasterize_generic_regions(rdf, GRID, RES).collect()
    mps = {i: mp for i, (name, mp) in enumerate(sorted(shapes.items()))}
    for r in out:
        mp = mps[int(r["region_id"])]
        left = r["tile_x"] * 4.0 - 180.0
        top = (r["tile_y"] + 1) * 4.0 - 90.0
        cols = left + (np.arange(8) + 0.5) * RES
        rows = top - (np.arange(8) + 0.5) * RES
        XX, YY = np.meshgrid(cols, rows)
        exp = points_strictly_inside_multi(XX.ravel(), YY.ravel(), mp).astype(int).tolist()
        assert list(r["raster"]) == exp, (r["tile_x"], r["tile_y"], r["region_id"])


def test_rect_raster_matches_bruteforce_pixel_pip(spark):
    """Rect regions of a rect + generic set are rasterized by the Catalyst
    bbox compare; each of their rasters must equal the brute-force pixel
    PIP, and the rasters together must hold every pixel inside the rect."""
    shapes = {
        "box": [[box_ring(1.0, 1.0, 7.0, 6.0)]],
        "ell": [[np.array([(8, 8), (14, 8), (14, 10), (10, 10), (10, 14), (8, 14)], dtype=float)]],
    }
    rdf = _mk_regions(spark, shapes)
    out = [r for r in rasterize_generic_regions(rdf, GRID, RES).collect() if r["region_id"] == 0]
    mp = shapes["box"]
    for r in out:
        left = r["tile_x"] * 4.0 - 180.0
        top = (r["tile_y"] + 1) * 4.0 - 90.0
        XX, YY = np.meshgrid(left + (np.arange(8) + 0.5) * RES, top - (np.arange(8) + 0.5) * RES)
        exp = points_strictly_inside_multi(XX.ravel(), YY.ravel(), mp).astype(int).tolist()
        assert list(r["raster"]) == exp, (r["tile_x"], r["tile_y"])
    # 12 x 10 pixel centers lie strictly inside the 6 x 5 box at RES 0.5
    assert sum(sum(r["raster"]) for r in out) == 120


def test_sample_lookup(spark):
    shapes = {"r": [[box_ring(0.0, 0.0, 8.0, 8.0)]]}
    rdf = _mk_regions(spark, shapes)
    rasters = rasterize_rect_regions(rdf, GRID, RES)
    p = pages(spark, SF_TINY).select("doc_id", "lon", "lat")
    got = sample_rasters(p, rasters, GRID, RES).select("doc_id", "lon", "lat", "value").collect()
    mp = shapes["r"]
    for r in got:
        # expected: membership of the point's snapped pixel center
        px = np.floor((r["lon"] + 180.0) / RES)
        py_top = np.floor((90.0 - r["lat"]) / RES)
        cx = -180.0 + (px + 0.5) * RES
        cy = 90.0 - (py_top + 0.5) * RES
        exp = int(points_strictly_inside_multi(np.array([cx]), np.array([cy]), mp)[0])
        assert int(r["value"]) == exp, (r["doc_id"], r["lon"], r["lat"])
