"""Boundary-polygon table (broadcast side of the point-in-polygon join).

Two flavors:

* :func:`regions` — the oracle-checkable patchwork: a deterministic
  RX × RY rectangular grid covering (-180,180) × (-85,85), shipped as
  ordinary packed polygons.  Every PIP index detects axis-rect regions
  from the geometry itself and refines them by strict bbox compares in
  Catalyst; the DuckDB oracle expresses the same join as strict
  ``BETWEEN`` arithmetic, giving row-for-row verification of the whole
  candidate-join + refine pipeline.

* :func:`regions_complex` — pytest-only shapes exercising the hard
  geometry paths (hole, multipolygon, concave, shared edges) against the
  pure-python oracle (FIXTURES.md §2).

Coordinates are exact integer-degree doubles, so Spark/DuckDB comparisons
are bit-identical.
"""

from __future__ import annotations

from typing import Dict, List, Tuple

import numpy as np
from pyspark.sql import DataFrame, SparkSession

from ..frames import local_frame
from ..geom.polygon import MultiPolygon, box_ring, pack_multipolygon

RX, RY = 24, 10  # 15° x 17° cells over (-180,180) x (-85,85)
REGION_W, REGION_H = 360.0 / RX, 170.0 / RY


def region_bounds(region_id: int) -> Tuple[float, float, float, float]:
    rx, ry = region_id % RX, region_id // RX
    left = -180.0 + rx * REGION_W
    bottom = -85.0 + ry * REGION_H
    return left, bottom, left + REGION_W, bottom + REGION_H


def region_multipolygons() -> Dict[int, MultiPolygon]:
    out: Dict[int, MultiPolygon] = {}
    for rid in range(RX * RY):
        l, b, r, t = region_bounds(rid)
        out[rid] = [[box_ring(l, b, r, t)]]
    return out


def regions(spark: SparkSession) -> DataFrame:
    """Region table with packed geometry + bbox columns.

    bbox columns enable the cheap candidate filter; ``geom`` is the packed
    multipolygon evaluated by the refine kernel (WKB-style binary column
    per SURVEY §1.1).
    """
    rows = []
    for rid, mp in region_multipolygons().items():
        l, b, r, t = region_bounds(rid)
        rows.append((rid, f"R{rid:04d}", float(l), float(b), float(r), float(t), bytearray(pack_multipolygon(mp))))
    return local_frame(
        spark,
        rows,
        "region_id INT, name STRING, left DOUBLE, bottom DOUBLE, right DOUBLE, top DOUBLE, geom BINARY",
    )


# oracle-side SQL for the same regions (generate_series arithmetic)
REGIONS_CTE = f"""
regions AS (
  SELECT
    CAST(rid AS INT) AS region_id,
    -180.0 + (rid % {RX}) * {REGION_W} AS "left",
    -85.0 + CAST(FLOOR(rid / {RX}) AS BIGINT) * {REGION_H} AS "bottom",
    -180.0 + (rid % {RX}) * {REGION_W} + {REGION_W} AS "right",
    -85.0 + CAST(FLOOR(rid / {RX}) AS BIGINT) * {REGION_H} + {REGION_H} AS "top"
  FROM (SELECT UNNEST(generate_series(0, {RX * RY - 1})) AS rid)
)
"""


def regions_complex() -> Dict[str, MultiPolygon]:
    """Hard-path shapes for pytest (pure-python oracle comparison)."""
    return {
        # donut: square with a square hole
        "donut": [[box_ring(0, 0, 10, 10), box_ring(4, 4, 6, 6)]],
        # two disjoint parts
        "multi": [[box_ring(-30, -10, -20, 0)], [box_ring(20, 10, 30, 20)]],
        # concave L
        "ell": [[np.array([(40, 40), (46, 40), (46, 42), (42, 42), (42, 46), (40, 46)], dtype=float)]],
        # shares an edge with `donut` at x=10 (intersects ∧ ¬touches check)
        "edge_neighbor": [[box_ring(10, 0, 20, 10)]],
        # antimeridian-adjacent sliver
        "dateline": [[box_ring(178, -5, 180, 5)]],
    }
