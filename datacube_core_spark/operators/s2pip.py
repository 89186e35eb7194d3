"""S2-keyed point-in-polygon join — the spatial-index interop path.

`PipIndex` (operators/pip.py) owns the engine's native GridSpec/subcell
lattice.  This operator answers the same query through GENUINE S2 cell
ids (geom/s2.py) + region coverings (geom/s2cover.py), which is the
join shape you need when the big side arrives ALREADY keyed by S2 cells
from an external system (the planet-scale point-index convention) — the
candidate pass PostGIS' per-SRID GIST index performs in the reference
(``datacube/drivers/postgis/_spatial.py:62-97``) expressed as a Spark
broadcast equi-join on an integer key.

The build, the tiered join and the refine are the covering-join core in
``pip.py`` (``_CoveringIndex``); this module supplies the S2 pieces:

* keyer: one Arrow-vectorized pass computes the LEAF cell id per point
  (skipped when the caller provides a pre-keyed column);
* ancestor: pure-Catalyst bit arithmetic derives the parent id at every
  active covering level — no shuffle, no Python in the join path;
* coverer: fixed-level ``s2_covering`` at an adaptively picked level, or
  the mixed-level budgeted coverer.

100-TB notes: the big side is scanned ONCE when every region is
axis-rect, twice when generic regions exist (their refine band) — the
same for all three indexes; here the keyed side is materialized once
for both tiers because keying pays the Arrow leaf kernel (unless the
caller pre-keys via ``cell_col``).  All joins are AQE-friendly broadcast hash joins on
one long key.
"""

from __future__ import annotations

import functools
from typing import Optional

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..geom.s2 import MAX_LEVEL, cell_level, lsb_for_level, with_s2_cell
from ..geom.s2cover import pick_covering_level, s2_covering, s2_covering_budgeted
from .pip import _LEAF, _CoveringIndex


def parent_id_col(cell, level: int):
    """Catalyst ancestor-at-``level`` of an S2 id column — the bitwise
    twin of :func:`..geom.s2.parent_id` ((id & -lsb) | lsb), sign-safe
    for faces 4-5 (pure bit ops on long)."""
    lsb = lsb_for_level(level)
    return cell.bitwiseAND(F.lit(-lsb)).bitwiseOR(F.lit(lsb))


def _s2_cover(target: int, level: Optional[int], max_cells: Optional[int], mp):
    if max_cells is not None:
        # mixed-level budgeted covering (S2RegionCoverer shape): ids
        # carry their own levels; the join explodes per DISTINCT level
        ids, interior = s2_covering_budgeted(mp, max_cells=max_cells)
        return cell_level(ids).tolist(), ids.tolist(), interior.tolist()
    lv = level if level is not None else pick_covering_level(mp, target)
    ids, interior = s2_covering(mp, lv)
    return [lv] * len(ids), ids.tolist(), interior.tolist()


class S2PipIndex(_CoveringIndex):
    """Build-once S2 covering index of a region table.

    ``regions_df`` must carry ``region_id`` and a packed-multipolygon
    ``geom`` column (same contract as PipIndex).  The covering is built in
    a driver loop for small region tables and on the executors above the
    shared build threshold (``operators.pip._DISTRIBUTED_BUILD_THRESHOLD``).

    ``max_cells`` switches per-region coverings to the MIXED-LEVEL
    budgeted coverer (``s2_covering_budgeted`` — the S2RegionCoverer
    shape); the join handles heterogeneous levels by exploding the big
    side once per DISTINCT level present, so a tight budget trades page
    explode fan-out for a smaller broadcast.
    """

    _KEY_TYPE = "LONG"

    def __init__(
        self,
        spark: SparkSession,
        regions_df: DataFrame,
        target_cells_per_axis: int = 8,
        level: Optional[int] = None,
        max_cells: Optional[int] = None,
    ):
        cover = functools.partial(_s2_cover, int(target_cells_per_axis), level, max_cells)
        self._build(spark, regions_df, cover)

    def _with_leaf(self, df: DataFrame, lon: str, lat: str) -> DataFrame:
        return with_s2_cell(df, level=MAX_LEVEL, lon_col=lon, lat_col=lat, out_col=_LEAF)

    def _ancestor(self, leaf, level: int):
        return parent_id_col(leaf, level)

    def join(
        self,
        pages_df: DataFrame,
        lon: str = "lon",
        lat: str = "lat",
        keep_cols: Optional[list] = None,
        cell_col: Optional[str] = None,
    ) -> DataFrame:
        """Pages → regions whose interior strictly contains them.

        Returns (keep_cols or all pages columns) + lon/lat + region_id —
        the same output contract as ``PipIndex.join`` (parity-tested).
        ``cell_col`` names a pre-existing LEAF (level-30) S2 id column —
        the external-table interop case where points arrive keyed; when
        omitted the leaf id is computed from lon/lat in one Arrow pass.
        """
        return self._join(pages_df, lon, lat, keep_cols, cell_col)
