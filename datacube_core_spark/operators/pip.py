"""Broadcast-then-shuffle point-in-polygon join (filter–refine).

Reproduces the reference's two-phase spatial join (SURVEY §2.3
cell-observation join): candidate matching on grid-cell index, then exact
refine with ``intersects ∧ ¬touches`` semantics (reference
``datacube/api/grid_workflow.py:168-237``, ``datacube/api/core.py:933-939``,
``datacube/utils/geometry/_base.py:1302-1305``) — re-expressed Spark-first
as a cell covering whose rows are either Catalyst-decidable or in the
generic band:

1. **Catalyst-decidable cells** → interior cells (their closed extent
   lies strictly inside the region) pass by the broadcast equi-join
   alone; every cell of an axis-rect region passes by strict
   inequalities on (lon, lat) against the region's bbox, attached to
   the candidate row.  Zero Python.  In ``PipIndex`` the rect regions
   are level-0 cells: their tiles.
2. **generic band** → only the partial cells of non-rect polygons (edge
   supercover cells) go through the vectorized numpy PIP kernel in
   ``mapInPandas``.

This module owns the covering-join core shared by the three indexes —
``PipIndex`` (the GridSpec subcell lattice, here), ``S2PipIndex``
(``s2pip.py``) and ``GeohashPipIndex`` (``ghpip.py``): one build path
(driver loop or one-off executor job, decided by a limit-probe), one
generic-blob collect + broadcast, one exploded join, one refine kernel,
one rect rule (``_rect_info`` over ``rect_parts``).  The model is Raster
Intervals (SIGMOD 2023): a region is a cell covering split into full
cells, decided by the equi-join alone, and partial cells, the only rows
that reach the exact refine.  The indexes differ only in their keyer,
ancestor expression and coverer.

Rationale: the JVM↔Python Arrow boundary is a measured throughput ceiling
(~4M rows/s in this sandbox regardless of cores); at 100 TB the same
principle holds — rows crossing into Python must be a small fraction.
The covering tables are |regions| × cells-per-region — broadcastable; the
big side never shuffles before its aggregation.
"""

from __future__ import annotations

import functools
import math
from typing import Callable, Dict, Iterator, List, Optional, Tuple

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..frames import local_frame
from ..geom.classify import classify_subcells
from ..geom.grid import GridSpec
from ..geom.polygon import multipolygon_bbox, points_strictly_inside_multi, unpack_multipolygon
from ..geom.s2cover import rect_parts

# above this many regions an index build moves off the driver into a
# one-off distributed mapInPandas job; the resulting candidate tables are
# broadcast either way (they must be: they're the small side of the join)
_DISTRIBUTED_BUILD_THRESHOLD = 10_000

# internal join columns carry a __pip_ prefix so a pages table that
# already has a `level`/`cell`/`tile_x`/`r_left` column can't collide
_LV, _CELL, _IN, _LEAF = "__pip_lv", "__pip_cell", "__pip_interior", "__pip_leaf"
_BBOX = ("__pip_l", "__pip_b", "__pip_r", "__pip_t")


def _build_table(
    spark,
    regions_df: DataFrame,
    rows_of: Callable[[int, bytes], List[tuple]],
    schema: str,
    tier_cols: Tuple[str, ...],
):
    """Run ``rows_of(region_id, blob)`` over every region; the LAST field
    of each row is its generic-band flag (only the exact refine can decide
    it).  Returns ``(table, tiers, geom_map, bc_geoms)``: ``tiers`` is the
    distinct set of ``tier_cols`` values (the build-time facts ``join()``
    plans from, so it never probes per call), ``geom_map`` holds the blobs
    of regions with a generic-band row — the refine kernel's whole working
    set — and ``bc_geoms`` is its broadcast (None when empty).

    Up to ``_DISTRIBUTED_BUILD_THRESHOLD`` regions (decided by a
    limit-probe, not a full count: the build mode of a 10^6-region table
    must not cost a full scan of it) the rows come from a driver loop.
    Above it they come from a one-off executor job that stays DISTRIBUTED
    (localCheckpoint materializes it once): the driver collects only the
    tier facts and the generic blobs, so driver memory scales with
    |generic|, not |regions| — rect regions' WKB never leaves the
    executors."""
    cols = [f.split()[0] for f in schema.split(",")]
    thresh = _DISTRIBUTED_BUILD_THRESHOLD
    if regions_df.select(F.lit(1)).limit(thresh + 1).count() <= thresh:
        rows: List[tuple] = []
        geom_map: Dict[int, bytes] = {}
        for r in sorted(regions_df.select("region_id", "geom").collect(), key=lambda r: r["region_id"]):
            rid, blob = int(r["region_id"]), bytes(r["geom"])
            part = rows_of(rid, blob)
            rows.extend(part)
            if any(row[-1] for row in part):
                geom_map[rid] = blob
        at = [cols.index(c) for c in tier_cols]
        tiers = {tuple(row[i] for i in at) for row in rows}
        table = local_frame(spark, rows, schema)
    else:
        def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            for pdf in batches:
                out = [
                    row
                    for rid, blob in zip(pdf["region_id"], pdf["geom"])
                    for row in rows_of(int(rid), bytes(blob))
                ]
                if out:
                    yield pd.DataFrame(out, columns=cols)

        n_parts = max(spark.sparkContext.defaultParallelism, 8)
        table = (
            regions_df.select("region_id", "geom")
            .repartition(n_parts)
            .mapInPandas(kernel, schema=schema)
            .localCheckpoint(eager=True)  # one-off build job
        )
        tiers = {tuple(r) for r in table.select(*tier_cols).distinct().collect()}
        generic = table.where(F.col(cols[-1])).select("region_id").distinct()
        collected = (
            regions_df.join(F.broadcast(generic), on="region_id", how="left_semi")
            .select("region_id", "geom")
            .collect()
        )
        geom_map = {int(r["region_id"]): bytes(r["geom"]) for r in collected}
    bc_geoms = spark.sparkContext.broadcast(geom_map) if geom_map else None
    return table, tiers, geom_map, bc_geoms


def _refine(cand: DataFrame, lon: str, lat: str, bc_geoms) -> DataFrame:
    """Exact numpy PIP refine of generic-band candidate rows (the thin
    boundary band only) — shared by every index.

    Skew note (PERF.md §17, measured): ``cand`` comes from a BROADCAST
    equi-join, so these rows inherit the big side's partitioning — a
    region boundary crossing a hot cell costs ≈1.0× the quiet-band
    wall because the dense band stays spread across input partitions.
    That holds as long as the upstream layout isn't location-sorted;
    a table clustered by (lon, lat) would funnel a hot band into few
    partitions and should be repartitioned before this join."""

    def refine(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        cache: Dict[int, object] = {}

        def poly_of(rid: int):
            mp = cache.get(rid)
            if mp is None:
                mp = unpack_multipolygon(bc_geoms.value[rid])
                cache[rid] = mp
            return mp

        for pdf in batches:
            if len(pdf) == 0:
                continue
            keep = np.zeros(len(pdf), dtype=bool)
            xs = pdf[lon].to_numpy(dtype=np.float64)
            ys = pdf[lat].to_numpy(dtype=np.float64)
            rids = pdf["region_id"].to_numpy()
            for rid in pd.unique(rids):
                m = rids == rid
                keep[m] = points_strictly_inside_multi(xs[m], ys[m], poly_of(int(rid)))
            out = pdf.loc[keep]
            if len(out):
                yield out

    return cand.mapInPandas(refine, schema=cand.schema)


def _bbox_cols() -> List[Column]:
    """The r_left/r_bottom/r_right/r_top build columns under their
    internal join names."""
    return [F.col(c).alias(a) for c, a in zip(("r_left", "r_bottom", "r_right", "r_top"), _BBOX)]


def _strictly_in_bbox(lon: str, lat: str) -> Column:
    """Strict-interior PIP for an axis-rect region: four float compares."""
    l, b, r, t = (F.col(c) for c in _BBOX)
    return (F.col(lon) > l) & (F.col(lon) < r) & (F.col(lat) > b) & (F.col(lat) < t)


def _rect_info(mp) -> tuple:
    """(is_axis_rect, bbox): whole-region form of the shared
    :func:`..geom.s2cover.rect_parts` rule — a single-part region whose
    one ring is its bbox reduces strict-interior PIP to four float
    compares.  Delegates so the rect rule cannot diverge from the
    coverers'."""
    l, b, r, t = multipolygon_bbox(mp)
    parts = rect_parts(mp)
    is_rect = len(parts) == 1 and parts[0][2]
    return is_rect, (float(l), float(b), float(r), float(t))


def _covering_rows(cover, rid: int, blob: bytes) -> List[tuple]:
    """Build rows of one region for a covering index: ``cover(mp)``
    returns per-cell (levels, keys, interior).  Interior cells and every
    cell of an axis-rect region are Catalyst-decidable; the rest form the
    generic band."""
    mp = unpack_multipolygon(blob)
    levels, keys, interior = cover(mp)
    is_rect, (l, b, r, t) = _rect_info(mp)
    return [
        (rid, int(lv), k, bool(i), l, b, r, t, not (i or is_rect))
        for lv, k, i in zip(levels, keys, interior)
    ]


class _CoveringIndex:
    """Shared body of the covering-keyed indexes (``PipIndex``,
    ``S2PipIndex``, ``GeohashPipIndex``).  A subclass supplies only its
    coverer (passed to :meth:`_build`), ``_KEY_TYPE`` (the cell key's DDL
    type), a leaf keyer :meth:`_with_leaf` and an ancestor expression
    :meth:`_ancestor`.

    Plan shape:

    1. big side: compute (or accept pre-keyed) the leaf key, then one
       array+explode derives the ancestor at every active covering level
       — shuffle-free.
    2. ONE broadcast equi-join resolves every Catalyst-decidable
       candidate: INTERIOR covering cells pass unconditionally (their
       rect bound lies strictly inside the region) and AXIS-RECT regions'
       boundary cells pass by strict bbox predicate — no Python and no
       geometry blobs in either case.
    3. only GENERIC regions' boundary-band candidates pay a second scan +
       the exact numpy strict-interior refine.
    """

    _KEY_TYPE: str

    def _build(self, spark, regions_df: DataFrame, cover) -> None:
        schema = (
            f"region_id INT, lv INT, cell {self._KEY_TYPE}, interior BOOLEAN, "
            "r_left DOUBLE, r_bottom DOUBLE, r_right DOUBLE, r_top DOUBLE, generic BOOLEAN"
        )
        table, tiers, self.geom_map, self._bc_geoms = _build_table(
            spark, regions_df, functools.partial(_covering_rows, cover), schema,
            ("lv", "generic"),
        )
        self._table = table
        self.levels = sorted({lv for lv, _ in tiers})
        if not self.levels:
            raise ValueError(f"{type(self).__name__} built from an empty region table")
        self._has_catalyst = any(not g for _, g in tiers)
        self._has_generic = any(g for _, g in tiers)
        keys = [F.col("lv").alias(_LV), F.col("cell").alias(_CELL), "region_id"]
        # interior rows and rect-region boundary rows share ONE broadcast
        # table with a single keep-filter, so the big side is scanned ONCE
        # for both (the leaf-keying pass is the per-scan cost here)
        self._catalyst = table.where(~F.col("generic")).select(
            *keys, F.col("interior").alias(_IN), *_bbox_cols()
        )
        self._boundary_gen = table.where(F.col("generic")).select(*keys)

    def _with_leaf(self, df: DataFrame, lon: str, lat: str) -> DataFrame:
        raise NotImplementedError

    def _ancestor(self, leaf: Column, level: int) -> Column:
        raise NotImplementedError

    def _join(self, pages_df: DataFrame, lon: str, lat: str,
              keep_cols: Optional[list], leaf_col: Optional[str]) -> DataFrame:
        base_cols = keep_cols if keep_cols is not None else [
            c for c in pages_df.columns if c not in (lon, lat, leaf_col)
        ]
        cols = [*base_cols, lon, lat]
        if leaf_col is None:
            keyed = self._with_leaf(pages_df.select(*cols), lon, lat)
        else:
            keyed = pages_df.select(*cols, F.col(leaf_col).alias(_LEAF))
        if self._has_catalyst and self._has_generic:
            # both tiers consume the keyed big side — materialize it once
            # so the leaf-keying pass (and the caller's derivation) does
            # not run per tier (guide §2.4/§5)
            keyed = keyed.localCheckpoint(eager=False)
        # every active level's cell key in one pass (pipelined array +
        # explode, no shuffle), then ONE broadcast equi-join per tier —
        # the big side is read once per tier, not once per level
        leaf = F.col(_LEAF)
        s = F.explode(F.array(*[
            F.struct(F.lit(lv).alias(_LV), self._ancestor(leaf, lv).alias(_CELL))
            for lv in self.levels
        ]))
        sub = keyed.withColumn("__pip_s", s).select(*cols, f"__pip_s.{_LV}", f"__pip_s.{_CELL}")
        on, out_cols = [_LV, _CELL], [*cols, "region_id"]
        parts: List[DataFrame] = []
        if self._has_catalyst:
            parts.append(
                sub.join(F.broadcast(self._catalyst), on=on, how="inner")
                .where(F.col(_IN) | _strictly_in_bbox(lon, lat))
                .select(*out_cols)
            )
        if self._has_generic:
            cand = sub.join(F.broadcast(self._boundary_gen), on=on, how="inner").select(*out_cols)
            parts.append(_refine(cand, lon, lat, self._bc_geoms))
        return functools.reduce(DataFrame.unionByName, parts)


def _pick_level_for(mp, base_x: float, base_y: float, target_cells: int, min_level: int, max_level: int) -> int:
    """Finest lattice level keeping the region's bbox within
    ~target_cells subcells per axis (per-axis tile sizes)."""
    l, b, r, t = multipolygon_bbox(mp)
    span_x = max(r - l, 1e-9)
    span_y = max(t - b, 1e-9)
    # cells_per_axis = span / (base / 2^L) <= target  per axis
    lim = min(base_x * target_cells / span_x, base_y * target_cells / span_y)
    level = int(math.floor(math.log2(lim)))
    return max(min_level, min(max_level, level))


_LOW32 = 0xFFFFFFFF


def _pack(x, y):
    """Packed lattice key of subcell (x, y): x in the high 32 bits, y in
    the low 32 as two's complement — exact for negative indices (|x|,
    |y| < 2^31), no float in the key.  Works on ints and on LONG
    columns alike."""
    if isinstance(x, Column):
        return F.shiftleft(x, 32).bitwiseOR(y.bitwiseAND(F.lit(_LOW32)))
    return (int(x) << 32) | (int(y) & _LOW32)


def _lattice_cover(base_x: float, base_y: float, ox: float, oy: float,
                   target: int, min_level: int, max_level: int, mp):
    """PipIndex coverer: an axis-rect region is covered at level 0 (the
    tile grid itself), any other region at its adaptive level >=
    ``min_level`` — so level 0 holds the rect regions alone.  Both are
    ``classify_subcells`` on the tile_size / 2^level lattice: full cells
    are the interior, the rest the partial band."""
    level = 0 if _rect_info(mp)[0] else _pick_level_for(mp, base_x, base_y, target, min_level, max_level)
    full, bnd = classify_subcells(mp, ox, oy, base_x / (1 << level), base_y / (1 << level))
    keys = [_pack(x, y) for cells in (full, bnd) for x, y in cells]
    return [level] * len(keys), keys, [True] * len(full) + [False] * len(bnd)


class PipIndex(_CoveringIndex):
    """Build-once spatial index of a (small) region table over a GridSpec
    — the covering index on the grid's own subcell lattice.

    The lattice is tile_size / 2^L PER AXIS (rectangular tile grids
    fully supported), so a subcell never straddles a tile and tile =
    subcell >> L exactly.  Axis-rect regions are covered at level 0 (their
    tiles); generic polygons at an ADAPTIVE level L in [MIN_LEVEL,
    MAX_LEVEL] chosen so the bbox spans ~``target_cells_per_axis``
    subcells — small regions get fine lattices (thin boundary bands, few
    refine rows), large ones coarse lattices (bounded broadcast size).
    The cell key is the packed (sc_x, sc_y) long; a point is keyed once at
    MAX_LEVEL and its ancestor at every active level is two arithmetic
    shifts (floor division by 2^k, exact for negative indices).
    """

    MIN_LEVEL = 2
    MAX_LEVEL = 8
    _KEY_TYPE = "LONG"

    def __init__(
        self,
        spark,
        regions_df: DataFrame,
        grid: GridSpec,
        target_cells_per_axis: int = 48,
    ):
        self.grid = grid
        size_y, size_x = grid.tile_size
        self._base_x = abs(size_x)
        self._base_y = abs(size_y)
        self.ox = grid.origin[1]
        self.oy = grid.origin[0]
        self.target_cells = target_cells_per_axis
        cover = functools.partial(
            _lattice_cover, self._base_x, self._base_y, self.ox, self.oy,
            self.target_cells, self.MIN_LEVEL, self.MAX_LEVEL,
        )
        self._build(spark, regions_df, cover)

    def _with_leaf(self, df: DataFrame, lon: str, lat: str) -> DataFrame:
        # the build's floor rule at MAX_LEVEL; h = base / 2^L is exact
        n = 1 << self.MAX_LEVEL
        sx = F.floor((F.col(lon) - F.lit(self.ox)) / F.lit(self._base_x / n))
        sy = F.floor((F.col(lat) - F.lit(self.oy)) / F.lit(self._base_y / n))
        return df.withColumn(_LEAF, _pack(sx, sy))

    def _ancestor(self, leaf: Column, level: int) -> Column:
        k = self.MAX_LEVEL - level
        if k == 0:
            return leaf
        return _pack(F.shiftright(leaf, 32 + k), F.shiftright(F.shiftleft(leaf, 32), 32 + k))

    def _tiles(self) -> Tuple[Column, Column]:
        """(tile_x, tile_y) of each covering row: tile = cell >> level."""
        return tuple(
            F.expr(f"shiftright({x}, 32 + lv)").cast("int").alias(a)
            for x, a in (("cell", "tile_x"), ("shiftleft(cell, 32)", "tile_y"))
        )

    # the views are built once per index: analysing one costs tens of ms
    # of driver time, and the raster operators read them per query
    @functools.cached_property
    def rect_candidates(self) -> Optional[DataFrame]:
        """(tile_x, tile_y, region_id, r_left, r_bottom, r_right, r_top) of
        the axis-rect regions — their level-0 cells; None without any."""
        if 0 not in self.levels:
            return None
        return self._table.where(F.col("lv") == 0).select(
            *self._tiles(), "region_id", "r_left", "r_bottom", "r_right", "r_top"
        )

    @functools.cached_property
    def region_tiles(self) -> DataFrame:
        """Distinct (tile_x, tile_y, region_id) of the GENERIC regions'
        covering cells (level > 0; level 0 holds only axis rects) — the
        candidate (tile, region) pairs of the raster kernel."""
        return self._table.where(F.col("lv") > 0).select(*self._tiles(), "region_id").distinct()

    def join(
        self,
        pages_df: DataFrame,
        lon: str = "lon",
        lat: str = "lat",
        keep_cols: Optional[list] = None,
    ) -> DataFrame:
        """Join pages to the regions whose interior strictly contains them.

        Returns (keep_cols or all pages columns) + lon/lat + ``region_id``.

        One pass keys every page at every active level; the big side is
        then read once per tier — once when every region is an axis rect,
        twice when generic polygons add the refine band (PERF.md §13)."""
        return self._join(pages_df, lon, lat, keep_cols, None)


def pip_join(
    pages_df: DataFrame,
    regions_df: DataFrame,
    grid: GridSpec,
    lon: str = "lon",
    lat: str = "lat",
    keep_cols: Optional[list] = None,
    index: Optional[PipIndex] = None,
) -> DataFrame:
    """Convenience wrapper: build (or reuse) a PipIndex and join."""
    if index is None:
        index = PipIndex(pages_df.sparkSession, regions_df, grid)
    return index.join(pages_df, lon=lon, lat=lat, keep_cols=keep_cols)
