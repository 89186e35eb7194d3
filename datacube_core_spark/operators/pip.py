"""Broadcast-then-shuffle point-in-polygon join (filter–refine).

Reproduces the reference's two-phase spatial join (SURVEY §2.3
cell-observation join): candidate matching on grid-cell index, then exact
refine with ``intersects ∧ ¬touches`` semantics (reference
``datacube/api/grid_workflow.py:168-237``, ``datacube/api/core.py:933-939``,
``datacube/utils/geometry/_base.py:1302-1305``) — re-expressed Spark-first
with a three-tier refine that keeps almost every row inside JVM codegen:

1. **axis-rect regions** → the refine predicate is strict inequalities on
   (lon, lat); attached to the broadcast candidate row and evaluated by
   Catalyst.  Zero Python.
2. **generic polygons, "full" subcells** → driver-side classification
   (``geom.classify``) finds subcells strictly interior to the polygon;
   pages in them match by a broadcast equi-join alone.  Zero Python.
3. **generic polygons, boundary subcells** → only this thin band (edge
   supercover cells) goes through the vectorized numpy PIP kernel in
   ``mapInPandas``.

This module also owns the covering-join core shared with the S2 and
geohash indexes (``s2pip.py``, ``ghpip.py``): one build path (driver loop
or one-off executor job, decided by a limit-probe), one generic-blob
collect + broadcast, one refine kernel, and the covering base class.  The
model is Raster Intervals (SIGMOD 2023): a region is a cell covering split
into full cells, decided by the equi-join alone, and partial cells, the
only rows that reach the exact refine.  The indexes differ only in their
keyer and coverer.

Rationale: the JVM↔Python Arrow boundary is a measured throughput ceiling
(~4M rows/s in this sandbox regardless of cores); at 100 TB the same
principle holds — rows crossing into Python must be a small fraction.
The candidate/classification tables are |regions| × tiles-per-region —
broadcastable; the big side never shuffles before its aggregation.
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
from ..geom.classify import classify_subcells, detect_axis_rect
from ..geom.grid import GridSpec
from ..geom.polygon import multipolygon_bbox, points_strictly_inside_multi, unpack_multipolygon
from ..geom.s2cover import rect_parts
from .tiling import point_tile_cols

# above this many regions an index build moves off the driver into a
# one-off distributed mapInPandas job; the resulting candidate tables are
# broadcast either way (they must be: they're the small side of the join)
_DISTRIBUTED_BUILD_THRESHOLD = 10_000

# internal join columns carry a __pip_ prefix so a pages table that
# already has a `level`/`cell`/`tile_x`/`r_left` column can't collide
_LV, _CELL, _SX, _SY = "__pip_lv", "__pip_cell", "__pip_scx", "__pip_scy"
_TX, _TY, _IN, _LEAF = "__pip_tx", "__pip_ty", "__pip_interior", "__pip_leaf"
_BBOX = ("__pip_l", "__pip_b", "__pip_r", "__pip_t")


def _build_table(
    spark,
    regions_df: DataFrame,
    rows_of: Callable[[int, bytes], List[tuple]],
    schema: str,
    tier_cols: Tuple[str, ...],
    distributed: Optional[bool],
):
    """Run ``rows_of(region_id, blob)`` over every region; the LAST field
    of each row is its generic-band flag (only the exact refine can decide
    it).  Returns ``(table, tiers, geom_map, bc_geoms)``: ``tiers`` is the
    distinct set of ``tier_cols`` values (the build-time facts ``join()``
    plans from, so it never probes per call), ``geom_map`` holds the blobs
    of regions with a generic-band row — the refine kernel's whole working
    set — and ``bc_geoms`` is its broadcast (None when empty).

    Below ``_DISTRIBUTED_BUILD_THRESHOLD`` regions (``distributed=None``
    decides by a limit-probe, not a full count: the build mode of a
    10^6-region table must not cost a full scan of it) the rows come from
    a driver loop.  Above it they come from a one-off executor job that
    stays DISTRIBUTED (localCheckpoint materializes it once): the driver
    collects only the tier facts and the generic blobs, so driver memory
    scales with |generic|, not |regions| — rect regions' WKB never leaves
    the executors."""
    cols = [f.split()[0] for f in schema.split(",")]
    if distributed is None:
        thresh = _DISTRIBUTED_BUILD_THRESHOLD
        distributed = regions_df.select(F.lit(1)).limit(thresh + 1).count() > thresh

    if not distributed:
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


def _cell_join(
    pages_df: DataFrame,
    cols: List[str],
    elems: List[Column],
    on: List[str],
    full: Optional[DataFrame],
    full_keep: Optional[Column],
    band: Optional[DataFrame],
    lon: str,
    lat: str,
    bc_geoms,
) -> List[DataFrame]:
    """The cell tiers of every index in one exploded pass: each page row
    emits its cell key at EVERY active level (``elems``: structs of the
    ``on`` columns; pipelined array+explode, no shuffle), then ONE
    broadcast equi-join per tier against the level-tagged candidate
    table — so the big side is read once per tier, not once per level.
    ``full`` rows pass by the join alone (or by ``full_keep``); ``band``
    rows go through the exact refine."""
    sub = (
        pages_df.withColumn("__pip_s", F.explode(F.array(*elems)))
        .select(*cols, *(f"__pip_s.{c}" for c in on))
    )
    out_cols = [*cols, "region_id"]
    parts: List[DataFrame] = []
    if full is not None:
        joined = sub.join(F.broadcast(full), on=on, how="inner")
        if full_keep is not None:
            joined = joined.where(full_keep)
        parts.append(joined.select(*out_cols))
    if band is not None:
        cand = sub.join(F.broadcast(band), on=on, how="inner").select(*out_cols)
        parts.append(_refine(cand, lon, lat, bc_geoms))
    return parts


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
    """Shared body of the covering-keyed indexes (``S2PipIndex``,
    ``GeohashPipIndex``).  A subclass supplies only its coverer (passed to
    :meth:`_build`), ``_KEY_TYPE`` (the cell key's DDL type), a leaf keyer
    :meth:`_with_leaf` and an ancestor expression :meth:`_ancestor`.

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

    def _build(self, spark, regions_df: DataFrame, cover, distributed: Optional[bool]) -> None:
        schema = (
            f"region_id INT, lv INT, cell {self._KEY_TYPE}, interior BOOLEAN, "
            "r_left DOUBLE, r_bottom DOUBLE, r_right DOUBLE, r_top DOUBLE, generic BOOLEAN"
        )
        table, tiers, self.geom_map, self._bc_geoms = _build_table(
            spark, regions_df, functools.partial(_covering_rows, cover), schema,
            ("lv", "generic"), distributed,
        )
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
        leaf = F.col(_LEAF)
        elems = [
            F.struct(F.lit(lv).alias(_LV), self._ancestor(leaf, lv).alias(_CELL))
            for lv in self.levels
        ]
        parts = _cell_join(
            keyed, cols, elems, [_LV, _CELL],
            self._catalyst if self._has_catalyst else None,
            F.col(_IN) | _strictly_in_bbox(lon, lat),
            self._boundary_gen if self._has_generic else None,
            lon, lat, self._bc_geoms,
        )
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


_CLASSIFY_SCHEMA = (
    "kind INT, level INT, ax LONG, ay LONG, region_id INT, "
    "l DOUBLE, b DOUBLE, r DOUBLE, t DOUBLE, generic BOOLEAN"
)


def _classify_region(
    grid: GridSpec,
    base_x: float,
    base_y: float,
    ox: float,
    oy: float,
    target_cells: int,
    min_level: int,
    max_level: int,
    geobox_cache: Dict,
    rid: int,
    blob: bytes,
) -> List[tuple]:
    """Classification rows for one region, in ``_CLASSIFY_SCHEMA``:
    kind 0=rect candidate (ax/ay = tile), 1=full subcell, 2=boundary
    subcell (the generic band).  Subcells are tile_size / 2^level PER
    AXIS, so tile = subcell >> level exactly (no float division anywhere
    in the subcell→tile mapping)."""
    mp = unpack_multipolygon(blob)
    rect = detect_axis_rect(mp)
    if rect is not None:
        l, b, r, t = rect
        return [
            (0, 0, int(tx), int(ty), rid, l, b, r, t, False)
            for (tx, ty), _ in grid.tiles_from_geopolygon(mp, geobox_cache=geobox_cache)
        ]
    level = _pick_level_for(mp, base_x, base_y, target_cells, min_level, max_level)
    full, bnd = classify_subcells(mp, ox, oy, base_x / (1 << level), base_y / (1 << level))
    return [
        (kind, level, int(cx), int(cy), rid, 0.0, 0.0, 0.0, 0.0, kind == 2)
        for kind, cells in ((1, full), (2, bnd))
        for cx, cy in cells
    ]


class PipIndex:
    """Build-once spatial index of a (small) region table over a GridSpec.

    Generic-polygon classification uses an ADAPTIVE subcell lattice: each
    region is classified at h = tile_size / 2^L with L chosen so its bbox
    spans ~``target_cells_per_axis`` subcells — small regions get fine
    lattices (thin boundary bands, few refine rows), large regions coarse
    ones (bounded broadcast size).  Every active level shares one
    (level, sc_x, sc_y) join per tier.
    """

    MIN_LEVEL = 2
    MAX_LEVEL = 8

    def __init__(
        self,
        spark,
        regions_df: DataFrame,
        grid: GridSpec,
        target_cells_per_axis: int = 48,
        distributed_classify: Optional[bool] = None,
    ):
        self.grid = grid
        size_y, size_x = grid.tile_size
        # per-axis subcell lattice: tile_size / 2^level on EACH axis, so a
        # subcell never straddles a tile boundary and tile = subcell >> L
        # exactly (rectangular tile grids fully supported)
        self._base_x = abs(size_x)
        self._base_y = abs(size_y)
        self.ox = grid.origin[1]
        self.oy = grid.origin[0]
        self.target_cells = target_cells_per_axis

        rows_of = functools.partial(
            _classify_region, grid, self._base_x, self._base_y, self.ox, self.oy,
            self.target_cells, self.MIN_LEVEL, self.MAX_LEVEL, {},
        )
        table, tiers, self.geom_map, self._bc_geoms = _build_table(
            spark, regions_df, rows_of, _CLASSIFY_SCHEMA, ("kind", "level"), distributed_classify
        )
        kind, level = F.col("kind"), F.col("level")
        self.rect_candidates: Optional[DataFrame] = None
        if any(k == 0 for k, _ in tiers):
            self.rect_candidates = table.where(kind == 0).select(
                F.col("ax").cast("int").alias("tile_x"),
                F.col("ay").cast("int").alias("tile_y"),
                "region_id",
                F.col("l").alias("r_left"), F.col("b").alias("r_bottom"),
                F.col("r").alias("r_right"), F.col("t").alias("r_top"),
            )
        # per-level (full, boundary) subcell tables — the lattice as
        # consumers such as the raster operators read it
        self.levels: Dict[int, Tuple[Optional[DataFrame], Optional[DataFrame]]] = {
            lv: tuple(
                table.where((kind == k) & (level == lv)).select(
                    F.col("ax").alias("sc_x"), F.col("ay").alias("sc_y"), "region_id"
                )
                if (k, lv) in tiers else None
                for k in (1, 2)
            )
            for lv in sorted({lv for k, lv in tiers if k})
        }

        def tier(k: int) -> Optional[DataFrame]:
            if not any(t == k for t, _ in tiers):
                return None
            return table.where(kind == k).select(
                level.alias(_LV), F.col("ax").alias(_SX), F.col("ay").alias(_SY), "region_id"
            )

        self._full, self._boundary = tier(1), tier(2)

    def join(
        self,
        pages_df: DataFrame,
        lon: str = "lon",
        lat: str = "lat",
        keep_cols: Optional[list] = None,
    ) -> DataFrame:
        """Join pages to the regions whose interior strictly contains them.

        Returns (keep_cols or all pages columns) + lon/lat + ``region_id``.

        The lattice tiers compute ALL per-level subcell ids in one pass
        over the big side and join ONCE per tier against the level-tagged
        candidate table, so the big table is read 3× total (rect tier,
        full join, boundary join) instead of 1 + 2·|levels| times
        (PERF.md §13) — at 100 TB each avoided pass is a full table read."""
        base_cols = keep_cols if keep_cols is not None else [c for c in pages_df.columns if c not in (lon, lat)]
        cols = [*base_cols, lon, lat]
        parts: List[DataFrame] = []

        # tier 1: axis-rect regions — Catalyst-only
        if self.rect_candidates is not None:
            tx, ty = point_tile_cols(self.grid, F.col(lon), F.col(lat))
            cand = self.rect_candidates.select(
                F.col("tile_x").alias(_TX), F.col("tile_y").alias(_TY), "region_id", *_bbox_cols()
            )
            parts.append(
                pages_df.select(*cols, tx.alias(_TX), ty.alias(_TY))
                .join(F.broadcast(cand), on=[_TX, _TY], how="inner")
                .where(_strictly_in_bbox(lon, lat))
                .select(*cols, "region_id")
            )

        # tiers 2-3: interior subcells by the equi-join alone, boundary
        # subcells through the exact refine
        if self.levels:
            elems = []
            for lv in sorted(self.levels):
                hx = self._base_x / (1 << lv)
                hy = self._base_y / (1 << lv)
                scx = F.floor((F.col(lon) - F.lit(self.ox)) / F.lit(hx)).cast("long")
                scy = F.floor((F.col(lat) - F.lit(self.oy)) / F.lit(hy)).cast("long")
                elems.append(F.struct(F.lit(lv).alias(_LV), scx.alias(_SX), scy.alias(_SY)))
            parts.extend(_cell_join(
                pages_df.select(*cols), cols, elems, [_LV, _SX, _SY],
                self._full, None, self._boundary, lon, lat, self._bc_geoms,
            ))

        if not parts:
            raise ValueError("PipIndex built from an empty region table")
        return functools.reduce(DataFrame.unionByName, parts)


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
