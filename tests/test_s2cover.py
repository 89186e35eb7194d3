"""S2 region covering (geom/s2cover.py) + S2-keyed PIP join
(operators/s2pip.py).

Validation is by independent structure, like test_s2.py: the rect
bounds are checked against points SAMPLED INSIDE each cell (any point
escaping its cell's rect bound falsifies the published vertex-extremum
construction), coverings are checked conservative by fuzz (a point
inside the region must land in an emitted cell), and the Spark join is
checked row-identical against the completely independent GridSpec-lattice
PipIndex on the same regions — including a dateline-crossing one.
"""

import math

import numpy as np
import pytest
from pyspark.sql import functions as F

from datacube_core_spark.geom.lonlat import chop_along_antimeridian
from datacube_core_spark.geom.polygon import box_ring, pack_multipolygon
from datacube_core_spark.geom.s2 import MAX_LEVEL, cell_level, s2_cell_id
from datacube_core_spark.geom.s2cover import (
    cell_rect_segments,
    pick_covering_level,
    s2_covering,
)

RNG = np.random.default_rng(20240817)


def _in_segments(lon, lat, lat_lo, lat_hi, segs):
    if not (lat_lo <= lat <= lat_hi):
        return False
    return any(lo <= lon <= hi for lo, hi in segs)


def _sample_cell_points(face, i_lo, j_lo, level, n=64):
    """Random + edge/corner points inside one cell, in lon/lat degrees."""
    from datacube_core_spark.geom.s2cover import _face_uv_to_lonlat_deg
    from datacube_core_spark.geom.s2 import st_to_uv

    size = 1 << (MAX_LEVEL - level)
    scale = 1.0 / (1 << MAX_LEVEL)
    # fractions along each axis: corners, edge midpoints, random interior
    fr = np.concatenate([
        np.array([0.0, 1.0, 0.5, 0.25, 0.75]),
        RNG.uniform(0.0, 1.0, n),
    ])
    fi, fj = np.meshgrid(fr, fr)
    s = (i_lo + fi.ravel() * size) * scale
    t = (j_lo + fj.ravel() * size) * scale
    u = st_to_uv(s)
    v = st_to_uv(t)
    f = np.full(u.shape, face, dtype=np.int64)
    return _face_uv_to_lonlat_deg(f, u, v)


def test_rect_bound_contains_cell_fuzz():
    """Published GetRectBound construction: every point of a cell
    (corners, edges, interior) lies inside its rect bound."""
    for _ in range(60):
        level = int(RNG.integers(1, 18))
        face = int(RNG.integers(0, 6))
        size = 1 << (MAX_LEVEL - level)
        i_lo = int(RNG.integers(0, 1 << level)) * size
        j_lo = int(RNG.integers(0, 1 << level)) * size
        lat_lo, lat_hi, segs = cell_rect_segments(face, i_lo, j_lo, level)
        lons, lats = _sample_cell_points(face, i_lo, j_lo, level, n=16)
        for lon, lat in zip(lons, lats):
            assert _in_segments(lon, lat, lat_lo - 1e-9, lat_hi + 1e-9, [
                (lo - 1e-9, hi + 1e-9) for lo, hi in segs
            ]), (face, i_lo, j_lo, level, lon, lat)


def test_face_bounds_edge_bulge():
    """Level-0 equatorial faces reach ±45° at edge midpoints — beyond
    their ±35.26° corners (the one extremum-not-at-vertex case)."""
    lat_lo, lat_hi, segs = cell_rect_segments(0, 0, 0, 0)
    assert lat_hi == pytest.approx(45.0)
    assert lat_lo == pytest.approx(-45.0)
    # polar face: full longitude span, lat floor at asin(sqrt(1/3))
    lat_lo, lat_hi, segs = cell_rect_segments(2, 0, 0, 0)
    assert segs == [(-180.0, 180.0)]
    assert lat_lo == pytest.approx(math.degrees(math.asin(math.sqrt(1 / 3))))


def test_full_sphere_covering_is_every_cell():
    """A lon/lat box spanning the whole plane must cover ALL 6·4^k cells."""
    mp = [[box_ring(-180.0, -90.0, 180.0, 90.0)]]
    ids, interior = s2_covering(mp, 2)
    assert len(ids) == 6 * 4 ** 2
    assert len(np.unique(ids)) == len(ids)
    assert set(cell_level(ids).tolist()) == {2}


@pytest.mark.parametrize(
    "name,mp,box",
    [
        ("box", [[box_ring(10.0, 20.0, 25.0, 37.0)]], (10, 20, 25, 37)),
        ("equator", [[box_ring(-30.0, -10.0, 30.0, 10.0)]], (-30, -10, 30, 10)),
        ("polar", [[box_ring(-180.0, 80.0, 180.0, 90.0)]], (-180, 80, 180, 89.9)),
        ("south", [[box_ring(-170.0, -80.0, -120.0, -50.0)]], (-170, -80, -120, -50)),
    ],
)
def test_covering_conservative_fuzz(name, mp, box):
    lvl = pick_covering_level(mp)
    ids, interior = s2_covering(mp, lvl)
    l, b, r, t = box
    lons = RNG.uniform(l + 1e-3, r - 1e-3, 5000)
    lats = RNG.uniform(b + 1e-3, t - 1e-3, 5000)
    pts = s2_cell_id(lons, lats, lvl)
    assert (~np.isin(pts, ids)).sum() == 0, name
    # interior cells must genuinely be subsets: every sampled point whose
    # cell is marked interior must be strictly inside the region
    from datacube_core_spark.geom.polygon import points_strictly_inside_multi

    interior_ids = set(ids[interior].tolist())
    m = np.array([int(p) in interior_ids for p in pts])
    if m.any():
        assert points_strictly_inside_multi(lons[m], lats[m], mp).all(), name


def test_covering_dateline_chop():
    mp = chop_along_antimeridian([[box_ring(170.0, -20.0, 190.0, 25.0)]])
    lvl = pick_covering_level(mp)
    assert lvl >= 4  # sized off the largest PART, not the wrapped bbox
    ids, _ = s2_covering(mp, lvl)
    lons = np.concatenate([
        RNG.uniform(170.001, 179.999, 2500), RNG.uniform(-179.999, -170.001, 2500)
    ])
    lats = RNG.uniform(-19.999, 24.999, 5000)
    pts = s2_cell_id(lons, lats, lvl)
    assert (~np.isin(pts, ids)).sum() == 0


def test_covering_hole_interior_not_marked():
    """A donut's hole boundary forces the cells around it to BOUNDARY
    tier; points in the hole must never come from an interior cell."""
    donut = [[box_ring(0.0, 0.0, 10.0, 10.0), box_ring(4.0, 4.0, 6.0, 6.0)]]
    ids, interior = s2_covering(donut, 8)
    interior_ids = set(ids[interior].tolist())
    lons = RNG.uniform(4.001, 5.999, 2000)
    lats = RNG.uniform(4.001, 5.999, 2000)
    pts = s2_cell_id(lons, lats, 8)
    assert not any(int(p) in interior_ids for p in pts)


# ---------------------------------------------------------------------------
# Spark parity: S2PipIndex == PipIndex, row for row
# ---------------------------------------------------------------------------


def _region_df(spark, specs):
    rows = []
    for rid, mp in specs:
        from datacube_core_spark.geom.polygon import multipolygon_bbox

        l, b, r, t = multipolygon_bbox(mp)
        rows.append((rid, f"R{rid}", float(l), float(b), float(r), float(t),
                     bytearray(pack_multipolygon(mp))))
    return spark.createDataFrame(
        rows,
        "region_id INT, name STRING, left DOUBLE, bottom DOUBLE, right DOUBLE, top DOUBLE, geom BINARY",
    )


def test_s2pip_matches_pipindex(spark):
    from datacube_core_spark.geom.grid import GridSpec
    from datacube_core_spark.operators.pip import PipIndex
    from datacube_core_spark.operators.s2pip import S2PipIndex
    from datacube_core_spark.sources.pages import pages

    from .conftest import SF_TINY

    grid = GridSpec("EPSG:4326", tile_size=(10.0, 10.0), resolution=(-0.1, 0.1))
    specs = [
        (0, [[box_ring(10.0, 20.0, 25.0, 37.0)]]),
        (1, [[box_ring(0.0, 0.0, 10.0, 10.0), box_ring(4.0, 4.0, 6.0, 6.0)]]),  # donut
        (2, [[np.array([(40, 40), (46, 40), (46, 42), (42, 42), (42, 46), (40, 46)], dtype=float)]]),
        (3, chop_along_antimeridian([[box_ring(170.0, -20.0, 190.0, 25.0)]])),
        (4, [[box_ring(-30.0, -10.0, -20.0, 0.0)], [box_ring(20.0, 10.0, 30.0, 20.0)]]),
    ]
    regs = _region_df(spark, specs)
    p = pages(spark, SF_TINY, repl=4).select("doc_id", "lon", "lat")

    base = PipIndex(spark, regs, grid).join(
        p, keep_cols=["doc_id"]
    ).select("doc_id", "region_id")
    s2j = S2PipIndex(spark, regs).join(p, keep_cols=["doc_id"]).select(
        "doc_id", "region_id"
    )
    rows_a = {tuple(r) for r in base.collect()}
    rows_b = {tuple(r) for r in s2j.collect()}
    assert rows_a == rows_b
    assert len(rows_b) > 0


def test_s2pip_prekeyed_cell_col(spark):
    """External-table interop: points arriving ALREADY keyed by leaf S2
    ids (cell_col=...) must give identical results without the Arrow
    keying pass."""
    from datacube_core_spark.geom.s2 import with_s2_cell
    from datacube_core_spark.operators.s2pip import S2PipIndex
    from datacube_core_spark.sources.pages import pages

    from .conftest import SF_TINY

    specs = [(0, [[box_ring(10.0, 20.0, 25.0, 37.0)]])]
    regs = _region_df(spark, specs)
    p = pages(spark, SF_TINY, repl=2).select("doc_id", "lon", "lat")
    keyed = with_s2_cell(p, level=MAX_LEVEL, out_col="s2_id")

    idx = S2PipIndex(spark, regs)
    a = {tuple(r) for r in idx.join(p, keep_cols=["doc_id"]).select("doc_id", "region_id").collect()}
    b = {tuple(r) for r in idx.join(keyed, keep_cols=["doc_id"], cell_col="s2_id").select("doc_id", "region_id").collect()}
    assert a == b and len(a) > 0


def test_s2pip_plan_is_broadcast_no_python_join(spark):
    """Scale shape: the candidate pass is broadcast hash equi-joins; the
    only Python is the Arrow keying pass + the boundary-band refine."""
    from datacube_core_spark.operators.s2pip import S2PipIndex
    from datacube_core_spark.sources.pages import pages

    from .conftest import SF_TINY

    specs = [(0, [[box_ring(10.0, 20.0, 25.0, 37.0)]])]
    regs = _region_df(spark, specs)
    p = pages(spark, SF_TINY, repl=2).select("doc_id", "lon", "lat")
    df = S2PipIndex(spark, regs).join(p, keep_cols=["doc_id"])
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    depythoned = plan.replace("ArrowEvalPython", "")
    assert "BatchEvalPython" not in depythoned


@pytest.mark.parametrize("index_cls", ["S2PipIndex", "GeohashPipIndex"])
def test_s2pip_distributed_cover_matches_driver(spark, index_cls, monkeypatch):
    """Forcing the executor-side covering build (build threshold 0)
    must give row-identical joins to the driver-loop build, and pull NO
    rect-region geometry blobs to the driver — for both covering
    indexes."""
    from datacube_core_spark.operators import pip
    from datacube_core_spark.operators.ghpip import GeohashPipIndex
    from datacube_core_spark.operators.s2pip import S2PipIndex
    from datacube_core_spark.sources.pages import pages

    from .conftest import SF_TINY

    cls = {"S2PipIndex": S2PipIndex, "GeohashPipIndex": GeohashPipIndex}[index_cls]
    specs = [
        (0, [[box_ring(10.0, 20.0, 25.0, 37.0)]]),      # rect
        (1, [[box_ring(0.0, 0.0, 10.0, 10.0), box_ring(4.0, 4.0, 6.0, 6.0)]]),  # donut
        (2, [[np.array([(40, 40), (46, 40), (46, 42), (42, 42), (42, 46), (40, 46)], dtype=float)]]),
    ]
    regs = _region_df(spark, specs)
    p = pages(spark, SF_TINY, repl=2).select("doc_id", "lon", "lat")

    drv = cls(spark, regs)
    monkeypatch.setattr(pip, "_DISTRIBUTED_BUILD_THRESHOLD", 0)
    dst = cls(spark, regs)
    assert drv.levels == dst.levels
    assert (drv._has_catalyst, drv._has_generic) == (dst._has_catalyst, dst._has_generic) == (True, True)
    a = {tuple(r) for r in drv.join(p, keep_cols=["doc_id"]).select("doc_id", "region_id").collect()}
    b = {tuple(r) for r in dst.join(p, keep_cols=["doc_id"]).select("doc_id", "region_id").collect()}
    assert a == b and len(a) > 0
    # rect region 0's blob never reaches the driver in either mode
    assert set(drv.geom_map) == {1, 2}
    assert set(dst.geom_map) == {1, 2}


def test_s2pip_rect_tier_is_catalyst_only(spark):
    """An all-rect region table must need NO geometry broadcast and NO
    python in the boundary refine — strict bbox predicates only."""
    from datacube_core_spark.operators.s2pip import S2PipIndex
    from datacube_core_spark.sources.pages import pages

    from .conftest import SF_TINY

    regs = _region_df(spark, [(0, [[box_ring(10.0, 20.0, 25.0, 37.0)]])])
    p = pages(spark, SF_TINY, repl=2).select("doc_id", "lon", "lat")
    idx = S2PipIndex(spark, regs)
    assert idx.geom_map == {}
    df = idx.join(p, keep_cols=["doc_id"])
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "MapInPandas" not in plan  # only the Arrow keying pass remains
    depythoned = plan.replace("ArrowEvalPython", "")
    assert "BatchEvalPython" not in depythoned


def test_budgeted_covering_conservative_and_bounded():
    """Mixed-level budgeted coverer: cell count within budget, ids at
    heterogeneous levels, and every in-region point covered by an
    ancestor at one of the emitted levels."""
    from datacube_core_spark.geom.s2 import parent_id
    from datacube_core_spark.geom.s2cover import s2_covering_budgeted

    mp = chop_along_antimeridian([[box_ring(170.0, -20.0, 190.0, 25.0)]])
    ids, interior = s2_covering_budgeted(mp, max_cells=20)
    assert 0 < len(ids) <= 20
    levels = sorted(set(cell_level(ids).tolist()))
    lons = np.concatenate([
        RNG.uniform(170.001, 179.999, 1500), RNG.uniform(-179.999, -170.001, 1500)
    ])
    lats = RNG.uniform(-19.999, 24.999, 3000)
    leaf = s2_cell_id(lons, lats, 30)
    idset = set(ids.tolist())
    for lf in leaf.tolist():
        assert any(int(parent_id(np.array([lf]), k)[0]) in idset for k in levels)


def test_s2pip_budgeted_covering_matches_fixed(spark):
    """S2PipIndex(max_cells=...) — mixed-level covering through the same
    join — must give row-identical results to the fixed-level build."""
    from datacube_core_spark.operators.s2pip import S2PipIndex
    from datacube_core_spark.sources.pages import pages

    from .conftest import SF_TINY

    specs = [
        (0, [[box_ring(10.0, 20.0, 25.0, 37.0)]]),
        (1, [[np.array([(40, 40), (46, 40), (46, 42), (42, 42), (42, 46), (40, 46)], dtype=float)]]),
    ]
    regs = _region_df(spark, specs)
    p = pages(spark, SF_TINY, repl=2).select("doc_id", "lon", "lat")
    fixed = S2PipIndex(spark, regs)
    budg = S2PipIndex(spark, regs, max_cells=16)
    assert len(budg.levels) >= 1
    a = {tuple(r) for r in fixed.join(p, keep_cols=["doc_id"]).select("doc_id", "region_id").collect()}
    b = {tuple(r) for r in budg.join(p, keep_cols=["doc_id"]).select("doc_id", "region_id").collect()}
    assert a == b and len(a) > 0


def test_covering_level0_face_cells():
    """Review-pass (r6): s2_covering(level=0) crashed — the vectorized
    rect-bound kernel is level ≥ 1 only.  A level-0 covering must return
    the intersecting FACE cells, none marked interior (every face rect
    wraps in longitude or touches a pole, matching the budgeted coverer's
    k == 0 rule)."""
    mp = [[box_ring(-170.0, -50.0, 170.0, 50.0)]]
    ids, interior = s2_covering(mp, 0)
    assert len(ids) == 6  # a near-global band hits all six faces
    assert set(cell_level(ids).tolist()) == {0}
    assert not interior.any()
    # conservative: sampled in-region points land under an emitted face
    from datacube_core_spark.geom.s2 import parent_id

    lons = RNG.uniform(-169.9, 169.9, 500)
    lats = RNG.uniform(-49.9, 49.9, 500)
    leaf = s2_cell_id(lons, lats, 30)
    idset = set(ids.tolist())
    assert all(int(p) in idset for p in parent_id(leaf, 0).tolist())


def test_budgeted_covering_freezes_instead_of_stopping():
    """Review-pass (r6): the budgeted coverer used to STOP at the first
    cell whose split would bust the budget; coarsest-first ordering does
    not make that bust terminal — another (smaller) part's cell may still
    split within budget.  A big region + a tiny far-away region at
    max_cells=8: the old early-break left 6 cells all at levels ≤ 1 (the
    tiny part stuck inside a face cell); the freeze sweep must fill the
    budget and refine the tiny part several levels deeper."""
    from datacube_core_spark.geom.s2 import parent_id
    from datacube_core_spark.geom.s2cover import s2_covering_budgeted

    mp = [[box_ring(-10.0, -10.0, 40.0, 40.0)], [box_ring(100.0, 10.0, 100.5, 10.5)]]
    ids, _ = s2_covering_budgeted(mp, max_cells=8)
    levels = cell_level(ids)
    assert len(ids) == 8  # budget filled, not abandoned at 6
    assert levels.max() >= 3  # the tiny part kept refining after the bust
    # conservativeness for BOTH parts
    idset = set(ids.tolist())
    lvset = sorted(set(levels.tolist()))
    lons = np.concatenate([RNG.uniform(-9.99, 39.99, 700), RNG.uniform(100.001, 100.499, 300)])
    lats = np.concatenate([RNG.uniform(-9.99, 39.99, 700), RNG.uniform(10.001, 10.499, 300)])
    leaf = s2_cell_id(lons, lats, 30)
    for lf in leaf.tolist():
        assert any(int(parent_id(np.array([lf]), k)[0]) in idset for k in lvset)


def test_rect_parts_shared_rule():
    """Review-pass (r6): the per-part exact-rectangle rule was
    triplicated (both coverers + the s2pip tier classifier) and could
    drift — a part classified rect passes the PIP join by bbox predicate
    ALONE downstream, so divergence silently corrupts join rows.  The
    rule now lives in one place; pin its semantics: an axis-aligned
    single-ring box IS rect, a diamond / holed part is NOT, and the
    covering indexes' whole-region form delegates to it."""
    from datacube_core_spark.geom.s2cover import rect_parts
    from datacube_core_spark.operators.pip import _rect_info

    box = [[box_ring(0.0, 0.0, 10.0, 5.0)]]
    diamond = [[np.array([(5.0, 0.0), (10.0, 5.0), (5.0, 10.0), (0.0, 5.0)], dtype=float)]]
    donut = [[box_ring(0.0, 0.0, 10.0, 10.0), box_ring(4.0, 4.0, 6.0, 6.0)]]
    assert [p[2] for p in rect_parts(box)] == [True]
    assert [p[2] for p in rect_parts(diamond)] == [False]
    assert [p[2] for p in rect_parts(donut)] == [False]
    assert _rect_info(box)[0] is True
    assert _rect_info(diamond)[0] is False
    # multi-part region is never whole-region rect even if each part is
    two_boxes = [[box_ring(0.0, 0.0, 1.0, 1.0)], [box_ring(5.0, 5.0, 6.0, 6.0)]]
    assert _rect_info(two_boxes)[0] is False
    assert [p[2] for p in rect_parts(two_boxes)] == [True, True]


def test_s2pip_tier_flags_are_build_time(spark):
    """Review-pass (r6): join() ran two take(1) probes per CALL to decide
    which tiers exist — per-query Spark jobs on the hot path for facts
    that are build-time constants of the covering.  The flags are now
    computed once at build; pin them: a rect-only region table populates
    only the Catalyst tier, a thin diamond populates the generic tier,
    and join() output is unaffected by which tiers are dark."""
    from datacube_core_spark.operators.pip import PipIndex
    from datacube_core_spark.operators.s2pip import S2PipIndex
    from datacube_core_spark.geom.grid import GridSpec
    from datacube_core_spark.sources.pages import pages

    from .conftest import SF_TINY

    p = pages(spark, SF_TINY, repl=2).select("doc_id", "lon", "lat")
    grid = GridSpec("EPSG:4326", tile_size=(10.0, 10.0), resolution=(-0.1, 0.1))

    rect_only = _region_df(spark, [(0, [[box_ring(10.0, 20.0, 25.0, 37.0)]])])
    ix = S2PipIndex(spark, rect_only)
    assert ix._has_catalyst is True and ix._has_generic is False
    got = {tuple(r) for r in ix.join(p, keep_cols=["doc_id"]).select("doc_id", "region_id").collect()}
    want = {tuple(r) for r in PipIndex(spark, rect_only, grid)
            .join(p, keep_cols=["doc_id"]).select("doc_id", "region_id").collect()}
    assert got == want and len(got) > 0

    diamond = _region_df(
        spark,
        [(7, [[np.array([(40, 40), (46, 40), (46, 42), (42, 42), (42, 46), (40, 46)], dtype=float)]])],
    )
    ix2 = S2PipIndex(spark, diamond)
    assert ix2._has_generic is True
    got2 = {tuple(r) for r in ix2.join(p, keep_cols=["doc_id"]).select("doc_id", "region_id").collect()}
    want2 = {tuple(r) for r in PipIndex(spark, diamond, grid)
             .join(p, keep_cols=["doc_id"]).select("doc_id", "region_id").collect()}
    assert got2 == want2
