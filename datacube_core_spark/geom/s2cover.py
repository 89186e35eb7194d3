"""S2 region covering — polygon → conservative set of S2 cells.

Closes VERDICT r5 "what's missing" #3: the r5 S2 cell ids
(:mod:`.s2`) give every point an integer interop key, but joining an
EXTERNAL S2-keyed table against a *region* needs the other half of the
contract — a covering cell set per region (the role PostGIS' per-SRID
GIST candidate pass plays in the reference,
``datacube/drivers/postgis/_spatial.py:62-97``).

The hard requirement (ROADMAP): the covering must be CONSERVATIVE — an
under-covering silently drops join rows.  The key primitive is the
exact lat/lng outer bound of a cell, built per the published
``S2Cell::GetRectBound`` construction (s2geometry.io reference
implementation semantics, re-derived here over the repo's own face/uv
machinery):

* level ≥ 1 cells: latitude/longitude extremes are attained at cell
  VERTICES; the published vertex-pair selection picks which diagonal
  attains the lat range (driven by the z-component of the face's u/v
  axes) and the opposite diagonal for the lng range, then expands by a
  few ulp and applies polar closure (a cell whose lat bound reaches a
  pole spans all longitudes).
* level 0 (faces): closed-form face bounds — the four equatorial faces
  bulge to ±45° at edge midpoints (NOT their ±35.26° vertices: the one
  case where an edge interior beats the vertices), the polar faces span
  all longitudes down to asin(sqrt(1/3)).

``s2_covering`` then BFS-descends from the 6 faces, pruning children
whose rect bound cannot touch the region (vectorized bbox precheck +
exact rect-vs-polygon test via :func:`..geom.polygon
.multipolygon_rect_closed_intersects`), and classifies final-level
cells into INTERIOR (rect bound strictly inside the region — join rows
need no refine) vs BOUNDARY (exact PIP refine required), mirroring
PipIndex's tier discipline.  A wrapped longitude interval (dateline /
polar cells) is split into two plane rects before testing, so
antimeridian regions need no special casing beyond the usual
chop-to-[-180,180] convention.

Conservativeness argument: a point p inside the region lies inside its
containing cell at every level, and each rect bound is a SUPERSET of
its cell, so every ancestor's rect bound contains p — the intersection
test (closed, touching counts) can never prune p's ancestor chain, and
p's covering-level cell is always emitted.  Validated in
tests/test_s2cover.py by fuzz (random in-region points must land in a
covering cell) and by exhaustive low-level sphere sweeps.
"""

from __future__ import annotations

import math
from typing import List, Tuple

import numpy as np

from .polygon import (
    MultiPolygon,
    as_ring,
    multipolygon_bbox,
    points_strictly_inside_multi,
    polygon_bbox,
    rect_closed_intersects,
    ring_area,
)
from .s2 import MAX_LEVEL, fij_to_id, parent_id, st_to_uv

# z-components of the published per-face u/v axes (kFaceUVWAxes): they
# drive which vertex diagonal attains the latitude extremes.
_U_AXIS_Z = (0.0, 0.0, 0.0, -1.0, -1.0, 0.0)
_V_AXIS_Z = (1.0, 1.0, 0.0, 0.0, 0.0, 0.0)

# asin(sqrt(1/3)): lowest |latitude| reached by the polar faces' corners
_POLE_MIN_LAT_DEG = math.degrees(math.asin(math.sqrt(1.0 / 3.0)))

# rect bounds are expanded by this many degrees — covers the published
# 2*DBL_EPSILON-radian expansion with float-degree margin to spare; the
# covering is conservative, so over-expansion only costs refine rows
_EPS_DEG = 1e-11

# level-0 face bounds (lat_lo, lat_hi, lng segments in degrees)
_FACE_BOUNDS: List[Tuple[float, float, List[Tuple[float, float]]]] = [
    (-45.0, 45.0, [(-45.0, 45.0)]),
    (-45.0, 45.0, [(45.0, 135.0)]),
    (_POLE_MIN_LAT_DEG, 90.0, [(-180.0, 180.0)]),
    (-45.0, 45.0, [(135.0, 180.0), (-180.0, -135.0)]),  # wraps
    (-45.0, 45.0, [(-135.0, -45.0)]),
    (-90.0, -_POLE_MIN_LAT_DEG, [(-180.0, 180.0)]),
]


def _face_uv_to_lonlat_deg(face: np.ndarray, u: np.ndarray, v: np.ndarray):
    """Vectorized face/(u,v) → (lon°, lat°) — same face→xyz table as
    :func:`..geom.s2.s2_cell_center`."""
    x = np.empty_like(u)
    y = np.empty_like(u)
    z = np.empty_like(u)
    one = np.ones_like(u)
    tab = [
        (one, u, v),
        (-u, one, v),
        (-u, -v, one),
        (-one, -v, -u),
        (v, -one, -u),
        (v, u, -one),
    ]
    for f, (xe, ye, ze) in enumerate(tab):
        m = face == f
        if m.any():
            x[m], y[m], z[m] = xe[m], ye[m], ze[m]
    lon = np.rad2deg(np.arctan2(y, x))
    lat = np.rad2deg(np.arctan2(z, np.sqrt(x * x + y * y)))
    return lon, lat


_UZ_ARR = np.array(_U_AXIS_Z)
_VZ_ARR = np.array(_V_AXIS_Z)


def cell_rect_bounds_vec(face, i_lo, j_lo, level: int):
    """Vectorized exact lat/lng outer bounds of many SAME-LEVEL cells.

    Returns ``(lat_lo, lat_hi, s1_lo, s1_hi, s2_lo, s2_hi)`` arrays in
    degrees — the second longitude segment is NaN unless the shorter arc
    wraps the dateline; polar-closure / ambiguous-half-circle cells get
    the full span in segment 1.  The per-level BFS calls this once per
    level instead of once per node (the per-node scalar version was the
    covering build's hot spot)."""
    if level < 1:
        raise ValueError("vectorized bounds are for level >= 1 (faces use _FACE_BOUNDS)")
    face = np.asarray(face, dtype=np.int64)
    i_lo = np.asarray(i_lo, dtype=np.int64)
    j_lo = np.asarray(j_lo, dtype=np.int64)
    size = 1 << (MAX_LEVEL - level)
    scale = 1.0 / (1 << MAX_LEVEL)
    u_lo = st_to_uv(i_lo * scale)
    u_hi = st_to_uv((i_lo + size) * scale)
    v_lo = st_to_uv(j_lo * scale)
    v_hi = st_to_uv((j_lo + size) * scale)

    # published vertex-pair selection: which u/v endpoint attains the
    # latitude extreme depends on the sign of the cell center along the
    # axis whose unit vector has a z-component (else the negative side)
    uz = _UZ_ARR[face]
    vz = _VZ_ARR[face]
    u_sum = u_lo + u_hi
    v_sum = v_lo + v_hi
    i_sel = np.where(uz == 0.0, u_sum < 0, u_sum > 0)
    j_sel = np.where(vz == 0.0, v_sum < 0, v_sum > 0)
    u_i = np.where(i_sel, u_hi, u_lo)      # uu[i_sel]
    u_ni = np.where(i_sel, u_lo, u_hi)     # uu[1-i_sel]
    v_j = np.where(j_sel, v_hi, v_lo)
    v_nj = np.where(j_sel, v_lo, v_hi)

    n = face.size
    f4 = np.concatenate([face, face, face, face])
    us = np.concatenate([u_i, u_ni, u_i, u_ni])
    vs = np.concatenate([v_j, v_nj, v_nj, v_j])
    lons, lats = _face_uv_to_lonlat_deg(f4, us, vs)
    lat_a, lat_b = lats[:n], lats[n : 2 * n]      # (i,j), (1-i,1-j)
    lng_a, lng_b = lons[2 * n : 3 * n], lons[3 * n :]  # (i,1-j), (1-i,j)

    lat_lo = np.minimum(lat_a, lat_b) - _EPS_DEG
    lat_hi = np.maximum(lat_a, lat_b) + _EPS_DEG
    polar = (lat_hi >= 90.0 - _EPS_DEG) | (lat_lo <= -90.0 + _EPS_DEG)

    a = np.minimum(lng_a, lng_b)
    b = np.maximum(lng_a, lng_b)
    span = b - a
    ambiguous = np.abs(span - 180.0) <= 1e-9
    wraps = (span > 180.0) & ~ambiguous
    full = polar | ambiguous

    s1_lo = np.where(full, -180.0, np.where(wraps, -180.0, np.maximum(a - _EPS_DEG, -180.0)))
    s1_hi = np.where(full, 180.0, np.where(wraps, a + _EPS_DEG, np.minimum(b + _EPS_DEG, 180.0)))
    s2_lo = np.where(wraps & ~full, b - _EPS_DEG, np.nan)
    s2_hi = np.where(wraps & ~full, 180.0, np.nan)
    return (
        np.maximum(lat_lo, -90.0), np.minimum(lat_hi, 90.0),
        s1_lo, s1_hi, s2_lo, s2_hi,
    )


def cell_rect_segments(face: int, i_lo: int, j_lo: int, level: int):
    """Exact lat/lng outer bound of ONE cell as plane rectangles —
    scalar convenience wrapper over :func:`cell_rect_bounds_vec`.

    Returns ``(lat_lo, lat_hi, [(lng_lo, lng_hi), ...])`` in degrees;
    a dateline-wrapping longitude interval arrives pre-split into two
    segments, and pole-touching cells get the full longitude span
    (polar closure).
    """
    if level == 0:
        return _FACE_BOUNDS[face]
    lat_lo, lat_hi, s1l, s1h, s2l, s2h = cell_rect_bounds_vec(
        np.array([face]), np.array([i_lo]), np.array([j_lo]), level
    )
    segs: List[Tuple[float, float]] = [(float(s1l[0]), float(s1h[0]))]
    if not math.isnan(s2l[0]):
        segs.append((float(s2l[0]), float(s2h[0])))
    return float(lat_lo[0]), float(lat_hi[0]), segs


def pick_covering_level(mp: MultiPolygon, target_cells_per_axis: int = 8,
                        min_level: int = 2, max_level: int = 14) -> int:
    """Level whose ~(90°/2^k) cell side splits the region into about
    ``target_cells_per_axis`` cells per axis (PipIndex's adaptive-lattice
    rule transplanted to the S2 hierarchy).

    The extent is taken from the LARGEST polygon part, not the
    multipolygon bbox: a dateline region chopped to [-180,180] has a
    full-circle bbox but two modest parts — sizing off the bbox would
    pick a uselessly coarse level for it."""
    extent = 1e-9
    for poly in mp:
        l, b, r, t = polygon_bbox(poly)
        extent = max(extent, r - l, t - b)
    k = int(round(math.log2(90.0 * target_cells_per_axis / extent)))
    return max(min_level, min(max_level, k))


def rect_parts(mp: MultiPolygon) -> list:
    """``[(poly, part_bbox, is_rect)]`` — per-part bbox + exact-rectangle
    detection.  A simple single-ring part whose shoelace area equals its
    bbox area IS its bbox (containment + equal measure), so intersect
    tests against it collapse to float compares; the exact
    rect-vs-polygon clip runs only for genuinely non-rect parts.  This is
    what makes a few-hundred-region covering build a sub-second driver
    step instead of seconds of ring clipping.  ONE definition shared by
    both coverers and the rect rule of all three PIP indexes
    (``operators.pip._rect_info``) — the rect rule must not diverge
    between them (a part classified rect here passes the join by
    bbox predicate alone downstream).
    """
    parts = []
    for poly in mp:
        pb = polygon_bbox(poly)
        is_rect = (
            len(poly) == 1
            and ring_area(as_ring(poly[0])) == (pb[2] - pb[0]) * (pb[3] - pb[1])
        )
        parts.append((poly, pb, is_rect))
    return parts


def make_hits(parts: list):
    """Closure testing whether a closed lon/lat rect intersects any part
    (bbox prune → rect fast path → exact clip); operand of both coverers'
    BFS keep-tests."""

    def _hits(lo: float, la_lo: float, hi: float, la_hi: float) -> bool:
        for poly, (pl, pb_, pr, pt), is_rect in parts:
            if lo > pr or hi < pl or la_lo > pt or la_hi < pb_:
                continue
            if is_rect or rect_closed_intersects(poly, lo, la_lo, hi, la_hi):
                return True
        return False

    return _hits


def _rect_pokes_outside(mp: MultiPolygon, l: float, b: float, r: float, t: float) -> bool:
    """True unless the CLOSED rect is clearly strictly inside ``mp``.

    Conservative Liang–Barsky sweep: if any ring segment clips into the
    eps-expanded rect, or the rect center is not strictly interior, the
    rect is treated as boundary.  Only a clear interior verdict lets a
    covering cell skip the exact PIP refine — misclassifying interior as
    boundary costs refine rows, never correctness."""
    cx, cy = (l + r) / 2.0, (b + t) / 2.0
    if not bool(points_strictly_inside_multi(np.array([cx]), np.array([cy]), mp)[0]):
        return True
    eps = 1e-9
    le, be, re_, te = l - eps, b - eps, r + eps, t + eps
    for poly in mp:
        for raw in poly:
            ring = as_ring(raw)
            n = len(ring)
            for s in range(n):
                x0, y0 = ring[s]
                x1, y1 = ring[(s + 1) % n]
                # Liang–Barsky: does segment (x0,y0)-(x1,y1) hit the rect?
                dx, dy = x1 - x0, y1 - y0
                t0, t1 = 0.0, 1.0
                ok = True
                for p, q in ((-dx, x0 - le), (dx, re_ - x0), (-dy, y0 - be), (dy, te - y0)):
                    if p == 0.0:
                        if q < 0.0:
                            ok = False
                            break
                    else:
                        rt = q / p
                        if p < 0.0:
                            if rt > t1:
                                ok = False
                                break
                            if rt > t0:
                                t0 = rt
                        else:
                            if rt < t0:
                                ok = False
                                break
                            if rt < t1:
                                t1 = rt
                if ok:
                    return True
    return False


def s2_covering(mp: MultiPolygon, level: int):
    """Conservative covering of ``mp`` by level-``level`` S2 cells.

    Returns ``(cell_ids, interior)`` — int64 cell ids at ``level`` and a
    boolean mask marking cells whose rect bound is strictly inside the
    region (their join candidates need no PIP refine).  Every level-
    ``level`` cell that intersects ``mp`` is present (plus boundary-band
    over-cover from the rect outer bounds — removed downstream by the
    exact refine).
    """
    bl, bb, br, bt = multipolygon_bbox(mp)

    parts = rect_parts(mp)
    _hits = make_hits(parts)

    # BFS over (face, i_lo, j_lo) nodes, level by level; rect bounds are
    # computed VECTORIZED per level (the per-node scalar version was the
    # build's hot spot), with a vectorized multipolygon-bbox prune so the
    # per-node python test only runs on bbox-surviving nodes
    nodes = [(f, 0, 0) for f in range(6)]
    for k in range(0, level + 1):
        kept = []
        if k == 0:
            for face, i_lo, j_lo in nodes:
                lat_lo, lat_hi, segs = _FACE_BOUNDS[face]
                if lat_lo > bt or lat_hi < bb:
                    continue
                if any(lo <= br and hi >= bl and _hits(lo, lat_lo, hi, lat_hi)
                       for lo, hi in segs):
                    kept.append((face, i_lo, j_lo))
        else:
            faces = np.array([t[0] for t in nodes], dtype=np.int64)
            iis = np.array([t[1] for t in nodes], dtype=np.int64)
            jjs = np.array([t[2] for t in nodes], dtype=np.int64)
            la_lo, la_hi, s1l, s1h, s2l, s2h = cell_rect_bounds_vec(faces, iis, jjs, k)
            cand = (la_lo <= bt) & (la_hi >= bb) & (
                ((s1l <= br) & (s1h >= bl))
                | (~np.isnan(s2l) & (s2l <= br) & (s2h >= bl))
            )
            for idx in np.flatnonzero(cand):
                node = nodes[idx]
                ok = (s1l[idx] <= br and s1h[idx] >= bl
                      and _hits(s1l[idx], la_lo[idx], s1h[idx], la_hi[idx]))
                if not ok and not np.isnan(s2l[idx]):
                    ok = (s2l[idx] <= br and s2h[idx] >= bl
                          and _hits(s2l[idx], la_lo[idx], s2h[idx], la_hi[idx]))
                if ok:
                    kept.append(node)
        if k == level:
            nodes = kept
            break
        half = 1 << (MAX_LEVEL - k - 1)
        nodes = [
            (f, i + di, j + dj)
            for f, i, j in kept
            for di in (0, half)
            for dj in (0, half)
        ]

    if not nodes:
        return np.empty(0, dtype=np.int64), np.empty(0, dtype=bool)

    faces = np.array([n[0] for n in nodes], dtype=np.int64)
    iis = np.array([n[1] for n in nodes], dtype=np.int64)
    jjs = np.array([n[2] for n in nodes], dtype=np.int64)
    if level == 0:
        # face cells: cell_rect_bounds_vec is level ≥ 1 only, and a face
        # cell always refines (every face rect either wraps in longitude
        # or touches a pole), matching the budgeted coverer's k == 0 rule
        return parent_id(fij_to_id(faces, iis, jjs), 0), np.zeros(len(nodes), dtype=bool)
    la_lo, la_hi, s1l, s1h, s2l, s2h = cell_rect_bounds_vec(faces, iis, jjs, level)
    interior = np.zeros(len(nodes), dtype=bool)
    # wrapped/polar cells (two segments or full span) always refine
    simple = np.isnan(s2l) & ~((s1l <= -180.0) & (s1h >= 180.0))
    # fast path: a cell strictly inside a RECT hole-free part is interior
    # by pure float compares — strict containment in one part's interior
    # implies strict containment in the union, whatever the other parts'
    # boundaries do.  Only cells failing that pay the python sweep.
    rect_in = np.zeros(len(nodes), dtype=bool)
    for poly, (pl, pb_, pr, pt), is_rect in parts:
        if is_rect:
            rect_in |= (s1l > pl) & (s1h < pr) & (la_lo > pb_) & (la_hi < pt)
    interior[simple & rect_in] = True
    for idx in np.flatnonzero(simple & ~rect_in):
        interior[idx] = not _rect_pokes_outside(
            mp, float(s1l[idx]), float(la_lo[idx]), float(s1h[idx]), float(la_hi[idx])
        )

    ids = parent_id(fij_to_id(faces, iis, jjs), level)
    return ids, interior


def s2_covering_budgeted(mp: MultiPolygon, max_cells: int = 64,
                         max_level: int = 18):
    """MIXED-LEVEL conservative covering under a cell budget — the
    S2RegionCoverer shape (published coverer semantics: repeatedly split
    the coarsest intersecting cell while the projected count stays
    within ``max_cells``), for joining tables keyed at heterogeneous S2
    levels or bounding broadcast size on oddly-shaped regions.

    Returns ``(cell_ids, interior)`` like :func:`s2_covering`, but ids
    carry their own levels (read them back with
    :func:`..geom.s2.cell_level`).  Same conservativeness argument: a
    cell is dropped only when its exact rect outer bound cannot touch
    the region, so every region point stays covered at every split.
    """
    bl, bb, br, bt = multipolygon_bbox(mp)
    _hits = make_hits(rect_parts(mp))

    def _segs(face, i_lo, j_lo, k):
        lat_lo, lat_hi, segs = cell_rect_segments(face, i_lo, j_lo, k)
        return lat_lo, lat_hi, segs

    def _intersects(face, i_lo, j_lo, k) -> bool:
        lat_lo, lat_hi, segs = _segs(face, i_lo, j_lo, k)
        if lat_lo > bt or lat_hi < bb:
            return False
        return any(lo <= br and hi >= bl and _hits(lo, lat_lo, hi, lat_hi)
                   for lo, hi in segs)

    # (face, i_lo, j_lo, level) intersecting cells; split coarsest-first.
    # A cell whose split would bust the budget is FROZEN (kept as-is) and
    # the sweep moves on: another cell at the same or deeper level may
    # have fewer intersecting children and still split within budget —
    # coarsest-first ordering alone does not make the first bust terminal.
    cells = [(f, 0, 0, 0) for f in range(6) if _intersects(f, 0, 0, 0)]
    frozen: set = set()
    while True:
        live = [(c[3], i) for i, c in enumerate(cells)
                if c[3] < max_level and i not in frozen]
        if not live:
            break
        _, idx = min(live)
        face, i_lo, j_lo, k = cells[idx]
        half = 1 << (MAX_LEVEL - k - 1)
        children = [
            (face, i_lo + di, j_lo + dj, k + 1)
            for di in (0, half)
            for dj in (0, half)
            if _intersects(face, i_lo + di, j_lo + dj, k + 1)
        ]
        if len(cells) - 1 + len(children) > max_cells:
            frozen.add(idx)
            continue
        cells = cells[:idx] + cells[idx + 1 :] + children
        # replacement shifts indices past idx down by one and appends the
        # children at the tail; remap the frozen markers accordingly
        frozen = {i if i < idx else i - 1 for i in frozen}

    if not cells:
        return np.empty(0, dtype=np.int64), np.empty(0, dtype=bool)

    interior = np.zeros(len(cells), dtype=bool)
    ids = np.empty(len(cells), dtype=np.int64)
    for n_, (face, i_lo, j_lo, k) in enumerate(cells):
        ids[n_] = int(parent_id(fij_to_id(
            np.array([face]), np.array([i_lo]), np.array([j_lo])), k)[0])
        if k == 0:
            continue
        lat_lo, lat_hi, segs = _segs(face, i_lo, j_lo, k)
        if len(segs) != 1 or (segs[0][0] <= -180.0 and segs[0][1] >= 180.0):
            continue  # wrapped/full-span cells always refine
        lo, hi = segs[0]
        interior[n_] = not _rect_pokes_outside(mp, lo, lat_lo, hi, lat_hi)
    return ids, interior
