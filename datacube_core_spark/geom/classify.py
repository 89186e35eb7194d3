"""Driver-side subcell classification for JVM-pushdown PIP joins.

:func:`classify_subcells` is the coverer of ``PipIndex``'s lattice: it
classifies the subcell grid under a region's bbox, so the engine keeps
point-in-polygon evaluation out of Python for the vast majority of rows
(the Arrow JVM↔Python boundary is a hard throughput ceiling — measured
~4M rows/s in this sandbox regardless of cores — so rows crossing it must
be minimized; this is also just good 100 TB design: predicates that
Catalyst can evaluate stay in codegen).

Subcells whose closed extent is strictly inside the polygon ("full")
match without any geometric test; only subcells touched by a polygon
edge ("boundary") need the exact numpy refine kernel — or, for an
axis-rect region (the ``rect_parts`` rule in ``geom.s2cover``, covered at
tile size), a strict bbox compare.  Soundness: a subcell not crossed by
any edge and with all 4 corners strictly interior lies entirely in the
interior (the boundary can only enter a cell through an edge).
Edge-touched cells are found with an exact parametric supercover (all
cells a segment passes through), so there are no false "full" cells even
when edges coincide with subcell gridlines.

This mirrors the interval/partial-cover indexing idea from the spatial
join literature (PAPERS.md raster-intervals-style filter–refine) applied
to ODC's GridSpec arithmetic.
"""

from __future__ import annotations

from typing import Tuple

import numpy as np

from .polygon import (
    MultiPolygon,
    as_ring,
    multipolygon_bbox,
    points_strictly_inside_multi,
)


def _supercover_cells(x1, y1, x2, y2, ox, oy, hx, hy=None) -> np.ndarray:
    """Exact set of (cx, cy) grid cells (origin ox/oy, per-axis sizes
    hx/hy) that the closed segment (x1,y1)-(x2,y2) passes through.
    Parametric: collect all t where the segment crosses a gridline, take
    cell at each interval midpoint; cells touched only at a point are
    covered by the corner-test in the caller."""
    if hy is None:
        hy = hx
    dx, dy = x2 - x1, y2 - y1
    ts = [0.0, 1.0]
    if dx != 0.0:
        k0 = np.ceil(min((x1 - ox) / hx, (x2 - ox) / hx))
        k1 = np.floor(max((x1 - ox) / hx, (x2 - ox) / hx))
        if k1 >= k0:
            ks = np.arange(k0, k1 + 1)
            ts.extend(((ox + ks * hx) - x1) / dx)
    if dy != 0.0:
        k0 = np.ceil(min((y1 - oy) / hy, (y2 - oy) / hy))
        k1 = np.floor(max((y1 - oy) / hy, (y2 - oy) / hy))
        if k1 >= k0:
            ks = np.arange(k0, k1 + 1)
            ts.extend(((oy + ks * hy) - y1) / dy)
    t = np.unique(np.clip(np.asarray(ts, dtype=np.float64), 0.0, 1.0))
    if len(t) < 2:
        t = np.array([0.0, 1.0])
    tm = (t[:-1] + t[1:]) * 0.5
    px = x1 + tm * dx
    py = y1 + tm * dy
    cx = np.floor((px - ox) / hx).astype(np.int64)
    cy = np.floor((py - oy) / hy).astype(np.int64)
    cells = np.stack([cx, cy], axis=1)
    # a segment lying exactly on a gridline touches both adjacent cells
    out = [cells]
    if dx == 0.0 and (x1 - ox) / hx == np.floor((x1 - ox) / hx):
        out.append(cells - np.array([1, 0]))
    if dy == 0.0 and (y1 - oy) / hy == np.floor((y1 - oy) / hy):
        out.append(cells - np.array([0, 1]))
    return np.unique(np.concatenate(out, axis=0), axis=0)


def classify_subcells(
    mp: MultiPolygon, ox: float, oy: float, hx: float, hy: float = None
) -> Tuple[np.ndarray, np.ndarray]:
    """Classify the subcell grid covering ``mp``'s bbox.

    Returns (full_cells, boundary_cells), each an (N, 2) int64 array of
    (cx, cy) subcell indices on the (ox, oy, hx, hy) lattice (``hy``
    defaults to ``hx`` — square subcells).

    * full: closed subcell strictly inside the polygon interior → a point
      in it matches with no further test.
    * boundary: subcell touched by a polygon edge (or with corners not
      strictly inside while overlapping) → needs exact refine.
    Subcells entirely outside appear in neither.
    """
    if hy is None:
        hy = hx
    l, b, r, t = multipolygon_bbox(mp)
    cx0 = int(np.floor((l - ox) / hx))
    cx1 = int(np.ceil((r - ox) / hx))
    cy0 = int(np.floor((b - oy) / hy))
    cy1 = int(np.ceil((t - oy) / hy))
    nx, ny = cx1 - cx0, cy1 - cy0
    if nx <= 0 or ny <= 0:
        return np.empty((0, 2), np.int64), np.empty((0, 2), np.int64)

    # corner lattice: (nx+1) x (ny+1) points, strict-interior PIP
    gx = ox + (cx0 + np.arange(nx + 1)) * hx
    gy = oy + (cy0 + np.arange(ny + 1)) * hy
    XX, YY = np.meshgrid(gx, gy, indexing="ij")
    inside = points_strictly_inside_multi(XX.ravel(), YY.ravel(), mp).reshape(nx + 1, ny + 1)
    # cell (i, j) corners: (i,j), (i+1,j), (i,j+1), (i+1,j+1)
    corners_ok = inside[:-1, :-1] & inside[1:, :-1] & inside[:-1, 1:] & inside[1:, 1:]

    # edge supercover
    touched = np.zeros((nx, ny), dtype=bool)
    for poly in mp:
        for raw in poly:
            ring = as_ring(raw)
            n = len(ring)
            for i in range(n):
                x1, y1 = ring[i]
                x2, y2 = ring[(i + 1) % n]
                cells = _supercover_cells(x1, y1, x2, y2, ox, oy, hx, hy)
                ii = cells[:, 0] - cx0
                jj = cells[:, 1] - cy0
                m = (ii >= 0) & (ii < nx) & (jj >= 0) & (jj < ny)
                touched[ii[m], jj[m]] = True

    full = corners_ok & ~touched
    # overlapping-but-not-full cells that could contain interior points:
    # any cell touched by an edge, or with some corner inside
    some_corner = inside[:-1, :-1] | inside[1:, :-1] | inside[:-1, 1:] | inside[1:, 1:]
    boundary = (touched | some_corner) & ~full

    fi, fj = np.nonzero(full)
    bi, bj = np.nonzero(boundary)
    full_cells = np.stack([fi + cx0, fj + cy0], axis=1).astype(np.int64)
    boundary_cells = np.stack([bi + cx0, bj + cy0], axis=1).astype(np.int64)
    return full_cells, boundary_cells
