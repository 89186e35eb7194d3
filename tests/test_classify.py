"""Soundness tests for the subcell classifier (geom/classify.py)."""

import numpy as np
import pytest

from datacube_core_spark.geom.classify import classify_subcells
from datacube_core_spark.geom.polygon import box_ring, points_strictly_inside_multi
from datacube_core_spark.sources.regions import regions_complex


def test_detect_axis_rect():
    """Axis-rect detection (the one rect rule of all three PIP indexes,
    which sends a region to level-0 lattice cells): the bbox of a rect;
    a hole, a second part, a triangle and a rotated square are not rects."""
    from datacube_core_spark.operators.pip import _rect_info

    assert _rect_info([[box_ring(0, 1, 5, 7)]]) == (True, (0.0, 1.0, 5.0, 7.0))
    assert _rect_info([[box_ring(0, 1, 5, 7), box_ring(1, 2, 3, 4)]])[0] is False  # hole
    assert _rect_info([[box_ring(0, 1, 5, 7)], [box_ring(8, 8, 9, 9)]])[0] is False  # multi
    tri = np.array([(0, 0), (4, 0), (2, 3)], dtype=float)
    assert _rect_info([[tri]])[0] is False
    rot = np.array([(0, 1), (1, 0), (2, 1), (1, 2)], dtype=float)
    assert _rect_info([[rot]])[0] is False


@pytest.mark.parametrize("name", sorted(regions_complex().keys()))
def test_classify_soundness_vs_bruteforce(name):
    """Every point in a 'full' subcell must be strictly inside; every
    strictly-inside point must land in a full or boundary subcell."""
    mp = regions_complex()[name]
    ox, oy, h = -180.0, -90.0, 0.5
    full, bnd = classify_subcells(mp, ox, oy, h)
    full_set = {(int(a), int(b)) for a, b in full}
    bnd_set = {(int(a), int(b)) for a, b in bnd}
    assert not (full_set & bnd_set)

    rng = np.random.default_rng(7)
    from datacube_core_spark.geom.polygon import multipolygon_bbox

    l, b, r, t = multipolygon_bbox(mp)
    xs = rng.uniform(l - 1, r + 1, 20000)
    ys = rng.uniform(b - 1, t + 1, 20000)
    inside = points_strictly_inside_multi(xs, ys, mp)
    cx = np.floor((xs - ox) / h).astype(int)
    cy = np.floor((ys - oy) / h).astype(int)
    for i in range(len(xs)):
        cell = (cx[i], cy[i])
        if cell in full_set:
            assert inside[i], f"{name}: point in full cell not inside polygon"
        elif inside[i]:
            assert cell in bnd_set, f"{name}: inside point in unclassified cell"


def test_classify_grid_aligned_edges():
    # edges exactly on the subcell gridlines: no cell adjacent to the
    # border may be classified full on the wrong side
    mp = [[box_ring(0.0, 0.0, 2.0, 2.0)]]
    full, bnd = classify_subcells(mp, -180.0, -90.0, 0.5)
    full_set = {(int(a), int(b)) for a, b in full}
    # subcell (360, 180) = [0, 0.5) x [0, 0.5): its corner (0,0) is ON the
    # boundary -> must not be full
    assert (360, 180) not in full_set
    # interior cell [0.5, 1.0) x [0.5, 1.0) -> full
    assert (361, 181) in full_set
