"""Dense-cell local-index kNN (PERF.md §15): the per-cell numpy fine-grid
pass must be row-identical to the pure ring-join plan, in unsalted and
salted forms, including the halo-escape path back into ring escalation."""

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from datacube_core_spark.geom.grid import GridSpec
from datacube_core_spark.operators.knn import _make_local_knn_kernel, knn_join
from datacube_core_spark.sources.pages import pages

from .conftest import SF_TINY

GRID = GridSpec("EPSG:4326", tile_size=(1.0, 1.0), resolution=(-0.01, 0.01))


def _rows(df):
    return {tuple(r) for r in df.collect()}


@pytest.fixture(scope="module")
def pages_df(spark):
    return (
        pages(spark, SF_TINY, repl=16)
        .select("doc_id", "lon", "lat")
        .localCheckpoint(eager=True)
    )


def test_local_index_rows_identical(spark, pages_df):
    """Forcing EVERY occupied query tile through the local pass (cutoff 0)
    must reproduce the ring-join plan row-for-row — same ids, same
    dist_sq doubles, same ranks, same exact flags."""
    q = pages_df.where(F.col("doc_id") % 101 == 0).select(
        F.col("doc_id").alias("qid"), "lon", "lat"
    )
    base = knn_join(pages_df, q, GRID, k=5, broadcast_queries=False, local_index_pairs=None)
    loc = knn_join(pages_df, q, GRID, k=5, broadcast_queries=False, local_index_pairs=0)
    assert _rows(base) == _rows(loc)


def test_local_index_salted_rows_identical(spark, pages_df):
    """Query-salted dense groups (memory/parallelism bound) change the
    grouping only — never the answer."""
    q = pages_df.where(F.col("doc_id") % 101 == 0).select(
        F.col("doc_id").alias("qid"), "lon", "lat"
    )
    base = knn_join(pages_df, q, GRID, k=5, broadcast_queries=False, local_index_pairs=None)
    salted = knn_join(
        pages_df, q, GRID, k=5, broadcast_queries=False,
        local_index_pairs=0, local_max_group_queries=3,
    )
    assert _rows(base) == _rows(salted)


def test_local_index_broadcast_mode_identical(spark, pages_df):
    q = pages_df.where(F.col("doc_id") % 251 == 0).select(
        F.col("doc_id").alias("qid"), "lon", "lat"
    )
    base = knn_join(pages_df, q, GRID, k=3, local_index_pairs=None)
    loc = knn_join(pages_df, q, GRID, k=3, local_index_pairs=0)
    assert _rows(base) == _rows(loc)


def test_halo_escape_reenters_ring_escalation(spark):
    """A dense cell NEXT TO an empty neighborhood: queries whose k-th
    neighbour lies beyond the r0 halo must come back from the local pass
    unresolved and get exact answers from the distributed escalation —
    identical to the ring-only plan."""
    # 200 pages packed into cell (0,0); k=5 nearest for the corner query
    # set includes pages only after ring escalation past r0 for the far
    # queries planted 3 cells away (their own cell + halo are EMPTY)
    rows = [(i, 0.1 + (i % 20) * 0.04, 0.1 + (i // 20) * 0.08) for i in range(200)]
    p = spark.createDataFrame(rows, "doc_id LONG, lon DOUBLE, lat DOUBLE")
    q_rows = [(1000 + j, 0.3 + j * 0.001, 0.5) for j in range(40)]  # inside dense cell
    q_rows += [(2000 + j, 3.5 + j * 0.01, 3.5) for j in range(5)]  # far: empty halo
    q = spark.createDataFrame(q_rows, "qid LONG, lon DOUBLE, lat DOUBLE")
    base = knn_join(p, q, GRID, k=5, broadcast_queries=False, local_index_pairs=None)
    loc = knn_join(p, q, GRID, k=5, broadcast_queries=False, local_index_pairs=10)
    assert _rows(base) == _rows(loc)
    # sanity: far queries resolved (non-exact impossible here — pages exist
    # within max_r) and each query has exactly k rows
    out = loc.groupBy("qid").agg(F.count("*").alias("n")).collect()
    assert all(r["n"] == 5 for r in out)


def test_kernel_tie_break_matches_window_semantics():
    """Equal-distance candidates order by id — including ties that
    straddle the argpartition boundary (the risky-row fallback)."""
    k = 3
    kernel = _make_local_knn_kernel(k, guard_sq=1e18)
    # 30 pages at distance EXACTLY 1.0 from the query, ids shuffled, plus
    # 10 farther pages — top-3 must be the three LOWEST ids at dist 1.0
    ids = list(range(100, 130))
    rng = np.random.RandomState(7)
    rng.shuffle(ids)
    px, py = [], []
    for i in range(30):
        ang = 2 * np.pi * i / 30
        px.append(float(np.cos(ang)))
        py.append(float(np.sin(ang)))
    pages_rows = [
        {"role": 0, "qid": None, "doc_id": ids[i], "x": px[i], "y": py[i]}
        for i in range(30)
    ] + [
        {"role": 0, "qid": None, "doc_id": 500 + i, "x": 10.0 + i, "y": 0.0}
        for i in range(10)
    ]
    q_row = [{"role": 1, "qid": 1, "doc_id": None, "x": 0.0, "y": 0.0}]
    pdf = pd.DataFrame(pages_rows + q_row)
    out = kernel(pdf)
    got = out[out["resolved"]].sort_values("rank")
    # dist computed as cos²+sin² is not exactly 1.0 for every angle; the
    # contract under test is (dist, id) ordering — recompute expected
    dists = [(px[i] * px[i] + py[i] * py[i], ids[i]) for i in range(30)]
    expected = [d[1] for d in sorted(dists)[:k]]
    assert got["doc_id"].tolist() == expected


def test_int64_ids_above_2_53_survive_the_kernel(spark):
    """Review finding: NULL cross-role id columns made Arrow hand the
    kernel float64, corrupting ids above 2^53.  The non-null sentinel
    keeps int64 exact — ids one apart at 2^53 must come back verbatim
    with the correct (dist, id) tie-break."""
    base = 1 << 53
    rows = [(base + i, 10.0 + (i % 3) * 1e-9, 10.0) for i in range(1, 7)]
    p = spark.createDataFrame(rows, "doc_id LONG, lon DOUBLE, lat DOUBLE")
    q = spark.createDataFrame(
        [(base + 100, 10.0, 10.0)], "qid LONG, lon DOUBLE, lat DOUBLE"
    )
    out = knn_join(p, q, GRID, k=3, broadcast_queries=False, local_index_pairs=0)
    got = sorted((r["qid"], r["doc_id"]) for r in out.collect())
    assert all(qid == base + 100 for qid, _ in got)
    ids = [d for _, d in got]
    assert all(isinstance(d, int) and d > base for d in ids)
    # distances tie in groups of (i%3); tie-break is ascending id
    ring = knn_join(p, q, GRID, k=3, broadcast_queries=False, local_index_pairs=None)
    assert {tuple(r) for r in ring.collect()} == {tuple(r) for r in out.collect()}


def test_kernel_fewer_than_k_pages_pends():
    kernel = _make_local_knn_kernel(5, guard_sq=1e18)
    pdf = pd.DataFrame(
        [{"role": 0, "qid": None, "doc_id": 1, "x": 0.0, "y": 0.0}]
        + [{"role": 1, "qid": 9, "doc_id": None, "x": 0.1, "y": 0.1}]
    )
    out = kernel(pdf)
    assert not out["resolved"].any()
    assert out["qid"].tolist() == [9]
    assert out["q_lon"].tolist() == [0.1]


def test_kernel_guard_rejection_pends():
    """k-th dist at/over the r0 guard → unresolved (strict <)."""
    kernel = _make_local_knn_kernel(2, guard_sq=1.0)
    pdf = pd.DataFrame(
        [
            {"role": 0, "qid": None, "doc_id": 1, "x": 0.1, "y": 0.0},
            {"role": 0, "qid": None, "doc_id": 2, "x": 2.0, "y": 0.0},  # dist_sq 4 > guard
            {"role": 1, "qid": 9, "doc_id": None, "x": 0.0, "y": 0.0},
        ]
    )
    out = kernel(pdf)
    assert not out["resolved"].any()


def test_local_index_custom_id_col(spark, pages_df):
    """ADVICE r5: the local-index kernel names its id column 'doc_id'
    internally; a caller passing a non-default id_col must get identical
    rows (the rename seam), not an analysis error."""
    p = pages_df.withColumnRenamed("doc_id", "page_id")
    q = pages_df.where(F.col("doc_id") % 101 == 0).select(
        F.col("doc_id").alias("qid"), "lon", "lat"
    )
    base = knn_join(
        pages_df, q, GRID, k=5, broadcast_queries=False, local_index_pairs=None
    )
    loc = knn_join(
        p, q, GRID, k=5, id_col="page_id",
        broadcast_queries=False, local_index_pairs=0,
    )
    assert loc.columns == ["qid", "page_id", "dist_sq", "rank", "exact"]
    assert _rows(base) == _rows(loc)


def test_subcell_split_rows_identical(spark, pages_df):
    """Forcing the oversized-halo SUB-CELL path (tiny local_max_halo_pages
    so every dense tile's halo 'exceeds memory') must reproduce the ring
    join row-for-row — same ids, dist_sq doubles, ranks, exact flags."""
    q = pages_df.where(F.col("doc_id") % 101 == 0).select(
        F.col("doc_id").alias("qid"), "lon", "lat"
    )
    base = knn_join(pages_df, q, GRID, k=5, broadcast_queries=False, local_index_pairs=None)
    split = knn_join(
        pages_df, q, GRID, k=5, broadcast_queries=False,
        local_index_pairs=0, local_max_halo_pages=50,
    )
    assert _rows(base) == _rows(split)


def test_subcell_split_salted_and_custom_id(spark, pages_df):
    """Sub-cell path with BOTH bounds tight (queries per group and halo
    pages) and a non-default id_col: still row-identical."""
    p = pages_df.withColumnRenamed("doc_id", "page_id")
    q = pages_df.where(F.col("doc_id") % 101 == 0).select(
        F.col("doc_id").alias("qid"), "lon", "lat"
    )
    base = knn_join(pages_df, q, GRID, k=5, broadcast_queries=False, local_index_pairs=None)
    split = knn_join(
        p, q, GRID, k=5, id_col="page_id", broadcast_queries=False,
        local_index_pairs=0, local_max_halo_pages=50, local_max_group_queries=3,
    )
    assert split.columns == ["qid", "page_id", "dist_sq", "rank", "exact"]
    assert _rows(base) == _rows(split)


def test_subcell_split_mixed_with_salted_tiles(spark, pages_df):
    """A halo bound that sends only SOME dense tiles down the sub-cell
    path (the rest stay on the salted tile-level pass): the two local
    passes plus escalation must still union to the exact answer."""
    q = pages_df.where(F.col("doc_id") % 251 == 0).select(
        F.col("doc_id").alias("qid"), "lon", "lat"
    )
    base = knn_join(pages_df, q, GRID, k=3, broadcast_queries=False, local_index_pairs=None)
    # pick a bound between the smallest and largest per-tile halo count so
    # the dense set genuinely splits into both kinds
    from pyspark.sql import functions as SF
    counts = (
        pages_df.groupBy(SF.floor(SF.col("lon")).alias("tx"), SF.floor(SF.col("lat")).alias("ty"))
        .count().agg(SF.expr("percentile(count, 0.5)")).collect()[0][0]
    )
    mixed = knn_join(
        pages_df, q, GRID, k=3, broadcast_queries=False,
        local_index_pairs=0, local_max_halo_pages=int(counts * 3),
    )
    assert _rows(base) == _rows(mixed)


def test_subcell_split_halo_escape(spark):
    """A dense cell NEXT TO an empty neighborhood under the sub-cell
    path: queries whose k-th neighbour lies beyond the SUB-ring guard
    must escalate and still come back exact."""

    pts = [(i, 0.05 + (i % 7) * 0.01, 0.05 + (i // 7) * 0.01) for i in range(49)]
    far = [(100 + i, 5.5 + i * 0.3, 5.5) for i in range(4)]
    p = spark.createDataFrame(pts + far, "doc_id LONG, lon DOUBLE, lat DOUBLE")
    q = spark.createDataFrame(
        [(0, 0.08, 0.08), (1, 5.45, 5.5)], "qid LONG, lon DOUBLE, lat DOUBLE"
    )
    base = knn_join(p, q, GRID, k=5, broadcast_queries=False, local_index_pairs=None)
    split = knn_join(
        p, q, GRID, k=5, broadcast_queries=False,
        local_index_pairs=0, local_max_halo_pages=10,
    )
    assert _rows(base) == _rows(split)


def test_subcell_split_adjacent_dense_tiles_on_borders(spark, monkeypatch):
    """Second halo shape for the sub-cell split: two ADJACENT dense tiles
    split at s = 3, with pages on a lattice that puts points exactly on
    every sub-cell and tile border, and queries on those borders, so the
    3×3 sub-rings of the border sub-cells reach into the neighbouring
    dense tile.  Row-identical to the ring-join plan."""
    import datacube_core_spark.operators.knn as knn_mod

    # 24 × 12 lattice at 1/12 spacing over tiles (0,0) and (1,0): x = i/12
    # hits the sub-cell borders 1/3, 2/3, 4/3, 5/3 and the tile border 1.0
    n = 24 * 12
    rows = [
        ((i * 37) % n, (i % 24) / 12.0, (i // 24) / 12.0) for i in range(n)
    ]
    p = spark.createDataFrame(rows, "doc_id LONG, lon DOUBLE, lat DOUBLE")
    q_rows = [
        (0, 1.0, 0.5),            # on the tile border
        (1, 1.0 / 3, 1.0 / 3),    # sub-cell corner in tile (0,0)
        (2, 2.0 / 3, 0.5),        # last sub-cell border before the tile border
        (3, 0.99, 0.5),           # next to the tile border, nearest pages across it
        (4, 1.01, 2.0 / 3),       # mirror, from tile (1,0)
        (5, 4.0 / 3, 11.0 / 12),  # sub-cell border in tile (1,0), top row
        (6, 5.0 / 3, 0.0),        # sub-cell border on the bottom edge
        (7, 0.0, 0.0),            # tile corner
        (8, 1.0, 0.0),            # shared corner of both dense tiles
        (9, 1.0 + 1.0 / 24, 1.0 / 24),
    ]
    q = spark.createDataFrame(q_rows, "qid LONG, lon DOUBLE, lat DOUBLE")

    seen = []
    real = knn_mod._local_pass

    def spy(spark_, pending, pages_t, grid, dense, dense_df, s, *a, **kw):
        seen.append((sorted(dense), s))
        return real(spark_, pending, pages_t, grid, dense, dense_df, s, *a, **kw)

    monkeypatch.setattr(knn_mod, "_local_pass", spy)
    base = knn_join(p, q, GRID, k=5, broadcast_queries=False, local_index_pairs=None)
    # both tiles' 3×3 halos hold all n pages: (n-1)//32 = 8 → s = isqrt(8)+1 = 3
    split = knn_join(
        p, q, GRID, k=5, broadcast_queries=False,
        local_index_pairs=0, local_max_halo_pages=n // 9,
    )
    got = _rows(split)
    assert seen == [([(0, 0), (1, 0)], 3)]
    assert got == _rows(base)
    assert len(got) == 5 * len(q_rows)


def test_mixed_dense_set_runs_one_local_pass(spark, pages_df, monkeypatch):
    """A dense set whose halos straddle ``local_max_halo_pages`` (the split
    of ``test_subcell_split_mixed_with_salted_tiles``) runs ONE pandas
    group pass: the checkpointed local-pass frame has exactly one
    FlatMapGroupsInPandas node in its executed plan."""
    q = pages_df.where(F.col("doc_id") % 251 == 0).select(
        F.col("doc_id").alias("qid"), "lon", "lat"
    )
    counts = (
        pages_df.groupBy(F.floor(F.col("lon")).alias("tx"), F.floor(F.col("lat")).alias("ty"))
        .count().agg(F.expr("percentile(count, 0.5)")).collect()[0][0]
    )
    bound = int(counts * 3)
    # the shape must really be mixed: some query tile's 3×3 page halo
    # fits the bound and some other one exceeds it
    tiles = pages_df.select(
        F.floor("lon").cast("int").alias("tx"), F.floor("lat").cast("int").alias("ty")
    ).groupBy("tx", "ty").count().collect()
    tc = {(r["tx"], r["ty"]): r["count"] for r in tiles}
    qt = {
        (r["tx"], r["ty"])
        for r in q.select(
            F.floor("lon").cast("int").alias("tx"), F.floor("lat").cast("int").alias("ty")
        ).distinct().collect()
    }
    halos = [
        sum(tc.get((x + dx, y + dy), 0) for dx in (-1, 0, 1) for dy in (-1, 0, 1))
        for x, y in qt
    ]
    assert min(halos) <= bound < max(halos)

    plans = []
    cls = type(pages_df)
    real = cls.localCheckpoint

    def spy(self, eager=True, *a, **kw):
        out = real(self, eager, *a, **kw)
        if eager:
            plan = self._jdf.queryExecution().executedPlan().toString()
            current = plan.split("Initial Plan")[0]
            if "FlatMapGroupsInPandas" in current:
                plans.append(current)
        return out

    monkeypatch.setattr(cls, "localCheckpoint", spy)
    knn_join(
        pages_df, q, GRID, k=3, broadcast_queries=False,
        local_index_pairs=0, local_max_halo_pages=bound,
    ).collect()
    assert len(plans) == 1
    assert plans[0].count("FlatMapGroupsInPandas") == 1
