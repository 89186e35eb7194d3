"""kNN over grid-cell rings with guaranteed-exact escalation.

The reference's PostGIS driver answers proximity queries with a GIST
spatial index (SURVEY §2.3 "PostGIS spatial-index join" row); our
replacement is the cell-ring pattern: explode each query point to the
tiles within Chebyshev ring radius ``r``, equi-join pages on the tile id,
rank by distance within the query partition (SURVEY §2.5/§2.6: kNN =
``Window.orderBy(dist).row_number() <= k``).

Correctness guarantee: a page outside ring ``r`` of the query's tile is at
coordinate distance ≥ r·tile_size, so once the k-th candidate's distance is
≤ r·tile_size the answer is exact.  Queries that fail the guarantee are
re-run with doubled radius (driver-side loop over the shrinking remainder —
each pass is one distributed job, never a per-row loop), starting at r = 1.

Dense cells (PERF.md §15): a tile whose query count × 3×3-halo page count
exceeds ``local_index_pairs`` is answered before the ring loop by ONE
local pass, a per-cell numpy index in one applyInPandas group per
query-occupied cell.  The cell is the tile split s×s, with one factor s
per call derived from the largest dense halo (s = 1 when every halo fits
``local_max_halo_pages``); queries are salted into hash buckets to bound
group size and, at s = 1, to spread a few hot tiles over the cluster.
Queries the r=1 guarantee of their cell does not resolve rejoin the ring
escalation.

Determinism: ties broken by (dist_sq, doc_id) — row-for-row reproducible
and oracle-checkable (squared distance avoids sqrt and is bit-identical
between Spark and DuckDB on the same doubles).
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..frames import local_frame
from ..geom.grid import GridSpec
from .tiling import _axis_index, point_tile_cols


def _ring_offsets(spark, r: int) -> DataFrame:
    """All (dx, dy) with Chebyshev norm ≤ r."""
    offs = [(dx, dy) for dx in range(-r, r + 1) for dy in range(-r, r + 1)]
    return local_frame(spark, offs, "dx INT, dy INT")


# ---------------------------------------------------------------------------
# Dense-cell local-index pass (PERF.md §15): a tile whose query count ×
# ring-page count explodes (hot URL clusters put ~n×n co-located pairs in
# one cell, grid-size-invariant) is answered by a PER-CELL numpy fine-grid
# index inside one applyInPandas group instead of the n_q×n_p equi-join;
# an oversized page halo splits the tile into s×s sub-cells (PERF.md §21).
# ---------------------------------------------------------------------------


def _zero_lit(sql_type: str):
    """Non-null type-zero for the cross-role id columns of the dense-cell
    union (a page row's ``qid``, a query row's ``doc_id``).  NULLs would
    make Arrow hand the kernel a float64 (or object) column — int64 ids
    above 2^53 would silently lose precision and corrupt the (dist, id)
    tie-break; a never-read sentinel keeps the dtype exact."""
    t = sql_type.strip().lower()
    if t in ("string", "varchar"):
        return F.lit("")
    if t.startswith(("decimal", "char", "varchar")):
        return F.lit("0").cast(sql_type)
    return F.lit(0).cast(sql_type)


def _make_local_knn_kernel(k: int, guard_sq: float):
    """Build the applyInPandas kernel answering exact kNN inside one dense
    cell + page halo.

    Input group rows carry ``role`` (0=page, 1=query), ``qid``/``doc_id``,
    ``x``/``y``.  For each query the kernel computes the TRUE top-k over
    the halo page set (a numpy uniform fine grid with per-query block
    escalation — O(n log n) build, ~O(k) probe) and resolves it iff the
    distributed round-1 test would: ≥k candidates and k-th dist_sq
    strictly < ``guard_sq`` = (cell side)², the r=1 ring guarantee of the
    group's (sub-)cell.  Resolved rows are row-identical to the equi-join
    plan's output (same IEEE-754 op order ``(px-qx)²+(py-qy)²``, same
    strict guarantee, same (dist_sq, id) tie-break); unresolved queries
    come back as ``resolved=false`` marker rows and re-enter the
    distributed ring escalation.
    """

    def kernel(pdf):
        import numpy as np
        import pandas as pd

        role = pdf["role"].to_numpy()
        q = pdf[role == 1]
        p = pdf[role == 0]
        qid = q["qid"].to_numpy()
        qx = q["x"].to_numpy(dtype=np.float64)
        qy = q["y"].to_numpy(dtype=np.float64)
        pid = p["doc_id"].to_numpy()
        px = p["x"].to_numpy(dtype=np.float64)
        py = p["y"].to_numpy(dtype=np.float64)
        n_q, n_p = qid.size, pid.size

        rows_qid, rows_doc, rows_dist, rows_rank = [], [], [], []
        pend = np.zeros(n_q, dtype=bool)

        def finalize(q_idx, ids_2d, dists_2d, counts):
            """ids/dists: per-query halo-exact top-k (padded rows allowed —
            ``counts`` gives the true candidate count per query)."""
            for row, qi in enumerate(q_idx):
                m = counts[row]
                if m >= k and dists_2d[row, k - 1] < guard_sq:
                    rows_qid.extend([qid[qi]] * k)
                    rows_doc.extend(ids_2d[row, :k].tolist())
                    rows_dist.extend(dists_2d[row, :k].tolist())
                    rows_rank.extend(range(1, k + 1))
                else:
                    pend[qi] = True

        def topk_block(q_idx, cand):
            """Exact (dist_sq, id)-ordered top-k of queries ``q_idx`` over
            candidate page indices ``cand`` (chunked for memory)."""
            # pre-sort candidates by id: a STABLE argsort on dist alone
            # then yields (dist, id) order — vectorized tie-break
            cand = cand[np.argsort(pid[cand], kind="stable")]
            cpx, cpy, cid = px[cand], py[cand], pid[cand]
            m = min(k, cand.size)
            ids_out = np.empty((q_idx.size, m), dtype=cid.dtype)
            dist_out = np.empty((q_idx.size, m), dtype=np.float64)
            chunk = max(1, int(4_000_000 // max(1, cand.size)))
            for s in range(0, q_idx.size, chunk):
                sel = q_idx[s : s + chunk]
                dx = cpx[None, :] - qx[sel][:, None]
                dy = cpy[None, :] - qy[sel][:, None]
                dist = dx * dx + dy * dy
                if cand.size > 4 * k:
                    part = np.argpartition(dist, m - 1, axis=1)[:, :m]
                    pdist = np.take_along_axis(dist, part, axis=1)
                    # re-sort the partitioned slice by (dist, id): order
                    # column positions by id first, then stable-sort dist
                    id_order = np.argsort(
                        np.take(cid, part), axis=1, kind="stable"
                    )
                    part = np.take_along_axis(part, id_order, axis=1)
                    pdist = np.take_along_axis(pdist, id_order, axis=1)
                    o = np.argsort(pdist, axis=1, kind="stable")
                    # ties BEYOND the partition boundary: argpartition only
                    # guarantees the m smallest VALUES — an equal-dist,
                    # lower-id page can sit outside the slice.  Detect and
                    # fall back to the full sort for affected rows.
                    sorted_d = np.take_along_axis(pdist, o, axis=1)
                    kth = sorted_d[:, m - 1]
                    n_at_kth = (dist == kth[:, None]).sum(axis=1)
                    in_slice = (pdist == kth[:, None]).sum(axis=1)
                    risky = n_at_kth > in_slice
                    ids_c = np.take(cid, np.take_along_axis(part, o, axis=1))
                    dists_c = sorted_d
                    if risky.any():
                        full = np.argsort(dist[risky], axis=1, kind="stable")[:, :m]
                        ids_c[risky] = np.take(cid, full)
                        dists_c[risky] = np.take_along_axis(
                            dist[risky], full, axis=1
                        )
                else:
                    o = np.argsort(dist, axis=1, kind="stable")[:, :m]
                    ids_c = np.take(cid, o)
                    dists_c = np.take_along_axis(dist, o, axis=1)
                ids_out[s : s + chunk] = ids_c
                dist_out[s : s + chunk] = dists_c
            return ids_out, dist_out, np.full(q_idx.size, cand.size)

        if n_q and n_p:
            minx, maxx = float(px.min()), float(px.max())
            miny, maxy = float(py.min()), float(py.max())
            width, height = maxx - minx, maxy - miny
            if n_p <= 2048 or width <= 0 or height <= 0:
                all_q = np.arange(n_q)
                ids, dists, counts = topk_block(all_q, np.arange(n_p))
                finalize(all_q, ids, dists, counts)
            else:
                target = max(1, n_p // 8)
                import math as _m

                fine = _m.sqrt(width * height / target)
                nx = max(1, min(int(_m.ceil(width / fine)), 2 * n_p))
                ny = max(1, min(int(_m.ceil(height / fine)), 2 * n_p))
                fx, fy = width / nx, height / ny
                pcx = np.clip(((px - minx) / fx).astype(np.int64), 0, nx - 1)
                pcy = np.clip(((py - miny) / fy).astype(np.int64), 0, ny - 1)
                pcell = pcx * ny + pcy
                porder = np.argsort(pcell, kind="stable")
                pcell_s = pcell[porder]
                qcx = np.clip(((qx - minx) / fx).astype(np.int64), 0, nx - 1)
                qcy = np.clip(((qy - miny) / fy).astype(np.int64), 0, ny - 1)
                qcell = qcx * ny + qcy
                uniq, inv = np.unique(qcell, return_inverse=True)
                for u_i, cell in enumerate(uniq):
                    cell_q = np.nonzero(inv == u_i)[0]
                    cx, cy = int(cell // ny), int(cell % ny)
                    active = cell_q
                    r_f = 1
                    while active.size:
                        cx0, cx1 = cx - r_f, cx + r_f
                        cy0, cy1 = cy - r_f, cy + r_f
                        full_cover = (
                            cx0 <= 0 and cx1 >= nx - 1 and cy0 <= 0 and cy1 >= ny - 1
                        )
                        parts = []
                        lo_y = max(0, cy0)
                        hi_y = min(ny - 1, cy1)
                        for bx in range(max(0, cx0), min(nx - 1, cx1) + 1):
                            lo = np.searchsorted(pcell_s, bx * ny + lo_y, side="left")
                            hi = np.searchsorted(pcell_s, bx * ny + hi_y, side="right")
                            if hi > lo:
                                parts.append(porder[lo:hi])
                        cand = (
                            np.concatenate(parts)
                            if parts
                            else np.empty(0, dtype=np.int64)
                        )
                        if cand.size < k and not full_cover:
                            r_f *= 2
                            continue
                        if cand.size == 0:
                            pend[active] = True
                            break
                        ids, dists, counts = topk_block(active, cand)
                        if full_cover:
                            finalize(active, ids, dists, counts)
                            break
                        # local exactness: unscanned pages are ≥ g away
                        # (distance from query to nearest unscanned block
                        # edge; sides where the block reaches the page
                        # bounding box have no pages beyond → exempt)
                        g = np.full(active.size, np.inf)
                        if cx0 > 0:
                            g = np.minimum(g, qx[active] - (minx + cx0 * fx))
                        if cx1 < nx - 1:
                            g = np.minimum(g, (minx + (cx1 + 1) * fx) - qx[active])
                        if cy0 > 0:
                            g = np.minimum(g, qy[active] - (miny + cy0 * fy))
                        if cy1 < ny - 1:
                            g = np.minimum(g, (miny + (cy1 + 1) * fy) - qy[active])
                        g = np.maximum(g, 0.0)
                        m = ids.shape[1]
                        ok = (counts >= k) & (m >= k)
                        if m >= k:
                            # strict <: boundary ties escalate, same rule
                            # as the distributed ring guarantee
                            ok &= dists[:, k - 1] < g * g
                        if ok.any():
                            finalize(active[ok], ids[ok], dists[ok], counts[ok])
                        active = active[~ok]
                        r_f *= 2
        else:
            pend[:] = True

        n_res = len(rows_qid)
        n_pend = int(pend.sum())
        return pd.DataFrame(
            {
                "qid": pd.Series(
                    list(rows_qid) + qid[pend].tolist(), dtype=object
                ),
                "doc_id": pd.Series(
                    list(rows_doc) + [None] * n_pend, dtype=object
                ),
                "dist_sq": pd.Series(
                    list(rows_dist) + [None] * n_pend, dtype=object
                ),
                "rank": pd.Series(list(rows_rank) + [None] * n_pend, dtype=object),
                "resolved": [True] * n_res + [False] * n_pend,
                "q_lon": pd.Series(
                    [None] * n_res + qx[pend].tolist(), dtype=object
                ),
                "q_lat": pd.Series(
                    [None] * n_res + qy[pend].tolist(), dtype=object
                ),
            }
        )

    return kernel


def _local_pass(
    spark,
    pending: DataFrame,
    pages_t: DataFrame,
    grid: GridSpec,
    dense: dict,
    dense_df: DataFrame,
    s: int,
    k: int,
    *,
    id_col: str,
    local_max_group_queries: int,
) -> DataFrame:
    """Answer the queries of the ``dense`` tiles (a {tile: query count}
    map) with the local kernel, one pandas group per query-occupied
    SUB-CELL of an s×s split of each dense tile (s = 1: the sub-cell is
    the tile itself).

    Queries are keyed by their global sub-cell; pages join a broadcast
    map from each page sub-cell to the occupied sub-cells whose 3×3
    sub-ring holds it, so each group holds exactly the r=1 ring candidate
    set one level down, and the guard is (min sub step)² — the r=1 ring
    guarantee.  Resolved rows keep the strict exactness contract;
    unresolved queries come back as marker rows for the distributed
    escalation.  Per-group page memory is ~halo/s², and page volume
    shuffled is halo × 9 × salt at most — linear in the halo, never
    n_q × n_p.

    Query salt (hash buckets; the halo pages are replicated per bucket)
    serves memory — at most ``local_max_group_queries`` queries per
    group — and, at s = 1, parallelism — a few dense tiles must still fan
    out over ~2×cores tasks, capped at ~1k queries per bucket to bound
    the page duplication::

        salt = max(1, ⌈max_q/local_max_group_queries⌉,
                   min(⌈2·par/n_cells⌉, max(1, max_q // 1000)) if s = 1)

    At s > 1 the split already yields s² groups per tile and the page
    halo is the payload it bounds, so replicating it for parallelism
    only adds work (PERF.md §31).  ``max_q`` (largest per-cell query
    count) and ``n_cells`` (occupied cells) are the probe's per-tile
    counts at s = 1; at s > 1 they come from one collected aggregate of
    ≤ s²·|dense| rows — geometry-bounded, not data-sized.
    """
    size_y_t, size_x_t = grid.tile_size
    oy, ox = grid.origin
    step_x = float(size_x_t) / s
    step_y = float(size_y_t) / s
    guard_sq = float(min(abs(step_x), abs(step_y))) ** 2
    id_type = dict(pages_t.dtypes)[id_col]
    qid_type = dict(pending.dtypes)["qid"]

    sgx = _axis_index(F.col("q_lon"), ox, step_x)
    sgy = _axis_index(F.col("q_lat"), oy, step_y)
    q_sub = pending.join(
        F.broadcast(dense_df),
        on=[pending["qtx"] == dense_df["dtx"], pending["qty"] == dense_df["dty"]],
        how="inner",
    ).select("qid", "q_lon", "q_lat", sgx.alias("sgx"), sgy.alias("sgy"))

    if s == 1:
        cells = dense
    else:
        cells = {
            (c["sgx"], c["sgy"]): int(c["n"])
            for c in q_sub.groupBy("sgx", "sgy").agg(F.count("*").alias("n")).collect()
        }
    max_q = max(cells.values())
    salt = max(1, -(-max_q // int(local_max_group_queries)))
    if s == 1:
        par = spark.sparkContext.defaultParallelism
        salt = max(salt, min(-(-2 * par // len(cells)), max(1, max_q // 1000)))

    q_part = q_sub.select(
        "sgx",
        "sgy",
        F.pmod(F.xxhash64("qid"), F.lit(salt)).cast("int").alias("sb"),
        F.lit(1).cast("tinyint").alias("role"),
        F.col("qid"),
        _zero_lit(id_type).alias("doc_id"),
        F.col("q_lon").alias("x"),
        F.col("q_lat").alias("y"),
    )

    # page sub-cell → every occupied sub-cell whose 3×3 sub-ring holds it
    # (≤ 9·n_cells rows, geometry-bounded); at s = 1 the tile halo map
    ring_map = local_frame(
        spark,
        sorted(
            (cx + dx, cy + dy, cx, cy)
            for cx, cy in cells for dx in (-1, 0, 1) for dy in (-1, 0, 1)
        ),
        "pgx INT, pgy INT, sgx INT, sgy INT",
    )
    pgx = _axis_index(F.col("lon"), ox, step_x)
    pgy = _axis_index(F.col("lat"), oy, step_y)
    p_part = (
        pages_t.select(id_col, "lon", "lat", pgx.alias("pgx"), pgy.alias("pgy"))
        .join(F.broadcast(ring_map), on=["pgx", "pgy"], how="inner")
        .withColumn("sb", F.explode(F.sequence(F.lit(0), F.lit(salt - 1))))
        .select(
            "sgx",
            "sgy",
            F.col("sb").cast("int"),
            F.lit(0).cast("tinyint").alias("role"),
            _zero_lit(qid_type).alias("qid"),
            F.col(id_col).alias("doc_id"),
            F.col("lon").alias("x"),
            F.col("lat").alias("y"),
        )
    )
    out_schema = (
        f"qid {qid_type}, doc_id {id_type}, dist_sq DOUBLE, "
        "rank INT, resolved BOOLEAN, q_lon DOUBLE, q_lat DOUBLE"
    )
    return (
        q_part.unionByName(p_part)
        .groupBy("sgx", "sgy", "sb")
        .applyInPandas(_make_local_knn_kernel(k, guard_sq), schema=out_schema)
    )


def knn_join(
    pages_df: DataFrame,
    queries_df: DataFrame,
    grid: GridSpec,
    k: int = 5,
    id_col: str = "doc_id",
    query_id_col: str = "qid",
    max_r: int = 64,
    broadcast_queries: bool = True,
    local_index_pairs: "int | None | str" = "auto",
    local_max_group_queries: int = 250_000,
    local_max_halo_pages: int = 4_000_000,
) -> DataFrame:
    """k nearest pages for each query point, with per-query exactness.

    ``queries_df``: (qid, lon, lat).  Returns (qid, doc_id, dist_sq, rank,
    exact).  ``exact=True`` rows carry the ring-escalation guarantee;
    ``exact=False`` marks queries resolved only by hitting ``max_r``
    (ring exhausted before the k-th candidate fell inside the guaranteed
    radius — results may be incomplete or non-minimal), so callers can
    distinguish guaranteed answers from truncated ones instead of
    silently trusting them.  A query whose ``max_r`` ring holds ZERO
    pages still emits one marker row (null doc_id/dist_sq/rank,
    exact=False) — no query ever silently disappears from the output.
    Escalation starts at ring radius 1 and doubles.

    ``broadcast_queries=True`` (default) broadcasts the exploded query
    ring — right for a small query set.  ``False`` switches to a shuffle
    equi-join on the tile id (both sides repartition on (ptx, pty)) — the
    bulk-kNN / kNN-self-join path where queries are as numerous as pages;
    AQE handles skewed tiles.

    ``local_index_pairs``: DENSE-CELL cutoff (PERF.md §15).  A hot cell
    holding n queries × n pages creates n² ring-join candidates no grid
    granularity can fix (finer tiles re-merge through the r=1 ring).
    Before the ring loop, two tiny per-tile count aggs estimate candidate
    pairs per query tile (query count × page count of its 3×3 halo; only
    tiles above the cutoff are collected — geometry-bounded, NOT
    data-sized).  Those dense tiles are answered by ONE local pass
    (:func:`_local_pass`): a per-cell numpy fine-grid index inside one
    applyInPandas group per dense cell over its r=1 page halo — the
    EXACT round-1 candidate set — emitting row-identical results for the
    queries the round-1 guarantee resolves and returning the rest
    (halo-escaping queries) to the distributed escalation loop.  ``None``
    disables the probe.

    ``local_max_group_queries`` salts the query side of a dense cell into
    hash buckets (halo pages replicated per bucket) so one pandas group
    never holds more than ~that many queries; the salt rule is in
    :func:`_local_pass`.

    ``local_max_halo_pages`` bounds the PAGE halo of one group, the one
    failure mode query salting cannot fix.  The pass splits every dense
    tile into an s×s sub-grid with one factor per call::

        s = max(1, max over dense tiles of
                   isqrt((ring_np - 1) // local_max_halo_pages) + 1)

    so s = 1 (the tile itself) when every halo fits, and otherwise the
    per-group memory is ~halo/s² regardless of tile density.
    """
    spark = pages_df.sparkSession
    size = min(abs(grid.tile_size[0]), abs(grid.tile_size[1]))

    # materialize both point tables ONCE (r7): pages_t is re-read by the
    # dense-cell pass and by EVERY escalation round's ring join, pending
    # by the count probe + dense pass + round-1 join — un-checkpointed,
    # each reference replays the caller's derivation (for the entry
    # queries that is the full pages build) (guide §2.4/§5)
    tx, ty = point_tile_cols(grid, F.col("lon"), F.col("lat"))
    pages_t = (
        pages_df.select(id_col, "lon", "lat")
        .withColumn("ptx", tx)
        .withColumn("pty", ty)
        .localCheckpoint(eager=False)
    )

    qtx, qty = point_tile_cols(grid, F.col("q_lon"), F.col("q_lat"))
    pending = (
        queries_df.select(
            F.col(query_id_col).alias("qid"),
            F.col("lon").alias("q_lon"),
            F.col("lat").alias("q_lat"),
        )
        .withColumn("qtx", qtx)
        .withColumn("qty", qty)
        .localCheckpoint(eager=False)
    )

    results = None

    if local_index_pairs == "auto":
        local_index_pairs = None if broadcast_queries else 4_000_000

    # ---- dense-cell local-index pass (PERF.md §15) --------------------
    if local_index_pairs is not None:
        # pair estimation stays DISTRIBUTED: per-tile count aggs, ring-
        # expand the page counts (bounded 3×3 fan-out of an already-
        # aggregated table), join, filter.  Only tiles ABOVE the cutoff
        # are collected — each holds > local_index_pairs candidate pairs,
        # so the driver list is tiny by construction even when the tile
        # grid is fine enough that the full count map would be data-sized.
        pc_df = pages_t.groupBy("ptx", "pty").agg(F.count("*").alias("np"))
        qc_df = pending.groupBy("qtx", "qty").agg(F.count("*").alias("nq"))
        ring_np = (
            pc_df.crossJoin(F.broadcast(_ring_offsets(spark, 1)))
            .select(
                (F.col("ptx") + F.col("dx")).alias("qtx"),
                (F.col("pty") + F.col("dy")).alias("qty"),
                "np",
            )
            .groupBy("qtx", "qty")
            .agg(F.sum("np").alias("ring_np"))
        )
        dense_rows = (
            qc_df.join(ring_np, on=["qtx", "qty"], how="inner")
            .where(F.col("nq") * F.col("ring_np") > F.lit(int(local_index_pairs)))
            .select("qtx", "qty", "nq", "ring_np")
            .collect()
        )
        if dense_rows:
            dense = {(r["qtx"], r["qty"]): int(r["nq"]) for r in dense_rows}
            dense_df = local_frame(spark, sorted(dense), "dtx INT, dty INT")
            s = max(
                math.isqrt((int(r["ring_np"]) - 1) // int(local_max_halo_pages)) + 1
                for r in dense_rows
            )
            loc = _local_pass(
                spark, pending, pages_t, grid, dense, dense_df, s, k,
                id_col=id_col, local_max_group_queries=local_max_group_queries,
            ).localCheckpoint(eager=True)
            # The kernel's output schema names the id column 'doc_id'
            # internally; surface it under the caller's id_col so the
            # downstream selects/unionByName line up for any id_col.
            if id_col != "doc_id":
                loc = loc.withColumnRenamed("doc_id", id_col)
            results = (
                loc.where(F.col("resolved"))
                .select("qid", id_col, "dist_sq", "rank")
                .withColumn("exact", F.lit(True))
            )
            still = loc.where(~F.col("resolved")).select("qid", "q_lon", "q_lat")
            sqtx, sqty = point_tile_cols(grid, F.col("q_lon"), F.col("q_lat"))
            still = still.withColumn("qtx", sqtx).withColumn("qty", sqty)
            pending = (
                pending.join(F.broadcast(dense_df), on=[
                    pending["qtx"] == dense_df["dtx"],
                    pending["qty"] == dense_df["dty"],
                ], how="left_anti")
                .unionByName(still)
                .localCheckpoint(eager=True)
            )
            if len(pending.take(1)) == 0:
                return results

    r = 1
    while True:
        ring = _ring_offsets(spark, r)
        cand_tiles = (
            pending.crossJoin(F.broadcast(ring))
            .select("qid", "q_lon", "q_lat", (F.col("qtx") + F.col("dx")).alias("ptx"), (F.col("qty") + F.col("dy")).alias("pty"))
        )
        dlon = F.col("lon") - F.col("q_lon")
        dlat = F.col("lat") - F.col("q_lat")
        right = F.broadcast(cand_tiles) if broadcast_queries else cand_tiles
        cand = (
            pages_t.join(right, on=["ptx", "pty"], how="inner")
            .withColumn("dist_sq", dlon * dlon + dlat * dlat)
        )
        w = Window.partitionBy("qid").orderBy(F.col("dist_sq").asc(), F.col(id_col).asc())
        # materialize the round's top-k ONCE (r7): both the results batch
        # and the pending anti-join (separate jobs — the per-round eager
        # checkpoint + emptiness probe below) consume it, and exchange
        # reuse does not cross job boundaries, so un-checkpointed the
        # ring join + window executed twice per round (guide §2.4/§5)
        topk = (
            cand.withColumn("rank", F.row_number().over(w))
            .where(F.col("rank") <= k)
            .select("qid", id_col, "dist_sq", "rank")
            .localCheckpoint(eager=False)
        )

        guarantee = float(r * size) ** 2
        stats = topk.groupBy("qid").agg(F.count("*").alias("n"), F.max("dist_sq").alias("maxd"))
        # strict <: a tie exactly at the ring boundary could hide an
        # equal-distance, lower-id page just outside the ring
        guaranteed = F.col("n") >= k
        guaranteed = guaranteed & (F.col("maxd") < F.lit(guarantee))
        exhausted = r >= max_r
        if exhausted:
            # everything still pending resolves now; rows that fail the
            # guarantee are flagged exact=False rather than silently kept.
            # Left-join the PENDING set (not just stats): a query whose
            # max_r ring contains zero pages has no topk/stats row at all —
            # it must still surface as an explicit exact=False marker row
            # (null doc_id/dist/rank) instead of silently vanishing.
            pend_stats = pending.select("qid").join(stats, on="qid", how="left")
            resolved_q = pend_stats.select(
                "qid", F.coalesce(guaranteed, F.lit(False)).alias("exact")
            )
            id_type = dict(pages_t.dtypes)[id_col]
            empty_marks = pend_stats.where(F.col("n").isNull()).select(
                "qid",
                F.lit(None).cast(id_type).alias(id_col),
                F.lit(None).cast("double").alias("dist_sq"),
                F.lit(None).cast("int").alias("rank"),
                F.lit(False).alias("exact"),
            )
        else:
            resolved_q = stats.where(guaranteed).select("qid", F.lit(True).alias("exact"))
            empty_marks = None

        # resolved_q has ONE ROW PER QUERY.  In bulk/shuffle mode
        # (broadcast_queries=False — queries as numerous as pages) a
        # broadcast hint here would force an O(|queries|) collect onto the
        # driver every escalation round, exactly the OOM the shuffle mode
        # exists to avoid.  Hint only in broadcast mode; otherwise plain
        # joins let AQE pick the strategy from runtime sizes.
        resolved_side = F.broadcast(resolved_q) if broadcast_queries else resolved_q
        batch = topk.join(resolved_side, on="qid", how="inner")
        if empty_marks is not None:
            batch = batch.unionByName(empty_marks)
        # CHECKPOINT each round's outputs (measured, PERF.md §15): without
        # it, round k's pending is an anti-join CHAIN of depth k over the
        # ring-join, and the per-round emptiness probe + the final action
        # recompute every prior round's join — O(R²) heavy joins; a 100k-
        # query bulk run took 505 s where the checkpointed loop takes ~9 s.
        # Eager checkpoint = one materialization per round, after which the
        # probe reads cached rows and the final union is recompute-free.
        batch = batch.localCheckpoint(eager=True)
        results = batch if results is None else results.unionByName(batch)

        pending = pending.join(resolved_side, on="qid", how="left_anti").localCheckpoint(eager=True)
        if exhausted or len(pending.take(1)) == 0:
            break
        r *= 2

    return results
