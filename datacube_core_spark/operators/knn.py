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
each pass is one distributed job, never a per-row loop).

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
# index inside one applyInPandas group instead of the n_q×n_p equi-join.
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
    strictly < ``guard_sq`` = (r0·tile_size)².  Resolved rows are
    row-identical to the equi-join plan's output (same IEEE-754 op order
    ``(px-qx)²+(py-qy)²``, same strict guarantee, same (dist_sq, id)
    tie-break); unresolved queries come back as ``resolved=false`` marker
    rows and re-enter the distributed ring escalation.
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


def _subcell_local_pass(
    spark,
    pending: DataFrame,
    pages_t: DataFrame,
    grid: GridSpec,
    big,
    rnp,
    k: int,
    *,
    id_col: str,
    id_type: str,
    qid_type: str,
    out_schema: str,
    local_max_halo_pages: int,
    local_max_group_queries: int,
) -> DataFrame:
    """SUB-CELL split for dense tiles whose page HALO alone exceeds the
    per-group memory budget (PERF.md §16 100-TB note, closed in r6).

    Query-side salting caps queries per pandas group but replicates the
    FULL halo into every bucket — when the halo itself is the memory
    problem, only a finer spatial key helps.  Each oversized tile is cut
    into an s×s sub-grid with s = ⌈√(halo/budget)⌉ (uniform across the
    oversized tiles — the max; a finer-than-needed split costs only
    escalations).  The pass is then exactly the dense-cell local-index
    algorithm one level down: queries keyed by their GLOBAL sub-cell,
    halo pages exploded to the 3×3 sub-ring, same kernel, guard =
    (min sub step)² — the r=1 ring guarantee at sub-cell granularity, so
    resolved rows keep the strict exactness contract and the (bounded)
    remainder re-enters the distributed escalation loop.  Per-group
    memory is now ~halo/s², independent of how dense the tile is.

    Page volume shuffled: halo pages × 9 (sub-ring explode) × salt,
    pruned by a semi-join against the sub-cells that actually hold
    queries — linear in the halo, never n_q × n_p.
    """
    s_split = 2
    for t in big:
        need = math.isqrt(max(1, (int(rnp[t]) - 1) // int(local_max_halo_pages))) + 1
        s_split = max(s_split, need)

    size_y_t, size_x_t = grid.tile_size
    oy, ox = grid.origin
    step_x = float(size_x_t) / s_split
    step_y = float(size_y_t) / s_split
    guard_sq = float(min(abs(step_x), abs(step_y))) ** 2

    big_df = local_frame(spark, sorted(big), "dtx INT, dty INT")
    q_big = pending.join(
        F.broadcast(big_df),
        on=[pending["qtx"] == big_df["dtx"], pending["qty"] == big_df["dty"]],
        how="inner",
    )
    sgx = _axis_index(F.col("q_lon"), ox, step_x)
    sgy = _axis_index(F.col("q_lat"), oy, step_y)
    q_sub = q_big.select("qid", "q_lon", "q_lat", sgx.alias("sgx"), sgy.alias("sgy"))

    # bounded aggs: max queries in one sub-cell (for the memory salt) and
    # the occupied sub-cell list (for the page-side prune) are both ≤
    # s²·|big| rows — geometry-bounded, not data-sized
    mx = q_sub.groupBy("sgx", "sgy").agg(F.count("*").alias("n")).agg(F.max("n")).collect()[0][0]
    salt = max(1, -(-int(mx) // int(local_max_group_queries)))
    qcells = q_sub.select("sgx", "sgy").distinct()

    q_part = q_sub.select(
        F.col("sgx").alias("dtx"),
        F.col("sgy").alias("dty"),
        F.pmod(F.xxhash64("qid"), F.lit(salt)).cast("int").alias("sb"),
        F.lit(1).cast("tinyint").alias("role"),
        F.col("qid"),
        _zero_lit(id_type).alias("doc_id"),
        F.col("q_lon").alias("x"),
        F.col("q_lat").alias("y"),
    )

    # tile-level halo prefilter (tiny broadcast), then sub-ring explode
    halo_rows = sorted(
        {(dtx + dx, dty + dy) for dtx, dty in big for dx in (-1, 0, 1) for dy in (-1, 0, 1)}
    )
    halo_map = local_frame(spark, halo_rows, "ptx INT, pty INT")
    pgx = _axis_index(F.col("lon"), ox, step_x)
    pgy = _axis_index(F.col("lat"), oy, step_y)
    p_sub = (
        pages_t.join(F.broadcast(halo_map), on=["ptx", "pty"], how="inner")
        .select(id_col, "lon", "lat", pgx.alias("pgx"), pgy.alias("pgy"))
        .withColumn("__d", F.explode(F.array(*[
            F.struct(F.lit(dx).alias("dx"), F.lit(dy).alias("dy"))
            for dx in (-1, 0, 1) for dy in (-1, 0, 1)
        ])))
        .select(
            id_col, "lon", "lat",
            (F.col("pgx") + F.col("__d.dx")).alias("sgx"),
            (F.col("pgy") + F.col("__d.dy")).alias("sgy"),
        )
        .join(F.broadcast(qcells), on=["sgx", "sgy"], how="left_semi")
    )
    p_part = (
        p_sub.withColumn("sb", F.explode(F.sequence(F.lit(0), F.lit(salt - 1))))
        .select(
            F.col("sgx").alias("dtx"),
            F.col("sgy").alias("dty"),
            F.col("sb").cast("int"),
            F.lit(0).cast("tinyint").alias("role"),
            _zero_lit(qid_type).alias("qid"),
            F.col(id_col).alias("doc_id"),
            F.col("lon").alias("x"),
            F.col("lat").alias("y"),
        )
    )
    kernel = _make_local_knn_kernel(k, guard_sq)
    return (
        q_part.unionByName(p_part)
        .groupBy("dtx", "dty", "sb")
        .applyInPandas(kernel, schema=out_schema)
    )


def knn_join(
    pages_df: DataFrame,
    queries_df: DataFrame,
    grid: GridSpec,
    k: int = 5,
    r0: int = 1,
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

    ``broadcast_queries=True`` (default) broadcasts the exploded query
    ring — right for a small query set.  ``False`` switches to a shuffle
    equi-join on the tile id (both sides repartition on (ptx, pty)) — the
    bulk-kNN / kNN-self-join path where queries are as numerous as pages;
    AQE handles skewed tiles.

    ``local_index_pairs``: DENSE-CELL cutoff (PERF.md §15).  A hot cell
    holding n queries × n pages creates n² ring-join candidates no grid
    granularity can fix (finer tiles re-merge through the r=1 ring).
    Before the ring loop, two tiny per-tile count aggs estimate candidate
    pairs per query tile (the count maps are bounded by the grid's
    occupied-tile count — geometry-bounded, driver-safe to collect, NOT
    data-sized); tiles above the cutoff are answered by a per-cell numpy
    fine-grid index (one applyInPandas group per dense cell over its r0
    page halo — the EXACT round-1 candidate set), emitting row-identical
    results for queries the round-1 guarantee resolves and returning the
    rest (halo-escaping queries) to the distributed escalation loop.
    ``None`` disables the probe.  ``local_max_group_queries`` salts the
    query side of a dense cell into hash buckets (halo pages replicated
    per bucket) so one pandas group never holds more than ~that many
    queries — memory stays bounded by the page halo.

    ``local_max_halo_pages``: when a dense tile's r0-halo PAGE count
    itself exceeds this bound (the one failure mode query salting cannot
    fix — the halo is replicated per bucket), the tile takes the
    SUB-CELL split (:func:`_subcell_local_pass`): an s×s sub-grid with
    s = ⌈√(halo/bound)⌉ re-runs the same kernel at sub-cell granularity
    with the r=1 sub-ring guard, capping per-group memory at ~halo/s²
    regardless of tile density; unresolved queries re-enter escalation
    exactly as in the salted path.
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
        # expand the page counts (bounded (2r0+1)² fan-out of an already-
        # aggregated table), join, filter.  Only tiles ABOVE the cutoff
        # are collected — each holds > local_index_pairs candidate pairs,
        # so the driver list is tiny by construction even when the tile
        # grid is fine enough that the full count map would be data-sized.
        ring0 = [(dx, dy) for dx in range(-r0, r0 + 1) for dy in range(-r0, r0 + 1)]
        pc_df = pages_t.groupBy("ptx", "pty").agg(F.count("*").alias("np"))
        qc_df = pending.groupBy("qtx", "qty").agg(F.count("*").alias("nq"))
        ring_np = (
            pc_df.crossJoin(F.broadcast(_ring_offsets(spark, r0)))
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
        dense = [(r["qtx"], r["qty"]) for r in dense_rows]
        qc = {(r["qtx"], r["qty"]): r["nq"] for r in dense_rows}
        rnp = {(r["qtx"], r["qty"]): r["ring_np"] for r in dense_rows}
        if dense:
            id_type = dict(pages_t.dtypes)[id_col]
            qid_type = dict(pending.dtypes)["qid"]
            out_schema = (
                f"qid {qid_type}, doc_id {id_type}, dist_sq DOUBLE, "
                "rank INT, resolved BOOLEAN, q_lon DOUBLE, q_lat DOUBLE"
            )
            # a dense tile whose r0-HALO page count alone exceeds the
            # per-group memory budget takes the SUB-CELL split path (the
            # PERF.md §16 100-TB bound, closed): the query salt cannot
            # shrink the halo, only a finer spatial key can
            big = [t for t in dense if rnp[t] > local_max_halo_pages]
            big_set = set(big)
            small = [t for t in dense if t not in big_set]
            dense_df = local_frame(spark, sorted(dense), "dtx INT, dty INT")
            locs = []

            if small:
                # salt serves TWO masters: (a) memory — cap queries per
                # pandas group; (b) parallelism — a few dense cells must
                # still fan out across the cluster (3 unsalted hot cells =
                # 3 tasks; measured 52s → 10.6s at 100k×500k just from
                # salting to ~2×cores).  Page halos are replicated per
                # bucket, so cap the parallelism salt at ~1k queries/bucket
                # to bound the duplication.
                max_nq = max(qc[t] for t in small)
                par = spark.sparkContext.defaultParallelism
                salt_mem = -(-max_nq // local_max_group_queries)
                salt_par = min(-(-2 * par // len(small)), max(1, max_nq // 1000))
                salt = max(1, salt_mem, salt_par)
                halo_rows = sorted(
                    {(dtx, dty, dtx + dx, dty + dy) for dtx, dty in small for dx, dy in ring0}
                )
                halo_map = local_frame(spark, halo_rows, "dtx INT, dty INT, ptx INT, pty INT")
                small_df = local_frame(spark, sorted(small), "dtx INT, dty INT")

                q_part = (
                    pending.join(
                        F.broadcast(small_df),
                        on=[
                            pending["qtx"] == small_df["dtx"],
                            pending["qty"] == small_df["dty"],
                        ],
                        how="inner",
                    )
                    .select(
                        "dtx",
                        "dty",
                        F.pmod(F.xxhash64("qid"), F.lit(salt)).cast("int").alias("sb"),
                        F.lit(1).cast("tinyint").alias("role"),
                        F.col("qid"),
                        _zero_lit(id_type).alias("doc_id"),
                        F.col("q_lon").alias("x"),
                        F.col("q_lat").alias("y"),
                    )
                )
                p_part = (
                    pages_t.join(F.broadcast(halo_map), on=["ptx", "pty"], how="inner")
                    .withColumn("sb", F.explode(F.sequence(F.lit(0), F.lit(salt - 1))))
                    .select(
                        "dtx",
                        "dty",
                        F.col("sb").cast("int"),
                        F.lit(0).cast("tinyint").alias("role"),
                        _zero_lit(qid_type).alias("qid"),
                        F.col(id_col).alias("doc_id"),
                        F.col("lon").alias("x"),
                        F.col("lat").alias("y"),
                    )
                )
                kernel = _make_local_knn_kernel(k, float(r0 * size) ** 2)
                locs.append(
                    q_part.unionByName(p_part)
                    .groupBy("dtx", "dty", "sb")
                    .applyInPandas(kernel, schema=out_schema)
                )

            if big:
                locs.append(
                    _subcell_local_pass(
                        spark, pending, pages_t, grid, big, rnp, k,
                        id_col=id_col, id_type=id_type, qid_type=qid_type,
                        out_schema=out_schema,
                        local_max_halo_pages=local_max_halo_pages,
                        local_max_group_queries=local_max_group_queries,
                    )
                )

            loc = locs[0]
            for extra in locs[1:]:
                loc = loc.unionByName(extra)
            loc = loc.localCheckpoint(eager=True)
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

    r = r0
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
