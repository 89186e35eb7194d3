"""Web-graph analytics over the page link graph: edge extraction,
PageRank / TrustRank / HITS, bounded harmonic centrality, HyperBall
sketches, deterministic random walks and connected components.

Large-scale corpus curation uses link-graph signals (Common Crawl ranks
hosts by harmonic centrality; PageRank-family scores feed crawl
frontiers and quality filters).  The edge list comes from the ACTUAL
``html`` anchors (``functions/html.extract_outlinks_col`` — not
re-derived arithmetically; the DuckDB oracle re-derives it, which is
what makes the extraction verifiable).  Each exact operator has a
DuckDB twin (``sql_*``): an unrolled CTE chain or a recursive CTE.

Exact integer arithmetic (the cross-engine trick): the synthetic graph
has UNIFORM outdegree 3 and no dangling nodes, so with damping
d = 17/20 the iteration

    r_{i+1}(v) = (1-d)/N + (d/3) · Σ_{u→v} r_i(u)

scales to integers via  r_i = A_i / (N · 60^i),  A_0 = 1:

    A_{i+1}(v) = 9 · 60^i + 17 · Σ_{u→v} A_i(u)

Σ_v A_i = 60^i · N, so A stays far inside int64 for the iteration
depths used (60^6·N ≈ 4e14 at N = 8000) and every engine produces the
IDENTICAL integers — no float summation-order sensitivity, no tolerance.
The float rank is one final divide by the constant N·60^i (bit-identical
everywhere).  TrustRank gates the 9·60^i teleport term by a seed
indicator; PageRank is its every-node-seeded case.  HITS is the same
sum without teleport, run once per direction; ``pagerank_float`` is the
general-outdegree float variant for real graphs.

Scale shape: all four rank operators build each round from ONE step
(``_push_sums``): a join of the current values onto the edges at one
endpoint, a groupBy of the other endpoint (one shuffle, map-side
combine), and a left join of the sums onto every node — the canonical
Spark PageRank plan.  Hot pages (high indegree) are plain aggregation
skew, handled by AQE like any groupBy.  Lineage is truncated with
per-round ``localCheckpoint`` where a round's output feeds more than one
consumer: the harmonic BFS levels, HyperBall registers, random-walk
frontiers, ``pagerank_float``'s ranks and the component labeling
(``operators/dedup.dup_clusters``); the exact rank operators run a
fixed small number of rounds and take a materialized ``edges``.

Reference analog: none — ODC has no graph ops; this is webtext-axis
capability (SURVEY §2's training-data-pipeline extension family).
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

DAMP_NUM, DAMP_DEN = 17, 20  # d = 0.85 as an exact rational
OUTDEG = 3
SCALE = OUTDEG * DAMP_DEN  # 60: per-iteration denominator growth


def page_edges(pages_df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """(src, dst) edge list parsed from the html outlink anchors."""
    from datacube_core_spark.functions.html import extract_outlinks_col

    return pages_df.select(
        F.col(id_col).alias("src"),
        F.explode(extract_outlinks_col(F.col("html"))).alias("dst"),
    )


def resolved_link_edges(
    pages_df: DataFrame, url_col: str = "url", html_col: str = "html"
) -> DataFrame:
    """(src_url, dst_url) edges from the GENERAL anchor form: every
    ``href="..."`` value — absolute, protocol-relative, root-relative,
    relative, query-only — resolved against the page's own URL per the
    RFC 3986 crawler contract (``functions/url.resolve_url_col``).
    Non-crawlable hrefs (fragments, javascript:/mailto:, self-links)
    resolve to NULL and are dropped.

    Scale shape: decode + regexp extraction + resolution are all narrow
    Catalyst ops (explode generates rows but never shuffles); the edge
    list partitioning is inherited from the pages scan, so a downstream
    groupBy(dst) is the FIRST shuffle — exactly where it must be."""
    from datacube_core_spark.functions.html import extract_hrefs_col
    from datacube_core_spark.functions.url import resolve_url_col

    exploded = pages_df.select(
        F.col(url_col).alias("src"),
        F.explode(extract_hrefs_col(F.col(html_col))).alias("href"),
    )
    return (
        exploded
        .withColumn("dst", resolve_url_col(F.col("src"), F.col("href")))
        .where(F.col("dst").isNotNull())
        .select("src", "dst")
    )


def _push_sums(edges: DataFrame, values: DataFrame, term: "F.Column", node_vals: DataFrame,
               frm: str = "src", to: str = "dst") -> DataFrame:
    """One propagation step, the round the four rank operators below are
    built from: join ``edges`` to ``values`` (keyed ``v``) on the ``frm``
    endpoint, sum ``term`` at the ``to`` endpoint, and left-join the sums
    onto ``node_vals`` (keyed ``v``) as column ``s`` — 0 for a node no
    edge reaches.  Returns ``node_vals``' columns plus ``s``.

    Plan: one edges⋈values join, one groupBy(``to``) partial-agg shuffle,
    one nodes⋈sums left join — the canonical Spark PageRank round."""
    sums = (
        edges.join(values, edges[frm] == values["v"], "inner")
        .groupBy(to)
        .agg(F.sum(term).alias("s"))
    )
    return node_vals.join(sums, node_vals["v"] == sums[to], "left").select(
        *node_vals.columns, F.coalesce(F.col("s"), F.lit(0)).alias("s")
    )


def _seeded_rank(edges: DataFrame, vs: DataFrame, iters: int, id_col: str) -> DataFrame:
    """The exact-integer seeded recurrence over ``vs`` = (v, t), t the
    teleport indicator [v ∈ S]:

        A_0(v) = t(v);   A_{i+1}(v) = 9·60^i·t(v) + 17·Σ_{u→v} A_i(u)"""
    if iters < 0:
        raise ValueError("iters must be >= 0")
    ranks = vs.select("v", F.col("t").alias("a"))
    for i in range(iters):
        ranks = _push_sums(edges, ranks, F.col("a"), vs).select(
            "v", (F.lit(9 * SCALE**i) * F.col("t") + F.lit(DAMP_NUM) * F.col("s")).alias("a")
        )
    return ranks.select(F.col("v").alias(id_col), "a")


def pagerank_exact(edges: DataFrame, nodes: DataFrame, iters: int = 5,
                   id_col: str = "doc_id") -> DataFrame:
    """Integer PageRank over a uniform-outdegree-3 dangling-free graph.

    Returns (id_col, a) with a = A_iters(v); rank(v) = a / (N·60^iters).
    Every value is exact int64 — engines agree bit-for-bit.  This is
    :func:`trustrank_exact` with every node seeded; the teleport
    indicator is the constant 1, so no seed join is planned.

    ``edges`` is referenced once per round in one job — pass a
    materialized DataFrame (``localCheckpoint``) when it is derived from
    an expensive extraction, or the extraction replays every round.
    """
    vs = nodes.select(F.col(id_col).alias("v"), F.lit(1).cast("long").alias("t"))
    return _seeded_rank(edges, vs, iters, id_col)


def trustrank_exact(edges: DataFrame, nodes: DataFrame, seeds: DataFrame,
                    iters: int = 5, id_col: str = "doc_id") -> DataFrame:
    """Seeded PageRank — TrustRank (Gyöngyi, Garcia-Molina & Pedersen,
    VLDB 2004): teleport mass goes ONLY to a trusted seed set, so trust
    flows outward along links and spam farms far from any seed score ~0.
    Same exact-integer recurrence as :func:`pagerank_exact` with the
    teleport term gated by the seed indicator:

        A_0(v) = [v ∈ S];   A_{i+1}(v) = 9·60^i·[v ∈ S] + 17·Σ_{u→v} A_i(u)

    Under the uniform-outdegree-3 dangling-free contract Σ_v A_i =
    60^i·|S| (the pagerank invariant scaled by |S|), so values stay
    int64-safe for the same depths and trust(v) = A_iters / (|S|·60^iters)
    is a display-time divide.  Returns (id_col, a)."""
    seed_flag = seeds.select(F.col(id_col).alias("v"), F.lit(1).alias("__seed"))
    vs = (
        nodes.select(F.col(id_col).alias("v"))
        .join(seed_flag, "v", "left")
        .select("v", F.coalesce(F.col("__seed"), F.lit(0)).cast("long").alias("t"))
    )
    return _seeded_rank(edges, vs, iters, id_col)


def sql_trustrank_levels(edges_cte: str, nodes_cte: str, seeds_cte: str,
                         iters: int = 5, id_col: str = "doc_id") -> str:
    """Chained CTE levels tr0..tr{iters} for the seeded recurrence."""
    ind = f"CAST(CASE WHEN {{n}}.{id_col} IN (SELECT {id_col} FROM {seeds_cte}) THEN 1 ELSE 0 END AS BIGINT)"
    parts = [
        f"tr0 AS (SELECT {id_col} AS v, {ind.format(n=nodes_cte)} AS a "
        f"FROM {nodes_cte})"
    ]
    for i in range(iters):
        base = 9 * SCALE**i
        parts.append(
            f"tr{i + 1} AS (SELECT n.{id_col} AS v, "
            f"CAST({base} AS BIGINT) * {ind.format(n='n')} "
            f"+ {DAMP_NUM} * CAST(COALESCE(SUM(p.a), 0) AS BIGINT) AS a "
            f"FROM {nodes_cte} n LEFT JOIN {edges_cte} e ON e.dst = n.{id_col} "
            f"LEFT JOIN tr{i} p ON p.v = e.src "
            f"GROUP BY n.{id_col})"
        )
    return ",\n".join(parts)


def sql_pagerank_levels(edges_cte: str, nodes_cte: str, iters: int = 5,
                        id_col: str = "doc_id") -> str:
    """The chained CTE levels pr0..pr{iters} for the integer recurrence."""
    parts = [f"pr0 AS (SELECT {id_col} AS v, CAST(1 AS BIGINT) AS a FROM {nodes_cte})"]
    for i in range(iters):
        base = 9 * SCALE**i
        parts.append(
            # CAST the SUM: DuckDB's SUM(BIGINT) yields HUGEINT, which
            # fetchdf() widens to float64 and breaks the integer contract
            f"pr{i + 1} AS (SELECT n.{id_col} AS v, "
            f"CAST({base} AS BIGINT) + {DAMP_NUM} * CAST(COALESCE(SUM(p.a), 0) AS BIGINT) AS a "
            f"FROM {nodes_cte} n LEFT JOIN {edges_cte} e ON e.dst = n.{id_col} "
            f"LEFT JOIN pr{i} p ON p.v = e.src "
            f"GROUP BY n.{id_col})"
        )
    return ",\n".join(parts)


def hits_exact(edges: DataFrame, nodes: DataFrame, iters: int = 3,
               id_col: str = "doc_id") -> DataFrame:
    """Unnormalized HITS power iteration in exact integers.

    h_0 = a_0 = 1;  a_{i+1}(v) = Σ_{u→v} h_i(u);  h_{i+1}(v) =
    Σ_{v→w} a_{i+1}(w).  Without per-round normalization every value is
    an integer (the usual L2 normalization is a display-time divide —
    rankings are identical), so engines agree bit-for-bit.  Growth per
    round is bounded by (outdeg · max_indeg); the synthetic graph's
    outdeg 3 / indeg ≲ 20 keeps 3 rounds far inside int64 — callers on
    real graphs should check ``iters · log2(outdeg·indeg)`` < 60 or use
    a float variant with normalization.  As with :func:`pagerank_exact`,
    pass a materialized ``edges`` (it is referenced twice per round).
    """
    if iters < 1:
        raise ValueError("iters must be >= 1")
    vs = nodes.select(F.col(id_col).alias("v"))
    h = vs.select("v", F.lit(1).cast("long").alias("h"))
    a = None
    for _ in range(iters):
        a = _push_sums(edges, h, F.col("h"), vs).select("v", F.col("s").cast("long").alias("a"))
        h = _push_sums(edges, a, F.col("a"), vs, frm="dst", to="src").select(
            "v", F.col("s").cast("long").alias("h")
        )
    return a.join(h, "v").select(F.col("v").alias(id_col), "a", "h")


def sql_hits_levels(edges_cte: str, nodes_cte: str, iters: int = 3,
                    id_col: str = "doc_id") -> str:
    """DuckDB twin CTE chain h0, a1, h1, ..., a{iters}, h{iters}."""
    parts = [f"h0 AS (SELECT {id_col} AS v, CAST(1 AS BIGINT) AS h FROM {nodes_cte})"]
    for i in range(1, iters + 1):
        parts.append(
            f"a{i} AS (SELECT n.{id_col} AS v, "
            f"CAST(COALESCE(SUM(p.h), 0) AS BIGINT) AS a "
            f"FROM {nodes_cte} n LEFT JOIN {edges_cte} e ON e.dst = n.{id_col} "
            f"LEFT JOIN h{i - 1} p ON p.v = e.src GROUP BY n.{id_col})"
        )
        parts.append(
            f"h{i} AS (SELECT n.{id_col} AS v, "
            f"CAST(COALESCE(SUM(p.a), 0) AS BIGINT) AS h "
            f"FROM {nodes_cte} n LEFT JOIN {edges_cte} e ON e.src = n.{id_col} "
            f"LEFT JOIN a{i} p ON p.v = e.dst GROUP BY n.{id_col})"
        )
    return ",\n".join(parts)


def harmonic_centrality(edges: DataFrame, nodes: DataFrame, radius: int = 4,
                        id_col: str = "doc_id") -> DataFrame:
    """Bounded-radius harmonic centrality in exact integers.

    Common Crawl's published host ranking uses harmonic centrality
    H(v) = Σ_{u≠v} 1/d(u, v); the unbounded sum needs approximate
    neighborhood sketches (HyperBall-style HLL unions) at web scale, but
    the bounded-radius variant — sum over u with d(u, v) ≤ radius — is
    both the common production truncation and EXACTLY computable:
    distances come from a frontier-deduplicated BFS (each level joins the
    frontier to the edge list and anti-joins already-known pairs, so work
    is proportional to REACHABLE PAIRS, never to walk count), and with
    S = lcm(1..radius) the score S·H(v) = Σ S/d is an int64 — engines
    agree bit-for-bit, no float summation-order sensitivity.

    Returns (id_col, reach, hc_num): ``reach`` = |{u ≠ v : d(u,v) ≤ radius}|,
    ``hc_num`` = Σ S // d; H(v) = hc_num / S (one display-time divide).

    Scale shape: per level ONE equi-join frontier×edges + ONE anti-join
    vs known pairs (both shuffles on s/v keys; high-indegree hubs are
    plain join/agg skew → AQE).  Frontiers are localCheckpoint-truncated
    so lineage stays O(1) per level.  Memory is bounded by the pair set;
    for radius ≳ 6 on a dense web graph switch to the sketch variant.
    """
    if radius < 1:
        raise ValueError("radius must be >= 1")
    # r7 plan: ONE min-aggregation per level replaces the former
    # distinct + anti-join pair (two exchanges on the same (s, v) key).
    # `best` holds min-distance per reachable pair; the level-l frontier
    # is exactly the rows whose min distance is l-1 (a pair found
    # earlier has a smaller d, so it never re-expands) — row-identical
    # to the anti-join formulation (A/B-verified) with one less shuffle
    # per level, and work stays ∝ reachable pairs.  Checkpoints are
    # lazy: one materialization per level inside the query's own job.
    best = (
        edges.select(F.col("src").alias("s"), F.col("dst").alias("v"))
        .distinct()
        .withColumn("d", F.lit(1))
        .localCheckpoint(eager=False)
    )
    for lvl in range(2, radius + 1):
        expand = (
            best.where(F.col("d") == lvl - 1)
            .join(
                edges.select(F.col("src").alias("__fv"), "dst"),
                F.col("v") == F.col("__fv"),
            )
            .select("s", F.col("dst").alias("v"), F.lit(lvl).alias("d"))
        )
        best = (
            best.unionByName(expand)
            .groupBy("s", "v")
            .agg(F.min("d").alias("d"))
        )
        # intermediate levels feed TWO consumers (the next level's
        # frontier filter + its union) — materialize; the FINAL level
        # feeds only the hc aggregation, so checkpointing it would
        # materialize the full pair set (the BFS's largest table) for a
        # single consumer (r7; measured ~0.8s at sf0.1's 9.6M pairs)
        if lvl < radius:
            best = best.localCheckpoint(eager=False)
    scale = math.lcm(*range(1, radius + 1))
    hc = (
        best.where(F.col("s") != F.col("v"))
        .groupBy("v")
        .agg(
            F.count("*").alias("reach"),
            F.sum(F.expr(f"{scale} div d")).alias("hc_num"),
        )
    )
    return (
        nodes.select(F.col(id_col).alias("v"))
        .join(hc, "v", "left")
        .select(
            F.col("v").alias(id_col),
            F.coalesce(F.col("reach"), F.lit(0)).cast("long").alias("reach"),
            F.coalesce(F.col("hc_num"), F.lit(0)).cast("long").alias("hc_num"),
        )
    )


def sql_harmonic(edges_cte: str, nodes_cte: str, radius: int = 4,
                 id_col: str = "doc_id") -> str:
    """DuckDB twin: min distances via a WITH RECURSIVE BFS (set-semantics
    UNION dedups (s, v, d) triples, the d < radius guard bounds depth,
    MIN(d) picks the first level a pair is seen) — an independent
    formulation of the same bounded neighborhood.  Returns a complete
    WITH RECURSIVE ... SELECT statement (usable as a subquery; the
    edges/nodes CTEs resolve from the caller's outer WITH scope)."""
    scale = math.lcm(*range(1, radius + 1))
    return f"""WITH RECURSIVE bfs AS (
  SELECT src AS s, dst AS v, 1 AS d FROM {edges_cte}
  UNION
  SELECT b.s, e.dst, b.d + 1 FROM bfs b JOIN {edges_cte} e ON e.src = b.v
  WHERE b.d < {radius}
)
SELECT n.{id_col},
       CAST(COALESCE(h.reach, 0) AS BIGINT) AS reach,
       CAST(COALESCE(h.hc_num, 0) AS BIGINT) AS hc_num
FROM {nodes_cte} n
LEFT JOIN (
  SELECT v, COUNT(*) AS reach, CAST(SUM({scale} // md) AS BIGINT) AS hc_num
  FROM (SELECT s, v, MIN(d) AS md FROM bfs WHERE s <> v GROUP BY s, v)
  GROUP BY v
) h ON h.v = n.{id_col}"""


def connected_components(edges: DataFrame, nodes: DataFrame, max_iters: int = 20,
                         id_col: str = "doc_id") -> DataFrame:
    """Undirected connected components over a (src, dst) edge list:
    every node in ``nodes`` gets the MIN node id of its component as
    ``cluster`` (isolated nodes label themselves).  The web-curation
    use is SITE-level grouping — components of the intra-host subgraph
    identify mirrored/templated page clusters within a site, the level
    at which crawl dedup keep-lists operate.

    Plan: delegates to the min-label + pointer-jumping kernel
    (``operators/dedup.dup_clusters`` — O(log diameter) rounds, two
    shuffles per round, localCheckpoint-truncated lineage; raises
    rather than return a silently-partial labeling), then left-joins
    the full node set so edge-free nodes keep their own id.  Scale
    shape is the kernel's: label propagation is join+min-agg on node
    keys — hub skew is plain agg skew (AQE); rounds are logarithmic in
    component diameter, so even a site-sized giant component costs
    ~log2(d) rounds, not d.

    Reference analog: none (ODC has no graph ops) — webtext-axis
    capability, same family as pagerank/hits/harmonic above.
    """
    from datacube_core_spark.operators.dedup import dup_clusters

    pairs = edges.select(F.col("src").alias("a"), F.col("dst").alias("b")).where(
        F.col("a") != F.col("b")
    )
    labeled = dup_clusters(pairs, max_iters=max_iters)
    return (
        nodes.select(F.col(id_col).alias("doc_id"))
        .join(labeled, "doc_id", "left")
        .select(
            F.col("doc_id").alias(id_col),
            F.coalesce(F.col("cluster"), F.col("doc_id")).alias("cluster"),
        )
    )


def sql_components(edges_cte: str, nodes_cte: str, id_col: str = "doc_id") -> str:
    """DuckDB twin: component id = min reachable node, via a recursive
    reachability CTE over the undirected edges — an independent
    formulation (full transitive closure + MIN, vs the Spark side's
    iterative label propagation).  Returns a complete WITH RECURSIVE
    ... SELECT statement (usable as a subquery; the edges/nodes CTEs
    resolve from the caller's outer WITH scope).  Exact — only safe
    when Σ component_size² is small (intra-host subgraphs); the Spark
    side has no such bound."""
    return f"""WITH RECURSIVE und AS (
  SELECT src AS u, dst AS v FROM {edges_cte} WHERE src <> dst
  UNION
  SELECT dst, src FROM {edges_cte} WHERE src <> dst
),
reach AS (
  SELECT u AS root, v AS node FROM und
  UNION
  SELECT r.root, e.v FROM reach r JOIN und e ON e.u = r.node
)
SELECT n.{id_col},
       CAST(COALESCE(c.cluster, n.{id_col}) AS BIGINT) AS cluster
FROM {nodes_cte} n
LEFT JOIN (
  SELECT root, LEAST(root, MIN(node)) AS cluster FROM reach GROUP BY root
) c ON c.root = n.{id_col}"""


def pagerank_float(edges: DataFrame, nodes: DataFrame, iters: int = 10,
                   damping: float = 0.85, id_col: str = "doc_id") -> DataFrame:
    """General float PageRank (arbitrary outdegree; dangling mass
    redistributed uniformly) — the operator real graphs use; same plan
    shape as the exact variant, verified against it on the uniform
    graph (tests/test_graph.py) and against a pure-python reference."""
    n_b = nodes.count()
    out = edges.groupBy("src").agg(F.count("*").alias("outdeg"))
    e = edges.join(out, "src").localCheckpoint(eager=False)
    vs = nodes.select(F.col(id_col).alias("v"))
    ranks = vs.select("v", F.lit(1.0 / n_b).alias("r"))
    for _ in range(iters):
        # truncate lineage each round: the dangling-mass collect below
        # otherwise replays the whole rank history (O(iters^2) work),
        # and ranks is referenced twice per round (dangling + contrib)
        ranks = ranks.localCheckpoint(eager=True)
        dangling = (
            ranks.join(out, ranks["v"] == out["src"], "left_anti")
            .agg(F.sum("r"))
            .collect()[0][0]
            or 0.0
        )
        base = (1.0 - damping) / n_b + damping * dangling / n_b
        ranks = _push_sums(e, ranks, F.col("r") / F.col("outdeg"), vs).select(
            "v", (F.lit(base) + F.lit(damping) * F.col("s")).alias("r")
        )
    return ranks.select(F.col("v").alias(id_col), "r")


# ---------------------------------------------------------------------------
# HyperBall: approximate UNBOUNDED-radius harmonic centrality via
# HyperLogLog neighborhood sketches (Boldi & Vigna, "In-Core Computation
# of Geometric Centralities with HyperBall", 2013 — the algorithm behind
# Common Crawl's published host ranking).  bounded-radius
# harmonic_centrality above is exact but its pair set grows with the
# reachable neighborhood; HyperBall replaces the pair set with a
# fixed-size HLL counter per node, so radius can run to the diameter.
#
# Cross-engine EXACTNESS despite being an approximation: HLL is a
# deterministic function of the hash — bucket j = md5-h32(v) mod m,
# rank r = leading-zero count of a second md5-h32 window.  Registers are
# kept SPARSE-EXPLODED as (v, j, r) rows (absent bucket = 0), so the
# per-iteration merge  B_{t+1}(v) = B_t(v) ∪ ⋃_{u→v} B_t(u)  is one
# equi-join edges⋈regs plus a groupBy(v, j).max(r) — a partial-agg
# (map-side combine) shuffle, never a wide row or an order-sensitive
# float fold.  The ball size is carried as the EXACT integer
#   S_t(v) = Σ_j 2^(R - reg_j)   (R = W+1; absent buckets add 2^R)
# so both engines agree bit-for-bit on S; the float HLL estimate
#   E_t = alpha_m · m² · 2^R / S_t
# and the harmonic accumulation  H = Σ_t (E_t − E_{t−1}) / t  are fixed
# left-associated expression trees over those exact integers — IEEE ops
# in identical order, bitwise-portable (the lm.py discipline).
#
# Scale shape at 10^12 nodes: state is O(n · m) sparse rows with m a
# small constant (raise p for precision; p = 10 → 1 KiB-equivalent per
# node), every round is one shuffle with map-side combine, hot hubs are
# plain agg skew (AQE), lineage is localCheckpoint-truncated per round.
# The raw HLL estimator is used (no small/large-range corrections): at
# web scale balls exceed 2.5m within a hop or two, and the op contract
# is the exact register state — corrections are display-time.
# ---------------------------------------------------------------------------

HLL_W = 32  # rank window bits (md5-h32 second window)


def _hll_alpha(m: int) -> float:
    """Published HLL bias constants (Flajolet et al. 2007)."""
    if m == 16:
        return 0.673
    if m == 32:
        return 0.697
    if m == 64:
        return 0.709
    return 0.7213 / (1.0 + 1.079 / m)


def _hll_rank_col(h) -> "F.Column":
    """rank = W + 1 − bit_length(h) for h ∈ [0, 2^W): the leading-zero
    count of the W-bit window, plus one.  A generated comparison chain —
    no log2/float anywhere, so engines agree exactly.  Feed a
    MATERIALIZED column, not an expression: the chain references h
    W+1 times (the utm_project codegen lesson)."""
    expr = F.when(h == 0, F.lit(HLL_W + 1))
    for k in range(1, HLL_W + 1):
        expr = expr.when(h < (1 << k), F.lit(HLL_W + 1 - k))
    return expr.otherwise(F.lit(0))


def _sql_hll_rank(h: str) -> str:
    parts = [f"WHEN {h} = 0 THEN {HLL_W + 1}"]
    parts += [f"WHEN {h} < {1 << k} THEN {HLL_W + 1 - k}" for k in range(1, HLL_W + 1)]
    return "(CASE " + " ".join(parts) + " ELSE 0 END)"


def hyperball_harmonic(edges: DataFrame, nodes: DataFrame, iters: int = 3,
                       p: int = 4, id_col: str = "doc_id") -> DataFrame:
    """HyperBall harmonic-centrality sketch over ``iters`` rounds.

    Returns one row per node IN ``nodes`` (an edge dst absent from
    ``nodes`` — a dangling/uncrawled target — carries register state
    through the rounds, exactly as the SQL twin's CTEs do, but is
    dropped from the output by the final nodes join in BOTH engines):
    exact ball-size integers ``s0..s{iters}`` (S_t as defined in the
    module banner — monotonically non-increasing), the float reach
    estimate ``reach_est`` at the final round, and the accumulated
    harmonic estimate ``hharm``.  Ball direction matches
    :func:`harmonic_centrality`: B_t(v) counts u with d(u, v) ≤ t, so
    registers propagate src → dst along each edge.  ``iters`` must be
    ≥ 1 (the t=0 sketch alone is just the singleton registers)."""
    from datacube_core_spark.operators.dedup import md5_h32_col

    if iters < 1:
        raise ValueError("iters must be >= 1")
    m = 1 << p
    r_max = HLL_W + 1
    two_r = 1 << r_max

    ids = nodes.select(F.col(id_col).alias("v"))
    base = ids.select(
        "v",
        (md5_h32_col(F.col("v").cast("string"), start=1) % m).alias("j"),
        md5_h32_col(F.col("v").cast("string"), start=9).alias("hbits"),
    )
    regs = (
        base.select("v", "j", _hll_rank_col(F.col("hbits")).alias("r"))
        # lazy (r7): same one-time materialization, no per-round
        # synchronous barrier (measured ~0.7s faster warm at sf0.1)
        .localCheckpoint(eager=False)
    )

    term = F.expr(f"shiftleft(CAST(1 AS BIGINT), {r_max} - r)")

    def ball_size(regs_df: DataFrame, t: int) -> DataFrame:
        return regs_df.groupBy("v").agg(
            (
                F.sum(term)
                + (F.lit(m) - F.count(F.lit(1))) * F.lit(two_r).cast("long")
            ).cast("long").alias("s")
        ).withColumn("t", F.lit(t))

    sizes = ball_size(regs, 0)
    e = edges.select(F.col("src").alias("eu"), F.col("dst").alias("ev"))
    for t in range(1, iters + 1):
        prop = (
            e.join(regs, regs["v"] == e["eu"])
            .select(F.col("ev").alias("v"), "j", "r")
        )
        regs = (
            prop.unionByName(regs.select("v", "j", "r"))
            .groupBy("v", "j")
            .agg(F.max("r").alias("r"))
        )
        # intermediate rounds feed THREE consumers (next round's join +
        # union + their ball_size); the final round feeds only its
        # ball_size — skip the single-consumer materialization (r7)
        if t < iters:
            regs = regs.localCheckpoint(eager=False)
        sizes = sizes.unionByName(ball_size(regs, t))

    wide = sizes.groupBy("v").agg(
        *[
            F.max(F.when(F.col("t") == t, F.col("s"))).alias(f"s{t}")
            for t in range(iters + 1)
        ]
    )

    alpha = _hll_alpha(m)

    def est(scol) -> "F.Column":
        # fixed left-associated float tree: ((alpha * m²) * 2^R) / S
        return (
            F.lit(alpha) * F.lit(float(m * m)) * F.lit(float(two_r))
            / scol.cast("double")
        )

    hharm = None
    for t in range(1, iters + 1):
        dt = (est(F.col(f"s{t}")) - est(F.col(f"s{t-1}"))) / F.lit(float(t))
        hharm = dt if hharm is None else hharm + dt
    # anchor on nodes: registers may exist for non-node edge targets
    # (the twin drops them via its hb_s0 inner join — hb_reg0 is built
    # from nodes only).  left_semi, not inner: a duplicate row in
    # `nodes` must not fan out the per-node result (the twin's GROUP BY
    # keeps one row per v either way)
    return wide.join(ids, "v", "left_semi").select(
        F.col("v").alias(id_col),
        *[F.col(f"s{t}") for t in range(iters + 1)],
        est(F.col(f"s{iters}")).alias("reach_est"),
        hharm.alias("hharm"),
    )


def sql_hyperball(edges_cte: str, nodes_cte: str, iters: int = 3, p: int = 4,
                  id_col: str = "doc_id") -> str:
    """DuckDB twin: the same hash → rank → sparse-register pipeline with
    the iteration UNROLLED as chained CTEs (reg0..reg{iters}), the exact
    integer ball sizes, and the identical left-associated float trees.
    Returns a complete WITH ... SELECT statement (edges/nodes CTEs
    resolve from the caller's outer WITH scope)."""
    from datacube_core_spark.operators.dedup import sql_md5_h32

    if iters < 1:
        raise ValueError("iters must be >= 1")
    m = 1 << p
    r_max = HLL_W + 1
    two_r = 1 << r_max
    alpha = _hll_alpha(m)
    vstr = f"CAST({id_col} AS VARCHAR)"

    ctes = [
        f"""hb_base AS (
  SELECT {id_col} AS v,
         {sql_md5_h32(vstr, start=1)} % {m} AS j,
         {sql_md5_h32(vstr, start=9)} AS hbits
  FROM {nodes_cte})""",
        f"hb_reg0 AS (SELECT v, j, {_sql_hll_rank('hbits')} AS r FROM hb_base)",
    ]
    for t in range(1, iters + 1):
        ctes.append(f"""hb_reg{t} AS (
  SELECT v, j, MAX(r) AS r FROM (
    SELECT e.dst AS v, g.j, g.r FROM {edges_cte} e JOIN hb_reg{t-1} g ON g.v = e.src
    UNION ALL SELECT v, j, r FROM hb_reg{t-1}
  ) GROUP BY v, j)""")
    for t in range(iters + 1):
        ctes.append(f"""hb_s{t} AS (
  SELECT v, CAST(SUM(CAST(1 AS BIGINT) << ({r_max} - r))
                 + ({m} - COUNT(*)) * (CAST(1 AS BIGINT) << {r_max})
            AS BIGINT) AS s
  FROM hb_reg{t} GROUP BY v)""")

    def est(s: str) -> str:
        return f"((({alpha!r} * {float(m * m)!r}) * {float(two_r)!r}) / CAST({s} AS DOUBLE))"

    dts = [
        f"(({est(f's{t}.s')} - {est(f's{t-1}.s')}) / {float(t)!r})"
        for t in range(1, iters + 1)
    ]
    hharm = dts[0]
    for d in dts[1:]:
        hharm = f"({hharm} + {d})"
    joins = "".join(
        f" JOIN hb_s{t} s{t} ON s{t}.v = s0.v" for t in range(1, iters + 1)
    )
    scols = ", ".join(f"s{t}.s AS s{t}" for t in range(iters + 1))
    return (
        "WITH " + ",\n".join(ctes)
        + f"\nSELECT s0.v AS {id_col}, {scols},\n"
        + f"       {est(f's{iters}.s')} AS reach_est,\n"
        + f"       {hharm} AS hharm\n"
        + f"FROM hb_s0 s0{joins}"
    )


# ---------------------------------------------------------------------------
# Deterministic random walks (DeepWalk/node2vec corpus generation).
# Graph-embedding training data is built by sampling fixed-length walks
# from every node (Perozzi et al. 2014, "DeepWalk"; node2vec with
# p = q = 1 reduces to the same uniform walk).  At web scale the walk
# corpus is generated with one join PER STEP, never a per-node loop —
# and determinism matters for the same reason it does everywhere else in
# this repo: a re-run (or the DuckDB twin) must produce byte-identical
# walks.  The "randomness" is therefore a hash: at step t the walk at
# node v takes neighbor index  md5-h32(walk_id || ':' || t || ':' || v)
# mod outdeg(v)  over the node's neighbors ranked by dst — exactly
# reproducible in SQL, statistically uniform across walks/steps.
# ---------------------------------------------------------------------------


def random_walks(edges: DataFrame, nodes: DataFrame, walks_per_node: int = 2,
                 length: int = 4, id_col: str = "doc_id") -> DataFrame:
    """(walk_id, step, node) rows: ``walks_per_node`` hash-seeded uniform
    walks of ``length`` steps from every node.  A walk reaching a node
    with no out-edges stops (dangling truncation — rows simply end).

    Scale shape: the ranked neighbor table is built once (one window
    over edges, partitioned by src); each step is ONE equi-join of the
    frontier against it on (src, rank) — |frontier| ≤ n·walks_per_node
    rows per step, no growth.  walk_id = node·walks_per_node + w keeps
    ids dense and engine-independent."""
    from datacube_core_spark.operators.dedup import md5_h32_col
    from pyspark.sql import Window

    if length < 1 or walks_per_node < 1:
        raise ValueError("length and walks_per_node must be >= 1")
    w_nbr = Window.partitionBy("src").orderBy(F.col("dst").asc())
    nbr = (
        edges.select("src", "dst").distinct()
        .withColumn("nrank", F.row_number().over(w_nbr))
        .withColumn("outdeg", F.count(F.lit(1)).over(Window.partitionBy("src")))
        .localCheckpoint(eager=True)
    )
    starts = nodes.select(F.col(id_col).alias("node")).select(
        "node",
        F.explode(
            F.array(*[F.lit(w).cast("long") for w in range(walks_per_node)])
        ).alias("w"),
    ).select(
        (F.col("node") * walks_per_node + F.col("w")).alias("walk_id"),
        F.lit(0).alias("step"),
        F.col("node"),
    )
    out = starts
    frontier = starts
    for t in range(1, length + 1):
        pick = md5_h32_col(
            F.concat_ws(":", F.col("walk_id").cast("string"),
                        F.lit(str(t)), F.col("node").cast("string"))
        )
        keyed = frontier.select(
            "walk_id", F.col("node").alias("cur"), pick.alias("h")
        )
        step = (
            keyed.join(nbr, keyed["cur"] == nbr["src"])
            .where(F.col("nrank") == (F.col("h") % F.col("outdeg")) + 1)
            .select("walk_id", F.lit(t).alias("step"), F.col("dst").alias("node"))
        )
        # intermediate steps feed two consumers (next step + the union);
        # the final step feeds only the union — skip its barrier +
        # materialization (r7)
        if t < length:
            frontier = step.localCheckpoint(eager=True)
        else:
            frontier = step
        out = out.unionByName(frontier)
    return out


def sql_random_walks(edges_cte: str, nodes_cte: str, walks_per_node: int = 2,
                     length: int = 4, id_col: str = "doc_id") -> str:
    """DuckDB twin: ranked neighbors + one unrolled CTE per step."""
    from datacube_core_spark.operators.dedup import sql_md5_h32

    if length < 1 or walks_per_node < 1:  # same guard as the Spark dialect
        raise ValueError("length and walks_per_node must be >= 1")
    pick = sql_md5_h32(
        "CAST(walk_id AS VARCHAR) || ':' || '{t}' || ':' || CAST(cur AS VARCHAR)"
    )
    ctes = [
        f"""rw_nbr AS (
  SELECT src, dst,
         ROW_NUMBER() OVER (PARTITION BY src ORDER BY dst) AS nrank,
         COUNT(*) OVER (PARTITION BY src) AS outdeg
  FROM (SELECT DISTINCT src, dst FROM {edges_cte}))""",
        f"""rw_s0 AS (
  SELECT {id_col} * {walks_per_node} + w AS walk_id, 0 AS step,
         {id_col} AS node
  FROM {nodes_cte}
  CROSS JOIN (SELECT UNNEST(range({walks_per_node})) AS w))""",
    ]
    for t in range(1, length + 1):
        h = pick.replace("{t}", str(t))
        ctes.append(f"""rw_s{t} AS (
  SELECT f.walk_id, {t} AS step, n.dst AS node
  FROM (SELECT walk_id, node AS cur FROM rw_s{t-1}) f
  JOIN rw_nbr n ON n.src = f.cur
  WHERE n.nrank = ({h}) % n.outdeg + 1)""")
    union = " UNION ALL ".join(
        f"SELECT walk_id, step, node FROM rw_s{t}" for t in range(length + 1)
    )
    return "WITH " + ",\n".join(ctes) + "\n" + union
