"""Web-graph ops: link extraction, exact-integer PageRank, float parity."""

import re

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from datacube_core_spark.operators.graph import (
    SCALE,
    page_edges,
    pagerank_exact,
    pagerank_float,
)
from datacube_core_spark.sources.pages import (
    OUTLINK_MULTS,
    REPL_STRIDE,
    pages,
)

from .conftest import SF_TINY

# the outlink target space is sized from the DATA (dynamic n_docs) —
# derive the same value here from the parquet footer
import pyarrow.parquet as _pq

N_DOCS = _pq.read_metadata(f"{SF_TINY}/documents.parquet").num_rows


def _expected_targets(uid, repl, stride=REPL_STRIDE, n_docs=N_DOCS):
    out = []
    for k, m in enumerate(OUTLINK_MULTS):
        j = (uid * m + k) % (repl * n_docs)
        out.append((j // n_docs) * stride + (j % n_docs))
    return out


@pytest.mark.parametrize("repl", [1, 4])
def test_edges_extracted_match_arithmetic(spark, repl):
    p = pages(spark, SF_TINY, repl=repl)
    edges = page_edges(p).collect()
    by_src = {}
    for e in edges:
        by_src.setdefault(e.src, []).append(e.dst)
    n_nodes = repl * N_DOCS
    assert len(by_src) == n_nodes
    uids = set(by_src)
    for uid, dsts in by_src.items():
        assert len(dsts) == 3  # uniform outdegree (exact PR depends on it)
        assert dsts == _expected_targets(uid, repl)
        assert all(d in uids for d in dsts)  # no dangling targets


def _py_pagerank_exact(edges, nodes, iters):
    a = {v: 1 for v in nodes}
    for i in range(iters):
        base = 9 * SCALE**i
        nxt = {v: base for v in nodes}
        for s, d in edges:
            nxt[d] += 17 * a[s]
        a = nxt
    return a


TINY_NODES = list(range(4))
TINY_EDGES = [(0, 1), (0, 1), (0, 2), (1, 0), (1, 2), (1, 3),
              (2, 2), (2, 3), (2, 0), (3, 0), (3, 1), (3, 2)]


def _tiny_graph(spark):
    edf = spark.createDataFrame([Row(src=s, dst=d) for s, d in TINY_EDGES])
    ndf = spark.createDataFrame([Row(doc_id=v) for v in TINY_NODES])
    return edf, ndf


def _pages_graph(spark):
    p = pages(spark, SF_TINY, repl=1)
    return page_edges(p), p.select("doc_id")


def test_exact_pagerank_tiny_graph(spark):
    edf, ndf = _tiny_graph(spark)
    got = {r.doc_id: r.a for r in pagerank_exact(edf, ndf, iters=4).collect()}
    assert got == _py_pagerank_exact(TINY_EDGES, TINY_NODES, 4)
    # mass invariant: sum A_i = N * 60^i
    assert sum(got.values()) == 4 * SCALE**4


def test_exact_pagerank_on_pages_graph(spark):
    p = pages(spark, SF_TINY, repl=1)
    edges = page_edges(p)
    nodes = p.select("doc_id")
    out = pagerank_exact(edges, nodes, iters=5)
    total = out.agg(F.sum("a")).collect()[0][0]
    assert total == N_DOCS * SCALE**5
    # python replay over the extracted edges
    e = [(r.src, r.dst) for r in edges.collect()]
    ref = _py_pagerank_exact(e, list(range(N_DOCS)), 5)
    got = {r.doc_id: r.a for r in out.collect()}
    assert got == ref


@pytest.mark.parametrize("graph", [_tiny_graph, _pages_graph])
def test_pagerank_is_trustrank_with_every_node_seeded(spark, graph):
    """PageRank is the seeded recurrence with S = every node: the two
    operators return identical rows."""
    from datacube_core_spark.operators.graph import trustrank_exact

    edges, nodes = graph(spark)
    pr = sorted(map(tuple, pagerank_exact(edges, nodes, iters=4).collect()))
    tr = sorted(map(tuple, trustrank_exact(edges, nodes, nodes, iters=4).collect()))
    assert pr == tr and len(pr) > 0


def _executed_joins(df):
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    return len(re.findall(r"\b\w+Join\b", plan.split("== Initial Plan ==")[0]))


@pytest.mark.parametrize("iters", [1, 3])
def test_pagerank_plan_has_no_seed_join(spark, iters):
    """Each PageRank round is one edges⋈ranks join plus one nodes⋈sums
    left join, and the constant teleport indicator adds no seed join:
    2·iters joins.  TrustRank's seed joins show up in the same count."""
    from datacube_core_spark.operators.graph import trustrank_exact

    edges, nodes = _pages_graph(spark)
    assert _executed_joins(pagerank_exact(edges, nodes, iters=iters)) == 2 * iters
    seeds = nodes.where(F.col("doc_id") % 7 == 0)
    assert _executed_joins(trustrank_exact(edges, nodes, seeds, iters=iters)) > 2 * iters


def test_float_pagerank_matches_exact_on_uniform_graph(spark):
    p = pages(spark, SF_TINY, repl=1)
    edges = page_edges(p)
    nodes = p.select("doc_id")
    exact = {
        r.doc_id: r.a / (N_DOCS * float(SCALE) ** 5)
        for r in pagerank_exact(edges, nodes, iters=5).collect()
    }
    flt = {
        r.doc_id: r.r
        for r in pagerank_float(edges, nodes, iters=5, damping=0.85).collect()
    }
    assert max(abs(exact[v] - flt[v]) for v in exact) < 1e-12
    assert abs(sum(flt.values()) - 1.0) < 1e-9


def _py_hits(edges, nodes, iters):
    h = {v: 1 for v in nodes}
    a = {}
    for _ in range(iters):
        a = {v: 0 for v in nodes}
        for s, d in edges:
            a[d] += h[s]
        h = {v: 0 for v in nodes}
        for s, d in edges:
            h[s] += a[d]
    return a, h


def test_hits_exact(spark):
    from datacube_core_spark.operators.graph import hits_exact

    p = pages(spark, SF_TINY, repl=1)
    edges = page_edges(p)
    out = {r.doc_id: (r.a, r.h) for r in
           hits_exact(edges, p.select("doc_id"), iters=3).collect()}
    e = [(r.src, r.dst) for r in edges.collect()]
    ra, rh = _py_hits(e, list(range(N_DOCS)), 3)
    assert out == {v: (ra[v], rh[v]) for v in ra}


def test_float_pagerank_dangling(spark):
    # node 2 has no outlinks: its mass redistributes uniformly
    ndf = spark.createDataFrame([Row(doc_id=v) for v in range(3)])
    edf = spark.createDataFrame([Row(src=0, dst=2), Row(src=1, dst=2)])
    got = {r.doc_id: r.r for r in pagerank_float(edf, ndf, iters=20).collect()}
    assert abs(sum(got.values()) - 1.0) < 1e-9
    assert got[2] > got[0] == got[1]


def _brute_harmonic(edges, nodes, radius):
    """Brute-force: BFS from every source, sum lcm(1..R)//d into targets."""
    import math
    from collections import defaultdict, deque

    adj = defaultdict(list)
    for s, t in edges:
        adj[s].append(t)
    scale = math.lcm(*range(1, radius + 1))
    reach, hc = defaultdict(int), defaultdict(int)
    for s in nodes:
        dist = {s: 0}
        q = deque([s])
        while q:
            u = q.popleft()
            if dist[u] >= radius:
                continue
            for w in adj[u]:
                if w not in dist:
                    dist[w] = dist[u] + 1
                    q.append(w)
        for v, d in dist.items():
            if v != s and d >= 1:
                reach[v] += 1
                hc[v] += scale // d
    return {v: (reach[v], hc[v]) for v in nodes}


@pytest.mark.parametrize("radius", [1, 2, 4])
def test_harmonic_vs_brute_force(spark, radius):
    from datacube_core_spark.operators.graph import harmonic_centrality

    # arbitrary graph: non-uniform outdegree, cycles, self-loop, sinks
    edges = [(0, 1), (1, 2), (2, 0), (0, 2), (3, 0), (3, 3), (4, 5),
             (5, 6), (6, 7), (7, 4), (8, 0), (8, 1), (8, 2), (8, 9)]
    nodes = list(range(11))  # node 10 isolated
    edf = spark.createDataFrame([Row(src=s, dst=t) for s, t in edges])
    ndf = spark.createDataFrame([Row(doc_id=v) for v in nodes])
    got = {
        r.doc_id: (r.reach, r.hc_num)
        for r in harmonic_centrality(edf, ndf, radius=radius).collect()
    }
    assert got == _brute_harmonic(edges, nodes, radius)


def test_harmonic_radius1_is_distinct_indegree(spark):
    from datacube_core_spark.operators.graph import harmonic_centrality

    edges = [(0, 1), (2, 1), (2, 1), (1, 1), (3, 1), (1, 0)]
    edf = spark.createDataFrame([Row(src=s, dst=t) for s, t in edges])
    ndf = spark.createDataFrame([Row(doc_id=v) for v in range(4)])
    got = {r.doc_id: r.reach for r in harmonic_centrality(edf, ndf, radius=1).collect()}
    # distinct in-neighbors excluding the self-loop
    assert got == {0: 1, 1: 3, 2: 0, 3: 0}


def test_iteration_validation(spark):
    from datacube_core_spark.operators.graph import harmonic_centrality, hits_exact

    edf = spark.createDataFrame([Row(src=0, dst=1)])
    ndf = spark.createDataFrame([Row(doc_id=0), Row(doc_id=1)])
    with pytest.raises(ValueError):
        hits_exact(edf, ndf, iters=0)
    with pytest.raises(ValueError):
        pagerank_exact(edf, ndf, iters=-1)
    with pytest.raises(ValueError):
        harmonic_centrality(edf, ndf, radius=0)


def _brute_components(edges, nodes):
    # union-find reference
    parent = {v: v for v in nodes}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {v: find(v) for v in nodes}


def test_connected_components_vs_union_find(spark):
    from datacube_core_spark.operators.graph import connected_components

    # chain, triangle w/ extra edge, self-loop, directed-only link
    # (must be treated undirected), isolated nodes
    edges = [(0, 1), (1, 2), (2, 3), (5, 4), (6, 7), (7, 6), (6, 8),
             (9, 9), (11, 10)]
    nodes = list(range(14))  # 12, 13 isolated; 9 self-loop only
    edf = spark.createDataFrame([Row(src=s, dst=t) for s, t in edges])
    ndf = spark.createDataFrame([Row(doc_id=v) for v in nodes])
    got = {r.doc_id: r.cluster for r in connected_components(edf, ndf).collect()}
    assert got == _brute_components(edges, nodes)
    # self-loop-only and isolated nodes label themselves
    assert got[9] == 9 and got[12] == 12 and got[13] == 13


def test_connected_components_deep_chain_converges(spark):
    from datacube_core_spark.operators.graph import connected_components

    n = 200  # pointer jumping: log2(200) ~ 8 rounds << max_iters
    edf = spark.createDataFrame([Row(src=i, dst=i + 1) for i in range(n - 1)])
    ndf = spark.createDataFrame([Row(doc_id=v) for v in range(n)])
    got = connected_components(edf, ndf).collect()
    assert all(r.cluster == 0 for r in got) and len(got) == n


def test_hyperball_matches_duckdb_twin_bitwise(spark):
    """HyperBall: Spark vs the DuckDB twin on a small graph with hubs,
    chains, and an isolated-in-degree node — exact int ball sizes AND
    bitwise-equal estimator floats (the left-associated-tree contract)."""
    import duckdb

    from datacube_core_spark.operators.graph import (
        hyperball_harmonic,
        sql_hyperball,
    )

    edges = [(0, 1), (1, 2), (2, 0), (0, 2), (3, 0), (4, 0), (5, 4), (6, 5)]
    nodes = list(range(8))  # 7 has no edges at all
    edf = spark.createDataFrame(edges, "src LONG, dst LONG")
    ndf = spark.createDataFrame([(v,) for v in nodes], "doc_id LONG")
    got = {
        r["doc_id"]: tuple(r)[1:]
        for r in hyperball_harmonic(edf, ndf, iters=3, p=4).collect()
    }
    con = duckdb.connect()
    con.execute("CREATE TABLE e (src BIGINT, dst BIGINT)")
    con.executemany("INSERT INTO e VALUES (?, ?)", edges)
    con.execute("CREATE TABLE n (doc_id BIGINT)")
    con.executemany("INSERT INTO n VALUES (?)", [(v,) for v in nodes])
    exp = {
        row[0]: tuple(row)[1:]
        for row in con.execute(sql_hyperball("e", "n", 3, 4)).fetchall()
    }
    assert got == exp  # ints exact, floats bitwise
    # invariants: S monotonically non-increasing; no-in-edge nodes keep
    # their singleton ball (hharm exactly 0)
    for v, (s0, s1, s2, s3, _re, hh) in got.items():
        assert s0 >= s1 >= s2 >= s3
    assert got[7][5] == 0.0 and got[3][5] == 0.0


def test_hyperball_estimate_tracks_exact_reach(spark):
    """Sanity on the pages graph: the HLL estimate of the radius-3 ball
    correlates with the exact bounded-BFS reach (deterministic inputs →
    a fixed, loose band; p=4 is only 16 buckets so the per-node error is
    large, but the aggregate must track)."""
    from datacube_core_spark.operators.graph import (
        harmonic_centrality,
        hyperball_harmonic,
        page_edges,
    )

    pg = pages(spark, SF_TINY, repl=1)
    edges = page_edges(pg).localCheckpoint(eager=True)
    nodes = pg.select("doc_id")
    hb = hyperball_harmonic(edges, nodes, iters=3, p=4)
    ex = harmonic_centrality(edges, nodes, radius=3)
    j = hb.join(ex, "doc_id").where(F.col("reach") >= 10).select(
        (F.col("reach_est") / (F.col("reach") + 1)).alias("ratio")
    )
    stats = j.agg(F.avg("ratio"), F.count("*")).collect()[0]
    assert stats[1] > 0
    assert 0.5 < stats[0] < 2.0, f"mean est/true ratio {stats[0]}"


def test_trustrank_seed_gated_teleport(spark):
    """TrustRank: trust flows only FROM seeds — a non-seed node with no
    in-edges scores exactly 0; the uniform-outdeg-3 invariant
    Σ A_i = 60^i·|S| holds; DuckDB twin agrees bit-for-bit."""
    import duckdb

    from datacube_core_spark.operators.graph import (
        sql_trustrank_levels,
        trustrank_exact,
    )

    # uniform outdegree 3, no dangling: 6 nodes, v -> v+1, v+2, v+3 (mod 6)
    edges = [(v, (v + d) % 6) for v in range(6) for d in (1, 2, 3)]
    nodes = list(range(6))
    seeds = [0, 3]
    edf = spark.createDataFrame(edges, "src LONG, dst LONG")
    ndf = spark.createDataFrame([(v,) for v in nodes], "doc_id LONG")
    sdf = spark.createDataFrame([(v,) for v in seeds], "doc_id LONG")
    got = {
        r["doc_id"]: r["a"]
        for r in trustrank_exact(edf, ndf, sdf, iters=3).collect()
    }
    assert sum(got.values()) == 60**3 * len(seeds)  # invariant
    con = duckdb.connect()
    con.execute("CREATE TABLE e (src BIGINT, dst BIGINT)")
    con.executemany("INSERT INTO e VALUES (?, ?)", edges)
    con.execute("CREATE TABLE n (doc_id BIGINT)")
    con.executemany("INSERT INTO n VALUES (?)", [(v,) for v in nodes])
    con.execute("CREATE TABLE s (doc_id BIGINT)")
    con.executemany("INSERT INTO s VALUES (?)", [(v,) for v in seeds])
    exp = dict(con.execute(
        "WITH " + sql_trustrank_levels("e", "n", "s", 3)
        + " SELECT v, a FROM tr3"
    ).fetchall())
    assert got == exp
    # isolated non-seed: add node 7 with no in-edges (edges unchanged)
    ndf2 = spark.createDataFrame([(v,) for v in nodes + [7]], "doc_id LONG")
    got2 = {
        r["doc_id"]: r["a"]
        for r in trustrank_exact(edf, ndf2, sdf, iters=3).collect()
    }
    assert got2[7] == 0


def test_random_walks_deterministic_and_bitwise(spark):
    """Walks reproduce byte-for-byte across engines; dangling nodes
    truncate; every step follows a REAL edge."""
    import duckdb

    from datacube_core_spark.operators.graph import (
        random_walks,
        sql_random_walks,
    )

    edges = [(0, 1), (0, 2), (1, 2), (2, 0), (3, 1), (4, 5)]  # 5 dangles
    nodes = list(range(6))
    edf = spark.createDataFrame(edges, "src LONG, dst LONG")
    ndf = spark.createDataFrame([(v,) for v in nodes], "doc_id LONG")
    got = sorted(
        tuple(r) for r in random_walks(edf, ndf, walks_per_node=2, length=4).collect()
    )
    con = duckdb.connect()
    con.execute("CREATE TABLE e (src BIGINT, dst BIGINT)")
    con.executemany("INSERT INTO e VALUES (?, ?)", edges)
    con.execute("CREATE TABLE n (doc_id BIGINT)")
    con.executemany("INSERT INTO n VALUES (?)", [(v,) for v in nodes])
    exp = sorted(con.execute(sql_random_walks("e", "n", 2, 4)).fetchall())
    assert got == exp
    # dangling: node 5's walks are a single step-0 row
    w5 = [r for r in got if r[0] // 2 == 5]
    assert all(r[1] == 0 and r[2] == 5 for r in w5) and len(w5) == 2
    # walks from 4 reach 5 at step 1 then stop
    w4 = sorted(r for r in got if r[0] // 2 == 4)
    assert {(r[1], r[2]) for r in w4} == {(0, 4), (1, 5)}
    # every transition is an edge
    eset = set(edges)
    byw = {}
    for wid, step, node in got:
        byw.setdefault(wid, {})[step] = node
    for wid, steps in byw.items():
        for t in range(1, max(steps) + 1):
            assert (steps[t - 1], steps[t]) in eset
