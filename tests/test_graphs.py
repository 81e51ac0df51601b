"""§2.N graph kernels — algebra unit tests on hand-checkable graphs
(the declared fixture queries are t2/rows-only checked in
test_t2_registry)."""

from __future__ import annotations

import pytest

from glonassdatamining_spark.api import connected_components, pagerank


def test_connected_components_two_chains(spark):
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11)], "src bigint, dst bigint"
    )
    got = {
        r.node: r.component for r in connected_components(edges, "src", "dst").collect()
    }
    assert got == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10}


def test_connected_components_empty(spark):
    edges = spark.createDataFrame([], "src bigint, dst bigint")
    assert connected_components(edges, "src", "dst").count() == 0


def _py_components(edges: list) -> dict:
    """Reference union-find: {node: min-member-of-component}."""
    parent: dict = {}

    def find(a):
        parent.setdefault(a, a)
        while parent[a] != a:
            parent[a] = parent[parent[a]]
            a = parent[a]
        return a

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            lo, hi = (ra, rb) if ra < rb else (rb, ra)
            parent[hi] = lo
    return {n: find(n) for n in parent}


def test_cc_distributed_star_matches_union_find(spark):
    """driver_max_edges=0 forces the large-star/small-star distributed
    path; on seeded random graphs (plus a long path — the O(diameter)
    killer) its labels must equal the union-find reference, and a path
    of 120 nodes must converge well inside max_iter=20 rounds
    (O(log n), not O(n))."""
    import random

    rng = random.Random(42)
    cases = [
        [(rng.randrange(60), rng.randrange(60)) for _ in range(80)],
        [(rng.randrange(200), rng.randrange(200)) for _ in range(120)],
        [(i, i + 1) for i in range(119)],  # 120-node path: diameter 119
    ]
    for edges in cases:
        df = spark.createDataFrame(edges, "src bigint, dst bigint")
        got = {
            r.node: r.component
            for r in connected_components(
                df, "src", "dst", driver_max_edges=0
            ).collect()
        }
        assert got == _py_components(edges)


def test_pagerank_matches_power_iteration(spark):
    # Directed 4-node graph with a dangling node (4 has no out-edges).
    e = [(1, 2), (1, 3), (2, 3), (3, 4)]
    edges = spark.createDataFrame(e, "src bigint, dst bigint")
    got = {r.node: r.rank for r in pagerank(edges, "src", "dst", n_iter=10).collect()}

    # Independent dense power iteration with the same semantics.
    nodes = [1, 2, 3, 4]
    out = {1: 2, 2: 1, 3: 1}
    rank = {v: 0.25 for v in nodes}
    d = 0.85
    for _ in range(10):
        dangling = sum(rank[v] for v in nodes if v not in out)
        base = (1 - d) / 4 + d * dangling / 4
        new = {v: base for v in nodes}
        for s, t in e:
            new[t] += d * rank[s] / out[s]
        rank = new

    assert got.keys() == rank.keys()
    for v in nodes:
        assert got[v] == pytest.approx(rank[v], abs=1e-12)
    assert sum(got.values()) == pytest.approx(1.0, abs=1e-9)


def test_triangle_count_kernel(spark):
    # The declared builder at smoke scale must produce exactly one row
    # with non-negative counts (triangles may be zero on tiny data).
    from conftest import SF_DIR
    from glonassdatamining_spark.operators.graphs import n3_triangle_count

    row = n3_triangle_count(spark, SF_DIR).collect()
    assert len(row) == 1
    assert row[0].n_triangles >= 0


def test_bfs_hops_hand_graph(spark):
    """Path 1-2-3-4 plus branch 2-5 and an unreachable pair 8-9:
    distances from node 1 must be exact BFS depths and the 8/9
    component must be absent."""
    from glonassdatamining_spark.api import bfs_hops

    e = [(1, 2), (2, 3), (3, 4), (2, 5), (8, 9)]
    edges = spark.createDataFrame(e, "src bigint, dst bigint")
    got = {r.node: r.hops for r in bfs_hops(edges, "src", "dst").collect()}
    assert got == {1: 0, 2: 1, 3: 2, 5: 2, 4: 3}


def test_bfs_hops_max_iter_truncates(spark):
    """max_iter bounds the number of expansion rounds: on the same hand
    graph, two rounds reach depth 2 and node 4 (depth 3) stays out.
    n4's oracle mirrors this cut with ``WHERE r.d < 20``."""
    from glonassdatamining_spark.api import bfs_hops

    e = [(1, 2), (2, 3), (3, 4), (2, 5), (8, 9)]
    edges = spark.createDataFrame(e, "src bigint, dst bigint")
    got = {
        r.node: r.hops
        for r in bfs_hops(edges, "src", "dst", max_iter=2).collect()
    }
    assert got == {1: 0, 2: 1, 3: 2, 5: 2}


def test_bfs_hops_empty(spark):
    from glonassdatamining_spark.api import bfs_hops

    edges = spark.createDataFrame([], "src bigint, dst bigint")
    assert bfs_hops(edges, "src", "dst").count() == 0


def _py_kcore(edges: list, k: int) -> dict:
    """Single-node reference peeling: returns {node: core_degree}."""
    from collections import defaultdict

    adj = defaultdict(set)
    for a, b in edges:
        if a != b:
            adj[a].add(b)
            adj[b].add(a)
    changed = True
    while changed:
        changed = False
        for n in list(adj):
            if len(adj[n]) < k:
                for m in adj[n]:
                    adj[m].discard(n)
                del adj[n]
                changed = True
    return {n: len(ns) for n, ns in adj.items()}


def test_kcore_matches_python_peeling(spark):
    """api.kcore on the fixture co-purchase graph must equal the
    single-node peeling fixpoint (node set AND per-node core degree —
    the fixpoint is unique, so any discrepancy is a bug)."""
    from conftest import SF_DIR
    from glonassdatamining_spark.api import kcore
    from glonassdatamining_spark.operators.graphs import (
        _MIN_COOCCUR,
        _copurchase_edges,
    )

    edges_df = _copurchase_edges(spark, SF_DIR, _MIN_COOCCUR)
    edges = [(r.src, r.dst) for r in edges_df.collect()]
    for k in (2, 3, 4):
        want = _py_kcore(edges, k)
        got = {
            r.node: r.core_degree
            for r in kcore(edges_df, "src", "dst", k).collect()
        }
        assert got == want, f"k={k}: {got} != {want}"


def test_n5_density_derived_k_and_nonempty(spark):
    """n5's density-derived k (round-9 verdict ask #3): the derived
    k must equal the python derivation max(2, floor(m/n)) on the
    fixture graph, the registered output must be NON-EMPTY (the whole
    point — fixed k=3 was vacuous at sf0.1), carry the k column, and
    equal the python peel at that k."""
    from conftest import SF_DIR
    from glonassdatamining_spark.operators.graphs import (
        _MIN_COOCCUR,
        _copurchase_edges,
        _kcore_auto_k,
        n5_kcore,
    )

    edges_df = _copurchase_edges(spark, SF_DIR, _MIN_COOCCUR)
    edges = [(r.src, r.dst) for r in edges_df.collect()]
    nodes = {v for e in edges for v in e}
    want_k = max(2, len(edges) // len(nodes))
    assert _kcore_auto_k(edges_df) == want_k

    rows = n5_kcore(spark, SF_DIR).collect()
    assert rows, "density-derived k-core must be non-empty on the fixture"
    assert {r.k for r in rows} == {want_k}
    want = _py_kcore(edges, want_k)
    assert {r.node: r.core_degree for r in rows} == want


def test_kcore_auto_k_nonempty_on_sparse_hand_graph(spark):
    """The k=2 floor on a graph where floor(m/n) < 2: a triangle plus
    a long tail — derived k is 2 and the triangle survives (the
    Erdős bound doesn't apply below 2, but the floor keeps the
    operator meaningful on sparse graphs)."""
    from glonassdatamining_spark.api import kcore
    from glonassdatamining_spark.operators.graphs import _kcore_auto_k

    e = [(1, 2), (2, 3), (1, 3), (3, 4), (4, 5), (5, 6), (6, 7)]
    edges = spark.createDataFrame(e, "src bigint, dst bigint")
    k = _kcore_auto_k(edges)
    assert k == 2  # m/n = 7/7 = 1 -> floored to 2
    got = {r.node for r in kcore(edges, "src", "dst", k).collect()}
    assert got == {1, 2, 3}


def test_kcore_hand_graph(spark):
    """Triangle 1-2-3 (the 2-core) plus a tail 3-4-5: the tail must
    peel away entirely at k=2."""
    from glonassdatamining_spark.api import kcore

    e = [(1, 2), (2, 3), (1, 3), (3, 4), (4, 5)]
    edges = spark.createDataFrame(e, "src bigint, dst bigint")
    got = {r.node: r.core_degree for r in kcore(edges, "src", "dst", 2).collect()}
    assert got == {1: 2, 2: 2, 3: 2}


def test_cc_distributed_round_count_is_logarithmic(spark):
    """Drive the DISTRIBUTED star-contraction branch (driver gate
    lowered) on a 50k-node path — the O(diameter) worst case for
    naive propagation — plus a 10k-spoke star, and pin the round
    ledger: convergence must take more than a trivial number of
    rounds (proving the big-graph branch actually iterated) yet stay
    within the Kiveris O(log n) bound; labels must still be exact."""
    import math

    from pyspark.sql import functions as F

    from glonassdatamining_spark.api import connected_components

    n = 50_000
    hub = 10_000_000
    path = spark.range(n - 1).select(
        F.col("id").alias("a"), (F.col("id") + 1).alias("b")
    )
    star = spark.range(10_000).select(
        F.lit(hub).alias("a"), (F.col("id") + hub + 1).alias("b")
    )
    edges = path.union(star)
    stats: dict = {}
    out = connected_components(
        edges, "a", "b", driver_max_edges=1_000, stats_out=stats
    ).localCheckpoint()
    assert stats["path"] == "distributed"
    assert stats["rounds"] > 3, stats
    assert stats["rounds"] <= 2 * math.ceil(math.log2(n)) + 2, stats
    # The parent-edge counts must be recorded once per round.
    assert len(stats["edge_counts"]) == stats["rounds"]
    bad_path = out.filter(
        (F.col("node") < n) & (F.col("component") != 0)
    ).count()
    bad_star = out.filter(
        (F.col("node") >= hub) & (F.col("component") != hub)
    ).count()
    assert bad_path == 0 and bad_star == 0
    assert out.count() == n + 10_001


def test_n16b_equals_n16_below_cap(spark):
    """The super-hub cap must be EXACTLY inert below the cap: with
    cap > max degree, the capped pipeline's ball sizes equal n16's
    row-for-row — the cap only changes behavior where Σ deg² growth
    would actually hurt. (The registered n16b uses cap=32, which
    BINDS on this fixture — asserted too.)"""
    from glonassdatamining_spark import registry
    from glonassdatamining_spark.operators.graphs import (
        _MIN_COOCCUR,
        _N16B_CAP,
        _copurchase_edges,
    )
    from pyspark.sql import functions as F
    from tests.conftest import SF_DIR

    e = _copurchase_edges(spark, SF_DIR, _MIN_COOCCUR)
    sym = e.union(e.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
    max_deg = (
        sym.groupBy("src").count().agg(F.max("count")).collect()[0][0]
    )
    # The REGISTERED cap must bind on the fixture (so the hash-checked
    # result exercises the capped path); the inertness claim is proven
    # with a cap raised just above the max degree.
    assert max_deg >= _N16B_CAP, (
        f"fixture max degree {max_deg} < registered cap {_N16B_CAP} — "
        "the registered variant no longer exercises the capped path"
    )
    from glonassdatamining_spark.operators.graphs import _n16b_impl

    a = registry.get("n16_two_hop_ball").builder(spark, SF_DIR).toPandas()
    b = _n16b_impl(spark, SF_DIR, cap=max_deg + 1).toPandas()
    a = a.sort_values("node").reset_index(drop=True)
    b = b.sort_values("node").reset_index(drop=True)
    assert a["node"].tolist() == b["node"].tolist()
    assert a["ball2_size"].tolist() == b["ball2_size"].tolist()


def test_n8b_equals_n8_below_cap(spark):
    """n16b's inert-below-cap discipline applied to the n8 wedge
    (round-10 verdict ask #3): with cap > max degree the capped
    pipeline equals n8 row-for-row on ALL four columns — the capped
    degree equals the exact degree everywhere, so the coefficient
    denominator is unchanged too. The registered cap of 32 must BIND
    on the fixture so the hash-checked result exercises the capped
    path."""
    from glonassdatamining_spark import registry
    from glonassdatamining_spark.operators.graphs import (
        _MIN_COOCCUR,
        _N8B_CAP,
        _copurchase_edges,
        _n8b_impl,
    )
    from pyspark.sql import functions as F
    from tests.conftest import SF_DIR

    e = _copurchase_edges(spark, SF_DIR, _MIN_COOCCUR)
    sym = e.union(e.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
    max_deg = (
        sym.groupBy("src").count().agg(F.max("count")).collect()[0][0]
    )
    assert max_deg >= _N8B_CAP, (
        f"fixture max degree {max_deg} < registered cap {_N8B_CAP} — "
        "the registered variant no longer exercises the capped path"
    )
    a = (
        registry.get("n8_clustering_coefficient")
        .builder(spark, SF_DIR)
        .toPandas()
        .sort_values("node")
        .reset_index(drop=True)
    )
    b = (
        _n8b_impl(spark, SF_DIR, cap=max_deg + 1)
        .toPandas()
        .sort_values("node")
        .reset_index(drop=True)
    )
    for col in ("node", "degree", "n_triangles", "clustering_coeff"):
        assert a[col].tolist() == b[col].tolist(), col


def test_n18_labels_python_replay(spark):
    """Per-node LPA labels at sf0.001 replayed in pure python: same
    init, same synchronous rounds, same (max count, min label)
    tie-break, same self-vote. The distributed kernel must agree
    node-for-node — pins the update rule against silent drift (n5's
    replay discipline)."""
    from collections import Counter

    from glonassdatamining_spark.operators.graphs import (
        _MIN_COOCCUR,
        _N18_ITERS,
        _copurchase_edges,
        _n18_labels,
    )
    from tests.conftest import SF_DIR

    e = _copurchase_edges(spark, SF_DIR, _MIN_COOCCUR).localCheckpoint()
    edges = [(r.src, r.dst) for r in e.collect()]
    assert len(edges) > 20, "fixture graph too small to exercise LPA"
    adj: dict = {}
    for s, d in edges:
        adj.setdefault(s, []).append(d)
        adj.setdefault(d, []).append(s)
    lbl = {v: v for v in adj}
    for _ in range(_N18_ITERS):
        nxt = {}
        for v, nbrs in adj.items():
            votes = Counter(lbl[n] for n in nbrs)
            votes[lbl[v]] += 1  # self-vote
            nxt[v] = min(votes, key=lambda c: (-votes[c], c))
        lbl = nxt
    got = {r.node: r.community for r in _n18_labels(e).collect()}
    assert got == lbl


def test_n18_hand_graph_two_cliques(spark):
    """Two triangles joined by one bridge edge: LPA must detect the
    two cliques as separate communities (the bridge is outvoted)."""
    from glonassdatamining_spark.operators.graphs import _n18_labels

    e = spark.createDataFrame(
        [(1, 2), (1, 3), (2, 3), (4, 5), (4, 6), (5, 6), (3, 4)],
        "src bigint, dst bigint",
    )
    got = {r.node: r.community for r in _n18_labels(e).collect()}
    assert got[1] == got[2] == got[3]
    assert got[4] == got[5] == got[6]
    assert got[1] != got[4]


def _mode_lbl_aggregates(df) -> int:
    """Number of ``mode(lbl)`` aggregates in ``df``'s analyzed plan,
    counted by walking its nodes and their expression trees."""
    from tests.conftest import plan_nodes

    def exprs(e):
        yield e
        kids = e.children()
        for i in range(kids.size()):
            yield from exprs(kids.apply(i))

    n = 0
    for node in plan_nodes(df._jdf.queryExecution().analyzed()):
        top = node.expressions()
        for e in (x for i in range(top.size()) for x in exprs(top.apply(i))):
            if e.getClass().getSimpleName() != "Mode":
                continue
            arg = e.children().apply(0)
            n += (
                arg.getClass().getSimpleName() == "AttributeReference"
                and arg.name().lower() == "lbl"
            )
    return n


def test_n18_round_hint_free_and_lazy_chain(spark):
    """Round-12 restructure: (a) the per-round label join carries NO
    explicit broadcast hint — strategy is AQE's call at any scale
    (the round-9 gate's safety property, now unconditional), and
    (b) the self-loop vote form chains the 4 rounds lazily — the
    label chain stays linear (one join + one aggregate per level),
    which the round replay tests pin value-wise; here we pin the
    plan: no hint node, and exactly _N18_ITERS mode-aggregates in
    the final label plan."""
    from glonassdatamining_spark.operators.graphs import (
        _N18_ITERS,
        _n18_labels,
        _n18_round,
    )

    e = spark.createDataFrame(
        [(1, 2), (1, 3), (2, 3), (4, 5), (4, 6), (5, 6), (3, 4)],
        "src bigint, dst bigint",
    )
    got = {r.node: r.community for r in _n18_labels(e).collect()}
    assert got[1] == got[2] == got[3]
    assert got[4] == got[5] == got[6]

    sym = e.union(e.selectExpr("dst as src", "src as dst"))
    loops = sym.selectExpr("src", "src as dst").distinct()
    labels = sym.selectExpr("src as node", "src as lbl").distinct()
    plan = (
        _n18_round(sym.union(loops), labels)
        ._jdf.queryExecution().analyzed().toString()
    )
    assert "broadcast" not in plan.lower()

    # checkpointed: no lineage
    assert _mode_lbl_aggregates(_n18_labels(e)) == 0
    # the chain is linear: build labels WITHOUT the final checkpoint by
    # replaying the loop shape and counting aggregates
    chained = labels
    for _ in range(_N18_ITERS):
        chained = (
            _n18_round(sym.union(loops), chained)
            .groupBy("node")
            .agg(__import__("pyspark").sql.functions.mode("lbl", True).alias("lbl"))
        )
    assert _mode_lbl_aggregates(chained) == _N18_ITERS


def test_weighted_sssp_matches_dijkstra(spark):
    """api.weighted_sssp vs a python Dijkstra on a hand graph whose
    shortest paths MUST take more hops than the hop-minimal route
    (1-2-3-4 costs 3 vs direct 1-4 cost 10), parallel edges keep the
    lighter weight, and an unreachable component stays absent."""
    import heapq

    from glonassdatamining_spark import api

    e = [
        (1, 2, 1), (2, 3, 1), (3, 4, 1), (1, 4, 10), (1, 4, 12),
        (4, 5, 2), (7, 8, 1),  # 7-8: unreachable from 1
    ]
    edges = spark.createDataFrame(e, "src bigint, dst bigint, w bigint")
    got = {
        r.node: r.dist
        for r in api.weighted_sssp(
            edges, "src", "dst", "w", source_node=1
        ).collect()
    }

    adj: dict = {}
    for s, d, w in e:
        adj.setdefault(s, []).append((d, w))
        adj.setdefault(d, []).append((s, w))
    dist = {1: 0}
    pq = [(0, 1)]
    while pq:
        d0, v = heapq.heappop(pq)
        if d0 > dist.get(v, 1 << 60):
            continue
        for nb, w in adj[v]:
            nd = d0 + w
            if nd < dist.get(nb, 1 << 60):
                dist[nb] = nd
                heapq.heappush(pq, (nd, nb))
    assert got == dist
    assert got[4] == 3  # the multi-hop route won
    assert 7 not in got and 8 not in got


def test_n19_cap_never_bites_at_fixture_scale(spark):
    """The registered n19 truncates to dist <= _N19_CAP only so the
    recursive-CTE oracle has a finite path-cost guard; at fixture
    scale the cap must never bite (max distance < cap/2), so the
    capped result IS the full single-source reachable set."""
    from conftest import SF_DIR
    from glonassdatamining_spark import api
    from glonassdatamining_spark.operators.graphs import (
        _N19_CAP,
        _n19_weighted_edges,
    )

    edges = _n19_weighted_edges(spark, SF_DIR)
    full = api.weighted_sssp(edges, "src", "dst", "w")  # uncapped
    rows = full.collect()
    assert len(rows) > 5, "fixture graph too small for n19"
    max_dist = max(r.dist for r in rows)
    assert max_dist < _N19_CAP / 2, (
        f"max distance {max_dist} too close to the cap {_N19_CAP}"
    )


def test_weighted_pagerank_matches_power_iteration(spark):
    """api.pagerank(weight=...) vs a dense python power iteration with
    proportional-to-weight flow on a hand graph (dangling node 4,
    asymmetric weights so the weighted answer differs from n2's)."""
    from glonassdatamining_spark import api

    e = [(1, 2, 3), (1, 3, 1), (2, 3, 2), (3, 4, 5)]
    edges = spark.createDataFrame(e, "src bigint, dst bigint, w bigint")
    got = {
        r.node: r.rank
        for r in api.pagerank(
            edges, "src", "dst", n_iter=10, weight="w"
        ).collect()
    }

    nodes = [1, 2, 3, 4]
    wout = {1: 4.0, 2: 2.0, 3: 5.0}
    rank = {v: 0.25 for v in nodes}
    d = 0.85
    for _ in range(10):
        dangling = sum(rank[v] for v in nodes if v not in wout)
        base = (1 - d) / 4 + d * dangling / 4
        new = {v: base for v in nodes}
        for s, t, w in e:
            new[t] += d * rank[s] * w / wout[s]
        rank = new
    assert got.keys() == rank.keys()
    for v in nodes:
        assert got[v] == pytest.approx(rank[v], abs=1e-12)
    assert sum(got.values()) == pytest.approx(1.0, abs=1e-9)
    # unweighted flow through node 1 would split 50/50; weighted must
    # favor 2 three-to-one — assert the weighted answer is different
    unweighted = {
        r.node: r.rank
        for r in api.pagerank(edges, "src", "dst", n_iter=10).collect()
    }
    assert abs(got[2] - unweighted[2]) > 1e-3


def test_n20_fixture_replay(spark):
    """The registered n20 on the sf0.001 fixture graph vs a python
    power-iteration replay over the same weighted symmetrized edges
    (n18's replay discipline applied to the weighted rank)."""
    from conftest import SF_DIR
    from glonassdatamining_spark import registry
    from glonassdatamining_spark.operators.graphs import (
        _MIN_COOCCUR,
        _copurchase_edges,
    )

    e = _copurchase_edges(spark, SF_DIR, _MIN_COOCCUR, weighted=True)
    rows = [(r.src, r.dst, r.w) for r in e.collect()]
    assert len(rows) > 20
    wout: dict = {}
    sym = rows + [(d, s, w) for s, d, w in rows]
    for s, d, w in sym:
        wout[s] = wout.get(s, 0.0) + w
    nodes = sorted(wout)
    n = len(nodes)
    rank = {v: 1.0 / n for v in nodes}
    damp = 0.85
    for _ in range(10):
        base = (1 - damp) / n  # symmetrized graph: no dangling nodes
        new = {v: base for v in nodes}
        for s, d, w in sym:
            new[d] += damp * rank[s] * w / wout[s]
        rank = new
    got = {
        r.node: r.rank
        for r in registry.get("n20_weighted_pagerank")
        .builder(spark, SF_DIR)
        .collect()
    }
    assert got.keys() == rank.keys()
    for v in nodes:
        assert got[v] == pytest.approx(round(rank[v], 9), abs=1e-8)


def test_weighted_sssp_rejects_bad_weights(spark):
    """Round-9 review fix: float weights would silently truncate per
    relax step, and weights < 1 break termination — both fail fast."""
    from glonassdatamining_spark import api

    floats = spark.createDataFrame(
        [(1, 2, 1.5)], "src bigint, dst bigint, w double"
    )
    with pytest.raises(TypeError, match="integral"):
        api.weighted_sssp(floats, "src", "dst", "w")
    zeros = spark.createDataFrame(
        [(1, 2, 1), (2, 3, 0)], "src bigint, dst bigint, w bigint"
    )
    with pytest.raises(ValueError, match=">= 1"):
        api.weighted_sssp(zeros, "src", "dst", "w")


def test_weighted_pagerank_rejects_nonpositive_weights(spark):
    """Round-9 review fix: a zero summed out-weight would NaN every
    rank silently — fail fast instead."""
    from glonassdatamining_spark import api

    e = spark.createDataFrame(
        [(1, 2, 0), (2, 3, 2)], "src bigint, dst bigint, w bigint"
    )
    with pytest.raises(ValueError, match="positive"):
        api.pagerank(e, "src", "dst", weight="w")


def _py_kruskal(edges: list) -> set:
    """Reference Kruskal under the (w, src, dst) total order; returns
    the unique MSF edge set as (src, dst, w) tuples."""
    parent: dict = {}

    def find(a):
        parent.setdefault(a, a)
        while parent[a] != a:
            parent[a] = parent[parent[a]]
            a = parent[a]
        return a

    out = set()
    for w, s, d in sorted((w, s, d) for s, d, w in edges):
        rs, rd = find(s), find(d)
        if rs != rd:
            parent[rs] = rd
            out.add((s, d, w))
    return out


def test_msf_matches_kruskal_hand_graph(spark):
    """Boruvka vs Kruskal on a hand graph with ties (two weight-1
    edges) and two components — the unique-MSF total order must make
    them agree edge-for-edge."""
    from glonassdatamining_spark import api

    e = [
        (1, 2, 1), (2, 3, 1), (1, 3, 2), (3, 4, 5), (1, 4, 4),
        (10, 11, 7), (11, 12, 7), (10, 12, 8),
    ]
    edges = spark.createDataFrame(e, "src bigint, dst bigint, w bigint")
    got = {
        (r.src, r.dst, r.w)
        for r in api.minimum_spanning_forest(
            edges, "src", "dst", "w"
        ).collect()
    }
    want = _py_kruskal(e)
    assert got == want
    # 7 nodes, two components -> 5 edges
    assert len(got) == 7 - 2


def test_msf_matches_kruskal_fixture_graph(spark):
    """The registered n21 on the sf0.001 co-purchase graph must equal
    the python Kruskal edge set exactly (the unique-MSF property
    under the shared total order), and Σw must be minimal by
    construction."""
    from conftest import SF_DIR
    from glonassdatamining_spark import registry
    from glonassdatamining_spark.operators.graphs import _n19_weighted_edges

    e = [(r.src, r.dst, r.w) for r in _n19_weighted_edges(spark, SF_DIR).collect()]
    assert len(e) > 20
    got = {
        (r.src, r.dst, r.w)
        for r in registry.get("n21_min_spanning_forest")
        .builder(spark, SF_DIR)
        .collect()
    }
    want = _py_kruskal(e)
    assert got == want
    # forest size = nodes - components
    nodes = {n for s, d, _ in e for n in (s, d)}
    comps = len({frozenset()})  # recompute via union-find
    parent: dict = {}

    def find(a):
        parent.setdefault(a, a)
        while parent[a] != a:
            parent[a] = parent[parent[a]]
            a = parent[a]
        return a

    for s, d, _ in e:
        rs, rd = find(s), find(d)
        if rs != rd:
            parent[rs] = rd
    comps = len({find(n) for n in nodes})
    assert len(got) == len(nodes) - comps


def test_msf_empty_graph(spark):
    from glonassdatamining_spark import api

    edges = spark.createDataFrame([], "src bigint, dst bigint, w bigint")
    assert api.minimum_spanning_forest(edges, "src", "dst", "w").count() == 0


def test_msf_round_count_is_logarithmic(spark):
    """Boruvka's components at least halve per round — pin the ledger
    on a 256-node path (the worst case for naive merging: 255 edges,
    distinct weights) to <= ceil(log2 V) + 1 rounds, with the
    frontier shrinking monotonically."""
    import math

    from glonassdatamining_spark import api

    n = 256
    e = [(i, i + 1, 1 + (i * 7) % 97) for i in range(n - 1)]
    edges = spark.createDataFrame(e, "src bigint, dst bigint, w bigint")
    stats: dict = {}
    out = api.minimum_spanning_forest(
        edges, "src", "dst", "w", stats_out=stats
    )
    assert out.count() == n - 1  # a path IS its own MSF
    assert 1 <= stats["rounds"] <= math.ceil(math.log2(n)) + 1, stats
    assert stats["frontier_edges"] == sorted(
        stats["frontier_edges"], reverse=True
    )


def test_n22_betweenness_exact_on_cycle(spark):
    """C5 cycle, every node degree 2 so all 5 are pivot-eligible and
    k = n makes the estimator EXACT: by symmetry every node carries
    Sum_s delta_s = 2 (it is the unique middle of exactly one
    distance-2 pair, counted from both endpoints), scale n/k = 1."""
    from glonassdatamining_spark.api import betweenness_sampled

    e = [(0, 1), (1, 2), (2, 3), (3, 4), (4, 0)]
    edges = spark.createDataFrame(e, "src bigint, dst bigint")
    got = {
        r.node: r.bc_est
        for r in betweenness_sampled(edges, "src", "dst", k_sources=5).collect()
    }
    assert got == {0: 2.0, 1: 2.0, 2: 2.0, 3: 2.0, 4: 2.0}


def test_n22_betweenness_exact_on_bowtie(spark):
    """Two triangles sharing node 3 (all degrees >= 2, k = n): node 3
    is the unique intermediate of the 4 cross-triangle pairs ->
    Sum_s delta_s(3) = 8; every other node has zero dependency and is
    filtered out."""
    from glonassdatamining_spark.api import betweenness_sampled

    e = [(1, 2), (2, 3), (1, 3), (3, 4), (4, 5), (3, 5)]
    edges = spark.createDataFrame(e, "src bigint, dst bigint")
    got = {
        r.node: r.bc_est
        for r in betweenness_sampled(edges, "src", "dst", k_sources=6).collect()
    }
    assert got == {3: 8.0}


def test_n22_matches_python_brandes_on_fixture(spark):
    """Full-fixture replay: the distributed sampled Brandes must match
    a single-node Brandes run from the SAME md5-picked pivots (same
    degree floor, same hash order) on the identical edge list."""
    import hashlib
    from collections import defaultdict, deque

    from conftest import SF_DIR
    from glonassdatamining_spark.operators.graphs import (
        _MIN_COOCCUR,
        _copurchase_edges,
        n22_betweenness_sampled,
    )

    edges_df = _copurchase_edges(spark, SF_DIR, _MIN_COOCCUR)
    edges = [(r.src, r.dst) for r in edges_df.collect()]
    adj = defaultdict(set)
    for a, b in edges:
        adj[a].add(b)
        adj[b].add(a)
    n = len(adj)
    elig = [v for v in adj if len(adj[v]) >= 2]
    pivots = sorted(
        elig, key=lambda v: (hashlib.md5(str(v).encode()).hexdigest(), v)
    )[:4]
    scale = n / len(pivots)

    bc: dict = defaultdict(float)
    for s in pivots:
        dist = {s: 0}
        sigma = defaultdict(int)
        sigma[s] = 1
        order = [s]
        q = deque([s])
        while q:
            v = q.popleft()
            for w in adj[v]:
                if w not in dist:
                    dist[w] = dist[v] + 1
                    order.append(w)
                    q.append(w)
                if dist[w] == dist[v] + 1:
                    sigma[w] += sigma[v]
        delta = defaultdict(float)
        for w in reversed(order):
            for v in adj[w]:
                if dist.get(v) == dist[w] - 1:
                    delta[v] += (sigma[v] / sigma[w]) * (1.0 + delta[w])
        for v, d in delta.items():
            if v != s:
                bc[v] += d

    want = {v: round(d * scale, 6) for v, d in bc.items() if d > 0}
    got = {
        r.node: r.bc_est
        for r in n22_betweenness_sampled(spark, SF_DIR).collect()
    }
    assert got.keys() == want.keys()
    import pytest

    for v in want:
        assert got[v] == pytest.approx(want[v], abs=1e-5), v


def test_n23_harmonic_exact_on_cycle(spark):
    """C5, all degrees 2, k = n = 5 so the estimator is exact: each
    node sees two nodes at distance 1 and two at distance 2 ->
    h = 2 + 1 = 3.0 everywhere (scale n/k = 1)."""
    from glonassdatamining_spark.api import harmonic_closeness_sampled

    e = [(0, 1), (1, 2), (2, 3), (3, 4), (4, 0)]
    edges = spark.createDataFrame(e, "src bigint, dst bigint")
    got = {
        r.node: r.harmonic_est
        for r in harmonic_closeness_sampled(
            edges, "src", "dst", k_sources=5
        ).collect()
    }
    assert got == {v: 3.0 for v in range(5)}


def test_n23_matches_python_replay_on_fixture(spark):
    """Distributed sampled harmonic closeness == single-node BFS
    replay from the SAME md5 pivots on the identical edge list."""
    import hashlib
    from collections import defaultdict, deque

    from conftest import SF_DIR
    from glonassdatamining_spark.operators.graphs import (
        _MIN_COOCCUR,
        _copurchase_edges,
        n23_harmonic_closeness_sampled,
    )

    edges_df = _copurchase_edges(spark, SF_DIR, _MIN_COOCCUR)
    edges = [(r.src, r.dst) for r in edges_df.collect()]
    adj = defaultdict(set)
    for a, b in edges:
        adj[a].add(b)
        adj[b].add(a)
    n = len(adj)
    elig = [v for v in adj if len(adj[v]) >= 2]
    pivots = sorted(
        elig, key=lambda v: (hashlib.md5(str(v).encode()).hexdigest(), v)
    )[:4]
    scale = n / len(pivots)
    h: dict = defaultdict(float)
    for s in pivots:
        dist = {s: 0}
        q = deque([s])
        while q:
            v = q.popleft()
            for w in adj[v]:
                if w not in dist:
                    dist[w] = dist[v] + 1
                    q.append(w)
                    h[w] += 1.0 / dist[w]
    want = {v: round(x * scale, 6) for v, x in h.items()}
    got = {
        r.node: r.harmonic_est
        for r in n23_harmonic_closeness_sampled(spark, SF_DIR).collect()
    }
    assert got.keys() == want.keys()
    import pytest

    for v in want:
        assert got[v] == pytest.approx(want[v], abs=1e-6), v
