"""Graph-family invariants (the oracle diff in test_oracle_diff.py
covers degree/triangle values; these pin the structural claims and the
rows-only PageRank)."""

from __future__ import annotations

from pyspark.sql import functions as F

from bigdata1_spark.operators import graph


def test_handshake_lemma(spark, sf_dir):
    """sum(degree) must equal 2 * |edges| — catches any asymmetry in
    the array-local pair generation."""
    e = graph._co_supplier_edges(spark, sf_dir)
    deg = graph.graph_degree(spark, sf_dir)
    n_edges = e.count()
    assert n_edges > 0
    total_deg = deg.agg(F.sum("degree")).collect()[0][0]
    assert total_deg == 2 * n_edges
    # a < b strictly — no self-loops, no mirrored duplicates
    assert e.filter(F.col("a") >= F.col("b")).count() == 0


def test_triangle_total_divisible_by_three(spark, sf_dir):
    """Each triangle contributes exactly one count to each of its three
    vertices — the global sum must be 3 × #triangles."""
    t = graph.triangle_count(spark, sf_dir)
    total = t.agg(F.sum("n_triangles")).collect()[0][0]
    assert total is not None and total > 0
    assert total % 3 == 0


def test_triangle_dense_sparse_agree(spark, sf_dir):
    """The packed-bitmap dense plan and the wedge-join sparse plan are
    physical strategies for the same logical result — they must agree
    row-for-row (dense_max_nodes=0 forces the sparse path)."""
    dense = graph.triangle_count(spark, sf_dir)
    sparse = graph.triangle_count(spark, sf_dir, dense_max_nodes=0)
    assert dense.exceptAll(sparse).count() == 0
    assert sparse.exceptAll(dense).count() == 0


def test_triangle_dense_tiled_agrees(spark, sf_dir):
    """Forcing a small tile width splits the bitset kernel into many
    tile passes whose per-edge partial counts must sum to the same
    per-node totals as the single-tile plan (common(a,b) additivity
    across neighbor-index tiles)."""
    from bigdata1_spark.sources.tables import load_table

    n_sup = load_table(spark, sf_dir, "supplier").count()
    tiled = graph._triangle_count_dense(spark, sf_dir, n_sup, tile_nodes=64)
    flat = graph._triangle_count_dense(spark, sf_dir, n_sup)
    assert tiled.exceptAll(flat).count() == 0
    assert flat.exceptAll(tiled).count() == 0


def test_pagerank_invariants(spark, sf_dir):
    """No dangling nodes → damping conserves rank mass: sum(rank) = N
    up to rounding. Ranks positive, bounded below by the base term."""
    pr = graph.pagerank(spark, sf_dir).cache()
    n = pr.count()
    assert n > 0
    total = pr.agg(F.sum("rank")).collect()[0][0]
    assert abs(total - n) < 1e-3 * n
    lo = pr.agg(F.min("rank")).collect()[0][0]
    assert lo >= 0.15 - 1e-9
    # both node namespaces present and disjoint encodings decoded
    types = {r[0] for r in pr.select("node_type").distinct().collect()}
    assert types == {"customer", "supplier"}
    pr.unpersist(blocking=False)


def test_pagerank_deterministic_across_runs(spark, sf_dir):
    """Decimal-summed contributions make ranks bit-stable across
    shuffle orderings — two independent runs must agree exactly."""
    a = graph.pagerank(spark, sf_dir)
    b = graph.pagerank(spark, sf_dir)
    assert a.exceptAll(b).count() == 0
    assert b.exceptAll(a).count() == 0


def test_bfs_hops_frontier_invariants(spark, sf_dir):
    """BFS contract checked structurally against the edge list itself:
    the source is at hop 0; every hop-r node (r >= 1) has at least one
    neighbor at hop r-1 and NO neighbor at hop < r-1 (else its own hop
    would be smaller); hops never exceed BFS_ROUNDS; each node appears
    once."""
    from bigdata1_spark.operators.graph import (
        BFS_ROUNDS,
        BFS_SOURCE,
        _co_supplier_edges,
        bfs_hops,
    )

    dist = {r["node"]: r["hop"] for r in bfs_hops(spark, sf_dir).collect()}
    rows = bfs_hops(spark, sf_dir).collect()
    assert len(rows) == len(dist)  # no duplicate nodes
    assert dist[BFS_SOURCE] == 0
    adj: dict = {}
    for e in _co_supplier_edges(spark, sf_dir).collect():
        adj.setdefault(e["a"], set()).add(e["b"])
        adj.setdefault(e["b"], set()).add(e["a"])
    for node, hop in dist.items():
        assert 0 <= hop <= BFS_ROUNDS
        if hop == 0:
            continue
        nbr_hops = {dist[n] for n in adj[node] if n in dist}
        assert hop - 1 in nbr_hops, (node, hop)
        assert not any(h < hop - 1 for h in nbr_hops), (node, hop)


def test_label_prop_refines_toward_components(spark, sf_dir):
    """Structural contract: labels only decrease round-over-round, a
    node's label is always the id of SOME node within its r-hop
    neighborhood, and every label <= its node id; labels must be
    constant within a connected component at the fixpoint — here we
    check the weaker fixed-round invariant that two adjacent nodes'
    labels differ by at most what one more round would merge (i.e.
    min(label) over each edge's endpoints is a valid next-round value,
    and no label is smaller than its component's minimum node id)."""
    from bigdata1_spark.operators.graph import (
        _co_supplier_edges,
        label_prop,
    )

    labels = {
        r["node"]: r["label"] for r in label_prop(spark, sf_dir).collect()
    }
    assert labels
    # union-find ground-truth components
    parent: dict = {}

    def find(x):
        while parent.setdefault(x, x) != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    edges = _co_supplier_edges(spark, sf_dir).collect()
    for e in edges:
        parent[find(e["a"])] = find(e["b"])
    comp_min: dict = {}
    for n in labels:
        r = find(n)
        comp_min[r] = min(comp_min.get(r, n), n)
    for n, lab in labels.items():
        assert lab <= n
        assert lab >= comp_min[find(n)], n
        assert lab in labels  # label is a real node id


def test_clustering_coefficient_matches_pure_python(spark, duck, sf_dir):
    """c(v) recomputed from a Python adjacency-set walk over the same
    derived edge list — a different algorithm (neighbor-set
    intersection) than the wedge join under test."""
    edges = duck.execute(
        "SELECT DISTINCT x.l_suppkey, y.l_suppkey FROM lineitem x "
        "JOIN lineitem y ON x.l_orderkey = y.l_orderkey "
        "AND x.l_suppkey < y.l_suppkey"
    ).fetchall()
    adj: dict = {}
    for a, b in edges:
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    got = {r.node: r for r in
           graph.clustering_coefficient(spark, sf_dir).collect()}
    assert set(got) == set(adj)
    for v, nbrs in adj.items():
        r = got[v]
        assert r.degree == len(nbrs)
        tri = sum(len(adj[u] & nbrs) for u in nbrs) // 2
        assert r.n_triangles == tri, v
        if len(nbrs) < 2:
            assert r.clustering_coeff is None
        else:
            cc = 2.0 * tri / (len(nbrs) * (len(nbrs) - 1))
            assert abs(r.clustering_coeff - cc) < 1e-6
            assert -1e-9 <= r.clustering_coeff <= 1.0 + 1e-9


def test_clustering_coefficient_consistent_with_triangle_count(
    spark, sf_dir
):
    """The shared kernel must agree with the registry triangle_count key
    (which may take the dense bitmap path) on every node."""
    tc = {r.node: r.n_triangles
          for r in graph.triangle_count(spark, sf_dir).collect()}
    cc = {r.node: r.n_triangles
          for r in graph.clustering_coefficient(spark, sf_dir).collect()}
    for node, t in tc.items():
        assert cc.get(node) == t, node
    assert all(t == 0 for n, t in cc.items() if n not in tc)


def test_assortativity_matches_pure_python(spark, duck, sf_dir):
    """Newman's r recomputed the textbook way — Pearson over the fully
    symmetrized (deg_a, deg_b) edge-endpoint pairs — against the
    per-edge collapsed sufficient statistics under test."""
    import math

    import pytest

    edges = duck.execute(
        "SELECT DISTINCT x.l_suppkey, y.l_suppkey FROM lineitem x "
        "JOIN lineitem y ON x.l_orderkey = y.l_orderkey "
        "AND x.l_suppkey < y.l_suppkey"
    ).fetchall()
    deg: dict = {}
    for a, b in edges:
        deg[a] = deg.get(a, 0) + 1
        deg[b] = deg.get(b, 0) + 1
    xs = [deg[a] for a, b in edges] + [deg[b] for a, b in edges]
    ys = [deg[b] for a, b in edges] + [deg[a] for a, b in edges]
    n = len(xs)
    sx, sxx = sum(xs), sum(x * x for x in xs)
    sxy = sum(x * y for x, y in zip(xs, ys))
    num = n * sxy - sx * sx
    den = n * sxx - sx * sx
    row = graph.graph_assortativity(spark, sf_dir).collect()[0]
    assert row.n_nodes == len(deg)
    assert row.n_edges == len(edges)
    if den > 0:
        want = math.floor((num / den) * 1e6 + 0.5) / 1e6
        assert row.assortativity == pytest.approx(want, abs=1e-12)
        assert -1.0 - 1e-9 <= row.assortativity <= 1.0 + 1e-9
    else:
        assert row.assortativity is None


def test_assortativity_signed_shapes(spark, tmp_path):
    """A star graph must come out strongly negative (hub attaches only
    to leaves); a perfect clique (regular graph, zero degree variance)
    yields NULL rather than NaN."""

    def build(dirname, pairs):
        d = str(tmp_path / dirname)
        # one order per edge, two lineitems sharing the order key
        rows = []
        for i, (a, b) in enumerate(pairs):
            rows.append((i, a))
            rows.append((i, b))
        spark.createDataFrame(
            rows, "l_orderkey long, l_suppkey long"
        ).write.mode("overwrite").parquet(f"{d}/lineitem.parquet")
        return d

    star = build("star", [(0, i) for i in range(1, 6)])
    r = graph.graph_assortativity(spark, star).collect()[0]
    assert r.n_nodes == 6 and r.n_edges == 5
    assert r.assortativity is not None and r.assortativity < -0.99

    tri = build("clique3", [(1, 2), (1, 3), (2, 3)])
    r = graph.graph_assortativity(spark, tri).collect()[0]
    assert r.n_nodes == 3 and r.n_edges == 3
    assert r.assortativity is None  # regular graph: zero variance


def test_connected_components_matches_union_find(spark, duck, sf_dir):
    """Components recomputed with a plain union-find over the same
    derived edge list — a different algorithm than the hash-min loop
    under test; component ids must be the component-min node id."""
    edges = duck.execute(
        "SELECT DISTINCT x.l_suppkey, y.l_suppkey FROM lineitem x "
        "JOIN lineitem y ON x.l_orderkey = y.l_orderkey "
        "AND x.l_suppkey < y.l_suppkey"
    ).fetchall()
    parent: dict = {}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        parent.setdefault(a, a)
        parent.setdefault(b, b)
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[ra] = rb
    comp_min: dict = {}
    for v in parent:
        r = find(v)
        comp_min[r] = min(comp_min.get(r, v), v)
    want = {v: comp_min[find(v)] for v in parent}
    got = {
        r.node: r.component
        for r in graph.connected_components(spark, sf_dir).collect()
    }
    assert got == want


def test_connected_components_disjoint_blocks(spark, tmp_path):
    """Two hand-built disjoint chains must come out as two components
    labeled by their min node — exercises >1 hash-min round (chain
    diameter 3) and the convergence stop."""
    rows = []
    for i, (a, b) in enumerate([(1, 2), (2, 3), (3, 4), (10, 11), (11, 12)]):
        rows += [(i, a), (i, b)]
    d = str(tmp_path / "chains")
    spark.createDataFrame(
        rows, "l_orderkey long, l_suppkey long"
    ).write.mode("overwrite").parquet(f"{d}/lineitem.parquet")
    got = {
        r.node: r.component
        for r in graph.connected_components(spark, d).collect()
    }
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10, 12: 10}


def _rdd_scans(df) -> int:
    return df._jdf.queryExecution().optimizedPlan().toString().count("LogicalRDD")


def test_iterate_fixed_rounds_checkpoints_all_but_last(spark):
    """Without ``changed``: ``step`` runs exactly ``rounds`` times, each
    round after the first reads the previous round's checkpoint, and
    the returned frame is lazy over exactly one checkpointed RDD —
    round n-1's."""
    seen = []

    def step(df, r):
        seen.append((r, df))
        return df.select((F.col("x") + 1).alias("x"))

    out = graph.iterate(spark.range(5).select(F.col("id").alias("x")), step, 3)
    assert [r for r, _ in seen] == [1, 2, 3]
    assert _rdd_scans(seen[0][1]) == 0
    assert all(_rdd_scans(df) == 1 for _, df in seen[1:])
    assert _rdd_scans(out) == 1
    assert "Range" not in out._jdf.queryExecution().optimizedPlan().toString()
    # the one RDD scanned is the state handed to round 3 (round 2's)
    assert out.sameSemantics(seen[2][1].select((F.col("x") + 1).alias("x")))
    assert sorted(r.x for r in out.collect()) == [3, 4, 5, 6, 7]


def _count_down(df, _r):
    """One round towards all-zero: x -> max(x - 1, 0), flagging the
    rows that moved."""
    return df.select(
        F.greatest(F.col("x") - 1, F.lit(0)).alias("x"),
        (F.col("x") > 0).cast("long").alias("moved"),
    )


def test_iterate_fixpoint_stops_on_first_zero_change_round(spark):
    calls = []

    def step(df, r):
        calls.append(r)
        return _count_down(df, r)

    start = spark.range(5).select(F.col("id").alias("x"))  # 0..4
    out = graph.iterate(start, step, 20, changed="moved")
    # rounds 1-4 move some row; round 5 moves none and ends the loop
    assert calls == [1, 2, 3, 4, 5]
    assert out.columns == ["x"]
    assert _rdd_scans(out) == 1
    assert [r.x for r in out.collect()] == [0] * 5


def test_iterate_fixpoint_empty_input_stops_after_round_one(spark):
    calls = []

    def step(df, r):
        calls.append(r)
        return _count_down(df, r)

    start = spark.range(0).select(F.col("id").alias("x"))
    out = graph.iterate(start, step, 20, changed="moved")
    assert calls == [1]
    assert out.count() == 0


def test_observed_count_wait_is_bounded(spark, monkeypatch):
    """An observation whose frame never runs an action never gets its
    metrics; the reader must raise, naming the kernel and round,
    instead of blocking the job it watches."""
    import time

    import pytest
    from pyspark.sql import Observation

    obs = Observation("never_run")
    spark.range(3).observe(obs, F.count(F.lit(1)).alias("n"))
    monkeypatch.setattr(graph, "_FIXPOINT_WAIT_S", 0.3)
    t0 = time.monotonic()
    with pytest.raises(RuntimeError, match="some_kernel: round 7"):
        graph._observed_count(obs, "some_kernel", 7)
    assert time.monotonic() - t0 < 10
