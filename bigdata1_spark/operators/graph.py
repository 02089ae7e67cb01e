"""Graph analytics over the order network — the missing family between
relational analytics and the dedup clustering that already exists
(``dedup.dedup_clusters`` is connected components; this module adds
degree stats, triangle counting, and PageRank).

The graph is DERIVED from the star schema, the way production graph
pipelines derive edges from fact tables:

* co-supplier graph (unipartite, undirected): suppliers are adjacent
  when they ship lines of the same order. TPC-H orders carry at most 7
  lines, so per-order pair generation is bounded by C(7,2) — generated
  array-locally from ``collect_set`` (the ``basket.join_self_pairs``
  idiom), never via a self-join shuffle.
* customer–supplier graph (bipartite) for PageRank: edge when a
  customer's order contains a supplier's line.

Scale notes: every step is a keyed shuffle on node/edge ids; triangle
counting uses degree-ordered edge orientation (each triangle counted
from its lowest-degree vertex — the standard arboricity bound that
keeps wedge generation sub-quadratic on skewed degree distributions);
the iterative kernels run their rounds through :func:`iterate`, which
owns the per-round ``localCheckpoint`` and fixpoint policy; PageRank
sums contributions through decimal so partial-agg order cannot drift
ranks between runs.
"""

from __future__ import annotations

import time
from typing import Callable

from pyspark.sql import DataFrame, Observation, SparkSession, Window
from pyspark.sql import functions as F

from bigdata1_spark.sources.tables import load_table, parquet_row_count

# Dense-mode cutoff for triangle counting. The kernel is TILED over
# the neighbor-index range (r14 VERDICT item 2: the flat |V|-bit
# bitset stopped being broadcast-able at sf3's ~30k suppliers and the
# fallback sparse wedge join ground 314s on the near-complete derived
# graph), so the broadcast bound is per-TILE — |V|·tile_bits/8 bytes,
# held under _DENSE_TILE_BITS_BUDGET by shrinking the tile as |V|
# grows — not per-graph. The cutoff now only caps the driver-side
# tile loop (≤ 16 iterations at the 4096-bit floor) and past it the
# sparse arboricity-bounded path is genuinely the right plan anyway:
# co-occurrence-derived graphs get SPARSER with scale (edge count
# grows ~linearly with facts while the pair space grows |V|²), so
# dense mode is a small-|V| optimization, not the asymptotic plan.
_DENSE_MAX_NODES = 65536
# Per-tile broadcast payload budget: |V| bitset rows × tile bits ≤
# 2^28 bits = 32 MiB. Tile width is the largest power of two under
# the budget, clamped to [1024, 16384] (floor bounds the loop count,
# ceiling bounds the zero-padding on tiny graphs).
_DENSE_TILE_BITS_BUDGET = 1 << 28

# Longest wait for one round's observed change count. The count rides
# on the round's own checkpoint job, so it is normally delivered by the
# time that job returns; the deadline only turns a lost metrics event
# into an error instead of a hang.
_FIXPOINT_WAIT_S = 60.0


def iterate(
    state: DataFrame,
    step: Callable[[DataFrame, int], DataFrame],
    rounds: int,
    changed: str | None = None,
) -> DataFrame:
    """Run ``state = step(state, r)`` for r = 1..``rounds`` — the one
    round loop of the iterative kernels (pagerank, kcore, bfs_hops,
    label_prop, connected_components, dedup.min_label_components).

    Each round's output feeds more than one subtree of the next round,
    so rounds are materialized with eager ``localCheckpoint``: the plan
    stays round-sized instead of growing per iteration (an interleaved
    A/B measured per-round checkpoints faster than one unrolled job).

    * Without ``changed``: rounds 1..n-1 are checkpointed and round n
      is returned lazily, because the caller's action consumes it once.
    * With ``changed``, the name of a per-row 0/1 column the step
      emits: every round is checkpointed, the column's sum rides on the
      round's own checkpoint job as an ``observe()`` side output (zero
      extra jobs), the column is dropped, and the loop stops after the
      first round that changed nothing. Labels that only decrease make
      a zero-change round a fixpoint, so stopping early never changes
      the result; an empty input stops after round 1.

    Errors name the kernel by the step's enclosing function.
    """
    kernel = step.__qualname__.split(".")[0]
    for r in range(1, rounds + 1):
        state = step(state, r)
        if changed is None:
            if r < rounds:
                state = state.localCheckpoint()
            continue
        obs = Observation(f"{kernel}_changed_r{r}")
        state = (
            state.observe(obs, F.coalesce(F.sum(changed), F.lit(0)).alias("n"))
            .drop(changed)
            .localCheckpoint()
        )
        if _observed_count(obs, kernel, r) == 0:
            break
    return state


def _observed_count(obs: Observation, kernel: str, r: int) -> int:
    """The single long metric of ``obs``, waiting at most
    ``_FIXPOINT_WAIT_S``. Polls the JVM ``getRowOrEmpty`` (≤ 100 ms per
    call) because ``Observation.get`` waits without a bound."""
    deadline = time.monotonic() + _FIXPOINT_WAIT_S
    while True:
        row = obs._jo.getRowOrEmpty()
        if row.isDefined():
            return row.get().getLong(0)
        if time.monotonic() >= deadline:
            raise RuntimeError(
                f"{kernel}: round {r} change count not observed within "
                f"{_FIXPOINT_WAIT_S} s"
            )


def _order_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Co-supplier pairs (a < b), one row per order that contains both,
    emitted array-locally from each order's sorted supplier set (bounded
    by the 7-line order cap) — no self-join shuffle."""
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey"
    )
    per_order = li.groupBy("l_orderkey").agg(
        F.array_sort(F.collect_set("l_suppkey")).alias("ss")
    )
    return per_order.select(
        F.explode(
            F.flatten(
                F.transform(
                    F.col("ss"),
                    lambda x, i: F.transform(
                        F.slice(
                            F.col("ss"), i + 2, F.size(F.col("ss"))
                        ),
                        lambda y: F.struct(
                            x.alias("a"), y.alias("b")
                        ),
                    ),
                )
            )
        ).alias("e")
    ).select("e.a", "e.b")


def _co_supplier_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct undirected co-supplier edges (a < b), one row each:
    the per-order pairs deduplicated with one shuffle on the pair key.
    """
    return _order_pairs(spark, sf_dir).distinct()


def _symmetrized_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bidirectional (src, dst) view of the co-supplier edge list, in
    ONE pass over the edge generation (see :func:`symmetrize`). Callers
    checkpoint the result once and reuse it across rounds (bfs_hops,
    label_prop, connected_components)."""
    return symmetrize(_co_supplier_edges(spark, sf_dir), "a", "b")


def symmetrize(df: DataFrame, x: str, y: str) -> DataFrame:
    """Both orientations (src, dst) of each (x, y) row from ONE scan of
    ``df``: a 2-element struct array is exploded array-locally, where a
    union of two selects would run ``df``'s lineage once per leg."""
    return df.select(
        F.explode(
            F.array(
                F.struct(F.col(x).alias("src"), F.col(y).alias("dst")),
                F.struct(F.col(y).alias("src"), F.col(x).alias("dst")),
            )
        ).alias("e")
    ).select("e.src", "e.dst")


def graph_degree(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-supplier degree in the co-supplier graph.

    One bounded array-local pair generation, one distinct, one count —
    two keyed shuffles total. Exact integers end-to-end.
    Columns: node, degree.
    """
    e = _co_supplier_edges(spark, sf_dir)
    # explode both endpoints in ONE scan — union(e.a, e.b) would run
    # the (lazy) edge generation, distinct shuffle included, twice
    return (
        e.select(F.explode(F.array("a", "b")).alias("node"))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("degree"))
    )


def _triangle_count_dense(
    spark: SparkSession,
    sf_dir: str,
    n_nodes_bound: int,
    edges: DataFrame | None = None,
    tile_nodes: int | None = None,
) -> DataFrame:
    """Packed-bitmap triangle counting for dense derived graphs, TILED
    over the neighbor-index range.

    The co-supplier graph at small SF is near-complete (density ~0.9 at
    sf0.1), so any per-triangle enumeration pays Θ(n³) row traffic —
    the round-5 bench's heaviest key (16.5 s) was exactly that. The
    dense-mode plan is the HPC formulation instead: map node ids to
    dense indices, pack each node's neighborhood into an array<long>
    bitset, and compute per-edge common-neighbor counts as
    `sum(bit_count(a AND b))` via zip_with — word-ops per edge instead
    of wedge rows. Per-node counts follow from
    t(w) = ½ · Σ_{edges (w,x)} |N(w) ∩ N(x)| (each triangle at w is
    seen once through each of its two other vertices, so the incident
    sum is exactly 2·t(w) — integer division is exact).

    Tiling (r14 VERDICT item 2): a flat |V|-bit bitset makes the
    broadcast table |V|²/8 bytes — 112 MiB at sf3's 30k suppliers,
    past any sane broadcast. Instead the neighbor index range is split
    into tiles of ``tile_nodes`` bits (adaptive: largest power of two
    with |V|·tile_bits ≤ ``_DENSE_TILE_BITS_BUDGET``, so every
    broadcast stays ≤ 32 MiB at any |V| under the cutoff) and
    common(a, b) = Σ_tiles |N_t(a) ∩ N_t(b)| accumulates per-edge
    partial counts across tiles — an ordinary order-free SUM. Per-tile
    bitset tables only hold nodes with ≥1 neighbor IN that tile, and
    the per-edge join is inner, so on clustered/community graphs
    (block-local adjacency — exactly the derived-graph shape) each
    edge is touched by ~1-2 tiles, not all of them. At ntiles == 1
    the loop degenerates to the untiled kernel with exact-width
    bitsets (ceil(|V|/64) words) — zero regression at small |V|.

    Everything is JVM built-ins (sequence/transform/aggregate/zip_with/
    bit_count); per-tile bitset tables are broadcast-joined to the
    indexed edge list, which is localCheckpoint-ed once and reused by
    every tile pass. The dense-index assignment is a row_number over
    the |V|-row node table — single partition by construction, but
    dense mode PRESUPPOSES |V| is broadcast-small, so that window
    never grows past the cutoff.
    """
    n_bound = max(n_nodes_bound, 1)
    if tile_nodes is None:
        budget = _DENSE_TILE_BITS_BUDGET // n_bound
        tile_nodes = 1 << max(10, min(14, budget.bit_length() - 1))
    tile_nodes = max(tile_nodes, 64)
    ntiles = max((n_bound + tile_nodes - 1) // tile_nodes, 1)
    e = (
        edges
        if edges is not None
        else _co_supplier_edges(spark, sf_dir).localCheckpoint()
    )
    nodes = (
        e.select(F.col("a").alias("node"))
        .union(e.select(F.col("b").alias("node")))
        .distinct()
    )
    idx = nodes.select(
        "node", (F.row_number().over(Window.orderBy("node")) - 1).alias("i")
    )
    ia = idx.select(F.col("node").alias("a"), F.col("i").alias("ia"))
    ib = idx.select(F.col("node").alias("b"), F.col("i").alias("ib"))
    # A round-robin repartition of ei before the per-edge bitmap stage
    # was tried in r16 (the AQE byte-coalesced stage runs ~2 tasks at
    # toy scale) and REJECTED on an interleaved 5-rep A/B: the extra
    # exchange lost ~10-15% on triangle_count AND clustering_coefficient
    # — at small |V| the bitmap AND is too cheap to amortize it.
    ei = e.join(F.broadcast(ia), "a").join(F.broadcast(ib), "b")
    inc = ei.select(F.col("ia").alias("x"), F.col("ib").alias("y")).union(
        ei.select(F.col("ib").alias("x"), F.col("ia").alias("y"))
    )
    if ntiles > 1:
        ei = ei.localCheckpoint()
        inc = inc.localCheckpoint()
    parts: list[DataFrame] = []
    for t in range(ntiles):
        lo = t * tile_nodes
        width = min(tile_nodes, n_bound - lo)
        nwords = (width + 63) // 64
        bt = (
            inc.filter((F.col("y") >= lo) & (F.col("y") < lo + width))
            .select("x", (F.col("y") - F.lit(lo)).alias("yl"))
            .groupBy("x")
            .agg(F.collect_set("yl").alias("nbrs"))
            .select(
                "x",
                F.expr(
                    f"""
                    transform(sequence(0, {nwords - 1}),
                      w -> aggregate(filter(nbrs, i -> i div 64 = w), 0L,
                                     (acc, i) -> acc | shiftleft(1L, cast(i % 64 as int))))
                    """
                ).alias("bs"),
            )
        )
        ba = bt.select(F.col("x").alias("ia"), F.col("bs").alias("bsa"))
        bb = bt.select(F.col("x").alias("ib"), F.col("bs").alias("bsb"))
        parts.append(
            ei.join(F.broadcast(ba), "ia")
            .join(F.broadcast(bb), "ib")
            .select(
                "a",
                "b",
                F.expr(
                    "aggregate(zip_with(bsa, bsb, (p, q) -> bit_count(p & q)),"
                    " 0, (acc, x) -> acc + x)"
                )
                .cast("long")
                .alias("common"),
            )
            .where(F.col("common") > 0)
        )
    per_edge = parts[0]
    for p in parts[1:]:
        per_edge = per_edge.unionAll(p)
    return (
        per_edge.select(
            F.explode(
                F.array(
                    F.struct(
                        F.col("a").alias("node"), F.col("common").alias("c")
                    ),
                    F.struct(
                        F.col("b").alias("node"), F.col("common").alias("c")
                    ),
                )
            ).alias("t")
        )
        .groupBy(F.col("t.node").alias("node"))
        .agg((F.sum("t.c") / F.lit(2)).cast("long").alias("n_triangles"))
        .where(F.col("n_triangles") > 0)
    )


def _triangle_count_sparse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wedge-join triangle counting for sparse graphs (the general path).

    Degree-ordered orientation: each undirected edge points from its
    lower-(degree, id) endpoint, so every triangle is enumerated exactly
    once and wedge generation is bounded by the arboricity (sum of
    min-degree per edge), not sum(degree²) — what keeps the join alive
    on power-law graphs at 100 TB. The tiny edge list (2 longs/row) is
    localCheckpoint-ed once so the degree pass and the orientation pass
    share one materialization instead of re-running the whole
    generation chain; both triangle joins are broadcast (the oriented
    edge list is |E| rows of 16 bytes). Per-node attribution avoids the
    3-per-triangle array explode via GROUPING SETS (u),(v),(w): Expand
    replicates rows inside codegen with no allocation.
    """
    e = _co_supplier_edges(spark, sf_dir).localCheckpoint()
    return _per_node_triangles(_node_degrees(e), e)


def _node_degrees(e: DataFrame) -> DataFrame:
    """(node, degree) from an undirected (a < b) edge frame."""
    return (
        e.select(F.col("a").alias("node"))
        .union(e.select(F.col("b").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("degree"))
    )


def _oriented_triangles(deg: DataFrame, e: DataFrame) -> DataFrame:
    """All triangles of an undirected (a < b) edge frame, one (u, v, w)
    row each, via degree-ordered orientation — the shared enumeration
    kernel of :func:`_per_node_triangles` (per-node counts) and
    :func:`link_prediction` (per-edge credit rows). Extracted per
    ADVICE r14 so the orientation + wedge + closing-edge join exists
    exactly once. (u, v, w) follow the orientation's topological order
    (u→v, u→w, v→w), NOT id order — consumers must not assume u<v<w,
    only that each triangle appears exactly once.

    Degree-ordered orientation: each undirected edge points from its
    lower-(degree, id) endpoint, so wedge generation is bounded by the
    arboricity (sum of min-degree per edge), not sum(degree²) — what
    keeps the join alive on power-law graphs at 100 TB. Both triangle
    joins broadcast the oriented edge list (|E| rows of 16 bytes);
    pass a localCheckpoint-ed ``e`` so the generation chain runs once.
    """
    da = deg.select(F.col("node").alias("a"), F.col("degree").alias("deg_a"))
    db = deg.select(F.col("node").alias("b"), F.col("degree").alias("deg_b"))
    withdeg = e.join(F.broadcast(da), "a").join(F.broadcast(db), "b")
    lt = (F.col("deg_a") < F.col("deg_b")) | (
        (F.col("deg_a") == F.col("deg_b")) & (F.col("a") < F.col("b"))
    )
    oriented = withdeg.select(
        F.when(lt, F.col("a")).otherwise(F.col("b")).alias("src"),
        F.when(lt, F.col("b")).otherwise(F.col("a")).alias("dst"),
    ).localCheckpoint()
    wedges = (
        oriented.alias("e1")
        .join(
            F.broadcast(oriented.alias("e2")),
            F.col("e1.dst") == F.col("e2.src"),
        )
        .select(
            F.col("e1.src").alias("u"),
            F.col("e1.dst").alias("v"),
            F.col("e2.dst").alias("w"),
        )
    )
    closing = F.broadcast(
        oriented.select(F.col("src").alias("u"), F.col("dst").alias("w"))
    )
    return wedges.join(closing, ["u", "w"])


def _per_node_triangles(deg: DataFrame, e: DataFrame) -> DataFrame:
    """Per-node triangle counts from a materialized (a < b) edge frame
    and its degree table — the shared wedge-join kernel of
    :func:`_triangle_count_sparse` and :func:`clustering_coefficient`
    (pass the SAME localCheckpoint-ed ``e`` to both consumers so the
    edge generation runs once). Per-node attribution avoids the
    3-per-triangle array explode via GROUPING SETS (u),(v),(w): Expand
    replicates rows inside codegen with no allocation."""
    tris = _oriented_triangles(deg, e)
    return (
        tris.groupingSets([["u"], ["v"], ["w"]], "u", "v", "w")
        .agg(F.count(F.lit(1)).alias("c"))
        .select(F.coalesce("u", "v", "w").alias("node"), "c")
        .groupBy("node")
        .agg(F.sum("c").alias("n_triangles"))
    )


def triangle_count(
    spark: SparkSession,
    sf_dir: str,
    dense_max_nodes: int = _DENSE_MAX_NODES,
) -> DataFrame:
    """Per-node triangle participation counts in the co-supplier graph.

    Hybrid physical strategy, chosen from catalog stats the way a
    cost-based planner would: the supplier row count (a parquet
    metadata read, no scan) bounds |V|; under ``dense_max_nodes`` the
    packed-bitmap dense plan runs (|V|²/8 bytes of total adjacency is
    broadcast-small, and near-complete derived graphs make per-triangle
    enumeration Θ(n³)); above it the degree-ordered wedge-join sparse
    plan runs (arboricity-bounded, never materializes a bitset).
    The count itself is orientation- and plan-invariant, so the oracle
    uses plain id-ordering. Columns: node, n_triangles (bigint; nodes
    in ≥1 triangle).
    """
    n_sup = parquet_row_count(spark, sf_dir, "supplier")
    if n_sup <= dense_max_nodes:
        return _triangle_count_dense(spark, sf_dir, n_sup)
    return _triangle_count_sparse(spark, sf_dir)


def pagerank_iter1(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One exactly-unrolled PageRank iteration — the full-oracle anchor
    for the rows-only fixed-point ``pagerank``.

    A single iteration from uniform rank 1.0 is ONE join + ONE
    aggregate, i.e. plain SQL: rank(v) = 0.15 + 0.85 · Σ_{(u,v)∈E}
    1/outdeg(u). The Spark side reuses the production loop body
    verbatim (``pagerank`` with ``iters=1``), so a green hash here pins
    the per-iteration kernel — contribution division, decimal-summed
    shuffle, damping arithmetic, 1e-6 floor rounding — against DuckDB
    bit-for-bit; only the iteration *count* stays outside the oracle
    (covered by the invariant tests in tests/test_graph.py).
    Columns: node_type, node_id, rank.
    """
    return pagerank(spark, sf_dir, iters=1)


def pagerank(
    spark: SparkSession, sf_dir: str, iters: int = 3, damping: float = 0.85
) -> DataFrame:
    """Fixed-iteration PageRank on the customer–supplier bipartite
    graph (edges both directions, so no dangling nodes).

    FULL value-hash oracle since round 7: the iteration count is fixed,
    so the registry UNROLLS all three rounds into chained SQL CTEs
    (``registry._pagerank_unrolled_sql`` — a recursive CTE cannot carry
    the per-round aggregate), each mirroring this kernel's arithmetic
    exactly; invariant tests (rank mass conservation ≈ N, determinism
    across runs, monotone damping bounds) remain as the convergence-
    mode evidence the unrolled oracle cannot give. Each iteration is
    ONE join + ONE aggregate keyed on node id over the checkpointed
    edge list, run through :func:`iterate`. Contributions are
    summed through decimal(27,15): decimal addition is associative, so
    ranks are bit-stable across shuffle orderings — required for any
    resumable 100 TB run. Columns: node_type, node_id, rank (1e-6
    floor-rounded).
    """
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey"
    )
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey"
    )
    # customer node = custkey, supplier node = -suppkey (disjoint ids)
    cs = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .select(
            F.col("o_custkey").alias("c"),
            (-F.col("l_suppkey")).alias("s"),
        )
        .distinct()
    )
    # materialize the edge list ONCE: it is referenced by every
    # iteration's contribution join plus the degree pass, so
    # localCheckpoint pins one copy for all of them (a lazy .cache()
    # would race its population across the final job's parallel stages)
    edges = symmetrize(cs, "c", "s").localCheckpoint()
    outdeg = edges.groupBy("src").agg(F.count(F.lit(1)).alias("outdeg"))
    nodes = outdeg.select(F.col("src").alias("node"), "outdeg")
    ranks = nodes.select("node", "outdeg", F.lit(1.0).alias("rank"))
    # Bit-identical to the oracle's literal ``0.15``: the Python float
    # expression ``1.0 - 0.85`` lands one ulp ABOVE the 0.15 double
    # (0.15000000000000002), which would skew every rank ~1 ulp per
    # iteration vs DuckDB's literal and could flip a 1e-6 floor-rounding
    # boundary. Subtract in Decimal so base IS the 0.15 double literal.
    from decimal import Decimal

    base = float(Decimal(1) - Decimal(str(damping)))

    def step(ranks: DataFrame, _r: int) -> DataFrame:
        contribs = (
            ranks.join(edges, F.col("node") == F.col("src"))
            .select(
                F.col("dst").alias("node"),
                (F.col("rank") / F.col("outdeg"))
                .cast("decimal(27,15)")
                .alias("contrib"),
            )
            .groupBy("node")
            .agg(F.sum("contrib").cast("double").alias("in_sum"))
        )
        return nodes.join(contribs, "node", "left").select(
            "node",
            "outdeg",
            (
                F.lit(base)
                + F.lit(damping) * F.coalesce("in_sum", F.lit(0.0))
            ).alias("rank"),
        )

    ranks = iterate(ranks, step, iters)
    return ranks.select(
        F.when(F.col("node") > 0, F.lit("customer"))
        .otherwise(F.lit("supplier"))
        .alias("node_type"),
        F.abs("node").alias("node_id"),
        (F.floor(F.col("rank") * F.lit(1e6) + F.lit(0.5)) / F.lit(1e6)).alias(
            "rank"
        ),
    )


# k-core peeling: threshold and fixed round count (the pagerank
# convention — a FIXED iteration count keeps the key fully
# SQL-unrollable; production runs peel to fixpoint with the same loop).
KCORE_K = 3
KCORE_ROUNDS = 3


def kcore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-core decomposition, ``KCORE_ROUNDS`` peeling rounds: repeatedly
    drop nodes of degree < K (and their edges) from the co-supplier
    graph — the standard dense-subgraph / community-seed primitive
    (nodes surviving round r have ≥K neighbors that themselves survived
    round r-1).

    Each round is one degree aggregation plus two semi-join prunes of
    the edge list — all keyed shuffles on node id, no driver-side
    state; ``localCheckpoint`` truncates lineage per round (the
    pagerank discipline) so the plan stays round-sized. A fixpoint
    loop is the same body under a convergence check; the fixed round
    count is what lets the oracle unroll bit-for-bit into chained
    CTEs. Columns: node, core_degree (degree within the round-3
    subgraph).
    """

    def step(edges: DataFrame, _r: int) -> DataFrame:
        deg = (
            edges.select(F.explode(F.array("a", "b")).alias("node"))
            .groupBy("node")
            .agg(F.count(F.lit(1)).alias("deg"))
        )
        keep = deg.filter(F.col("deg") >= KCORE_K).select("node")
        return (
            edges.join(
                keep.withColumnRenamed("node", "a"), "a", "semi"
            )
            .join(keep.withColumnRenamed("node", "b"), "b", "semi")
            .select("a", "b")
        )

    edges = _co_supplier_edges(spark, sf_dir).localCheckpoint(eager=True)
    edges = iterate(edges, step, KCORE_ROUNDS)
    return (
        edges.select(F.explode(F.array("a", "b")).alias("node"))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("core_degree"))
    )


# BFS: fixed frontier-expansion rounds from a literal source supplier.
# The literal seed (not a min() over data) keeps the oracle a pure
# unroll and the result well-defined even on empty inputs.
BFS_SOURCE = 1
BFS_ROUNDS = 3


def bfs_hops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Minimum-hop distances from supplier ``BFS_SOURCE`` over the
    co-supplier graph, ``BFS_ROUNDS`` synchronous frontier expansions —
    the Pregel BFS shape (each round: frontier ⋈ edges, then a min-hop
    merge), the primitive under reachability / ego-network / influence
    queries.

    Per round: ONE keyed join of the current frontier (nodes first
    discovered last round — never the whole distance table) against
    the bidirectional edge list, ONE min-hop aggregation; the edge
    list is localCheckpoint-ed once and the distance table per round
    (the pagerank/kcore lineage discipline), so the plan stays
    round-sized at any graph size. A fixpoint loop is the same body
    under an empty-frontier check; the fixed round count is what lets
    the oracle unroll bit-for-bit into chained CTEs. Exact integers
    end-to-end. Columns: node, hop (0 for the source itself; nodes
    farther than BFS_ROUNDS are absent).
    """
    # one materialization of the bidirectional list, scanned by every round
    bidir = _symmetrized_edges(spark, sf_dir).localCheckpoint(eager=True)
    dist = spark.range(1).select(
        F.lit(BFS_SOURCE).cast("long").alias("node"),
        F.lit(0).cast("long").alias("hop"),
    )

    def step(dist: DataFrame, hop: int) -> DataFrame:
        frontier = dist.filter(F.col("hop") == hop - 1).select("node")
        nbrs = frontier.join(
            bidir, frontier["node"] == bidir["src"]
        ).select(
            F.col("dst").alias("node"), F.lit(hop).cast("long").alias("hop")
        )
        return (
            dist.unionAll(nbrs)
            .groupBy("node")
            .agg(F.min("hop").alias("hop"))
        )

    return iterate(dist, step, BFS_ROUNDS)


LABEL_PROP_ROUNDS = 3


def label_prop(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Synchronous min-label propagation over the co-supplier graph,
    ``LABEL_PROP_ROUNDS`` rounds: every node starts labeled with its
    own id and each round adopts the minimum of its own and its
    neighbors' current labels — the deterministic LPA variant
    (classic LPA's random tie-breaks can't be oracle-pinned; min-label
    converges to connected components, so intermediate rounds expose
    r-hop community structure while the fixpoint is checkable against
    ``dedup_clusters``-style components).

    Per round: ONE join of the current labels against the
    bidirectional edge list + ONE min aggregation — the same keyed
    round shape as bfs_hops, localCheckpoint-bounded. Degree-0 nodes
    don't exist in an edge-derived graph; isolated-in-round nodes keep
    their label via the self-union. Exact integers. Columns: node,
    label.
    """
    bidir = _symmetrized_edges(spark, sf_dir).localCheckpoint(eager=True)
    labels = bidir.select(F.col("src").alias("node")).distinct().select(
        "node", F.col("node").alias("label")
    )

    def step(labels: DataFrame, _r: int) -> DataFrame:
        nbr = labels.join(
            bidir, labels["node"] == bidir["src"]
        ).select(F.col("dst").alias("node"), "label")
        return (
            labels.unionAll(nbr)
            .groupBy("node")
            .agg(F.min("label").alias("label"))
        )

    return iterate(labels, step, LABEL_PROP_ROUNDS)


def clustering_coefficient(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Local clustering coefficient per co-supplier node — how close a
    node's neighborhood is to a clique: c(v) = 2·T(v) / (d(v)·(d(v)−1)).
    The community-density companion to :func:`triangle_count` (same
    wedge kernel) that an entity-graph curation pass ranks nodes by.

    The edge list is generated ONCE (array-local per-order pairs, one
    distinct) and localCheckpoint-ed; degrees and the degree-ordered
    wedge join both consume that materialization, so the lineitem scan
    runs once however the two branches fan out. Degree and triangle
    counts are exact integers; the coefficient is ONE double chain per
    node. Degree-1 nodes have no defined coefficient (denominator 0)
    and emit NULL; triangle-free nodes emit 0.0. Reference parity: none
    (the reference has no graph surface); triangle semantics cited at
    ``_triangle_count_sparse``. Columns: node, degree, n_triangles,
    clustering_coeff.

    Physical dispatch mirrors :func:`triangle_count`'s hybrid: under
    ``_DENSE_MAX_NODES`` the packed-bitmap dense kernel counts per-node
    triangles (the derived co-supplier graph is near-complete at small
    |V|, where wedge enumeration pays Θ(Σ min-deg) ≈ 10⁸ rows — 15.7 s
    at sf0.1 vs 2.5 s dense, measured r14); past the cutoff the
    degree-ordered sparse kernel runs. Counts are plan-invariant, so
    the oracle is unchanged.
    """
    e = _co_supplier_edges(spark, sf_dir).localCheckpoint()
    deg = _node_degrees(e)
    n_sup = parquet_row_count(spark, sf_dir, "supplier")
    if n_sup <= _DENSE_MAX_NODES:
        tris = _triangle_count_dense(spark, sf_dir, max(n_sup, 1), edges=e)
    else:
        tris = _per_node_triangles(deg, e)
    tris = tris.withColumnRenamed("node", "tnode")
    j = deg.join(
        F.broadcast(tris), F.col("node") == F.col("tnode"), "left"
    )
    t = F.coalesce(F.col("n_triangles"), F.lit(0)).cast("long")
    dd = F.col("degree").cast("double")
    cc = (F.lit(2.0) * t.cast("double")) / (dd * (dd - F.lit(1.0)))
    return j.select(
        "node",
        "degree",
        t.alias("n_triangles"),
        F.when(
            F.col("degree") >= 2,
            F.floor(cc * F.lit(1e6) + F.lit(0.5)) / F.lit(1e6),
        ).alias("clustering_coeff"),
    )

# Neighborhood cap for link_prediction's bounded graph contract: each
# node keeps its top-K co-suppliers by (co-order count DESC, id ASC)
# and an edge survives only MUTUALLY (kept from both endpoints). The
# mutual form bounds degree by K outright — a union/OR kNN graph does
# not (a low-id node can land in everyone's top-K through the tie
# break), and an unbounded derived graph is why v2's exact triangle
# pass owned 20% of the r14 sweep and its sf1 oracle never finished
# (~6·10⁸ triangles on the near-complete graph; Θ(n³) at any plan).
# Production link prediction makes the same move: score over a kNN
# sparsification, never the raw co-occurrence clique expansion.
LINKPRED_K = 16


def _bounded_co_supplier_edges(
    spark: SparkSession, sf_dir: str, k: int = LINKPRED_K
) -> DataFrame:
    """Mutual top-``k`` co-supplier edges (a < b), one row each.

    Edge weight = number of orders the pair co-occurs in (each order
    contributes an unordered pair at most once — per-order pairs come
    from ``collect_set``). Each node ranks neighbors by (weight DESC,
    id ASC) — a total order, so the cap is deterministic and the
    DuckDB oracle mirrors it with the same ROW_NUMBER — and an edge
    survives iff BOTH endpoints rank it within k, bounding max degree
    by k. One count shuffle + one window shuffle on node + one (a, b)
    join; every step is a keyed shuffle that scales out.
    """
    pairs = _order_pairs(spark, sf_dir)
    w = pairs.groupBy("a", "b").agg(F.count(F.lit(1)).alias("w"))
    sym = w.select(
        F.explode(
            F.array(
                F.struct(
                    F.col("a").alias("node"),
                    F.col("b").alias("nbr"),
                    F.col("w").alias("w"),
                ),
                F.struct(
                    F.col("b").alias("node"),
                    F.col("a").alias("nbr"),
                    F.col("w").alias("w"),
                ),
            )
        ).alias("s")
    ).select("s.node", "s.nbr", "s.w")
    rn = F.row_number().over(
        Window.partitionBy("node").orderBy(F.desc("w"), F.asc("nbr"))
    )
    topk = sym.select("node", "nbr", rn.alias("rn")).filter(
        F.col("rn") <= F.lit(k)
    )
    fwd = topk.filter(F.col("node") < F.col("nbr")).select(
        F.col("node").alias("a"), F.col("nbr").alias("b")
    )
    rev = topk.filter(F.col("node") > F.col("nbr")).select(
        F.col("nbr").alias("a"), F.col("node").alias("b")
    )
    return fwd.join(rev, ["a", "b"])


def link_prediction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-edge link-prediction scores on the BOUNDED co-supplier
    graph (mutual top-``LINKPRED_K`` by co-order count — see
    :func:`_bounded_co_supplier_edges`): common-neighbor count,
    Jaccard neighborhood similarity, and Adamic–Adar — the classic
    triad a graph-curation pass ranks candidate merges/recommendations
    by, computed for every edge of the sparsified graph (the
    self-audit form: low-scoring edges are noise candidates).

    The cap is the scale contract (r14 VERDICT top_next): the raw
    co-supplier graph is near-complete by construction (suppliers are
    a small dimension), so exact triangle enumeration on it is Θ(n³)
    in a node count that grows with scale — unrunnable at volume by
    ANY plan, and its sf1 DuckDB oracle DNF'd. On the mutual-kNN
    sparsification max degree ≤ K, so triangles ≤ |E|·K and the whole
    scoring pass is linear in edges. Triangles are enumerated ONCE
    through the shared degree-ordered kernel
    (:func:`_oriented_triangles`), and BOTH per-edge metrics are plain
    map-side-combinable aggregates over the 3-per-triangle credit
    rows: common = COUNT(*), Adamic–Adar = SUM(wgt_int) where
    wgt_int = ⌊(1/ln deg(w))·1e6 + 0.5⌋ is the 1e-6-snapped weight AS
    AN EXACT INTEGER — an order-free BIGINT sum that collapses in the
    combiner (no collect_list, no per-edge sort). Degrees are bounded-
    graph degrees; deg(w) ≥ 2 for any common neighbor so ln > 0.
    Jaccard = common / (deg_a + deg_b − common) uses the endpoints-
    included union (denominator ≥ 2, never zero). Final floats are
    single mirrored chains: aa = snap(Σwgt_int / 1e6). Edges with no
    common neighbor emit 0 for all three scores.
    Columns: node_a, node_b, deg_a, deg_b, common_neighbors, jaccard,
    adamic_adar.
    """
    e = _bounded_co_supplier_edges(spark, sf_dir).localCheckpoint()
    deg = _node_degrees(e)
    da = deg.select(F.col("node").alias("a"), F.col("degree").alias("deg_a"))
    db = deg.select(F.col("node").alias("b"), F.col("degree").alias("deg_b"))
    tri = _oriented_triangles(deg, e)
    # 3 credit rows per triangle, pairs normalized to (min, max); the
    # third node rides along only to look up its weight
    contrib = tri.select(
        F.explode(
            F.array(
                F.struct(
                    F.least("u", "v").alias("a"),
                    F.greatest("u", "v").alias("b"),
                    F.col("w").alias("cn"),
                ),
                F.struct(
                    F.least("u", "w").alias("a"),
                    F.greatest("u", "w").alias("b"),
                    F.col("v").alias("cn"),
                ),
                F.struct(
                    F.least("v", "w").alias("a"),
                    F.greatest("v", "w").alias("b"),
                    F.col("u").alias("cn"),
                ),
            )
        ).alias("c")
    ).select("c.a", "c.b", "c.cn")
    wgt_int = F.floor(
        (F.lit(1.0) / F.log(F.col("degree").cast("double"))) * F.lit(1e6)
        + F.lit(0.5)
    ).cast("long")
    dcn = deg.select(F.col("node").alias("cn"), wgt_int.alias("wi"))
    agg = (
        contrib.join(F.broadcast(dcn), "cn")
        .groupBy("a", "b")
        .agg(
            F.count(F.lit(1)).cast("long").alias("common"),
            F.sum("wi").alias("aa_int"),
        )
    )
    j = (
        e.join(F.broadcast(da), "a")
        .join(F.broadcast(db), "b")
        .join(F.broadcast(agg), ["a", "b"], "left")
    )
    snap = lambda c: F.floor(c * F.lit(1e6) + F.lit(0.5)) / F.lit(1e6)  # noqa: E731
    common = F.coalesce(F.col("common"), F.lit(0))
    jac = common.cast("double") / (
        F.col("deg_a").cast("double")
        + F.col("deg_b").cast("double")
        - common.cast("double")
    )
    aa = F.coalesce(F.col("aa_int"), F.lit(0)).cast("double") / F.lit(1e6)
    return j.select(
        F.col("a").alias("node_a"),
        F.col("b").alias("node_b"),
        "deg_a",
        "deg_b",
        common.alias("common_neighbors"),
        snap(jac).alias("jaccard"),
        snap(aa).alias("adamic_adar"),
    )


def graph_assortativity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree assortativity (Newman's r) of the co-supplier graph —
    the one-number audit of whether high-degree nodes attach to each
    other (r > 0, social-network shape) or to low-degree spokes
    (r < 0, hub-and-spoke shape); the standard first diagnostic before
    trusting degree-based sampling or kNN sparsification on a derived
    graph.

    r is the Pearson correlation of endpoint degrees over ORDERED
    edges; both orientations of an undirected edge contribute, so the
    marginals coincide (Sx = Sy, Sxx = Syy) and the sufficient
    statistics collapse to per-edge terms — n = 2|E|, Sx = Σ(dₐ+d_b),
    Sxx = Σ(dₐ²+d_b²), Sxy = 2·Σ dₐ·d_b — ONE aggregate over the
    degree-joined edge list, no symmetrize explode. All sums
    accumulate in DECIMAL (exact at any |E|·deg² this engine can
    hold); r = (n·Sxy − Sx²)/(n·Sxx − Sx²) is one mirrored double
    chain, 1e-6 floor-snapped. A regular graph (zero degree variance)
    or an empty one yields NULL rather than an engine-dependent
    NaN/inf. Columns: n_nodes, n_edges, assortativity.
    """
    e = _co_supplier_edges(spark, sf_dir).localCheckpoint()
    deg = _node_degrees(e)
    da = deg.select(F.col("node").alias("a"), F.col("degree").alias("deg_a"))
    db = deg.select(F.col("node").alias("b"), F.col("degree").alias("deg_b"))
    wd = e.join(F.broadcast(da), "a").join(F.broadcast(db), "b")
    xd = F.col("deg_a").cast("decimal(19,0)")
    yd = F.col("deg_b").cast("decimal(19,0)")
    s = wd.agg(
        F.count(F.lit(1)).alias("m"),
        F.sum(xd + yd).alias("sx"),
        F.sum(xd * xd + yd * yd).alias("sxx"),
        F.sum(xd * yd).alias("sxy_half"),
    )
    n_nodes = deg.agg(F.count(F.lit(1)).alias("n_nodes"))
    n = (F.col("m") * F.lit(2)).cast("double")
    sx = F.col("sx").cast("double")
    sxx = F.col("sxx").cast("double")
    sxy = (F.col("sxy_half") * F.lit(2)).cast("double")
    num = n * sxy - sx * sx
    den = n * sxx - sx * sx
    return s.crossJoin(F.broadcast(n_nodes)).select(
        F.col("n_nodes").cast("long").alias("n_nodes"),
        F.col("m").cast("long").alias("n_edges"),
        F.when(
            den > 0,
            F.floor((num / den) * F.lit(1e6) + F.lit(0.5)) / F.lit(1e6),
        ).alias("assortativity"),
    )


# Hash-min round budget for connected_components: labels converge once
# rounds reach the graph's min-label eccentricity (<= diameter), and
# every derived co-occurrence graph here has diameter 2-4; 12 is the
# same fixed-contract move as BFS_ROUNDS / pagerank's iters — it makes
# the operator EXACTLY mirrorable by a 12-round unrolled oracle (an
# accumulate-all-reachable-pairs recursive CTE is Θ(Σ|C_i|²·deg) and
# never finished on the 2M-edge skew twin), while the Spark side may
# still stop early at the fixpoint, which cannot change the result.
CC_ROUNDS = 12


def connected_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Connected components of the co-supplier graph via hash-min label
    propagation — the graph-curation primitive a corpus pipeline runs
    before sampling (drop/cap the giant component, stratify by
    component size).

    Each round every node takes the minimum label in its closed
    neighborhood: ONE join of the symmetrized edge list against the
    current labels + ONE min-aggregate, both keyed on node id — the
    per-round cost is Θ(|E|) with no triangle/wedge blow-up, so unlike
    the triad family this runs on the RAW (unbounded) co-supplier
    graph. The contract is ``CC_ROUNDS`` rounds (= min node id within
    CC_ROUNDS min-label hops — the true component id whenever that
    covers the component's min-label eccentricity, which diameter-2-4
    derived graphs clear by 3x); :func:`iterate` stops EARLY at the
    first round that changes zero labels (a fixpoint makes the
    remaining rounds no-ops, so early-stop and the oracle's full
    12-round unroll are bit-identical on every input) and checkpoints
    every round. The component id is the smallest node id in the
    component — a total, engine-free order. Isolated suppliers (no
    co-order partner) have no edge and are out of contract, matching
    the other graph keys. Columns: node, component.
    """
    sym = (
        _symmetrized_edges(spark, sf_dir)
        .select(F.col("src").alias("a"), F.col("dst").alias("b"))
        .localCheckpoint()
    )
    labels = (
        sym.select(F.col("a").alias("node"))
        .distinct()
        .select("node", F.col("node").alias("component"))
        .localCheckpoint()
    )

    def step(labels: DataFrame, _r: int) -> DataFrame:
        nbr_min = (
            sym.join(labels, sym.b == labels.node)
            .groupBy(F.col("a").alias("node"))
            .agg(F.min("component").alias("nbr_component"))
        )
        # a node changes iff it adopts a smaller neighbor label
        return labels.join(nbr_min, "node").select(
            "node",
            F.least(F.col("component"), F.col("nbr_component")).alias(
                "component"
            ),
            (F.col("nbr_component") < F.col("component"))
            .cast("long")
            .alias("_changed"),
        )

    labels = iterate(labels, step, CC_ROUNDS, changed="_changed")
    return labels.select("node", "component")
