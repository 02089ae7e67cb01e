"""Entity-matching operators: blocked fuzzy (edit-distance) joins.

No reference analog (the reference joins only on exact keys); this is
the record-linkage surface a switching user needs for dirty-dimension
reconciliation — match names/addresses/titles that differ by typos.

The design is the canonical two-level blocked comparison:

1. **Conflate identical surface forms first.** The edit-distance kernel
   runs over DISTINCT name pairs only — real dirty dimensions have
   massive surface-form repetition (here 64 distinct names across 20k
   parts at sf0.1), so conflation collapses the quadratic kernel from
   millions of row pairs to thousands of name pairs. The row-level
   result is recovered by exploding per-(block, name) key arrays,
   which is output-bound work, not kernel work.
2. **Block the expansion.** Candidate groups pair only within a
   blocking key (p_brand), never corpus × corpus; pair count is
   Σ_b |block_b|², so skewed blocks get a secondary blocking pass
   (name prefix / sorted neighborhood) — the single-key version of the
   LSH hot-bucket chunking in dedup.py.

When surface forms are near-unique (no conflation win), the kernel is
the bottleneck again and the right tool is the threshold-bounded
``levenshtein(l, r, k)`` (O(k·n) banded DP with early exit) under
q-gram/LSH blocking — the bounded kernel is used here too.

Bound note (now ENFORCED, r15): the per-(block, form) key array is
group-sized, so surface-form repetition that grows with the data makes
the pair explosion — quadratic in group size — the dominant object:
unbounded, this operator's OUTPUT was Θ(sf²) (220k → 23M → 207M rows
across sf0.1/1/3; the plan was actually sublinear in output, so no
physical strategy could fix the slope). Production ER caps
representatives per form at exactly this point, so the cap is part of
the operator contract: at most ``FUZZY_MAX_REPS`` representative keys
per (block, surface form) — the lowest key ids, a deterministic,
oracle-mirrorable choice — with the full pre-cap group size carried in
``a_group_n``/``b_group_n`` so consumers can recover total match mass
(a form-pair's true pair count is a_group_n · b_group_n).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from bigdata1_spark.sources.tables import load_table


# Representative cap per (brand, surface form): the operator's
# bounded-output contract (see module docstring — unbounded, output
# was Θ(sf²) and owned the r14 SCALING flag list). Representatives are
# the FUZZY_MAX_REPS lowest part keys of the group, a total order both
# engines sort identically.
FUZZY_MAX_REPS = 20
FUZZY_MAX_DIST = 2  # Levenshtein threshold


def fuzzy_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Within-brand fuzzy self-match on part names: part pairs
    (a_key < b_key) whose names are within Levenshtein distance
    ``FUZZY_MAX_DIST``, over at most ``FUZZY_MAX_REPS`` representative keys
    per (brand, name) group (lowest ids; pre-cap group sizes are
    carried per side so match mass is recoverable — the bounded-
    contract move production ER makes once surface-form repetition
    grows with the data).

    Plan: one shuffle groups parts to (brand, name, capped sorted key
    array, group size); the name-pair distance table (distinct names ≤
    vocabulary size) is computed with the threshold-bounded kernel and
    BROADCAST, as is the right-hand group table — so the expansion
    joins are broadcast-side, and with the cap the materialized output
    is bounded by name-pairs · FUZZY_MAX_REPS², independent of fact
    growth. ``name_a <= name_b`` enumerates unordered name pairs once;
    key ordering is restored per pair with least/greatest (names and
    group sizes swap with their keys), and the equal-name case (dist 0
    — same group joined to itself) takes ``ka < kb`` combinations.
    Columns: a_key, b_key, a_name, b_name, dist, a_group_n, b_group_n.
    """
    p = load_table(spark, sf_dir, "part").select(
        "p_partkey", "p_brand", "p_name"
    )
    groups = (
        p.filter(F.col("p_partkey").isNotNull())
        .groupBy("p_brand", "p_name")
        .agg(
            F.slice(
                F.sort_array(F.collect_list("p_partkey")),
                1,
                FUZZY_MAX_REPS,
            ).alias("keys"),
            F.count(F.lit(1)).alias("grp_n"),
        )
    )
    names = p.select("p_name").distinct()
    # Bounded-distance kernel over distinct name pairs only: returns -1
    # past the threshold (banded DP, early exit), so the filter keeps
    # 0..FUZZY_MAX_DIST.
    npairs = (
        names.alias("x")
        .join(
            names.alias("y"),
            F.col("x.p_name") <= F.col("y.p_name"),
        )
        .select(
            F.col("x.p_name").alias("name_a"),
            F.col("y.p_name").alias("name_b"),
            F.levenshtein(
                F.col("x.p_name"), F.col("y.p_name"), FUZZY_MAX_DIST
            ).cast("long").alias("dist"),
        )
        .filter(F.col("dist") >= 0)
    )
    ga = groups.alias("ga")
    gb = groups.select(
        F.col("p_brand").alias("b_brand"),
        F.col("p_name").alias("b_gname"),
        F.col("keys").alias("keys_b"),
        F.col("grp_n").alias("n_b"),
    )
    cand = (
        ga.join(F.broadcast(npairs), F.col("ga.p_name") == F.col("name_a"))
        .join(
            F.broadcast(gb),
            (F.col("b_brand") == F.col("ga.p_brand"))
            & (F.col("b_gname") == F.col("name_b")),
        )
    )
    expanded = (
        cand.select(
            "name_a", "name_b", "dist",
            F.col("ga.grp_n").alias("n_a"), "n_b",
            F.explode("keys").alias("ka"), "keys_b",
        )
        .select(
            "name_a", "name_b", "dist", "n_a", "n_b", "ka",
            F.explode("keys_b").alias("kb"),
        )
        .filter(
            (F.col("name_a") != F.col("name_b")) | (F.col("ka") < F.col("kb"))
        )
    )
    flip = F.col("ka") > F.col("kb")
    return expanded.select(
        F.least("ka", "kb").alias("a_key"),
        F.greatest("ka", "kb").alias("b_key"),
        F.when(flip, F.col("name_b")).otherwise(F.col("name_a"))
        .alias("a_name"),
        F.when(flip, F.col("name_a")).otherwise(F.col("name_b"))
        .alias("b_name"),
        "dist",
        F.when(flip, F.col("n_b")).otherwise(F.col("n_a"))
        .alias("a_group_n"),
        F.when(flip, F.col("n_a")).otherwise(F.col("n_b"))
        .alias("b_group_n"),
    )


# Deterministic synthetic geography: each key maps to integer
# coordinates on a GEO_MOD × GEO_MOD grid via fixed multiplicative
# mixing (Lehmer-style multipliers) — a pure integer function both
# engines evaluate identically, standing in for real lat/lon columns
# the star schema lacks. Cells are square; the size ADAPTS to the
# build side so occupancy stays ~1 supplier per cell at any scale
# (grid_n = ceil(sqrt(|suppliers|)) cells per axis — the fixed 10k
# cell of v1 meant candidates-per-probe grew linearly with suppliers:
# 41x at sf1 in the r14 bench). GEO_CELL is v1's fixed size, kept as
# the floor so tiny builds don't degenerate to a single cell.
GEO_MOD = 100_000
GEO_CELL = 10_000  # upper bound on adaptive cell size
_CX, _CY = 48_271, 69_621  # customer mixers
_SX, _SY = 40_692, 52_774  # supplier mixers


def geo_grid_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grid-bucketed nearest-neighbor spatial join: for every customer,
    the nearest supplier whose cell is within the customer's 3×3 cell
    neighborhood — the bounded-radius spatial match (geo-assignment /
    store-routing shape) expressed without any spatial extension.

    This is the standard grid-blocking plan a 100 TB geo join uses:
    each point gets an integer cell key; the probe side explodes to its
    9 neighbor cells (a bounded ×9 fan-out, NOT a cross join); the
    build side is cell-keyed and broadcast (supplier-dim-scale — for
    two fact-scale sides the same plan shuffles both on the cell key).
    The radius contract is explicit: a supplier farther than one cell
    away is out of scope even if globally nearest (cell size bounds
    the search radius, exactly like any geohash/S2 prefix join).

    Coordinates and squared distances are exact integers (no trig, no
    floats anywhere — haversine would hand ranking to ulp-divergent
    sin/cos); ranking is (dist2 ASC, s_suppkey ASC), a total order.
    NULL keys carry no coordinates and are excluded. Customers with no
    supplier in their neighborhood emit nothing (inner semantics,
    documented). Columns: c_custkey, s_suppkey, dist2, n_candidates.
    """
    import math

    cust = load_table(spark, sf_dir, "customer").select("c_custkey")
    supp = load_table(spark, sf_dir, "supplier").select("s_suppkey")
    # adaptive cell size from the build-side row count (a parquet
    # metadata read): ~1 supplier per cell, floored at 1, capped at
    # the v1 cell so small builds keep the original geometry. The
    # oracle recomputes the identical integer from COUNT(*).
    n_sup = load_table(spark, sf_dir, "supplier").count()
    grid_n = math.ceil(math.sqrt(max(n_sup, 1)))
    cell = max(min(GEO_MOD // grid_n, GEO_CELL), 1)
    cx = (F.col("c_custkey") * _CX) % GEO_MOD
    cy = (F.col("c_custkey") * _CY) % GEO_MOD
    sx = (F.col("s_suppkey") * _SX) % GEO_MOD
    sy = (F.col("s_suppkey") * _SY) % GEO_MOD
    probes = (
        cust.filter(F.col("c_custkey").isNotNull())
        .select("c_custkey", cx.alias("cx"), cy.alias("cy"))
        .select(
            "c_custkey",
            "cx",
            "cy",
            F.explode(
                F.flatten(
                    F.transform(
                        F.sequence(F.lit(-1), F.lit(1)),
                        lambda dx: F.transform(
                            F.sequence(F.lit(-1), F.lit(1)),
                            lambda dy: F.struct(
                                (
                                    (F.col("cx") / F.lit(cell)).cast(
                                        "long"
                                    )
                                    + dx
                                ).alias("gx"),
                                (
                                    (F.col("cy") / F.lit(cell)).cast(
                                        "long"
                                    )
                                    + dy
                                ).alias("gy"),
                            ),
                        ),
                    )
                )
            ).alias("cell"),
        )
        .select(
            "c_custkey", "cx", "cy",
            F.col("cell.gx").alias("gx"), F.col("cell.gy").alias("gy"),
        )
    )
    builds = supp.filter(F.col("s_suppkey").isNotNull()).select(
        "s_suppkey",
        sx.alias("sx"),
        sy.alias("sy"),
        (sx / F.lit(cell)).cast("long").alias("gx"),
        (sy / F.lit(cell)).cast("long").alias("gy"),
    )
    j = probes.join(F.broadcast(builds), ["gx", "gy"])
    dx = F.col("cx") - F.col("sx")
    dy = F.col("cy") - F.col("sy")
    scored = j.select(
        "c_custkey",
        "s_suppkey",
        (dx * dx + dy * dy).alias("dist2"),
    )
    w = Window.partitionBy("c_custkey").orderBy(
        F.asc("dist2"), F.asc("s_suppkey")
    )
    wc = Window.partitionBy("c_custkey")
    return (
        scored.select(
            "c_custkey",
            "s_suppkey",
            "dist2",
            F.row_number().over(w).alias("rn"),
            F.count(F.lit(1)).over(wc).cast("long").alias("n_candidates"),
        )
        .filter(F.col("rn") == 1)
        .drop("rn")
    )
