"""Extended relational surface beyond the reference's operator set.

The reference has no joins at all (SURVEY.md §2.5) — its one implicit
equi-join is re-expressed in basket.py. A user switching engines still
expects the full relational algebra, so these register the remaining
join flavors, window functions, distinct aggregation, and rollup as
first-class oracle-checked queries.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from bigdata1_spark.operators.basket import (
    cents, dec4, exact_sum, month_of, monthly_revenue, snap6,
    tpch_month_lines,
)
from bigdata1_spark.operators.temporal import (
    SESSION_GAP_US,
    island_id,
    session_agg,
    user_order,
)
from bigdata1_spark.session import scoped_conf
from bigdata1_spark.sources.tables import load_table


def join_semi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Orders having at least one high-quantity line (LEFT SEMI — the
    EXISTS pattern; no row multiplication, build side only hashes keys)."""
    orders = load_table(spark, sf_dir, "orders")
    big = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_quantity") >= 45
    )
    return orders.join(
        big, orders.o_orderkey == big.l_orderkey, "left_semi"
    ).select("o_orderkey", "o_orderstatus")


def join_anti(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Customers with no orders (LEFT ANTI — the NOT EXISTS pattern)."""
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    return cust.join(
        orders, cust.c_custkey == orders.o_custkey, "left_anti"
    ).select("c_custkey", "c_mktsegment")


def join_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Every customer with their order count/revenue (LEFT OUTER keeps
    order-less customers with zero counts)."""
    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment"
    )
    per_cust = (
        load_table(spark, sf_dir, "orders")
        .groupBy("o_custkey")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            exact_sum(F.col("o_totalprice"), "total_spent"),
        )
    )
    return (
        cust.join(per_cust, cust.c_custkey == per_cust.o_custkey, "left")
        .select(
            "c_custkey",
            "c_mktsegment",
            F.coalesce(F.col("n_orders"), F.lit(0).cast("long"))
            .alias("n_orders"),
            F.coalesce(F.col("total_spent"), F.lit(0.0)).alias("total_spent"),
        )
    )


def window_running_sum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cumulative spend per customer in order-date order — running-total
    window (rows unbounded preceding), decimal-exact accumulation.
    Total order inside each partition via (o_orderdate, o_orderkey)."""
    orders = load_table(spark, sf_dir, "orders")
    # null order pinned explicitly: Spark ASC defaults NULLS FIRST but
    # DuckDB defaults NULLS LAST — on NULL-bearing data (the .nulldata
    # twin) an implicit default silently diverges the running prefix
    w = (
        Window.partitionBy("o_custkey")
        .orderBy(F.asc_nulls_first("o_orderdate"), "o_orderkey")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return orders.select(
        "o_custkey",
        "o_orderkey",
        F.sum(dec4("o_totalprice")).over(w)
        .cast("double").alias("running_spent"),
    )


def window_lag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Month-over-month revenue delta per item (lag window) — the
    classic trend query over the TotalPerMonth output."""
    monthly = monthly_revenue(tpch_month_lines(spark, sf_dir))
    w = Window.partitionBy("item").orderBy(F.asc_nulls_first("month"))
    prev = F.lag("revenue").over(w)
    return monthly.select(
        "item", "month", "revenue",
        (F.col("revenue") - F.coalesce(prev, F.lit(0.0))).alias("delta"),
    )


def agg_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct-aggregate: unique parts and suppliers per return flag."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.count_distinct("l_partkey").cast("long").alias("n_parts"),
        F.count_distinct("l_suppkey").cast("long").alias("n_supps"),
        F.count(F.lit(1)).alias("n_rows"),
    )


def groupby_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP over (returnflag, linestatus): subtotals + grand total in
    one pass (Catalyst expands to grouping sets, single shuffle).

    Empty-input adjudication (shared by groupby_cube /
    groupby_grouping_sets, caught by the zero-row twin): ANSI says the
    ``()`` grouping set yields one grand-total row even over an empty
    relation; Spark's Expand-based implementation yields zero rows.
    Producing the ANSI row would cost a second full scan (a global agg
    unioned in) on EVERY call to fix a zero-row edge — wrong trade at
    100 TB, so the engines are pinned to Spark's behavior: the oracles
    carry ``HAVING COUNT(*) > 0``, which only ever drops the
    empty-input grand-total row (every real group has >= 1 row)."""
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.rollup("l_returnflag", "l_linestatus")
        .agg(
            F.count(F.lit(1)).alias("n"),
            exact_sum(F.col("l_extendedprice"), "revenue"),
        )
        .select(
            F.coalesce(F.col("l_returnflag"), F.lit("ALL")).alias("returnflag"),
            F.coalesce(F.col("l_linestatus"), F.lit("ALL")).alias("linestatus"),
            "n",
            "revenue",
        )
    )


def pivot_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot: revenue per month × return flag as columns (fixed pivot
    values keep the schema static — required at scale and for oracles;
    relationally equivalent to per-flag conditional aggregation)."""
    return (
        tpch_month_lines(spark, sf_dir)
        .groupBy("month")
        .pivot("l_returnflag", ["R", "A", "N"])
        .agg(exact_sum(F.col("cost"), "rev"))
        .select(
            "month",
            F.coalesce(F.col("R"), F.lit(0.0)).alias("rev_r"),
            F.coalesce(F.col("A"), F.lit(0.0)).alias("rev_a"),
            F.coalesce(F.col("N"), F.lit(0.0)).alias("rev_n"),
        )
    )


def groupby_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE over (returnflag, linestatus): all grouping-set combinations
    in one pass. Empty-input contract: see groupby_rollup (no
    grand-total row over an empty relation, pinned on both engines)."""
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.cube("l_returnflag", "l_linestatus")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(
            F.coalesce(F.col("l_returnflag"), F.lit("ALL")).alias("returnflag"),
            F.coalesce(F.col("l_linestatus"), F.lit("ALL")).alias("linestatus"),
            "n",
        )
    )


def sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sessionization via gaps-and-islands: a new session starts when a
    user's inter-event gap exceeds ``temporal.SESSION_GAP_MIN`` minutes.
    lag → flag → ``temporal.island_id`` → ``temporal.session_agg``. One
    shuffle on user_id; every window and the final groupBy share that
    partitioning, so Catalyst plans a single exchange.
    Columns: user_id, session_start, session_end, n_events."""
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "event_id", "ts", F.unix_micros(F.col("ts")).alias("us")
    )
    prev = F.lag("us").over(user_order())
    new_sess = F.when(
        prev.isNull() | ((F.col("us") - prev) > SESSION_GAP_US), 1
    ).otherwise(0)
    return session_agg(
        ev.withColumn("sess_id", island_id(new_sess)).groupBy(
            "user_id", "sess_id"
        )
    )


def groupby_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact per-group quantiles (median + quartiles). Spark's exact
    ``percentile`` interpolates identically to DuckDB's quantile_cont
    (verified bit-for-bit). The approximate scale path is
    approx_sketch."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.expr("percentile(l_quantity, 0.5)").alias("med_qty"),
        F.expr("percentile(l_extendedprice, 0.25)").alias("price_q25"),
        F.expr("percentile(l_extendedprice, 0.75)").alias("price_q75"),
    )


def approx_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch aggregates: HyperLogLog++ distinct count and KLL-style
    approximate percentile per return flag — the single-pass,
    fixed-memory forms that replace exact distinct/percentile at 100 TB
    (exact versions shuffle every distinct value; sketches merge
    partial states; a user would select ``apx_parts``/``apx_med_price``
    directly at scale).

    The raw sketch values are implementation-defined, so the checkable
    contract IS the error bound: the hashed output carries the exact
    distinct count plus booleans asserting each sketch landed inside
    its verification band (HLL within 5% of exact; approx median
    between the 35th/65th percentiles of a deterministic 1-in-8
    content-hash row sample — vastly looser than the sketch's 1/1000
    rank guarantee, so a testdata regeneration cannot realistically
    flip it, yet tight enough to catch a broken sketch). The sampled
    band (round 7, VERDICT r06 item 6) replaces the exact full-column
    percentile that buffered every group's values — the one
    exact-buffering aggregate the repo had; the sample is keyed on
    xxhash64 of the row identity, so the band is a pure function of
    the data (no RNG), and the buffered footprint drops 8× here (at
    larger SF the fraction shrinks with n to hold the sample — and
    the memory — constant). DuckDB reproduces the exact columns and
    pins the booleans to true, making this a full value-hash oracle
    instead of a rows-only check. ``tests/test_extensions.py::
    test_approx_sketch_bounded_error`` additionally asserts the raw
    sketch values locally. Columns: l_returnflag, exact_parts,
    parts_within_5pct, med_in_band."""
    li = load_table(spark, sf_dir, "lineitem")
    # TWO aggregations joined on the tiny group key, NOT one: mixing
    # countDistinct with the other aggregates makes Catalyst rewrite
    # through Expand (every input row duplicated per aggregate class) —
    # measured 2.3 s vs 0.65 s at sf0.1 for the split plan. The join
    # side is |distinct l_returnflag| rows (3), broadcast for free.
    sketches = li.groupBy("l_returnflag").agg(
        # rsd=0.01, not the 0.05 default: the pinned 5% band is then a
        # 5-sigma contract instead of 1-sigma — the default rsd put the
        # Zipf-skew twin's flag-R key set 5.2% off and flipped the
        # boolean (found by the r12 skew sweep). 1% rsd is 2^14
        # registers ≈ 16 KB per group — still fixed-memory at any scale.
        F.approx_count_distinct("l_partkey", rsd=0.01).alias("apx_parts"),
        F.expr("approx_percentile(l_extendedprice, 0.5, 1000)")
        .alias("apx_med_price"),
        # one percentile call with an array of fractions over the
        # hash-sampled rows: both band edges come from a single
        # per-group sample buffer and sort (two separate percentile
        # aggregates each buffer the column — measured 2x slower)
        F.expr(
            "percentile(IF(pmod(xxhash64(l_orderkey, l_linenumber), 8)"
            " = 0, l_extendedprice, NULL), array(0.35, 0.65))"
        ).alias("pp"),
        # fallback band for groups whose 1-in-8 sample is EMPTY (tiny
        # scale factors / rare flags): percentile over no rows is NULL,
        # which would make med_in_band NULL while the oracle pins it
        # true — the unsampled min/max always bracket the median, so
        # coalescing to them keeps the boolean well-defined at any size
        F.min("l_extendedprice").alias("grp_min"),
        F.max("l_extendedprice").alias("grp_max"),
    )
    exact = li.groupBy(F.col("l_returnflag").alias("rf2")).agg(
        F.countDistinct("l_partkey").alias("exact_parts")
    )
    # null-SAFE group-key join: GROUP BY produces a NULL-flag group on
    # NULL-bearing data, and a plain equi-join silently drops it (NULL
    # never equals NULL) — the two aggregate frames would desync by one
    # row (found by the .nulldata sweep).
    agg = (
        sketches.join(
            exact, F.col("l_returnflag").eqNullSafe(F.col("rf2"))
        )
        .drop("rf2")
        .select(
            "*",
            F.coalesce(F.element_at("pp", 1), F.col("grp_min")).alias("p_lo"),
            F.coalesce(F.element_at("pp", 2), F.col("grp_max")).alias("p_hi"),
        )
    )
    return agg.select(
        "l_returnflag",
        "exact_parts",
        (
            F.abs(F.col("apx_parts") - F.col("exact_parts"))
            <= F.lit(0.05) * F.col("exact_parts")
        ).alias("parts_within_5pct"),
        (
            (F.col("apx_med_price") >= F.col("p_lo"))
            & (F.col("apx_med_price") <= F.col("p_hi"))
        ).alias("med_in_band"),
    )


def column_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dataset profiling — the ``describe()``/``summary()`` analog as a
    first-class query: per-column null count, exact distinct count,
    min/max, and a decimal-exact mean for lineitem's measure columns.

    TWO aggregation passes over the pruned 4-column scan, crossJoined
    into one row: mixing the 4 ``countDistinct`` with the 20 plain
    aggregates in a single ``agg`` made Catalyst rewrite EVERYTHING
    through the distinct Expand — 5x the input rows pushed through 24
    FILTER-gated partial aggregates (measured 5.4 s vs 2.0 s at sf0.1).
    Split, the plain pass stays a lean single-shuffle partial agg and
    the distinct pass carries only its own 4-way Expand; both shuffles
    move one row per partition(+distinct value). The extra pruned scan
    is the cheaper side of the trade at any scale — the Expand CPU blow-
    up grows with row count, the second pass reads 4 numeric columns.
    A ``stack`` then unpivots the 1-row result into long form — zero
    further exchanges. The mean is a decimal sum divided by the count so
    it is bit-stable across partial-agg orderings (same discipline as
    ``exact_sum``). At 100 TB this is the profile pass a pipeline runs
    before schema decisions; only the exact distinct counts are
    scale-sensitive, and ``approx_sketch`` is the documented sketch
    fallback.
    Columns: col_name, n_nulls, n_distinct, min_val, max_val, mean_val.
    """
    cols = ["l_quantity", "l_extendedprice", "l_discount", "l_tax"]
    li = load_table(spark, sf_dir, "lineitem").select(*cols)
    plain = []
    for c in cols:
        plain += [
            # COUNT-style (not SUM-of-flags): COUNT is 0 over an empty
            # relation where SUM is NULL — the oracle's COUNT(CASE...)
            # shape, pinned by the zero-row twin.
            F.count(F.when(F.col(c).isNull(), 1)).alias(f"{c}__nulls"),
            F.min(c).alias(f"{c}__min"),
            F.max(c).alias(f"{c}__max"),
            F.sum(dec4(c)).alias(f"{c}__sum"),
            F.count(c).alias(f"{c}__cnt"),
        ]
    distincts = [F.countDistinct(c).alias(f"{c}__distinct") for c in cols]
    # both sides are single rows; the crossJoin is a broadcast of one row
    row = li.agg(*plain).crossJoin(li.agg(*distincts))
    stacked = ", ".join(
        f"'{c}', {c}__nulls, {c}__distinct, {c}__min, {c}__max, "
        f"cast({c}__sum as double) / {c}__cnt"
        for c in cols
    )
    return row.selectExpr(
        f"stack({len(cols)}, {stacked}) AS "
        "(col_name, n_nulls, n_distinct, min_val, max_val, mean_val)"
    )


def runtime_filter_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Runtime bloom-filter semijoin reduction — the shuffle-join
    counterpart to broadcast pruning, for selective dimension sides too
    big to broadcast at 100 TB.

    With ``spark.sql.optimizer.runtime.bloomFilter.enabled`` Catalyst
    injects ``bloom_filter_agg`` over the filtered (creation) side's
    join keys and a ``might_contain`` filter directly above the probe
    side's scan, so the fact table is pruned BEFORE its shuffle — rows
    whose order key cannot match never cross the network. Bloom false
    positives are removed by the exact join that follows, so the result
    is identical to the plain join: exactly what the oracle checks.
    The thresholds are demo-forced here because the toy inputs sit
    below the production defaults (10 GB creation side); at real scale
    the defaults trigger untouched. Confs apply for the duration of
    this plan (eager materialization) and are restored after.
    ``tests/test_plans.py`` asserts the injected might_contain /
    bloom_filter_agg pair. Columns: month, n_lines, revenue.
    """
    with scoped_conf(spark, RUNTIME_FILTER_CONFS):
        return _runtime_filter_plan(spark, sf_dir).localCheckpoint(eager=True)


# Conf keys runtime_filter_join toggles — shared with the plan test so
# it can build the same plan un-materialized and assert the injection.
# autoBroadcastJoinThreshold=-1 forces the shuffle join: with a
# broadcast the probe-side prune is implicit and no runtime filter is
# needed; thresholds are demo-forced for toy inputs (defaults trigger
# untouched at production scale).
RUNTIME_FILTER_CONFS = {
    "spark.sql.optimizer.runtime.bloomFilter.enabled": "true",
    "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold": "10GB",
    "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "0",
    "spark.sql.autoBroadcastJoinThreshold": "-1",
}


def _runtime_filter_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The logical plan behind runtime_filter_join (conf handling is the
    caller's job): selective orders side ⋈ lineitem, monthly rollup."""
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_extendedprice"
    )
    o = load_table(spark, sf_dir, "orders").where(
        F.col("o_orderpriority") == "1-URGENT"
    ).select("o_orderkey", "o_orderdate")
    joined = li.join(o, F.col("l_orderkey") == F.col("o_orderkey"))
    return joined.groupBy(
        month_of(F.col("o_orderdate")).alias("month")
    ).agg(
        F.count(F.lit(1)).alias("n_lines"),
        exact_sum(F.col("l_extendedprice"), "revenue"),
    )


def window_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ranking-function surface: rank / dense_rank / percent_rank /
    ntile over a deterministic total order (month is unique per item)."""
    monthly = monthly_revenue(tpch_month_lines(spark, sf_dir))
    w = Window.partitionBy("item").orderBy(
        F.desc_nulls_last("revenue"), F.asc_nulls_first("month")
    )
    return monthly.select(
        "item", "month", "revenue",
        F.rank().over(w).cast("long").alias("rnk"),
        F.dense_rank().over(w).cast("long").alias("drnk"),
        F.percent_rank().over(w).alias("prnk"),
        F.ntile(4).over(w).cast("long").alias("quartile"),
    )


def window_first_last(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Navigation-function surface: first_value / last_value / nth_value
    over the full partition frame (UNBOUNDED PRECEDING AND UNBOUNDED
    FOLLOWING — the default CURRENT ROW upper bound makes last_value a
    running value, the classic SQL gotcha). Per customer: first, most
    recent, and second order by a deterministic (date, key) order.
    Columns: o_custkey, o_orderkey, first_order, last_order,
    second_order (-1 for single-order customers — NULL would surface
    as NaN in one engine and None in the other, breaking hash
    parity)."""
    orders = load_table(spark, sf_dir, "orders").select(
        "o_custkey", "o_orderkey", "o_orderdate"
    )
    w = (
        Window.partitionBy("o_custkey")
        .orderBy(F.asc_nulls_first("o_orderdate"), "o_orderkey")
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    )
    return orders.select(
        "o_custkey",
        "o_orderkey",
        F.first("o_orderkey").over(w).alias("first_order"),
        F.last("o_orderkey").over(w).alias("last_order"),
        F.coalesce(F.nth_value("o_orderkey", 2).over(w), F.lit(-1))
        .cast("long").alias("second_order"),
    )


def agg_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Statistical aggregates (variance, stddev, covariance,
    correlation) computed from DECIMAL-exact power sums.

    Native corr/covar accumulate in engine-specific order and differ in
    final ulps between Spark and DuckDB; the sums-of-products form over
    exact decimals followed by ONE identically-parenthesized double
    expression is bit-reproducible on both. At scale the decimal sums
    partial-aggregate exactly like any other sum."""
    li = load_table(spark, sf_dir, "lineitem")
    x, y = dec4("l_quantity"), dec4("l_extendedprice")
    agg = li.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n"),
        cents(F.sum(x)).alias("sx"),
        cents(F.sum(y)).alias("sy"),
        cents(F.sum((x * y).cast("decimal(38,8)"))).alias("sxy"),
        cents(F.sum((x * x).cast("decimal(38,8)"))).alias("sxx"),
        cents(F.sum((y * y).cast("decimal(38,8)"))).alias("syy"),
    )
    n, sx, sy = F.col("n").cast("double"), F.col("sx"), F.col("sy")
    sxy, sxx, syy = F.col("sxy"), F.col("sxx"), F.col("syy")
    var_x = (sxx - sx * sx / n) / (n - 1)
    var_y = (syy - sy * sy / n) / (n - 1)
    covar = (sxy - sx * sy / n) / (n - 1)
    return agg.select(
        "l_returnflag",
        "n",
        var_x.alias("var_qty"),
        F.sqrt(var_x).alias("sd_qty"),
        covar.alias("covar_qp"),
        (covar / F.sqrt(var_x * var_y)).alias("corr_qp"),
    )


def window_range_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RANGE-frame window: per return flag, revenue of all lines within
    5 quantity units below the current row's quantity (value-based
    frame — every peer row with equal quantity shares the same frame,
    so the result is deterministic under any sort-tie order)."""
    li = load_table(spark, sf_dir, "lineitem")
    w = (
        Window.partitionBy("l_returnflag")
        .orderBy(F.col("l_quantity").cast("double"))
        .rangeBetween(-5, Window.currentRow)
    )
    return li.select(
        "l_orderkey", "l_linenumber", "l_returnflag", "l_quantity",
        F.sum(dec4("l_extendedprice")).over(w)
        .cast("double").alias("nearby_revenue"),
    )


def upsert_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC/merge application — apply a changes set to a base table:
    changed keys take the new row, unmatched base rows pass through,
    brand-new keys append (MERGE ... WHEN MATCHED UPDATE / WHEN NOT
    MATCHED INSERT semantics, which open-source Spark lacks as a
    statement over plain parquet).

    Formulated as changes ∪ (base ⟕-anti changes): one broadcast-able
    anti-join — at 100 TB the changes side is the small one, so the
    base table streams through a broadcast anti-join with no shuffle
    of the fact data. The changes set here is derived
    deterministically from the base (every customer with c_custkey %
    10 = 3 flips segment to 'CHANGED'; keys base_max+1..+50 are
    inserts) so the oracle reproduces it exactly. Columns: c_custkey,
    c_mktsegment, op.
    """
    base = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment"
    )
    # updates and max_key each feed the output union AND the anti-join
    # build side; uncached, the base scan re-ran per consumer (5
    # customer scans — the dsir_sample lineage class). The cache sits
    # on the union's CHILDREN, not on `changes` itself: union nodes
    # flatten into a parent union before cache lookup can match them.
    # In production the changes set is a real (small) CDC table.
    updates = base.filter(F.col("c_custkey") % 10 == 3).select(
        "c_custkey",
        F.lit("CHANGED").alias("c_mktsegment"),
        F.lit("update").alias("op"),
    ).cache()
    max_key = base.agg(F.max("c_custkey").alias("mx")).cache()
    inserts = (
        spark.range(1, 51)
        .crossJoin(F.broadcast(max_key))
        .select(
            (F.col("id") + F.col("mx")).alias("c_custkey"),
            F.lit("NEWSEG").alias("c_mktsegment"),
            F.lit("insert").alias("op"),
        )
    )
    changes = updates.unionByName(inserts)
    untouched = base.join(changes, "c_custkey", "left_anti").select(
        "c_custkey", "c_mktsegment", F.lit("keep").alias("op")
    )
    return changes.unionByName(untouched)


def groupby_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUPING SETS surface: the (flag, status) detail, per-flag
    subtotal, and grand total computed in ONE pass — the generalized
    form of rollup/cube where the user picks the exact set list.
    Spark expands the sets into a single Expand + hash aggregate (one
    shuffle regardless of how many sets), identical cost shape to
    groupby_rollup.

    NULL grouping keys from the subtotal rows are coalesced to 'ALL'
    on BOTH engines — the driver hash treats NULL/NaN asymmetrically,
    and the data columns themselves are non-null so the sentinel is
    unambiguous. Empty-input contract: see groupby_rollup (no
    grand-total row over an empty relation, pinned on both engines)."""
    li = load_table(spark, sf_dir, "lineitem")
    gs = li.groupingSets(
        [["l_returnflag", "l_linestatus"], ["l_returnflag"], []],
        "l_returnflag",
        "l_linestatus",
    ).agg(
        F.count(F.lit(1)).alias("n"),
        exact_sum(F.col("l_quantity"), "sum_qty"),
    )
    return gs.select(
        F.coalesce(F.col("l_returnflag"), F.lit("ALL")).alias("flag"),
        F.coalesce(F.col("l_linestatus"), F.lit("ALL")).alias("status"),
        "n",
        "sum_qty",
    )


HIST_BUCKETS = 10


def histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equal-width ``HIST_BUCKETS``-bucket histogram of ``events.value``
    per event_type — the data-profiling primitive behind distribution
    drift checks.

    Per-type min/max is a 5-row aggregate broadcast back onto the fact
    (the fact never re-shuffles for the stats); the bucket index and
    its bounds derive from (value, vmin, vmax) through identically-
    ordered double ops, so both engines bin identically — including the
    value == vmax edge row, clamped into the last bucket. One fact
    shuffle total (the final (type, bucket) count).
    Columns: event_type, bucket, lo, hi, cnt.
    """
    ev = load_table(spark, sf_dir, "events").select("event_type", "value")
    stats = ev.groupBy(F.col("event_type").alias("s_type")).agg(
        F.min("value").alias("vmin"), F.max("value").alias("vmax")
    )
    nb = F.lit(float(HIST_BUCKETS))
    raw = F.floor(
        (F.col("value") - F.col("vmin"))
        / (F.col("vmax") - F.col("vmin")) * nb
    )
    bucket = F.least(raw, F.lit(HIST_BUCKETS - 1)).cast("long")
    width_frac = F.col("bucket").cast("double") / nb
    width_frac_hi = (F.col("bucket") + F.lit(1)).cast("double") / nb
    return (
        ev.join(F.broadcast(stats), F.col("event_type") == F.col("s_type"))
        .withColumn("bucket", bucket)
        .groupBy("event_type", "bucket", "vmin", "vmax")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .select(
            "event_type",
            "bucket",
            snap6(F.col("vmin") + (F.col("vmax") - F.col("vmin")) * width_frac)
            .alias("lo"),
            snap6(
                F.col("vmin") + (F.col("vmax") - F.col("vmin")) * width_frac_hi
            ).alias("hi"),
            "cnt",
        )
    )


def _range_partitioned_running(
    df: DataFrame,
    key: str,
    val: str,
    out: str,
    agg: str = "sum",
    inclusive: bool = True,
    num_ranges: int = 32,
) -> DataFrame:
    """Distributed running aggregate over a value-ordered table.

    ``sum(val) over (order by key)`` with no partition key collapses
    every row into one task — fine while the input is a reduced value
    DOMAIN, a scale risk once that domain grows with the data (TPC-H
    price domains grow with |part|). This is the classic two-pass
    prefix-sum instead: range-shuffle on ``key`` (co-locating each key
    range), compute the running aggregate WITHIN each range, aggregate
    one total per range, and broadcast the cross-range offsets back.
    The only unpartitioned window left runs over ``num_ranges`` rows —
    a constant chosen by the planner, independent of data volume.

    ``agg`` is "sum" (offsets add) or "max" (offsets fold via greatest,
    null-safe so the first range / first row keep "no predecessor"
    semantics); ``inclusive=False`` gives the strict-predecessor frame
    (rows < current), the shape dominance checks need.

    The range-stamped frame is localCheckpoint-ed (domain-sized, not
    data-sized) because both the offset branch and the join branch read
    ``_pid``: range boundaries come from seeded sampling, so the stamp
    must be materialized once, not recomputed per branch.
    """
    aggf = {"sum": F.sum, "max": F.max}[agg]
    rp = (
        df.repartitionByRange(num_ranges, key)
        .withColumn("_pid", F.spark_partition_id())
        .localCheckpoint()
    )
    wloc = (
        Window.partitionBy("_pid")
        .orderBy(key)
        .rowsBetween(Window.unboundedPreceding, 0 if inclusive else -1)
    )
    local = rp.withColumn("_loc", aggf(val).over(wloc))
    # one row per range; the offset window is constant-bounded
    woff = Window.orderBy("_pid").rowsBetween(Window.unboundedPreceding, -1)
    offs = (
        local.groupBy("_pid")
        .agg(aggf(val).alias("_tot"))
        .withColumn("_off", aggf("_tot").over(woff))
        .select("_pid", "_off")
    )
    if agg == "max":
        combined = F.greatest("_loc", "_off")  # greatest skips nulls
    else:
        combined = F.coalesce("_loc", F.lit(0)) + F.coalesce(
            "_off", F.lit(0)
        )
    return (
        local.join(F.broadcast(offs), "_pid")
        .withColumn(out, combined)
        .drop("_pid", "_loc", "_off")
    )


def ntile_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-frequency (NTILE) bucketing of ``l_extendedprice`` into 10
    buckets with per-bucket count/min/max/exact-sum — the binning step
    behind feature quantization and histogram equalization.

    The naive Spark form — ``ntile(10) over (order by price)`` — moves
    EVERY row into a single partition (WindowExec with no partition
    key): the canonical scale-killer. This implementation computes the
    identical bucket assignment distributively, exploiting that NTILE
    depends only on each row's global rank:

    1. ``groupBy(price)`` → per-value counts (the value DOMAIN, orders
       of magnitude smaller than the data; one shuffle on price).
    2. A range-partitioned two-pass prefix sum over the distinct-value
       table yields each value's global rank interval [a, b] (the
       histogram trick) — distributed even if the value domain itself
       grows with the data; see ``_range_partitioned_running``.
    3. NTILE's bucket sizes are closed-form (first n mod k buckets get
       ⌈n/k⌉ rows), so each value's rank interval maps to at most k
       (bucket, overlap-count) pairs via a bounded ``sequence`` explode
       — no row-level data ever moves.
    4. groupBy(bucket) over ≤ |distinct|·k tiny rows finishes.

    Ties share a price, so every output stat is invariant to the
    tie-order NTILE picks — the result is bit-identical to the oracle's
    single-node NTILE. Sums go through decimal (order-independent).
    Columns: bucket, n_rows, min_price, max_price, sum_price.
    """
    k = 10
    # NULL prices are excluded from the bucketing (matched by the
    # oracle's WHERE): a quantile bucket for NULL is meaningless, and
    # the engines disagree where NTILE sorts it (Spark NULLS FIRST →
    # bucket 1, DuckDB NULLS LAST → bucket k) — found by the .nulldata
    # sweep.
    li = load_table(spark, sf_dir, "lineitem").select(
        F.col("l_extendedprice").alias("p")
    ).filter(F.col("p").isNotNull())
    freq = li.groupBy("p").agg(F.count(F.lit(1)).alias("c"))
    # global rank interval per distinct value: [a, b]
    ranked = _range_partitioned_running(
        freq, "p", "c", "b", agg="sum", inclusive=True
    ).withColumn("a", F.col("b") - F.col("c") + 1)
    total = freq.agg(F.sum("c").alias("n"))
    # NTILE geometry: s = n div k, m = n mod k; bucket j covers ranks
    # [(j-1)*s + least(j-1, m) + 1, j*s + least(j, m)]
    j = F.col("j")
    n, s, m = F.col("n"), F.col("n") / F.lit(k), F.col("n") % F.lit(k)
    s = F.floor(F.col("n") / F.lit(k))
    bucket_of = lambda r: F.when(  # noqa: E731
        r <= m * (s + 1), F.ceil(r / (s + 1))
    ).otherwise(m + F.ceil((r - m * (s + 1)) / s))
    lo = (j - 1) * s + F.least(j - 1, m) + 1
    hi = j * s + F.least(j, m)
    return (
        ranked.crossJoin(F.broadcast(total))  # 1-row global count
        .select(
            "p",
            "a",
            "b",
            F.explode(
                F.sequence(bucket_of(F.col("a")), bucket_of(F.col("b")))
            ).alias("j"),
            "n",
        )
        .select(
            "p",
            F.col("j").alias("bucket"),
            (F.least(F.col("b"), hi) - F.greatest(F.col("a"), lo) + 1).alias(
                "overlap"
            ),
        )
        .groupBy("bucket")
        .agg(
            F.sum("overlap").alias("n_rows"),
            F.min("p").alias("min_price"),
            F.max("p").alias("max_price"),
            F.sum(
                (dec4("p") * F.col("overlap")).cast("decimal(28,4)")
            )
            .cast("double")
            .alias("sum_price"),
        )
    )


def skyline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """2-D skyline (Pareto frontier) over parts: cheapest-for-largest —
    a part survives unless some other part is ≤ its price AND ≥ its
    size with at least one strict inequality (the classic dominance
    query behind "best tradeoff" product searches).

    The textbook form is a quadratic NOT EXISTS self-join (the oracle
    runs exactly that — n² is fine for DuckDB at test scale, dead at
    100 TB). The engine instead uses the sort-scan reformulation on the
    REDUCED domain:

    1. groupBy(price) keeping max(size) — dominance only ever needs the
       best size at each price (one shuffle, domain-sized output).
    2. A range-partitioned running max over the distinct-price table
       (strict-predecessor frame; see ``_range_partitioned_running``)
       gives the best size over strictly-cheaper prices; a price level
       survives iff its best size strictly beats everything cheaper.
    3. Join the surviving (price, size) frontier back to parts to
       recover full rows — broadcast-sized by construction (a skyline
       is tiny relative to its input).

    Row-level data never serializes through one partition, and neither
    does the price domain: the running max is range-partitioned with
    broadcast offsets. Columns: p_partkey, p_name, p_retailprice,
    p_size.
    """
    parts = load_table(spark, sf_dir, "part").select(
        "p_partkey", "p_name", "p_retailprice", "p_size"
    )
    best = parts.groupBy("p_retailprice").agg(
        F.max("p_size").alias("best_size")
    )
    frontier = (
        _range_partitioned_running(
            best,
            "p_retailprice",
            "best_size",
            "prev_best",
            agg="max",
            inclusive=False,
        )
        .filter(
            F.col("prev_best").isNull()
            | (F.col("best_size") > F.col("prev_best"))
        )
        .select("p_retailprice", F.col("best_size").alias("p_size"))
    )
    return parts.join(
        F.broadcast(frontier), ["p_retailprice", "p_size"]
    ).select("p_partkey", "p_name", "p_retailprice", "p_size")


def groupby_median_mode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group exact median (the ``median`` aggregate) and
    DETERMINISTIC mode.

    Native ``mode()`` returns an arbitrary value on frequency ties in
    both engines, so the mode here is the tie-broken argmax — count per
    (group, value), then one row_number over the per-group count table
    (bounded by the value domain, |groups|×|distinct qty| ≤ a few
    hundred rows, so the window is never over row-level data). Median
    interpolates identically to DuckDB's (verified bit-for-bit by
    ``groupby_quantiles``). Columns: l_returnflag, med_qty, mode_qty,
    mode_cnt.
    """
    li = load_table(spark, sf_dir, "lineitem")
    med = li.groupBy("l_returnflag").agg(
        F.median("l_quantity").alias("med_qty")
    )
    counts = li.groupBy("l_returnflag", "l_quantity").agg(
        F.count(F.lit(1)).alias("cnt")
    )
    w = Window.partitionBy("l_returnflag").orderBy(
        F.desc("cnt"), F.asc("l_quantity")
    )
    mode = (
        counts.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "l_returnflag",
            F.col("l_quantity").alias("mode_qty"),
            F.col("cnt").alias("mode_cnt"),
        )
    )
    return med.join(mode, "l_returnflag").select(
        "l_returnflag", "med_qty", "mode_qty", "mode_cnt"
    )


def table_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot reconciliation: diff two versions of the orders table
    into added / removed / changed rows (the audit step after any
    upsert/backfill, and the CDC-extraction primitive when a source
    can't emit change streams).

    Snapshot B is derived deterministically from A — ``%13==3`` keys
    deleted, ``%7==0`` keys re-prioritized, ``%11==5`` keys re-inserted
    under a shifted key — all integer/string edits, no float in the
    compared payload. The diff itself is the generic shape: full outer
    join on the key comparing null-safe payload equality, emitting only
    differences. One shuffle on the join key (bucketed snapshots would
    make it zero); 'unchanged' rows are filtered before the join output
    materializes anywhere. Columns: o_orderkey, change.
    """
    a = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_orderpriority"
    )
    b = (
        a.filter(F.col("o_orderkey") % 13 != 3)
        .withColumn(
            "o_orderpriority",
            F.when(
                F.col("o_orderkey") % 7 == 0, F.lit("0-ESCALATED")
            ).otherwise(F.col("o_orderpriority")),
        )
        .unionByName(
            a.filter(F.col("o_orderkey") % 11 == 5).select(
                (F.col("o_orderkey") + F.lit(10_000_000))
                .alias("o_orderkey"),
                F.lit("N").alias("o_orderstatus"),
                F.lit("9-BACKFILL").alias("o_orderpriority"),
            )
        )
    )
    joined = a.alias("a").join(
        b.alias("b"),
        F.col("a.o_orderkey") == F.col("b.o_orderkey"),
        "full_outer",
    )
    same = F.col("a.o_orderstatus").eqNullSafe(
        F.col("b.o_orderstatus")
    ) & F.col("a.o_orderpriority").eqNullSafe(F.col("b.o_orderpriority"))
    return (
        joined.select(
            F.coalesce(F.col("a.o_orderkey"), F.col("b.o_orderkey"))
            .alias("o_orderkey"),
            F.when(F.col("a.o_orderkey").isNull(), F.lit("added"))
            .when(F.col("b.o_orderkey").isNull(), F.lit("removed"))
            .when(~same, F.lit("changed"))
            .otherwise(F.lit("unchanged"))
            .alias("change"),
        )
        .filter(F.col("change") != "unchanged")
    )


ENUM_BUCKETS = 64


def global_enumerate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stable global row numbering in total (l_orderkey, l_linenumber)
    order — WITHOUT the single-partition window a naive
    ``ROW_NUMBER() OVER (ORDER BY …)`` plans.

    Two-pass offset pattern (the scale-safe global enumeration):
    rows land in FIXED key-range buckets (literal arithmetic on the
    sort key, not a sampled range partitioner, so bucket membership is
    deterministic); pass 1 counts per bucket and turns counts into
    starting offsets with a cumulative window over the 64-row bucket
    table (constant-bounded, same argument as cumulative_distinct);
    pass 2 ranks within each bucket in parallel and adds the broadcast
    offset. No driver collect, no full-data single partition anywhere.
    Columns: l_orderkey, l_linenumber, idx (1-based).

    Determinism note: (l_orderkey, l_linenumber) has duplicates in this
    generator (see dq_expectations), so WHICH physical row of a tied
    pair gets which idx is arbitrary — but tied rows are identical in
    the output projection, so the result SET (and the oracle hash) is
    deterministic regardless.
    """
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linenumber"
    )
    # Fixed-width key ranges: orderkey span is generator-bounded; the
    # modulus-free DIV keeps bucket order aligned with key order.
    bucket = (F.col("l_orderkey") / F.lit(100_000)).cast("long")
    tagged = li.withColumn("bucket", bucket)
    per_bucket = tagged.groupBy("bucket").agg(
        F.count(F.lit(1)).alias("cnt")
    )
    w_off = (
        Window.orderBy("bucket")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    offsets = per_bucket.select(
        "bucket",
        F.coalesce(F.sum("cnt").over(w_off), F.lit(0)).alias("offset"),
    )
    w_in = Window.partitionBy("bucket").orderBy(
        "l_orderkey", "l_linenumber"
    )
    return (
        tagged.join(F.broadcast(offsets), "bucket")
        .select(
            "l_orderkey",
            "l_linenumber",
            (F.row_number().over(w_in) + F.col("offset"))
            .cast("long")
            .alias("idx"),
        )
    )


def cdc_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Change-data-capture apply: replay an ordered insert/update/delete
    log down to final table state — the ingestion primitive every
    CDC-fed lakehouse table needs (Debezium/OLTP-tailing shape).

    The events table stands in for the log: key = (user_id,
    event_type), sequence = (ts, event_id), op derived from an md5
    bucket of the event id (engine-portable, so the oracle replays the
    identical log): 1-in-10 DELETE, 2-in-10 INSERT, rest UPDATE.

    Plan: last-op-per-key as ONE lexicographic struct-MAX aggregate
    over (us, event_id, op, value) — a pure aggregate with full
    map-side partial combine, ONE shuffle total, no window sort (the
    ``ohlc_bars`` trick; a row_number window would shuffle the same
    rows and then sort every partition). Deletes drop the key at the
    end — tombstones never round-trip. At 100 TB the same plan merges
    a day's log into a snapshot: shuffle carries one combined struct
    per key per map task, not the log. Columns: user_id, event_type,
    n_ops, last_op, value.
    """
    from bigdata1_spark.functions.hashing import md5hash60

    ev = load_table(spark, sf_dir, "events")
    op = F.element_at(
        F.array(F.lit("D"), F.lit("I"), F.lit("I"), *[F.lit("U")] * 7),
        (
            md5hash60(
                F.concat_ws("|", F.lit("cdc"),
                            F.col("event_id").cast("string"))
            ) % 10 + 1
        ).cast("int"),
    )
    log = ev.select(
        "user_id", "event_type",
        F.unix_micros(F.col("ts")).alias("us"),
        "event_id", op.alias("op"), "value",
    )
    last = log.groupBy("user_id", "event_type").agg(
        F.count(F.lit(1)).alias("n_ops"),
        F.max(F.struct("us", "event_id", "op", "value")).alias("fin"),
    )
    return last.filter(F.col("fin.op") != "D").select(
        "user_id",
        "event_type",
        "n_ops",
        F.col("fin.op").alias("last_op"),
        F.col("fin.value").alias("value"),
    )


IVM_CUTOFF = "1997-01-01"  # base/delta split for the maintenance demo


def ivm_delta_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental view maintenance: merge a signed delta batch into a
    per-customer aggregate WITHOUT recomputing the base — how a
    materialized `SUM/COUNT GROUP BY` view absorbs a day's changes at
    100 TB (recomputing the view scans the world; the merge scans the
    delta plus the view).

    Base = orders before ``IVM_CUTOFF`` aggregated per customer (in
    production this is the stored view — recomputed here because the
    demo owns no state between runs). Delta = later orders, 1-in-10
    md5-selected rows acting as RETRACTIONS (sign −1, the Z-set /
    DBSP-style encoding that lets one merge path serve inserts,
    deletes, and corrections). Merge = aggregate the delta alone, FULL
    OUTER join on the group key, coalesce-add counts and decimal sums,
    drop groups whose multiplicity hits zero. Both adds are decimal —
    associative and exact, which is what makes the view mergeable at
    all (float sums would drift from the recompute the oracle does).
    Columns: o_custkey, n_orders, total_spent.
    """
    from bigdata1_spark.functions.hashing import md5hash60

    orders = load_table(spark, sf_dir, "orders").select(
        "o_custkey", "o_orderkey", "o_orderdate",
        dec4("o_totalprice").alias("price"),
    )
    cutoff = F.lit(IVM_CUTOFF).cast("date")
    # base = everything that is NOT in the delta window — including
    # NULL order dates: `date < cutoff` alone is NULL for them, so they
    # silently fell out of BOTH branches while the oracle's CASE ELSE
    # counted them into the base (.nulldata sweep). An order with an
    # unknown date belongs to the stored view, not to the day's delta.
    base = (
        orders.filter(
            F.coalesce(F.col("o_orderdate") < cutoff, F.lit(True))
        )
        .groupBy("o_custkey")
        .agg(
            F.count(F.lit(1)).alias("b_n"),
            F.sum("price").alias("b_sum"),
        )
    )
    sign = F.when(
        md5hash60(
            F.concat_ws("|", F.lit("ivm"),
                        F.col("o_orderkey").cast("string"))
        ) % 10 == 0,
        F.lit(-1),
    ).otherwise(F.lit(1))
    delta = (
        orders.filter(F.col("o_orderdate") >= cutoff)
        .select("o_custkey", sign.alias("s"), "price")
        .groupBy("o_custkey")
        .agg(
            F.sum("s").alias("d_n"),
            F.sum(F.col("s") * F.col("price")).alias("d_sum"),
        )
    )
    # The coalesces exist ONLY for the full-outer join's missing side
    # (no base/delta rows → contribute 0). A group whose EVERY price is
    # NULL must stay NULL — SQL SUM semantics, pinned by the 30%-rate
    # null stress twin: "n orders totaling unknown" is not "totaling
    # 0.00".
    merged = base.join(delta, "o_custkey", "full_outer").select(
        "o_custkey",
        (
            F.coalesce("b_n", F.lit(0)) + F.coalesce("d_n", F.lit(0))
        ).alias("n_orders"),
        F.when(
            F.col("b_sum").isNull() & F.col("d_sum").isNull(),
            dec4(F.lit(None)),
        ).otherwise(
            F.coalesce(F.col("b_sum"), dec4(F.lit(0)))
            + F.coalesce(F.col("d_sum"), dec4(F.lit(0)))
        ).alias("total_spent_dec"),
    )
    return merged.filter(F.col("n_orders") > 0).select(
        "o_custkey",
        "n_orders",
        cents("total_spent_dec").alias("total_spent"),
    )
