"""The 22 TPC-H query shapes (Q1–Q22) over the driver testdata star
schema, each adapted at its function where the testdata lacks a column.

The reference workload is market-basket only; a user switching a real
analytics deployment expects the canonical scan-agg / join-topk /
multi-join-rollup shapes too, so they are registered first-class. Dates
are adapted to the testdata's 1995–2001 span (ranges via :func:`_span`);
money math goes through ``basket``'s money core (``dec4``,
``disc_price``, ``cents``) so oracle hashes match.

Scale notes: Q1/Q6 are single-scan partial aggregations (no join);
Q3/Q5 join through broadcast dims where Catalyst can prove smallness,
sort-merge otherwise, with AQE re-planning at runtime — nothing here
needs a hint at 100 TB beyond what the session config already sets.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from bigdata1_spark.operators.basket import cents, dec4, disc_price, exact_sum
from bigdata1_spark.sources.tables import load_table


def _span(col: str, lo: str, hi: str) -> F.Column:
    """``lo <= col < hi`` on DATE literals — the one half-open date range
    of this module (both bounds reach the parquet reader)."""
    return (F.col(col) >= F.lit(lo).cast("date")) & (
        F.col(col) < F.lit(hi).cast("date")
    )


def tpch_q1(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q1 pricing summary: per (returnflag, linestatus) quantity/price
    sums, discounted + taxed revenue, averages, row count."""
    li = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") <= F.lit("2000-09-02").cast("date")
    )
    # price*(1-d)*(1+t) as price * (1 - d + t - d*t): the 2-factor form
    # keeps the product within decimal(38) so NEITHER engine loses scale
    # (a 3-factor chain overflows precision and rounds differently).
    d8 = F.col("l_discount").cast("decimal(8,4)")
    t8 = F.col("l_tax").cast("decimal(8,4)")
    mult = F.lit(1).cast("decimal(8,4)") - d8 + t8 - (d8 * t8)
    charge = dec4("l_extendedprice") * mult
    n = F.count(F.lit(1))
    return (
        li.groupBy("l_returnflag", "l_linestatus")
        .agg(
            exact_sum(F.col("l_quantity"), "sum_qty"),
            exact_sum(F.col("l_extendedprice"), "sum_base_price"),
            cents(F.sum(disc_price())).alias("sum_disc_price"),
            cents(F.sum(charge)).alias("sum_charge"),
            (F.sum(dec4("l_quantity")).cast("double") / n.cast("double"))
            .alias("avg_qty"),
            (F.sum(dec4("l_extendedprice")).cast("double") / n.cast("double"))
            .alias("avg_price"),
            (F.sum(dec4("l_discount")).cast("double") / n.cast("double"))
            .alias("avg_disc"),
            n.alias("count_order"),
        )
    )


def tpch_q3(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q3 shipping-priority: top-10 unshipped BUILDING orders by
    discounted revenue (join + agg + deterministic top-k)."""
    cutoff = "1998-03-15"
    cust = load_table(spark, sf_dir, "customer").filter(
        F.col("c_mktsegment") == "BUILDING"
    ).select("c_custkey")
    orders = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < F.lit(cutoff).cast("date")
    ).select("o_orderkey", "o_custkey", "o_orderdate", "o_orderpriority")
    li = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > F.lit(cutoff).cast("date")
    ).select("l_orderkey", "l_extendedprice", "l_discount")
    return (
        li.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(cust, F.col("o_custkey") == F.col("c_custkey"))
        .groupBy(
            "l_orderkey",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("orderdate"),
            "o_orderpriority",
        )
        .agg(F.sum(disc_price()).cast("double").alias("revenue"))
        .orderBy(F.desc("revenue"), F.asc("l_orderkey"))
        .limit(10)
    )


def tpch_q4(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q4 order-priority checking shape: date-range scan + EXISTS
    semi-join + count per priority. The testdata lineitem has no
    commit/receipt dates, so the EXISTS predicate is adapted to
    'has a returned line' (l_returnflag = 'R') — the plan shape (range
    filter, left-semi, group-count, ordered output) is what the query
    exercises: the semi-join never multiplies order rows no matter how
    many lines match."""
    orders = load_table(spark, sf_dir, "orders").filter(
        _span("o_orderdate", "1996-01-01", "1996-07-01")
    ).select("o_orderkey", "o_orderpriority")
    flagged = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_returnflag") == "R"
    ).select("l_orderkey")
    return (
        orders.join(
            flagged, F.col("o_orderkey") == F.col("l_orderkey"), "left_semi"
        )
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("order_count"))
        .orderBy("o_orderpriority")
    )


def tpch_q5(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q5 local-supplier volume: revenue per nation for one region/year
    where customer and supplier share the nation (5-way join)."""
    region = load_table(spark, sf_dir, "region").filter(
        F.col("r_name") == "ASIA"
    )
    nation = load_table(spark, sf_dir, "nation")
    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_nationkey"
    )
    supp = load_table(spark, sf_dir, "supplier").select(
        "s_suppkey", "s_nationkey"
    )
    orders = load_table(spark, sf_dir, "orders").filter(
        _span("o_orderdate", "1996-01-01", "1997-01-01")
    ).select("o_orderkey", "o_custkey")
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_extendedprice", "l_discount"
    )
    return (
        li.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(cust, F.col("o_custkey") == F.col("c_custkey"))
        .join(
            F.broadcast(supp),
            (F.col("l_suppkey") == F.col("s_suppkey"))
            & (F.col("c_nationkey") == F.col("s_nationkey")),
        )
        .join(F.broadcast(nation), F.col("s_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(region), F.col("n_regionkey") == F.col("r_regionkey"))
        .groupBy(F.col("n_name").alias("nation"))
        .agg(F.sum(disc_price()).cast("double").alias("revenue"))
    )


def tpch_q6(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q6 forecast revenue change: single-scan filtered aggregate —
    every predicate must reach the parquet reader."""
    li = load_table(spark, sf_dir, "lineitem").filter(
        _span("l_shipdate", "1996-01-01", "1997-01-01")
        & (F.col("l_discount") >= 0.05)
        & (F.col("l_discount") <= 0.07)
        & (F.col("l_quantity") < 24)
    )
    return li.agg(
        F.sum(dec4("l_extendedprice") * dec4("l_discount"))
        .cast("double").alias("revenue"),
        F.count(F.lit(1)).alias("n_lines"),
    )


def tpch_q12(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q12 shipmode-priority shape: fact-dim join + conditional CASE
    aggregation (the two-bucket pivot every report query uses). The
    testdata has no l_shipmode, so lines group by l_linestatus and the
    CASE buckets split urgent (priority 1/2) vs other orders — the
    exercised pattern is SUM(CASE WHEN …) pairs over one join, one
    shuffle."""
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        F.split(F.col("o_orderpriority"), "-").getItem(0).alias("prio"),
    )
    li = load_table(spark, sf_dir, "lineitem").filter(
        _span("l_shipdate", "1996-01-01", "1997-01-01")
    ).select("l_orderkey", "l_linestatus")
    # CASE-parity: a NULL priority must land in the ELSE bucket like the
    # SQL CASE, not vanish from F.sum (isin().cast() yields NULL for NULL).
    urgent = (
        F.when(F.col("prio").isin("1", "2"), F.lit(1)).otherwise(F.lit(0))
    ).cast("long")
    return (
        li.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy("l_linestatus")
        .agg(
            F.sum(urgent).alias("high_line_count"),
            F.sum(F.lit(1) - urgent).alias("low_line_count"),
        )
        .orderBy("l_linestatus")
    )


def tpch_q17(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q17 small-quantity-order revenue: the correlated-scalar-subquery
    shape — lines kept only where l_quantity is below 20% of that part's
    own average quantity (one brand's parts; the testdata part table has
    no p_container, so the brand filter alone plays the dim predicate).

    Spark-first decorrelation: instead of re-running a subquery per row,
    compute the per-part threshold as an aggregate over the SAME
    brand-filtered line set, then join it back. The threshold table has
    one row per distinct part in the brand (1/25 of parts) and carries
    NO broadcast hint (same policy as q18): below
    autoBroadcastJoinThreshold the planner broadcasts it anyway, and at
    100 TB — where |parts in brand| can exceed executor memory — AQE
    falls back to a shuffle join that reuses the aggregation's exchange
    on l_partkey rather than repartitioning. A forced hint would
    override the threshold and OOM instead of degrading.

    FP-parity note: quantities are integral doubles, so SUM/COUNT (and
    hence AVG and 0.2*AVG) are exact and identical in both engines —
    the < comparison can't flip on a ulp.
    """
    part = load_table(spark, sf_dir, "part").filter(
        F.col("p_brand") == "Brand#1"
    ).select("p_partkey")
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_quantity", "l_extendedprice"
    )
    brand_lines = li.join(
        F.broadcast(part), F.col("l_partkey") == F.col("p_partkey")
    ).select("l_partkey", "l_quantity", "l_extendedprice")
    thresholds = brand_lines.groupBy(
        F.col("l_partkey").alias("t_partkey")
    ).agg((F.lit(0.2) * F.avg("l_quantity")).alias("qty_threshold"))
    small = brand_lines.join(
        thresholds, F.col("l_partkey") == F.col("t_partkey")
    ).filter(F.col("l_quantity") < F.col("qty_threshold"))
    return small.agg(
        (cents(F.sum(dec4("l_extendedprice"))) / F.lit(7.0))
        .alias("avg_yearly"),
        F.count(F.lit(1)).alias("n_small_lines"),
    )


def tpch_q14(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q14 promo revenue share: what fraction of one month's revenue
    came from PROMO parts — the conditional-aggregate-ratio shape
    (numerator CASE inside the same single aggregation as the
    denominator; one join, one shuffle, no second pass).

    The part side carries only (p_partkey, p_type) → broadcast. Both
    sums are exact decimal sums pinned by :func:`cents`, so the ratio
    divides two bit-identical doubles in both engines."""
    part = load_table(spark, sf_dir, "part").select("p_partkey", "p_type")
    li = load_table(spark, sf_dir, "lineitem").filter(
        _span("l_shipdate", "1996-09-01", "1996-10-01")
    ).select("l_partkey", "l_extendedprice", "l_discount")
    promo_rev = F.when(F.col("p_type") == "PROMO", disc_price()).otherwise(
        dec4(F.lit(0))
    )
    promo, total = cents(F.sum(promo_rev)), cents(F.sum(disc_price()))
    joined = li.join(
        F.broadcast(part), F.col("l_partkey") == F.col("p_partkey")
    )
    return joined.agg(
        promo.alias("promo_revenue"),
        total.alias("total_revenue"),
        (F.lit(100.0) * promo / total).alias("promo_share"),
    )


def _q15_lazy(spark: SparkSession, sf_dir: str) -> tuple[DataFrame, DataFrame]:
    """Build q15's plan; returns (result, per-supplier cache to release).

    Split out so plan tests can assert the shape BEFORE the eager
    materialization in :func:`tpch_q15` hides it behind a checkpoint."""
    li = load_table(spark, sf_dir, "lineitem").filter(
        _span("l_shipdate", "1996-01-01", "1996-04-01")
    ).select("l_suppkey", "l_extendedprice", "l_discount")
    per_supp = li.groupBy("l_suppkey").agg(
        cents(F.sum(disc_price())).alias("total_revenue")
    ).persist()
    max_rev = per_supp.agg(F.max("total_revenue").alias("max_rev"))
    supp = load_table(spark, sf_dir, "supplier").select(
        "s_suppkey", "s_name"
    )
    result = (
        per_supp.crossJoin(F.broadcast(max_rev))
        .filter(F.col("total_revenue") == F.col("max_rev"))
        .drop("max_rev")
        .join(F.broadcast(supp), F.col("l_suppkey") == F.col("s_suppkey"))
        .select("s_suppkey", "s_name", "total_revenue")
        .orderBy("s_suppkey")
    )
    return result, per_supp


def tpch_q15(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q15 top supplier: suppliers whose quarterly revenue equals the
    maximum — the aggregate-then-compare-to-global-aggregate shape
    (classically a view + scalar subquery).

    Scale shape: the per-supplier aggregate is cached, its 1-row max is
    broadcast back for the equality filter, and the (≈1-row) result is
    eagerly materialized so the cache can be released before returning.
    The two rejected alternatives both fail at 100 TB: an unpartitioned
    window (max OVER ()) drags every per-supplier row to ONE partition,
    and the naive double-reference recomputes the fact scan — Spark's
    exchange-reuse does not fire across the agg/filter asymmetry (the
    AQE final plan shows two lineitem ShuffleQueryStages). Revenue
    doubles come from the same :func:`cents` pin on both sides, so
    equality with the max is bit-exact."""
    result, per_supp = _q15_lazy(spark, sf_dir)
    try:
        return result.localCheckpoint(eager=True)
    finally:
        per_supp.unpersist()


def tpch_q18(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q18 large-volume customers: orders whose total quantity exceeds
    300 — the group-HAVING-then-semi-join shape. The qualifying-order
    set (46 keys at sf0.01, ~0.15% of orders) is aggregated FIRST and
    joined back, so the expensive customer join only sees qualifying
    rows; top-20 plans as TakeOrderedAndProject. The qualifying set is
    deliberately NOT hint-broadcast: it scales with |orders|, so the
    right call at runtime belongs to AQE, which converts the join to
    broadcast exactly when the post-HAVING stats are small enough."""
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_quantity"
    )
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum("l_quantity").cast("double").alias("sum_qty"))
        .filter(F.col("sum_qty") > 300)
    )
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderdate", "o_totalprice"
    )
    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_name"
    )
    return (
        orders.join(big, F.col("o_orderkey") == F.col("l_orderkey"))
        .join(cust, F.col("o_custkey") == F.col("c_custkey"))
        .select(
            "c_name",
            "c_custkey",
            "o_orderkey",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("orderdate"),
            "o_totalprice",
            "sum_qty",
        )
        .orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
        .limit(20)
    )


def tpch_q19(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q19 discounted revenue under disjunctive predicates: three
    (brand, size-range, quantity-range) OR-arms over the lineitem⋈part
    join — the shape that tests whether OR-of-ANDs still prunes.
    Catalyst extracts the common l_quantity <= 30 / p_size >= 1 bounds
    and pushes per-table residuals to each scan; the join itself is a
    plain broadcast equi-join with the disjunction as a post-join
    filter."""
    part = load_table(spark, sf_dir, "part").select(
        "p_partkey", "p_brand", "p_size"
    )
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_quantity", "l_extendedprice", "l_discount"
    )
    arm = lambda brand, smax, qlo, qhi: (  # noqa: E731
        (F.col("p_brand") == brand)
        & (F.col("p_size") >= 1) & (F.col("p_size") <= smax)
        & (F.col("l_quantity") >= qlo) & (F.col("l_quantity") <= qhi)
    )
    return (
        li.join(F.broadcast(part), F.col("l_partkey") == F.col("p_partkey"))
        .filter(
            arm("Brand#1", 5, 1, 11)
            | arm("Brand#2", 10, 10, 20)
            | arm("Brand#3", 15, 20, 30)
        )
        .agg(
            cents(F.sum(disc_price())).alias("revenue"),
            F.count(F.lit(1)).alias("n_lines"),
        )
    )


def tpch_q10(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q10 returned-item reporting: top-20 customers by revenue lost to
    returns in one quarter — join + agg + deterministic top-k across
    four tables, the canonical 'rank entities by a fact aggregate'
    report. Nation broadcasts; the orders⋈lineitem join carries only
    pruned columns; top-20 plans as TakeOrderedAndProject, never a
    global sort."""
    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_name", "c_acctbal", "c_nationkey"
    )
    nation = load_table(spark, sf_dir, "nation").select(
        "n_nationkey", "n_name"
    )
    orders = load_table(spark, sf_dir, "orders").filter(
        _span("o_orderdate", "1996-01-01", "1996-04-01")
    ).select("o_orderkey", "o_custkey")
    li = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_returnflag") == "R"
    ).select("l_orderkey", "l_extendedprice", "l_discount")
    return (
        li.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(cust, F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(nation), F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy("c_custkey", "c_name", "c_acctbal", "n_name")
        .agg(cents(F.sum(disc_price())).alias("revenue"))
        .orderBy(F.desc("revenue"), F.asc("c_custkey"))
        .limit(20)
    )


def tpch_q22(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q22 global-sales-opportunity: per market segment, count the
    rich-but-inactive customers — acctbal above the positive-balance
    average AND no orders at all. Exercises the scalar-aggregate
    broadcast (threshold computed once, crossJoin of a 1-row frame)
    plus a left-anti join (the testdata customer table has no phone, so
    segment plays the country-code group).

    FP-parity: the threshold divides an exact decimal sum (cast to
    double) by an exact count — one IEEE division, identical in both
    engines; acctbal values are 2-decimal so no value sits within an
    ulp of the threshold."""
    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment", "c_acctbal"
    )
    positive = cust.filter(F.col("c_acctbal") > 0.0)
    threshold = positive.agg(
        (
            F.sum(dec4("c_acctbal")).cast("double")
            / F.count(F.lit(1)).cast("double")
        ).alias("avg_bal")
    )
    orders = load_table(spark, sf_dir, "orders").select("o_custkey")
    return (
        cust.crossJoin(F.broadcast(threshold))
        .filter(F.col("c_acctbal") > F.col("avg_bal"))
        .join(
            orders, F.col("c_custkey") == F.col("o_custkey"), "left_anti"
        )
        .groupBy(F.col("c_mktsegment").alias("segment"))
        .agg(
            F.count(F.lit(1)).alias("numcust"),
            cents(F.sum(dec4("c_acctbal"))).alias("totacctbal"),
        )
        .orderBy("segment")
    )


def tpch_q13(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q13 customer order-count distribution: how many customers placed
    exactly N (non-urgent) orders, INCLUDING the zero-order customers —
    the outer-join + count-on-nullable shape (the testdata orders table
    has no o_comment, so the anti-predicate is priority <> 1-URGENT).

    Scale shape: orders are pre-aggregated to one count per custkey
    BEFORE the outer join (map-side partial agg shrinks the shuffle from
    |orders| rows to |custkeys|), then customer LEFT-joins the counts and
    COALESCEs the miss to 0 — semantically identical to the classic
    outer-join-then-count plan but it never carries per-order rows
    through the join. The second aggregation groups on tiny c_count
    cardinality (≤ max orders per customer)."""
    cust = load_table(spark, sf_dir, "customer").select("c_custkey")
    order_counts = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderpriority") != "1-URGENT")
        .groupBy(F.col("o_custkey"))
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    per_cust = cust.join(
        order_counts, F.col("c_custkey") == F.col("o_custkey"), "left_outer"
    ).select(
        # NULL from the outer-join miss is the zero-order customer.
        F.coalesce(F.col("cnt"), F.lit(0).cast("long")).alias("c_count")
    )
    return (
        per_cust.groupBy("c_count")
        .agg(F.count(F.lit(1)).alias("custdist"))
        .orderBy(F.desc("custdist"), F.desc("c_count"))
    )


def tpch_q7(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q7 volume shipping: revenue flowing between two nations in either
    direction, per (supplier nation, customer nation, year) — the
    same-dimension-joined-twice shape (nation aliased for both the
    supplier and the customer side) plus a disjunctive pair filter.

    Both nation joins broadcast; supplier broadcasts as a dim; the only
    big-big join is lineitem⋈orders on the order key. Year extraction
    stays a string (both engines format identically under UTC)."""
    n1, n2 = "NATION_1", "NATION_2"
    nation = load_table(spark, sf_dir, "nation").select(
        "n_nationkey", "n_name"
    )
    supp = load_table(spark, sf_dir, "supplier").select(
        "s_suppkey", "s_nationkey"
    )
    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_nationkey"
    )
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey"
    )
    li = load_table(spark, sf_dir, "lineitem").filter(
        _span("l_shipdate", "1996-01-01", "1998-01-01")
    ).select("l_orderkey", "l_suppkey", "l_shipdate",
             "l_extendedprice", "l_discount")
    supp_nation = nation.select(
        F.col("n_nationkey").alias("sn_key"), F.col("n_name").alias("supp_nation")
    )
    cust_nation = nation.select(
        F.col("n_nationkey").alias("cn_key"), F.col("n_name").alias("cust_nation")
    )
    return (
        li.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(cust, F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(supp), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(supp_nation), F.col("s_nationkey") == F.col("sn_key"))
        .join(F.broadcast(cust_nation), F.col("c_nationkey") == F.col("cn_key"))
        .filter(
            ((F.col("supp_nation") == n1) & (F.col("cust_nation") == n2))
            | ((F.col("supp_nation") == n2) & (F.col("cust_nation") == n1))
        )
        .groupBy(
            "supp_nation",
            "cust_nation",
            F.date_format("l_shipdate", "yyyy").alias("l_year"),
        )
        .agg(cents(F.sum(disc_price())).alias("revenue"))
        .orderBy("supp_nation", "cust_nation", "l_year")
    )


def tpch_q8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q8 national market share: one nation's fraction of regional
    revenue per year — the conditional-numerator-over-total ratio
    computed per GROUP (q14's shape, but grouped), across a 6-table
    join with the nation dimension aliased twice (supplier nation for
    the share test, customer nation → region for the market filter).

    Both sums ride one aggregation; the ratio divides the same
    :func:`cents`-pinned doubles on both engines."""
    target = "NATION_3"
    region = load_table(spark, sf_dir, "region").filter(
        F.col("r_name") == "ASIA"
    ).select("r_regionkey")
    nation = load_table(spark, sf_dir, "nation")
    cust_nation = nation.select(
        F.col("n_nationkey").alias("cn_key"),
        F.col("n_regionkey").alias("cn_region"),
    )
    supp_nation = nation.select(
        F.col("n_nationkey").alias("sn_key"),
        F.col("n_name").alias("supp_nation"),
    )
    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_nationkey"
    )
    supp = load_table(spark, sf_dir, "supplier").select(
        "s_suppkey", "s_nationkey"
    )
    orders = load_table(spark, sf_dir, "orders").filter(
        _span("o_orderdate", "1996-01-01", "1998-01-01")
    ).select("o_orderkey", "o_custkey", "o_orderdate")
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_extendedprice", "l_discount"
    )
    national = F.when(
        F.col("supp_nation") == target, disc_price()
    ).otherwise(dec4(F.lit(0)))
    nation_rev, total = cents(F.sum(national)), cents(F.sum(disc_price()))
    return (
        li.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(cust, F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(cust_nation), F.col("c_nationkey") == F.col("cn_key"))
        .join(F.broadcast(region), F.col("cn_region") == F.col("r_regionkey"))
        .join(F.broadcast(supp), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(supp_nation), F.col("s_nationkey") == F.col("sn_key"))
        .groupBy(F.date_format("o_orderdate", "yyyy").alias("o_year"))
        .agg(
            nation_rev.alias("nation_revenue"),
            total.alias("total_revenue"),
            (nation_rev / total).alias("mkt_share"),
        )
        .orderBy("o_year")
    )


def tpch_q21(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q21 suppliers-who-kept-orders-waiting, adapted to the testdata
    schema (no l_commitdate/l_receiptdate → "late" means shipped more
    than 60 days after the order date; reference semantics preserved:
    the supplier's line is late, the finished order has OTHER suppliers,
    and NONE of the others were late).

    Shape parity with the classic plan: one equi+non-equi LEFT SEMI
    (exists another supplier's line) and one LEFT ANTI (no other LATE
    line) on the order key — both are shuffle joins keyed on
    l_orderkey, so all three legs co-partition and AQE reuses the
    exchange; supplier and nation are broadcast dims. No per-row
    subquery re-execution anywhere. The classic single-nation filter is
    dropped (nation still joins through to prove the dim path): the
    testdata's 25-nation × 100-supplier grid leaves ~4 suppliers per
    nation, which degenerates to zero rows at small scale factors.
    Columns: s_name, numwait (top 20 by numwait desc, s_name).
    """
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_shipdate"
    )
    ord_f = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderstatus") == "F"
    ).select("o_orderkey", "o_orderdate")
    f_lines = li.join(
        ord_f, F.col("l_orderkey") == F.col("o_orderkey")
    ).select(
        "l_orderkey", "l_suppkey",
        (F.col("l_shipdate")
         > F.col("o_orderdate") + F.expr("INTERVAL 60 DAYS"))
        .alias("late"),
    )
    late_lines = f_lines.filter(F.col("late"))
    l1 = late_lines.select(
        F.col("l_orderkey").alias("ok"), F.col("l_suppkey").alias("sk")
    )
    others = li.select(
        F.col("l_orderkey").alias("ok2"), F.col("l_suppkey").alias("sk2")
    )
    late_others = late_lines.select(
        F.col("l_orderkey").alias("ok3"), F.col("l_suppkey").alias("sk3")
    )
    waiting = (
        l1.join(
            others,
            (F.col("ok") == F.col("ok2")) & (F.col("sk") != F.col("sk2")),
            "left_semi",
        )
        .join(
            late_others,
            (F.col("ok") == F.col("ok3")) & (F.col("sk") != F.col("sk3")),
            "left_anti",
        )
    )
    supp = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")
    return (
        waiting.join(
            F.broadcast(supp), F.col("sk") == F.col("s_suppkey")
        )
        .join(
            F.broadcast(nation),
            F.col("s_nationkey") == F.col("n_nationkey"),
        )
        .groupBy("s_name")
        .agg(F.count(F.lit(1)).alias("numwait"))
        .orderBy(F.desc("numwait"), F.asc("s_name"))
        .limit(20)
    )


def tpch_q16(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q16 parts/supplier relationship count, adapted (no partsupp →
    the part-supplier association is the distinct (l_partkey,
    l_suppkey) set observed in lineitem; no s_comment → the excluded
    "complaint" suppliers are the deterministic s_name LIKE '%7'
    subset).

    Shape parity: attribute filters on part, a NOT-IN supplier
    exclusion planned as a broadcast LEFT ANTI (the excluded set is
    supplier-table-sized), and a COUNT(DISTINCT) per part attribute
    triple. The distinct association collapses lineitem to |parts ×
    suppliers-per-part| BEFORE any wide join.
    Columns: p_brand, p_type, p_size, supplier_cnt.
    """
    assoc = (
        load_table(spark, sf_dir, "lineitem")
        .select("l_partkey", "l_suppkey")
        .distinct()
    )
    part = load_table(spark, sf_dir, "part").filter(
        (F.col("p_brand") != "Brand#1")
        & (~F.col("p_type").startswith("PROMO"))
        & (F.col("p_size").isin(1, 9, 17, 25, 33, 41, 49))
    )
    excluded = load_table(spark, sf_dir, "supplier").filter(
        F.col("s_name").endswith("7")
    ).select(F.col("s_suppkey").alias("x_suppkey"))
    return (
        assoc.join(
            F.broadcast(excluded),
            F.col("l_suppkey") == F.col("x_suppkey"),
            "left_anti",
        )
        .join(F.broadcast(part), F.col("l_partkey") == F.col("p_partkey"))
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
        .orderBy(
            F.desc("supplier_cnt"), F.asc("p_brand"), F.asc("p_type"),
            F.asc("p_size"),
        )
    )


def tpch_q20(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q20 potential part promotion, adapted (no partsupp.availqty →
    a supplier qualifies when their 1998 shipped quantity of some
    'red%'-named part exceeds 25 units; the classic nation filter is
    dropped for the same small-scale-degeneracy reason as q21 — the
    nation dim still joins through for the output column).

    Shape parity: the nested-subquery chain becomes two cascaded
    semi-join reductions — part filter semi-joins INTO the lineitem
    aggregate (broadcast: the filtered part list is a dim), and the
    qualifying supplier keys semi-join INTO supplier. Each stage only
    shrinks; nothing re-expands. Columns: s_name, n_name (sorted).
    """
    red_parts = load_table(spark, sf_dir, "part").filter(
        F.col("p_name").startswith("red")
    ).select("p_partkey")
    li = load_table(spark, sf_dir, "lineitem").filter(
        _span("l_shipdate", "1998-01-01", "1999-01-01")
    )
    shipped = (
        li.join(
            F.broadcast(red_parts),
            F.col("l_partkey") == F.col("p_partkey"),
            "left_semi",
        )
        .groupBy("l_suppkey", "l_partkey")
        .agg(exact_sum(F.col("l_quantity"), "qty"))
        .filter(F.col("qty") > 25.0)
        .select("l_suppkey")
        .distinct()
    )
    supp = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")
    return (
        supp.join(
            shipped, F.col("s_suppkey") == F.col("l_suppkey"), "left_semi"
        )
        .join(
            F.broadcast(nation),
            F.col("s_nationkey") == F.col("n_nationkey"),
        )
        .select("s_name", "n_name")
        .orderBy("s_name")
    )


def tpch_q11(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q11 important stock identification, adapted (no partsupp value →
    a part's "value" is its lineitem revenue; the significance
    threshold is 1.1× the all-parts average, the q22-style
    above-average scalar pattern, so the predicate is scale-free).

    Shape parity: group-by-part aggregate, a global scalar aggregate
    joined back as a broadcast 1-row cross join, a filter against the
    scalar, and a value-ordered report. The threshold arithmetic is
    (total / n_parts) * 1.1 — three identically-ordered double ops on
    decimal-exact inputs, bit-equal across engines.
    Columns: l_partkey, value.
    """
    li = load_table(spark, sf_dir, "lineitem")
    per_part = li.groupBy("l_partkey").agg(
        cents(F.sum(disc_price())).alias("value")
    )
    totals = per_part.agg(
        cents(F.sum(dec4("value"))).alias("total"),
        F.count(F.lit(1)).alias("n_parts"),
    )
    threshold = (
        F.col("total") / F.col("n_parts").cast("double") * F.lit(1.1)
    )
    return (
        per_part.crossJoin(F.broadcast(totals))
        .filter(F.col("value") > threshold)
        .select("l_partkey", "value")
        .orderBy(F.desc("value"), F.asc("l_partkey"))
    )


def tpch_q2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q2 minimum-cost supplier, adapted (no partsupp.supplycost → for
    each qualifying part, the EUROPE supplier with the minimum
    s_acctbal among suppliers that have actually shipped that part).

    The correlated MIN subquery decorrelates into a window MIN over
    the part key on the association table — computed on the SAME
    partitioning the join produced, no second aggregate-join round
    trip. Supplier/nation/region are broadcast dims; the association
    (distinct part-supplier pairs from lineitem) is the only big
    input. Top-100 via TakeOrderedAndProject.
    Columns: s_acctbal, s_name, n_name, p_partkey, p_name.
    """
    from pyspark.sql import Window

    part = load_table(spark, sf_dir, "part").filter(
        (F.col("p_type") == "STANDARD") & (F.col("p_size") < 10)
    ).select("p_partkey", "p_name")
    assoc = (
        load_table(spark, sf_dir, "lineitem")
        .select("l_partkey", "l_suppkey")
        .distinct()
    )
    supp = load_table(spark, sf_dir, "supplier").select(
        "s_suppkey", "s_name", "s_acctbal", "s_nationkey"
    )
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region").filter(
        F.col("r_name") == "EUROPE"
    )
    eligible = (
        assoc.join(F.broadcast(part), F.col("l_partkey") == F.col("p_partkey"))
        .join(F.broadcast(supp), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(
            F.broadcast(nation),
            F.col("s_nationkey") == F.col("n_nationkey"),
        )
        .join(
            F.broadcast(region),
            F.col("n_regionkey") == F.col("r_regionkey"),
            "left_semi",
        )
    )
    w = Window.partitionBy("p_partkey")
    return (
        eligible.withColumn("min_bal", F.min("s_acctbal").over(w))
        .filter(F.col("s_acctbal") == F.col("min_bal"))
        .select("s_acctbal", "s_name", "n_name", "p_partkey", "p_name")
        .orderBy(
            F.desc("s_acctbal"), F.asc("n_name"), F.asc("s_name"),
            F.asc("p_partkey"),
        )
        .limit(100)
    )


def tpch_q9(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q9 product-type profit measure, adapted (no ps_supplycost → the
    cost proxy is half the part's retail price per unit:
    profit = Σ price·(1-disc) − 0.5·Σ retailprice·qty).

    Shape parity: the 5-way join (lineitem ⋈ orders ⋈ part ⋈ supplier
    ⋈ nation) with a substring part filter, grouped by (nation, year).
    Both Σ terms are decimal-exact and rounded separately; the 0.5
    factor applies OUTSIDE the sums as one double multiply — decimal
    division parity across engines is not something to bet a hash on.
    Columns: nation, o_year, profit.
    """
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part").filter(
        F.col("p_name").contains("red")
    ).select("p_partkey", "p_retailprice")
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderdate"
    )
    supp = load_table(spark, sf_dir, "supplier").select(
        "s_suppkey", "s_nationkey"
    )
    nation = load_table(spark, sf_dir, "nation")
    cost = dec4("p_retailprice") * dec4("l_quantity")
    agg = (
        li.join(F.broadcast(part), F.col("l_partkey") == F.col("p_partkey"))
        .join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(supp), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(
            F.broadcast(nation),
            F.col("s_nationkey") == F.col("n_nationkey"),
        )
        .groupBy(
            F.col("n_name").alias("nation"),
            F.date_format("o_orderdate", "yyyy").alias("o_year"),
        )
        .agg(
            cents(F.sum(disc_price())).alias("sum_rev"),
            cents(F.sum(cost)).alias("sum_cost"),
        )
    )
    return agg.select(
        "nation", "o_year",
        (F.col("sum_rev") - F.col("sum_cost") * F.lit(0.5)).alias("profit"),
    ).orderBy(F.asc("nation"), F.desc("o_year"))
