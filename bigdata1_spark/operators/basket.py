"""Market-basket flagship queries (reference parity) and the shared
basket core.

The reference implements three queries twice (Hadoop MR + Spark 1.6 RDD);
we re-express the *intended* semantics (SURVEY.md §8 quirks ledger) as
kernels over ONE line-item frame, the FIXTURES.md §1 billings shape
``(bill_id, item, cost)`` plus ``month`` where a kernel needs one.

Two sources produce that frame:

* TPC-H — :func:`tpch_lines` maps ``lineitem`` (basket = order, item =
  ``l_partkey``, cost = ``l_extendedprice``); :func:`tpch_month_lines`
  joins it to :func:`orders_month`, the one (o_orderkey, month)
  projection the basket kernels use. Three keys keep their own month
  of ``o_orderdate`` because their plan shape is the point:
  ``relational._runtime_filter_plan`` (filtered orders side),
  ``layout.bucketed_join`` (bucketed tables) and ``jsonl.dpp_join``
  (partition pruning).
* billing text — ``sources.billing.normalize(parse_billings_*(…))``
  with ``month_of(bill_date)``.

The kernels (pure ``DataFrame → DataFrame``, no session, no path):

* :func:`month_item_counts` + :func:`top_items` — reference TopFive
  (``BD_hw1/src/spark/TopFive.java:53-118``,
  ``BD_hw1/src/mapreduce/TopFive.java:57-113``)
* :func:`monthly_revenue` — reference TotalPerMonth
  (``BD_hw1/src/spark/TotalPerMonth.java:47-122``,
  ``BD_hw1/src/mapreduce/TotalPerMonth.java:60-124``)
* :func:`basket_items` + :func:`pair_combinations` + :func:`rules` —
  reference SupportAndConfidence
  (``BD_hw1/src/spark/SupportAndConfidence.java:48-216``,
  ``BD_hw1/src/mapreduce/SupportAndConfidence.java:63-198``)

The registry keys (``topk_window``, ``groupby_sum``, ``itemset_freq``,
``assoc_rules``, ``join_self_pairs``), the micro/relational siblings,
``billing_total_b`` and the co-supplier graph all call these.

Scale notes (100 TB posture):
* The orders⋈lineitem join shuffles on the order key — co-partitionable
  via bucketing on a real cluster; AQE picks broadcast when one side fits.
* Pair generation for association rules is *array-local*: one shuffle to
  group items per basket, then 2-combinations generated inside the row
  with ``transform``/``slice``/``flatten`` (no self-join shuffle, mirrors
  the reference's in-mapper combination builder
  ``BD_hw1/src/spark/Utils.java:51-88`` but stays in Tungsten codegen).
* The antecedent-count join is a broadcast join (item-count side is
  bounded by vocabulary size — reference ships pair counts to each member
  key instead, ``BD_hw1/src/spark/SupportAndConfidence.java:131-155``).
* Top-k per group is a window ``row_number`` — the plan the reference's
  two buggy top-5 implementations intended (quirks Q1/Q2).
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from bigdata1_spark.sources.tables import load_table


def month_of(col: Column) -> Column:
    """Truncate a date/timestamp to its 'yyyy-MM' month key.

    Replaces the reference's string surgery on unpadded date strings
    (quirk Q10: lexicographic '2015-10' < '2015-3') with real date types.
    """
    return F.date_format(col, "yyyy-MM")


def dec4(col: Column | str) -> Column:
    """The repo-wide money cast: a 2-decimal price, discount, tax or
    quantity as DECIMAL(18,4), the oracles' ``CAST(x AS DECIMAL(18,4))``.
    Every money sum or product an oracle must match runs on it."""
    return (F.col(col) if isinstance(col, str) else col).cast("decimal(18,4)")


def exact_sum(col: Column, alias: str) -> Column:
    """Sum doubles exactly via decimal, then cast back to double.

    Decimal accumulation is order-independent, so the result is
    bit-identical across engines and across shuffle orderings — required
    for the hash-based oracle diff, and a good idea at 100 TB where
    partial-aggregation order is nondeterministic.
    """
    return F.sum(dec4(col)).cast("double").alias(alias)


def cents(col: Column | str) -> Column:
    """The repo-wide cents pin: a decimal rounded to 2 places IN DECIMAL,
    then cast to double — DuckDB's ``CAST(ROUND(x, 2) AS DOUBLE)``.

    A wide decimal sum can carry more than 17 significant digits, and
    the engines convert such a decimal to double differently: Spark
    rounds the big decimal once, DuckDB divides the int128 by 10^scale
    (two roundings), so the last ulp can differ. Rounded to cents, the
    value has at most 15 significant digits at any realistic total and
    the cast is exact on both. Rounding after a double cast would round
    the already-diverged double instead.
    """
    return F.round(col, 2).cast("double")


def disc_price() -> Column:
    """The exact discounted revenue of a lineitem row,
    ``l_extendedprice · (1 − l_discount)`` in DECIMAL(18,4)."""
    return dec4("l_extendedprice") * (dec4(F.lit(1)) - dec4("l_discount"))


def snap6(col: Column) -> Column:
    """The repo-wide six-decimal float pin: floor(x*1e6 + 0.5)/1e6,
    round-half-up on the 1e-6 grid in pure double arithmetic. The
    oracles spell the same expression (``FLOOR(x * 1e6 + 0.5) / 1e6``),
    so a float whose last ulp the two engines compute differently
    still lands on one grid value and hashes equal.
    """
    return F.floor(col * F.lit(1e6) + F.lit(0.5)) / F.lit(1e6)


def fold_sum(arr: Column, term: Callable[[Column], Column]) -> Column:
    """The repo-wide ordered float fold: Σ term(x) over ``arr``, added
    left to right from an explicit 0.0. A double sum's bits depend on
    its order, so every per-row float sum an oracle must reproduce is
    this fold over an ``array_sort``-ed array — DuckDB's
    ``list_reduce(list_prepend(0.0, …), (a, t) -> a + t)`` then adds the
    same doubles in the same order.
    """
    return F.aggregate(
        F.transform(arr, term), F.lit(0.0), lambda acc, t: acc + t
    )


# The repo-wide NULL-class sentinel: a NULL group label (lang, source,
# event_type) becomes a real class under this name, so joins and ``<``
# pair filters on the label never meet a SQL NULL (NULL = NULL is false
# in both engines; the row would silently drop out).
NULL_CLASS = "<null>"


def or_null_class(col: Column) -> Column:
    """``col``, with NULL replaced by :data:`NULL_CLASS`."""
    return F.coalesce(col, F.lit(NULL_CLASS))


def fixed_point(col: Column, scale: int = 1) -> Column:
    """The repo-wide fixed-point scaler: a measure as the exact BIGINT
    round(x·scale) — scale 100 for the 2-decimal prices, discounts,
    taxes and event values, 1 for the integral quantities. Inputs sit
    within 1e-9 of the grid, so the one round never meets a tie and
    the oracles' ``CAST(ROUND(x * scale) AS BIGINT)`` lands on the
    same integer; every later sum or product of it is exact.
    """
    return F.round(col if scale == 1 else col * F.lit(scale)).cast("long")


# The repo-wide microsecond timestamp string: both engines render UTC
# timestamps this way, so a formatted ts hashes equal.
TS_FMT = "yyyy-MM-dd HH:mm:ss.SSSSSS"


def day_num(ts: Column | str) -> Column:
    """The exact integer day index (days since 1970-01-01) — DuckDB's
    ``CAST(CAST(ts AS DATE) - DATE '1970-01-01' AS BIGINT)``; NULL ts
    gives a NULL day."""
    return F.datediff(F.to_date(ts), F.to_date(F.lit("1970-01-01"))).cast(
        "long"
    )


# --- the two sources of the billings frame (FIXTURES.md §1) --------------

def tpch_lines(
    spark: SparkSession, sf_dir: str, item: str = "l_partkey"
) -> DataFrame:
    """``lineitem`` as the billings frame: (bill_id, item, cost) with
    basket = order, cost = ``l_extendedprice`` and ``item`` the item
    column (the co-supplier graph passes ``l_suppkey``). A rename, not
    a select: the other columns ride along until Catalyst prunes them,
    and a lineitem without a price (the graph tests' two-column edge
    tables) still maps."""
    return load_table(spark, sf_dir, "lineitem").withColumnsRenamed(
        {"l_orderkey": "bill_id", item: "item", "l_extendedprice": "cost"}
    )


def orders_month(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(o_orderkey, month) projection of orders — the one such
    projection the basket kernels use (see the module docstring for
    the three keys that keep their own)."""
    return load_table(spark, sf_dir, "orders").select(
        "o_orderkey", month_of(F.col("o_orderdate")).alias("month")
    )


def tpch_month_lines(spark: SparkSession, sf_dir: str) -> DataFrame:
    """:func:`tpch_lines` with each line's basket month: one inner join
    to :func:`orders_month` on ``o_orderkey``."""
    months = orders_month(spark, sf_dir).withColumnRenamed(
        "o_orderkey", "bill_id"
    )
    return tpch_lines(spark, sf_dir).join(months, "bill_id")


# --- the kernels: pure DataFrame → DataFrame over the billings frame --------

TOP_ITEMS = 5  # items kept per month (the reference's "five")


def month_item_counts(lines: DataFrame) -> DataFrame:
    """(month, item, cnt): baskets per month holding the item. Distinct
    (bill_id, item, month) first — a basket counts an item once (quirk
    Q9). Month is a function of bill_id, so after a shuffle join on
    bill_id the join's hash partitioning already satisfies the distinct
    and it adds no exchange."""
    return (
        lines.select("bill_id", "item", "month")
        .distinct()
        .groupBy("month", "item")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def top_items(counts: DataFrame) -> DataFrame:
    """Top-``TOP_ITEMS`` rows per month of :func:`month_item_counts`
    (reference TopFive, intended): columns month, item, cnt, rn, with a
    deterministic tie-break on item."""
    w = Window.partitionBy("month").orderBy(F.desc("cnt"), F.asc("item"))
    return (
        counts.withColumn("rn", F.row_number().over(w).cast("long"))
        .filter(F.col("rn") <= TOP_ITEMS)
        .select("month", "item", "cnt", "rn")
    )


def monthly_revenue(lines: DataFrame) -> DataFrame:
    """(item, month, revenue): the exact cost sum per item per month
    (reference TotalPerMonth, intended). Groups by the full 'yyyy-MM'
    key (fixes quirks Q3/Q4: the reference aggregates and sorts by month
    number only, collapsing years)."""
    return lines.groupBy("item", "month").agg(
        exact_sum(F.col("cost"), "revenue")
    )


def basket_items(lines: DataFrame) -> DataFrame:
    """(bill_id, items): the sorted distinct item array per basket.

    The one shared upstream of every itemset computation: one grouping,
    whose ``collect_set`` dedupes per basket (quirk Q9), so no separate
    ``distinct`` shuffle is needed (a distinct on (basket, item) would
    shuffle on both and then reshuffle on the basket — one full extra
    exchange of the fact table). Callers that fan out cache it,
    mirroring the reference's cache of the reduced itemset RDD
    (``BD_hw1/src/spark/SupportAndConfidence.java:112``).
    """
    return lines.groupBy("bill_id").agg(
        F.array_sort(F.collect_set("item")).alias("items")
    )


def pair_combinations(items: Column) -> Column:
    """All sorted 2-combinations of a (sorted, distinct) item array, as
    struct(i1, i2) with i1 < i2.

    Array-local equivalent of ``Utils.findSortedCombinations``
    (``BD_hw1/src/spark/Utils.java:51-88``): for every i<j emit
    struct(items[i], items[j]). Runs inside codegen — no extra shuffle,
    no Python. Quadratic in basket size, which is bounded (TPC-H order ≤7
    items; cap baskets upstream if a corpus has pathological baskets).
    """
    return F.flatten(
        F.transform(
            items,
            lambda x, i: F.transform(
                F.slice(items, i + F.lit(2), F.size(items)),
                lambda y: F.struct(x.alias("i1"), y.alias("i2")),
            ),
        )
    )


def _pair_counts_from(per_basket: DataFrame) -> DataFrame:
    return (
        per_basket.select(F.explode(pair_combinations(F.col("items"))).alias("p"))
        .groupBy(F.col("p.i1").alias("i1"), F.col("p.i2").alias("i2"))
        .agg(F.count(F.lit(1)).alias("pair_cnt"))
    )


def rules(per_basket: DataFrame) -> DataFrame:
    """Pairwise association rules over :func:`basket_items` (reference
    SupportAndConfidence, intended): support and confidence as plain
    fractions (quirk Q6), no self-rules (Q7), blank baskets excluded
    from the denominator (Q8).

    support(a→b)    = pair_cnt / total_baskets
    confidence(a→b) = pair_cnt / count(a)

    Columns: antecedent, consequent, pair_cnt, support, confidence.

    ``per_basket`` fans out to the total, the item counts and the pair
    counts, so callers cache it (the reference's cache at
    ``BD_hw1/src/spark/SupportAndConfidence.java:112``). The total is a
    plain count (replaces the reference's driver-side Accumulator
    round-trip, ``:54-57``). Both rule directions come from the one
    pair-count aggregate (each pair row inlines into a→b and b→a), so
    the basket pairs are exploded and counted once, not once per
    direction. The antecedent join and the 1-row total are broadcast.
    """
    item_counts = (
        per_basket.select(F.explode("items").alias("item"))
        .groupBy("item")
        .agg(F.count(F.lit(1)).alias("item_cnt"))
    )
    total = per_basket.agg(F.count(F.lit(1)).alias("total_baskets"))
    directed = _pair_counts_from(per_basket).select(
        F.inline(F.array(
            F.struct(F.col("i1").alias("antecedent"),
                     F.col("i2").alias("consequent"), "pair_cnt"),
            F.struct(F.col("i2").alias("antecedent"),
                     F.col("i1").alias("consequent"), "pair_cnt"),
        ))
    )
    return (
        directed.join(F.broadcast(item_counts),
                      F.col("antecedent") == F.col("item"))
        .crossJoin(F.broadcast(total))
        .select(
            "antecedent",
            "consequent",
            "pair_cnt",
            (F.col("pair_cnt").cast("double")
             / F.col("total_baskets").cast("double")).alias("support"),
            (F.col("pair_cnt").cast("double")
             / F.col("item_cnt").cast("double")).alias("confidence"),
        )
    )


# --- the registry keys: the kernels over the TPC-H source -----------------

def top5_per_month(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reference TopFive over the TPC-H baskets: columns month, item,
    cnt, rn."""
    return top_items(month_item_counts(tpch_month_lines(spark, sf_dir)))


def revenue_per_item_month(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reference TotalPerMonth over the TPC-H baskets: columns item,
    month, revenue. Unsorted — the oracle hash ignores row order, and a
    global sort costs a range exchange and a sampling job."""
    return monthly_revenue(tpch_month_lines(spark, sf_dir))


def itemset_frequencies(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frequencies of 1- and 2-itemsets over order baskets.

    Reference: single reduceByKey over a union of singleton and pair
    emissions (``BD_hw1/src/spark/SupportAndConfidence.java:62-112``).
    Itemsets are canonical sorted arrays rendered as ','-joined strings so
    downstream consumers (and the SQL oracle) share one key shape.
    Columns: itemset, n_items, freq. The per-basket table fans out to
    both branches of the union, so it is cached; AQE coalesces the
    cached plan (see ``session``), so both branches read it as a few
    partitions rather than ``spark.sql.shuffle.partitions``.
    """
    per_basket = basket_items(tpch_lines(spark, sf_dir)).cache()
    singles = per_basket.select(
        F.explode("items").alias("item")
    ).select(
        F.col("item").cast("string").alias("itemset"),
        F.lit(1).cast("long").alias("n_items"),
    )
    pairs = per_basket.select(
        F.explode(pair_combinations(F.col("items"))).alias("p")
    ).select(
        F.concat_ws(",", F.col("p.i1"), F.col("p.i2")).alias("itemset"),
        F.lit(2).cast("long").alias("n_items"),
    )
    return (
        singles.unionAll(pairs)
        .groupBy("itemset", "n_items")
        .agg(F.count(F.lit(1)).alias("freq"))
    )


def pair_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Co-occurrence counts of sorted item pairs across baskets.

    Columns: i1, i2, pair_cnt with i1 < i2 (canonical order — reference
    sorts combinations, ``BD_hw1/src/spark/Utils.java:74-77``).
    """
    return _pair_counts_from(basket_items(tpch_lines(spark, sf_dir)))


def assoc_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reference SupportAndConfidence over the TPC-H baskets (see
    :func:`rules`); the cached per-basket table is built once, not once
    per consumer. The session lets AQE coalesce the cached plan, so the
    cache is built as a few partitions (one at sf0.001), not
    ``spark.sql.shuffle.partitions``, and each consumer reads it with
    that few tasks."""
    return rules(basket_items(tpch_lines(spark, sf_dir)).cache())
