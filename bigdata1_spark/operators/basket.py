"""Market-basket flagship queries (reference parity).

The reference implements three queries twice (Hadoop MR + Spark 1.6 RDD);
we re-express the *intended* semantics (SURVEY.md §8 quirks ledger) as
DataFrame plans:

* :func:`top5_per_month`      — reference TopFive
  (``BD_hw1/src/spark/TopFive.java:53-118``,
  ``BD_hw1/src/mapreduce/TopFive.java:57-113``)
* :func:`revenue_per_item_month` — reference TotalPerMonth
  (``BD_hw1/src/spark/TotalPerMonth.java:47-122``,
  ``BD_hw1/src/mapreduce/TotalPerMonth.java:60-124``)
* :func:`assoc_rules`         — reference SupportAndConfidence
  (``BD_hw1/src/spark/SupportAndConfidence.java:48-216``,
  ``BD_hw1/src/mapreduce/SupportAndConfidence.java:63-198``)

Basket mapping (FIXTURES.md §1): basket = ``orders`` row, item =
``lineitem.l_partkey``, cost = ``l_extendedprice``, date = ``o_orderdate``.

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


def baskets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct (basket, item) pairs: one row per part per order.

    The universal first step of every reference query (SURVEY.md §2.2 P5
    'flatten billing → item rows'); distinct mirrors the reference's
    per-basket dedup (quirk Q9: ``array_distinct`` before pairing).
    """
    return (
        load_table(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_partkey")
        .distinct()
    )


def orders_month(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(o_orderkey, month) projection of orders."""
    return load_table(spark, sf_dir, "orders").select(
        "o_orderkey", month_of(F.col("o_orderdate")).alias("month")
    )


TOP_ITEMS = 5  # items kept per month (the reference's "five")


def top5_per_month(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-``TOP_ITEMS`` best-selling items per month (reference TopFive,
    intended).

    Columns: month, item, cnt, rn — deterministic tie-break on item id.
    """
    counts = (
        baskets(spark, sf_dir)
        .join(orders_month(spark, sf_dir),
              F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy("month", F.col("l_partkey").alias("item"))
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    w = Window.partitionBy("month").orderBy(F.desc("cnt"), F.asc("item"))
    return (
        counts.withColumn("rn", F.row_number().over(w).cast("long"))
        .filter(F.col("rn") <= TOP_ITEMS)
        .select("month", "item", "cnt", "rn")
    )


def revenue_per_item_month(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Total revenue per item per month (reference TotalPerMonth, intended).

    Groups by the full 'yyyy-MM' key (fixes quirks Q3/Q4: the reference
    aggregates/sorts by month number only, collapsing years).
    Columns: item, month, revenue.
    """
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", F.col("l_partkey").alias("item"), "l_extendedprice"
    )
    return (
        li.join(orders_month(spark, sf_dir),
                F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy("item", "month")
        .agg(exact_sum(F.col("l_extendedprice"), "revenue"))
        .orderBy("item", "month")
    )


def _pair_combinations(items: Column) -> Column:
    """All sorted 2-combinations of a (sorted, distinct) item array.

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


def basket_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(l_orderkey, items) — sorted distinct item array per basket.

    The single shared upstream of every itemset computation: one scan +
    one grouping — ``collect_set`` dedupes per basket (quirk Q9), so no
    separate ``distinct`` shuffle is needed (going through ``baskets``
    would shuffle on (orderkey, partkey) and then reshuffle on orderkey
    — one full extra exchange of the fact table). Callers that fan out
    (assoc_rules, itemset_frequencies) cache it, mirroring the
    reference's cache of the reduced itemset RDD
    (``BD_hw1/src/spark/SupportAndConfidence.java:112``).
    """
    return (
        load_table(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_partkey")
        .groupBy("l_orderkey")
        .agg(F.array_sort(F.collect_set("l_partkey")).alias("items"))
    )


def itemset_frequencies(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frequencies of 1- and 2-itemsets over order baskets.

    Reference: single reduceByKey over a union of singleton and pair
    emissions (``BD_hw1/src/spark/SupportAndConfidence.java:62-112``).
    Itemsets are canonical sorted arrays rendered as ','-joined strings so
    downstream consumers (and the SQL oracle) share one key shape.
    Columns: itemset, n_items, freq.

    The per-basket table fans out to the singleton and the pair branch
    of the union, so it is cached (same rationale and reference citation
    as assoc_rules) — without it both branches re-run scan+distinct+group.
    """
    per_basket = basket_items(spark, sf_dir).cache()
    singles = per_basket.select(
        F.explode("items").alias("item")
    ).select(
        F.col("item").cast("string").alias("itemset"),
        F.lit(1).cast("long").alias("n_items"),
    )
    pairs = per_basket.select(
        F.explode(_pair_combinations(F.col("items"))).alias("p")
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
    return _pair_counts_from(basket_items(spark, sf_dir))


def _pair_counts_from(per_basket: DataFrame) -> DataFrame:
    return (
        per_basket.select(F.explode(_pair_combinations(F.col("items"))).alias("p"))
        .groupBy(F.col("p.i1").alias("i1"), F.col("p.i2").alias("i2"))
        .agg(F.count(F.lit(1)).alias("pair_cnt"))
    )


def assoc_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise association rules with support and confidence.

    Reference SupportAndConfidence, intended semantics: support and
    confidence as plain fractions (quirk Q6), no self-rules (Q7), blank
    baskets excluded from the denominator (Q8).

    support(a→b)    = pair_cnt / total_baskets
    confidence(a→b) = pair_cnt / count(a)

    Columns: antecedent, consequent, pair_cnt, support, confidence.

    Plan shape: the shared per-basket item table is built ONCE and
    cached (it fans out to total/item-counts/pair-counts — mirroring the
    reference's cache at ``BD_hw1/src/spark/SupportAndConfidence.java:
    112``); total is a plain count of cached baskets (replaces the
    reference's driver-side Accumulator round-trip, ``:54-57``); both
    rule directions union; the antecedent join and the 1-row total are
    broadcast. Net: 2 shuffles to build the cache + 2 aggregation
    shuffles, vs 4 full recomputations without the reuse.
    """
    per_basket = basket_items(spark, sf_dir).cache()
    item_counts = (
        per_basket.select(F.explode("items").alias("item"))
        .groupBy("item")
        .agg(F.count(F.lit(1)).alias("item_cnt"))
    )
    total = per_basket.agg(F.count(F.lit(1)).alias("total_baskets"))
    pc = _pair_counts_from(per_basket)
    directed = pc.select(
        F.col("i1").alias("antecedent"),
        F.col("i2").alias("consequent"),
        "pair_cnt",
    ).unionAll(
        pc.select(
            F.col("i2").alias("antecedent"),
            F.col("i1").alias("consequent"),
            "pair_cnt",
        )
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
