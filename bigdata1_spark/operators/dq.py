"""Data-quality operators: declarative expectation suites and
distribution-drift detection (the Deequ/Great-Expectations surface).

No reference analog; this is the validation layer a production ingest
runs before publishing a table. Both operators follow the repo's exact
arithmetic rules: every metric is an exact integer; the only floats are
single fixed-order IEEE expressions per row (ratio, PSI term), so the
oracles pin values bit-for-bit.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from bigdata1_spark.operators.basket import snap6
from bigdata1_spark.sources.tables import load_table

# Equal-width PSI buckets over l_extendedprice from FIXED literal bounds
# (a statistics pass would make a row's bucket depend on other rows).
PSI_LO = 0.0
PSI_HI = 200_000.0
PSI_BUCKETS = 10


def dq_expectations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Expectation suite over lineitem, evaluated in ONE aggregate pass
    plus one anti-join count (the referential check needs the second
    table):

    * completeness — l_quantity has no NULLs
    * range — l_discount within [0, 0.5]
    * positivity — l_extendedprice strictly positive
    * uniqueness — (l_orderkey, l_linenumber, l_partkey, l_suppkey,
      l_quantity) is a key. Probing found two successively wider
      candidates failing first: (l_orderkey, l_linenumber) collides
      ~25% of the time in this generator, and even the 4-column key
      has one exact duplicate at sf0.001 — exactly the discoveries a
      DQ suite exists to force
    * referential — every l_orderkey exists in orders

    This is the Deequ pattern done Spark-first: all row-local checks
    fold into conditional counts inside a single scan's aggregate
    (adding a check adds a column, not a pass); only the cross-table
    check pays a join, and its build side is the key column alone. The
    suite emits one row per check so downstream alerting can filter
    ``passed = 0`` without parsing anything.
    Columns: check_name, metric, passed.
    """
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders").select("o_orderkey")

    row = li.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.col("l_quantity").isNull().cast("long")).alias("nulls_qty"),
        F.sum(
            (
                (F.col("l_discount") < 0) | (F.col("l_discount") > 0.5)
            ).cast("long")
        ).alias("oor_discount"),
        F.sum((F.col("l_extendedprice") <= 0).cast("long")).alias(
            "nonpos_price"
        ),
        F.count_distinct(
            F.struct(
                "l_orderkey", "l_linenumber", "l_partkey", "l_suppkey",
                "l_quantity",
            )
        ).alias("n_keys"),
    )
    orphans = (
        li.select("l_orderkey")
        .join(orders, F.col("l_orderkey") == F.col("o_orderkey"), "left_anti")
        .agg(F.count(F.lit(1)).alias("n_orphans"))
    )
    wide = row.crossJoin(F.broadcast(orphans))
    stacked = wide.select(
        F.expr(
            """
            stack(5,
              'completeness_quantity', nulls_qty,
              'range_discount', oor_discount,
              'positive_price', nonpos_price,
              'unique_line_key', n_rows - n_keys,
              'orders_referential', n_orphans
            ) AS (check_name, metric)
            """
        )
    )
    return stacked.select(
        "check_name",
        "metric",
        (F.col("metric") == 0).cast("long").alias("passed"),
    )


def psi_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population-stability-index drift check: split lineitem into two
    deterministic content-hash halves (standing in for train vs serve
    windows), bucket l_extendedprice into fixed equal-width cells, and
    emit each bucket's PSI term ``(p_a − p_b)·ln(p_a/p_b)``.

    All counting is exact integers in one Expand-free double
    aggregation (bucket × half), Laplace-smoothed (+1 per bucket) so
    empty cells stay finite; each PSI term is a FIXED-ORDER chain of a
    handful of IEEE ops on exact integer ratios, identical in both
    engines (the doc_entropy ln-parity discipline), floor-rounded at
    1e-6. Per-bucket terms are emitted instead of the summed scalar so
    the fold order of a final reduction can never enter the contract —
    the consumer sums 10 rows. Columns: bucket, n_a, n_b, psi_term.
    """
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_extendedprice"
    )
    width = (PSI_HI - PSI_LO) / PSI_BUCKETS
    bucket = F.least(
        F.greatest(
            F.floor((F.col("l_extendedprice") - PSI_LO) / width).cast("long"),
            F.lit(0),
        ),
        F.lit(PSI_BUCKETS - 1),
    )
    # Content-hash half: first md5 hex digit mod 2 (the mixture_sample
    # bucket convention — reproducible under any partitioning).
    half = F.pmod(
        F.conv(
            F.substring(F.md5(F.col("l_orderkey").cast("string")), 1, 1),
            16,
            10,
        ).cast("long"),
        F.lit(2),
    )
    counts = (
        li.select(bucket.alias("bucket"), half.alias("half"))
        .groupBy("bucket")
        .agg(
            F.sum((F.col("half") == 0).cast("long")).alias("n_a"),
            F.sum((F.col("half") == 1).cast("long")).alias("n_b"),
        )
    )
    tot = counts.agg(
        F.sum("n_a").alias("tot_a"), F.sum("n_b").alias("tot_b")
    )
    j = counts.crossJoin(F.broadcast(tot))
    pa = (F.col("n_a") + 1).cast("double") / (
        F.col("tot_a") + PSI_BUCKETS
    ).cast("double")
    pb = (F.col("n_b") + 1).cast("double") / (
        F.col("tot_b") + PSI_BUCKETS
    ).cast("double")
    term = (pa - pb) * F.log(pa / pb)
    return j.select(
        "bucket",
        "n_a",
        "n_b",
        snap6(term).alias(
            "psi_term"
        ),
    )


# Privacy-profiling thresholds: a quasi-identifier equivalence class is
# re-identifiable when it has fewer than K members or fewer than L
# distinct sensitive values (k-anonymity / l-diversity, Sweeney 2002 /
# Machanavajjhala 2007). Fixed literals so a row's flag never depends
# on a statistics pass.
KANON_K = 5
LDIV_L = 3


def k_anonymity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-anonymity / l-diversity profile of the customer table under
    the quasi-identifier pair (c_nationkey, c_mktsegment), with
    ``floor(c_acctbal / 1000)`` as the sensitive attribute — the
    privacy audit a dataset runs before releasing user-derived rows
    into a training corpus.

    ONE scan, ONE groupBy shuffle: class size and distinct-sensitive
    count fold into a single aggregate per equivalence class (the
    distinct agg plans as Expand+two-phase HashAggregate — still one
    pass over the data, and the class table it shuffles is
    |nations|x|segments|-bounded at any corpus size). NULL
    quasi-identifier values form their own class in both engines;
    COUNT(DISTINCT sensitive) ignores NULL sensitive values in both.
    All outputs are exact integers — no floats anywhere.
    Columns: c_nationkey, c_mktsegment, class_size, l_diversity,
    at_risk (1 when class_size < K or l_diversity < L).
    """
    cust = load_table(spark, sf_dir, "customer").select(
        "c_nationkey",
        "c_mktsegment",
        F.floor(F.col("c_acctbal") / F.lit(1000.0)).alias("sens"),
    )
    classes = cust.groupBy("c_nationkey", "c_mktsegment").agg(
        F.count(F.lit(1)).alias("class_size"),
        F.count_distinct(F.col("sens")).alias("l_diversity"),
    )
    return classes.select(
        "c_nationkey",
        "c_mktsegment",
        "class_size",
        "l_diversity",
        (
            (F.col("class_size") < KANON_K)
            | (F.col("l_diversity") < LDIV_L)
        )
        .cast("long")
        .alias("at_risk"),
    )
