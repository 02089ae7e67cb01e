"""Data-layout operators: multi-dimensional clustering (Z-order) and
table bucketing (shuffle-free co-located joins).

Z-ordering is the data-layout half of pruning at 100 TB: sorting files
by the interleaved bits of several filter columns makes EVERY one of
those columns range-clustered, so parquet min/max statistics prune
files for predicates on any of them (Delta OPTIMIZE ZORDER / Iceberg
sort orders do exactly this). The encode is a pure bit-interleave —
whole-stage-codegen arithmetic, no Python, no shuffle; the clustering
itself is one ``repartitionByRange`` on the z-value, which is also the
only shuffle a full rewrite needs.

Bucketing is the data-layout half of JOINING at 100 TB: two fact
tables written with the same bucket count on their join key are
permanently co-partitioned, so every subsequent join between them
needs no exchange at all — the one layout a fact-fact join that can
never broadcast (lineitem ⋈ orders at scale) must have.
"""

from __future__ import annotations

import atexit
import shutil
import tempfile

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from bigdata1_spark.sources.tables import load_table

ZORDER_BITS = 6  # 6 bits per dimension → 12-bit z-values, 4096 cells


def _interleave(x: Column, y: Column, bits: int) -> Column:
    """z = … y₂x₂y₁x₁y₀x₀ — x in even bit positions, y in odd."""
    z = F.lit(0).cast("long")
    for i in range(bits):
        z = (
            z
            + F.shiftleft(F.shiftright(x, i).bitwiseAND(F.lit(1)), 2 * i)
            + F.shiftleft(
                F.shiftright(y, i).bitwiseAND(F.lit(1)), 2 * i + 1
            )
        )
    return z


def zorder_cluster(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order encode of (p_size, p_retailprice) into a single
    clustering key, then range-repartition on it — the layout pass a
    table rewrite would run before writing files.

    Both dimensions are quantized to 6-bit cells (size is already
    ≤ 64; price divides its observed range into 64 equal-width cells
    from fixed literal bounds, so the mapping is stable under any
    partitioning and identical in the oracle). The range partitioning
    does not change row values — the returned rows prove the encode,
    the plan carries the clustering exchange.
    Columns: p_partkey, cell_x, cell_y, zval.
    """
    p = load_table(spark, sf_dir, "part").select(
        "p_partkey", "p_size", "p_retailprice"
    )
    n_cells = 1 << ZORDER_BITS
    # Fixed quantization bounds (generator emits sizes 1-50, prices
    # ~1-2000): literals, not a statistics pass, so the cell of a row
    # never depends on what other rows are present.
    x = F.least(
        F.greatest(F.col("p_size").cast("long"), F.lit(0)),
        F.lit(n_cells - 1),
    )
    y = F.least(
        F.greatest(
            F.floor(F.col("p_retailprice") / 32.0).cast("long"), F.lit(0)
        ),
        F.lit(n_cells - 1),
    )
    encoded = p.select(
        "p_partkey",
        x.alias("cell_x"),
        y.alias("cell_y"),
        _interleave(x, y, ZORDER_BITS).alias("zval"),
    )
    return encoded.repartitionByRange(8, "zval")

BUCKETS = 8  # bucket count shared by both sides; a cluster uses 1000s


def bucketed_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shuffle-free fact-fact join via table bucketing.

    Writes ``orders`` and ``lineitem`` as parquet tables bucketed (and
    sorted) on the join key with the SAME bucket count — the one-time
    layout cost a pipeline pays at ingest — then joins them and rolls
    the result up per month. Because both scans report the bucket
    hash-partitioning, the sort-merge join's required distribution is
    already satisfied and the executed plan contains NO exchange below
    the join: at 100 TB neither fact table crosses the network at query
    time, ever again, for any join on this key (the layout analogue of
    what ``skew_salted_join``/``dpp_join`` do per-query). The ``merge``
    hint pins the join strategy so the demo doesn't silently degrade to
    a broadcast at toy scale; at real scale neither side could
    broadcast anyway. ``tests/test_plans.py`` asserts the zero-exchange
    join; the only exchange in the whole plan is the final per-month
    rollup's.

    Each call writes into a fresh temp location (parallel sweep
    processes share a cwd — a fixed warehouse path would corrupt);
    the in-memory catalog entries are dropped and re-created per call.
    This is the one write-then-read key that does not go through
    ``sources.tables.scratch``: pinning the result would replace the
    lazy bucketed scans the zero-exchange plan check inspects, so the
    returned frame keeps reading the tables and their directory is
    removed at interpreter exit instead.
    Columns: month, n_lines, revenue.
    """
    from bigdata1_spark.operators.basket import exact_sum, month_of

    work = tempfile.mkdtemp(prefix="bigdata1_bucketed_")
    atexit.register(shutil.rmtree, work, ignore_errors=True)
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderdate"
    )
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_extendedprice"
    )
    # Pre-partition each side by the bucket hash so every write task
    # owns whole buckets → exactly one file per bucket (without it,
    # every task appends one file per bucket it sees: numBuckets x
    # parallelism small files — the bucketed-write analogue of the
    # small-files problem).
    for name, df, key in (
        ("bigdata1_bkt_orders", orders, "o_orderkey"),
        ("bigdata1_bkt_lineitem", li, "l_orderkey"),
    ):
        spark.sql(f"DROP TABLE IF EXISTS {name}")
        (
            df.repartition(BUCKETS, F.col(key))
            .write.format("parquet")
            .bucketBy(BUCKETS, key)
            .sortBy(key)
            .option("path", f"{work}/{name}")
            .mode("overwrite")
            .saveAsTable(name)
        )
    joined = (
        spark.table("bigdata1_bkt_lineitem")
        .hint("merge")
        .join(
            spark.table("bigdata1_bkt_orders"),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
    )
    return (
        joined.groupBy(month_of(F.col("o_orderdate")).alias("month"))
        .agg(
            F.count(F.lit(1)).alias("n_lines"),
            exact_sum(F.col("l_extendedprice"), "revenue"),
        )
    )
