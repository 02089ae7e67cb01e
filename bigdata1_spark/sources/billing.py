"""Billing text-line parser — the reference's native input format.

Format A (item-only, generator output —
``BD_hw1/src/generator/ItemBillingGenerator.java:25``)::

    YYYY-M-D,item1,item2,...,itemK          e.g. 2015-3-12,pane,latte,uova

Format B (costed, TotalPerMonth input —
``BD_hw1/src/mapreduce/TotalPerMonth.java:53,93-95``)::

    YYYY-M-D,COST NAME,COST NAME,...        e.g. 2015-3-12,15 pane,12 uova

Dates are unpadded (quirk Q10) so we parse with the lenient 'y-M-d'
pattern into a real DateType instead of doing string surgery. Blank lines
are dropped before parsing (quirk Q8: the reference's Spark S&C counts
them into the support denominator). Costs parse as double (quirk Q5: MR
used int, Spark double; double is canonical).

Everything is built-in column expressions — no Python UDFs — so parsing
runs inside whole-stage codegen at any scale.
"""

from __future__ import annotations

import os

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from bigdata1_spark.operators.basket import (
    month_of, monthly_revenue, tpch_lines,
)
from bigdata1_spark.sources.tables import load_table, spread_if_starved


def render_line(bill_date: Column, items: Column) -> Column:
    """One billing text line, the inverse of the parsers below: the
    unpadded 'y-M-d' date (quirk Q10), then the ARRAY<STRING> ``items``
    (Format A names or Format B 'COST NAME' tokens), comma-joined."""
    return F.concat_ws(
        ",",
        F.concat_ws(
            "-", F.year(bill_date), F.month(bill_date), F.dayofmonth(bill_date)
        ),
        items,
    )


def _split_line(df: DataFrame) -> DataFrame:
    nonblank = df.filter(
        F.col("value").isNotNull() & (F.length(F.trim(F.col("value"))) > 0)
    )
    toks = F.split(F.col("value"), ",")
    return nonblank.select(
        F.to_date(toks.getItem(0), "y-M-d").alias("bill_date"),
        F.slice(toks, 2, F.size(toks)).alias("raw_items"),
    )


def parse_billings_a(df: DataFrame) -> DataFrame:
    """Format A lines → (bill_date DATE, items ARRAY<STRING>).

    Items are deduped per billing (quirk Q9) but order is preserved
    until a consumer sorts; empty item tokens are dropped.
    """
    return _split_line(df).select(
        "bill_date",
        F.array_distinct(
            F.filter(F.col("raw_items"), lambda x: F.length(x) > 0)
        ).alias("items"),
    )


def parse_billings_b(df: DataFrame) -> DataFrame:
    """Format B lines → (bill_date DATE, items ARRAY<STRUCT<cost,name>>).

    Cost-first parsing — the code is canonical over the reference's
    wrong comment (quirk Q11). Malformed items are dropped rather than
    surfacing NULLs or crashing: no-space items (where the reference's
    tokenizer would throw) fail the shape guard, and non-numeric cost
    tokens go through ``try_cast`` (a plain cast raises under the
    ANSI-mode sessions the driver uses) and are filtered on NULL cost.
    The token split runs once per item via a let-binding.
    """
    from bigdata1_spark.functions.hashing import let

    def item(x):
        return let(
            F.split(x, " "),
            lambda t: F.struct(
                F.element_at(t, 1).try_cast("double").alias("cost"),
                F.element_at(t, 2).alias("name"),
            ),
        )

    well_formed = lambda x: (  # noqa: E731
        (F.length(x) > 0) & (F.instr(x, " ") > 0)
    )
    return _split_line(df).select(
        "bill_date",
        F.filter(
            F.transform(
                F.filter(F.col("raw_items"), well_formed), item
            ),
            lambda s: s.getField("cost").isNotNull(),
        ).alias("items"),
    )


def total_per_month_b(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TotalPerMonth over Format-B costed billing text — the reference's
    cost-aggregation query (``BD_hw1/src/spark/TotalPerMonth.java:55-85``:
    flatMap 'COST NAME' items → reduceByKey sum per (item, month);
    cost-first parsing per quirk Q11, intended month semantics per Q10).

    No Format-B generator exists in the reference (SURVEY.md §1.1), so
    the costed text is constructed deterministically from the TPC-H
    tables (one line per order: unpadded date, then 'extendedprice
    pPARTKEY' per lineitem), round-tripped through ``parse_billings_b``
    + ``normalize``, and aggregated by ``basket.monthly_revenue``. The
    oracle computes the same aggregate directly from the source tables —
    equality holds because double→string→double round-trips exactly and
    the sums are decimal-exact. Columns: item, month, total.
    """
    # Format B has no NULL representation: a null date would render as
    # an unparseable date field (ANSI to_date then raises; found by the
    # .nulldata sweep) and a null cost would drop its field from
    # concat_ws. Rows that cannot round-trip are excluded from the
    # fixture — the oracle filters identically, so this is the key's
    # contract, not a data loss.
    li = tpch_lines(spark, sf_dir).filter(F.col("cost").isNotNull())
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderdate"
    ).filter(F.col("o_orderdate").isNotNull())
    items = li.join(orders, li.bill_id == orders.o_orderkey).select(
        "bill_id",
        "o_orderdate",
        F.concat_ws(
            " ",
            F.col("cost").cast("string"),
            F.concat(F.lit("p"), F.col("item")),
        ).alias("ci"),
    )
    lines = (
        items.groupBy("bill_id", "o_orderdate")
        .agg(F.collect_list("ci").alias("cis"))
        .select(render_line(F.col("o_orderdate"), F.col("cis")).alias("value"))
    )
    # Spread the rendered lines before the parse leg (footer-gated, the
    # dedup-verify pattern): line rows are small strings so AQE's
    # byte-based coalescing ran the whole split/to_date/try_cast/explode
    # round-trip in 3 tasks at sf0.1 (measured: 2.4 s of a 4.2 s wall —
    # guide §2.2's CPU/byte mismatch). The round-trip result is
    # partition-invariant: bill_id (the one partition-sensitive column,
    # from monotonically_increasing_id in normalize) is aggregated away
    # by this key's (item, month) rollup.
    lines = spread_if_starved(
        spark, lines, os.path.join(sf_dir, "lineitem.parquet")
    )
    norm = normalize(parse_billings_b(lines)).withColumn(
        "month", month_of(F.col("bill_date"))
    )
    return monthly_revenue(norm).withColumnRenamed("revenue", "total")


def normalize(parsed: DataFrame) -> DataFrame:
    """Exploded line-item view (FIXTURES.md §1), the basket kernels'
    input: (bill_id, bill_date, item, cost) — one row per item per
    billing. Costed (Format B) items are structs; Format A items are
    names with a NULL cost."""
    costed = isinstance(parsed.schema["items"].dataType.elementType, StructType)
    it = F.col("it")
    return parsed.withColumn(
        "bill_id", F.monotonically_increasing_id()
    ).select(
        "bill_id", "bill_date", F.explode("items").alias("it")
    ).select(
        "bill_id",
        "bill_date",
        (it.getField("name") if costed else it).alias("item"),
        (it.getField("cost") if costed else F.lit(None).cast("double"))
        .alias("cost"),
    )
