"""Micro-operators: one registered query per SURVEY.md §2 inventory row.

Each function is the smallest DataFrame plan that genuinely exercises the
operator (scan pushdown, projection, explode, array surgery, set ops,
sorts, limits, broadcast join...). Reference citations per function;
semantics are the *intended* ones from the quirks ledger (SURVEY.md §8).

Determinism: every query here has a total order or exact arithmetic so
the DuckDB oracle hash matches bit-for-bit (see registry docstring).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from bigdata1_spark.operators.basket import (
    basket_items, cents, dec4, disc_price, exact_sum, month_item_counts,
    orders_month, tpch_lines, tpch_month_lines,
)
from bigdata1_spark.sources.tables import load_table


# --- S1: scan with pushdown (BD_hw1/src/spark/TopFive.java:46) -----------

def scan_parquet(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Projected+filtered scan; filter and 3-column ReadSchema must reach
    the parquet reader (predicate pushdown + column pruning)."""
    return (
        load_table(spark, sf_dir, "lineitem")
        .filter(F.col("l_quantity") >= 30)
        .select("l_orderkey", "l_partkey", "l_quantity")
    )


# --- P1: field split (BD_hw1/src/spark/TopFive.java:64) ------------------

def project_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    toks = F.split(F.col("o_orderpriority"), "-")
    return load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        toks.getItem(0).alias("prio_code"),
        F.size(toks).cast("long").alias("n_tokens"),
    )


# --- P2: month truncation (BD_hw1/src/spark/TopFive.java:65-66) ----------

def project_month(spark: SparkSession, sf_dir: str) -> DataFrame:
    return orders_month(spark, sf_dir)


# --- P3: sub-split + cast (BD_hw1/src/spark/TotalPerMonth.java:69-74) ----

def project_cast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Splits the 'N-NAME' priority into a numeric code; floor() before
    the double→long cast because DuckDB CAST rounds while Spark truncates."""
    return load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        F.split(F.col("o_orderpriority"), "-").getItem(0)
        .cast("int").alias("prio_num"),
        F.floor(F.col("o_totalprice")).cast("long").alias("price_floor"),
    )


# --- P4: predicate filter (BD_hw1/src/spark/TopFive.java:62) -------------

def filter_predicate(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return li.filter(
        (F.col("l_returnflag") == "R")
        & (F.col("l_quantity") > 25)
        & (F.col("l_discount").between(0.02, 0.06))
    ).select("l_orderkey", "l_linenumber", "l_partkey", "l_quantity")


# --- P5: flatten billing → item rows (BD_hw1/src/spark/TopFive.java:59-73)

def explode_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Round-trips baskets through collect_set + explode — the reference's
    universal flatMap step, equivalent to DISTINCT (orderkey, item)."""
    return basket_items(tpch_lines(spark, sf_dir)).select(
        F.col("bill_id").alias("l_orderkey"), F.explode("items").alias("item")
    )


# --- P6: array surgery (BD_hw1/src/spark/Utils.java:146-158) -------------

def array_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sorted item array per order; drop-first mirrors removeOneItem
    (antecedent derivation)."""
    return basket_items(tpch_lines(spark, sf_dir)).select(
        F.col("bill_id").alias("l_orderkey"),
        F.size("items").cast("long").alias("n_items"),
        F.element_at("items", 1).alias("first_item"),
        F.array_join(
            F.slice(F.col("items"), 2, F.size("items")), ","
        ).alias("rest_csv"),
    )


# --- P7: rounding (BD_hw1/src/mapreduce/SupportAndConfidence.java:194) ---

def scalar_round(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Round via exact decimal arithmetic — rounding raw doubles is
    engine-dependent at representation boundaries (70160.80499999…
    rounds differently under HALF_UP on the decimal string vs the
    double), so both engines cast to DECIMAL first."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.select(
        "l_orderkey",
        "l_linenumber",
        cents(disc_price()).alias("net_price"),
        cents(dec4("l_discount") * 100).alias("discount_pct"),
    )


# --- P8: string concat (BD_hw1/src/mapreduce/TotalPerMonth.java:115-123) -

def scalar_concat(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return li.select(
        "l_orderkey",
        "l_linenumber",
        F.concat_ws(
            "|", F.col("l_returnflag"), F.col("l_linestatus"),
            F.col("l_partkey"),
        ).alias("tag"),
    )


# --- A1: count per (month, item) (BD_hw1/src/spark/TopFive.java:76-79) ---

def groupby_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    return month_item_counts(tpch_month_lines(spark, sf_dir))


# --- A4: global count (BD_hw1/src/spark/SupportAndConfidence.java:54-57) -

def global_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-row total-baskets count — replaces the reference's driver-side
    Accumulator round-trip with a plain aggregate."""
    return load_table(spark, sf_dir, "orders").agg(
        F.count(F.lit(1)).alias("total_baskets")
    )


# --- A5: group-and-collect (BD_hw1/src/spark/TopFive.java:91) ------------

def collect_list_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct items per month as a sorted CSV — the reference's
    groupByKey materialization, made deterministic via sort."""
    # distinct FIRST: collect_set + count_distinct in one agg would plan
    # a two-phase distinct aggregation (expand + double shuffle of raw
    # pairs); pre-distincting makes both a plain collect_list/count over
    # an already-unique stream (sf0.1: 4.4s -> ~2s)
    pairs = (
        tpch_month_lines(spark, sf_dir)
        .select("month", "item")
        .distinct()
    )
    return pairs.groupBy("month").agg(
        F.array_join(
            F.array_sort(F.collect_list("item")), ","
        ).alias("items_csv"),
        F.count(F.lit(1)).alias("n_items"),
    )


# --- O1: sort desc (BD_hw1/src/mapreduce/Utils.java:18-39) ---------------

def sort_desc(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.groupBy(F.col("l_partkey").alias("item"))
        .agg(F.count(F.lit(1)).alias("cnt"))
        .orderBy(F.desc("cnt"), F.asc("item"))
    )


# --- O3: chronological sort (BD_hw1/src/spark/Utils.java:170-185) --------

def sort_asc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue per month, ascending full 'yyyy-MM' key (fixes quirk Q4:
    reference sorts by month token only, ignoring year)."""
    return (
        tpch_month_lines(spark, sf_dir)
        .groupBy("month")
        .agg(exact_sum(F.col("cost"), "revenue"))
        .orderBy("month")
    )


# --- O4: ordered limit (SURVEY.md §2.4 O4 — absent in reference) ---------

def limit_n(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered limit (TakeOrderedAndProject physical op).

    ORDER BY covers ALL THREE projected columns: (l_orderkey,
    l_linenumber) alone is not a total order on this data (11,785
    duplicate pairs at sf0.01, 1.18M at sf1 — verified), so a LIMIT
    boundary inside a tie group could cut differently between engines.
    With the full projection in the sort key, any rows still tied are
    projection-identical, so every boundary choice yields the same
    result multiset and the value hash is engine-independent."""
    return (
        load_table(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_linenumber", "l_partkey")
        .orderBy("l_orderkey", "l_linenumber", "l_partkey")
        .limit(100)
    )


# --- J1: broadcast join (BD_hw1/src/spark/SupportAndConfidence.java:131-193)

def join_broadcast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue per brand — fact⋈dim with an explicit broadcast hint
    (dim stays broadcastable far past sf1)."""
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_extendedprice"
    )
    part = load_table(spark, sf_dir, "part").select("p_partkey", "p_brand")
    return (
        li.join(F.broadcast(part), F.col("l_partkey") == F.col("p_partkey"))
        .groupBy(F.col("p_brand").alias("brand"))
        .agg(
            exact_sum(F.col("l_extendedprice"), "revenue"),
            F.count(F.lit(1)).alias("n"),
        )
    )


# --- set ops (SURVEY.md §2.5 — one-liners with DuckDB oracles) -----------

def _flag_items(spark: SparkSession, sf_dir: str, flag: str) -> DataFrame:
    return (
        load_table(spark, sf_dir, "lineitem")
        .filter(F.col("l_returnflag") == flag)
        .select(F.col("l_partkey").alias("item"))
    )


def setop_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _flag_items(spark, sf_dir, "R").union(
        _flag_items(spark, sf_dir, "A")
    ).distinct()


def setop_intersect(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _flag_items(spark, sf_dir, "R").intersect(
        _flag_items(spark, sf_dir, "A")
    )


def setop_except(spark: SparkSession, sf_dir: str) -> DataFrame:
    # subtract == EXCEPT DISTINCT (exceptAll would keep multiplicity
    # leftovers, which is not ANSI EXCEPT semantics)
    return _flag_items(spark, sf_dir, "R").subtract(
        _flag_items(spark, sf_dir, "A")
    )


# --- scalar-function breadth (engine completeness; no reference analog
# beyond P7/P8 string surgery) ---------------------------------------------

def scalar_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON path extraction from the events ``props`` column (semi-
    structured payloads are first-class in a pipeline engine)."""
    return load_table(spark, sf_dir, "events").select(
        "event_id",
        F.get_json_object("props", "$.k").cast("long").alias("k"),
    )


def scalar_datetime(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Datetime function surface: year/quarter/month/day-of-week
    extraction, date arithmetic, month truncation. dow is normalized to
    Sunday=1 (Spark convention; the oracle shifts DuckDB's Sunday=0)."""
    d = F.col("o_orderdate")
    return load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        F.year(d).cast("long").alias("yr"),
        F.quarter(d).cast("long").alias("qtr"),
        F.dayofweek(d).cast("long").alias("dow"),
        F.date_format(F.date_add(d, 30), "yyyy-MM-dd").alias("due_date"),
        F.datediff(d, F.lit("1995-01-01").cast("date"))
        .cast("long").alias("days_since_epoch"),
        F.date_format(F.trunc(d, "month"), "yyyy-MM-dd").alias("month_start"),
    )


def scalar_string(spark: SparkSession, sf_dir: str) -> DataFrame:
    """String function surface: case, substring, regexp extraction,
    padding, replacement."""
    return load_table(spark, sf_dir, "part").select(
        "p_partkey",
        F.upper("p_name").alias("name_upper"),
        F.substring("p_name", 1, 5).alias("name_head"),
        F.regexp_extract("p_name", r"^(\w+)", 1).alias("first_word"),
        F.lpad(F.col("p_partkey").cast("string"), 8, "0").alias("key_padded"),
        F.replace(F.col("p_name"), F.lit(" "), F.lit("_")).alias("name_snake"),
    )


def setop_except_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXCEPT ALL — multiplicity-preserving difference (each occurrence
    on the right cancels one on the left)."""
    return _flag_items(spark, sf_dir, "R").exceptAll(
        _flag_items(spark, sf_dir, "A")
    )


def setop_intersect_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTERSECT ALL — multiplicity-preserving intersection."""
    return _flag_items(spark, sf_dir, "R").intersectAll(
        _flag_items(spark, sf_dir, "A")
    )


def posexplode_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Positional explode of the per-order sorted item array (ordinal
    UNNEST — the position column is what plain explode loses)."""
    return basket_items(tpch_lines(spark, sf_dir)).select(
        F.col("bill_id").alias("l_orderkey"),
        F.posexplode("items").alias("pos", "item"),
    ).select(
        "l_orderkey", (F.col("pos") + 1).cast("long").alias("pos"), "item"
    )


def map_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MAP-typed column surface: per-order item→quantity map built with
    map_from_entries, then unpacked with map_entries + explode (maps
    hash poorly across engines, so the registered output is the
    exploded entry view; construction/access is what's exercised)."""
    li = load_table(spark, sf_dir, "lineitem")
    per_item = li.groupBy("l_orderkey", "l_partkey").agg(
        exact_sum(F.col("l_quantity"), "qty")
    )
    as_map = per_item.groupBy("l_orderkey").agg(
        F.map_from_entries(
            F.array_sort(
                F.collect_list(F.struct(F.col("l_partkey"), F.col("qty")))
            )
        ).alias("item_qty")
    )
    return as_map.select(
        "l_orderkey",
        F.size("item_qty").cast("long").alias("n_items"),
        F.explode(F.map_entries("item_qty")).alias("e"),
    ).select(
        "l_orderkey", "n_items",
        F.col("e.key").alias("item"),
        F.col("e.value").alias("qty"),
    )


def join_cross(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit CROSS JOIN (small × small): every (region, nation) combo
    — cartesian products are only ever allowed dim × dim."""
    r = load_table(spark, sf_dir, "region").select("r_regionkey", "r_name")
    n = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    return r.crossJoin(n)


def unpivot_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wide→long reshape (UNPIVOT/melt): lineitem's four measure
    columns become (metric, value) rows keyed by (orderkey,
    linenumber).

    Uses the native ``DataFrame.unpivot`` — a zero-shuffle narrow
    transform (each input row emits 4 output rows in place; Catalyst
    plans an Expand node, the same machinery rollup/cube use). Values
    pass through unchanged, so there is no float arithmetic to drift.
    Columns: l_orderkey, l_linenumber, metric, value.
    """
    li = load_table(spark, sf_dir, "lineitem")
    return li.unpivot(
        ids=["l_orderkey", "l_linenumber"],
        values=["l_quantity", "l_extendedprice", "l_discount", "l_tax"],
        variableColumnName="metric",
        valueColumnName="value",
    )


def scalar_url(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL parsing surface (``parse_url``): host / path / query-param
    extraction — the first transform of any web-crawl curation pipeline.

    The testdata carries no URL column, so (the ``billing_total_b`` /
    ``pii_scrub`` construct→parse round-trip pattern) a canonical URL is
    built from customer columns, then decomposed with the JVM-side
    ``parse_url`` — the result columns must invert the construction
    exactly. Pure narrow map: zero shuffles, whole-stage codegen.
    Columns: c_custkey, host, path, seg.
    """
    cust = load_table(spark, sf_dir, "customer")
    url = F.concat(
        F.lit("https://mkt-"),
        F.lower(F.col("c_mktsegment")),
        F.lit(".example.com/customers/"),
        F.col("c_custkey").cast("string"),
        F.lit("?seg="),
        F.lower(F.col("c_mktsegment")),
        F.lit("&n="),
        F.col("c_nationkey").cast("string"),
    )
    with_url = cust.select("c_custkey", url.alias("url"))
    return with_url.select(
        "c_custkey",
        F.parse_url("url", F.lit("HOST")).alias("host"),
        F.parse_url("url", F.lit("PATH")).alias("path"),
        F.parse_url("url", F.lit("QUERY"), F.lit("seg")).alias("seg"),
    )


def scalar_variant(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark 4 VARIANT ingestion of the semi-structured ``props``
    payload — the open-schema path (parse once, bind types at read)
    next to ``scalar_json``'s string-path extraction and the closed
    ``from_json`` struct parse, all three on one key so a switching
    user sees the whole semi-structured menu.

    ``variant_get`` binds ``$.k`` as long at access time;
    ``schema_of_variant`` reports the inferred per-row shape (constant
    across this corpus, which the oracle pins literally); the
    ``from_json`` column proves the schema-declared parse agrees with
    the schema-free one. All three are JVM expressions — variant's
    binary encoding exists precisely so repeated access does NOT
    re-parse text. Columns: event_id, k, k_struct, vtype.
    """
    ev = load_table(spark, sf_dir, "events")
    return ev.select(
        "event_id",
        F.expr("variant_get(parse_json(props), '$.k', 'long')").alias("k"),
        F.from_json("props", "k long")["k"].alias("k_struct"),
        F.expr("schema_of_variant(parse_json(props))").alias("vtype"),
    )
