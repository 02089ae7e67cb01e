"""Keys that write a table through a sink and read it back: the four
self-describing formats (JSONL, CSV, XML, ORC), a Hive-partitioned
pruned read, schema evolution and dynamic partition pruning.

The reference reads only line-text and parquet (SURVEY.md §2.1 S1);
a complete engine also round-trips the formats pipelines exchange.
JSONL is the interchange format of LLM data pipelines, CSV the
lowest-common-denominator export a switching user brings along, XML
the format enterprise feeds still arrive in, ORC the remaining bundled
columnar format. Every read uses an explicit schema, never inference:
at 100 TB an inference pass is a full extra scan.

Every key here writes into :func:`~bigdata1_spark.sources.tables.scratch`'s
temp directory, which pins the result and removes the directory, and a
sink that may get no rows is judged by
:func:`~bigdata1_spark.sources.tables.has_data` alone, so a real read
error raises instead of reading back empty.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from bigdata1_spark.operators.basket import cents, dec4, month_of
from bigdata1_spark.sources.tables import has_data, load_table, scratch

# format → (writer options, reader options)
_FORMATS: dict[str, tuple[dict[str, str], dict[str, str]]] = {
    "json": ({}, {}),
    # multiLine: quoted fields may legally contain newlines; a
    # line-splitting read would silently mis-parse them if the
    # generator ever emits one (today's documents have none, but the
    # round-trip must not depend on that invariant)
    "csv": ({"header": "true"}, {"header": "true", "multiLine": "true"}),
    # Spark 4's native XML source: one <doc> element per row; the
    # writer escapes text content (&amp;/&lt;/newlines all round-trip)
    "xml": ({"rowTag": "doc"}, {"rowTag": "doc"}),
    # the predicate-pushdown-capable binary path next to the text
    # formats (avro ships as a separate package: out of scope)
    "orc": ({}, {}),
}


def scan_format(spark: SparkSession, sf_dir: str, fmt: str) -> DataFrame:
    """Documents → ``fmt`` sink → ``fmt`` source → per-language rollup.

    ``fmt`` is one of ``json``, ``csv``, ``xml`` or ``orc``. The write
    and the read are both parallel over shards; the rollup shuffles
    once on ``lang``. The distinct-md5 count pins payload equality
    through each format's quote/escape path, not just row counts.
    Columns: lang, n_docs, total_chars, n_texts.
    """
    docs = load_table(spark, sf_dir, "documents")
    write_opts, read_opts = _FORMATS[fmt]

    def build(work: str) -> DataFrame:
        path = os.path.join(work, f"docs_{fmt}")
        docs.write.mode("overwrite").format(fmt).options(**write_opts).save(
            path
        )
        back = (
            spark.read.schema(docs.schema)
            .format(fmt)
            .options(**read_opts)
            .load(path)
        )
        return back.groupBy("lang").agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").cast("long").alias("total_chars"),
            F.countDistinct(F.md5("text")).alias("n_texts"),
        )

    return scratch(f"bigdata1_{fmt}_", build)


def scan_partitioned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hive-style partitioned write + partition-PRUNED read: documents
    written ``partitionBy(lang)``, then one partition read back through
    a partition-column filter (:func:`_pruned_rollup`).
    Columns: source, n_docs, total_chars.
    """
    docs = load_table(spark, sf_dir, "documents")

    def build(work: str) -> DataFrame:
        path = os.path.join(work, "docs_part")
        docs.write.mode("overwrite").partitionBy("lang").parquet(path)
        return _pruned_rollup(spark, path)

    return scratch("bigdata1_part_", build)


def _pruned_rollup(spark: SparkSession, path: str) -> DataFrame:
    """Per-source rollup of the ``lang=fr`` partition of the tree at
    ``path``.

    The assert is structural, not just value-level: the scan node must
    carry the lang predicate as a PARTITION filter (pruning happened at
    planning time — at 100 TB this is the difference between listing
    one prefix and scanning the corpus), not a post-scan data filter.
    An empty source writes no partition directories, so the tree fails
    :func:`has_data` and reads back empty with the output schema.
    """
    if not has_data(path):
        return spark.createDataFrame(
            [], "source string, n_docs bigint, total_chars bigint"
        )
    back = spark.read.parquet(path).filter(F.col("lang") == "fr")
    plan = back._jdf.queryExecution().executedPlan().toString()
    # explicit raise (not bare assert): survives python -O, so the
    # structural scale guard cannot be silently stripped
    if not ("PartitionFilters" in plan and "fr" in plan):
        raise AssertionError(f"partition pruning missing from scan:\n{plan}")
    return back.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").cast("long").alias("total_chars"),
    )


def schema_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema-evolution read: two parquet generations of the documents
    table — v1 without ``n_chars``, v2 with it — unified by
    ``mergeSchema`` so old files surface the new column as NULL (the
    additive-column evolution every long-lived table goes through).

    The generation split is content-deterministic (doc_id parity), so
    the oracle can emulate it exactly; the rollup counts how many rows
    per language carry the evolved column. At 100 TB, mergeSchema's
    footer-union runs over file metadata only — the data itself is
    never rewritten, which is the entire point of additive evolution.
    Columns: lang, n_docs, n_with_chars, evolved_chars.
    """
    docs = load_table(spark, sf_dir, "documents")

    def build(work: str) -> DataFrame:
        path = os.path.join(work, "docs")
        docs.filter(F.col("doc_id") % 2 == 0).select(
            "doc_id", "lang", "source", "text"
        ).write.parquet(os.path.join(path, "gen=1"))
        docs.filter(F.col("doc_id") % 2 == 1).write.parquet(
            os.path.join(path, "gen=2")
        )
        back = spark.read.option("mergeSchema", "true").parquet(path)
        return back.groupBy("lang").agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.count("n_chars").alias("n_with_chars"),
            F.sum("n_chars").cast("long").alias("evolved_chars"),
        )

    return scratch("bigdata1_evolve_", build)


# two live campaign months + a decoy the dim filter removes: DPP only
# fires when the dim side carries a filter (otherwise the join would
# keep every partition and pruning has no benefit)
DPP_MONTHS = (
    ("1995-03", "spring95"),
    ("1995-04", "spring95b"),
    ("1996-01", "retired96"),
)


def dpp_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dynamic partition pruning: a month-partitioned fact joined to a
    small campaign dimension prunes its partitions AT RUNTIME from the
    dim's values — the optimizer surface that decides whether a
    100 TB star join reads two prefixes or the whole table (static
    pruning can't help: the surviving months are join results, not
    literals the planner sees).

    Orders are written ``partitionBy(month)``; the 2-row dim joins on
    the partition column. Spark reuses the dim's broadcast as an IN
    subquery filter inside the fact scan's PartitionFilters — the
    function asserts the ``dynamicpruning`` expression structurally,
    so a regression to a full scan fails the oracle run, not just a
    benchmark. An empty source writes no partition directories and
    reads back empty (:func:`has_data`).
    Columns: month, campaign, n_orders, total_price.
    """
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        dec4("o_totalprice").alias("price"),
        month_of(F.col("o_orderdate")).alias("month"),
    )
    dim = spark.createDataFrame(
        list(DPP_MONTHS), ["month", "campaign"]
    ).filter(F.col("campaign").startswith("spring"))

    def build(work: str) -> DataFrame:
        path = os.path.join(work, "orders_part")
        # cluster by the partition column before the partitioned write:
        # without it every one of the shuffle's map tasks opens a file
        # in every month directory (tasks × months tiny files — the
        # guide §6 small-files trap, ~2.5k files at sf0.1); repartition
        # makes each month's rows land in one task → one file per
        # month, and the downstream DPP-pruned read opens 2 files
        # instead of ~64
        orders.repartition("month").write.mode("overwrite").partitionBy(
            "month"
        ).parquet(path)
        if not has_data(path):
            return spark.createDataFrame(
                [],
                "month string, campaign string, n_orders bigint, "
                "total_price double",
            )
        joined = spark.read.parquet(path).join(F.broadcast(dim), "month")
        plan = joined._jdf.queryExecution().executedPlan().toString()
        # explicit raise (not bare assert): survives python -O
        if "dynamicpruning" not in plan:
            raise AssertionError(
                f"dynamic partition pruning missing from fact scan:\n{plan}"
            )
        return joined.groupBy("month", "campaign").agg(
            F.count(F.lit(1)).alias("n_orders"),
            cents(F.sum("price")).alias("total_price"),
        )

    return scratch("bigdata1_dpp_", build)
