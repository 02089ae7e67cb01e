"""API-surface operators: SQL-text entry, Python UDTF, grouped-map
``applyInPandas``.

The reference exposes exactly one calling convention (a ``main()`` per
query); a complete engine exposes the DataFrame API (everything else in
``operators/``), the SQL API (temp views + ``spark.sql``), table
functions, and grouped-map pandas transforms. Each gets one
oracle-checked registry entry so the surface itself is under test.
"""

from __future__ import annotations

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from bigdata1_spark.functions.textfns import py_tokens
from bigdata1_spark.operators.basket import exact_sum
from bigdata1_spark.sources.tables import load_table


def sql_api(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pure SQL-text execution over registered temp views — proves the
    engine's SQL surface end-to-end (view registration, parsing,
    Catalyst planning of textual SQL)."""
    load_table(spark, sf_dir, "lineitem").createOrReplaceTempView("v_lineitem")
    load_table(spark, sf_dir, "orders").createOrReplaceTempView("v_orders")
    return spark.sql(
        """
        SELECT o.o_orderpriority AS priority,
               COUNT(DISTINCT o.o_orderkey) AS n_orders,
               CAST(SUM(CAST(l.l_quantity AS DECIMAL(18,4))) AS DOUBLE)
                 AS total_qty
        FROM v_lineitem l JOIN v_orders o ON l.l_orderkey = o.o_orderkey
        WHERE l.l_returnflag = 'R'
        GROUP BY o.o_orderpriority
        """
    )


def pandas_grouped_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped-aggregate pandas UDF — the remaining vectorized-UDF
    flavor after scalar (``fingerprint``), grouped-map
    (``grouped_map_normalize``), map-iter (``multimodal_pipeline``) and
    UDTF (``udtf_tokens``): a custom aggregate that Spark evaluates per
    group over Arrow batches, composable inside a normal ``groupBy``.

    The aggregate itself (revenue in integer cents) rounds each value
    to int64 BEFORE summing, so the result is order-free exact — the
    same decimal-not-double discipline as ``exact_sum``, proven here
    through the pandas path and pinned by a full DuckDB oracle. Like
    ``udtf_tokens`` this key exists to prove the API surface; the
    built-in decimal sum is the production path.
    Columns: l_returnflag, revenue_cents.
    """
    import numpy as np
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("long")
    def cents_sum(price: pd.Series) -> int:
        # dropna FIRST: NaN survives floor() and astype(int64) turns it
        # into an arbitrary huge integer (numpy invalid-cast), silently
        # poisoning the sum (.nulldata sweep); SQL SUM skips NULLs.
        return int(
            np.floor(price.dropna().to_numpy() * 100.0 + 0.5)
            .astype("int64")
            .sum()
        )

    li = load_table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        cents_sum("l_extendedprice").alias("revenue_cents")
    )


def sql_catalog(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Catalog/DDL round-trip — a switching user's first touch: register
    every table with ``CREATE OR REPLACE TEMPORARY VIEW ... USING
    parquet`` (textual DDL, not the DataFrame shortcut), discover them
    back through ``SHOW TABLES``, introspect each with ``DESCRIBE
    TABLE``, then ``DROP VIEW`` — proving create/list/describe/drop all
    work against the session catalog.

    The result is pure catalog metadata (one row per table: column
    count + names in ordinal position, straight from the DESCRIBE
    output rows), so the driver-side assembly is bounded by the number
    of TABLES, never the data — catalog ops are metadata ops at any
    scale. Oracle: DuckDB's ``information_schema.columns`` over the
    same pre-registered views. Columns: table_name, n_cols, cols_csv.
    """
    from bigdata1_spark.sources.tables import TABLES

    for t in TABLES:
        spark.sql(
            f"CREATE OR REPLACE TEMPORARY VIEW cat_{t} "
            f"USING parquet OPTIONS (path '{sf_dir}/{t}.parquet')"
        )
    shown = {
        r["tableName"]
        for r in spark.sql("SHOW TABLES").collect()
        if r["tableName"].startswith("cat_")
    }
    rows = []
    for t in sorted(TABLES):
        if f"cat_{t}" not in shown:  # explicit raise: survives python -O
            raise AssertionError(f"SHOW TABLES lost cat_{t}")
        # DESCRIBE on a simple view is a LocalRelation in column order
        cols = [r["col_name"] for r in spark.sql(f"DESCRIBE TABLE cat_{t}").collect()]
        rows.append((t, len(cols), ",".join(cols)))
        spark.sql(f"DROP VIEW cat_{t}")
    left = [
        r["tableName"]
        for r in spark.sql("SHOW TABLES").collect()
        if r["tableName"].startswith("cat_")
    ]
    if left:  # explicit raise: survives python -O
        raise AssertionError(f"DROP VIEW left {left} behind")
    return spark.createDataFrame(
        rows, schema="table_name string, n_cols bigint, cols_csv string"
    )


def udtf_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Python UDTF (table function): one row per '-'-token of the order
    priority with its ordinal — the lateral-view shape via the UDTF API.

    Deliberately NOT Arrow-vectorized: useArrow=True plans
    ArrowEvalPythonUDTF, which converts every per-row eval() yield
    through pandas and measured 8-10x SLOWER here (2.1 s -> 17-23 s at
    sf0.1, A/B in-process both orders) — per-row tiny-yield table
    functions are the one Python surface where the pickled path wins.
    The bulk path for the same shape is ``posexplode_items``.
    """
    from pyspark.sql.functions import lit, udtf

    @udtf(returnType="pos: bigint, token: string")
    class SplitTokens:
        def eval(self, key: int, text: str):  # noqa: ANN001
            # NULL text yields NO rows — str(None) would tokenize the
            # literal 'None' while SQL string_split(NULL)->unnest emits
            # nothing (found by the .nulldata sweep)
            if text is None:
                return
            for i, tok in enumerate(str(text).split("-")):
                yield i + 1, tok

    spark.udtf.register("split_tokens", SplitTokens)
    load_table(spark, sf_dir, "orders").createOrReplaceTempView("v_orders_u")
    return spark.sql(
        """
        SELECT o.o_orderkey, t.pos, t.token
        FROM v_orders_u o,
        LATERAL split_tokens(o.o_orderkey, o.o_orderpriority) t
        """
    )


def grouped_map_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped-map ``applyInPandas``: per-returnflag min-max
    normalization of quantities.

    The pandas function sees each group as one DataFrame (state that
    windowed SQL can also express — which is exactly why it is
    oracle-checkable: min/max are exact, the normalization is one IEEE
    division). Partition-local per group; at scale group count >>
    executor count keeps this balanced.
    """
    out_schema = (
        "l_orderkey bigint, l_linenumber bigint, l_returnflag string, "
        "qnorm double"
    )

    def normalize(pdf: pd.DataFrame) -> pd.DataFrame:
        q = pdf["l_quantity"]
        lo, hi = q.min(), q.max()
        span = hi - lo
        return pd.DataFrame(
            {
                "l_orderkey": pdf["l_orderkey"],
                "l_linenumber": pdf["l_linenumber"],
                "l_returnflag": pdf["l_returnflag"],
                "qnorm": (q - lo) / span if span > 0 else q * 0.0,
            }
        )

    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linenumber", "l_returnflag", "l_quantity"
    )
    return li.groupBy("l_returnflag").applyInPandas(normalize, out_schema)


def observed_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pipeline observability via ``DataFrame.observe``: named metrics
    (row count, integrity flags, value bounds, exact sums) computed as
    side outputs of a real pass over the data — the Spark-native
    replacement for a separate validation scan.

    At 100 TB this is the difference between one pass and two: the
    observation node piggybacks on whatever action materializes the
    frame (here a count), accumulating metrics executor-side with zero
    extra shuffle and zero extra scan. Only the final 1-row metric
    tuple reaches the driver. All metrics are deterministic aggregates
    (count/min/max/decimal-sum) as the Observation API requires.
    Columns: n_rows, n_neg_qty, min_price, max_price, total_price.
    """
    from pyspark.sql import Observation

    li = load_table(spark, sf_dir, "lineitem")
    obs = Observation("quality_gate")
    observed = li.observe(
        obs,
        F.count(F.lit(1)).alias("n_rows"),
        F.sum((F.col("l_quantity") < 0).cast("long")).alias("n_neg_qty"),
        F.min("l_extendedprice").alias("min_price"),
        F.max("l_extendedprice").alias("max_price"),
        exact_sum(F.col("l_extendedprice"), "total_price"),
    )
    observed.count()  # the action the metrics piggyback on
    # Emit the 1-row result as a pure-JVM plan: createDataFrame([tuple])
    # parallelizes even one row into defaultParallelism pickled slices
    # (measured: a 32-task job, 0.42 s — and coalesce(1) over it is
    # WORSE, 5 s of single-task multi-slice Python pulls; the 1-partition
    # range + literals plan is 0.08 s with no Python boundary at all —
    # guide §1.2/§4). Types are pinned by explicit casts, column order
    # by the select list.
    got = obs.get
    typed = [
        ("n_rows", "bigint"),
        ("n_neg_qty", "bigint"),
        ("min_price", "double"),
        ("max_price", "double"),
        ("total_price", "double"),
    ]
    return spark.range(0, 1, 1, 1).select(
        *[F.lit(got[c]).cast(t).alias(c) for c, t in typed]
    )


def cogrouped_map(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cogrouped-map pandas transform (``cogroup().applyInPandas``) —
    the last vectorized-UDF flavor: two DataFrames shuffled on the same
    key and handed to Python SIDE BY SIDE, for logic that needs both
    groups at once (reconciliation, interval alignment, custom joins).

    The cogroup key is a COARSE bucket (o_orderkey % 64), not the raw
    order key: grouped-map dispatches one Python call per key, so
    keying on the 1.5M raw orders would mean 1.5M Arrow round-trips —
    bucketing keeps it at 64 calls of vectorized pandas work, the same
    batch-not-row discipline as every other Python touchpoint
    (SCALE.md). Inside each bucket the reconciliation is pure pandas:
    per-order line counts + cent-exact totals, outer-merged against
    the order list so both orphan sides surface. Cents are int64
    (``round(price*100)`` — a 2-decimal value times 100 is within an
    ulp of an integer, so half-boundary cases cannot occur), keeping
    the output float-free. Columns: o_orderkey, n_lines, total_cents,
    has_order.
    """
    n_buckets = 64
    o = (
        load_table(spark, sf_dir, "orders")
        .select("o_orderkey")
        .withColumn("bucket", F.pmod("o_orderkey", F.lit(n_buckets)))
    )
    li = (
        load_table(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_extendedprice")
        .withColumn("bucket", F.pmod("l_orderkey", F.lit(n_buckets)))
    )

    def recon(opdf: pd.DataFrame, lpdf: pd.DataFrame) -> pd.DataFrame:
        # cents stays float until AFTER the aggregation: a NULL price is
        # NaN here, and astype(int64) on NaN raises (found by the
        # .nulldata sweep). size counts every line (SQL COUNT(*)); sum
        # skips NaN (SQL SUM skips NULL); cent-integers sum exactly in
        # doubles, so the post-agg int cast is lossless.
        lsum = (
            lpdf.assign(cents=(lpdf["l_extendedprice"] * 100).round())
            .groupby("l_orderkey")
            .agg(n_lines=("cents", "size"), total_cents=("cents", "sum"))
            .reset_index()
        )
        o_keys = (
            opdf[["o_orderkey"]].drop_duplicates().assign(has_order=1)
        )
        merged = pd.merge(
            o_keys,
            lsum,
            left_on="o_orderkey",
            right_on="l_orderkey",
            how="outer",
        )
        key = merged["o_orderkey"].where(
            merged["o_orderkey"].notna(), merged["l_orderkey"]
        )
        return pd.DataFrame(
            {
                "o_orderkey": key.astype("int64"),
                "n_lines": merged["n_lines"].fillna(0).astype("int64"),
                "total_cents": merged["total_cents"]
                .fillna(0)
                .astype("int64"),
                "has_order": merged["has_order"].fillna(0).astype("int64"),
            }
        )

    return (
        o.groupby("bucket")
        .cogroup(li.groupby("bucket"))
        .applyInPandas(
            recon,
            schema=(
                "o_orderkey bigint, n_lines bigint, "
                "total_cents bigint, has_order bigint"
            ),
        )
    )


def arrow_map(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``mapInArrow`` — the lowest-level vectorized-UDF flavor: the
    function sees raw Arrow RecordBatches (no pandas conversion at
    all), the right tool when the work is itself Arrow-native
    (pyarrow.compute kernels, zero-copy hand-offs to Arrow-based
    libraries).

    Per-document UTF-8 char and byte lengths via pyarrow.compute —
    columnar C++ kernels, never a Python loop — then a per-language
    rollup pinned by the oracle (DuckDB's length/strlen are the same
    definitions). Columns: lang, n, chars_sum, bytes_sum.
    """
    import pyarrow as pa
    import pyarrow.compute as pc

    def measure(batches):
        for batch in batches:
            yield pa.RecordBatch.from_arrays(
                [
                    batch.column("lang"),
                    pc.utf8_length(batch.column("text")),
                    pc.binary_length(batch.column("text")),
                ],
                names=["lang", "n_chars", "n_bytes"],
            )

    docs = load_table(spark, sf_dir, "documents").select("lang", "text")
    measured = docs.mapInArrow(
        measure, "lang string, n_chars int, n_bytes int"
    )
    return measured.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("n_chars").cast("long").alias("chars_sum"),
        F.sum("n_bytes").cast("long").alias("bytes_sum"),
    )


def transpose_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``DataFrame.transpose`` (Spark 4) — rows become columns with the
    first column supplying the new column names: a per-flag metrics
    table flips into a per-metric table with one column per flag, the
    report orientation dashboards want.

    Transpose requires the frame being flipped to be SMALL (its row
    count becomes the column count); here it is the 3-row per-flag
    aggregate, never raw data. Metric values go through decimal-exact
    sums first.

    The flag DOMAIN is pinned by a static 3-row frame the aggregate is
    right-joined onto (a 3x3 broadcast join): transpose derives the
    output SCHEMA from the data, so without the pin a zero-row input
    collapses the relation to a single ``key`` column (caught by the
    zero-row twin) and an unexpected/NULL flag would mint a surprise
    column. With it the schema is static — the same reason
    pivot_revenue passes explicit pivot values. Columns: key, A, N, R.
    """
    li = load_table(spark, sf_dir, "lineitem")
    flags = spark.createDataFrame(
        [("A",), ("N",), ("R",)], "l_returnflag string"
    )
    per_flag = flags.join(
        li.groupBy("l_returnflag").agg(
            exact_sum(F.col("l_extendedprice"), "revenue"),
            exact_sum(F.col("l_quantity"), "qty"),
        ),
        "l_returnflag",
        "left",
    )
    return per_flag.transpose().withColumnRenamed("key", "key")


def udtf_analyze(spark: SparkSession, sf_dir: str) -> DataFrame:
    """POLYMORPHIC Python UDTF (Spark 4): the output schema is computed
    at plan time by the ``analyze`` static method from a literal
    argument — here ``first_words(text, 2)`` emits w0, w1, n_words, and
    changing the literal re-shapes the relation without touching the
    class. This is the table-function counterpart of schema-on-read;
    ``udtf_tokens`` (fixed schema) covers the basic surface, this key
    covers the analyze-time one.

    Pickled-path like udtf_tokens (Arrow UDTF eval measured 8-10x
    slower for tiny per-row yields; the plan audit allowlists the two
    UDTF keys and pins BatchEvalPython out of everything else); the
    performant tokenizers live in text_analysis (all built-ins).
    Columns: doc_id, w0, w1, n_words.
    """
    from pyspark.sql.functions import udtf
    from pyspark.sql.types import (
        LongType,
        StringType,
        StructField,
        StructType,
    )
    from pyspark.sql.udtf import AnalyzeResult

    @udtf
    class FirstWords:
        @staticmethod
        def analyze(text, n):
            k = n.value
            return AnalyzeResult(
                StructType(
                    [
                        StructField(f"w{i}", StringType())
                        for i in range(k)
                    ]
                    + [StructField("n_words", LongType())]
                )
            )

        def eval(self, text, n):
            # the engines' tokens() contract: bare str.split() breaks on
            # UNICODE whitespace (NBSP, U+3000) that neither engine
            # splits on — found by the .unicodedata sweep
            words = py_tokens(text)
            head = [
                words[i] if i < len(words) else None for i in range(n)
            ]
            yield (*head, len(words))

    spark.udtf.register("first_words", FirstWords)
    load_table(spark, sf_dir, "documents").createOrReplaceTempView(
        "v_docs_udtf"
    )
    return spark.sql(
        """
        SELECT v.doc_id, t.w0, t.w1, t.n_words
        FROM v_docs_udtf v, LATERAL first_words(v.text, 2) t
        """
    )


def sql_recursive(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recursive CTE (``WITH RECURSIVE``, new in Spark 4) — iterative
    transitive closure expressed in pure SQL text, the surface that
    previously required a driver-side loop (``pagerank``/``kcore``
    style localCheckpoint iteration).

    Walks the implicit binary-tree hierarchy over supplier keys
    (parent(k) = floor(k/2), root 1) and rolls up per depth. The
    recursion is data-bounded at ~log2(|supplier|) rounds; Spark
    executes each round as one join against the previous frontier, so
    the plan is the same per-iteration shape the hand-rolled loops use
    — but planned and scheduled by the engine. Division semantics are
    pinned with explicit FLOOR because bare ``/`` differs across
    engines (Spark truncates on integer cast, DuckDB rounds).
    Columns: depth, n_nodes, min_key, max_key.
    """
    load_table(spark, sf_dir, "supplier").createOrReplaceTempView(
        "v_supplier"
    )
    return spark.sql(
        """
        WITH RECURSIVE tree(node, depth) AS (
          SELECT CAST(1 AS BIGINT) AS node, CAST(0 AS BIGINT) AS depth
          UNION ALL
          SELECT s.s_suppkey, t.depth + 1
          FROM tree t JOIN v_supplier s
            ON CAST(FLOOR(s.s_suppkey / 2.0) AS BIGINT) = t.node
               AND s.s_suppkey > 1
        )
        SELECT depth, COUNT(*) AS n_nodes,
               MIN(node) AS min_key, MAX(node) AS max_key
        FROM tree GROUP BY depth
        """
    )


def sql_lateral(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Parameterized SQL + LATERAL correlated subquery — the two
    modern SQL-surface features ``sql_api`` doesn't touch: named
    parameter binding (``spark.sql(..., args={...})``, the
    injection-safe path for templated queries) and a per-row
    correlated subquery with ORDER BY/LIMIT (top-2 customers per
    nation).

    Scale note: Catalyst DECORRELATES the lateral — the executed plan
    is a broadcast hash join plus ranking windows over the customer
    side (verified), never a per-nation re-execution of the subquery;
    LATERAL here is surface syntax over the same scale-safe plan
    ``topk_window`` writes by hand. Columns: n_name, c_name,
    c_acctbal.
    """
    load_table(spark, sf_dir, "nation").createOrReplaceTempView("v_nation")
    load_table(spark, sf_dir, "customer").createOrReplaceTempView(
        "v_customer"
    )
    return spark.sql(
        """
        SELECT n.n_name, t.c_name, t.c_acctbal
        FROM v_nation n
        JOIN LATERAL (
          SELECT c_name, c_acctbal FROM v_customer c
          WHERE c.c_nationkey = n.n_nationkey AND c.c_acctbal > :minbal
          ORDER BY c_acctbal DESC, c_name LIMIT 2
        ) t
        """,
        args={"minbal": 1000.0},
    )
