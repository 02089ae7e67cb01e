"""Skew mitigation helpers — the 100 TB posture for hot keys.

Two complementary mechanisms:

* **AQE skew handling** (on by default in :mod:`bigdata1_spark.session`):
  splits oversized shuffle partitions at runtime for joins
  (``spark.sql.adaptive.skewJoin.enabled``).
* **Salting** (this module): for aggregations over power-law keys, AQE
  cannot split a single hot GROUP BY key across tasks — pre-splitting
  with a salt can. ``salted_agg`` runs the classic two-stage plan:
  partial aggregate on (key, salt), final aggregate on key. Both
  shuffles carry pre-aggregated rows, so the hot key's raw rows never
  converge on one task.

The same technique applies to joins (replicate the small side per salt);
broadcast joins (our default for dims) sidestep join skew entirely.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

SALT_COL = "__salt"

# Salt count of both helpers: a hot key's rows spread over this many
# tasks.
N_SALTS = 16


def salted_agg(
    df: DataFrame,
    keys: Sequence[str],
    aggs: dict[str, tuple[Column, Column]],
) -> DataFrame:
    """Two-stage skew-safe aggregation.

    ``aggs`` maps output column name -> (partial_agg_expr, merge_fn)
    where the partial expression runs per (keys, salt) and merge_fn is
    a CALLABLE receiving the partial's column and returning the
    combining aggregate per keys — e.g. a count is
    ``(F.count(F.lit(1)), lambda c: F.sum(c).cast("long"))``, a sum is
    ``(F.sum(c), lambda c: F.sum(c))``, a max is
    ``(F.max(c), lambda c: F.max(c))``. A callable is required because
    the partial lives under an internal mangled name the merge side
    cannot reference any other way.

    The salt is a deterministic spread (xxhash64 of an arbitrary wide
    column set modulo ``N_SALTS`` would also work;
    monotonically_increasing_id keeps it cheap and uniform within
    partitions).
    """
    for name, (_p, m) in aggs.items():
        if not callable(m):
            raise TypeError(
                f"salted_agg merge for {name!r} must be a callable "
                "taking the partial column (e.g. lambda c: F.sum(c))"
            )
    salted = df.withColumn(
        SALT_COL, F.pmod(F.monotonically_increasing_id(), F.lit(N_SALTS))
    )
    partial = salted.groupBy(*keys, SALT_COL).agg(
        *[p.alias(f"__p_{name}") for name, (p, _m) in aggs.items()]
    )
    return partial.groupBy(*keys).agg(
        *[
            m(F.col(f"__p_{name}")).alias(name)
            for name, (_p, m) in aggs.items()
        ]
    )


def salted_join(big: DataFrame, small: DataFrame, key: str) -> DataFrame:
    """Skew-safe inner equi-join by replication salting.

    The big side gets a deterministic salt; the small side is
    replicated once per salt value; the join runs on (key, salt), so a
    hot key's rows spread across ``N_SALTS`` tasks instead of piling on
    one. Cost: the small side shuffles ``N_SALTS``× — use only when it
    is too big to broadcast (broadcast sidesteps join skew entirely)
    and the big side's keys are power-law. AQE's skew-join handles most
    batch cases by splitting oversized partitions at runtime; explicit
    salting still matters for stream-stream/stateful joins and sorts
    that AQE cannot replan. Each big-side row matches exactly the small
    rows the unsalted inner join would give it, once each.
    """
    small_rep = small.select(
        "*",
        F.explode(F.sequence(F.lit(0), F.lit(N_SALTS - 1))).alias(SALT_COL),
    )
    big_salted = big.withColumn(
        SALT_COL, F.pmod(F.monotonically_increasing_id(), F.lit(N_SALTS))
    )
    return big_salted.join(small_rep, [key, SALT_COL]).drop(SALT_COL)


def skew_salted_join(spark, sf_dir: str) -> DataFrame:
    """Registry-facing replication-salted join: lineitem⋈supplier on
    l_suppkey through :func:`salted_join`, then revenue per nation.

    l_suppkey is the canonical hot join key under a power-law workload
    (in the Zipf-skewed bench twin one supplier owns ~18% of all
    lineitem rows — a plain shuffle join funnels those onto one task).
    The salted plan joins on (key, salt) so the hot key's rows spread
    across ``N_SALTS`` tasks; the small side is replicated once per salt.
    Join semantics equal the unsalted inner join, which is exactly what
    the plain-SQL oracle pins; revenue goes through decimal at the
    aggregate so re-association cannot drift the double. In production
    a broadcastable dim would sidestep this entirely — the salted path
    is for small sides past the broadcast threshold (and for the
    stateful/stream joins AQE cannot replan).
    Columns: nationkey, revenue, n_items.
    """
    from bigdata1_spark.operators.basket import exact_sum
    from bigdata1_spark.sources.tables import load_table

    li = load_table(spark, sf_dir, "lineitem").select(
        "l_suppkey", "l_extendedprice"
    )
    supp = load_table(spark, sf_dir, "supplier").select(
        F.col("s_suppkey").alias("l_suppkey"), "s_nationkey"
    )
    joined = salted_join(li, supp, "l_suppkey")
    return joined.groupBy(F.col("s_nationkey").alias("nationkey")).agg(
        exact_sum(F.col("l_extendedprice"), "revenue"),
        F.count(F.lit(1)).alias("n_items"),
    )


def skew_salted_agg(spark, sf_dir: str) -> DataFrame:
    """Registry-facing skew-safe aggregation over the hottest real key
    in the testdata: event_type has single-digit cardinality over
    millions of rows — the exact shape where a plain GROUP BY funnels
    each key's raw rows onto one task and AQE cannot split them.

    Runs the two-stage salted plan (partial on (key, salt), merge on
    key); the result equals the plain aggregation by associativity —
    which is precisely what the plain-SQL oracle pins. Value sums go
    through decimal at BOTH stages so re-association cannot drift the
    double. Columns: event_type, n_events, total_value.
    """
    from bigdata1_spark.operators.basket import dec4
    from bigdata1_spark.sources.tables import load_table

    ev = load_table(spark, sf_dir, "events")
    out = salted_agg(
        ev,
        ["event_type"],
        {
            "n_events": (
                F.count(F.lit(1)),
                lambda c: F.sum(c).cast("long"),
            ),
            "total_value": (
                F.sum(dec4("value")),
                lambda c: F.sum(c),
            ),
        },
    )
    return out.select(
        "event_type",
        "n_events",
        F.col("total_value").cast("double").alias("total_value"),
    )
