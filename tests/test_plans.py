"""Plan-shape assertions (SURVEY.md §5 item 4): the physical properties
that keep queries viable at 100 TB, checked at test scale."""

from __future__ import annotations

import re

import pytest
from pyspark.sql import functions as F

from bigdata1_spark.operators import basket, micro
from bigdata1_spark.plans import checks
from bigdata1_spark.streaming import events as se


def test_topk_window_plan(spark, sf_dir):
    df = basket.top5_per_month(spark, sf_dir)
    checks.assert_window_group_limit(df, "topk_window")
    checks.assert_max_exchanges(df, 3, "topk_window")


def test_scan_pushdown(spark, sf_dir):
    df = micro.scan_parquet(spark, sf_dir)
    checks.assert_pushed_filter(df, "GreaterThanOrEqual(l_quantity", "scan")
    checks.assert_read_schema_only(
        df, {"l_orderkey", "l_partkey", "l_quantity"}, "scan"
    )


def test_broadcast_dim_join(spark, sf_dir):
    df = micro.join_broadcast(spark, sf_dir)
    checks.assert_broadcast_join(df, "join_broadcast")
    checks.assert_max_exchanges(df, 1, "join_broadcast")


def test_assoc_rules_shuffle_budget(spark, sf_dir):
    """Reference S&C uses 2 shuffles + a driver round-trip; our plan may
    use a few more stages (distinct, basket grouping, pair counting) but
    must stay bounded and keep the antecedent join broadcast. Both rule
    directions come from one pair-count aggregate, so the pairs are
    exploded and counted once."""
    df = basket.assoc_rules(spark, sf_dir)
    checks.assert_broadcast_join(df, "assoc_rules")
    checks.assert_max_exchanges(df, 4, "assoc_rules")


def test_revenue_column_pruning(spark, sf_dir):
    df = basket.revenue_per_item_month(spark, sf_dir)
    checks.assert_read_schema_only(
        df,
        {"l_orderkey", "l_partkey", "l_extendedprice",
         "o_orderkey", "o_orderdate"},
        "groupby_sum",
    )


def test_runtime_filter_injection(spark, sf_dir):
    """runtime_filter_join's whole point is the injected bloom filter:
    with the confs set, the physical plan must carry bloom_filter_agg
    on the creation side and a might_contain probe filter above the
    fact scan — i.e. the fact side is pruned before its shuffle."""
    from bigdata1_spark.operators import relational
    from bigdata1_spark.session import scoped_conf

    with scoped_conf(spark, relational.RUNTIME_FILTER_CONFS):
        df = relational._runtime_filter_plan(spark, sf_dir)
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "bloom_filter_agg" in plan, "no bloom build in plan"
        assert "might_contain" in plan, "no bloom probe filter in plan"


def test_asof_join_single_shuffle(spark, sf_dir):
    """Both as-of directions' merged-timeline formulation must shuffle
    exactly once (on user_id) — a range self-join shape would blow up
    at scale, and a per-(user, ts) pre-aggregate of the purchases costs
    a second exchange the shared tie-break order makes unnecessary."""
    from bigdata1_spark.operators import temporal

    for key in ("asof_join", "asof_join_forward"):
        df = getattr(temporal, key)(spark, sf_dir)
        checks.assert_max_exchanges(df, 1, key)


def test_range_join_broadcasts_dim(spark, sf_dir):
    from bigdata1_spark.operators import temporal

    df = temporal.join_range(spark, sf_dir)
    checks.assert_broadcast_join(df, "join_range")


def test_salted_join_matches_plain(spark, sf_dir):
    """Replication-salted join must produce exactly the plain join's
    result multiset (checked via per-brand counts)."""
    from bigdata1_spark.plans.skew import salted_join
    from bigdata1_spark.sources.tables import load_table

    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey"
    )
    parts = load_table(spark, sf_dir, "part").select(
        F.col("p_partkey").alias("l_partkey"), "p_brand"
    )
    plain = {
        (r["p_brand"], r["n"])
        for r in li.join(parts, "l_partkey")
        .groupBy("p_brand").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    salted = {
        (r["p_brand"], r["n"])
        for r in salted_join(li, parts, "l_partkey")
        .groupBy("p_brand").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    assert salted == plain


def test_partitioned_write_prunes(spark, sf_dir, tmp_path):
    """Hive-style partitionBy layout + partition pruning: a month
    filter must reach the scan as a PartitionFilter touching one
    directory — the layout that turns a 100 TB scan into a 100 GB one."""
    from bigdata1_spark.operators.basket import month_of
    from bigdata1_spark.plans import checks
    from bigdata1_spark.sources.tables import load_table

    path = str(tmp_path / "orders_by_month")
    (load_table(spark, sf_dir, "orders")
     .withColumn("month", month_of(F.col("o_orderdate")))
     .write.partitionBy("month").parquet(path))
    back = spark.read.parquet(path).filter(F.col("month") == "1995-03")
    plan = checks.formatted_plan(back)
    assert "PartitionFilters" in plan and "1995-03" in plan
    n = back.count()
    assert 0 < n < load_table(spark, sf_dir, "orders").count()


def test_tpch_q5_broadcasts_dims(spark, sf_dir):
    """The 5-way join must broadcast supplier/nation/region (dim sides)
    rather than sort-merge them."""
    from bigdata1_spark.operators import tpch

    df = tpch.tpch_q5(spark, sf_dir)
    checks.assert_broadcast_join(df, "tpch_q5")


def test_tpch_q6_full_pushdown(spark, sf_dir):
    """Q6 is THE pushdown query: every predicate must reach the parquet
    reader and the scan must read only the 4 needed columns."""
    from bigdata1_spark.operators import tpch

    df = tpch.tpch_q6(spark, sf_dir)
    checks.assert_pushed_filter(df, "GreaterThanOrEqual(l_shipdate", "tpch_q6")
    checks.assert_pushed_filter(df, "LessThan(l_quantity", "tpch_q6")
    checks.assert_read_schema_only(
        df,
        {"l_shipdate", "l_discount", "l_quantity", "l_extendedprice"},
        "tpch_q6",
    )


def test_dedup_embedding_single_shuffle(spark, sf_dir):
    """LSH-bucket blocking must cost exactly one shuffle (hash by bucket
    into the grouped map) — the bucket key is computed scan-side, and no
    pair join ever materializes."""
    from bigdata1_spark.operators import dedup

    df = dedup.dedup_embedding(spark, sf_dir)
    checks.assert_max_exchanges(df, 1, "dedup_embedding")


def test_tpch_q4_semi_join_pushdown(spark, sf_dir):
    """Q4: the date range must reach the orders scan, the returnflag
    predicate the lineitem scan, and the EXISTS must plan as a semi
    join (no row multiplication)."""
    from bigdata1_spark.operators import tpch
    from bigdata1_spark.plans.checks import formatted_plan

    df = tpch.tpch_q4(spark, sf_dir)
    checks.assert_pushed_filter(df, "GreaterThanOrEqual(o_orderdate", "q4")
    checks.assert_pushed_filter(df, "EqualTo(l_returnflag,R)", "q4")
    assert "LeftSemi" in formatted_plan(df)


def test_tpch_q12_pushdown(spark, sf_dir):
    from bigdata1_spark.operators import tpch

    df = tpch.tpch_q12(spark, sf_dir)
    checks.assert_pushed_filter(df, "GreaterThanOrEqual(l_shipdate", "q12")
    checks.assert_read_schema_only(
        df,
        {"l_orderkey", "l_linestatus", "l_shipdate",
         "o_orderkey", "o_orderpriority"},
        "q12",
    )


def test_tpch_q3_take_ordered(spark, sf_dir):
    """Top-10 must plan as TakeOrderedAndProject (partial top-k per
    partition + merge), never a global sort."""
    from bigdata1_spark.operators import tpch
    from bigdata1_spark.plans.checks import formatted_plan

    plan = formatted_plan(tpch.tpch_q3(spark, sf_dir))
    assert "TakeOrderedAndProject" in plan


def test_tpch_q17_decorrelated_broadcast(spark, sf_dir):
    """The correlated scalar subquery must decorrelate into an
    aggregate-then-join: per-part thresholds are built once and joined
    back — no per-row re-execution. The brand-dim join must broadcast
    (hinted: the dim is bounded by vocabulary size at any scale). The
    threshold join is deliberately UNhinted — the planner broadcasts it
    below autoBroadcastJoinThreshold (asserted here at test scale) but
    may degrade to a shuffle join at 100 TB where |parts in brand|
    outgrows executor memory; a forced hint would OOM instead."""
    from bigdata1_spark.operators import tpch
    from bigdata1_spark.plans.checks import formatted_plan

    df = tpch.tpch_q17(spark, sf_dir)
    checks.assert_broadcast_join(df, "q17")
    plan = formatted_plan(df)
    assert plan.count("BroadcastHashJoin") >= 2, (
        "expected both the brand-dim join and the size-based threshold "
        "join to broadcast at test scale"
    )
    checks.assert_read_schema_only(
        df,
        {"l_partkey", "l_quantity", "l_extendedprice",
         "p_partkey", "p_brand"},
        "q17",
    )


def test_tpch_q13_preaggregates_orders(spark, sf_dir):
    """Order counts must be aggregated per custkey BEFORE the outer
    join (partial agg shrinks the shuffle to |custkeys| rows); the
    outer join itself must not multiply or drop customers."""
    from bigdata1_spark.operators import tpch
    from bigdata1_spark.plans.checks import formatted_plan

    df = tpch.tpch_q13(spark, sf_dir)
    plan = formatted_plan(df)
    # formatted explain prints the tree root-first, children below: the
    # per-custkey aggregate must appear UNDER the outer join (i.e. as an
    # input to it), not above it — mere co-presence isn't preaggregation.
    tree = plan.split("\n\n", 1)[0].splitlines()
    join_rows = [i for i, line in enumerate(tree) if "LeftOuter" in line]
    assert join_rows, "expected a left-outer join in the q13 plan"
    aggs_below = [line for line in tree[join_rows[0] + 1:]
                  if "HashAggregate" in line]
    assert aggs_below, (
        "expected the order-count HashAggregate below the outer join "
        "(preaggregated input), not after it"
    )
    # zero-order customers survive: total custdist == |customer|
    from bigdata1_spark.sources.tables import load_table

    n_cust = load_table(spark, sf_dir, "customer").count()
    total = sum(r.custdist for r in df.collect())
    assert total == n_cust, f"lost customers: {total} != {n_cust}"


def test_tpch_q10_take_ordered(spark, sf_dir):
    """Top-20 report must plan as TakeOrderedAndProject with the nation
    dim broadcast — a global sort of per-customer aggregates would be
    the scale bug."""
    from bigdata1_spark.operators import tpch
    from bigdata1_spark.plans.checks import formatted_plan

    df = tpch.tpch_q10(spark, sf_dir)
    plan = formatted_plan(df)
    assert "TakeOrderedAndProject" in plan
    checks.assert_broadcast_join(df, "q10")


def test_tpch_q19_residual_pushdown(spark, sf_dir):
    """The disjunction's common bounds must reach the scans: Catalyst
    pushes the l_quantity range into the lineitem parquet reader even
    though the full predicate references both sides of the join."""
    from bigdata1_spark.operators import tpch
    from bigdata1_spark.plans.checks import formatted_plan

    df = tpch.tpch_q19(spark, sf_dir)
    plan = formatted_plan(df)
    assert "PushedFilters" in plan
    # the extracted quantity bound appears as a pushed range filter
    assert "GreaterThanOrEqual(l_quantity,1" in plan.replace(" ", ""), (
        "common OR-arm bound on l_quantity was not pushed to the scan"
    )


def test_tpch_q15_single_fact_scan(spark, sf_dir):
    """The max-revenue comparison must consume the CACHED per-supplier
    aggregate on both references (no second lineitem scan) and must not
    use an unpartitioned window (single-partition data drag)."""
    from bigdata1_spark.operators import tpch
    from bigdata1_spark.plans.checks import formatted_plan

    result, per_supp = tpch._q15_lazy(spark, sf_dir)
    try:
        plan = formatted_plan(result)
        assert "Window" not in plan, "unpartitioned window is a scale bug"
        assert plan.count("InMemoryTableScan") >= 2, (
            "both the filter branch and the scalar-max branch must read "
            "the cached per-supplier aggregate"
        )
    finally:
        per_supp.unpersist()


def test_corpus_curation_plan_shapes(spark, sf_dir):
    """Curation family scale guards: contamination is an inverted-index
    gram join (never a doc×doc cartesian), mixture sampling is pure
    narrow ops (zero shuffles), repetition stays within its two
    bounded aggregation shuffles plus the doc_id join."""
    from bigdata1_spark.operators import corpus
    from bigdata1_spark.plans.checks import formatted_plan

    contam = corpus.contamination_ngrams(spark, sf_dir)
    assert "CartesianProduct" not in formatted_plan(contam)
    checks.assert_max_exchanges(contam, 4, "contamination_ngrams")

    checks.assert_max_exchanges(
        corpus.mixture_sample(spark, sf_dir), 0, "mixture_sample"
    )
    checks.assert_max_exchanges(
        corpus.repetition_metrics(spark, sf_dir), 3, "repetition_metrics"
    )


def test_knn_join_group_limit(spark, sf_dir):
    """The rank<=k predicate must rewrite to WindowGroupLimit (per-task
    k-heap per query) and the query side must broadcast — the corpus
    never shuffles for the join itself."""
    from bigdata1_spark.operators import similarity
    from bigdata1_spark.plans.checks import formatted_plan

    df = similarity.knn_join(spark, sf_dir)
    plan = formatted_plan(df)
    assert "WindowGroupLimit" in plan
    assert "Broadcast" in plan
    checks.assert_max_exchanges(df, 1, "knn_join")


def test_grouping_sets_single_shuffle(spark, sf_dir):
    """All three grouping sets must compute in one Expand + one
    aggregation shuffle — never one pass per set."""
    from bigdata1_spark.operators import relational
    from bigdata1_spark.plans.checks import formatted_plan

    df = relational.groupby_grouping_sets(spark, sf_dir)
    assert "Expand" in formatted_plan(df)
    checks.assert_max_exchanges(df, 1, "groupby_grouping_sets")


def test_scd2_single_shuffle(spark, sf_dir):
    """The whole SCD2 build — change flags, island ids, run aggregation,
    and the valid_to lead — must ride ONE user_id shuffle: every window
    partitions by user_id and the (user_id, island) groupBy is satisfied
    by the same clustering."""
    from bigdata1_spark.operators import temporal

    df = temporal.scd2_intervals(spark, sf_dir)
    checks.assert_max_exchanges(df, 1, "scd2_intervals")


def test_ewma_single_shuffle(spark, sf_dir):
    """The trailing-EWMA fold must cost exactly one exchange (the
    user_id window partitioning); the bounded frame keeps per-row state
    at `lookback` values — no self-join, no second shuffle."""
    from bigdata1_spark.operators import temporal

    df = temporal.ewma(spark, sf_dir)
    checks.assert_max_exchanges(df, 1, "ewma")


def test_anomaly_zscore_single_shuffle(spark, sf_dir):
    """Per-user stats ride the same user_id window partitioning as the
    rows they annotate — one exchange, no agg-then-join-back."""
    from bigdata1_spark.operators import temporal

    df = temporal.anomaly_zscore(spark, sf_dir)
    checks.assert_max_exchanges(df, 1, "anomaly_zscore")


def test_resample_interpolate_fills_gaps(spark, sf_dir):
    """Capped-gap contract (r14): each consecutive-observation pair
    with gap ≤ MAX_FILL_HOURS is densely filled (exactly gap-1
    interior rows), a wider gap is left empty (no interpolation across
    a staleness hole), and no value is NULL."""
    import pandas as pd
    from pyspark.sql import functions as F

    from bigdata1_spark.operators import temporal
    from bigdata1_spark.operators.temporal import MAX_FILL_HOURS

    out = temporal.resample_interpolate(spark, sf_dir).toPandas()
    assert not out["value"].isna().any()

    obs = (
        temporal._hourly_obs(spark, sf_dir)
        .select("user_id", "h", "gap_h")
        .toPandas()
    )
    # expected rows = one per observation + gap-1 interior rows per
    # in-cap gap (2 <= gap <= cap); out-of-cap gaps contribute nothing
    fill = obs["gap_h"].where(
        (obs["gap_h"] >= 2) & (obs["gap_h"] <= MAX_FILL_HOURS), 1
    )
    expected = int(fill.clip(lower=1).sum())
    assert len(out) == expected

    # every interpolated hour must be interior: its user has rows at
    # the previous and a later hour (never extrapolated past max obs)
    interp = out[out["interpolated"] == 1]
    hours = pd.to_datetime(out["hour"])
    per_user_max = hours.groupby(out["user_id"]).max()
    bad = interp[
        pd.to_datetime(interp["hour"])
        >= interp["user_id"].map(per_user_max)
    ]
    assert bad.empty, "interpolation extrapolated past the last obs"


def test_bm25_topk_no_global_sort(spark, sf_dir):
    """BM25's top-k must plan as TakeOrderedAndProject (partition heads
    + merge) and broadcast the query-bounded df table — a global sort
    of per-doc scores would be the 100 TB bottleneck."""
    from bigdata1_spark.operators import ir
    from bigdata1_spark.plans.checks import formatted_plan

    df = ir.bm25_search(spark, sf_dir)
    plan = formatted_plan(df)
    assert "TakeOrderedAndProject" in plan
    checks.assert_broadcast_join(df, "bm25_search")


def test_cooccur_pmi_topk_no_global_sort(spark, sf_dir):
    """PMI pairs come from array-local zipping and the top-n is
    TakeOrderedAndProject; no pair ever rides a cartesian join."""
    from bigdata1_spark.operators import ir
    from bigdata1_spark.plans.checks import formatted_plan

    plan = formatted_plan(ir.cooccur_pmi(spark, sf_dir))
    assert "TakeOrderedAndProject" in plan
    assert "CartesianProduct" not in plan


def test_tfidf_bounded_exchanges(spark, sf_dir):
    """TF-IDF: tf agg, df agg, df join-back, per-doc window — the
    pipeline must stay within a fixed exchange budget (no hidden
    re-shuffles of the exploded table)."""
    from bigdata1_spark.operators import ir

    df = ir.tfidf_topterms(spark, sf_dir)
    checks.assert_max_exchanges(df, 5, "tfidf_topterms")


def test_tpch_q21_semi_anti_shapes(spark, sf_dir):
    """Q21's EXISTS/NOT EXISTS must plan as one LeftSemi and one
    LeftAnti on the order key — never a row-multiplying inner join plus
    distinct, and never a per-row subquery."""
    from bigdata1_spark.operators import tpch
    from bigdata1_spark.plans.checks import formatted_plan

    plan = formatted_plan(tpch.tpch_q21(spark, sf_dir))
    assert "LeftSemi" in plan
    assert "LeftAnti" in plan
    checks.assert_broadcast_join(tpch.tpch_q21(spark, sf_dir), "q21")


def test_tpch_q2_windowed_argmin(spark, sf_dir):
    """Q2's correlated MIN decorrelates into a window over p_partkey —
    exactly one Window node, no aggregate-join round trip, dims
    broadcast."""
    from bigdata1_spark.operators import tpch
    from bigdata1_spark.plans.checks import formatted_plan

    df = tpch.tpch_q2(spark, sf_dir)
    plan = formatted_plan(df)
    assert plan.count("Window") >= 1
    assert "TakeOrderedAndProject" in plan
    checks.assert_broadcast_join(df, "q2")


def test_tpch_q16_anti_join_exclusion(spark, sf_dir):
    """Q16's NOT IN supplier exclusion must be a broadcast anti join
    (the excluded set is dim-sized)."""
    from bigdata1_spark.operators import tpch
    from bigdata1_spark.plans.checks import formatted_plan

    plan = formatted_plan(tpch.tpch_q16(spark, sf_dir))
    assert "LeftAnti" in plan and "Broadcast" in plan


def test_embedding_norms_no_shuffle(spark, sf_dir):
    """The norm pass is a pure map over the scan — zero exchanges."""
    from bigdata1_spark.operators import similarity

    df = similarity.embedding_norms(spark, sf_dir)
    checks.assert_max_exchanges(df, 0, "embedding_norms")


def test_centroid_single_shuffle(spark, sf_dir):
    """posexplode is array-local; the only exchange is the (label, dim)
    aggregate, and its integer SUM partial-aggregates map-side."""
    from bigdata1_spark.operators import similarity

    df = similarity.centroid_per_label(spark, sf_dir)
    checks.assert_max_exchanges(df, 1, "centroid_per_label")


def test_knn_classify_group_limit(spark, sf_dir):
    """The neighbor ranking must use WindowGroupLimit (per-query k-heap)
    like knn_join, with the query set broadcast."""
    from bigdata1_spark.operators import similarity

    df = similarity.knn_classify(spark, sf_dir)
    checks.assert_window_group_limit(df, "knn_classify")
    checks.assert_broadcast_join(df, "knn_classify")


def test_resample_interpolate_no_following_frame(spark, sf_dir):
    """Both fills must be RUNNING frames (forward fill = running last
    over a descending sort): Spark re-evaluates an unbounded-FOLLOWING
    frame from scratch per row — O(rows²) per partition, measured 8.6x
    slower on the sf0.1 grid."""
    from bigdata1_spark.operators import temporal
    from bigdata1_spark.plans.checks import formatted_plan

    plan = formatted_plan(temporal.resample_interpolate(spark, sf_dir))
    assert "unboundedfollowing" not in plan.lower()


def test_rollup_multires_single_pass(spark, sf_dir):
    """All three resolutions must come from ONE scan + ONE aggregation
    shuffle via Expand — never a scan-per-resolution union."""
    from bigdata1_spark.operators import event_analytics
    from bigdata1_spark.plans.checks import formatted_plan

    df = event_analytics.rollup_multires(spark, sf_dir)
    plan = formatted_plan(df)
    assert "Expand" in plan
    # node-detail headers "(n) Scan parquet" appear once per scan node
    scans = re.findall(r"\(\d+\) Scan parquet", plan)
    assert len(scans) == 1, f"must not rescan per resolution: {scans}"
    checks.assert_max_exchanges(df, 1, "rollup_multires")


def test_ntile_stats_no_row_level_global_window(spark, sf_dir):
    """The NTILE bucketing must ride the distinct-value table: the only
    Window node sits ABOVE the price groupBy (|distinct| rows), and no
    row-level data crosses a single-partition exchange."""
    from bigdata1_spark.operators import relational
    from bigdata1_spark.plans.checks import formatted_plan

    df = relational.ntile_stats(spark, sf_dir)
    plan = formatted_plan(df)
    assert "Window" in plan
    # the aggregate must appear below the window in the plan tree
    # (formatted output lists children first, so the groupBy's partial
    # aggregate node precedes the Window section header order check):
    assert "ntile" not in plan.lower()
    assert "BroadcastExchange" in plan  # 1-row total, never a shuffle join
    # the domain cumsum must be range-partitioned: every window ordered
    # by the price domain carries the _pid partition key; the only
    # unpartitioned window runs over the constant range-count table
    assert not re.search(r"windowspecdefinition\(p#\d+ ASC", plan), (
        "unpartitioned window over the price domain"
    )
    assert re.search(r"windowspecdefinition\(_pid#\d+, p#\d+ ASC", plan)


def test_pii_scrub_narrow_map(spark, sf_dir):
    """Redaction is a pure narrow map: zero exchanges end-to-end."""
    from bigdata1_spark.operators import text_analysis

    df = text_analysis.pii_scrub(spark, sf_dir)
    checks.assert_max_exchanges(df, 0, "pii_scrub")


def test_skyline_reduced_domain_window(spark, sf_dir):
    """The dominance window must run over the distinct-price table
    (aggregate below the window), and the frontier join-back must
    broadcast — row-level data never single-partitions."""
    from bigdata1_spark.operators import relational
    from bigdata1_spark.plans.checks import formatted_plan

    df = relational.skyline(spark, sf_dir)
    plan = formatted_plan(df)
    assert "Window" in plan
    assert "BroadcastHashJoin" in plan
    # aggregate (price domain reduction) feeds the window, not raw rows
    agg_pos = plan.find("HashAggregate")
    win_pos = plan.find("Window")
    assert agg_pos != -1 and win_pos != -1
    # running max over the price domain must be range-partitioned
    assert not re.search(
        r"windowspecdefinition\(p_retailprice#\d+ ASC", plan
    ), "unpartitioned window over the price domain"
    assert re.search(
        r"windowspecdefinition\(_pid#\d+, p_retailprice#\d+ ASC", plan
    )


def test_doc_chunking_zero_shuffle(spark, sf_dir):
    """Chunking is a pure narrow map over the scan — any Exchange in its
    plan means a 100 TB chunk pass would shuffle the whole corpus."""
    from bigdata1_spark.operators import corpus

    df = corpus.doc_chunking(spark, sf_dir)
    checks.assert_max_exchanges(df, 0, "doc_chunking")


def test_heavy_hitters_broadcast_total(spark, sf_dir):
    """The grand-total side is one row — it must come back to the
    vocabulary table as a broadcast, never a shuffle join."""
    from bigdata1_spark.operators import text_analysis

    df = text_analysis.heavy_hitters(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Broadcast" in plan, f"heavy_hitters total not broadcast:\n{plan}"


def test_fuzzy_join_no_cartesian(spark, sf_dir):
    """Blocked matching must plan as an equi-join on the blocking key —
    a cartesian/nested-loop pair generator is the quadratic failure."""
    from bigdata1_spark.operators import matching

    df = matching.fuzzy_join(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan, (
        f"fuzzy_join planned a cartesian product:\n{plan}"
    )


def test_zorder_range_partitioning(spark, sf_dir):
    """The layout pass must carry exactly one exchange: the range
    repartitioning on the z-value (the encode itself is narrow)."""
    from bigdata1_spark.operators import layout

    df = layout.zorder_cluster(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "rangepartitioning" in plan.lower(), (
        f"zorder_cluster missing range partitioning:\n{plan}"
    )
    checks.assert_max_exchanges(df, 1, "zorder_cluster")


def test_bucketed_join_zero_exchange_join(spark, sf_dir):
    """The key's whole point: both sides are bucketed on the join key
    with the same bucket count, so the sort-merge join must execute
    with NO exchange below it — the only exchange in the entire plan
    is the final per-month rollup's. A broadcast join sneaking in (toy
    sizes beat the merge hint) or a second exchange (bucketing info
    lost, e.g. a mismatched bucket count) voids the layout demo."""
    from bigdata1_spark.operators import layout

    df = layout.bucketed_join(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "SortMergeJoin" in plan, f"expected sort-merge join:\n{plan}"
    assert "BroadcastHashJoin" not in plan, (
        f"bucketed join degraded to broadcast:\n{plan}"
    )
    checks.assert_max_exchanges(df, 1, "bucketed_join")
    # the scans themselves must be the bucketed tables, 8 buckets each
    assert "bigdata1_bkt_lineitem" in plan and "bigdata1_bkt_orders" in plan


def test_global_enumerate_no_global_sort(spark, sf_dir):
    """The whole point: no single-partition WindowExec over row-level
    data. The only unpartitioned window may run on the 64-row bucket
    table; the row-level ranking must be partitioned by bucket."""
    from bigdata1_spark.operators.relational import global_enumerate

    df = global_enumerate(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    import re as _re

    for m in _re.finditer(r"Window \[[^\]]*\]", plan):
        frag = m.group(0)
        # row-level ranking carries the partitionBy bucket spec
        assert "bucket" in frag or "offset" in frag, frag


def test_ohlc_single_shuffle_no_window(spark, sf_dir):
    """OHLC via struct min/max must plan as ONE aggregation shuffle —
    any Window/Sort means the argmin fell off the aggregate path."""
    from bigdata1_spark.operators.temporal import ohlc_bars

    df = ohlc_bars(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Window" not in plan, plan
    checks.assert_max_exchanges(df, 1, "ohlc_bars")


def test_twa_single_shuffle(spark, sf_dir):
    """lead-window and final agg share the user_id partitioning."""
    from bigdata1_spark.operators.temporal import twa

    checks.assert_max_exchanges(twa(spark, sf_dir), 1, "twa")


def test_user_paths_one_window_operator(spark, sf_dir):
    """Both leads ride one Window operator on one ordering — two
    Window nodes would mean a second sort of the event stream."""
    from bigdata1_spark.operators.event_analytics import user_paths

    df = user_paths(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Window") == 1, plan


def _zipf_events(spark, n=500_000, hot_frac=19, n_keys=997):
    """Adversarial Zipf-ish fixture: ~95% of rows share key 0, the rest
    spread over ~1k keys — the measured skew the salting/AQE machinery
    exists to handle (VERDICT r07 item 7)."""
    return spark.range(n).select(
        F.when(
            F.pmod("id", F.lit(hot_frac + 1)) < hot_frac, F.lit(0)
        ).otherwise(F.pmod("id", F.lit(n_keys))).alias("k"),
        F.col("id").alias("payload"),
    )


def test_salting_balances_measured_skew(spark):
    """On a fixture with measured 95/5 skew, the salted shuffle must
    bound the hot key's share of any one reduce task: max per-task rows
    under (k, salt) partitioning must be at least 4x smaller than under
    plain (k) partitioning, where the hot key funnels ~95% of all rows
    onto one task. Partition balance — not wall-clock, which is noisy
    at toy scale — is the property that decides whether the job
    finishes at 100 TB."""
    from pyspark.sql.functions import spark_partition_id

    from bigdata1_spark.plans.skew import SALT_COL, salted_agg

    df = _zipf_events(spark)

    def max_task_rows(parted):
        return (
            parted.groupBy(spark_partition_id().alias("pid"))
            .count()
            .agg(F.max("count"))
            .first()[0]
        )

    plain_max = max_task_rows(df.repartition(8, "k"))
    # 64 salts over 8 tasks: enough (k, salt) combos per task that the
    # hash placement law-of-large-numbers smooths the balance (16 salts
    # leave it lumpy — a task drawing 6 of 16 combos still holds ~38%)
    salted = df.withColumn(
        SALT_COL, F.pmod(F.monotonically_increasing_id(), F.lit(64))
    )
    salted_max = max_task_rows(salted.repartition(8, "k", SALT_COL))
    assert plain_max >= int(0.9 * 0.95 * 500_000), (
        f"fixture lost its skew: hot task only {plain_max} rows"
    )
    assert salted_max * 4 <= plain_max, (
        f"salting did not balance the shuffle: {salted_max} vs {plain_max}"
    )

    # and the salted aggregation still equals the plain one on this
    # adversarial fixture (associativity under real skew)
    plain = {
        tuple(r)
        for r in df.groupBy("k")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("payload").alias("s"))
        .collect()
    }
    got = {
        tuple(r)
        for r in salted_agg(
            df,
            ["k"],
            {
                "n": (F.count(F.lit(1)), lambda c: F.sum(c).cast("long")),
                "s": (F.sum("payload"), lambda c: F.sum(c)),
            },
        ).collect()
    }
    assert got == plain


def test_aqe_skew_join_engages_on_hot_key(spark):
    """AQE's runtime skew-join split must actually ENGAGE on a
    measured-skew join (thresholds scaled to toy data size): the final
    adaptive plan shows SortMergeJoin(skew=true) with a skewed
    AQEShuffleRead — the runtime re-plan that keeps one 100 GB hot
    partition from stalling a 1000-executor stage."""
    saved = {
        k: spark.conf.get(k)
        for k in (
            "spark.sql.autoBroadcastJoinThreshold",
            "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
            "spark.sql.adaptive.advisoryPartitionSizeInBytes",
            "spark.sql.adaptive.skewJoin.skewedPartitionFactor",
            "spark.sql.adaptive.coalescePartitions.enabled",
        )
    }
    try:
        # no broadcast (forces a shuffle join both sides), thresholds
        # scaled down so the ~10 MB hot partition counts as skewed
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        spark.conf.set(
            "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
            "16KB",
        )
        spark.conf.set(
            "spark.sql.adaptive.advisoryPartitionSizeInBytes", "16KB"
        )
        spark.conf.set(
            "spark.sql.adaptive.skewJoin.skewedPartitionFactor", "1.0"
        )
        spark.conf.set(
            "spark.sql.adaptive.coalescePartitions.enabled", "false"
        )
        big = _zipf_events(spark)
        small = spark.range(997).select(
            F.col("id").alias("k"), (F.col("id") * 2).alias("v")
        )
        j = big.join(small, "k").select(
            F.sum(F.col("payload") + F.col("v")).alias("s")
        )
        (row,) = j.collect()  # execute: AQE re-plans at runtime
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "skew=true" in plan, f"AQE skew split did not engage:\n{plan}"
        assert "AQEShuffleRead skewed" in plan
        # cross-check the value against the unskewed-safe broadcast plan
        spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
        want = (
            big.join(F.broadcast(small), "k")
            .select(F.sum(F.col("payload") + F.col("v")).alias("s"))
            .first()[0]
        )
        assert row["s"] == want
    finally:
        for k, v in saved.items():
            spark.conf.set(k, v)


def _unique_scan_count(df) -> int:
    """Unique 'Scan parquet' nodes of the plan (the final plan once AQE
    has run; a cache's fill plan prints once)."""
    from bigdata1_spark.plans.checks import formatted_plan, plan_node_ids

    return len(plan_node_ids(formatted_plan(df), "Scan parquet"))


def test_dsir_sample_single_corpus_scan(spark, sf_dir):
    """dsir_sample's bucket-count frame fans out into BOTH corpus
    models and the per-doc score; without the cache the executed plan
    re-ran tokenize+explode over the documents parquet 3x (VERDICT
    r10/r11 weak item). The fixed plan reads documents ONCE."""
    from bigdata1_spark.operators import corpus

    assert _unique_scan_count(corpus.dsir_sample(spark, sf_dir)) <= 1


def test_unigram_logprob_single_corpus_scan(spark, sf_dir):
    """Same multi-consumer-lineage class as dsir_sample (VERDICT
    r10/r11 weak item 2): wc feeds corpus_model->tot, corpus_model->lp
    and per_doc — one documents scan after the cache."""
    from bigdata1_spark.operators import text_analysis

    assert _unique_scan_count(text_analysis.unigram_logprob(spark, sf_dir)) <= 1


# Per-key parquet-scan budget (VERDICT r11 task 3): the number of
# '(N) Scan parquet' nodes in each key's FINAL physical plan, pinned at
# the audited value so the multi-consumer-lineage defect class (a frame
# fanning out into consumers that each re-read the base parquet —
# dsir_sample/unigram_logprob in r10/r11, cooccur_pmi/sim_topk_ivf_pq/
# funnel_conversion/... fixed in r12) is mechanically gated. Cached
# subtrees plan as InMemoryTableScan; a cache's fill plan prints once,
# so a 2 often reads "one pass + one cache fill". Keys above 2 carry an
# inline adjudication. Streaming/generator keys read no parquet (0).
# A NEW key must be added here deliberately — unknown keys fail.
SCAN_BUDGETS = {
    "acf_lags": 1,
    "agg_distinct": 1,
    "agg_stats": 1,
    "anomaly_zscore": 1,
    "anova_f": 1,
    "approx_sketch": 2,
    "array_ops": 1,
    "arrow_map": 1,
    "asof_join": 1,  # one merged-timeline scan (temporal._asof)
    "asof_join_forward": 1,
    "assoc_rules": 1,
    "benford_digits": 1,
    "billing_total_b": 2,
    "bigram_logprob": 2,  # cached bigram counts + the separate vocab-size scan
    "bm25_search": 2,
    "bollinger_bands": 1,
    "bpe_merge_round": 0,
    "bpe_merge_round2": 0,
    "bpe_pair_counts": 1,
    "bucketed_join": 2,  # the two bucketed-table scans; base tables are read by the eager layout write, not the returned plan
    "cdc_apply": 1,
    "centroid_per_label": 1,
    "cogrouped_map": 2,
    "collect_list_agg": 2,
    "column_profile": 2,  # deliberate plain-stats + distinct split: one agg forced a 5x Expand over all 24 aggregates (2.6x slower measured)
    "classifier_eval": 3,  # truth scan + lang_id's tok + doc_id base scans
    "clustering_coefficient": 0,  # edges localCheckpoint-ed eagerly (the triangle_count pattern)
    "cohens_kappa": 3,  # truth scan + lang_id's tok + doc_id base scans
    "connected_components": 0,  # edges localCheckpoint-ed eagerly (the triangle_count pattern)
    "concurrency": 1,
    "contamination_ngrams": 2,
    "chi_square_assoc": 1,
    "conversion_lag": 1,
    "cooccur_pmi": 2,
    "corr_matrix": 1,
    "cramers_v": 1,
    "cumulative_distinct": 1,
    "decontaminate_apply": 3,  # source-pruned test/train splits of one table
    "dedup_apply": 2,
    "dedup_chunks": 1,
    "dedup_clusters": 0,
    "dedup_containment": 1,
    "dedup_embedding": 1,
    "dedup_embedding_multiprobe": 3,  # one linear pass per LSH table seed (documented recall dial)
    "dedup_exact": 1,
    # the 0s here pre-r14 were artifacts of cross-key cache reuse in the
    # sweep order (dedup_containment's session cache masked these keys'
    # own shingle scan); registry clear-on-entry exposes the honest 1
    "dedup_jaccard": 1,
    "dedup_near": 1,
    "dedup_near_apply": 1,
    "dedup_semantic": 1,
    "dedup_semantic_apply": 2,
    "dedup_simhash": 1,
    "doc_chunking": 1,
    "doc_entropy": 1,
    "domain_cap": 1,
    "drawdown": 1,
    "dpp_join": 0,
    "dq_expectations": 3,  # single agg pass + referential anti-join (lineitem x2) + orders
    "dsir_sample": 1,
    "embedding_norms": 1,
    "event_transitions": 1,
    "events_attribution_streamed": 0,
    "events_dedup_streamed": 0,
    "events_enrich_streamed": 0,
    "events_leftjoin_streamed": 0,
    "events_salted_agg_streamed": 0,
    "events_salted_join_streamed": 0,
    "events_session_streamed": 0,
    "events_sliding": 1,
    "events_sliding_streamed": 0,
    "events_stateful_sessions_streamed": 0,
    "events_upsert_streamed": 0,
    "events_user_counts_streamed": 0,
    "events_window": 1,
    "events_window_streamed": 0,
    "ewma": 1,
    "explode_items": 1,
    "filter_predicate": 1,
    "fingerprint": 1,
    "funnel_conversion": 4,  # 3 event_type-pruned stage scans + users distinct; stage aggs cached
    "geo_grid_join": 2,  # probe + broadcast build side
    "fuzzy_join": 4,  # dim-table fuzzy self-join (both sides + blocking branches)
    "gen_billings": 0,
    "gini_mad": 1,
    "global_count": 1,
    "global_enumerate": 2,
    "ann_recall": 1,  # embeddings cached; queries broadcast off the same cache
    "graph_assortativity": 0,  # edges localCheckpoint-ed eagerly (the triangle_count pattern)
    "graph_degree": 1,
    "groupby_count": 2,
    "groupby_cube": 1,
    "groupby_grouping_sets": 1,
    "groupby_median_mode": 2,
    "groupby_quantiles": 1,
    "groupby_rollup": 1,
    "groupby_sum": 2,
    "grouped_map_normalize": 1,
    "heavy_hitters": 2,
    "hhi_concentration": 2,
    "histogram": 2,
    "holt_winters": 1,
    "interval_coverage": 1,
    "interval_overlap_join": 2,
    "iqr_outliers": 1,
    "itemset_freq": 1,
    "ivm_delta_agg": 2,
    "join_anti": 2,
    "join_broadcast": 2,
    "join_cross": 2,
    "join_outer": 2,
    "join_range": 1,
    "join_self_pairs": 1,
    "join_semi": 2,
    "bfs_hops": 0,  # final plan reads round 2's localCheckpoint; round 3 is lazy (graph.iterate)
    "k_anonymity": 1,
    "kcore": 0,
    "kendall_tau": 1,
    "ks_test": 1,
    "label_prop": 0,  # reads the last round's localCheckpoint only (graph.iterate fixpoint mode)
    "knn_classify": 2,
    "knn_join": 2,
    "lang_id": 2,
    "link_prediction": 0,  # edges localCheckpoint-ed eagerly (the triangle_count pattern)
    "limit_n": 1,
    "linreg_trend": 1,
    "log_odds_words": 1,
    "lsh_probability": 1,  # exact + LSH legs share one cached shingle table
    "locf_fill": 1,  # r14 capped-gap rewrite: single shared hourly-obs scan
    "map_ops": 1,
    "mixture_sample": 1,
    "cusum_changepoint": 1,
    "mann_whitney": 1,
    "moments_profile": 1,
    "multimodal_join": 2,
    "mutual_knn": 1,
    "naive_bayes_lang": 2,  # token-count cache fill + the text-free doc->lang base scan (column-pruned)
    "mutual_info": 1,
    "multimodal_pipeline": 0,
    "ngram_freq": 1,
    "ngram_novelty": 1,
    "ntile_stats": 1,
    "observed_metrics": 0,
    "ohlc_bars": 1,
    "pagerank": 0,
    "pagerank_iter1": 0,
    "pandas_grouped_agg": 1,
    "pareto_share": 2,
    "pii_scrub": 1,
    "pipeline_pretraining": 0,
    "pivot_agg": 2,
    "posexplode_items": 1,
    "pq_encode": 2,
    "project_cast": 1,
    "project_month": 1,
    "project_split": 1,
    "psi_drift": 2,
    "robust_zscore": 1,
    "spearman_corr": 1,
    "python_datasource": 0,
    "python_datasink": 0,  # eager checkpoint after the sink round-trip
    "python_stream_source": 0,
    "quality_filters": 2,
    "quality_score": 1,
    "repetition_metrics": 2,
    "resample_interpolate": 1,  # r14 capped-gap rewrite: single scan
    "rfm_segmentation": 1,  # the cached per-user base's one fill scan; r16 dropped the three eager rank-pass checkpoints (21 jobs -> 1 lazy plan)
    "retention_cohorts": 2,
    "rsi": 1,
    "rollup_multires": 1,
    "rrf_fusion": 4,  # composition: bm25_search (2 documents scans) + sim_topk (2 embeddings scans)
    "runtime_filter_join": 0,
    "sample_exact_k": 1,
    "sample_split": 1,
    "sample_stratified": 1,
    "sample_weighted": 2,
    "scalar_concat": 1,
    "scalar_datetime": 1,
    "scalar_json": 1,
    "scalar_round": 1,
    "scalar_string": 1,
    "scalar_url": 1,
    "scalar_variant": 1,
    "scan_csv": 0,
    "scan_jsonl": 0,
    "scan_orc": 0,
    "scan_xml": 0,
    "scan_parquet": 1,
    "scan_partitioned": 0,
    "scd2_intervals": 1,
    "schema_evolution": 0,
    "seasonal_naive": 1,  # one hourly mean; the week lag is a range frame
    "session_window_fn": 1,
    "sessionize": 1,
    "setop_except": 2,
    "setop_except_all": 2,
    "setop_intersect": 2,
    "setop_intersect_all": 2,
    "setop_union": 2,
    "shard_pack": 1,
    "sim_topk": 2,
    "sim_topk_ivf": 3,  # corpus pass + codebook cache fill + pruned vec_id=0 query branch
    "sim_topk_ivf_multiprobe": 3,  # corpus pass + codebook cache fill + pruned probe branch (carries the query vector)
    "sim_topk_ivf_pq": 4,  # corpus + codebook fill + 2 pruned query branches (was 13 pre-cache)
    "sim_topk_lsh": 2,
    "burst_hours": 1,  # hourly table cached; both consumers read it
    "inter_event_gap_stats": 1,
    "iso_week_rollup": 1,
    "sketch_merge_rollup": 2,
    "skew_salted_agg": 1,
    "skew_salted_join": 2,
    "skyline": 1,
    "source_jaccard": 1,  # distinct (src, word) incidence cached; feeds sizes + both join sides
    "sort_asc": 2,
    "sort_desc": 1,
    "sql_api": 2,
    "sql_catalog": 0,
    "sql_lateral": 2,
    "sql_recursive": 0,  # the supplier scan lives inside the UnionLoop subtree, which the formatted plan does not expand
    "substring_dedup": 4,  # gram-index pass + original-text rejoin + 2 doc_id-pruned sides
    "table_diff": 3,  # snapshot B is fixture-derived from A twice; production diffs 2 real tables
    "text_normalize": 1,
    "text_stats": 1,
    "tfidf_topterms": 2,
    "theil_sen_trend": 1,
    "token_count": 1,
    "token_divergence": 1,
    "topk_window": 2,
    "tpch_q1": 1,
    "tpch_q10": 4,  # 4 base tables
    "tpch_q11": 2,
    "tpch_q12": 2,
    "tpch_q13": 2,
    "tpch_q14": 2,
    "tpch_q15": 0,
    "tpch_q16": 3,  # 3 base tables
    "tpch_q17": 4,  # part + lineitem self-avg subquery
    "tpch_q18": 3,  # lineitem IN-subquery + 2 tables
    "tpch_q19": 2,
    "tpch_q2": 5,  # 5 base tables
    "tpch_q20": 4,  # 4 tables incl. lineitem qty subquery
    "tpch_q21": 7,  # lineitem x3 (anti/semi self-joins) + orders x2 + 2 dims
    "tpch_q22": 3,  # customer self-avg subquery + orders
    "tpch_q3": 3,  # 3 base tables
    "tpch_q4": 2,
    "tpch_q5": 6,  # 6 base tables
    "tpch_q6": 1,
    "tpch_q7": 6,  # 5 tables + nation self-alias
    "tpch_q8": 7,  # 7 tables (nation aliased twice, one pruned away)
    "tpch_q9": 5,  # 5 tables + nation
    "transpose_stats": 0,
    "tz_hour_rollup": 1,
    "triangle_count": 0,
    "trimmed_mean": 1,
    "twa": 1,
    "udtf_analyze": 1,
    "udtf_tokens": 1,
    "unigram_logprob": 1,
    "unpivot_metrics": 1,
    "upsert_apply": 3,  # fixture derives changes from base (cached children); production reads a real CDC table
    "user_paths": 1,
    "user_rolling_features": 1,
    "vocab_encode": 2,
    "welch_ttest": 1,
    "window_first_last": 1,
    "window_lag": 2,
    "window_range_frame": 1,
    "window_rank": 2,
    "window_running_sum": 1,
    "winnow_fingerprint": 1,
    "zipf_fit": 1,
    "zorder_cluster": 1,
}


def audit_registry_plan(key: str, df) -> None:
    """The registry-wide plan floor, checked by
    ``tests/test_oracle_diff.py::test_query_matches_oracle`` on the
    frame it builds for every key, before collecting it — so one
    registry sweep carries the oracle diff, this audit and the scan
    budget.

    Audit: no CartesianProduct (join_cross is the one deliberate
    exception; broadcast-1-row scalars plan as BroadcastNestedLoopJoin,
    which is bounded and allowed) and no BatchEvalPython (row-at-a-time
    Python UDF — Arrow/Pandas eval nodes are the sanctioned Python
    path). Targeted tests pin per-key shapes; this pins the floor for
    keys no one wrote a targeted test for, including future ones.

    Scan budget: the plan must not read the base parquet more often
    than its audited ``SCAN_BUDGETS`` entry — the mechanical gate for
    the repeated-full-corpus-scan class. A violation means a frame fans
    out into multiple consumers without a cache (or a cache stopped
    matching, e.g. a union flattened through it — see upsert_apply).

    Streaming drains are exempt from the budget (ADVICE r12): calling
    those registry functions executes full availableNow queries
    (checkpoint dirs, foreachBatch sinks), and the post-drain
    localCheckpoint read's budget of 0 is trivially true and gates
    nothing. Their UNSTARTED source plans are gated instead by
    ``test_streaming_source_plan_budgets`` below (VERDICT r13 task 4),
    which enumerates exactly this exempt set — a rename/new drain must
    clear both lists."""
    allow_cartesian = {"join_cross"}
    # The UDTF keys deliberately plan BatchEvalPythonUDTF: the Arrow
    # UDTF path (useArrow=True -> ArrowEvalPythonUDTF) converts each
    # per-row eval() yield through pandas and measured 8-10x SLOWER on
    # these tiny-yield table functions (2.1 s -> 17-23 s at sf0.1,
    # A/B in-process both orders). Row-at-a-time applies to scalar
    # UDFs, where the rule stands unconditionally.
    allow_pickled_udtf = {"udtf_tokens", "udtf_analyze"}
    violations = []
    plan = df._jdf.queryExecution().executedPlan().toString()
    if "CartesianProduct" in plan and key not in allow_cartesian:
        violations.append(f"{key}: CartesianProduct in plan")
    # Check the scalar row-at-a-time case INDEPENDENTLY of the UDTF
    # case (an `elif` here let a scalar BatchEvalPython hide behind
    # a sanctioned UDTF node in the same plan — ADVICE r11).
    n_udtf = plan.count("BatchEvalPythonUDTF")
    n_scalar = plan.count("BatchEvalPython") - n_udtf
    if n_udtf and key not in allow_pickled_udtf:
        violations.append(f"{key}: pickled BatchEvalPythonUDTF")
    if n_scalar:
        violations.append(f"{key}: row-at-a-time BatchEvalPython")
    budget = SCAN_BUDGETS.get(key)
    if budget is None:
        violations.append(f"{key}: no scan budget — audit and add one")
    elif not (budget == 0 and (
        key.endswith("_streamed") or key == "python_stream_source"
    )):
        n = _unique_scan_count(df)
        if n > budget:
            violations.append(f"{key}: {n} parquet scans, budget {budget}")
    assert not violations, "\n".join(violations)


def test_every_query_has_a_scan_budget():
    """A NEW key must be added to SCAN_BUDGETS deliberately."""
    from bigdata1_spark import registry

    missing = sorted(set(registry.QUERIES) - set(SCAN_BUDGETS))
    assert not missing, "\n".join(
        f"{key}: no scan budget — audit and add one" for key in missing
    )


# The registry parameters beyond (spark, sf_dir) that a caller sets,
# each with the caller that needs it. Every harness calls a key as
# fn(spark, sf_dir), so any other parameter is a knob nothing can set.
_SET_BY_A_CALLER = {
    "pagerank.iters",  # pagerank_iter1 passes 1
    "dedup_jaccard.threshold",  # test_properties' threshold sweep
    # dedup_near, dedup_clusters and the pipelines pass a shared cache
    "dedup_jaccard.hashed_shingles",
}


def test_every_query_is_a_plain_query_fn():
    """Every registry operator takes exactly (spark, sf_dir); keywords
    bound by functools.partial (the scan_* keys) count as bound."""
    import functools
    import inspect

    from bigdata1_spark import registry

    extra, bad = set(), []
    for key, scoped in registry.QUERIES.items():
        fn = scoped.__wrapped__
        bound = fn.keywords if isinstance(fn, functools.partial) else {}
        names = [
            p for p in inspect.signature(fn).parameters if p not in bound
        ]
        if names[:2] != ["spark", "sf_dir"]:
            bad.append(f"{key}: {names}")
        extra.update(f"{key}.{p}" for p in names[2:])
    bad += sorted(extra - _SET_BY_A_CALLER)
    bad += [f"{p}: allowlisted but gone" for p in _SET_BY_A_CALLER - extra]
    assert not bad, "\n".join(bad)


@pytest.mark.parametrize("key", ["tpch_q1", "assoc_rules", "topk_window"])
def test_exchange_count_survives_an_action(spark, sf_dir, key):
    """count_exchanges reads the final plan once AQE has run, so a pin
    placed after an action still counts: one Exchange per shuffle stage
    that ran. AQE may drop a planned shuffle at run time (assoc_rules'
    single-partition cached input needs none); it adds none here."""
    from bigdata1_spark import registry

    df = registry.QUERIES[key].__wrapped__(spark, sf_dir)
    before = checks.count_exchanges(df)
    df.collect()
    after = checks.count_exchanges(df)
    plan = checks.formatted_plan(df)
    stages = len(checks.plan_node_ids(plan, "ShuffleQueryStage"))
    assert 1 <= after == stages <= before, (before, after, stages)


# --------------------------------------------------------------------------
# Streaming source-plan gate (VERDICT r13 task 4): the registry's
# 13 streaming drains are exempt from the batch scan budget above
# (their post-drain localCheckpoint read trivially scans 0 parquet),
# which gated nothing. Instead, gate the UNSTARTED streaming plan each
# drain actually starts — built by the same module-level builder the
# drain calls — without executing any drain: source count (a builder
# that silently doubled its file source would double checkpoint+state
# cost at scale), watermark count (the state-boundedness claim every
# drain's docstring makes), and batch-relation count (a streaming key
# must not sneak an unbudgeted batch scan into the incremental plan;
# events_enrich's static dim is the one audited exception).
# --------------------------------------------------------------------------

# key -> (builder(spark, stream_src, sf_dir), n_stream_sources,
#         n_watermarks, n_batch_relations, required_plan_node or None)
_STREAM_PLAN_BUDGETS = {
    "events_window_streamed": (
        lambda s, src, sf: se.window_stream(
            s, src, F.window("ts", se.WINDOW)
        ),
        1, 1, 0, None,
    ),
    "events_user_counts_streamed": (
        lambda s, src, sf: se.user_running_counts_stream(s, src),
        1, 0, 0, None,  # update-mode running agg: unbounded-key state by design
    ),
    "events_salted_agg_streamed": (
        lambda s, src, sf: se.salted_agg_stream(s, src),
        1, 0, 0, None,  # complete-mode partial agg; state = |keys| x n_salts
    ),
    "events_salted_join_streamed": (
        lambda s, src, sf: se.click_purchase_join_stream(
            s, src, n_salts=se.SALT_JOIN_N
        ),
        2, 2, 0, "Join Inner",
    ),
    "events_attribution_streamed": (
        lambda s, src, sf: se.click_purchase_join_stream(
            s, src, n_salts=1
        ),
        2, 2, 0, "Join Inner",
    ),
    "events_leftjoin_streamed": (
        lambda s, src, sf: se.click_purchase_join_stream(
            s, src, how="left_outer", n_salts=1, max_files_per_trigger=1
        ),
        2, 2, 0, "Join LeftOuter",
    ),
    "events_dedup_streamed": (
        lambda s, src, sf: se.dedup_stream(s, src),
        1, 1, 0, "DeduplicateWithinWatermark",
    ),
    "events_sliding_streamed": (
        lambda s, src, sf: se.window_stream(
            s, src, F.window("ts", se.SLIDE_DURATION, se.SLIDE_STEP)
        ),
        1, 1, 0, None,
    ),
    "events_upsert_streamed": (
        lambda s, src, sf: se.upsert_source_stream(s, src),
        1, 0, 0, None,  # stateless source; merge state lives in the sink versions
    ),
    "events_session_streamed": (
        lambda s, src, sf: se.session_window_stream(s, src),
        1, 1, 0, "session_window",
    ),
    "events_stateful_sessions_streamed": (
        lambda s, src, sf: se.sessionize_stream(s, src),
        1, 1, 0, "FlatMapGroupsInPandasWithState",
    ),
    "events_enrich_streamed": (
        lambda s, src, sf: se.enrich_stream(s, src, sf),
        1, 0, 1, "Join Inner",  # the static dim is the audited batch relation
    ),
    "python_stream_source": (
        None,  # special-cased below: custom Python source, one-node plan
        0, 0, 0, "pybillstream",
    ),
}


def test_streaming_source_plan_budgets(spark, sf_dir, tmp_path):
    """Every streaming registry key's UNSTARTED plan matches its audited
    shape — no drain executed. Enumerates exactly the keys the batch
    budget exempts, so a new drain can't slip past both gates."""
    import os
    import shutil

    from bigdata1_spark import registry
    from bigdata1_spark.sources import pydatasource

    exempt = {
        k
        for k in registry.QUERIES
        if k.endswith("_streamed") or k == "python_stream_source"
    }
    assert exempt == set(_STREAM_PLAN_BUDGETS), (
        "streaming keys and _STREAM_PLAN_BUDGETS diverged: "
        f"{sorted(exempt.symmetric_difference(_STREAM_PLAN_BUDGETS))}"
    )

    src = str(tmp_path / "stream_src")
    os.makedirs(src)
    shutil.copy(
        os.path.join(sf_dir, "events.parquet"),
        os.path.join(src, "events.parquet"),
    )

    violations = []
    for key, (build, n_src, n_wm, n_batch, node) in sorted(
        _STREAM_PLAN_BUDGETS.items()
    ):
        if build is None:
            spark.dataSource.register(pydatasource.BillingStreamSource)
            df = spark.readStream.format("pybillstream").load()
        else:
            df = build(spark, src, sf_dir)
        if not df.isStreaming:
            violations.append(f"{key}: builder returned a batch frame")
            continue
        plan = df._jdf.queryExecution().analyzed().toString()
        got_src = len(re.findall(r"StreamingRelation", plan))
        got_wm = len(re.findall(r"EventTimeWatermark", plan))
        got_batch = len(re.findall(r"^ *\+?-? ?Relation \[", plan, re.M))
        if (got_src, got_wm, got_batch) != (n_src, n_wm, n_batch):
            violations.append(
                f"{key}: (sources, watermarks, batch relations) = "
                f"({got_src}, {got_wm}, {got_batch}), "
                f"audited ({n_src}, {n_wm}, {n_batch})"
            )
        if node is not None and node not in plan:
            violations.append(f"{key}: required node {node!r} missing")
    assert not violations, "\n".join(violations)
