"""Product-analytics operators over the ``events`` table: funnel
conversion, session concurrency, retention cohorts.

No reference analog (SURVEY.md §1.2 — the reference has no event
semantics at all); these are the three queries every event-analytics
user runs first, expressed in the shapes that survive 100 TB:

* funnel — three aggregates chained on the SAME user_id key, so AQE
  reuses one exchange; no per-user iteration.
* concurrency — the sweep-line reformulated as per-session hour-range
  explosion + count (a global ordered sweep would serialize on one
  partition; the explode is linear in session-hours and shuffles once).
* retention — first-seen cohort join + distinct day counting, all
  exact integer/date arithmetic.

Every output column is an exact integer, date string, or sentinel —
no floats anywhere, so oracle hashes cannot drift.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from bigdata1_spark.operators.basket import (
    TS_FMT,
    day_num,
    exact_sum,
    fixed_point,
    month_of,
)
from bigdata1_spark.operators.temporal import session_windows, user_order
from bigdata1_spark.sources.tables import load_table

NO_TS = ""  # sentinel for "stage not reached" (NULL breaks hash parity)

FUNNEL_STAGES = ("signup", "click", "purchase")


def funnel_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered funnel signup → click → purchase per user: each stage
    counts only events strictly after the previous stage's first hit.

    Three min-aggregates on user_id with two join-backs — all keyed on
    user_id, so the plan is one logical partitioning reused (no
    re-shuffle of events between stages beyond the per-stage filters).
    Columns: user_id, stage_reached (0–3), t_signup, t_click,
    t_purchase (sentinel '' where unreached).
    """
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "event_type", "ts"
    )
    # t1/t2 each feed the NEXT stage and the final join-back; aliased
    # lineage defeats exchange reuse, so uncached the plan re-read (and
    # re-aggregated) the signup branch 3x and the click branch 2x —
    # 7 events scans total (the dsir_sample lineage class). Cached,
    # each stage is one pruned scan; the caches hold one row per
    # converting user, far smaller than the event log.
    t1 = (
        ev.filter(F.col("event_type") == FUNNEL_STAGES[0])
        .groupBy("user_id")
        .agg(F.min("ts").alias("t1"))
        .cache()
    )
    t2 = (
        ev.filter(F.col("event_type") == FUNNEL_STAGES[1])
        .join(t1, "user_id")
        .filter(F.col("ts") > F.col("t1"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t2"))
        .cache()
    )
    t3 = (
        ev.filter(F.col("event_type") == FUNNEL_STAGES[2])
        .join(t2, "user_id")
        .filter(F.col("ts") > F.col("t2"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t3"))
    )
    users = ev.select("user_id").distinct()
    stage = (
        F.when(F.col("t3").isNotNull(), F.lit(3))
        .when(F.col("t2").isNotNull(), F.lit(2))
        .when(F.col("t1").isNotNull(), F.lit(1))
        .otherwise(F.lit(0))
    )
    fmt = lambda c: F.coalesce(F.date_format(c, TS_FMT), F.lit(NO_TS))  # noqa: E731
    return (
        users.join(t1, "user_id", "left")
        .join(t2, "user_id", "left")
        .join(t3, "user_id", "left")
        .select(
            "user_id",
            stage.cast("long").alias("stage_reached"),
            fmt("t1").alias("t_signup"),
            fmt("t2").alias("t_click"),
            fmt("t3").alias("t_purchase"),
        )
    )


def concurrency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Active sessions per hour: how many (user) sessions — as defined
    by the registry's ``sessionize`` (30-minute gap) — overlap each
    hour bucket.

    Scale shape: the naive sweep line (sort ALL boundaries globally,
    running sum) serializes on one partition; instead each session
    explodes to the hour buckets it overlaps (sessions are gap-bounded,
    so the per-session range is short) and a single count shuffle
    aggregates. Columns: hour, active_sessions.
    """
    from bigdata1_spark.operators.relational import sessionize

    sessions = sessionize(spark, sf_dir).select(
        F.to_timestamp("session_start").alias("s"),
        F.to_timestamp("session_end").alias("e"),
    )
    hours = sessions.select(
        F.explode(
            F.sequence(
                F.date_trunc("hour", "s"),
                F.date_trunc("hour", "e"),
                F.expr("INTERVAL 1 HOUR"),
            )
        ).alias("h")
    )
    return (
        hours.groupBy(F.date_format("h", "yyyy-MM-dd HH:00:00").alias("hour"))
        .agg(F.count(F.lit(1)).alias("active_sessions"))
    )


def retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classic retention triangle: users grouped by first-seen day
    (cohort), counted by distinct active day offset.

    Two aggregates on user_id (first-seen, then distinct (user, day))
    and one join-back on the same key; the final (cohort, offset)
    count distinct is over users — exact integers end-to-end.
    Columns: cohort, day_offset, n_users.
    """
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", F.to_date("ts").alias("day")
    )
    first_seen = ev.groupBy("user_id").agg(F.min("day").alias("cohort"))
    active = ev.distinct()
    return (
        active.join(first_seen, "user_id")
        .groupBy(
            F.date_format("cohort", "yyyy-MM-dd").alias("cohort"),
            F.datediff(F.col("day"), F.col("cohort")).alias("day_offset"),
        )
        .agg(F.countDistinct("user_id").alias("n_users"))
    )


def cumulative_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cumulative distinct users per day — the growth-curve query
    (distinct-count over an ever-expanding window), reformulated so no
    window ever sees row-level data: a naive
    ``COUNT(DISTINCT) OVER (ORDER BY day)`` re-scans every prefix.

    Each user contributes exactly once, at their first-seen day, so the
    cumulative distinct count is the running SUM of first-seen counts:
    one agg on user_id, one agg on day, one cumulative window over the
    DAY table — whose size is bounded by the calendar (decades of
    retention ≈ 10⁴ rows), so the unpartitioned ordered window is
    constant-bounded, not data-bounded (the distinction
    ``ntile_stats``/``skyline`` had to engineer around).
    Columns: day, n_new, n_cum.
    """
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events").select(
        "user_id", F.to_date("ts").alias("day")
    )
    first_seen = ev.groupBy("user_id").agg(F.min("day").alias("day"))
    per_day = first_seen.groupBy("day").agg(
        F.count(F.lit(1)).alias("n_new")
    )
    w = Window.orderBy("day").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    return per_day.select(
        F.date_format("day", "yyyy-MM-dd").alias("day"),
        "n_new",
        F.sum("n_new").over(w).alias("n_cum"),
    )


def session_window_native(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sessionization via Spark's NATIVE ``session_window`` aggregation —
    the API-surface twin of the gaps-and-islands ``sessionize``
    (relational.py): same logical result, but expressed as a single
    groupBy on a merging session window instead of lag→flag→cumsum.

    Semantics note pinned by the oracle: ``session_window`` treats a
    window as [t, t+gap) with an EXCLUSIVE end, so an event arriving at
    exactly gap minutes starts a NEW session (``>=`` in the oracle),
    whereas ``sessionize``'s ``>`` keeps it — the one boundary where the
    two APIs differ.

    Scale shape: one shuffle on user_id; session merging happens inside
    the aggregation operator (no windowed sort over the whole corpus).
    The body is ``temporal.session_windows``, which the streaming twin
    ``events_session_streamed`` runs too.
    Columns: user_id, session_start, session_end, n_events.
    """
    return session_windows(load_table(spark, sf_dir, "events"))


def event_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix over per-user event
    sequences: for each (from_type → to_type) adjacent pair, its count
    and conditional probability P(to | from).

    The sequence pairing is a single ``lead`` window per user (one
    shuffle on user_id, the same partitioning every other per-user
    operator here uses); the transition table itself is
    |event_types|² rows, so the normalizing per-from_type sum is a
    window over a constant-bounded frame, never over row-level data.
    prob is one IEEE division of two exact integer counts — identical
    in both engines. Columns: from_type, to_type, cnt, prob.
    """
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "event_id", "ts", "event_type"
    )
    w = user_order()
    pairs = ev.select(
        F.col("event_type").alias("from_type"),
        F.lead("event_type").over(w).alias("to_type"),
    ).filter(F.col("to_type").isNotNull())
    counts = pairs.groupBy("from_type", "to_type").agg(
        F.count(F.lit(1)).alias("cnt")
    )
    tot = Window.partitionBy("from_type")
    return counts.select(
        "from_type",
        "to_type",
        "cnt",
        (
            F.col("cnt").cast("double")
            / F.sum("cnt").over(tot).cast("double")
        ).alias("prob"),
    )


def rollup_multires(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hypertable-style multi-resolution rollup: event counts and value
    sums at 1-minute, 1-hour, and 1-day granularity in ONE pass.

    The naive form is three scans + three shuffles (one GROUP BY per
    resolution). Here the hierarchy (day ⊃ hour ⊃ minute) is expressed
    as ``rollup(day, hour, minute)``: Catalyst plans a single Expand
    (each row emits one tuple per grouping set) feeding ONE partial+
    final hash aggregate — one scan, one shuffle, for all three
    resolutions. This is exactly how continuous-aggregate/hypertable
    systems maintain their downsample ladder, and the shape scales
    linearly: Expand is narrow (no repartition), and the aggregate
    keyspace is bounded by minutes-in-retention × event cardinality.

    Value sums go through decimal so partial-aggregation order cannot
    drift the result (see ``basket.exact_sum``).
    Columns: resolution ('1d'|'1h'|'1m'), bucket, n_events, total_value.
    """
    ev = load_table(spark, sf_dir, "events").select(
        F.date_trunc("day", "ts").alias("d"),
        F.date_trunc("hour", "ts").alias("h"),
        F.date_trunc("minute", "ts").alias("m"),
        "value",
    )
    gid = F.grouping_id()
    return (
        ev.rollup("d", "h", "m")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            exact_sum(F.col("value"), "total_value"),
            gid.alias("_gid"),
        )
        .filter(F.col("_gid") != 7)  # drop the grand-total grouping set
        .select(
            F.when(F.col("_gid") == 3, F.lit("1d"))
            .when(F.col("_gid") == 1, F.lit("1h"))
            .otherwise(F.lit("1m"))
            .alias("resolution"),
            F.date_format(
                F.coalesce("m", "h", "d"), "yyyy-MM-dd HH:mm:ss"
            ).alias("bucket"),
            "n_events",
            "total_value",
        )
    )


PATH_TOP_N = 20


def user_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top event-type PATHS of length 3 (the 2nd-order sequence model
    next to ``event_transitions``'s 1st-order matrix): for every
    consecutive (a → b → c) triple in a user's timeline, corpus-wide
    frequency, top-N tie-broken.

    Two lead windows on the SAME (user_id, ts, event_id) ordering —
    Catalyst plans one Window operator, one shuffle; the path table
    aggregates map-side to ≤ |types|³ rows before its shuffle.
    Columns: path, cnt.
    """
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "event_id", "ts", "event_type"
    )
    w = user_order()
    triples = ev.select(
        F.col("event_type").alias("a"),
        F.lead("event_type", 1).over(w).alias("b"),
        F.lead("event_type", 2).over(w).alias("c"),
    ).filter(F.col("c").isNotNull())
    return (
        triples.select(
            # F.concat null-propagates like SQL ||: a triple containing
            # a NULL event_type is the NULL path (one group), not a
            # silently-shortened 2-step path (concat_ws; .nulldata
            # sweep). NULLS LAST pinned on the tie-break because the
            # engines' ASC defaults disagree.
            F.concat(
                F.col("a"), F.lit(">"), F.col("b"), F.lit(">"), F.col("c")
            ).alias("path")
        )
        .groupBy("path")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .orderBy(F.desc("cnt"), F.asc_nulls_last("path"))
        .limit(PATH_TOP_N)
    )


def sketch_merge_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGEABLE-sketch rollup (DataSketches HLL): per-day distinct-user
    sketches unioned up to months — the property that makes 100 TB
    rollup ladders incremental. Exact distinct counts cannot roll up
    (daily exact distincts don't sum to monthly); fixed-size sketch
    STATES do, so a precomputed daily layer answers any coarser window
    by union, never by rescanning events.

    Both layers are materialized here (day sketches → month union) and
    the checkable contract follows approx_sketch's pattern: the output
    carries the EXACT monthly distinct count (recomputed, oracle-
    reproducible) plus a boolean pinning the sketch estimate within
    ±5% of it (loose vs the configured log2K=12 guarantee of ~1.6%, so
    it never flakes; tight enough to catch a broken union).
    Columns: month, exact_users, est_in_5pct.
    """
    ev = load_table(spark, sf_dir, "events").select(
        F.date_format("ts", "yyyy-MM-dd").alias("day"),
        month_of(F.col("ts")).alias("month"),
        "user_id",
    )
    daily = ev.groupBy("month", "day").agg(
        F.expr("hll_sketch_agg(user_id, 12)").alias("sk")
    )
    monthly_est = daily.groupBy("month").agg(
        F.expr("hll_sketch_estimate(hll_union_agg(sk))").alias("est")
    )
    exact = ev.groupBy("month").agg(
        F.countDistinct("user_id").alias("exact_users")
    )
    return exact.join(monthly_est, "month").select(
        "month",
        "exact_users",
        (
            F.abs(F.col("est") - F.col("exact_users"))
            <= F.lit(0.05) * F.col("exact_users")
        ).alias("est_in_5pct"),
    )


def burst_hours(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Volume-burst detection: the hours where an event type's hourly
    count exceeds its own mean by more than two population standard
    deviations — the monitoring query behind every traffic-anomaly
    alert, and the aggregate sibling of the per-row
    ``temporal.anomaly_zscore``.

    Exact-integer discipline: the threshold test ``cnt > μ + 2σ`` is
    algebraically cleared of divisions and square roots —
    ``(n·cnt − S)² > 4·(n·SS − S²)`` with ``n·cnt > S`` — so every
    comparison is on exact integers (hourly counts, their sum S, their
    square-sum SS) and the two engines cannot disagree by an ulp.
    Cast to DECIMAL(38,0) before the products: at 100 TB, n·SS
    overflows BIGINT long before it overflows a 38-digit decimal.

    Plan: hourly counts (one shuffle), per-type moments (second
    shuffle on the tiny hourly table), broadcast the |types|-row
    moment table back onto hours. Columns: event_type, hour_s, cnt.
    """
    ev = load_table(spark, sf_dir, "events")
    hourly = (
        ev.filter(F.col("ts").isNotNull())
        .groupBy(
            "event_type", F.date_trunc("hour", "ts").alias("h")
        )
        .agg(F.count(F.lit(1)).alias("cnt"))
        .cache()  # fans out into moments AND the join — without the
        # cache both branches re-scan the raw events (session-scoped;
        # released on next registry-key entry)
    )
    d = lambda c: F.col(c).cast("decimal(38,0)")  # noqa: E731
    moments = hourly.groupBy(F.col("event_type").alias("et")).agg(
        F.count(F.lit(1)).cast("decimal(38,0)").alias("n"),
        F.sum(F.col("cnt").cast("decimal(38,0)")).alias("s"),
        F.sum(
            F.col("cnt").cast("decimal(38,0)")
            * F.col("cnt").cast("decimal(38,0)")
        ).alias("ss"),
    )
    j = hourly.join(
        F.broadcast(moments),
        hourly["event_type"] == moments["et"],
    )
    dev = d("n") * d("cnt") - F.col("s")  # n·cnt − S  (×n of cnt − μ)
    var4 = F.lit(4) * (d("n") * F.col("ss") - F.col("s") * F.col("s"))
    return (
        j.filter((dev > 0) & (dev * dev > var4))
        .select(
            "event_type",
            F.date_format("h", "yyyy-MM-dd HH:00:00").alias("hour_s"),
            "cnt",
        )
    )


def inter_event_gap_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user inter-event-time distribution: gap count, min/max/mean
    and median of the microsecond gaps between consecutive events —
    the cadence profile behind bot detection and engagement scoring.

    Determinism: gaps are exact integer microseconds from a
    ts-ordered LAG (the multiset of consecutive-ts differences is
    invariant under tie order, so no tie-break is needed); min/max
    stay BIGINT; the mean telescopes to span/n_gaps — ONE IEEE
    division of exact integers; the median of integers is either an
    integer or an exact .5 (mean of the two mid values), identical in
    both engines. Users with a single event have no gaps and are
    absent. One shuffle on user_id feeds both the window and the
    aggregation. Columns: user_id, n_gaps, min_gap_us, max_gap_us,
    mean_gap_us, median_gap_us.
    """
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events").filter(
        F.col("ts").isNotNull()
    )
    w = Window.partitionBy("user_id").orderBy("us")
    gaps = (
        ev.select("user_id", F.unix_micros("ts").alias("us"))
        .withColumn("gap", F.col("us") - F.lag("us").over(w))
        .filter(F.col("gap").isNotNull())
    )
    return gaps.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_gaps"),
        F.min("gap").alias("min_gap_us"),
        F.max("gap").alias("max_gap_us"),
        (
            F.sum("gap").cast("double")
            / F.count(F.lit(1)).cast("double")
        ).alias("mean_gap_us"),
        F.expr("percentile(gap, 0.5)").alias("median_gap_us"),
    )


def user_rolling_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-horizon trailing activity features per (user, active day):
    7-day and 30-day event counts, spend sums, and active-day counts in
    ONE window pass — the classic feature-engineering shape feeding a
    churn/engagement model (N horizons as frames over one sort, not N
    self-joins).

    Events pre-aggregate to the per-(user, day) grain first, so the
    window input is bounded by active user-days, never raw events; both
    RANGE frames share one partition+sort (Spark evaluates them in a
    single Window node — check the plan: one Exchange, one Sort).
    Day is the exact integer epoch-day index; counts and cent sums are
    exact integers end-to-end — this operator emits NO floats, so there
    is nothing to pin. Value-based RANGE frames mean calendar gaps
    shorten the lookback correctly (a rows-frame would reach across
    missing days). NULL values count as events but add 0 cents (spend
    is the sum of the non-NULL values that day); NULL ts rows have no
    day and are excluded; NULL user_id is a real partition.
    Columns: user_id, day, n_events, n_7d, n_30d, cents_7d, cents_30d,
    days_active_30d.
    """
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    day = day_num("ts")
    cents = fixed_point(F.col("value"), 100)
    daily = (
        ev.select("user_id", day.alias("day"), cents.alias("c"))
        .filter(F.col("day").isNotNull())
        .groupBy("user_id", "day")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.coalesce(F.col("c"), F.lit(0)).cast("decimal(19,0)"))
            .alias("cents"),
        )
    )
    base = Window.partitionBy("user_id").orderBy("day")
    w7 = base.rangeBetween(-6, Window.currentRow)
    w30 = base.rangeBetween(-29, Window.currentRow)
    return daily.select(
        "user_id",
        "day",
        "n_events",
        F.sum("n_events").over(w7).cast("long").alias("n_7d"),
        F.sum("n_events").over(w30).cast("long").alias("n_30d"),
        F.sum("cents").over(w7).cast("long").alias("cents_7d"),
        F.sum("cents").over(w30).cast("long").alias("cents_30d"),
        F.count(F.lit(1)).over(w30).cast("long").alias("days_active_30d"),
    )

def rfm_segmentation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM (recency / frequency / monetary) customer segmentation over
    the events stream: days since last activity, event count, and cent
    total per user, each scored into equal-rank-band quintiles (5 =
    best) and packed into the classic three-digit segment label.

    Scores are NOT a naive ``NTILE() OVER (ORDER BY …)`` — that plans a
    single-partition global sort. Each metric's global rank uses the
    ``global_enumerate`` two-pass offset pattern instead: rows land in
    fixed literal-arithmetic value buckets, pass 1 turns per-bucket
    counts into starting offsets (a window over the bucket table only —
    constant-bounded), pass 2 ranks inside each bucket in parallel.
    score = 5 − floor((rank−1)·5 / N) with rank 1 = best — exact
    integer arithmetic, deterministic via a user_id tie-break, and the
    contract is the explicit formula (equal rank bands), not NTILE's
    remainder-first buckets. The per-user base is cached (it fans into
    the reference day, N, and three rank passes). Users with no
    timestamped events have no recency and are excluded; NULL values
    add 0 cents; NULL user_id is a real user. The only division is the
    score quotient — exact-integer operands with quotient ≤ 5, so the
    floor is boundary-safe for any N < 2e15.

    All three rank passes hang off the CACHED base in ONE lazy plan:
    every bucket-count table is a function of base alone (a bucket is
    literal arithmetic on a base column), so no pass needs the previous
    pass's output materialized — the r15 form's three eager
    ``localCheckpoint`` barriers (21 jobs, 4.6 s of driver gaps at
    local[32], the suite's worst anti-scaler: 1.2 s at 8 cores vs
    8 s at 32) were pure scheduling overhead (guide §1.2: remove
    passes). The offset tables stay broadcast-joined, never collected.
    Columns: user_id, recency_days, frequency, monetary_cents,
    r_score, f_score, m_score, segment.
    """
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    day = day_num("ts")
    cents = fixed_point(F.col("value"), 100)
    per_user = (
        ev.select("user_id", day.alias("day"), cents.alias("c"))
        .filter(F.col("day").isNotNull())
        .groupBy("user_id")
        .agg(
            F.max("day").alias("last_day"),
            F.count(F.lit(1)).alias("frequency"),
            F.sum(F.coalesce(F.col("c"), F.lit(0)).cast("decimal(19,0)"))
            .cast("long")
            .alias("monetary_cents"),
        )
        .cache()
    )
    ref = per_user.agg(
        F.max("last_day").alias("ref_day"),
        F.count(F.lit(1)).alias("n_users"),
    )
    base = per_user.crossJoin(F.broadcast(ref)).select(
        "user_id",
        (F.col("ref_day") - F.col("last_day")).alias("recency_days"),
        "frequency",
        "monetary_cents",
        "n_users",
    )

    def _with_rank(df: DataFrame, bucket: F.Column, order_cols: list,
                   name: str) -> DataFrame:
        """Scale-safe global rank: fixed value buckets, cumulative
        offsets over the bucket table, parallel in-bucket row_number.
        Bucket counts come from the CACHED ``base``, never from ``df``
        (the previous rank pass) — buckets are literal arithmetic on
        base columns, so chaining the passes lazily cannot re-plan
        earlier passes into the count branches (the hazard the r15 form
        paid three eager localCheckpoint jobs to avoid)."""
        bcol = f"_b_{name}"
        cnts = (
            base.withColumn(bcol, bucket)
            .groupBy(bcol)
            .agg(F.count(F.lit(1)).alias("_c"))
        )
        w_off = (
            Window.orderBy(bcol)
            .rowsBetween(Window.unboundedPreceding, -1)
        )
        offs = cnts.select(
            bcol,
            F.coalesce(F.sum("_c").over(w_off), F.lit(0)).alias("_off"),
        )
        wb = Window.partitionBy(bcol).orderBy(*order_cols)
        return (
            df.withColumn(bcol, bucket)
            .join(F.broadcast(offs), bcol)
            .withColumn(
                name,
                (F.col("_off") + F.row_number().over(wb)).cast("long"),
            )
            .drop(bcol, "_off")
        )

    # rank 1 = best. Recency: smaller is better (ascending buckets);
    # frequency/monetary: larger is better (negated buckets descend).
    ranked = _with_rank(
        base,
        (F.col("recency_days") / F.lit(32)).cast("long"),
        [F.asc("recency_days"), F.asc_nulls_first("user_id")],
        "r_rank",
    )
    ranked = _with_rank(
        ranked,
        (-F.col("frequency") / F.lit(16)).cast("long"),
        [F.desc("frequency"), F.asc_nulls_first("user_id")],
        "f_rank",
    )
    ranked = _with_rank(
        ranked,
        (-F.col("monetary_cents") / F.lit(100_000)).cast("long"),
        [F.desc("monetary_cents"), F.asc_nulls_first("user_id")],
        "m_rank",
    )

    def score(rank: str) -> F.Column:
        return (
            F.lit(5)
            - F.floor(
                (F.col(rank) - 1) * F.lit(5) / F.col("n_users")
            )
        ).cast("long")

    scored = ranked.select(
        "user_id",
        "recency_days",
        "frequency",
        "monetary_cents",
        score("r_rank").alias("r_score"),
        score("f_rank").alias("f_score"),
        score("m_rank").alias("m_score"),
    )
    return scored.withColumn(
        "segment",
        F.concat_ws(
            "",
            F.col("r_score").cast("string"),
            F.col("f_score").cast("string"),
            F.col("m_score").cast("string"),
        ),
    )


CONVERSION_FROM = "view"
CONVERSION_TO = "purchase"


def conversion_lag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-touch conversion lag per user: time from the user's FIRST
    ``CONVERSION_FROM`` event to their FIRST ``CONVERSION_TO`` event — the
    time-to-convert distribution behind funnel latency dashboards
    (funnel_conversion counts WHO converts; this measures HOW LONG).

    ONE scan, type-pruned at the parquet reader (the IN filter pushes
    down), ONE groupBy with two conditional MIN aggregates — never a
    per-type self-join. Timestamps are exact integer microseconds
    (``unix_micros`` ↔ ``epoch_us`` — the inter_event_gap_stats
    parity idiom, safe on pre-1970/extreme timestamps). ``converted``
    requires the first purchase at-or-after the first view (a purchase
    that precedes any view is attribution-ambiguous; its lag stays
    NULL and converted = 0 — documented contract). Users with neither
    event type are absent; NULL ts rows are excluded; NULL user_id is
    a real user. Columns: user_id, first_view_us, first_purchase_us,
    lag_us, converted.
    """
    ev = load_table(spark, sf_dir, "events").filter(
        F.col("ts").isNotNull()
        & F.col("event_type").isin(CONVERSION_FROM, CONVERSION_TO)
    )
    us = F.unix_micros("ts")
    per_user = ev.groupBy("user_id").agg(
        F.min(F.when(F.col("event_type") == CONVERSION_FROM, us)).alias(
            "first_view_us"
        ),
        F.min(F.when(F.col("event_type") == CONVERSION_TO, us)).alias(
            "first_purchase_us"
        ),
    )
    ok = (
        F.col("first_view_us").isNotNull()
        & F.col("first_purchase_us").isNotNull()
        & (F.col("first_purchase_us") >= F.col("first_view_us"))
    )
    return per_user.select(
        "user_id",
        "first_view_us",
        "first_purchase_us",
        F.when(
            ok, F.col("first_purchase_us") - F.col("first_view_us")
        ).alias("lag_us"),
        ok.cast("long").alias("converted"),
    )
