"""Time-series operators over the ``events`` table: as-of join, range
(band) join, sessionization support.

The reference has no temporal operators (its dates are string surgery,
SURVEY.md §1.2); these are engine-completeness additions a time-series
user expects. Scale posture: the as-of join is the merged-timeline + window
formulation (ONE shuffle on the entity key, no range self-join — the
standard way to make as-of joins survive 100 TB); the band join
broadcasts a literal dimension.

The events-table keys (here, ``event_analytics``, ``relational.
sessionize`` and the streaming twins) share one time-series core,
each piece computed once and derived from: one as-of body
(:func:`_asof`), one gaps-and-islands kernel (:func:`island_id`) and
session row (:func:`session_agg`, :func:`session_windows`), one hourly
mean (:func:`_hourly_mean`) with one gap-fill tail (:func:`_fill`), and
one daily exact-cents table (:func:`_daily_cents`).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.group import GroupedData
from pyspark.sql.window import WindowSpec

from bigdata1_spark.operators.basket import (
    TS_FMT,
    day_num,
    exact_sum,
    fixed_point,
    snap6,
)
from bigdata1_spark.sources.tables import load_table

# One session gap for every sessionizer: the gaps-and-islands
# ``sessionize``, the native ``session_window`` (batch and stream) and
# the two stateful stream operators.
SESSION_GAP_MIN = 30
SESSION_GAP_US = SESSION_GAP_MIN * 60 * 1_000_000


def user_order() -> WindowSpec:
    """Each user's events in (ts, event_id) order."""
    return Window.partitionBy("user_id").orderBy("ts", "event_id")


def island_id(start: Column) -> Column:
    """The gaps-and-islands kernel: the running sum of a 0/1
    island-start flag over :func:`user_order`, so the rows of one
    island share one id. The caller's flag says what opens an island (a
    time gap for ``sessionize``, a changed event_type for
    ``scd2_intervals``) and how a NULL lag counts."""
    return F.sum(start).over(
        user_order().rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )


def session_agg(grouped: GroupedData) -> DataFrame:
    """The session row of every sessionizer, from events grouped per
    (user, session): first and last ts as µs strings and the event
    count. Columns: user_id, session_start, session_end, n_events."""
    return grouped.agg(
        F.date_format(F.min("ts"), TS_FMT).alias("session_start"),
        F.date_format(F.max("ts"), TS_FMT).alias("session_end"),
        F.count(F.lit(1)).alias("n_events"),
    ).select("user_id", "session_start", "session_end", "n_events")


def session_windows(events: DataFrame) -> DataFrame:
    """Native ``session_window`` sessions, one body for the batch key
    ``session_window_fn`` and the stream ``events_session_streamed``
    (as ``streaming.events._windowed`` is for the tumbling and sliding
    windows). Session merging happens inside the aggregation on one
    user_id shuffle. Columns: user_id, session_start, session_end,
    n_events."""
    return session_agg(
        events.groupBy(
            F.session_window("ts", f"{SESSION_GAP_MIN} minutes"), "user_id"
        )
    )


def _asof(spark: SparkSession, sf_dir: str, ts_order: Column) -> DataFrame:
    """The as-of body of both directions: each click paired with the
    purchase of the same user that a traversal of the user's timeline in
    ``ts_order`` saw last — at or before the click for ``asc``, at or
    after it for ``desc``.

    Merged-timeline formulation: one scan keeps purchases (tag 0) and
    clicks (tag 1), sorts each user by (ts, tag, value NULLS FIRST) and
    carries the last purchase forward with ``last(ignorenulls)``. ONE
    hash shuffle on user_id; the sort
    and the carry-forward stay inside that partition — no range
    self-join, no per-row probe, skew bounded by events-per-user. At an
    equal ts the purchase precedes the click (so "at or before/after"
    includes same-ts), and value is the tie-breaker, so the last
    purchase row at a tied ts is the max non-NULL value one in either
    direction — the oracle's per-(user, ts) MAX collapse, with no
    pre-aggregate. Columns: event_id, user_id, click_ts, purchase_ts,
    purchase_value.
    """
    ev = load_table(spark, sf_dir, "events")
    is_purchase = F.col("event_type") == "purchase"
    is_click = F.col("event_type") == "click"
    timeline = ev.filter(is_purchase | is_click).select(
        "user_id", "ts", "event_id",
        F.when(is_purchase, 0).otherwise(1).alias("tag"),
        F.when(is_purchase, F.col("value")).alias("pvalue"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy(ts_order, "tag", F.asc_nulls_first("pvalue"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    # ts and value ride ONE struct: two separate last(ignorenulls)
    # carries desynchronize when a purchase's value is legitimately
    # NULL — the value carry skips it and pairs the newest purchase_ts
    # with an OLDER purchase's value (found by the .nulldata sweep).
    # The struct is non-null for every purchase row, so the carry
    # always moves both fields together.
    carried = F.last(
        F.when(F.col("tag") == 0, F.struct("ts", "pvalue")),
        ignorenulls=True,
    ).over(w)
    merged = timeline.select(
        "user_id", "ts", "tag", "event_id",
        carried["ts"].alias("purchase_ts"),
        carried["pvalue"].alias("purchase_value"),
    )
    # no-matching-purchase clicks keep LEFT-join semantics via explicit
    # sentinels ('' / -1.0) — NULL-free output hashes identically under
    # any NaN treatment in the driver's comparator.
    return merged.filter(F.col("tag") == 1).select(
        "event_id", "user_id",
        F.date_format("ts", TS_FMT).alias("click_ts"),
        F.coalesce(F.date_format("purchase_ts", TS_FMT), F.lit(""))
        .alias("purchase_ts"),
        F.coalesce(F.col("purchase_value"), F.lit(-1.0))
        .alias("purchase_value"),
    )


def asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """For each click event, the latest purchase of the same user at or
    before the click (ASOF LEFT JOIN): :func:`_asof` in ascending ts
    order."""
    return _asof(spark, sf_dir, F.asc("ts"))


def asof_join_forward(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Forward as-of: for each click, the EARLIEST purchase of the same
    user at or after it — the other direction of ``asof_join`` (lead
    attribution / next-event lookup): :func:`_asof` in descending ts
    order, where the last purchase seen at any click row is exactly the
    earliest purchase ≥ it. The oracle's quadratic LEFT JOIN stays
    oracle-side."""
    return _asof(spark, sf_dir, F.desc("ts"))


def join_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Band join: events bucketed into value bands via a broadcast
    range-predicate join against a literal 5-row dimension.

    The dim side is constant-size, so this plans as a broadcast
    nested-loop with a cheap band predicate — the scale-safe shape for
    banded/range dimension joins (never a shuffle of the fact side).
    Columns: band, n_events, total_value.
    """
    bands = spark.createDataFrame(
        [(i, float(i * 100), float((i + 1) * 100)) for i in range(5)],
        ["band", "lo", "hi"],
    )
    ev = load_table(spark, sf_dir, "events").select("value")
    return (
        ev.join(
            F.broadcast(bands),
            (F.col("value") >= F.col("lo")) & (F.col("value") < F.col("hi")),
        )
        .groupBy("band")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            exact_sum(F.col("value"), "total_value"),
        )
    )


SCD2_OPEN_SENTINEL = "9999-12-31 00:00:00.000000"


def scd2_intervals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD2 history build: collapse each user's event stream into
    validity intervals — one row per RUN of consecutive equal
    event_type, with valid_from/valid_to half-open interval bounds.
    This is the slowly-changing-dimension-type-2 table a warehouse
    derives from a change feed (and the change-detection flavor of
    gaps-and-islands; ``sessionize`` is the time-gap flavor).

    Plan: one shuffle on user_id feeds ALL THREE window passes (change
    flag via lag, island id via :func:`island_id`, valid_to via lead
    over islands' aggregate) — Spark reuses the exchange because every
    window partitions by the same key; the island aggregation groups
    on (user_id, island) which the same partitioning co-locates. The
    open interval carries a far-future sentinel rather than NULL (NULL
    → NaN asymmetry breaks driver hash parity).
    Columns: user_id, event_type, valid_from, valid_to, n_events.
    """
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "event_id", "event_type", "ts"
    )
    prev = F.lag("event_type").over(user_order())
    chg = F.when(
        prev.isNull() | (prev != F.col("event_type")), 1
    ).otherwise(0)
    runs = ev.withColumn("island", island_id(chg)).groupBy(
        "user_id", "island"
    ).agg(
        F.min("event_type").alias("event_type"),  # constant within a run
        F.min("ts").alias("from_ts"),
        F.count(F.lit(1)).alias("n_events"),
    )
    wlead = Window.partitionBy("user_id").orderBy("island")
    return runs.select(
        "user_id",
        "event_type",
        F.date_format("from_ts", TS_FMT).alias("valid_from"),
        F.coalesce(
            F.date_format(F.lead("from_ts").over(wlead), TS_FMT),
            F.lit(SCD2_OPEN_SENTINEL),
        ).alias("valid_to"),
        "n_events",
    )


ZSCORE_THRESHOLD = 1.5


def anomaly_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user z-score outliers on ``events.value``.

    Mean and variance come from DECIMAL-exact power sums per user (the
    ``agg_stats`` recipe — native stddev accumulates in engine-specific
    order and drifts in final ulps vs DuckDB), evaluated in a window
    over the user partition so the stats join back to rows without a
    second shuffle: ONE exchange on user_id total. The z expression is
    one identically-parenthesized double formula on exact inputs, so it
    is bit-reproducible; the final round(4) absorbs nothing but display
    noise. ``ZSCORE_THRESHOLD`` is 1.5 (not the folkloric 3.0) because
    the testdata's value column is uniform — a bounded distribution
    caps |z| at √3.
    Columns: event_id, user_id, value, z.
    """
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id")
    x = F.col("value").cast("decimal(18,6)")
    n = F.count(F.lit(1)).over(w).cast("double")
    sx = F.round(F.sum(x).over(w), 4).cast("double")
    sxx = F.round(
        F.sum((x * x).cast("decimal(38,12)")).over(w), 4
    ).cast("double")
    mean = sx / n
    # try_divide, not '/': a single-event user has n-1 = 0 and a
    # constant-value user has sd = 0 — DuckDB's '/' yields NULL there
    # and the |z| filter drops the row, but Spark under ANSI raises
    # DIVIDE_BY_ZERO. Found by the Zipf-skew sweep (the FK remap
    # leaves some users with exactly one event); uniform sf0.01/sf1
    # data never produced the degenerate partitions.
    sd = F.sqrt(F.try_divide(sxx - sx * sx / n, n - F.lit(1.0)))
    z = F.try_divide(F.col("value") - mean, sd)
    return (
        ev.select("event_id", "user_id", "value", z.alias("z"))
        .filter(F.abs(F.col("z")) > ZSCORE_THRESHOLD)
        .select(
            "event_id", "user_id", "value",
            # floor-scale, not F.round: see resample_interpolate on why
            # rounding doubles diverges across engines at exact ties.
            (F.floor(F.col("z") * F.lit(1e4) + F.lit(0.5)) / F.lit(1e4))
            .alias("z"),
        )
    )


EWMA_ALPHA = 0.1
EWMA_LOOKBACK = 50


def ewma(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing exponentially-weighted moving average of ``value`` per
    user (recursive form s_j = α·x_j + (1-α)·s_{j-1}, α =
    ``EWMA_ALPHA``), over a bounded ``EWMA_LOOKBACK``-row frame.

    Cross-engine float parity trick: both engines fold the SAME ordered
    array with the SAME left-fold expression — Spark ``collect_list``
    over the window frame + ``F.aggregate``, DuckDB ``list() OVER`` +
    ``list_reduce`` — so every intermediate double is produced by an
    identical operation sequence and the results match bit-for-bit (the
    round(6) is belt-and-braces). A naive SUM of weighted terms would
    accumulate in engine-specific order and drift.

    Scale posture: ONE shuffle on user_id; the frame bounds per-row
    state to ``EWMA_LOOKBACK`` values regardless of corpus size (the same
    bounded-trailing-state shape a streaming EWMA would keep), so
    memory per task is O(rows_in_partition · EWMA_LOOKBACK) worst case and
    skew is bounded by events-per-user.
    Columns: event_id, user_id, ewma.
    """
    ev = load_table(spark, sf_dir, "events")
    w = user_order().rowsBetween(-(EWMA_LOOKBACK - 1), Window.currentRow)
    # NULL values are SKIPPED from the series (collect_list drops them;
    # the oracle pins the same with list_filter) — an all-NULL frame
    # yields an empty array, which must short-circuit to NULL: slice
    # with length size-1 = -1 raises under ANSI (found by the .nulldata
    # sweep), and the fold has no seed.
    arr = F.collect_list("value").over(w)
    folded = F.when(
        F.size(arr) > 0,
        F.aggregate(
            F.slice(arr, 2, F.greatest(F.size(arr) - 1, F.lit(0))),
            F.element_at(arr, 1),
            lambda acc, v: (
                F.lit(1.0 - EWMA_ALPHA) * acc + F.lit(EWMA_ALPHA) * v
            ),
        ),
    )
    return ev.select(
        "event_id", "user_id",
        # floor-scale, not F.round: see resample_interpolate on why.
        snap6(folded).alias("ewma"),
    )


# Gap-fill staleness cap, in hours (14 days). The r13-era grid spanned
# each user's [min(h), max(h)] — ONE outlier timestamp (a 1700s row in
# the .timewarpdata twin; a corrupt sensor reading at 100 TB) exploded
# the per-user grid to millions of rows and blew
# spark.driver.maxResultSize. Bounding fill work per OBSERVATION
# (never per span) makes the plan outlier-proof by construction:
# worst-case output is |obs| × (1 + MAX_FILL_HOURS), independent of
# how pathological the timestamps are.
MAX_FILL_HOURS = 336


def _hourly_mean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hourly DECIMAL-exact mean of ``events.value`` per (user, hour) —
    the hourly base of both gap fills and ``seasonal_naive``. One events
    scan, one shuffle on (user, hour). Columns: user_id, h, v."""
    ev = load_table(spark, sf_dir, "events")
    return ev.groupBy(
        "user_id", F.date_trunc("hour", "ts").alias("h")
    ).agg(
        (F.round(F.sum(F.col("value").cast("decimal(18,6)")), 4)
         .cast("double") / F.count(F.lit(1))).alias("v")
    )


def _hourly_obs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """:func:`_hourly_mean` with the LEAD of the next observed hour
    (nh, nv) and the gap to it in hours (gap_h, 0 for the last hour) —
    the shared base of both gap-fill operators; one window pass on
    user_id."""
    obs = _hourly_mean(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy(F.asc("h"))
    # hour epochs are exact 3600-multiples, so the gap in hours is an
    # exact integer in double before the long cast
    gap_h = (
        (F.col("nh").cast("long") - F.col("h").cast("long"))
        / F.lit(3600)
    ).cast("long")
    return (
        obs.withColumn("nh", F.lead("h").over(w))
        .withColumn("nv", F.lead("v").over(w))
        .withColumn(
            "gap_h",
            F.when(F.col("nh").isNull(), F.lit(0)).otherwise(gap_h),
        )
    )


def _fill(
    obs: DataFrame, n_fill: Column, value: Column, flag: str
) -> DataFrame:
    """The gap-fill tail of both fills: each hourly observation explodes
    offsets ``0..n_fill`` (offset 0 is the observation itself), renders
    its hour string, pins ``value`` (an expression of the offset ``o``)
    with snap6 and flags the filled rows 1 in ``flag``. The explode is
    pipeline-local. Columns: user_id, hour, value, <flag>."""
    o = F.col("o")
    hour = F.timestamp_seconds(F.col("h").cast("long") + o * F.lit(3600))
    return obs.select(
        "*", F.explode(F.sequence(F.lit(0), n_fill)).alias("o")
    ).select(
        "user_id",
        F.date_format(hour, "yyyy-MM-dd HH:00:00").alias("hour"),
        snap6(value).alias("value"),
        (o > 0).cast("long").alias(flag),
    )


def resample_interpolate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-filled hourly resample of ``events.value`` per user with
    linear interpolation between CONSECUTIVE observed hours, bounded by
    a staleness cap: a gap wider than ``MAX_FILL_HOURS`` is left
    unfilled (interpolating across a two-week hole invents data, and an
    unbounded grid is an outlier-amplifier — see MAX_FILL_HOURS).

    Pipeline: (1) hourly mean per (user, hour) from a DECIMAL-exact sum
    (2) LEAD window pairs each observation with its successor (3) each
    in-cap gap explodes ``sequence(0, gap-1)`` interior offsets and
    interpolates on the epoch-seconds axis. No per-span grid, no
    grid-join, no running fills: fill work is bounded per observation,
    and the interpolation ratio ((o·3600) / (gap·3600)) is the exact
    double expression the grid version computed, so in-cap results are
    bit-identical to the r13 operator.

    Shuffle ledger: hourly agg shuffles raw events once on (user,
    hour); the LEAD window shuffles the reduced table once on user_id;
    the explode is pipeline-local. Columns: user_id, hour, value,
    interpolated.
    """
    n_fill = F.when(
        (F.col("gap_h") >= 2) & (F.col("gap_h") <= MAX_FILL_HOURS),
        F.col("gap_h") - 1,
    ).otherwise(F.lit(0))
    interp = F.col("v") + (F.col("nv") - F.col("v")) * (
        (F.col("o") * F.lit(3600)).cast("double")
        / (F.col("gap_h") * F.lit(3600)).cast("double")
    )
    filled = F.when(F.col("o") == 0, F.col("v")).otherwise(interp)
    # value is snap6'd, NOT F.round: Spark rounds doubles through their
    # decimal string (HALF_UP on the printed digits) while DuckDB rounds
    # the raw binary double (HALF_EVEN), so exact .5 ties diverge.
    # floor(x*1e6 + 0.5)/1e6 is pure double arithmetic — identical on
    # both engines.
    return _fill(_hourly_obs(spark, sf_dir), n_fill, filled, "interpolated")


HW_ALPHA = 0.5  # level smoothing
HW_BETA = 0.3   # trend smoothing
COVERAGE_US = 900_000_000  # 15-minute activity interval per event


def holt_winters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Holt's linear (double-exponential) smoothing per user: level +
    trend recursion over the value series, emitting the final state and
    the one-step forecast — the trend-aware upgrade of ``ewma``.

    l_t = α·x_t + (1−α)(l_{t−1} + b_{t−1});
    b_t = β(l_t − l_{t−1}) + (1−β)b_{t−1};  init l₁ = x₁, b₁ = 0.

    The recursion carries a PAIR of floats, so the cross-engine parity
    trick is a struct-accumulator left-fold: both engines fold the same
    (ts, event_id)-ordered value array with the same expression tree
    (the l_t subexpression is deliberately duplicated inside the b_t
    term in BOTH engines rather than let-bound in one). One shuffle on
    user_id; per-user state is two doubles regardless of series
    length — the same bounded state a streaming version would keep.
    Columns: user_id, n, level, trend, forecast (floor-rounded 1e-6).
    """
    ev = load_table(spark, sf_dir, "events")
    per_user = ev.groupBy("user_id").agg(
        F.array_sort(
            F.collect_list(F.struct("ts", "event_id", "value"))
        ).alias("xs")
    )
    vals = F.transform(F.col("xs"), lambda x: x["value"])
    a, b = HW_ALPHA, HW_BETA
    lnew = lambda acc, v: (  # noqa: E731 — shared subexpression builder
        F.lit(a) * v + F.lit(1.0 - a) * (acc["l"] + acc["b"])
    )
    folded = F.aggregate(
        F.slice(vals, 2, F.greatest(F.size(vals) - 1, F.lit(0))),
        F.struct(
            F.element_at(vals, 1).alias("l"), F.lit(0.0).alias("b")
        ),
        lambda acc, v: F.struct(
            lnew(acc, v).alias("l"),
            (
                F.lit(b) * (lnew(acc, v) - acc["l"])
                + F.lit(1.0 - b) * acc["b"]
            ).alias("b"),
        ),
    )
    return per_user.select(
        "user_id",
        F.size("xs").cast("long").alias("n"),
        snap6(folded["l"]).alias("level"),
        snap6(folded["b"]).alias("trend"),
        snap6(folded["l"] + folded["b"]).alias("forecast"),
    )


def interval_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval-union length per user: each event opens a 15-minute
    activity interval; overlapping intervals merge, and the covered
    time is the union's total length — the uptime/coverage primitive
    (SLA windows, sensor liveness, ad viewability).

    Sweep-line as a window: sort intervals per user, carry the running
    max end over preceding rows, and each row contributes
    ``max(end − max(prev_max_end, start), 0)`` — clipped overlap
    removal without ever materializing merged intervals. One shuffle on
    user_id; everything is exact integer microseconds.
    Columns: user_id, n_intervals, covered_us.
    """
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "event_id", F.unix_micros(F.col("ts")).alias("us")
    )
    iv = ev.withColumn("e", F.col("us") + F.lit(COVERAGE_US))
    w = (
        Window.partitionBy("user_id")
        .orderBy("us", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    pmax = F.max("e").over(w)
    contrib = F.greatest(
        F.col("e")
        - F.greatest(
            F.coalesce(pmax, F.lit(-(2**62))), F.col("us")
        ),
        F.lit(0),
    )
    return (
        iv.select("user_id", contrib.alias("c"))
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_intervals"),
            F.sum("c").alias("covered_us"),
        )
    )


def twa(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-weighted average of ``value`` per user (TWAP): each
    observation holds until the next one, so its weight is the gap to
    the successor; the last observation carries zero weight (no close
    sentinel — the convention interval pricing uses for open series).

    One lead window per user, then exact arithmetic: gaps are integer
    microseconds and the weighted sum goes through DECIMAL (value is
    2-ish-decimal input, value·Δus fits 38 digits at any realistic
    retention). The division happens IN DECIMAL — Spark's
    decimal(38,6)/bigint rule yields a decimal(38,6) quotient rounded
    HALF_UP at scale 6 (exact integer half-up division under the
    hood), and only that small-magnitude quotient is cast to double.
    Casting the *unrounded* wide wsum to double first is the bug class
    this avoids: once wsum's integer part exceeds 2^53 the
    BigDecimal→double conversion (one correct rounding) and another
    engine's int128/10^scale conversion (two roundings) can differ in
    the last ulp, so cross-engine parity would hang on the luck of the
    data. The quotient is an *average* of ``value``, so its magnitude
    is bounded by max(|value|) — far below 2^53/10^6 — and the final
    decimal(38,6)→double cast is exact-by-construction on both
    engines. The oracle mirrors the exact half-up division with
    HUGEINT arithmetic (registry.py, key ``twa``); a pinned-dtype test
    guards the scale-6 quotient contract. Users with a single event
    (no weighted interval) report the plain value.
    Columns: user_id, n_obs, span_us, twa_value.
    """
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "event_id", "value",
        F.unix_micros(F.col("ts")).alias("us"),
    )
    w = Window.partitionBy("user_id").orderBy("us", "event_id")
    gapped = ev.withColumn(
        "dt", F.lead("us").over(w) - F.col("us")
    )
    agg = gapped.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_obs"),
        F.sum("dt").alias("span_us"),
        F.sum(
            (F.col("value").cast("decimal(18,6)") * F.col("dt"))
            .cast("decimal(38,6)")
        ).alias("wsum"),
        F.min(F.struct("us", "event_id", "value")).alias("first_obs"),
    )
    return agg.select(
        "user_id",
        "n_obs",
        F.coalesce("span_us", F.lit(0)).alias("span_us"),
        F.when(
            F.coalesce(F.col("span_us"), F.lit(0)) > 0,
            (F.col("wsum") / F.col("span_us")).cast("double"),
        )
        .otherwise(F.col("first_obs.value"))
        .alias("twa_value"),
    )


def ohlc_bars(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OHLC downsampling: per (user, hour) bar with open / high / low /
    close of ``value`` — the finance-style resample every time-series
    store ships.

    Open/close are argmin/argmax by time expressed as lexicographic
    struct MIN/MAX over (us, event_id, value) — pure aggregates, so the
    whole operator is ONE shuffle with full map-side partial
    aggregation (no window, no sort). High/low are plain MIN/MAX.
    Columns: user_id, hour, o, h, l, c, n.
    """
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "event_id", "value",
        F.date_format(F.date_trunc("hour", "ts"), "yyyy-MM-dd HH:mm:ss")
        .alias("hour"),
        F.unix_micros(F.col("ts")).alias("us"),
    )
    return ev.groupBy("user_id", "hour").agg(
        F.min(F.struct("us", "event_id", "value"))["value"].alias("o"),
        F.max("value").alias("h"),
        F.min("value").alias("l"),
        F.max(F.struct("us", "event_id", "value"))["value"].alias("c"),
        F.count(F.lit(1)).alias("n"),
    )


def locf_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-filled hourly resample with LAST-OBSERVATION-CARRIED-FORWARD
    (the step-function fill — sensor readings, account balances,
    config state — where linear interpolation would invent values),
    bounded by the same staleness cap as ``resample_interpolate``: an
    observation carries forward at most ``MAX_FILL_HOURS`` hours (a
    TTL — carrying a two-week-stale reading indefinitely is a data
    bug, and an unbounded per-user grid is an outlier-amplifier; see
    MAX_FILL_HOURS).

    Unlike the r13 grid+running-window version, the carry needs no
    window at all: within a capped gap every filled hour carries
    exactly its own observation's value, so each observation explodes
    ``sequence(0, min(gap-1, cap))`` and is done — one events scan,
    two shuffles total, fill work bounded per observation.
    Columns: user_id, hour, value, filled.
    """
    n_fill = F.when(F.col("gap_h") >= 1, F.least(
        F.col("gap_h") - 1, F.lit(MAX_FILL_HOURS)
    )).otherwise(F.lit(0))
    return _fill(_hourly_obs(spark, sf_dir), n_fill, F.col("v"), "filled")


def seasonal_naive(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seasonal-naive forecasting check: predict each (user, hour)
    value as the observation exactly one week earlier, and report the
    absolute error where both exist — the baseline every real forecast
    has to beat, and a two-line operator once hourly observations
    exist.

    One :func:`_hourly_mean`; the week-earlier hour is a RANGE frame
    on the exact hour epoch (at most one row), not a self-join that
    aggregates the events twice. The frame's row count decides the
    pairing, so a NULL mean a week earlier stays paired as a NULL
    forecast, as in the oracle's inner join, which pairs no NULL user
    or hour. One events scan, two shuffles (hourly agg, window on
    user). Columns: user_id, hour, value, forecast, abs_err (snap6).
    """
    week = 168 * 3600
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.col("h").cast("long"))
        .rangeBetween(-week, -week)
    )
    j = (
        _hourly_mean(spark, sf_dir)
        .filter(F.col("user_id").isNotNull() & F.col("h").isNotNull())
        .select(
            "*",
            F.max("v").over(w).alias("forecast"),
            F.count(F.lit(1)).over(w).alias("n_prev"),
        )
        .filter(F.col("n_prev") > 0)
    )
    return j.select(
        "user_id",
        F.date_format("h", "yyyy-MM-dd HH:00:00").alias("hour"),
        snap6(F.col("v")).alias("value"),
        snap6(F.col("forecast")).alias("forecast"),
        snap6(F.abs(F.col("v") - F.col("forecast"))).alias("abs_err"),
    )


INCIDENT_US = 2 * 3600 * 1_000_000   # 2-hour incident window
OVERLAP_BIN_US = 6 * 3600 * 1_000_000  # 6-hour join bins


def interval_overlap_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval×interval overlap join via time binning — the general
    range-join kernel (downtime attribution here: for each error a
    user hits, how much of that user's daily activity spans fell
    inside the 2-hour incident window it opens).

    Side A: per-(user, day) activity span ``[first_us, last_us + 1)``.
    Side B: each error event opens a per-user incident ``[ts, ts+2h)``.
    The naive plan is a per-user all-pairs non-equi join — fine while
    a user's history is short, quadratic in retention once it isn't.
    The binned kernel is the scale shape: replicate each interval onto
    the 6-hour bins it covers (``sequence`` + ``explode`` — day spans
    cover ≤ 5 bins, incidents ≤ 2), equi-join on (user_id, bin),
    re-check the exact predicate, and de-duplicate pairs that met in
    several bins. Two truly-overlapping intervals always share the bin
    containing their intersection's start, so the kernel is EXACT; the
    bin width trades replication factor against per-bin pair count and
    is the one knob at 100 TB. The user key in the join is what keeps
    the output linear — an earlier cross-user formulation of this
    operator was |incidents|×|users| dense and OOM'd at sf0.1, which
    is the textbook reason overlap joins need a blocking dimension,
    not just time bins. Overlap length is exact integer microseconds
    on half-open intervals. Output per incident: event_id,
    n_intervals, total_overlap_us.
    """
    ev = load_table(spark, sf_dir, "events")
    acts = (
        ev.groupBy(
            "user_id", F.to_date("ts").alias("day")
        )
        .agg(
            F.min(F.unix_micros(F.col("ts"))).alias("lo"),
            (F.max(F.unix_micros(F.col("ts"))) + 1).alias("hi"),
        )
    )
    incs = ev.filter(F.col("event_type") == "error").select(
        F.col("user_id").alias("i_user"),
        "event_id",
        F.unix_micros(F.col("ts")).alias("ilo"),
        (F.unix_micros(F.col("ts")) + F.lit(INCIDENT_US)).alias("ihi"),
    )
    bin_of = lambda c: F.floor(c / F.lit(OVERLAP_BIN_US))  # noqa: E731
    a_binned = acts.select(
        "user_id", "day", "lo", "hi",
        F.explode(
            F.sequence(bin_of(F.col("lo")), bin_of(F.col("hi") - 1))
        ).alias("bin"),
    )
    b_binned = incs.select(
        "i_user", "event_id", "ilo", "ihi",
        F.explode(
            F.sequence(bin_of(F.col("ilo")), bin_of(F.col("ihi") - 1))
        ).alias("bin"),
    )
    pairs = (
        a_binned.join(
            b_binned,
            (F.col("user_id") == F.col("i_user"))
            & (a_binned["bin"] == b_binned["bin"]),
        )
        .filter((F.col("ilo") < F.col("hi")) & (F.col("lo") < F.col("ihi")))
        .select("event_id", "user_id", "day", "lo", "hi", "ilo", "ihi")
        .distinct()
    )
    overlap = F.least("hi", "ihi") - F.greatest("lo", "ilo")
    return pairs.groupBy("event_id").agg(
        F.count(F.lit(1)).alias("n_intervals"),
        F.sum(overlap).alias("total_overlap_us"),
    )


def cusum_changepoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sided CUSUM level-shift detector over daily event counts,
    per event_type — the streaming-monitoring primitive for "did this
    event's volume drift?", computed EXACTLY (no floats anywhere).

    The textbook recursion S⁺_t = max(0, S⁺_{t-1} + y_t) is not a
    prefix sum, but it has a closed windowable form: with
    P_t = Σ_{j≤t} y_j, S⁺_t = P_t − min_{j≤t} P_j and
    S⁻_t = max_{j≤t} P_j − P_t — one running SUM plus a running
    MIN/MAX over the same keyed window. Deviations are kept integral
    by scaling: y'_t = n_days·x_t − Σx (per type), so every emitted
    statistic is an exact integer (consumers threshold on
    S±/(n_days·σ̂); the scale rides the n_days column).

    ONE events scan → daily (type, day) counts; every window runs over
    that constant-bounded-per-type daily table (days are calendar-
    bounded — the per-type partition never grows with row count, only
    with time span), so there is no global sort and no rescan. NULL
    event_type forms its own series in both engines.
    Columns: event_type, day, n_events, n_days, s_pos, s_neg.
    """
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type", F.date_trunc("day", "ts").alias("day")
    ).agg(F.count(F.lit(1)).alias("n_events"))

    per_type = Window.partitionBy("event_type")
    ordered = per_type.orderBy("day").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    scaled = daily.select(
        "event_type",
        "day",
        "n_events",
        F.count(F.lit(1)).over(per_type).alias("n_days"),
        (
            F.count(F.lit(1)).over(per_type) * F.col("n_events")
            - F.sum("n_events").over(per_type)
        ).alias("y"),
    )
    with_p = scaled.withColumn("p", F.sum("y").over(ordered))
    # the running extrema must include the EMPTY prefix P_0 = 0 (the
    # recursion starts at S=0), hence the least/greatest against 0
    return with_p.select(
        "event_type",
        "day",
        "n_events",
        "n_days",
        (
            F.col("p") - F.least(F.lit(0), F.min("p").over(ordered))
        ).alias("s_pos"),
        (
            F.greatest(F.lit(0), F.max("p").over(ordered)) - F.col("p")
        ).alias("s_neg"),
    )


ROLLUP_TZ = "America/New_York"


def tz_hour_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event rollup by LOCAL wall-clock hour-of-day in a named IANA
    zone — the "when are users actually active" analytics question,
    which UTC bucketing answers wrong twice a year: the same UTC hour
    maps to different local hours across DST transitions, and both
    engines must apply the zone's full historical rule set (the
    timewarp twin feeds 1970s instants, when the US briefly ran
    year-round DST, and 2199 instants on projected rules).

    Spark session time stays UTC (repo invariant);
    ``from_utc_timestamp`` performs the single zone conversion
    JVM-side, so the plan is still one scan + one partial-agged
    shuffle on a 24-value key. At 100 TB, zone conversion is
    per-row compute inside whole-stage codegen — no shuffle or state
    cost over the UTC rollup. Columns: local_hour, n_events,
    total_value.
    """
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.filter(F.col("ts").isNotNull())
        .groupBy(
            F.hour(F.from_utc_timestamp("ts", ROLLUP_TZ))
            .cast("long")
            .alias("local_hour")
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            exact_sum(F.col("value"), "total_value"),
        )
    )


def iso_week_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue rollup by ISO-8601 week (iso_year, iso_week) of
    ``l_shipdate`` — the fiscal-calendar bucketing where naive
    year(ts)+weekofyear(ts) double-counts boundary weeks: the ISO year
    of Dec 29–31 can be the NEXT calendar year and Jan 1–3 the
    PREVIOUS one, so the pair must come from the same ISO calendar
    (Spark ``extract(YEAROFWEEK)`` + ``weekofyear``; both engines
    compute proleptic-Gregorian ISO weeks, exercised down to year
    0001 and across the 1582 reform by the timewarp twin).

    One scan, one partial-agged shuffle on a ~53·|years| key space.
    Columns: iso_year, iso_week, n_items, revenue.
    """
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.filter(F.col("l_shipdate").isNotNull())
        .groupBy(
            F.expr("extract(YEAROFWEEK FROM l_shipdate)")
            .cast("long")
            .alias("iso_year"),
            F.weekofyear("l_shipdate").cast("long").alias("iso_week"),
        )
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            exact_sum(F.col("l_extendedprice"), "revenue"),
        )
    )


def _daily_cents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The daily exact-cents table of the event-type monitors: per
    (event_type, day) the count, Σx and Σx² of x = value·100 as exact
    integers summed in DECIMAL (associative, so partial-agg order
    cannot drift them). Rows with a NULL day or value are no
    observation and are dropped; NULL event_type is a real series.
    Window input built on it is calendar-scale (≤ types × days rows),
    never raw events. Columns: event_type, day, n_obs, s, q."""
    ev = load_table(spark, sf_dir, "events")
    x = fixed_point(F.col("value"), 100).cast("decimal(19,0)")
    return (
        ev.select("event_type", day_num("ts").alias("day"), x.alias("x"))
        .filter(F.col("day").isNotNull() & F.col("x").isNotNull())
        .groupBy("event_type", "day")
        .agg(
            F.count(F.lit(1)).alias("n_obs"),
            F.sum("x").alias("s"),
            F.sum(F.col("x") * F.col("x")).alias("q"),
        )
    )


BOLLINGER_DAYS = 7
BOLLINGER_K = 2.0


def bollinger_bands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bollinger bands of daily event value per event type: trailing
    ``BOLLINGER_DAYS``-day moving average ± ``BOLLINGER_K`` population
    standard deviations — the envelope monitor for "is today's level outside
    its recent band?".

    ONE scan → per-(type, day) exact sufficient statistics
    (:func:`_daily_cents`), then a RANGE frame over the
    integer day index (value-based, so calendar gaps shrink the window
    rather than silently stretching it across missing days, and peer
    days are impossible — day is the sort key). Window sums add
    DECIMALS — associative, so partial-agg order can't drift them; the
    per-day float chain (mean, variance, ±k·σ) runs once at the end.
    The input to the window is the DAILY table (≤ types × days rows),
    never raw events — at 100 TB the window state is calendar-scale.
    Days with no non-NULL value don't exist in the series (no
    observation); NULL event_type is a real series; NULL ts rows have
    no day coordinate and are excluded. Variance is clamped at 0
    before sqrt (exact-integer inputs make true negatives impossible;
    the clamp guards the constant-series cancellation ulp).
    Columns: event_type, day, n_obs, n_window, ma, sd, upper_band,
    lower_band.
    """
    w = (
        Window.partitionBy("event_type")
        .orderBy("day")
        .rangeBetween(-(BOLLINGER_DAYS - 1), Window.currentRow)
    )
    win = _daily_cents(spark, sf_dir).select(
        "event_type",
        "day",
        "n_obs",
        F.sum("n_obs").over(w).alias("wn"),
        F.sum("s").over(w).alias("ws"),
        F.sum("q").over(w).alias("wq"),
    )
    nd = F.col("wn").cast("double")
    wsd = F.col("ws").cast("double")
    wqd = F.col("wq").cast("double")
    ma = (wsd / nd) / F.lit(100.0)
    var = (wqd - wsd * wsd / nd) / nd
    sd = F.sqrt(F.greatest(var, F.lit(0.0))) / F.lit(100.0)
    return win.select(
        "event_type",
        "day",
        "n_obs",
        F.col("wn").cast("long").alias("n_window"),
        snap6(ma).alias("ma"),
        snap6(sd).alias("sd"),
        snap6(ma + F.lit(BOLLINGER_K) * sd).alias("upper_band"),
        snap6(ma - F.lit(BOLLINGER_K) * sd).alias("lower_band"),
    )


RSI_PERIODS = 14


def rsi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Relative Strength Index of the daily event-value total per event
    type (Cutler's SMA form): RSI = 100·Σgains / (Σgains + Σlosses)
    over the trailing ``RSI_PERIODS`` day-over-day deltas — the classic
    bounded momentum oscillator, here as the "is this metric's recent
    movement all one direction?" monitor.

    Deltas compare CONSECUTIVE OBSERVED days (lag over the day-ordered
    series — a calendar gap produces one delta spanning it, the
    convention price series use for non-trading days), so the window
    is a ROWS frame over deltas, not a RANGE over days. Daily totals,
    deltas, gains and losses are exact integer cents summed in
    DECIMAL; RSI is ONE double chain (the Σg/(Σg+Σl) form avoids the
    RS division entirely — no ±∞ when losses are zero). All-flat
    windows (Σg+Σl = 0) emit NULL. The first observed day has no delta
    and emits no row. Window input is the calendar-scale daily table.
    Columns: event_type, day, delta_cents, n_deltas, rsi.
    """
    order = Window.partitionBy("event_type").orderBy("day")
    delta = (
        _daily_cents(spark, sf_dir).select(
            "event_type",
            "day",
            (F.col("s") - F.lag("s", 1).over(order))
            .cast("long")
            .alias("d"),
        )
        .filter(F.col("d").isNotNull())
    )
    wf = order.rowsBetween(-(RSI_PERIODS - 1), Window.currentRow)
    g = F.greatest(F.col("d"), F.lit(0)).cast("decimal(19,0)")
    l = F.greatest(-F.col("d"), F.lit(0)).cast("decimal(19,0)")
    win = delta.select(
        "event_type",
        "day",
        F.col("d").alias("delta_cents"),
        F.count(F.lit(1)).over(wf).cast("long").alias("n_deltas"),
        F.sum(g).over(wf).alias("sg"),
        F.sum(l).over(wf).alias("sl"),
    )
    tot = F.col("sg").cast("double") + F.col("sl").cast("double")
    rsi_val = F.lit(100.0) * F.col("sg").cast("double") / tot
    return win.select(
        "event_type",
        "day",
        "delta_cents",
        "n_deltas",
        F.when(tot > 0, snap6(rsi_val)).alias("rsi"),
    )


def drawdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Running drawdown of the daily event-value total per event type:
    how far today's level sits below its running peak, and the deepest
    such dip so far — the "metric fell X% from its high-water mark"
    monitor.

    The running peak is an UNBOUNDED-PRECEDING max over exact integer
    cents (order-free); per-day drawdown (peak − cur)/peak is ONE
    double chain snapped to the 1e-6 grid, and the running MAX of
    those snapped doubles is deterministic because every input double
    is bit-identical in both engines. peak ≥ cur > 0 whenever value
    totals are positive; a zero or negative peak (possible only if
    values sum negative) emits NULL drawdowns rather than a sign-
    flipped ratio. Window input is the calendar-scale daily table.
    Columns: event_type, day, cents, peak_cents, drawdown,
    max_drawdown.
    """
    run = (
        Window.partitionBy("event_type")
        .orderBy("day")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    peaked = _daily_cents(spark, sf_dir).select(
        "event_type",
        "day",
        F.col("s").cast("long").alias("cents"),
        F.max(F.col("s").cast("long")).over(run).alias("peak_cents"),
    )
    dd = snap6(
        (F.col("peak_cents").cast("double") - F.col("cents").cast("double"))
        / F.col("peak_cents").cast("double")
    )
    stepped = peaked.select(
        "event_type",
        "day",
        "cents",
        "peak_cents",
        F.when(F.col("peak_cents") > 0, dd).alias("drawdown"),
    )
    return stepped.select(
        "event_type",
        "day",
        "cents",
        "peak_cents",
        "drawdown",
        F.max("drawdown").over(run).alias("max_drawdown"),
    )
