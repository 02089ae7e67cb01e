"""Structured Streaming over the ``events`` table (SURVEY.md §7 phase 4).

The reference declares spark-streaming but never uses it (SURVEY.md
§2.8); this module is the engine's streaming surface. Each streamed
registry key pairs a module-level builder (an unstarted streaming
DataFrame over a parquet-directory source) with a batch twin, and both
are held to the same DuckDB oracle, proving the logical plan is
mode-agnostic.

Drain policy, owned by :func:`_drain` alone: a streamed key replays the
events file as ONE bounded ``availableNow`` run. The file is copied
into a temp work dir (with far-future sentinel files when watermark-held
state must flush), the builder starts under a state-partition count
sized from the source bytes, every micro-batch goes through an
idempotent ``foreachBatch`` overwrite sink, and the sink is read back,
stripped of sentinel rows and pinned with an eager ``localCheckpoint``
before the work dir is removed. At scale the source is an object-store
prefix (file-drop ingestion, exactly-once per file); only paths change.
``events_upsert_streamed`` keeps its own versioned MERGE sink.
"""

from __future__ import annotations

import contextlib
import math
import os
import shutil
import tempfile
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from bigdata1_spark.sources.tables import load_table

WINDOW = "1 hour"
WATERMARK = "1 day"
# Microsecond timestamp strings: both engines format UTC this way.
TS_US = "yyyy-MM-dd HH:mm:ss.SSSSSS"

# ~64 MB of bounded-source bytes per state-store partition: each stateful
# partition carries fixed per-batch overhead (store open/commit/snapshot
# files), so partition count must track state volume, not the session's
# shuffle default — 32 near-empty state partitions cost more machinery
# than the data they hold (measured 5.3 s → 2.0 s on the attribution
# drain at sf0.1). The same formula scales up: a 100 TB replay sizes to
# ~1.6 M partitions of real state instead of starving on the default.
_STATE_PARTITION_BYTES = 64 << 20


@contextlib.contextmanager
def _state_sized_partitions(
    spark: SparkSession, source_dir: str, python_state: bool = False
):
    """Set ``spark.sql.shuffle.partitions`` (which fixes the state-store
    partition count at first query start) from the bounded source's byte
    size, restoring the session default afterwards. A fresh checkpoint
    records the count in its offset log, so this only governs these
    bounded replay drains — a resumed production stream keeps whatever
    its checkpoint pinned.

    ``python_state=True`` marks drains whose state operator runs in
    PYTHON (``applyInPandasWithState`` / ``transformWithState``): their
    per-batch cost is dominated by per-GROUP Python round-trips, not
    state-store machinery, so the partition floor tracks available
    compute (half the cluster's cores, capped) instead of the 2 that
    byte-sizing gives a small replay. Measured on the sf0.1 drain at
    local[32]: floor 2 → 13.6 s, 8 → 7.7 s, 16 → 7.5 s, 32 → 9.3 s
    (interleaved mins) — the byte term still dominates at volume
    (a 100 TB replay sizes to ~1.6 M partitions either way)."""
    try:
        size = sum(
            os.path.getsize(os.path.join(source_dir, f))
            for f in os.listdir(source_dir)
            if not f.startswith(("_", "."))
        )
    except OSError:  # missing/unreadable source (e.g. empty-stream path)
        size = 0
    floor = 2
    if python_state:
        floor = min(
            max(spark.sparkContext.defaultParallelism // 2, 2), 64
        )
    n = max(floor, math.ceil(size / _STATE_PARTITION_BYTES))
    old = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", str(n))
    try:
        yield
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old)


def _windowed(events: DataFrame) -> DataFrame:
    """Tumbling-window aggregation shared by batch and streaming:
    per (hour, event_type): event count + exact value sum."""
    return (
        events.groupBy(
            F.window(F.col("ts"), WINDOW).alias("w"),
            F.col("event_type"),
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,4)"))
            .cast("double").alias("total_value"),
        )
        .select(
            F.date_format(F.col("w.start"), "yyyy-MM-dd HH:mm:ss")
            .alias("window_start"),
            "event_type",
            "n_events",
            "total_value",
        )
    )


def events_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch form — registry entry with a DuckDB time_bucket oracle."""
    return _windowed(load_table(spark, sf_dir, "events"))


def events_window_stream(spark: SparkSession, source_dir: str) -> DataFrame:
    """Streaming form: parquet file source → watermark → same windowed
    agg. Returns the (unstarted) streaming DataFrame; callers attach a
    sink (tests use the memory sink with outputMode=complete)."""
    stream = (
        _read_events_stream(spark, source_dir)
        .withWatermark("ts", WATERMARK)
    )
    return _windowed(stream)


def events_window_streamed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registry-facing end-to-end streaming run of the windowed agg:
    parquet file source → watermark + tumbling window → ``foreachBatch``
    parquet sink → read the sink back as a batch DataFrame.

    This gives the streaming path a full driver CORRECTNESS row against
    the SAME oracle as its batch twin ``events_window`` (identical
    logical plan via ``_windowed``); the stream-vs-batch tests already
    prove equivalence, this key banks it through the driver hash.

    The sink pattern is the production one: ``foreachBatch`` with an
    idempotent mode=overwrite write, so a replayed micro-batch after a
    failure rewrites the same output instead of duplicating it. With
    ``trigger(availableNow=True)`` the bounded source drains in one run
    and the query terminates — the batch-like replay mode used for
    backfills. At 100 TB the only change is the sink path (object
    store) and partitioning of the output; state stays bounded by the
    watermark either way. Complete output mode keeps every window in
    the result so the bounded replay matches the batch answer exactly.
    """
    return _drain(
        spark,
        sf_dir,
        lambda src: events_window_stream(spark, src),
        complete=True,
    )


def events_user_counts_streamed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registry-facing end-to-end run of the per-user running-count
    stream (``user_running_counts_stream``): bounded availableNow
    replay through a foreachBatch overwrite sink, returned as a batch
    DataFrame whose final state equals the batch groupBy — giving the
    UPDATE-mode stateful-aggregation path its own driver row next to
    ``events_window_streamed``'s append-mode windowed one.

    Complete output mode means the last micro-batch carries the full
    aggregate state, so the idempotent overwrite sink lands exactly
    the batch answer. last_seen is projected to a string the same way
    both engines format timestamps under UTC.
    Columns: user_id, n_events, last_seen.
    """
    return _drain(
        spark,
        sf_dir,
        lambda src: user_running_counts_stream(spark, src).select(
            "user_id",
            "n_events",
            F.date_format("last_seen", "yyyy-MM-dd HH:mm:ss")
            .alias("last_seen"),
        ),
        complete=True,
    )


def salted_agg_stream(
    spark: SparkSession, source_dir: str, n_salts: int = 16
) -> DataFrame:
    """Unstarted salted partial-agg stream — the state-side half of
    ``events_salted_agg_streamed`` (which documents why streaming
    skew needs pre-checkpoint salting). Exposed separately so the
    plan gate (tests/test_plans.py) can assert the source plan
    without executing a drain."""
    return (
        _read_events_stream(spark, source_dir)
        .withColumn(
            "__salt",
            F.pmod(F.xxhash64("user_id", "ts"), F.lit(n_salts)),
        )
        .groupBy("event_type", "__salt")
        .agg(
            F.count(F.lit(1)).alias("pn"),
            F.sum(F.col("value").cast("decimal(18,4)")).alias("pv"),
        )
    )


def events_salted_agg_streamed(
    spark: SparkSession, sf_dir: str, n_salts: int = 16
) -> DataFrame:
    """Streaming twin of ``plans.skew.skew_salted_agg`` — the case the
    salting module exists for (``plans/skew.py`` module docstring): AQE
    can split a skewed BATCH shuffle partition at runtime, but a
    streaming stateful aggregation's state partitioning is hashed on
    the grouping key and pinned by the checkpoint at first start —
    every update for a hot key lands on the SAME state partition
    forever, and no runtime replan can split it. Salting the streaming
    grouping key to (event_type, salt) spreads a hot key's update
    traffic and state across ``n_salts`` partitions; the FINAL merge
    down to event_type runs batch-side on the drained result, where
    the input is the pre-aggregated (|keys| × n_salts)-row state
    table, never raw events.

    The salt is ``xxhash64(user_id, ts) % n_salts`` — a pure function
    of the row, so a replayed micro-batch lands every event on the
    same salt (replay-idempotent) instead of re-rolling a
    nondeterministic spread. Counts and decimal value sums merge
    associatively, so the sink result equals the plain groupBy — which
    is exactly what the shared ``skew_salted_agg`` oracle pins.
    Complete output mode means the final micro-batch carries the full
    partial-state table, so merging the read-back equals merging in
    the sink.
    Columns: event_type, n_events, total_value.
    """
    partial = _drain(
        spark,
        sf_dir,
        lambda src: salted_agg_stream(spark, src, n_salts),
        complete=True,
    )
    return partial.groupBy("event_type").agg(
        F.sum("pn").cast("long").alias("n_events"),
        F.sum("pv").cast("double").alias("total_value"),
    )


def _read_events_stream(
    spark: SparkSession,
    source_dir: str,
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """Parquet-dir streaming source for events.

    A file stream needs an explicit schema, but hard-coding one bakes in
    the writer's timestamp encoding (exactly the bug that broke the
    round-4 testdata swap from nanos-bigint to micros-NTZ). Instead,
    read the schema from the parquet footers already in the directory —
    a metadata-only batch read, no data scan — and pipe the stream
    through the same ``normalize_event_ts`` the batch path uses, so the
    two ingestion paths cannot diverge. At scale the footer probe reads
    one object's metadata, irrespective of corpus size.
    """
    from bigdata1_spark.sources.tables import normalize_event_ts

    # Same dynamic conf as load_table: lets nanos-encoded files surface
    # as long instead of failing the read; no-op for micros encodings.
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    schema = spark.read.parquet(source_dir).schema
    reader = spark.readStream.schema(schema)
    if max_files_per_trigger is not None:
        # Source option (not a sink one): caps each micro-batch at N
        # files, so a bounded availableNow drain replays multi-batch.
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return normalize_event_ts(reader.parquet(source_dir))


def click_purchase_join_stream(
    spark: SparkSession, source_dir: str, horizon: str = "1 hour"
) -> DataFrame:
    """Stream-stream inner join — clicks matched to the same user's
    purchases within ``horizon`` AFTER the click.

    The event-time range condition plus watermarks on BOTH sides is
    what bounds the join state: a click can be dropped from state once
    the purchase watermark passes click_ts + horizon, and a purchase
    once the click watermark passes p_ts. Without the range condition
    the state grows forever — this is the canonical shape for
    attribution joins at scale. Columns: user_id, click_id, click_ts,
    purchase_ts, purchase_value.
    """
    clicks = (
        _read_events_stream(spark, source_dir)
        .filter(F.col("event_type") == "click")
        .select(
            "user_id",
            F.col("event_id").alias("click_id"),
            F.col("ts").alias("click_ts"),
        )
        .withWatermark("click_ts", horizon)
    )
    purchases = (
        _read_events_stream(spark, source_dir)
        .filter(F.col("event_type") == "purchase")
        .select(
            F.col("user_id").alias("p_user"),
            F.col("ts").alias("purchase_ts"),
            F.col("value").alias("purchase_value"),
        )
        .withWatermark("purchase_ts", horizon)
    )
    return clicks.join(
        purchases,
        (F.col("user_id") == F.col("p_user"))
        & (F.col("purchase_ts") >= F.col("click_ts"))
        & (
            F.col("purchase_ts")
            <= F.col("click_ts") + F.expr(f"INTERVAL {horizon}")
        ),
    ).select(
        "user_id", "click_id", "click_ts", "purchase_ts", "purchase_value"
    )


def _attribution_strings(joined: DataFrame) -> DataFrame:
    """Attribution-join output with both timestamps as µs strings.
    Columns: user_id, click_id, click_ts, purchase_ts, purchase_value."""
    return joined.select(
        "user_id",
        "click_id",
        F.date_format("click_ts", TS_US).alias("click_ts"),
        F.date_format("purchase_ts", TS_US).alias("purchase_ts"),
        "purchase_value",
    )


SALT_JOIN_N = 4


def click_purchase_join_stream_salted(
    spark: SparkSession,
    source_dir: str,
    horizon: str = "1 hour",
    n_salts: int = SALT_JOIN_N,
) -> DataFrame:
    """Salted variant of :func:`click_purchase_join_stream` — the
    replication recipe of ``plans.skew.salted_join`` applied to
    checkpoint-pinned stream-stream JOIN state.

    Why it exists (measured, not hypothetical): on the Zipf-skew twin
    the unsalted join PASSES but grinds ~35 minutes, because every
    click-state row for the hot user (17.9 % of all events) hashes to
    ONE state-store partition, and neither AQE nor the state store can
    split a key at runtime. Salting the state key to (user_id, salt)
    with ``salt = xxhash64(click_id) % n_salts`` — a pure function of
    the row, so replays land identically — spreads the hot user's
    click state and probe work across ``n_salts`` partitions. The
    purchase side is replicated once per salt (the small-side
    replication cost ``salted_join`` documents), so each (click,
    purchase) pair matches EXACTLY once: the click carries one salt
    value and exactly one purchase replica carries the same one.
    Join semantics — and therefore the oracle — are identical to the
    unsalted join. Columns: user_id, click_id, click_ts, purchase_ts,
    purchase_value.
    """
    clicks = (
        _read_events_stream(spark, source_dir)
        .filter(F.col("event_type") == "click")
        .select(
            "user_id",
            F.col("event_id").alias("click_id"),
            F.col("ts").alias("click_ts"),
            F.pmod(F.xxhash64("event_id"), F.lit(n_salts)).alias("c_salt"),
        )
        .withWatermark("click_ts", horizon)
    )
    purchases = (
        _read_events_stream(spark, source_dir)
        .filter(F.col("event_type") == "purchase")
        .select(
            F.col("user_id").alias("p_user"),
            F.col("ts").alias("purchase_ts"),
            F.col("value").alias("purchase_value"),
            F.explode(
                F.sequence(F.lit(0), F.lit(n_salts - 1)).cast(
                    "array<bigint>"
                )
            ).alias("p_salt"),
        )
        .withWatermark("purchase_ts", horizon)
    )
    return clicks.join(
        purchases,
        (F.col("user_id") == F.col("p_user"))
        & (F.col("c_salt") == F.col("p_salt"))
        & (F.col("purchase_ts") >= F.col("click_ts"))
        & (
            F.col("purchase_ts")
            <= F.col("click_ts") + F.expr(f"INTERVAL {horizon}")
        ),
    ).select(
        "user_id", "click_id", "click_ts", "purchase_ts", "purchase_value"
    )


def events_salted_join_streamed(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Registry-facing drain of the SALTED stream-stream interval join
    (:func:`click_purchase_join_stream_salted`) — the join-side twin of
    ``events_salted_agg_streamed``, pinned against the SAME batch
    self-join oracle as the unsalted ``events_attribution_streamed``
    (salting must not change the result multiset). Columns: user_id,
    click_id, click_ts, purchase_ts, purchase_value.
    """
    return _drain(
        spark,
        sf_dir,
        lambda src: _attribution_strings(
            click_purchase_join_stream_salted(spark, src)
        ),
    )


def dedup_stream(
    spark: SparkSession,
    source_dir: str,
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """Streaming exact dedup on the event id — the at-least-once
    ingestion guard every streaming pipeline needs (file redelivery,
    producer retries). ``dropDuplicatesWithinWatermark`` holds a seen
    key in the state store only until the event-time watermark passes
    it, so state is bounded by the redelivery horizon — plain
    ``dropDuplicates`` on a stream would grow state forever. Batch twin
    for the test: one row per distinct event_id."""
    stream = _read_events_stream(
        spark, source_dir, max_files_per_trigger=max_files_per_trigger
    ).withWatermark("ts", WATERMARK)
    return stream.dropDuplicatesWithinWatermark(["event_id"])


def _event_strings(events: DataFrame) -> DataFrame:
    """Event rows with ``ts`` as a µs string.
    Columns: event_id, user_id, event_type, ts_s, value."""
    return events.select(
        "event_id",
        "user_id",
        "event_type",
        F.date_format("ts", TS_US).alias("ts_s"),
        "value",
    )


def user_running_counts_stream(spark: SparkSession, source_dir: str) -> DataFrame:
    """Custom stateful operator demo: per-user running event count via
    update-mode streaming aggregation (state store backed). The
    DataFrame aggregation keeps per-key state across micro-batches —
    the Spark-native replacement for hand-rolled stateful operators."""
    stream = _read_events_stream(spark, source_dir)
    return stream.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.max("ts").alias("last_seen"),
    )


def _flush_source(
    sf_dir: str,
    work: str,
    event_types: tuple[str, ...] = ("flush",),
) -> str:
    """Build a bounded stream source directory: the events file plus two
    far-future sentinel files (user_id = -1, max_ts + 7/14 days, one row
    per requested event_type), ordered by mod-time for one-file-per-
    micro-batch drains.

    Append-mode streams only emit rows the watermark has finalized, and
    an availableNow drain terminates without a closing no-data batch —
    so the batch AFTER the first sentinel is what flushes every real
    row out of state. The drain drops ``user_id < 0`` rows from the
    result (an in-stream filter cannot be used: Catalyst pushes
    deterministic filters below EventTimeWatermark, which would stop
    the sentinels from advancing the clock). An events encoding the
    arrow writer cannot interpret raises rather than degrading.
    """
    src = os.path.join(work, "src")
    os.makedirs(src)
    data_file = os.path.join(src, "00_events.parquet")
    shutil.copy(os.path.join(sf_dir, "events.parquet"), data_file)
    os.utime(data_file, (1_000_000, 1_000_000))
    _write_sentinels_arrow(data_file, src, event_types)
    return src


def _write_sentinels_arrow(
    data_file: str, src: str, event_types: tuple[str, ...]
) -> None:
    """Write the two sentinel parquet files driver-side with pyarrow —
    the max-ts probe is a FOOTER-statistics read and each sentinel is a
    ≤2-row table, so no Spark job is spent on them. Sentinels reuse the
    source file's exact arrow schema, so the drain directory stays
    schema-homogeneous whatever the events encoding (µs/ns timestamps
    or epoch int64 — the sentinel ts is computed in the SOURCE unit).
    A 0-row events file yields 0-row sentinels."""
    import datetime

    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    pf = pq.ParquetFile(data_file)
    schema = pf.schema_arrow
    ts_type = schema.field("ts").type
    n_rows = pf.metadata.num_rows

    def _epoch_int(val) -> int:
        """stats/compute max → epoch integer in the column's own unit.
        Timestamp stats surface as datetime (µs precision — a ≤1 µs
        truncation under ns encoding is irrelevant to a +7/14-day
        sentinel); int64 columns surface as plain ints."""
        if hasattr(val, "as_py"):  # pyarrow scalar from the pc.max path
            val = val.as_py()
        if isinstance(val, int):
            return val
        if not isinstance(val, datetime.datetime):
            raise TypeError(f"unsupported ts stats value {val!r}")
        epoch = datetime.datetime(1970, 1, 1, tzinfo=val.tzinfo)
        micros = (val - epoch) // datetime.timedelta(microseconds=1)
        unit = ts_type.unit  # timestamp column
        if unit == "ns":
            return micros * 1_000
        if unit == "us":
            return micros
        if unit == "ms":
            return micros // 1_000
        return micros // 1_000_000  # "s"

    max_int = None
    if n_rows > 0:
        stats_max = None
        md = pf.metadata
        for rg in range(md.num_row_groups):
            for c in range(md.row_group(rg).num_columns):
                col = md.row_group(rg).column(c)
                if col.path_in_schema == "ts":
                    st = col.statistics
                    if st is None or not st.has_min_max:
                        stats_max = None
                        break
                    v = _epoch_int(st.max)
                    stats_max = v if stats_max is None else max(stats_max, v)
            else:
                continue
            break
        if stats_max is None:  # footer had no stats: one-column read
            stats_max = _epoch_int(pc.max(pf.read(columns=["ts"])["ts"]))
        max_int = stats_max
    if pa.types.is_timestamp(ts_type):
        per_day = {"s": 1, "ms": 10**3, "us": 10**6, "ns": 10**9}[
            ts_type.unit
        ] * 86_400
    else:  # epoch int64; unit decided by magnitude (tables.py rule)
        per_day = (
            86_400 * 10**9
            if max_int is not None and abs(max_int) >= 10**17
            else 86_400 * 10**6
        )

    for i, days in enumerate((7, 14), start=1):
        n = len(event_types) if n_rows > 0 else 0
        sent_ts = [max_int + days * per_day] * n if n else []
        values: dict[str, pa.Array] = {
            "event_id": pa.array(
                [-(i * 10 + j) for j in range(n)], type=pa.int64()
            ).cast(schema.field("event_id").type),
            "ts": pa.array(sent_ts, type=pa.int64()).cast(ts_type),
            "user_id": pa.array([-1] * n, type=pa.int64()).cast(
                schema.field("user_id").type
            ),
            "event_type": pa.array(
                list(event_types[:n]), type=pa.string()
            ).cast(schema.field("event_type").type),
        }
        # value/props are 0.0 / "" rather than NULL: sentinel rows are
        # dropped by the user_id filter, but a non-null payload keeps
        # every downstream null-handling path unchanged.
        if "value" in schema.names:
            values["value"] = pa.array(
                [0.0] * n, type=pa.float64()
            ).cast(schema.field("value").type)
        if "props" in schema.names:
            values["props"] = pa.array(
                [""] * n, type=pa.string()
            ).cast(schema.field("props").type)
        cols = [
            values.get(f.name, pa.nulls(n, type=f.type)) for f in schema
        ]
        dst = os.path.join(src, f"{i:02d}_sentinel.parquet")
        pq.write_table(
            pa.Table.from_arrays(cols, schema=pa.schema(list(schema))),
            dst,
        )
        os.utime(dst, (1_000_000 + i, 1_000_000 + i))


def sessionize_stream(
    spark: SparkSession,
    source_dir: str,
    gap_min: int = 30,
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """Custom stateful streaming operator: per-user sessionization via
    ``applyInPandasWithState``.

    Arbitrary per-key state (open-session start/end/count) is held in
    the state store across micro-batches; a session closes when the
    event-time watermark passes its gap timeout. This is the engine's
    pattern for stateful logic that windowed aggregation can't express
    (the batch twin is the gaps-and-islands ``sessionize`` query,
    oracle-checked in the registry — and
    ``events_stateful_sessions_streamed`` drains THIS operator against
    that same oracle). Emits only CLOSED sessions. State timestamps are
    kept at full microsecond precision (the state store holds plain
    BIGINTs; only the timeout clock is millisecond-grained).
    Columns: user_id, session_start, session_end, n_events.
    """
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    gap_us = gap_min * 60 * 1_000_000
    out_schema = (
        "user_id BIGINT, session_start TIMESTAMP, "
        "session_end TIMESTAMP, n_events BIGINT"
    )
    state_schema = "start BIGINT, end BIGINT, n BIGINT"

    def update(key, pdfs, state: GroupState):
        import pandas as pd

        if state.hasTimedOut:
            start, end, n = state.get
            state.remove()
            yield pd.DataFrame(
                {
                    "user_id": [key[0]],
                    "session_start": [pd.Timestamp(start, unit="us")],
                    "session_end": [pd.Timestamp(end, unit="us")],
                    "n_events": [n],
                }
            )
            return
        closed = []
        cur = state.get if state.exists else None
        ts_all = []
        for pdf in pdfs:
            # vectorized ns→µs conversion (guide §4.2): the old
            # per-element `t.value // 1000` generator walked every row
            # through pandas Timestamp objects in interpreted Python —
            # the hottest line of the drain's first micro-batch.
            # tz-guard (ADVICE r15): a tz-aware Series (possible under
            # future Arrow-to-pandas changes) must be normalized to
            # naive UTC before to_numpy, which the old Timestamp.value
            # path did implicitly.
            ser = pdf["ts"]
            if getattr(ser.dt, "tz", None) is not None:
                ser = ser.dt.tz_convert("UTC").dt.tz_localize(None)
            ts_all.append(ser.to_numpy("datetime64[ns]").astype("int64") // 1_000)
        import numpy as np

        merged = (
            np.sort(np.concatenate(ts_all)) if ts_all else np.empty(0, "int64")
        )
        for t in merged.tolist():
            if cur is None:
                cur = (t, t, 1)
            elif t - cur[1] > gap_us:
                closed.append(cur)
                cur = (t, t, 1)
            else:
                cur = (cur[0], t, cur[2] + 1)
        if cur is not None:
            state.update(cur)
            # ceil to the millisecond: state is microseconds but the
            # timeout API takes ms — flooring could fire the timeout up
            # to 1 ms BEFORE the gap boundary, splitting a session
            # whose next event lands exactly at last_ts + gap (the '>'
            # comparison above keeps that event in-session). Bounded
            # sentinel drains never hit this (one data micro-batch);
            # latent only for genuine multi-batch streams.
            state.setTimeoutTimestamp(-(-(cur[1] + gap_us) // 1000))
        if closed:
            yield pd.DataFrame(
                {
                    "user_id": [key[0]] * len(closed),
                    "session_start": [
                        pd.Timestamp(c[0], unit="us") for c in closed
                    ],
                    "session_end": [
                        pd.Timestamp(c[1], unit="us") for c in closed
                    ],
                    "n_events": [c[2] for c in closed],
                }
            )

    stream = (
        _read_events_stream(
            spark, source_dir, max_files_per_trigger=max_files_per_trigger
        )
        .withWatermark("ts", "1 hour")
        .select("user_id", "ts")
    )
    return stream.groupBy("user_id").applyInPandasWithState(
        update,
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode="append",
        timeoutConf=GroupStateTimeout.EventTimeTimeout,
    )


def _session_strings(sessions: DataFrame) -> DataFrame:
    """Sessionizer output with both bounds as µs strings.
    Columns: user_id, session_start, session_end, n_events."""
    return sessions.select(
        "user_id",
        F.date_format("session_start", TS_US).alias("session_start"),
        F.date_format("session_end", TS_US).alias("session_end"),
        "n_events",
    )


def sessionize_stream_tws(
    spark: SparkSession,
    source_dir: str,
    gap_min: int = 30,
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """Per-user sessionization on the Spark-4 ``transformWithState``
    arbitrary-stateful API — the modern twin of
    :func:`sessionize_stream` (``applyInPandasWithState``), kept
    semantically bit-identical so both drain against the SAME
    gaps-and-islands oracle.

    The StatefulProcessor surface replaces the single opaque state
    tuple + GroupStateTimeout with named state variables
    (``getValueState``) and explicit event-time timers
    (``registerTimer`` / ``handleExpiredTimer``), which is what a
    production pipeline migrates to on Spark 4: typed state that can
    evolve schema, multiple variables per key, and timers decoupled
    from state updates. Session gap uses ``>`` (an event at exactly
    last_ts + gap stays in-session) and state holds microsecond
    BIGINTs, matching the batch ``sessionize`` key exactly.
    Columns: user_id, session_start, session_end, n_events.
    """
    from pyspark.sql.streaming.stateful_processor import (
        StatefulProcessor,
        StatefulProcessorHandle,
    )

    gap_us = gap_min * 60 * 1_000_000
    out_schema = (
        "user_id BIGINT, session_start TIMESTAMP, "
        "session_end TIMESTAMP, n_events BIGINT"
    )

    def _emit(key, sessions):
        import pandas as pd

        return pd.DataFrame(
            {
                "user_id": [key[0]] * len(sessions),
                "session_start": [
                    pd.Timestamp(s[0], unit="us") for s in sessions
                ],
                "session_end": [
                    pd.Timestamp(s[1], unit="us") for s in sessions
                ],
                "n_events": [s[2] for s in sessions],
            }
        )

    class SessionProcessor(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle) -> None:
            self._handle = handle
            self._open = handle.getValueState(
                "open", "start BIGINT, end BIGINT, n BIGINT"
            )

        def handleInputRows(self, key, rows, timerValues):
            import numpy as np

            # vectorized ns→µs conversion + tz-guard, same as
            # sessionize_stream
            def _us(pdf):
                ser = pdf["ts"]
                if getattr(ser.dt, "tz", None) is not None:
                    ser = ser.dt.tz_convert("UTC").dt.tz_localize(None)
                return ser.to_numpy("datetime64[ns]").astype("int64") // 1_000

            ts_all = [_us(pdf) for pdf in rows]
            merged = (
                np.sort(np.concatenate(ts_all))
                if ts_all
                else np.empty(0, "int64")
            )
            cur = self._open.get() if self._open.exists() else None
            closed = []
            for t in merged.tolist():
                if cur is None:
                    cur = (t, t, 1)
                elif t - cur[1] > gap_us:
                    closed.append(cur)
                    cur = (t, t, 1)
                else:
                    cur = (cur[0], t, cur[2] + 1)
            if cur is not None:
                self._open.update(cur)
                # one live timer per key: drop the stale gap deadline
                # before arming the new one (timers are not replaced
                # implicitly, unlike GroupState's single timeout)
                for expiry in list(self._handle.listTimers()):
                    self._handle.deleteTimer(expiry)
                # ceil to ms for the same reason as the GroupState
                # twin: flooring could fire 1 ms before the boundary
                self._handle.registerTimer(-(-(cur[1] + gap_us) // 1000))
            if closed:
                yield _emit(key, closed)

        def handleExpiredTimer(self, key, timerValues, expiredTimerInfo):
            if not self._open.exists():
                return
            cur = self._open.get()
            # Guard against a stale timer racing a state update: only
            # finalize if the expired deadline is the one the CURRENT
            # open session armed (same ceil-to-ms arithmetic as
            # handleInputRows). A stale expiry would otherwise close a
            # session that new events have since extended.
            deadline_ms = -(-(cur[1] + gap_us) // 1000)
            if expiredTimerInfo.getExpiryTimeInMs() < deadline_ms:
                return
            self._open.clear()
            yield _emit(key, [cur])

        def close(self) -> None:
            pass

    stream = (
        _read_events_stream(
            spark, source_dir, max_files_per_trigger=max_files_per_trigger
        )
        .withWatermark("ts", "1 hour")
        .select("user_id", "ts")
    )
    return stream.groupBy("user_id").transformWithStateInPandas(
        statefulProcessor=SessionProcessor(),
        outputStructType=out_schema,
        outputMode="append",
        timeMode="eventTime",
    )


@contextlib.contextmanager
def _rocksdb_state_store(spark: SparkSession):
    """``transformWithState`` requires the RocksDB state-store provider
    (its column-family layout backs named state variables + timers).
    Scope the provider switch to the drain and restore the session
    default so the HDFS-backed keys keep their checkpoint contracts."""
    key = "spark.sql.streaming.stateStore.providerClass"
    old = spark.conf.get(key, None)
    spark.conf.set(
        key,
        "org.apache.spark.sql.execution.streaming.state."
        "RocksDBStateStoreProvider",
    )
    try:
        yield
    finally:
        if old is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, old)


def _drain(
    spark: SparkSession,
    sf_dir: str,
    build: Callable[[str], DataFrame],
    *,
    complete: bool = False,
    flush: tuple[str, ...] | None = None,
    copies: int = 1,
    python_state: bool = False,
) -> DataFrame:
    """The drain policy every streamed key except the upsert shares:
    one bounded ``availableNow`` run of ``build(src)``, the unstarted
    stream over a fresh source directory, returned as a batch frame.

    * Source: ``copies`` copies of ``events.parquet`` or, when ``flush``
      names sentinel event types, the :func:`_flush_source` layout.
    * Run: under :func:`_state_sized_partitions` (``python_state`` for
      Python-state operators), through a ``foreachBatch`` sink whose
      writes are idempotent under replay. ``complete`` output
      overwrites the whole sink (the last micro-batch carries the full
      result); append output writes each micro-batch to its own
      ``batch=<id>`` directory, so a replayed batch overwrites only
      itself and reading the tree back returns the union.
    * Read-back: a source that yields no micro-batch never creates the
      sink and reads back as an empty frame with the stream's schema;
      sentinel rows (``user_id < 0``) are dropped; the result is pinned
      with an eager ``localCheckpoint`` before the temp work dir is
      removed, which happens on return and on raise alike.
    """
    work = tempfile.mkdtemp(prefix="bigdata1_drain_")
    try:
        if flush is None:
            src = os.path.join(work, "src")
            os.makedirs(src)
            for i in range(copies):
                shutil.copy(
                    os.path.join(sf_dir, "events.parquet"),
                    os.path.join(src, f"events_{i}.parquet"),
                )
        else:
            src = _flush_source(sf_dir, work, flush)
        stream_df = build(src)
        out = os.path.join(work, "out")

        def write_batch(batch_df: DataFrame, batch_id: int) -> None:
            path = out if complete else os.path.join(out, f"batch={batch_id}")
            batch_df.write.mode("overwrite").parquet(path)

        with _state_sized_partitions(spark, src, python_state=python_state):
            (
                stream_df.writeStream.foreachBatch(write_batch)
                .outputMode("complete" if complete else "append")
                .option("checkpointLocation", os.path.join(work, "ckpt"))
                .trigger(availableNow=True)
                .start()
                .awaitTermination()
            )
        if os.path.isdir(out):
            # batch=<id> reads back as an inferred partition column —
            # sink bookkeeping, not part of the result contract
            result = spark.read.parquet(out).drop("batch")
        else:
            result = spark.createDataFrame([], stream_df.schema)
        if flush is not None:
            result = result.filter(F.col("user_id") >= 0)
        return result.localCheckpoint(eager=True)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def events_attribution_streamed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registry-facing end-to-end run of the stream-stream interval
    join (``click_purchase_join_stream``): clicks attributed to same-
    user purchases within 1 hour, drained with availableNow through the
    idempotent per-batch sink and returned as a batch DataFrame.

    This banks the THIRD streaming pattern (after the append-mode
    windowed agg and the update-mode stateful count) through a full
    driver hash row: dual-watermark join state, bounded by the interval
    condition on both sides. The oracle is the equivalent batch
    self-join. Columns: user_id, click_id, click_ts, purchase_ts,
    purchase_value.
    """
    return _drain(
        spark,
        sf_dir,
        lambda src: _attribution_strings(click_purchase_join_stream(spark, src)),
    )


def events_dedup_streamed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registry-facing end-to-end run of the streaming ingestion guard
    (``dedup_stream``): the source directory receives the events file
    TWICE (simulated at-least-once redelivery), and
    ``dropDuplicatesWithinWatermark`` on event_id must collapse the
    second copy — state bounded by the watermark horizon, unlike a
    plain dropDuplicates whose state grows forever.

    The oracle is simply the single-copy events table (one row per
    event_id), so the driver hash proves the guard removed EXACTLY the
    redelivered rows. Columns: event_id, user_id, event_type, ts_s,
    value.
    """
    return _drain(
        spark,
        sf_dir,
        lambda src: _event_strings(dedup_stream(spark, src)),
        copies=2,
    )


SLIDE_DURATION = "2 hours"
SLIDE_STEP = "1 hour"


def _sliding(events: DataFrame) -> DataFrame:
    """Sliding-window aggregation shared by batch and streaming: each
    event lands in TWO overlapping 2-hour windows (1-hour slide).
    Catalyst expands the window memberships map-side (an Expand of
    duration/slide = 2 rows per event) before the single aggregation
    shuffle — the membership fan-out never crosses the network
    unaggregated."""
    return (
        events.groupBy(
            F.window(F.col("ts"), SLIDE_DURATION, SLIDE_STEP).alias("w"),
            F.col("event_type"),
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,4)"))
            .cast("double")
            .alias("total_value"),
        )
        .select(
            F.date_format(F.col("w.start"), "yyyy-MM-dd HH:mm:ss").alias(
                "window_start"
            ),
            "event_type",
            "n_events",
            "total_value",
        )
    )


def events_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch form of the sliding-window agg — full oracle (each event
    contributes to the hour-aligned window it falls in AND the one
    starting an hour earlier)."""
    return _sliding(load_table(spark, sf_dir, "events"))


def sliding_stream(spark: SparkSession, source_dir: str) -> DataFrame:
    """Unstarted sliding-window stream (watermark + ``_sliding``) —
    exposed for the source-plan gate in tests/test_plans.py."""
    return _sliding(
        _read_events_stream(spark, source_dir).withWatermark("ts", WATERMARK)
    )


def events_sliding_streamed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end streaming run of the sliding-window agg: watermark +
    overlapping windows → complete-mode foreachBatch overwrite sink →
    read back. Same oracle as the batch twin ``events_sliding``
    (identical logical plan via ``_sliding``); proves overlapping
    window-state handling, the one streaming shape the tumbling keys
    don't cover. State at scale: windows-per-event is duration/slide
    (2 here) — state size is bounded by watermark horizon × slide
    count, independent of input volume."""
    return _drain(
        spark,
        sf_dir,
        lambda src: sliding_stream(spark, src),
        complete=True,
    )


def _latest_per_user(df: DataFrame) -> DataFrame:
    """Argmax per user by (ts, event_id) — associative and idempotent,
    which is what makes the streaming MERGE below replay-safe: merging
    a batch twice, or in any order, yields the same winners."""
    from pyspark.sql import Window

    w = Window.partitionBy("user_id").orderBy(
        F.desc("ts"), F.desc("event_id")
    )
    return (
        df.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .drop("rn")
    )


def upsert_source_stream(spark: SparkSession, source_dir: str) -> DataFrame:
    """Unstarted CDC-source stream feeding the upsert MERGE sink
    (``events_upsert_streamed``) — one file per micro-batch so the
    merge genuinely runs cross-batch. Exposed for the source-plan
    gate in tests/test_plans.py."""
    return _read_events_stream(
        spark, source_dir, max_files_per_trigger=1
    ).select("user_id", "event_id", "event_type", "ts", "value")


def events_upsert_streamed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming upsert (MERGE) sink over plain parquet — the CDC
    pattern a table format gives you, built from primitives: maintain
    "latest event per user" across MULTIPLE micro-batches.

    The source is split into two files drained one per micro-batch
    (``maxFilesPerTrigger=1``), so the merge genuinely runs cross-batch
    state through the sink, not a single-batch drain. Each batch writes
    a full new VERSION directory (``v=<batch_id>``) computed as
    latest-per-user over (previous version ∪ batch) — the
    object-store-safe way to upsert without a table format: no
    read-modify-write of a live path, and a replayed batch rebuilds
    its own version from its predecessor, so recovery is exactly-once.
    The merge function (argmax by ts, event_id) is associative +
    idempotent, which is what makes that replay claim true.

    At scale each version write shuffles once on user_id; table
    formats (Delta/Iceberg) replace the full rewrite with file-level
    merge-on-read, but the orchestration shown here is identical.
    Oracle: batch latest-event-per-user over the events table.
    Columns: user_id, event_id, event_type, ts_s, value.
    """
    import glob

    work = tempfile.mkdtemp(prefix="bigdata1_upsert_stream_")
    try:
        src = os.path.join(work, "src")
        os.makedirs(src)
        # Split the source deterministically into two half-files so the
        # bounded drain produces two ordered micro-batches.
        ev = load_table(spark, sf_dir, "events")
        for i in range(2):
            half_dir = os.path.join(work, f"half{i}")
            ev.where(
                F.pmod(F.xxhash64("event_id"), F.lit(2)) == i
            ).coalesce(1).write.parquet(half_dir)
            (part,) = glob.glob(os.path.join(half_dir, "part-*.parquet"))
            dst = os.path.join(src, f"{i:02d}.parquet")
            shutil.move(part, dst)
            os.utime(dst, (1_000_000 + i, 1_000_000 + i))
        out = os.path.join(work, "out")
        os.makedirs(out)

        def merge_batch(batch_df: DataFrame, batch_id: int) -> None:
            versions = sorted(glob.glob(os.path.join(out, "v=*")))
            prev = (
                spark.read.parquet(versions[-1])
                if versions
                else batch_df.limit(0)
            )
            merged = _latest_per_user(
                prev.unionByName(_latest_per_user(batch_df))
            )
            merged.write.mode("overwrite").parquet(
                os.path.join(out, f"v={batch_id:05d}")
            )

        stream = upsert_source_stream(spark, src)
        with _state_sized_partitions(spark, src):
            query = (
                stream.writeStream.foreachBatch(merge_batch)
                .outputMode("append")
                .option("checkpointLocation", os.path.join(work, "ckpt"))
                .trigger(availableNow=True)
                .start()
            )
            query.awaitTermination()
        versions = sorted(glob.glob(os.path.join(out, "v=*")))
        if len(versions) < 2:  # explicit raise: survives python -O
            raise AssertionError(
                f"expected multi-batch upsert, got {len(versions)} versions"
            )
        final = _event_strings(spark.read.parquet(versions[-1]))
        return final.localCheckpoint(eager=True)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def session_window_stream(
    spark: SparkSession, source_dir: str, gap_min: int = 30
) -> DataFrame:
    """Unstarted native ``session_window`` aggregation stream (append
    mode, watermark-bounded state) — the transform half of
    ``events_session_streamed``. Exposed for the source-plan gate in
    tests/test_plans.py."""
    stream = _read_events_stream(
        spark, source_dir, max_files_per_trigger=1
    ).withWatermark("ts", WATERMARK)
    return (
        stream.groupBy(
            F.session_window("ts", f"{gap_min} minutes"),
            F.col("user_id"),
        )
        .agg(
            F.date_format(F.min("ts"), TS_US).alias("session_start"),
            F.date_format(F.max("ts"), TS_US).alias("session_end"),
            F.count(F.lit(1)).alias("n_events"),
        )
        .select("user_id", "session_start", "session_end", "n_events")
    )


def events_session_streamed(
    spark: SparkSession, sf_dir: str, gap_min: int = 30
) -> DataFrame:
    """Streaming twin of ``session_window_native``: native
    ``session_window`` aggregation over the event stream in APPEND mode
    — the first append-mode *aggregation* in this module (the windowed
    agg uses complete mode; the join and dedup drains emit eagerly).

    Append mode only emits a session once the watermark passes its end,
    and a bounded availableNow drain stops when the data runs out — so
    sessions inside the final watermark horizon would be withheld
    forever (and an availableNow drain terminates without running a
    closing no-data micro-batch, measured here: single-sentinel runs
    leave the last day's sessions in state). The production answer is
    sentinel flush events: two schema-matched far-future rows
    (user_id = -1, max_ts + 7/14 days) in their own files, drained one
    file per micro-batch — the batch AFTER the first sentinel runs with
    the advanced watermark and emits every finalized real session. The
    sentinel rows must flow through the watermark node to drive the
    clock — an in-stream ``user_id >= 0`` filter does NOT work, because
    Catalyst pushes deterministic filters below EventTimeWatermark
    (measured: the sentinels never advanced the clock) — so sentinel
    sessions are dropped from the read-back batch result instead.

    State is bounded by the watermark horizon (sessions evict once
    finalized), which is what makes this the scale path: a 100 TB
    replay holds only in-horizon sessions, never the whole history.
    Oracle: same gaps-and-islands SQL as the batch native key
    (``>=`` gap boundary). Columns: user_id, session_start,
    session_end, n_events.
    """
    return _drain(
        spark,
        sf_dir,
        lambda src: session_window_stream(spark, src, gap_min),
        flush=("flush",),
    )


def events_stateful_sessions_streamed(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Registry-facing drain of the ``applyInPandasWithState``
    sessionizer — the CUSTOM-stateful-operator pattern (arbitrary
    per-key state + event-time timeouts), now with full oracle parity:
    microsecond-precision state means the drained sessions hash-match
    the SAME gaps-and-islands oracle as the batch ``sessionize`` key
    (gap semantics ``>``, unlike the native session_window's ``>=``).

    Open sessions only emit when the event-time timeout fires, so the
    bounded drain uses the sentinel-flush source: the micro-batch after
    the first sentinel runs every real key's timeout. This banks the
    last streaming execution surface (grouped custom state) through a
    driver hash row. Columns: user_id, session_start, session_end,
    n_events.
    """
    return _drain(
        spark,
        sf_dir,
        lambda src: _session_strings(
            sessionize_stream(spark, src, max_files_per_trigger=1)
        ),
        flush=("flush",),
        python_state=True,
    )


def events_tws_sessions_streamed(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Drain of the Spark-4 ``transformWithState`` sessionizer
    (:func:`sessionize_stream_tws`) — the modern arbitrary-stateful API
    (named state variables + explicit event-time timers), drained
    against the SAME gaps-and-islands oracle as the batch ``sessionize``
    key and its ``applyInPandasWithState`` twin, so the two stateful
    surfaces are proven bit-identical on the same data.

    NOT a registry key in this container: the TWS Python runner
    requires ``google.protobuf`` (state-server protocol), which is
    absent here — the drain fails with
    STREAMING_PYTHON_RUNNER_INITIALIZATION_FAILURE. The parity test in
    tests/test_streaming.py runs it wherever the runtime supports it
    and skips with that reason otherwise.

    ``transformWithState`` requires the RocksDB state-store provider
    (column families back the named state + timer registers), so the
    drain runs inside :func:`_rocksdb_state_store`, which scopes the
    provider switch and restores the session default afterward.
    Columns: user_id, session_start, session_end, n_events.
    """
    with _rocksdb_state_store(spark):
        return _drain(
            spark,
            sf_dir,
            lambda src: _session_strings(
                sessionize_stream_tws(spark, src, max_files_per_trigger=1)
            ),
            flush=("flush",),
            python_state=True,
        )


def click_purchase_leftjoin_stream(
    spark: SparkSession, source_dir: str, horizon: str = "1 hour"
) -> DataFrame:
    """Unstarted stream-stream LEFT OUTER interval join (dual
    watermarks, eviction-driven NULL emission) — the transform half of
    ``events_leftjoin_streamed``. Exposed for the source-plan gate in
    tests/test_plans.py."""
    clicks = (
        _read_events_stream(spark, source_dir, max_files_per_trigger=1)
        .filter(F.col("event_type") == "click")
        .select(
            "user_id",
            F.col("event_id").alias("click_id"),
            F.col("ts").alias("click_ts"),
        )
        .withWatermark("click_ts", horizon)
    )
    purchases = (
        _read_events_stream(spark, source_dir, max_files_per_trigger=1)
        .filter(F.col("event_type") == "purchase")
        .select(
            F.col("user_id").alias("p_user"),
            F.col("ts").alias("purchase_ts"),
            F.col("value").alias("purchase_value"),
        )
        .withWatermark("purchase_ts", horizon)
    )
    joined = clicks.join(
        purchases,
        (F.col("user_id") == F.col("p_user"))
        & (F.col("purchase_ts") >= F.col("click_ts"))
        & (
            F.col("purchase_ts")
            <= F.col("click_ts") + F.expr(f"INTERVAL {horizon}")
        ),
        "left_outer",
    )
    return _attribution_strings(joined)


def events_leftjoin_streamed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream LEFT OUTER interval join: every click, attributed
    to a same-user purchase within 1 hour where one exists, emitted
    with nulls where none does.

    The outer side is the hard streaming case: an unmatched click can
    only emit once the watermark proves no matching purchase can still
    arrive (wm past click_ts + horizon), so correctness depends on
    state *eviction*, not just matching — exactly what the inner-join
    key (``events_attribution_streamed``) cannot exercise. The bounded
    drain flushes eviction with sentinel click+purchase pairs (both
    types, because each side's filter runs before its watermark node —
    a flush row must survive the filter to advance that side's clock).
    Columns: user_id, click_id, click_ts, purchase_ts, purchase_value
    (last two NULL for unmatched clicks).
    """
    return _drain(
        spark,
        sf_dir,
        lambda src: click_purchase_leftjoin_stream(spark, src),
        flush=("click", "purchase"),
    )


def enrich_stream(
    spark: SparkSession, source_dir: str, sf_dir: str
) -> DataFrame:
    """Unstarted stream-static enrichment join (no watermark, no join
    state; the static dim is a batch relation re-resolved per
    micro-batch) — the transform half of ``events_enrich_streamed``.
    Exposed for the source-plan gate in tests/test_plans.py."""
    dim = (
        load_table(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(F.date_format(F.min("ts"), "yyyy-MM-dd").alias("cohort"))
    )
    stream = _read_events_stream(spark, source_dir)
    return stream.join(F.broadcast(dim), "user_id").select(
        "event_id",
        "user_id",
        "event_type",
        F.date_format("ts", TS_US).alias("ts_s"),
        "cohort",
    )


def events_enrich_streamed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-STATIC join: the event stream enriched against a static
    dimension (per-user first-seen cohort, computed batch-side) — the
    enrichment pattern behind almost every production stream (user
    profiles, device registries, feature stores).

    Unlike stream-stream joins this needs NO watermark and NO join
    state: the static side is planned as an ordinary batch relation
    (broadcast here), re-resolved per micro-batch. The drain needs no
    sentinel flush either — rows emit as they arrive, which is exactly
    the property that distinguishes this join class. Oracle: the same
    join run fully in batch. Columns: event_id, user_id, event_type,
    ts_s, cohort.
    """
    return _drain(
        spark, sf_dir, lambda src: enrich_stream(spark, src, sf_dir)
    )
