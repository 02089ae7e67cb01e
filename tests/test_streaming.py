"""Structured Streaming demos: the batch-checked windowed aggregation
must produce identical results when run as a stream, and the stateful
per-user aggregation must hold state across the source."""

from __future__ import annotations

import shutil

import pytest

from bigdata1_spark.streaming import events as se


@pytest.fixture()
def stream_dir(tmp_path, sf_dir):
    """Parquet-directory source materialized from the events table
    (file-drop ingestion shape)."""
    d = tmp_path / "events_stream"
    d.mkdir()
    shutil.copy(f"{sf_dir}/events.parquet", d / "part-000.parquet")
    return str(d)


def _run_stream(df, name: str):
    q = (
        df.writeStream.format("memory")
        .queryName(name)
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    return q


def test_stream_matches_batch(spark, sf_dir, stream_dir):
    from pyspark.sql import functions as F

    batch = {
        tuple(r)
        for r in se.events_window(spark, sf_dir).collect()
    }
    q = _run_stream(
        se.window_stream(spark, stream_dir, F.window("ts", se.WINDOW)),
        "win_stream",
    )
    try:
        got = {tuple(r) for r in spark.sql("SELECT * FROM win_stream").collect()}
    finally:
        q.stop()
    assert got == batch


def test_stateful_user_counts(spark, sf_dir, stream_dir):
    q = _run_stream(
        se.user_running_counts_stream(spark, stream_dir), "user_counts"
    )
    try:
        rows = spark.sql("SELECT * FROM user_counts").collect()
    finally:
        q.stop()
    assert len(rows) > 0
    from bigdata1_spark.sources.tables import load_table
    import pyspark.sql.functions as F

    expect = {
        (r["user_id"], r["n"])
        for r in load_table(spark, sf_dir, "events")
        .groupBy("user_id").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    got = {(r["user_id"], r["n_events"]) for r in rows}
    assert got == expect


def test_stateful_sessionize_stream(spark, sf_dir, stream_dir):
    """applyInPandasWithState sessionization: closed sessions from the
    stream must be a subset of (and consistent with) the batch
    gaps-and-islands sessionization; sessions still open at end-of-
    stream are withheld by the watermark."""
    from bigdata1_spark.operators.relational import sessionize

    q = (
        se.sessionize_stream(spark, stream_dir)
        .writeStream.format("memory")
        .queryName("sess_stream")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    got = {
        (r["user_id"], str(r["session_start"]), r["n_events"])
        for r in spark.sql("select * from sess_stream").collect()
    }
    batch = {
        (r["user_id"], r["session_start"], r["n_events"])
        for r in sessionize(spark, sf_dir).collect()
    }
    # string formats differ (batch uses micros suffix) — compare on the
    # (user, start-to-seconds, count) projection
    batch_proj = {(u, s[:19], n) for (u, s, n) in batch}
    got_proj = {(u, s[:19], n) for (u, s, n) in got}
    assert got_proj, "stream produced no closed sessions"
    assert got_proj <= batch_proj, (
        f"stream sessions not in batch set: {sorted(got_proj - batch_proj)[:5]}"
    )


def test_stream_stream_join_matches_batch(spark, sf_dir, stream_dir):
    """The watermarked stream-stream interval join must produce exactly
    the batch interval join's result (all events fit within the
    watermark horizon of a single micro-batch here, so no row is
    legitimately withheld)."""
    import pyspark.sql.functions as F
    from bigdata1_spark.sources.tables import load_table

    ev = load_table(spark, sf_dir, "events")
    clicks = ev.filter(F.col("event_type") == "click").select(
        "user_id",
        F.col("event_id").alias("click_id"),
        F.col("ts").alias("click_ts"),
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("p_user"),
        F.col("ts").alias("purchase_ts"),
        F.col("value").alias("purchase_value"),
    )
    batch = {
        tuple(map(str, r))
        for r in clicks.join(
            purchases,
            (F.col("user_id") == F.col("p_user"))
            & (F.col("purchase_ts") >= F.col("click_ts"))
            & (F.col("purchase_ts")
               <= F.col("click_ts") + F.expr("INTERVAL 1 hour")),
        )
        .select("user_id", "click_id", "click_ts",
                "purchase_ts", "purchase_value")
        .collect()
    }
    q = (
        se.click_purchase_join_stream(spark, stream_dir)
        .writeStream.format("memory")
        .queryName("cp_join")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    try:
        got = {
            tuple(map(str, r))
            for r in spark.sql("SELECT * FROM cp_join").collect()
        }
    finally:
        q.stop()
    assert got == batch


def test_dedup_stream_drops_redelivered_files(spark, sf_dir, tmp_path):
    """The same source file delivered twice (at-least-once redelivery)
    must come out exactly once per event_id."""
    d = tmp_path / "events_dup"
    d.mkdir()
    shutil.copy(f"{sf_dir}/events.parquet", d / "part-000.parquet")
    shutil.copy(f"{sf_dir}/events.parquet", d / "part-001.parquet")
    q = (
        se.dedup_stream(spark, str(d))
        .writeStream.format("memory")
        .queryName("dedup_stream")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    try:
        n_out = spark.sql(
            "SELECT COUNT(*) AS n, COUNT(DISTINCT event_id) AS d "
            "FROM dedup_stream"
        ).first()
    finally:
        q.stop()
    from bigdata1_spark.sources.tables import load_table

    n_batch = (
        load_table(spark, sf_dir, "events").select("event_id").distinct()
        .count()
    )
    assert n_out["n"] == n_out["d"] == n_batch


def test_foreachbatch_parquet_sink(spark, sf_dir, stream_dir, tmp_path):
    """foreachBatch sink: each micro-batch lands as parquet via the
    batch writer (the escape hatch for sinks Structured Streaming lacks
    natively); total rows must equal the source."""
    out = str(tmp_path / "sink")

    def write_batch(batch_df, batch_id: int):
        batch_df.write.mode("append").parquet(out)

    q = (
        se._read_events_stream(spark, stream_dir)
        .writeStream.foreachBatch(write_batch)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    n_src = se.events_window(spark, sf_dir).agg({"n_events": "sum"}).first()[0]
    n_out = spark.read.parquet(out).count()
    assert n_out == n_src


def test_sliding_stream_matches_batch(spark, sf_dir):
    """Overlapping-window state: the bounded sliding-window stream must
    land exactly the batch answer (same logical plan via _windowed)."""
    batch = {
        tuple(r) for r in se.events_sliding(spark, sf_dir).collect()
    }
    got = {
        tuple(r)
        for r in se.events_sliding_streamed(spark, sf_dir).collect()
    }
    assert got == batch
    # every event belongs to exactly 2 windows: total n_events doubles
    from bigdata1_spark.sources.tables import load_table

    n = load_table(spark, sf_dir, "events").count()
    assert sum(r[2] for r in batch) == 2 * n


def test_bounded_append_empty_source(spark, sf_dir):
    """A bounded stream over an empty source drains zero micro-batches;
    the sink directory never exists and the drain must hand back an
    empty frame with the stream's schema instead of raising."""
    out = se._drain(
        spark,
        sf_dir,
        lambda src: spark.readStream.schema("x BIGINT, y STRING").parquet(
            src
        ),
        copies=0,
    )
    assert out.columns == ["x", "y"]
    assert out.count() == 0


def test_drain_removes_work_dir_on_return_and_raise(
    spark, sf_dir, tmp_path, monkeypatch
):
    """``tables.scratch``'s temp work dir is gone after a normal build
    AND after a build that raises, and the returned frame still
    collects once its directory is gone. Exercised directly and through
    the drain (source copy, checkpoint, sink)."""
    import os
    import tempfile

    from bigdata1_spark.sources.tables import scratch

    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    seen = []

    def write_back(work):
        seen.append(os.path.join(work, "t"))
        spark.range(5).write.parquet(seen[-1])
        return spark.read.parquet(seen[-1])

    def build(src):
        seen.append(src)
        return se._read_events_stream(spark, src).select("event_id")

    pinned = scratch("bigdata1_probe_", write_back)
    drained = se._drain(spark, sf_dir, build)
    for path in seen:
        assert not os.path.exists(os.path.dirname(path))
    assert sorted(r.id for r in pinned.collect()) == list(range(5))
    assert drained.count() > 0

    def failing(path):
        seen.append(path)
        raise RuntimeError("build failed")

    with pytest.raises(RuntimeError, match="build failed"):
        scratch("bigdata1_probe_", lambda work: failing(os.path.join(work, "t")))
    with pytest.raises(RuntimeError, match="build failed"):
        se._drain(spark, sf_dir, failing)

    assert len(seen) == 4
    for path in seen:
        assert path.startswith(str(tmp_path))
        assert not os.path.exists(os.path.dirname(path))
    assert os.listdir(tmp_path) == []


def test_checkpoint_resume_exactly_once(spark, sf_dir, tmp_path):
    """Checkpoint recovery: a bounded drain stops, MORE data arrives,
    and a NEW query on the same checkpoint must process only the new
    file — re-reading the first file (broken offset recovery) would
    double its rows; skipping the second would lose them. This is the
    restart contract every production stream depends on."""
    import glob
    import shutil

    from bigdata1_spark.sources.tables import load_table
    from bigdata1_spark.streaming import events as se

    src = tmp_path / "src"
    src.mkdir()
    out = tmp_path / "out"
    ckpt = str(tmp_path / "ckpt")
    total = load_table(spark, sf_dir, "events").count()

    def drain() -> None:
        stream = se._read_events_stream(spark, str(src)).select(
            "event_id", "user_id", "event_type"
        )

        def write_batch(bdf, bid):
            bdf.write.mode("overwrite").parquet(
                str(out / f"batch={bid}")
            )

        q = (
            stream.writeStream.foreachBatch(write_batch)
            .outputMode("append")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(180)

    # Run 1: only the events file. Run 2: a second copy under a new
    # name (distinct file => new offsets) after the first query ended.
    shutil.copy(f"{sf_dir}/events.parquet", src / "a.parquet")
    drain()
    batches_after_first = set(glob.glob(str(out / "batch=*")))
    shutil.copy(f"{sf_dir}/events.parquet", src / "b.parquet")
    drain()

    got = spark.read.parquet(str(out)).count()
    assert got == 2 * total, f"expected exactly-once {2 * total}, got {got}"
    # the restarted query must have continued batch numbering, not
    # rewritten the first run's directories
    assert batches_after_first <= set(glob.glob(str(out / "batch=*")))
    assert len(set(glob.glob(str(out / "batch=*")))) > len(
        batches_after_first
    )


def test_upsert_killed_mid_stream_resumes_to_same_result(
    spark, sf_dir, tmp_path
):
    """Kill-and-resume for the streaming MERGE (VERDICT r07 item 4):
    the sink failure is injected AFTER batch 1's version directory is
    written but BEFORE its offset commit, so the restart REPLAYS batch
    1 against a sink that already contains the failed attempt's output
    — the worst-case replay. The merge's associativity + idempotence
    claim (events.py::_latest_per_user) says the rebuilt version equals
    the uninterrupted run's; this test actually kills the query and
    checks it."""
    import glob
    import os

    from pyspark.sql import functions as F

    from bigdata1_spark.sources.tables import load_table
    from bigdata1_spark.streaming.events import (
        _latest_per_user,
        _read_events_stream,
    )

    src = tmp_path / "src"
    src.mkdir()
    out = tmp_path / "out"
    out.mkdir()
    ckpt = str(tmp_path / "ckpt")
    ev = load_table(spark, sf_dir, "events")
    for i in range(2):
        half_dir = tmp_path / f"half{i}"
        ev.where(F.pmod(F.xxhash64("event_id"), F.lit(2)) == i).coalesce(
            1
        ).write.parquet(str(half_dir))
        (part,) = glob.glob(str(half_dir / "part-*.parquet"))
        dst = str(src / f"{i:02d}.parquet")
        os.rename(part, dst)
        os.utime(dst, (1_000_000 + i, 1_000_000 + i))

    kill = {"armed": True}

    def merge_batch(batch_df, batch_id: int) -> None:
        versions = sorted(glob.glob(str(out / "v=*")))
        prev = (
            spark.read.parquet(versions[-1])
            if versions
            else batch_df.limit(0)
        )
        merged = _latest_per_user(prev.unionByName(_latest_per_user(batch_df)))
        merged.write.mode("overwrite").parquet(str(out / f"v={batch_id:05d}"))
        if batch_id >= 1 and kill["armed"]:
            kill["armed"] = False
            raise RuntimeError("injected kill after sink write")

    def drain() -> None:
        stream = _read_events_stream(
            spark, str(src), max_files_per_trigger=1
        ).select("user_id", "event_id", "event_type", "ts", "value")
        q = (
            stream.writeStream.foreachBatch(merge_batch)
            .outputMode("append")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(180)

    import pyspark.errors

    with pytest.raises(pyspark.errors.StreamingQueryException):
        drain()
    assert not kill["armed"], "kill never fired — batch 1 was not reached"
    drain()  # restart on the SAME checkpoint: batch 1 must replay

    versions = sorted(glob.glob(str(out / "v=*")))
    assert len(versions) == 2, f"expected v=00000 and v=00001: {versions}"
    got = {
        tuple(r)
        for r in spark.read.parquet(versions[-1])
        .select("user_id", "event_id")
        .collect()
    }
    want = {
        tuple(r)
        for r in _latest_per_user(ev).select("user_id", "event_id").collect()
    }
    assert got == want, "resumed merge diverged from the uninterrupted result"


def test_dedup_stream_killed_mid_stream_state_survives(
    spark, sf_dir, tmp_path
):
    """Kill-and-resume for the stateful dedup: batch 0 commits file A's
    distinct ids into the state store; the query is killed at the START
    of batch 1 (a full redelivery of file A); the restarted query must
    RECOVER the seen-ids state from the checkpoint and emit zero new
    rows — losing state on restart would double every event."""
    import glob
    import os

    from bigdata1_spark.sources.tables import load_table
    from bigdata1_spark.streaming.events import dedup_stream

    src = tmp_path / "src"
    src.mkdir()
    out = tmp_path / "out"
    out.mkdir()
    ckpt = str(tmp_path / "ckpt")
    for i in range(2):  # same file twice = at-least-once redelivery
        dst = str(src / f"{i:02d}.parquet")
        shutil.copy(f"{sf_dir}/events.parquet", dst)
        os.utime(dst, (1_000_000 + i, 1_000_000 + i))

    kill = {"armed": True}

    def write_batch(batch_df, batch_id: int) -> None:
        if batch_id >= 1 and kill["armed"]:
            kill["armed"] = False
            raise RuntimeError("injected kill before batch 1")
        batch_df.write.mode("overwrite").parquet(str(out / f"b={batch_id}"))

    def drain() -> None:
        stream = dedup_stream(spark, str(src), max_files_per_trigger=1)
        q = (
            stream.writeStream.foreachBatch(write_batch)
            .outputMode("append")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(180)

    import pyspark.errors

    with pytest.raises(pyspark.errors.StreamingQueryException):
        drain()
    assert not kill["armed"], "kill never fired — batch 1 was not reached"
    drain()

    total = spark.read.parquet(str(out)).count()
    n_distinct = (
        load_table(spark, sf_dir, "events").select("event_id").distinct()
        .count()
    )
    assert total == n_distinct, (
        f"state lost on restart: emitted {total}, distinct {n_distinct}"
    )


def test_session_streamed_killed_mid_drain_resumes_to_parity(
    spark, sf_dir, tmp_path
):
    """Kill-and-resume for the watermark-finalized APPEND aggregation
    (VERDICT r08 item 4): the native session_window drain is the most
    state-machinery-heavy key — sessions accrete in the state store
    across micro-batches and only emit when the sentinel-advanced
    watermark finalizes them. The events file is split in two so state
    spans multiple batches, then the kill is injected AFTER the first
    sentinel batch (the one that emits every finalized real session)
    writes its sink directory but BEFORE its offset commit — the
    restart must replay that emission batch from the checkpointed
    state snapshot against a sink already holding the failed attempt's
    output. Parity target: the uninterrupted registry drain."""
    import glob
    import os

    from pyspark.sql import functions as F

    from bigdata1_spark.sources.tables import load_table

    work = str(tmp_path / "work")
    os.makedirs(work)
    src = se._flush_source(sf_dir, work)
    # split the events file into two half-files (mod-times before the
    # sentinels') so open sessions live in the state store across a
    # batch boundary before the flush
    ev = load_table(spark, sf_dir, "events")
    ev_file = os.path.join(src, "00_events.parquet")
    os.remove(ev_file)
    for i in range(2):
        half_dir = tmp_path / f"half{i}"
        ev.where(F.pmod(F.xxhash64("event_id"), F.lit(2)) == i).coalesce(
            1
        ).write.parquet(str(half_dir))
        (part,) = glob.glob(str(half_dir / "part-*.parquet"))
        dst = os.path.join(src, f"00_{i}_events.parquet")
        os.rename(part, dst)
        os.utime(dst, (999_998 + i, 999_998 + i))

    def session_stream():
        stream = se._read_events_stream(
            spark, src, max_files_per_trigger=1
        ).withWatermark("ts", se.WATERMARK)
        return (
            stream.groupBy(
                F.session_window("ts", "30 minutes"), F.col("user_id")
            )
            .agg(
                F.date_format(F.min("ts"), "yyyy-MM-dd HH:mm:ss.SSSSSS")
                .alias("session_start"),
                F.date_format(F.max("ts"), "yyyy-MM-dd HH:mm:ss.SSSSSS")
                .alias("session_end"),
                F.count(F.lit(1)).alias("n_events"),
            )
            .select(
                "user_id", "session_start", "session_end", "n_events"
            )
        )

    out = tmp_path / "out"
    ckpt = str(tmp_path / "ckpt")
    kill = {"armed": True}

    def write_batch(batch_df, batch_id: int) -> None:
        batch_df.write.mode("overwrite").parquet(
            str(out / f"batch={batch_id}")
        )
        # batches 0-1 = event halves; batch 2 = first sentinel — the
        # batch whose advanced watermark emits the real sessions
        if batch_id >= 2 and kill["armed"]:
            kill["armed"] = False
            raise RuntimeError("injected kill after emission-batch write")

    def drain() -> None:
        q = (
            session_stream()
            .writeStream.foreachBatch(write_batch)
            .outputMode("append")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(180)

    import pyspark.errors

    with pytest.raises(pyspark.errors.StreamingQueryException):
        drain()
    assert not kill["armed"], "kill never fired — batch 2 was not reached"
    drain()  # restart on the SAME checkpoint: batch 2 must replay

    got = {
        tuple(r)
        for r in spark.read.parquet(str(out))
        .drop("batch")
        .filter(F.col("user_id") >= 0)
        .collect()
    }
    want = {
        tuple(r) for r in se.events_session_streamed(spark, sf_dir).collect()
    }
    assert got == want, (
        f"resumed drain diverged: {len(got)} vs {len(want)} sessions"
    )


def test_salted_agg_streamed_matches_batch(spark, sf_dir):
    """The salted streaming aggregation (partial state on
    (event_type, salt), final merge in the foreachBatch sink) must
    equal the plain batch groupBy exactly — counts and decimal sums
    merge associatively, so salting cannot change the answer."""
    from pyspark.sql import functions as F

    from bigdata1_spark.sources.tables import load_table

    got = {
        (r["event_type"], r["n_events"], r["total_value"])
        for r in se.events_salted_agg_streamed(spark, sf_dir).collect()
    }
    ev = load_table(spark, sf_dir, "events")
    want = {
        (r["event_type"], r["n_events"], r["total_value"])
        for r in ev.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,4)"))
            .cast("double")
            .alias("total_value"),
        )
        .collect()
    }
    assert got == want


def test_salted_join_stream_matches_unsalted(spark, sf_dir, stream_dir):
    """The inner, salted and left-outer drains share one interval-join
    body and must agree: salting the state key must not change the
    result multiset (every (click, purchase) pair matches exactly once
    because one purchase replica carries the click's salt), and the
    left-outer stream's matched rows (non-NULL purchase_ts) are exactly
    the inner stream's rows."""

    def drain(df, name):
        q = (
            df.writeStream.format("memory").queryName(name)
            .outputMode("append").trigger(availableNow=True).start()
        )
        q.awaitTermination(120)
        return {tuple(r) for r in spark.sql(f"SELECT * FROM {name}").collect()}

    plain = drain(
        se.click_purchase_join_stream(spark, stream_dir, n_salts=1),
        "plain_join",
    )
    salted = drain(
        se.click_purchase_join_stream(
            spark, stream_dir, n_salts=se.SALT_JOIN_N
        ),
        "salted_join",
    )
    left = drain(
        se.click_purchase_join_stream(
            spark,
            stream_dir,
            how="left_outer",
            n_salts=1,
            max_files_per_trigger=1,
        ),
        "left_join",
    )
    matched = {r for r in left if r[3] is not None}
    assert salted == plain and len(plain) > 0
    assert matched == plain


def test_watermark_drops_pre_epoch_event_times(spark, tmp_path):
    """Engine boundary (measured, round 14): Structured Streaming
    initializes the watermark to epoch-0 ms, and watermarked stateful
    operators drop rows whose event time is at or before the current
    watermark — so pre-epoch (and exactly-epoch) event times are
    silently discarded in the FIRST micro-batch. This pins the
    behavior loudly: ingest at 100 TB must clamp or reject pre-epoch
    event times before any watermarked stage (the timewarp axis of
    tools/gen_twin.py clamps its events pool for the same reason)."""
    import os

    from pyspark.sql import functions as F

    src = str(tmp_path / "src")
    os.makedirs(src)
    rows = spark.createDataFrame(
        [
            (1, "1899-06-01 12:00:00"),
            (2, "1969-12-31 23:00:00"),
            (3, "1970-01-01 00:00:00"),
            (4, "1970-01-01 00:00:00.000001"),
            (5, "2024-01-01 00:00:00"),
        ],
        "id long, s string",
    ).select("id", F.to_timestamp("s").alias("ts"))
    rows.coalesce(1).write.parquet(os.path.join(src, "a"))

    out = str(tmp_path / "out")
    stream = (
        spark.readStream.schema("id long, ts timestamp")
        .parquet(os.path.join(src, "a"))
        .withWatermark("ts", "1 hour")
        .dropDuplicatesWithinWatermark(["id"])
    )
    q = (
        stream.writeStream.foreachBatch(
            lambda b, _i: b.write.mode("append").parquet(out)
        )
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    kept = sorted(r.id for r in spark.read.parquet(out).collect())
    # ids 1-3 (pre-epoch and exactly-epoch) are dropped; 4-5 survive.
    assert kept == [4, 5]


def _write_events(path, ts, ts_type, n_rows):
    """events.parquet with the testdata column set and ``ts`` stored as
    ``ts_type`` (raw epoch integers, ``n_rows`` of them)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    table = pa.table(
        {
            "event_id": pa.array(range(n_rows), pa.int64()),
            "ts": pa.array(ts[:n_rows], pa.int64()).cast(ts_type),
            "user_id": pa.array([7] * n_rows, pa.int64()),
            "event_type": pa.array(["click"] * n_rows, pa.string()),
            "value": pa.array([1.5] * n_rows, pa.float64()),
            "props": pa.array(["{}"] * n_rows, pa.string()),
        }
    )
    pq.write_table(table, path)


_US_TS = [1_700_000_000_000_000, 1_700_000_360_000_000, 1_699_999_000_000_000]


@pytest.mark.parametrize(
    "encoding", ["us_ntz", "us_utc", "ns", "int_us", "int_ns", "zero_rows", "real"]
)
def test_flush_sentinels_match_source_schema(encoding, sf_dir, tmp_path):
    """The arrow sentinel writer (no Spark) handles every ``events.ts``
    encoding the testdata has used: each sentinel file carries the data
    file's exact schema, ``ts`` at max + 7 / 14 days in the source's own
    unit, and one row per flush event type (none for a 0-row file)."""
    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    data_dir = tmp_path / "data"
    data_dir.mkdir()
    events = data_dir / "events.parquet"
    per_day_us = 86_400 * 10**6
    if encoding == "real":
        shutil.copy(f"{sf_dir}/events.parquet", events)
    else:
        ts_type, scale, n_rows = {
            "us_ntz": (pa.timestamp("us"), 1, 3),
            "us_utc": (pa.timestamp("us", tz="UTC"), 1, 3),
            "ns": (pa.timestamp("ns"), 1_000, 3),
            "int_us": (pa.int64(), 1, 3),
            "int_ns": (pa.int64(), 1_000, 3),
            "zero_rows": (pa.timestamp("us"), 1, 0),
        }[encoding]
        _write_events(events, [t * scale for t in _US_TS], ts_type, n_rows)

    data = pq.read_table(events)
    ts_type = data.schema.field("ts").type
    if pa.types.is_timestamp(ts_type):
        per_day = per_day_us * {"us": 1, "ns": 1_000}[ts_type.unit]
    else:
        per_day = per_day_us * (1_000 if encoding == "int_ns" else 1)
    flush = ("click", "purchase")
    src = se._flush_source(str(data_dir), str(tmp_path / "work"), flush)

    for i, days in enumerate((7, 14), start=1):
        sentinel = pq.read_table(f"{src}/{i:02d}_sentinel.parquet")
        assert sentinel.schema.remove_metadata() == (
            data.schema.remove_metadata()
        )
        if data.num_rows == 0:
            assert sentinel.num_rows == 0
            continue
        assert sentinel.num_rows == len(flush)
        max_ts = pc.max(data["ts"].cast(pa.int64())).as_py()
        got = sentinel["ts"].cast(pa.int64()).to_pylist()
        assert got == [max_ts + days * per_day] * len(flush)
        assert sentinel["user_id"].to_pylist() == [-1] * len(flush)
