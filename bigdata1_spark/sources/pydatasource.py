"""Custom PySpark DataSource (Spark 4 Python data source API).

The reference's generator is a driver-side Java loop writing a text
file (BD_hw1 ``src/generator/BillingMain.java:27`` → 1M lines on one
thread); ``sources/generator.py`` already rebuilds it as a distributed
DataFrame. THIS module adds the third form a modern engine offers: a
first-class pluggable source — ``spark.read.format("pybilling")`` —
implemented against the Python DataSource V2 API (Spark 4), with
partition planning (each InputPartition generates its row range
independently, so the source scales out like any file source) and a
deterministic md5-derived payload the DuckDB oracle reproduces
row-for-row, making even the custom-source path full-value-hash
checked.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    DataSourceWriter,
    InputPartition,
    SimpleDataSourceStreamReader,
    WriterCommitMessage,
)

PYDS_ROWS = 5000
PYDS_PARTITIONS = 8


class BillingReader(DataSourceReader):
    def __init__(self, options):
        self.n = int(options.get("rows", str(PYDS_ROWS)))
        self.parts = int(options.get("partitions", str(PYDS_PARTITIONS)))

    def partitions(self):
        return [InputPartition(i) for i in range(self.parts)]

    def read(self, partition):
        import hashlib

        i = partition.value
        per = self.n // self.parts
        lo = i * per
        hi = self.n if i == self.parts - 1 else lo + per
        for j in range(lo, hi):
            h = hashlib.md5(str(j).encode()).hexdigest()
            yield (
                j,
                int(h[:4], 16) % 28 + 1,
                int(h[4:8], 16) % 12 + 1,
                int(h[8:12], 16) % 500,
            )


class BillingSource(DataSource):
    @classmethod
    def name(cls):
        return "pybilling"

    def schema(self):
        return "bid bigint, day int, month int, cost int"

    def reader(self, schema):
        return BillingReader(self.options)


def python_datasource(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Monthly rollup read THROUGH the registered custom source:
    ``spark.read.format("pybilling")`` plans one task per
    InputPartition; every row is a pure function of its row id (md5
    digits), so the oracle regenerates the identical table with
    generate_series + md5 in SQL. Columns: month, n, day_sum,
    cost_sum.
    """
    spark.dataSource.register(BillingSource)
    df = spark.read.format("pybilling").load()
    return df.groupBy("month").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("day").cast("long").alias("day_sum"),
        F.sum("cost").cast("long").alias("cost_sum"),
    )


# 2 data chunks = 2 query lifecycles: the minimum that still proves
# cross-restart offset resume (1 chunk would never exercise a resumed
# offset; more only adds lifecycle overhead, ~2-3.5 s each at bench
# scale). Exhaustion is asserted from the checkpoint's own committed
# offset (a driver-side metadata read) instead of the r15 form's third,
# empty confirming lifecycle — guide §1.2: that lifecycle was a full
# round of stream planning/offset-log/commit machinery spent proving a
# number already sitting in the offset log.
STREAM_ROWS = 4000
STREAM_STEP = 2000


class BillingStreamReader(SimpleDataSourceStreamReader):
    """Offset-tracked micro-batch reader: each ``read`` serves the next
    row-id chunk and advances the offset; ``readBetweenOffsets``
    replays a committed range deterministically (the replay contract
    checkpoint recovery depends on)."""

    def __init__(self, options):
        self.n = int(options.get("rows", str(STREAM_ROWS)))
        self.step = int(options.get("step", str(STREAM_STEP)))

    def initialOffset(self):
        return {"pos": 0}

    def _rows(self, lo: int, hi: int):
        import hashlib

        # Materialized list, not a generator: the engine's prefetch
        # cache copy.copy()s the returned iterator, and generators
        # aren't picklable (measured failure in planPartitions).
        return [
            (j, int(hashlib.md5(str(j).encode()).hexdigest()[4:8], 16)
             % 12 + 1)
            for j in range(lo, hi)
        ]

    def read(self, start):
        lo = start["pos"]
        hi = min(lo + self.step, self.n)
        return (iter(self._rows(lo, hi)), {"pos": hi})

    def readBetweenOffsets(self, start, end):
        return iter(self._rows(start["pos"], end["pos"]))


class BillingStreamSource(DataSource):
    @classmethod
    def name(cls):
        return "pybillstream"

    def schema(self):
        return "bid bigint, month int"

    def simpleStreamReader(self, schema):
        return BillingStreamReader(self.options)


def committed_pos(ckpt: str) -> int | None:
    """Source offset of the latest COMMITTED batch of the streaming
    checkpoint ``ckpt``: the highest batch id in ``ckpt/commits/``
    (written once the batch's sink output is durable), looked up in the
    ``ckpt/offsets/`` write-ahead log, whose last line is the source's
    own offset JSON. The WAL alone is not enough: Spark writes it when
    a batch is PLANNED, so its newest entry may never have committed.
    None when no batch has committed; ValueError when the committed
    batch's offset does not parse."""
    commits_dir = os.path.join(ckpt, "commits")
    batches = (
        [int(f) for f in os.listdir(commits_dir) if f.isdigit()]
        if os.path.isdir(commits_dir)
        else []
    )
    if not batches:
        return None
    path = os.path.join(ckpt, "offsets", str(max(batches)))
    try:
        with open(path) as fh:
            return int(json.loads(fh.read().splitlines()[-1])["pos"])
    except (OSError, ValueError, LookupError, TypeError) as exc:
        raise ValueError(f"unreadable committed offset {path}: {exc!r}") from exc


def python_stream_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom PYTHON STREAMING source (SimpleDataSourceStreamReader)
    drained through repeated availableNow runs on ONE checkpoint: each
    run consumes exactly the chunks the source exposes and the next run
    resumes from the persisted offset — the restart loop proves the
    custom source honors the offset/replay contract, not just that it
    can emit rows. The drain stops when the checkpoint's committed
    offset (:func:`committed_pos`) shows the source exhausted
    (``pos >= STREAM_ROWS``) — the offset the NEXT restart would resume
    from, read driver-side, so exhaustion costs a file read instead of
    a third full (empty) query lifecycle.

    Rows are the same pure md5 function of the row id as
    ``python_datasource``, so the oracle regenerates the full table and
    the monthly rollup is value-hash checked. Columns: month, n,
    bid_sum.
    """
    import shutil
    import tempfile

    spark.dataSource.register(BillingStreamSource)
    work = tempfile.mkdtemp(prefix="bigdata1_pyds_stream_")
    try:
        out = os.path.join(work, "out")

        def write_batch(bdf, bid):
            bdf.write.mode("overwrite").parquet(
                os.path.join(out, f"batch={bid}")
            )

        ckpt = os.path.join(work, "ckpt")
        for _ in range(STREAM_ROWS // STREAM_STEP + 1):
            q = (
                spark.readStream.format("pybillstream")
                .load()
                .writeStream.foreachBatch(write_batch)
                .outputMode("append")
                .option("checkpointLocation", ckpt)
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination()
            pos = committed_pos(ckpt)
            if pos is None:
                raise RuntimeError(f"no committed offset in {ckpt}")
            if pos >= STREAM_ROWS:
                break
        res = (
            spark.read.parquet(out)
            .drop("batch")
            .groupBy("month")
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.sum("bid").alias("bid_sum"),
            )
        )
        return res.localCheckpoint(eager=True)
    finally:
        shutil.rmtree(work, ignore_errors=True)


# ---------------------------------------------------------------------------
# Custom Python data SINK (DataSourceWriter) — the write half of the
# plugin API, with the real two-phase commit contract: tasks stage
# uniquely-named files and return commit messages; the driver's
# commit() publishes them (rename + _SUCCESS) and abort() removes
# them, so a failed/speculated task can never leave half-written
# output visible. In local mode the staging dir is the shared local
# FS; on a cluster this path must be shared storage (object store /
# DFS) — exactly the contract every file-based V2 sink has.
# ---------------------------------------------------------------------------


class _JsonSinkCommit(WriterCommitMessage):
    def __init__(self, staged: str):
        self.staged = staged


class JsonSinkWriter(DataSourceWriter):
    def __init__(self, options):
        self.path = options["path"]

    def write(self, iterator):
        import json as _json
        import os
        import uuid

        staged = os.path.join(
            self.path, f"part-{uuid.uuid4().hex}.jsonl.staged"
        )
        with open(staged, "w") as f:
            for row in iterator:
                f.write(_json.dumps(row.asDict(), sort_keys=True) + "\n")
        return _JsonSinkCommit(staged)

    def commit(self, messages):
        import os

        for m in messages:
            os.rename(m.staged, m.staged[: -len(".staged")])
        with open(os.path.join(self.path, "_SUCCESS"), "w"):
            pass

    def abort(self, messages):
        import os

        for m in messages:
            try:
                os.remove(m.staged)
            except FileNotFoundError:
                pass


class JsonSinkSource(DataSource):
    @classmethod
    def name(cls):
        return "pyjsonsink"

    def writer(self, schema, overwrite):
        return JsonSinkWriter(self.options)


def python_datasink(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Write through the custom Python sink, then read the COMMITTED
    files back and return them — proving rows survive the full
    stage→commit→publish cycle, not just that write() ran. The
    payload is the per-(lang, source) documents rollup (bigint-only
    columns, so the JSONL round-trip is exact), small enough that the
    oracle recomputes it directly from ``documents``.
    Columns: lang, source, n_docs, total_chars.
    """
    import os
    import shutil
    import tempfile

    from pyspark.sql.types import LongType, StringType, StructField, StructType

    from bigdata1_spark.sources.tables import load_table

    spark.dataSource.register(JsonSinkSource)
    work = tempfile.mkdtemp(prefix="bigdata1_pyds_sink_")
    try:
        rollup = (
            load_table(spark, sf_dir, "documents")
            .groupBy("lang", "source")
            .agg(
                F.count(F.lit(1)).alias("n_docs"),
                F.sum("n_chars").cast("long").alias("total_chars"),
            )
        )
        (
            rollup.write.format("pyjsonsink")
            .option("path", work)
            .mode("append")
            .save()
        )
        assert os.path.exists(os.path.join(work, "_SUCCESS"))
        schema = StructType(
            [
                StructField("lang", StringType()),
                StructField("source", StringType()),
                StructField("n_docs", LongType()),
                StructField("total_chars", LongType()),
            ]
        )
        back = spark.read.schema(schema).json(
            os.path.join(work, "*.jsonl")
        )
        return back.localCheckpoint(eager=True)
    finally:
        shutil.rmtree(work, ignore_errors=True)
