"""Parquet table readers for the driver testdata star schema.

Canonical ingest path (SURVEY.md §2.1 S1): the reference scans schemaless
text lines (``sc.textFile``); our engine's canonical storage is parquet so
scans get columnar vectorized reads, predicate pushdown, and column pruning
for free. The billing text format is still supported via
:mod:`bigdata1_spark.sources.billing`.
"""

from __future__ import annotations

import os
import shutil
import tempfile
from collections.abc import Callable, Iterator

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

# Dimension tables small enough to broadcast at any realistic scale factor.
BROADCAST_DIMS = ("region", "nation", "supplier", "part")


# events.ts has arrived from the driver in different physical encodings
# across testdata generations: TIMESTAMP(NANOS) (which Spark surfaces as
# bigint nanos under the nanosAsLong conf), plain int64 epoch values,
# micros TIMESTAMP_NTZ (parquet timestamp[us], isAdjustedToUTC=false),
# and tz-aware TIMESTAMP. All consumers expect a session-TZ TIMESTAMP.
# Epoch-integer granularity is decided by magnitude, not assumption:
# 1e17 cleanly separates micros (< 1e17 until year 5138) from nanos
# (>= 1e17 from 1973 on) for any plausible event time.
_EPOCH_NANOS_THRESHOLD = 100_000_000_000_000_000


def normalize_event_ts(df: DataFrame) -> DataFrame:
    """Normalize ``ts`` to TIMESTAMP whatever the source encoding.

    The single choke point for the events table's timestamp type —
    shared by the batch reader (:func:`load_table`) and the streaming
    reader (``streaming.events._read_events_stream``) so the two paths
    can never diverge again. ``tests/test_streaming.py`` pins the
    decoded values to the 2023–2025 range so a future encoding change
    fails loudly instead of producing 1970-epoch garbage.
    """
    dtype = dict(df.dtypes).get("ts")
    if dtype == "bigint":
        # Epoch integer: nanos vs micros decided per-value by magnitude
        # (integer div — a double division would lose precision past
        # 2^53; timestamp_micros keeps the arithmetic exact).
        micros = F.when(
            F.abs(F.col("ts")) >= F.lit(_EPOCH_NANOS_THRESHOLD),
            F.expr("ts div 1000"),
        ).otherwise(F.col("ts"))
        return df.withColumn("ts", F.timestamp_micros(micros))
    if dtype == "timestamp_ntz":
        # Wall-clock micros: reinterpret in the session TZ (UTC per
        # session.py, matching the DuckDB oracle's naive timestamps).
        return df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df


def data_files(path: str) -> Iterator[str]:
    """Every data file under directory ``path``, at any depth: the one
    listing rule, which skips bookkeeping names that start with ``_``
    or ``.`` (``_SUCCESS``, ``.crc``)."""
    for root, _dirs, files in os.walk(path):
        for f in files:
            if not f.startswith(("_", ".")):
                yield os.path.join(root, f)


def _footers(path: str) -> list:
    """Parquet footer metadata of ``path``: the file itself, or every
    ``*.parquet`` file of the directory's :func:`data_files`. No Spark
    job. A footer that cannot be read raises — an input size is never
    guessed."""
    import pyarrow.parquet as pq

    if not os.path.isdir(path):
        return [pq.read_metadata(path)]
    return [
        pq.read_metadata(f) for f in data_files(path) if f.endswith(".parquet")
    ]


def parquet_row_count(sf_dir: str, name: str) -> int:
    """Exact row count of one testdata table from parquet FOOTER
    metadata — no Spark job at all (``df.count()`` on parquet is
    metadata-optimized but still schedules a job per file; planner-side
    cardinality probes like triangle_count's dense/sparse dispatch only
    need the number)."""
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; one of {TABLES}")
    path = os.path.join(sf_dir, f"{name}.parquet")
    return sum(m.num_rows for m in _footers(path))


def _parquet_row_groups(path: str) -> int:
    """Total parquet row groups under ``path`` (file or directory) from
    footer metadata only — the scan's effective max parallelism, since
    a row group is unsplittable (one scan task decodes it end to end)."""
    return sum(m.num_row_groups for m in _footers(path))


def read_events(spark: SparkSession, path: str) -> DataFrame:
    """Batch read of the events parquet at ``path``, ``ts`` as stored —
    the one events-reader step of the batch (:func:`load_table`) and
    stream (``streaming.events._read_events_stream``) readers.

    Older testdata stores TIMESTAMP(NANOS), which Spark rejects unless
    nanos surface as long. The conf is set here at runtime (it is a
    dynamic SQL conf), so the engine also works under a plain session
    the driver harness creates, not just our own ``get_spark()``;
    harmless for micros-encoded files."""
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    return spark.read.parquet(path)


def spread_if_starved(spark: SparkSession, df: DataFrame, path: str) -> DataFrame:
    """Round-robin repartition after an UNSPLITTABLE input — guide §2.5.

    A parquet row group is the scan's parallelism atom: whole-stage
    codegen fuses every narrow op (parse, tokenize, shingle, hash,
    explode) into the scan task, so a CPU-heavy derivation over a
    low-row-group input runs on that few cores no matter how many the
    cluster has. The gate is FOOTER METADATA, not a local-mode
    constant: when the input already carries at least half a task per
    core (the 100 TB case — thousands of files/row groups) this is an
    identity, and only genuinely starved inputs (one giant file, a toy
    scale factor) pay one extra exchange to light up the cluster.
    Round-robin repartition is deterministic under retries
    (sortBeforeRepartition is on) and none of the callers' results
    depend on row-to-partition placement."""
    par = spark.sparkContext.defaultParallelism
    if _parquet_row_groups(path) * 2 >= par:
        return df
    return df.repartition(par)


def load_table(
    spark: SparkSession, sf_dir: str, name: str, spread: bool = False
) -> DataFrame:
    """Read one testdata table; parquet scan → pushdown/pruning apply.

    ``spread=True`` opts a CPU-heavy consumer (tokenize/shingle/hash
    pipelines) into :func:`spread_if_starved`'s unsplittable-input
    repartition; the default stays a bare scan so partition-count-
    sensitive plans (exchange budgets, id assignment) are unchanged."""
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; one of {TABLES}")
    path = os.path.join(sf_dir, f"{name}.parquet")
    if name == "events":
        df = normalize_event_ts(read_events(spark, path))
    else:
        df = spark.read.parquet(path)
    if spread:
        df = spread_if_starved(spark, df, path)
    return df


def scratch(prefix: str, build: Callable[[str], DataFrame]) -> DataFrame:
    """Run ``build(work)`` in a fresh temp directory ``work`` and return
    its frame pinned with an eager ``localCheckpoint``. The directory is
    removed on return and on raise alike; the pin runs before removal,
    so no returned frame ever reads a removed path. Every key that
    writes data and reads it back goes through here, except
    ``layout.bucketed_join`` (its plan test needs the lazy scan)."""
    work = tempfile.mkdtemp(prefix=prefix)
    try:
        return build(work).localCheckpoint(eager=True)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def has_data(path: str) -> bool:
    """The one empty-sink rule: ``path`` holds at least one of its
    :func:`data_files`. A sink that got no rows fails it and reads back
    as an empty frame; a sink that passes is read normally, so a real
    read error raises."""
    return next(data_files(path), None) is not None
