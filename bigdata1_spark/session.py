"""SparkSession factory.

One place to configure the engine the way the 100 TB posture demands:
AQE on (runtime re-planning, skew-join splitting, partition coalescing,
inside cached plans too: Spark otherwise builds a ``.cache()`` frame and
every scan of it at the full shuffle-partition count),
UTC session timezone (so timestamp results agree with external oracles),
Arrow enabled (fast toPandas / pandas_udf), and a shuffle-partition count
sized for the local test harness but overridable for a real cluster.

For a local master, where this process launches the one JVM that is both
driver and executors, two more things are sized here: the heap
(``driver_memory``) and the JVM options (``LOCAL_JVM_OPTIONS``: one C1
and one C2 compiler thread, and the parallel collector in place of G1),
which cut the JIT and GC CPU of a cold session while keeping C2 for
whole-stage codegen. Neither is set under spark-submit (``master=""``),
where the driver JVM is already running. Override either through
``extra_conf`` (``spark.driver.memory``, ``spark.driver.defaultJavaOptions``);
``spark.driver.extraJavaOptions`` is appended after these options, so
passing it (as the benchmark does for ``java.io.tmpdir``) keeps them. A
different collector goes in ``defaultJavaOptions``: a second collector
flag in ``extraJavaOptions`` stops the JVM from starting.
"""

from __future__ import annotations

import contextlib
import os
from collections.abc import Iterator

from pyspark.sql import SparkSession

DEFAULT_SHUFFLE_PARTITIONS = 32

# Driver JVM options for local masters. At 4 cores HotSpot starts three
# compiler threads; with two (one C1, one C2) its tiered policy drops
# stale compile tasks instead of compiling them: on a cold sf0.01 basket
# pass at local[4] (4-core host), C2 thread CPU fell from 18-20 s to
# 11 s. The parallel collector has no concurrent marking threads or G1
# write barriers. C1-only (-XX:TieredStopAtLevel=1) halves cold CPU but
# doubles steady-state sf0.1 time (tpch_q1 3x): whole-stage codegen
# needs C2.
LOCAL_JVM_OPTIONS = "-XX:CICompilerCount=2 -XX:+UseParallelGC"

# Conf that is correct at every scale; a caller overrides any entry, and
# the shuffle-partition default set below, through ``extra_conf``.
_BASE_CONF = {
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # Let AQE coalesce a cached plan's shuffle output like any other
    # plan. Under Spark's default (false) a cached subtree runs
    # uncoalesced at the full shuffle-partition count, and so does every
    # consumer's scan of it: a cached sf0.001 basket_items is 32
    # partitions without this entry and 1 with it.
    "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning": "true",
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # dims (part/nation/region/supplier) stay broadcast-able well past sf1
    "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
    "spark.sql.files.maxPartitionBytes": str(256 * 1024 * 1024),
    # silence the noisy progress bar in test output
    "spark.ui.showConsoleProgress": "false",
}


@contextlib.contextmanager
def scoped_conf(spark: SparkSession, conf: dict[str, str]) -> Iterator[None]:
    """Set the runtime ``conf`` entries for the ``with`` body, then put
    each key back as it was — its prior value, or unset when it had
    none — on return and on raise."""
    old = {k: spark.conf.get(k, None) for k in conf}
    for k, v in conf.items():
        spark.conf.set(k, v)
    try:
        yield
    finally:
        for k, v in old.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def driver_memory() -> str:
    """``SPARK_GRAFT_DRIVER_MEM`` when set, else half of physical memory
    capped at 16g — a fixed 16g heap is a latent OOM-kill on a host
    with less RAM than that."""
    if "SPARK_GRAFT_DRIVER_MEM" in os.environ:
        return os.environ["SPARK_GRAFT_DRIVER_MEM"]
    half_mb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // 2**20 // 2
    return "16g" if half_mb >= 16 * 1024 else f"{half_mb}m"


def session_conf(
    master: str,
    extra_conf: dict[str, str] | None = None,
) -> dict[str, str]:
    """The conf ``get_spark`` builds its session with: the base conf,
    the default shuffle-partition count, the local-master heap and JVM
    options, then ``extra_conf`` on top (where a caller sets its own
    ``spark.sql.shuffle.partitions``)."""
    conf = dict(_BASE_CONF)
    conf["spark.sql.shuffle.partitions"] = str(DEFAULT_SHUFFLE_PARTITIONS)
    if master.startswith("local"):
        # Local mode packs driver + all executor threads into ONE JVM,
        # and Spark's 1g default Xmx starves 32 threads (~31 MB each):
        # measured at sf1, assoc_rules' hash aggregation OOMed the
        # whole context. Size the heap for the host instead
        # (``driver_memory``), and only for local masters (under
        # spark-submit the driver JVM is already running and this conf
        # would be silently ignored). The same holds for the JVM
        # options; Spark puts a caller's extraJavaOptions after them.
        conf.setdefault("spark.driver.memory", driver_memory())
        conf.setdefault("spark.driver.defaultJavaOptions", LOCAL_JVM_OPTIONS)
    if extra_conf:
        conf.update(extra_conf)
    return conf


def get_spark(
    app_name: str = "bigdata1-spark",
    master: str | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) the configured SparkSession.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (``local[*]`` when
    unset) so the same entry points run on the driver harness and on a
    cluster (where ``master`` is supplied by spark-submit and this arg is
    ignored by passing ``master=""``).
    """
    builder = SparkSession.builder.appName(app_name)
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
        master = f"local[{cpus}]"
    if master:
        builder = builder.master(master)
    for k, v in session_conf(master, extra_conf).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
