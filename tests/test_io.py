"""Source/sink coverage (reference S2 `saveAsTextFile` → typed sinks):
round-trip equality through parquet/csv/json, and bucketed tables
co-locating a join with zero shuffle (the 100 TB co-location story)."""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest

from bigdata1_spark.operators import basket
from bigdata1_spark.plans import checks


@pytest.fixture()
def small_df(spark, sf_dir):
    return (
        basket.revenue_per_item_month(spark, sf_dir)
        .orderBy("item", "month")
        .limit(500)
    )


def _collected(df):
    return sorted(map(repr, df.collect()))


def test_parquet_roundtrip(spark, small_df, tmp_path):
    path = str(tmp_path / "out_parquet")
    small_df.write.parquet(path)
    assert _collected(spark.read.parquet(path)) == _collected(small_df)


def test_csv_roundtrip(spark, small_df, tmp_path):
    path = str(tmp_path / "out_csv")
    small_df.write.option("header", True).csv(path)
    back = spark.read.option("header", True).schema(small_df.schema).csv(path)
    assert _collected(back) == _collected(small_df)


def test_json_roundtrip(spark, small_df, tmp_path):
    path = str(tmp_path / "out_json")
    small_df.write.json(path)
    back = spark.read.schema(small_df.schema).json(path)
    assert _collected(back) == _collected(small_df)


def test_bucketed_join_has_no_shuffle(spark, sf_dir, tmp_path):
    """Both sides bucketed+sorted on the join key → sort-merge join with
    ZERO exchanges: the physical property that makes repeated big-big
    joins viable at 100 TB (bucket pruning + no shuffle per query)."""
    spark.sql("CREATE DATABASE IF NOT EXISTS buckdemo")
    try:
        li = spark.read.parquet(f"{sf_dir}/lineitem.parquet").select(
            "l_orderkey", "l_partkey", "l_extendedprice"
        )
        o = spark.read.parquet(f"{sf_dir}/orders.parquet").select(
            "o_orderkey", "o_orderdate"
        )
        (li.write.bucketBy(8, "l_orderkey").sortBy("l_orderkey")
         .mode("overwrite").saveAsTable("buckdemo.li_b"))
        (o.write.bucketBy(8, "o_orderkey").sortBy("o_orderkey")
         .mode("overwrite").saveAsTable("buckdemo.o_b"))
        prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        try:
            joined = (
                spark.table("buckdemo.li_b")
                .join(spark.table("buckdemo.o_b"),
                      F.col("l_orderkey") == F.col("o_orderkey"))
                .groupBy("l_orderkey")
                .agg(F.count(F.lit(1)).alias("n"))
            )
            # join itself shuffle-free; the groupBy reuses the bucketing
            # (grouping key == bucket key) → zero exchanges end-to-end
            checks.assert_max_exchanges(joined, 0, "bucketed join")
            assert joined.count() > 0
        finally:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    finally:
        spark.sql("DROP DATABASE IF EXISTS buckdemo CASCADE")


def test_bucketed_join_dir_removed_at_exit(sf_dir, tmp_path):
    """``layout.bucketed_join`` keeps its bucketed tables readable for
    the life of the process and removes their directory at
    interpreter exit."""
    import glob
    import os
    import subprocess
    import sys

    script = f"""
import glob, tempfile
from bigdata1_spark.operators import layout
from bigdata1_spark.session import get_spark
spark = get_spark(app_name="bucketed-exit",
                  extra_conf={{"spark.sql.shuffle.partitions": "4"}})
assert layout.bucketed_join(spark, {sf_dir!r}).count() > 0
print(glob.glob(tempfile.gettempdir() + "/bigdata1_bucketed_*"))
"""
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    env = dict(
        os.environ, TMPDIR=str(tmp_path), PYTHONPATH=root,
        SPARK_GRAFT_DRIVER_MEM="1g",
    )
    run = subprocess.run(
        [sys.executable, "-c", script],
        cwd=str(tmp_path), env=env, capture_output=True, text=True,
        timeout=300,
    )
    assert run.returncode == 0, run.stderr[-2000:]
    assert str(tmp_path) in run.stdout.strip().splitlines()[-1]
    assert glob.glob(str(tmp_path / "bigdata1_bucketed_*")) == []


def test_small_files_compaction(spark, sf_dir, tmp_path):
    """Small-files compaction: a directory fragmented into many tiny
    parquet files (the classic streaming-sink pathology) rewritten via
    repartition(k) must come out as exactly k files with identical
    data. At 100 TB the same rewrite bounds file count to
    data-size/target-file-size, keeping scan task counts sane."""
    import glob

    frag = str(tmp_path / "fragmented")
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    orders.repartition(64).write.parquet(frag)
    n_frag = len(glob.glob(f"{frag}/part-*.parquet"))
    assert n_frag >= 32  # genuinely fragmented

    compacted = str(tmp_path / "compacted")
    spark.read.parquet(frag).repartition(4).write.parquet(compacted)
    n_comp = len(glob.glob(f"{compacted}/part-*.parquet"))
    assert n_comp == 4

    a = spark.read.parquet(frag)
    b = spark.read.parquet(compacted)
    assert a.count() == b.count()
    assert a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0


def test_write_compacted_sizes_files(spark, sf_dir, tmp_path):
    """Compaction must merge a fragmented input into ~target-sized
    files (the small-files fix) and preserve the exact row multiset."""
    import glob

    from bigdata1_spark.plans.compaction import write_compacted
    from bigdata1_spark.sources.tables import load_table

    orders = load_table(spark, sf_dir, "orders").repartition(64)
    path = str(tmp_path / "compacted")
    n_rows = orders.count()
    target = max(1, n_rows // 3)
    n_tasks = write_compacted(orders, path, target_rows_per_file=target)
    files = glob.glob(f"{path}/*.parquet")
    assert n_tasks <= 4
    # fragmented 64-partition input merged into a handful of files
    assert len(files) <= 8, files
    back = spark.read.parquet(path)
    assert back.count() == n_rows
    assert sorted(back.columns) == sorted(orders.columns)


def test_write_compacted_partitioned(spark, sf_dir, tmp_path):
    """partition_by path: rows land under partition directories, file
    sizing survives the hive layout, and the row multiset round-trips
    (maxRecordsPerFile backstops skewed partition values)."""
    import glob

    from bigdata1_spark.plans.compaction import write_compacted
    from bigdata1_spark.sources.tables import load_table

    orders = load_table(spark, sf_dir, "orders").withColumn(
        "status", F.col("o_orderstatus")
    )
    path = str(tmp_path / "by_status")
    n_rows = orders.count()
    write_compacted(
        orders, path, target_rows_per_file=n_rows, partition_by=["status"]
    )
    part_dirs = glob.glob(f"{path}/status=*")
    assert len(part_dirs) >= 2, part_dirs
    back = spark.read.parquet(path)
    assert back.count() == n_rows
    # no partition directory exceeds the per-file cap by fragmentation:
    # one partition value -> small handful of files
    for d in part_dirs:
        assert len(glob.glob(f"{d}/*.parquet")) <= 4, d


def test_python_datasink_two_phase_commit(spark, sf_dir, tmp_path):
    """The custom sink's transactional contract: write() STAGES files
    (invisible to a committed-files read), commit() publishes them and
    marks _SUCCESS, abort() removes staging — so failed/speculated
    tasks can never surface half-written output."""
    import glob

    from pyspark.sql import Row

    from bigdata1_spark.sources.pydatasource import (
        JsonSinkWriter,
        _JsonSinkCommit,
    )

    w = JsonSinkWriter({"path": str(tmp_path)})
    msg = w.write(iter([Row(a=1, b="x"), Row(a=2, b="y")]))
    assert isinstance(msg, _JsonSinkCommit)
    # staged only: no committed .jsonl yet
    assert glob.glob(f"{tmp_path}/*.jsonl") == []
    assert glob.glob(f"{tmp_path}/*.jsonl.staged") == [msg.staged]
    w.commit([msg])
    assert len(glob.glob(f"{tmp_path}/*.jsonl")) == 1
    assert glob.glob(f"{tmp_path}/*.jsonl.staged") == []
    assert (tmp_path / "_SUCCESS").exists()
    # abort path: stage another file, then abort — nothing published
    msg2 = w.write(iter([Row(a=3, b="z")]))
    w.abort([msg2])
    assert glob.glob(f"{tmp_path}/*.jsonl.staged") == []
    assert len(glob.glob(f"{tmp_path}/*.jsonl")) == 1  # only the committed one


def test_python_datasink_end_to_end(spark, sf_dir):
    """Full engine path: DataFrame → custom Python sink → committed
    JSONL → read-back equals the direct rollup."""
    from bigdata1_spark.sources import pydatasource
    from bigdata1_spark.sources.tables import load_table

    got = (
        pydatasource.python_datasink(spark, sf_dir)
        .orderBy("lang", "source")
        .collect()
    )
    want = (
        load_table(spark, sf_dir, "documents")
        .groupBy("lang", "source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").cast("long").alias("total_chars"),
        )
        .orderBy("lang", "source")
        .collect()
    )
    assert got == want
