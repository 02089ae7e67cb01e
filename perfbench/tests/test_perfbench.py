"""Self-tests for the benchmark's own code (no Spark needed).

Run from the repository root: python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import os
import sys

import pandas as pd
import pyarrow.parquet as pq
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.dirname(
    os.path.abspath(__file__)))))

from perfbench import gen, trace  # noqa: E402
from perfbench.check import diff  # noqa: E402
from perfbench.trace import Span  # noqa: E402

SF = 0.001


def test_generator_same_seed_gives_identical_files(tmp_path):
    a, b = tmp_path / "a", tmp_path / "b"
    gen.generate(str(a), seed=7, sf=SF)
    gen.generate(str(b), seed=7, sf=SF)
    assert gen.digest(str(a)) == gen.digest(str(b))


def test_generator_new_seed_same_counts_different_keys(tmp_path):
    a, b = tmp_path / "a", tmp_path / "b"
    counts_a = gen.generate(str(a), seed=7, sf=SF)
    counts_b = gen.generate(str(b), seed=8, sf=SF)
    assert counts_a == counts_b == {
        "orders": 1500, "lineitem": 6000, "events": 1000,
    }
    for table, key in (("orders", "o_orderkey"), ("events", "user_id")):
        ka = set(pq.read_table(a / f"{table}.parquet")[key].to_pylist())
        kb = set(pq.read_table(b / f"{table}.parquet")[key].to_pylist())
        assert ka != kb
    assert gen.digest(str(a)) != gen.digest(str(b))


def test_generator_keeps_foreign_keys_and_positive_keys(tmp_path):
    gen.generate(str(tmp_path), seed=3, sf=SF)
    orders = pq.read_table(tmp_path / "orders.parquet").to_pandas()
    li = pq.read_table(tmp_path / "lineitem.parquet").to_pandas()
    assert orders.o_orderkey.is_unique
    assert set(li.l_orderkey) <= set(orders.o_orderkey)
    assert (li.l_suppkey > 0).all() and (orders.o_custkey > 0).all()
    events = pq.read_table(tmp_path / "events.parquet").to_pandas()
    assert events.ts.is_monotonic_increasing
    assert events.event_id.is_monotonic_increasing


def test_self_time_subtracts_union_of_children():
    # children overlap (1-3 and 2-4) and one sticks out past the parent
    parent = Span("p", "operator", 0.0, 10.0, [
        Span("a", "job", 1.0, 3.0),
        Span("b", "job", 2.0, 4.0),
        Span("c", "job", 9.0, 12.0),
    ])
    assert trace.self_time(parent) == pytest.approx(10.0 - 3.0 - 1.0)


def test_self_times_by_kind_over_a_pass_tree():
    op = Span("k", "operator", 0.0, 4.0, [Span("j1", "job", 1.0, 3.0, [
        Span("s1", "stage", 1.0, 2.0)])])
    act = Span("k", "action", 5.0, 6.0, [Span("j2", "job", 5.0, 5.5)])
    root = Span("pass", "pass", 0.0, 7.0, [Span("k", "key", 0.0, 6.0, [op, act])])
    got = trace.self_times_by_kind(root)
    assert got == pytest.approx({
        "pass": 1.0, "key": 1.0, "operator": 2.0, "action": 0.5,
        "job": 1.0 + 0.5, "stage": 1.0,
    })
    # self times partition the pass wall exactly
    assert sum(got.values()) == pytest.approx(root.duration)


def test_stage_counters_skip_skipped_stages():
    stages = [
        {"status": "COMPLETE", "numTasks": 4, "executorRunTime": 2000,
         "executorCpuTime": 1_000_000_000, "peakExecutionMemory": 2 * trace.MB,
         "inputBytes": 3 * trace.MB, "inputRecords": 10},
        {"status": "COMPLETE", "numTasks": 2, "executorRunTime": 1000,
         "executorCpuTime": 500_000_000, "peakExecutionMemory": 5 * trace.MB},
        {"status": "SKIPPED", "numTasks": 99, "executorRunTime": 10**6},
    ]
    got = trace.stage_counters(stages)
    assert got["session.stages"] == 2
    assert got["session.tasks"] == 6
    assert got["session.task_run_s"] == pytest.approx(3.0)
    assert got["session.task_cpu_s"] == pytest.approx(1.5)
    assert got["session.peak_exec_mem_mb"] == pytest.approx(5.0)
    assert got["sources.input_mb"] == pytest.approx(3.0)
    assert got["sources.input_rows"] == 10


def test_spark_epoch_parses_rest_timestamps():
    assert trace.spark_epoch("1970-01-01T00:00:01.250GMT") == pytest.approx(1.25)
    assert trace.spark_epoch("1970-01-02T00:00:00GMT") == 86400


@pytest.mark.parametrize("n,p", [
    (1, None), (99, None), (100, 90.0), (999, 90.0), (1000, 99.0),
    (10_000, 99.9),
])
def test_highest_percentile_needs_ten_samples_beyond(n, p):
    assert trace.highest_percentile(n) == p


def test_summarize_reports_median_count_and_supported_percentile():
    assert trace.summarize([3.0, 1.0, 2.0]) == {"median": 2.0, "n": 3}
    out = trace.summarize([float(i) for i in range(1, 101)])
    assert out["median"] == 50.5 and out["n"] == 100 and out["p90"] == 90.0


def test_check_accepts_equal_frames_in_any_order():
    want = pd.DataFrame({"b": [1.0, 2.5], "a": ["x", "y"]})
    got = pd.DataFrame({"a": ["y", "x"], "b": [2.5, 1.0]})
    assert diff(got, want) is None


def test_check_flags_a_wrong_value_and_prints_the_rows():
    want = pd.DataFrame({"item": [1, 2, 3], "total": [10.0, 20.0, 30.0]})
    got = pd.DataFrame({"item": [1, 2, 3], "total": [10.0, 20.5, 30.0]})
    report = diff(got, want)
    assert report is not None
    assert "2 | 20.5" in report and "2 | 20" in report


def test_check_flags_missing_rows_and_column_mismatch():
    want = pd.DataFrame({"item": [1, 2]})
    assert diff(pd.DataFrame({"item": [1]}), want) is not None
    assert "columns" in diff(pd.DataFrame({"other": [1, 2]}), want)
