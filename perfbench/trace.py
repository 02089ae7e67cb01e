"""Spans and per-layer counters for the traced benchmark run.

Everything here is measured from outside the engine: the benchmark
times its own calls into the operator (``operators`` layer) and into
the final action (``session`` layer), and reads Spark's own job and
stage records from the status REST API plus streaming progress from a
``StreamingQueryListener``. Nothing is added inside ``bigdata1_spark``.

Span tree of one traced pass::

    pass -> key -> operator -> job -> stage
                -> action   -> job -> stage

Jobs and stages carry Spark's own timestamps. A span's self time is its
duration minus the part of its interval that its children cover.
"""

from __future__ import annotations

import calendar
import json
import statistics
import threading
import time
import urllib.request
from dataclasses import dataclass, field

MB = 1024 * 1024


@dataclass
class Span:
    name: str
    kind: str  # pass | key | operator | action | job | stage
    start: float  # epoch seconds
    end: float
    children: list[Span] = field(default_factory=list)

    @property
    def duration(self) -> float:
        return self.end - self.start


def covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to ``[lo, hi]``."""
    clipped = sorted(
        (max(a, lo), min(b, hi)) for a, b in intervals if b > lo and a < hi
    )
    total, cur_a, cur_b = 0.0, None, None
    for a, b in clipped:
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def self_time(span: Span) -> float:
    """Span duration minus the part of it its children cover."""
    return span.duration - covered(
        [(c.start, c.end) for c in span.children], span.start, span.end
    )


def self_times_by_kind(root: Span) -> dict[str, float]:
    """Total self time per span kind over the whole tree."""
    out: dict[str, float] = {}
    stack = [root]
    while stack:
        s = stack.pop()
        out[s.kind] = out.get(s.kind, 0.0) + self_time(s)
        stack.extend(s.children)
    return out


def spark_epoch(ts: str) -> float:
    """Parse a REST timestamp such as ``2026-08-18T05:41:02.123GMT``."""
    base, _, frac = ts.removesuffix("GMT").partition(".")
    whole = calendar.timegm(time.strptime(base, "%Y-%m-%dT%H:%M:%S"))
    return whole + (float(f"0.{frac}") if frac else 0.0)


# stage-level counters summed over every stage attempt of a key's jobs:
# REST StageData field -> (metric name, scale to the reported unit)
STAGE_SUMS = {
    "numTasks": ("session.tasks", 1),
    "executorRunTime": ("session.task_run_s", 1e-3),
    "executorCpuTime": ("session.task_cpu_s", 1e-9),
    "jvmGcTime": ("session.gc_s", 1e-3),
    "shuffleWriteBytes": ("session.shuffle_write_mb", 1 / MB),
    "shuffleReadBytes": ("session.shuffle_read_mb", 1 / MB),
    "shuffleFetchWaitTime": ("session.fetch_wait_s", 1e-3),
    "diskBytesSpilled": ("session.spill_mb", 1 / MB),
    "inputBytes": ("sources.input_mb", 1 / MB),
    "inputRecords": ("sources.input_rows", 1),
}


def stage_counters(stages: list[dict]) -> dict[str, float]:
    """Sum/peak the counters of ``stages`` (REST StageData dicts)."""
    out = {name: 0.0 for name, _ in STAGE_SUMS.values()}
    out["session.stages"] = 0.0
    out["session.peak_exec_mem_mb"] = 0.0
    for st in stages:
        if st.get("status") == "SKIPPED":
            continue
        out["session.stages"] += 1
        for fld, (name, scale) in STAGE_SUMS.items():
            out[name] += st.get(fld, 0) * scale
        out["session.peak_exec_mem_mb"] = max(
            out["session.peak_exec_mem_mb"],
            st.get("peakExecutionMemory", 0) / MB,
        )
    return out


def highest_percentile(n: int, min_beyond: int = 10) -> float | None:
    """Highest of the usual reporting percentiles that has at least
    ``min_beyond`` of ``n`` samples beyond it, or None."""
    for tenths in (999, 990, 900):  # integer math: no float rounding
        if n * (1000 - tenths) >= min_beyond * 1000:
            return tenths / 10
    return None


def summarize(samples: list[float]) -> dict:
    """Median, sample count and the highest supported percentile."""
    out = {"median": statistics.median(samples), "n": len(samples)}
    p = highest_percentile(len(samples))
    if p is not None:
        k = max(0, min(len(samples) - 1, round(p / 100 * len(samples)) - 1))
        out[f"p{p:g}"] = sorted(samples)[k]
    return out


class SparkRest:
    """Job, stage and storage records from Spark's status REST API."""

    def __init__(self, spark):
        sc = spark.sparkContext
        port = sc.uiWebUrl.rsplit(":", 1)[1]
        self._base = (
            f"http://127.0.0.1:{port}/api/v1/applications/{sc.applicationId}"
        )

    def get(self, path: str):
        with urllib.request.urlopen(self._base + path, timeout=30) as r:
            return json.load(r)

    def max_job_id(self) -> int:
        return max((j["jobId"] for j in self.get("/jobs")), default=-1)

    def jobs_after(self, job_id: int, wait_s: float = 5.0) -> list[dict]:
        """Jobs with id > ``job_id``, once each has completed. The
        status store is fed asynchronously, so the last job's end can
        lag the action's return by a few milliseconds."""
        deadline = time.monotonic() + wait_s
        while True:
            jobs = [j for j in self.get("/jobs") if j["jobId"] > job_id]
            if all("completionTime" in j for j in jobs) or (
                time.monotonic() > deadline
            ):
                return sorted(jobs, key=lambda j: j["jobId"])
            time.sleep(0.02)

    def stages(self, stage_ids: set[int]) -> list[dict]:
        return [s for s in self.get("/stages") if s["stageId"] in stage_ids]

    def cached_mb(self) -> float:
        return sum(
            r.get("memoryUsed", 0) + r.get("diskUsed", 0)
            for r in self.get("/storage/rdd")
        ) / MB


def job_spans(jobs: list[dict], stages: list[dict]) -> list[Span]:
    """Completed jobs as spans whose children are their stages."""
    by_id: dict[int, list[dict]] = {}
    for st in stages:
        by_id.setdefault(st["stageId"], []).append(st)
    spans = []
    for j in jobs:
        if "completionTime" not in j:
            continue
        span = Span(
            f"job {j['jobId']}", "job",
            spark_epoch(j["submissionTime"]), spark_epoch(j["completionTime"]),
        )
        for sid in j.get("stageIds", []):
            for st in by_id.get(sid, []):
                if "submissionTime" in st and "completionTime" in st:
                    span.children.append(Span(
                        f"stage {sid}", "stage",
                        spark_epoch(st["submissionTime"]),
                        spark_epoch(st["completionTime"]),
                    ))
        spans.append(span)
    return spans


def make_stream_listener():
    """A ``StreamingQueryListener`` counting lifecycles, micro-batches
    and Σ triggerExecution. Imported lazily: pyspark is only needed
    when a traced run registers it."""
    from pyspark.sql.streaming import StreamingQueryListener

    class StreamCounter(StreamingQueryListener):
        def __init__(self):
            self._lock = threading.Lock()
            self.started = self.terminated = self.batches = 0
            self.batch_s = 0.0

        def onQueryStarted(self, event):
            with self._lock:
                self.started += 1

        def onQueryProgress(self, event):
            ms = event.progress.durationMs.get("triggerExecution", 0)
            with self._lock:
                self.batches += 1
                self.batch_s += ms / 1000.0

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            with self._lock:
                self.terminated += 1

        def snapshot(self, wait_s: float = 5.0) -> tuple[int, int, float]:
            """(lifecycles, batches, batch_s) once every started query's
            termination event has been delivered (bounded wait)."""
            deadline = time.monotonic() + wait_s
            while True:
                with self._lock:
                    done = self.terminated >= self.started
                    snap = (self.started, self.batches, self.batch_s)
                if done or time.monotonic() > deadline:
                    return snap
                time.sleep(0.02)

    return StreamCounter()
