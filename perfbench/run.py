"""Closed-loop benchmark of the engine's registry keys at local[$(nproc)].

Usage (from the repository root):

    python3 perfbench/run.py --workload basket --seed 1 --seconds 20 --trace 0

One run is one batch-report job, the way the paper's reports run under
spark-submit: generate the workload's inputs from ``--seed`` (three
times, checking the files are byte-identical), start one SparkSession,
then run the workload's keys once. That first pass is the cold pass a
one-shot user pays on every job; its outputs are collected and checked,
untimed, against the registry's DuckDB oracles. Warm passes (noop sink)
then repeat the keys until ``--seconds`` have passed since the cold
pass began; they show what a long-lived session pays.

One client, no extra threads: keys run one after another in a fixed
order, each starting when the previous one has completed. Each key
calls the unwrapped registry callable.

``--trace 0`` reports the end-to-end metrics, ``--trace 1`` the
per-layer split of the cold pass (see ``trace.py``). The last stdout
line is one JSON object ``{"correct", "attempted", "failed",
"metrics"}``; the line before it carries the run's context: conf,
versions, loadavg, host CPU steal, warm-pass samples and, when traced,
the split per key.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import platform  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


# inputs at sf0.01: every key here is bound by per-job overhead at
# this size, and a run must stay near half a minute
SF = 0.01
WORKLOADS = {
    # the paper's TopFive, SupportAndConfidence and TotalPerMonth (over
    # the reference's costed billing text): scan, shuffle, aggregation
    "basket": ("topk_window", "assoc_rules", "billing_total_b"),
    # keys whose time goes into the operator call, not the final action:
    # eager per-round checkpoint jobs (pagerank), observe-driven fixpoint
    # rounds (connected_components) and a bounded stream drain
    "operator_bound": (
        "pagerank", "connected_components", "events_salted_join_streamed"),
}

# Both are CPU seconds (this process, the JVM and its Python workers):
# on a shared host, wall times drift 15-35% between runs minutes apart
# with the neighbours' load, CPU seconds about half as much. Wall times
# are in the context line.
END_TO_END = {
    "setup_s": "s",
    "cold_cpu_s": "s",
}
PER_LAYER = {
    "operators.build_s": "s",
    "operators.build_jobs": "count",
    "operators.self_s": "s",
    "operators.cached_mb": "MB",
    "session.plan_ms": "ms",
    "session.exec_s": "s",
    "session.jobs": "count",
    "session.job_s": "s",
    "session.gap_s": "s",
    "session.stages": "count",
    "session.tasks": "count",
    "session.task_run_s": "s",
    "session.task_cpu_s": "s",
    "session.cpu_ratio": "ratio",
    "session.core_util": "ratio",
    "session.shuffle_write_mb": "MB",
    "session.shuffle_read_mb": "MB",
    "session.fetch_wait_s": "s",
    "session.spill_mb": "MB",
    "session.gc_s": "s",
    "session.peak_exec_mem_mb": "MB",
    "sources.input_mb": "MB",
    "sources.input_rows": "count",
    "streaming.lifecycles": "count",
    "streaming.batches": "count",
    "streaming.batch_s": "s",
    "streaming.gap_s": "s",
    "trace.cold_pass_s": "s",
}
# per-key values combined across a pass by max, not sum
_PEAKS = ("operators.cached_mb", "session.peak_exec_mem_mb")
GEN_REPEATS = 3
_TICK = os.sysconf("SC_CLK_TCK")


def host_env(work: str) -> dict[str, str]:
    """Environment that fits the engine to this host, set before the
    JVM starts so the JVM and its Python workers inherit it."""
    cpus = len(os.sched_getaffinity(0))
    phys_mb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // 2**20
    return {
        "SPARK_GRAFT_CPUS": str(cpus),
        # a quarter of physical memory, at most 4g: the session default
        # (16g) exceeds small hosts
        "SPARK_GRAFT_DRIVER_MEM": f"{min(4096, phys_mb // 4)}m",
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
        "TMPDIR": os.path.join(work, "tmp"),
        "PYTHONPATH": os.pathsep.join(
            p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
        ),
        "PYTHONWARNINGS": "ignore::FutureWarning,ignore::DeprecationWarning",
    }


def _stat_fields(pid: int) -> list[str] | None:
    """/proc/<pid>/stat fields after the (possibly spaced) comm field."""
    try:
        with open(f"/proc/{pid}/stat") as fh:
            return fh.read().rsplit(")", 1)[1].split()
    except (OSError, IndexError):
        return None


def cpu_s(pid: int) -> float:
    """CPU seconds of ``pid`` plus its reaped children. Time the host
    steals from this machine is not in it, unlike wall time."""
    f = _stat_fields(pid)
    # utime stime cutime cstime are stat fields 14-17
    return sum(int(x) for x in f[11:15]) / _TICK if f else 0.0


def vm_hwm_mb(pid: int) -> float:
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024
    except OSError:
        pass
    return 0.0


def descendants(root: int) -> list[int]:
    """Live descendant pids of ``root`` (the JVM's Python workers)."""
    children: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        f = _stat_fields(int(d)) if d.isdigit() else None
        if f:
            children.setdefault(int(f[1]), []).append(int(d))
    out, frontier = [], [root]
    while frontier:
        kids = children.get(frontier.pop(), [])
        out += kids
        frontier += kids
    return out


def host_steal() -> tuple[int, int]:
    """(steal ticks, all ticks) from the aggregate cpu line."""
    with open("/proc/stat") as fh:
        ticks = [int(x) for x in fh.readline().split()[1:]]
    return ticks[7], sum(ticks)


class Bench:
    def __init__(self, keys: tuple[str, ...], data_dir: str):
        self.keys = keys
        self.data_dir = data_dir
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []

    def start(self, work: str):
        from pyspark import SparkContext

        from bigdata1_spark import registry
        from bigdata1_spark.session import get_spark

        unchecked = set(self.keys) - set(registry.ORACLES)
        if unchecked:
            raise KeyError(f"workload keys without an oracle: {sorted(unchecked)}")
        self.registry = registry
        self.fns = {k: registry.QUERIES[k].__wrapped__ for k in self.keys}
        self.spark = get_spark(
            app_name="perfbench",
            extra_conf={
                "spark.driver.extraJavaOptions":
                    f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
                "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            },
        )
        self.spark.sparkContext.setLogLevel("ERROR")
        self.gateway_proc = getattr(SparkContext._gateway, "proc", None)
        self.jvm_pid = int(
            self.spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
        )

    def stop(self):
        """Stop the session, then the gateway JVM, and wait for it."""
        from pyspark import SparkContext

        try:
            self.spark.stop()
        finally:
            if SparkContext._gateway is not None:
                SparkContext._gateway.shutdown()
                SparkContext._gateway = None
            proc = self.gateway_proc
            if proc is not None:
                # the gateway JVM exits when its stdin closes
                if proc.stdin:
                    proc.stdin.close()
                try:
                    proc.wait(timeout=30)
                except Exception:
                    proc.kill()
                    proc.wait()

    def pids(self) -> list[int]:
        return [os.getpid(), self.jvm_pid] + descendants(self.jvm_pid)

    # -- one key, one pass ------------------------------------------------

    def run_key(self, key: str, collect: bool, tracer=None):
        """Run one key; return (output, per-key metrics), or (None, None)
        when it raised. The output is the collected pandas frame when
        ``collect`` is set, else the frame after a noop-sink write."""
        self.attempted += 1
        try:
            self.spark.catalog.clearCache()
            if tracer is not None:
                return tracer.run_key(key, self.fns[key], collect)
            t0 = time.perf_counter()
            df = self.fns[key](self.spark, self.data_dir)
            t1 = time.perf_counter()
            df = sink(df, collect)
            t2 = time.perf_counter()
            return df, {"operators.build_s": t1 - t0, "session.exec_s": t2 - t1}
        except Exception:  # one broken key must not end the run
            self.failed += 1
            msg = traceback.format_exc(limit=3)
            self.errors.append(f"{key}: {msg.splitlines()[-1]}")
            print(f"[perfbench] {key} FAILED\n{msg}", file=sys.stderr)
            return None, None

    def run_pass(self, collect: bool = False, tracer=None) -> dict:
        c0 = sum(cpu_s(p) for p in self.pids())
        t0 = time.perf_counter()
        if tracer is not None:
            tracer.begin_pass()
        outputs, per_key = {}, {}
        for key in self.keys:
            outputs[key], per_key[key] = self.run_key(key, collect, tracer)
        wall = time.perf_counter() - t0
        pids = self.pids()
        out = {
            "wall": wall,
            "cpu": sum(cpu_s(p) for p in pids) - c0,
            "rss_mb": sum(vm_hwm_mb(p) for p in pids),
            "outputs": outputs,
            "per_key": per_key,
        }
        if tracer is not None:
            out["layers"], out["self_s"] = tracer.end_pass(wall, per_key)
        return out

    def check(self, cold: dict) -> list[str]:
        """Compare the cold pass's collected outputs with the DuckDB
        oracles. Returns the mismatch reports; each counts as one
        failed execution."""
        from perfbench.check import diff, oracle_connection
        from perfbench.gen import TABLES

        con = oracle_connection(self.data_dir, TABLES)
        reports = []
        try:
            for key in self.keys:
                got = cold["outputs"][key]
                if got is None:
                    continue  # already counted as failed
                bad = diff(got, con.execute(self.registry.ORACLES[key]).df())
                if bad:
                    self.failed += 1
                    reports.append(f"{key} differs from its oracle: {bad}")
        finally:
            con.close()
        return reports


def sink(df, collect: bool):
    """Materialise ``df``: collect it to pandas, or write the noop sink."""
    if collect:
        return df.toPandas()
    df.write.format("noop").mode("overwrite").save()
    return df


class Tracer:
    """Per-layer split of a traced pass, measured from outside the engine."""

    def __init__(self, bench: Bench):
        from perfbench import trace

        self.t = trace
        self.bench = bench
        self.spark = bench.spark
        self.rest = trace.SparkRest(self.spark)
        self.streams = trace.make_stream_listener()
        self.spark.streams.addListener(self.streams)
        self.cores = int(os.environ["SPARK_GRAFT_CPUS"])

    def begin_pass(self):
        self.pass_span = self.t.Span("pass", "pass", time.time(), 0.0)

    def run_key(self, key: str, fn, collect: bool):
        t = self.t
        job0 = self.rest.max_job_id()
        s_started, s_batches, s_batch_s = self.streams.snapshot()
        t0 = time.time()
        df = fn(self.spark, self.bench.data_dir)
        t1 = time.time()
        cached_mb = self.rest.cached_mb()
        qe = df._jdf.queryExecution()
        qe.executedPlan()
        phases = qe.tracker().phases()
        plan_ms = sum(
            phases.apply(p).durationMs()
            for p in ("analysis", "optimization", "planning")
            if phases.contains(p)
        )
        t2 = time.time()
        out = sink(df, collect)
        t3 = time.time()
        jobs = self.rest.jobs_after(job0)
        stages = self.rest.stages({s for j in jobs for s in j.get("stageIds", [])})
        jspans = t.job_spans(jobs, stages)
        # jobs submitted before the action began belong to the operator
        # call (a few ms of slack for the REST timestamps' ms rounding)
        op = t.Span(key, "operator", t0, t1,
                    [j for j in jspans if j.start < t2 - 0.002])
        act = t.Span(key, "action", t2, t3,
                     [j for j in jspans if j.start >= t2 - 0.002])
        self.pass_span.children.append(t.Span(key, "key", t0, t3, [op, act]))
        started, batches, batch_s = self.streams.snapshot()
        lifecycles = started - s_started
        m = t.stage_counters(stages)
        m.update({
            "operators.build_s": op.duration,
            "operators.build_jobs": len(op.children),
            "operators.self_s": t.self_time(op),
            "operators.cached_mb": cached_mb,
            "session.plan_ms": plan_ms,
            "session.exec_s": act.duration,
            "session.jobs": len(act.children),
            "session.job_s": sum(j.duration for j in act.children),
            "session.gap_s": t.self_time(act),
            "streaming.lifecycles": lifecycles,
            "streaming.batches": batches - s_batches,
            "streaming.batch_s": batch_s - s_batch_s,
            "streaming.gap_s": (
                op.duration - (batch_s - s_batch_s) if lifecycles else 0.0
            ),
        })
        return out, m

    def end_pass(self, wall: float, per_key: dict) -> tuple[dict, dict]:
        """(per-layer totals of the pass, self time per span kind)."""
        self.pass_span.end = self.pass_span.start + wall
        layers = {name: 0.0 for name in PER_LAYER}
        for m in per_key.values():
            for name, v in (m or {}).items():
                if name in _PEAKS:
                    layers[name] = max(layers[name], v)
                else:
                    layers[name] += v
        run_s = layers["session.task_run_s"]
        layers["session.cpu_ratio"] = (
            layers["session.task_cpu_s"] / run_s if run_s else 0.0
        )
        layers["session.core_util"] = run_s / (wall * self.cores)
        layers["trace.cold_pass_s"] = wall
        return layers, self.t.self_times_by_kind(self.pass_span)


def parse_args(argv=None):
    ap = argparse.ArgumentParser(
        description="perfbench: closed-loop registry benchmark")
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def setup_inputs(data_dir: str, seed: int, sf: float):
    """Generate the inputs GEN_REPEATS times. Returns the median wall
    and CPU seconds of one generation and whether every repeat was
    byte-identical."""
    from perfbench.gen import digest, generate

    walls, cpus, digests = [], [], set()
    for _ in range(GEN_REPEATS):
        t0, c0 = time.perf_counter(), time.process_time()
        generate(data_dir, seed, sf)
        walls.append(time.perf_counter() - t0)
        cpus.append(time.process_time() - c0)
        digests.add(digest(data_dir))
    return statistics.median(walls), statistics.median(cpus), len(digests) == 1


def r4(v):
    return round(v, 4)


def main(argv=None) -> int:
    args = parse_args(argv)
    keys = WORKLOADS[args.workload]
    if not os.path.isfile(os.path.join(ROOT, "bigdata1_spark", "registry.py")):
        print("perfbench: bigdata1_spark/ not found next to perfbench/",
              file=sys.stderr)
        return 2
    work = os.path.join(ROOT, ".perfbench_work", str(os.getpid()))
    env = host_env(work)
    for d in (env["SPARK_LOCAL_DIRS"], env["TMPDIR"]):
        os.makedirs(d, exist_ok=True)
    os.environ.update(env)
    sys.path[:0] = [ROOT]
    bench = None
    try:
        import pyspark

        from bigdata1_spark import registry  # noqa: F401  (import is set-up)
        from perfbench.trace import summarize

        import_s, import_cpu = time.perf_counter() - T_START, time.process_time()
        data_dir = os.path.join(work, "data")
        gen_s, gen_cpu, deterministic = setup_inputs(data_dir, args.seed, SF)
        if not deterministic:
            print("perfbench: generator repeats with one seed differ",
                  file=sys.stderr)
            return 3
        t0, c0 = time.perf_counter(), time.process_time()
        bench = Bench(keys, data_dir)
        bench.start(work)
        session_s = time.perf_counter() - t0
        # the JVM and its workers started inside this step: all their
        # CPU so far is session start-up
        session_cpu = time.process_time() - c0 + sum(
            cpu_s(p) for p in bench.pids()[1:])

        tracer = Tracer(bench) if args.trace else None
        loadavg_start, steal0 = os.getloadavg(), host_steal()
        window0 = time.perf_counter()
        cold = bench.run_pass(collect=True, tracer=tracer)
        warm = []
        while time.perf_counter() - window0 < args.seconds:
            warm.append(bench.run_pass())
        loadavg_end, steal1 = os.getloadavg(), host_steal()

        reports = bench.check(cold)
        for r in reports:
            print(f"[perfbench] CHECK {r}", file=sys.stderr)

        if args.trace:
            metrics, units = cold["layers"], PER_LAYER
        else:
            metrics = {
                "setup_s": import_cpu + gen_cpu + session_cpu,
                "cold_cpu_s": cold["cpu"],
            }
            units = END_TO_END
        context = {
            "workload": args.workload,
            "seed": args.seed,
            "sf": SF,
            "keys": list(keys),
            "trace": args.trace,
            "setup_wall_s": {"import": r4(import_s), "gen": r4(gen_s),
                             "session": r4(session_s)},
            "setup_cpu_s": {"import": r4(import_cpu), "gen": r4(gen_cpu),
                            "session": r4(session_cpu)},
            "cold_pass_s": r4(cold["wall"]),
            "cold_per_key_s": {
                k: r4(sum(m.get(n, 0) for n in ("operators.build_s",
                                                 "session.exec_s")))
                for k, m in cold["per_key"].items() if m
            },
            # VmHWM of the JVM, its Python workers and this process at
            # the end of the cold pass: reported, not bounded (it follows
            # the JVM's heap sizing, which varies 20-40% run to run)
            "peak_rss_mb": r4(cold["rss_mb"]),
            "warm_pass_s": summarize([p["wall"] for p in warm]) if warm else None,
            "warm_passes": [[r4(p["wall"]), r4(p["cpu"])] for p in warm],
            "host_steal_frac": r4(
                (steal1[0] - steal0[0]) / max(1, steal1[1] - steal0[1])),
            "loadavg_start": loadavg_start,
            "loadavg_end": loadavg_end,
            "versions": {"spark": bench.spark.version,
                         "pyspark": pyspark.__version__,
                         "python": platform.python_version()},
            "conf": {k: v for k, v in bench.spark.sparkContext.getConf().getAll()
                     if k in ("spark.master", "spark.driver.memory",
                              "spark.sql.shuffle.partitions",
                              "spark.sql.adaptive.enabled")},
            "env": {k: env[k] for k in ("SPARK_GRAFT_CPUS",
                                        "SPARK_GRAFT_DRIVER_MEM",
                                        "SPARK_LOCAL_DIRS")},
            "errors": bench.errors + reports,
        }
        if args.trace:
            context["cold_self_s"] = {k: r4(v) for k, v in cold["self_s"].items()}
            context["cold_layers_per_key"] = {
                k: {n: r4(v) for n, v in m.items()}
                for k, m in cold["per_key"].items() if m
            }
        print(json.dumps({"perfbench": context}, default=str))
        print(json.dumps({
            "correct": bench.failed == 0,
            "attempted": bench.attempted,
            "failed": bench.failed,
            "metrics": {n: {"value": metrics[n], "unit": units[n]}
                        for n in units},
        }))
        return 0
    finally:
        if bench is not None and hasattr(bench, "spark"):
            bench.stop()
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass


if __name__ == "__main__":
    sys.exit(main())
