"""Benchmark harness — times every registered query at $SPARK_GRAFT_SF_DIR.

Prints ONE compact JSON line (sized to fit the driver's 2000-char
stdout-tail window):
    {"metric": "total_query_sec", "value": N, "unit": "sec",
     "queries": {<15 slowest>: sec, ...}, "n_queries": K,
     "queries_full": "bench_samples.json", "sf": 0.1}
The complete per-key map plus raw samples/loadavg go to
bench_samples.json (override with $BENCH_DETAIL_PATH).

Protocol (BASELINE.md): warm SparkSession, MIN of 3 runs per query,
results fully materialized via the noop sink (no driver collect).
Min, not median: the box shares a host, and interference noise is
strictly additive — the fastest run reflects the code, slower runs
reflect whoever else was scheduled (observed 1.5-5x swings on
identical code under neighbor load; min-of-3 is stable).
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
# Python workers inherit this environment when the session starts:
# pyspark's pandas FutureWarnings (serializers.py) would otherwise fill
# the stdout tail. perfbench/run.py sets the same filter.
os.environ.setdefault("PYTHONWARNINGS", "ignore::FutureWarning")

from bigdata1_spark import registry  # noqa: E402
from bigdata1_spark.operators import dedup, text_analysis  # noqa: E402
from bigdata1_spark.session import get_spark  # noqa: E402

# Bench-only timings (VERDICT r07 item 3): the registry key `dedup_near`
# binds dedup_near_checked — the exact PPJoin pair set left-joined to
# the raw MinHash candidates, so it never verifies its LSH leg — so the
# pure-LSH SCALE path (candidates + Jaccard verify) gets its own timing
# here, keeping a regression in the path users run at 100 TB visible
# instead of hidden inside the checked composite. These keys have no
# oracle entry; they exist only for the per-key timing record.
EXTRA_BENCH = {
    "dedup_near_lsh_only": dedup.dedup_near,
    # the full curation plan with the production (pure-LSH) near-dedup
    # stage spliced in — measures what a real ingest pays for dedup
    # inside the pipeline (VERDICT r08 item 7); invariants pinned in
    # tests, no SQL oracle possible (xxhash64-derived signatures)
    "pipeline_pretraining_lsh": text_analysis.pipeline_pretraining_lsh,
}
# A registry key that collides with an EXTRA_BENCH name would be timed
# twice with the second run silently dropped from the headline total —
# fail loudly instead (ADVICE r8).
_overlap = set(EXTRA_BENCH) & set(registry.QUERIES)
if _overlap:  # explicit raise: asserts vanish under `python -O`
    raise RuntimeError(
        "EXTRA_BENCH keys must be disjoint from registry.QUERIES: "
        f"{sorted(_overlap)}"
    )

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
RUNS = int(os.environ.get("BENCH_RUNS", "3"))


def _materialize(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _load_ab_registry(gitref: str):
    """BENCH_AB=<gitref> support: materialize that ref's
    ``bigdata1_spark`` package under a RENAMED package name
    (``bigdata1_spark_abref``) in a temp dir, rewrite its absolute
    imports, and return its registry module — so HEAD and the ref can
    be timed INTERLEAVED in one warm session (per-key noise hits both
    variants alike, which single full runs on this shared host cannot
    guarantee; observed 1.5-5x swings on identical code). Additive
    only: without BENCH_AB the bench path is byte-identical.

    Both variants run in HEAD's session, built by HEAD's
    ``get_spark``, so BENCH_AB cannot compare a change to the session
    conf or the JVM options (``session.py``): the ref's operators would
    run under HEAD's conf. A/B such a change with separate processes
    instead: ``BENCH_ONLY`` in a checkout of each tree, alternating
    which runs first.

    Returns ``(registry, restore)``; ``restore()`` undoes the
    ``sys.path``/``PYTHONPATH`` additions, drops the renamed package
    from ``sys.modules`` and deletes the temp tree."""
    import importlib
    import re
    import shutil
    import subprocess
    import tempfile

    repo = os.path.dirname(os.path.abspath(__file__))
    work = tempfile.mkdtemp(prefix="bench_ab_")
    tar = subprocess.run(
        ["git", "-C", repo, "archive", gitref, "bigdata1_spark"],
        check=True,
        capture_output=True,
    ).stdout
    subprocess.run(["tar", "-x", "-C", work], input=tar, check=True)
    pkg = os.path.join(work, "bigdata1_spark_abref")
    os.rename(os.path.join(work, "bigdata1_spark"), pkg)
    for root, _dirs, files in os.walk(pkg):
        for f in files:
            if not f.endswith(".py"):
                continue
            p = os.path.join(root, f)
            with open(p) as fh:
                src = fh.read()
            # whole-word rewrite so e.g. a docstring's
            # "bigdata1_spark.operators" also resolves consistently
            src = re.sub(r"\bbigdata1_spark\b", "bigdata1_spark_abref", src)
            with open(p, "w") as fh:
                fh.write(src)
    saved_pythonpath = os.environ.get("PYTHONPATH")

    def restore() -> None:
        if work in sys.path:
            sys.path.remove(work)
        if saved_pythonpath is None:
            os.environ.pop("PYTHONPATH", None)
        else:
            os.environ["PYTHONPATH"] = saved_pythonpath
        for name in [m for m in sys.modules
                     if m.split(".")[0] == "bigdata1_spark_abref"]:
            del sys.modules[name]
        shutil.rmtree(work, ignore_errors=True)

    sys.path.insert(0, work)
    # Python workers must also import the renamed package (sources /
    # UDFs pickle by reference): extend PYTHONPATH BEFORE the JVM
    # starts so locally-spawned workers inherit it — which is why
    # callers must load the ref registry before get_spark().
    os.environ["PYTHONPATH"] = (
        work + os.pathsep + (saved_pythonpath or "")
    ).rstrip(os.pathsep)
    try:
        return importlib.import_module("bigdata1_spark_abref.registry"), restore
    except BaseException:
        restore()
        raise


def _ab_function(ab_registry, key: str):
    """The ref's unwrapped callable for ``key``, or None when the ref
    lacks it. Registry keys come from the ref registry; an EXTRA_BENCH
    key resolves its HEAD function's module and name under the renamed
    ref package, so the bench-only scale paths are compared too."""
    import importlib

    if key in ab_registry.QUERIES:
        q = ab_registry.QUERIES[key]
        return getattr(q, "__wrapped__", q)
    if key not in EXTRA_BENCH:
        return None
    fn = EXTRA_BENCH[key]
    ref_pkg = ab_registry.__name__.split(".")[0]
    module = ref_pkg + fn.__module__.removeprefix("bigdata1_spark")
    try:
        return getattr(importlib.import_module(module), fn.__name__, None)
    except ImportError:
        return None


def main() -> None:
    # BENCH_AB=<gitref> — interleaved HEAD-vs-ref comparison (VERDICT
    # r15 item 7). Loaded BEFORE the session so worker PYTHONPATH can
    # include the ref package, and unloaded when the run returns or
    # raises. The ONE-line stdout contract and the headline numbers
    # stay pure HEAD; ref timings + per-key min ratios ride in the
    # detail file's "ab" block and a stderr summary.
    ab_ref = os.environ.get("BENCH_AB")
    if not ab_ref:
        _bench(None, None)
        return
    ab_registry, restore = _load_ab_registry(ab_ref)
    try:
        _bench(ab_ref, ab_registry)
    finally:
        restore()


def _bench(ab_ref: str | None, ab_registry) -> None:
    # "sf" is stably typed (float or null) so cross-round tooling can
    # compare numerically; the raw directory name rides in "sf_label".
    sf_label = os.path.basename(SF_DIR.rstrip("/"))
    try:
        # accepts both the driver's "sf0.1" and the generated big-sf
        # twins ".sf1data"/".sf3data" so scaling tooling can join on a
        # numeric sf instead of a null
        sf = float(
            sf_label.lstrip(".").removesuffix("data").replace("sf", "") or 0
        )
    except ValueError:  # unconventional dir name → numeric slot stays null
        sf = None
    spark = get_spark(app_name="bigdata1-bench")
    spark.sparkContext.setLogLevel("ERROR")

    # Warm the JVM + parquet footer caches with one cheap action.
    _materialize(spark.read.parquet(os.path.join(SF_DIR, "region.parquet")))

    loadavg_start = os.getloadavg()
    timings: dict[str, float] = {}
    extra_timings: dict[str, float] = {}
    all_samples: dict[str, list[float]] = {}
    errors: dict[str, str] = {}
    # Time the UNWRAPPED operator: registry callables clear the session
    # cache on ENTRY (registry._cache_scoped, for sweep storage hygiene),
    # which inside a min-of-RUNS loop would cold-start every run's
    # caches and break protocol comparability with earlier rounds (the
    # r12/r13 series lets runs 2+ of a key reuse its warm cache; bench
    # still clears BETWEEN keys below, so keys stay independent).
    bench_items = [
        (k, getattr(registry.QUERIES[k], "__wrapped__", registry.QUERIES[k]))
        for k in sorted(registry.QUERIES)
    ]
    bench_items += sorted(EXTRA_BENCH.items())
    # BENCH_ONLY=a,b,c — time just those keys (iteration loop while
    # tuning one operator; the headline artifact is always a full run)
    only = os.environ.get("BENCH_ONLY")
    if only:
        wanted = {k.strip() for k in only.split(",") if k.strip()}
        unknown = wanted - {k for k, _ in bench_items}
        if unknown:
            raise RuntimeError(f"BENCH_ONLY names unknown keys: {sorted(unknown)}")
        bench_items = [(k, f) for k, f in bench_items if k in wanted]
    # every ref run per key, beside the head's samples, so the ref's
    # spread can be read from the artifact too
    ref_samples: dict[str, list[float]] = {}
    for key, fn in bench_items:
        # operators that cache intermediates (dedup_*, assoc_rules) leave
        # entries behind; clear BEFORE each key (not after a successful
        # run) so a failed query can't leak its caches into every
        # subsequent timing
        spark.catalog.clearCache()
        ab_fn = None
        if ab_registry is not None:
            ab_fn = _ab_function(ab_registry, key)
        samples = []
        ab_samples = []
        try:
            for rep in range(RUNS):
                variants = [(fn, samples)]
                if ab_fn is not None:
                    # ref first on even reps, HEAD first on odd reps, so
                    # the warm-cache slot does not always favour HEAD
                    variants.insert(rep % 2, (ab_fn, ab_samples))
                for run, dest in variants:
                    t0 = time.perf_counter()
                    _materialize(run(spark, SF_DIR))
                    dest.append(time.perf_counter() - t0)
        except Exception as exc:  # one broken query must not kill the run
            errors[key] = f"{type(exc).__name__}: {exc}"[:200]
            print(f"[bench] {key} FAILED: {errors[key]}", file=sys.stderr)
            continue
        if ab_samples:
            ref_samples[key] = [round(s, 4) for s in ab_samples]
            print(
                f"[bench-ab] {key}: head {min(samples):.3f}s "
                f"ref {min(ab_samples):.3f}s "
                f"speedup {min(ab_samples) / max(min(samples), 1e-9):.3f}",
                file=sys.stderr,
            )
        if key in EXTRA_BENCH:
            # kept OUT of the headline total so round-over-round
            # totals stay comparable on registry keys only
            extra_timings[key] = round(min(samples), 4)
        else:
            timings[key] = round(min(samples), 4)
        all_samples[key] = [round(s, 4) for s in samples]

    # stdout carries ONE compact JSON line that fits the driver's
    # 2000-char stdout-tail window (BENCH_r06.json came back
    # "parsed": null because the full per-key map + samples blew past
    # it). The line keeps the contract fields with the slowest keys
    # inline; the COMPLETE per-key map, all raw samples, and the
    # 1/5/15-min loadavg bracketing the run (the evidence that lets a
    # reader separate neighbor interference from real regressions) go
    # to bench_samples.json next to this script.
    detail_path = os.environ.get(
        "BENCH_DETAIL_PATH",
        os.path.join(os.path.dirname(os.path.abspath(__file__)),
                     "bench_samples.json"),
    )
    slowest = dict(
        sorted(timings.items(), key=lambda kv: -kv[1])[:15]
    )
    out = {
        "metric": "total_query_sec",
        "value": round(sum(timings.values()), 4),
        "unit": "sec",
        "queries": slowest,
        "n_queries": len(timings),
        "queries_full": os.path.basename(detail_path),
        "sf": sf,
    }
    if extra_timings:
        out["extra"] = extra_timings
    if errors:
        out["errors"] = {k: v[:60] for k, v in errors.items()}
    detail = {
        "metric": "total_query_sec",
        "value": out["value"],
        "unit": "sec",
        "queries": timings,
        "sf": sf,
        "sf_label": sf_label,
        "samples": all_samples,
        "runs_per_key": RUNS,
        "loadavg_start": [round(x, 2) for x in loadavg_start],
        "loadavg_end": [round(x, 2) for x in os.getloadavg()],
        "extra_bench_only": extra_timings,
    }
    if ref_samples:
        ref_min = {k: min(v) for k, v in ref_samples.items()}
        head_min = {**timings, **extra_timings}
        detail["ab"] = {
            "ref": ab_ref,
            "ref_queries": ref_min,
            "ref_samples": ref_samples,
            "speedup_vs_ref": {
                k: round(ref_min[k] / max(head_min[k], 1e-9), 4)
                for k in ref_min
            },
        }
    if errors:
        detail["errors"] = errors
    with open(detail_path, "w") as fh:
        json.dump(detail, fh)
    print(json.dumps(out, separators=(",", ":")))


if __name__ == "__main__":
    main()
