"""Dump ``explain('formatted')`` for registry keys to text files.

Usage:
    python tools/dump_plans.py OUT_DIR SUFFIX key1 [key2 ...]

Writes ``OUT_DIR/<key>_<SUFFIX>.txt`` per key. Set ``PLAN_PKG_REF`` to
a git ref to dump the plans of THAT ref's code instead of the working
tree (same renamed-package mechanism as bench.py's BENCH_AB) — how the
round's ``plans/rNN/<key>_before.txt`` evidence is generated honestly
after the working tree has moved on.

Two dumps of the same code are byte-identical: the session-global
counters in a plan (expression ids ``#N``, exchange ``[plan_id=N]``,
RDD ids ``…RDD[N]``) are renumbered in order of first appearance, so a
reference from one node to another still resolves, and
``bucketed_join``'s random temp table path is masked.
"""

from __future__ import annotations

import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

_COUNTERS = (
    re.compile(r"(?<=#)\d+"),
    re.compile(r"(?<=\[plan_id=)\d+(?=\])"),
    re.compile(r"(?<=RDD\[)\d+(?=\])"),
)
_BUCKETED_TMP = re.compile(r"[^\s\[]*/bigdata1_bucketed_[^/\s\]]+")


def normalize(plan: str) -> str:
    """``plan`` with each counter renumbered 1, 2, … in order of first
    appearance and the bucketed temp dir masked."""
    for counter in _COUNTERS:
        ids: dict[str, str] = {}
        plan = counter.sub(
            lambda m: ids.setdefault(m.group(), str(len(ids) + 1)), plan
        )
    return _BUCKETED_TMP.sub("<tmp>/bigdata1_bucketed", plan)


def main() -> None:
    out_dir, suffix, *keys = sys.argv[1:]
    ref = os.environ.get("PLAN_PKG_REF")
    if not ref:
        from bigdata1_spark import registry

        _dump(registry, out_dir, suffix, keys)
        return
    import bench

    registry, restore = bench._load_ab_registry(ref)
    try:
        _dump(registry, out_dir, suffix, keys)
    finally:
        restore()


def _dump(registry, out_dir: str, suffix: str, keys: list[str]) -> None:
    from bigdata1_spark.session import get_spark

    spark = get_spark(app_name="bigdata1-plans")
    spark.sparkContext.setLogLevel("ERROR")
    os.makedirs(out_dir, exist_ok=True)
    for key in keys:
        fn = getattr(registry.QUERIES[key], "__wrapped__", registry.QUERIES[key])
        spark.catalog.clearCache()
        df = fn(spark, SF_DIR)
        plan = normalize(df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"
        ))
        path = os.path.join(out_dir, f"{key}_{suffix}.txt")
        with open(path, "w") as fh:
            fh.write(plan)
        print(f"wrote {path} ({plan.count('Exchange')} Exchange)")


if __name__ == "__main__":
    main()
