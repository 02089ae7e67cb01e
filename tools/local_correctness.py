"""Produce a driver-style correctness artifact for EVERY registry key.

The round driver samples ~50 keys per round, so some keys can go rounds
without a fresh driver row (round-4 VERDICT flagged 7 keys with no row at
all). This tool runs the full `__spark_entry__.queries()` registry against
the DuckDB oracles on the driver's gate data (sf0.01) and on any stress
twins (`tools/gen_twin.py`), and writes ONE JSON artifact keyed by axis
(each directory's basename) and then by key, each row in the driver's
own row format (rows_match / schema_match / hash_match / spark_rows /
oracle_rows / err) so coverage claims are evidence-backed even for keys
the driver rotation missed. Every row that ran also banks ``spark_hash``,
an exact hash of Spark's output (the ``repr`` of every raw cell, so a
double that moves by one ulp changes it; rows-only keys included), so
two artifacts of the same data show whether a change left a key's
output byte-identical; every oracle row banks ``oracle_hash``, the same
exact hash of DuckDB's output, so two artifacts also show whether an
oracle's output moved. The bench-only keys (``bench.EXTRA_BENCH``: the
pure-LSH dedup path and the LSH pretraining pipeline) have no SQL
oracle and are not driver queries; they are swept as ``no_oracle`` rows
so their ``spark_hash`` is banked too.

Usage:
    python tools/local_correctness.py [OUT.json] [DIR ...]

One Spark session and one DuckDB connection sweep every DIR (default:
the sf0.01 testdata). Set ``ONLY_KEYS=a,b,c`` to restrict the run to
specific keys (the fast loop while iterating on one operator), and
``RESUME=1`` to keep the rows an existing OUT.json already adjudicated.

Comparison semantics mirror the driver: columns sorted by name, rows
sorted, values hashed after a light normalization (floats rounded to 9
significant digits, timestamps to ISO strings) so dtype-equal values
hash equal across engines.
"""
from __future__ import annotations

import hashlib
import json
import math
import os
import sys
from datetime import date, datetime


def _norm_cell(v):
    if v is None:
        return "\x00"
    if isinstance(v, float):
        if math.isnan(v):
            return "nan"
        if v == int(v) and abs(v) < 1e15:
            return str(int(v))
        return f"{v:.9g}"
    if isinstance(v, (datetime, date)):
        return v.isoformat(sep=" ")
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(_norm_cell(x) for x in v) + "]"
    if isinstance(v, bytes):
        return v.hex()
    return str(v)


def _hash_rows(df, cell) -> str:
    rows = sorted(
        "\x01".join(cell(c) for c in row)
        for row in df.itertuples(index=False, name=None)
    )
    h = hashlib.sha256()
    for r in rows:
        h.update(r.encode("utf-8", "surrogatepass"))
        h.update(b"\x02")
    return h.hexdigest()


def _value_hash(df) -> str:
    """The driver-style hash: cells normalised by :func:`_norm_cell`, so
    Spark's and DuckDB's renderings of one value hash equal."""
    return _hash_rows(df, _norm_cell)


def _exact_hash(df) -> str:
    """The hash of the raw cells' ``repr`` — no float rounding, so it
    tells a byte-identical output from one a refactor moved by an ulp."""
    return _hash_rows(df, repr)


def _error_row(err: str | None) -> dict:
    return {"rows_match": None, "schema_match": None, "hash_match": None,
            "spark_hash": None, "oracle_hash": None, "spark_rows": None,
            "oracle_rows": None,
            "err": err[:300] if err else None}


def main() -> None:
    out_path = sys.argv[1] if len(sys.argv) > 1 else "CORRECTNESS_local.json"
    sf_dirs = sys.argv[2:] or ["/root/testdata/sf0.01"]
    axes = [os.path.basename(os.path.normpath(d)) for d in sf_dirs]
    if len(set(axes)) != len(axes):
        sys.exit(f"directory basenames must be distinct: {axes}")

    import duckdb
    from pyspark.sql import SparkSession

    # Runnable from anywhere: the entry module lives at the repo root.
    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    import __spark_entry__ as entry
    from bench import EXTRA_BENCH
    from bigdata1_spark.session import LOCAL_JVM_OPTIONS, driver_memory
    from bigdata1_spark.sources.tables import TABLES

    # driver-gate defaults (local[8]/16) mirror the driver harness at
    # sf0.01; a big-sf sweep overrides via env for throughput
    def _new_spark():
        s = (
            SparkSession.builder.master(
                os.environ.get("CORR_MASTER", "local[8]")
            )
            .config(
                "spark.sql.shuffle.partitions",
                os.environ.get("CORR_SHUFFLE_PARTITIONS", "16"),
            )
            .config("spark.driver.memory", driver_memory())
            .config("spark.driver.defaultJavaOptions", LOCAL_JVM_OPTIONS)
            .config("spark.sql.session.timeZone", "UTC")
            .config("spark.ui.showConsoleProgress", "false")
            .getOrCreate()
        )
        s.sparkContext.setLogLevel("ERROR")
        return s

    spark = _new_spark()

    con = duckdb.connect()
    # parallel sharded sweeps oversubscribe the box badly if every
    # DuckDB grabs all cores (3 shards x 32 threads + 3 Spark JVMs);
    # cap the oracle engine when the caller says so
    if os.environ.get("CORR_DUCK_THREADS"):
        con.execute(f"PRAGMA threads={int(os.environ['CORR_DUCK_THREADS'])}")

    qs, osql = {**entry.queries(), **EXTRA_BENCH}, entry.oracle_sql()
    only = os.environ.get("ONLY_KEYS")
    if only:
        wanted = {k.strip() for k in only.split(",") if k.strip()}
        qs = {k: v for k, v in qs.items() if k in wanted}

    # RESUME=1: reload an existing artifact and only re-run keys that are
    # not conclusively adjudicated (big-sf sweeps take hours; the r9 run
    # died mid-way with a dead JVM and 97 keys never got a verdict).
    report: dict[str, dict[str, dict]] = {}
    if os.environ.get("RESUME") and os.path.exists(out_path):
        with open(out_path) as f:
            report = json.load(f)

    def _done(row: dict) -> bool:
        if row.get("spark_hash") is None:
            return False  # errored, or banked before spark_hash existed
        if row.get("hash_match") is not None:
            # adjudicated pass OR fail — both are verdicts, once the
            # oracle's own hash is banked too
            return row.get("oracle_hash") is not None
        return row.get("err") == "no_oracle" and row.get("spark_rows") is not None

    # A dead JVM (OOM-killed executor thread taking the gateway down)
    # must not void the rest of the sweep: on gateway-level errors,
    # rebuild the session and retry the key once.
    _GATEWAY_ERRS = ("Connection refused", "Java gateway",
                     "Py4JNetworkError", "Answer from Java side is empty")

    def _run_key(key, sf_dir):
        row = _error_row(None)
        # Cache-lifecycle convention (see operators/ir.py header): an
        # operator may leave session-scoped caches behind when its
        # result frame still depends on them lazily; every harness that
        # loops over the registry clears BEFORE each key (bench.py does
        # the same) so a 211-key sweep at sf3 can't accumulate storage
        # entries across keys (ADVICE r12).
        spark.catalog.clearCache()
        got = qs[key](spark, sf_dir).toPandas()
        got = got[sorted(got.columns)]
        row["spark_rows"] = len(got)
        row["spark_hash"] = _exact_hash(got)
        if key not in osql:
            row["err"] = "no_oracle"
        else:
            want = con.execute(osql[key]).df()
            want = want[sorted(want.columns)]
            row["oracle_rows"] = len(want)
            row["oracle_hash"] = _exact_hash(want)
            row["rows_match"] = len(got) == len(want)
            row["schema_match"] = list(got.columns) == list(want.columns)
            row["hash_match"] = _value_hash(got) == _value_hash(want)
        return row

    def _sweep_key(key, sf_dir):
        nonlocal spark
        try:
            return _run_key(key, sf_dir)
        except Exception as ex:  # noqa: BLE001 - report, don't crash the sweep
            msg = f"{type(ex).__name__}: {ex}"
            if not any(s in msg for s in _GATEWAY_ERRS):
                return _error_row(msg)
        print(f"{key}: gateway died — restarting Spark and retrying once",
              flush=True)
        try:
            spark.stop()
        except Exception:  # noqa: BLE001 - JVM already gone
            pass
        spark = _new_spark()
        try:
            return _run_key(key, sf_dir)
        except Exception as ex:  # noqa: BLE001
            return _error_row(f"{type(ex).__name__}: {ex}")

    for sf_dir, axis in zip(sf_dirs, axes):
        rows = report.setdefault(axis, {})
        for t in TABLES:
            con.execute(
                f"CREATE OR REPLACE VIEW {t} AS SELECT * FROM "
                f"read_parquet('{sf_dir}/{t}.parquet')"
            )
        for key in sorted(qs):
            if _done(rows.get(key, {})):
                continue
            rows[key] = _sweep_key(key, sf_dir)
            row = rows[key]
            status = (row["err"] or
                      ("PASS" if row["hash_match"] else "FAIL"))
            print(f"{axis} {key}: {status}", flush=True)
            # incremental flush: a big-sf sweep killed mid-run (round
            # clock, OOM) still banks every completed row
            with open(out_path, "w") as f:
                json.dump(report, f, indent=2)

    with open(out_path, "w") as f:
        json.dump(report, f, indent=2)
    n_bad = 0
    for axis, rows in report.items():
        n_pass = sum(1 for r in rows.values() if r["hash_match"])
        n_ro = sum(1 for r in rows.values() if r["err"] == "no_oracle")
        bad = sum(1 for r in rows.values()
                  if r["err"] not in (None, "no_oracle") or
                  r["hash_match"] is False)
        n_bad += bad
        print(f"{out_path} [{axis}]: {len(rows)} keys — {n_pass} hash-pass, "
              f"{n_ro} rows-only, {bad} failing")
    sys.exit(1 if n_bad else 0)


if __name__ == "__main__":
    main()
