"""Order-insensitive DataFrame-vs-DuckDB comparison.

Mirrors the driver's correctness gate: sort columns by name, compare row
count, column names, and exact values (rows compared as sorted tuples).
Exact float equality is intentional — the engine's determinism rules
(decimal-exact sums, single-IEEE-op ratios) are supposed to make Spark
and DuckDB agree bit-for-bit; a tolerance here would hide regressions
that the driver's hash would catch.
"""

from __future__ import annotations

import math
from collections import Counter

import pandas as pd


def _normalize(df: pd.DataFrame) -> list[tuple]:
    df = df[sorted(df.columns)]
    rows = []
    for tup in df.itertuples(index=False, name=None):
        rows.append(tuple(_norm_val(v) for v in tup))
    return sorted(rows, key=repr)


def _norm_val(v):
    if v is None:
        return None
    if isinstance(v, float):
        return None if math.isnan(v) else v
    # numpy scalars → python scalars so int32 == int64 compares equal
    if hasattr(v, "item") and not isinstance(v, (str, bytes)):
        try:
            return v.item()
        except (AttributeError, ValueError):
            return v
    return v


_INT_KINDS = frozenset("iu")


def _assert_dtype_parity(got: pd.DataFrame, want: pd.DataFrame, key: str):
    """Int-vs-float dtype kind must agree per column.

    The driver hashes raw values, so a DuckDB HUGEINT that pandas turns
    into float64 (1791.0) against a Spark bigint (1791) hash-mismatches
    even though Python's == calls them equal — exactly how tpch_q12
    slipped past this suite in round 2. Only the int/float axis is
    enforced: date/decimal/object representations legitimately differ
    between the two toPandas paths without affecting value equality.
    """
    for col in got.columns:
        gk, wk = got[col].dtype.kind, want[col].dtype.kind
        g_int, w_int = gk in _INT_KINDS, wk in _INT_KINDS
        g_flt, w_flt = gk == "f", wk == "f"
        if (g_int and w_flt) or (g_flt and w_int):
            raise AssertionError(
                f"[{key}] dtype kind mismatch on '{col}': spark={got[col].dtype} "
                f"duckdb={want[col].dtype} — int-vs-float columns hash "
                "differently in the driver even when values compare equal; "
                "CAST the oracle (or the Spark column) so both sides agree"
            )


def assert_matches_oracle(spark_df, duck_con, sql: str, key: str = "?"):
    got = spark_df.toPandas()
    want = duck_con.execute(sql).df()
    assert sorted(got.columns) == sorted(want.columns), (
        f"[{key}] column mismatch: spark={sorted(got.columns)} "
        f"duckdb={sorted(want.columns)}"
    )
    _assert_dtype_parity(got, want, key)
    assert len(got) == len(want), (
        f"[{key}] row count mismatch: spark={len(got)} duckdb={len(want)}"
    )
    g, w = _normalize(got), _normalize(want)
    if g != w:
        only_g, only_w = _only_in(g, w), _only_in(w, g)
        raise AssertionError(
            f"[{key}] value mismatch: {len(only_g)} rows only in spark, "
            f"{len(only_w)} only in duckdb (of {len(g)}); "
            f"spark-only (first 5): {only_g[:5]}; "
            f"duckdb-only (first 5): {only_w[:5]}"
        )


def _only_in(rows: list[tuple], other: list[tuple]) -> list[tuple]:
    """Multiset difference ``rows - other``, matched by ``repr`` like
    the sort in :func:`_normalize` (array cells are unhashable), so one
    missing row is reported as itself instead of misaligning every
    sorted pair after it."""
    left = Counter(map(repr, other))
    out = []
    for row in rows:
        r = repr(row)
        if left[r]:
            left[r] -= 1
        else:
            out.append(row)
    return out
