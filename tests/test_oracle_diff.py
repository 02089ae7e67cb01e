"""Oracle-differential test over every registered query (the same check
the driver runs at sf0.01 — SURVEY.md §5 item 1). The same per-key
frame also carries the registry-wide plan audit and scan budget
(``tests.test_plans.audit_registry_plan``)."""

from __future__ import annotations

import pytest

from bigdata1_spark import registry
from tests.oracle import assert_matches_oracle
from tests.test_plans import audit_registry_plan


@pytest.mark.parametrize("key", sorted(registry.ORACLES))
def test_query_matches_oracle(key, spark, duck, sf_dir):
    df = registry.QUERIES[key](spark, sf_dir)
    audit_registry_plan(key, df)
    assert_matches_oracle(df, duck, registry.ORACLES[key], key=key)
    # operators that cache intermediates must not leak storage memory
    # across the ~80-query sweep
    spark.catalog.clearCache()


def test_dtype_parity_catches_hugeint_float():
    """The round-2 tpch_q12 escape: DuckDB HUGEINT → pandas float64 vs
    Spark int64 passes Python == but fails the driver's value hash. The
    parity check must flag it even though the values compare equal."""
    import pandas as pd

    from tests.oracle import _assert_dtype_parity

    spark_side = pd.DataFrame({"k": ["F"], "high_line_count": [1791]})
    duck_side = pd.DataFrame({"k": ["F"], "high_line_count": [1791.0]})
    with pytest.raises(AssertionError, match="dtype kind mismatch"):
        _assert_dtype_parity(spark_side, duck_side, "q12-regression")
    # same-kind columns (float-float, int-int, object) must not trip it
    _assert_dtype_parity(duck_side, duck_side.copy(), "ok")


def test_value_mismatch_names_the_differing_rows():
    """One row missing on each side must be reported as exactly that
    row, not as every sorted pair after it misaligned."""
    from types import SimpleNamespace

    import duckdb
    import pandas as pd

    spark_side = SimpleNamespace(
        toPandas=lambda: pd.DataFrame({"x": [1, 2, 3, 4]})
    )
    with pytest.raises(AssertionError) as err:
        assert_matches_oracle(
            spark_side,
            duckdb.connect(),
            "SELECT * FROM (VALUES (0), (1), (2), (3)) t(x)",
            key="shifted",
        )
    msg = str(err.value)
    assert "1 rows only in spark, 1 only in duckdb" in msg, msg
    assert "spark-only (first 5): [(4,)]" in msg, msg
    assert "duckdb-only (first 5): [(0,)]" in msg, msg


def test_every_query_has_an_oracle():
    """The rows-only set went empty in round 7 and must STAY empty —
    a key registered without a DuckDB oracle regresses the correctness
    gate to a weaker rows-only check, and that regression should fail
    loudly here rather than slip through as an extra skipped test
    (VERDICT r07 'what's wrong' item 2)."""
    missing = sorted(set(registry.QUERIES) - set(registry.ORACLES))
    assert missing == [], f"registry keys without a DuckDB oracle: {missing}"
