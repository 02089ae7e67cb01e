"""Zero-row twin regressions (round-13 stress axis #3, after volume /
skew / NULL): every table keeps its schema but carries no rows — the
empty-slice shape a partition-pruned scan or a data hole produces
constantly at 100 TB.

The full-registry sweep runs via ``tools/gen_twin.py empty`` +
``tools/local_correctness.py`` (banked per axis in CORRECTNESS_local.json);
this file pins the specific divergences that sweep caught so they
can't regress:

* grouping sets: Spark's Expand yields NO grand-total row over an
  empty relation (ANSI yields one); pinned to Spark's behavior via
  ``HAVING COUNT(*) > 0`` in the oracles rather than paying a second
  full scan per call.
* column_profile: n_nulls must be a COUNT-shape aggregate (0 on
  empty), not SUM-of-flags (NULL on empty).
* transpose_stats: transpose derives the output schema from DATA, so
  the flag domain is pinned by a static 3-row frame — empty input must
  still yield columns (key, A, N, R).
"""

from __future__ import annotations

import duckdb
import pytest

from bigdata1_spark import registry
from tests.oracle import assert_matches_oracle

# The keys the zero-row sweep caught (schema-shape class) plus the
# global-agg and window representatives most likely to regress.
PINNED_KEYS = (
    "groupby_rollup",
    "groupby_cube",
    "groupby_grouping_sets",
    "column_profile",
    "transpose_stats",
    "global_count",
    "agg_stats",
    "corr_matrix",
    "mutual_info",
    "topk_window",
)


@pytest.fixture(scope="module")
def empty_duck(empty_dir):
    from bigdata1_spark.sources.tables import TABLES

    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS "
            f"SELECT * FROM read_parquet('{empty_dir}/{t}.parquet')"
        )
    yield con
    con.close()


@pytest.mark.parametrize("key", PINNED_KEYS)
def test_empty_input_matches_oracle(key, spark, empty_duck, empty_dir):
    df = registry.QUERIES[key](spark, empty_dir)
    assert_matches_oracle(df, empty_duck, registry.ORACLES[key], key=key)
    spark.catalog.clearCache()


def test_transpose_schema_static_on_empty(spark, empty_dir):
    """The zero-row collapse caught by the sweep: without the domain
    pin, transpose() of an empty aggregate returns just (key)."""
    from bigdata1_spark.operators import api_surface

    df = api_surface.transpose_stats(spark, empty_dir)
    assert df.columns == ["key", "A", "N", "R"]
    assert df.count() == 2


def test_grouping_sets_no_grand_total_on_empty(spark, empty_dir):
    """Adjudicated contract: zero rows (not the ANSI 1-row total) from
    all three grouping-set keys over an empty relation, on BOTH
    engines."""
    from bigdata1_spark.operators import relational

    assert relational.groupby_rollup(spark, empty_dir).count() == 0
    assert relational.groupby_cube(spark, empty_dir).count() == 0
    assert relational.groupby_grouping_sets(spark, empty_dir).count() == 0
