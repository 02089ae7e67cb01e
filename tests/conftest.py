"""Shared fixtures: one SparkSession + one DuckDB connection per run.

Tests default to sf0.001 (fast); set ``TEST_SF_DIR`` to point elsewhere
(e.g. /root/testdata/sf0.01 to mirror the driver's correctness gate).
"""

from __future__ import annotations

import os
import sys

import duckdb
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bigdata1_spark.session import get_spark
from bigdata1_spark.sources.tables import TABLES

SF_DIR = os.environ.get("TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return SF_DIR


@pytest.fixture(scope="session")
def spark(tmp_path_factory):
    spark = get_spark(
        app_name="bigdata1-tests",
        extra_conf={
            "spark.sql.shuffle.partitions": "8",
            # static conf — must be set before the JVM starts (the
            # bucketing tests create managed tables)
            "spark.sql.warehouse.dir": str(
                tmp_path_factory.mktemp("spark-warehouse")
            ),
        },
    )
    yield spark


@pytest.fixture(scope="session")
def duck(sf_dir):
    """DuckDB connection with every testdata table registered as a view
    (mirrors the driver's oracle setup)."""
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM "
            f"read_parquet('{sf_dir}/{t}.parquet')"
        )
    yield con
    con.close()


@pytest.fixture(scope="session")
def empty_dir(tmp_path_factory, sf_dir) -> str:
    """Zero-row twin of ``sf_dir`` (schemas intact), built by the same
    ``tools/gen_twin.py`` axis the oracle sweep uses."""
    from tools.gen_twin import write_twin

    out = str(tmp_path_factory.mktemp("emptydata"))
    write_twin("empty", sf_dir, out)
    return out
