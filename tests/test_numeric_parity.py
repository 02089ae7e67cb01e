"""Adversarial cross-engine float-parity tests for the wide-decimal
bug class (VERDICT r06 items 1-2).

The rule these tests pin: **never let the oracle convert a wide
DECIMAL to DOUBLE with DuckDB's native cast.** DuckDB converts a
decimal as ``(double)scaled_int128 / 10^scale`` — TWO IEEE roundings —
while Spark's ``Decimal→double`` goes through ``BigDecimal.doubleValue``
— ONE correct rounding. Once the scaled integer exceeds 2^53 the two
can differ in the last ulp, so cross-engine parity would hang on the
luck of the data (this is exactly how ``twa`` failed at sf0.001 while
passing at sf0.01 in round 6). The fix applied repo-wide:

* oracle side: ``CAST(CAST(x AS VARCHAR) AS DOUBLE)`` — DuckDB's
  string→double parse is correctly rounded, matching Spark bit-for-bit
  at ANY magnitude (verified here against Python's ``float(Decimal)``,
  which is correctly rounded by language spec);
* ``twa`` specifically: the division happens in decimal (Spark's
  ``decimal(38,6)/bigint`` → HALF_UP scale-6 quotient), mirrored in
  DuckDB with exact HUGEINT half-up division, and only the
  small-magnitude quotient is cast.
"""

from __future__ import annotations

import math
import random
import struct
from decimal import Decimal

import duckdb
import pytest
from pyspark.sql import functions as F

from bigdata1_spark.operators import temporal
from bigdata1_spark.registry import ORACLES

from tests.oracle import assert_matches_oracle


def _bits(x: float) -> bytes:
    return struct.pack("<d", x)


@pytest.fixture(scope="module")
def adversarial_decimals() -> list[str]:
    """Decimal strings whose scaled integer is far past 2^53 (plus sign
    and magnitude edges) — the territory where two-rounding conversions
    go wrong."""
    rng = random.Random(0xD0B1E)
    vals = []
    for _ in range(300):
        ip = rng.randint(10**14, 10**19)  # integer part beyond 2^53
        fp = rng.randint(0, 99)
        s = f"{ip}.{fp:02d}"
        if rng.random() < 0.5:
            s = "-" + s
        vals.append(s)
    vals += [
        "9007199254740993.00",            # 2^53 + 1
        "-9007199254740993.00",
        "99999999999999999999999999999999999.99",  # decimal(38,2) max-ish
        "12345678901234567890123456.78",
        "0.01",                           # small values must also agree
        "-0.01",
    ]
    return vals


def test_decimal_double_cast_correctly_rounded_past_2pow53(
    spark, adversarial_decimals
):
    """Spark's decimal→double cast and DuckDB's VARCHAR-routed cast are
    BOTH correctly rounded (bit-identical to Python's float(Decimal)),
    at magnitudes far past 2^53 — so every oracle using the VARCHAR
    route matches Spark's cast bit-for-bit regardless of data scale."""
    vals = adversarial_decimals
    df = spark.createDataFrame([(v,) for v in vals], "s string")
    got = [
        r.v
        for r in df.select(
            F.col("s").cast("decimal(38,2)").cast("double").alias("v")
        ).collect()
    ]

    con = duckdb.connect()
    con.execute(
        "CREATE TABLE t AS SELECT * FROM (VALUES "
        + ",".join(f"('{v}')" for v in vals)
        + ") v(s)"
    )
    via_varchar = [
        r[0]
        for r in con.execute(
            "SELECT CAST(CAST(CAST(s AS DECIMAL(38,2)) AS VARCHAR)"
            " AS DOUBLE) FROM t"
        ).fetchall()
    ]
    direct = [
        r[0]
        for r in con.execute(
            "SELECT CAST(CAST(s AS DECIMAL(38,2)) AS DOUBLE) FROM t"
        ).fetchall()
    ]
    reference = [float(Decimal(v)) for v in vals]

    assert all(
        _bits(g) == _bits(p) for g, p in zip(got, reference)
    ), "Spark decimal→double cast is not correctly rounded"
    assert all(
        _bits(d) == _bits(p) for d, p in zip(via_varchar, reference)
    ), "DuckDB VARCHAR-routed decimal→double is not correctly rounded"
    # Document WHY the VARCHAR route exists: DuckDB's native cast
    # (int128 scale division, two roundings) measurably diverges on
    # this fixture. If this ever starts passing 0 diverged, the
    # native cast became correctly rounded and the route is optional.
    diverged = sum(
        1 for d, p in zip(direct, reference) if _bits(d) != _bits(p)
    )
    assert diverged > 0, (
        "DuckDB native decimal→double cast is now correctly rounded — "
        "the VARCHAR route in the oracles is no longer load-bearing"
    )


def test_twa_quotient_decimal_scale_contract(spark):
    """twa's plan divides wsum (decimal(38,6)) by span_us (bigint) and
    relies on Spark's division rule yielding EXACTLY decimal(38,6) — a
    HALF_UP scale-6 quotient — before the one double cast. Pin that
    dtype, and pin tie/sign/magnitude parity against the HUGEINT
    half-up formula the DuckDB oracle uses."""
    cases = [
        ("0.000003", 2),                       # exact .5 tie
        ("-0.000003", 2),                      # negative tie
        ("37843630778039135.123456", 1000000000000000),  # r06 failure
        ("9007199254740993.000001", 238100000000),
        ("123456789012345678.654321", 3262547),
        ("7.000001", 2),
        ("-123456789012345678.654321", 3262547),
        ("1.000001", 7),
    ]
    df = spark.createDataFrame(
        cases, "wsum_s string, span bigint"
    ).select(
        F.col("wsum_s").cast("decimal(38,6)").alias("wsum"), "span"
    )
    q = df.select((F.col("wsum") / F.col("span")).alias("q"))
    assert dict(q.dtypes)["q"] == "decimal(38,6)", (
        "Spark's decimal(38,6)/bigint no longer yields decimal(38,6) — "
        "twa's exact-quotient contract (and its HUGEINT oracle) broke"
    )
    got = [
        r.v for r in q.select(F.col("q").cast("double").alias("v")).collect()
    ]

    con = duckdb.connect()
    want = []
    for w, s in cases:
        want.append(
            con.execute(
                f"""
                WITH t AS (SELECT CAST('{w}' AS DECIMAL(38,6)) AS wsum,
                                  CAST({s} AS BIGINT) AS span)
                SELECT CAST(CASE WHEN wsum >= 0
                  THEN (2*CAST(wsum*1000000 AS HUGEINT) + span)
                       // (2*span)
                  ELSE -((2*CAST(-wsum*1000000 AS HUGEINT) + span)
                         // (2*span)) END AS DOUBLE) / 1000000.0
                FROM t
                """
            ).fetchone()[0]
        )
    assert all(_bits(g) == _bits(w) for g, w in zip(got, want)), (
        f"half-up quotient parity broke: {list(zip(cases, got, want))}"
    )


def test_twa_adversarial_magnitude_end_to_end(spark, tmp_path):
    """Full twa plan vs its registered oracle on a synthetic events
    table engineered so per-user wsum blows far past 2^53 — the exact
    configuration that flipped round 6's twa red. Values carry all six
    decimal places; gaps span microseconds to ~300 years."""
    rng = random.Random(2**53)
    rows = []
    eid = 0
    for uid in range(40):
        t = rng.randint(0, 10**12)
        n = rng.randint(1, 25)
        for _ in range(n):
            eid += 1
            # value up to ~1e6 with 6 decimals; gaps up to ~1e13 us →
            # per-interval products ~1e19, sums well past 2^53
            val = round(rng.uniform(-1e6, 1e6), 6)
            rows.append((eid, t, uid, "adv", val, "{}"))
            t += rng.randint(1, 10**13)
    df = spark.createDataFrame(
        rows,
        "event_id bigint, us bigint, user_id bigint, "
        "event_type string, value double, props string",
    ).select(
        "event_id",
        F.timestamp_micros(F.col("us")).alias("ts"),
        "user_id", "event_type", "value", "props",
    )
    sf_dir = str(tmp_path / "advsf")
    df.coalesce(1).write.parquet(f"{sf_dir}/events.parquet")

    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW events AS SELECT * FROM "
        f"read_parquet('{sf_dir}/events.parquet/*.parquet')"
    )
    got = temporal.twa(spark, sf_dir)
    # sanity: the fixture actually exercises the >2^53 regime
    wsum_probe = (
        got.select(
            (F.abs(F.col("twa_value")) * F.col("span_us")).alias("m")
        )
        .agg(F.max("m"))
        .first()[0]
    )
    assert wsum_probe > 2**53, "fixture no longer reaches the 2^53 regime"
    assert not math.isinf(wsum_probe)
    assert_matches_oracle(got, con, ORACLES["twa"], key="twa-adversarial")


def test_anomaly_zscore_degenerate_partitions_yield_no_rows(spark, tmp_path):
    """A user with exactly ONE event (n-1 = 0) and a user whose values
    are all equal (sd = 0) must produce NO output rows — DuckDB's '/'
    yields NULL there and the |z| filter drops them, so Spark must
    NULL (try_divide), not raise ANSI DIVIDE_BY_ZERO. Found by the
    Zipf-skew sweep: the FK remap leaves single-event users that
    uniform testdata never produced."""
    import datetime

    from bigdata1_spark.operators.temporal import anomaly_zscore

    t0 = datetime.datetime(2024, 1, 1)
    rows = [
        # user 1: single event -> n-1 == 0
        (100, 1, "click", t0, 5.0),
        # user 2: constant values -> variance == 0 -> sd == 0
        (200, 2, "click", t0, 7.0),
        (201, 2, "click", t0 + datetime.timedelta(hours=1), 7.0),
        (202, 2, "click", t0 + datetime.timedelta(hours=2), 7.0),
        # user 3: healthy spread, sanity that the pipeline still works
        (300, 3, "click", t0, 0.0),
        (301, 3, "click", t0 + datetime.timedelta(hours=1), 0.0),
        (302, 3, "click", t0 + datetime.timedelta(hours=2), 100.0),
    ]
    df = spark.createDataFrame(
        rows, "event_id long, user_id long, event_type string, "
              "ts timestamp, value double"
    )
    path = str(tmp_path)
    df.write.mode("overwrite").parquet(path + "/events.parquet")
    out = anomaly_zscore(spark, path).collect()
    # users 1 and 2 contribute nothing; user 3's outlier may or may not
    # clear the 1.5 threshold — the contract under test is "no raise,
    # degenerate users dropped"
    assert all(r["user_id"] == 3 for r in out)


def test_asof_join_null_value_purchase_stays_paired(spark, tmp_path):
    """A purchase whose value is legitimately NULL must surface AS the
    match (ts + sentinel -1.0), never be skipped in favor of an OLDER
    purchase's value: two separate last(ignorenulls) carries did
    exactly that until ts+value rode one struct (found by the
    .nulldata sweep). Several purchases at ONE ts, some NULL-valued,
    must attribute their max non-NULL value in both directions — the
    oracle's per-(user, ts) MAX collapse, which the shared
    (ts, tag, value NULLS FIRST) order reproduces with no
    pre-aggregate. The tied rows are written max-first, so a traversal
    that lost the value tie-break would carry a smaller or NULL value."""
    import datetime

    from bigdata1_spark.operators.temporal import (
        asof_join,
        asof_join_forward,
    )

    t0 = datetime.datetime(2024, 1, 1)

    def h(n):
        return t0 + datetime.timedelta(hours=n)

    rows = [
        # older purchase WITH value, newer purchase with NULL value,
        # then a click: the click must attribute to the NEWER purchase
        (1, 7, "purchase", h(0), 5.0),
        (2, 7, "purchase", h(1), None),
        (3, 7, "click", h(2), None),
        # forward direction mirror: click, NULL-value purchase, valued
        (4, 8, "click", h(0), None),
        (5, 8, "purchase", h(1), None),
        (6, 8, "purchase", h(2), 9.0),
        # equal-ts ties, backward: four purchases at h(1), two NULL; a
        # click at the tied ts and one after it
        (10, 9, "purchase", h(0), 50.0),
        (11, 9, "purchase", h(1), 7.0),
        (12, 9, "purchase", h(1), None),
        (13, 9, "purchase", h(1), 3.0),
        (14, 9, "purchase", h(1), None),
        (15, 9, "click", h(1), None),
        (16, 9, "click", h(2), None),
        # equal-ts ties, forward: a click before and one at the tied ts
        (20, 10, "click", h(0), None),
        (21, 10, "click", h(1), None),
        (22, 10, "purchase", h(1), 7.0),
        (23, 10, "purchase", h(1), None),
        (24, 10, "purchase", h(1), 3.0),
        (25, 10, "purchase", h(2), 50.0),
    ]
    df = spark.createDataFrame(
        rows, "event_id long, user_id long, event_type string, "
              "ts timestamp, value double"
    )
    path = str(tmp_path)
    df.coalesce(1).write.mode("overwrite").parquet(path + "/events.parquet")

    back = {r["event_id"]: r for r in asof_join(spark, path).collect()}
    r = back[3]
    assert r["purchase_ts"].startswith("2024-01-01 01:")  # the newer one
    assert r["purchase_value"] == -1.0  # its (NULL) value, sentineled
    for click in (15, 16):
        assert back[click]["purchase_ts"].startswith("2024-01-01 01:")
        assert back[click]["purchase_value"] == 7.0

    fwd = {
        r["event_id"]: r
        for r in asof_join_forward(spark, path).collect()
    }
    r = fwd[4]
    assert r["purchase_ts"].startswith("2024-01-01 01:")  # the earlier one
    assert r["purchase_value"] == -1.0
    for click in (20, 21):
        assert fwd[click]["purchase_ts"].startswith("2024-01-01 01:")
        assert fwd[click]["purchase_value"] == 7.0

    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW events AS SELECT * FROM "
        f"read_parquet('{path}/events.parquet/*.parquet')"
    )
    for key, fn in (("asof_join", asof_join),
                    ("asof_join_forward", asof_join_forward)):
        assert_matches_oracle(fn(spark, path), con, ORACLES[key], key=key)


def test_ewma_all_null_frame_yields_null_not_crash(spark, tmp_path):
    """An all-NULL value frame made slice(arr, 2, size-1) raise under
    ANSI (length -1); the fold must short-circuit to NULL instead, and
    NULL values must be skipped from the series on both engines (found
    by the .nulldata sweep)."""
    import datetime
    import math

    from bigdata1_spark.operators.temporal import ewma

    t0 = datetime.datetime(2024, 1, 1)
    rows = [
        (1, 1, "click", t0, None),  # user 1: nothing but NULLs
        (2, 1, "click", t0 + datetime.timedelta(hours=1), None),
        (3, 2, "click", t0, 10.0),  # user 2: NULL inside the series
        (4, 2, "click", t0 + datetime.timedelta(hours=1), None),
        (5, 2, "click", t0 + datetime.timedelta(hours=2), 20.0),
    ]
    df = spark.createDataFrame(
        rows, "event_id long, user_id long, event_type string, "
              "ts timestamp, value double"
    )
    path = str(tmp_path)
    df.write.mode("overwrite").parquet(path + "/events.parquet")
    out = {r["event_id"]: r["ewma"] for r in ewma(spark, path).collect()}
    assert out[1] is None and (out[2] is None or math.isnan(out[2]))
    assert out[3] == 10.0
    assert out[4] == 10.0  # NULL skipped, series unchanged
    assert abs(out[5] - (0.9 * 10.0 + 0.1 * 20.0)) < 1e-9


def test_seasonal_naive_null_hour_stays_paired(spark, tmp_path):
    """An hour whose mean is NULL (every value in it NULL) exactly 168 h
    before a valued hour is still the forecast: the oracle's inner join
    pairs on (user, hour), not on the value, so the row survives with a
    NULL forecast and NULL error. The mirror case (a NULL hour 168 h
    after a valued one) keeps its NULL value. NULL users and NULL
    timestamps pair with nothing."""
    import datetime

    t0 = datetime.datetime(2024, 1, 1, 5, 10)
    week = datetime.timedelta(hours=168)
    rows = [
        # user 1: NULL-valued hour, then a valued hour one week later
        (1, 1, "click", t0, None),
        (2, 1, "click", t0 + datetime.timedelta(minutes=20), None),
        (3, 1, "click", t0 + week, 5.0),
        (4, 1, "click", t0 + week + datetime.timedelta(minutes=5), 6.5),
        # user 2: valued hour, then a NULL-valued hour one week later,
        # and a valued hour 167 h later that must not pair
        (5, 2, "click", t0, 2.25),
        (6, 2, "click", t0 + week, None),
        (7, 2, "click", t0 + week - datetime.timedelta(hours=1), 3.0),
        # a NULL user and a NULL timestamp, each a week apart from a twin
        (8, None, "click", t0, 1.0),
        (9, None, "click", t0 + week, 1.0),
        (10, 3, "click", None, 4.0),
        (11, 3, "click", t0 + week, 4.0),
    ]
    df = spark.createDataFrame(
        rows, "event_id long, user_id long, event_type string, "
              "ts timestamp, value double"
    )
    path = str(tmp_path)
    df.coalesce(1).write.mode("overwrite").parquet(path + "/events.parquet")

    got = temporal.seasonal_naive(spark, path)
    paired = {r["user_id"]: r for r in got.collect()}
    assert sorted(paired) == [1, 2]
    assert paired[1]["forecast"] is None and paired[1]["value"] == 5.75
    assert paired[2]["value"] is None and paired[2]["forecast"] == 2.25

    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW events AS SELECT * FROM "
        f"read_parquet('{path}/events.parquet/*.parquet')"
    )
    assert_matches_oracle(
        got, con, ORACLES["seasonal_naive"], key="seasonal_naive"
    )
