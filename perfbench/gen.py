"""Seeded input generator for the benchmark.

Writes a star-schema twin of the engine's testdata (same table names,
columns, dtypes and value distributions) as a pure function of
``(seed, sf)``. Row counts follow TPC-H scale-factor conventions and
depend on ``sf`` only; every key space is shifted by a seed-derived
offset and permuted, and every value column is redrawn, so a new seed
gives the same row counts with different keys and values. The same seed
gives byte-identical parquet files.

Only the tables the benchmark's workloads read are generated:
``orders`` and ``lineitem`` (basket and graph keys) and ``events``
(streaming keys).
"""

from __future__ import annotations

import hashlib
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLES = ("orders", "lineitem", "events")

# rows per unit of scale factor (TPC-H counts; events/users follow the
# engine testdata, which has 1e6 events and 15000 users per sf)
_PER_SF = {
    "customer": 150_000,
    "supplier": 10_000,
    "part": 200_000,
    "orders": 1_500_000,
    "lineitem": 6_000_000,
    "events": 1_000_000,
    "users": 15_000,
}
_PRIORITIES = np.array(
    ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
)
_EVENT_TYPES = np.array(["view", "click", "purchase", "signup", "error"])
_DAY_US = 86_400_000_000


def row_counts(sf: float) -> dict[str, int]:
    return {t: max(1, round(n * sf)) for t, n in _PER_SF.items()}


def _days(rng, start: str, end: str, n: int) -> np.ndarray:
    """n uniform midnight timestamps in [start, end] as datetime64[us]."""
    lo = np.datetime64(start, "D")
    span = (np.datetime64(end, "D") - lo).astype(int) + 1
    return (lo + rng.integers(0, span, n)).astype("datetime64[us]")


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _offset(rng) -> int:
    """A seed-derived positive key offset. Positive keys matter: the
    graph keys negate supplier keys to keep node ids disjoint."""
    return int(rng.integers(1, 1_000)) * 1_000_000


def _keys(rng, n: int) -> np.ndarray:
    """A permutation of n keys above a seed-derived offset."""
    return _offset(rng) + rng.permutation(n).astype(np.int64)


def generate(out_dir: str, seed: int, sf: float = 0.01) -> dict[str, int]:
    """Write TABLES as ``<out_dir>/<table>.parquet``; return row counts."""
    n = row_counts(sf)
    streams = np.random.SeedSequence(seed).spawn(5)
    rk, ro, rl, re_, ru = (np.random.default_rng(s) for s in streams)

    # key spaces: shifted and permuted by seed
    custkeys = _keys(rk, n["customer"])
    suppkeys = _keys(rk, n["supplier"])
    partkeys = _keys(rk, n["part"])
    orderkeys = _keys(rk, n["orders"])
    user_off, event_off = _offset(rk), _offset(rk)

    no, nl, ne = n["orders"], n["lineitem"], n["events"]
    tables = {
        "orders": {
            "o_orderkey": orderkeys,
            "o_custkey": rk.choice(custkeys, no),
            "o_orderstatus": ro.choice(np.array(["F", "O", "P"]), no),
            "o_totalprice": _money(ro, 1_000, 500_000, no),
            "o_orderdate": _days(ro, "1995-01-01", "2001-08-01", no),
            "o_orderpriority": ro.choice(_PRIORITIES, no),
        },
        # lines land on uniformly drawn orders (Poisson(4) lines per
        # order, as in the testdata)
        "lineitem": {
            "l_orderkey": rl.choice(orderkeys, nl),
            "l_partkey": rl.choice(partkeys, nl),
            "l_suppkey": rl.choice(suppkeys, nl),
            "l_linenumber": rl.integers(1, 8, nl).astype(np.int32),
            "l_quantity": rl.integers(1, 51, nl).astype(np.float64),
            "l_extendedprice": _money(rl, 900, 105_000, nl),
            "l_discount": rl.integers(0, 11, nl) / 100.0,
            "l_tax": rl.integers(0, 9, nl) / 100.0,
            "l_returnflag": rl.choice(np.array(["A", "N", "R"]), nl),
            "l_linestatus": rl.choice(np.array(["O", "F"]), nl),
            "l_shipdate": _days(rl, "1995-01-02", "2001-11-04", nl),
        },
        # event ids rise with ts; inter-arrival gaps are exponential
        # over a 30-day window
        "events": {
            "event_id": event_off + np.arange(ne, dtype=np.int64),
            "ts": np.datetime64("2024-01-01", "us")
            + np.sort(re_.integers(0, 30 * _DAY_US, ne)).astype(
                "timedelta64[us]"
            ),
            "user_id": user_off + ru.integers(0, n["users"], ne),
            "event_type": re_.choice(_EVENT_TYPES, ne),
            "value": np.round(re_.exponential(50.0, ne), 2),
            "props": np.char.add(
                np.char.add('{"k": ', re_.integers(0, 100, ne).astype(str)),
                "}",
            ),
        },
    }
    os.makedirs(out_dir, exist_ok=True)
    for name in TABLES:
        cols = tables[name]
        arrays = {
            c: pa.array(v.astype(object) if v.dtype.kind == "U" else v)
            for c, v in cols.items()
        }
        pq.write_table(pa.table(arrays), os.path.join(out_dir, f"{name}.parquet"))
    return {t: len(next(iter(tables[t].values()))) for t in TABLES}


def digest(out_dir: str) -> str:
    """sha256 over the generated files' bytes, in table order."""
    h = hashlib.sha256()
    for name in TABLES:
        with open(os.path.join(out_dir, f"{name}.parquet"), "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()
