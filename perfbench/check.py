"""Untimed output check against the registry's DuckDB oracles.

Cells are normalised exactly as the repository's correctness sweep
does (``tools/local_correctness.py``), with columns sorted by name; two
frames agree when their multisets of normalised rows are equal, which
is the sweep's value-hash equality. On a mismatch the first differing
rows of each side are reported.
"""

from __future__ import annotations

from collections import Counter

from tools.local_correctness import _norm_cell


def _rows(df) -> Counter:
    return Counter(
        "\x01".join(_norm_cell(c) for c in row)
        for row in df.itertuples(index=False, name=None)
    )


def diff(got, want, limit: int = 5) -> str | None:
    """None when the two frames are value-hash equal; otherwise a short
    report naming the column mismatch or the first differing rows."""
    got = got[sorted(got.columns)]
    want = want[sorted(want.columns)]
    if list(got.columns) != list(want.columns):
        return f"columns {list(got.columns)} != oracle {list(want.columns)}"
    g, w = _rows(got), _rows(want)
    if g == w:
        return None
    extra = sorted((g - w).elements())[:limit]
    missing = sorted((w - g).elements())[:limit]
    fmt = lambda rows: [r.replace("\x01", " | ") for r in rows]  # noqa: E731
    return (
        f"rows {len(got)} vs oracle {len(want)}; "
        f"only in output: {fmt(extra)}; only in oracle: {fmt(missing)}"
    )


def oracle_connection(data_dir: str, tables: tuple[str, ...]):
    """A DuckDB connection with one view per generated table."""
    import duckdb

    con = duckdb.connect()
    con.execute("PRAGMA threads=2")
    for t in tables:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM "
            f"read_parquet('{data_dir}/{t}.parquet')"
        )
    return con
