"""Output check against DuckDB, compared the way
``tools/check_oracle.py`` compares: same row count, same column names
(case-insensitive), and the same multiset of rows after columns are
sorted by name and floats are rounded to 6 decimals."""

from __future__ import annotations

import os

from check_oracle import TABLES, norm   # tools/check_oracle.py


def _key(v):
    """Total order over normalised values of mixed types; numbers of
    different types that compare equal sort together."""
    if v is None:
        return (0,)
    if isinstance(v, (bool, int, float)):
        return (1, float(v))
    if isinstance(v, tuple):
        return (3, tuple(_key(x) for x in v))
    return (2, str(v))


def _by_name(cols: list[str], rows) -> list[tuple]:
    idx = sorted(range(len(cols)), key=lambda i: cols[i].lower())
    return sorted((tuple(norm(r[i]) for i in idx) for r in rows), key=_key)


def duckdb_rows(data_dir: str, sql: dict[str, str]) -> dict[str, tuple]:
    """Runs each oracle query over the parquet files in ``data_dir``;
    returns name -> (sorted column names, normalised sorted rows)."""
    import duckdb
    con = duckdb.connect()
    try:
        for t in TABLES:
            p = os.path.join(data_dir, f"{t}.parquet")
            if os.path.exists(p):
                con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")
        out = {}
        for name, q in sql.items():
            rel = con.sql(q)
            cols = rel.columns
            out[name] = (sorted(c.lower() for c in cols),
                         _by_name(cols, rel.fetchall()))
        return out
    finally:
        con.close()


def compare(rows, cols: list[str], expected: tuple) -> tuple[bool, str]:
    """(matches, reason) for Spark ``rows`` against a ``duckdb_rows``
    entry."""
    exp_cols, exp_rows = expected
    if sorted(c.lower() for c in cols) != exp_cols:
        return False, f"columns {sorted(cols)} vs {exp_cols}"
    got = _by_name(cols, rows)
    if len(got) != len(exp_rows):
        return False, f"rowcount {len(got)} vs {len(exp_rows)}"
    if got != exp_rows:
        diff = [(a, b) for a, b in zip(got, exp_rows) if a != b][:2]
        return False, f"values differ, first: {diff}"
    return True, ""
