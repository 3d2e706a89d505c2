"""Output checks against DuckDB, run after the timed phase."""

from __future__ import annotations

import math
import os

import duckdb

from . import panels

#: float cells match when they agree to this relative (and absolute) error
TOLERANCE = 1e-9


def duck_gas(csv_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    con.execute("SET TimeZone = 'UTC'")
    con.execute(panels.gas_view_sql(os.path.join(csv_dir, "*.csv")))
    # read the CSVs once, not once per checked panel
    con.execute("CREATE TABLE gas_rows AS SELECT * FROM gas")
    con.execute("DROP VIEW gas")
    con.execute("ALTER TABLE gas_rows RENAME TO gas")
    return con


def duck_tables(sf_dir: str, names) -> duckdb.DuckDBPyConnection:
    """DuckDB views over an sf-style directory's ``<name>.parquet``
    tables, under the names the registry's oracle SQL uses."""
    con = duckdb.connect()
    for name in names:
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM '{sf_dir}/{name}.parquet'")
    return con


def _key(row: tuple) -> tuple:
    # floats rounded for ordering only; the comparison below is exact
    # up to TOLERANCE
    return tuple(
        (0, "") if v is None else
        (1, round(v, 6)) if isinstance(v, float) else (2, str(v))
        for v in row
    )


def _same(a, b) -> bool:
    if isinstance(a, float) or isinstance(b, float):
        if a is None or b is None:
            return False
        if math.isnan(a) and math.isnan(b):
            return True
        return math.isclose(a, b, rel_tol=TOLERANCE, abs_tol=TOLERANCE)
    return a == b


def compare_rows(columns: list[str], rows: list[tuple], con, sql: str) -> str | None:
    """None when ``rows`` under ``columns`` equal the rows of ``sql`` as a
    multiset (columns matched by name), else what differs."""
    res = con.execute(sql)
    want_cols = [d[0] for d in res.description]
    want = res.fetchall()
    if sorted(columns) != sorted(want_cols):
        return f"columns {sorted(columns)} != {sorted(want_cols)}"
    if len(rows) != len(want):
        return f"{len(rows)} rows != {len(want)}"
    order = [columns.index(c) for c in sorted(columns)]
    worder = [want_cols.index(c) for c in sorted(columns)]
    got = sorted((tuple(r[i] for i in order) for r in rows), key=_key)
    exp = sorted((tuple(r[i] for i in worder) for r in want), key=_key)
    for g, w in zip(got, exp):
        if len(g) != len(w) or not all(_same(a, b) for a, b in zip(g, w)):
            return f"row {g} != {w}"
    return None
