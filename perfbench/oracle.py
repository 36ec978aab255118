"""DuckDB correctness gate. Runs outside every timed region; a mismatch
raises :class:`CheckFailed`, which fails the run."""

from __future__ import annotations

import os

import duckdb

TABLES = ("region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings")


class CheckFailed(Exception):
    """An output differs from its DuckDB oracle."""


def connect(data_dir: str | None = None) -> duckdb.DuckDBPyConnection:
    """A DuckDB connection with one view per fixture table of ``data_dir``."""
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    if data_dir is not None:
        for t in TABLES:
            con.execute(f"CREATE VIEW {t} AS FROM read_parquet('{os.path.join(data_dir, t)}.parquet')")
    return con


def same_rows(con: duckdb.DuckDBPyConnection, what: str, actual, expected_sql: str) -> int:
    """Compare a pandas frame against the rows of ``expected_sql`` as
    multisets over the sorted column names; returns the row count."""
    exp = con.sql(expected_sql).df()
    cols = sorted(actual.columns)
    if cols != sorted(exp.columns):
        raise CheckFailed(f"{what}: columns {cols} != oracle {sorted(exp.columns)}")
    if len(actual) != len(exp):
        raise CheckFailed(f"{what}: {len(actual)} rows != oracle {len(exp)}")
    sel = ", ".join(f'"{c}"' for c in cols)
    con.register("_actual", actual)
    con.register("_expected", exp)
    try:
        diff = con.sql(
            f"SELECT count(*) FROM ((SELECT {sel} FROM _actual EXCEPT ALL SELECT {sel} FROM _expected)"
            f" UNION ALL (SELECT {sel} FROM _expected EXCEPT ALL SELECT {sel} FROM _actual))"
        ).fetchone()[0]
    finally:
        con.unregister("_actual")
        con.unregister("_expected")
    if diff:
        raise CheckFailed(f"{what}: {diff} rows differ from the oracle")
    return len(exp)
