"""Output checks: the engine's results against the generator and DuckDB."""

from __future__ import annotations

import math
import os

import duckdb


def _canon_cell(v):
    """Exact, order-free form of one value (floats compared bit for bit)."""
    if v is None:
        return "\0null"
    if isinstance(v, float):
        return "\0nan" if math.isnan(v) else v.hex()
    return str(v)


def canon_rows(cols: list[str], rows: list[tuple]) -> list[tuple]:
    """Sort columns by name, then rows: the catalog's oracle rule (row count,
    column names and exact values, ignoring order)."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted(tuple(_canon_cell(r[i]) for i in order) for r in rows)


def same_result(cols_a, rows_a, cols_b, rows_b) -> str | None:
    """None when equal under :func:`canon_rows`, else why not."""
    if sorted(cols_a) != sorted(cols_b):
        return f"columns differ: {sorted(cols_a)} vs {sorted(cols_b)}"
    if len(rows_a) != len(rows_b):
        return f"row counts differ: {len(rows_a)} vs {len(rows_b)}"
    a, b = canon_rows(cols_a, rows_a), canon_rows(cols_b, rows_b)
    if a != b:
        diffs = [(x, y) for x, y in zip(a, b) if x != y][:2]
        return f"values differ; first: {diffs}"
    return None


def duck_over_parquet(table_dir: str) -> duckdb.DuckDBPyConnection:
    """A DuckDB view ``flows`` over a ``dt=/account=`` Parquet tree, with the
    partition columns kept as strings like the registered table."""
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW flows AS SELECT * FROM read_parquet("
        f"'{table_dir}/*/*/*.parquet', hive_partitioning = true, "
        "hive_types_autocast = false)"
    )
    return con


def duck_over_tables(table_dir: str, names: list[str]) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for name in names:
        con.execute(
            f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{table_dir}/{name}.parquet')"
        )
    return con


def rows_per_partition(con) -> dict[tuple[str, str], int]:
    return {
        (dt, acct): n
        for dt, acct, n in con.execute(
            "SELECT dt, account, COUNT(*) FROM flows GROUP BY ALL"
        ).fetchall()
    }


def parquet_files(table_dir: str) -> list[str]:
    out = []
    for root, _dirs, files in os.walk(table_dir):
        out.extend(os.path.join(root, f) for f in files if f.endswith(".parquet"))
    return out
