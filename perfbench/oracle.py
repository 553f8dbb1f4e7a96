"""Output checks against the registry's DuckDB oracles.

Rows are compared as in the repository's correctness gate: column names,
row count, and order-insensitive values with doubles at 10 significant
digits.
"""

from __future__ import annotations

import math

import duckdb


def _norm_cell(v) -> str:
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else f"{v:.10g}"
    if v is None:
        return "NULL"
    return str(v)


def norm_rows(cols: list[str], rows: list[tuple]) -> tuple[list[tuple], list[str]]:
    """(sorted normalized rows, column names) with columns in name order."""
    order = sorted(range(len(cols)), key=lambda i: cols[i].lower())
    out = sorted(tuple(_norm_cell(r[i]) for i in order) for r in rows)
    return out, [cols[i].lower() for i in order]


class Oracle:
    """DuckDB views over the fixture tables; ``check`` compares one
    query's Spark output with its oracle SQL and returns None when they
    agree, else a one-line reason."""

    def __init__(self, sf_dir: str, tables: list[str]):
        self.con = duckdb.connect()
        for t in tables:
            self.con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")

    def check(self, sql: str, cols: list[str], rows: list[tuple]) -> str | None:
        res = self.con.execute(sql)
        d_rows, d_cols = norm_rows([d[0] for d in res.description], res.fetchall())
        s_rows, s_cols = norm_rows(cols, rows)
        if s_cols != d_cols:
            return f"columns differ: {s_cols} vs {d_cols}"
        if len(s_rows) != len(d_rows):
            return f"row count {len(s_rows)} vs {len(d_rows)}"
        if s_rows != d_rows:
            return "values differ"
        return None

    def close(self) -> None:
        self.con.close()
