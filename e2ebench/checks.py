"""Untimed correctness checks against DuckDB: the catalog's own oracles
for the batch lanes and the repository's proven index replays for the
post-compaction searches. Rows compare order-insensitively, columns by
name, doubles rounded to 6 decimals."""

from __future__ import annotations

import math

import duckdb


def duck_con(data: str, views: dict[str, str]) -> duckdb.DuckDBPyConnection:
    """``views`` maps each table name to a filter predicate ("" for all
    rows); each becomes a DuckDB view over the corpus parquet file."""
    con = duckdb.connect()
    for name, where in views.items():
        cond = f" WHERE {where}" if where else ""
        con.sql(f"CREATE VIEW {name} AS SELECT * FROM "
                f"'{data}/{name}.parquet'{cond}")
    return con


def _cell(v):
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else round(v, 6) + 0.0
    if hasattr(v, "isoformat"):
        return v.isoformat()
    return v


def normalize(cols: list[str], rows) -> list[tuple]:
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted((tuple(_cell(r[i]) for i in order) for r in rows),
                  key=repr)


def oracle_rows(con, sql: str) -> list[tuple]:
    rel = con.sql(sql)
    return normalize(rel.columns, rel.fetchall())


def spark_rows(df) -> list[tuple]:
    return normalize(df.columns, df.collect())
