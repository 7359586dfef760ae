"""Expected outputs computed with DuckDB over the input parquet and the
lake files, independently of Spark. Nothing here runs inside a timed
region."""

from __future__ import annotations

import glob
import os
import re

import duckdb


def connect() -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    return con


def lake_tables(lake: str) -> dict[str, str]:
    """Lake table name → parquet glob, for every non-empty table dir."""
    out = {}
    for d in sorted(os.listdir(lake)):
        pattern = os.path.join(lake, d, "**", "*.parquet")
        if glob.glob(pattern, recursive=True):
            out[d] = pattern
    return out


def scan(path: str) -> str:
    return f"read_parquet('{path}', union_by_name=true)"


def string_columns(con, path: str) -> list[str]:
    rows = con.execute(f"DESCRIBE SELECT * FROM {scan(path)}").fetchall()
    return [r[0] for r in rows if r[1] == "VARCHAR"]


def tokens(text: str) -> list[str]:
    """The match analyzer: lowercase, split on anything but [0-9a-z]."""
    return [t for t in re.split("[^0-9a-z]+", text.lower()) if t]


def any_contains(columns: list[str], toks: list[str]) -> str:
    """SQL for 'some column contains some token' (match semantics:
    lowercased substring containment per analyzed token)."""
    if not columns or not toks:
        return "false"
    parts = [f"contains(lower(\"{c}\"), '{t}')" for c in columns for t in toks]
    return "(" + " OR ".join(parts) + ")"


def multi_match_total(con, lake: str, text: str, tables: list[str]) -> int:
    """``POST /search`` total: rows of the given lake tables where any
    string column contains any query token."""
    toks = tokens(text)
    total = 0
    for name, path in lake_tables(lake).items():
        if name not in tables:
            continue
        cols = string_columns(con, path)
        if cols:
            total += count_where(con, path, any_contains(cols, toks))
    return total


def count_where(con, path: str, where: str) -> int:
    return con.execute(
        f"SELECT count(*) FROM {scan(path)} WHERE {where}").fetchone()[0]


def latest_status(con, src: str) -> dict[str, str]:
    """ticketId → statusId of its newest live TicketStatus row whose
    status resolves, newest by (createdAt, id) descending."""
    rows = con.execute(f"""
        SELECT ts.ticketId, ts.statusId
        FROM read_parquet('{src}/TicketStatus.parquet') ts
        JOIN read_parquet('{src}/Status.parquet') s ON ts.statusId = s.id
        WHERE ts.deletedAt IS NULL
        QUALIFY row_number() OVER (PARTITION BY ts.ticketId
            ORDER BY ts.createdAt DESC NULLS FIRST, ts.id DESC NULLS FIRST) = 1
    """).fetchall()
    return dict(rows)


def live_count(con, src: str, entity: str) -> int:
    return con.execute(
        f"SELECT count(*) FROM read_parquet('{src}/{entity}.parquet') "
        "WHERE deletedAt IS NULL").fetchone()[0]
