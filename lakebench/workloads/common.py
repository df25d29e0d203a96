"""Listing and DuckDB access to the parquet a workload wrote."""

from __future__ import annotations

import os


def parquet_files(path: str) -> list[str]:
    return sorted(os.path.join(path, n) for n in os.listdir(path) if n.endswith(".parquet"))


def dir_bytes(path: str) -> int:
    return sum(os.path.getsize(p) for p in parquet_files(path))


def duck():
    """A DuckDB connection with UTC session time (Spark writes UTC)."""
    import duckdb

    con = duckdb.connect()
    con.execute("SET TimeZone='UTC'")
    con.execute("SET threads=1")
    return con


def scan(path: str) -> str:
    """DuckDB table expression over one parquet table directory."""
    return f"read_parquet('{path}/*.parquet')"
