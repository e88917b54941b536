"""Shared column expressions."""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def md5_int60(col: Column) -> Column:
    """Portable 60-bit hash of a string column: the first 15 hex chars of
    its md5 as a bigint (fits int64 on every engine)."""
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("bigint")


def md5_int60_sql(expr: str) -> str:
    """DuckDB twin of :func:`md5_int60`."""
    return f"CAST('0x' || substr(md5({expr}), 1, 15) AS BIGINT)"
