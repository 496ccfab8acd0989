"""The engine-portable 60-bit key hash behind every hash-based sample,
split, mixture draw, sketch bucket and shard signature, with its
DuckDB twin."""

from __future__ import annotations

from pyspark.sql import functions as F


def md5_60(key):
    """First 15 hex chars of md5(key as a string), as a bigint in
    [0, 2^60); NULL for a NULL key. `key` is a column name or Column.

    Spark parses the prefix with `conv`; md5_60_sql, the DuckDB twin,
    casts a `0x` literal. 60 bits keep the value inside both engines'
    signed 64-bit range. DuckDB's `md5_number_upper` is no substitute:
    it reads the digest bytes little-endian, so its values differ.
    Keys must be integers or strings (or string expressions of them):
    a double's string form differs between the engines."""
    c = F.col(key) if isinstance(key, str) else key
    return F.conv(F.substring(F.md5(c.cast("string")), 1, 15), 16, 10).cast("bigint")


def md5_60_sql(expr: str) -> str:
    """DuckDB twin of md5_60 over the SQL expression `expr`. `||`, not
    concat, so a NULL key gives NULL as in Spark (concat('0x', NULL)
    is '0x', which the cast rejects)."""
    return f"CAST('0x' || substr(md5(CAST({expr} AS VARCHAR)), 1, 15) AS BIGINT)"


def hash_bucket(key, n: int = 100):
    """Deterministic, engine-portable bucket in [0, n): md5_60(key) mod
    n; its DuckDB twin is `md5_60_sql(key) % n`. The substrate for
    reproducible sampling/splits: the bucket is a pure function of the
    KEY, so it survives re-partitioning, reruns, engine swaps, and
    incremental appends (new rows never perturb old assignments —
    exactly what o3's PRNG sample cannot promise)."""
    return md5_60(key) % n
