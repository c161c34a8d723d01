"""Reusable column-expression helpers shared across plans/operators.

These are thin combinators over pyspark.sql.functions — everything
stays JVM-side / codegen-friendly. They encode the engine's
conventions (rounding discipline for oracle parity, null-safe ratios,
deterministic bucketing).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def money(col: Column | str) -> Column:
    """Money aggregate convention: round to 2 dp."""
    return F.round(col, 2)


def rate(col: Column | str) -> Column:
    """Rate/average convention: round to 4 dp."""
    return F.round(col, 4)


def safe_div(num: Column, den: Column, ndigits: int = 4) -> Column:
    """NULL (not error / inf) when the denominator is 0 — matches the
    SQL CASE WHEN den > 0 convention used by the oracles."""
    return F.round(F.when(den != 0, num / den), ndigits)


def pct(num: Column, den: Column, ndigits: int = 4) -> Column:
    return F.round(num * 100.0 / den, ndigits)


def zscore(col: Column, mean: Column, std: Column, ndigits: int = 4) -> Column:
    return F.round(F.when(std != 0, (col - mean) / std), ndigits)


def disc_price() -> Column:
    """TPC-H style discounted price expression."""
    return F.col("l_extendedprice") * (1 - F.col("l_discount"))


def bucket_by_thresholds(col: Column, thresholds: list[tuple[float, str]], default: str) -> Column:
    """First-match-wins CASE chain: [(upper_bound, label), ...]."""
    expr = None
    for bound, label in thresholds:
        cond = col <= bound
        expr = F.when(cond, label) if expr is None else expr.when(cond, label)
    return expr.otherwise(default)


def hex_int(hex: Column, start: int | Column = 1, digits: int = 8) -> Column:
    """The engine's one hex-prefix → integer conversion: `digits` hex
    characters of `hex` from 1-based `start`, read base 16, as a
    BIGINT. Every deterministic md5 rule (buckets, splits, folds,
    noise, shuffle keys, SimHash halves) is `hex_int(F.md5(key), …)`,
    and DuckDB twins replay it digit for digit as
    CAST(('0x' || substr(md5(key), start, digits)) AS BIGINT).

    Format: a prefix of at most 13 digits (52 bits) is exact in a
    double, so it also serves as a range-bucketing key; 16 digits
    overflow a signed BIGINT (values ≥ 2^63), so a 64-bit hash is
    read as two 8-digit halves, never one."""
    return F.conv(F.substring(hex, start, digits), 16, 10).cast("long")


def md5_bucket(col: Column, mod: int = 100) -> Column:
    """THE engine's deterministic hash-bucket assignment (the p03
    split contract): `hex_int` of md5(value-as-string), mod `mod`.
    Oracle twins mirror it as
    CAST(('0x' || substr(md5(CAST(x AS VARCHAR)), 1, 8)) AS BIGINT)
    % mod."""
    return hex_int(F.md5(col.cast("string"))) % mod
