"""Portable hashing primitives for dedup / fingerprinting.

Everything here is built on ``md5`` because it produces IDENTICAL
values in Spark, DuckDB, and Python — which is what lets MinHash /
SimHash / fingerprint queries be oracle-checked across engines. (Spark's
``xxhash64``/``hash`` are engine-specific and would not cross-check.)
md5 is plenty for content fingerprints; at 100 TB the cost is one
codegen'd JVM digest per value — no Python boundary.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def fingerprint(col) -> Column:
    """Deterministic 128-bit content fingerprint of normalized text."""
    from .text import normalize

    return F.md5(normalize(col))


def hex32_to_long(hex_col: Column) -> Column:
    """First 8 hex chars -> non-negative 32-bit value as a long.

    ``conv(hex, 16, 10)`` returns a decimal string; casting to long is
    exact for 32-bit magnitudes (no overflow), and the same expression
    exists in DuckDB via ``from_hex``-free arithmetic.
    """
    return hex_prefix_to_long(hex_col, 8)


def hex_prefix_to_long(hex_col: Column, n_hex: int) -> Column:
    """First ``n_hex`` hex chars -> non-negative value as a long.
    ``n_hex`` must be <= 15 (60 bits) so the value fits a signed long
    exactly in BOTH Spark and DuckDB (``('0x'||substr(h,1,n))::BIGINT``)
    — 16 chars would overflow at sign-bit magnitudes under ANSI mode."""
    if not 1 <= n_hex <= 15:
        raise ValueError(f"n_hex must be in [1, 15], got {n_hex}")
    return F.conv(F.substring(hex_col, 1, n_hex), 16, 10).cast("long")

