"""Numeric column expressions that must agree bit-for-bit with the
DuckDB oracle."""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def round_half(x: Column, d: int) -> Column:
    """Round a DOUBLE to ``d`` decimals the way DuckDB's ``round(x, d)``
    does: scale, round half away from zero, unscale. ``F.round(x, d)``
    instead rounds the shortest decimal spelling of ``x`` itself, so a
    half-way value whose double sits just below it (139/160 sums to
    0.86874999...) rounds down to 0.8687 where DuckDB's scaled
    ``x * 1e4`` is exactly 8687.5 and gives 0.8688. Both engines do the
    same IEEE multiply and divide, and rounding a double to an integer
    agrees, so the results are bit-identical. Decimals round exactly in
    both engines and need no helper."""
    scale = 10.0**d
    return F.round(x * F.lit(scale), 0) / F.lit(scale)
