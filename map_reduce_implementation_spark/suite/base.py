"""Suite plumbing: the Query record and oracle-matching conventions.

Conventions that make Spark results hash-match the DuckDB oracle
(driver compares row-count + schema + order-insensitive value hash):

- **Alias every computed column identically** in both the DataFrame code
  and the SQL.
- **Sums/avgs over double columns go through DECIMAL**: cast each value
  to ``DECIMAL(18,2)`` (money) or ``DECIMAL(18,6)`` (measures) before
  SUM, then cast the result to DOUBLE. Decimal addition is exact and
  associative, so the result is independent of Spark's partition order
  vs DuckDB's scan order; a raw double SUM is not.
- **floor/ceil results are cast to DOUBLE** (Spark returns LONG, DuckDB
  DOUBLE).
- **Raw float32 columns (embeddings) never go straight into a decimal
  cast or ROUND**: float32 values are dyadic rationals that can land
  EXACTLY on a decimal rounding boundary, where Spark's exact
  BigDecimal HALF_UP and DuckDB's float-multiply path disagree by one
  ulp (observed on the embeddings table). Quantize with the modeless
  ``floor(x * 1e7 + 0.5)`` — pure IEEE multiply/add/floor, identical
  in every engine — then sum the exact integers (or their DECIMAL
  products). Derived full-mantissa doubles (ratios, dot products,
  margins) have no tie exposure and may use ROUND(·, k).
- Top-k queries always carry a unique tie-break key in the ORDER BY.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F


@dataclass(frozen=True)
class Query:
    """One suite entry: a PySpark builder and (optionally) its ANSI-SQL
    oracle for DuckDB. ``oracle is None`` → non-SQL-expressible op; the
    driver records a weaker rows-only check (per __spark_entry__.py)."""

    build: Callable[[SparkSession, str], DataFrame]
    oracle: str | None
    doc: str = ""


def dec(col: str | Column, scale: int = 2) -> Column:
    """Exact-arithmetic cast for oracle-stable aggregation (see module doc)."""
    c = F.col(col) if isinstance(col, str) else col
    return c.cast(f"decimal(18,{scale})")


def money_sum(col: str | Column, alias: str) -> Column:
    return F.sum(dec(col)).cast("double").alias(alias)


def revenue_expr() -> Column:
    """l_extendedprice * (1 - l_discount), exactly, in decimal."""
    return dec("l_extendedprice") * (F.lit(1).cast("decimal(18,2)") - dec("l_discount"))


# SQL fragments mirroring the helpers above (keep in lockstep!)
SQL_REVENUE = (
    "CAST(l_extendedprice AS DECIMAL(18,2))"
    " * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))"
)
