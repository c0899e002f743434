"""Referential-integrity check: fact column ⊆ dimension.

The reference's nearest concept is ``enum`` (validators.go:584-596) — a
small inline allowed set.  At 10^12 rows with a dimension table the engine
uses a **broadcast anti-join** (SURVEY.md §2.8): the dimension ships to
every executor once, the fact side never shuffles, and violations fall out
of ``left_anti``.  Skewed fact keys are harmless here — broadcast joins
have no reduce-side hot spot.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

__all__ = ["referential_violations", "referential_summary"]


def referential_violations(
    df: DataFrame,
    column: str,
    dim: DataFrame,
    dim_column: str | None = None,
    *,
    key: str = "doc_id",
    constraint_id: str | None = None,
) -> DataFrame:
    """Rows of ``df`` whose ``column`` value is absent from ``dim`` →
    violation rows ``(doc_id, constraint_id, observed)``.

    ``F.broadcast(dim)`` forces a BroadcastHashJoin regardless of dim-side
    stats; distinct-ing the dim first keeps the broadcast hashmap minimal."""
    dcol = dim_column or column
    cid = constraint_id or f"foreign_key:{column}"
    dim_keys = dim.select(F.col(dcol).alias(column)).distinct()
    missing = df.join(F.broadcast(dim_keys), on=column, how="left_anti")
    return missing.select(
        F.col(key).cast("string").alias("doc_id"),
        F.lit(cid).alias("constraint_id"),
        F.col(column).cast("string").alias("observed"),
    )


def referential_summary(
    df: DataFrame, column: str, dim: DataFrame, dim_column: str
) -> DataFrame:
    """Per-value violation counts ``(value, n)`` — the compact form for
    metrics tables (one row per unknown dimension value, not per fact row)."""
    dim_keys = dim.select(F.col(dim_column).alias(column)).distinct()
    return (
        df.join(F.broadcast(dim_keys), on=column, how="left_anti")
        .groupBy(column)
        .agg(F.count(F.lit(1)).alias("n"))
    )
