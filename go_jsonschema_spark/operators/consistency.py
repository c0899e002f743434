"""Cross-column / cross-table consistency checks.

Dataset-level validation beyond the reference's per-row keywords (its
closest concepts are ``enum``/``uniqueItems``, validators.go:584-640):
functional dependencies ("column A determines column B") and
parent/child aggregate reconciliation ("each order's total equals the
sum of its line items") are the table-shaped invariants a warehouse
actually audits.  Both are single-aggregation designs: nothing
row-scaled reaches the driver, every shuffle key is the check's own
grouping key.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

__all__ = ["fd_violations", "reconcile_totals"]


def fd_violations(
    df: DataFrame,
    determinant: str | list[str],
    dependent: str,
) -> DataFrame:
    """Functional-dependency audit: determinant value combinations that
    map to MORE than one distinct ``dependent`` value, i.e. witnesses
    that ``determinant -> dependent`` does NOT hold.

    Output: one row per violating determinant combination —
    ``(*determinant, n_values, example_min, example_max)`` with the
    distinct-value count and the lexical extremes as human-readable
    evidence (two concrete conflicting values, not a sample that can
    vary run to run).

    Shape: ONE distinct-aggregate on ``(determinant, dependent)``
    (map-side combined — at 10^12 rows the shuffle carries distinct
    pairs, not rows), then a determinant-keyed count over the distinct
    pairs.  NULL dependents count as a value (a key mapping to both
    NULL and 'x' is a real FD conflict); rows whose determinant is
    entirely NULL group together like any other combination.
    """
    dets = [determinant] if isinstance(determinant, str) else list(determinant)
    if not dets or not dependent:
        raise ValueError("fd_violations: determinant and dependent required")
    if dependent in dets:
        raise ValueError("fd_violations: dependent cannot be a determinant")
    # NULL-distinguishable dependent: groupBy treats NULL as a group, so
    # distinct (det, dep) pairs keep NULL-vs-value conflicts visible
    pairs = df.select(*dets, dependent).distinct()
    return (
        pairs.groupBy(*dets)
        .agg(
            F.count(F.lit(1)).alias("n_values"),
            F.min(F.col(dependent).cast("string")).alias("example_min"),
            F.max(F.col(dependent).cast("string")).alias("example_max"),
        )
        .filter(F.col("n_values") > 1)
    )


def reconcile_totals(
    parent: DataFrame,
    child: DataFrame,
    key: str | list[str],
    parent_col: str,
    child_expr,
    *,
    atol: float = 1e-6,
    how: str = "full",
) -> DataFrame:
    """Parent/child aggregate reconciliation: for every key, compare the
    parent's recorded total against the SUM of ``child_expr`` over the
    child rows with that key.  The classic warehouse audit (order header
    total vs line items; account balance vs ledger entries).

    Output: one row per key that fails —
    ``(*key, parent_total, child_total, diff)`` where
    ``diff = parent_total - child_total`` and ``|diff| > atol``, plus
    keys present on only one side (``parent_total`` or ``child_total``
    NULL — a missing-children order and an orphaned line item are both
    reconciliation failures, which is why the join defaults to full
    outer).  ``how='inner'`` restricts to keys present on both sides.

    Shape: the child side collapses FIRST (one key-grouped sum,
    map-side combined — the join then carries one row per key on each
    side, never child rows).  With ``how='full'`` the join is a
    sort-merge on the key; at 10^12 child rows the pre-aggregation is
    what keeps the shuffle proportional to keys.
    """
    keys = [key] if isinstance(key, str) else list(key)
    if how not in ("full", "inner"):
        raise ValueError("reconcile_totals: how must be 'full' or 'inner'")
    child_expr = (
        F.col(child_expr) if isinstance(child_expr, str) else child_expr
    )
    child_tot = child.groupBy(*keys).agg(
        F.sum(child_expr).cast("double").alias("child_total")
    )
    parent_tot = parent.select(
        *keys, F.col(parent_col).cast("double").alias("parent_total")
    )
    joined = parent_tot.join(child_tot, on=keys, how=how)
    return joined.filter(
        F.col("parent_total").isNull()
        | F.col("child_total").isNull()
        | (F.abs(F.col("parent_total") - F.col("child_total")) > F.lit(atol))
    ).select(
        *keys,
        "parent_total",
        "child_total",
        (F.col("parent_total") - F.col("child_total")).alias("diff"),
    )
