"""Whole-group vectorized checks via applyInPandas (SURVEY.md §2.8:
"Grouped checks per partition — applyInPandas for whole-group vectorized
checks when needed").

The shipped concrete check is per-group distribution drift: each group's
histogram of a numeric column is compared (PSI + KS) against a broadcast
baseline histogram — e.g. "did any single source drift from the fleet
baseline", which a global drift check would average away.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, functions as F

from go_jsonschema_spark.operators.drift import ks_statistic, psi

__all__ = ["grouped_drift"]


def grouped_drift(
    df: DataFrame,
    group_col: str,
    value_col: str,
    baseline: dict[int, int],
    *,
    bucket_width: float,
    psi_threshold: float = 0.2,
    ks_threshold: float = 0.1,
) -> DataFrame:
    """Per-group drift vs a (small, driver-held) baseline histogram.

    Pre-aggregates to per-group buckets FIRST (map-side combinable groupBy,
    O(groups×buckets) rows), then runs the PSI/KS math per group in one
    applyInPandas over that tiny aggregate — the Arrow boundary carries
    histogram rows, never raw data."""
    hist = (
        df.filter(F.col(value_col).isNotNull())
        .groupBy(
            group_col,
            F.floor(F.col(value_col) / F.lit(float(bucket_width))).alias(
                "bucket"
            ),
        )
        .agg(F.count(F.lit(1)).alias("count"))
    )

    base = dict(baseline)  # captured in the closure, broadcast by Spark

    def check(pdf: pd.DataFrame) -> pd.DataFrame:
        # applyInPandas: exactly one call per group, whole group together
        cur = dict(zip(pdf["bucket"].astype(int), pdf["count"].astype(int)))
        p = psi(cur, base)
        k = ks_statistic(cur, base)
        return pd.DataFrame(
            {
                "group": [str(pdf[group_col].iloc[0])],
                "n": [int(pdf["count"].sum())],
                "psi": [round(p, 6)],
                "ks": [round(k, 6)],
                "passed": [p <= psi_threshold and k <= ks_threshold],
            }
        )

    out_schema = "group string, n long, psi double, ks double, passed boolean"
    return hist.groupBy(group_col).applyInPandas(check, out_schema)
