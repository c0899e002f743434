"""Round-6 regression tests for ADVICE findings.

1. range_join: a matched point row containing NULL columns is emitted
   once per matching interval, and points outside every interval drop.
2. t_closeness: an equivalence class whose quasi-identifier value is
   NULL must rejoin its own counts (null-safe skeleton join) — a
   NULL-quasi class distributed identically to the global distribution
   has emd == 0, never an out-of-range value.
3. distributed_cumsum: a string leading order column is rejected
   (numeric bucket split vs lexicographic window sort would silently
   corrupt prefix sums).
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F


def test_range_join_left_null_column_no_duplicates(spark):
    """A matched point (left-side) row with a NULL tag column is emitted
    once; an unmatched point is absent (inner join)."""
    from go_jsonschema_spark.operators.asof import range_join

    pts = spark.createDataFrame(
        [(1, 5.0, None), (2, 50.0, "t"), (3, 999.0, None)],
        "pid long, x double, tag string",
    )
    ivs = spark.createDataFrame(
        [(10, 0.0, 10.0), (20, 40.0, 60.0)],
        "iid long, lo double, hi double",
    )
    rows = range_join(
        pts, ivs, left_point="x", right_start="lo", right_end="hi",
        bin_width=10.0,
    ).collect()
    by_pid = {}
    for r in rows:
        by_pid.setdefault(r["pid"], []).append(r["iid"])
    assert by_pid == {1: [10], 2: [20]}


def test_range_join_left_all_null_row_matched_once(spark):
    from go_jsonschema_spark.operators.asof import range_join

    pts = spark.createDataFrame(
        [(5.0, None, None)], "x double, a string, b long")
    ivs = spark.createDataFrame([(1, 0.0, 10.0)],
                                "iid long, lo double, hi double")
    out = range_join(pts, ivs, left_point="x", right_start="lo",
                     right_end="hi", bin_width=4.0).collect()
    assert len(out) == 1 and out[0]["iid"] == 1


def test_range_join_span_prefilter_keeps_left_semantics(spark):
    """Points outside the intervals' global [min_start, max_end] are
    pre-filtered from the join; the points inside still match."""
    from go_jsonschema_spark.operators.asof import range_join

    pts = spark.createDataFrame(
        [(i, float(v)) for i, v in enumerate([-100.0, 5.0, 7.0, 1000.0])],
        "pid long, x double",
    )
    ivs = spark.createDataFrame([(1, 4.0, 8.0)],
                                "iid long, lo double, hi double")
    inner = range_join(pts, ivs, left_point="x", right_start="lo",
                       right_end="hi", bin_width=2.0).collect()
    assert sorted((r["pid"], r["iid"]) for r in inner) == [(1, 1), (2, 1)]


def test_range_join_empty_right_side(spark):
    from go_jsonschema_spark.operators.asof import range_join

    pts = spark.createDataFrame([(1, 5.0)], "pid long, x double")
    ivs = spark.createDataFrame([], "iid long, lo double, hi double")
    assert range_join(pts, ivs, left_point="x", right_start="lo",
                      right_end="hi", bin_width=2.0).count() == 0


def test_t_closeness_null_quasi_class_rejoins_counts(spark):
    """ADVICE r6 (medium): a NULL-zip class whose distribution matches
    the global one must report emd 0 (and emd stays in [0, 1])."""
    from go_jsonschema_spark.operators.privacy import t_closeness

    # global distribution: 50/50 over {a, b}; both classes identical
    rows = ([(None, "a")] * 2 + [(None, "b")] * 2
            + [("z1", "a")] * 2 + [("z1", "b")] * 2)
    df = spark.createDataFrame(rows, "zip string, diag string")
    flagged = t_closeness(df, ["zip"], "diag", t=0.001).collect()
    assert flagged == []  # emd == 0 for both classes, incl. the NULL one

    # and a genuinely skewed NULL class IS flagged, with emd in [0, 1]
    rows2 = [(None, "a")] * 4 + [("z1", "a")] * 2 + [("z1", "b")] * 2
    df2 = spark.createDataFrame(rows2, "zip string, diag string")
    out = {r["zip"]: r["emd"] for r in
           t_closeness(df2, ["zip"], "diag", t=0.05).collect()}
    assert None in out and 0.0 <= out[None] <= 1.0


def test_distributed_cumsum_rejects_string_order(spark):
    """ADVICE r6 (low): numeric-looking strings bucket numerically but
    sort lexicographically — reject instead of corrupting."""
    from go_jsonschema_spark.operators.timeseries import distributed_cumsum

    df = spark.createDataFrame(
        [(str(i), 1) for i in range(1, 20)], "k string, v long")
    with pytest.raises(ValueError, match="numeric or temporal"):
        distributed_cumsum(df, ["k"], "v", n_buckets=4)


def test_distributed_cumsum_still_accepts_temporal_and_decimal(spark):
    from go_jsonschema_spark.operators.timeseries import distributed_cumsum

    df = spark.createDataFrame(
        [(f"2024-01-{d:02d}", 1) for d in range(1, 11)],
        "ds string, v long",
    ).select(F.to_date("ds").alias("d"), "v")
    out = {r["d"].day: r["cum"] for r in
           distributed_cumsum(df, ["d"], "v", n_buckets=3).collect()}
    assert out[1] == 1 and out[10] == 10

    dec = spark.createDataFrame(
        [(i, 1) for i in range(1, 11)], "k long, v long"
    ).select(F.col("k").cast("decimal(10,2)").alias("k"), "v")
    out2 = {int(r["k"]): r["cum"] for r in
            distributed_cumsum(dec, ["k"], "v", n_buckets=3).collect()}
    assert out2[10] == 10
