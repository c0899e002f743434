"""trend / categorical_entropy / mutual_information / winsorize /
dataset_diff: hand-computable cases, degenerate inputs, plan shapes."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from go_jsonschema_spark.operators.diffing import dataset_diff
from go_jsonschema_spark.operators.stats import (
    categorical_entropy,
    mutual_information,
    trend,
    winsorize,
)


# ---------------------------------------------------------------------------
# trend
# ---------------------------------------------------------------------------

def test_trend_exact_line(spark):
    # y = 3x + 2 exactly: slope 3, intercept 2, r2 1
    df = spark.createDataFrame(
        [(float(x), 3.0 * x + 2.0) for x in range(10)], "x double, y double")
    r = trend(df, "y", "x").collect()[0]
    assert r["slope"] == pytest.approx(3.0, abs=1e-6)
    assert r["intercept"] == pytest.approx(2.0, abs=1e-6)
    assert r["r2"] == pytest.approx(1.0, abs=1e-6)
    assert r["n"] == 10


def test_trend_grouped_and_scaled(spark):
    # group a rises 1/day, group b falls 2/day (x in seconds)
    rows = [("a", 86400.0 * d, float(d)) for d in range(5)]
    rows += [("b", 86400.0 * d, -2.0 * d) for d in range(5)]
    df = spark.createDataFrame(rows, "g string, x double, y double")
    out = {r["g"]: r for r in
           trend(df, "y", "x", group_cols=["g"], x_scale=86400).collect()}
    assert out["a"]["slope"] == pytest.approx(1.0, abs=1e-6)
    assert out["b"]["slope"] == pytest.approx(-2.0, abs=1e-6)


def test_trend_nulls_ignored_pairwise(spark):
    df = spark.createDataFrame(
        [(1.0, 1.0), (2.0, None), (None, 3.0), (3.0, 3.0)],
        "x double, y double")
    assert trend(df, "y", "x").collect()[0]["n"] == 2


# ---------------------------------------------------------------------------
# categorical_entropy / mutual_information
# ---------------------------------------------------------------------------

def test_entropy_hand_case(spark):
    # fair coin: ln 2; constant: 0; nulls count as a category
    rows = [("h", "x", "a"), ("t", "x", None), ("h", "x", "a"),
            ("t", "x", None)]
    df = spark.createDataFrame(rows, "coin string, k string, m string")
    out = {r["column"]: r for r in
           categorical_entropy(df, ["coin", "k", "m"]).collect()}
    assert out["coin"]["entropy"] == pytest.approx(math.log(2), abs=1e-6)
    assert out["k"]["entropy"] == pytest.approx(0.0, abs=1e-6)
    assert out["m"]["n_distinct"] == 2  # 'a' and NULL


def test_mi_identical_columns_is_entropy(spark):
    rows = [(c,) for c in "aabbccdd"]
    df = spark.createDataFrame(rows, "c string").select(
        "c", F.col("c").alias("c2"))
    r = mutual_information(df, "c", "c2").collect()[0]
    assert r["mi"] == pytest.approx(math.log(4), abs=1e-6)
    assert r["nmi"] == pytest.approx(1.0, abs=1e-6)
    assert r["h_a"] == r["h_b"] == pytest.approx(math.log(4), abs=1e-6)


def test_mi_independent_is_zero(spark):
    rows = [(a, b) for a in "ab" for b in "xy" for _ in range(5)]
    df = spark.createDataFrame(rows, "a string, b string")
    r = mutual_information(df, "a", "b").collect()[0]
    assert r["mi"] == pytest.approx(0.0, abs=1e-6)


def test_mi_constant_column_nmi_null(spark):
    df = spark.createDataFrame([("k", v) for v in "abab"],
                               "a string, b string")
    r = mutual_information(df, "a", "b").collect()[0]
    assert r["mi"] == pytest.approx(0.0, abs=1e-6)
    assert r["nmi"] is None  # H_a = 0 → 0/0 guarded


def test_entropy_guard(spark):
    df = spark.createDataFrame([("x",)], "a string")
    with pytest.raises(ValueError, match="empty"):
        categorical_entropy(df, [])


# ---------------------------------------------------------------------------
# winsorize
# ---------------------------------------------------------------------------

def test_winsorize_clips_tails(spark):
    vals = [float(i) for i in range(1, 100)] + [10_000.0]
    df = spark.createDataFrame([(v,) for v in vals], "v double")
    out = winsorize(df, "v", lo=0.05, hi=0.95, out_col="v_w")
    col = [r["v_w"] for r in out.collect()]
    assert max(col) < 10_000.0 and min(col) > 1.0
    assert len(col) == 100  # row count preserved


def test_winsorize_nulls_pass_through(spark):
    df = spark.createDataFrame([(1.0,), (None,), (2.0,), (3.0,)],
                               "v double")
    out = winsorize(df, "v", lo=0.25, hi=0.75, out_col="v_w").collect()
    assert sum(1 for r in out if r["v_w"] is None) == 1


def test_winsorize_guard(spark):
    df = spark.createDataFrame([(1.0,)], "v double")
    with pytest.raises(ValueError, match="lo < hi"):
        winsorize(df, "v", lo=0.9, hi=0.1, out_col="v_w")


def test_winsorize_no_shuffle_in_clip(spark):
    import contextlib
    import io

    df = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        winsorize(df, "value", out_col="v_w").explain("formatted")
    plan = buf.getvalue()
    assert "Exchange" not in plan  # boundaries are literals; pure project
    assert "BatchEvalPython" not in plan


# ---------------------------------------------------------------------------
# dataset_diff
# ---------------------------------------------------------------------------

def _two_versions(spark):
    old = spark.createDataFrame(
        [(1, "a", 10.0), (2, "b", 20.0), (3, "c", None)],
        "k long, s string, v double")
    new = spark.createDataFrame(
        [(2, "b", 25.0), (3, "c", None), (4, "d", 40.0)],
        "k long, s string, v double")
    return old, new


def test_diff_add_remove_change(spark):
    old, new = _two_versions(spark)
    out = {r["k"]: r for r in dataset_diff(old, new, ["k"]).collect()}
    assert out[1]["change_type"] == "removed"
    assert out[4]["change_type"] == "added"
    assert out[2]["change_type"] == "changed"
    assert out[2]["changed_cols"] == ["v"]
    assert 3 not in out  # identical incl. null-safe NULL == NULL


def test_diff_null_transitions_are_changes(spark):
    old = spark.createDataFrame([(1, None)], "k long, v double")
    new = spark.createDataFrame([(1, 5.0)], "k long, v double")
    out = dataset_diff(old, new, ["k"]).collect()
    assert out[0]["change_type"] == "changed"
    assert out[0]["changed_cols"] == ["v"]


def test_diff_guards(spark):
    old, new = _two_versions(spark)
    with pytest.raises(ValueError, match="key_cols"):
        dataset_diff(old, new, [])
    with pytest.raises(ValueError, match="absent"):
        dataset_diff(old, new, ["k"], compare_cols=["nope"])
