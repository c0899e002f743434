"""equidepth_histogram / pairwise_corr: hand cases, tie and NULL
semantics, constant-column NULL corr, and single-pass plan shapes."""

from __future__ import annotations

import pytest

from go_jsonschema_spark.operators.stats import (
    equidepth_histogram,
    pairwise_corr,
)


# ---------------------------------------------------------------------------
# equidepth_histogram
# ---------------------------------------------------------------------------

def test_equidepth_uniform_quartiles(spark):
    # 1..100, 4 buckets: boundaries at interpolated q25/q50/q75
    df = spark.createDataFrame(
        [(i, float(i)) for i in range(1, 101)], "id long, v double")
    out = {r["bucket"]: r for r in
           equidepth_histogram(df, "v", n_buckets=4).collect()}
    assert sorted(out) == [0, 1, 2, 3]
    assert [out[b]["n"] for b in range(4)] == [25, 25, 25, 25]
    assert out[0]["lo"] == 1.0 and out[3]["hi"] == 100.0
    # strict > means the boundary value itself stays in the lower bucket
    assert out[0]["hi"] <= out[1]["lo"]


def test_equidepth_skew_still_balanced(spark):
    # zipf-ish skew: equi-WIDTH would put ~everything in bucket 0
    vals = [1.0] * 50 + [2.0] * 30 + [10.0] * 15 + [1000.0] * 5
    df = spark.createDataFrame(
        [(i, v) for i, v in enumerate(vals)], "id long, v double")
    out = equidepth_histogram(df, "v", n_buckets=4).collect()
    assert max(r["n"] for r in out) <= 50  # the hot value can't spill over
    assert sum(r["n"] for r in out) == 100


def test_equidepth_nulls_and_guard(spark):
    df = spark.createDataFrame(
        [(1, 1.0), (2, None), (3, 2.0), (4, 3.0)], "id long, v double")
    assert sum(r["n"] for r in
               equidepth_histogram(df, "v", n_buckets=2).collect()) == 3
    with pytest.raises(ValueError, match="n_buckets"):
        equidepth_histogram(df, "v", n_buckets=1)


def test_equidepth_all_null_empty(spark):
    df = spark.createDataFrame([(1, None), (2, None)], "id long, v double")
    assert equidepth_histogram(df, "v", n_buckets=4).count() == 0


def test_equidepth_no_python_no_join(spark):
    import contextlib
    import io

    df = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        equidepth_histogram(df, "value", n_buckets=8).explain("formatted")
    plan = buf.getvalue()
    assert "BatchEvalPython" not in plan
    assert "Join" not in plan  # literal boundary array, no boundary join


# ---------------------------------------------------------------------------
# pairwise_corr
# ---------------------------------------------------------------------------

def test_corr_hand_case(spark):
    # y = 2x exactly (corr 1); z anti-correlated with x (corr -1)
    rows = [(i, float(i), 2.0 * i, -float(i) + 7) for i in range(20)]
    df = spark.createDataFrame(rows, "id long, x double, y double, z double")
    out = {(r["col_a"], r["col_b"]): r["corr"]
           for r in pairwise_corr(df, ["x", "y", "z"]).collect()}
    assert set(out) == {("x", "y"), ("x", "z"), ("y", "z")}
    assert out[("x", "y")] == pytest.approx(1.0, abs=1e-6)
    assert out[("x", "z")] == pytest.approx(-1.0, abs=1e-6)


def test_corr_constant_column_is_null(spark):
    rows = [(i, float(i), 5.0) for i in range(10)]
    df = spark.createDataFrame(rows, "id long, x double, c double")
    out = pairwise_corr(df, ["x", "c"]).collect()
    assert len(out) == 1 and out[0]["corr"] is None


def test_corr_guards(spark):
    df = spark.createDataFrame([(1, 1.0)], "id long, x double")
    with pytest.raises(ValueError, match="two columns"):
        pairwise_corr(df, ["x"])
    with pytest.raises(ValueError, match="duplicate"):
        pairwise_corr(df, ["x", "x"])


def test_corr_single_aggregation_plan(spark):
    import contextlib
    import io

    df = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        pairwise_corr(
            df, ["l_quantity", "l_extendedprice", "l_discount"]
        ).explain("formatted")
    plan = buf.getvalue()
    assert "BatchEvalPython" not in plan
    # all C(3,2) correlations in ONE aggregate: a single Exchange
    assert plan.count("Exchange (") == 1
