"""quantile_normalize / sequence_integrity: hand cases, ties, NULLs."""

from __future__ import annotations

import pytest

from go_jsonschema_spark.operators.stats import (
    quantile_normalize,
    sequence_integrity,
)


# ---------------------------------------------------------------------------
# quantile_normalize
# ---------------------------------------------------------------------------

def test_qnorm_uniform_positions(spark):
    df = spark.createDataFrame([(i, "a", float(i)) for i in range(1, 5)],
                               "id long, g string, v double")
    out = {r["id"]: r["v_cdf"] for r in
           quantile_normalize(df, "v", group_col="g", out_col="v_cdf")
           .collect()}
    assert out == {1: 0.25, 2: 0.5, 3: 0.75, 4: 1.0}


def test_qnorm_ties_share_position(spark):
    df = spark.createDataFrame(
        [(1, "a", 1.0), (2, "a", 1.0), (3, "a", 2.0)],
        "id long, g string, v double")
    out = {r["id"]: r["v_cdf"] for r in
           quantile_normalize(df, "v", group_col="g", out_col="v_cdf")
           .collect()}
    assert out[1] == out[2] == pytest.approx(2 / 3, abs=1e-6)
    assert out[3] == 1.0


def test_qnorm_grouped_and_nulls(spark):
    df = spark.createDataFrame(
        [(1, "a", 5.0), (2, "a", 10.0), (3, "b", 7.0), (4, "b", None)],
        "id long, g string, v double")
    out = {r["id"]: r["v_cdf"] for r in
           quantile_normalize(df, "v", group_col="g", out_col="v_cdf")
           .collect()}
    assert out[1] == 0.5 and out[2] == 1.0
    assert out[3] == 1.0  # ranks only within its group's non-nulls
    assert out[4] is None


# ---------------------------------------------------------------------------
# sequence_integrity
# ---------------------------------------------------------------------------

def test_integrity_clean_log(spark):
    rows = [("u", i, 100 + i) for i in range(5)]
    df = spark.createDataFrame(rows, "g string, seq long, ts long")
    r = sequence_integrity(
        df, group_col="g", seq_col="seq", ts_col="ts").collect()[0]
    assert (r["n_events"], r["n_null_ts"], r["n_out_of_order"],
            r["n_dup_ts"]) == (5, 0, 0, 0)


def test_integrity_flags_each_kind(spark):
    # seq order: ts 10, 5 (backwards), 5 (dup), NULL, 20
    rows = [("u", 1, 10), ("u", 2, 5), ("u", 3, 5), ("u", 4, None),
            ("u", 5, 20)]
    df = spark.createDataFrame(rows, "g string, seq long, ts long")
    r = sequence_integrity(
        df, group_col="g", seq_col="seq", ts_col="ts").collect()[0]
    assert r["n_events"] == 5 and r["n_null_ts"] == 1
    assert r["n_out_of_order"] == 1 and r["n_dup_ts"] == 1


def test_integrity_per_group_isolation(spark):
    # the backwards jump is WITHIN u2 only; u1 stays clean
    rows = [("u1", 1, 10), ("u1", 2, 20), ("u2", 1, 99), ("u2", 2, 1)]
    df = spark.createDataFrame(rows, "g string, seq long, ts long")
    out = {r["g"]: r for r in sequence_integrity(
        df, group_col="g", seq_col="seq", ts_col="ts").collect()}
    assert out["u1"]["n_out_of_order"] == 0
    assert out["u2"]["n_out_of_order"] == 1
