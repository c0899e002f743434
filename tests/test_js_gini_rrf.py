"""js_divergence / contribution_concentration / rrf_fuse: closed-form
hand cases, degenerate inputs, determinism."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from go_jsonschema_spark.operators.corpus import rrf_fuse
from go_jsonschema_spark.operators.drift import js_divergence
from go_jsonschema_spark.operators.stats import contribution_concentration


# ---------------------------------------------------------------------------
# js_divergence
# ---------------------------------------------------------------------------

def test_js_identical_is_zero(spark):
    df = spark.createDataFrame([(float(i % 10),) for i in range(100)],
                               "v double")
    r = js_divergence(df, df, "v", bucket_width=1.0).collect()[0]
    assert r["js"] == pytest.approx(0.0, abs=1e-6)
    assert r["n_a"] == r["n_b"] == 100


def test_js_disjoint_is_ln2(spark):
    a = spark.createDataFrame([(0.5,)] * 50, "v double")
    b = spark.createDataFrame([(10.5,)] * 50, "v double")
    r = js_divergence(a, b, "v", bucket_width=1.0).collect()[0]
    assert r["js"] == pytest.approx(math.log(2), abs=1e-6)
    assert r["n_buckets"] == 2


def test_js_closed_form_half_overlap(spark):
    # P = [1, 0], Q = [1/2, 1/2]:
    # M = [3/4, 1/4]; JS = 1/2(1·ln(4/3)) + 1/2(.5·ln(2/3)+.5·ln 2)
    a = spark.createDataFrame([(0.5,)] * 4, "v double")
    b = spark.createDataFrame([(0.5,), (0.5,), (1.5,), (1.5,)], "v double")
    expect = 0.5 * math.log(4 / 3) + 0.5 * (
        0.5 * math.log(2 / 3) + 0.5 * math.log(2))
    r = js_divergence(a, b, "v", bucket_width=1.0).collect()[0]
    assert r["js"] == pytest.approx(expect, abs=1e-6)


# ---------------------------------------------------------------------------
# contribution_concentration
# ---------------------------------------------------------------------------

def test_gini_uniform_is_zero(spark):
    rows = [(g, i) for g in range(10) for i in range(5)]
    df = spark.createDataFrame(rows, "g long, i long")
    r = contribution_concentration(df, "g", n_buckets=4).collect()[0]
    assert r["gini"] == pytest.approx(0.0, abs=1e-6)
    assert r["n_groups"] == 10 and r["total_rows"] == 50


def test_gini_total_concentration(spark):
    # one group holds ~everything: gini → (N-1)/N · (1 - 1/T)-ish, high
    rows = [(0, i) for i in range(96)] + [(g, 0) for g in range(1, 5)]
    df = spark.createDataFrame(rows, "g long, i long")
    r = contribution_concentration(df, "g", n_buckets=4).collect()[0]
    assert r["gini"] > 0.7
    assert r["top_share"] > 0.9  # the hot group sits above p99 of sizes


def test_gini_hand_case(spark):
    # groups sized 1, 3: sorted c = [1, 4];
    # gini = 1 - ((2·1-1) + (2·4-3)) / (2·4) = 1 - 6/8 = 0.25
    rows = [(0, 0), (1, 0), (1, 1), (1, 2)]
    df = spark.createDataFrame(rows, "g long, i long")
    r = contribution_concentration(df, "g", n_buckets=2).collect()[0]
    assert r["gini"] == pytest.approx(0.25, abs=1e-6)


# ---------------------------------------------------------------------------
# rrf_fuse
# ---------------------------------------------------------------------------

def _ranked(spark, pairs):
    return spark.createDataFrame(pairs, "id long, rank long")


def test_rrf_hand_case(spark):
    a = _ranked(spark, [(1, 1), (3, 2), (2, 3)])
    b = _ranked(spark, [(3, 1), (1, 2), (4, 3)])
    out = {r["id"]: r for r in
           rrf_fuse([a, b], ["id"], k=60, top_k=20).collect()}
    assert out[1]["rrf_score"] == pytest.approx(
        round(1 / 61 + 1 / 62, 6), abs=1e-9)
    assert out[4]["n_lists"] == 1
    # docs 1 and 3 hold rank multiset {1,2} in mirror → exact tie
    assert out[1]["rrf_score"] == out[3]["rrf_score"]
    assert out[1]["fused_rank"] < out[3]["fused_rank"]  # id tie-break


def test_rrf_top_k_and_guards(spark):
    a = _ranked(spark, [(i, i) for i in range(1, 11)])
    out = rrf_fuse([a], ["id"], k=60, top_k=3).collect()
    assert len(out) == 3 and {r["fused_rank"] for r in out} == {1, 2, 3}
    with pytest.raises(ValueError, match="no rankings"):
        rrf_fuse([], ["id"], top_k=20)
    with pytest.raises(ValueError, match="k must be"):
        rrf_fuse([a], ["id"], k=0, top_k=20)
