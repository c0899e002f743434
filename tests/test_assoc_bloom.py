"""association_rules / semi_join_reducer: closed-form stats, exactness
vs a plain semi-join, degenerate inputs."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from go_jsonschema_spark.operators.assoc import association_rules
from go_jsonschema_spark.operators.joins import semi_join_reducer


# ---------------------------------------------------------------------------
# association_rules
# ---------------------------------------------------------------------------

def test_assoc_hand_case(spark):
    # 4 baskets: {a,b} ×2, {a} ×1, {b,c} ×1
    rows = [(1, "a"), (1, "b"), (2, "a"), (2, "b"), (3, "a"), (4, "b"),
            (4, "c")]
    df = spark.createDataFrame(rows, "b long, i string")
    out = {(r["item_a"], r["item_b"]): r for r in
           association_rules(df, basket_col="b", item_col="i").collect()}
    ab = out[("a", "b")]
    assert ab["n_ab"] == 2
    assert ab["support"] == pytest.approx(0.5, abs=1e-6)
    assert ab["conf_a_to_b"] == pytest.approx(2 / 3, abs=1e-6)
    assert ab["conf_b_to_a"] == pytest.approx(2 / 3, abs=1e-6)
    # lift = 0.5 / (0.75 * 0.75)
    assert ab["lift"] == pytest.approx(0.5 / 0.5625, abs=1e-6)
    assert ("b", "c") in out and ("a", "c") not in out


def test_assoc_duplicate_rows_count_once(spark):
    rows = [(1, "a"), (1, "a"), (1, "b")]  # duplicate (1,a) is one presence
    df = spark.createDataFrame(rows, "b long, i string")
    out = association_rules(df, basket_col="b", item_col="i").collect()
    assert len(out) == 1 and out[0]["n_ab"] == 1


def test_assoc_min_support_prunes(spark):
    rows = [(i, "a") for i in range(10)] + [(i, "b") for i in range(10)]
    rows += [(0, "c")]  # {a,c} and {b,c} appear once of 10 baskets
    df = spark.createDataFrame(rows, "b long, i string")
    out = association_rules(
        df, basket_col="b", item_col="i", min_support=0.5).collect()
    assert {(r["item_a"], r["item_b"]) for r in out} == {("a", "b")}


def test_assoc_empty_raises(spark):
    df = spark.createDataFrame([], "b long, i string")
    with pytest.raises(ValueError, match="no baskets"):
        association_rules(df, basket_col="b", item_col="i")


# ---------------------------------------------------------------------------
# semi_join_reducer
# ---------------------------------------------------------------------------

def test_reducer_semi_join_exact(spark):
    fact = spark.createDataFrame(
        [(i, i % 100) for i in range(2000)], "id long, k long")
    dim = spark.createDataFrame([(k,) for k in range(0, 100, 7)], "k long")
    got = sorted(r["id"] for r in
                 semi_join_reducer(fact, dim, "k", "k").collect())
    want = sorted(i for i in range(2000)
                  if (i % 100) in set(range(0, 100, 7)))
    assert got == want


def test_reducer_null_keys_never_match(spark):
    fact = spark.createDataFrame([(1, None), (2, 5)], "id long, k long")
    dim = spark.createDataFrame([(5,)], "k long")
    out = semi_join_reducer(fact, dim, "k", "k").collect()
    assert [r["id"] for r in out] == [2]


def test_reducer_empty_dim(spark):
    fact = spark.createDataFrame([(1, 1)], "id long, k long")
    dim = spark.createDataFrame([], "k long")
    assert semi_join_reducer(fact, dim, "k", "k").count() == 0


def test_reducer_undersized_still_exact(spark):
    # force heavy bucket collisions: correctness must not depend on m
    fact = spark.createDataFrame(
        [(i, i) for i in range(5000)], "id long, k long")
    dim = spark.createDataFrame([(i,) for i in range(0, 5000, 50)], "k long")
    out = semi_join_reducer(fact, dim, "k", "k", n_buckets=7).collect()
    assert sorted(r["id"] for r in out) == list(range(0, 5000, 50))


def test_reducer_prefilter_is_broadcast_semi(spark):
    import contextlib
    import io

    fact = spark.read.parquet("/root/testdata/sf0.001/orders.parquet")
    dim = spark.read.parquet(
        "/root/testdata/sf0.001/customer.parquet").where(
        F.col("c_acctbal") > 9000).select("c_custkey")
    out = semi_join_reducer(fact, dim, "o_custkey", "c_custkey")
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        out.explain("formatted")
    plan = buf.getvalue()
    # prefilter = map-side broadcast probe on the digest; rejected rows
    # never reach the exact join; no Python anywhere
    assert plan.count("LeftSemi") >= 2
    assert "BroadcastHashJoin" in plan
    assert "BatchEvalPython" not in plan


def test_reducer_guard(spark):
    fact = spark.createDataFrame([(1, 1)], "id long, k long")
    dim = spark.createDataFrame([(1,)], "k long")
    with pytest.raises(ValueError, match="n_buckets"):
        semi_join_reducer(fact, dim, "k", "k", n_buckets=0)
