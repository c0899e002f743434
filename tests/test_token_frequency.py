"""tokens.token_frequency — spectrum correctness and plan shape (partial
aggregation before the exchange)."""

from __future__ import annotations

import contextlib
import io

from go_jsonschema_spark.operators.tokens import token_frequency


def _plan(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def test_hand_computed_spectrum(spark):
    df = spark.createDataFrame(
        [([1, 1, 1, 2, 2, 3],), ([1, 2, None],), ([],)],
        "tokens array<int>")
    got = [(r["token"], r["cnt"], r["rank"])
           for r in token_frequency(df).orderBy("rank").collect()]
    # NULL dropped; ties (none here) would break by token asc
    assert got == [(1, 4, 1), (2, 3, 2), (3, 1, 3)]


def test_tie_break_by_token_id(spark):
    df = spark.createDataFrame([([5, 3, 5, 3],)], "tokens array<int>")
    got = [(r["token"], r["rank"])
           for r in token_frequency(df).orderBy("rank").collect()]
    assert got == [(3, 1), (5, 2)]  # equal counts -> smaller id first


def test_plan_partial_aggregation(spark):
    df = spark.createDataFrame([([1, 2],)], "tokens array<int>")
    plan = _plan(token_frequency(df))
    # partial combine before the exchange: two HashAggregates around it
    assert plan.count("HashAggregate") >= 2
    assert "Exchange" in plan
    assert "EvalPython" not in plan and "InPandas" not in plan
