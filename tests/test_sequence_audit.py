"""tokens.sequence_audit — run-length / distinct-ratio / boundary
sanity signals over token arrays, hand-computed cases + plan shape."""

from __future__ import annotations

import contextlib
import io

from pyspark.sql import functions as F

from go_jsonschema_spark.operators.tokens import sequence_audit


def _plan(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def _df(spark):
    return spark.createDataFrame(
        [("a", [1, 2, 2, 2, 3, 3]), ("b", [5]), ("c", []), ("d", None),
         ("e", [7, 7, 7, 7]), ("f", [1, 2, 1, 2, 1, 2])],
        "doc_id string, tokens array<int>")


def test_hand_computed(spark):
    got = {r["doc_id"]: r for r in
           sequence_audit(_df(spark), bos_id=1, eos_id=3).collect()}
    # (n_tok, max_run, n_distinct, distinct_ratio, bos_ok, eos_ok)
    exp = {
        "a": (6, 3, 3, 0.5, True, True),
        "b": (1, 1, 1, 1.0, False, False),
        "c": (0, 0, 0, None, False, False),
        "d": (0, 0, 0, None, False, False),
        "e": (4, 4, 1, 0.25, False, False),
        "f": (6, 1, 2, 0.333333, True, False),
    }
    for k, (n, mr, nd, dr, bos, eos) in exp.items():
        r = got[k]
        assert (r["n_tok_audit"], r["max_run"], r["n_distinct"]) == (n, mr, nd), k
        assert r["distinct_ratio"] == dr, k
        assert (r["bos_ok"], r["eos_ok"]) == (bos, eos), k


def test_interleaved_token_reappearance_not_a_run(spark):
    # token 9 appears three times but never adjacently twice-in-a-row
    # beyond one pair — gaps-and-islands, not global counting
    df = spark.createDataFrame([("x", [9, 1, 9, 9, 1, 9])],
                               "doc_id string, tokens array<int>")
    assert sequence_audit(df, bos_id=0, eos_id=0).first()["max_run"] == 2


def test_flags_always_emitted(spark):
    cols = sequence_audit(_df(spark), bos_id=0, eos_id=0).columns
    assert cols[-2:] == ["bos_ok", "eos_ok"]


def test_plan_no_shuffle_no_python(spark):
    plan = _plan(sequence_audit(_df(spark), bos_id=0, eos_id=0))
    assert "Exchange" not in plan
    assert "Generate" not in plan  # no explode of the token stream
    # createDataFrame's RDD scan mentions "PythonRDD" — assert no Python
    # EVAL nodes specifically
    assert "EvalPython" not in plan and "InPandas" not in plan


def test_null_run_counts(spark):
    # pathological: consecutive NULL tokens form a run (eqNullSafe)
    df = spark.createDataFrame([("x", [None, None, None, 1])],
                               "doc_id string, tokens array<int>")
    assert sequence_audit(df, bos_id=0, eos_id=0).first()["max_run"] == 3
