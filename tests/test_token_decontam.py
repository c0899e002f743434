"""tokens.token_ngram_contamination — token-ID-level n-gram
decontamination: hand cases, bounds, plan shape."""

from __future__ import annotations

import contextlib
import io

import pytest
from pyspark.sql import functions as F

from go_jsonschema_spark.operators.tokens import token_ngram_contamination


def _plan(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def _corpus(spark):
    return spark.createDataFrame(
        [("a", [1, 2, 3, 4, 5, 6]),     # contains probe window [2,3,4]
         ("b", [9, 9, 9, 9]),           # no probe window
         ("c", [2, 3, 4]),              # exactly one window, a hit
         ("d", [2, 3]),                 # shorter than n -> 0 windows
         ("e", [4, 3, 2, 3, 4, 2, 3, 4])],  # window [2,3,4] twice -> 1 DISTINCT hit
        "doc_id string, tokens array<int>")


def _probes(spark):
    return spark.createDataFrame([([2, 3, 4, 9],)], "tokens array<int>")


def test_hand_computed_string_form(spark):
    out = {r["doc_id"]: r for r in token_ngram_contamination(
        _corpus(spark), _probes(spark), n=3).collect()}
    # probe windows: [2,3,4] and [3,4,9]
    assert (out["a"]["n_windows"], out["a"]["n_hits"]) == (4, 1)
    assert out["b"]["n_hits"] == 0 and not out["b"]["contaminated"]
    assert (out["c"]["n_windows"], out["c"]["n_hits"]) == (1, 1)
    assert (out["d"]["n_windows"], out["d"]["n_hits"]) == (0, 0)
    # duplicate window in one doc counts once (DISTINCT probe windows)
    assert (out["e"]["n_hits"], out["e"]["contaminated"]) == (1, True)


def test_empty_probe_set(spark):
    empty = _probes(spark).filter(F.lit(False))
    out = token_ngram_contamination(_corpus(spark), empty, n=3)
    assert out.filter("contaminated").count() == 0


def test_probe_bound_raises(spark):
    with pytest.raises(ValueError, match="probe set yields"):
        token_ngram_contamination(
            _corpus(spark), _probes(spark), n=3, max_probe_windows=1)


def test_corpus_plan_no_explode_no_shuffle(spark):
    plan = _plan(token_ngram_contamination(
        _corpus(spark), _probes(spark), n=3))
    assert "Exchange" not in plan
    assert "Generate" not in plan  # the corpus never explodes
    assert "EvalPython" not in plan and "InPandas" not in plan
