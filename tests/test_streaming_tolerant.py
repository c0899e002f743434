"""windowed_verdicts — the batch tolerant/strict gate rule carried into
the streaming windowed aggregation (one pass)."""

from __future__ import annotations

from pyspark.sql import functions as F

from go_jsonschema_spark.engine import ConstraintSuite
from go_jsonschema_spark.spec import TableSpec
from go_jsonschema_spark.streaming.validate import windowed_verdicts


def _run(spark, tmp_path, suite, name):
    events = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    src = str(tmp_path / f"src_{name}")
    events.write.mode("overwrite").parquet(src)
    stream = spark.readStream.schema(events.schema).parquet(src)
    verd = windowed_verdicts(suite, stream, ts_col="ts", window="1 hour")
    q = (verd.writeStream.format("memory").queryName(name)
         .outputMode("complete").trigger(availableNow=True).start())
    q.awaitTermination(120)
    return spark.sql(f"SELECT * FROM {name}")


def test_strict_passed_matches_counts(spark, tmp_path):
    suite = ConstraintSuite(TableSpec(
        columns={"value": {"type": "number", "maximum": 100}}),
        key="event_id")
    out = _run(spark, tmp_path, suite, "tol_strict")
    assert out.columns == ["window", "n_rows", "n_fail",
                           "fail_by_constraint", "n_pass", "passed"]
    rows = out.collect()
    assert rows and all((r["n_fail"] == 0) == r["passed"] for r in rows)
    assert any(not r["passed"] for r in rows)  # >100 values exist in events


def test_tolerant_passed_uses_budget(spark, tmp_path):
    # generous budget: windows with a small failure fraction now pass
    suite = ConstraintSuite(TableSpec(
        columns={"value": {"type": "number", "maximum": 100}},
        tolerances={"value.maximum": 0.5}),
        key="event_id")
    out = _run(spark, tmp_path, suite, "tol_budget")
    rows = out.collect()
    for r in rows:
        want = (r["n_rows"] - r["n_fail"]) * 2 >= r["n_rows"]  # 0.5 = 1/2
        assert r["passed"] == want
    # the budget must flip at least one failing window vs strict
    assert any(r["n_fail"] > 0 and r["passed"] for r in rows)
