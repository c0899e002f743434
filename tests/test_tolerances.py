"""spec.tolerances — Great-Expectations-style ``mostly`` pass-fraction
floors on the verdict gate.

Tolerance is a GATE concept: violation rows and quarantine routing are
unchanged (every failing row still surfaces); only the per-partition
``passed`` verdict allows a declared failure budget per constraint.  The
pass rule is exact integer arithmetic (Fraction), so knife-edge
fractions like 0.9 of 1000 rows behave as decimal math says, not binary
floats.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from go_jsonschema_spark.engine import ConstraintSuite
from go_jsonschema_spark.spec import SpecError, TableSpec


def _df(spark):
    # part a: 3/50 rows fail v.minimum (6%); part b: 30/50 (60%)
    rows = []
    for i in range(100):
        part = "a" if i < 50 else "b"
        bad = (part == "a" and i < 3) or (part == "b" and i >= 70)
        rows.append((f"d{i}", -1 if bad else i, part))
    return spark.createDataFrame(rows, "doc_id string, v int, part string")


def _spec(**tol):
    return TableSpec(columns={"v": {"type": "integer", "minimum": 0}},
                     tolerances=tol or {})


def test_tolerant_verdict_gate(spark):
    res = ConstraintSuite(_spec(**{"v.minimum": 0.9})).run(
        _df(spark), partition_col="part")
    got = {r["partition"]: r for r in res.verdicts.collect()}
    # a: 47/50 = 94% >= 90% -> passes despite n_fail > 0
    assert got["a"]["passed"] is True and got["a"]["n_fail"] == 3
    # b: 20/50 = 40% < 90% -> fails
    assert got["b"]["passed"] is False and got["b"]["n_fail"] == 30


def test_strict_without_tolerances_unchanged(spark):
    res = ConstraintSuite(_spec()).run(_df(spark), partition_col="part")
    assert all(not r["passed"] for r in res.verdicts.collect())


def test_violation_rows_not_suppressed(spark):
    # tolerance gates the verdict only — all 33 failing rows still surface
    res = ConstraintSuite(_spec(**{"v.minimum": 0.9})).run(
        _df(spark), partition_col="part")
    assert res.violations.filter(
        F.col("constraint_id") == "v.minimum").count() == 33


def test_exact_boundary_integer_rule(spark):
    # 1000 rows, exactly 100 failures: pass fraction == 0.9 exactly ->
    # mostly=0.9 PASSES (>=), while any float-rounded 0.9*1000 slightly
    # above 900 would flip it; mostly above 0.9 fails
    rows = [(f"d{i}", -1 if i < 100 else 1) for i in range(1000)]
    df = spark.createDataFrame(rows, "doc_id string, v int")
    ok = ConstraintSuite(_spec(**{"v.minimum": 0.9})).run(df)
    assert ok.verdicts.first()["passed"] is True
    bad = ConstraintSuite(_spec(**{"v.minimum": 0.901})).run(df)
    assert bad.verdicts.first()["passed"] is False


def test_untolerated_constraint_stays_strict(spark):
    # doc_id.minLength strict + v.minimum tolerated: one empty doc_id
    # fails the partition even though v is within budget
    rows = [("" if i == 0 else f"d{i}", 1, "a") for i in range(50)]
    df = spark.createDataFrame(rows, "doc_id string, v int, part string")
    ts = TableSpec(
        columns={"doc_id": {"type": "string", "minLength": 1},
                 "v": {"type": "integer", "minimum": 0}},
        tolerances={"v.minimum": 0.5},
    )
    res = ConstraintSuite(ts).run(df, partition_col="part")
    assert res.verdicts.first()["passed"] is False


def test_unknown_tolerance_id_raises(spark):
    suite = ConstraintSuite(_spec(**{"nope": 0.5}))
    with pytest.raises(KeyError, match="unknown row-constraint ids"):
        suite.run(_df(spark))
    with pytest.raises(KeyError, match="unknown row-constraint ids"):
        suite.verdict_counts(_df(spark))


def test_bad_fraction_rejected():
    for v in (0, -0.1, 1.5, "x"):
        with pytest.raises(SpecError, match="fraction in \\(0, 1\\]"):
            TableSpec(columns={}, tolerances={"c": v})


def test_tolerances_roundtrip_json():
    ts = _spec(**{"v.minimum": 0.99})
    again = TableSpec.from_json(ts.to_json())
    assert again.tolerances == {"v.minimum": 0.99}
    # and row_only() carries them into the checkpoint layer's suite
    assert ConstraintSuite(ts).row_only().spec.tolerances == ts.tolerances


def test_mostly_denominator_capped():
    # 7+ decimal places would overflow BIGINT den*n_rows at 1e12 rows
    with pytest.raises(SpecError, match="6 decimal places"):
        TableSpec(columns={}, tolerances={"c": 0.1234567})
    TableSpec(columns={}, tolerances={"c": 0.123456})  # 6 is fine


def test_integer_rule_property_matches_rational_comparison():
    # the engine's gate is (n-f)*den >= num*n; property-check it against
    # exact rational arithmetic over a deterministic sweep of knife edges
    from fractions import Fraction

    mostlies = [0.9, 0.99, 0.999, 0.5, 0.123456, 0.875, 1.0]
    for m in mostlies:
        fr = Fraction(str(m))
        for n in (1, 2, 3, 10, 1000, 10**6, 10**12):
            for f in {0, 1, n // 1000, n // 100, n // 10, n - 1, n,
                      max(0, int(n * (1 - m))),
                      max(0, int(n * (1 - m)) - 1),
                      min(n, int(n * (1 - m)) + 1)}:
                if f > n:
                    continue
                gate = (n - f) * fr.denominator >= fr.numerator * n
                truth = Fraction(n - f, n) >= fr
                assert gate == truth, (m, n, f)
                # and BIGINT safety at the documented ceiling
                assert (n - f) * fr.denominator < 2**63
                assert fr.numerator * n < 2**63
