"""Verdict-kernel caching: the kernel's derived Columns are memoized on
the cached ConstraintPlan keyed by ("kernel", key, tolerances).  Two
suites whose specs differ ONLY in fields outside the plan fingerprint
(tolerances, key) share one cached plan — these tests pin that the
kernel memo cannot leak verdict gates or doc_id columns across them,
and that repeated run() calls reuse the kernel without changing results.
"""

from __future__ import annotations

from pyspark.sql import functions as F


def _spec(tolerances=()):
    from go_jsonschema_spark.spec import TableSpec

    return TableSpec(
        columns={"v": {"type": "integer", "minimum": 0}},
        row_checks=[{"id": "pos", "expr": "v < 100", "observed": "v"}],
        tolerances=dict(tolerances),
    )


def _df(spark):
    return spark.createDataFrame(
        [("a", 1, "p1"), ("b", -1, "p1"), ("c", 2, "p2"),
         ("d", 500, "p2"), ("e", 3, "p2")],
        "doc_id string, v int, part string",
    )


def test_tolerances_do_not_leak_through_shared_plan(spark):
    from go_jsonschema_spark.engine import ConstraintSuite

    df = _df(spark)
    strict = ConstraintSuite(_spec(), key="doc_id")
    # p1 has 1/2 rows failing v.minimum; a 0.5 budget tolerates it
    tolerant = ConstraintSuite(
        _spec(tolerances={"v.minimum": 0.5, "pos": 0.5}), key="doc_id")
    # same plan fingerprint (tolerances are outside it) → shared cache
    assert strict._plan_key(df) == tolerant._plan_key(df)

    sv = {r["partition"]: r["passed"]
          for r in strict.run(df, partition_col="part").verdicts.collect()}
    tv = {r["partition"]: r["passed"]
          for r in tolerant.run(df, partition_col="part").verdicts.collect()}
    assert sv == {"p1": False, "p2": False}
    assert tv == {"p1": True, "p2": True}
    # and again in the opposite order (cache warm both ways)
    tv2 = {r["partition"]: r["passed"]
           for r in tolerant.run(df, partition_col="part").verdicts.collect()}
    sv2 = {r["partition"]: r["passed"]
           for r in strict.run(df, partition_col="part").verdicts.collect()}
    assert (sv2, tv2) == (sv, tv)


def test_key_and_partition_col_variants_share_plan_not_fragments(spark):
    from go_jsonschema_spark.engine import ConstraintSuite

    df = _df(spark).withColumn("alt_id", F.concat(F.lit("k:"), "doc_id"))
    by_doc = ConstraintSuite(_spec(), key="doc_id")
    by_alt = ConstraintSuite(_spec(), key="alt_id")

    v1 = sorted(r["doc_id"] for r in by_doc.run(df).violations.collect())
    v2 = sorted(r["doc_id"] for r in by_alt.run(df).violations.collect())
    assert v1 == ["b", "d"]
    assert v2 == ["k:b", "k:d"]

    # whole-table vs per-partition verdicts from the same suite instance
    whole = by_doc.run(df).verdicts.collect()
    per = by_doc.run(df, partition_col="part").verdicts.collect()
    assert [r["partition"] for r in whole] == ["__all__"]
    assert sorted(r["partition"] for r in per) == ["p1", "p2"]


def test_repeated_runs_hit_fragment_memo_with_identical_results(spark):
    from go_jsonschema_spark import engine as eng
    from go_jsonschema_spark.engine import ConstraintSuite

    df = _df(spark)
    suite = ConstraintSuite(_spec(), key="doc_id")
    r1 = suite.run(df, partition_col="part")
    plan = suite.compile(df)
    dk = ("kernel", "doc_id", ())  # ("kernel", key, tolerances)
    frag = plan.derived[dk]  # kernel memoized on first run
    assert isinstance(frag, eng.VerdictKernel)
    # verdict_counts and a whole-table run() reuse the same kernel
    memo = list(plan.derived)
    suite.verdict_counts(df, partition_col="part")
    suite.run(df)
    assert list(plan.derived) == memo and plan.derived[dk] is frag

    # a fresh suite with identical content reuses plan AND kernel
    suite2 = ConstraintSuite(_spec(), key="doc_id")
    r2 = suite2.run(df, partition_col="part")
    assert suite2.compile(df) is plan
    assert plan.derived[dk] is frag

    got1 = sorted(map(tuple, r1.violations.collect()))
    got2 = sorted(map(tuple, r2.violations.collect()))
    assert got1 == got2 == [("b", "v.minimum", "-1"), ("d", "pos", "500")]
