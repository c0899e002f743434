"""Engine table checks inside run().

1. Every foreign_key check is a membership flag computed in the
   row-predicate pass (a left join against the distinct dim keys, no
   anti-join job, whatever the dim size); its violation rows equal
   referential_violations, verdict fail counts still EXCLUDE fk
   failures, and split() quarantines fk failures.
2. duplicate_keys(hash_compact=True) shuffles 8-byte key hashes and
   exactly reproduces the plain aggregation's output.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from go_jsonschema_spark import ConstraintSuite, TableSpec


def _dim(spark):
    return spark.createDataFrame([("a",), ("b",), ("c",)], "src string")


def _suite():
    return ConstraintSuite(
        TableSpec(
            columns={"v": {"type": "integer", "minimum": 0}},
            table_checks=[{"kind": "foreign_key", "id": "fk:src",
                           "column": "src", "dim": "srcdim"}],
        ),
        key="doc_id",
    )


def _facts(spark):
    return spark.createDataFrame(
        [("d1", 1, "a"), ("d2", -5, "b"), ("d3", 2, "zz"),
         ("d4", -1, "zz"), ("d5", 3, None)],
        "doc_id string, v long, src string",
    )


def test_folded_fk_matches_anti_join_violations(spark):
    suite = _suite()
    res = suite.run(_facts(spark), dims={"srcdim": _dim(spark)})
    got = {(r["doc_id"], r["constraint_id"], r["observed"])
           for r in res.violations.collect()}
    # anti-join reference: d3, d4 have unknown src; d5 has NULL src
    assert ("d3", "fk:src", "zz") in got
    assert ("d4", "fk:src", "zz") in got
    assert ("d5", "fk:src", None) in got
    # row-constraint violations still present
    assert any(d == "d2" and c == "v.minimum" for d, c, _ in got), got
    # the plan contains NO anti-join: the fk check rode the predicate scan
    plan = res.violations._jdf.queryExecution().executedPlan().toString()
    assert "LeftAnti" not in plan


def test_folded_fk_stays_out_of_verdicts(spark):
    suite = _suite()
    res = suite.run(_facts(spark), dims={"srcdim": _dim(spark)})
    v = res.verdicts.collect()[0]
    # d2 and d4 fail the row constraint; d3/d5's fk-only failures do NOT
    # count toward n_fail (table-check semantics preserved)
    assert v["n_rows"] == 5 and v["n_fail"] == 2 and v["n_pass"] == 3
    assert v["fail_by_constraint"]["v.minimum"] == 2
    assert "fk:src" not in v["fail_by_constraint"]


def test_large_dim_matches_anti_join_and_quarantines(spark):
    """A dim of 10,001 distinct values plus a NULL takes the same in-plan
    flag as a small one: its fk rows equal referential_violations and
    split() quarantines the unknown-key and NULL-key rows."""
    from go_jsonschema_spark.operators.referential import (
        referential_violations,
    )

    dim = spark.range(9_999).select(
        F.concat(F.lit("k"), F.col("id").cast("string")).alias("src")
    ).union(spark.createDataFrame([("a",), ("b",), (None,)], "src string"))
    assert dim.dropna().distinct().count() == 10_001
    facts = _facts(spark)
    res = _suite().run(facts, dims={"srcdim": dim})
    got = sorted(map(tuple, res.violations.filter(
        F.col("constraint_id") == "fk:src").collect()), key=str)
    want = sorted(map(tuple, referential_violations(
        facts, "src", dim, constraint_id="fk:src").collect()), key=str)
    assert got == want
    assert [d for d, _, _ in got] == ["d3", "d4", "d5"]
    clean, bad = res.split()
    assert {r["doc_id"] for r in clean.collect()} == {"d1"}
    assert {r["doc_id"] for r in bad.collect()} == {"d2", "d3", "d4", "d5"}
    plan = res.violations._jdf.queryExecution().executedPlan().toString()
    assert "LeftAnti" not in plan


def test_missing_dim_still_raises(spark):
    import pytest

    with pytest.raises(KeyError, match="srcdim"):
        _suite().run(_facts(spark))


def test_hash_compact_duplicate_keys_exact(spark):
    from go_jsonschema_spark.operators.uniqueness import duplicate_keys

    rows = [(f"k{i % 70}",) for i in range(200)] + [("solo",)]
    df = spark.createDataFrame(rows, "k string")
    plain = {(r["key"], r["n_dup"]) for r in
             duplicate_keys(df, "k").collect()}
    compact = {(r["key"], r["n_dup"]) for r in
               duplicate_keys(df, "k", hash_compact=True).collect()}
    assert plain == compact and len(plain) == 70  # keys x3 and x2, all dup

    # composite keys hash as a struct and round-trip identically
    cdf = spark.createDataFrame(
        [(1, "x"), (1, "x"), (1, "y"), (2, "x")], "a long, b string")
    p2 = {(r["key"]["a"], r["key"]["b"], r["n_dup"]) for r in
          duplicate_keys(cdf, ["a", "b"]).collect()}
    c2 = {(r["key"]["a"], r["key"]["b"], r["n_dup"]) for r in
          duplicate_keys(cdf, ["a", "b"], hash_compact=True).collect()}
    assert p2 == c2 == {(1, "x", 2)}


def test_run_unique_rows_match_both_operator_paths(spark):
    """run()'s unique:* rows equal uniqueness_violations on the plain and
    the hash-compact path: hot key, pairwise duplicates, two NULL keys,
    and a composite key with a NULL member (today's NULL-key output)."""
    from go_jsonschema_spark.operators.uniqueness import (
        uniqueness_violations,
    )

    rows = ([("hot", 1, "x")] * 9 + [("p1", 2, "y")] * 2
            + [("p2", 3, None)] * 2 + [(None, 4, "z")] * 2
            + [("solo", 5, "w")])
    df = spark.createDataFrame(rows, "k string, a long, b string")
    cases = [
        ("k", {"hot": "count=9", "p1": "count=2", "p2": "count=2",
               None: "count=2"}),
        (["a", "b"], {'{"a":1,"b":"x"}': "count=9",
                      '{"a":2,"b":"y"}': "count=2",
                      '{"a":3}': "count=2",  # NULL member: to_json drops it
                      '{"a":4,"b":"z"}': "count=2"}),
    ]
    for key, want in cases:
        cols = key if isinstance(key, list) else [key]
        cid = "unique:" + "+".join(cols)
        suite = ConstraintSuite(TableSpec(table_checks=[
            {"kind": "unique", "id": cid, "columns": cols}]), key="k")
        got = sorted(map(tuple, suite.run(df).violations.collect()), key=str)
        assert {d: o for d, c, o in got if c == cid} == want, key
        assert all(c == cid for _, c, _ in got)
        for compact in (False, True):
            op = sorted(map(tuple, uniqueness_violations(
                df, key, constraint_id=cid, hash_compact=compact,
            ).collect()), key=str)
            assert got == op, (key, compact)


# ------------------------------------------------------ quarantine split
def test_split_routes_rows_one_plan(spark):
    from go_jsonschema_spark import ConstraintSuite, TableSpec

    df = spark.createDataFrame(
        [(1, 5, "ok"), (2, -1, "ok"), (3, 7, "bad_src"), (4, 9, "ok")],
        ["doc_id", "v", "src"])
    dim = spark.createDataFrame([("ok",)], ["src"])
    ts = TableSpec(
        columns={"v": {"type": "integer", "minimum": 0}},
        table_checks=[{"kind": "foreign_key", "id": "fk:src",
                       "column": "src", "dim": "d"}])
    res = ConstraintSuite(ts, key="doc_id").run(df, dims={"d": dim})
    clean, bad = res.split(include_reasons=True)
    assert {r["doc_id"] for r in clean.collect()} == {1, 4}
    got = {r["doc_id"]: sorted(r["__reasons__"]) for r in bad.collect()}
    assert got[2] == ["v.minimum"] or got[2] == ["v.minimum", "v.type"] \
        or any("v." in x for x in got[2])
    assert "fk:src" in got[3]
    # internal predicate columns leak into neither side
    for frame in (clean, bad):
        assert not [c for c in frame.columns if c.startswith("__c")]
        assert "__pass__" not in frame.columns


def test_split_without_fk_quarantine(spark):
    from go_jsonschema_spark import ConstraintSuite, TableSpec

    df = spark.createDataFrame(
        [(1, 5, "ok"), (2, 5, "nope")], ["doc_id", "v", "src"])
    dim = spark.createDataFrame([("ok",)], ["src"])
    ts = TableSpec(
        columns={"v": {"minimum": 0}},
        table_checks=[{"kind": "foreign_key", "id": "fk:src",
                       "column": "src", "dim": "d"}])
    res = ConstraintSuite(ts, key="doc_id").run(df, dims={"d": dim})
    clean, bad = res.split(quarantine_fk=False)
    assert clean.count() == 2 and bad.count() == 0


# ----------------------------------------------- counts-only fast path
def test_verdict_counts_plan_has_no_violation_branch(spark):
    from go_jsonschema_spark import ConstraintSuite, TableSpec

    df = spark.createDataFrame(
        [(i, i % 7, f"p{i % 3}") for i in range(100)],
        ["doc_id", "v", "part"])
    ts = TableSpec(columns={"v": {"type": "integer", "maximum": 5}})
    suite = ConstraintSuite(ts, key="doc_id")
    plan = suite.verdict_counts(
        df, partition_col="part")._jdf.queryExecution().executedPlan().toString()
    # one aggregation, no Filter/Generate (explode) stages
    assert "Generate" not in plan and "Filter" not in plan
    assert plan.count("HashAggregate") <= 4  # partial+final (+AQE variants)


def test_verdict_counts_no_constraints(spark):
    from go_jsonschema_spark import ConstraintSuite, TableSpec

    df = spark.createDataFrame([(1, "a")], ["doc_id", "s"])
    out = ConstraintSuite(TableSpec(), key="doc_id").verdict_counts(df)
    r = out.collect()[0]
    assert r["n_rows"] == 1 and r["n_fail"] == 0 and r["passed"]
    assert r["fail_by_constraint"] is None
