"""One verdict kernel: every entry point that reports verdicts —
``run().verdicts`` (persisted or not), ``verdict_counts`` over a batch,
``verdict_counts`` over an AvailableNow stream of the same rows, and the
per-partition metrics ``ResumableValidation`` writes into its manifests —
gives the same numbers for every spec shape."""

from __future__ import annotations

import pytest

from go_jsonschema_spark.checkpoint import CheckpointStore, ResumableValidation
from go_jsonschema_spark.engine import ConstraintSuite
from go_jsonschema_spark.spec import TableSpec

_GATE = ("n_rows", "n_fail", "n_pass", "passed")


def _strict(spark):
    from go_jsonschema_spark.sources import synth

    spec = synth.sequences_table_spec()
    row_spec = TableSpec(columns=spec.columns, row_checks=spec.row_checks,
                         draft=spec.draft)
    suite = ConstraintSuite(row_spec, key="doc_id",
                            non_null_elements=("tokens",))
    return suite, synth.sequences(spark, 4000), None


def _tolerant(spark):
    # part a: 3/50 rows fail v.minimum (within a 0.9 budget); b: 30/50
    rows = [(f"d{i}", -1 if (i < 3 or i >= 70) else i,
             "a" if i < 50 else "b") for i in range(100)]
    df = spark.createDataFrame(rows, "doc_id string, v int, part string")
    suite = ConstraintSuite(TableSpec(
        columns={"v": {"type": "integer", "minimum": 0}},
        tolerances={"v.minimum": 0.9}))
    return suite, df, None


def _scoped(spark):
    # v is only judged where kind = 'x'; NULL kind is out of scope
    rows = [("a", 9, "x", "p1"), ("b", 9, "y", "p1"), ("c", 9, None, "p1"),
            ("d", None, "x", "p2"), ("e", 2, "x", "p2"), ("f", 7, "x", "p2")]
    df = spark.createDataFrame(
        rows, "doc_id string, v int, kind string, part string")
    suite = ConstraintSuite(TableSpec(columns={
        "v": {"kind": "scoped", "where": "kind = 'x'",
              "schema": {"type": "integer", "maximum": 5}},
        "kind": {"type": "string", "minLength": 1},
    }))
    return suite, df, None


def _folded_fk(spark):
    # p1's only failing row fails the folded foreign key, not a row check;
    # in p2 a NULL v fails v.type and a NULL src fails the foreign key
    rows = [("a", 1, "web", "p1"), ("b", 2, "zzz", "p1"),
            ("c", 4, "web", "p1"), ("d", 9, "web", "p2"),
            ("e", None, "app", "p2"), ("f", 7, None, "p2")]
    df = spark.createDataFrame(
        rows, "doc_id string, v int, src string, part string")
    suite = ConstraintSuite(TableSpec(
        columns={"v": {"type": "integer", "maximum": 5}},
        table_checks=[{"kind": "foreign_key", "id": "fk:src",
                       "column": "src", "dim": "srcs"}]))
    dims = {"srcs": spark.createDataFrame([("web",), ("app",)], "src string")}
    return suite, df, dims


def _null_part(spark):
    # a NULL partition value is a group of its own, with its failures
    rows = [("a", -1, None), ("b", 1, None), ("c", 2, 1), ("d", 3, 1)]
    df = spark.createDataFrame(rows, "doc_id string, x int, part int")
    suite = ConstraintSuite(TableSpec(
        columns={"x": {"type": "integer", "minimum": 0}}))
    return suite, df, None


_CASES = {"strict": _strict, "tolerant": _tolerant, "scoped": _scoped,
          "folded_fk": _folded_fk, "null_part": _null_part}


def _by_part(rows, cols):
    return {str(r["partition"]): {c: r[c] for c in cols} for r in rows}


@pytest.mark.parametrize("case", sorted(_CASES))
def test_entry_points_agree(spark, tmp_path, case):
    suite, df, dims = _CASES[case](spark)
    src = str(tmp_path / "src")
    df.write.parquet(src)
    batch = spark.read.parquet(src)
    cols = _GATE + ("fail_by_constraint",)

    want = _by_part(suite.run(batch, partition_col="part", dims=dims)
                    .verdicts.collect(), cols)
    got_vc = _by_part(
        suite.verdict_counts(batch, partition_col="part").collect(), cols)
    persisted = suite.run(batch, partition_col="part", dims=dims,
                          persist_violations=True)
    got_persisted = _by_part(persisted.verdicts.collect(), cols)
    persisted.row_violations.unpersist()

    stream = spark.readStream.schema(batch.schema).parquet(src)
    qname = f"verdict_kernel_{case}"
    q = (suite.verdict_counts(stream, partition_col="part")
         .writeStream.format("memory").queryName(qname)
         .outputMode("complete").trigger(availableNow=True).start())
    q.awaitTermination(120)
    got_stream = _by_part(spark.table(qname).collect(), cols)

    store = CheckpointStore(str(tmp_path / "ck"))
    ResumableValidation(suite, store, partition_col="part").run(
        batch, "matrix", str(tmp_path / "out"), dims=dims)
    got_rv = {p: {c: m[c] for c in _GATE}
              for b, man in store.completed("matrix").items()
              if b != "global" for p, m in man["metrics"].items()}

    assert any(v["n_fail"] for v in want.values()), "case must fail rows"
    assert got_vc == want
    assert got_persisted == want
    assert got_stream == want
    assert got_rv == {p: {c: v[c] for c in _GATE} for p, v in want.items()}
    if case == "tolerant":
        assert {p: v["passed"] for p, v in want.items()} == {
            "a": True, "b": False}
    if case == "null_part":
        assert want["None"] == {"n_rows": 2, "n_fail": 1, "n_pass": 1,
                                "passed": False,
                                "fail_by_constraint": {"x.minimum": 1,
                                                       "x.type": 0}}
    if case == "folded_fk":
        assert want["p1"] == {"n_rows": 3, "n_fail": 0, "n_pass": 3,
                              "passed": True, "fail_by_constraint": None}


def test_key_named_vc_runs_then_counts(spark):
    """The kernel memo key is structural: a key column named ``vc`` (a
    plausible memo tag) must not break verdict_counts after run()."""
    df = spark.createDataFrame(
        [("a", 1, "p"), ("b", -1, "p"), ("c", 2, "q")],
        "vc string, v int, part string")
    suite = ConstraintSuite(
        TableSpec(columns={"v": {"type": "integer", "minimum": 0}}), key="vc")
    cols = _GATE + ("fail_by_constraint",)
    ran = _by_part(suite.run(df, partition_col="part").verdicts.collect(),
                   cols)
    counted = _by_part(
        suite.verdict_counts(df, partition_col="part").collect(), cols)
    assert ran == counted
    assert ran["p"]["fail_by_constraint"] == {"v.minimum": 1, "v.type": 0}
