"""Round-2 regression tests: standalone rider keywords, composite unique
keys, checkpoint membership-keyed resume, $ref runtime recursion bound,
asof single-row payload semantics, and the top-k plan property."""

from __future__ import annotations

import contextlib
import io

import pytest
from pyspark.sql import Row, functions as F

from go_jsonschema_spark.engine import ConstraintSuite
from go_jsonschema_spark.spec import TableSpec


def _plan(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


# ---------------------------------------------------------------------------
# standalone rider keywords (ADVICE: previously compiled to ZERO predicates)
# ---------------------------------------------------------------------------

def test_standalone_required_on_map(spark):
    df = spark.createDataFrame(
        [("1", {"a": "x"}), ("2", {"b": "y"})], "doc_id string, m map<string,string>"
    )
    suite = ConstraintSuite(
        TableSpec(columns={"m": {"required": ["a"]}}), key="doc_id"
    )
    res = suite.run(df)
    assert res.constraint_ids == ["m.required"]
    got = {r["doc_id"] for r in res.violations.collect()}
    assert got == {"2"}


def test_standalone_exclusive_bounds_numeric(spark):
    df = spark.createDataFrame(
        [("1", 5), ("2", 10), ("3", 15)], "doc_id string, v int"
    )
    suite = ConstraintSuite(
        TableSpec(columns={"v": {"exclusiveMaximum": 10}}), key="doc_id"
    )
    res = suite.run(df)
    assert res.constraint_ids == ["v.exclusiveMaximum"]
    assert {r["doc_id"] for r in res.violations.collect()} == {"2", "3"}

    suite = ConstraintSuite(
        TableSpec(columns={"v": {"exclusiveMinimum": 10}}), key="doc_id"
    )
    res = suite.run(df)
    assert {r["doc_id"] for r in res.violations.collect()} == {"1", "2"}


def test_standalone_additional_and_pattern_properties(spark):
    df = spark.createDataFrame(
        [("1", {"ok_a": "x"}), ("2", {"bad!": "y"})],
        "doc_id string, m map<string,string>",
    )
    # additionalProperties: false alone → every property is "additional"
    suite = ConstraintSuite(
        TableSpec(columns={"m": {"additionalProperties": False}}), key="doc_id"
    )
    res = suite.run(df)
    assert len(res.constraint_ids) == 1
    assert {r["doc_id"] for r in res.violations.collect()} == {"1", "2"}
    # patternProperties alone (+ additionalProperties rider)
    suite = ConstraintSuite(
        TableSpec(
            columns={
                "m": {
                    "patternProperties": {"^ok_": {"minLength": 1}},
                    "additionalProperties": False,
                }
            }
        ),
        key="doc_id",
    )
    res = suite.run(df)
    assert res.constraint_ids == ["m.patternProperties"]
    assert {r["doc_id"] for r in res.violations.collect()} == {"2"}


def test_draft4_boolean_exclusive_flag_without_bound_is_noop(spark):
    df = spark.createDataFrame([("1", 5)], "doc_id string, v int")
    suite = ConstraintSuite(
        TableSpec(columns={"v": {"exclusiveMaximum": True}}, draft=4),
        key="doc_id",
    )
    res = suite.run(df)
    assert res.constraint_ids == []
    assert res.violations.count() == 0


# ---------------------------------------------------------------------------
# composite unique keys
# ---------------------------------------------------------------------------

def test_composite_unique_key(spark):
    df = spark.createDataFrame(
        [
            ("1", "a", 1),  # unique composite, dup on first col
            ("2", "a", 2),
            ("3", "b", 3),  # true composite duplicate (b,3) × 2
            ("4", "b", 3),
        ],
        "doc_id string, k1 string, k2 int",
    )
    suite = ConstraintSuite(
        TableSpec(
            table_checks=[
                {"kind": "unique", "id": "unique:k1k2", "columns": ["k1", "k2"]}
            ]
        ),
        key="doc_id",
    )
    v = suite.table_check_violations(df).collect()
    assert len(v) == 1
    assert v[0]["constraint_id"] == "unique:k1k2"
    assert '"b"' in v[0]["doc_id"] and "3" in v[0]["doc_id"]
    assert v[0]["observed"] == "count=2"


# ---------------------------------------------------------------------------
# $ref runtime recursion bound in the closure-compiled validator
# ---------------------------------------------------------------------------

def test_compiled_ref_cycle_bounded():
    from go_jsonschema_spark.interp import validate_instance
    from go_jsonschema_spark.interp_compile import compile_validator

    for schema in ({"$ref": "#"}, {"allOf": [{"$ref": "#"}]}):
        v = compile_validator(schema)
        # value never shrinks → pure cycle; must fail gracefully (reference
        # circularThreshold), not crash the UDF worker with RecursionError
        assert v(1) is False
        assert validate_instance(schema, 1).valid is False


def test_compiled_ref_cycle_that_shrinks_value_still_works():
    from go_jsonschema_spark.interp_compile import compile_validator

    # classic linked-list: recursion consumes the value, never hits bound
    schema = {
        "properties": {"next": {"$ref": "#"}, "v": {"type": "integer"}}
    }
    v = compile_validator(schema)
    node = {"v": 0}
    for i in range(1, 50):
        node = {"v": i, "next": node}
    assert v(node) is True
    node["v"] = "nope"
    assert v(node) is False


# ---------------------------------------------------------------------------
# asof: payload columns must come from the SAME most-recent right row
# ---------------------------------------------------------------------------

def test_asof_null_payload_not_skipped(spark):
    from go_jsonschema_spark.operators.asof import asof_join

    left = spark.createDataFrame([("u", 10)], "user string, ts int")
    right = spark.createDataFrame(
        [Row(user="u", ts=5, a=1, b="x"), Row(user="u", ts=8, a=None, b="y")],
        "user string, ts int, a int, b string",
    )
    out = asof_join(left, right, key="user", ts="ts", payload=["a", "b"]).collect()
    assert len(out) == 1
    # most recent right row (ts=8) carries a=NULL — it must NOT be replaced
    # by the stale ts=5 value, and a/b must come from the same row
    assert out[0]["a_asof"] is None
    assert out[0]["b_asof"] == "y"


def test_asof_no_prior_right_row_gives_nulls(spark):
    from go_jsonschema_spark.operators.asof import asof_join

    left = spark.createDataFrame([("u", 3)], "user string, ts int")
    right = spark.createDataFrame(
        [Row(user="u", ts=5, a=1)], "user string, ts int, a int"
    )
    out = asof_join(left, right, key="user", ts="ts", payload=["a"]).collect()
    assert out[0]["a_asof"] is None


# ---------------------------------------------------------------------------
# checkpoint: membership-keyed batch skip + path-hostile partition values
# ---------------------------------------------------------------------------

def test_checkpoint_reruns_batch_when_partition_set_changes(spark, tmp_path):
    from go_jsonschema_spark.checkpoint import CheckpointStore, ResumableValidation

    store = CheckpointStore(str(tmp_path / "ck"))
    suite = ConstraintSuite(
        TableSpec(columns={"v": {"minimum": 0}}), key="doc_id"
    )
    rv = ResumableValidation(suite, store, partition_col="part", batch_size=2)

    df1 = spark.createDataFrame(
        [("1", 1, "a"), ("2", -1, "b")], "doc_id string, v int, part string"
    )
    rep1 = rv.run(df1, "run1", str(tmp_path / "out1"))
    assert rep1.batches_run == 1 and rep1.batches_skipped == 0

    # same endpoints (a..b) but a NEW partition value lands inside the range
    df2 = spark.createDataFrame(
        [("1", 1, "a"), ("2", -1, "b"), ("3", -5, "a2")],
        "doc_id string, v int, part string",
    )
    rep2 = rv.run(df2, "run1", str(tmp_path / "out2"))
    # membership hash differs → nothing silently skipped, new partition seen
    assert "a2" in rep2.partitions
    assert rep2.partitions["a2"]["n_fail"] == 1

    # identical rerun → all batches skip
    rep3 = rv.run(df2, "run1", str(tmp_path / "out3"))
    assert rep3.batches_run == 0
    assert rep3.batches_skipped == rep2.batches_run + rep2.batches_skipped


def test_checkpoint_partition_values_with_slashes(spark, tmp_path):
    from go_jsonschema_spark.checkpoint import CheckpointStore, ResumableValidation

    store = CheckpointStore(str(tmp_path / "ck"))
    suite = ConstraintSuite(
        TableSpec(columns={"v": {"minimum": 0}}), key="doc_id"
    )
    rv = ResumableValidation(suite, store, partition_col="part", batch_size=4)
    df = spark.createDataFrame(
        [("1", 1, "x/y z"), ("2", -1, "α/β")], "doc_id string, v int, part string"
    )
    rep = rv.run(df, "runS", str(tmp_path / "outS"))
    assert rep.batches_run == 1
    assert rep.partitions["x/y z"]["n_pass"] == 1
    assert rep.partitions["α/β"]["n_fail"] == 1


# ---------------------------------------------------------------------------
# top-k plan property: TakeOrderedAndProject, no full-table single-partition
# window
# ---------------------------------------------------------------------------

# ---------------------------------------------------------------------------
# two-stage language ID (script vote + stopword argmax)
# ---------------------------------------------------------------------------

def test_lang_id_script_and_stopwords(spark):
    from go_jsonschema_spark.functions.text import lang_id

    rows = [
        (1, "the cat sat on the mat and it was good for the day"),
        (2, "el perro de la casa que no se ve por la noche"),
        (3, "der hund ist von dem haus und das ist nicht gut"),
        (4, "le chat est dans les maisons et pour le jour"),
        (5, "这是一个中文句子用来测试语言识别"),
        (6, "これはにほんごのぶんしょうです"),
        (7, "이것은 한국어 문장입니다"),
        (8, "это русское предложение для проверки"),
        (9, "xyzzy qwerty plugh"),
        (10, ""),
    ]
    df = spark.createDataFrame(rows, "doc_id int, text string")
    got = {
        r["doc_id"]: r["lg"]
        for r in df.select("doc_id", lang_id(F.col("text")).alias("lg")).collect()
    }
    assert got[1] == "en" and got[2] == "es" and got[3] == "de"
    assert got[4] == "fr"
    assert got[5] == "zh" and got[6] == "ja" and got[7] == "ko"
    assert got[8] == "ru"
    assert got[9] == "und" and got[10] == "und"


# ---------------------------------------------------------------------------
# degenerate LSH buckets are capped (no quadratic blowup)
# ---------------------------------------------------------------------------

def test_lsh_degenerate_bucket_capped(spark):
    """10k near-identical docs → every band bucket would be quadratic
    (≈5·10⁷ candidate pairs per band); the cap must keep the job bounded.
    Members of capped buckets are exact-dup territory — exact_duplicates
    still reports them."""
    import time

    from go_jsonschema_spark.operators.dedup import (
        exact_duplicates, minhash_lsh_pairs, simhash_feature_hashes,
        simhash_pairs_from_hashes,
    )

    df = spark.range(10_000).select(
        F.col("id").alias("doc_id"),
        F.lit("identical text body repeated for every document").alias("text"),
    )
    t0 = time.time()
    assert minhash_lsh_pairs(df, max_bucket=256).count() == 0
    assert simhash_pairs_from_hashes(
        simhash_feature_hashes(df), max_bucket=256).count() == 0
    assert time.time() - t0 < 120
    # the exact pass is the right tool for these rows
    assert exact_duplicates(df).count() == 9_999


def test_duplicate_clusters_connected_components(spark):
    from go_jsonschema_spark.operators.dedup import duplicate_clusters

    # components: {1,2,3,4} (chain), {7,9}, {10,11,12} (triangle)
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (7, 9), (10, 11), (11, 12), (10, 12)],
        "a long, b long",
    )
    got = {
        r["id"]: r["cluster"] for r in duplicate_clusters(pairs).collect()
    }
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 7: 7, 9: 7, 10: 10, 11: 10, 12: 10}


def test_duplicate_clusters_long_chain_converges(spark):
    from go_jsonschema_spark.operators.dedup import duplicate_clusters

    n = 40  # diameter 40 chain: min-label needs propagation, not one hop
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(n)], "a long, b long"
    )
    got = {r["id"]: r["cluster"] for r in duplicate_clusters(pairs).collect()}
    assert set(got.values()) == {0} and len(got) == n + 1


def test_lsh_cap_keeps_normal_pairs(spark):
    from go_jsonschema_spark.operators.dedup import minhash_lsh_pairs

    base = "the quick brown fox jumps over the lazy dog again and again ok"
    rows = [(0, base), (1, base + " extra"), (2, "совсем другой текст здесь")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    pairs = minhash_lsh_pairs(df, threshold=0.5, max_bucket=256).collect()
    assert {(p["a"], p["b"]) for p in pairs} == {(0, 1)}


# ---------------------------------------------------------------------------
# ECMA-regex routing in the typed compiler
# ---------------------------------------------------------------------------

def test_pattern_java_dialect_stays_native(spark):
    from go_jsonschema_spark.compile import compile_predicate
    from pyspark.sql import types as T

    df = spark.createDataFrame([("src1",), ("nope",)], "s string")
    pred = compile_predicate({"pattern": "^src[0-9]+$"}, F.col("s"), T.StringType())
    plan = _plan(df.select(pred.alias("p")))
    assert "pythonUDF" not in plan and "ArrowEvalPython" not in plan
    got = [r["p"] for r in df.select(pred.alias("p")).collect()]
    assert got == [True, False]


@pytest.mark.parametrize(
    "pattern,value,matches",
    [
        # ECMA named group with underscore — Java rejects the group name
        ("(?<first_name>^ab+)", "abb", True),
        ("(?<first_name>^ab+)", "xa", False),
        # Annex-B literal brace (invalid quantifier) — Java "Illegal
        # repetition", ECMA treats it literally
        ("^a\\{2,k$", "a{2,k", True),
        ("^a\\{2,k$", "aa", False),
    ],
)
def test_pattern_ecma_only_routed_to_udf(spark, pattern, value, matches):
    from go_jsonschema_spark.compile import compile_predicate
    from go_jsonschema_spark.functions.regex import java_regex_ok
    from pyspark.sql import types as T

    df = spark.createDataFrame([(value,)], "s string")
    pred = compile_predicate({"pattern": pattern}, F.col("s"), T.StringType())
    assert [r[0] for r in df.select(pred).collect()] == [matches]


def test_ecma_routing_agrees_with_interp(spark):
    """Typed path × interp parity over a mixed pattern sample."""
    from go_jsonschema_spark.compile import compile_predicate
    from go_jsonschema_spark.interp import validate_instance
    from pyspark.sql import types as T

    patterns = ["^a*$", "a+b", "(?<n_x>ab)", "[0-9]{2,3}", "^\\cA$", "é+"]
    values = ["", "aab", "ab", "123", "\x01", "ééé", "zz"]
    df = spark.createDataFrame([(v,) for v in values], "s string")
    for pat in patterns:
        pred = compile_predicate({"pattern": pat}, F.col("s"), T.StringType())
        got = [r[0] for r in df.select(pred).collect()]
        want = [validate_instance({"pattern": pat}, v).valid for v in values]
        assert got == want, f"pattern {pat!r}: typed={got} interp={want}"


def test_topk_uses_take_ordered(spark):
    import __spark_entry__ as entry

    df = entry.queries()["topk_users_by_value"](spark, "/root/testdata/sf0.001")
    assert "TakeOrderedAndProject" in _plan(df)
    rows = df.collect()
    assert [r["rank"] for r in rows] == list(range(1, len(rows) + 1))


# ---------------------------------------------------------------------------
# dynamic-scope regressions (cases newer than the vendored suite corpus)
# ---------------------------------------------------------------------------

def test_dynamicref_below_unevaluated_properties():
    """strict-tree pattern: the dynamic ref inside the tree must hop back
    to the outermost (strict) resource, so unknown keys at ANY depth
    fail."""
    from go_jsonschema_spark.interp import validate_instance
    from go_jsonschema_spark.spec import SchemaSpec

    strict_tree = {
        "$id": "https://ex.test/strict-tree.json",
        "$dynamicAnchor": "node",
        "$ref": "https://ex.test/tree.json",
        "unevaluatedProperties": False,
    }
    tree = {
        "$id": "https://ex.test/tree.json",
        "$dynamicAnchor": "node",
        "type": "object",
        "properties": {
            "data": True,
            "children": {"type": "array", "items": {"$dynamicRef": "#node"}},
        },
    }
    spec = SchemaSpec(strict_tree)
    reg = {"https://ex.test/tree.json": SchemaSpec(
        tree, base_uri="https://ex.test/tree.json")}

    def check(v):
        return validate_instance(
            strict_tree, v, draft=2019, spec=spec, registry=reg
        ).valid

    assert check({"children": [{"data": 1}]}) is True
    assert check({"children": [{"daat": 1}]}) is False  # typo at depth 1
    assert check({"children": [{"children": [{"daat": 1}]}]}) is False


def test_dynamicref_beside_unevaluated():
    from go_jsonschema_spark.interp import validate_instance
    from go_jsonschema_spark.spec import SchemaSpec

    s = {"$defs": {"x": {"$dynamicAnchor": "x", "required": ["a"]}},
         "$dynamicRef": "#x", "unevaluatedProperties": True}
    spec = SchemaSpec(s)
    assert validate_instance(s, {}, draft=2019, spec=spec).valid is False
    assert validate_instance(s, {"a": 1}, draft=2019, spec=spec).valid is True


def test_recursiveref_evaluates_siblings():
    from go_jsonschema_spark.interp import validate_instance
    from go_jsonschema_spark.spec import SchemaSpec

    s = {"$recursiveAnchor": True,
         "properties": {"a": {"$recursiveRef": "#", "type": "string"}}}
    spec = SchemaSpec(s)
    assert validate_instance(s, {"a": 5}, draft=2019, spec=spec).valid is False
    assert validate_instance(s, {"a": "x"}, draft=2019, spec=spec).valid is True


def test_typed_compiler_refuses_dynamic_scope_keywords(spark):
    from pyspark.sql import types as T

    from go_jsonschema_spark.compile import CompileError, compile_predicate

    for schema in ({"$recursiveRef": "#"},
                   {"type": "integer", "$dynamicRef": "#b"},
                   {"unevaluatedItems": False}):
        with pytest.raises(CompileError):
            compile_predicate(schema, F.col("x"), T.LongType())


# ---------------------------------------------------------------------------
# completeness check
# ---------------------------------------------------------------------------

def test_completeness_check(spark):
    suite = ConstraintSuite(
        TableSpec(
            table_checks=[{
                "kind": "completeness", "id": "complete:v",
                "columns": ["v", "w"], "max_null_ratio": 0.25,
            }]
        ),
        key="doc_id",
    )
    df = spark.createDataFrame(
        [("1", 1, None), ("2", None, 2), ("3", 3, 3), ("4", 4, 4)],
        "doc_id string, v int, w int",
    )
    m = suite.metrics(df)["complete:v"]
    assert m["v"]["null_ratio"] == 0.25 and m["v"]["passed"] is True
    assert m["w"]["null_ratio"] == 0.25 and m["w"]["passed"] is True
    suite.spec.table_checks[0]["max_null_ratio"] = 0.1
    m = suite.metrics(df)["complete:v"]
    assert m["v"]["passed"] is False
