"""Differential tests: native from_json JSON validation vs the
interpreter UDF path — identical verdicts on every payload, zero Python
in the native plan."""

from __future__ import annotations

import json

import pytest
from pyspark.sql import functions as F

from go_jsonschema_spark.compile import CompileError, json_column_predicate
from go_jsonschema_spark.functions.json_native import (
    json_column_predicate_auto,
    json_column_predicate_native,
)
from go_jsonschema_spark.interp import validate_instance

PROPS_SCHEMA = {
    "type": "object",
    "required": ["k"],
    "properties": {"k": {"type": "integer", "minimum": 0, "maximum": 49}},
}

NESTED_SCHEMA = {
    "type": "object",
    "required": ["name", "meta"],
    "properties": {
        "name": {"type": "string", "minLength": 2, "pattern": "^[a-z]+$"},
        "meta": {
            "type": "object",
            "required": ["n"],
            "properties": {
                "n": {"type": "number", "exclusiveMinimum": 0},
                "tags": {"type": ["array", "null"],
                         "items": {"type": "number", "minimum": 0}},
            },
        },
        "opt": {"type": ["integer", "null"], "multipleOf": 3},
        "nick": {"type": ["string", "null"], "maxLength": 3},
    },
}

PAYLOADS = [
    '{"k": 12}', '{"k": 0}', '{"k": 49}', '{"k": 50}', '{"k": -1}',
    '{"k": 12.0}', '{"k": 12.5}', '{"k": "12"}', '{"k": null}', '{"k": true}',
    '{"k": [1]}', '{}', '{"other": 3}', '5', '"str"', '[1,2]', 'null', 'true',
    'garbage', '', '   ', None, '{"k": 1e400}', '  {"k": 3}  ',
    '{"name": "ab", "meta": {"n": 1.5}}',
    '{"name": "ab", "meta": {"n": 0}}',
    '{"name": "ab", "meta": {"n": 2, "tags": ["x"]}}',
    '{"name": "ab", "meta": {"n": 2, "tags": [1, 2.5]}}',
    '{"name": "ab", "meta": {"n": 2, "tags": [1, -4]}}',
    '{"name": "ab", "meta": {"n": 2, "tags": [null]}}',
    '{"name": "ab", "meta": {"n": 2, "tags": null}}',
    '{"name": "ab", "meta": {"n": 2, "tags": []}}',
    '{"name": "A", "meta": {"n": 1}}',
    '{"name": 5, "meta": {"n": 1}}',
    '{"name": true, "meta": {"n": 1}}',
    '{"name": null, "meta": {"n": 1}}',
    '{"name": "ab", "meta": null}',
    '{"name": "ab", "meta": 3}',
    '{"name": "ab", "meta": {"n": 2}, "opt": 9}',
    '{"name": "ab", "meta": {"n": 2}, "opt": 10}',
    '{"name": "ab", "meta": {"n": 2}, "opt": null}',
    '{"name": "ab", "meta": {"n": 2}, "nick": "xy"}',
    '{"name": "ab", "meta": {"n": 2}, "nick": "wxyz"}',
    '{"name": "ab", "meta": {"n": 2}, "nick": 7}',
    '{"name": "ab", "meta": {"n": 2}, "nick": null}',
]


@pytest.mark.parametrize("schema", [PROPS_SCHEMA, NESTED_SCHEMA])
def test_native_matches_interp_and_udf(spark, schema):
    df = spark.createDataFrame([(p,) for p in PAYLOADS], "j string")
    native = json_column_predicate_native(schema)
    udf = json_column_predicate(schema)
    rows = df.select(
        "j",
        native(F.col("j")).alias("n"),
        udf(F.col("j")).alias("u"),
    ).collect()
    for r in rows:
        # interpreter ground truth
        raw = r["j"]
        if raw is None:
            want = False
        else:
            try:
                want = validate_instance(schema, json.loads(raw)).valid
            except (ValueError, TypeError):
                want = False
        assert r["n"] == want, f"native: {raw!r} -> {r['n']}, interp {want}"
        assert bool(r["u"]) == want, f"udf: {raw!r} -> {r['u']}, interp {want}"


def test_native_matches_interp_randomized(spark):
    """Seeded randomized differential: 500 structurally-varied payloads
    through the native path in ONE Spark job, verdicts pinned to the
    interpreter."""
    import random

    rng = random.Random(42)

    def rand_value(depth=0):
        kinds = ["int", "float", "str", "bool", "null", "missing"]
        if depth < 1:
            kinds += ["obj", "arr"]
        k = rng.choice(kinds)
        if k == "int":
            return rng.randint(-5, 55)
        if k == "float":
            return rng.choice([0.0, 1.5, 12.0, 49.0, 50.5, -0.5, 1e9])
        if k == "str":
            return rng.choice(["", "ab", "xyz", "12", "ABC", "ééé"])
        if k == "bool":
            return rng.choice([True, False])
        if k == "null":
            return None
        if k == "obj":
            return {"n": rand_value(depth + 1)}
        if k == "arr":
            return [rand_value(depth + 1) for _ in range(rng.randint(0, 3))]
        return "__missing__"

    payloads = []
    for _ in range(500):
        doc = {}
        # biased per-field choice: mostly-valid values with random
        # corruptions, so both verdicts appear in the corpus
        name = rng.choice(["ab", "xyz", "valid", "A", "a", 5, True, None,
                           "", "ééé", "__missing__"])
        meta = rng.choice(
            [{"n": 1.5}, {"n": 2, "tags": [1, 2.5]}, {"n": 0.1},
             {"n": 0}, {"n": -1}, {"n": "x"}, {"n": None}, {},
             {"n": 2, "tags": rand_value()}, None, 3, "__missing__"]
        )
        opt = rng.choice([9, 12, 10, 9.0, None, "9", "__missing__",
                          rand_value()])
        nick = rng.choice(["xy", "wxyz", 7, None, "__missing__"])
        for key, v in (("name", name), ("meta", meta), ("opt", opt),
                       ("nick", nick), ("extra", rand_value())):
            if v != "__missing__":
                doc[key] = v
        payloads.append(json.dumps(doc))
    payloads += ["garbage", "", "[1]", "3", None]

    df = spark.createDataFrame([(p,) for p in payloads], "j string")
    native = json_column_predicate_native(NESTED_SCHEMA)
    rows = df.select("j", native(F.col("j")).alias("n")).collect()
    n_valid = 0
    for r in rows:
        raw = r["j"]
        if raw is None:
            want = False
        else:
            try:
                want = validate_instance(NESTED_SCHEMA, json.loads(raw)).valid
            except (ValueError, TypeError):
                want = False
        n_valid += int(want)
        assert r["n"] == want, f"{raw!r}: native {r['n']} interp {want}"
    assert n_valid > 0  # corpus exercises both verdicts


def test_native_plan_has_no_python(spark):
    import contextlib
    import io

    df = spark.createDataFrame([('{"k": 1}',)], "j string")
    native = json_column_predicate_native(PROPS_SCHEMA)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.select(native(F.col("j")).alias("ok")).explain("formatted")
    plan = buf.getvalue()
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan


@pytest.mark.parametrize(
    "schema",
    [
        {"properties": {"k": {"type": "integer"}}},  # no root type
        {"type": "object", "properties": {"k": {"minimum": 0}}},  # untyped prop
        {"type": "object", "required": ["k"], "patternProperties": {"^x": {}},
         "properties": {"k": {"type": "integer"}}},
        {"type": "object", "propertyNames": {"maxLength": 3},
         "minProperties": 1, "properties": {"k": {"type": "integer"}}},
        # closed nested object: get_json_object keeps the first duplicate key
        {"type": "object", "required": ["m"], "properties": {"m": {
            "type": "object", "additionalProperties": False,
            "properties": {"k": {"type": "integer"}}}}},
        {"type": "object",
         "properties": {"k": {"type": "string", "format": "date"}}},
        {"type": "object", "properties": {"k": {"$ref": "#/definitions/x"}},
         "definitions": {"x": {"type": "integer"}}},
        # object-level keywords need the whole document: a struct of the
        # declared fields cannot see "b" in {"a": 1, "b": 2}
        {"type": "object", "required": ["a"],
         "properties": {"a": {"type": "number"}},
         "anyOf": [{"required": ["b"]},
                   {"properties": {"a": {"minimum": 5}}}]},
        # a VARIANT leaf decodes scalars only
        {"type": "object", "properties": {"p": {
            "type": ["array", "null"],
            "items": {"type": "object", "properties": {}}}}},
        # prefixItems next to the items the array is parsed by
        {"type": "object", "required": ["p"], "properties": {"p": {
            "type": "array", "prefixItems": [{"type": "string"}],
            "items": {"type": "number"}}}},
        True,
    ],
)
def test_native_rejects_dynamic_schemas(schema):
    with pytest.raises(CompileError):
        json_column_predicate_native(schema)


def test_ecma_only_pattern_and_case_clash_fall_back(spark):
    """A pattern only the Arrow-batched judge can run, and property names that
    clash under case-insensitive struct access, stay on the UDF path
    (a Python UDF cannot run inside the native binding lambda)."""
    ecma = {"type": "object", "required": ["n"],
            "properties": {"n": {"type": "string",
                                 "pattern": "^(?<first_name>[a-z]+)$"}}}
    clash = {"type": "object", "required": ["a"],
             "properties": {"a": {"type": "integer"},
                            "A": {"type": "string"}}}
    for schema in (ecma, clash):
        with pytest.raises(CompileError):
            json_column_predicate_native(schema)
    payloads = ['{"n": "ab"}', '{"n": "a1"}', '{"n": 5}']
    df = spark.createDataFrame([(p,) for p in payloads], "j string")
    got = [r[0] for r in df.select(
        json_column_predicate_auto(ecma)(F.col("j"))).collect()]
    assert got == [validate_instance(ecma, json.loads(p)).valid
                   for p in payloads] == [True, False, False]


def test_auto_falls_back_to_udf(spark):
    schema = {"type": "object", "properties": {"k": {"minimum": 0}}}
    fn = json_column_predicate_auto(schema)
    df = spark.createDataFrame([('{"k": -1}',), ('{"k": "s"}',)], "j string")
    got = [r[0] for r in df.select(fn(F.col("j"))).collect()]
    assert got == [False, True]  # minimum vacuous on strings (interp parity)


def test_ref_siblings_follow_the_draft(spark):
    """From 2019-09 ``$ref`` is an in-place applicator evaluated WITH its
    siblings; in draft 7 and earlier it short-circuits them.  The
    closure-compiled predicate, the collected error list and
    ``jsonschema`` agree under both drafts."""
    import jsonschema

    from go_jsonschema_spark.interp import validate_instance

    schema = {"$ref": "#/$defs/a", "maxLength": 2,
              "$defs": {"a": {"type": "string"}}}
    df = spark.createDataFrame([('"abcdef"',)], "j string")
    for draft, validator, want in (
        (2020, jsonschema.Draft202012Validator, False),
        (7, jsonschema.Draft7Validator, True),
    ):
        assert validator(schema).is_valid("abcdef") is want
        row = df.select(
            json_column_predicate(schema, draft=draft)(F.col("j"))).first()
        assert row[0] is want, draft
        errors = validate_instance(schema, "abcdef", draft=draft,
                                   collect_all=True).errors
        assert any("maxLength" in e for e in errors) is (not want), draft


def test_json_udf_resolves_refs_inside_nested_ids(spark):
    """A pointer ``$ref`` inside an ``$id``-carrying subschema resolves
    against that subschema in the Python worker too: the worker builds
    its own SchemaSpec, whose base-URI index is keyed by node identity
    and so cannot be pickled from the driver."""
    import jsonschema

    schema = {"$id": "http://ex.com/root.json",
              "definitions": {"A": {
                  "$id": "http://ex.com/a.json",
                  "definitions": {"B": {"type": "integer"}},
                  "properties": {"x": {"$ref": "#/definitions/B"}}}},
              "properties": {"y": {"$ref": "a.json"}}}
    values = ['{"y": {"x": 1}}', '{"y": {"x": "s"}}']
    want = [jsonschema.Draft7Validator(schema).is_valid(json.loads(v))
            for v in values]
    assert want == [True, False]
    df = spark.createDataFrame([(v,) for v in values], "j string")
    got = [r[0] for r in
           df.select(json_column_predicate(schema)(F.col("j"))).collect()]
    assert got == want


def test_content_keywords_one_verdict_on_every_path(spark):
    """``contentEncoding``/``contentMediaType`` get the same verdict on the
    JSON-column route, the judge, a typed column in the suite and
    ``validate_instance``: the typed compiler refuses them, so the
    engine's group fallback judges them (one ``contentEncoding`` group)
    and the native JSON path hands the column to the judge."""
    from go_jsonschema_spark.engine import ConstraintSuite
    from go_jsonschema_spark.spec import TableSpec

    leaf = {"type": "string", "contentEncoding": "base64",
            "contentMediaType": "application/json"}
    schema = {"type": "object", "properties": {"s": leaf}}
    # base64 of '{"a": 1}', not base64, base64 of 'not json', of '{}'
    values = ["eyJhIjogMX0=", "not base64!", "bm90IGpzb24=", "e30="]
    want = [validate_instance(leaf, v).valid for v in values]
    assert want == [True, False, False, True]
    docs = [json.dumps({"s": v}) for v in values]
    df = spark.createDataFrame(
        [(i, v, d) for i, (v, d) in enumerate(zip(values, docs))],
        "id int, s string, j string")
    auto, udf = json_column_predicate_auto(schema), json_column_predicate(
        schema)
    rows = df.orderBy("id").select(
        auto(F.col("j")).alias("a"), udf(F.col("j")).alias("u")).collect()
    assert [r["a"] for r in rows] == [r["u"] for r in rows] == [
        validate_instance(schema, json.loads(d)).valid for d in docs] == want
    with pytest.raises(CompileError):
        json_column_predicate_native(schema)

    res = ConstraintSuite(TableSpec(columns={
        "s": leaf, "j": {"kind": "json", "schema": schema}}), key="id").run(df)
    bad = sorted((r["constraint_id"], r["doc_id"])
                 for r in res.violations.collect())
    failing = [str(i) for i, ok in enumerate(want) if not ok]
    assert bad == sorted([("j.json", i) for i in failing]
                         + [("s.contentEncoding", i) for i in failing])
