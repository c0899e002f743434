"""Differential + property-based tests.

1. Hypothesis over the pure-Python semantics kernel: ``deep_equal`` /
   ``canonical_key`` consistency, validator robustness (never raises,
   collect_all doesn't change the verdict), spec JSON round-trip.
2. Seeded random schema×value differential: the typed Catalyst compiler
   must agree with the parity interpreter on every generated case —
   batched into a handful of Spark jobs (one per column type), not one
   job per example.
"""

from __future__ import annotations

import json
import random

import pytest
from hypothesis import given, settings, strategies as st

from go_jsonschema_spark.interp import (
    canonical_key,
    deep_equal,
    validate_instance,
)

json_scalars = st.one_of(
    st.none(),
    st.booleans(),
    st.integers(min_value=-(2**40), max_value=2**40),
    st.floats(allow_nan=False, allow_infinity=False, width=32),
    st.text(max_size=20),
)
json_values = st.recursive(
    json_scalars,
    lambda inner: st.one_of(
        st.lists(inner, max_size=6),
        st.dictionaries(st.text(max_size=8), inner, max_size=6),
    ),
    max_leaves=12,
)


@given(json_values, json_values)
@settings(max_examples=300, deadline=None)
def test_deep_equal_matches_canonical_key(a, b):
    """deep_equal(a,b) ⟺ canonical_key(a)==canonical_key(b) — the intra-row
    uniqueItems set logic and the pairwise equality must agree
    (validate_unique.go:53-104 invariant)."""
    assert deep_equal(a, b) == (canonical_key(a) == canonical_key(b))
    assert deep_equal(a, a)


_KEYWORDS = st.fixed_dictionaries(
    {},
    optional={
        "type": st.sampled_from(
            ["string", "number", "integer", "boolean", "null", "array", "object"]
        ),
        "enum": st.lists(json_scalars, min_size=1, max_size=4),
        "const": json_scalars,
        "minimum": st.integers(-100, 100),
        "maximum": st.integers(-100, 100),
        "minLength": st.integers(0, 10),
        "maxLength": st.integers(0, 10),
        "minItems": st.integers(0, 5),
        "maxItems": st.integers(0, 5),
        "uniqueItems": st.booleans(),
        "multipleOf": st.sampled_from([1, 2, 3, 0.5, 1.5]),
        "not": st.fixed_dictionaries(
            {}, optional={"type": st.sampled_from(["string", "integer"])}
        ),
    },
)


@given(_KEYWORDS, json_values)
@settings(max_examples=300, deadline=None)
def test_validator_total_and_consistent(schema, value):
    """The evaluator is total (no exceptions on any JSON input) and
    collect_all doesn't change the verdict.  Its verdicts are checked
    against ``jsonschema`` by tests/test_evaluator_oracle.py."""
    fast = validate_instance(schema, value)
    full = validate_instance(schema, value, collect_all=True)
    assert fast.valid == full.valid
    if not full.valid:
        assert full.errors


@given(_KEYWORDS)
@settings(max_examples=200, deadline=None)
def test_spec_json_roundtrip(schema):
    from go_jsonschema_spark.spec import SchemaSpec

    s = SchemaSpec(schema)
    assert SchemaSpec(json.loads(json.dumps(s.root))).root == schema


# ---------------------------------------------------------------------------
# compile vs interp differential on Spark
# ---------------------------------------------------------------------------

def _rand_schema(rng: random.Random, dtype: str) -> dict:
    """Random schema whose keywords are meaningful for the column type."""
    s: dict = {}
    if dtype == "long":
        if rng.random() < 0.7:
            s["type"] = rng.choice(["integer", "number"])
        if rng.random() < 0.5:
            s["minimum"] = rng.randint(-50, 50)
        if rng.random() < 0.5:
            s["maximum"] = rng.randint(-50, 50)
        if rng.random() < 0.3:
            s["multipleOf"] = rng.choice([2, 3, 5])
        if rng.random() < 0.2:
            s["enum"] = [rng.randint(-50, 50) for _ in range(3)]
        if rng.random() < 0.2:
            s["exclusiveMinimum"] = rng.randint(-50, 50)
    elif dtype == "double":
        if rng.random() < 0.7:
            s["type"] = rng.choice(["number", "integer"])
        if rng.random() < 0.5:
            s["minimum"] = round(rng.uniform(-50, 50), 2)
        if rng.random() < 0.5:
            s["exclusiveMaximum"] = round(rng.uniform(-50, 50), 2)
        if rng.random() < 0.3:
            s["multipleOf"] = rng.choice([0.5, 0.25, 2])
    elif dtype == "string":
        if rng.random() < 0.7:
            s["type"] = "string"
        if rng.random() < 0.5:
            s["minLength"] = rng.randint(0, 6)
        if rng.random() < 0.5:
            s["maxLength"] = rng.randint(0, 8)
        if rng.random() < 0.4:
            s["pattern"] = rng.choice(["^a", "b$", "[0-9]+", "^[ab]*$"])
        if rng.random() < 0.3:
            s["enum"] = [rng.choice(["a", "ab", "abc", "b", ""]) for _ in range(2)]
    elif dtype == "array":
        s["type"] = "array"
        if rng.random() < 0.25:
            s["prefixItems"] = [
                {"minimum": rng.randint(-5, 5)}
                for _ in range(rng.randint(1, 3))
            ]
            if rng.random() < 0.5:
                s["items"] = {"maximum": rng.randint(0, 30)}  # rest schema
        elif rng.random() < 0.6:
            s["items"] = {"type": "integer", "minimum": 0,
                          "maximum": rng.randint(5, 30)}
        if rng.random() < 0.5:
            s["minItems"] = rng.randint(0, 3)
        if rng.random() < 0.5:
            s["maxItems"] = rng.randint(2, 6)
        if rng.random() < 0.5:
            s["uniqueItems"] = True
        if rng.random() < 0.3:
            s["contains"] = {"minimum": rng.randint(0, 20)}
            if rng.random() < 0.5:
                s["minContains"] = rng.randint(0, 3)
            if rng.random() < 0.5:
                s["maxContains"] = rng.randint(1, 5)
    # combinators on top
    if rng.random() < 0.25:
        s = {"anyOf": [s or True, _leaf(rng, dtype)]}
    elif rng.random() < 0.2:
        s = {"allOf": [s or True, _leaf(rng, dtype)]}
    elif rng.random() < 0.15:
        s = {"oneOf": [s or True, _leaf(rng, dtype)]}
    elif rng.random() < 0.15:
        s = {"not": s or {"type": "string"}}
    elif rng.random() < 0.15:
        s = {"if": _leaf(rng, dtype), "then": s or True,
             "else": _leaf(rng, dtype)}
    return s if isinstance(s, dict) and s else {"type": "integer"}


def _leaf(rng: random.Random, dtype: str) -> dict:
    if dtype == "long":
        return {"minimum": rng.randint(-20, 20)}
    if dtype == "double":
        return {"maximum": round(rng.uniform(-20, 20), 1)}
    if dtype == "string":
        return {"minLength": rng.randint(0, 4)}
    return {"minItems": rng.randint(0, 2)}


def _rand_value(rng: random.Random, dtype: str):
    if rng.random() < 0.08:
        return None
    if dtype == "long":
        return rng.randint(-60, 60)
    if dtype == "double":
        return rng.choice(
            [round(rng.uniform(-60, 60), 3), float(rng.randint(-10, 10))]
        )
    if dtype == "string":
        return "".join(rng.choice("ab0 ") for _ in range(rng.randint(0, 8)))
    return [rng.randint(-2, 35) for _ in range(rng.randint(0, 6))]


def _rand_map_schema(rng: random.Random) -> dict:
    s: dict = {"type": "object"}
    keys = ["a", "b", "c", "d"]
    if rng.random() < 0.6:
        s["required"] = rng.sample(keys, rng.randint(1, 2))
    if rng.random() < 0.6:
        s["properties"] = {
            k: {"minimum": rng.randint(-5, 5)}
            for k in rng.sample(keys, rng.randint(1, 2))
        }
    if rng.random() < 0.4:
        s["minProperties"] = rng.randint(0, 3)
    if rng.random() < 0.4:
        s["maxProperties"] = rng.randint(1, 4)
    if rng.random() < 0.4:
        s["propertyNames"] = {"pattern": rng.choice(["^[ab]", "^[a-c]$"])}
    if rng.random() < 0.4:
        s["dependentRequired"] = {"a": [rng.choice(["b", "c"])]}
    if rng.random() < 0.3:
        s["patternProperties"] = {"^[cd]$": {"maximum": rng.randint(-2, 8)}}
    if rng.random() < 0.3:
        s["additionalProperties"] = rng.choice(
            [False, {"minimum": rng.randint(-5, 5)}]
        )
    return s


def _rand_map_value(rng: random.Random):
    if rng.random() < 0.05:
        return None
    return {
        k: rng.randint(-8, 8)
        for k in ["a", "b", "c", "d"]
        if rng.random() < 0.55
    }


def test_compile_matches_interp_maps(spark):
    """Object-typed (MapType) compile path vs interpreter — 200 randomized
    cases covering required/properties/patternProperties/
    additionalProperties/propertyNames/min-maxProperties/dependentRequired."""
    from pyspark.sql import functions as F, types as T

    from go_jsonschema_spark.compile import compile_predicate

    rng = random.Random(424242)
    schemas = [_rand_map_schema(rng) for _ in range(40)]
    rows, want = [], {}
    for si, schema in enumerate(schemas):
        for vi in range(5):
            v = _rand_map_value(rng)
            cid = f"{si}.{vi}"
            rows.append((si, cid, v))
            want[cid] = validate_instance(schema, v).valid
    dt = T.MapType(T.StringType(), T.LongType())
    df = spark.createDataFrame(
        rows,
        T.StructType([
            T.StructField("si", T.IntegerType()),
            T.StructField("cid", T.StringType()),
            T.StructField("value", dt),
        ]),
    )
    pred = None
    for si in range(len(schemas) - 1, -1, -1):
        p = compile_predicate(schemas[si], F.col("value"), dt)
        pred = p if pred is None else F.when(F.col("si") == si, p).otherwise(pred)
    got = {r["cid"]: r["ok"] for r in df.select("cid", pred.alias("ok")).collect()}
    mismatches = [
        f"schema={json.dumps(schemas[int(c.split('.')[0])])} "
        f"value={rows[[r[1] for r in rows].index(c)][2]!r} "
        f"got={got[c]} want={want[c]}"
        for c in want if got[c] != want[c]
    ]
    assert not mismatches, "\n".join(mismatches[:10])


def test_compile_matches_interp_structs(spark):
    """StructType compile path: required + per-field properties + counted
    min/maxProperties vs the interpreter (missing struct field == SQL NULL
    == absent JSON key)."""
    from pyspark.sql import functions as F, types as T

    from go_jsonschema_spark.compile import compile_predicate

    rng = random.Random(777)
    dt = T.StructType([
        T.StructField("x", T.LongType(), True),
        T.StructField("y", T.StringType(), True),
    ])

    def rand_schema():
        s: dict = {"type": "object"}
        if rng.random() < 0.7:
            s["required"] = rng.sample(["x", "y"], rng.randint(1, 2))
        if rng.random() < 0.7:
            s["properties"] = {}
            if rng.random() < 0.8:
                s["properties"]["x"] = {"minimum": rng.randint(-3, 3)}
            if rng.random() < 0.5:
                s["properties"]["y"] = {"minLength": rng.randint(0, 3)}
        if rng.random() < 0.4:
            s["minProperties"] = rng.randint(0, 2)
        if rng.random() < 0.4:
            s["maxProperties"] = rng.randint(1, 2)
        return s

    def rand_value():
        v = {}
        if rng.random() < 0.7:
            v["x"] = rng.randint(-5, 5)
        if rng.random() < 0.7:
            v["y"] = rng.choice(["", "a", "abcd"])
        return v

    schemas = [rand_schema() for _ in range(30)]
    rows, want = [], {}
    for si, schema in enumerate(schemas):
        for vi in range(5):
            v = rand_value()
            cid = f"{si}.{vi}"
            rows.append((si, cid, (v.get("x"), v.get("y"))))
            want[cid] = validate_instance(schema, v).valid
    df = spark.createDataFrame(
        rows,
        T.StructType([
            T.StructField("si", T.IntegerType()),
            T.StructField("cid", T.StringType()),
            T.StructField("value", dt),
        ]),
    )
    pred = None
    for si in range(len(schemas) - 1, -1, -1):
        p = compile_predicate(schemas[si], F.col("value"), dt)
        pred = p if pred is None else F.when(F.col("si") == si, p).otherwise(pred)
    got = {r["cid"]: r["ok"] for r in df.select("cid", pred.alias("ok")).collect()}
    mismatches = [
        f"schema={json.dumps(schemas[int(c.split('.')[0])])} "
        f"got={got[c]} want={want[c]} cid={c}"
        for c in want if got[c] != want[c]
    ]
    assert not mismatches, "\n".join(mismatches[:10])


@pytest.mark.parametrize("dtype,spark_type", [
    ("long", "bigint"), ("double", "double"),
    ("string", "string"), ("array", "array<bigint>"),
])
def test_compile_matches_interp_random(spark, dtype, spark_type):
    """200 random (schema, value) pairs per column type: the native Column
    predicate and the interpreter must produce the same verdict.  One Spark
    job per type (when-chain over schema index)."""
    from pyspark.sql import functions as F, types as T

    from go_jsonschema_spark.compile import compile_predicate

    rng = random.Random(20260816 + hash(dtype) % 1000)
    schemas = [_rand_schema(rng, dtype) for _ in range(40)]
    rows = []
    want = {}
    for si, schema in enumerate(schemas):
        for vi in range(5):
            v = _rand_value(rng, dtype)
            cid = f"{si}.{vi}"
            rows.append((si, cid, v))
            # null column cell = JSON null for the typed mapping
            want[cid] = validate_instance(schema, v).valid

    df = spark.createDataFrame(
        rows, f"si int, cid string, value {spark_type}"
    )
    dt = df.schema["value"].dataType
    pred = None
    for si in range(len(schemas) - 1, -1, -1):
        p = compile_predicate(schemas[si], F.col("value"), dt)
        pred = p if pred is None else F.when(F.col("si") == si, p).otherwise(pred)
    got = {r["cid"]: r["ok"] for r in df.select("cid", pred.alias("ok")).collect()}
    mismatches = [
        f"schema={json.dumps(schemas[int(c.split('.')[0])])} "
        f"value={rows[[r[1] for r in rows].index(c)][2]!r} "
        f"got={got[c]} want={want[c]}"
        for c in want
        if got[c] != want[c]
    ]
    assert not mismatches, "\n".join(mismatches[:10])


# ---------------------------------------------------------------------------
# annotated evaluator vs plain path: adding a vacuous unevaluated* marker
# must never change a verdict
# ---------------------------------------------------------------------------

_APPLICATOR_SCHEMAS = st.recursive(
    st.one_of(
        st.booleans(),
        st.fixed_dictionaries(
            {},
            optional={
                "type": st.sampled_from(
                    ["string", "number", "integer", "boolean", "null",
                     "array", "object"]
                ),
                "enum": st.lists(json_scalars, min_size=1, max_size=3),
                "minimum": st.integers(-20, 20),
                "maximum": st.integers(-20, 20),
                "minLength": st.integers(0, 5),
                "minItems": st.integers(0, 3),
                "required": st.lists(
                    st.sampled_from(["a", "b", "c"]), max_size=2, unique=True
                ),
            },
        ),
    ),
    lambda inner: st.fixed_dictionaries(
        {},
        optional={
            "properties": st.dictionaries(
                st.sampled_from(["a", "b", "c"]), inner, max_size=2
            ),
            "patternProperties": st.dictionaries(
                st.sampled_from(["^a", "b$"]), inner, max_size=1
            ),
            "additionalProperties": inner,
            "items": inner,
            "prefixItems": st.lists(inner, min_size=1, max_size=2),
            "contains": inner,
            "minContains": st.integers(0, 2),
            "allOf": st.lists(inner, min_size=1, max_size=2),
            "anyOf": st.lists(inner, min_size=1, max_size=2),
            "oneOf": st.lists(inner, min_size=1, max_size=2),
            "not": inner,
            "if": inner,
            "then": inner,
            "else": inner,
            "dependentSchemas": st.dictionaries(
                st.sampled_from(["a", "b"]), inner, max_size=1
            ),
            "required": st.lists(
                st.sampled_from(["a", "b", "c"]), max_size=2, unique=True
            ),
            "type": st.sampled_from(["object", "array", "integer", "string"]),
        },
    ),
    max_leaves=8,
)


@given(_APPLICATOR_SCHEMAS, json_values)
@settings(max_examples=300, deadline=None)
def test_annotated_evaluator_agrees_with_plain_path(schema, value):
    """Wrapping any schema as {allOf:[S], unevaluated*: true} is
    semantically vacuous (true accepts every unevaluated member) but
    forces the annotation-collecting evaluator — verdicts must match the
    plain path keyword-for-keyword at 2019 semantics."""
    want = validate_instance(schema, value, draft=2019).valid
    for marker in ("unevaluatedProperties", "unevaluatedItems"):
        wrapped = {"allOf": [schema], marker: True}
        got = validate_instance(wrapped, value, draft=2019).valid
        assert got == want, (schema, value, marker)
