"""Independent differential gate for the native JSON path.

The native ``from_json`` predicate (functions/json_native.py) is checked
against the installed ``jsonschema`` package — ``Draft7Validator`` and
``Draft202012Validator`` — not against this repo's interpreter.  One
seeded corpus of payloads is judged by every schema × draft in a single
Spark job.  The schemas are the classes the native path was widened for:
typed numeric leaves, string leaves, arrays of strings, optional and
nullable properties, a closed root and a required nested object; the
classes it keeps from before: arrays of objects and of arrays, and leaf
combinators, ``not``, ``contains`` and array ``enum``; and a root with no
``required``, which only the parse itself can fail.
"""

from __future__ import annotations

import json
import random

import jsonschema
import pytest
from pyspark.sql import functions as F

from go_jsonschema_spark.compile import CompileError
from go_jsonschema_spark.functions.json_native import (
    json_column_predicate_auto,
    json_column_predicate_native,
)

# props-class: required typed numbers/booleans, a string enum leaf and a
# typed number array
PROPS = {
    "type": "object",
    "properties": {
        "user": {"type": "integer", "minimum": 0},
        "amount": {"type": "number", "minimum": 0, "maximum": 10000},
        "kind": {"type": "string", "enum": ["click", "view", "buy"]},
        "items": {"type": "array", "items": {"type": "integer",
                                             "minimum": 1}},
        "ok": {"type": "boolean"},
    },
    "required": ["user", "amount", "kind", "items", "ok"],
}

# attrs-class: closed root, an array of strings, an optional number
ATTRS = {
    "type": "object",
    "properties": {
        "labels": {"type": "array", "maxItems": 6,
                   "items": {"type": "string", "maxLength": 12}},
        "score": {"type": "number", "minimum": -1, "maximum": 1},
    },
    "required": ["labels"],
    "additionalProperties": False,
}

# optional/nullable leaves of every kind plus a required nested object
OPTIONAL = {
    "type": "object",
    "properties": {
        "n": {"type": "integer", "minimum": 0, "multipleOf": 2},
        "s": {"type": ["string", "null"], "enum": ["a", "b", None]},
        "b": {"type": "boolean"},
        "tags": {"type": ["array", "null"], "maxItems": 3,
                 "uniqueItems": True,
                 "items": {"type": "number", "maximum": 10}},
        "meta": {"type": "object", "required": ["m"],
                 "properties": {"m": {"type": "string", "maxLength": 2},
                                "w": {"type": ["boolean", "null"]}}},
    },
    "required": ["b", "meta"],
}

# arrays of objects and of arrays, leaf-level keywords the typed compiler
# judges on the parsed value
NESTED = {
    "type": "object",
    "properties": {
        "pts": {"type": "array", "maxItems": 3, "items": {
            "type": "object", "required": ["x"],
            "properties": {
                "x": {"type": "number", "not": {"minimum": 100}},
                "tag": {"type": "string",
                        "anyOf": [{"maxLength": 1}, {"enum": ["long"]}]},
            }}},
        "grid": {"type": "array", "items": {
            "type": "array", "items": {"type": "integer"},
            "contains": {"const": 0}}},
        "pair": {"type": "array", "items": {"type": "number"},
                 "enum": [[1, 2], [3, 4]]},
        "k": {"type": "integer", "minimum": 0,
              "anyOf": [{"multipleOf": 2}, {"maximum": 3}]},
    },
    "required": ["pts", "grid"],
}

# no required key: a document fails only by its parse or a present value
OPEN = {
    "type": "object",
    "properties": {
        "k": {"type": "integer", "minimum": 0},
        "score": {"type": ["number", "null"], "maximum": 1},
    },
}

SCHEMAS = {"props": PROPS, "attrs": ATTRS, "optional": OPTIONAL,
           "nested": NESTED, "open": OPEN}
DRAFTS = {7: jsonschema.Draft7Validator, 2020: jsonschema.Draft202012Validator}

_MISSING = object()
_WORDS = ["alpha", "beta", "mu", "x" * 12, "x" * 13, "\U0001F600" * 12,
          "\U0001F600" * 13, "\ud800", "\ud800" * 13, "é" * 12, ""]
_SCALARS = [0, 1, -1, 2, 7, 12, 499, 10**6, 1.0, 2.0, 12.5, -0.5, 0.25,
            1e2, 9999.99, 10000.5, True, False, None, "", "a", "b", "5",
            "NaN", "click", "refund", "\U0001F600"]


def _value(rng: random.Random, depth: int = 0):
    r = rng.random()
    if depth < 2 and r < 0.15:
        return [_value(rng, depth + 1) for _ in range(rng.randrange(0, 4))]
    if depth < 2 and r < 0.22:
        return {rng.choice(["m", "x", "labels"]): _value(rng, depth + 1)}
    return rng.choice(_SCALARS)


def _pick(rng: random.Random, plausible, p_plausible: float = 0.85):
    r = rng.random()
    if r < p_plausible:
        return plausible()
    return _MISSING if r < p_plausible + 0.08 else _value(rng)


def _doc(rng: random.Random, fields: dict) -> dict:
    doc = {k: _pick(rng, f) for k, f in fields.items()}
    doc = {k: v for k, v in doc.items() if v is not _MISSING}
    if rng.random() < 0.1:
        doc["extra"] = _value(rng)
    return doc


def _props_doc(rng):
    return _doc(rng, {
        "user": lambda: rng.choice([rng.randrange(0, 50)] * 3
                                   + [-3, 4.0, 2.5]),
        "amount": lambda: rng.choice([rng.uniform(0, 10000)] * 3
                                     + [10000.5, 0]),
        "kind": lambda: rng.choice(["click", "view", "buy"] * 2
                                   + ["refund", 5]),
        "items": lambda: [rng.choice([1, 3, 499] * 4
                                     + [0, 2.0, 1.5, None, "3"])
                          for _ in range(rng.randrange(0, 4))],
        "ok": lambda: rng.choice([True, False] * 3 + [0, "true"]),
    })


def _attrs_doc(rng):
    return _doc(rng, {
        "labels": lambda: [rng.choice(_WORDS + [7, None, ["a"], True])
                           if rng.random() < 0.3 else rng.choice(_WORDS[:3])
                           for _ in range(rng.randrange(0, 8))],
        "score": lambda: rng.choice([rng.uniform(-1.5, 1.5), 1, 1.0, -1,
                                     None, "0.5", [0.5]]),
    })


def _optional_doc(rng):
    def mostly(good: list, bad: list):
        return lambda: rng.choice(good if rng.random() < 0.85 else bad)

    return _doc(rng, {
        "n": mostly([0, 2, 4.0], [3, -2, None, "2", 2.5]),
        "s": mostly(["a", "b", None], ["c", 1, ["a"]]),
        "b": mostly([True, False], [None, 1, "false"]),
        "tags": mostly([None, [], [1, 2], [1, None]],
                       [[1, 1.0], [11], [1, 2, 3, 4], ["1"], [[1]], 5,
                        {"t": 1}]),
        "meta": mostly([{"m": "ab"}, {"m": "a", "w": None}],
                       [{"m": "abc"}, {"m": None}, {}, {"m": "a", "w": 1},
                        {"m": 5}, None, "ab", []]),
    })


def _nested_doc(rng):
    def mostly(good: list, bad: list):
        return lambda: rng.choice(good if rng.random() < 0.85 else bad)

    point = mostly([{"x": 1}, {"x": 2.5, "tag": "a"}, {"x": 3, "tag": "long"}],
                   [{"x": 100}, {"x": 1, "tag": "ab"}, {"tag": "a"},
                    {"x": "1"}, {"x": 1, "tag": 5}, {"x": 1, "tag": None},
                    None, 5, [1]])
    row = mostly([[0], [1, 0], [2, 0.0]],
                 [[1], [0.5, 0], [None, 0], ["0"], [], None, 0])
    return _doc(rng, {
        "pts": lambda: [point() for _ in range(rng.randrange(0, 5))],
        "grid": lambda: [row() for _ in range(rng.randrange(0, 3))],
        "pair": mostly([[1, 2], [3, 4], [1.0, 2]],
                       [[2, 1], [1], [], None, ["1", 2], [1, 2, 3]]),
        "k": mostly([0, 2, 3, 8, 1.0, 3.0], [5, -2, None, "2", 2.5, True]),
    })


# hand-written payloads: duplicate and extra keys, escaped key names,
# top-level non-objects, malformed JSON and parser-lenient spellings
_TEXT = [
    '{"labels": [1], "labels": ["a"]}',
    '{"labels": ["a"], "labels": [1]}',
    '{"labels": [], "score": "x", "score": 0.5}',
    '{"labels": [], "score": 0.5, "score": null}',
    '{"labels": [], "extra": 1}',
    '{"labels": [], "labels": []}',
    '{"Labels": ["a"]}',
    '{"l\\u0061bels": ["a"]}',
    '{"labels": ["\\ud83d\\ude00\\ud83d\\ude00"]}',
    '{"labels": ["' + "\\ud83d\\ude00" * 13 + '"]}',
    '{"labels": ["\\ud800\\ud800"]}',
    '{"user": 1, "user": 2, "amount": 1, "kind": "buy", "items": [],'
    ' "ok": true}',
    '{"user": 1.0, "amount": 1, "kind": "buy", "items": [1.0], "ok": true}',
    '{"user": 1e2, "amount": 1e2, "kind": "buy", "items": [], "ok": true}',
    '{"user": 1e400, "amount": 1, "kind": "buy", "items": [], "ok": true}',
    '{"user": 1, "amount": "NaN", "kind": "buy", "items": [], "ok": true}',
    '{"b": true, "meta": {"m": "a"}, "n": 2.0}',
    '{"b": true, "meta": {"m": "a"}, "n": null}',
    '{"b": true, "meta": {"m": "a"}}',
    '{"b": true, "meta": {"m": "a"}, "s": null, "tags": null}',
    '{"b": true, "meta": {"m": "a", "m": "abc"}}',
    '{"b": true, "meta": {"m": "abc", "m": "a"}}',
    "{'labels': []}",
    '{"labels": [],}',
    '[]', '[{"labels": []}]', '5', '"labels"', 'null', 'true', '',
    '   ', 'garbage', '{"labels": ["a"', '{"labels"', '{"b": true, "meta"',
    None,
]


def _corpus(seed: int = 7, n: int = 300) -> list:
    rng = random.Random(seed)
    out = []
    for make in (_props_doc, _attrs_doc, _optional_doc, _nested_doc):
        for _ in range(n):
            doc = make(rng)
            # both spellings of non-BMP text: surrogate escapes and UTF-8
            s = json.dumps(doc, ensure_ascii=rng.random() < 0.5)
            try:
                s.encode("utf-8")
            except UnicodeEncodeError:  # a lone surrogate: escape it
                s = json.dumps(doc)
            out.append(s)
        for _ in range(n // 10):
            s = json.dumps(make(rng))
            out.append(s[: rng.randrange(1, len(s))])  # truncated
    return out + _TEXT


def _oracle(validator, raw) -> bool:
    if raw is None:
        return False
    try:
        doc = json.loads(raw)
    except ValueError:
        return False
    return validator.is_valid(doc)


def test_native_matches_jsonschema(spark):
    payloads = _corpus()
    df = spark.createDataFrame([(p,) for p in payloads], "j string")
    cols = {f"{name}_{d}": json_column_predicate_native(s, draft=d)(F.col("j"))
            for name, s in SCHEMAS.items() for d in DRAFTS}
    rows = df.select("j", *[c.alias(k) for k, c in cols.items()]).collect()
    assert len(rows) == len(payloads)
    for name, schema in SCHEMAS.items():
        for d, cls in DRAFTS.items():
            cls.check_schema(schema)
            validator = cls(schema)
            key = f"{name}_{d}"
            bad = [(r["j"], r[key]) for r in rows
                   if r[key] is not _oracle(validator, r["j"])]
            assert not bad, f"{key}: native disagrees on {bad[:5]}"
            n_valid = sum(r[key] for r in rows)
            assert 20 < n_valid < len(rows) - 20, (key, n_valid)


def test_widened_schemas_choose_native(spark):
    """The chooser keeps every gate schema on the native path (the UDF
    arm returns a pandas_udf, the native arm a plain function)."""
    for schema in SCHEMAS.values():
        fn = json_column_predicate_auto(schema)
        assert not hasattr(fn, "evalType"), schema


def test_draft4_integer_falls_back():
    """Draft 4 does not count ``1.0`` as an integer; a parsed double
    cannot tell ``1.0`` from ``1``, so the native path refuses."""
    schema = {"type": "object", "required": ["n"],
              "properties": {"n": {"type": "integer"}}}
    with pytest.raises(CompileError):
        json_column_predicate_native(schema, draft=4)


def test_draft4_auto_matches_jsonschema(spark):
    schema = {"type": "object", "required": ["n"],
              "properties": {"n": {"type": "integer"}}}
    payloads = ['{"n": 1}', '{"n": 1.0}', '{"n": 1.5}', '{"n": "1"}']
    df = spark.createDataFrame([(p,) for p in payloads], "j string")
    fn = json_column_predicate_auto(schema, draft=4)
    got = [r[0] for r in df.select(fn(F.col("j"))).collect()]
    validator = jsonschema.Draft4Validator(schema)
    assert got == [_oracle(validator, p) for p in payloads] \
        == [True, False, False, False]


def test_object_level_combinator_falls_back(spark):
    """A root ``anyOf`` that reads an undeclared key: the chooser takes
    the UDF path, whose verdicts match ``jsonschema``."""
    schema = {"type": "object", "required": ["a"],
              "properties": {"a": {"type": "number"}},
              "anyOf": [{"required": ["b"]},
                        {"properties": {"a": {"minimum": 5}}}]}
    payloads = ['{"a": 1, "b": 2}', '{"a": 7}', '{"a": 1}', '{"b": 2}']
    fn = json_column_predicate_auto(schema)
    assert hasattr(fn, "evalType")
    df = spark.createDataFrame([(p,) for p in payloads], "j string")
    got = [r[0] for r in df.select(fn(F.col("j"))).collect()]
    validator = jsonschema.Draft7Validator(schema)
    assert got == [_oracle(validator, p) for p in payloads] \
        == [True, True, False, False]
