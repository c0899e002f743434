"""Fully-native validation of JSON *string* columns with static schemas.

The dynamic path (compile.json_column_predicate) runs an Arrow-batched
Python interpreter — correct for arbitrary schemas, but Python-side.  For
static object schemas with typed properties (e.g. ``events.props``, or a
closed ``attrs`` object with a string array and an optional score) the
same verdicts stay JVM-side, with each JSON string parsed exactly once:

    from_json(col, derived struct, corrupt-record option)
      → per property: typed leaf  → compile_predicate(prop, leaf)
                      VARIANT leaf → schema_of_variant type test
                                     AND compile_predicate(prop,
                                         try_variant_get(leaf, '$', T))
      → AND parse-success (struct non-NULL, corrupt-record field NULL)
      → AND (additionalProperties: false) json_object_keys(col) ⊆ declared

The derived struct picks, per property, the leaf the parser gets right:

* **typed leaves** (DoubleType, BooleanType, arrays of those, nested
  structs, arrays of structs or arrays) where Spark's parser is strict — a
  wrong JSON type lands in the corrupt record — and where JSON ``null``
  and an absent key both fail anyway: the property is ``required`` and
  its type excludes ``null``;
* **VARIANT leaves** everywhere else: string-typed properties (a string
  target coerces ``5`` to ``"5"``), string array elements, and optional
  or nullable properties.  A VARIANT keeps the exact JSON type
  (``schema_of_variant`` reads ``STRING``, ``BIGINT``, ``DECIMAL(p,s)``,
  ``DOUBLE``, ``BOOLEAN``, ``ARRAY<...>``, ``VOID`` for JSON ``null``) and
  tells JSON ``null`` (``VOID``) from an absent key (SQL NULL).  The
  decoded value feeds the same typed compiler, so ``floor``-based
  integer tests and draft rules are shared with typed leaves.

A leaf is judged by ``compile_predicate`` on its exact typed value, so it
may carry any keyword that compiler handles — bounds, ``enum``/``const``,
``contains``, combinators, ``not``, ``if``/``then``/``else``.  An array of
objects or of arrays is a typed leaf with ``minItems``/``maxItems`` and a
per-element check.  Input with no JSON token (``''``) parses to a NULL
struct and fails.

Parser options close the remaining lenient spots: ``allowSingleQuotes``
and ``allowNonNumericNumbers`` are off, so ``{'k': 1}`` and
``{"n": "NaN"}`` are corrupt, as ``json.loads`` + ``jsonschema`` judge
them.  Duplicate keys keep the last value, as ``json.loads`` does.

Soundness preconditions (raise :class:`CompileError` otherwise — callers
fall back to the UDF path via :func:`json_column_predicate_auto`):

* root: ``type: object`` with a ``properties`` dict; object nodes carry
  only ``properties``, ``required`` (each key declared) and
  ``additionalProperties`` (``true``, or ``false`` at the root only —
  ``get_json_object`` keeps the *first* of duplicate nested keys, the
  struct parse the last, so a nested key test would disagree).
  Object-level combinators, ``enum``/``const``, ``patternProperties``,
  ``propertyNames``, min/maxProperties and dependencies need the whole
  document, not the declared fields;
* every property and array ``items`` schema declares one explicit
  ``type`` (optionally with ``"null"``); no ``$ref`` (it would resolve
  against the leaf), ``unevaluated*``, ``prefixItems`` or ``content*``
  anywhere in a leaf;
* nested objects and arrays of objects or arrays are required and
  non-nullable (a VARIANT leaf decodes scalars only); arrays have one
  ``items`` schema; property names differ case-insensitively (struct
  field access ignores case);
* no ``pattern`` that needs the Arrow-batched judge and no ``format`` checked
  in Python (a Python UDF cannot run inside the binding lambda);
* ``integer`` needs draft ≥ 6 (a parsed ``1.0`` and ``1`` are the same
  double, and draft 4 says only the latter is an integer).

Known caveats (the UDF path has none of them): JSON integers beyond 2^53
lose precision as doubles (the interpreter keeps exact ints); trailing
content after the root object (``{"k": 1} x``) is ignored by the parser,
where ``json.loads`` rejects it; ``NaN``/``Infinity`` literals, which
``json.loads`` accepts, are corrupt here; and a duplicate key whose
*earlier* value has the wrong type corrupts a typed leaf even when the
last value is valid.
"""

from __future__ import annotations

from typing import Any, Callable

from pyspark.sql import Column, functions as F, types as T

from go_jsonschema_spark.compile import (
    _ANNOTATION_KEYS,
    CompileError,
    compile_predicate,
)
from go_jsonschema_spark.functions.formats import _PYTHON_FORMATS
from go_jsonschema_spark.functions.regex import java_regex_ok

__all__ = ["json_column_predicate_native", "json_column_predicate_auto"]

_CORRUPT = "__corrupt__"
_PARSE_OPTIONS = {
    "columnNameOfCorruptRecord": _CORRUPT,
    "allowSingleQuotes": "false",
    "allowNonNumericNumbers": "false",
}

# keywords an object node may carry: object-level combinators,
# enum/const and key introspection would need the whole document
_OBJECT_KEYWORDS = {"type", "properties", "required",
                    "additionalProperties"} | _ANNOTATION_KEYS
# keywords an array of objects or of arrays may carry besides ``items``
_NESTED_ARRAY_KEYWORDS = {"type", "items", "minItems",
                          "maxItems"} | _ANNOTATION_KEYS
# refused anywhere in a leaf schema: references resolve against the leaf,
# not the document; unevaluated* needs annotations; prefixItems is
# compiled under every draft and would meet elements parsed by ``items``;
# content* needs a decoder
_LEAF_REFUSED = {"$ref", "$recursiveRef", "$dynamicRef",
                 "unevaluatedProperties", "unevaluatedItems", "prefixItems",
                 "contentEncoding", "contentMediaType"}
_SUBSCHEMA_LISTS = ("allOf", "anyOf", "oneOf")
_SUBSCHEMAS = ("not", "if", "then", "else", "contains")
_VALUE_TYPES = {
    "integer": T.DoubleType,   # + compile's floor() integer-valuedness test
    "number": T.DoubleType,
    "string": T.StringType,
    "boolean": T.BooleanType,
}

# check: parsed (non-NULL) property value -> boolean Column
_Check = Callable[[Column], Column]


def _types_of(name: str, s: Any) -> tuple[str, bool]:
    """The one declared JSON type of ``s`` and whether it admits null."""
    if not isinstance(s, dict) or "type" not in s:
        raise CompileError(
            f"property {name!r}: native JSON path needs an explicit 'type'"
        )
    t = s["type"]
    types = list(t) if isinstance(t, list) else [t]
    nullable = "null" in types
    types = [x for x in types if x != "null"]
    if len(types) != 1 or types[0] not in (*_VALUE_TYPES, "array",
                                           "object"):
        raise CompileError(
            f"property {name!r}: type {t!r} stays on the UDF path")
    return types[0], nullable


def _only(name: str, s: dict, allowed: set) -> None:
    extra = set(s) - allowed
    if extra:
        raise CompileError(
            f"property {name!r}: {sorted(extra)} stay on the UDF path")


def _leaf_keywords(name: str, s: dict, draft: int) -> None:
    """Refuse what ``compile_predicate`` cannot judge on the parsed leaf
    value inside the binding lambda; everything else it compiles."""
    def refuse(why: str):
        raise CompileError(f"property {name!r}: {why} — UDF path")

    def walk(node: Any) -> None:
        if isinstance(node, list):
            for x in node:
                walk(x)
            return
        if not isinstance(node, dict):
            return
        if _LEAF_REFUSED & set(node):
            refuse(str(sorted(_LEAF_REFUSED & set(node))))
        for k in _SUBSCHEMA_LISTS:
            if k in node and not (isinstance(node[k], list) and all(
                    isinstance(x, (dict, bool)) for x in node[k])):
                refuse(f"invalid {k}")
        for k in _SUBSCHEMAS:
            if k in node and not isinstance(node[k], (dict, bool)):
                refuse(f"invalid {k}")
        # a Python UDF cannot run inside the binding lambda
        pattern, fmt = node.get("pattern"), node.get("format")
        if isinstance(pattern, str) and not java_regex_ok(pattern):
            refuse("ECMA-only pattern")
        if isinstance(fmt, str) and fmt in _PYTHON_FORMATS:
            refuse(f"format {fmt!r}")
        t = node.get("type")
        if draft < 6 and (t == "integer"
                          or isinstance(t, list) and "integer" in t):
            # a parsed 1.0 and 1 are the same double
            refuse("draft-4 integer needs the JSON text")
        for v in node.values():
            walk(v)

    walk(s)


# per JSON type: the schema_of_variant prefix length and the prefixes
# that pass (BIGINT, DOUBLE, DECIMAL(p,s), ARRAY<...>; VOID is JSON null)
_VARIANT_TYPES = {
    "string": (6, ("STRING", "VOID")),
    "boolean": (7, ("BOOLEAN", "VOID")),
    "number": (4, ("BIGI", "DOUB", "DECI", "VOID")),
    "integer": (4, ("BIGI", "DOUB", "DECI", "VOID")),
    "array": (5, ("ARRAY", "VOID")),
}


def _let(value: Column, body: Callable[[Column], Column]) -> Column:
    """``body(value)`` with ``value`` evaluated once per row: lambda bodies
    get no common-subexpression elimination, so a single-element
    ``transform`` binds it."""
    return F.element_at(F.transform(F.array(value), body), 1)


def _variant_is(t: str, v: Column) -> Column:
    """``v`` holds JSON type ``t`` or JSON null (VOID)."""
    n, prefixes = _VARIANT_TYPES[t]
    return F.substring(F.schema_of_variant(v), 1, n).isin(*prefixes)


def _variant_value(t: str, v: Column) -> Column:
    return F.try_variant_get(v, "$", _VALUE_TYPES[t]().simpleString())


def _scalar_items(name: str, s: dict) -> str:
    items = s.get("items")
    if not isinstance(items, dict):
        raise CompileError(
            f"property {name!r}: array needs a single items schema")
    it, _ = _types_of(f"{name}[]", items)
    if it not in _VALUE_TYPES:
        raise CompileError(f"property {name!r}: array of {it} — UDF path")
    return it


def _variant_elements(s: dict, it: str, draft: int) -> _Check:
    """Check over ``array<variant>``: every element holds JSON type ``it``
    (or null), and the decoded array feeds the typed compiler."""
    at = T.ArrayType(_VALUE_TYPES[it]())
    return lambda arr: F.coalesce(
        F.forall(arr, lambda x: _variant_is(it, x)), F.lit(True)
    ) & _let(F.transform(arr, lambda x: _variant_value(it, x)),
             lambda v: compile_predicate(s, v, at, draft=draft))


def _typed(name: str, s: dict, t: str, draft: int
           ) -> tuple[T.DataType, _Check]:
    """(parse type, check) for a value the parser types strictly — a
    wrong JSON type lands in the corrupt record; strings, which the
    parser coerces, become ``variant`` elements."""
    if t == "object":
        return _object(s, draft, root=False)
    if t != "array":
        _leaf_keywords(name, s, draft)
        dt = _VALUE_TYPES[t]()
        return dt, lambda f: compile_predicate(s, f, dt, draft=draft)
    items = s.get("items")
    it, it_nullable = (_types_of(f"{name}[]", items)
                       if isinstance(items, dict) else ("", False))
    if it in ("array", "object"):
        # array-level bounds, then each element against its own check
        _only(name, s, _NESTED_ARRAY_KEYWORDS)
        et, elem = _typed(f"{name}[]", items, it, draft)
        at = T.ArrayType(et)
        bounds = {k: s[k] for k in ("minItems", "maxItems") if k in s}
        return at, lambda arr: compile_predicate(
            bounds, arr, at, draft=draft
        ) & F.forall(arr, lambda x: F.when(
            x.isNull(), F.lit(it_nullable)).otherwise(elem(x)))
    _leaf_keywords(name, s, draft)
    it = _scalar_items(name, s)
    if it == "string":
        return T.ArrayType(T.VariantType()), _variant_elements(s, it, draft)
    at = T.ArrayType(_VALUE_TYPES[it]())
    return at, lambda arr: compile_predicate(s, arr, at, draft=draft)


def _variant(name: str, s: dict, t: str, draft: int) -> _Check:
    """Check over a VARIANT leaf: its JSON type, then its decoded value
    against the typed compiler."""
    if t == "object":
        raise CompileError(
            f"property {name!r}: optional or nullable object — UDF path")
    _leaf_keywords(name, s, draft)
    if t == "array":
        elements = _variant_elements(s, _scalar_items(name, s), draft)
        return lambda f: _variant_is("array", f) & _let(
            F.try_variant_get(f, "$", "array<variant>"), elements)
    vt = _VALUE_TYPES[t]()
    return lambda f: _variant_is(t, f) & _let(
        _variant_value(t, f),
        lambda v: compile_predicate(s, v, vt, draft=draft))


def _property(name: str, s: Any, required: bool, draft: int
              ) -> tuple[T.DataType, _Check]:
    """(parse type, check) for one property; the check sees the parsed
    value only when the key is present."""
    t, nullable = _types_of(name, s)
    if required and not nullable and t != "string":
        return _typed(name, s, t, draft)
    return T.VariantType(), _variant(name, s, t, draft)


def _object(schema: Any, draft: int, root: bool
            ) -> tuple[T.StructType, _Check]:
    if not isinstance(schema, dict) or not isinstance(
        schema.get("properties"), dict
    ):
        raise CompileError(
            "native JSON path needs 'type: object' with 'properties'"
        )
    _only("$" if root else "object", schema, _OBJECT_KEYWORDS)
    props = schema["properties"]
    names = [k.lower() for k in props] + [_CORRUPT]
    if len(set(names)) != len(names):
        # struct field access is case-insensitive by default
        raise CompileError(
            "property names clash case-insensitively — UDF path")
    req = set(schema.get("required", []))
    missing = req - set(props)
    if missing:
        raise CompileError(f"required without property schema: {missing}")
    ap = schema.get("additionalProperties", True)
    if ap is not True and not (ap is False and root):
        raise CompileError(
            "additionalProperties other than true (false at the root) — "
            "UDF path"
        )
    fields: list[T.StructField] = []
    checks: list[tuple[str, bool, _Check]] = []
    for k, s in props.items():
        dt, check = _property(k, s, k in req, draft)
        fields.append(T.StructField(k, dt))
        checks.append((k, k in req, check))

    def check_object(obj: Column) -> Column:
        ok = F.lit(True)
        for k, is_req, check in checks:
            field = obj.getField(k)
            if is_req:
                ok = ok & field.isNotNull()
            ok = ok & F.when(field.isNull(), F.lit(True)).otherwise(
                F.coalesce(check(field), F.lit(False)))
        return ok

    return T.StructType(fields), check_object


def json_column_predicate_native(
    schema: Any, *, draft: int = 7
) -> Callable[[Column], Column]:
    """Column → boolean Column: validate JSON strings against a static
    object schema with zero Python in the row path.

    The plan is scan → one from_json per row → whole-stage-codegen
    predicate (plus one top-level key scan when the root is closed)."""
    if not isinstance(schema, dict):
        raise CompileError("boolean/invalid schema — UDF path")
    t, nullable = _types_of("$", schema)
    if t != "object" or nullable:
        raise CompileError("native JSON path needs a non-null object root")
    st, check = _object(schema, draft, root=True)
    st_parse = T.StructType(
        [*st.fields, T.StructField(_CORRUPT, T.StringType())]
    )
    closed = (sorted(schema["properties"])
              if schema.get("additionalProperties") is False else None)

    def apply(col: Column) -> Column:
        parsed = F.from_json(col, st_parse, _PARSE_OPTIONS)

        # let-bind the parsed struct ONCE: JsonToStructs is
        # CodegenFallback, so it gets no common-subexpression elimination
        # — without the binding, CollapseProject inlines the predicate
        # into every reference and the engine's violations plan re-parses
        # the JSON ~10× per row (measured 2.9 s → 0.9 s on the sf0.1
        # suite).  Everything inside the lambda stays native.
        def body(p: Column) -> Column:
            # input with no JSON token ('', '   ') parses to a NULL struct
            # with a NULL corrupt field
            ok = p.isNotNull() & p.getField(_CORRUPT).isNull() & check(p)
            if closed is not None:
                keys = F.json_object_keys(col)
                ok = ok & (F.forall(keys, lambda k: k.isin(closed))
                           if closed else F.size(keys) == 0)
            return F.coalesce(ok, F.lit(False))

        return _let(parsed, body)

    return apply


def json_column_predicate_auto(schema: Any, *, draft: int = 7):
    """Native when the schema qualifies, Arrow-batched interpreter UDF
    otherwise — same verdicts either way."""
    try:
        return json_column_predicate_native(schema, draft=draft)
    except CompileError:
        from go_jsonschema_spark.compile import json_column_predicate

        return json_column_predicate(schema, draft=draft)
