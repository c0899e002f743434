"""Fully-native validation of JSON *string* columns with static schemas.

The dynamic path (compile.json_column_predicate) runs an Arrow-batched
Python interpreter — correct for arbitrary schemas, but Python-side.  For
the common production case — a STATIC object schema with typed properties
(e.g. ``events.props``) — the same verdicts can stay entirely JVM-side:

    from_json(col, derived_struct, corrupt-record option)
      → compile_predicate(schema, parsed_struct)      # typed Catalyst path
      → AND parse-success (corrupt-record field IS NULL)
      → AND per-string-field type witnesses (variant schema_of)

``from_json``'s PERMISSIVE corrupt-record column flags malformed JSON,
non-object JSON, and type-mismatched numeric/boolean/array/object values —
exactly the cases the interpreter rejects for a typed property.  Two
parser lenient spots are closed explicitly (both verified empirically and
differential-tested in tests/test_json_native.py):

* STRING targets coerce any JSON value to its text (``5`` → ``"5"``) — a
  per-field type witness ``schema_of_variant(try_variant_get(
  try_parse_json(col), '$.path', 'variant'))`` must read STRING/VOID;
* array elements parse JSON ``null`` without tripping the corrupt record —
  non-nullable item types get a ``forall(x IS NOT NULL)`` conjunct.

Soundness preconditions (raise :class:`CompileError` otherwise — callers
fall back to the UDF path via :func:`json_column_predicate_auto`):

* root: ``type: object`` with a ``properties`` dict; no
  patternProperties / additionalProperties(false|schema) / propertyNames /
  min-maxProperties / dependencies (those need key introspection a struct
  parse discards);
* every property declares an explicit ``type`` (scalar, object, array, or
  ``[T, "null"]``) — an untyped property would be vacuously valid to the
  interpreter on "wrong" types but corrupt to the parser;
* every property whose type excludes ``null`` is ``required`` (JSON
  ``null`` parses to SQL NULL without tripping the corrupt record; for a
  required property both paths reject it — required-fail natively,
  type-fail in the interpreter — for an optional one verdicts diverge);
* string-typed properties sit at a dotted path of word-character keys and
  not under an array (the type witness needs an addressable JSON path);
  arrays *of strings* stay on the UDF path.

Known precision caveat: JSON integers beyond 2^53 lose precision in the
DoubleType parse (the interpreter keeps exact ints).
"""

from __future__ import annotations

import re
from typing import Any, Callable

from pyspark.sql import Column, functions as F, types as T

from go_jsonschema_spark.compile import CompileError, compile_predicate

__all__ = ["json_column_predicate_native", "json_column_predicate_auto"]

_CORRUPT = "__corrupt__"
_KEY_RE = re.compile(r"^[A-Za-z0-9_]+$")

_SCALARS = {
    "integer": T.DoubleType,   # + compile's floor() integer-valuedness test
    "number": T.DoubleType,
    "string": T.StringType,
    "boolean": T.BooleanType,
}

_UNSUPPORTED_ROOT = (
    "patternProperties", "propertyNames", "minProperties", "maxProperties",
    "dependencies", "dependentSchemas", "dependentRequired",
)

# conjunct: (raw json column, parsed field column) -> boolean Column
_Conjunct = Callable[[Column, Column], Column]


def _witness(raw: Column, path: str) -> Column:
    """Per-row JSON type name at ``path`` ('STRING', 'BIGINT', 'VOID', ...)
    — the native escape from from_json's lenient string coercion."""
    return F.schema_of_variant(
        F.try_variant_get(F.try_parse_json(raw), path, "variant")
    )


def _types_of(name: str, s: Any) -> tuple[str, bool]:
    if not isinstance(s, dict) or "type" not in s:
        raise CompileError(
            f"property {name!r}: native JSON path needs an explicit 'type'"
        )
    t = s["type"]
    types = list(t) if isinstance(t, list) else [t]
    nullable = "null" in types
    types = [x for x in types if x != "null"]
    if len(types) != 1:
        raise CompileError(f"property {name!r}: union types stay on the UDF path")
    return types[0], nullable


def _walk(
    name: str, s: Any, required: bool, path: str | None
) -> tuple[T.DataType, list[_Conjunct]]:
    """Derive the Spark type for one property schema + the strictness
    conjuncts from the module docstring.  ``path`` is the JSON path of this
    property, or None when unaddressable (under an array)."""
    t, nullable = _types_of(name, s)
    if not nullable and not required:
        raise CompileError(
            f"property {name!r}: optional non-nullable property — JSON null "
            "vs absent is indistinguishable after a struct parse"
        )
    if t in _SCALARS:
        conj: list[_Conjunct] = []
        if t == "string":
            if path is None:
                raise CompileError(
                    f"property {name!r}: string under an array — no "
                    "addressable path for the type witness"
                )
            p = path

            def string_witness(raw: Column, field: Column) -> Column:
                w = _witness(raw, p)
                return w.isNull() | w.isin("STRING", "VOID")

            conj.append(string_witness)
        return _SCALARS[t](), conj
    if t == "object":
        return _object_struct(s, path)
    if t == "array":
        items = s.get("items")
        if not isinstance(items, dict):
            raise CompileError(
                f"property {name!r}: array needs a single items schema"
            )
        it, it_nullable = _types_of(f"{name}[]", items)
        if it == "string":
            raise CompileError(
                f"property {name!r}: array of strings — per-element type "
                "witnesses are not addressable; UDF path"
            )
        # element position is not addressable → recurse with path=None and
        # required=True (the null case is handled by the forall conjunct)
        et, econj = _walk(f"{name}[]", items, required=True, path=None)
        if econj:
            raise CompileError(
                f"property {name!r}: array elements need witnesses; UDF path"
            )
        conj = []
        if not it_nullable:
            def no_null_elements(raw: Column, field: Column) -> Column:
                return F.when(field.isNull(), F.lit(True)).otherwise(
                    F.forall(field, lambda x: x.isNotNull())
                )

            conj.append(no_null_elements)
        return T.ArrayType(et), conj
    raise CompileError(f"property {name!r}: unsupported type {t!r}")


def _object_struct(
    schema: dict, path: str | None
) -> tuple[T.StructType, list[_Conjunct]]:
    if schema.get("type") != "object" or not isinstance(
        schema.get("properties"), dict
    ):
        raise CompileError(
            "native JSON path needs 'type: object' with 'properties'"
        )
    for kw in _UNSUPPORTED_ROOT:
        if kw in schema:
            raise CompileError(f"{kw} needs key introspection — UDF path")
    ap = schema.get("additionalProperties", True)
    if ap is not True:
        raise CompileError("additionalProperties != true — UDF path")
    req = set(schema.get("required", []))
    missing = req - set(schema["properties"])
    if missing:
        raise CompileError(f"required without property schema: {missing}")
    fields: list[T.StructField] = []
    conjuncts: list[_Conjunct] = []
    for k, s in schema["properties"].items():
        child_path = None
        if path is not None and _KEY_RE.match(k):
            child_path = f"{path}.{k}"
        dt, child_conj = _walk(k, s, k in req, child_path)
        fields.append(T.StructField(k, dt))
        for c in child_conj:
            def lifted(raw: Column, obj: Column, _c=c, _k=k) -> Column:
                field = obj.getField(_k)
                # child checks are vacuous when the whole object is null
                return F.when(obj.isNull(), F.lit(True)).otherwise(
                    _c(raw, field)
                )

            conjuncts.append(lifted)
    return T.StructType(fields), conjuncts


def json_column_predicate_native(
    schema: Any, *, draft: int = 7
) -> Callable[[Column], Column]:
    """Column → boolean Column: validate JSON strings against a static
    object schema with zero Python in the row path.

    The plan is scan → from_json (+ one try_parse_json per string-typed
    property for the type witness) → whole-stage-codegen predicate; at
    100 TB this removes the Arrow hop and the Python worker pool."""
    if not isinstance(schema, dict):
        raise CompileError("boolean/invalid schema — UDF path")
    st, conjuncts = _object_struct(schema, "$")
    st_parse = T.StructType(
        [*st.fields, T.StructField(_CORRUPT, T.StringType())]
    )

    def apply(col: Column) -> Column:
        parsed = F.from_json(
            col, st_parse, {"columnNameOfCorruptRecord": _CORRUPT}
        )

        # let-bind the parsed struct ONCE via a single-element transform:
        # JsonToStructs is CodegenFallback, so it gets no common-
        # subexpression elimination — without the binding, CollapseProject
        # inlines the predicate into every reference and the engine's
        # violations plan re-parses the JSON ~10× per row (measured 2.9 s
        # → 0.9 s on the sf0.1 suite).  The lambda variable is evaluated
        # exactly once per row; everything inside stays native.
        def body(p: Column) -> Column:
            ok = col.isNotNull() & p.getField(_CORRUPT).isNull()
            ok = ok & compile_predicate(schema, p, st_parse, draft=draft)
            for c in conjuncts:
                ok = ok & F.coalesce(c(col, p), F.lit(False))
            return F.coalesce(ok, F.lit(False))

        return F.element_at(F.transform(F.array(parsed), body), 1)

    return apply


def json_column_predicate_auto(schema: Any, *, draft: int = 7):
    """Native when the schema qualifies, Arrow-batched interpreter UDF
    otherwise — same verdicts either way."""
    try:
        return json_column_predicate_native(schema, draft=draft)
    except CompileError:
        from go_jsonschema_spark.compile import json_column_predicate

        return json_column_predicate(schema, draft=draft)
