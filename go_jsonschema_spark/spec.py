"""Declarative constraint-spec model.

Mirrors the reference's closed keyword set (the 46 ``SchemaProp`` constants,
/root/reference/schema_types.go:112-160) as plain dicts with a normalization
and sanity-check layer, plus the table-level check vocabulary the north star
adds (unique / foreign_key / stats / drift / row expression checks) that the
reference does not have (SURVEY.md §2.8).

Design choice vs the reference: the reference materializes a recursive
``Schema`` struct tree with pointer-typed keyword fields
(/root/reference/schema.go:31-179).  Here a schema stays a JSON-shaped dict
("spec") — lossless round-trip (unknown keywords preserved, like
/root/reference/parser.go:90-99) comes for free, and the compile step
(compile.py) and the closure compiler (interp_compile.py) consume the dict
directly.
"""

from __future__ import annotations

import json
from dataclasses import dataclass, field
from typing import Any, Callable

# The reference's known keyword set, /root/reference/schema_types.go:163-211.
KNOWN_KEYWORDS = frozenset(
    {
        "$id",
        "id",  # draft-4 spelling
        "$ref",
        "$schema",
        "$comment",
        "title",
        "description",
        "default",
        "readOnly",
        "writeOnly",
        "examples",
        "multipleOf",
        "maximum",
        "exclusiveMaximum",
        "minimum",
        "exclusiveMinimum",
        "maxLength",
        "minLength",
        "pattern",
        "additionalItems",
        "items",
        "maxItems",
        "minItems",
        "uniqueItems",
        "contains",
        "maxProperties",
        "minProperties",
        "required",
        "properties",
        "patternProperties",
        "additionalProperties",
        "dependencies",
        "propertyNames",
        "const",
        "enum",
        "type",
        "format",
        "contentMediaType",
        "contentEncoding",
        "definitions",
        "$defs",
        "if",
        "then",
        "else",
        "allOf",
        "anyOf",
        "oneOf",
        "not",
        # draft 2019-09 additions we support beyond the reference (the
        # reference skips these, validate_test.go:37-56; we implement the
        # self-contained ones for forward-compat)
        "dependentRequired",
        "dependentSchemas",
        "minContains",
        "maxContains",
        "prefixItems",  # 2020-12 tuple form (items then = rest schema)
    }
)

# Schema positions: keywords whose value is one subschema, a list of
# subschemas, or a map of names to subschemas (``items`` is one or a list;
# ``dependencies`` values are schemas or property lists).  Every other
# keyword (enum, const, default, examples, unknown ones) holds data.  The
# grammar checks, the $id/$ref index and deref expansion all walk a spec
# through :func:`map_subschemas`, the one reader of this table.
_SCHEMA_ONE = frozenset({
    "additionalItems", "contains", "propertyNames", "additionalProperties",
    "if", "then", "else", "not",
    "unevaluatedItems", "unevaluatedProperties", "contentSchema",
})
_SCHEMA_LIST = frozenset({"allOf", "anyOf", "oneOf", "prefixItems"})
_SCHEMA_MAP = frozenset({
    "properties", "patternProperties", "definitions", "$defs",
    "dependentSchemas", "dependencies",
})
DATA = object()  # map_subschemas: the keyword holds data

JSON_TYPES = frozenset(
    {"string", "number", "integer", "object", "array", "boolean", "null"}
)


class SpecError(ValueError):
    """Raised for malformed specs (the compile-time analogue of the parse
    errors in /root/reference/parser.go)."""


def normalize_spec(spec: Any) -> Any:
    """Validate + normalize a schema spec dict (or boolean schema).

    Checks the keyword grammar the way the reference's parser switch does
    (/root/reference/parser.go:87-258): known keywords get shape checks,
    unknown keywords are preserved untouched (parser.go:90-99).  Returns the
    spec unchanged on success (dicts are already insertion-ordered, matching
    the reference's order-preserving Properties, schema_types.go:344-359).
    """
    if isinstance(spec, bool):
        # Boolean schemas: true accepts everything, false rejects everything
        # (/root/reference/validators.go:64-80).
        return spec
    if not isinstance(spec, dict):
        raise SpecError(f"schema spec must be dict or bool, got {type(spec).__name__}")

    t = spec.get("type")
    if t is not None:
        types = t if isinstance(t, list) else [t]
        for x in types:
            if x not in JSON_TYPES:
                raise SpecError(f"unknown type {x!r}")

    for kw in ("minimum", "maximum", "exclusiveMinimum", "exclusiveMaximum"):
        v = spec.get(kw)
        if v is not None and not isinstance(v, (int, float, bool)):
            # bool allowed for draft-4 exclusive flags (schema.go:173-178)
            raise SpecError(f"{kw} must be numeric (or bool in draft 4)")
    for kw in ("minLength", "maxLength", "minItems", "maxItems",
               "minProperties", "maxProperties"):
        v = spec.get(kw)
        if v is not None and (isinstance(v, bool) or not isinstance(v, int) or v < 0):
            raise SpecError(f"{kw} must be a non-negative integer")
    mo = spec.get("multipleOf")
    if mo is not None and (isinstance(mo, bool) or not isinstance(mo, (int, float)) or mo <= 0):
        raise SpecError("multipleOf must be a positive number")
    if "enum" in spec and not isinstance(spec["enum"], list):
        raise SpecError("enum must be an array")
    if "required" in spec and not (
        isinstance(spec["required"], list)
        and all(isinstance(x, str) for x in spec["required"])
    ):
        raise SpecError("required must be an array of strings")

    for kw, v in spec.items():
        map_subschemas(kw, v, normalize_spec)
    dreq = spec.get("dependentRequired")
    if dreq is not None:
        if not isinstance(dreq, dict) or not all(
            isinstance(v, list) and all(isinstance(x, str) for x in v)
            for v in dreq.values()
        ):
            raise SpecError("dependentRequired must map keys to string arrays")
    for kw in ("minContains", "maxContains"):
        v = spec.get(kw)
        if v is not None and (isinstance(v, bool) or not isinstance(v, int) or v < 0):
            raise SpecError(f"{kw} must be a non-negative integer")
    return spec


def map_subschemas(kw: str, value: Any, f: Callable[[Any], Any]) -> Any:
    """Apply ``f`` to every subschema that keyword ``kw`` holds and return
    ``value`` with each subschema replaced by ``f``'s result, or
    :data:`DATA` when ``kw`` holds data.  Property lists under
    ``dependencies`` come back as copies.  Raises :class:`SpecError` when
    the container has the wrong shape (the reference parser's errors for
    a non-array ``allOf`` or a non-object ``properties``)."""
    if kw in _SCHEMA_ONE or (kw == "items" and not isinstance(value, list)):
        return f(value)
    if kw in _SCHEMA_LIST or kw == "items":
        if not isinstance(value, list) or not (value or kw == "items"):
            raise SpecError(f"{kw} must be a non-empty array of schemas")
        return [f(s) for s in value]
    if kw not in _SCHEMA_MAP:
        return DATA
    if not isinstance(value, dict):
        raise SpecError(f"{kw} must be an object")
    out = {}
    for k, v in value.items():
        if kw == "dependencies" and isinstance(v, list):
            if not all(isinstance(x, str) for x in v):
                raise SpecError("property dependency must list strings")
            out[k] = list(v)
        else:
            out[k] = f(v)
    return out


def unescape_pointer(token: str) -> str:
    """JSON-Pointer ``~1``/``~0`` unescaping
    (/root/reference/schema_refs.go:20-44)."""
    return token.replace("~1", "/").replace("~0", "~")


def _pointer_token(raw: str) -> str:
    """Decode one JSON-Pointer token: RFC3986 %-decode then RFC6901
    ``~1``/``~0`` unescape (schema_refs.go:20-44 analogue + URI escaping)."""
    from urllib.parse import unquote

    return unescape_pointer(unquote(raw))


def _norm_uri(u: str) -> str:
    """Canonical registry key: strip an empty trailing fragment."""
    return u[:-1] if u.endswith("#") else u


@dataclass
class SchemaSpec:
    """A parsed + normalized schema spec with its ``$id`` registry and
    per-node base-URI context.

    The registry plays the role of the reference's ``pointers`` map
    (/root/reference/schema_types.go:29, populated at parser.go:271-299):
    any subschema carrying ``$id``/``id`` is addressable for ``$ref``, with
    relative ``$id`` resolved against the enclosing base URI chain
    (ExpandURI analogue, schema_refs.go:73-116).  ``base_of`` records, for
    every dict node, the base *document* node and base URI in scope — this
    is what makes ``#/definitions/x`` inside an ``$id``-carrying subschema
    resolve against that subschema, not the root.  ``refs`` lists every
    ``$ref``/``$dynamicRef``/``$recursiveRef`` at a schema position as a
    ``(ref, base URI in scope)`` pair — the reference's flat ``refs`` list
    (parser.go:301-309), which remote-ref discovery reads.
    """

    root: Any  # dict or bool
    registry: dict[str, Any] = field(default_factory=dict)
    base_uri: str = ""  # retrieval URI (remote-doc registration)

    def __post_init__(self) -> None:
        normalize_spec(self.root)
        self.base_of: dict[int, tuple[Any, str]] = {}
        self.dyn_anchors: dict[int, dict[str, Any]] = {}
        self.refs: list[tuple[str, str]] = []
        self._index(self.root, self.root, self.base_uri)
        _, root_uri = self.base_of.get(id(self.root), (None, self.base_uri))
        if root_uri:
            self.registry[root_uri] = self.root

    # -- $id indexing (parser.go:44-85 analogue) -------------------------
    def _index(
        self, node: Any, base_node: Any, base_uri: str,
        schema_pos: bool = True,
    ) -> None:
        """Record base context for EVERY nested node (schemas can live
        under unknown container keys — the reference reaches them via
        raw-byte path fallback, schema_refs.go:248-256), but register
        ``$id`` and collect ``refs`` only at schema positions: an id
        inside ``enum``/``const``/unknown keywords is data, not an
        identifier (the suite's id.json / unknownKeyword.json cases)."""
        from urllib.parse import urljoin

        if isinstance(node, list):
            for s in node:
                self._index(s, base_node, base_uri, schema_pos)
            return
        if not isinstance(node, dict):
            return
        if schema_pos:
            sid = node.get("$id") or node.get("id")
            if isinstance(sid, str) and sid:
                if sid.startswith("#") and len(sid) > 1:
                    # plain-name fragment: location-independent anchor
                    anchor = _norm_uri(
                        urljoin(base_uri, sid) if base_uri else sid
                    )
                    self.registry[anchor] = node
                else:
                    base_uri = _norm_uri(
                        urljoin(base_uri, sid) if base_uri else sid
                    )
                    base_node = node
                    self.registry[base_uri] = node
            # 2019-09+ $anchor: the split-out plain-name form of draft-7's
            # `$id: "#name"` — registered AFTER $id so it anchors in the
            # (possibly new) base established by a sibling $id
            for anchor_kw in ("$anchor", "$dynamicAnchor"):
                anc = node.get(anchor_kw)
                if isinstance(anc, str) and anc:
                    self.registry[
                        _norm_uri(
                            urljoin(base_uri, "#" + anc) if base_uri
                            else "#" + anc
                        )
                    ] = node
                    if anchor_kw == "$dynamicAnchor":
                        # per-resource name → node map for the dynamic-scope
                        # lookup ($dynamicRef bookending, 2020-12)
                        self.dyn_anchors.setdefault(
                            id(base_node), {}
                        ).setdefault(anc, node)
            for ref_kw in ("$ref", "$dynamicRef", "$recursiveRef"):
                ref = node.get(ref_kw)
                if isinstance(ref, str) and ref:
                    self.refs.append((ref, base_uri))
        self.base_of[id(node)] = (base_node, base_uri)

        def sub(s: Any) -> None:
            self._index(s, base_node, base_uri)

        for k, v in node.items():
            if not schema_pos or map_subschemas(k, v, sub) is DATA:
                # enum/const/default/examples/unknown keywords: data
                self._index(v, base_node, base_uri, False)
            elif isinstance(v, dict):  # a map of subschemas (or one)
                self.base_of.setdefault(id(v), (base_node, base_uri))

    def _context(self, at: Any) -> tuple[Any, str]:
        if at is not None and id(at) in self.base_of:
            return self.base_of[id(at)]
        if isinstance(self.root, dict):
            return self.base_of.get(id(self.root), (self.root, ""))
        return (self.root, "")

    @staticmethod
    def _walk_pointer(node: Any, frag: str, ref: str) -> Any:
        for raw in frag.split("/"):
            token = _pointer_token(raw)
            if isinstance(node, list):
                try:
                    node = node[int(token)]
                except (ValueError, IndexError) as e:
                    raise SpecError(f"unresolvable $ref {ref!r}") from e
            elif isinstance(node, dict):
                if token not in node:
                    raise SpecError(f"unresolvable $ref {ref!r}")
                node = node[token]
            else:
                raise SpecError(f"unresolvable $ref {ref!r}")
        return node

    # -- $ref resolution (schema_refs.go:157-358 analogue, local only) ----
    def resolve_ref(
        self, ref: str, *, at: Any = None, extra: dict[str, Any] | None = None
    ) -> Any:
        """Resolve ``#``, ``#/json/pointer``, ``#anchor`` and absolute /
        relative URI refs against the base in scope at node ``at``.

        Remote HTTP fetch (schema_refs.go:300-345) is intentionally absent:
        executors never fetch; cross-spec refs go through the registry
        (AddSchema analogue) and the official meta-schemas
        (schemas.go:10-50 analogue, :func:`meta_schemas`).
        """
        from urllib.parse import unquote, urljoin

        base_node, base_uri = self._context(at)

        if ref in ("#", ""):
            return base_node
        if ref.startswith("#/"):
            return self._walk_pointer(base_node, ref[2:], ref)

        def _lookup(uri: str) -> Any | None:
            uri = _norm_uri(uri)
            for table in (self.registry, extra or {}):
                if uri in table:
                    hit = table[uri]
                    # registered remote documents are full SchemaSpecs
                    # (AddSchema analogue, schema_refs.go:118-129)
                    return hit
            return meta_schemas().get(uri)

        def _unwrap(x: Any) -> Any:
            return x.root if isinstance(x, SchemaSpec) else x

        if ref.startswith("#"):
            # plain-name anchor in the current base document
            full = _norm_uri((base_uri or "") + ref)
            hit = _lookup(full) or _lookup(ref)
            if hit is not None:
                return _unwrap(hit)
            raise SpecError(f"unresolvable $ref {ref!r}")

        doc, _, frag = ref.partition("#")
        full_doc = _norm_uri(urljoin(base_uri, doc) if base_uri else doc)
        target = _lookup(full_doc)
        if target is None:
            target = _lookup(doc)
        if target is None:
            # suffix match against registered ids (relative-uri laxness,
            # mirroring the reference's fallback walks)
            for key in self.registry:
                if key.endswith("/" + doc) or key == doc:
                    target = self.registry[key]
                    break
        if target is None:
            raise SpecError(f"unresolvable $ref {ref!r}")
        owner = target if isinstance(target, SchemaSpec) else None
        target = _unwrap(target)
        if frag:
            if frag.startswith("/"):
                return (
                    self._walk_pointer(target, frag[1:], ref)
                    if len(frag) > 1
                    else target
                )
            if owner is not None and (full_doc + "#" + frag) in owner.registry:
                return owner.registry[full_doc + "#" + frag]
            anchored = _lookup(full_doc + "#" + frag)
            if anchored is not None:
                return _unwrap(anchored)
            raise SpecError(f"unresolvable $ref {ref!r}")
        return target


# The official meta-schemas by URI; filled on first use by meta_schemas()
META_SCHEMAS: dict[str, SchemaSpec] = {}

# each draft's root meta-schema; 2019-09 and 2020-12 $ref their
# vocabulary documents, which META_SCHEMAS also holds
_META_ROOT = {
    4: "http://json-schema.org/draft-04/schema",
    6: "http://json-schema.org/draft-06/schema",
    7: "http://json-schema.org/draft-07/schema",
    2019: "https://json-schema.org/draft/2019-09/schema",
    2020: "https://json-schema.org/draft/2020-12/schema",
}


def meta_schemas() -> dict[str, SchemaSpec]:
    """The draft-04/06/07/2019-09/2020-12 meta-schemas and the 2019-09/
    2020-12 vocabulary documents, as published and installed by
    ``jsonschema_specifications`` (the reference embeds the same
    documents, schemas.go:10-50): one :class:`SchemaSpec` per document,
    under its URI with both the http and the https scheme (lookups strip
    an empty ``#``, as the reference's shortcut table
    schema_refs.go:269-279 lists both forms)."""
    if not META_SCHEMAS:
        from jsonschema_specifications import REGISTRY

        table = {}
        for uri in REGISTRY:
            if "/draft-03/" not in uri:
                doc = SchemaSpec(REGISTRY.contents(uri))
                rest = uri.partition(":")[2]
                table["http:" + rest] = table["https:" + rest] = doc
        META_SCHEMAS.update(table)
    return META_SCHEMAS


def deref_expand(spec: "SchemaSpec", circular_threshold: int = 3) -> Any:
    """The reference's bounded DeRef'd-expansion serialization
    (deref_test.go golden behavior) as a pure tree transform: every
    ``$ref`` at a schema position is replaced by its resolved target,
    expanded recursively; a ref re-entered while ``circular_threshold``
    of its expansions are already on the walk stack stays a ``$ref``
    node verbatim (sibling/retained properties kept — schema.go:230-252
    "keep ignored properties"), which is exactly how the reference's
    per-ref ``marshalled`` counter behaves: it increments before each
    nested marshal and resets on unwind (schema.go:223-228), so the
    counter equals the number of this ref's expansions on the stack.
    Unresolvable refs also stay verbatim instead of failing the whole
    serialization.  ``$ref`` inside data positions (enum/const/unknown
    keywords) is data and never expands."""
    import copy

    counts: dict[int, int] = {}

    def walk(node: Any) -> Any:
        if not isinstance(node, dict):
            return copy.deepcopy(node)
        if isinstance(node.get("$ref"), str):
            c = counts.get(id(node), 0)
            if c < circular_threshold:
                try:
                    target = spec.resolve_ref(node["$ref"], at=node)
                except SpecError:
                    target = None
                if target is not None:
                    # the expansion REPLACES the whole node (the
                    # reference marshals *s.Ref.Schema alone —
                    # schema.go:223-227; $ref siblings drop)
                    counts[id(node)] = c + 1
                    try:
                        return walk(target)
                    finally:
                        counts[id(node)] = c
            return copy.deepcopy(node)
        out: dict[str, Any] = {}
        for k, v in node.items():
            sub = map_subschemas(k, v, walk)
            out[k] = copy.deepcopy(v) if sub is DATA else sub
        return out

    return walk(spec.root)


def validate_spec_against_metaschema(spec: Any, draft: int = 7) -> list[str]:
    """Validate a schema spec against its draft's official meta-schema
    (:func:`meta_schemas`) — the analogue of the reference's package-level
    ``Validate`` (validate.go:12-29): compile-time
    self-validation, no Spark involved.  Returns a list of errors
    (empty = valid)."""
    from go_jsonschema_spark.interp import validate_instance

    meta = meta_schemas()[_META_ROOT[draft]].root
    return validate_instance(meta, spec, draft=draft, collect_all=True).errors


# ---------------------------------------------------------------------------
# Table-level spec (north-star vocabulary — new vs the reference, SURVEY §2.8)
# ---------------------------------------------------------------------------

_TABLE_CHECK_KINDS = frozenset(
    {"unique", "foreign_key", "stats", "drift", "row_count", "completeness",
     "functional_dependency", "reconcile"}
)


@dataclass
class TableSpec:
    """A full table validation spec.

    ``columns``      — {column name: schema spec} per-column predicates.
    ``row_checks``   — cross-column SQL boolean expressions, each with an id
                       (e.g. the shape invariant ``n_tok = size(tokens)``).
    ``table_checks`` — dataset-level checks: unique / foreign_key / stats /
                       drift / row_count / completeness /
                       functional_dependency / reconcile (SURVEY.md §2.8
                       table + the r6 consistency family).
    ``tolerances``   — {constraint_id: mostly} pass-fraction floors (the
                       Great-Expectations ``mostly`` semantics): a
                       partition verdict treats constraint ``c`` as
                       passing when pass_fraction(c) >= mostly, i.e. a
                       bounded failure BUDGET instead of zero-tolerance.
                       Violation rows still materialize for every failing
                       row (detail is never suppressed); only the verdict
                       gate is tolerant.  Constraints absent from the map
                       stay strict (0 failures).  Values must be in
                       (0, 1]; the pass rule is evaluated in EXACT
                       integer arithmetic (``Fraction(str(mostly))``) so
                       0.9 of 1000 rows means exactly 900, immune to
                       binary-float rounding on either side.

                       Denominator for SCOPED constraints (kind=scoped
                       columns / row checks with ``where``): the budget
                       divides by the partition's TOTAL row count, not
                       the in-scope count — out-of-scope rows pass
                       unjudged, so they consume none of the budget but
                       do inflate its denominator.  This deviates from
                       Great-Expectations' row_condition+mostly (which
                       scopes the denominator); calibrate ``mostly``
                       against the whole partition when tolerating a
                       scoped constraint — a 1% scope slice needs
                       mostly >= 0.99 to tolerate every in-scope
                       failure (ADVICE r6 — documented rather than
                       changed: the partition-rows rule is part of each
                       oracle's replayed arithmetic).
    """

    columns: dict[str, Any] = field(default_factory=dict)
    row_checks: list[dict[str, Any]] = field(default_factory=list)
    table_checks: list[dict[str, Any]] = field(default_factory=list)
    draft: int = 7
    tolerances: dict[str, float] = field(default_factory=dict)

    def __post_init__(self) -> None:
        for cid, mostly in self.tolerances.items():
            if not isinstance(mostly, (int, float)) or not (0 < mostly <= 1):
                raise SpecError(
                    f"tolerance for {cid!r} must be a fraction in (0, 1], "
                    f"got {mostly!r}")
            from fractions import Fraction

            # the exact integer gate computes den*n_rows in BIGINT; a
            # denominator past 10^6 could overflow at 10^12-row
            # partitions (1e6 * 9.2e12 is the int64 ceiling) — and a
            # 7-decimal `mostly` is not a meaningful budget anyway
            if Fraction(str(mostly)).denominator > 1_000_000:
                raise SpecError(
                    f"tolerance for {cid!r}: at most 6 decimal places "
                    f"(got {mostly!r}) — the exact integer gate must not "
                    "overflow BIGINT at 10^12-row partitions")
        for name, spec in self.columns.items():
            # {"kind": "json", "schema": ...} declares a STRING column of
            # JSON payloads; the engine routes it through
            # json_column_predicate_auto (one native from_json parse when
            # the schema is a static object schema — typed and VARIANT
            # leaves, closed root — Arrow-batched interpreter otherwise)
            if isinstance(spec, dict) and spec.get("kind") == "json":
                if "schema" not in spec:
                    raise SpecError(
                        f"column {name!r}: kind=json needs a 'schema'")
                spec = spec["schema"]
            # {"kind": "scoped", "where": <sql bool>, "schema": ...}
            # applies the schema only to rows satisfying ``where`` (the
            # Great-Expectations row_condition analogue); out-of-scope
            # rows pass.  The inner schema must be a plain schema — no
            # nested kind wrappers.
            elif isinstance(spec, dict) and spec.get("kind") == "scoped":
                if "schema" not in spec or "where" not in spec:
                    raise SpecError(
                        f"column {name!r}: kind=scoped needs 'where' "
                        "and 'schema'")
                spec = spec["schema"]
                if isinstance(spec, dict) and "kind" in spec:
                    raise SpecError(
                        f"column {name!r}: kind=scoped cannot wrap "
                        "another kind= column spec")
            try:
                normalize_spec(spec)
            except SpecError as e:
                raise SpecError(f"column {name!r}: {e}") from e
        for rc in self.row_checks:
            if "id" not in rc or "expr" not in rc:
                raise SpecError("row_check needs 'id' and 'expr'")
        for tc in self.table_checks:
            kind = tc.get("kind")
            if kind not in _TABLE_CHECK_KINDS:
                raise SpecError(f"unknown table check kind {kind!r}")
            if "id" not in tc and kind != "stats":
                raise SpecError(f"table check {kind} needs an 'id'")

    @classmethod
    def from_json(cls, data: str | bytes) -> "TableSpec":
        d = json.loads(data)
        return cls(
            columns=d.get("columns", {}),
            row_checks=d.get("row_checks", []),
            table_checks=d.get("table_checks", []),
            draft=d.get("draft", 7),
            tolerances=d.get("tolerances", {}),
        )

    def to_json(self) -> str:
        out = {
            "columns": self.columns,
            "row_checks": self.row_checks,
            "table_checks": self.table_checks,
            "draft": self.draft,
        }
        if self.tolerances:
            out["tolerances"] = self.tolerances
        return json.dumps(out)


def spec_diff(old: "TableSpec", new: "TableSpec") -> list[dict]:
    """Structural diff of two TableSpecs — the expectation-suite-diff a
    validation pipeline reviews when the spec evolves (tightened bounds,
    retired checks, suggester output vs the deployed spec).

    Returns deterministic rows ``{section, target, change, before,
    after}`` sorted by (section, target, change):

    - ``column``     — a whole column entered/left the spec (its body is
                       the before/after), or a non-dict (boolean) schema
                       changed wholesale
    - ``keyword``    — one keyword of an existing column changed; target
                       is ``col.keyword`` (the violation constraint_id,
                       so a diff row names the verdict stream it will
                       create or retire)
    - ``row_check`` / ``table_check`` — keyed by check id; any field
                       change reports the whole check body
    - ``tolerance``  — a ``mostly`` budget added/removed/retuned
    - ``draft``      — dialect switch

    Values render as canonical JSON (``sort_keys``), so dict-order
    noise never reports as a change.  Driver-side and pure — specs are
    bounded metadata, never data-scale."""
    def _j(v) -> str:
        return json.dumps(v, sort_keys=True)

    rows: list[dict] = []

    def _emit(section, target, change, before, after):
        rows.append({
            "section": section, "target": target, "change": change,
            "before": None if before is _MISSING else _j(before),
            "after": None if after is _MISSING else _j(after),
        })

    _MISSING = object()

    # columns — per-keyword where both sides are dicts
    for name in sorted(set(old.columns) | set(new.columns)):
        o = old.columns.get(name, _MISSING)
        n = new.columns.get(name, _MISSING)
        if o is _MISSING:
            _emit("column", name, "added", _MISSING, n)
        elif n is _MISSING:
            _emit("column", name, "removed", o, _MISSING)
        elif isinstance(o, dict) and isinstance(n, dict):
            for kw in sorted(set(o) | set(n)):
                ov = o.get(kw, _MISSING)
                nv = n.get(kw, _MISSING)
                if ov is _MISSING:
                    _emit("keyword", f"{name}.{kw}", "added", _MISSING, nv)
                elif nv is _MISSING:
                    _emit("keyword", f"{name}.{kw}", "removed", ov, _MISSING)
                elif _j(ov) != _j(nv):
                    _emit("keyword", f"{name}.{kw}", "changed", ov, nv)
        elif _j(o) != _j(n):
            _emit("column", name, "changed", o, n)

    # row/table checks — keyed by id (unkeyed checks key as kind#index)
    def _checks(section, olds, news):
        def keyed(checks):
            return {
                c.get("id", f"{c.get('kind', 'check')}#{i}"): c
                for i, c in enumerate(checks)
            }
        ok, nk = keyed(olds), keyed(news)
        for cid in sorted(set(ok) | set(nk)):
            o = ok.get(cid, _MISSING)
            n = nk.get(cid, _MISSING)
            if o is _MISSING:
                _emit(section, cid, "added", _MISSING, n)
            elif n is _MISSING:
                _emit(section, cid, "removed", o, _MISSING)
            elif _j(o) != _j(n):
                _emit(section, cid, "changed", o, n)

    _checks("row_check", old.row_checks, new.row_checks)
    _checks("table_check", old.table_checks, new.table_checks)

    for cid in sorted(set(old.tolerances) | set(new.tolerances)):
        o = old.tolerances.get(cid, _MISSING)
        n = new.tolerances.get(cid, _MISSING)
        if o is _MISSING:
            _emit("tolerance", cid, "added", _MISSING, n)
        elif n is _MISSING:
            _emit("tolerance", cid, "removed", o, _MISSING)
        elif o != n:
            _emit("tolerance", cid, "changed", o, n)

    if old.draft != new.draft:
        _emit("draft", "draft", "changed", old.draft, new.draft)

    rows.sort(key=lambda r: (r["section"], r["target"], r["change"]))
    return rows
