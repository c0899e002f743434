"""Offline oracle gate for the dynamic JSON evaluator.

Seeded schema × instance cases per draft (4, 6, 7, 2019-09, 2020-12) are
judged by this repo's evaluator and by the installed ``jsonschema``
package (``Draft{4,6,7,201909,202012}Validator``).  Each draft's
generator uses only that draft's own keywords, so the cross-draft keyword
policy (COVERAGE.md) never enters a verdict.  Every generated schema is
also validated *as an instance* of its draft's official meta-schema from
``jsonschema_specifications``, with the vocabulary documents registered
by ``$id``: that exercises ``$recursiveRef`` (2019-09), ``$dynamicRef``
(2020-12) and the meta-schemas' ``allOf``/``$ref`` web without the
JSON-Schema-Test-Suite corpus.  The same schemas, judged by
``validate_spec_against_metaschema``, check the library's own meta-schema
table against ``jsonschema``.

Three verdicts are checked per case: ``validate_instance``,
``compile_validator`` and ``validate_instance(collect_all=True)``.  Formats are
annotations here (``assert_formats=False``), as in ``jsonschema`` without
a format checker.
"""

from __future__ import annotations

import copy
import json
import random

import jsonschema
import jsonschema_specifications
import pytest

from go_jsonschema_spark.interp import validate_instance
from go_jsonschema_spark.interp_compile import compile_validator
from go_jsonschema_spark.spec import (
    SchemaSpec, validate_spec_against_metaschema,
)

ORACLES = {
    4: jsonschema.Draft4Validator,
    6: jsonschema.Draft6Validator,
    7: jsonschema.Draft7Validator,
    2019: jsonschema.Draft201909Validator,
    2020: jsonschema.Draft202012Validator,
}
META_URI = {
    4: "http://json-schema.org/draft-04/schema",
    6: "http://json-schema.org/draft-06/schema",
    7: "http://json-schema.org/draft-07/schema",
    2019: "https://json-schema.org/draft/2019-09/schema",
    2020: "https://json-schema.org/draft/2020-12/schema",
}
SCHEMAS_PER_DRAFT = 160
VALUES_PER_SCHEMA = 4

KEYS = ["a", "b", "kids"]
SCALARS = [None, True, False, 0, 1, 2, -1, 1.5, 3, 10, "", "a", "ab",
           "abc", "b1"]
PATTERNS = ["^a", "b$", "^[a-c]+$", "\\d"]


def _keywords(draft: int) -> list[str]:
    kws = ["type", "enum", "minimum", "maximum", "multipleOf", "minLength",
           "maxLength", "pattern", "items", "minItems", "maxItems",
           "uniqueItems", "properties", "patternProperties",
           "additionalProperties", "required", "minProperties",
           "maxProperties", "allOf", "anyOf", "oneOf", "not", "ref"]
    if draft < 2020:
        kws.append("additionalItems")
    if draft <= 7:
        kws.append("dependencies")
    if draft >= 6:
        kws += ["const", "contains", "propertyNames", "exclusiveMinimum",
                "exclusiveMaximum"]
    if draft >= 7:
        kws.append("if")
    if draft >= 2019:
        kws += ["dependentRequired", "dependentSchemas", "minContains",
                "maxContains", "unevaluatedProperties", "unevaluatedItems"]
    if draft >= 2020:
        kws.append("prefixItems")
    return kws


def _value(rng: random.Random, depth: int = 0):
    r = rng.random()
    if depth >= 3 or r < 0.45:
        return rng.choice(SCALARS)
    if r < 0.7:
        return [_value(rng, depth + 1) for _ in range(rng.randint(0, 3))]
    return {k: _value(rng, depth + 1)
            for k in rng.sample(KEYS, rng.randint(0, 3))}


class _Gen:
    """One draft's schema generator.  ``inplace`` is True while the walk
    is still at the root's instance location: a self-reference there would
    never consume the value, so recursion refs only appear below a
    child-location applicator."""

    def __init__(self, rng: random.Random, draft: int) -> None:
        self.rng, self.draft = rng, draft
        self.kws = _keywords(draft)
        self.defs_key = "$defs" if draft >= 2019 else "definitions"

    def schema(self, depth: int, inplace: bool):
        rng, draft = self.rng, self.draft
        if draft >= 6 and depth > 0 and rng.random() < 0.12:
            return rng.random() < 0.6
        if depth >= 3:
            return {"type": rng.choice(["string", "integer", "object"])}
        out: dict = {}
        for kw in rng.sample(self.kws, rng.randint(1, 3)):
            self.keyword(out, kw, depth, inplace)
        return out

    def sub(self, depth: int, inplace: bool):
        return self.schema(depth + 1, inplace)

    def keyword(self, out: dict, kw: str, depth: int, inplace: bool) -> None:
        rng, draft = self.rng, self.draft
        num = lambda: rng.choice([-1, 0, 1, 1.5, 2])  # noqa: E731
        if kw == "type":
            types = ["string", "number", "integer", "boolean", "null",
                     "array", "object"]
            out["type"] = (rng.choice(types) if rng.random() < 0.7
                           else rng.sample(types, 2))
        elif kw == "enum":
            members = [_value(rng, 2) for _ in range(rng.randint(1, 3))]
            # draft 4's meta-schema wants unique members
            out["enum"] = list({json.dumps(m): m for m in members}.values())
        elif kw == "const":
            out["const"] = _value(rng, 2)
        elif kw in ("minimum", "maximum"):
            out[kw] = num()
            if draft == 4 and rng.random() < 0.4:
                excl = "exclusiveMinimum" if kw == "minimum" else (
                    "exclusiveMaximum")
                out[excl] = rng.random() < 0.5
        elif kw in ("exclusiveMinimum", "exclusiveMaximum"):
            out[kw] = num()
        elif kw == "multipleOf":
            out[kw] = rng.choice([1, 2, 0.5, 3])
        elif kw in ("minLength", "maxLength", "minItems", "maxItems",
                    "minProperties", "maxProperties", "minContains",
                    "maxContains"):
            out[kw] = rng.randint(0, 3)
        elif kw == "pattern":
            out[kw] = rng.choice(PATTERNS)
        elif kw == "uniqueItems":
            out[kw] = rng.random() < 0.7
        elif kw == "items":
            if draft < 2020 and rng.random() < 0.3:
                out[kw] = [self.sub(depth, False)
                           for _ in range(rng.randint(1, 2))]
            else:
                out[kw] = self.sub(depth, False)
        elif kw == "prefixItems":
            out[kw] = [self.sub(depth, False)
                       for _ in range(rng.randint(1, 2))]
        elif kw in ("additionalProperties", "unevaluatedProperties") and (
                draft == 2019):
            # jsonschema's 2019-09 annotation walk reads an object value of
            # these two as a list of property names; booleans only
            out[kw] = rng.random() < 0.5
        elif kw in ("additionalItems", "additionalProperties", "contains",
                    "propertyNames", "unevaluatedProperties",
                    "unevaluatedItems"):
            out[kw] = (False if kw.startswith("unevaluated")
                       and rng.random() < 0.6 else self.sub(depth, False))
        elif kw == "properties":
            out[kw] = {k: self.sub(depth, False)
                       for k in rng.sample(KEYS, rng.randint(1, 2))}
        elif kw == "patternProperties":
            out[kw] = {rng.choice(PATTERNS): self.sub(depth, False)}
        elif kw == "required":
            out[kw] = rng.sample(KEYS, rng.randint(1, 2))
        elif kw in ("dependencies", "dependentRequired", "dependentSchemas"):
            k = rng.choice(KEYS)
            as_list = kw == "dependentRequired" or (
                kw == "dependencies" and rng.random() < 0.5)
            out[kw] = {k: (rng.sample(KEYS, rng.randint(1, 2)) if as_list
                           else self.sub(depth, inplace))}
        elif kw in ("allOf", "anyOf", "oneOf"):
            out[kw] = [self.sub(depth, inplace)
                       for _ in range(rng.randint(1, 2))]
        elif kw == "not":
            out[kw] = self.sub(depth, inplace)
        elif kw == "if":
            out["if"] = self.sub(depth, inplace)
            for branch in ("then", "else"):
                if rng.random() < 0.7:
                    out[branch] = self.sub(depth, inplace)
        elif kw == "ref":
            self.ref(out, depth, inplace)

    def ref(self, out: dict, depth: int, inplace: bool) -> None:
        """A root self-reference (plain, recursive or dynamic per draft)
        below a child location, else a ref into the definitions."""
        if not inplace and self.rng.random() < 0.5:
            if self.draft == 2019:
                out["$recursiveRef"] = "#"
            elif self.draft == 2020:
                out["$dynamicRef"] = "#node"
            else:
                out["$ref"] = "#"
        else:
            out["$ref"] = f"#/{self.defs_key}/d"

    def root(self):
        rng, draft = self.rng, self.draft
        body = self.schema(0, True)
        if not isinstance(body, dict):
            body = {"allOf": [body]}
        # definitions are built without refs, so "#/.../d" never cycles
        kws = self.kws
        self.kws = [k for k in kws if k != "ref"]
        body[self.defs_key] = {"d": self.schema(1, False)}
        self.kws = kws
        if draft == 2019:
            body["$recursiveAnchor"] = True
        if draft == 2020:
            body["$dynamicAnchor"] = "node"
        if draft >= 2019:
            r = rng.random()
            if r < 0.3:
                return self.extended_tree(body)
            if r < 0.6:
                return self.annotated()
        return body

    def annotated(self) -> dict:
        """An ``unevaluated*`` root over in-place applicators whose branches
        evaluate properties or items: the shape where merging the
        annotations of successful branches decides the verdict."""
        rng, draft = self.rng, self.draft
        producers = ["properties", "patternProperties", "items", "contains",
                     "unevaluatedProperties", "unevaluatedItems", "required",
                     "type", "additionalProperties"]
        if draft >= 2020:
            producers.append("prefixItems")

        def branch() -> dict:
            out: dict = {}
            for kw in rng.sample(producers, rng.randint(1, 2)):
                self.keyword(out, kw, 1, False)
            return out

        kws = self.kws
        self.kws = [k for k in kws if k != "ref"]  # no anchors or defs here
        root: dict = {}
        how = rng.choice(["allOf", "anyOf", "anyOf", "oneOf", "if", "not",
                          "dependentSchemas", "$ref"])
        if how in ("allOf", "anyOf", "oneOf"):
            root[how] = [branch() for _ in range(rng.randint(1, 3))]
        elif how == "if":
            root.update({"if": branch(), "then": branch(), "else": branch()})
        elif how == "not":
            root["not"] = branch()
        elif how == "dependentSchemas":
            root[how] = {rng.choice(KEYS): branch()}
        else:
            root.update({"$ref": "#/$defs/d", "$defs": {"d": branch()}})
        if rng.random() < 0.4:
            self.keyword(root, rng.choice(producers), 1, False)
        for kw in rng.sample(["unevaluatedProperties", "unevaluatedItems"],
                             rng.randint(1, 2)):
            self.keyword(root, kw, 0, False)
        self.kws = kws
        return root

    def extended_tree(self, body: dict) -> dict:
        """The dynamic-scope shape: a tree resource whose ``kids`` recurse
        through the dynamic anchor, extended by a root that re-declares the
        anchor — so kids are judged by the ROOT, not by the tree."""
        rng, draft = self.rng, self.draft
        tree = {"type": "object",
                "properties": {"kids": {"type": "array"}}}
        root = {"$id": "http://x.test/root", "$ref": "tree",
                "$defs": {"tree": tree, "extra": body}}
        if draft == 2019:
            tree.update({"$id": "tree", "$recursiveAnchor": True})
            tree["properties"]["kids"]["items"] = {"$recursiveRef": "#"}
            root["$recursiveAnchor"] = rng.random() < 0.8
        else:
            tree.update({"$id": "tree", "$dynamicAnchor": "node"})
            tree["properties"]["kids"]["items"] = {"$dynamicRef": "#node"}
            # refs "#node" in the body need the anchor in this resource
            root["$dynamicAnchor"] = "node"
        root["allOf"] = [{"$ref": "#/$defs/extra"}]
        if rng.random() < 0.6:
            root["unevaluatedProperties"] = (
                False if rng.random() < 0.7 or draft == 2019
                else self.sub(0, False))
        # the extra body's own anchors would shadow the root's; drop them
        body.pop("$recursiveAnchor", None)
        body.pop("$dynamicAnchor", None)
        body.pop("$defs", None)
        body.pop("$id", None)
        _retarget(root)
        return root


def _retarget(node) -> None:
    """Inside the extended tree the body sits under ``$defs/extra``: its
    definitions ref becomes a ref to the tree's own ``#/$defs/tree``."""
    if isinstance(node, dict):
        if node.get("$ref") == "#/$defs/d":
            node["$ref"] = "#/$defs/tree"
        for v in node.values():
            _retarget(v)
    elif isinstance(node, list):
        for v in node:
            _retarget(v)


def _cases(draft: int) -> list[tuple]:
    rng = random.Random(1000 + draft)
    gen = _Gen(rng, draft)
    out = []
    for _ in range(SCHEMAS_PER_DRAFT):
        schema = gen.root()
        values = [_value(rng) for _ in range(VALUES_PER_SCHEMA)]
        values.append({"kids": [_value(rng) for _ in range(2)],
                       "a": rng.choice(SCALARS)})
        values.append({k: rng.choice(SCALARS)
                       for k in rng.sample(KEYS, rng.randint(1, 3))})
        values.append([rng.choice(SCALARS) for _ in range(rng.randint(1, 4))])
        out.append((schema, values))
    return out


def _corrupt(rng: random.Random, schema: dict) -> dict:
    """A near-schema: one keyword given a value of the wrong shape, so the
    meta-schema cases have both verdicts."""
    bad = copy.deepcopy(schema)
    target = bad
    while True:
        subs = [v for k, v in target.items()
                if isinstance(v, dict) and k not in ("properties", "$defs",
                                                     "definitions",
                                                     "patternProperties")]
        if not subs or rng.random() < 0.5:
            break
        target = rng.choice(subs)
    kw = rng.choice(["type", "minLength", "required", "properties", "items",
                     "enum", "allOf", "pattern", "uniqueItems"])
    target[kw] = rng.choice(["integr", -1, "a", 5, [], {"x": 1}, 1.5,
                             [{"type": 7}]])
    return bad


_META: dict[int, tuple] = {}


def _meta(draft: int) -> tuple[dict, dict]:
    """The draft's official meta-schema (``jsonschema_specifications``)
    and a registry of every document of that draft, keyed by ``$id``."""
    if draft not in _META:
        prefix = META_URI[draft].rsplit("/", 1)[0]
        registry = {}
        for uri in jsonschema_specifications.REGISTRY:
            if uri.startswith(prefix + "/"):
                doc = jsonschema_specifications.REGISTRY.contents(uri)
                sid = doc.get("$id") or doc.get("id") or uri
                registry[sid.rstrip("#")] = SchemaSpec(doc)
        _META[draft] = (registry[META_URI[draft]].root, registry)
    return _META[draft]


def _judge(schema, value, draft: int, registry=None, compiled=None) -> list:
    """The three verdicts of this repo for one case."""
    spec = SchemaSpec(schema)
    plain = validate_instance(schema, value, draft=draft, spec=spec,
                              registry=registry, assert_formats=False)
    full = validate_instance(schema, value, draft=draft, spec=spec,
                             registry=registry, assert_formats=False,
                             collect_all=True)
    if compiled is None:
        compiled = compile_validator(schema, spec=spec, draft=draft,
                                     registry=registry,
                                     assert_formats=False)
    return [plain.valid, compiled(value), full.valid]


@pytest.mark.parametrize("draft", sorted(ORACLES))
def test_instances_agree_with_jsonschema(draft: int):
    oracle = ORACLES[draft]
    bad = []
    n = 0
    for schema, values in _cases(draft):
        oracle.check_schema(schema)
        check = oracle(schema)
        for value in values:
            n += 1
            want = check.is_valid(value)
            got = _judge(schema, value, draft)
            if got != [want] * 3:
                bad.append((schema, value, want, got))
    assert not bad, f"{len(bad)}/{n} disagree, first: {bad[:3]}"
    assert n == SCHEMAS_PER_DRAFT * (VALUES_PER_SCHEMA + 3)


@pytest.mark.parametrize("draft", sorted(ORACLES))
def test_schemas_against_official_metaschema(draft: int):
    meta, registry = _meta(draft)
    oracle = ORACLES[draft](meta)
    spec = SchemaSpec(meta)
    compiled = compile_validator(meta, spec=spec, draft=draft,
                                 registry=registry, assert_formats=False)
    rng = random.Random(2000 + draft)
    bad = []
    verdicts = set()
    for schema, _values in _cases(draft):
        for inst in (schema, _corrupt(rng, schema)):
            want = oracle.is_valid(inst)
            verdicts.add(want)
            got = _judge(meta, inst, draft, registry, compiled)
            if got != [want] * 3:
                bad.append((inst, want, got))
    assert not bad, f"{len(bad)} disagree, first: {bad[:3]}"
    assert verdicts == {True, False}


# keywords the official meta-schema of one draft checks and the other's
# ignores, or the reverse (2019-09 has no $dynamic* or prefixItems; 2020-12
# has no additionalItems and no array form of items)
SELF_VALIDATION = [
    ({"$dynamicRef": 5}, 2019),
    ({"$dynamicAnchor": 5}, 2019),
    ({"prefixItems": 5}, 2019),
    ({"additionalItems": 5}, 2020),
    ({"items": [{"type": "integer"}]}, 2020),
]


@pytest.mark.parametrize("draft", sorted(ORACLES))
def test_spec_self_validation_agrees_with_jsonschema(draft: int):
    """``validate_spec_against_metaschema`` accepts a schema exactly when
    ``jsonschema``'s validator for the draft accepts it against that
    draft's ``META_SCHEMA``: every generated schema, its corrupted copy,
    and the cases where the drafts' official documents differ."""
    oracle = ORACLES[draft](ORACLES[draft].META_SCHEMA)
    rng = random.Random(3000 + draft)
    insts = [s for s, d in SELF_VALIDATION if d == draft]
    for schema, _values in _cases(draft):
        insts += [schema, _corrupt(rng, schema)]
    bad = [(inst, want) for inst in insts
           if (want := oracle.is_valid(inst))
           != (validate_spec_against_metaschema(inst, draft) == [])]
    assert not bad, f"{len(bad)}/{len(insts)} disagree, first: {bad[:3]}"


# the URIs a ``$ref`` may name a meta-schema by: both schemes, with and
# without the empty fragment
META_REFS = [f"{scheme}://json-schema.org/{path}/schema{frag}"
             for scheme in ("http", "https")
             for path in ("draft-04", "draft-06", "draft-07",
                          "draft/2019-09", "draft/2020-12")
             for frag in ("", "#")]


@pytest.mark.parametrize("uri", META_REFS)
def test_meta_schema_uris_resolve_to_the_official_documents(uri: str):
    draft = next(d for d, u in META_URI.items()
                 if u.partition(":")[2] == uri.partition(":")[2].rstrip("#"))
    official = jsonschema_specifications.REGISTRY.contents(META_URI[draft])
    assert SchemaSpec({}).resolve_ref(uri) == official


@pytest.mark.parametrize("draft", sorted(ORACLES))
def test_ref_to_the_meta_schema_without_a_registry(draft: int):
    """A schema that ``$ref``s its draft's meta-schema by URI, with no
    registry: the refs of the official document (2019-09/2020-12
    vocabularies, ``$recursiveRef``, ``$dynamicRef``) resolve through the
    same table."""
    schema = {"$ref": META_URI[draft]}
    check = ORACLES[draft](schema)
    rng = random.Random(4000 + draft)
    values = [s for s, _ in SELF_VALIDATION]
    for inst, _values in _cases(draft)[:20]:
        values += [inst, _corrupt(rng, inst)]
    bad = [(v, want, got) for v in values
           if (got := _judge(schema, v, draft)) != [want := check.is_valid(v)] * 3]
    assert not bad, f"{len(bad)}/{len(values)} disagree, first: {bad[:3]}"


# keyword, value, drafts where jsonschema ignores the keyword
CROSS_DRAFT = [
    ({"const": 1}, 2, (4,)),
    ({"contains": {"type": "string"}}, [1], (4,)),
    ({"propertyNames": {"maxLength": 1}}, {"ab": 1}, (4,)),
    ({"if": {"type": "integer"}, "then": {"minimum": 5}}, 1, (4, 6)),
]


def test_cross_draft_keyword_policy():
    """One keyword table for every draft, as in the reference: ``const``,
    ``contains``, ``propertyNames`` and ``if``/``then``/``else`` are
    enforced under drafts older than the one that introduced them, where
    ``jsonschema`` ignores them as unknown keywords (COVERAGE.md)."""
    for schema, value, drafts in CROSS_DRAFT:
        for draft in drafts:
            assert ORACLES[draft](schema).is_valid(value)
            assert not validate_instance(schema, value, draft=draft).valid
            assert not compile_validator(schema, draft=draft)(value)


# -- drift the single evaluator removed ---------------------------------------

CLOSED = {"$id": "http://x.test/closed.json", "properties": {"a": {}},
          "unevaluatedProperties": False}


def test_unevaluated_in_registered_document():
    """A ``$ref`` into a registered document that closes itself with
    ``unevaluatedProperties: false`` is enforced on the closure path too."""
    import referencing
    from referencing.jsonschema import DRAFT202012

    schema = {"$ref": CLOSED["$id"]}
    oracle = jsonschema.Draft202012Validator(
        schema,
        registry=referencing.Registry().with_resource(
            CLOSED["$id"],
            referencing.Resource.from_contents(
                CLOSED, default_specification=DRAFT202012),
        ),
    )
    registry = {CLOSED["$id"]: SchemaSpec(CLOSED)}
    validate = compile_validator(schema, draft=2020, registry=registry)
    for value in ({"a": 1}, {"a": 1, "b": 2}):
        want = oracle.is_valid(value)
        assert validate(value) is want
        assert validate_instance(schema, value, draft=2020,
                                 registry=registry).valid is want


# A ``$ref`` to an ``$id``/``$anchor`` declared under each schema position:
# (draft, schema, values).  The first three positions were data to the
# spec index and unresolvable.
POSITION_CASES = [
    (2020, {"properties": {"a": {"$ref": "#foo"}},
            "unevaluatedProperties": {"$anchor": "foo", "type": "string"}},
     [{"a": 1}, {"a": "x"}, {"b": 1}]),
    (2020, {"prefixItems": [{"$ref": "#foo"}],
            "unevaluatedItems": {"$anchor": "foo", "type": "string"}},
     [[1], ["x"], ["x", 1], ["x", "y"]]),
    (2020, {"$id": "http://x.test/root.json",
            "properties": {"a": {"$ref": "inner.json"}},
            "contentSchema": {"$id": "inner.json", "type": "string"}},
     [{"a": 1}, {"a": "x"}]),
    (7, {"items": [{"$id": "#first", "type": "string"}],
         "additionalItems": {"$ref": "#first"}},
     [["x", "y"], ["x", 1], [1]]),
    (7, {"dependencies": {"b": {"$id": "#dep", "required": ["c"]}},
         "properties": {"a": {"$ref": "#dep"}}},
     [{"a": {}}, {"a": {"c": 1}}, {"b": 1}]),
    (2020, {"dependentSchemas": {"b": {"$anchor": "dep", "type": "object",
                                       "required": ["c"]}},
            "properties": {"a": {"$ref": "#dep"}}},
     [{"a": {}}, {"a": {"c": 1}}, {"b": 1}]),
    (2020, {"propertyNames": {"$anchor": "short", "maxLength": 2},
            "properties": {"ab": {"$ref": "#short"}}},
     [{"ab": "xyz"}, {"ab": "xy"}, {"abc": 1}]),
    (2020, {"if": {"$anchor": "i", "type": "string"},
            "then": {"$anchor": "t", "minLength": 2},
            "else": {"$anchor": "e", "type": "object"},
            "properties": {"a": {"$ref": "#i"}, "b": {"$ref": "#t"},
                           "c": {"$ref": "#e"}}},
     [{"a": 1}, {"b": "x"}, {"c": 1}, {"a": "s", "b": "st", "c": {}}]),
]


@pytest.mark.parametrize("draft,schema,values", POSITION_CASES)
def test_ref_targets_at_every_schema_position(draft, schema, values):
    check = ORACLES[draft](schema)
    verdicts = set()
    for value in values:
        want = check.is_valid(value)
        verdicts.add(want)
        assert _judge(schema, value, draft) == [want] * 3, value
    assert verdicts == {True, False}

def test_plain_dict_registry_document_owns_its_pointers():
    """A registry value given as a plain dict resolves a JSON-pointer
    ``$ref`` inside itself against itself, as a ``SchemaSpec`` does."""
    import referencing
    from referencing.jsonschema import DRAFT202012

    uri = "http://x.test/d.json"
    doc = {"$defs": {"pos": {"type": "integer", "minimum": 0}},
           "properties": {"a": {"$ref": "#/$defs/pos"}}}
    schema = {"$ref": uri}
    oracle = jsonschema.Draft202012Validator(
        schema,
        registry=referencing.Registry().with_resource(
            uri, referencing.Resource.from_contents(
                doc, default_specification=DRAFT202012)),
    )
    registry = {uri: doc}
    validate = compile_validator(schema, draft=2020, registry=registry)
    for value in ({"a": -1}, {"a": 1}, {"a": "x"}, {}):
        want = oracle.is_valid(value)
        assert validate(value) is want, value
        assert validate_instance(schema, value, draft=2020,
                                 registry=registry).valid is want
    assert registry == {uri: doc}


def test_metaschema_root_dict_with_registered_vocabularies():
    """``jsonschema``'s own 2020-12 META_SCHEMA dict as the root, with the
    ``jsonschema_specifications`` vocabularies in the registry: a
    ``$dynamicRef`` hop back to the root resolves the root's relative
    ``$ref``s against the root, not against the vocabulary it came from."""
    meta = jsonschema.Draft202012Validator.META_SCHEMA
    _, docs = _meta(2020)
    registry = {uri: s for uri, s in docs.items() if "/meta/" in uri}
    value = {"$defs": {"d": {"allOf": [{}]}}}
    assert jsonschema.Draft202012Validator(meta).is_valid(value)
    for root in (meta, copy.deepcopy(meta)):
        assert compile_validator(root, draft=2020, registry=registry)(value)
        assert validate_instance(root, value, draft=2020,
                                 registry=registry).valid


def test_registry_is_not_mutated():
    registry = {CLOSED["$id"]: SchemaSpec(CLOSED)}
    schema = {"$ref": CLOSED["$id"], "$defs": {
        "x": {"$dynamicAnchor": "x"}}, "$dynamicRef": "#x"}
    validate_instance(schema, {"a": 1}, draft=2020, registry=registry)
    compile_validator(schema, draft=2020, registry=registry)({"a": 1})
    assert list(registry) == [CLOSED["$id"]]


def test_errors_match_the_verdict():
    """The error list is empty exactly when the value is valid, on gate
    cases of every draft, in first-error and collect-all mode alike."""
    for draft in sorted(ORACLES):
        for schema, values in _cases(draft)[:60]:
            spec = SchemaSpec(schema)
            for value in values:
                for collect_all in (False, True):
                    out = validate_instance(schema, value, draft=draft,
                                            spec=spec, assert_formats=False,
                                            collect_all=collect_all)
                    assert out.valid is not bool(out.errors), (schema, value)


def test_validate_instance_compiles_once_per_schema(monkeypatch):
    """Repeated calls with the same schema, spec, registry, draft and
    ``assert_formats`` content reuse one compiled validator; a change to
    any of them compiles anew."""
    from go_jsonschema_spark import interp_compile

    compiled = []
    real = interp_compile.compile_validator

    def counting(schema, **kw):
        compiled.append(schema)
        return real(schema, **kw)

    monkeypatch.setattr(interp_compile, "compile_validator", counting)
    schema = {"type": "object", "properties": {
        "n": {"type": "integer", "maximum": 7, "title": "compile-once"}}}
    for n in range(20):
        assert validate_instance(schema, {"n": n}).valid is (n <= 7)
    assert validate_instance(copy.deepcopy(schema), {"n": 3}).valid
    assert len(compiled) == 1
    validate_instance(schema, {"n": 3}, draft=2020)
    validate_instance(schema, {"n": 3}, assert_formats=False)
    validate_instance(schema, {"n": 3}, spec=SchemaSpec(schema))
    validate_instance(schema, {"n": 3}, registry={"urn:x": {}})
    schema["properties"]["n"]["maximum"] = 2
    assert not validate_instance(schema, {"n": 3}).valid
    assert len(compiled) == 6
