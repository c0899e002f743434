"""Bounded circular-$ref marshal expansion — the reference's DeRef +
MarshalJSON pair (schema_refs.go:131-155, schema.go:206-276, golden
cases in deref_test.go).  Comparison is structural (parsed JSON), not
string: key order in the reference's output is Go struct-field order,
not semantics."""
import json

from go_jsonschema_spark import SchemaSpec, deref_expand

# deref_test.go case 1: absolute-URI $id + nested definitions — every
# ref expands once, nothing is circular
DEREF_CASE_1_IN = json.loads(
    '{"$id":"http://example.com/schema-refs-absolute-uris-defs1.json",'
    '"properties":{"foo":{"$id":"http://example.com/'
    'schema-refs-absolute-uris-defs2.json","definitions":{"inner":'
    '{"properties":{"bar":{"type":"string"}}}},"allOf":[{"$ref":'
    '"#/definitions/inner"}]}},"allOf":[{"$ref":'
    '"schema-refs-absolute-uris-defs2.json"}]}'
)
DEREF_CASE_1_OUT = json.loads(
    '{"$id":"http://example.com/schema-refs-absolute-uris-defs1.json",'
    '"allOf":[{"$id":"http://example.com/'
    'schema-refs-absolute-uris-defs2.json","definitions":{"inner":'
    '{"properties":{"bar":{"type":"string"}}}},"allOf":[{"properties":'
    '{"bar":{"type":"string"}}}]}],"properties":{"foo":{"$id":'
    '"http://example.com/schema-refs-absolute-uris-defs2.json",'
    '"definitions":{"inner":{"properties":{"bar":{"type":"string"}}}},'
    '"allOf":[{"properties":{"bar":{"type":"string"}}}]}}}'
)

# deref_test.go case 2: self-circular root ref — expands exactly
# circularThreshold (3) times, innermost stays {"$ref": "#"}
DEREF_CASE_2_IN = json.loads(
    '{"$schema":"http://json-schema.org/draft-04/schema#","properties":'
    '{"foo":{"$ref":"#"}},"additionalProperties":false}'
)
DEREF_CASE_2_OUT = json.loads(
    '{"$schema":"http://json-schema.org/draft-04/schema#","properties":'
    '{"foo":{"$schema":"http://json-schema.org/draft-04/schema#",'
    '"properties":{"foo":{"$schema":'
    '"http://json-schema.org/draft-04/schema#","properties":{"foo":'
    '{"$schema":"http://json-schema.org/draft-04/schema#","properties":'
    '{"foo":{"$ref":"#"}},"additionalProperties":false}},'
    '"additionalProperties":false}},"additionalProperties":false}},'
    '"additionalProperties":false}'
)


def test_deref_golden_absolute_uri_defs():
    assert deref_expand(SchemaSpec(DEREF_CASE_1_IN)) == DEREF_CASE_1_OUT


def test_deref_golden_circular_threshold_3():
    assert deref_expand(SchemaSpec(DEREF_CASE_2_IN)) == DEREF_CASE_2_OUT


def test_deref_threshold_1():
    out = deref_expand(SchemaSpec(DEREF_CASE_2_IN), circular_threshold=1)
    foo = out["properties"]["foo"]
    assert foo["properties"]["foo"] == {"$ref": "#"}
    assert foo["additionalProperties"] is False


def test_deref_threshold_0_keeps_every_ref():
    out = deref_expand(SchemaSpec(DEREF_CASE_2_IN), circular_threshold=0)
    assert out["properties"]["foo"] == {"$ref": "#"}


def test_deref_unresolvable_ref_stays_verbatim():
    spec = SchemaSpec({"properties": {
        "a": {"$ref": "http://nowhere.invalid/sch.json", "title": "keep"},
    }})
    out = deref_expand(spec)
    assert out["properties"]["a"] == {
        "$ref": "http://nowhere.invalid/sch.json", "title": "keep"}


def test_deref_ref_inside_enum_is_data():
    spec = SchemaSpec({
        "definitions": {"d": {"type": "integer"}},
        "enum": [{"$ref": "#/definitions/d"}],
        "properties": {"x": {"$ref": "#/definitions/d"}},
    })
    out = deref_expand(spec)
    assert out["enum"] == [{"$ref": "#/definitions/d"}]  # untouched data
    assert out["properties"]["x"] == {"type": "integer"}



def test_deref_expands_refs_to_unevaluated_and_content_schemas():
    """``unevaluatedProperties``, ``unevaluatedItems`` and ``contentSchema``
    hold schemas: an ``$anchor``/``$id`` there is a ref target, and a
    ``$ref`` there expands."""
    leaf = {"$anchor": "leaf", "type": "string"}
    spec = SchemaSpec({
        "$id": "http://x.test/root.json",
        "properties": {"a": {"$ref": "#leaf"}, "b": {"$ref": "inner.json"}},
        "prefixItems": [{"$ref": "#item"}],
        "unevaluatedProperties": leaf,
        "unevaluatedItems": {"$anchor": "item", "$ref": "#/$defs/n"},
        "contentSchema": {"$id": "inner.json", "minLength": 2},
        "$defs": {"n": {"type": "integer"}},
    })
    out = deref_expand(spec)
    assert out["properties"] == {
        "a": leaf, "b": {"$id": "inner.json", "minLength": 2}}
    assert out["prefixItems"] == [{"type": "integer"}]
    assert out["unevaluatedItems"] == {"type": "integer"}

def test_deref_mutual_recursion_bounded():
    spec = SchemaSpec({
        "definitions": {
            "a": {"properties": {"next": {"$ref": "#/definitions/b"}}},
            "b": {"properties": {"back": {"$ref": "#/definitions/a"}}},
        },
        "$ref": "#/definitions/a",
    })
    out = deref_expand(spec, circular_threshold=2)
    # a → b → a → b → ...: each distinct ref node carries its own
    # counter, so the chain terminates with $ref leaves, never recurses
    # past 2 expansions per node
    s = json.dumps(out)
    assert '"$ref"' in s and len(s) < 5000


def test_to_json_deref_roundtrips_as_json():
    # the expansion is a plain tree (no shared cycles), so it serializes
    js = json.dumps(deref_expand(SchemaSpec(DEREF_CASE_2_IN)))
    assert json.loads(js) == DEREF_CASE_2_OUT
