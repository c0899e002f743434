"""spec.spec_diff — expectation-suite diff between two TableSpecs."""

from __future__ import annotations

from go_jsonschema_spark.spec import TableSpec, spec_diff


def test_full_diff_surface():
    old = TableSpec(
        columns={"v": {"type": "integer", "minimum": 0},
                 "gone": {"type": "string"}},
        row_checks=[{"id": "rc1", "expr": "a = b"}],
        table_checks=[{"kind": "unique", "id": "u", "column": "k"}],
        tolerances={"v.minimum": 0.9},
    )
    new = TableSpec(
        columns={"v": {"type": "integer", "minimum": 5, "maximum": 10},
                 "fresh": {"enum": [1, 2]}},
        row_checks=[{"id": "rc1", "expr": "a = b", "where": "c = 1"}],
        table_checks=[{"kind": "unique", "id": "u", "column": "k"}],
        tolerances={"v.minimum": 0.95, "v.maximum": 0.99},
        draft=2020,
    )
    rows = spec_diff(old, new)
    idx = {(r["section"], r["target"]): r for r in rows}
    assert idx[("column", "fresh")]["change"] == "added"
    assert idx[("column", "gone")]["change"] == "removed"
    # keyword targets ARE constraint ids — the verdict streams affected
    assert idx[("keyword", "v.minimum")]["before"] == "0"
    assert idx[("keyword", "v.minimum")]["after"] == "5"
    assert idx[("keyword", "v.maximum")]["change"] == "added"
    assert idx[("row_check", "rc1")]["change"] == "changed"
    assert ("table_check", "u") not in idx  # unchanged
    assert idx[("tolerance", "v.maximum")]["change"] == "added"
    assert idx[("draft", "draft")]["change"] == "changed"


def test_self_diff_empty_and_dict_order_invariant():
    a = TableSpec(columns={"v": {"minimum": 0, "type": "integer"}})
    b = TableSpec(columns={"v": {"type": "integer", "minimum": 0}})
    assert spec_diff(a, a) == []
    assert spec_diff(a, b) == []  # keyword order is not a change


def test_unkeyed_checks_key_by_index():
    a = TableSpec(table_checks=[{"kind": "stats", "columns": ["x"]}])
    b = TableSpec(table_checks=[{"kind": "stats", "columns": ["x", "y"]}])
    rows = spec_diff(a, b)
    assert len(rows) == 1 and rows[0]["target"] == "stats#0"
    assert rows[0]["change"] == "changed"


def test_suggester_vs_deployed_roundtrip(spark):
    # the workflow spec_diff exists for: infer a spec from data, diff
    # it against the deployed one, read which constraint ids move
    from go_jsonschema_spark.infer import infer_table_spec

    df = spark.createDataFrame(
        [("a", 1), ("b", 2), ("c", 3)], "doc_id string, v int")
    suggested, _ = infer_table_spec(df, ["v"])
    deployed = TableSpec(columns={"v": {"type": "integer", "minimum": 0,
                                        "maximum": 2}})
    rows = spec_diff(deployed, suggested)
    changed = {r["target"]: r["change"] for r in rows}
    # suggester widens the max (observed 3 > deployed 2)
    assert changed.get("v.maximum") == "changed"
