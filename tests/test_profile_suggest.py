"""suggest_constraints (operators/profile.py)."""
import json

import pytest

from go_jsonschema_spark.operators.profile import suggest_constraints


@pytest.fixture(scope="module")
def table(spark):
    return spark.createDataFrame(
        [
            (1, "en", 10, 1.5, "aa"),
            (2, "de", 20, 2.5, "bb"),
            (3, "en", 30, None, "cc"),
            (4, None, 40, 4.5, "dd"),
        ],
        ["id", "lang", "score", "ratio", "tag"],
    )


def _rows(df):
    return {(r["column"], r["keyword"]): r["value"] for r in df.collect()}


def test_suggestions_content(table):
    got = _rows(suggest_constraints(table))
    assert got[("id", "type")] == "integer"
    assert got[("id", "required")] == "true"
    assert got[("id", "minimum")] == "1" and got[("id", "maximum")] == "4"
    assert got[("id", "unique")] == "true"
    # lang has a NULL → no required, enum over non-null values only
    assert ("lang", "required") not in got
    assert json.loads(got[("lang", "enum")]) == ["de", "en"]
    assert ("lang", "unique") not in got  # NULL breaks nd == nn == n
    # integer-valued doubles print without the '.0'
    assert got[("score", "enum")] == json.dumps(["10", "20", "30", "40"])
    assert got[("ratio", "minimum")] == "1.5"
    assert got[("tag", "minLength")] == "2"
    assert got[("tag", "maxLength")] == "2"


def test_enum_max_gate(table):
    with_gate = _rows(suggest_constraints(table, enum_max=3))
    assert ("lang", "enum") in with_gate       # 2 distinct ≤ 3
    assert ("score", "enum") not in with_gate  # 4 distinct > 3
    assert ("id", "enum") not in with_gate


def test_empty_table_no_value_suggestions(spark):
    df = spark.createDataFrame([], "id long, s string")
    got = _rows(suggest_constraints(df))
    # types still known from schema; nothing data-derived
    assert got == {("id", "type"): "integer", ("s", "type"): "string"}
