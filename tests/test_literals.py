"""literals.py: the parsed-SQL array literal must be value-identical to
the element-wise F.lit form, including quote/backslash/unicode strings
and the control-character fallback path."""

from __future__ import annotations

from pyspark.sql import functions as F

from go_jsonschema_spark.functions.literals import lit_strings


def _one(spark, col):
    return spark.range(1).select(col.alias("v")).first()["v"]


def test_string_literal_matches_litlist(spark):
    vals = ["plain", "0-1-2-3", "it's", 'say "hi"', "back\\slash",
            "unié中", "semi;colon--", "a,b", "${spark.app.name}"]
    fast = _one(spark, lit_strings(vals))
    slow = _one(spark, F.lit(vals).cast("array<string>"))
    assert fast == slow == vals


def test_string_literal_under_escaped_string_literals(spark):
    # the legacy parser mode reads backslash escapes verbatim; strings
    # that would need one must not take the parsed path
    vals = ["plain", "it's", "back\\slash", 'say "hi"']
    conf = "spark.sql.parser.escapedStringLiterals"
    spark.conf.set(conf, "true")
    try:
        got = _one(spark, lit_strings(vals))
    finally:
        spark.conf.unset(conf)
    assert got == vals


def test_control_chars_fall_back_but_stay_correct(spark):
    vals = ["tab\there", "nl\nline"]
    got = _one(spark, lit_strings(vals))
    assert got == vals


def test_single_parsed_expression_for_large_lists(spark):
    # the point of the helper: a thousand elements, one expr round trip —
    # value equality is what we can assert portably
    vals = [f"{i}-{i + 1}-{i + 2}" for i in range(1000)]
    assert _one(spark, lit_strings(vals)) == vals
