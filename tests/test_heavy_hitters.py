"""tokens.token_ngram_heavy_hitters — bounded-state exact top-k:
brute-force equality, certificate semantics, packing round-trip."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from go_jsonschema_spark.operators.tokens import token_ngram_heavy_hitters


def _brute_bigrams(df, k):
    return [
        (r["t1"], r["t2"], r["count"]) for r in
        df.filter(F.size("tokens") >= 2)
        .select(F.explode(F.expr(
            "transform(sequence(1, size(tokens)-1), "
            "i -> struct(tokens[i-1] AS t1, tokens[i] AS t2))")).alias("g"))
        .groupBy("g.t1", "g.t2").count()
        .orderBy(F.desc("count"), "t1", "t2").limit(k).collect()
    ]


def _skewed(spark, n_rows=400):
    from go_jsonschema_spark.sources import synth

    return synth.skewed_sequences(spark, n_rows).repartition(4)


def test_matches_brute_force_multi_partition(spark):
    df = _skewed(spark)
    out = token_ngram_heavy_hitters(df, n=2, k=10, capacity=2048)
    got = [(r["t1"], r["t2"], r["cnt"]) for r in out.collect()]
    assert got == _brute_bigrams(df, 10)
    assert out.first()["exact"] is True


def test_certificate_false_under_capacity_pressure(spark):
    # capacity far below the distinct-bigram count: the union guarantee
    # still holds for the extreme head, but kth*capacity <= N, so the
    # operator must REFUSE to certify instead of silently lying
    df = _skewed(spark)
    out = token_ngram_heavy_hitters(df, n=2, k=10, capacity=16)
    assert out.first()["exact"] is False


def test_short_and_null_arrays_ignored(spark):
    df = spark.createDataFrame(
        [("a", [7, 8, 7, 8, 7]), ("b", [9]), ("c", []), ("d", None)],
        "doc_id string, tokens array<int>")
    out = token_ngram_heavy_hitters(df, n=2, k=2, capacity=64)
    got = [(r["t1"], r["t2"], r["cnt"]) for r in out.collect()]
    assert got == [(7, 8, 2), (8, 7, 2)]


@pytest.mark.parametrize("rows", [
    [],                                   # empty input
    [("a", [1]), ("b", []), ("c", None)],  # every array shorter than n
], ids=["empty", "all_short"])
def test_no_windows_returns_no_rows(spark, rows):
    df = spark.createDataFrame(rows, "doc_id string, tokens array<int>")
    out = token_ngram_heavy_hitters(df, n=2, k=3, capacity=64)
    assert out.collect() == []
    assert out.columns == ["t1", "t2", "cnt", "rank", "exact"]


def test_trigrams_pack_and_unpack(spark):
    # token ids near the 21-bit boundary survive the packing round-trip
    big = (1 << 21) - 1
    df = spark.createDataFrame(
        [("a", [big, 0, big, big, 0, big])],
        "doc_id string, tokens array<int>")
    out = token_ngram_heavy_hitters(df, n=3, k=1, capacity=64)
    r = out.first()
    assert (r["t1"], r["t2"], r["t3"], r["cnt"]) == (big, 0, big, 2)


def test_out_of_range_token_raises(spark):
    df = spark.createDataFrame([("a", [1, 1 << 21])],
                               "doc_id string, tokens array<int>")
    with pytest.raises(Exception, match="2\\^21"):
        token_ngram_heavy_hitters(df, n=2, k=1, capacity=64)


def test_param_validation(spark):
    df = spark.createDataFrame([("a", [1, 2])],
                               "doc_id string, tokens array<int>")
    with pytest.raises(ValueError, match="n in"):
        token_ngram_heavy_hitters(df, n=5)
    with pytest.raises(ValueError, match="k must be"):
        token_ngram_heavy_hitters(df, k=100, capacity=10)
