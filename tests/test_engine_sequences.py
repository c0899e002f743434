"""End-to-end engine test on the synthetic north-star sequences table.

Violation sets are asserted against independently-written SQL predicates
over the same generated data (the engine's compiled predicates must agree
with hand-written SQL row-by-row), plus the per-row invariant: accepted
rows' token arrays equal the expected accepted set exactly (BASELINE.json
input_hint)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from go_jsonschema_spark.engine import ConstraintSuite
from go_jsonschema_spark.sources import synth

N = 4000


@pytest.fixture(scope="module")
def seq(spark):
    df = synth.sequences(spark, N).cache()
    df.count()
    return df


@pytest.fixture(scope="module")
def result(spark, seq):
    suite = ConstraintSuite(synth.sequences_table_spec(), key="doc_id")
    return suite.run(
        seq, partition_col="part", dims={"sources_dim": synth.sources_dim(spark)}
    )


def test_deterministic(spark):
    a = synth.sequences(spark, 500).collect()
    b = synth.sequences(spark, 500).collect()
    assert a == b


def test_row_violations_match_sql(spark, seq, result):
    """Each engine constraint agrees with an independent SQL predicate."""
    seq.createOrReplaceTempView("seq")
    expected = {
        "tokens.items": spark.sql(
            f"SELECT count(*) n FROM seq WHERE tokens IS NULL OR "
            f"exists(tokens, t -> t < 0 OR t >= {synth.VOCAB})"
        ).first()["n"],
        "tokens.minItems": spark.sql(
            "SELECT count(*) n FROM seq WHERE tokens IS NULL OR size(tokens) < 1"
        ).first()["n"],
        "shape.n_tok": spark.sql(
            "SELECT count(*) n FROM seq WHERE n_tok IS NULL OR tokens IS NULL "
            "OR n_tok != size(tokens)"
        ).first()["n"],
        "source.pattern": spark.sql(
            "SELECT count(*) n FROM seq WHERE source IS NOT NULL AND "
            "source NOT RLIKE '^src[0-9]+$'"
        ).first()["n"],
    }
    got = {
        r["constraint_id"]: r["n"]
        for r in result.violations.groupBy("constraint_id")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    for cid, n in expected.items():
        assert got.get(cid, 0) == n, f"{cid}: engine={got.get(cid, 0)} sql={n}"
    # plants actually planted
    assert expected["tokens.minItems"] > 0
    assert expected["shape.n_tok"] > 0
    assert expected["source.pattern"] > 0


def test_uniqueness_violations(spark, seq, result):
    dup_ids = {
        r["doc_id"]
        for r in result.violations.filter(
            F.col("constraint_id") == "unique:doc_id"
        ).collect()
    }
    expected = {
        r["doc_id"]
        for r in seq.groupBy("doc_id")
        .count()
        .filter("count > 1")
        .collect()
    }
    assert dup_ids == expected
    assert "doc_hot" in dup_ids  # the planted hot key


def test_referential_violations(spark, seq, result):
    got = (
        result.violations.filter(F.col("constraint_id") == "fk:source")
        .groupBy("observed")
        .count()
        .collect()
    )
    got_map = {r["observed"]: r["count"] for r in got}
    expected = {
        r["source"]: r["count"]
        for r in seq.filter(~F.col("source").rlike("^src[0-9]+$"))
        .groupBy("source")
        .count()
        .collect()
    }
    assert got_map == expected
    assert sum(got_map.values()) > 0


def test_verdicts_partition_counts(seq, result):
    v = {r["partition"]: r for r in result.verdicts.collect()}
    assert set(v) == set(range(synth.N_PARTS))
    assert sum(r["n_rows"] for r in v.values()) == N
    for r in v.values():
        assert r["n_pass"] + r["n_fail"] == r["n_rows"]
        assert r["passed"] == (r["n_fail"] == 0)


def test_accepted_rows_token_equality(spark, seq, result):
    """Per-row invariant (BASELINE.json): the accepted set's token arrays
    are exactly the expected ones — compare engine-accepted rows against an
    independently-filtered expected accepted set, arrays element-wise."""
    accepted = result.checked.filter("__pass__").select("doc_id", "tokens")
    seq.createOrReplaceTempView("seq")
    expected = spark.sql(
        f"""
        SELECT doc_id, tokens FROM seq
        WHERE doc_id RLIKE '^doc' AND length(doc_id) >= 1
          AND size(tokens) >= 1
          AND NOT exists(tokens, t -> t < 0 OR t >= {synth.VOCAB})
          AND n_tok = size(tokens) AND n_tok BETWEEN 1 AND {synth.MAX_LEN + 2}
          AND source RLIKE '^src[0-9]+$'
        """
    )
    # exact multiset equality via full outer anti-comparison
    diff1 = accepted.exceptAll(expected).count()
    diff2 = expected.exceptAll(accepted).count()
    assert diff1 == 0 and diff2 == 0
    assert expected.count() > 0


def test_uniqueness_extreme_skew(spark):
    """One key on 30% of rows: the salted two-phase aggregation must still
    produce exact counts (the salt spreads the hot key's partial counts
    over 64 reducers; phase 2 re-sums)."""
    from pyspark.sql import functions as F

    from go_jsonschema_spark.operators.uniqueness import duplicate_keys

    n = 50_000
    df = spark.range(n).select(
        F.when(F.pmod("id", F.lit(10)) < 3, F.lit("HOT"))
        .otherwise(F.format_string("k%09d", F.col("id")))
        .alias("k")
    )
    dups = {r["key"]: r["n_dup"] for r in duplicate_keys(df, "k").collect()}
    assert dups == {"HOT": n * 3 // 10}


def test_drift_detected(spark):
    from go_jsonschema_spark.operators.drift import drift_check

    df = synth.sequences(spark, N)
    baseline = synth.ntok_baseline(spark, N)
    # drifted slice present -> fail vs clean baseline
    rep_all = drift_check(df, "n_tok", baseline, bucket_width=32)
    # clean regeneration -> pass vs clean baseline
    clean = synth.sequences(spark, N, clean=True)
    rep_clean = drift_check(clean, "n_tok", baseline, bucket_width=32)
    assert rep_clean.passed, (rep_clean.ks, rep_clean.psi)
    assert rep_all.psi > rep_clean.psi
    assert not rep_all.passed


def test_suite_metrics(spark, seq):
    """The stats/drift table checks declared in the spec execute via
    suite.metrics()."""
    from go_jsonschema_spark.engine import ConstraintSuite

    suite = ConstraintSuite(synth.sequences_table_spec(), key="doc_id")
    baseline = synth.ntok_baseline(spark, N)
    m = suite.metrics(seq, baselines={"drift:n_tok": baseline})
    stats = {r["column"]: r for r in m["stats"].collect()}
    assert stats["n_tok"]["n"] == N
    rep = m["drift:n_tok"]
    assert not rep.passed  # drifted slice planted
    assert rep.psi > 0


def test_stats_single_pass(spark, seq):
    from go_jsonschema_spark.operators.stats import column_stats

    rows = {r["column"]: r for r in column_stats(seq, ["n_tok", "doc_id"]).collect()}
    exact = seq.agg(
        F.min("n_tok"), F.max("n_tok"), F.avg("n_tok"), F.count(F.lit(1))
    ).first()
    assert rows["n_tok"]["n"] == exact[3]
    assert rows["n_tok"]["min"] == float(exact[0])
    assert rows["n_tok"]["max"] == float(exact[1])
    assert abs(rows["n_tok"]["mean"] - exact[2]) < 1e-9
    assert rows["doc_id"]["min"] is None
    assert rows["doc_id"]["n_distinct_approx"] > 0
