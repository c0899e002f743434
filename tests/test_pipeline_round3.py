"""Round-3 pipeline operators: deterministic sampling/splitting,
concat-and-chunk packing, benchmark decontamination."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from go_jsonschema_spark.operators.decontam import contamination_hits
from go_jsonschema_spark.operators.packing import pack_chunks
from go_jsonschema_spark.operators.sampling import (
    hash_split, stratified_sample, weighted_sample,
)


@pytest.fixture(scope="module")
def docs(spark):
    d = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    d.cache().count()
    return d


# -- sampling -----------------------------------------------------------------

def test_hash_split_deterministic_and_partition_proof(docs):
    a = {r["doc_id"]: r["split"] for r in hash_split(docs, "doc_id").collect()}
    b = {
        r["doc_id"]: r["split"]
        for r in hash_split(docs.repartition(7), "doc_id").collect()
    }
    assert a == b  # membership survives repartitioning (randomSplit's doesn't)
    n = len(a)
    from collections import Counter

    c = Counter(a.values())
    assert set(c) <= {"train", "val", "test"}
    assert c["train"] / n == pytest.approx(0.9, abs=0.06)


def test_hash_sample_subset_and_rate(docs):
    """A constant weight is a fixed-rate Bernoulli-by-hash sample."""
    s = weighted_sample(docs, F.lit(0.2))
    ids = {r["doc_id"] for r in s.select("doc_id").collect()}
    all_ids = {r["doc_id"] for r in docs.select("doc_id").collect()}
    assert ids <= all_ids
    assert len(ids) / len(all_ids) == pytest.approx(0.2, abs=0.08)
    # nested property: a higher-rate sample contains the lower-rate one
    ids5 = {r["doc_id"]
            for r in weighted_sample(docs, F.lit(0.5)).select("doc_id").collect()}
    assert ids <= ids5


def test_stratified_sample_exact_counts(docs):
    out = stratified_sample(docs, "lang", "doc_id", 10)
    got = {r["lang"]: r["n"] for r in out.groupBy("lang")
           .agg(F.count(F.lit(1)).alias("n")).collect()}
    sizes = {r["lang"]: r["n"] for r in docs.groupBy("lang")
             .agg(F.count(F.lit(1)).alias("n")).collect()}
    assert got == {lg: min(10, sz) for lg, sz in sizes.items()}
    # deterministic
    again = {tuple(r) for r in stratified_sample(
        docs, "lang", "doc_id", 10).select("doc_id", "lang").collect()}
    assert again == {tuple(r)
                     for r in out.select("doc_id", "lang").collect()}


# -- packing ------------------------------------------------------------------

def test_pack_chunks_grid_invariants(spark):
    rows = [(i, "s%d" % (i % 2), (i * 37) % 90 + 1) for i in range(200)]
    df = spark.createDataFrame(rows, "doc_id int, source string, n_tok long")
    out = pack_chunks(df, token_col="n_tok", key="doc_id", budget=100,
                      group_col="source").collect()
    by_group: dict = {}
    for r in sorted(out, key=lambda r: (r["source"], r["doc_id"])):
        by_group.setdefault(r["source"], []).append(r)
    for g, rs in by_group.items():
        start = 0
        for r in rs:
            assert r["pack_id"] == start // 100
            assert r["pack_offset"] == start % 100
            last = start + max(r["n_tok"] - 1, 0)
            assert r["pack_span"] == last // 100 - start // 100 + 1
            start += r["n_tok"]
    # every document is packed: packed tokens add up to the group totals
    tot = {g: sum(r["n_tok"] for r in rs) for g, rs in by_group.items()}
    want = {r["source"]: r["t"] for r in df.groupBy("source")
            .agg(F.sum("n_tok").alias("t")).collect()}
    assert tot == want


def test_pack_chunks_zero_and_budget_edge(spark):
    df = spark.createDataFrame(
        [(1, "s", 0), (2, "s", 100), (3, "s", 1)],
        "doc_id int, source string, n_tok long")
    out = {r["doc_id"]: r for r in pack_chunks(
        df, token_col="n_tok", key="doc_id", budget=100,
        group_col="source").collect()}
    assert out[1]["pack_span"] == 1 and out[1]["pack_offset"] == 0
    assert out[2]["pack_id"] == 0 and out[2]["pack_span"] == 1
    assert out[3]["pack_id"] == 1 and out[3]["pack_offset"] == 0
    with pytest.raises(ValueError):
        pack_chunks(df, budget=0, group_col="source")


# -- word_shingles zip_with rewrite -------------------------------------------

def _old_shingles(text, n=3):
    from go_jsonschema_spark.functions.text import words

    w = words(text)
    return F.array_distinct(
        F.transform(
            F.sequence(F.lit(0), F.greatest(F.size(w) - n, F.lit(0))),
            lambda i: F.concat_ws(" ", F.slice(w, i + 1, n)),
        ))


@pytest.mark.parametrize("n", [2, 3, 4, 8])
def test_word_shingles_zipwith_equivalent(spark, docs, n):
    """The 6×-faster zip_with formulation must shingle IDENTICALLY to the
    original transform+slice form on non-null text (every dedup oracle
    depends on the semantics).  Null text now yields null instead of the
    old junk [''] — strictly better, matches the oracles' IS NOT NULL."""
    from go_jsonschema_spark.functions.text import word_shingles

    edge = spark.createDataFrame(
        [(9001, "one"), (9002, "one two"), (9003, "one two three"),
         (9005, ""), (9006, "  padded  words here  "), (9008, "a a a a a")],
        "doc_id long, text string")
    all_df = docs.select("doc_id", "text").unionByName(edge).filter(
        F.col("text").isNotNull())
    bad = all_df.select(
        word_shingles(F.col("text"), n).alias("new"),
        _old_shingles(F.col("text"), n).alias("old"),
    ).filter(F.col("new") != F.col("old")).count()
    assert bad == 0
    nulls = spark.createDataFrame([(1, None)], "doc_id long, text string")
    assert nulls.select(
        word_shingles(F.col("text"), n).alias("s")).first()["s"] is None


# -- decontamination ----------------------------------------------------------

def test_contamination_probe_budget(docs):
    probes = docs.filter(F.col("doc_id") < 50)
    with pytest.raises(ValueError, match="n-grams"):
        contamination_hits(docs, probes, n=3, max_probe_ngrams=10)


def test_contamination_broadcast_path_equivalent(docs):
    """Forcing the large-probe broadcast-join plan (literal_cap=1) must
    return the same hits as the literal plan, with a BroadcastHashJoin
    and no corpus-side Exchange."""
    probes = docs.filter(F.col("doc_id") < 5)
    rest = docs.filter(F.col("doc_id") >= 5)
    lit_plan = contamination_hits(rest, probes, n=3)
    bc_plan = contamination_hits(rest, probes, n=3, literal_cap=1)
    a = {(r["doc_id"], r["n_hits"]) for r in lit_plan.collect()}
    b = {(r["doc_id"], r["n_hits"]) for r in bc_plan.collect()}
    assert a == b and len(a) > 0
    plan = bc_plan._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    # the only exchanges are the broadcast + the tiny hits aggregation
    assert "Exchange hashpartitioning(v" not in plan


def test_contamination_no_shuffle_plan(docs):
    """The corpus side must not shuffle or explode: no Exchange in the
    contamination plan (probe list is a literal)."""
    probes = docs.filter(F.col("doc_id") < 5)
    out = contamination_hits(docs.filter(F.col("doc_id") >= 5), probes, n=4)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan
    assert "Generate" not in plan  # no explode of the corpus
