"""Tests for the training-pipeline operators: dedup family, ANN, text
analysis, multimodal plumbing — on the driver-provided documents/embeddings
tables plus purpose-built fixtures with known duplicates."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from go_jsonschema_spark.functions import text as TXT
from go_jsonschema_spark.operators import ann, dedup, multimodal

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def docs(spark):
    return spark.read.parquet(f"{SF}/documents.parquet").cache()


@pytest.fixture(scope="module")
def embs(spark):
    return spark.read.parquet(f"{SF}/embeddings.parquet").cache()


@pytest.fixture(scope="module")
def dup_docs(spark, docs):
    """documents ∪ copies of 10 of them (new ids) → known near/exact dups."""
    copies = (
        docs.filter(F.col("doc_id") < 10)
        .withColumn("doc_id", F.col("doc_id") + 100000)
    )
    return docs.unionByName(copies).cache()


def test_exact_duplicates(dup_docs):
    drops = dedup.exact_duplicates(dup_docs).collect()
    # each copied doc collapses with its original; keeper = original (min id)
    assert {r["doc_id"] for r in drops} == {100000 + i for i in range(10)}
    assert all(r["keeper_id"] == r["doc_id"] - 100000 for r in drops)
    assert all(r["group_size"] == 2 for r in drops)


def test_minhash_lsh_finds_planted_pairs(dup_docs):
    pairs = dedup.minhash_lsh_pairs(
        dup_docs, threshold=0.99, k=32, bands=8
    ).collect()
    got = {(r["a"], r["b"]) for r in pairs}
    want = {(i, 100000 + i) for i in range(10)}
    assert want <= got
    # identical docs → jaccard 1.0
    assert all(r["jaccard"] == 1.0 for r in pairs if (r["a"], r["b"]) in want)


def test_minhash_reported_jaccard_is_exact(docs):
    """Every reported pair's jaccard must equal an independent Python
    recomputation of 3-shingle jaccard (the synthetic corpus has genuinely
    similar docs — tiny vocabulary — so hits here are real, not FPs)."""
    sample = docs.limit(200)
    pairs = dedup.minhash_lsh_pairs(sample, threshold=0.9, k=32, bands=8).collect()
    texts = {r["doc_id"]: r["text"] for r in sample.collect()}

    def shingles(t: str, n=3):
        w = t.lower().strip().split()
        return set(" ".join(w[i : i + n]) for i in range(max(len(w) - n + 1, 1)))

    for r in pairs[:20]:
        a, b = shingles(texts[r["a"]]), shingles(texts[r["b"]])
        want = len(a & b) / len(a | b)
        assert abs(r["jaccard"] - want) < 1e-4, (r, want)


def test_simhash_pairs(dup_docs):
    pairs = dedup.simhash_pairs_from_hashes(
        dedup.simhash_feature_hashes(dup_docs), max_hamming=2).collect()
    got = {(r["a"], r["b"]) for r in pairs}
    want = {(i, 100000 + i) for i in range(10)}
    assert want <= got
    assert all(r["hamming"] == 0 for r in pairs if (r["a"], r["b"]) in want)


def test_embedding_cosine_pairs(spark, embs):
    dup = embs.filter(F.col("vec_id") < 5).withColumn(
        "vec_id", F.col("vec_id") + 100000
    )
    both = embs.unionByName(dup)
    pairs = dedup.cosine_pairs_exact(both, threshold=0.999).collect()
    got = {(r["a"], r["b"]) for r in pairs}
    assert {(i, 100000 + i) for i in range(5)} <= got


def test_topk_cosine_exact_vs_lsh(spark, embs):
    q = embs.filter(F.col("vec_id") == 0).first()["embedding"]
    q = [float(x) for x in q]
    exact = ann.topk_cosine(embs, q, k=5).collect()
    assert exact[0]["vec_id"] == 0 and exact[0]["cosine"] == 1.0
    # LSH probe must contain the query vector itself and rank it first
    approx = ann.topk_cosine_lsh_multi(
        embs, q, k=5, n_planes=10, n_tables=1).collect()
    assert approx[0]["vec_id"] == 0
    # recall sanity: at least 2 of exact top-5 in approx top-5
    assert len({r["vec_id"] for r in exact} & {r["vec_id"] for r in approx}) >= 2


def test_topk_cosine_ivf(spark, embs):
    q = embs.filter(F.col("vec_id") == 0).first()["embedding"]
    q = [float(x) for x in q]
    exact = ann.topk_cosine(embs, q, k=10).collect()
    ivf = ann.topk_cosine_ivf(embs, q, k=10, n_centroids=8, n_probe=3).collect()
    assert ivf[0]["vec_id"] == 0 and ivf[0]["cosine"] == 1.0
    # recall@10 against exact — multi-probe should recover most neighbors
    recall = len({r["vec_id"] for r in exact} & {r["vec_id"] for r in ivf}) / 10
    assert recall >= 0.5, recall
    # multi-assignment only widens the candidate set (a vector's nearest
    # cell is among its 2 nearest): no duplicate ids, recall never drops
    ivf2 = ann.topk_cosine_ivf(embs, q, k=10, n_centroids=8, n_probe=3,
                               n_assign=2).collect()
    ids2 = [r["vec_id"] for r in ivf2]
    assert len(set(ids2)) == len(ids2) == 10
    assert len({r["vec_id"] for r in exact} & set(ids2)) / 10 >= recall


def test_text_functions(spark, docs):
    row = docs.select(
        TXT.token_count(F.col("text")).alias("ntok"),
        TXT.quality_score(F.col("text")).alias("q"),
        TXT.lang_id(F.col("text")).alias("lang"),
        TXT.fingerprint(F.col("text")).alias("fp"),
        F.size(TXT.word_shingles(F.col("text"))).alias("nsh"),
    ).first()
    assert row["ntok"] > 0
    assert 0.0 <= row["q"] <= 1.0
    assert isinstance(row["lang"], str)
    assert len(row["fp"]) == 32
    assert row["nsh"] > 0
    # lang_id picks 'en' for english stopword-heavy text
    one = spark.createDataFrame(
        [("x", "the cat and the dog of that house is in it for now with them",)],
        "id string, text string",
    )
    assert one.select(TXT.lang_id(F.col("text")).alias("l")).first()["l"] == "en"


def test_multimodal_features(spark):
    media = multimodal.synth_media(spark, 48)
    feats = multimodal.extract_features(media)
    rows = feats.collect()
    assert len(rows) == 48
    assert all(len(r["feature"]) == 8 for r in rows)
    assert all(r["n_bytes"] > 0 for r in rows)
    # deterministic: same input → same features
    again = multimodal.extract_features(media).collect()
    assert sorted(map(str, rows)) == sorted(map(str, again))
