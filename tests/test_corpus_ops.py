"""lm_perplexity / bigram_lm / tfidf_keywords: hand-computed values,
unseen-gram smoothing, degenerate docs, determinism under repartition."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from go_jsonschema_spark.operators.corpus import (
    bigram_lm, lm_perplexity, tfidf_keywords,
)


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_bigram_lm_counts_and_vocab(spark):
    df = _docs(spark, [(1, "a b a b"), (2, "a b c")])
    lm, vocab = bigram_lm(df)
    assert vocab == 3
    got = {(r["w1"], r["w2"]): (r["c2"], r["c1"]) for r in lm.collect()}
    # bigrams: doc1 = ab, ba, ab ; doc2 = ab, bc
    assert got[("a", "b")] == (3, 3)   # c1(a) = 3 (a always precedes b)
    assert got[("b", "a")] == (1, 2)   # c1(b) = ba + bc = 2
    assert got[("b", "c")] == (1, 2)


def test_lm_perplexity_hand_computed(spark):
    df = _docs(spark, [(1, "a b a b"), (2, "a b c")])
    got = {r["doc_id"]: r for r in lm_perplexity(df, k=0.5).collect()}
    V, k = 3, 0.5
    p_ab = (3 + k) / (3 + k * V)
    p_ba = (1 + k) / (2 + k * V)
    p_bc = (1 + k) / (2 + k * V)
    avg1 = (2 * math.log(p_ab) + math.log(p_ba)) / 3
    avg2 = (math.log(p_ab) + math.log(p_bc)) / 2
    assert got[1]["n_bigrams"] == 3
    assert got[1]["avg_logprob"] == pytest.approx(avg1, rel=1e-12)
    assert got[1]["ppl"] == pytest.approx(math.exp(-avg1), rel=1e-12)
    assert got[2]["avg_logprob"] == pytest.approx(avg2, rel=1e-12)


def test_lm_perplexity_degenerate_docs(spark):
    df = _docs(spark, [(1, "a b a"), (2, "solo"), (3, ""), (4, None)])
    got = {r["doc_id"]: r for r in lm_perplexity(df).collect()}
    assert set(got) == {1, 2, 3, 4}
    for d in (2, 3, 4):
        assert got[d]["n_bigrams"] == 0
        assert got[d]["avg_logprob"] is None and got[d]["ppl"] is None
    assert got[1]["n_bigrams"] == 2


def test_lm_perplexity_partitioning_invariant(spark):
    df = _docs(spark, [(i, f"w{i % 5} common w{(i * 3) % 7} tail")
                       for i in range(40)])
    a = {r["doc_id"]: r["avg_logprob"]
         for r in lm_perplexity(df).collect()}
    b = {r["doc_id"]: r["avg_logprob"]
         for r in lm_perplexity(df.repartition(13)).collect()}
    assert set(a) == set(b)
    for d in a:
        assert a[d] == pytest.approx(b[d], rel=1e-12)


def test_lm_perplexity_rejects_nonpositive_k(spark):
    df = _docs(spark, [(1, "a b")])
    with pytest.raises(ValueError, match="k must be"):
        lm_perplexity(df, k=0.0)


def test_tfidf_hand_computed(spark):
    df = _docs(spark, [(1, "cat cat dog"), (2, "dog fish"), (3, "fish")])
    out = tfidf_keywords(df, top_k=2)
    got = {(r["doc_id"], r["rank"]): r for r in out.collect()}
    idf = lambda dfreq: math.log(4.0 / (dfreq + 1)) + 1.0
    # doc1: cat tf=2 df=1 -> 2*idf(1); dog tf=1 df=2 -> idf(2)
    assert got[(1, 1)]["word"] == "cat"
    assert got[(1, 1)]["tfidf"] == pytest.approx(
        round(2 * idf(1), 6), abs=1e-9)
    assert got[(1, 2)]["word"] == "dog"
    # doc2: dog and fish both tf=1 df=2 -> identical score, word ASC ties
    assert got[(2, 1)]["word"] == "dog" and got[(2, 2)]["word"] == "fish"


def test_tfidf_top_k_bound_and_empty_doc(spark):
    df = _docs(spark, [(1, "a b c d e f"), (2, "")])
    out = tfidf_keywords(df, top_k=3).collect()
    by_doc = {}
    for r in out:
        by_doc.setdefault(r["doc_id"], []).append(r)
    assert len(by_doc[1]) == 3
    assert 2 not in by_doc  # empty doc yields no keyword rows


def test_tfidf_no_python_udf_in_plan(spark):
    df = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    import contextlib
    import io

    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        tfidf_keywords(df).explain("formatted")
    plan = buf.getvalue()
    assert "BatchEvalPython" not in plan
    assert "ArrowEvalPython" not in plan
    assert "FlatMapGroupsInPandas" not in plan


# ---------------------------------------------------------------------------
# bm25_rank
# ---------------------------------------------------------------------------

def _bm25_ref(docs, terms, k1=1.2, b=0.75):
    """Independent reference BM25 (plain Python)."""
    import math

    toks = {i: t.lower().split() for i, t in docs}
    n = len(toks)
    avgdl = sum(len(w) for w in toks.values()) / n
    dfreq = {
        t: sum(1 for ws in toks.values() if t in ws) for t in terms}
    out = {}
    for i, ws in toks.items():
        s, hit = 0.0, 0
        for t in terms:
            tf = ws.count(t)
            if not tf:
                continue
            hit += 1
            idf = math.log(1 + (n - dfreq[t] + 0.5) / (dfreq[t] + 0.5))
            s += idf * tf * (k1 + 1) / (
                tf + k1 * (1 - b + b * len(ws) / avgdl))
        if hit:
            out[i] = (hit, round(s, 6))
    return out


def test_bm25_matches_reference(spark):
    from go_jsonschema_spark.operators.corpus import bm25_rank

    docs = [
        (1, "spark shuffle join shuffle"),
        (2, "join the small broadcast join join"),
        (3, "nothing relevant here at all"),
        (4, "shuffle"),
        (5, "spark spark spark shuffle join extra words to lengthen"),
    ]
    terms = ["shuffle", "join"]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    got = {
        r["doc_id"]: (r["n_terms"], r["score"], r["rank"])
        for r in bm25_rank(df, terms, top_k=10).collect()
    }
    want = _bm25_ref(docs, terms)
    assert set(got) == set(want)
    for i, (hit, score) in want.items():
        assert got[i][0] == hit
        assert got[i][1] == pytest.approx(score, abs=2e-6)
    # ranks replay the (score desc, id asc) order
    order = sorted(want, key=lambda i: (-want[i][1], i))
    assert [i for i, _ in sorted(
        ((i, got[i][2]) for i in got), key=lambda p: p[1])] == order


def test_bm25_short_doc_beats_long_at_equal_tf(spark):
    from go_jsonschema_spark.operators.corpus import bm25_rank

    df = spark.createDataFrame(
        [(1, "needle plus many many other words around"),
         (2, "needle short")],
        "doc_id long, text string")
    out = bm25_rank(df, ["needle"], top_k=2).collect()
    assert [r["doc_id"] for r in sorted(out, key=lambda r: r["rank"])] \
        == [2, 1]


def test_bm25_guards_and_topk(spark):
    from go_jsonschema_spark.operators.corpus import bm25_rank

    df = spark.createDataFrame([(1, "a b c")], "doc_id long, text string")
    with pytest.raises(ValueError, match="non-empty"):
        bm25_rank(df, [])
    with pytest.raises(ValueError, match="top_k"):
        bm25_rank(df, ["a"], top_k=0)
    assert bm25_rank(df, ["zzz"]).count() == 0  # no hits, empty result


def test_bm25_take_ordered_plan(spark):
    import contextlib
    import io

    from go_jsonschema_spark.operators.corpus import bm25_rank

    df = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        bm25_rank(df, ["scan", "merge"], top_k=20).explain("formatted")
    plan = buf.getvalue()
    assert "TakeOrderedAndProject" in plan  # distributed top-k, no sort-all
    assert "BatchEvalPython" not in plan


# --- pmi_collocations / vocab_overlap (r6) ---------------------------------


def test_pmi_hand_computed(spark):
    from go_jsonschema_spark.operators.corpus import pmi_collocations

    # corpus: "a b" x3 docs + "a c" -> bigrams: ab,ab,ab,ac (B=4)
    # unigrams: a x4, b x3, c x1 (T=8)
    df = _docs(spark, [(1, "a b"), (2, "a b"), (3, "a b"), (4, "a c")])
    got = {(r["w1"], r["w2"]): r for r in
           pmi_collocations(df, min_count=1, top_k=10).collect()}
    T, B = 8, 4
    pmi_ab = (math.log(3) + 2 * math.log(T) - math.log(B)
              - math.log(4) - math.log(3))
    pmi_ac = (math.log(1) + 2 * math.log(T) - math.log(B)
              - math.log(4) - math.log(1))
    assert got[("a", "b")]["c12"] == 3
    assert got[("a", "b")]["pmi"] == pytest.approx(pmi_ab, abs=1e-4)
    assert got[("a", "c")]["pmi"] == pytest.approx(pmi_ac, abs=1e-4)


def test_pmi_min_count_and_top_k(spark):
    from go_jsonschema_spark.operators.corpus import pmi_collocations

    df = _docs(spark, [(1, "a b"), (2, "a b"), (3, "a c")])
    got = pmi_collocations(df, min_count=2, top_k=10).collect()
    assert [(r["w1"], r["w2"]) for r in got] == [("a", "b")]
    # top_k truncates deterministically on (pmi desc, w1, w2)
    one = pmi_collocations(df, min_count=1, top_k=1).collect()
    assert len(one) == 1


def test_pmi_rejects_bad_min_count(spark):
    from go_jsonschema_spark.operators.corpus import pmi_collocations

    with pytest.raises(ValueError, match="min_count"):
        pmi_collocations(_docs(spark, [(1, "a b")]), min_count=0)


def test_pmi_null_and_short_docs_ignored(spark):
    from go_jsonschema_spark.operators.corpus import pmi_collocations

    df = _docs(spark, [(1, "a b"), (2, "a b"), (3, None), (4, "solo")])
    got = pmi_collocations(df, min_count=1, top_k=10).collect()
    # only the ab bigram exists; solo/null docs contribute unigram mass
    assert [(r["w1"], r["w2"], r["c12"]) for r in got] == [("a", "b", 2)]


def test_vocab_overlap_hand_computed(spark):
    from go_jsonschema_spark.operators.corpus import vocab_overlap

    df = spark.createDataFrame(
        [(1, "a b c", "s1"), (2, "b c d", "s2"), (3, "x y", "s3"),
         (4, "c", "s1"), (5, None, "s2"), (6, "z", None)],
        "doc_id long, text string, source string")
    rows = {(r["g1"], r["g2"]): r for r in
            vocab_overlap(df, group_col="source").collect()}
    assert len(rows) == 3  # all pairs of s1,s2,s3 (null source dropped)
    r12 = rows[("s1", "s2")]
    assert (r12["v1"], r12["v2"], r12["n_common"]) == (3, 3, 2)  # {b,c}
    assert r12["jaccard"] == pytest.approx(2 / 4, abs=1e-6)
    # disjoint vocabularies still emit, with zero overlap
    r13 = rows[("s1", "s3")]
    assert (r13["n_common"], r13["jaccard"]) == (0, 0.0)


def test_vocab_overlap_null_text_is_empty_vocab(spark):
    from go_jsonschema_spark.operators.corpus import vocab_overlap

    df = spark.createDataFrame(
        [(1, "a", "s1"), (2, None, "s2")],
        "doc_id long, text string, source string")
    rows = vocab_overlap(df, group_col="source").collect()
    # s2 has no tokens at all -> it has no vocab rows, so no pair emits
    # (the skeleton is built from groups WITH vocab; an all-null-text
    # group has v = 0 and an undefined jaccard)
    assert rows == [] or all(r["g2"] != "s2" for r in rows)
