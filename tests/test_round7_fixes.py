"""Round-7 (optimization round) regression tests.

1. minhash_signature_from_hashes over a bound base-hash column NAME
   equals the signature over the inline hash expression — the
   free-subexpression fix must be a pure plan transformation (identical
   permutation chain).
2. _centroid_scores (one nested-literal zip_with) equals the unrolled
   per-centroid expression form it replaced, bit-for-bit, and
   assign_centroids_multi keeps its int cell ids.
3. oov_rate refuses a vocabulary wider than max_vocab with an error
   naming the knob (VERDICT r6 item 4 — the bounded-collect
   discipline).
4. The default remote-$ref fetcher refuses file:// URLs (ADVICE r6:
   the allowlist only governs http(s); local reads need an explicit
   caller-supplied fetcher).
5. pagerank still matches the reference integer fixed-point after the
   broadcast gating + eager per-iteration materialization, on a graph
   with dangling nodes, above AND below the broadcast gate.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F


def test_minhash_bound_hash_signature_equals_inline(spark):
    from go_jsonschema_spark.operators.dedup import (
        minhash_signature_from_hashes,
    )

    df = spark.createDataFrame(
        [(1, ["a b c", "b c d", "c d e"]), (2, ["x y z"]), (3, [])],
        "id long, sh array<string>",
    )
    inline = df.select("id", minhash_signature_from_hashes(
        F.transform(F.col("sh"), lambda s: F.xxhash64(s)), 16)
        .alias("sig")).collect()
    bound = (
        df.select(
            "id",
            F.transform(F.col("sh"), lambda s: F.xxhash64(s)).alias("hs"))
        .select(
            "id",
            minhash_signature_from_hashes("hs", 16).alias("sig"))
        .collect()
    )
    assert sorted((r["id"], tuple(r["sig"])) for r in inline) == \
        sorted((r["id"], tuple(r["sig"])) for r in bound)


def test_centroid_scores_equal_unrolled(spark):
    import numpy as np

    from go_jsonschema_spark.operators.ann import (
        _centroid_scores, _dot_lit, assign_centroid,
        assign_centroids_multi,
    )

    rng = np.random.default_rng(7)
    cent = rng.standard_normal((5, 8))
    df = spark.createDataFrame(
        [(i, [float(x) for x in rng.standard_normal(8)])
         for i in range(20)],
        "vec_id long, v array<double>",
    )
    # the pre-r7 unrolled form, reproduced verbatim
    unrolled = F.array(*[
        -2.0 * _dot_lit(F.col("v"), [float(x) for x in c])
        + float(np.dot(c, c))
        for c in cent
    ])
    rows = df.select(
        "vec_id",
        _centroid_scores(F.col("v"), cent).alias("new"),
        unrolled.alias("old"),
        assign_centroid(F.col("v"), cent).alias("cell"),
        assign_centroids_multi(F.col("v"), cent, 2).alias("cells"),
    ).collect()
    for r in rows:
        assert r["new"] == r["old"]  # bit-identical doubles
        assert r["cell"] == r["old"].index(min(r["old"]))
        order = sorted(range(5), key=lambda i: (r["old"][i], i))
        assert r["cells"] == order[:2]
    # multi-assign ids stay IntegerType (the IVF write partitions on it)
    multi_t = df.select(
        assign_centroids_multi(F.col("v"), cent, 2).alias("c")
    ).schema["c"].dataType.simpleString()
    assert multi_t == "array<int>"


def test_oov_rate_max_vocab_guard(spark):
    from go_jsonschema_spark.operators.tokens import oov_rate

    df = spark.createDataFrame(
        [("d1", [1, 2, 3])], "doc_id string, tokens array<int>")
    vocab = spark.range(100).select(F.col("id").alias("token_id"))
    with pytest.raises(ValueError, match="max_vocab"):
        oov_rate(df, vocab, max_vocab=10)
    # under the cap: unchanged behavior
    out = oov_rate(df, vocab, max_vocab=1000).collect()
    assert out[0]["n_oov"] == 0


def test_default_fetcher_refuses_file_scheme():
    from go_jsonschema_spark.sources.ref_fetch import _default_fetcher
    from go_jsonschema_spark.spec import SpecError

    fetch = _default_fetcher(allowlist=())
    with pytest.raises(SpecError, match="file"):
        fetch("file:///etc/hostname")


def _ref_pagerank(edges, iterations=3, num=17, den=20, init=10**12):
    """Driver-side integer fixed-point replay (same update rule)."""
    e = sorted(set(edges))
    nodes = sorted({s for s, _ in e} | {d for _, d in e})
    out = {}
    for s, _ in e:
        out[s] = out.get(s, 0) + 1
    n = len(nodes)
    rank = {v: init for v in nodes}
    teleport = init * (den - num) // den
    for _ in range(iterations):
        dang = sum(rank[v] for v in nodes if v not in out)
        contrib = {v: 0 for v in nodes}
        for s, d in e:
            contrib[d] += rank[s] * num // (den * out[s])
        share = (dang // n) * num // den
        rank = {v: teleport + contrib[v] + share for v in nodes}
    return rank


@pytest.mark.parametrize("gate", [0, 2_000_000])
def test_pagerank_matches_integer_replay(spark, gate):
    from go_jsonschema_spark.operators.graph import pagerank

    edges = [("a", "b"), ("b", "c"), ("c", "a"), ("a", "c"),
             ("d", "a"), ("x", "d")]  # x and (terminal) sinks: none here
    edges.append(("c", "sink"))  # dangling node
    df = spark.createDataFrame(edges, "src string, dst string")
    got = {r["node"]: r["rank"]
           for r in pagerank(df, iterations=3,
                             broadcast_max_nodes=gate).collect()}
    assert got == _ref_pagerank(edges)
