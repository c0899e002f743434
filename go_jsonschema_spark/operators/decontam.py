"""Benchmark decontamination: flag training documents that share word
n-grams with an evaluation/probe set.

The probe side (benchmark suites) is small by nature; the corpus is not.
So the corpus is never SHUFFLED: probe n-grams are collected once on the
driver (bounded — raises past ``max_probe_ngrams``) and shipped either
as one literal array (small sets — zero shuffle AND zero explode) or as
a broadcast-joined probe table (large sets, where a huge literal stalls
Catalyst; the corpus n-grams explode narrowly into the broadcast join
and only the hits reach an aggregation).  No Python enters the row path
on either plan.  Probe n-grams ship as raw strings, so an external SQL
engine can recompute the identical intersection.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from go_jsonschema_spark.functions.text import word_shingles

__all__ = ["contamination_hits", "probe_ngrams", "semantic_contamination"]


def probe_ngrams(
    probes: DataFrame,
    *,
    text_col: str = "text",
    n: int = 8,
    max_probe_ngrams: int = 100_000,
) -> list:
    """Distinct probe n-grams, driver-side."""
    rows = (
        probes.select(
            F.explode(word_shingles(F.col(text_col), n)).alias("v"))
        .distinct()
        .limit(max_probe_ngrams + 1).collect()
    )
    if len(rows) > max_probe_ngrams:
        raise ValueError(
            f"probe set yields >{max_probe_ngrams} n-grams; raise "
            "max_probe_ngrams or pre-reduce the probe set")
    return [r["v"] for r in rows]


def semantic_contamination(
    docs: DataFrame,
    probes: DataFrame,
    *,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    threshold: float = 0.35,
    max_probes: int = 10_000,
) -> DataFrame:
    """EMBEDDING-space decontamination (r5): flag corpus vectors whose
    cosine to ANY probe/benchmark embedding reaches ``threshold`` —
    catches paraphrased benchmark leakage the n-gram form
    (:func:`contamination_hits`) cannot see.

    Same corpus-never-shuffled discipline: the probe side is small by
    nature, so its normalized matrix is closure-broadcast (bounded by
    ``max_probes``, same contract shape as
    :func:`~go_jsonschema_spark.operators.ann.topk_cosine_many`) and
    every Arrow batch does ONE BLAS matmul + row-wise argmax inside
    ``mapInPandas`` — no join, no shuffle, output is only the hits.
    Returns ``(id_col, top_probe, cosine)`` where ``top_probe`` is the
    best-matching probe (ties → smallest probe id) and ``cosine`` its
    score (rounded to 6)."""
    import numpy as np
    import pandas as pd

    from go_jsonschema_spark.operators.ann import _cosine_block, _query_matrix

    qids, QnT = _query_matrix(probes, id_col, vec_col, max_probes)
    order = np.argsort(qids)           # argmax tie-break = smallest id
    qids, QnT = qids[order], QnT[:, order]

    def hits(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            ids = pdf[id_col].to_numpy()
            C = _cosine_block(pdf[vec_col], QnT)
            best = C.argmax(1)
            bc = C[np.arange(len(ids)), best]
            keep = bc >= threshold
            yield pd.DataFrame({
                id_col: ids[keep],
                "top_probe": qids[best[keep]],
                "cosine": bc[keep],
            })

    return docs.select(id_col, vec_col).mapInPandas(
        hits, f"{id_col} long, top_probe long, cosine double")


def contamination_hits(
    docs: DataFrame,
    probes: DataFrame,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 8,
    max_probe_ngrams: int = 100_000,
    literal_cap: int = 2000,
) -> DataFrame:
    """``(doc_id, n_hits)`` for documents sharing ≥1 word n-gram with the
    probe set.  ``n_hits`` counts DISTINCT shared n-grams.  Probe sets up
    to ``literal_cap`` n-grams ship as one literal array (zero shuffle);
    larger sets switch to an explode + broadcast-join plan (a huge
    CreateArray literal stalls the planner)."""
    vals = probe_ngrams(
        probes, text_col=text_col, n=n, max_probe_ngrams=max_probe_ngrams,
    )
    if not vals:
        return docs.select(F.col(id_col).alias("doc_id")).limit(0).select(
            "doc_id", F.lit(0).alias("n_hits"))
    mine = F.array_distinct(word_shingles(F.col(text_col), n))
    if len(vals) <= literal_cap:
        # small probe set: one literal array, zero shuffle, zero explode.
        # Built as ONE parsed SQL expression — pyspark's F.lit(list)
        # expands to a per-element lit chain (one py4j round trip each,
        # ~0.3 s at the 2000-gram cap, measured r7); the parsed form is
        # the identical literal.
        from go_jsonschema_spark.functions.literals import lit_strings

        hits = F.size(F.array_intersect(mine, lit_strings(vals)))
        return (
            docs.select(F.col(id_col).alias("doc_id"), hits.alias("n_hits"))
            .filter(F.col("n_hits") > 0)
        )
    # large probe set: a multi-thousand-child CreateArray literal stalls
    # Catalyst (measured minutes at 10k+) — explode the per-doc DISTINCT
    # n-grams and broadcast-join the probe table instead.  The explode is
    # narrow, the join is broadcast (no corpus shuffle); only the HITS
    # reach the groupBy, so the aggregation shuffle is O(#contaminated).
    spark = docs.sparkSession
    probe_df = spark.createDataFrame([(v,) for v in vals], "v string")
    ex = docs.select(
        F.col(id_col).alias("doc_id"), F.explode(mine).alias("v"))
    return (
        ex.join(F.broadcast(probe_df), "v")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).cast("int").alias("n_hits"))
    )
