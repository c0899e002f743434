"""Deterministic sampling / splitting for training-data pipelines.

Random sampling is the wrong tool at 10^12 rows: reproducing a split
requires either persisting the assignment or trusting seed+partitioning
stability (Spark's `randomSplit` changes membership when the partitioning
changes).  Everything here derives from ``xxhash64(key, salt)`` instead —
a pure row function, so assignments are reproducible across runs,
cluster sizes and engines (DuckDB oracles recompute them exactly), and
nothing needs to be persisted to re-derive a split.

* :func:`hash_split` — train/val/test assignment by hash bucket; zero
  shuffle, zero state.
* :func:`weighted_sample` — deterministic Bernoulli-by-hash sampling
  (a constant ``weight`` is a fixed-rate sample); zero shuffle — the
  100 TB scale path.
* :func:`stratified_sample` — EXACT n-per-stratum: rank by hash inside
  each stratum, keep the first n.  One shuffle on the stratum key; the
  per-stratum sort is the price of exactness — for massive strata use
  :func:`weighted_sample` with a per-stratum rate instead.
"""

from __future__ import annotations

from fractions import Fraction

from pyspark.sql import Column, DataFrame, Window, functions as F

__all__ = ["hash_split", "stratified_sample", "hash_bucket",
           "mixing_weights", "rebalance_by_token_share",
           "cap_per_group", "diversity_sample", "weighted_sample"]

_BUCKETS = 1_000_000
_SPLIT_WEIGHTS = {"train": 0.9, "val": 0.05, "test": 0.05}


def hash_bucket(key: Column, salt: str) -> Column:
    """Deterministic bucket in [0, 1e6) — the primitive under all three."""
    return F.pmod(F.xxhash64(key, F.lit(salt)), F.lit(_BUCKETS))


def hash_split(
    df: DataFrame,
    key: str,
    *,
    salt: str = "split",
) -> DataFrame:
    """Adds a ``split`` column ('train' 0.9 / 'val' 0.05 / 'test' 0.05)
    keyed ONLY on ``xxhash64(key, salt)`` — membership survives
    repartitioning, engine changes and re-runs."""
    b = hash_bucket(F.col(key), salt)
    *head, last = _SPLIT_WEIGHTS
    expr, hi = F, 0.0  # F.when opens the CASE, Column.when extends it
    for name in head:
        hi += _SPLIT_WEIGHTS[name]
        expr = expr.when(b < int(round(hi * _BUCKETS)), F.lit(name))
    return df.withColumn("split", expr.otherwise(F.lit(last)))


def stratified_sample(
    df: DataFrame,
    stratum_col: str,
    key: str,
    n_per_stratum: int,
    *,
    salt: str = "stratified",
) -> DataFrame:
    """Exactly ``min(n, |stratum|)`` rows per stratum, chosen by hash
    order (ties broken by the key itself so the pick is total).  One
    shuffle on ``stratum_col``; a hot stratum costs its own sort but the
    OUTPUT is bounded by n per stratum, so downstream stays small."""
    w = Window.partitionBy(stratum_col).orderBy(
        hash_bucket(F.col(key), salt), F.col(key))
    return (
        df.withColumn("__rk__", F.row_number().over(w))
        .filter(F.col("__rk__") <= n_per_stratum)
        .drop("__rk__")
    )


def cap_per_group(
    df: DataFrame,
    group_col: str,
    cap: int,
    *,
    key: str = "doc_id",
    salt: str = "cap",
) -> DataFrame:
    """Deterministic per-group quota: keep at most ``cap`` rows per
    ``group_col``, chosen by hash rank (ties by key) — the data-mixing
    primitive that stops one over-represented source from dominating a
    training mix.  Hash-ranking (not "first N") makes the kept subset a
    uniform, REPRODUCIBLE sample of each group, independent of input
    order, partitioning and cluster size.

    One shuffle on the group key; groups below the cap pass through
    unchanged.  The per-group sort is rank-truncated (window + filter),
    so reduce-side state is the group's rows, not global."""
    w = Window.partitionBy(group_col).orderBy(
        hash_bucket(F.col(key), salt), F.col(key))
    return (
        df.withColumn("__rk__", F.row_number().over(w))
        .filter(F.col("__rk__") <= cap)
        .drop("__rk__")
    )


def weighted_sample(
    df: DataFrame,
    weight: Column,
    *,
    key: str = "doc_id",
    salt: str = "wsample",
) -> DataFrame:
    """Per-ROW keep probability (importance sampling): keep a row iff its
    deterministic hash-uniform falls below ``weight`` (any Column
    expression, clamped to [0, 1]) — e.g. ``quality_score(text)`` to
    upsample high-quality documents fractionally instead of a hard
    threshold.  Same discipline as :func:`hash_split`: pure-hash
    decision keyed on ``key``, so the kept set is reproducible across
    partitioning, cluster size and re-runs, and the filter is a zero-
    shuffle narrow pass.  Null weights drop the row (explicit beats a
    silent coin flip)."""
    w = F.least(F.greatest(weight.cast("double"), F.lit(0.0)), F.lit(1.0))
    u = hash_bucket(F.col(key), salt)
    return df.filter(w.isNotNull() & (u < (w * _BUCKETS).cast("long")))


def diversity_sample(
    df: DataFrame,
    cap: int,
    *,
    vec_col: str = "embedding",
    key: str = "vec_id",
    centroids=None,
    n_clusters: int = 16,
    seed: int = 42,
):
    """Cluster-balanced (diversity) sampling: coarse-quantize every row to
    its nearest centroid (the IVF quantizer — a native argmin expression,
    zero extra shuffle) and keep at most ``cap`` rows per cell by hash
    rank.  Where :func:`cap_per_group` caps over-represented SOURCES,
    this caps over-dense regions of EMBEDDING space (boilerplate/template
    clusters) so the kept mix covers the space instead of its densest
    mode — the standard semantic-diversity lever in corpus curation.

    One shuffle (the per-cell rank window); the kept subset is a
    reproducible uniform sample of each cell, independent of input order
    and partitioning.  Returns the input rows + ``cell``.  Pass
    ``centroids`` to reuse a trained quantizer; otherwise a deterministic
    driver-side mini-KMeans fits one (ann.kmeans_centroids)."""
    from go_jsonschema_spark.operators.ann import (
        assign_centroid, kmeans_centroids,
    )

    if centroids is None:
        centroids = kmeans_centroids(
            df, vec_col=vec_col, id_col=key, n_centroids=n_clusters,
            seed=seed)
    out = df.withColumn("cell", assign_centroid(F.col(vec_col), centroids))
    return cap_per_group(out, "cell", cap, key=key, salt="diversity")


def mixing_weights(
    df: DataFrame,
    group_col: str = "source",
    *,
    alpha: float = 0.5,
) -> DataFrame:
    """Temperature-scaled source-mixing weights — the multilingual /
    multi-corpus rebalancing rule (exponentiated sampling,
    ``p_i -> p_i^alpha / sum_j p_j^alpha``; alpha≈0.3-0.7 in the
    mT5/XLM-R lineage): alpha < 1 upsamples tail sources and damps the
    head without ever zeroing anyone; alpha = 1 is proportional
    (no-op), alpha = 0 is uniform.

    Output per group: ``(group, n, p, weight, multiplier)`` where
    ``weight`` is the target mixture share and ``multiplier`` =
    weight/p is the per-row up/down-sampling factor to feed
    :func:`weighted_sample` (multiplier > 1 ⇒ oversample).

    Shape: one group-keyed count (map-side combined; the output is
    |groups| rows) + a window over that tiny table.  NULL groups form
    their own mixture component, matching groupBy semantics everywhere
    else in the engine.
    """
    if alpha < 0:
        raise ValueError(f"mixing_weights: alpha must be >= 0, got {alpha}")
    from pyspark.sql.window import Window

    w = Window.partitionBy()
    counts = df.groupBy(F.col(group_col).alias("group")).agg(
        F.count(F.lit(1)).alias("n"))
    return (
        counts.withColumn("p", F.col("n") / F.sum("n").over(w))
        .withColumn("__pa__", F.pow("p", F.lit(float(alpha))))
        .withColumn("weight", F.col("__pa__") / F.sum("__pa__").over(w))
        .select(
            "group", "n",
            F.round("p", 6).alias("p"),
            F.round("weight", 6).alias("weight"),
            F.round(F.col("weight") / F.col("p"), 6).alias("multiplier"),
        )
    )

def rebalance_by_token_share(
    df: DataFrame,
    weights: dict[str, int],
    *,
    token_col: str = "n_tok",
    source_col: str = "source",
    id_col: str = "doc_id",
    seed: int = 42,
    resolution: int = 1_000_000,
) -> tuple[DataFrame, dict[str, int]]:
    """Deterministic mixture rebalancing by TOKEN share: sample each
    source down so kept-token totals approach the ratio given by
    integer ``weights`` (e.g. ``{"web": 7, "code": 2, "wiki": 1}``),
    without discarding more than necessary — the most-constrained
    source (smallest ``tokens/weight``) keeps EVERYTHING and every
    other source thins toward it.

    Exactness discipline: per-source keep thresholds are computed in
    pure integer arithmetic — ``thr_s = floor(resolution * w_s *
    tokens_m / (w_m * tokens_s))`` with ``m`` the binding source — and
    a row is kept iff ``pmod(xxhash64(id, seed), resolution) < thr_s``:
    a pure function of the row, so the sample is reproducible
    run-to-run, engine-replayable given the hash values, and adding or
    removing OTHER rows never flips a kept row (stable under
    incremental ingestion).  One bounded aggregation (per-source token
    totals, ≤ #sources rows collected) plans the thresholds; the
    sample itself is a scan-level filter — no shuffle of the corpus.

    Returns ``(sampled_df, thresholds)``; sources absent from
    ``weights`` are dropped (a mixture is a whitelist)."""
    if not weights or any(
            not isinstance(w, int) or w <= 0 for w in weights.values()):
        raise ValueError("weights must be positive integers per source")
    totals = {
        r[0]: r[1]
        for r in df.filter(F.col(source_col).isin([*weights]))
        .groupBy(source_col)
        .agg(F.sum(F.when(F.col(token_col) > 0, F.col(token_col))
                   .otherwise(F.lit(0))).alias("t"))
        .collect()
    }
    missing = [s for s in weights if not totals.get(s)]
    if missing:
        raise ValueError(
            f"sources with no tokens cannot anchor a mixture: {missing}")
    # binding source m: smallest tokens/weight, ties by name — exact
    # rational comparison via cross-multiplication
    m = min(weights, key=lambda s: (Fraction(totals[s], weights[s]), s))
    thr = {
        s: min(
            resolution,
            (resolution * weights[s] * totals[m])
            // (weights[m] * totals[s]),
        )
        for s in weights
    }
    u = F.pmod(F.xxhash64(F.col(id_col), F.lit(int(seed))),
               F.lit(resolution))
    rule = None
    for s, t in sorted(thr.items()):
        cond = (F.col(source_col) == s) & (u < F.lit(t))
        rule = cond if rule is None else (rule | cond)
    return df.filter(rule), thr
