"""Mergeable distinct-count sketches (Apache DataSketches HLL via
Spark's native ``hll_sketch_agg`` family) — the north rule's
"per-partition stats sketches live in checkpointed metadata".

The problem they solve: exact global distinct counts need a full
shuffle over every row ever validated; re-deriving them after each
incremental batch means re-scanning history.  An HLL sketch is a few
KB, MERGEABLE (union is associative + commutative, so per-batch
sketches combine in any order), and deterministic for a given input —
so each validation batch stores its sketch in the checkpoint manifest
and the RUNNING distinct count is a driver-side union over manifests:
no historical rescan, ever.  Estimate error is the standard HLL bound
(~1.04/sqrt(2^lg_k): ≈0.8% at the default lg_k=12).

Exactness discipline: estimates are labelled estimates.  The engine's
``unique``/``dup`` checks stay exact; sketches serve trend dashboards
and cheap pre-checks (a sketch union that says "no growth in distinct
doc_ids" cannot prove uniqueness, but one that says "distinct grew
less than rows ingested" proves duplicates EXIST before any shuffle).
"""

from __future__ import annotations

import base64

from pyspark.sql import DataFrame, SparkSession, functions as F

__all__ = ["batch_distinct_sketch", "running_distinct", "union_estimate",
           "log_bucket", "bucket_lower_bound", "batch_quantile_sketch",
           "merge_quantile_sketches", "sketch_quantiles",
           "running_quantiles", "grouped_sketch_quantiles",
           "drift_between_runs"]

_SKETCH_KEY = "__sketches__"


def batch_distinct_sketch(
    df: DataFrame, cols: list[str], *, lg_k: int = 12
) -> dict[str, str]:
    """One narrow aggregation pass → ``{col: base64(HLL sketch)}`` for
    this batch (column-pruned scan; each map task contributes one
    partial sketch, the driver receives ``len(cols)`` small blobs)."""
    row = df.agg(
        *[F.hll_sketch_agg(F.col(c), F.lit(lg_k)).alias(f"__s{i}__")
          for i, c in enumerate(cols)]
    ).first()
    return {
        c: base64.b64encode(bytes(row[f"__s{i}__"])).decode("ascii")
        for i, c in enumerate(cols)
    }


def union_estimate(spark: SparkSession, sketches: list[str]) -> int:
    """Distinct estimate of the UNION of base64-serialized sketches —
    a driver-side merge of KB-sized blobs (one tiny local job)."""
    if not sketches:
        return 0
    df = spark.createDataFrame(
        [(base64.b64decode(s),) for s in sketches], "sk binary")
    return int(df.agg(
        F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("e")
    ).first()["e"])


def running_distinct(
    spark: SparkSession, store, run_id: str, cols: list[str],
) -> dict[str, int]:
    """Running distinct estimates for ``run_id`` from the checkpoint
    store's manifests alone — no data rescan.  Requires the run to have
    been executed with ``ResumableValidation(..., sketch_cols=cols)``;
    columns without stored sketches are omitted from the result."""
    return {
        c: union_estimate(spark, blobs)
        for c, blobs in _manifest_sketches(
            store, run_id, _SKETCH_KEY, cols).items()
    }


def _manifest_sketches(
    store, run_id: str, block: str, cols: list[str],
) -> dict[str, list]:
    """{col: [one sketch per batch]} from the ``block`` entry of a run's
    checkpoint manifests (columns with no stored sketches omitted)."""
    by_col: dict[str, list] = {c: [] for c in cols}
    for manifest in store.completed(run_id).values():
        sk = manifest.get("metrics", {}).get(block, {})
        for c in cols:
            if c in sk:
                by_col[c].append(sk[c])
    return {c: sks for c, sks in by_col.items() if sks}


# --- mergeable quantile sketches (r6) ---------------------------------------
#
# The distinct-count story, repeated for quantiles: per-batch histograms
# that MERGE by integer addition, so running percentile estimates come
# from checkpoint manifests with zero rescan.  The sketch is a base-2
# log-histogram with 16 linear sub-buckets per octave (the DDSketch idea
# with gamma = 2^(1/16), Masson et al. 2019) — but the bucket rule is
# EXACT INTEGER arithmetic on non-negative integral values:
#
#     e      = len(bin(x)) - 1              (= floor(log2 x), no floats)
#     sub    = ((x - 2^e) * 16) div 2^e     (linear split of the octave)
#     bucket = e * 16 + sub                 (zero -> bucket -1)
#
# so any engine (Spark, DuckDB, plain Python) reproduces the same bucket
# for the same value bit-for-bit — float log2 would flicker at octave
# edges.  A bucket's lower bound (16+sub)/16 * 2^e under-estimates the
# true value by < 2^e/16, i.e. the quantile estimate q_est satisfies
# q_est <= q_true < q_est * (1 + 1/16): guaranteed 6.25% relative error
# with <= 16*63+1 counters no matter how many rows were sketched.
# Values must fit (x - 2^e)*16 in int64: x < 2^59 (token counts, byte
# sizes and latencies all qualify; negative values are rejected).

_QSKETCH_KEY = "__qsketches__"
_SUBS = 16  # sub-buckets per octave (2^4); fixed so sketches stay mergeable


def log_bucket(col: "F.Column") -> "F.Column":
    """Deterministic sketch bucket of a non-negative integral column
    (NULL propagates; negative values map to -2 so the caller can
    reject them explicitly rather than silently mis-rank)."""
    x = col.cast("long")
    e = (F.length(F.bin(x)) - F.lit(1)).cast("int")
    # the python shiftleft/shiftright wrappers take only int shift
    # amounts — call_function passes the per-row column shift through
    pw = F.call_function("shiftleft", F.lit(1).cast("long"), e)
    # (x - 2^e)*16 div 2^e as a pure shift — exact int64 for all
    # x < 2^59, no double division anywhere
    sub = F.call_function("shiftright", (x - pw) * _SUBS, e)
    bucket = e.cast("long") * _SUBS + sub.cast("long")
    return (
        F.when(x.isNull(), F.lit(None).cast("long"))
        .when(x < 0, F.lit(-2).cast("long"))
        .when(x == 0, F.lit(-1).cast("long"))
        .otherwise(bucket)
    )


def bucket_lower_bound(bucket: "F.Column") -> "F.Column":
    """Lower bound of a bucket as DOUBLE — (16+sub)/16 · 2^e built from
    shift + divide-by-16 so every term is a power of two and the double
    is identical in any engine."""
    e = F.floor(bucket / _SUBS).cast("int")
    sub = bucket - e.cast("long") * _SUBS
    lb = ((F.lit(_SUBS).cast("long") + sub).cast("double") / F.lit(16.0)
          * F.call_function("shiftleft",
                            F.lit(1).cast("long"), e).cast("double"))
    return (
        F.when(bucket == -1, F.lit(0.0))
        # negative-value / sentinel buckets have no lower bound — NULL
        # here beats the garbage a negative shift would produce
        .when(bucket < -1, F.lit(None).cast("double"))
        .otherwise(lb)
    )


def batch_quantile_sketch(
    df: DataFrame, cols: list[str],
) -> dict[str, dict]:
    """ONE scan + one tiny bucket-keyed aggregation for every column:
    ``{col: {"buckets": {str(bucket): count}, "n_null": k}}``.  The
    explode is over len(cols) bucket ids per row (not values), and the
    groupBy map-side-combines to <= cols x ~1000 counters."""
    pairs = F.array(*[
        F.struct(F.lit(c).alias("c"),
                 log_bucket(F.col(c)).alias("b")) for c in cols
    ])
    hist = (
        df.select(F.explode(pairs).alias("p"))
        .groupBy(F.col("p.c").alias("c"), F.col("p.b").alias("b"))
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    )
    out: dict[str, dict] = {c: {"buckets": {}, "n_null": 0} for c in cols}
    for r in hist:
        if r["b"] is None:
            out[r["c"]]["n_null"] = int(r["n"])
        else:
            out[r["c"]]["buckets"][str(r["b"])] = int(r["n"])
    return out


def merge_quantile_sketches(sketches: list[dict]) -> dict:
    """Pure integer addition — associative and commutative, so manifests
    merge in any order (the mergeability contract of the HLL twin)."""
    buckets: dict[str, int] = {}
    n_null = 0
    for sk in sketches:
        n_null += int(sk.get("n_null", 0))
        for b, n in sk.get("buckets", {}).items():
            buckets[b] = buckets.get(b, 0) + int(n)
    return {"buckets": buckets, "n_null": n_null}


def sketch_quantiles(sketch: dict, qs: list) -> dict:
    """Quantile estimates from a (merged) sketch: for each q the LOWER
    BOUND of the bucket holding rank ceil(q·N) — ranks in exact integer
    arithmetic (``Fraction(str(q))``, the tolerance-gate discipline), so
    knife-edge quantiles match any engine's replay.  Guarantees
    ``est <= true < est·(1+1/16)``.  Raises on negative-value buckets."""
    from fractions import Fraction

    items = sorted((int(b), n) for b, n in sketch["buckets"].items())
    if any(b == -2 for b, _ in items):
        raise ValueError(
            "sketch_quantiles: sketch contains negative values")
    total = sum(n for _, n in items)
    out: dict = {}
    for q in qs:
        fq = Fraction(str(q))
        if not 0 < fq <= 1:
            raise ValueError(f"sketch_quantiles: q must be in (0, 1], got {q}")
        if total == 0:
            out[q] = None
            continue
        rank = -((-total * fq.numerator) // fq.denominator)  # ceil
        cum = 0
        for b, n in items:
            cum += n
            if cum >= rank:
                if b == -1:
                    out[q] = 0.0
                else:
                    e, sub = divmod(b, _SUBS)
                    out[q] = (_SUBS + sub) / 16.0 * float(1 << e)
                break
    return out


def _merged_qsketches(store, run_id: str, cols: list[str]) -> dict[str, dict]:
    """{col: merged sketch} from a run's checkpoint manifests (columns
    with no stored sketches omitted)."""
    return {c: merge_quantile_sketches(sks)
            for c, sks in _manifest_sketches(
                store, run_id, _QSKETCH_KEY, cols).items()}


def running_quantiles(
    store, run_id: str, cols: list[str], qs: list,
) -> dict[str, dict]:
    """Running quantile estimates for ``run_id`` from checkpoint
    manifests alone — a pure driver-side merge, not even a Spark job
    (sketches are ~KB of counters).  Requires the run to have used
    ``ResumableValidation(..., quantile_cols=cols)``; columns with no
    stored sketches are omitted."""
    return {
        c: sketch_quantiles(sk, qs)
        for c, sk in _merged_qsketches(store, run_id, cols).items()
    }


def drift_between_runs(
    store, base_run: str, cur_run: str, cols: list[str], *,
    eps: float = 1e-6,
) -> dict[str, float]:
    """Distribution drift (PSI) of each column between two checkpointed
    runs, computed ENTIRELY from manifests — the north rule's "drift
    baselines live in checkpointed metadata" closed end-to-end: the
    baseline run's quantile-sketch histogram IS the baseline, no golden
    snapshot table and no rescan of either run's data.  Delegates to
    ``operators.drift.psi`` (same eps clamping as every other PSI in
    the engine) over the merged log-histogram buckets; columns missing
    sketches in either run are omitted.  The log-bucket grain (6.25%
    relative) is finer than the equi-width production binning PSI is
    usually run at, so sensitivity is comparable."""
    from go_jsonschema_spark.operators.drift import psi

    base = _merged_qsketches(store, base_run, cols)
    cur = _merged_qsketches(store, cur_run, cols)
    return {
        c: psi({int(b): n for b, n in cur[c]["buckets"].items()},
               {int(b): n for b, n in base[c]["buckets"].items()},
               eps=eps)
        for c in cols if c in base and c in cur
    }


def grouped_sketch_quantiles(
    df: DataFrame, col: str, qs: dict[str, str], *, group_col: str,
) -> DataFrame:
    """The same sketch evaluated NATIVELY per group, end-to-end in the
    JVM: one bucket-keyed aggregation (<= groups x ~1000 rows), a
    per-group cumulative window over that tiny table, then one row per
    group with the rank-ceil lower-bound estimate for each quantile.
    ``qs`` maps output alias -> quantile as a STRING (exact Fraction
    rank rule, the tolerance-gate discipline).

    This is the scan shape a 10^12-row profile wants: the full table is
    touched once, everything after the first groupBy is counter-sized.
    NULL values are excluded (profile null-rates separately); rows with
    negative values raise at rank time in ``sketch_quantiles`` but here
    map to bucket -2 which would become the minimum — callers gate
    integral non-negative columns (the engine's minimum-0 constraint
    is the natural guard).

    Output: ``(group_col, n, *aliases)``, estimates as DOUBLE.
    """
    from fractions import Fraction

    from pyspark.sql.window import Window

    hist = (
        df.filter(F.col(col).isNotNull())
        .groupBy(F.col(group_col).alias("g"),
                 log_bucket(F.col(col)).alias("bucket"))
        .agg(F.count(F.lit(1)).alias("n"))
    )
    w_cum = (Window.partitionBy("g").orderBy("bucket")
             .rowsBetween(Window.unboundedPreceding, 0))
    scored = hist.select(
        "g", "bucket", "n",
        F.sum("n").over(w_cum).alias("cum"),
        F.sum("n").over(Window.partitionBy("g")).alias("tot"),
    )
    aggs = [F.max("tot").cast("long").alias("n")]
    for alias, q in qs.items():
        fq = Fraction(str(q))
        if not 0 < fq <= 1:
            raise ValueError(
                f"grouped_sketch_quantiles: q must be in (0, 1], got {q}")
        # rank = ceil(q * tot), exact while tot*num < 2^53
        rank = F.floor(
            (F.col("tot") * fq.numerator + fq.denominator - 1)
            / fq.denominator)
        aggs.append(
            F.min(F.when(F.col("cum") >= rank,
                         bucket_lower_bound(F.col("bucket"))))
            .alias(alias))
    return (
        scored.groupBy("g").agg(*aggs)
        .select(F.col("g").alias(group_col), "n",
                *[F.col(a) for a in qs])
    )
