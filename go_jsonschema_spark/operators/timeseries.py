"""Regular-grid time-series resampling with gap filling.

Raw event streams have holes; training curves, drift dashboards and
downstream window functions all want a DENSE regular grid.  ``resample``
buckets events onto a fixed step, aggregates once, then left-joins the
aggregates onto a generated spine so EMPTY buckets exist as rows, with
per-column fill policies:

* ``"zero"`` — missing buckets get 0 (counts/sums),
* ``"prev"`` — forward fill from the last observed bucket (gauges),
* ``"linear"`` — linear interpolation between the neighbouring observed
  buckets (NULL before the first / after the last observation),
* ``"null"`` — keep the hole visible.

Scale shape: ONE aggregation shuffle over the events (map-side
combined); the spine is ``(range_span / step)`` rows generated from a
two-value driver aggregate — never row-scaled — and the fills are
window functions over the SPINE (tiny).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window, functions as F

__all__ = ["resample", "distributed_cumsum", "concurrency_profile",
           "cusum_changepoint", "ewma", "merge_intervals"]


def resample(
    df: DataFrame,
    *,
    ts_col: str,
    step_seconds: int,
    aggs: dict[str, tuple[Column, str]],
) -> DataFrame:
    """Resample ``df`` onto a dense ``step_seconds`` grid.

    ``aggs`` maps output column name → ``(aggregate expression, fill)``
    with fill one of ``zero | prev | linear | null``.  Returns
    ``(bucket_ts, *aggs)`` sorted-free (callers order).
    """
    for name, (_, fill) in aggs.items():
        if fill not in ("zero", "prev", "linear", "null"):
            raise ValueError(f"resample: {name}: unknown fill {fill!r}")

    ts = F.col(ts_col).cast("timestamp")
    bucket = F.timestamp_seconds(
        F.floor(F.unix_timestamp(ts) / step_seconds).cast("long")
        * step_seconds)
    src = df.filter(ts.isNotNull()).withColumn("__b__", bucket)

    agged = src.groupBy("__b__").agg(
        *[expr.alias(name) for name, (expr, _) in aggs.items()])

    # spine bounds: a two-value aggregate, never row-scaled
    lo, hi = src.agg(F.min("__b__"), F.max("__b__")).first()
    if lo is None:
        return agged.withColumnRenamed("__b__", "bucket_ts").limit(0)
    spark = df.sparkSession
    spine = spark.range(1).select(
        F.explode(F.sequence(
            F.lit(lo).cast("timestamp"), F.lit(hi).cast("timestamp"),
            F.expr(f"INTERVAL {int(step_seconds)} SECOND"),
        )).alias("__b__"))
    dense = spine.join(agged, ["__b__"], "left")

    w_back = (Window.partitionBy(F.lit(1)).orderBy("__b__")
              .rowsBetween(Window.unboundedPreceding, 0))
    w_fwd = (Window.partitionBy(F.lit(1)).orderBy("__b__")
             .rowsBetween(0, Window.unboundedFollowing))

    out = dense
    for name, (_, fill) in aggs.items():
        v = F.col(name)
        if fill == "zero":
            out = out.withColumn(name, F.coalesce(v, F.lit(0)))
        elif fill == "prev":
            out = out.withColumn(name, F.last(v, ignorenulls=True)
                                 .over(w_back))
        elif fill == "linear":
            has = v.isNotNull()
            t = F.unix_timestamp("__b__")
            pv = F.last(F.when(has, v), ignorenulls=True).over(w_back)
            pt = F.last(F.when(has, t), ignorenulls=True).over(w_back)
            nv = F.first(F.when(has, v), ignorenulls=True).over(w_fwd)
            nt = F.first(F.when(has, t), ignorenulls=True).over(w_fwd)
            interp = F.when(has, v.cast("double")).otherwise(
                F.when(
                    pv.isNotNull() & nv.isNotNull(),
                    pv + (nv - pv) * (t - pt) / (nt - pt),
                ))
            out = out.withColumn(name, interp)
    return out.withColumnRenamed("__b__", "bucket_ts")


def distributed_cumsum(
    df: DataFrame,
    order_cols: list[str],
    value_col: str | Column,
    *,
    out_col: str = "cum",
    n_buckets: int = 64,
    accuracy: int = 10_000,
) -> DataFrame:
    """Global running sum of ``value_col`` under the TOTAL order given
    by ``order_cols`` — WITHOUT the single-partition global window that
    ``Window.orderBy(...)`` with no ``partitionBy`` degenerates to
    (Spark warns ``WindowExec: No Partition Defined``, then funnels the
    entire dataset through one task — the classic scale-killer for
    running totals, sweep lines and CDF-style queries).

    Two-phase scan-sum (the textbook parallel prefix sum, expressed
    relationally so Catalyst keeps it whole-stage):

    1. bucket boundaries = ``n_buckets-1`` percentiles of the FIRST
       order column, collected once (bounded scalars — the equidepth
       pattern); each row's bucket is a NATIVE higher-order filter over
       the literal array (``#{b : key > b}``).  Bucketing on a prefix
       of the order is what makes the split order-consistent: every row
       of bucket i sorts before every row of bucket i+1.
    2. per-bucket running sum: ONE hash Exchange on the bucket id, then
       an ordinary ``rowsBetween(unboundedPreceding, 0)`` window inside
       each bucket (parallel across buckets).
    3. bucket offsets: a map-side-combined ``groupBy(bucket).sum`` —
       the only extra shuffle moves ``n_buckets × partitions`` partial
       rows — then an ``n_buckets``-row single-partition window (tiny
       by construction) and a broadcast join back.

    ``order_cols`` must be a total order (add a unique id as the last
    column) or per-row output is nondeterministic within ties.  NULLs
    in the first order column sort first (Spark default) but make
    cross-engine comparison fragile — filter them upstream.  For exact
    integer semantics pass an integer ``value_col`` (double addition is
    order-sensitive in the last ulp; the bucket split changes the
    addition tree vs a sequential engine).

    At 10^12 rows: raise ``n_buckets`` so each bucket fits an executor
    (boundaries stay a bounded collect).  Boundaries are
    ``approx_percentile(…, accuracy)`` — their placement only balances
    the buckets, never changes the result.
    """
    if not order_cols:
        raise ValueError("distributed_cumsum: empty order_cols")
    v = F.col(value_col) if isinstance(value_col, str) else value_col
    first = order_cols[0]
    ftype = dict(df.dtypes).get(first)
    # The bucket split is computed on a NUMERIC image of the first order
    # column while the in-bucket window sorts the NATIVE column — the two
    # orders must agree or the bucket-i-before-bucket-i+1 invariant breaks
    # (a string column with numeric-looking values buckets numerically but
    # sorts lexicographically, silently corrupting prefix sums; a fully
    # non-castable string degenerates to one bucket).  Only types whose
    # native sort IS the numeric sort are accepted.
    _ok = ftype is not None and (
        ftype in ("tinyint", "smallint", "int", "bigint",
                  "float", "double", "date")
        or ftype.startswith("decimal") or "timestamp" in ftype
    )
    if not _ok:
        raise ValueError(
            f"distributed_cumsum: first order column {first!r} has type "
            f"{ftype!r}; the scan-sum bucket split needs a numeric or "
            "temporal leading order column (cast or derive a numeric sort "
            "key — e.g. a timestamp, epoch, or sequence number — first)"
        )
    key = F.col(first)
    if "timestamp" in ftype:
        key = key.cast("timestamp").cast("long")
    elif ftype == "date":
        key = F.unix_date(F.col(first)).cast("long")
    src = df.withColumn("__key__", key.cast("double"))

    fracs = [i / n_buckets for i in range(1, n_buckets)]
    bounds = src.agg(F.expr(
        f"approx_percentile(__key__, array({', '.join(map(str, fracs))}), "
        f"{accuracy})")).first()[0] or []
    barr = F.array(*[F.lit(float(b)) for b in bounds]).cast("array<double>")
    bkt = F.size(F.filter(barr, lambda b: F.col("__key__") > b))
    src = src.withColumn("__bkt__", bkt)

    w_local = (Window.partitionBy("__bkt__").orderBy(*order_cols)
               .rowsBetween(Window.unboundedPreceding, 0))
    local = src.withColumn("__cs__", F.sum(v).over(w_local))

    totals = src.groupBy("__bkt__").agg(F.sum(v).alias("__tot__"))
    w_off = (Window.orderBy("__bkt__")
             .rowsBetween(Window.unboundedPreceding, -1))
    offs = totals.select(
        "__bkt__", F.sum("__tot__").over(w_off).alias("__off__"))

    # lit(0) is int: coalesce keeps long sums long and double sums double
    return (
        local.join(F.broadcast(offs), "__bkt__")
        .withColumn(
            out_col, F.col("__cs__") + F.coalesce(F.col("__off__"), F.lit(0)))
        .drop("__key__", "__bkt__", "__cs__", "__off__")
    )


def concurrency_profile(
    df: DataFrame,
    start_col: str,
    end_col: str,
    *,
    n_buckets: int = 64,
) -> DataFrame:
    """Sweep-line concurrency: for every distinct interval boundary
    timestamp ``t``, how many intervals are active — ``#{i : start_i <=
    t AND end_i >= t}`` (closed intervals: a session ending exactly
    when another starts overlaps it at that instant).  The capacity
    question — peak concurrent sessions / connections / jobs — that a
    self-join (``O(n²)``) or a single-partition global window can't
    answer at scale.

    Relational sweep line: explode each interval to a ``+1`` (start)
    and ``-1`` (end) delta, pre-aggregate deltas per DISTINCT timestamp
    (collapsing ties makes the order total, so the prefix sum is
    deterministic), then :func:`distributed_cumsum` over the boundary
    table and one add-back of the ties: ``active(t) = cum(net)(t) +
    n_end(t)`` — ends at ``t`` are still active AT ``t`` under closed
    semantics but must not count after it.  All native; the only
    full-data shuffle is the per-timestamp delta aggregation (map-side
    combined) — the cumsum then runs over the (much smaller) distinct-
    boundary table.

    Output: ``(ts, n_start, n_end, active)`` per distinct boundary.
    """
    s, e = F.col(start_col), F.col(end_col)
    deltas = df.where(s.isNotNull() & e.isNotNull()).select(
        F.explode(F.array(
            F.struct(s.alias("ts"), F.lit(1).alias("d")),
            F.struct(e.alias("ts"), F.lit(-1).alias("d")),
        )).alias("x")
    ).select("x.ts", "x.d")
    per_ts = deltas.groupBy("ts").agg(
        F.sum(F.when(F.col("d") == 1, 1).otherwise(0)).alias("n_start"),
        F.sum(F.when(F.col("d") == -1, 1).otherwise(0)).alias("n_end"),
        F.sum("d").alias("__net__"),
    )
    cum = distributed_cumsum(
        per_ts, ["ts"], F.col("__net__"), out_col="__cum__",
        n_buckets=n_buckets)
    return cum.select(
        "ts", "n_start", "n_end",
        (F.col("__cum__") + F.col("n_end")).cast("long").alias("active"),
    )


def cusum_changepoint(
    df: DataFrame,
    *,
    ts_col: str,
    step_seconds: int,
    group_col: str,
) -> DataFrame:
    """CUSUM change-point scan per group: bucket events onto a
    ``step_seconds`` grid, then walk the cumulative sum of deviations
    from the group's mean bucket count — ``s_i = Σ_{j<=i} (n_j - n̄)``.
    A stable series keeps ``s`` near zero; a level shift makes ``s``
    trend, so the bucket where ``|s|`` peaks is the most likely change
    point and ``max(s) - min(s)`` (the CUSUM range) scores its
    magnitude.  The classic "did this metric's level change, and when"
    detector — drift.py answers "do two samples differ", this answers
    WHERE in time.

    Shape: one map-side-combined bucket aggregation over the rows;
    everything after runs on the BUCKETS table — a per-group mean join
    and one per-group ordered window (groups are parallel; each group's
    buckets are bounded by time-range/step, not by rows).

    Output per group: ``(group, n_buckets, cusum_range, change_bucket)``
    — ``change_bucket`` the bucket-start timestamp with the peak |s|
    (earliest on ties), range rounded to 4.
    """
    from pyspark.sql import Window

    ts = F.col(ts_col).cast("timestamp")
    bucket = F.timestamp_seconds(
        F.floor(F.unix_timestamp(ts) / step_seconds).cast("long")
        * step_seconds)
    counts = (
        df.where(ts.isNotNull())
        .groupBy(group_col, bucket.alias("__b__"))
        .agg(F.count(F.lit(1)).alias("n"))
    )
    w_all = Window.partitionBy(group_col)
    w_cum = (Window.partitionBy(group_col).orderBy("__b__")
             .rowsBetween(Window.unboundedPreceding, 0))
    s = counts.withColumn(
        "__s__", F.sum(F.col("n") - F.avg("n").over(w_all)).over(w_cum))
    w_rank = Window.partitionBy(group_col).orderBy(
        F.abs(F.col("__s__")).desc(), F.col("__b__"))
    ranked = s.withColumn("__r__", F.row_number().over(w_rank))
    return ranked.groupBy(group_col).agg(
        F.count(F.lit(1)).cast("long").alias("n_buckets"),
        F.round(F.max("__s__") - F.min("__s__"), 4).alias("cusum_range"),
        F.max(F.when(F.col("__r__") == 1, F.col("__b__")))
        .alias("change_bucket"),
    )


def ewma(
    df: DataFrame,
    *,
    group_col: str,
    order_cols: list[str],
    value_col: str,
    alpha: float = 0.3,
) -> DataFrame:
    """Per-group exponentially-weighted moving average — the smoothed
    current level of a noisy per-entity metric (``level_t = α·x_t +
    (1-α)·level_{t-1}``, seeded with the first observation).  A
    sequential recurrence, which Spark cannot window — but CAN fold:
    the group's observations are collected, sorted by the total order,
    and folded with a native ``F.aggregate`` lambda, the same
    no-Python-state-machine shape as funnel_users (fine for bounded
    per-entity cardinality; cap pathological groups upstream with
    cap_per_group).

    NULL values are skipped by the fold (they carry no signal); groups
    with no non-null observations return NULL.

    Output: ``(group_col, n_obs, ewma)`` — one row per group, ewma
    rounded to 6.
    """
    if not (0.0 < alpha <= 1.0):
        raise ValueError(f"ewma: alpha must be in (0, 1], got {alpha}")
    if not order_cols:
        raise ValueError("ewma: empty order_cols")
    obs = F.array_sort(F.collect_list(F.struct(
        *[F.col(c).alias(f"o{i}") for i, c in enumerate(order_cols)],
        F.col(value_col).cast("double").alias("v"),
    )))
    a = float(alpha)

    def _step(acc, x):
        seeded = acc["n"] > 0
        nxt = F.when(
            x["v"].isNull(), acc["level"]
        ).otherwise(
            F.when(seeded, a * x["v"] + (1 - a) * acc["level"])
            .otherwise(x["v"])
        )
        return F.struct(
            nxt.alias("level"),
            (acc["n"] + F.when(x["v"].isNull(), 0).otherwise(1)).alias("n"),
        )

    acc0 = F.struct(
        F.lit(None).cast("double").alias("level"),
        F.lit(0).alias("n"),
    )
    folded = F.aggregate(obs, acc0, _step)
    return df.groupBy(group_col).agg(
        F.round(folded["level"], 6).alias("ewma"),
        folded["n"].cast("long").alias("n_obs"),
    ).select(group_col, "n_obs", "ewma")


def merge_intervals(
    df: DataFrame,
    *,
    key_col: str,
    start_col: str,
    end_col: str,
) -> DataFrame:
    """Merge overlapping-or-touching intervals per key into maximal
    islands (the gaps-and-islands pattern): availability windows,
    maintenance/outage coverage, validity ranges — any "how much of the
    timeline is actually covered" question.

    Rule: intervals sort by (start, end); an interval starts a NEW
    island iff its start is strictly greater than the running max end
    of everything before it (touching endpoints merge).  Zero-length
    and inverted intervals are kept as points of their start (end
    clamped up to start).  Rows with a NULL key, start or end are
    dropped — they have no place on a timeline.

    Shape (100 TB): one key-partitioned sort window (the single
    shuffle), a running-max + cumulative-sum over it, then a
    (key, island) aggregation that map-side combines — no joins, no
    driver state, works on any orderable type (timestamps, longs).

    Output: ``(key_col, island_start, island_end, n_intervals)`` —
    one row per island, island bounds in the input column type.
    """
    c_key, c_s, c_e = F.col(key_col), F.col(start_col), F.col(end_col)
    base = (
        df.filter(c_key.isNotNull() & c_s.isNotNull() & c_e.isNotNull())
        .select(c_key.alias("__k__"), c_s.alias("__s__"),
                F.greatest(c_e, c_s).alias("__e__"))
    )
    w = Window.partitionBy("__k__").orderBy("__s__", "__e__")
    prev_max = F.max("__e__").over(
        w.rowsBetween(Window.unboundedPreceding, -1))
    flagged = base.select(
        "__k__", "__s__", "__e__",
        F.when(prev_max.isNull() | (F.col("__s__") > prev_max), 1)
        .otherwise(0).alias("__new__"),
    )
    islands = flagged.select(
        "__k__", "__s__", "__e__",
        F.sum("__new__").over(
            w.rowsBetween(Window.unboundedPreceding, 0)).alias("__i__"),
    )
    return (
        islands.groupBy("__k__", "__i__")
        .agg(F.min("__s__").alias("island_start"),
             F.max("__e__").alias("island_end"),
             F.count(F.lit(1)).cast("long").alias("n_intervals"))
        .select(F.col("__k__").alias(key_col),
                "island_start", "island_end", "n_intervals")
    )
