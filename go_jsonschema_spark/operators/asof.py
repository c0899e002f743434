"""As-of join — the time-series join Spark lacks natively (guide §OLAP).

Scalable formulation (no per-group Python, no range explosion): tag both
sides, union, and take the running ``last_value`` of the right side's
payload over a window partitioned by key and ordered by (ts, side) — each
left row then carries the most recent right row with ``right.ts <=
left.ts``.  ONE shuffle (the window partitioning), O(n log n) per key.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F, types as T

__all__ = ["asof_join", "range_join"]


def asof_join(
    left: DataFrame,
    right: DataFrame,
    *,
    key: str,
    ts: str,
    payload: list[str],
    suffix: str = "_asof",
) -> DataFrame:
    """For every left row, attach the latest ``payload`` columns of the
    right row with the same ``key`` and ``right.ts <= left.ts`` (NULLs when
    none exists).  Column names of attached payload get ``suffix``."""
    lcols = left.columns
    # ALL payload columns travel as ONE struct so they always come from the
    # same, truly most-recent right row: with per-column last(ignorenulls),
    # a right row whose payload value is legitimately NULL would be skipped
    # in favor of a stale earlier value, and different payload columns could
    # come from different right rows — deviating from merge_asof semantics.
    payload_struct_t = T.StructType(
        [T.StructField(p, right.schema[p].dataType) for p in payload]
    )
    tagged_l = left.select(
        *lcols,
        F.lit(1).alias("__side__"),
        F.lit(None).cast(payload_struct_t).alias("__p__"),
    )
    tagged_r = right.select(
        *[
            F.col(c) if c in (key, ts) else F.lit(None).cast(
                left.schema[c].dataType
            ).alias(c)
            for c in lcols
        ],
        F.lit(0).alias("__side__"),
        F.struct(*[F.col(p) for p in payload]).alias("__p__"),
    )
    both = tagged_l.unionByName(tagged_r)
    # right rows sort before left rows at equal ts (side 0 < 1) → a right
    # row AT the left row's ts is visible to it ("<=" semantics)
    w = (
        Window.partitionBy(key)
        .orderBy(F.col(ts).asc(), F.col("__side__").asc())
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    carried = both.select(
        *lcols,
        "__side__",
        F.last("__p__", ignorenulls=True).over(w).alias("__pl__"),
    )
    return (
        carried.filter(F.col("__side__") == 1)
        .select(
            *lcols,
            *[
                F.col("__pl__").getField(p).alias(f"{p}{suffix}")
                for p in payload
            ],
        )
    )


def range_join(
    left: DataFrame,
    right: DataFrame,
    *,
    left_point: str,
    right_start: str,
    right_end: str,
    bin_width: float,
) -> DataFrame:
    """Point-in-interval inner join as ONE equi-join shuffle (guide §OLAP) —
    Spark plans a bare ``l.x BETWEEN r.lo AND r.hi`` predicate as a
    BroadcastNestedLoopJoin, which is O(|L|·|R|) work and a
    single-executor broadcast: a scale trap the moment the interval side
    stops being tiny.

    Binned formulation: each interval explodes into every ``bin_width``
    bucket it overlaps (cost = span/bin_width rows — pick bin_width near
    the TYPICAL interval span so most intervals land in 1-2 bins), each
    point takes exactly ONE bucket, and the join is an equi-join on the
    bucket followed by the exact range filter.  The point's single
    bucket uniquely locates every candidate pair, so no pair dedup is
    needed.  Both inputs shuffle once on a uniform integer key —
    co-partitioned, AQE-skew-splittable, no nested loop anywhere.

    Columns must be numeric (cast timestamps to epoch seconds/days
    first)."""
    overlap = set(left.columns) & set(right.columns)
    if overlap:
        # a shared name would silently produce duplicate-named output
        # columns that only fail (ambiguously) at first reference
        raise ValueError(
            f"range_join: column name(s) {sorted(overlap)} exist on both "
            "sides; rename before joining")
    w = float(bin_width)
    # Global-span pre-filter: two scalars off the interval side (one tiny
    # aggregate job), pushed down as a scan filter on the point side.  At
    # scale the interval table usually covers a narrow slice of the point
    # domain (e.g. a week of high-value orders vs years of lineitems), so
    # this turns most of the point scan into skipped row groups BEFORE the
    # explode+shuffle — the candidate volume, not the join, is the cost.
    span = right.agg(
        F.min(right_start).alias("lo"), F.max(right_end).alias("hi")
    ).first()
    if span["lo"] is None:  # empty interval side: no pair can match
        cand = left.filter(F.lit(False))
    else:
        cand = left.filter(
            (F.col(left_point) >= F.lit(span["lo"]))
            & (F.col(left_point) <= F.lit(span["hi"]))
        )
        # a small point side (single parquet file → one scan partition)
        # would run the entire candidate join — |L|·(bucket occupancy)
        # range checks — in ONE task while every other core idles
        # (measured 6.0 s → 1.7 s at sf0.1, r7).  Spread AFTER the span
        # filter so the pushed-down scan predicate is unaffected; no-op
        # for big inputs where the scan already has many partitions.
        from go_jsonschema_spark.operators.dedup import _spread

        cand = _spread(cand)
    lbin = F.floor(F.col(left_point) / w).cast("long")
    r = right.withColumn(
        "__bin__",
        F.explode(F.sequence(
            F.floor(F.col(right_start) / w).cast("long"),
            F.floor(F.col(right_end) / w).cast("long"))),
    )
    l = cand.withColumn("__bin__", lbin)
    return (
        l.join(r, "__bin__")
        .filter((F.col(left_point) >= F.col(right_start))
                & (F.col(left_point) <= F.col(right_end)))
        .drop("__bin__")
    )
