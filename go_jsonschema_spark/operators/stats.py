"""Per-column statistics in ONE aggregate pass.

North-star check (SURVEY.md §2.8): min/max/mean, approx quantiles
(``percentile_approx``), approx distinct (HyperLogLog++,
``approx_count_distinct``), null counts — all computed as a single
partial+final hash aggregation so the 100 TB scan happens once.  Column
pruning keeps the scan narrow: only the profiled columns are read.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F, types as T

__all__ = ["column_stats", "grouped_stats", "robust_outliers",
           "chi_square_independence", "equidepth_histogram",
           "pairwise_corr", "trend", "categorical_entropy",
           "mutual_information", "winsorize", "contribution_concentration",
           "quantile_normalize", "sequence_integrity", "skew_report"]

_DEFAULT_QUANTILES = [0.5, 0.95, 0.99]


def _is_numeric(dt: T.DataType) -> bool:
    return isinstance(
        dt,
        (T.ByteType, T.ShortType, T.IntegerType, T.LongType, T.FloatType,
         T.DoubleType, T.DecimalType),
    )


def column_stats(
    df: DataFrame,
    columns: list[str] | None = None,
    *,
    quantiles: list[float] | None = None,
    approx_distinct: bool = True,
) -> DataFrame:
    """One-row-per-column stats: (column, n, n_null, n_distinct_approx,
    min, max, mean, q50, q95, q99).  min/max/mean/quantiles only for numeric
    columns (others get NULL).

    Scale: a single ``agg`` → Catalyst plans partial aggregation per
    partition then one final reduce; no per-column scans."""
    qs = _DEFAULT_QUANTILES if quantiles is None else quantiles
    dtypes = dict((f.name, f.dataType) for f in df.schema.fields)
    cols = columns or [f.name for f in df.schema.fields]

    aggs = [F.count(F.lit(1)).alias("__n__")]
    for c in cols:
        aggs.append(F.count(F.when(F.col(c).isNull(), 1)).alias(f"{c}__nnull"))
        if approx_distinct:
            aggs.append(F.approx_count_distinct(c).alias(f"{c}__ndist"))
        if _is_numeric(dtypes[c]):
            aggs.append(F.min(c).cast("double").alias(f"{c}__min"))
            aggs.append(F.max(c).cast("double").alias(f"{c}__max"))
            aggs.append(F.avg(c).alias(f"{c}__mean"))
            aggs.append(
                F.percentile_approx(c, qs, 10000).alias(f"{c}__q")
            )
    wide = df.agg(*aggs)

    # unpivot driver-side shape (one tiny row) into per-column rows
    structs = []
    for c in cols:
        fields = [
            F.lit(c).alias("column"),
            F.col("__n__").alias("n"),
            F.col(f"{c}__nnull").alias("n_null"),
        ]
        fields.append(
            F.col(f"{c}__ndist").alias("n_distinct_approx")
            if approx_distinct
            else F.lit(None).cast("long").alias("n_distinct_approx")
        )
        if _is_numeric(dtypes[c]):
            fields += [
                F.col(f"{c}__min").alias("min"),
                F.col(f"{c}__max").alias("max"),
                F.col(f"{c}__mean").alias("mean"),
                F.col(f"{c}__q").alias("quantiles"),
            ]
        else:
            fields += [
                F.lit(None).cast("double").alias("min"),
                F.lit(None).cast("double").alias("max"),
                F.lit(None).cast("double").alias("mean"),
                F.lit(None).cast("array<double>").alias("quantiles"),
            ]
        structs.append(F.struct(*fields))
    return wide.select(F.explode(F.array(*structs)).alias("s")).select("s.*")


def grouped_stats(
    df: DataFrame, group_col: str, value_col: str
) -> DataFrame:
    """Per-group stats of one numeric column — the grouped-checks primitive
    (`groupBy(source)`-keyed verdicts).  Partial aggregation handles skewed
    group sizes; AQE coalesces the post-shuffle partitions."""
    return (
        df.groupBy(group_col)
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.min(value_col).cast("double").alias("min"),
            F.max(value_col).cast("double").alias("max"),
            F.avg(value_col).alias("mean"),
            F.stddev_pop(value_col).alias("stddev"),
        )
    )


def robust_outliers(
    df: DataFrame,
    value_col: str,
    group_cols: list[str] | None = None,
    *,
    k: float = 3.5,
    consistency: float = 1.4826,
) -> DataFrame:
    """Rows whose ``value_col`` lies more than ``k`` robust standard
    deviations from their group median — the median/MAD outlier rule
    (Hampel / Iglewicz-Hoaglin; ``consistency``·MAD estimates sigma
    under normality, 1.4826 = 1/Phi^-1(3/4)).  Mean/stddev rules mask
    themselves at scale: one big outlier inflates stddev enough to hide
    the rest; the 50%-breakdown median/MAD pair does not.

    Two group-keyed aggregations by construction (MAD is a median OF
    deviations FROM a median — not one-pass decomposable), each
    map-side combined; the per-group stats table is tiny and joins
    back broadcast, so the input is scanned twice but never shuffled
    on the row key.  Medians are exact ``percentile``.

    NULL values join no distribution and are never flagged; groups
    with ``MAD == 0`` (a majority-constant column) have no robust
    scale, so nothing is flagged there either (documented breakdown
    of the rule — use an exact-inequality check instead).

    Output: the input row + ``(med, mad, robust_z)`` for flagged rows;
    ``robust_z`` rounded to 4 so verdicts are engine-independent.
    """
    if k <= 0:
        raise ValueError(f"robust_outliers: k must be > 0, got {k}")
    gcols = list(group_cols or [])
    v = F.col(value_col)
    src = df.where(v.isNotNull())
    one_group = not gcols
    if one_group:
        src = src.withColumn("__g__", F.lit(1))
        gcols = ["__g__"]

    med = src.groupBy(*gcols).agg(
        F.percentile(v, F.lit(0.5)).alias("__med__"))
    mad = (
        src.join(F.broadcast(med), gcols)
        .groupBy(*gcols)
        .agg(
            F.percentile(F.abs(v - F.col("__med__")), F.lit(0.5))
            .alias("__mad__"),
            F.first("__med__").alias("__med__"),
        )
    )
    out = (
        src.join(F.broadcast(mad), gcols)
        .where(
            (F.col("__mad__") > 0)
            & (F.abs(v - F.col("__med__"))
               > k * consistency * F.col("__mad__"))
        )
        .withColumn("med", F.round(F.col("__med__"), 6))
        .withColumn("mad", F.round(F.col("__mad__"), 6))
        .withColumn(
            "robust_z",
            F.round(
                (v - F.col("__med__")) / (consistency * F.col("__mad__")), 4
            ),
        )
        .drop("__med__", "__mad__")
    )
    return out.drop("__g__") if one_group else out


def chi_square_independence(
    df: DataFrame,
    col_a: str,
    col_b: str,
) -> DataFrame:
    """Pearson chi-square test of independence between two categorical
    columns, plus Cramér's V effect size — the dataset-level "are these
    features entangled?" check (stratification audits, leakage hunts:
    a split column independent of the label should have V ≈ 0).

        chi2 = sum_cells (obs - exp)^2 / exp,  exp = row_tot·col_tot/N
        V    = sqrt(chi2 / (N · min(r-1, c-1)))

    Shape: ONE cell-keyed aggregation over the rows (map-side combined
    into the r×c contingency table); margins and the final statistic
    are windows/aggregates over that tiny table, never the input.
    Rows where either column is NULL are excluded (no information
    about the pair).  No p-value on purpose: neither engine has a
    native chi-square CDF, and a Python-side CDF would break the
    no-Python contract — compare chi2 against the caller's critical
    value for (dof) instead.

    Output: one row ``(n, r, c, dof, chi2, cramers_v)``, floats
    rounded to 6.
    """
    from pyspark.sql.window import Window

    a, bcol = F.col(col_a), F.col(col_b)
    cells = (
        df.where(a.isNotNull() & bcol.isNotNull())
        .groupBy(a.alias("__a__"), bcol.alias("__b__"))
        .agg(F.count(F.lit(1)).alias("__o__"))
    )
    wa = Window.partitionBy("__a__")
    wb = Window.partitionBy("__b__")
    wall = Window.partitionBy()
    enriched = (
        cells.withColumn("__ra__", F.sum("__o__").over(wa))
        .withColumn("__cb__", F.sum("__o__").over(wb))
        .withColumn("__n__", F.sum("__o__").over(wall))
        .withColumn(
            "__e__", F.col("__ra__") * F.col("__cb__") / F.col("__n__"))
    )
    return enriched.agg(
        F.first("__n__").cast("long").alias("n"),
        F.countDistinct("__a__").cast("long").alias("r"),
        F.countDistinct("__b__").cast("long").alias("c"),
        (
            (F.countDistinct("__a__") - 1)
            * (F.countDistinct("__b__") - 1)
        ).cast("long").alias("dof"),
        F.round(
            F.sum(
                (F.col("__o__") - F.col("__e__")) ** 2 / F.col("__e__")
            ),
            6,
        ).alias("chi2"),
        F.round(
            F.sqrt(
                F.sum((F.col("__o__") - F.col("__e__")) ** 2
                      / F.col("__e__"))
                / (
                    F.first("__n__")
                    # a single-category column gives chi2 == 0 exactly
                    # (obs == exp); clamping min(r-1, c-1) to 1 turns the
                    # would-be 0/0 into the statistically right V = 0
                    * F.greatest(
                        F.least(
                            F.countDistinct("__a__") - 1,
                            F.countDistinct("__b__") - 1,
                        ),
                        F.lit(1),
                    )
                )
            ),
            6,
        ).alias("cramers_v"),
    )


def equidepth_histogram(
    df: DataFrame,
    column: str,
    *,
    n_buckets: int = 10,
) -> DataFrame:
    """Equi-depth (equal-frequency) histogram: bucket boundaries at the
    ``i/n`` quantiles, so each bucket holds ~the same row count no
    matter how skewed the distribution — the histogram drift.py's
    fixed-width buckets can't give you when one hot value swallows the
    range (equi-depth is also what engines keep as table statistics).

    Boundaries use interpolated percentiles (Spark ``percentile`` ==
    DuckDB ``quantile_cont``), collected once (n-1 scalars, bounded)
    and ROUNDED to 6 decimals — the interpolation ``lo + (hi-lo)·f``
    is not bit-identical across engines (observed: 51.87 vs
    51.86999999999999 with a data point exactly at the boundary), and
    rounding collapses last-ulp divergence onto one double; bucket
    assignment is a NATIVE higher-order filter over the literal
    boundary array — ``bucket = #{b : x > b}`` — so ties land in the
    lower bucket deterministically in any engine, followed by one
    bucket-keyed count.  Two scans, no row-keyed shuffle, no Python.

    Output: ``(bucket, n, lo, hi)`` — observed min/max per bucket,
    rounded to 6; empty buckets (possible under heavy ties) are absent.
    NULLs are excluded.
    """
    if n_buckets < 2:
        raise ValueError(
            f"equidepth_histogram: n_buckets must be >= 2, got {n_buckets}")
    v = F.col(column)
    src = df.where(v.isNotNull())
    fracs = [i / n_buckets for i in range(1, n_buckets)]
    row = src.agg(
        F.expr(f"percentile({column}, array({', '.join(map(str, fracs))}))")
        .alias("bounds")
    ).collect()[0]
    bounds = row["bounds"]
    if bounds is None:
        return src.select(
            F.lit(0).cast("long").alias("bucket"),
            F.lit(0).cast("long").alias("n"),
            F.lit(0.0).alias("lo"), F.lit(0.0).alias("hi"),
        ).limit(0)
    barr = F.array(*[F.lit(round(float(b), 6)) for b in bounds])
    bucket = F.size(F.filter(barr, lambda b: v > b)).cast("long")
    return (
        src.withColumn("bucket", bucket)
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.min(v).cast("double"), 6).alias("lo"),
            F.round(F.max(v).cast("double"), 6).alias("hi"),
        )
    )


def pairwise_corr(df: DataFrame, cols: list[str]) -> DataFrame:
    """Pearson correlation for every unordered column pair in ``cols``
    — the redundancy/leakage screen over a table's numeric features,
    tidy-shaped for thresholding (``WHERE abs(corr) > 0.95`` finds the
    duplicated features).

    ONE aggregation computes all C(m,2) correlations (each an
    algebraic one-pass moment — Spark's native ``corr``), then an
    inline unpivot explodes the single result row into tidy
    ``(col_a, col_b, corr)`` rows.  No joins, no second scan.  Pairs
    where either column is constant have undefined correlation and
    surface as NULL (both engines' corr semantics).

    Output: ``(col_a, col_b, corr)``, rounded to 6.
    """
    if len(cols) < 2:
        raise ValueError("pairwise_corr: need at least two columns")
    if len(set(cols)) != len(cols):
        raise ValueError("pairwise_corr: duplicate columns")
    pairs = [
        (a, bc) for i, a in enumerate(cols) for bc in cols[i + 1:]
    ]
    # corr from moments with try_divide: a constant column yields NULL
    # (DuckDB's corr semantics) instead of ANSI-mode DIVIDE_BY_ZERO,
    # which Spark's own `corr` raises under spark.sql.ansi.enabled
    aggs = [
        F.round(
            F.try_divide(
                F.covar_samp(a, bc),
                F.stddev_samp(a) * F.stddev_samp(bc),
            ),
            6,
        ).alias(f"__c{i}__")
        for i, (a, bc) in enumerate(pairs)
    ]
    wide = df.agg(*aggs)
    structs = F.array(*[
        F.struct(
            F.lit(a).alias("col_a"),
            F.lit(bc).alias("col_b"),
            F.col(f"__c{i}__").alias("corr"),
        )
        for i, (a, bc) in enumerate(pairs)
    ])
    return wide.select(F.explode(structs).alias("__s__")).select(
        "__s__.col_a", "__s__.col_b", "__s__.corr")


def trend(
    df: DataFrame,
    y_col: str,
    x_col: str,
    *,
    group_cols: list[str] | None = None,
    x_scale: float = 1.0,
) -> DataFrame:
    """Least-squares trend per group: slope / intercept / R² / n of
    ``y ~ x`` via the NATIVE algebraic regression aggregates
    (``regr_slope`` & co — one-pass moments, map-side combined; the
    same aggregate family DuckDB ships, so the oracle is native too).
    The drift question "is this metric drifting and how fast" as ONE
    aggregation — no window, no collect, no MLlib.

    ``x_col`` may be a timestamp (auto-converted to epoch seconds);
    ``x_scale`` divides x first — pass 86400 to get per-DAY slopes,
    which keeps the magnitude in a range where fixed-decimal rounding
    is meaningful.  Rows with NULL x or y are ignored per pair (regr_*
    semantics in both engines).

    Output: ``([group_cols], slope, intercept, r2, n)``, rounded to 6.
    """
    x = F.col(x_col)
    if "timestamp" in dict(df.dtypes).get(x_col, ""):
        x = x.cast("timestamp").cast("long")
    x = x.cast("double") / float(x_scale)
    y = F.col(y_col).cast("double")
    gb = df.groupBy(*group_cols) if group_cols else df.groupBy()
    return gb.agg(
        F.round(F.regr_slope(y, x), 6).alias("slope"),
        F.round(F.regr_intercept(y, x), 6).alias("intercept"),
        F.round(F.regr_r2(y, x), 6).alias("r2"),
        F.regr_count(y, x).cast("long").alias("n"),
    )


def categorical_entropy(df: DataFrame, cols: list[str]) -> DataFrame:
    """Shannon entropy (nats) + distinct count of each categorical
    column — the profiling signal for "is this column informative /
    near-constant / an id in disguise".  All columns in ONE shuffle:
    rows are exploded to ``(column, value)`` pairs (a narrow generate,
    no extra scan per column), counted map-side, then each column's
    ``-Σ p·ln p`` folds over its own (bounded, Zipf-shaped) value
    table.  NULL values count as a category of their own (profiling
    wants to see them).

    Output: ``(column, n_distinct, entropy)``, entropy rounded to 6.
    """
    if not cols:
        raise ValueError("categorical_entropy: empty column list")
    pairs = F.explode(F.array(*[
        F.struct(F.lit(c).alias("column"),
                 F.col(c).cast("string").alias("value"))
        for c in cols
    ])).alias("p")
    counts = (
        df.select(pairs).select("p.column", "p.value")
        .groupBy("column", "value").agg(F.count(F.lit(1)).alias("n"))
    )
    tot = F.sum("n")
    # per-column fold over its own value table (tiny after the count)
    return counts.groupBy("column").agg(
        F.count(F.lit(1)).cast("long").alias("n_distinct"),
        F.round(
            F.log(tot) - F.try_divide(
                F.sum(F.col("n") * F.log("n")), tot),
            6,
        ).alias("entropy"),
    )


def mutual_information(
    df: DataFrame, col_a: str, col_b: str
) -> DataFrame:
    """Mutual information (nats) between two categorical columns plus
    the normalized variant ``MI / sqrt(H_a·H_b)`` — the redundancy
    screen chi-square can't give you (chi² says "dependent", MI says
    "how many bits one column tells you about the other", directly
    comparable across pairs).

    ONE cell-keyed aggregation builds the r×c contingency table
    (map-side combined — the chi_square_independence shape); margins
    and entropies are windows over that tiny table.  NULLs are a
    category.  ``MI = Σ p_ab·ln(p_ab / (p_a·p_b))``; degenerate
    constant columns give MI 0 and NULL nmi (0/0 guarded by
    try_divide).

    Output: one row ``(mi, nmi, h_a, h_b, n)``, rounded to 6.
    """
    from pyspark.sql import Window

    a = F.col(col_a).cast("string").alias("a")
    b = F.col(col_b).cast("string").alias("b")
    cells = df.select(a, b).groupBy("a", "b").agg(
        F.count(F.lit(1)).alias("n_ab"))
    w_all = Window.partitionBy()
    w_a = Window.partitionBy("a")
    w_b = Window.partitionBy("b")
    n = F.sum("n_ab").over(w_all)
    p_ab = F.col("n_ab") / n
    p_a = F.sum("n_ab").over(w_a) / n
    p_b = F.sum("n_ab").over(w_b) / n
    # entropy terms repeat per cell within their margin group; divide
    # by the group's cell count so the plain sum counts each ONCE
    terms = cells.select(
        n.alias("n"),
        (p_ab * F.log(p_ab / (p_a * p_b))).alias("t"),
        (p_a * F.log(p_a) / F.count(F.lit(1)).over(w_a)).alias("ha_s"),
        (p_b * F.log(p_b) / F.count(F.lit(1)).over(w_b)).alias("hb_s"),
    )
    return terms.agg(
        F.round(F.sum("t"), 6).alias("mi"),
        F.round(
            F.try_divide(
                F.sum("t"),
                F.sqrt((-F.sum("ha_s")) * (-F.sum("hb_s"))),
            ),
            6,
        ).alias("nmi"),
        F.round(-F.sum("ha_s"), 6).alias("h_a"),
        F.round(-F.sum("hb_s"), 6).alias("h_b"),
        F.first("n").cast("long").alias("n"),
    )


def winsorize(
    df: DataFrame,
    column: str,
    *,
    lo: float = 0.01,
    hi: float = 0.99,
    out_col: str,
) -> DataFrame:
    """Winsorize (clip) ``column`` at its ``lo``/``hi`` interpolated
    percentiles — the outlier-taming transform that keeps row count
    (unlike filtering) while bounding the tails that wreck means,
    z-scores and learned scalers.

    The two boundaries are one bounded collect (rounded to 6 — the
    cross-engine interpolation rule from equidepth_histogram), the clip
    is a pure narrow ``least/greatest`` projection: zero shuffles,
    pushdown-friendly, codegen'd.  NULLs pass through unclipped (they
    carry "missing", not "extreme").

    Output: ``df`` with ``out_col`` added.
    """
    if not (0.0 <= lo < hi <= 1.0):
        raise ValueError(f"winsorize: need 0 <= lo < hi <= 1, got {lo},{hi}")
    row = df.where(F.col(column).isNotNull()).agg(F.expr(
        f"percentile({column}, array({lo}, {hi}))")).first()[0]
    if row is None:
        return df.withColumn(out_col, F.col(column).cast("double"))
    b_lo, b_hi = (round(float(x), 6) for x in row)
    v = F.col(column).cast("double")
    # greatest/least SKIP nulls (greatest(NULL, lo) = lo), which would
    # clip missing values onto the boundary — gate explicitly
    clipped = F.when(
        v.isNotNull(), F.least(F.greatest(v, F.lit(b_lo)), F.lit(b_hi)))
    return df.withColumn(out_col, clipped)


def contribution_concentration(
    df: DataFrame,
    group_col: str,
    *,
    top_quantile: float = 0.99,
    n_buckets: int = 64,
) -> DataFrame:
    """How concentrated is the data over ``group_col`` — Gini
    coefficient of the per-group row counts plus the mass share of the
    heaviest groups (above the ``top_quantile`` of group sizes).  The
    training-mix question "do 1% of users/domains contribute half the
    corpus?" as one number; high concentration is both a dedup smell
    and a skew warning for any later groupBy on that key.

    One row-scaled shuffle (the per-group count, map-side combined);
    everything after runs over the GROUPS table: a
    :func:`~go_jsonschema_spark.operators.timeseries.distributed_cumsum`
    under the (n, group) total order gives the Lorenz cumulative, and

        gini = 1 - Σ_i (2·c_i - n_i) / (N·T)

    (the trapezoid Lorenz area, no rank column needed) folds it in one
    plain aggregation.  The top-group threshold is an interpolated
    percentile of group sizes rounded to 6 (the equidepth rule).  The
    groups table can itself be huge (millions of users) — that's why
    the cumsum is the distributed one, not a single-partition window.

    Output: one row ``(gini, top_share, n_groups, total_rows)``.
    """
    from go_jsonschema_spark.operators.timeseries import distributed_cumsum

    counts = df.groupBy(group_col).agg(F.count(F.lit(1)).alias("n"))
    cum = distributed_cumsum(
        counts, ["n", group_col], "n", out_col="c", n_buckets=n_buckets)
    thresh = counts.agg(F.expr("percentile(n, {})".format(
        float(top_quantile)))).first()[0]
    thresh = round(float(thresh), 6) if thresh is not None else 0.0
    return cum.agg(
        F.round(
            F.lit(1.0)
            - F.try_divide(
                F.sum(2 * F.col("c") - F.col("n")).cast("double"),
                F.count(F.lit(1)).cast("double") * F.sum("n").cast("double"),
            ),
            6,
        ).alias("gini"),
        F.round(
            F.try_divide(
                F.sum(F.when(F.col("n") > thresh, F.col("n"))
                      .otherwise(0)).cast("double"),
                F.sum("n").cast("double"),
            ),
            6,
        ).alias("top_share"),
        F.count(F.lit(1)).cast("long").alias("n_groups"),
        F.sum("n").cast("long").alias("total_rows"),
    )


def quantile_normalize(
    df: DataFrame,
    column: str,
    *,
    group_col: str,
    out_col: str,
) -> DataFrame:
    """Map each value to its empirical CDF position within its group —
    ``cume_dist`` ∈ (0, 1] — the rank-based normalization that makes
    columns with wildly different (or heavy-tailed) distributions
    comparable: quantile features for mixing heterogeneous quality
    signals, monotone-invariant model inputs, cross-source score
    calibration.

    One window per group (groups run in parallel — never one global
    sort).  Ties share a value (cume_dist is tie-stable), so the output
    is engine-independent without a tiebreak column.  NULLs pass
    through as NULL rather than polluting the rank.

    Output: ``df`` + ``out_col``, rounded 6.
    """
    from pyspark.sql import Window

    v = F.col(column)
    w = Window.partitionBy(group_col).orderBy(v)
    cdf = F.when(v.isNotNull(), F.round(F.cume_dist().over(w), 6))
    # rank only over non-null rows: union back the null rows untouched
    nn = df.where(v.isNotNull()).withColumn(out_col, cdf)
    nulls = df.where(v.isNull()).withColumn(
        out_col, F.lit(None).cast("double"))
    return nn.unionByName(nulls)


def sequence_integrity(
    df: DataFrame,
    *,
    group_col: str,
    seq_col: str,
    ts_col: str,
) -> DataFrame:
    """Event-log integrity audit per group: does event time move with
    arrival order?  For each group, ordered by the ARRIVAL sequence
    (``seq_col`` — ingest id, offset, line number), count adjacent
    pairs whose ``ts_col`` goes BACKWARDS (out-of-order) and pairs on
    the exact same timestamp (duplicate-ts, the tie that silently
    breaks naive lag/lead logic downstream).  The check that tells you
    whether downstream sessionize/funnel/asof results can be trusted.

    ONE group-keyed window (lag) + one aggregation — map-side combined,
    no driver logic.  NULL timestamps are counted separately and
    excluded from the pair checks (a NULL is a missing-value problem,
    not an ordering problem).

    Output: ``(group_col, n_events, n_null_ts, n_out_of_order,
    n_dup_ts)`` — one row per group.
    """
    from pyspark.sql import Window

    w = Window.partitionBy(group_col).orderBy(seq_col)
    ts = F.col(ts_col)
    prev = F.lag(ts).over(w)
    flagged = df.select(
        group_col,
        ts.isNull().cast("int").alias("is_null"),
        F.when(ts.isNotNull() & prev.isNotNull() & (ts < prev), 1)
        .otherwise(0).alias("ooo"),
        F.when(ts.isNotNull() & prev.isNotNull() & (ts == prev), 1)
        .otherwise(0).alias("dup"),
    )
    return flagged.groupBy(group_col).agg(
        F.count(F.lit(1)).cast("long").alias("n_events"),
        F.sum("is_null").cast("long").alias("n_null_ts"),
        F.sum("ooo").cast("long").alias("n_out_of_order"),
        F.sum("dup").cast("long").alias("n_dup_ts"),
    )


def skew_report(
    df: DataFrame,
    key_cols: list[str],
    *,
    top_n: int = 20,
) -> DataFrame:
    """Skew diagnosis for a prospective join/groupBy key: the ``top_n``
    heaviest key values with their row share and a cumulative share —
    the five-second answer to "will this shuffle melt one reducer?".
    A top key holding >1% of 10^12 rows means salting / AQE skew-join
    before you run the real query; this report is ONE map-side-combined
    aggregation plus a bounded top-N (TakeOrdered — no global sort).

    NULL keys are reported as their own row (they hash to one reducer
    too — the most common real-world skew).

    Output: ``(<key_cols...>, n_rows, share, cum_share, rank)`` ordered
    by weight, ties broken on the key for engine-independence; shares
    rounded to 6.
    """
    from pyspark.sql import Window

    if not key_cols:
        raise ValueError("skew_report: empty key_cols")
    total = df.count()
    if total == 0:
        raise ValueError("skew_report: empty input")
    counts = df.groupBy(*key_cols).agg(F.count(F.lit(1)).alias("n_rows"))
    w = Window.orderBy(
        F.col("n_rows").desc(),
        *[F.col(c).asc_nulls_first() for c in key_cols])
    ranked = (
        counts.withColumn("rank", F.row_number().over(w).cast("long"))
        .where(F.col("rank") <= top_n)
    )
    w_cum = Window.orderBy("rank").rowsBetween(Window.unboundedPreceding, 0)
    return ranked.select(
        *key_cols,
        F.col("n_rows").cast("long").alias("n_rows"),
        F.round(F.col("n_rows") / total, 6).alias("share"),
        F.round(F.sum("n_rows").over(w_cum) / total, 6).alias("cum_share"),
        "rank",
    )
