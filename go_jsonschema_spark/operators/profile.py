"""Constraint suggestion: profile a table and propose the spec that
already holds — the keyword-level PRESENTATION of the spec-inference
core (infer.py, r5).  ``infer.infer_table_spec`` answers "give me a
runnable TableSpec"; this module answers the review-workflow question
"show me each proposed constraint as a row I can accept or reject"
(deequ's ConstraintSuggestionRunner is the public prior art; the
reference has no analogue — its specs are always authored).

The heavy lifting is NOT duplicated: the single-pass per-column
aggregation and the bounded string-enum collection are
``infer._profile_rows`` (one collected row bounded by #columns + one
collect bounded by n_candidates × enum_max).  This module adds only a
numeric-enum candidate collect (categorical integer codes — a case
infer.py's TableSpec generator deliberately maps to bounds instead)
and the row-shaped output.

Suggestions are DETERMINISTIC rows ``(column, keyword, value)`` —
DuckDB replays every one.  ``infer.infer_table_spec`` turns the same
profile into a runnable TableSpec.
"""

from __future__ import annotations

import json

from pyspark.sql import DataFrame, functions as F
from pyspark.sql import types as T

from go_jsonschema_spark.infer import _NUMERIC as _INFER_NUMERIC
from go_jsonschema_spark.infer import _profile_rows

__all__ = ["dataset_card", "suggest_constraints"]

_NUMERIC = _INFER_NUMERIC + (T.DecimalType,)
_TYPED = {"string", "integer", "number", "boolean"}


def _fmt(v) -> str:
    """Engine-stable string form: integers never grow a '.0'."""
    if v is None:
        return ""
    if isinstance(v, float) and v.is_integer():
        return str(int(v))
    return str(v)


def suggest_constraints(
    df: DataFrame,
    *,
    enum_max: int = 20,
) -> DataFrame:
    """Suggestion rows ``(column, keyword, value)`` for every column,
    ordered by (column, keyword).  Keywords emitted:

    - ``type``       — the column type's JSON-Schema name (only for
      string/integer/number/boolean columns; temporal and nested types
      have no faithful JSON scalar type)
    - ``required``   — when the column has zero NULLs
    - ``enum``       — sorted JSON array of the distinct values (as
      strings), when ``0 < distinct ≤ enum_max``; string AND numeric
      columns qualify (categorical integer codes are enums too)
    - ``minimum`` / ``maximum``       — numeric observed bounds
    - ``minLength`` / ``maxLength``   — string observed length bounds
    - ``unique``     — when distinct == non-null == rows (a key
      candidate → ``{"kind": "unique"}`` table check)

    Distinct counts are exact, so ``unique`` is proven, not estimated.
    """
    spark = df.sparkSession
    fields = {f.name: f.dataType for f in df.schema.fields}
    cols = list(fields)

    rows, str_enums = _profile_rows(df, cols, enum_max=enum_max,
                                    approx=False)
    prof = {r[0]: r for r in rows}

    # numeric enum candidates — one extra bounded collect, same
    # discipline as the string-enum pass in _profile_rows
    num_cands = [
        c for c in cols
        if isinstance(fields[c], _NUMERIC)
        and 0 < prof[c][4] <= enum_max
    ]
    num_enums: dict[str, list[str]] = {}
    if num_cands:
        erow = df.agg(*[
            F.collect_set(F.col(c).cast("string")).alias(c)
            for c in num_cands
        ]).first()
        for c in num_cands:
            num_enums[c] = sorted(erow[c])

    out: list[tuple[str, str, str]] = []
    for c in cols:
        _, jt, n, n_null, nd, mn, mx, minl, maxl, _ = prof[c]
        nn = n - n_null
        if jt in _TYPED:
            out.append((c, "type", jt))
        if n_null == 0 and n > 0:
            out.append((c, "required", "true"))
        vals = (str_enums.get(c) if isinstance(fields[c], T.StringType)
                else num_enums.get(c))
        if vals:
            out.append((c, "enum", json.dumps(vals)))
        if isinstance(fields[c], _NUMERIC) and mn is not None:
            out.append((c, "minimum", _fmt(mn)))
            out.append((c, "maximum", _fmt(mx)))
        elif isinstance(fields[c], T.StringType) and minl is not None:
            out.append((c, "minLength", _fmt(minl)))
            out.append((c, "maxLength", _fmt(maxl)))
        if n > 0 and nd == nn == n:
            out.append((c, "unique", "true"))
    out.sort()
    return spark.createDataFrame(
        out, "column string, keyword string, value string")


def dataset_card(
    df: DataFrame,
    suite=None,
    *,
    key: str = "doc_id",
) -> DataFrame:
    """One-call dataset card: the long-format ``(metric, value)`` summary
    a data-readiness review starts from, assembled LAZILY (no collect —
    the card is a DataFrame you can write next to the batch it
    describes).

    Metrics (all double; counts are exact integers in double form):

    - ``n_rows``; ``n_dup_key_rows`` (rows beyond the first per ``key``)
    - ``null_ratio.<col>`` for every column, and ``empty_ratio.<col>``
      for array columns (empty arrays are a distinct pathology from
      NULLs — a tokenizer that emits [] did not emit nothing)
    - with ``suite``: ``n_row_fail`` / ``row_fail_ratio`` and a
      ``fail.<constraint_id>`` row per constraint — from the suite's
      counts-only fast path (ONE predicate-scan aggregation, zero
      violation materialization)

    Plan shape: one map-side-combined aggregation over the scan for the
    shape metrics, one count-distinct aggregation for the key, one
    predicate-scan aggregation for the suite block; the single-row
    results explode into rows driver-free and union — everything stays
    a lazy plan, nothing scales with data except those three passes."""
    cols = [f.name for f in df.schema.fields]
    arrays = [f.name for f in df.schema.fields
              if isinstance(f.dataType, T.ArrayType)]
    aggs = [
        F.count(F.lit(1)).alias("__n__"),
        F.count_distinct(F.col(key)).alias("__nd__"),
        *[F.sum(F.col(c).isNull().cast("long")).alias(f"__null_{i}__")
          for i, c in enumerate(cols)],
        *[F.sum((F.coalesce(F.size(F.col(c)), F.lit(-1)) == 0)
                .cast("long")).alias(f"__empty_{i}__")
          for i, c in enumerate(cols) if c in arrays],
    ]
    one = df.agg(*aggs)
    entries = [
        F.struct(F.lit("n_rows").alias("metric"),
                 F.col("__n__").cast("double").alias("value")),
        F.struct(F.lit("n_dup_key_rows").alias("metric"),
                 (F.col("__n__") - F.col("__nd__"))
                 .cast("double").alias("value")),
    ]
    for i, c in enumerate(cols):
        entries.append(F.struct(
            F.lit(f"null_ratio.{c}").alias("metric"),
            F.round(F.col(f"__null_{i}__") / F.col("__n__"), 6)
            .alias("value")))
        if c in arrays:
            entries.append(F.struct(
                F.lit(f"empty_ratio.{c}").alias("metric"),
                F.round(F.col(f"__empty_{i}__") / F.col("__n__"), 6)
                .alias("value")))
    card = one.select(F.explode(F.array(*entries)).alias("e")).select(
        "e.metric", "e.value")
    if suite is None:
        return card
    vc = suite.verdict_counts(df)
    fail_entries = [
        F.struct(F.lit("n_row_fail").alias("metric"),
                 F.col("n_fail").cast("double").alias("value")),
        F.struct(F.lit("row_fail_ratio").alias("metric"),
                 F.round(F.col("n_fail") / F.col("n_rows"), 6)
                 .alias("value")),
    ] + [
        F.struct(F.lit(f"fail.{cid}").alias("metric"),
                 F.coalesce(
                     F.element_at("fail_by_constraint", F.lit(cid)),
                     F.lit(0)).cast("double").alias("value"))
        for cid, _ in suite.compile(df).predicates
    ]
    suite_rows = vc.select(
        F.explode(F.array(*fail_entries)).alias("e")).select(
        "e.metric", "e.value")
    return card.unionByName(suite_rows)
