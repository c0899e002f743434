"""Spec inference: profile a golden table, emit the TableSpec that pins it.

The reference validates data against a hand-written schema
(/root/reference/schema.go, validate.go); this module is the INVERSE — a
north-star addition for dataset checks at scale: profile a trusted
snapshot once, auto-generate the constraints (types, bounds, enums,
lengths, array shapes, candidate unique keys), then run every future
delivery through :class:`~go_jsonschema_spark.engine.ConstraintSuite`
with the inferred spec.  By construction the golden table itself
validates clean (pinned by tests/test_round5_fixes.py).

Execution shape: ONE aggregation pass over the table computes every
per-column statistic (map-side combinable; the result is one row), plus
one bounded follow-up collect for the enum value lists of qualifying
low-cardinality string columns — nothing row-scaled ever reaches the
driver.  ``infer_table_spec(approx=True)`` swaps exact
``count_distinct`` for HLL ``approx_count_distinct`` (the 10^12-row
form; enum detection then uses the sketch estimate with a safety
margin).
"""

from __future__ import annotations

from typing import Any

from pyspark.sql import DataFrame, functions as F, types as T

__all__ = ["profile_table", "infer_table_spec", "PROFILE_SCHEMA"]

PROFILE_SCHEMA = (
    "column string, jtype string, n_rows long, n_null long, "
    "n_distinct long, min_num double, max_num double, "
    "min_len long, max_len long, enum_csv string"
)

_INTEGRAL = (T.ByteType, T.ShortType, T.IntegerType, T.LongType)
_NUMERIC = _INTEGRAL + (T.FloatType, T.DoubleType)


def _jtype(dt: T.DataType) -> str:
    if isinstance(dt, _INTEGRAL):
        return "integer"
    if isinstance(dt, (T.FloatType, T.DoubleType, T.DecimalType)):
        return "number"
    if isinstance(dt, T.StringType):
        return "string"
    if isinstance(dt, T.BooleanType):
        return "boolean"
    if isinstance(dt, T.ArrayType):
        return "array"
    return dt.simpleString()


def profile_table(
    df: DataFrame,
    *,
    enum_max: int = 16,
) -> DataFrame:
    """Per-column profile rows (``PROFILE_SCHEMA``) for every column:
    row/null/distinct counts, numeric bounds, string length bounds, and
    — for string columns with ≤ ``enum_max`` distinct values — the
    sorted comma-joined value list.  Array columns profile their SIZE under
    min_len/max_len and integral-element bounds under min_num/max_num
    (feeding minItems/maxItems + items bounds in
    :func:`infer_table_spec`)."""
    return _profile_frame(
        df, *_profile_rows(df, None, enum_max=enum_max, approx=False))


def _profile_frame(df: DataFrame, rows, enums) -> DataFrame:
    """The display/oracle DataFrame of :func:`_profile_rows`' output."""
    return df.sparkSession.createDataFrame(
        [r[:-1] + (",".join(enums[r[0]]) if r[0] in enums else None,)
         for r in rows], PROFILE_SCHEMA)


def _profile_rows(
    df: DataFrame,
    columns: list[str] | None,
    *,
    enum_max: int,
    approx: bool,
):
    """Shared profiling core.  Returns ``(rows, enums)`` where ``rows``
    are PROFILE_SCHEMA tuples with a None placeholder in the enum slot
    and ``enums`` maps qualifying string columns to their SORTED VALUE
    LISTS — :func:`infer_table_spec` consumes the lists directly, so an
    enum value containing a comma can never corrupt the generated spec
    (the comma-joined form exists only for the display/oracle
    DataFrame)."""
    dtypes = {f.name: f.dataType for f in df.schema.fields}
    cols = columns or list(dtypes)

    nd = (F.approx_count_distinct if approx else F.count_distinct)
    aggs: list = [F.count(F.lit(1)).alias("__n__")]
    for c in cols:
        dt = dtypes[c]
        col = F.col(c)
        aggs.append(F.sum(col.isNull().cast("long")).alias(f"{c}__null"))
        aggs.append(nd(col).alias(f"{c}__nd"))
        if isinstance(dt, _NUMERIC):
            aggs += [F.min(col).cast("double").alias(f"{c}__min"),
                     F.max(col).cast("double").alias(f"{c}__max")]
        elif isinstance(dt, T.StringType):
            aggs += [F.min(F.length(col)).cast("long").alias(f"{c}__minl"),
                     F.max(F.length(col)).cast("long").alias(f"{c}__maxl")]
        elif isinstance(dt, T.ArrayType):
            aggs += [F.min(F.size(col)).cast("long").alias(f"{c}__minl"),
                     F.max(F.size(col)).cast("long").alias(f"{c}__maxl")]
            if isinstance(dt.elementType, _INTEGRAL):
                aggs += [
                    F.min(F.array_min(col)).cast("double")
                    .alias(f"{c}__min"),
                    F.max(F.array_max(col)).cast("double")
                    .alias(f"{c}__max"),
                ]
    row = df.agg(*aggs).first()

    # bounded second pass: enum value lists ONLY for string columns the
    # first pass proved low-cardinality (≤ enum_max values collected)
    enum_cols = [
        c for c in cols
        if isinstance(dtypes[c], T.StringType)
        and int(row[f"{c}__nd"]) <= enum_max
    ]
    enums: dict[str, list[str]] = {}
    if enum_cols:
        erow = df.agg(*[F.collect_set(F.col(c)).alias(c)
                        for c in enum_cols]).first()
        for c in enum_cols:
            enums[c] = sorted(erow[c])

    d = row.asDict()
    rows = []
    for c in cols:
        rows.append((
            c, _jtype(dtypes[c]), int(row["__n__"]),
            # sum() over zero rows is NULL — an EMPTY table has 0 nulls
            int(row[f"{c}__null"] or 0), int(row[f"{c}__nd"]),
            d.get(f"{c}__min"), d.get(f"{c}__max"),
            d.get(f"{c}__minl"), d.get(f"{c}__maxl"),
            None,
        ))
    return rows, enums


def infer_table_spec(
    df: DataFrame,
    columns: list[str] | None = None,
    *,
    enum_max: int = 16,
    key_hint: str | None = None,
    approx: bool = False,
):
    """Infer a :class:`~go_jsonschema_spark.spec.TableSpec` from data:
    integers/numbers get [minimum, maximum]; low-cardinality strings get
    ``enum`` (plus ``null`` membership when nulls were observed); other
    strings get minLength/maxLength; integral arrays get minItems /
    maxItems + items bounds; columns observed fully non-null AND fully
    distinct become candidate unique keys (``table_checks``).  Returns
    ``(spec, profile_df)`` — the golden table validates clean against
    its own inferred spec by construction."""
    from go_jsonschema_spark.spec import TableSpec

    raw, enums = _profile_rows(df, columns, enum_max=enum_max,
                               approx=approx)
    prof = _profile_frame(df, raw, enums)
    names = ["column", "jtype", "n_rows", "n_null", "n_distinct",
             "min_num", "max_num", "min_len", "max_len", "enum_csv"]
    rows = {r[0]: dict(zip(names, r)) for r in raw}
    specs: dict[str, Any] = {}
    table_checks: list[dict[str, Any]] = []
    for c, r in rows.items():
        jt, n, nn = r["jtype"], r["n_rows"], r["n_null"]
        s: dict[str, Any] | None = None
        if jt in ("integer", "number") and r["min_num"] is not None:
            t = [jt, "null"] if nn else jt
            s = {"type": t, "minimum": r["min_num"], "maximum": r["max_num"]}
            if jt == "integer":
                s["minimum"] = int(s["minimum"])
                s["maximum"] = int(s["maximum"])
        elif jt == "string":
            if c in enums:
                # the VALUE LIST, not the display csv — a value containing
                # a comma must not split into bogus enum members
                vals: list[Any] = list(enums[c])
                if nn:
                    vals.append(None)
                s = {"enum": vals}
            elif r["min_len"] is not None:
                s = {"type": ["string", "null"] if nn else "string",
                     "minLength": int(r["min_len"]),
                     "maxLength": int(r["max_len"])}
        elif jt == "array" and r["min_len"] is not None:
            s = {"type": "array", "minItems": int(r["min_len"]),
                 "maxItems": int(r["max_len"])}
            if r["min_num"] is not None:
                s["items"] = {"type": "integer",
                              "minimum": int(r["min_num"]),
                              "maximum": int(r["max_num"])}
        if s is not None:
            specs[c] = s
        if nn == 0 and r["n_distinct"] == n and n > 0 and (
                key_hint is None or c == key_hint):
            table_checks.append(
                {"kind": "unique", "columns": [c], "id": f"unique:{c}"})
    return TableSpec(columns=specs, table_checks=table_checks), prof
