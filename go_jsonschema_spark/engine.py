"""ConstraintSuite — compile a TableSpec and run it in one pass.

The Spark lifecycle replacing the reference's per-document loop
(SURVEY.md §3.4):

    spec ──(driver: normalize → resolve refs → compile)──► ConstraintPlan
    DataFrame scan ──► ONE select() computing every row predicate
      ──► one narrow frame over every row: partition, predicate flags,
          and — on failing rows only — key and violation entries
      ──► violations = explode(entries); verdicts = the kernel's one
          aggregation of the flags — persisted, the predicate forest is
          evaluated once per row
    foreign_key checks are membership flags in that same select (a left
    join against the distinct dim keys); the other table checks (unique /
    stats / drift) run as separate aggregate stages over narrow
    projections of the same table.

All pass/fail arithmetic lives in one :class:`VerdictKernel` per compiled
plan: the predicate projection, the violation-entries array, the fail
counters and the verdict columns.  Every verdict entry point is that
kernel plus a grouping — ``run()`` (partition column, counters over its
all-row frame), ``verdict_counts`` (partition column, counters over the
scan) and the streaming ``windowed_verdicts`` (event-time window) — so
batch and stream agree by construction ("a batch is a bounded stream").

Violations are *data*, not exceptions (helpers.go:58-67 addError analogue):
one row ``(doc_id, constraint_id, observed)`` per failed constraint, and —
unlike the reference, which stops at the first error per document
(validators.go:45-50) — ALL constraints are evaluated, a deliberate
superset of the reference's verdicts (SURVEY.md §4.1).
"""

from __future__ import annotations

from dataclasses import dataclass, field
from typing import Any

from pyspark.sql import Column, DataFrame, functions as F, types as T

from go_jsonschema_spark.compile import (
    _ANNOTATION_KEYS,
    CompileError,
    _arrow_judge,
    compile_predicate,
)
from go_jsonschema_spark.operators.uniqueness import (
    _key_col, key_doc_id, uniqueness_violations,
)
from go_jsonschema_spark.spec import SchemaSpec, SpecError, TableSpec

__all__ = ["ConstraintSuite", "SuiteResult", "ConstraintPlan"]

# compiled-plan cache shared across suite instances (see
# ConstraintSuite.compile); maps plan-key fingerprint -> ConstraintPlan
_PLAN_CACHE: dict[str, ConstraintPlan] = {}

# keyword groups that must compile together (draft-4 exclusive flags ride on
# their base bound, schema.go:173-178); a group's constraint id is
# ``{column}.{anchor}``
_BOUND_PAIRS = {
    "maximum": ("maximum", "exclusiveMaximum"),
    "minimum": ("minimum", "exclusiveMinimum"),
    "items": ("items", "additionalItems"),
    "prefixItems": ("prefixItems", "items"),  # 2020-12: items = rest schema
    "contains": ("contains", "minContains", "maxContains"),
    "properties": ("properties", "patternProperties", "additionalProperties",
                   "required"),
    "if": ("if", "then", "else"),
    "contentEncoding": ("contentEncoding", "contentMediaType"),
    # standalone-rider anchors: when the usual anchor keyword is absent the
    # rider becomes its own group (otherwise {"required": [...]} or a bare
    # numeric exclusiveMaximum would silently compile to zero predicates)
    "required": ("required",),
    "patternProperties": ("patternProperties", "additionalProperties"),
    "additionalProperties": ("additionalProperties",),
    "exclusiveMaximum": ("exclusiveMaximum",),
    "exclusiveMinimum": ("exclusiveMinimum",),
}
# rider keyword -> anchors that absorb it; a rider only skips compilation
# when at least one anchor is present in the same schema.  Riders whose
# semantics are *defined as ignored* without their anchor (additionalItems
# without tuple items, min/maxContains without contains, then/else without
# if) list no standalone fallback and are skipped unconditionally via
# _IGNORED_WITHOUT_ANCHOR.
_RIDER_ANCHORS = {
    "exclusiveMaximum": ("maximum",),
    "exclusiveMinimum": ("minimum",),
    "required": ("properties",),
    "patternProperties": ("properties",),
    "additionalProperties": ("properties", "patternProperties"),
    "items": ("prefixItems",),  # 2020-12 rest schema
    "contentMediaType": ("contentEncoding",),
}
_IGNORED_WITHOUT_ANCHOR = {
    "additionalItems": ("items",),
    "minContains": ("contains",),
    "maxContains": ("contains",),
    "then": ("if",),
    "else": ("if",),
}


@dataclass
class ConstraintPlan:
    """Compiled plan: named boolean predicates + table-check specs."""

    predicates: list[tuple[str, Column]]  # (constraint_id, pred)
    observed: dict[str, Column]  # constraint_id -> observed-value column
    table_checks: list[dict[str, Any]]
    # memo of derived Column bundles (the VerdictKernel per key and
    # tolerances): Columns are immutable unbound expressions, so the
    # ~1000 py4j round trips that assemble them are pure fixed driver
    # cost — paid once per compiled plan.  Invariant: never holds
    # DataFrames, data, or dim-bound Columns (the kernel's fk entries
    # name only the __fk{i}__ flag columns; run() joins each call's dims
    # afresh).
    derived: dict[tuple, Any] = field(default_factory=dict)


@dataclass
class VerdictKernel:
    """The one implementation of pass/fail arithmetic for a compiled plan.

    Independent of the grouping and of the input DataFrame: every entry
    point applies :meth:`project` and aggregates :attr:`counters` under
    its own grouping (partition column, event-time window, whole table),
    then selects :attr:`verdict` over ``(n_rows, n_fail, __n{i}__)``.

    A predicate that evaluates to NULL counts as passing everywhere —
    it never yields a violation entry, and every counter is
    ``sum(~coalesce(col, true))``.

    The foreign-key checks of the plan enter only :attr:`entries` and
    :attr:`emit`, over the ``__fk{i}__`` flags that ``run()`` joins in;
    they never reach a counter."""

    ids: list[str]  # constraint ids, plan order
    names: list[str]  # internal boolean column per id: __c{i}__
    checks: list[Column]  # predicate i aliased names[i]
    pass_col: Column  # AND over names (the __pass__ column)
    fk_checks: list[dict[str, Any]]  # the plan's foreign_key checks
    fk_names: list[str]  # flag column per fk check: __fk{i}__
    # per id and fk: when(~ok, struct(id, observed)) as an array, NULLs
    # filtered out
    entries: Column
    emit: Column  # a row fails some constraint or fk
    doc_id: Column  # key cast to string
    n_rows: Column  # count(1) aliased n_rows
    counters: list[Column]  # n_fail, __n{i}__ aggregates
    # n_rows, n_fail, fail_by_constraint, n_pass, passed over the counters
    verdict: list[Column]

    def project(self, df: DataFrame) -> DataFrame:
        """``df`` plus the predicate columns and ``__pass__``."""
        return df.select("*", *self.checks).withColumn(
            "__pass__", self.pass_col)

    def verdicts(self, checked: DataFrame, group: Column, name: str
                 ) -> DataFrame:
        """``(name, n_rows, n_fail, fail_by_constraint, n_pass, passed)``
        from ONE aggregation of a :meth:`project` output by ``group``."""
        return (checked.groupBy(group.alias(name))
                .agg(self.n_rows, *self.counters)
                .select(name, *self.verdict))


@dataclass
class SuiteResult:
    """Lazily-defined result DataFrames (caller picks the actions)."""

    checked: DataFrame  # input + one boolean column per constraint + __pass__
    violations: DataFrame  # (doc_id, constraint_id, observed)
    verdicts: DataFrame  # per-partition pass/fail + counts
    constraint_ids: list[str] = field(default_factory=list)
    # the persisted all-row frame behind violations and verdicts (one
    # row per input row); unpersist it when done
    row_violations: DataFrame | None = None
    fk_constraint_ids: list[str] = field(default_factory=list)  # fk checks
    # internal boolean column of each constraint id / fk check in
    # ``checked`` (the kernel's names, run()'s __fk{i}__ flags)
    check_cols: list[str] = field(default_factory=list)
    fk_cols: list[str] = field(default_factory=list)

    def split(self, *, include_reasons: bool = False,
              quarantine_fk: bool = True) -> tuple[DataFrame, DataFrame]:
        """Quarantine split: ``(clean, quarantined)`` — the ETL routing
        action (write clean rows onward, bad rows to a review sink).
        Both sides filter ``checked``, so each action evaluates every
        predicate again over the input, the FK join included: a second
        pass, not a read of the narrow frame the verdicts came from
        (that frame carries no input columns to route).

        ``quarantine_fk`` also routes rows failing any foreign-key
        check (they are table-check violations, so they never count in
        verdict ``n_fail`` — but a row with an unknown source is usually
        not a row to ship).  ``include_reasons``
        appends a ``__reasons__`` array of failed constraint ids to
        the quarantined side (original column set otherwise —
        internal predicate columns are dropped from both sides)."""
        row_safe = list(zip(self.check_cols, self.constraint_ids))
        fk_safe = list(zip(self.fk_cols, self.fk_constraint_ids))
        ok = F.col("__pass__")
        if quarantine_fk:
            for col, _cid in fk_safe:
                ok = ok & F.col(col)
        internal = ["__pass__"] + [c for c, _ in row_safe + fk_safe]
        clean = self.checked.filter(ok).drop(*internal)
        bad = self.checked.filter(~ok)
        if include_reasons:
            pairs = row_safe + (fk_safe if quarantine_fk else [])
            reasons = (
                F.filter(
                    F.array(*[
                        F.when(~F.col(col), F.lit(cid))
                        for col, cid in pairs
                    ]),
                    lambda x: x.isNotNull(),
                )
                if pairs
                else F.array().cast("array<string>")
            )
            bad = bad.withColumn("__reasons__", reasons)
        return clean, bad.drop(*internal)


def _dim_table(dims: dict[str, DataFrame], tc: dict[str, Any]) -> DataFrame:
    """The table a foreign_key (``dim``) or reconcile (``child``) check
    reads, or the KeyError that says how to pass it."""
    field, noun = (("dim", "dimension") if tc["kind"] == "foreign_key"
                   else ("child", "child table"))
    if tc[field] not in dims:
        raise KeyError(
            f"{tc['kind']} check {tc['id']!r} needs {noun} {tc[field]!r} "
            "passed via run(..., dims={...})")
    return dims[tc[field]]


def _observed_col(col: Column, dtype: T.DataType) -> Column:
    if isinstance(dtype, T.ArrayType):
        # cap BEFORE serializing — to_json of a full token array would
        # materialize kilobytes per violation row just to truncate them
        return F.substring(F.to_json(F.slice(col, 1, 32)), 1, 256)
    if isinstance(dtype, (T.MapType, T.StructType)):
        return F.substring(F.to_json(col), 1, 256)
    return F.substring(col.cast("string"), 1, 256)


class ConstraintSuite:
    """Compile once, run on any DataFrame with matching columns.

    ``register(name, spec)`` adds named specs for ``$ref`` reuse
    (AddSchema analogue, /root/reference/schema_refs.go:118-129)."""

    def __init__(self, table_spec: TableSpec, *, key: str = "doc_id",
                 non_null_elements: tuple[str, ...] = ()) -> None:
        self.spec = table_spec
        self.key = key
        # storage-contract hint: array columns whose ELEMENTS are
        # guaranteed non-null by the table's storage schema (parquet
        # footers write `element: int32 not null`, Iceberg tracks
        # `required` elements) — Spark's file reader coerces everything
        # back to nullable, so the trusted contract is re-declared here.
        # The compiler then elides per-element null scans (≈ half the
        # flagship predicate pass at 16M rows, compile.py).  Trusting a
        # wrong contract skips null detection for that column — only
        # declare it for columns the WRITER guarantees (tokenizers never
        # emit null tokens).
        self.non_null_elements = tuple(non_null_elements)
        self.registry: dict[str, Any] = {}

    def register(self, name: str, spec: Any) -> None:
        self.registry[name] = spec

    def _plan_key(self, df: DataFrame) -> str | None:
        import json

        try:
            sess = df.sparkSession
            app = sess.sparkContext.applicationId
            spec_fp = json.dumps(
                {"c": self.spec.columns, "r": self.spec.row_checks,
                 "t": self.spec.table_checks, "d": self.spec.draft},
                sort_keys=True, default=repr)
            reg_fp = json.dumps(
                {k: (v.root if isinstance(v, SchemaSpec) else v)
                 for k, v in self.registry.items()},
                sort_keys=True, default=repr)
            return "|".join([app, df.schema.json(), spec_fp, reg_fp,
                             repr(self.non_null_elements)])
        except Exception:  # pragma: no cover - exotic spec content
            return None

    def _tolerant_passed(self, counts: dict[str, Column], n_rows: Column
                         ) -> Column:
        """The verdict ``passed`` expression under ``spec.tolerances``
        (Great-Expectations ``mostly``): constraint ``c`` is within budget
        when pass_count(c) >= mostly_c * n_rows, evaluated as the EXACT
        integer rule ``(n_rows - fails) * den >= num * n_rows`` via
        ``Fraction(str(mostly))`` — no binary-float edge on either side
        (0.9 of 1000 is exactly 900).  Constraints without a declared
        tolerance stay strict.  Violation rows are unaffected — tolerance
        is a GATE concept, not row routing; ``split()`` still quarantines
        every failing row.

        ``counts`` maps each constraint id to its fail-count Column;
        ``n_rows`` is the group row count Column."""
        import functools
        import operator
        from fractions import Fraction

        unknown = set(self.spec.tolerances) - set(counts)
        if unknown:
            raise KeyError(
                f"tolerances reference unknown row-constraint ids "
                f"{sorted(unknown)}; known ids: {sorted(counts)} "
                "(table checks cannot be tolerated — they are not "
                "verdict constraints)")
        terms = []
        for cid, cnt in counts.items():
            m = self.spec.tolerances.get(cid)
            if m is None:
                terms.append(cnt == 0)
            else:
                fr = Fraction(str(m))
                terms.append(
                    (n_rows - cnt) * F.lit(fr.denominator)
                    >= F.lit(fr.numerator) * n_rows
                )
        return (functools.reduce(operator.and_, terms)
                if terms else F.lit(True))

    def kernel(self, df: DataFrame) -> VerdictKernel:
        """The :class:`VerdictKernel` of ``df``'s compiled plan for this
        suite's key and tolerances, memoized on the plan: its ~1000 py4j
        round trips (entries array, counters, verdict map) are paid once
        per plan, not per call."""
        plan = self.compile(df)
        tol_fp = tuple(sorted(
            (k, str(v)) for k, v in (self.spec.tolerances or {}).items()))
        dk = ("kernel", self.key, tol_fp)
        k = plan.derived.get(dk)
        if k is None:
            k = plan.derived[dk] = self._build_kernel(plan)
        return k

    def _build_kernel(self, plan: ConstraintPlan) -> VerdictKernel:
        import functools
        import operator

        ids = [cid for cid, _ in plan.predicates]
        # internal alias per constraint — ids may contain '.', which
        # Column resolution would read as struct access
        names = [f"__c{i}__" for i in range(len(ids))]
        counts = [f"__n{i}__" for i in range(len(ids))]
        fks = [tc for tc in plan.table_checks if tc["kind"] == "foreign_key"]
        fk_names = [f"__fk{i}__" for i in range(len(fks))]
        observed = [plan.observed[cid] for cid in ids] + [
            F.col(tc["column"]).cast("string") for tc in fks]
        row_entries = [
            F.when(~F.col(name), F.struct(
                F.lit(cid).alias("constraint_id"),
                obs.alias("observed"),
            ))
            for name, cid, obs in zip(
                names + fk_names, ids + [tc["id"] for tc in fks], observed)
        ]
        entries = F.filter(
            F.array(*row_entries) if row_entries else F.array().cast(
                "array<struct<constraint_id:string,observed:string>>"),
            lambda x: x.isNotNull(),
        )

        def n_failed(col: str, alias: str) -> Column:
            return F.sum((~F.coalesce(F.col(col), F.lit(True)))
                         .cast("long")).alias(alias)

        # every group holds a row, so no counter is NULL
        n_rows, n_fail, *n_cid = map(F.col, ["n_rows", "n_fail", *counts])
        fail_map = (
            F.when(n_fail > 0, F.map_from_arrays(
                F.array(*[F.lit(cid) for cid in ids]), F.array(*n_cid)))
            if ids else F.lit(None).cast("map<string,bigint>")
        )
        passed = (
            self._tolerant_passed(dict(zip(ids, n_cid)), n_rows)
            if self.spec.tolerances else n_fail == 0
        )
        return VerdictKernel(
            ids=ids,
            names=names,
            checks=[p.alias(name)
                    for name, (_, p) in zip(names, plan.predicates)],
            pass_col=(functools.reduce(operator.and_, map(F.col, names))
                      if names else F.lit(True)),
            fk_checks=fks,
            fk_names=fk_names,
            entries=entries,
            emit=functools.reduce(operator.or_, [
                ~F.col(c) for c in ["__pass__", *fk_names]]),
            doc_id=F.col(self.key).cast("string"),
            n_rows=F.count(F.lit(1)).alias("n_rows"),
            counters=[n_failed("__pass__", "n_fail"),
                      *map(n_failed, names, counts)],
            verdict=[n_rows, n_fail.alias("n_fail"),
                     fail_map.alias("fail_by_constraint"),
                     (n_rows - n_fail).alias("n_pass"),
                     passed.alias("passed")],
        )

    # -- compile ----------------------------------------------------------
    def compile(self, df: DataFrame) -> ConstraintPlan:
        # Module-level cache (bounded), NOT per-instance: the natural
        # caller shape constructs a fresh suite per batch (the bench's
        # validate_sequences does exactly this), so an instance cache
        # never hits.  The key fingerprints the spec/registry CONTENT +
        # input schema + session (Columns are JVM-bound), so identical
        # re-compiles — pure driver-side Column building, no data —
        # are paid once per session (~0.2 s/run at 10 predicates,
        # measured r7; VERDICT r6 item 5).
        ck = self._plan_key(df)
        cached = _PLAN_CACHE.get(ck) if ck is not None else None
        if cached is not None:
            return cached
        plan = self._compile_uncached(df)
        if ck is not None:
            if len(_PLAN_CACHE) >= 128:  # bound: drop oldest entry
                _PLAN_CACHE.pop(next(iter(_PLAN_CACHE)))
            _PLAN_CACHE[ck] = plan
        return plan

    def _compile_uncached(self, df: DataFrame) -> ConstraintPlan:
        dtypes = {f.name: f.dataType for f in df.schema.fields}
        preds: list[tuple[str, Column]] = []
        observed: dict[str, Column] = {}
        draft = self.spec.draft

        for name, schema in self.spec.columns.items():
            if name not in dtypes:
                raise KeyError(f"spec column {name!r} not in DataFrame")
            col = F.col(name)
            dt = dtypes[name]
            if (name in self.non_null_elements
                    and isinstance(dt, T.ArrayType) and dt.containsNull):
                dt = T.ArrayType(dt.elementType, False)

            # {"kind": "scoped", "where": ..., "schema": ...} — the
            # row_condition analogue: every predicate this column
            # produces is gated on ``where``; out-of-scope rows pass
            # unjudged (they never VIOLATE, but as passing rows they DO
            # sit in the tolerance denominator, which is partition
            # n_rows — see TableSpec.tolerances).  NULL scope = out of
            # scope.
            def wrap(p: Column) -> Column:
                return p

            if isinstance(schema, dict) and schema.get("kind") == "scoped":
                in_scope = F.coalesce(F.expr(schema["where"]), F.lit(False))

                def wrap(p: Column, _s: Column = in_scope) -> Column:
                    return F.when(_s, p).otherwise(F.lit(True))

                schema = schema["schema"]
            if isinstance(schema, dict) and schema.get("kind") == "json":
                # JSON string column → json_column_predicate_auto picks
                # the zero-Python native path (one from_json + typed
                # compiler) when the schema qualifies, else the
                # Arrow-batched interpreter UDF
                if not isinstance(dt, T.StringType):
                    raise SpecError(
                        f"column {name!r}: kind=json needs a string "
                        f"column, got {dt.simpleString()}")
                from go_jsonschema_spark.functions.json_native import (
                    json_column_predicate_auto,
                )

                cid = f"{name}.json"
                judge = json_column_predicate_auto(
                    schema["schema"], draft=draft)
                preds.append(
                    (cid, wrap(F.coalesce(judge(col), F.lit(False)))))
                observed[cid] = F.substring(col, 1, 256)
                continue
            sspec = SchemaSpec(schema)
            sspec.registry.update(self.registry)
            registry_raw = {
                k: (v.root if isinstance(v, SchemaSpec) else v)
                for k, v in self.registry.items()
            }
            if not isinstance(schema, dict):
                cid = f"{name}.schema"
                preds.append((cid, wrap(compile_predicate(
                    schema, col, dt, draft=draft, spec=sspec))))
                observed[cid] = _observed_col(col, dt)
                continue
            # per-keyword decomposition → violation granularity matches the
            # reference's per-validator errors (setupValidators analogue)
            for kw in schema:
                if kw in _ANNOTATION_KEYS:
                    continue
                anchors = _RIDER_ANCHORS.get(kw)
                if anchors and any(a in schema for a in anchors):
                    continue  # compiled as part of the anchor's group
                ignored = _IGNORED_WITHOUT_ANCHOR.get(kw)
                if ignored:
                    # with its anchor: rides along; without: spec-defined
                    # no-op either way
                    continue
                # draft-4 boolean exclusive flags without their bound are
                # spec-defined no-ops; numeric (draft>=6) standalone forms
                # must compile on their own
                if kw in ("exclusiveMaximum", "exclusiveMinimum") and \
                        isinstance(schema[kw], bool):
                    continue
                group = _BOUND_PAIRS.get(kw, (kw,))
                sub = {k: schema[k] for k in group if k in schema}
                # carry type info the sub-keywords may need
                cid = f"{name}.{kw}"
                try:
                    pred = compile_predicate(sub, col, dt, draft=draft,
                                             spec=sspec)
                except CompileError:
                    # the typed compiler refuses unevaluated* and dynamic
                    # refs, which read their SIBLING applicators, and
                    # content*, which need a decoder: judge
                    # the whole schema in Python, and fail the group
                    # exactly when the schema fails but the schema
                    # without the group passes (per-keyword attribution)
                    rest = {k: v for k, v in schema.items() if k not in sub}
                    pred = _arrow_judge(
                        schema, typed=True, rest=rest, draft=draft,
                        registry=registry_raw)(col)
                preds.append((cid, wrap(pred)))
                observed[cid] = _observed_col(col, dt)

        for rc in self.spec.row_checks:
            cid = rc["id"]
            pred = F.coalesce(F.expr(rc["expr"]), F.lit(False))
            if rc.get("where"):
                # scoped row check: out-of-scope rows pass unjudged
                pred = F.when(
                    F.coalesce(F.expr(rc["where"]), F.lit(False)), pred
                ).otherwise(F.lit(True))
            preds.append((cid, pred))
            obs = rc.get("observed")
            observed[cid] = (
                F.substring(F.expr(obs).cast("string"), 1, 256)
                if obs
                else F.lit(None).cast("string")
            )

        return ConstraintPlan(preds, observed, list(self.spec.table_checks))

    # -- dataset-level checks (GLOBAL: never evaluate these on a slice of
    # the table — uniqueness/referential over a subset miss cross-slice
    # duplicates; the checkpoint layer runs them as their own phase) -------
    def table_check_violations(
        self, df: DataFrame, *, dims: dict[str, DataFrame] | None = None,
    ) -> DataFrame | None:
        """Violations from the table-level checks (unique / foreign_key /
        functional_dependency / reconcile), or None if the spec has
        none."""
        return self._table_violations(df, self.spec.table_checks, dims or {})

    def _table_violations(
        self, df: DataFrame, checks: list[dict[str, Any]],
        dims: dict[str, DataFrame],
    ) -> DataFrame | None:
        parts: list[DataFrame] = []
        for tc in checks:
            kind = tc["kind"]
            if kind == "unique":
                # one exact count aggregation, one exchange; never the
                # hash-compact path (slower, see duplicate_keys docstring)
                parts.append(
                    uniqueness_violations(
                        df,
                        # composite keys pass the full list → struct key;
                        # a single-element list degrades to the plain column
                        tc["columns"] if "columns" in tc else tc["column"],
                        constraint_id=tc["id"],
                    )
                )
            elif kind == "foreign_key":
                from go_jsonschema_spark.operators.referential import (
                    referential_violations,
                )

                parts.append(
                    referential_violations(
                        df,
                        tc["column"],
                        _dim_table(dims, tc),
                        tc.get("dim_column"),
                        key=self.key,
                        constraint_id=tc["id"],
                    )
                )
            elif kind == "functional_dependency":
                from go_jsonschema_spark.operators.consistency import (
                    fd_violations,
                )

                det = tc["determinant"]
                v = fd_violations(df, det, tc["dependent"])
                parts.append(v.select(
                    key_doc_id(det, _key_col(det)[0]).alias("doc_id"),
                    F.lit(tc["id"]).alias("constraint_id"),
                    F.col("n_values").cast("string").alias("observed"),
                ))
            elif kind == "reconcile":
                from go_jsonschema_spark.operators.consistency import (
                    reconcile_totals,
                )

                v = reconcile_totals(
                    df, _dim_table(dims, tc), tc["key"],
                    tc["parent_col"], tc["child_col"],
                    atol=tc.get("atol", 1e-6),
                    how=tc.get("how", "full"),
                )
                parts.append(v.select(
                    key_doc_id(tc["key"], _key_col(tc["key"])[0])
                    .alias("doc_id"),
                    F.lit(tc["id"]).alias("constraint_id"),
                    F.coalesce(
                        F.col("diff").cast("string"),
                        F.when(F.col("parent_total").isNull(),
                               F.lit("missing_parent"))
                        .otherwise(F.lit("missing_children")),
                    ).alias("observed"),
                ))
            # stats/drift/row_count/completeness produce metrics, not
            # violations — metrics() runs them
        if not parts:
            return None
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        return out

    def metrics(
        self,
        df: DataFrame,
        *,
        baselines: dict[str, DataFrame] | None = None,
    ) -> dict[str, Any]:
        """Execute the metric-kind table checks declared in the spec:
        ``stats`` → one-agg-pass profile DataFrame; ``drift`` → DriftReport
        vs the baseline histogram passed in ``baselines[check id]``;
        ``row_count`` → long.  Returned dict is keyed by check id (stats
        uses the id ``stats``)."""
        from go_jsonschema_spark.operators.drift import drift_check
        from go_jsonschema_spark.operators.stats import column_stats

        baselines = baselines or {}
        out: dict[str, Any] = {}
        for tc in self.spec.table_checks:
            kind = tc["kind"]
            if kind == "stats":
                out[tc.get("id", "stats")] = column_stats(
                    df, tc.get("columns"),
                    quantiles=tc.get("quantiles"),
                )
            elif kind == "drift":
                if tc["id"] not in baselines:
                    raise KeyError(
                        f"drift check {tc['id']!r} needs a baseline "
                        f"histogram via metrics(..., baselines={{...}})"
                    )
                out[tc["id"]] = drift_check(
                    df,
                    tc["column"],
                    baselines[tc["id"]],
                    bucket_width=tc["bucket_width"],
                    ks_threshold=tc.get("ks_threshold", 0.1),
                    psi_threshold=tc.get("psi_threshold", 0.2),
                )
            elif kind == "row_count":
                out[tc["id"]] = df.count()
            elif kind == "completeness":
                # per-column null ratio vs threshold, ONE agg pass over a
                # column-pruned scan: {column: {null_ratio, max, passed}}
                cols = tc.get("columns") or [tc["column"]]
                thr = tc.get("max_null_ratio", 0.0)
                row = df.agg(
                    F.count(F.lit(1)).alias("__n__"),
                    *[
                        F.count(F.when(F.col(c).isNull(), 1)).alias(f"__x{i}__")
                        for i, c in enumerate(cols)
                    ],
                ).first()
                n = row["__n__"] or 1
                out[tc["id"]] = {
                    c: {
                        "null_ratio": row[f"__x{i}__"] / n,
                        "max_null_ratio": thr,
                        "passed": row[f"__x{i}__"] / n <= thr,
                    }
                    for i, c in enumerate(cols)
                }
        return out

    def verdict_counts(
        self, df: DataFrame, *, partition_col: str | None = None,
    ) -> DataFrame:
        """Counts-only fast path: the ``run().verdicts`` numbers
        (``partition, n_rows, n_fail, fail_by_constraint, n_pass,
        passed``) from ONE map-side-combined aggregation over the
        predicate scan — ZERO violation materialization: no failing-row
        filter branch, no per-row constraint arrays, no explode, no
        persist, nothing row-scaled on the shuffle (each map task emits
        one partial row per partition key).  The counters and verdict
        columns are the kernel's, the same ones ``run()`` aggregates.

        This is the batch-gate shape at 10^12 rows: when the decision
        is "ship or quarantine the batch", the violation DETAIL stream
        (the dominant shuffle-write cost of the full pass — the r5→r6
        scaling-gap attribution) never needs to exist.  Run the full
        ``run()`` afterwards on only the partitions that failed."""
        k = self.kernel(df)
        part = F.col(partition_col) if partition_col else F.lit("__all__")
        return k.verdicts(k.project(df), part, "partition")

    def row_only(self) -> "ConstraintSuite":
        """A copy of this suite with the dataset-level checks stripped —
        what the checkpoint layer runs per partition batch."""
        spec = TableSpec(
            columns=self.spec.columns,
            row_checks=self.spec.row_checks,
            table_checks=[],
            draft=self.spec.draft,
            tolerances=self.spec.tolerances,
        )
        s = ConstraintSuite(spec, key=self.key)
        s.registry = self.registry
        return s

    # -- run --------------------------------------------------------------
    def run(
        self,
        df: DataFrame,
        *,
        partition_col: str | None = None,
        dims: dict[str, DataFrame] | None = None,
        persist_violations: bool = False,
    ) -> SuiteResult:
        """Build the lazy result DataFrames.  ``partition_col`` keys the
        per-partition verdicts (defaults to a constant — whole-table).

        One-pass design (SURVEY.md §3.4): the predicates are evaluated in
        ONE narrow frame over every row — the partition value, ``__pass__``,
        the ``__c{i}__`` flags, and ``doc_id`` and the violation
        ``entries`` array, both NULL on a row that fails nothing.
        Violations explode ``entries``; verdicts are
        :meth:`VerdictKernel.verdicts` of the frame by partition, the same
        aggregation as :meth:`verdict_counts`.  With
        ``persist_violations`` the frame is persisted (MEMORY_AND_DISK),
        so violations + verdicts together cost one predicate pass and the
        verdicts read only the cache.  Trade-off: the persisted frame holds
        O(rows) narrow columns (booleans, the partition value, NULLs), not
        O(failing rows)."""
        k = self.kernel(df)
        dims = dims or {}

        # Every foreign_key check is a membership flag computed in the one
        # predicate pass: the fact frame left-joins the distinct dim keys,
        # which carry a true marker, and the flag __fk{i}__ is
        # coalesce(marker, false).  The optimizer picks broadcast or
        # shuffle from the dim's measured size; no dim value reaches the
        # driver.  A NULL fact key matches nothing (a violation, as in the
        # anti-join) and NULL dim values never match.  FK checks emit
        # VIOLATION rows identical to referential_violations but stay OUT
        # of the verdict fail counts, like every table check.
        fact = df
        for col, tc in zip(k.fk_names, k.fk_checks):
            dkey = f"{col}key"
            dim_keys = _dim_table(dims, tc).select(
                F.col(tc.get("dim_column") or tc["column"]).alias(dkey),
                F.lit(True).alias(col),
            ).distinct()
            fact = fact.join(
                dim_keys, F.col(tc["column"]) == F.col(dkey), "left"
            ).drop(dkey)
        if k.fk_names:
            fact = fact.withColumns({col: F.coalesce(F.col(col), F.lit(False))
                                     for col in k.fk_names})

        part = F.col(partition_col) if partition_col else F.lit("__all__")
        checked = k.project(fact)

        # one narrow frame over EVERY row: the partition, the predicate
        # booleans, and — only where a row fails something — its key and
        # the array of its failed constraints (kept un-exploded so row
        # identity survives: a nondeterministic row id would be
        # re-evaluated per exploded row and doc_id may legitimately repeat
        # via duplicate rows).  Violations and verdicts both read it, so
        # with persist_violations the predicates run once per row, below
        # the cache.  A row emitted only for an fk has __pass__ true and
        # adds 0 to every kernel counter.
        rows = checked.select(
            part.alias("__part__"),
            "__pass__",
            *k.names,
            F.when(k.emit, k.doc_id).alias("doc_id"),
            F.when(k.emit, k.entries).alias("entries"),
        )
        if persist_violations:
            from pyspark import StorageLevel

            rows = rows.persist(StorageLevel.MEMORY_AND_DISK)
        # explode_outer + the NULL filter, not explode: Spark infers
        # size(entries) > 0 from explode and pushes it below the
        # predicate Project, judging a failing row twice unpersisted
        violations = rows.select(
            "doc_id", F.explode_outer("entries").alias("v")
        ).where("v IS NOT NULL").select(
            "doc_id", "v.constraint_id", "v.observed")

        # the other table checks → more violations (the fk checks
        # already produced theirs in the predicate pass)
        tv = self._table_violations(
            df, [tc for tc in self.spec.table_checks
                 if tc["kind"] != "foreign_key"], dims)
        if tv is not None:
            violations = violations.unionByName(tv)

        return SuiteResult(
            checked, violations,
            k.verdicts(rows, F.col("__part__"), "partition"), k.ids,
            row_violations=rows if persist_violations else None,
            fk_constraint_ids=[tc["id"] for tc in k.fk_checks],
            check_cols=k.names,
            fk_cols=k.fk_names,
        )
