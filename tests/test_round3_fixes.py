"""Round-3 fixes from VERDICT/ADVICE r2.

1. unevaluated*/dynamic-ref keywords are draft-gated in BOTH evaluators:
   draft<=7 treats them as unknown keywords (ignored annotations), matching
   the reference's unknown-keyword handling.
2. ConstraintSuite.plan() no longer raises for 2019+ annotation-dependent
   keywords — it falls back to the Arrow-batched judge with honest
   per-keyword attribution.
3. Checkpoint resume re-runs the GLOBAL phase when the partition set
   changed (same membership rule as batch keys).
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from go_jsonschema_spark.engine import ConstraintSuite
from go_jsonschema_spark.interp import validate_instance
from go_jsonschema_spark.interp_compile import compile_validator
from go_jsonschema_spark.spec import TableSpec

UNEVAL_SCHEMA = {"properties": {"a": {}}, "unevaluatedProperties": False}
RREF_SCHEMA = {"$recursiveRef": "#", "type": "object"}


# -- 1. draft gating --------------------------------------------------------

@pytest.mark.parametrize("draft", [4, 6, 7])
def test_unevaluated_ignored_below_2019_interp(draft):
    # draft<=7: unknown keyword → annotation, instance is VALID
    r = validate_instance(UNEVAL_SCHEMA, {"a": 1, "b": 2}, draft=draft)
    assert r.valid


def test_unevaluated_enforced_at_2019_interp():
    r = validate_instance(UNEVAL_SCHEMA, {"a": 1, "b": 2}, draft=2019)
    assert not r.valid


@pytest.mark.parametrize("draft", [7, 2019])
def test_unevaluated_gate_closure_compiler_agrees(draft):
    v = compile_validator(UNEVAL_SCHEMA, draft=draft)
    assert v({"a": 1, "b": 2}) is (draft < 2019)


def test_recursive_ref_ignored_below_2019():
    # {"$recursiveRef": "#"} at draft 7 is an unknown keyword: an object
    # whose members violate the root schema's type must still validate.
    schema = {"type": "object", "$recursiveRef": "#",
              "additionalProperties": {"type": "string"}}
    assert validate_instance(schema, {"x": "ok"}, draft=7).valid
    r = validate_instance(
        {"type": "object",
         "properties": {"child": {"$recursiveRef": "#"}}},
        {"child": "not-an-object"}, draft=7)
    # child's $recursiveRef ignored at draft 7 → nothing constrains it
    assert r.valid


# -- 2. plan() fallback -----------------------------------------------------

@pytest.fixture(scope="module")
def payload_df(spark):
    return spark.createDataFrame(
        [
            (1, {"a": "x", "b": None}),       # extra key b → unevaluated hit
            (2, {"a": "y", "b": None}),
            (3, {"a": None, "b": None}),      # a missing → required hit only
            (4, {"a": "z", "b": "w"}),        # extra key b → unevaluated hit
        ],
        "doc_id int, payload struct<a:string,b:string>",
    )


def test_plan_falls_back_for_unevaluated(spark, payload_df):
    ts = TableSpec(columns={"payload": {
        "type": "object",
        "required": ["a"],
        "properties": {"a": {"type": "string"}},
        "unevaluatedProperties": False,
    }}, draft=2019)
    suite = ConstraintSuite(ts, key="doc_id")
    res = suite.run(payload_df)
    got = {
        (int(r["doc_id"]), r["constraint_id"])
        for r in res.violations.collect()
    }
    # struct→JSON keeps null fields (ignoreNullFields=false), so "b" is a
    # present property (JSON null) on every row → unevaluatedProperties
    # fires on rows 1,2,4.  Row 3 ALSO fails the rest-schema (a is null),
    # so full-vs-rest attribution assigns its failure to the properties
    # group, not to unevaluatedProperties.
    uneval = {d for d, c in got if c == "payload.unevaluatedProperties"}
    assert uneval == {1, 2, 4}
    assert any(d == 3 and c != "payload.unevaluatedProperties"
               for d, c in got)


def test_plan_fallback_attribution_not_double_counted(spark, payload_df):
    # a row failing ONLY `required` must not also be flagged by the
    # unevaluated fallback (full-vs-rest attribution)
    ts = TableSpec(columns={"payload": {
        "type": "object",
        "required": ["a", "b"],
        "properties": {"a": {"type": "string"}, "b": {"type": "string"}},
        "unevaluatedProperties": False,
    }}, draft=2019)
    suite = ConstraintSuite(ts, key="doc_id")
    res = suite.run(payload_df)
    rows = res.violations.filter(
        F.col("constraint_id") == "payload.unevaluatedProperties"
    ).count()
    # all keys are evaluated by properties → unevaluatedProperties never fires
    assert rows == 0


def test_fallback_compiles_validators_once_per_task(monkeypatch):
    """The fallback's Arrow-batch function compiles the full and the rest
    validator on its first batch only; later batches reuse them."""
    import json

    import pandas as pd
    from pyspark.sql import functions as F

    from go_jsonschema_spark import interp_compile
    from go_jsonschema_spark.compile import _arrow_judge

    compiled, batch_fns = [], []
    real = interp_compile.compile_validator

    def counting(schema, **kw):
        compiled.append(schema)
        return real(schema, **kw)

    monkeypatch.setattr(interp_compile, "compile_validator", counting)
    # keep the plain batch function the factory hands to pandas_udf
    monkeypatch.setattr(
        F, "pandas_udf", lambda rtype: lambda fn: batch_fns.append(fn) or fn)
    _arrow_judge(UNEVAL_SCHEMA, typed=True, rest={"properties": {"a": {}}},
                 draft=2019)
    (judge,) = batch_fns
    batch = pd.Series([json.dumps({"v": {"a": 1}}),
                       json.dumps({"v": {"a": 1, "b": 2}}),
                       json.dumps({"v": None})])
    assert list(judge(batch)) == [True, False, True]
    assert list(judge(batch)) == [True, False, True]
    assert compiled == [UNEVAL_SCHEMA, {"properties": {"a": {}}}]


# -- kind=json column through the suite --------------------------------------

JSON_ROWS = [
    (1, '{"k": 5}'),          # valid
    (2, '{"k": 99}'),         # maximum hit
    (3, '{"nope": 1}'),       # required hit
    (4, 'not json'),          # corrupt
    (5, None),                # null payload
]
K_SCHEMA = {
    "type": "object",
    "required": ["k"],
    "properties": {"k": {"type": "integer", "minimum": 0, "maximum": 49}},
}


def test_tablespec_json_kind_native_path(spark):
    ts = TableSpec(columns={"props": {"kind": "json", "schema": K_SCHEMA}})
    suite = ConstraintSuite(ts, key="doc_id")
    df = spark.createDataFrame(JSON_ROWS, "doc_id int, props string")
    res = suite.run(df)
    bad = {int(r["doc_id"]) for r in res.violations.collect()}
    assert bad == {2, 3, 4, 5}
    # the qualifying schema rides the native from_json path: no Python
    # eval operator anywhere in the plan
    plan = res.violations._jdf.queryExecution().executedPlan().toString()
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan


def test_tablespec_json_kind_udf_fallback(spark):
    # propertyNames isn't native-compilable → interpreter UDF arm, same
    # verdicts
    schema = {"type": "object", "propertyNames": {"maxLength": 1},
              "required": ["k"]}
    ts = TableSpec(columns={"props": {"kind": "json", "schema": schema}})
    suite = ConstraintSuite(ts, key="doc_id")
    df = spark.createDataFrame(JSON_ROWS, "doc_id int, props string")
    bad = {int(r["doc_id"])
           for r in suite.run(df).violations.collect()}
    assert bad == {3, 4, 5}  # 'nope' too long a key + required; corrupt; null


def test_tablespec_json_kind_requires_string_column(spark):
    from go_jsonschema_spark.spec import SpecError

    ts = TableSpec(columns={"doc_id": {"kind": "json", "schema": K_SCHEMA}})
    df = spark.createDataFrame([(1,)], "doc_id int")
    with pytest.raises(SpecError, match="string"):
        ConstraintSuite(ts, key="doc_id").run(df)


# -- large-star/small-star connected components ------------------------------

def _cc_reference(edges):
    """Driver-side union-find ground truth."""
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {x: find(x) for x in parent}


@pytest.mark.parametrize("edges", [
    # chain (worst case for propagation)
    [(i, i + 1) for i in range(20)],
    # hub + satellite pairs + isolated pair
    [(0, i) for i in range(1, 15)] + [(100, 101), (101, 102), (200, 201)],
    # two rings
    [(i, (i + 1) % 10) for i in range(10)]
    + [(20 + i, 20 + (i + 1) % 7) for i in range(7)],
])
def test_star_and_label_clusters_agree(spark, edges):
    """Both engines, each forced through ``star_threshold``, equal
    union-find ground truth."""
    from go_jsonschema_spark.operators.dedup import duplicate_clusters

    pairs = spark.createDataFrame(edges, "a int, b int")
    want = _cc_reference(edges)
    for algo, threshold in (("star", 0), ("local", len(edges) + 1)):
        st = {}
        got = {r["id"]: r["cluster"] for r in duplicate_clusters(
            pairs, star_threshold=threshold, stats_out=st).collect()}
        assert got == want and st["algorithm"] == algo, algo


def test_star_clusters_random_graphs_hypothesis(spark):
    """Property: on random graphs, BOTH engines equal union-find ground
    truth.  Deterministic seed sweep (a full hypothesis @given would
    respawn Spark jobs per example; 12 seeded graphs keep it bounded)."""
    import random

    from go_jsonschema_spark.operators.dedup import duplicate_clusters

    for seed in range(12):
        rng = random.Random(seed)
        n = rng.randint(2, 60)
        edges = [
            (rng.randrange(n), rng.randrange(n))
            for _ in range(rng.randint(1, 120))
        ]
        edges = [(a, b) for a, b in edges if a != b] or [(0, 1)]
        want = _cc_reference(edges)
        pairs = spark.createDataFrame(edges, "a int, b int")
        star = {r["id"]: r["cluster"] for r in duplicate_clusters(
            pairs, star_threshold=0).collect()}
        assert star == want, f"seed={seed}"


def test_items_fast_path_in_plan_no_lambda(spark):
    """The flagship tokens check must compile WITHOUT a per-element
    lambda: array_min/array_max present, no LambdaFunction in the
    optimized plan for the items predicate."""
    from go_jsonschema_spark.compile import compile_predicate

    df = spark.createDataFrame([(1, [1, 2])], "id int, toks array<int>")
    p = compile_predicate(
        {"type": "array",
         "items": {"type": "integer", "minimum": 0,
                   "exclusiveMaximum": 32000},
         "minItems": 1},
        F.col("toks"), df.schema["toks"].dataType)
    plan = df.select(p.alias("ok"))._jdf.queryExecution() \
        .optimizedPlan().toString()
    assert "array_min" in plan and "array_max" in plan
    # the only lambda left is the lean not-null forall
    assert plan.count("lambdafunction") <= 1


def test_clusters_auto_switch_counts_pairs(spark):
    from go_jsonschema_spark.operators.dedup import duplicate_clusters

    pairs = spark.createDataFrame([(1, 2), (2, 3)], "a int, b int")
    # tiny threshold forces the star path through the size switch
    st = {}
    out = {r["id"]: r["cluster"] for r in duplicate_clusters(
        pairs, star_threshold=1, stats_out=st).collect()}
    assert out == {1: 1, 2: 1, 3: 1} and st["algorithm"] == "star"
    # default threshold routes a tiny list to the local union-find
    st2 = {}
    out2 = {r["id"]: r["cluster"] for r in duplicate_clusters(
        pairs, stats_out=st2).collect()}
    assert out2 == out and st2["algorithm"] == "local"
    # empty pair list: empty result, correct schema
    empty = duplicate_clusters(spark.createDataFrame([], "a int, b int"))
    assert empty.columns == ["id", "cluster"] and empty.count() == 0


# -- kind=json through Structured Streaming -----------------------------------

def test_streaming_json_kind_violations(spark, tmp_path):
    """A kind=json column validates in a stream exactly like in batch:
    the native from_json predicate is a plain Column, so the streaming
    plan carries no Python and the violation set matches the batch run."""
    from go_jsonschema_spark.streaming.validate import stream_violations

    events = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    src = str(tmp_path / "json_stream_src")
    events.write.mode("overwrite").parquet(src)

    ts = TableSpec(columns={"props": {"kind": "json", "schema": K_SCHEMA}})
    suite = ConstraintSuite(ts, key="event_id")
    stream = spark.readStream.schema(events.schema).parquet(src)
    q = (
        stream_violations(suite, stream)
        .writeStream.format("memory").queryName("json_viol")
        .outputMode("append").trigger(availableNow=True).start()
    )
    q.awaitTermination(120)
    got = spark.sql("SELECT count(*) n FROM json_viol").first()["n"]
    want = suite.run(events).violations.count()
    assert got == want > 0


# -- items bounds fast path (array_min/max) ----------------------------------

TRICKY_ARRAYS = [
    [1, 2, 3], [1, None, 5], [], [None], [0], [31999], [32000], [-1],
    [0, 31999], [-1, 32000], None,
]


@pytest.mark.parametrize("items,draft", [
    ({"type": "integer", "minimum": 0, "exclusiveMaximum": 32000}, 7),
    ({"minimum": 0, "exclusiveMaximum": 32000}, 7),   # bare bounds: null ok
    ({"type": "integer"}, 7),                          # type only
    ({"minimum": 0, "exclusiveMinimum": True}, 4),     # draft-4 bool excl
    ({"maximum": 10}, 7),
    # type LISTS (ADVICE r4 high: ["integer","null"] admits null elements —
    # the not-null forall must be skipped, [1, None, 5] is VALID)
    ({"type": ["integer", "null"], "minimum": 0}, 7),
    ({"type": ["integer", "null"]}, 7),
    ({"type": ["number", "integer"], "maximum": 32000}, 7),
    ({"type": ["integer", "null"],
      "minimum": 0, "exclusiveMaximum": 32000}, 7),
])
def test_items_fast_path_matches_interp(spark, items, draft):
    from go_jsonschema_spark.compile import (
        _items_bounds_fast_path, compile_predicate,
    )
    from go_jsonschema_spark.interp import validate_instance

    schema = {"type": "array", "items": items}
    df = spark.createDataFrame(
        [(i, a) for i, a in enumerate(TRICKY_ARRAYS)],
        "id int, toks array<int>",
    )
    et = df.schema["toks"].dataType
    # these schemas must actually take the fast path
    assert _items_bounds_fast_path(items, F.col("toks"),
                                   et.elementType) is not None
    p = compile_predicate(schema, F.col("toks"), et, draft=draft)
    got = {r["id"]: r["ok"] for r in df.select("id", p.alias("ok")).collect()}
    for i, a in enumerate(TRICKY_ARRAYS):
        if a is None:
            continue  # null-column guard is the caller's _null_safe
        want = validate_instance(schema, a, draft=draft).valid
        assert got[i] == want, f"arr={a}: fast={got[i]} interp={want}"


def test_items_fast_path_declined_for_unsupported(spark):
    from go_jsonschema_spark.compile import _items_bounds_fast_path
    from pyspark.sql import types as T

    et = T.IntegerType()
    assert _items_bounds_fast_path(
        {"type": "integer", "multipleOf": 2}, F.col("x"), et) is None
    assert _items_bounds_fast_path(
        {"type": "string"}, F.col("x"), et) is None
    # type lists outside {integer, number, null} or without a numeric
    # member fall back to the generic forall
    assert _items_bounds_fast_path(
        {"type": ["integer", "string"]}, F.col("x"), et) is None
    assert _items_bounds_fast_path(
        {"type": ["null"]}, F.col("x"), et) is None
    assert _items_bounds_fast_path(
        {"minimum": 0}, F.col("x"), T.DoubleType()) is None  # NaN ordering
    assert _items_bounds_fast_path({}, F.col("x"), et) is None


# -- 3. checkpoint global-phase membership ----------------------------------

def test_global_phase_reruns_on_membership_change(spark, tmp_path):
    from go_jsonschema_spark.checkpoint import (
        CheckpointStore, ResumableValidation,
    )
    from go_jsonschema_spark.sources import synth

    suite = ConstraintSuite(synth.sequences_table_spec(), key="doc_id")
    store = CheckpointStore(str(tmp_path / "ckpt"))
    rv = ResumableValidation(store=store, suite=suite,
                             partition_col="part", batch_size=4)
    dims = {"sources_dim": synth.sources_dim(spark)}

    df8 = synth.sequences(spark, 1500, parts=8)
    rv.run(df8, "runA", str(tmp_path / "outA"), dims=dims)
    ts_before = store.completed("runA")["global"]["ts"]

    # same partition set → global phase skipped (timestamp unchanged)
    rep2 = rv.run(df8, "runA", str(tmp_path / "outA"), dims=dims)
    assert store.completed("runA")["global"]["ts"] == ts_before
    assert rep2.batches_run == 0

    # new partitions land → global phase re-runs (stale uniqueness/FK)
    df10 = synth.sequences(spark, 1500, parts=10)
    rep3 = rv.run(df10, "runA", str(tmp_path / "outA"), dims=dims)
    assert store.completed("runA")["global"]["ts"] != ts_before
    assert rep3.batches_run >= 1
