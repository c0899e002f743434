"""Scale-discipline regression tests: assert the PHYSICAL PLAN properties
the 100 TB design depends on, so a refactor that silently loses a
broadcast, pushdown, or column pruning fails CI — not the cluster."""

from __future__ import annotations

import contextlib
import io
import re

import pytest
from pyspark.sql import functions as F

from go_jsonschema_spark.engine import ConstraintSuite
from go_jsonschema_spark.sources import synth


def _plan(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


@pytest.fixture(scope="module")
def seq_parquet(spark, tmp_path_factory):
    p = str(tmp_path_factory.mktemp("plans") / "seq")
    synth.sequences(spark, 1000).write.mode("overwrite").parquet(p)
    return spark.read.parquet(p)


def test_referential_is_broadcast_anti_join(spark, seq_parquet):
    from go_jsonschema_spark.operators.referential import referential_violations

    plan = _plan(
        referential_violations(seq_parquet, "source", synth.sources_dim(spark))
    )
    assert "BroadcastHashJoin" in plan and "LeftAnti" in plan
    # fact-side scan pruned to the two needed columns
    assert "struct<doc_id:string,source:string>" in plan


def test_uniqueness_single_shuffle_and_pruned(spark, seq_parquet):
    from go_jsonschema_spark.operators.uniqueness import duplicate_keys

    plan = _plan(duplicate_keys(seq_parquet, "doc_id"))
    # default path: ONE exchange (partial+final hash agg handles the hot
    # key map-side — r4 A/B measured the salted two-phase at 1.8x the
    # cost); scan reads only the key column
    assert plan.count("Exchange (") == 1
    assert "struct<doc_id:string>" in plan


def test_flagship_violations_single_exchange_no_join(spark, seq_parquet):
    """The flagship violations action is the predicate pass plus ONE
    exact count aggregation over doc_id: the fact table shuffles once,
    with no join-back and no key hashing (the hash-compact path is never
    taken by run()).  The foreign key is one left join against the
    distinct sources_dim keys inside the predicate pass (no anti-join);
    the only other shuffle is that distinct over the dim."""
    suite = ConstraintSuite(synth.sequences_table_spec(), key="doc_id",
                            non_null_elements=("tokens",))
    res = suite.run(
        seq_parquet, partition_col="part",
        dims={"sources_dim": synth.sources_dim(spark)},
    )
    plan = _plan(res.violations)
    shuffles = re.findall(r"Arguments: hashpartitioning\((\w+)#", plan)
    # fact side: the doc_id count (aliased key); dim side: its distinct
    assert sorted(shuffles) == ["__fk0__key", "key"]
    assert "xxhash64" not in plan and "LeftAnti" not in plan
    joins = re.findall(r"(\w*Join \w+).* \(\d+\)$", plan, re.M)
    assert joins == ["BroadcastHashJoin LeftOuter"]
    # sources_dim (a spark.range) is read once
    assert len(re.findall(r"^\(\d+\) Range$", plan, re.M)) == 1


def _outside_cache(plan: str) -> str:
    """``plan`` without the cached plans below its InMemoryRelation nodes."""
    out, cached = [], None
    for line in plan.splitlines():
        depth = len(line) - len(line.lstrip(" :+-"))
        if cached is not None and depth > cached:
            continue
        cached = depth if "InMemoryRelation" in line else None
        out.append(line)
    return "\n".join(out)


def test_persisted_run_evaluates_predicates_once(spark, seq_parquet):
    """Persisted, ``run()`` evaluates every predicate once per row below
    the cache: its verdicts are one aggregation of the cached flags (no
    parquet read, one exchange, no join) and its violations plan parses
    each JSON column once."""
    seq = ConstraintSuite(synth.sequences_table_spec(), key="doc_id")
    json_suite, events = _json_suite(spark)
    runs = [
        seq.run(seq_parquet, partition_col="part",
                dims={"sources_dim": synth.sources_dim(spark)},
                persist_violations=True),
        json_suite.run(events, persist_violations=True),
    ]
    try:
        for res in runs:
            plan = _outside_cache(
                res.verdicts._jdf.queryExecution().executedPlan().toString())
            assert set(re.findall(r"\w*Scan\b", plan)) == {
                "InMemoryTableScan"}
            assert plan.count("Exchange ") == 1
            assert "Join" not in plan
        plan = runs[1].violations._jdf.queryExecution().executedPlan(
            ).toString()
        for col in ("props", "attrs"):
            assert len(re.findall(rf"from_json\([^#]*?, {col}#\d+", plan)) == 1
    finally:
        for res in runs:
            res.row_violations.unpersist()


def test_unpersisted_violations_parse_json_once(spark):
    """Without ``persist_violations`` the violations plan still judges a
    failing row once: the optimized plan holds one ``from_json`` per
    JSON column (``explode`` let Spark push an inferred
    ``size(entries) > 0`` with its own copy of every predicate below the
    predicate Project)."""
    suite, events = _json_suite(spark)
    out = suite.run(events).violations
    plan = out._jdf.queryExecution().optimizedPlan().toString()
    for col in ("props", "attrs"):
        assert len(re.findall(rf"from_json\([^#]*?, {col}#\d+", plan)) == 1
    assert sorted(tuple(r) for r in out.select(
        "doc_id", "constraint_id").collect()) == [
        ("e2", "attrs.json"), ("e2", "props.json")]


def test_filters_push_to_parquet(spark, seq_parquet):
    plan = _plan(
        seq_parquet.filter((F.col("part") == 3) & (F.col("n_tok") > 100))
        .select("doc_id")
    )
    assert "EqualTo(part,3)" in plan and "GreaterThan(n_tok,100)" in plan


def test_predicates_stay_in_codegen(spark, seq_parquet):
    """The row-predicate block must live inside WholeStageCodegen — no
    Python, no interpreted fallback."""
    suite = ConstraintSuite(synth.sequences_table_spec(), key="doc_id")
    res = suite.run(
        seq_parquet, dims={"sources_dim": synth.sources_dim(spark)}
    )
    # the fk join puts an AdaptiveSparkPlan around the query, whose
    # pre-execution explain shows no codegen stages: read the final plan
    res.checked.collect()
    plan = res.checked._jdf.queryExecution().executedPlan().toString()
    # '*(n)' marks codegen'd operators; the HOF (forall) predicates are
    # JVM-interpreted expressions (Spark doesn't codegen lambda
    # functions) but must never fall to a Python eval node
    assert re.search(r"\*\(\d+\) Project", plan)
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_dedup_selfjoins_reuse_exchange_and_prune(spark):
    """The banded self-joins must plan ONE exchange + ReusedExchange (the
    signature pipeline is not computed once per side), and the scan must
    prune to (id, text).  Static reuse is only visible with AQE off — at
    runtime AQE performs the same reuse via its stage cache."""
    from go_jsonschema_spark.operators.dedup import (
        minhash_lsh_pairs, simhash_feature_hashes, simhash_pairs_from_hashes,
    )

    # other tests may have cached this path — a cache hit swaps the scan
    # for InMemoryTableScan and hides the ReadSchema pruning we assert on
    spark.catalog.clearCache()
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        for name, pairs in (
            ("simhash", simhash_pairs_from_hashes(
                simhash_feature_hashes(docs))),
            ("minhash", minhash_lsh_pairs(docs)),
        ):
            plan = _plan(pairs)
            assert "ReusedExchange" in plan, name
            assert "struct<doc_id:bigint,text:string>" in plan.replace(
                "doc_id:long", "doc_id:bigint"
            ), name
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", "true")


def test_redact_is_fully_native(spark):
    """PII redaction must stay JVM-side: regexp chains, no Python eval."""
    from go_jsonschema_spark.functions.redact import redact_pii

    df = spark.createDataFrame([(0, "a@b.co")], "doc_id int, text string")
    cols = redact_pii(F.col("text"))
    plan = _plan(df.select("*", *[c.alias(k) for k, c in cols.items()]))
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_lsh_multi_one_arrow_pass_and_takeordered(spark):
    """topk_cosine_lsh_multi: exactly ONE Arrow-vectorized candidate
    filter (the 256-plane matmul) and a TakeOrderedAndProject ranking —
    never a row-at-a-time Python eval or a full sort."""
    from go_jsonschema_spark.operators.ann import topk_cosine_lsh_multi

    e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    qv = [float(x)
          for x in e.filter(F.col("vec_id") == 0).first()["embedding"]]
    plan = _plan(topk_cosine_lsh_multi(e, qv, k=10))
    # tree occurrence (node-id form) — the detail section repeats the name
    assert plan.count("ArrowEvalPython (") == 1
    assert "BatchEvalPython" not in plan
    assert "TakeOrderedAndProject" in plan
    assert "Sort " not in plan  # no full sort, heap-select only


def test_null_scan_elision_under_storage_contract(spark, seq_parquet):
    """VERDICT r4 item 7: the `non_null_elements` storage contract must
    ELIDE the per-element null forall from the compiled predicate (the
    -22% flagship win, engine.py / compile.py items fast path) — and the
    uncontracted compile must KEEP it.  Asserted on the executed plan so
    a compile.py refactor can't silently resurrect the scan."""
    import re

    def lambda_nullchecks(contract):
        suite = ConstraintSuite(synth.sequences_table_spec(), key="doc_id",
                                non_null_elements=contract)
        res = suite.run(
            seq_parquet, dims={"sources_dim": synth.sources_dim(spark)})
        return len(re.findall(r"lambdafunction\(isnotnull",
                              _plan(res.checked)))

    assert lambda_nullchecks(()) >= 1          # default: null scan present
    assert lambda_nullchecks(("tokens",)) == 0  # contract: elided


def test_range_join_is_equi_join_not_nested_loop(spark):
    """range_join exists precisely to avoid the BroadcastNestedLoopJoin
    Spark plans for a bare BETWEEN predicate — assert the binned plan is
    a hash/sort-merge equi-join on the bucket."""
    from go_jsonschema_spark.operators.asof import range_join

    pts = spark.range(1000).select(F.col("id").cast("double").alias("x"))
    ivs = spark.range(200).select(
        (F.col("id") * 5.0).alias("lo"), (F.col("id") * 5.0 + 9.0).alias("hi"))
    plan = _plan(range_join(pts, ivs, left_point="x", right_start="lo",
                            right_end="hi", bin_width=10.0))
    assert "BroadcastNestedLoopJoin" not in plan and "CartesianProduct" not in plan
    assert ("SortMergeJoin" in plan or "ShuffledHashJoin" in plan
            or "BroadcastHashJoin" in plan)

    # the naive formulation really does plan a nested loop (the trap)
    naive = _plan(pts.join(ivs, (F.col("x") >= F.col("lo"))
                           & (F.col("x") <= F.col("hi"))))
    assert "BroadcastNestedLoopJoin" in naive or "CartesianProduct" in naive


def test_diversity_sample_single_exchange_no_python(spark):
    """Nearest-centroid assignment must stay a native argmin expression:
    ONE Exchange (the per-cell rank window), no Python eval nodes."""
    from go_jsonschema_spark.operators.sampling import diversity_sample

    e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    import numpy as np

    cent = np.asarray([[float(i == j) for j in range(64)] for i in range(4)])
    plan = _plan(diversity_sample(e, 5, centroids=cent))
    assert plan.count("Exchange (") == 1
    assert "EvalPython" not in plan


def test_semantic_contamination_zero_shuffle(spark):
    """The corpus side must never shuffle: one MapInPandas over the scan,
    no Exchange anywhere (probe matrix travels in the closure)."""
    from go_jsonschema_spark.operators.decontam import semantic_contamination

    e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    probes = e.filter(F.col("vec_id") < 3)
    plan = _plan(semantic_contamination(
        e.filter(F.col("vec_id") >= 3), probes, threshold=0.25))
    assert plan.count("Exchange (") == 0
    assert "MapInPandas" in plan


def test_simhash_pairs_no_dedup_exchange(spark):
    """r5: pair dedup rides the join output as a first-shared-block
    filter over the two signatures already present — the plan must show
    exactly the banding-join exchange pattern (one Exchange reused for
    both sides) with NO extra exchange for a dropDuplicates."""
    from go_jsonschema_spark.operators.dedup import (
        simhash_feature_hashes, simhash_pairs_from_hashes,
    )

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    plan = _plan(simhash_pairs_from_hashes(simhash_feature_hashes(docs)))
    # dropDuplicates(a, b) would compile to an aggregate behind an
    # exchange hash-partitioned on the PAIR columns — assert that
    # exchange is gone (the banding/cap exchanges key on blk/bv/id)
    assert "hashpartitioning(a" not in plan
    # and the exact-hamming filter still runs (verify not lost)
    assert "bit_count" in plan


def test_pmi_and_vocab_overlap_native_plans(spark):
    """r6: both corpus collocation/overlap ops stay JVM-side (no Python
    eval nodes) and the small dimension tables broadcast — the unigram/
    totals tables in PMI, the per-group size skeleton in vocab_overlap."""
    from go_jsonschema_spark.operators.corpus import (
        pmi_collocations, vocab_overlap)

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    pmi_plan = _plan(pmi_collocations(docs, min_count=5, top_k=50))
    assert "BatchEvalPython" not in pmi_plan
    assert "ArrowEvalPython" not in pmi_plan
    assert "BroadcastExchange" in pmi_plan        # totals/bigram mass
    assert "TakeOrderedAndProject" in pmi_plan    # top-k, no global sort

    vo_plan = _plan(vocab_overlap(docs, group_col="source"))
    assert "BatchEvalPython" not in vo_plan
    assert "BroadcastExchange" in vo_plan         # sizes skeleton
    # the fact scan is pruned to the two needed columns
    assert "n_chars" not in vo_plan


def _json_suite(spark):
    """A suite over a props-class and an attrs-class ``kind: json``
    column, and two events to run it on."""
    from go_jsonschema_spark.spec import TableSpec

    props = {
        "type": "object",
        "properties": {
            "user": {"type": "integer", "minimum": 0},
            "amount": {"type": "number", "minimum": 0, "maximum": 10000},
            "kind": {"type": "string", "enum": ["click", "view", "buy"]},
            "items": {"type": "array", "items": {"type": "integer",
                                                 "minimum": 1}},
            "ok": {"type": "boolean"},
        },
        "required": ["user", "amount", "kind", "items", "ok"],
    }
    attrs = {
        "type": "object",
        "properties": {
            "labels": {"type": "array", "maxItems": 6,
                       "items": {"type": "string", "maxLength": 12}},
            "score": {"type": "number", "minimum": -1, "maximum": 1},
        },
        "required": ["labels"],
        "additionalProperties": False,
    }
    df = spark.createDataFrame(
        [("e1", '{"user": 1, "amount": 2, "kind": "buy", "items": [1],'
                ' "ok": true}', '{"labels": ["a"], "score": 0.5}'),
         ("e2", '{"user": -1}', '{"labels": [7], "extra": 1}')],
        "event_id string, props string, attrs string")
    suite = ConstraintSuite(TableSpec(columns={
        "props": {"kind": "json", "schema": props},
        "attrs": {"kind": "json", "schema": attrs},
    }), key="event_id")
    return suite, df


def test_json_columns_parse_once_without_python(spark):
    """``kind: json`` columns of the props class (typed numbers, a string
    enum, a number array) and the attrs class (closed root, an array of
    strings, an optional number) stay on the native path: no Python eval
    operator, no whole-column ``parse_json``/``try_parse_json``, and the
    counts plan — which evaluates each predicate once — holds exactly one
    ``from_json`` per JSON column."""
    suite, df = _json_suite(spark)
    res = suite.run(df)
    counts = suite.verdict_counts(df)
    for out in (res.violations, res.verdicts, counts):
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert "ArrowEvalPython" not in plan
        assert "BatchEvalPython" not in plan
        # the executed plan prints (try_)parse_json as a parseJson invoke
        assert not re.search(r"parse_json\(|parseJson", plan)
    plan = counts._jdf.queryExecution().executedPlan().toString()
    for col in ("props", "attrs"):
        assert len(re.findall(rf"from_json\([^#]*?, {col}#\d+", plan)) == 1
    assert counts.first()["fail_by_constraint"] == {"props.json": 1,
                                                    "attrs.json": 1}
