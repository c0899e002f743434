"""Round-5 fixes (ADVICE r4): cosine_pairs_exact edge inputs, streaming
await timeout surfaced, bench round-file numbering, curate gopher
single-aggregation drop count."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F


# -- cosine_pairs_exact: empty input and null vectors (ADVICE r4) -----------

def test_cosine_pairs_exact_empty_input(spark):
    from go_jsonschema_spark.operators.dedup import cosine_pairs_exact

    empty = spark.createDataFrame([], "vec_id long, embedding array<double>")
    out = cosine_pairs_exact(empty)
    assert out.count() == 0
    assert [f.name for f in out.schema.fields] == ["a", "b", "cosine"]


@pytest.mark.parametrize("rows", [
    [(1, [1.0, 0.0]), (2, None)],          # null vector
    [(1, [1.0, 0.0]), (2, [None, 1.0])],   # null element
])
def test_cosine_pairs_exact_null_vectors_raise(spark, rows):
    from go_jsonschema_spark.operators.dedup import cosine_pairs_exact

    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    with pytest.raises(ValueError, match="null"):
        cosine_pairs_exact(df)


def test_cosine_pairs_exact_still_correct(spark):
    from go_jsonschema_spark.operators.dedup import cosine_pairs_exact

    df = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, [1.0, 0.0]), (3, [0.0, 1.0])],
        "vec_id long, embedding array<double>")
    got = {(r["a"], r["b"]): r["cosine"]
           for r in cosine_pairs_exact(df, threshold=0.9).collect()}
    assert got == {(1, 2): 1.0}


# -- bench round-file numbering (ADVICE r4) ---------------------------------

def test_next_round_file_numbers_off_both_sources(tmp_path, monkeypatch):
    import bench

    repo = tmp_path
    (repo / "BENCH").mkdir()
    monkeypatch.setattr(bench, "REPO", str(repo))
    # no markers at all -> r01
    assert bench._next_round_file().endswith("r01.json")
    # root marker only
    (repo / "BENCH_r03.json").write_text("{}")
    assert bench._next_round_file().endswith("r04.json")
    # bench.py's own artifact is AHEAD of the root marker (driver forgot
    # to write one): numbering must follow the artifact, never clobber
    (repo / "BENCH" / "r05.json").write_text("{}")
    assert bench._next_round_file().endswith("r06.json")


# -- probe-gated per-query timing (VERDICT r4 item 1) -----------------------

# -- batch-query ANN (VERDICT r4 item 5) ------------------------------------

def _toy_vectors(spark, n=80, dim=8):
    import numpy as np

    rng = np.random.default_rng(7)
    rows = [(i, [float(x) for x in rng.standard_normal(dim)])
            for i in range(n)]
    return spark.createDataFrame(rows, "vec_id long, embedding array<double>")


def test_topk_cosine_many_matches_single_query(spark):
    from go_jsonschema_spark.operators.ann import topk_cosine, topk_cosine_many

    df = _toy_vectors(spark).repartition(4)  # force multi-partition merge
    qs = df.filter(F.col("vec_id") % 20 == 0)
    got = {(r["query_id"], r["rank"]): (r["vec_id"], r["cosine"])
           for r in topk_cosine_many(df, qs, k=5).collect()}
    assert len(got) == 4 * 5
    for qid in (0, 20, 40, 60):
        qv = [float(x) for x in
              df.filter(F.col("vec_id") == qid).first()["embedding"]]
        for rank, r in enumerate(topk_cosine(df, qv, k=5).collect(), 1):
            assert got[(qid, rank)] == (r["vec_id"], r["cosine"]), (qid, rank)


def test_topk_cosine_many_contracts(spark):
    from go_jsonschema_spark.operators.ann import topk_cosine_many

    df = _toy_vectors(spark, n=10)
    with pytest.raises(ValueError, match="empty query set"):
        topk_cosine_many(df, df.filter(F.col("vec_id") < 0))
    with pytest.raises(ValueError, match="query batch"):
        topk_cosine_many(df, df, max_queries=5)
    nullq = spark.createDataFrame(
        [(1, None)], "vec_id long, embedding array<double>")
    with pytest.raises(ValueError, match="null query vector"):
        topk_cosine_many(df, nullq)


# -- streaming dataset-level uniqueness (VERDICT r4 item 4) -----------------

def test_stream_duplicate_keys_across_microbatches(spark, tmp_path):
    """The running count must ACCUMULATE across micro-batches: key 7
    appears once per file, so only the stateful path (not per-batch
    aggregation) reports it as a duplicate."""
    from go_jsonschema_spark.streaming.validate import stream_duplicate_keys

    src = str(tmp_path / "src")
    # three files; key 7 once in each, key 1 twice in file0, key 2 unique
    spark.createDataFrame([(7,), (1,), (1,), (2,)], "k long") \
        .coalesce(1).write.mode("overwrite").parquet(src + "/f0")
    spark.createDataFrame([(7,), (3,)], "k long") \
        .coalesce(1).write.mode("overwrite").parquet(src + "/f1")
    spark.createDataFrame([(7,), (4,)], "k long") \
        .coalesce(1).write.mode("overwrite").parquet(src + "/f2")

    stream = (spark.readStream.schema("k long")
              .option("maxFilesPerTrigger", "1")
              .parquet(src + "/*"))
    q = (stream_duplicate_keys(stream, "k")
         .writeStream.format("memory").queryName("dupkeys_mb")
         .outputMode("update").trigger(availableNow=True).start())
    assert q.awaitTermination(120)
    final = {r["key"]: r["n_dup"] for r in
             spark.table("dupkeys_mb").groupBy("key")
             .agg(F.max("n_dup").alias("n_dup")).collect()}
    assert final == {7: 3, 1: 2}
    # update mode re-emits key 7 as its count grows across batches
    sevens = sorted(r["n_dup"] for r in
                    spark.table("dupkeys_mb").filter("key = 7").collect())
    assert sevens[-1] == 3 and len(sevens) >= 2
    spark.catalog.dropTempView("dupkeys_mb")


def test_stream_duplicate_keys_matches_batch_operator(spark, tmp_path):
    from go_jsonschema_spark.operators.uniqueness import duplicate_keys
    from go_jsonschema_spark.streaming.validate import stream_duplicate_keys

    src = str(tmp_path / "one")
    df = spark.range(0, 200).select((F.col("id") % 60).alias("k"))
    df.write.mode("overwrite").parquet(src)
    stream = spark.readStream.schema("k bigint").parquet(src)
    q = (stream_duplicate_keys(stream, "k")
         .writeStream.format("memory").queryName("dupkeys_one")
         .outputMode("update").trigger(availableNow=True).start())
    assert q.awaitTermination(120)
    got = {r["key"]: r["n_dup"] for r in
           spark.table("dupkeys_one").groupBy("key")
           .agg(F.max("n_dup").alias("n_dup")).collect()}
    want = {r["key"]: r["n_dup"]
            for r in duplicate_keys(spark.read.parquet(src), "k").collect()}
    assert got == want and len(want) == 60
    spark.catalog.dropTempView("dupkeys_one")


def test_probed_runs_discards_polluted_attempts():
    import bench

    # attempt 1's closing probe is noisy (pollutes the slow outlier);
    # every later probe is quiet — only the outlier is discarded
    probes = iter([0.1, 9.9, 0.1, 0.1, 0.1, 0.1, 0.1, 0.1])
    runs = iter([50.0, 1.0, 1.1, 1.2])
    best, attempts, pr, discarded, noisy = bench._probed_runs(
        lambda: next(runs), probe=lambda: next(probes), quiet=1.65)
    assert discarded == 1
    assert best == [1.0, 1.1, 1.2]
    assert 50.0 not in attempts
    assert not noisy


def test_unicode_class_routing_divergence(spark):
    """VERDICT r4 item 3: `^\\w+$` compiles in BOTH dialects but Java
    evaluates `\\w` ASCII-only while the reference rewrites it to a
    Unicode class (helpers.go:69-86).  Pin the documented split on
    non-ASCII input: the typed path follows Java, the judge Python."""
    from go_jsonschema_spark.compile import _arrow_judge
    from go_jsonschema_spark.functions import regex as rx

    df = spark.createDataFrame([("café",), ("abc",), ("straße",)],
                               "s string")
    pat = r"^\w+$"

    def run(col):
        return {r["s"]: r["m"]
                for r in df.select("s", col.alias("m")).collect()}

    # typed path: native rlike, Java ASCII-only \w — non-ASCII rejected
    assert run(rx.ecma_pattern_predicate(F.col("s"), pat)) == {
        "café": False, "abc": True, "straße": False}
    # the judge's Python shim is Unicode-aware, like the reference's
    # converted pattern
    assert run(_arrow_judge({"pattern": pat}, typed=True)(F.col("s"))) == {
        "café": True, "abc": True, "straße": True}


def test_unicode_routing_plain_patterns_stay_native(spark):
    """Patterns Java accepts — dialect classes included — stay on the
    rlike fast path: the compiled plan contains no pythonUDF."""
    from go_jsonschema_spark.functions import regex as rx

    df = spark.createDataFrame([("abc",)], "s string")
    for pat in (r"^[a-z]+$", r"^\w+$"):
        plan = df.filter(
            rx.ecma_pattern_predicate(F.col("s"), pat))._jdf \
            .queryExecution().executedPlan().toString()
        assert "pythonUDF" not in plan and "ArrowEvalPython" not in plan


def test_probed_runs_spread_gate_tops_up():
    import bench

    # all probes quiet, but one attempt is a 10x outlier -> spread gate
    # keeps sampling until the best-3 window is tight
    runs = iter([10.0, 1.0, 1.1, 1.05, 1.2])
    best, attempts, pr, discarded, noisy = bench._probed_runs(
        lambda: next(runs), probe=lambda: 0.1, quiet=1.65)
    assert best == [1.0, 1.05, 1.1]
    assert 10.0 in attempts  # nothing hidden
    assert not noisy


# -- streaming drift (r5): stream_histogram + psi_per_window ----------------

def test_psi_per_window_matches_driver_psi(spark):
    """The native per-window PSI must equal drift.psi() run per window on
    the same histograms (same union-of-buckets alignment + eps clamps)."""
    from go_jsonschema_spark.operators.drift import psi, psi_per_window

    hist = spark.createDataFrame(
        [("w1", 0, 50), ("w1", 1, 50),
         ("w2", 1, 10), ("w2", 2, 90),
         ("w3", 5, 7)],                      # bucket 5 absent from baseline
        "window_start string, bucket long, count long")
    base = spark.createDataFrame(
        [(0, 100), (1, 100), (2, 100)], "bucket long, count long")
    got = {r["window_start"]: (r["n_rows"], r["psi"])
           for r in psi_per_window(hist, base).collect()}
    base_d = {0: 100, 1: 100, 2: 100}
    cur_d = {"w1": {0: 50, 1: 50}, "w2": {1: 10, 2: 90}, "w3": {5: 7}}
    for w, cur in cur_d.items():
        n, p = got[w]
        assert n == sum(cur.values())
        assert p == pytest.approx(psi(cur, base_d), rel=1e-9), w


def test_stream_histogram_matches_batch_across_microbatches(spark, tmp_path):
    from go_jsonschema_spark.operators.drift import histogram
    from go_jsonschema_spark.streaming.validate import stream_histogram

    src = str(tmp_path / "ev")
    rows = [(i, f"2024-01-01 0{i % 3}:15:00", float(10 * i))
            for i in range(30)]
    df = spark.createDataFrame(rows, "id long, ts string, value double") \
        .withColumn("ts", F.col("ts").cast("timestamp"))
    df.coalesce(2).write.mode("overwrite").parquet(src)

    stream = (spark.readStream.schema(df.schema)
              .option("maxFilesPerTrigger", "1").parquet(src))
    q = (stream_histogram(stream, "value", ts_col="ts", window="1 hour",
                          bucket_width=50.0)
         .writeStream.format("memory").queryName("hist_mb")
         .outputMode("complete").trigger(availableNow=True).start())
    assert q.awaitTermination(120)
    got = {(str(r["window"]["start"]), r["bucket"]): r["count"]
           for r in spark.table("hist_mb").collect()}
    want = {}
    for r in (df.groupBy(F.window("ts", "1 hour").alias("window"),
                         F.floor(F.col("value") / 50.0).alias("bucket"))
              .count().collect()):
        want[(str(r["window"]["start"]), r["bucket"])] = r["count"]
    assert got == want and len(want) >= 3
    spark.catalog.dropTempView("hist_mb")


# -- semantic (embedding-space) decontamination (r5) ------------------------

def test_semantic_contamination_flags_planted_neighbors(spark):
    from go_jsonschema_spark.operators.decontam import semantic_contamination

    probes = spark.createDataFrame(
        [(100, [1.0, 0.0, 0.0]), (200, [0.0, 1.0, 0.0])],
        "vec_id long, embedding array<double>")
    corpus = spark.createDataFrame(
        [(1, [0.9, 0.1, 0.0]),      # near probe 100
         (2, [0.0, 2.0, 0.1]),      # near probe 200 (unnormalized)
         (3, [0.0, 0.0, 1.0]),      # orthogonal to both
         (4, [1.0, 1.0, 0.0])],     # cos ~0.707 to BOTH -> tie, keep 100
        "vec_id long, embedding array<double>")
    got = {r["vec_id"]: (r["top_probe"], r["cosine"])
           for r in semantic_contamination(
               corpus, probes, threshold=0.7).collect()}
    assert set(got) == {1, 2, 4}
    assert got[1][0] == 100 and got[2][0] == 200
    assert got[4][0] == 100          # tie broken toward smallest probe id
    assert got[1][1] > 0.99 and got[2][1] > 0.99


# -- spec inference (r5): profile -> TableSpec -> validate clean ------------

def test_inferred_spec_validates_golden_table_clean(spark):
    from go_jsonschema_spark.engine import ConstraintSuite
    from go_jsonschema_spark.infer import infer_table_spec

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    spec, prof = infer_table_spec(docs, key_hint="doc_id")
    # enum inferred for lang (low cardinality), bounds for the integers
    assert "enum" in spec.columns["lang"]
    assert spec.columns["doc_id"]["type"] == "integer"
    assert {"kind": "unique", "columns": ["doc_id"], "id": "unique:doc_id"} \
        in spec.table_checks
    res = ConstraintSuite(spec, key="doc_id").run(docs)
    assert res.violations.count() == 0  # golden table validates clean


def test_inferred_spec_on_arrays_and_catches_drift(spark):
    from go_jsonschema_spark.engine import ConstraintSuite
    from go_jsonschema_spark.infer import infer_table_spec
    from go_jsonschema_spark.sources import synth

    seq = synth.sequences(spark, 500)
    spec, _ = infer_table_spec(seq, columns=["doc_id", "n_tok", "tokens"],
                               key_hint="doc_id")
    s = spec.columns["tokens"]
    assert s["type"] == "array" and "items" in s
    assert s["items"]["minimum"] >= 0
    suite = ConstraintSuite(spec, key="doc_id")
    assert suite.run(seq).violations.count() == 0
    # a delivery drifting out of the inferred envelope is caught
    bad = spark.createDataFrame(
        [("zz-1", int(s["maxItems"]) + 5,
          [int(s["items"]["maximum"]) + 1] * (int(s["maxItems"]) + 5))],
        "doc_id string, n_tok long, tokens array<long>")
    drifted = seq.select("doc_id", "n_tok", "tokens").unionByName(
        bad.select("doc_id",
                   F.col("n_tok").cast("int").alias("n_tok"),
                   F.col("tokens").cast("array<int>").alias("tokens")))
    assert suite.run(drifted).violations.count() > 0


def test_profile_table_handles_nulls_and_enum_nulls(spark):
    from go_jsonschema_spark.infer import infer_table_spec, profile_table

    df = spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, None), (4, "a")],
        "id long, cat string")
    prof = {r["column"]: r for r in profile_table(df).collect()}
    assert prof["cat"]["n_null"] == 1 and prof["cat"]["n_distinct"] == 2
    assert prof["cat"]["enum_csv"] == "a,b"
    spec, _ = infer_table_spec(df)
    # observed nulls join the enum so the golden table stays clean
    assert spec.columns["cat"]["enum"] == ["a", "b", None]
    from go_jsonschema_spark.engine import ConstraintSuite

    assert ConstraintSuite(spec, key="id").run(df).violations.count() == 0


# -- binned range join (r5) -------------------------------------------------

def test_range_join_matches_naive_between(spark):
    from go_jsonschema_spark.operators.asof import range_join

    pts = spark.createDataFrame(
        [(i, float(i)) for i in range(50)], "pid long, x double")
    ivs = spark.createDataFrame(
        [(100, 3.0, 9.0), (200, 9.0, 9.0),      # point-sized interval
         (300, 40.0, 80.0), (400, -5.0, 2.0)],  # spans past the data
        "iid long, lo double, hi double")
    got = {(r["pid"], r["iid"]) for r in range_join(
        pts, ivs, left_point="x", right_start="lo", right_end="hi",
        bin_width=5.0).collect()}
    want = {(r["pid"], r["iid"]) for r in pts.crossJoin(ivs).filter(
        (F.col("x") >= F.col("lo")) & (F.col("x") <= F.col("hi"))).collect()}
    assert got == want and len(want) > 20
    # boundary inclusivity both ends
    assert (9, 100) in got and (3, 100) in got and (9, 200) in got


def test_range_join_negative_coords(spark):
    """floor-based binning must stay correct below zero (floor division,
    not truncation)."""
    from go_jsonschema_spark.operators.asof import range_join

    pts = spark.createDataFrame(
        [(1, -7.0), (2, -0.5), (3, 0.5)], "pid long, x double")
    ivs = spark.createDataFrame(
        [(9, -8.0, -6.0), (8, -1.0, 1.0)], "iid long, lo double, hi double")
    got = {(r["pid"], r["iid"]) for r in range_join(
        pts, ivs, left_point="x", right_start="lo", right_end="hi",
        bin_width=3.0).collect()}
    assert got == {(1, 9), (2, 8), (3, 8)}


# -- diversity (cluster-balanced) sampling (r5) -----------------------------

def test_diversity_sample_caps_cells_and_is_order_independent(spark):
    from go_jsonschema_spark.operators.sampling import diversity_sample

    df = _toy_vectors(spark, n=200, dim=8)
    out = diversity_sample(df, 10, n_clusters=4).select("vec_id", "cell")
    per_cell = {r["cell"]: r["n"] for r in
                out.groupBy("cell").agg(F.count(F.lit(1)).alias("n")).collect()}
    assert per_cell and all(n <= 10 for n in per_cell.values())
    # reproducible: same kept set regardless of partitioning/input order
    shuffled = df.repartition(7).sortWithinPartitions(F.col("vec_id").desc())
    out2 = diversity_sample(shuffled, 10, n_clusters=4).select("vec_id", "cell")
    assert {tuple(r) for r in out.collect()} == {tuple(r) for r in out2.collect()}


def test_diversity_sample_passes_small_cells_through(spark):
    from go_jsonschema_spark.operators.sampling import diversity_sample

    df = _toy_vectors(spark, n=30, dim=8)
    out = diversity_sample(df, 1000, n_clusters=4)
    assert out.count() == 30  # cap above every cell size keeps everything


# -- curation filters are stream-capable (r5) -------------------------------

def test_contamination_filters_run_on_streams(spark, tmp_path):
    """Both decontamination forms are STATELESS plans (literal-array
    intersect; closure-broadcast matmul in mapInPandas), so the same
    operators run unchanged over readStream — streaming curation needs
    no new code.  AvailableNow stream output must equal the batch run."""
    from go_jsonschema_spark.operators.decontam import (
        contamination_hits, semantic_contamination)

    src = str(tmp_path / "docs")
    docs = spark.createDataFrame(
        [(1, "the quick brown fox jumps over the lazy dog today"),
         (2, "completely unrelated text with no overlap at all here"),
         (3, "quick brown fox jumps over the lazy dog again and again")],
        "doc_id long, text string")
    docs.write.mode("overwrite").parquet(src)
    probes = spark.createDataFrame(
        [(9, "the quick brown fox jumps over the lazy dog")],
        "doc_id long, text string")

    batch = {r["doc_id"]: r["n_hits"] for r in contamination_hits(
        spark.read.parquet(src), probes, n=8).collect()}
    stream = spark.readStream.schema(docs.schema).parquet(src)
    q = (contamination_hits(stream, probes, n=8)
         .writeStream.format("memory").queryName("contam_stream")
         .outputMode("append").trigger(availableNow=True).start())
    assert q.awaitTermination(120)
    streamed = {r["doc_id"]: r["n_hits"]
                for r in spark.table("contam_stream").collect()}
    assert streamed == batch and batch  # non-empty and identical
    spark.catalog.dropTempView("contam_stream")

    vsrc = str(tmp_path / "vecs")
    corpus = spark.createDataFrame(
        [(1, [0.9, 0.1]), (2, [0.0, 1.0])], "vec_id long, embedding array<double>")
    corpus.write.mode("overwrite").parquet(vsrc)
    vprobes = spark.createDataFrame(
        [(7, [1.0, 0.0])], "vec_id long, embedding array<double>")
    vbatch = {r["vec_id"] for r in semantic_contamination(
        spark.read.parquet(vsrc), vprobes, threshold=0.8).collect()}
    vstream = spark.readStream.schema(corpus.schema).parquet(vsrc)
    q2 = (semantic_contamination(vstream, vprobes, threshold=0.8)
          .writeStream.format("memory").queryName("sem_stream")
          .outputMode("append").trigger(availableNow=True).start())
    assert q2.awaitTermination(120)
    vstreamed = {r["vec_id"] for r in spark.table("sem_stream").collect()}
    assert vstreamed == vbatch == {1}
    spark.catalog.dropTempView("sem_stream")


# -- duplicate n-gram char metrics (r5) -------------------------------------

def test_dup_ngram_metrics_hand_computed(spark):
    from go_jsonschema_spark.functions.text import dup_ngram_metrics

    # "a b c a b c a b" -> 3-grams: [abc, bca, cab, abc, bca, cab] with
    # counts {abc:2, bca:2, cab:2} -> every gram duplicated
    df = spark.createDataFrame(
        [(1, "a b c a b c a b"),
         (2, "x y z w"),          # 2 grams, both unique
         (3, "one two")],         # < 3 words -> zero grams
        "doc_id long, text string")
    m = dup_ngram_metrics(F.col("text"), 3)
    rows = {r["doc_id"]: r for r in df.select(
        "doc_id", m["n_grams"].alias("n"),
        m["dup_gram_frac"].alias("dg"),
        m["dup_char_frac"].alias("dc")).collect()}
    assert rows[1]["n"] == 6
    assert rows[1]["dg"] == pytest.approx(0.5)       # 3 distinct of 6
    assert rows[1]["dc"] == pytest.approx(1.0)       # all chars in dups
    assert rows[2]["n"] == 2 and rows[2]["dg"] == 0.0 and rows[2]["dc"] == 0.0
    assert rows[3]["n"] == 0


# -- dense-grid resampling with gap fill (r5) -------------------------------

def test_resample_fills_gaps_all_policies(spark):
    from go_jsonschema_spark.operators.timeseries import resample

    rows = [("2024-01-01 00:10:00", 10.0), ("2024-01-01 00:40:00", 30.0),
            # hours 01 and 02 empty
            ("2024-01-01 03:05:00", 50.0)]
    df = spark.createDataFrame(rows, "ts string, v double") \
        .withColumn("ts", F.col("ts").cast("timestamp"))
    out = {str(r["bucket_ts"]): r for r in resample(
        df, ts_col="ts", step_seconds=3600,
        aggs={"n": (F.count(F.lit(1)), "zero"),
              "avg_ff": (F.avg("v"), "prev"),
              "avg_lin": (F.avg("v"), "linear"),
              "avg_raw": (F.avg("v"), "null")},
    ).collect()}
    assert len(out) == 4  # dense: hours 00..03 all present
    h0, h1, h2, h3 = (out[f"2024-01-01 0{i}:00:00"] for i in range(4))
    assert (h0["n"], h1["n"], h2["n"], h3["n"]) == (2, 0, 0, 1)
    assert h1["avg_raw"] is None and h2["avg_raw"] is None  # hole visible
    assert h1["avg_ff"] == h2["avg_ff"] == 20.0             # forward fill
    # linear between 20.0@00 and 50.0@03 -> 30@01, 40@02
    assert h1["avg_lin"] == pytest.approx(30.0)
    assert h2["avg_lin"] == pytest.approx(40.0)
    assert h3["avg_lin"] == 50.0


def test_resample_empty_input(spark):
    from go_jsonschema_spark.operators.timeseries import resample

    df = spark.createDataFrame([], "ts timestamp, v double")
    out = resample(df, ts_col="ts", step_seconds=60,
                   aggs={"n": (F.count(F.lit(1)), "zero")})
    assert out.count() == 0
    with pytest.raises(ValueError, match="unknown fill"):
        resample(df, ts_col="ts", step_seconds=60,
                 aggs={"n": (F.count(F.lit(1)), "bogus")})


# -- CDC compaction: latest per key (r5) ------------------------------------

def test_compact_latest_semantics(spark):
    from go_jsonschema_spark.operators.uniqueness import compact_latest

    rows = [(1, "2024-01-01 00:00:00", "old"),
            (1, "2024-01-02 00:00:00", "new"),
            (2, "2024-01-01 00:00:00", "only"),
            (3, None, "null-ts"),
            (3, "2024-01-01 00:00:00", "ts-wins")]
    df = spark.createDataFrame(rows, "k long, ts string, v string") \
        .withColumn("ts", F.col("ts").cast("timestamp"))
    got = {r["k"]: r["v"] for r in compact_latest(df, "k", "ts").collect()}
    assert got == {1: "new", 2: "only", 3: "ts-wins"}
    # output preserves input column order
    assert compact_latest(df, "k", "ts").columns == ["k", "ts", "v"]


def test_compact_latest_tie_breaks_by_remaining_columns(spark):
    from go_jsonschema_spark.operators.uniqueness import compact_latest

    rows = [(1, "2024-01-01 00:00:00", 5, "a"),
            (1, "2024-01-01 00:00:00", 9, "b")]   # same ts -> id 9 wins
    df = spark.createDataFrame(rows, "k long, ts string, id long, v string") \
        .withColumn("ts", F.col("ts").cast("timestamp"))
    [r] = compact_latest(df, "k", "ts").collect()
    assert (r["id"], r["v"]) == (9, "b")


def test_compact_latest_single_exchange(spark):
    """ONE aggregation shuffle and no Window operator: the shuffle
    carries one partial max per key per map task (SortAggregate's sort
    is by GROUP KEY for the struct-max buffer — map-side combine still
    collapses hot keys before the exchange), unlike a row_number window
    which ships and sorts every version of every key."""
    from go_jsonschema_spark.operators.uniqueness import compact_latest

    df = spark.range(1000).select(
        (F.col("id") % 10).alias("k"),
        F.timestamp_seconds(F.col("id")).alias("ts"),
        F.col("id").alias("v"))
    import contextlib, io

    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        compact_latest(df, "k", "ts").explain("formatted")
    plan = buf.getvalue()
    assert plan.count("Exchange (") == 1
    assert "Window" not in plan
    # partial (map-side) aggregation present before the exchange
    assert plan.index("SortAggregate") < plan.index("Exchange (")


# -- ordered funnel (r5) ----------------------------------------------------

def test_funnel_hand_cases(spark):
    from go_jsonschema_spark.operators.funnel import funnel_counts, funnel_users

    rows = [
        # u1 completes all three in order, with trailing step events
        # AFTER full completion (the state machine must not walk past
        # the step list — pins element_at bounds safety under ANSI)
        (1, "00:01", "view"), (1, "00:02", "click"), (1, "00:03", "purchase"),
        (1, "00:04", "view"), (1, "00:05", "purchase"),
        # u2: purchase BEFORE click -> depth 1 only... view then purchase
        (2, "00:01", "view"), (2, "00:02", "purchase"),
        # u3: click first, view later, no click after the view -> depth 1
        (3, "00:01", "click"), (3, "00:02", "view"),
        # u4: equal timestamps must NOT chain (strict >)
        (4, "00:01", "view"), (4, "00:01", "click"),
        # u5: no funnel events at all -> depth 0 (excluded from counts)
        (5, "00:01", "error"),
    ]
    df = spark.createDataFrame(
        [(u, f"2024-01-01 {t}:00", e) for u, t, e in rows],
        "user_id long, ts string, event_type string") \
        .withColumn("ts", F.col("ts").cast("timestamp"))
    depths = {r["user_id"]: r["n_steps"] for r in funnel_users(
        df, ["view", "click", "purchase"]).collect()}
    assert depths == {1: 3, 2: 1, 3: 1, 4: 1}  # u5 filtered (no steps)
    counts = {r["step"]: r["n_users"] for r in funnel_counts(
        df, ["view", "click", "purchase"]).collect()}
    assert counts == {"view": 4, "click": 1, "purchase": 1}


def test_funnel_is_native_single_user_shuffle(spark):
    from go_jsonschema_spark.operators.funnel import funnel_users

    df = spark.createDataFrame(
        [(1, "2024-01-01 00:00:00", "view")],
        "user_id long, ts string, event_type string") \
        .withColumn("ts", F.col("ts").cast("timestamp"))
    import contextlib, io

    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        funnel_users(df, ["view", "click"]).explain("formatted")
    plan = buf.getvalue()
    assert "EvalPython" not in plan  # the state machine stays JVM-side


def test_range_join_rejects_overlapping_columns(spark):
    from go_jsonschema_spark.operators.asof import range_join

    a = spark.createDataFrame([(1, 1.0)], "id long, x double")
    b = spark.createDataFrame([(2, 0.0, 5.0)], "id long, lo double, hi double")
    with pytest.raises(ValueError, match="both"):
        range_join(a, b, left_point="x", right_start="lo",
                   right_end="hi", bin_width=5.0)


def test_inferred_enum_values_with_commas_survive(spark):
    """An enum value containing a comma must reach the spec intact —
    only the profile DataFrame's display column is comma-joined."""
    from go_jsonschema_spark.engine import ConstraintSuite
    from go_jsonschema_spark.infer import infer_table_spec

    df = spark.createDataFrame(
        [(1, "a,b"), (2, "c"), (3, "a,b")], "id long, cat string")
    spec, prof = infer_table_spec(df)
    assert spec.columns["cat"]["enum"] == ["a,b", "c"]
    assert ConstraintSuite(spec, key="id").run(df).violations.count() == 0


# -- weighted (importance) sampling (r5) ------------------------------------

def test_weighted_sample_extremes_and_determinism(spark):
    from go_jsonschema_spark.operators.sampling import weighted_sample

    df = spark.range(2000).select(F.col("id").alias("doc_id"))
    # weight 1 keeps everything; weight 0 (and nulls) keep nothing
    assert weighted_sample(df, F.lit(1.0), key="doc_id").count() == 2000
    assert weighted_sample(df, F.lit(0.0), key="doc_id").count() == 0
    assert weighted_sample(
        df, F.lit(None).cast("double"), key="doc_id").count() == 0
    # out-of-range weights clamp instead of misbehaving
    assert weighted_sample(df, F.lit(7.5), key="doc_id").count() == 2000
    # ~half kept at weight 0.5, deterministic across partitionings
    half = weighted_sample(df, F.lit(0.5), key="doc_id")
    n = half.count()
    assert 850 <= n <= 1150
    again = weighted_sample(df.repartition(7), F.lit(0.5), key="doc_id")
    assert {r["doc_id"] for r in half.collect()} == \
        {r["doc_id"] for r in again.collect()}
