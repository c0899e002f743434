"""Round-4 fixes: pair-list single evaluation in duplicate_clusters,
integer-exact pack arithmetic, ANN recall-floor oracle."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F, types as T


# -- duplicate_clusters: the pair plan must evaluate ONCE --------------------
#
# VERDICT r3 weak #1: auto mode ran pairs.count() (evaluation #1) and the
# chosen engine then recomputed the same plan from scratch (collect, or
# ids+edges) — 2-3 evaluations of what is typically the expensive LSH
# candidate self-join.  The accumulator-ticking UDF below counts actual
# row evaluations of the pair plan, so the assertion measures the fix
# directly instead of inspecting plan strings.

def _ticking_pairs(spark, n):
    acc = spark.sparkContext.accumulator(0)

    @F.udf(T.LongType())
    def tick(x):
        acc.add(1)
        return x

    pairs = spark.range(n).select(
        tick(F.col("id")).alias("a"), (F.col("id") + 1).alias("b"))
    return pairs, acc


def test_duplicate_clusters_auto_local_single_eval(spark):
    from go_jsonschema_spark.operators.dedup import duplicate_clusters

    pairs, acc = _ticking_pairs(spark, 40)
    stats = {}
    out = duplicate_clusters(pairs, stats_out=stats)
    rows = {r["id"]: r["cluster"] for r in out.collect()}
    assert stats["algorithm"] == "local"
    assert len(rows) == 41 and set(rows.values()) == {0}  # one chain
    assert acc.value == 40  # count + collect both read the checkpoint


def test_duplicate_clusters_auto_star_single_eval(spark):
    from go_jsonschema_spark.operators.dedup import duplicate_clusters

    pairs, acc = _ticking_pairs(spark, 40)
    stats = {}
    out = duplicate_clusters(
        pairs, star_threshold=1, stats_out=stats)
    rows = {r["id"]: r["cluster"] for r in out.collect()}
    assert stats["algorithm"] == "star"
    assert len(rows) == 41 and set(rows.values()) == {0}
    # count + ids + edges (+ every star round) all read the one checkpoint
    assert acc.value == 40
    # and the returned plan is cut at the checkpoint: the upstream pair
    # plan (incl. its Python UDF) appears nowhere downstream
    plan = out._jdf.queryExecution().optimizedPlan().toString()
    assert "pythonUDF" not in plan and "BatchEvalPython" not in plan


# -- pack_chunks: integer div stays exact past 2^53 --------------------------

def test_pack_chunks_exact_past_double_precision(spark):
    from go_jsonschema_spark.operators.packing import pack_chunks

    # 2^53 + 2047 rounds UP to 2^53 + 2048 as a double, so the old
    # floor(start / budget) crossed into the next pack while the (exact
    # long) offset stayed put — grid internally inconsistent (ADVICE r3)
    big = (1 << 53) + 2047
    df = spark.createDataFrame(
        [("a", "s", big), ("b", "s", 10)],
        "doc_id string, source string, n_tok long")
    out = {r["doc_id"]: r for r in pack_chunks(
        df, budget=2048, group_col="source").collect()}
    assert out["a"]["pack_id"] == 0 and out["a"]["pack_offset"] == 0
    assert out["b"]["pack_id"] == big // 2048
    assert out["b"]["pack_offset"] == big % 2048
    # spans derive from the same integer grid
    assert out["a"]["pack_span"] == (big - 1) // 2048 + 1


# -- pack_greedy: no-straddle greedy packing ---------------------------------

def _greedy_ref(tokens, budget):
    """Reference recurrence (mirrors the docstring + the DuckDB CTE)."""
    out, pack, used = [], 0, 0
    for n in tokens:
        if used + n <= budget:
            out.append((pack, used)); used += n
        elif used == 0:
            out.append((pack, 0)); used = n
        else:
            pack += 1; out.append((pack, 0)); used = n
    return out


def test_pack_greedy_matches_reference(spark):
    import random

    from go_jsonschema_spark.operators.packing import pack_greedy

    rng = random.Random(7)
    rows = [(g, i, rng.choice([0, 1, 5, 40, 90, 100, 101, 250]))
            for g in ("a", "b", "c") for i in range(50)]
    df = spark.createDataFrame(rows, "src string, doc_id int, n_tok long")
    got = {(r["src"], r["doc_id"]): (r["pack_id"], r["pack_offset"])
           for r in pack_greedy(df, budget=100, key="doc_id",
                                group_col="src").collect()}
    for g in ("a", "b", "c"):
        toks = [n for (s, _i, n) in rows if s == g]
        want = _greedy_ref(toks, 100)
        for i, w in enumerate(want):
            assert got[(g, i)] == w, (g, i, got[(g, i)], w)


def test_pack_greedy_properties(spark):
    """No doc straddles; every non-oversize pack's fill <= budget; packs
    are maximal (the first doc of pack p+1 would not have fit in p)."""
    import random

    from go_jsonschema_spark.operators.packing import pack_greedy

    rng = random.Random(11)
    rows = [(i, "s", rng.randint(0, 130)) for i in range(300)]
    df = spark.createDataFrame(rows, "doc_id int, source string, n_tok long")
    out = sorted(
        pack_greedy(df, budget=100, key="doc_id",
                    group_col="source").collect(),
        key=lambda r: r["doc_id"])
    by_pack = {}
    for r in out:
        by_pack.setdefault(r["pack_id"], []).append(r)
    for p, docs in by_pack.items():
        fill = sum(d["n_tok"] for d in docs)
        if not any(d["n_tok"] > 100 for d in docs):
            assert fill <= 100, (p, fill)
        # offsets are the running fill
        run = 0
        for d in docs:
            assert d["pack_offset"] == run
            run += d["n_tok"]
        if p + 1 in by_pack:
            nxt = by_pack[p + 1][0]["n_tok"]
            assert fill + nxt > 100, (p, fill, nxt)  # maximality


def test_pack_greedy_whole_table_single_group(spark):
    from go_jsonschema_spark.operators.packing import pack_greedy

    df = spark.createDataFrame(
        [(0, "s", 60), (1, "s", 30), (2, "s", 60)],
        "doc_id int, source string, n_tok long")
    packed = pack_greedy(df, budget=100, group_col="source")
    out = {r["doc_id"]: (r["pack_id"], r["pack_offset"])
           for r in packed.collect()}
    assert out == {0: (0, 0), 1: (0, 60), 2: (1, 0)}
    assert packed.columns == [*df.columns, "pack_id", "pack_offset"]


# -- non_null_elements storage contract --------------------------------------

def test_non_null_elements_contract(spark):
    """The declared storage contract elides the per-element null scan
    (~half the flagship predicate pass): WITHOUT it a null token is a
    violation; WITH it the scan is provably-vacuous-by-contract and
    skipped — trusting a wrong contract is the documented tradeoff."""
    import go_jsonschema_spark as gjs

    df = spark.createDataFrame(
        [(0, [1, 2]), (1, [1, None])],
        "doc_id int, tokens array<int>")
    spec = gjs.TableSpec(columns={"tokens": {
        "type": "array",
        "items": {"type": "integer", "minimum": 0}}})
    flagged = (gjs.ConstraintSuite(spec, key="doc_id")
               .run(df).violations.collect())
    assert {r["doc_id"] for r in flagged} == {"1"}
    elided = (gjs.ConstraintSuite(spec, key="doc_id",
                                  non_null_elements=("tokens",))
              .run(df).violations.collect())
    assert elided == []


# -- Gopher quality metrics --------------------------------------------------

def test_gopher_metrics(spark):
    from go_jsonschema_spark.functions.text import gopher_metrics

    df = spark.createDataFrame(
        [(0, "the quick brown fox jumps over the lazy dog today ok"),
         (1, "spam spam spam spam spam spam spam spam"),
         (2, "a b a b a b a b a b"),
         (3, "!! ?? ## $$ %% ^^"),
         (4, ""), (5, None)],
        "doc_id int, text string")
    m = gopher_metrics(F.col("text"))
    out = {r["doc_id"]: r for r in df.select(
        "doc_id", *[m[k].alias(k) for k in
                    ("n_words", "frac_dup_2gram", "top_word_frac",
                     "symbol_word_frac", "mean_word_len", "keep")]
    ).collect()}
    ok = out[0]
    assert ok["n_words"] == 11 and ok["keep"] is True
    assert ok["top_word_frac"] == round(2 / 11, 6)  # "the" twice
    spam = out[1]
    assert spam["top_word_frac"] == 1.0
    assert spam["frac_dup_2gram"] == round(1 - 1 / 7, 6)
    assert spam["keep"] is False
    ab = out[2]
    assert ab["frac_dup_2gram"] == round(1 - 2 / 9, 6)
    assert ab["keep"] is False
    sym = out[3]
    assert sym["symbol_word_frac"] == 1.0 and sym["keep"] is False
    assert out[4]["n_words"] == 0 and out[4]["keep"] is False


# -- PII redaction -----------------------------------------------------------

def test_redact_pii(spark):
    from go_jsonschema_spark.functions.redact import redact_pii

    df = spark.createDataFrame(
        [(0, "mail a.b+c@ex-1.org or b@c.io, host 10.0.0.1, "
              "call 555-867-5309 or +1-555.867.5309"),
         (1, "no pii here, just 1.2 numbers and v1.2.3.4.5 dots"),
         (2, None)],
        "doc_id int, text string")
    cols = redact_pii(F.col("text"))
    out = {r["doc_id"]: r for r in df.select(
        "doc_id", cols["text"].alias("text_redacted"),
        *[cols[k].alias(k) for k in ("n_email", "n_ipv4", "n_phone")],
    ).collect()}
    r0 = out[0]
    assert (r0["n_email"], r0["n_ipv4"], r0["n_phone"]) == (2, 1, 2)
    assert r0["text_redacted"] == (
        "mail <EMAIL> or <EMAIL>, host <IP>, call <PHONE> or <PHONE>")
    r1 = out[1]
    # "v1.2.3.4.5": leftmost \b start is at the "2" → "2.3.4.5" redacts
    # (over-redaction by design; a scrubber over-redacts rather than leaks)
    assert (r1["n_email"], r1["n_ipv4"], r1["n_phone"]) == (0, 1, 0)
    assert r1["text_redacted"].endswith("v1.<IP> dots")
    assert out[2]["text_redacted"] is None


# -- ANN recall floor: a quality collapse must flip the oracle red -----------

def test_ann_recall_floor_flips_red(spark):
    """VERDICT r3 item 2: the approximate-ANN oracle gates the whole
    result on recall@10 >= 0.8 vs DuckDB's own brute force.  Snapshotting
    the WORST 10 cosines (correct values, catastrophic recall) must yield
    0 oracle rows; the true top-10 must yield 10."""
    import duckdb

    import __spark_entry__ as entry
    from go_jsonschema_spark.operators.ann import cosine_to

    sf = "/root/testdata/sf0.001"
    e = spark.read.parquet(f"{sf}/embeddings.parquet")
    qv = [float(x)
          for x in e.filter(F.col("vec_id") == 0).first()["embedding"]]
    cos = e.select(
        "vec_id",
        F.round(cosine_to(F.col("embedding"), qv), 6).alias("cosine"),
    )
    con = duckdb.connect()
    con.execute(f"CREATE VIEW embeddings AS "
                f"SELECT * FROM '{sf}/embeddings.parquet'")
    for kind, asc, want in (("recallbad", True, 0), ("recallok", False, 10)):
        snap = (cos.orderBy(F.col("cosine").asc() if asc
                            else F.col("cosine").desc(), "vec_id")
                .limit(10))
        snap.write.mode("overwrite").parquet(entry._ann_snapshot_path(kind))
        got = con.execute(entry._ann_approx_oracle(kind)).fetchall()
        assert len(got) == want, (kind, got)


def test_pack_greedy_null_tokens(spark):
    from go_jsonschema_spark.operators.packing import pack_greedy

    df = spark.createDataFrame(
        [(0, "s", 60), (1, "s", None), (2, "s", 50)],
        "doc_id int, source string, n_tok long")
    out = {r["doc_id"]: (r["pack_id"], r["pack_offset"])
           for r in pack_greedy(df, budget=100, group_col="source").collect()}
    # null packs as a 0-length doc: stays in pack 0 at offset 60
    assert out == {0: (0, 0), 1: (0, 60), 2: (1, 0)}


def test_chunk_grid(spark):
    from go_jsonschema_spark.operators.packing import chunk_grid

    df = spark.createDataFrame(
        [(0, 100), (1, 64), (2, 65), (3, 10), (4, 0)],
        "doc_id int, n_tok long")
    out = {}
    for r in chunk_grid(df, size=64, stride=48).collect():
        out.setdefault(r["doc_id"], []).append(
            (r["chunk_id"], r["chunk_start"], r["chunk_end"]))
    assert out[0] == [(0, 0, 64), (1, 48, 100)]
    assert out[1] == [(0, 0, 64)]
    assert out[2] == [(0, 0, 64), (1, 48, 65)]
    assert out[3] == [(0, 0, 10)]
    assert 4 not in out  # empty docs yield no chunks (not a [0,-1] seq)
    # every token covered; ends monotone
    for d, chunks in out.items():
        assert chunks[-1][2] == {0: 100, 1: 64, 2: 65, 3: 10}[d]


def test_zero_stride_and_top_k_rejected(spark):
    """0 is a value, not "unset": a zero chunk stride or fusion top_k
    raises."""
    from go_jsonschema_spark.operators.corpus import rrf_fuse
    from go_jsonschema_spark.operators.packing import chunk_grid

    df = spark.createDataFrame([(0, 100)], "doc_id int, n_tok long")
    with pytest.raises(ValueError, match="stride"):
        chunk_grid(df, size=64, stride=0)
    ranked = spark.createDataFrame([(1, 1), (2, 2)], "id long, rank long")
    with pytest.raises(ValueError, match="top_k"):
        rrf_fuse([ranked], ["id"], top_k=0)


def test_cap_per_group(spark):
    from go_jsonschema_spark.operators.sampling import cap_per_group

    rows = [(i, "big" if i < 80 else "small") for i in range(100)]
    df = spark.createDataFrame(rows, "doc_id int, source string")
    out = cap_per_group(df, "source", 30, key="doc_id").collect()
    by = {}
    for r in out:
        by.setdefault(r["source"], set()).add(r["doc_id"])
    assert len(by["big"]) == 30        # capped
    assert len(by["small"]) == 20      # under cap: untouched
    # determinism: same input, same kept set
    again = {r["doc_id"] for r in
             cap_per_group(df, "source", 30, key="doc_id").collect()
             if r["source"] == "big"}
    assert again == by["big"]
