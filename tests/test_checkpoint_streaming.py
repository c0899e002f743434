"""Resume-from-checkpoint and streaming-validation tests.

Resume test per SURVEY.md §5.2: kill after batch k, re-run, assert no
recomputation of completed batches and identical final outputs."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from go_jsonschema_spark.checkpoint import CheckpointStore, ResumableValidation
from go_jsonschema_spark.engine import ConstraintSuite
from go_jsonschema_spark.sources import synth


@pytest.fixture()
def suite():
    return ConstraintSuite(synth.sequences_table_spec(), key="doc_id")


def test_resume_skips_completed_batches(spark, suite, tmp_path):
    df = synth.sequences(spark, 2000)
    store = CheckpointStore(str(tmp_path / "ckpt"))
    rv = ResumableValidation(store=store, suite=suite,
                             partition_col="part", batch_size=2)
    dims = {"sources_dim": synth.sources_dim(spark)}

    # simulate a kill: the store dies after committing 2 batches
    parts = sorted(r[0] for r in df.select("part").distinct().collect())
    real_mark = store.mark_complete
    calls = {"n": 0}

    def dying_mark(*a, **kw):
        if calls["n"] >= 2:
            raise RuntimeError("killed")
        calls["n"] += 1
        return real_mark(*a, **kw)

    store.mark_complete = dying_mark
    with pytest.raises(RuntimeError):
        rv.run(df, "run1", str(tmp_path / "out"), dims=dims)
    store.mark_complete = real_mark
    assert len(store.completed("run1")) == 2
    manifests_before = {
        k: m["ts"] for k, m in store.completed("run1").items()
    }

    # resume over the FULL input: the two committed batches must be skipped
    rep2 = rv.run(df, "run1", str(tmp_path / "out"), dims=dims)
    assert rep2.batches_skipped == 2
    assert rep2.batches_run == 3  # 2 remaining row batches + global phase
    # committed manifests untouched (no recomputation)
    after = store.completed("run1")
    for k, ts in manifests_before.items():
        assert after[k]["ts"] == ts

    # final outputs identical to a single-shot run
    resumed = spark.read.parquet(str(tmp_path / "out" / "batch=*"))
    oneshot = suite.run(df, partition_col="part", dims=dims).violations
    assert resumed.exceptAll(oneshot).count() == 0
    assert oneshot.exceptAll(resumed).count() == 0

    # metrics carry full per-partition lineage
    assert set(rep2.partitions) == {str(p) for p in parts}
    assert all("n_rows" in m for m in rep2.partitions.values())


def test_stateful_group_verdicts(spark, tmp_path):
    """Running per-group verdicts are the kernel under a grouping: its
    aggregation over a stream in update mode must converge to the batch
    counts, across several micro-batches."""
    from go_jsonschema_spark.spec import TableSpec

    events = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    src = str(tmp_path / "state_src")
    events.repartition(3).write.mode("overwrite").parquet(src)
    ts = TableSpec(columns={"value": {"type": "number", "maximum": 100}})
    suite = ConstraintSuite(ts, key="event_id")
    stream = (spark.readStream.schema(events.schema)
              .option("maxFilesPerTrigger", 1).parquet(src))
    k = suite.kernel(stream)
    out = k.verdicts(k.project(stream), F.col("event_type"), "group")
    q = (
        out.writeStream.format("memory").queryName("state_out")
        .outputMode("update").trigger(availableNow=True).start()
    )
    q.awaitTermination(120)
    assert len(q.recentProgress) > 1  # several micro-batches, not one
    # the running totals only grow, so the largest update per group is
    # its cumulative total == batch ground truth
    got = {
        r["group"]: (r["n_rows"], r["n_fail"])
        for r in spark.sql(
            "SELECT `group`, max(n_rows) n_rows, max(n_fail) n_fail "
            "FROM state_out GROUP BY `group`").collect()
    }
    want = {
        r["event_type"]: (r["n"], r["f"])
        for r in events.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum((F.col("value") > 100).cast("long")).alias("f"),
        )
        .collect()
    }
    assert got == want


def test_streaming_violations_and_verdicts(spark, tmp_path):
    """Drive the streaming path synchronously with a file source at
    availableNow, memory sink (the guide's smoke pattern)."""
    from go_jsonschema_spark.spec import TableSpec
    from go_jsonschema_spark.streaming.validate import (
        stream_violations,
        windowed_verdicts,
    )

    events = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    src = str(tmp_path / "stream_src")
    events.write.mode("overwrite").parquet(src)

    ts = TableSpec(
        columns={
            "event_type": {
                "type": "string",
                "enum": ["click", "view", "purchase", "signup"],
            },
            "value": {"type": "number", "minimum": 0},
        },
    )
    suite = ConstraintSuite(ts, key="event_id")
    stream = spark.readStream.schema(events.schema).parquet(src)

    viol = stream_violations(suite, stream)
    q = (
        viol.writeStream.format("memory")
        .queryName("viol_out")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = spark.sql(
        "SELECT count(*) n FROM viol_out WHERE constraint_id = 'event_type.enum'"
    ).first()["n"]
    want = events.filter(
        ~F.col("event_type").isin(["click", "view", "purchase", "signup"])
    ).count()
    assert got == want and want > 0

    verd = windowed_verdicts(suite, stream, ts_col="ts", window="1 hour")
    q2 = (
        verd.writeStream.format("memory")
        .queryName("verd_out")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q2.awaitTermination(120)
    row = spark.sql(
        "SELECT sum(n_rows) r, sum(n_fail) f FROM verd_out"
    ).first()
    assert row["r"] == events.count()
    assert row["f"] == want


def test_stream_fk_violations(spark, tmp_path):
    """Stream-static broadcast anti-join: streaming rows missing from the
    static dimension surface as violations, matching the batch check."""
    from go_jsonschema_spark.operators.referential import (
        referential_violations,
    )

    events = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    src = str(tmp_path / "fk_src")
    events.write.mode("overwrite").parquet(src)
    dim = spark.createDataFrame(
        [("click",), ("view",), ("purchase",), ("signup",)], "t string"
    )
    stream = spark.readStream.schema(events.schema).parquet(src)
    out = referential_violations(
        stream, "event_type", dim, "t", key="event_id",
        constraint_id="fk:event_type",
    )
    q = (
        out.writeStream.format("memory").queryName("fk_stream_out")
        .outputMode("append").trigger(availableNow=True).start()
    )
    q.awaitTermination(120)
    got = spark.sql("SELECT count(*) n FROM fk_stream_out").first()["n"]
    want = events.filter(
        ~F.col("event_type").isin("click", "view", "purchase", "signup")
    ).count()
    assert got == want and want > 0
