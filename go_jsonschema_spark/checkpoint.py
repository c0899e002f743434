"""Checkpoint / resume protocol: per-partition lineage + metrics.

North-rule requirement (BASELINE.json): "all state (per-partition stats,
drift baselines, completed-partition watermarks) lives in checkpointed
metadata tables so a killed run resumes per-partition with full lineage +
metrics".

Sandbox implementation: a checkpoint DIRECTORY holding one JSON manifest
per (run_id, batch) written atomically (tmp + rename) plus parquet
violation outputs per batch committed via Spark's own ``_SUCCESS`` marker.
On a cluster the same protocol targets an Iceberg metadata table via
MERGE (the table layer is the only swap — see ``IcebergCheckpointStore``
stub); the resume logic is identical.

Granularity: logical-partition BATCHES.  Running one Spark job per
partition value would serialize the cluster; instead the partition values
are grouped into batches of ``batch_size``, each batch is one job whose
outputs commit atomically, and a killed run re-does at most one batch.
"""

from __future__ import annotations

import hashlib
import json
import os
import time
import uuid
from dataclasses import dataclass
from typing import Any

from pyspark.sql import DataFrame, SparkSession, functions as F

from go_jsonschema_spark.operators.sketches import (
    _QSKETCH_KEY,
    _SKETCH_KEY,
    batch_distinct_sketch,
    batch_quantile_sketch,
)

__all__ = ["CheckpointStore", "ResumableValidation", "RunReport"]


class CheckpointStore:
    """File-backed checkpoint state (atomic JSON manifests)."""

    def __init__(self, root: str) -> None:
        self.root = root
        os.makedirs(root, exist_ok=True)

    def _run_dir(self, run_id: str) -> str:
        d = os.path.join(self.root, run_id)
        os.makedirs(d, exist_ok=True)
        return d

    def completed(self, run_id: str) -> dict[str, dict[str, Any]]:
        """batch_key -> manifest (partitions, metrics, output path)."""
        out = {}
        d = self._run_dir(run_id)
        for name in os.listdir(d):
            if name.endswith(".json"):
                with open(os.path.join(d, name)) as f:
                    m = json.load(f)
                out[m["batch_key"]] = m
        return out

    def mark_complete(
        self, run_id: str, batch_key: str, partitions: list,
        metrics: dict[str, Any], output: str | None,
    ) -> None:
        d = self._run_dir(run_id)
        manifest = {
            "run_id": run_id,
            "batch_key": batch_key,
            "partitions": partitions,
            "metrics": metrics,
            "output": output,
            "ts": time.time(),
        }
        tmp = os.path.join(d, f".{batch_key}.json.tmp")
        with open(tmp, "w") as f:
            json.dump(manifest, f)
        os.replace(tmp, os.path.join(d, f"{batch_key}.json"))  # atomic


class IcebergCheckpointStore:
    """Cluster variant: the same manifest protocol, rows MERGEd into an
    Iceberg table — the north rule's "checkpointed Iceberg metadata
    tables".  Atomicity comes from Iceberg's snapshot commit: one MERGE =
    one snapshot swap, so a killed writer never leaves a half-visible
    manifest, and resume reads a consistent snapshot.

    Same duck-typed interface as :class:`CheckpointStore`
    (``completed``/``mark_complete``), so :class:`ResumableValidation`
    takes either.  Enablement is config-only::

        spark-submit \\
          --packages org.apache.iceberg:iceberg-spark-runtime-4.0_2.13:<ver> \\
          --conf spark.sql.catalog.ck=org.apache.iceberg.spark.SparkCatalog \\
          --conf spark.sql.catalog.ck.type=hadoop \\
          --conf spark.sql.catalog.ck.warehouse=s3://bucket/warehouse

    then ``IcebergCheckpointStore(spark, "ck.db.checkpoints")``.  In this
    sandbox (no runtime jar) the constructor raises with that recipe;
    tests gate on :meth:`available`."""

    def __init__(self, spark: SparkSession, table: str) -> None:
        if not self.available(spark):
            raise RuntimeError(
                "iceberg-spark-runtime not on the classpath; add "
                "--packages org.apache.iceberg:iceberg-spark-runtime-"
                "4.0_2.13:<version> and a spark.sql.catalog.<name> "
                "configuration, or use CheckpointStore (parquet+manifest), "
                "which implements the identical protocol"
            )
        if not all(c.isalnum() or c in "._" for c in table):
            raise ValueError(f"suspicious table identifier: {table!r}")
        self.spark = spark
        self.table = table
        spark.sql(
            f"CREATE TABLE IF NOT EXISTS {table} ("
            "  run_id STRING, batch_key STRING, partitions ARRAY<STRING>,"
            "  metrics STRING, output STRING, ts DOUBLE)"
            " USING iceberg PARTITIONED BY (run_id)"
        )

    @staticmethod
    def available(spark: SparkSession) -> bool:
        """True when the Iceberg Spark runtime is on the JVM classpath."""
        try:
            spark._jvm.java.lang.Class.forName(
                "org.apache.iceberg.spark.SparkCatalog"
            )
            return True
        except Exception:
            return False

    def completed(self, run_id: str) -> dict[str, dict[str, Any]]:
        rows = self.spark.sql(
            f"SELECT * FROM {self.table} WHERE run_id = :r",
            args={"r": run_id},
        ).collect()
        return {
            r["batch_key"]: {
                "run_id": r["run_id"],
                "batch_key": r["batch_key"],
                "partitions": list(r["partitions"]),
                "metrics": json.loads(r["metrics"]),
                "output": r["output"],
                "ts": r["ts"],
            }
            for r in rows
        }

    def mark_complete(
        self, run_id: str, batch_key: str, partitions: list,
        metrics: dict[str, Any], output: str | None,
    ) -> None:
        src = self.spark.createDataFrame(
            [
                (
                    run_id,
                    batch_key,
                    [str(p) for p in partitions],
                    json.dumps(metrics),
                    output,
                    time.time(),
                )
            ],
            "run_id string, batch_key string, partitions array<string>, "
            "metrics string, output string, ts double",
        )
        # per-call unique view name: a fixed name would race between
        # concurrent runs sharing one SparkSession
        view = f"__ck_src_{uuid.uuid4().hex}__"
        src.createOrReplaceTempView(view)
        try:
            # MERGE = one atomic Iceberg snapshot commit (idempotent re-mark)
            self.spark.sql(
                f"MERGE INTO {self.table} t USING {view} s"
                " ON t.run_id = s.run_id AND t.batch_key = s.batch_key"
                " WHEN MATCHED THEN UPDATE SET *"
                " WHEN NOT MATCHED THEN INSERT *"
            )
        finally:
            self.spark.catalog.dropTempView(view)


@dataclass
class RunReport:
    run_id: str
    batches_run: int
    batches_skipped: int
    partitions: dict
    violations_path: str


class ResumableValidation:
    """Partition-batched, resumable execution of a ConstraintSuite."""

    def __init__(self, suite, store: CheckpointStore, *,
                 partition_col: str, batch_size: int = 4,
                 sketch_cols: tuple[str, ...] = (),
                 quantile_cols: tuple[str, ...] = ()) -> None:
        self.suite = suite
        self.store = store
        self.partition_col = partition_col
        self.batch_size = batch_size
        # columns whose per-batch HLL distinct sketches are stored in the
        # manifest (operators/sketches.py): running distinct estimates
        # then come from a driver-side union over manifests, never a
        # rescan of completed batches
        self.sketch_cols = tuple(sketch_cols)
        # columns whose per-batch log-histogram quantile sketches are
        # stored in the manifest (operators/sketches.py): running
        # percentile estimates merge driver-side by integer addition
        self.quantile_cols = tuple(quantile_cols)

    def run(
        self,
        df: DataFrame,
        run_id: str,
        out_root: str,
        *,
        dims: dict[str, DataFrame] | None = None,
    ) -> RunReport:
        """Validate all logical partitions, skipping batches already
        committed for ``run_id``.  Violations land under
        ``out_root/batch=<key>/``; per-partition metrics go into the
        checkpoint manifests."""
        pcol = self.partition_col
        # a NULL partition value sorts first and is its own partition
        parts = sorted(
            (r[0] for r in df.select(pcol).distinct().collect()),
            key=lambda p: (p is not None, p),
        )
        batches = [
            parts[i : i + self.batch_size]
            for i in range(0, len(parts), self.batch_size)
        ]
        done = self.store.completed(run_id)
        n_run = n_skip = 0
        part_metrics: dict = {}
        row_suite = self.suite.row_only()
        for i, batch in enumerate(batches):
            # the key embeds a hash of the batch's FULL membership: if the
            # partition set changed between the killed run and the resume
            # (new partition values landing inside a batch's range), the key
            # no longer matches and the batch re-runs instead of being
            # skipped with unvalidated partitions.  Hashing also keeps
            # arbitrary partition values ('/', spaces, unicode) out of the
            # manifest filenames and parquet paths.
            member_hash = hashlib.sha1(
                json.dumps([str(p) for p in batch]).encode()
            ).hexdigest()[:12]
            key = f"b{i:05d}_{member_hash}"
            prev = done.get(key)
            if prev is not None and [str(p) for p in prev["partitions"]] == [
                str(p) for p in batch
            ]:
                n_skip += 1
                part_metrics.update({
                    k: v for k, v in prev["metrics"].items()
                    if k not in (_SKETCH_KEY, _QSKETCH_KEY)
                })
                continue
            # partition pruning: the filter reaches the scan, so completed
            # partitions are never re-read.  ROW-level checks only — the
            # dataset-level checks are global (a per-batch uniqueness scan
            # would miss cross-batch duplicates) and run as their own phase.
            # ``part IN (NULL, ...)`` never holds: NULL is matched apart
            vals = [p for p in batch if p is not None]
            cond = F.col(pcol).isin(vals)
            sub = df.filter(cond | F.col(pcol).isNull()
                            if len(vals) < len(batch) else cond)
            res = row_suite.run(
                sub, partition_col=pcol, dims=dims, persist_violations=True
            )
            out_path = os.path.join(out_root, f"batch={key}")
            res.violations.write.mode("overwrite").parquet(out_path)
            verdicts = res.verdicts.collect()
            if res.row_violations is not None:
                res.row_violations.unpersist()
            metrics = {
                str(r["partition"]): {
                    "n_rows": r["n_rows"],
                    "n_pass": r["n_pass"],
                    "n_fail": r["n_fail"],
                    "passed": r["passed"],
                }
                for r in verdicts
            }
            part_metrics.update(metrics)
            if self.sketch_cols:
                metrics = dict(metrics)
                metrics[_SKETCH_KEY] = batch_distinct_sketch(
                    sub, list(self.sketch_cols))
            if self.quantile_cols:
                metrics = dict(metrics)
                metrics[_QSKETCH_KEY] = batch_quantile_sketch(
                    sub, list(self.quantile_cols))
            self.store.mark_complete(run_id, key, [*batch], metrics, out_path)
            n_run += 1

        # global phase: dataset-level checks over the full table, its own
        # checkpoint key so a resume after the batches skips it too.  Same
        # membership rule as batch keys: uniqueness/FK results computed over
        # an older partition set are stale, so a changed set re-runs the
        # global phase even when a "global" record exists.
        g_prev = done.get("global")
        g_stale = g_prev is not None and sorted(
            str(p) for p in g_prev["partitions"]
        ) != sorted(str(p) for p in parts)
        if self.suite.spec.table_checks and (g_prev is None or g_stale):
            gv = self.suite.table_check_violations(df, dims=dims)
            if gv is not None:
                out_path = os.path.join(out_root, "batch=global")
                gv.write.mode("overwrite").parquet(out_path)
                n_viol = (
                    df.sparkSession.read.parquet(out_path).count()
                )
                self.store.mark_complete(
                    run_id, "global", parts,
                    {"__global__": {"n_violations": n_viol}}, out_path,
                )
                n_run += 1
        elif g_prev is not None and not g_stale:
            n_skip += 1
        return RunReport(run_id, n_run, n_skip, part_metrics, out_root)
