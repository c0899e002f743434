"""The benchmark workloads: one operation each, its output check, and the
per-layer probes of the traced run.

Every call goes through the public API of ``go_jsonschema_spark``.
"""

from __future__ import annotations

import os
import shutil
import time
from dataclasses import dataclass, field
from typing import Callable

import gen

SEQ_ROWS = 100_000
EVENT_ROWS = 40_000


# ---------------------------------------------------------------------------
# output checks
# ---------------------------------------------------------------------------

def verdict_table(rows) -> dict:
    """Verdict rows (``run().verdicts`` or ``verdict_counts()``) in the
    oracle's shape."""
    out = {}
    for r in rows:
        fails = r["fail_by_constraint"] or {}
        out[str(r["partition"])] = {
            "n_rows": int(r["n_rows"]),
            "n_fail": int(r["n_fail"]),
            "fail_by_constraint": {k: int(v) for k, v in fails.items() if v},
        }
    return out


def only_constraint(oracle: dict, cid: str) -> dict:
    """The oracle's verdicts for a suite holding constraint ``cid`` alone."""
    return {
        p: {"n_rows": v["n_rows"],
            "n_fail": v["fail_by_constraint"].get(cid, 0),
            "fail_by_constraint": {cid: v["fail_by_constraint"][cid]}
            if cid in v["fail_by_constraint"] else {}}
        for p, v in oracle["partitions"].items()
    }


@dataclass
class Outcome:
    """What one operation produced."""

    verdicts: dict
    total: int | None = None  # violation rows, when the operation has them
    violations: object = None  # DataFrame for the fingerprint check
    release: Callable[[], None] = lambda: None


def mismatches(out: Outcome, oracle: dict, *,
               fingerprint: str | None = None) -> list[str]:
    """Differences between ``out`` and the oracle (empty when correct)."""
    errs = []
    want = oracle["partitions"]
    if out.verdicts != want:
        bad = sorted(p for p in set(want) | set(out.verdicts)
                     if want.get(p) != out.verdicts.get(p))
        errs.append(f"verdicts differ in partitions {bad}")
    if out.total is not None and out.total != oracle["total"]:
        errs.append(f"{out.total} violation rows, oracle {oracle['total']}")
    if fingerprint is not None and fingerprint != oracle["fingerprint"]:
        errs.append("violation-set fingerprint differs from the oracle")
    return errs


# ---------------------------------------------------------------------------
# workloads
# ---------------------------------------------------------------------------

@dataclass
class Ctx:
    spark: object
    df: object
    suite: object
    dims: dict = field(default_factory=dict)


class _Null:
    """Stand-in tracer for untraced operations."""

    class _Span:
        def __enter__(self):
            return self

        def __exit__(self, *exc):
            return False

    def span(self, name):
        return self._Span()


NULL_TRACER = _Null()


def _run_outcome(ctx: Ctx, tr, partition_col: str = "part") -> Outcome:
    """``ConstraintSuite.run`` with persisted violations, then the two
    actions the flagship user runs: ``violations.count()`` and
    ``verdicts.collect()``."""
    with tr.span("engine.run.build"):
        res = ctx.suite.run(ctx.df, partition_col=partition_col,
                            dims=ctx.dims or None, persist_violations=True)
    with tr.span("engine.violations"):
        total = res.violations.count()
    with tr.span("engine.verdicts"):
        verdicts = verdict_table(res.verdicts.collect())
    return Outcome(verdicts, total, res.violations,
                   res.row_violations.unpersist)


class SeqFull:
    name = "seq_full"
    kind = "sequences"
    rows = SEQ_ROWS

    def make_suite(self):
        from go_jsonschema_spark import ConstraintSuite
        from go_jsonschema_spark.sources import synth

        return ConstraintSuite(synth.sequences_table_spec(),
                               non_null_elements=("tokens",))

    def make_ctx(self, spark, path: str) -> Ctx:
        from go_jsonschema_spark.sources import synth

        return Ctx(spark, spark.read.parquet(path), self.make_suite(),
                   {"sources_dim": synth.sources_dim(spark)})

    def op(self, ctx: Ctx, tr=NULL_TRACER) -> Outcome:
        return _run_outcome(ctx, tr)


def _events_spec(columns: dict):
    from go_jsonschema_spark import TableSpec

    return TableSpec(columns={c: {"kind": "json", "schema": s}
                              for c, s in columns.items()})


class JsonEvents:
    name = "json_events"
    kind = "events"
    rows = EVENT_ROWS
    columns = {"props": gen.PROPS_SCHEMA, "attrs": gen.ATTRS_SCHEMA}

    def make_suite(self, columns: dict | None = None):
        from go_jsonschema_spark import ConstraintSuite

        return ConstraintSuite(_events_spec(columns or self.columns),
                               key="event_id")

    def make_ctx(self, spark, path: str) -> Ctx:
        return Ctx(spark, spark.read.parquet(path), self.make_suite())

    def op(self, ctx: Ctx, tr=NULL_TRACER) -> Outcome:
        return _run_outcome(ctx, tr)


WORKLOADS = {w.name: w for w in (SeqFull(), JsonEvents())}


# ---------------------------------------------------------------------------
# traced-run probes: each times one layer through its public function and
# returns a list of output mismatches
# ---------------------------------------------------------------------------

def probe_scan(ctx: Ctx, tr) -> list[str]:
    """Parquet scan roofline: read every column, produce nothing."""
    ctx.df.write.format("noop").mode("overwrite").save()  # warm
    with tr.span("scan.s"):
        ctx.df.write.format("noop").mode("overwrite").save()
    return []


def probe_verdict_counts(ctx: Ctx, tr, oracle: dict) -> list[str]:
    """The counts-only gate, ``verdict_counts``: same predicates and scan
    as ``run``, but no violation rows, persist or uniqueness shuffle."""
    ctx.suite.verdict_counts(ctx.df, partition_col="part").collect()  # warm
    with tr.span("engine.verdict_counts.build"):
        q = ctx.suite.verdict_counts(ctx.df, partition_col="part")
    with tr.span("engine.verdict_counts"):
        out = Outcome(verdict_table(q.collect()))
    return mismatches(out, oracle)


def probe_uniqueness(ctx: Ctx, tr, oracle: dict) -> list[str]:
    from go_jsonschema_spark.operators.uniqueness import uniqueness_violations

    with tr.span("operators.uniqueness"):
        n = uniqueness_violations(ctx.df, "doc_id", hash_compact=True).count()
    want = oracle["table_checks"]["unique:doc_id"]
    return [] if n == want else [f"uniqueness: {n} keys, oracle {want}"]


def probe_checkpoint(ctx: Ctx, tr, oracle: dict, work_dir: str
                     ) -> tuple[list[str], int]:
    """``ResumableValidation`` as ``jobs/validate_job.py`` runs it: a fresh
    run into empty checkpoint and output directories, then an immediate
    resume of the same run id.  Returns the mismatches and the bytes the
    fresh run wrote."""
    from go_jsonschema_spark.checkpoint import (
        CheckpointStore, ResumableValidation,
    )

    class TimedStore(CheckpointStore):
        """Marks when each batch (and the global phase) commits."""

        def __init__(self, root: str) -> None:
            super().__init__(root)
            self.marks: list[tuple[str, float]] = []

        def completed(self, run_id):
            done = super().completed(run_id)
            self.marks.append(("start", time.perf_counter()))
            return done

        def mark_complete(self, run_id, batch_key, *args, **kw):
            super().mark_complete(run_id, batch_key, *args, **kw)
            self.marks.append((batch_key, time.perf_counter()))

    shutil.rmtree(work_dir, ignore_errors=True)
    store = TimedStore(os.path.join(work_dir, "checkpoints"))
    out_root = os.path.join(work_dir, "violations")
    rv = ResumableValidation(ctx.suite, store, partition_col="part",
                             batch_size=4)
    with tr.span("checkpoint.job") as job:
        fresh = rv.run(ctx.df, "bench", out_root, dims=ctx.dims)
    for (_, t0), (key, t1) in zip(store.marks, store.marks[1:]):
        name = "checkpoint.global" if key == "global" else "checkpoint.batch"
        tr.add(name, t0, t1, job)
    written = sum(os.path.getsize(os.path.join(d, f))
                  for d, _, fs in os.walk(work_dir) for f in fs)
    with tr.span("checkpoint.resume"):
        resumed = rv.run(ctx.df, "bench", out_root, dims=ctx.dims)
    n_global = store.completed("bench")["global"]["metrics"]["__global__"][
        "n_violations"]
    shutil.rmtree(work_dir, ignore_errors=True)

    errs = []
    want_global = sum(oracle["table_checks"].values())
    if n_global != want_global:
        errs.append(f"checkpoint global phase: {n_global} violations, "
                    f"oracle {want_global}")
    want = {p: {"n_rows": v["n_rows"], "n_fail": v["n_fail"]}
            for p, v in oracle["partitions"].items()}
    for label, rep in (("fresh", fresh), ("resume", resumed)):
        got = {str(p): {"n_rows": m["n_rows"], "n_fail": m["n_fail"]}
               for p, m in rep.partitions.items() if p != "__global__"}
        if got != want:
            errs.append(f"checkpoint {label}: partition metrics differ")
    if resumed.batches_run != 0:
        errs.append(f"checkpoint resume re-ran {resumed.batches_run} batches")
    return errs, written


def probe_json_column(ctx: Ctx, tr, oracle: dict, wl: JsonEvents,
                      column: str, span: str) -> list[str]:
    """The suite over one JSON column alone (warm call, then timed)."""
    one = Ctx(ctx.spark, ctx.df,
              wl.make_suite({column: wl.columns[column]}))
    _run_outcome(one, NULL_TRACER).release()
    with tr.span(span):
        out = _run_outcome(one, NULL_TRACER)
    out.release()
    cid = f"{column}.json"
    want = only_constraint(oracle, cid)
    total = sum(v["fail_by_constraint"].get(cid, 0)
                for v in oracle["partitions"].values())
    return mismatches(out, {"partitions": want, "total": total})


def interp_docs_per_s(docs: list, schema: dict, seconds: float = 0.5
                      ) -> float:
    """Closure-compiled interpreter throughput on the driver, in docs/s."""
    from go_jsonschema_spark.interp_compile import compile_validator

    validate = compile_validator(schema)
    done = 0
    t0 = time.perf_counter()
    while time.perf_counter() - t0 < seconds:
        for d in docs:
            validate(d)
        done += len(docs)
    return done / (time.perf_counter() - t0)
