"""Validation benchmark for go_jsonschema_spark.

    python3 perfbench/run.py --workload seq_full --seed 1 --seconds 10 --trace 0

Run from the repository root.  One driver process runs a closed loop with
one client (the next operation starts when the previous one finished) on
``local[<cores>]``.  Inputs are generated from ``--seed`` by DuckDB and
cached with their oracle under ``perfbench/.cache``; every operation's
output is checked against the oracle.

The last line of standard output is one JSON object with ``correct``,
``attempted``, ``failed`` and ``metrics``: the end-to-end metrics with
``--trace 0``, the per-layer metrics with ``--trace 1``.  See
``perfbench/README.md`` for the workloads and metrics.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import sys
import time
import traceback
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
CACHE = HERE / ".cache"
N_SETUPS = 3
N_WARMUP = 1
N_TRACED = 3
KEEP_INPUTS = 3

# per-layer metric -> unit; a layer a workload does not run reports 0
PER_LAYER = {
    "setup.first_s": "s",
    "spec.parse_s": "s",
    "engine.compile.cold_s": "s",
    "engine.compile.warm_s": "s",
    "engine.run.build_s": "s",
    "engine.run.py4j_calls": "count",
    "engine.violations_s": "s",
    "engine.violations.input_rows": "count",
    "engine.violations.shuffle_records": "count",
    "engine.violations.shuffle_bytes": "bytes",
    "engine.violations.exec_cpu_s": "s",
    "engine.violations.gc_s": "s",
    "engine.violations.spill_bytes": "bytes",
    "engine.violations.peak_exec_mem_mb": "MB",
    "engine.verdicts_s": "s",
    "engine.verdicts.input_rows": "count",
    "engine.verdict_counts.build_s": "s",
    "engine.verdict_counts_s": "s",
    "engine.verdict_counts.input_rows": "count",
    "engine.verdict_counts.shuffle_records": "count",
    "operators.uniqueness_s": "s",
    "operators.uniqueness.shuffle_records": "count",
    "operators.uniqueness.shuffle_bytes": "bytes",
    "checkpoint.job_s": "s",
    "checkpoint.batch_s": "s",
    "checkpoint.global_s": "s",
    "checkpoint.resume_s": "s",
    "checkpoint.bytes_written": "bytes",
    "checkpoint.rows_scanned_ratio": "ratio",
    "json.native_s": "s",
    "json.native.exec_cpu_s": "s",
    "json.udf_s": "s",
    "interp.docs_per_s": "1/s",
    "scan.s": "s",
    "peak_rss_mb": "MB",
    "unattributed_s": "s",
    "tracing_overhead_s": "s",
}
# span -> stage counters reported for it
SPAN_COUNTERS = {
    "engine.violations": ("input_rows", "shuffle_records", "shuffle_bytes",
                          "exec_cpu_s", "gc_s", "spill_bytes",
                          "peak_exec_mem_mb"),
    "engine.verdicts": ("input_rows",),
    "engine.verdict_counts": ("input_rows", "shuffle_records"),
    "operators.uniqueness": ("shuffle_records", "shuffle_bytes"),
    "json.native": ("exec_cpu_s",),
}


def log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


# ---------------------------------------------------------------------------
# inputs
# ---------------------------------------------------------------------------

def ensure_input(wl, seed: int) -> tuple[str, dict, dict]:
    """Generated parquet directory, its meta and its oracle for ``seed``,
    built once and cached.  Only the ``KEEP_INPUTS`` most recently used
    inputs are kept."""
    import gen
    import oracle

    inputs = CACHE / "inputs"
    d = inputs / f"{wl.kind}-{wl.rows}-{seed}"
    if not (d / "oracle.json").is_file():
        tmp = inputs / f".tmp-{os.getpid()}"
        shutil.rmtree(tmp, ignore_errors=True)
        t0 = time.perf_counter()
        meta = gen.write_input(wl.kind, wl.rows, seed, str(tmp / "data"))
        glob = str(tmp / "data" / "*.parquet")
        if wl.kind == "sequences":
            orc = oracle.sequences_oracle(glob)
        else:
            orc = oracle.events_oracle(glob, wl.columns)
        (tmp / "meta.json").write_text(json.dumps(meta))
        (tmp / "oracle.json").write_text(json.dumps(orc))
        shutil.rmtree(d, ignore_errors=True)
        os.replace(tmp, d)
        log(f"generated {wl.kind} seed={seed} and its oracle in "
            f"{time.perf_counter() - t0:.1f} s")
    os.utime(d)
    kept = sorted((p for p in inputs.iterdir() if not p.name.startswith(".")),
                  key=lambda p: p.stat().st_mtime, reverse=True)
    for old in kept[KEEP_INPUTS:]:
        shutil.rmtree(old, ignore_errors=True)
    meta = json.loads((d / "meta.json").read_text())
    orc = json.loads((d / "oracle.json").read_text())
    return str(d / "data"), meta, orc


# ---------------------------------------------------------------------------
# Spark process lifetime
# ---------------------------------------------------------------------------

def cores() -> int:
    return len(os.sched_getaffinity(0))


def start_session():
    from pyspark.sql import SparkSession

    n = cores()
    spark = (
        SparkSession.builder.master(f"local[{n}]")
        .appName("perfbench")
        .config("spark.driver.memory", "2g")
        .config("spark.sql.shuffle.partitions", str(2 * n))
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.local.dir", str(CACHE / "spark-local"))
        .config("spark.sql.warehouse.dir", str(CACHE / "warehouse"))
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def cpu_steal_s() -> float:
    """Seconds of CPU time the hypervisor took from this machine so far
    (``steal`` in /proc/stat); logged to explain noisy runs."""
    with open("/proc/stat") as f:
        fields = f.readline().split()
    return int(fields[8]) / os.sysconf("SC_CLK_TCK")


def descendants() -> list[int]:
    """Pids of every live process below this one."""
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(entry))
    out, todo = [], [os.getpid()]
    while todo:
        for c in children.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def peak_rss_mb() -> float:
    """Summed peak resident memory (VmHWM) of the JVM and the Python
    workers, i.e. of every process below this one."""
    total_kb = 0
    for pid in descendants():
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
        except OSError:
            continue
    return total_kb / 1024


def shutdown(spark) -> None:
    """Stop Spark, the JVM and the Python workers, and wait for them."""
    from pyspark import SparkContext

    procs = descendants()
    if spark is not None:
        spark.stop()
    gw = SparkContext._gateway
    if gw is not None:
        gw.shutdown()
        proc = getattr(gw, "proc", None)
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout=60)
            except Exception:  # TimeoutExpired: force it
                proc.kill()
                proc.wait()
        SparkContext._gateway = None
        SparkContext._jvm = None
    deadline = time.monotonic() + 20
    while time.monotonic() < deadline:
        alive = [p for p in procs if os.path.exists(f"/proc/{p}")]
        if not alive:
            return
        time.sleep(0.1)
    for p in alive:
        try:
            os.kill(p, signal.SIGKILL)
        except ProcessLookupError:
            pass


# ---------------------------------------------------------------------------
# measurement
# ---------------------------------------------------------------------------

class Counts:
    def __init__(self) -> None:
        self.attempted = 0
        self.failed = 0


def checked_op(wl, ctx, orc, counts: Counts, tr=None, *,
               fingerprint: bool = False) -> float | None:
    """Run one operation, check it against the oracle and return its wall
    time, or None when it raised or its output was wrong."""
    import oracle
    import workloads

    tr = tr or workloads.NULL_TRACER
    counts.attempted += 1
    try:
        with tr.span("op"):
            t0 = time.perf_counter()
            out = wl.op(ctx, tr)
            dt = time.perf_counter() - t0
        fp = None
        if fingerprint and out.violations is not None:
            fp = oracle.fingerprint(out.violations.collect())
        out.release()
        errs = workloads.mismatches(out, orc, fingerprint=fp)
    except Exception:
        log(f"{wl.name}: operation raised\n{traceback.format_exc()}")
        counts.failed += 1
        return None
    if errs:
        log(f"{wl.name}: wrong output: {'; '.join(errs)}")
        counts.failed += 1
        return None
    return dt


def setup_once(wl, path, orc, counts: Counts, traced: dict | None):
    """One set-up: session, input, suite and the first (cold) operation.
    The first set-up in the process also imports pyspark and launches the
    JVM.  Returns ``(spark, ctx, seconds)``."""
    t0 = time.perf_counter()
    spark = start_session()
    ctx = wl.make_ctx(spark, path)
    if traced is not None:
        t = time.perf_counter()
        ctx.suite.compile(ctx.df)
        traced["engine.compile.cold_s"] = time.perf_counter() - t
    checked_op(wl, ctx, orc, counts)
    return spark, ctx, time.perf_counter() - t0


def timed_loop(wl, ctx, orc, counts: Counts, seconds: float,
               min_ops: int = 3) -> list[float]:
    times = []
    deadline = time.perf_counter() + seconds
    n = 0
    while n < min_ops or time.perf_counter() < deadline:
        dt = checked_op(wl, ctx, orc, counts)
        n += 1
        if dt is not None:
            times.append(dt)
    return times


def median(xs: list[float]) -> float:
    return statistics.median(xs) if xs else float("nan")


def traced_metrics(wl, ctx, orc, counts: Counts, untraced: list[float],
                   traced: dict, seed: int) -> None:
    """The per-layer part of the traced run, written into ``traced``."""
    import tracing
    import workloads

    spec_t = []
    for _ in range(20):
        t = time.perf_counter()
        wl.make_suite()
        spec_t.append(time.perf_counter() - t)
    traced["spec.parse_s"] = median(spec_t)
    t = time.perf_counter()
    wl.make_suite().compile(ctx.df)
    traced["engine.compile.warm_s"] = time.perf_counter() - t

    tr = tracing.Tracer(ctx.spark, wl.name)
    op_walls = []
    for _ in range(N_TRACED):
        dt = checked_op(wl, ctx, orc, counts, tr, fingerprint=True)
        if dt is not None:
            op_walls.append(dt)
    traced["tracing_overhead_s"] = median(op_walls) - median(untraced)
    traced["unattributed_s"] = median(tr.self_times("op"))

    errs: list[str] = []
    if wl.name == "seq_full":
        errs += workloads.probe_scan(ctx, tr)
        traced["engine.run.py4j_calls"] = tracing.py4j_calls(
            lambda: ctx.suite.run(ctx.df, partition_col="part",
                                  dims=ctx.dims))
        errs += workloads.probe_verdict_counts(ctx, tr, orc)
        errs += workloads.probe_uniqueness(ctx, tr, orc)
        ck_errs, written = workloads.probe_checkpoint(
            ctx, tr, orc, str(CACHE / f"job-{os.getpid()}"))
        errs += ck_errs
        traced["checkpoint.bytes_written"] = written
    if wl.name == "json_events":
        traced["engine.run.py4j_calls"] = tracing.py4j_calls(
            lambda: ctx.suite.run(ctx.df, partition_col="part"))
        errs += workloads.probe_json_column(ctx, tr, orc, wl, "props",
                                            "json.native")
        errs += workloads.probe_json_column(ctx, tr, orc, wl, "attrs",
                                            "json.udf")
        import gen

        docs = [json.loads(s) for s in gen.event_pools(seed)[1]]
        traced["interp.docs_per_s"] = workloads.interp_docs_per_s(
            docs, gen.ATTRS_SCHEMA)
    counts.attempted += 1
    if errs:
        log(f"{wl.name}: probe output wrong: {'; '.join(errs)}")
        counts.failed += 1

    for name in ("engine.run.build", "engine.violations", "engine.verdicts",
                 "engine.verdict_counts.build", "engine.verdict_counts",
                 "operators.uniqueness", "checkpoint.job",
                 "checkpoint.batch", "checkpoint.global", "checkpoint.resume",
                 "json.native", "json.udf", "scan.s"):
        xs = tr.self_times(name)
        if xs:
            key = name if name.endswith("_s") or name.endswith(".s") \
                else name + "_s"
            traced[key] = median(xs)

    stages = tr.stage_counters()
    for span, names in SPAN_COUNTERS.items():
        per_span = [stages.get(s.desc, {}) for s in tr.spans
                    if s.name == span]
        for c in names:
            vals = [d.get(c, 0.0) for d in per_span]
            if vals:
                traced[f"{span}.{c}"] = median(vals)
    if wl.name == "seq_full":
        job = next(s for s in tr.spans if s.name == "checkpoint.job")
        rows_read = stages.get(job.desc, {}).get("input_rows", 0.0)
        traced["checkpoint.rows_scanned_ratio"] = rows_read / wl.rows


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not (ROOT / "go_jsonschema_spark" / "__init__.py").is_file():
        log(f"go_jsonschema_spark not found under {ROOT}; run the benchmark "
            "from a full checkout of the repository")
        return 2
    import workloads

    if args.workload not in workloads.WORKLOADS:
        log(f"unknown workload {args.workload!r}; choose from "
            f"{sorted(workloads.WORKLOADS)}")
        return 2
    wl = workloads.WORKLOADS[args.workload]

    # the engine and its Python workers (pandas UDFs) import the package
    sys.path.insert(0, str(ROOT))
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (str(ROOT), os.environ.get("PYTHONPATH")) if p)
    CACHE.mkdir(exist_ok=True)

    path, meta, orc = ensure_input(wl, args.seed)
    log(f"input {wl.kind}: {meta['rows']} rows, {meta['bytes']} parquet "
        f"bytes in {meta['files']} files")

    counts = Counts()
    traced = {} if args.trace else None
    steal0 = cpu_steal_s()
    spark = None
    try:
        setups = []
        for i in range(N_SETUPS):
            if spark is not None:
                spark.stop()
            spark, ctx, dt = setup_once(wl, path, orc, counts,
                                        traced if i == N_SETUPS - 1 else None)
            setups.append(dt)
        for i in range(N_WARMUP):
            checked_op(wl, ctx, orc, counts, fingerprint=(i == 0))
        seconds = args.seconds / 2 if args.trace else args.seconds
        times = timed_loop(wl, ctx, orc, counts, seconds)
        rss = peak_rss_mb()
        if args.trace:
            traced["setup.first_s"] = setups[0]
            traced["peak_rss_mb"] = rss
            traced_metrics(wl, ctx, orc, counts, times, traced, args.seed)
    finally:
        shutdown(spark)

    if not times:
        log(f"{wl.name}: every timed operation failed; no result")
        return 1
    p50 = median(times)
    log(f"{wl.name}: {len(times)} timed ops, op_s p50 {p50:.4f} "
        f"min {min(times):.4f} max {max(times):.4f} "
        f"(all {[round(t, 3) for t in times]}); setups "
        f"{[round(s, 3) for s in setups]}; "
        f"error_rate {counts.failed}/{counts.attempted}; "
        f"cpu steal {cpu_steal_s() - steal0:.1f} s")
    if args.trace:
        metrics = {k: {"value": float(traced.get(k, 0.0)), "unit": u}
                   for k, u in PER_LAYER.items()}
    else:
        metrics = {
            "setup_s": {"value": median(setups), "unit": "s"},
            "rows_per_s": {"value": meta["rows"] / p50, "unit": "rows/s"},
            "op_s.p50": {"value": p50, "unit": "s"},
        }
    print(json.dumps({
        "correct": counts.failed == 0,
        "attempted": counts.attempted,
        "failed": counts.failed,
        "metrics": metrics,
    }), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
