"""Streaming validation: the compiled constraint plan over readStream.

The row predicates compiled by compile.py are STATELESS Column expressions,
so they apply to a streaming DataFrame unchanged — the one engine serves
batch and streaming (the reference has no streaming at all, SURVEY.md
§2.8; this is a north-star addition built on Structured Streaming).  The
row-check functions below are the engine's ``VerdictKernel`` under a
streaming grouping; none builds predicate, entry or counter columns of
its own, so stream and batch verdicts agree by construction.

* :func:`stream_violations` — per-record violations stream (append mode):
  ``run().violations`` of the row-only suite.
* :func:`windowed_verdicts` — event-time-windowed verdicts with a
  watermark for late data: the kernel grouped by ``window(ts)``.
* running per-group totals need no operator of their own: with
  ``k = suite.kernel(stream)``,
  ``k.verdicts(k.project(stream), F.col(group), "group")`` written in
  ``update`` output mode re-emits each group's cumulative
  ``(n_rows, n_fail, fail_by_constraint, n_pass, passed)`` every
  micro-batch it grows — the batch verdict under a grouping, with no
  Python state.

Dataset-level checks over unbounded input need key-scoped state:

* :func:`stream_duplicate_keys` — running duplicate-key counts, one
  native ``count`` aggregation per key in ``update`` mode (duplicate
  EMISSION, not suppression; watermark-bounded suppression is Spark's
  own ``withWatermark(...).dropDuplicates([key])``).
* referential (foreign-key) checks need no streaming twin:
  :func:`~go_jsonschema_spark.operators.referential.referential_violations`
  is a stateless broadcast left-anti join, and Structured Streaming runs
  it on a streaming left side against a static dimension as is.
* :func:`stream_histogram` — per-window binned histograms; drift (PSI)
  against a static baseline then runs as a batch transform over the sink
  (:func:`~go_jsonschema_spark.operators.drift.psi_per_window`) — chained
  streaming aggregations are not expressible, and the histogram is the
  right sink granularity anyway (windows × bins rows, replayable).

Exact global uniqueness over a truly unbounded key domain still grows
state with distinct keys (one counter per key here); at 10^12 scale the
recommended pattern remains periodic batch reconciliation over the sink
table, with the streaming check as the low-latency early warning.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from go_jsonschema_spark.engine import ConstraintSuite


def _zoned(stream: DataFrame, ts_col: str) -> DataFrame:
    """``stream`` with a TIMESTAMP_NTZ ``ts_col`` cast to TIMESTAMP:
    watermarks need a zoned timestamp, and parquet often stores NTZ."""
    if dict(stream.dtypes).get(ts_col) == "timestamp_ntz":
        return stream.withColumn(ts_col, F.col(ts_col).cast("timestamp"))
    return stream


def stream_violations(suite: ConstraintSuite, stream: DataFrame) -> DataFrame:
    """Append-mode violations stream ``(doc_id, constraint_id, observed)``
    — attach ``.writeStream`` to sink it.  Row checks only: the
    dataset-level checks need the whole table (see the module docstring
    for their streaming forms)."""
    return suite.row_only().run(stream).violations


def stream_histogram(
    stream: DataFrame,
    column: str,
    *,
    ts_col: str,
    window: str = "1 hour",
    watermark: str = "2 hours",
    bucket_width: float = 50.0,
) -> DataFrame:
    """Per-event-time-window binned histogram ``(window, bucket, count)``
    — the streaming feed for drift detection.  ONE streaming aggregation
    (map-side combinable; state is windows × bins counters, independent
    of row volume).  Bucket semantics match the batch
    :func:`~go_jsonschema_spark.operators.drift.histogram`:
    ``floor(x / bucket_width)``, nulls excluded."""
    stream = _zoned(stream, ts_col)
    return (
        stream.filter(F.col(column).isNotNull() & F.col(ts_col).isNotNull())
        .withWatermark(ts_col, watermark)
        .groupBy(
            F.window(F.col(ts_col), window),
            F.floor(F.col(column) / F.lit(float(bucket_width)))
            .alias("bucket"),
        )
        .agg(F.count(F.lit(1)).alias("count"))
    )


def stream_duplicate_keys(
    stream: DataFrame,
    key: str,
    *,
    min_count: int = 2,
) -> DataFrame:
    """Streaming dataset-level uniqueness: running per-key occurrence
    counts across micro-batches, EMITTING ``(key, n_dup)`` whenever a
    key's lifetime count reaches ``min_count`` — the streaming twin of
    :func:`~go_jsonschema_spark.operators.uniqueness.duplicate_keys`
    (update mode: a key re-emits with its new running total each batch it
    grows, so the latest row per key is the current count; fold with
    ``max(n_dup)`` when a sink may hold several updates).

    One native streaming aggregation, ``count(1)`` per key, filtered on
    the running total — no Python state.  Scale shape: only the key
    column is shuffled per micro-batch (id-only, like the batch
    operator), and state is one counter per distinct key — the same
    O(#keys) a batch count aggregation holds transiently, kept resident
    instead.  For an unbounded key domain, pair with periodic batch
    reconciliation (module docstring)."""
    return (
        stream.groupBy(F.col(key).alias("key"))
        .agg(F.count(F.lit(1)).alias("n_dup"))
        .where(F.col("n_dup") >= min_count)
    )


def windowed_verdicts(
    suite: ConstraintSuite,
    stream: DataFrame,
    *,
    ts_col: str,
    window: str = "5 minutes",
    watermark: str = "10 minutes",
) -> DataFrame:
    """Event-time-windowed verdicts with late-data watermark:
    ``(window, n_rows, n_fail, fail_by_constraint, n_pass, passed)`` in
    append mode once the watermark passes — the streaming analogue of
    per-partition verdicts, from the same kernel counters and gate
    (strict, or ``spec.tolerances`` budgets) in ONE windowed aggregation."""
    k = suite.kernel(stream)
    checked = _zoned(k.project(stream), ts_col)
    return k.verdicts(checked.withWatermark(ts_col, watermark),
                      F.window(F.col(ts_col), window), "window")


def stream_sessions(
    stream: DataFrame,
    *,
    user_col: str,
    ts_col: str,
    gap: str = "30 minutes",
    watermark: str = "10 minutes",
) -> DataFrame:
    """Streaming sessionization via Spark's NATIVE session windows:
    ``session_window(ts, gap)`` merges a user's events whose gaps are
    at most ``gap`` (closed boundary — measured: an event exactly
    ``gap`` after the previous one EXTENDS the session, the same
    ``> gap``-starts-new rule as the batch sessionize) and keeps
    per-session state that closes when the watermark passes, giving ``(user, session_start, session_end,
    n_events)`` without the lag+cumsum window the batch formulation
    needs.  ``session_end`` is Spark's window end = last event + gap.

    Output modes (Spark rejects ``update`` for session windows):
    ``append`` for production — sessions emit once, when the watermark
    passes their end, so sessions still open at end-of-input are held
    in state; ``complete`` for bounded gates — every final session
    emits (measured: append loses exactly the watermark-tail session
    on an AvailableNow run, complete matches the batch replay).

    Scale shape: one user-keyed shuffle per micro-batch; state is one
    (start, end, count) per OPEN session per user, aged out by the
    watermark — O(active users), not O(events).
    """
    stream = _zoned(stream, ts_col)
    return (
        stream.where(F.col(ts_col).isNotNull())
        .withWatermark(ts_col, watermark)
        .groupBy(F.session_window(F.col(ts_col), gap).alias("sw"),
                 F.col(user_col))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            user_col,
            F.col("sw.start").alias("session_start"),
            F.col("sw.end").alias("session_end"),
            "n_events",
        )
    )
