"""Cross-row uniqueness of a key column (or composite key).

The reference's ``uniqueItems`` is intra-array only (validate_unique.go);
the north star demands global uniqueness of ``doc_id`` over 10^12 rows with
a hot key duplicated on ~5% of rows.  Strategy (SURVEY.md §4.3): ONE count
aggregation per key.  Spark's hash aggregation is partial+final, so a hot
key collapses to one partial row per map task before the shuffle and no
reducer ever receives 5% of the table — the skew is absorbed map-side.
``ConstraintSuite.run()`` always takes this one aggregation; it never
takes the ``hash_compact`` path (measured slower, see :func:`duplicate_keys`).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

__all__ = ["duplicate_keys", "uniqueness_violations", "compact_latest"]


def _key_col(key: str | list[str]):
    """Single column or composite (struct) key expression + a display name.

    Composite keys build one struct column so the shuffle key is the full
    tuple — grouping on ``columns[0]`` alone would both miss true composite
    duplicates and falsely flag rows unique on the tuple."""
    if isinstance(key, str):
        return F.col(key), key
    if len(key) == 1:
        return F.col(key[0]), key[0]
    return F.struct(*[F.col(k) for k in key]), "(" + ",".join(key) + ")"


def key_doc_id(key: str | list[str], value: Column) -> Column:
    """The violation-row ``doc_id`` of a key: ``value`` is the key column,
    or for a composite key its struct (:func:`_key_col`), which renders
    as one JSON object so the row stays one string column."""
    if isinstance(key, str) or len(key) == 1:
        return value.cast("string")
    return F.to_json(value)


def duplicate_keys(
    df: DataFrame, key: str | list[str], *, hash_compact: bool = False,
) -> DataFrame:
    """Keys occurring more than once, with their counts: ``(key, n_dup)``.
    ``key`` may be one column name or a list (composite key → struct).

    Default is a SINGLE count aggregation.  Skew is already handled:
    Spark's hash aggregation is partial+final, so a hot key collapses to
    ONE partial row per map task before the shuffle — the reduce side
    receives at most #map-tasks rows for it, never 5% of the table.
    There is deliberately no salted two-phase variant: its second
    shuffle of the distinct-key set measured 1.8× the single-phase cost
    at 16M rows, with identical output.

    ``hash_compact=True`` shuffles ``xxhash64(key)`` (8 fixed bytes)
    for the count, then joins every ``(key, hash)`` row back against the
    candidate hashes (count > 1) for an exact, collision-safe per-key
    count — output is EXACTLY the plain result.  ``run()`` never takes
    it: the join-back is a second scan planned as a shuffle join.  On a
    4-core host the seed-1 flagship violations action read 300,004 →
    200,004 rows, shuffled 195,913 → 94,988 records and 2.61 → 0.55 MB
    (sorted key strings compress, random hashes do not), and its op p50
    fell 1.75 → 1.45 s (median of 10 alternating runs) without it."""
    kcol, _ = _key_col(key)
    if hash_compact:
        h = F.xxhash64(kcol)
        cand = (
            df.select(h.alias("__h__"))
            .groupBy("__h__")
            .agg(F.count(F.lit(1)).alias("__hc__"))
            .filter(F.col("__hc__") > 1)
            .select("__h__")
        )
        subset = df.select(kcol.alias("key"), h.alias("__h__")).join(
            cand, "__h__")
        return (
            subset.groupBy("key")
            .agg(F.count(F.lit(1)).alias("n_dup"))
            .filter(F.col("n_dup") > 1)
        )
    return (
        df.select(kcol.alias("key"))
        .groupBy("key")
        .agg(F.count(F.lit(1)).alias("n_dup"))
        .filter(F.col("n_dup") > 1)
    )


def uniqueness_violations(
    df: DataFrame, key: str | list[str], *, constraint_id: str | None = None,
    hash_compact: bool = False,
) -> DataFrame:
    """Violation rows ``(doc_id, constraint_id, observed)`` for duplicate
    keys — ``observed`` is the duplicate count as a string."""
    _, kname = _key_col(key)
    cid = constraint_id or f"unique:{kname}"
    dups = duplicate_keys(df, key, hash_compact=hash_compact)
    return dups.select(
        key_doc_id(key, F.col("key")).alias("doc_id"),
        F.lit(cid).alias("constraint_id"),
        F.concat(F.lit("count="), F.col("n_dup").cast("string")).alias("observed"),
    )


def compact_latest(
    df: DataFrame, key: str | list[str], ts_col: str
) -> DataFrame:
    """CDC/upsert compaction: the LATEST record per key by ``ts_col`` —
    the ingest primitive that folds an append-only change log down to
    current state (and the keep-one resolution for keys
    :func:`duplicate_keys` flags).

    ONE ``max(struct(ts, payload…))`` aggregation — partial+final with
    map-side combine (Spark plans the struct-max as SortAggregate,
    sorted by GROUP KEY only), so a hot key collapses to one partial row
    per map task and the exchange never carries per-version rows (a
    ``row_number`` window would shuffle AND sort every version of every
    key).  Ties on
    ``ts_col`` resolve deterministically by the remaining columns in
    DataFrame order (struct comparison is lexicographic); rows with null
    ``ts_col`` lose to any timestamped row (null-first struct ordering).
    Output keeps the input column order."""
    keys = [key] if isinstance(key, str) else list(key)
    payload = [c for c in df.columns if c not in keys and c != ts_col]
    packed = F.struct(
        F.col(ts_col), *[F.col(c) for c in payload])
    agged = df.groupBy(*keys).agg(F.max(packed).alias("__r__"))
    return agged.select(*[
        c if c in keys
        else F.col(f"__r__.{c}").alias(c)
        for c in df.columns
    ])
