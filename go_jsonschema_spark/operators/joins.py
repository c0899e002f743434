"""Semi-join reducer: a broadcast hash-digest prefilter + exact join.

THE join problem at 100 TB: keep only fact rows whose key appears in a
dimension too big to broadcast as-is.  A plain semi-join shuffles the
ENTIRE fact table on the key; if only a small fraction survives, almost
all of that shuffle is wasted.  The classic distributed-database fix is
the semi-join reducer (the same idea engines ship as runtime Bloom
filters — Spark's own AQE injects one under
``spark.sql.optimizer.runtime.bloomFilter.enabled``; the dedicated
``bloom_filter_agg`` expression is Catalyst-internal and not SQL-
callable, so this operator builds the relational equivalent from public
primitives):

1. digest the dimension's keys to hash BUCKETS — ``xxhash64(key) % m``
   — and broadcast the distinct bucket table: ``min(m, n_keys)`` longs,
   independent of key WIDTH (the win is real for string/composite keys:
   1M 100-byte URLs → 100 MB of keys vs 8 MB of buckets);
2. prefilter the fact with a BROADCAST left-semi join on the bucket —
   a map-side hash probe, no shuffle of the fact, no Python;
3. run the exact semi-join on the survivors — the shuffle now moves
   only ``matches + fp`` rows, where the false-positive fraction of
   non-matching keys is ≈ ``n_keys / m``.

The digest stage is an OPTIMIZATION, never a semantics change: bucket
collisions are removed by the exact join behind it, so the end-to-end
result equals the plain semi-join — exactly what the DuckDB oracle
replays.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

__all__ = ["semi_join_reducer"]


def semi_join_reducer(
    fact: DataFrame,
    dim: DataFrame,
    fact_key: str,
    dim_key: str,
    *,
    n_buckets: int = 1 << 22,
) -> DataFrame:
    """Exact ``LEFT SEMI`` join of ``fact`` against ``dim`` keys with a
    broadcast hash-bucket prefilter on the fact side.

    ``n_buckets`` (m) trades broadcast size for false-positive rate:
    the digest is ``min(m, distinct_keys)`` longs and non-matching fact
    keys leak through the prefilter with probability ≈ ``keys/m`` (they
    are then dropped by the exact join).  The default 4M buckets keeps
    the digest ≤ 32 MB while holding the leak under 1% for dims up to
    ~40k keys and under 25% at 1M keys — size it to the dimension.
    Undersizing only wastes shuffle; correctness never depends on it.
    NULL fact keys never match (semi-join semantics in both engines).
    """
    if n_buckets < 1:
        raise ValueError(
            f"semi_join_reducer: n_buckets must be >= 1, got {n_buckets}")
    digest = (
        dim.where(F.col(dim_key).isNotNull())
        .select(F.pmod(F.xxhash64(F.col(dim_key)), F.lit(n_buckets))
                .alias("__bkt__"))
        .distinct()
    )
    pre = (
        fact.where(F.col(fact_key).isNotNull())
        .withColumn("__bkt__",
                    F.pmod(F.xxhash64(F.col(fact_key)), F.lit(n_buckets)))
        .join(F.broadcast(digest), "__bkt__", "left_semi")
    )
    return pre.join(
        dim.select(F.col(dim_key).alias(fact_key)).distinct(),
        fact_key, "left_semi")
