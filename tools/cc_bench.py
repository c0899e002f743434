"""Measure the distributed large-star/small-star connected-components
engine against driver-side union-find.

Synthetic edge lists built Spark-native (deterministic), shaped to stress
different regimes:

* ``chains``  — many long paths (diameter stress: round count grows
  with the path length)
* ``hub``     — a few huge stars + noise (degree skew: per-round shuffle
  volume is where the star variant's contraction pays)
* ``mixed``   — chains + hubs + random pairs

Prints one JSON line per (shape, algorithm): rounds, wall sec, and checks
both engines produce identical labels.  ``local`` collects every pair to
the driver, so keep ``n_edges`` within driver memory.

    python tools/cc_bench.py [n_edges]
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def edge_sets(spark, n: int):
    from pyspark.sql import functions as F

    base = spark.range(n)
    # chains: 1000 parallel paths of length n/1000
    chains = base.select(
        (F.col("id") + (F.col("id") % 1000 == 0).cast("long")).alias("a"),
        (F.col("id") + 1).alias("b"),
    ).filter((F.col("id") + 1) % (n // 1000 if n >= 1000 else 50) != 0)
    # hubs: 200 hubs, each edge attaches a distinct satellite
    hubs = base.select(
        (F.pmod(F.xxhash64("id"), F.lit(200)) * 1_000_000_000).alias("a"),
        F.col("id").alias("b"),
    )
    mixed = chains.limit(n // 2).unionByName(hubs.limit(n // 2))
    return {"chains": chains, "hub": hubs, "mixed": mixed}


def main() -> int:
    n = int(sys.argv[1]) if len(sys.argv) > 1 else 2_000_000
    from pyspark.sql import SparkSession

    spark = (
        SparkSession.builder.master(
            f"local[{os.environ.get('SPARK_GRAFT_CPUS', '32')}]")
        .appName("cc-bench")
        .config("spark.sql.shuffle.partitions", "32")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", "24g")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    from go_jsonschema_spark.operators.dedup import duplicate_clusters

    for shape, e in edge_sets(spark, n).items():
        from pyspark.sql import functions as F

        pairs = e.toDF("a", "b").localCheckpoint()  # freeze input
        n_pairs = pairs.count()
        sums = {}
        # force each engine through the size switch
        for algo, threshold in (("star", 0), ("local", n_pairs + 1)):
            stats: dict = {}
            t0 = time.time()
            out = duplicate_clusters(
                pairs, star_threshold=threshold, stats_out=stats)
            # order-insensitive strong fingerprint of the full labeling
            agg = out.agg(
                F.expr("bit_xor(xxhash64(id, cluster))").alias("fp"),
                F.count(F.lit(1)).alias("n"),
            ).first()
            dt = round(time.time() - t0, 2)
            sums[algo] = (agg["fp"], agg["n"])
            print(json.dumps({
                "shape": shape, "algorithm": algo, "edges": n_pairs,
                "rounds": stats.get("rounds"), "sec": dt,
            }))
        assert sums["star"] == sums["local"], (shape, sums)
        print(json.dumps({"shape": shape, "labels_agree": True}))
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
