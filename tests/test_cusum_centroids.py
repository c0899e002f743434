"""cusum_changepoint / label_centroid_similarity: planted level shift,
stable series, orthogonal/identical clusters."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from go_jsonschema_spark.operators.ann import label_centroid_similarity
from go_jsonschema_spark.operators.timeseries import cusum_changepoint


# ---------------------------------------------------------------------------
# cusum_changepoint
# ---------------------------------------------------------------------------

def _events(spark, counts, step=3600):
    # counts[i] events in bucket i
    rows = []
    for i, n in enumerate(counts):
        rows += [(len(rows) + j, "g", i * step + j) for j in range(n)]
    return spark.createDataFrame(rows, "id long, g string, t long").select(
        "id", "g", F.timestamp_seconds("t").alias("ts"))


def test_cusum_finds_planted_shift(spark):
    # 2/bucket for 10 buckets, then 10/bucket for 10: change at bucket 9
    df = _events(spark, [2] * 10 + [10] * 10)
    r = cusum_changepoint(
        df, ts_col="ts", step_seconds=3600, group_col="g").collect()[0]
    assert r["n_buckets"] == 20
    # CUSUM peak |s| sits at the LAST pre-shift bucket (i=9):
    # s dips by (2-6)=-4 per bucket for 10 buckets → range = 40
    assert r["cusum_range"] == pytest.approx(40.0, abs=1e-6)
    assert int(r["change_bucket"].timestamp()) == 9 * 3600


def test_cusum_stable_series_small_range(spark):
    df = _events(spark, [5] * 12)
    r = cusum_changepoint(
        df, ts_col="ts", step_seconds=3600, group_col="g").collect()[0]
    assert r["cusum_range"] == pytest.approx(0.0, abs=1e-6)


def test_cusum_grouped(spark):
    a = [("a", i * 3600) for i in range(6)]          # 1/bucket, stable
    b = [("b", 0), ("b", 1), ("b", 2)]               # all in bucket 0
    b += [("b", i * 3600) for i in range(1, 6)]      # then 1/bucket
    rows = [(i, g, t) for i, (g, t) in enumerate(a + b)]
    df = spark.createDataFrame(rows, "id long, g string, t long").select(
        "id", "g", F.timestamp_seconds("t").alias("ts"))
    out = {r["g"]: r for r in cusum_changepoint(
        df, ts_col="ts", step_seconds=3600, group_col="g").collect()}
    assert out["a"]["cusum_range"] == pytest.approx(0.0, abs=1e-6)
    assert out["b"]["cusum_range"] > 1.0
    assert int(out["b"]["change_bucket"].timestamp()) == 0


# ---------------------------------------------------------------------------
# label_centroid_similarity
# ---------------------------------------------------------------------------

def _vecs(spark, rows):
    return spark.createDataFrame(rows, "vec_id long, label int, "
                                       "embedding array<float>")


def test_centroids_orthogonal_labels(spark):
    rows = [(1, 0, [1.0, 0.0]), (2, 0, [3.0, 0.0]),
            (3, 1, [0.0, 2.0]), (4, 1, [0.0, 4.0])]
    out = label_centroid_similarity(_vecs(spark, rows)).collect()
    assert len(out) == 1
    assert out[0]["cos_sim"] == pytest.approx(0.0, abs=1e-6)


def test_centroids_identical_direction(spark):
    rows = [(1, 0, [1.0, 1.0]), (2, 1, [2.0, 2.0]), (3, 2, [1.0, -1.0])]
    out = {(r["label_a"], r["label_b"]): r["cos_sim"]
           for r in label_centroid_similarity(_vecs(spark, rows)).collect()}
    assert out[(0, 1)] == pytest.approx(1.0, abs=1e-6)
    assert out[(0, 2)] == pytest.approx(0.0, abs=1e-6)
    assert len(out) == 3  # C(3,2) pairs, each once


def test_centroids_null_rows_excluded(spark):
    rows = [(1, 0, [1.0, 0.0]), (2, None, [9.0, 9.0]), (3, 1, None),
            (4, 1, [0.0, 1.0])]
    out = label_centroid_similarity(_vecs(spark, rows)).collect()
    assert len(out) == 1
    assert out[0]["cos_sim"] == pytest.approx(0.0, abs=1e-6)
