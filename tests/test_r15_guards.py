"""Round-15 optimization guards: the scale caps on the repartition(1)
fit pins, the finite-literal guard on lit_double_array, and the
dotted-name fallback in dot()/norm() (r14 verdict Next #7 + ADVICE)."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from streaming_forex_data_pipeline_spark.llm import similarity as SIM
from streaming_forex_data_pipeline_spark.operators import importance as IMP


def test_pin_fit_layout_row_cap(spark, monkeypatch):
    monkeypatch.setenv("SFDP_PIN_FIT_MAX_ROWS", "1")
    df = spark.createDataFrame(
        [("EURUSD", 1, 0.5), ("EURUSD", 2, 0.6)], ["symbol", "ts", "x"]
    )
    with pytest.raises(ValueError, match="single-partition fit cap"):
        IMP._pin_fit_layout(df)


def test_pin_fit_layout_under_cap_is_single_sorted_partition(spark):
    df = spark.createDataFrame(
        [("EURUSD", 2, 0.5), ("EURUSD", 1, 0.6), ("GBPUSD", 1, 0.7)],
        ["symbol", "ts", "x"],
    )
    pinned = IMP._pin_fit_layout(df)
    assert pinned.rdd.getNumPartitions() == 1
    rows = pinned.collect()
    assert [(r["symbol"], r["ts"]) for r in rows] == sorted(
        (r["symbol"], r["ts"]) for r in rows
    )


def test_kmeans_fit_row_cap(spark, monkeypatch):
    monkeypatch.setenv("SFDP_PIN_FIT_MAX_ROWS", "1")
    emb = spark.createDataFrame(
        [(0, [1.0, 0.0]), (1, [0.0, 1.0])], ["vec_id", "embedding"]
    )
    with pytest.raises(ValueError, match="single-partition fit cap"):
        SIM.kmeans_centroids(emb, n_cells=2)


def test_lit_double_array_rejects_non_finite():
    for bad in (float("inf"), float("-inf"), float("nan")):
        with pytest.raises(ValueError, match="finite"):
            SIM.lit_double_array([1.0, bad])


def test_lit_double_array_roundtrips_finite(spark):
    vals = [0.1, -2.5, 1e-300, 123456.789]
    got = spark.range(1).select(
        SIM.lit_double_array(vals).alias("a")
    ).collect()[0]["a"]
    assert got == vals


def test_dot_norm_fall_back_for_struct_field_paths(spark):
    """ADVICE r14: dot('payload.v', ...) must resolve the struct field
    via the Column path (the backtick fast path would mis-quote it)."""
    df = spark.createDataFrame([([3.0, 4.0],)], ["v"]).select(
        F.struct(F.col("v")).alias("payload")
    )
    row = df.select(
        SIM.dot("payload.v", "payload.v").alias("d"),
        SIM.norm("payload.v").alias("n"),
    ).collect()[0]
    assert row["d"] == pytest.approx(25.0)
    assert row["n"] == pytest.approx(5.0)


def test_dot_fast_path_matches_column_path(spark):
    df = spark.createDataFrame(
        [([1.0, 2.0, 3.0], [4.0, 5.0, 6.0])], ["a", "b"]
    )
    fast = df.select(SIM.dot("a", "b").alias("d")).collect()[0]["d"]
    slow = df.select(
        SIM.dot(F.col("a"), F.col("b")).alias("d")
    ).collect()[0]["d"]
    assert fast == slow == pytest.approx(32.0)
    assert math.isfinite(fast)


def test_kmeans_fit_scans_upstream_once(spark):
    """The row-cap guard counts the cached pinned fit frame, so the
    upstream chain runs once for the guard and the fit together (it
    used to run once for the count and again for the fit), and the
    cache is released afterwards."""
    from pyspark.sql.types import LongType

    rows = spark.sparkContext.accumulator(0)

    def tick(i):
        rows.add(1)
        return i

    emb = spark.range(40).select(
        F.udf(tick, LongType())("id").alias("vec_id"),
        F.array(
            (F.col("id") % 7).cast("double"), (F.col("id") % 5).cast("double")
        ).alias("embedding"),
    )
    # compare ids, not a count: the context cleaner may unpersist an
    # earlier test's dropped localCheckpoint while the fit runs
    def persisted():
        return set(spark.sparkContext._jsc.getPersistentRDDs().keySet())

    cached_before = persisted()
    cents = SIM.kmeans_centroids(emb, n_cells=2, max_iter=3)
    assert cents.count() == 2
    assert rows.value == 40
    assert not persisted() - cached_before
