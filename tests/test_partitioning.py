"""spread_small gate behavior: raise-only repartition, job-free probe,
structural (not textual) exchange detection — ADVICE r10. ranged_prefix
against the single-window running sum it replaces."""

import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F

from safedata_pipeline_spark.partitioning import (
    _has_shuffle_exchange,
    ranged_prefix,
    spread_small,
)


def test_spread_small_raises_partitions_on_narrow_input(spark):
    df = spark.range(0, 1000, 1, 2).withColumn("s", F.lit("x"))
    out = spread_small(df)
    assert (
        out.rdd.getNumPartitions()
        >= spark.sparkContext.defaultParallelism
    )


def test_spread_small_noop_when_plan_already_shuffles(spark):
    df = (
        spark.range(0, 1000, 1, 2)
        .groupBy((F.col("id") % 10).alias("k"))
        .agg(F.count("*").alias("n"))
    )
    out = spread_small(df)
    assert out is df  # downstream width governed by shuffle.partitions


def test_spread_small_noop_when_already_wide(spark):
    wide = spark.sparkContext.defaultParallelism * 2
    df = spark.range(0, 1000, 1, wide)
    out = spread_small(df)
    assert out is df


def test_shuffle_detection_is_structural(spark):
    # broadcast-join plan: contains BroadcastExchange but NO shuffle —
    # must NOT short-circuit (the old text regex was one "Reused"
    # prefix away from matching it)
    big = spark.range(0, 1000, 1, 2).withColumnRenamed("id", "k")
    small = spark.range(0, 10).withColumnRenamed("id", "k")
    joined = big.join(F.broadcast(small), "k")
    jplan = joined._jdf.queryExecution().sparkPlan()
    assert not _has_shuffle_exchange(jplan)

    shuffled = spark.range(0, 100, 1, 2).repartition(4)
    assert _has_shuffle_exchange(
        shuffled._jdf.queryExecution().sparkPlan()
    )


def test_spread_small_broadcast_join_still_spreads_narrow_scan(spark):
    big = spark.range(0, 1000, 1, 2).withColumnRenamed("id", "k")
    small = spark.range(0, 10).withColumnRenamed("id", "k")
    joined = big.join(F.broadcast(small), "k")
    out = spread_small(joined)
    # no shuffle in the plan and only 2 scan splits -> repartition up
    assert out is not joined
    assert (
        out.rdd.getNumPartitions()
        >= spark.sparkContext.defaultParallelism
    )


def test_spread_small_pinned_floors_post_shuffle_width(spark):
    """A tiny post-distinct frame AQE-coalesces to ~1 partition and
    spread_small (correctly) no-ops on it; spread_small_pinned must
    floor the width at defaultParallelism — the r11 decade-2 gates
    measured the gram explode going single-core exactly here."""
    from pyspark.sql import functions as F

    from safedata_pipeline_spark.partitioning import spread_small_pinned

    d = (
        spark.range(0, 5000, 1, 4)
        .select((F.col("id") % 2000).alias("v"))
        .distinct()
    )
    out = spread_small_pinned(d)
    assert (
        out.rdd.getNumPartitions()
        >= spark.sparkContext.defaultParallelism
    )
    # values survive the pin + repartition intact
    assert out.count() == 2000


def _prefix_case(spark, name):
    """(df, order_cols, sum_cols, key_cols) for one ranged_prefix case;
    (key, order) is unique per row, so the ROWS frame is deterministic."""
    if name == "zero_rows":
        df = spark.createDataFrame([], "x double, c int")
        return df, ["x"], ["c"], ()
    if name == "one_row":
        return spark.createDataFrame([(1.5, 7)], "x double, c int"), ["x"], ["c"], ()
    if name == "one_key_many_partitions":
        df = spark.range(0, 400).select(
            F.lit("a").alias("k"),
            (F.col("id") * 0.37 - 50).alias("x"),
            (F.col("id") % 7).cast("int").alias("c"),
        )
        # the key's values really do spread over >= 3 range partitions
        spread = df.repartitionByRange(4, "k", "x").select(
            F.spark_partition_id().alias("p")
        ).distinct().count()
        assert spread >= 3
        return df, ["x"], ["c"], ("k",)
    if name == "two_keys":
        df = spark.range(0, 300).select(
            (F.col("id") % 3).alias("k1"),
            (F.col("id") % 2).cast("string").alias("k2"),
            (-F.col("id")).alias("x"),
            (F.col("id") % 5).alias("c"),
        )
        return df, ["x"], ["c"], ("k1", "k2")
    if name == "decimal_sum":
        df = spark.range(0, 250).select(
            (F.col("id") % 4).alias("k"),
            F.col("id").alias("x"),
            (F.col("id") / 7).cast("decimal(38,6)").alias("w"),
        )
        return df, ["x"], ["w"], ("k",)
    if name == "rank":
        df = spark.range(0, 200).select(
            (F.col("id") % 11).cast("double").alias("s"),
            F.col("id").alias("i"),
            F.lit(1).alias("one"),
        )
        return df, ["s", "i"], ["one"], ()
    raise AssertionError(name)


@pytest.mark.parametrize(
    "case",
    ["zero_rows", "one_row", "one_key_many_partitions", "two_keys", "decimal_sum", "rank"],
)
def test_ranged_prefix_matches_single_window(spark, case):
    old = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "4")
    try:
        df, order, sums, keys = _prefix_case(spark, case)
        run = Window.partitionBy(*keys).orderBy(*order).rowsBetween(
            Window.unboundedPreceding, 0
        )
        whole = Window.partitionBy(*keys)
        ref = df.select(
            *df.columns,
            *[F.sum(c).over(run).alias(f"__cum_{c}") for c in sums],
            *[F.sum(c).over(whole).alias(f"__tot_{c}") for c in sums],
        )
        got = ranged_prefix(df, order, sums, keys)
        assert got.schema == ref.schema
        assert sorted(got.collect()) == sorted(ref.collect())
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old)
