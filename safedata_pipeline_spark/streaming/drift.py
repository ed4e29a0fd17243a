"""Streaming twin of ``operators.drift.drift_timeline`` (SURVEY §2.8;
no reference counterpart — the "when did the data change?" monitor as
a Structured Streaming job).

Deployment shape mirrors how drift monitoring actually runs: the
reference distribution is FIT ONCE on history (``fit_reference`` — an
O(bins) fit-parameter table, the same class as one-hot's category
list), then the stream maintains only per-(hour, bin) counts under a
watermark (bounded state: open hours × ≤bins rows). The per-hour KS
against the fixed reference CDF is a FINISHING step over that tiny
state table (``finish_timeline``) — cumulative window functions are
not allowed inside a streaming aggregation, and don't need to be: the
sink table is dashboard-sized.

Equivalence to the batch operator: when the reference is fit on the
same data the stream consumed, ``finish_timeline`` over the drained
counts reproduces ``drift_timeline``'s rows exactly (both finish with
``operators.drift.hour_ks``: all-integer cumulative arithmetic,
identical double divisions) — that equality is the test.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from safedata_pipeline_spark.operators.drift import (
    EMPTY_GRID,
    ROUND_N,
    binned_percentiles,
    fit_grid,
    grid_bin,
    hour_grid,
    hour_ks,
)


def fit_reference(
    df: DataFrame, val_col: str = "value", bins: int = 100
) -> dict:
    """Fit the reference distribution of ``val_col``: global lo/width
    plus the cumulative fraction and share of each OCCUPIED bin —
    O(bins) driver rows, the broadcastable fit parameters a monitoring
    job pins at deploy time. Returns {"lo", "width", "bins",
    "cdf": [(bin, cum_frac)], "pdf": [(bin, frac)]}; an all-NULL
    column fits ``EMPTY_GRID`` with empty ``cdf``/``pdf``.
    """
    lo, width = fit_grid(df, val_col, bins) or EMPTY_GRID
    g = (
        df.where(F.col(val_col).isNotNull())
        .groupBy(grid_bin(F.col(val_col), lo, width, bins).alias("b"))
        .agg(F.count(F.lit(1)).alias("c"))
        .collect()
    )
    counts = sorted((int(r["b"]), r["c"]) for r in g)
    total = sum(c for _, c in counts)
    cdf, run = [], 0
    for b, c in counts:
        run += c
        cdf.append((b, run / total))
    pdf = [(b, c / total) for b, c in counts]
    return {"lo": lo, "width": width, "bins": bins, "cdf": cdf, "pdf": pdf}


def hourly_bin_counts(
    events: DataFrame,
    lo: float,
    width: float,
    bins: int,
    ts_col: str = "ts",
    val_col: str = "value",
) -> DataFrame:
    """Per-(hour, bin) counts of ``val_col`` — the ONE aggregation the
    streaming job maintains (groupBy time-window + bin, watermark-
    evictable). Identical expression runs on a batch frame; the
    stream/batch pair is the correctness check."""
    return (
        events.where(F.col(val_col).isNotNull())
        .groupBy(
            F.window(ts_col, "1 hour").alias("w"),
            grid_bin(F.col(val_col), lo, width, bins).alias("b"),
        )
        .agg(F.count(F.lit(1)).alias("c"))
        .select(
            F.col("w.start").cast("timestamp_ntz").alias("hour_start"), "b", "c"
        )
    )


def _ref_frame(spark: SparkSession, pairs: list, name: str) -> DataFrame:
    return spark.createDataFrame(pairs, f"b bigint, {name} double")


def finish_timeline(counts: DataFrame, ref: dict) -> DataFrame:
    """Per-hour KS against the fixed reference CDF, from the (hour,
    bin, c) state table → ``(hour_start, n_rows, ks_stat)`` — the same
    output contract as the batch ``drift_timeline``, and the same
    finish (``operators.drift.hour_ks``): hours × occupied reference
    bins, each hour's ECDF a running sum over ≤bins rows compared with
    the reference cumulative fraction at the same bin. All counts
    integer until the final division.
    """
    refdf = _ref_frame(counts.sparkSession, ref["cdf"], "ref_cdf")
    return hour_ks(hour_grid(counts, refdf), F.col("ref_cdf"))


def finish_timeline_psi(counts: DataFrame, ref: dict, eps: float = 1e-6) -> DataFrame:
    """Per-hour Population Stability Index against the reference
    distribution, from the same (hour, bin, c) state table the KS
    finish consumes → ``(hour_start, n_rows, psi)``. KS answers "did
    the shape move?"; PSI weights the move by magnitude — dashboards
    watch both, and both finish from ONE streaming aggregation.

    Conventions mirror ``operators.drift.psi_drift``: proportions
    clamp to ``eps`` (empty bins contribute finitely), per-bin terms
    round@10 → DECIMAL-sum so the ln-bearing float total is order-
    and engine-independent.
    """
    j = hour_grid(counts, _ref_frame(counts.sparkSession, ref["pdf"], "ref_p"))
    pa = F.greatest(F.col("c") / F.col("nh"), F.lit(eps))
    pb = F.greatest(F.col("ref_p"), F.lit(eps))
    contrib = F.round((pa - pb) * F.log(pa / pb), 10).cast("decimal(38,10)")
    return j.groupBy("hour_start").agg(
        F.max("nh").cast("bigint").alias("n_rows"),
        F.round(F.sum(contrib).cast("double"), ROUND_N).alias("psi"),
    )


def stream_hourly_bin_counts(
    spark: SparkSession,
    path_glob: str,
    ref: dict,
    watermark: str = "2 hours",
    ts_col: str = "ts",
    val_col: str = "value",
) -> DataFrame:
    """``hourly_bin_counts`` over a file stream: watermark closes each
    hour once event time passes, so state holds only open hours ×
    ≤bins rows — the bounded-state 100 TB posture. Same schema
    normalization as the other event streams (nanos-as-long and NTZ
    vintages both map to TimestampType; watermarks reject NTZ)."""
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    schema = spark.read.parquet(path_glob).schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 4)
        .parquet(path_glob)
    )
    ts_type = dict(stream.dtypes).get(ts_col)
    if ts_type == "bigint":
        stream = stream.withColumn(
            ts_col, F.timestamp_micros(F.expr(f"{ts_col} div 1000"))
        )
    elif ts_type == "timestamp_ntz":
        stream = stream.withColumn(ts_col, F.col(ts_col).cast("timestamp"))
    return hourly_bin_counts(
        stream.withWatermark(ts_col, watermark),
        ref["lo"],
        ref["width"],
        ref["bins"],
        ts_col,
        val_col,
    )


def run_drift_stream_once(
    spark: SparkSession,
    path_glob: str,
    ref: dict,
    table: str = "drift_timeline_stream",
) -> DataFrame:
    """Drain the source through the streaming bin counter into a
    memory table (availableNow), then finish the KS timeline from the
    drained state — the stream-vs-batch twin harness."""
    q = (
        stream_hourly_bin_counts(spark, path_glob, ref)
        .writeStream.format("memory")
        .queryName(table)
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return finish_timeline(spark.table(table), ref)


def finish_bands(
    counts: DataFrame,
    lo: float,
    width: float,
    probs: tuple = (0.5, 0.95, 0.99),
) -> DataFrame:
    """Per-hour percentile BANDS from the same (hour, bin, c) state
    table the drift monitor streams — p50/p95/p99 dashboards without a
    second streaming aggregation or an approx-sketch whose insertion
    order makes stream and batch disagree.

    Estimator: ``operators.drift.binned_percentiles`` per hour —
    linear interpolation within the first bin whose cumulative count
    reaches p·n (error ≤ one bin width, the binned-KS trade).
    All-integer cumulative arithmetic + the same double finish on
    stream-drained or batch-computed counts → stream == batch EXACTLY,
    which ``tests/test_streaming.py::test_percentile_bands_stream_matches_batch``
    pins. Output: ``(hour_start, n, p50, p95, ...)``.
    """
    hist = counts.select("hour_start", F.col("b").alias("bin"), F.col("c").alias("n"))
    return binned_percentiles(hist, lo, width, probs, keys=("hour_start",))
