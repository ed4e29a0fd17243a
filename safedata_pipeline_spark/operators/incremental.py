"""Incremental (mergeable) profiling — partial-aggregate state tables.

Extension surface: the reference profiles a whole table per run
(/root/reference/modules/utility.py:60-79 recomputes every stat from
scratch). At 100 TB with daily arrivals, re-scanning history for a
profile is the anti-pattern; the fix is the classic mergeable-
aggregate decomposition (the same algebra Spark's own partial
aggregation and the hypertable rollup use, lifted to a USER-VISIBLE
state table):

  * ``profile_partials(df, cols)`` — one row per column holding the
    sufficient statistics (n, n_null, sum, sumsq as DECIMAL(38,6),
    min, max). One wide aggregate pass over the batch.
  * ``merge_partials(*parts)`` — combine any number of partial tables
    (union + groupBy column): the commutative-monoid merge. O(columns)
    rows in, O(columns) out — merging a year of daily partials never
    touches the data again.
  * ``finalize_profile(partials)`` — mean / population-std / min /
    max / completeness from the state. Pure map over O(columns) rows.

Because sums are DECIMAL (exact, associative), the pipeline satisfies
``finalize(merge(partials(A), partials(B))) == finalize(partials(A∪B))``
BIT-FOR-BIT — the equivalence the unit tests pin and the reason this
is safe to run incrementally: no float-summation drift between the
incremental and from-scratch answers.

Percentiles: EXACT ones aren't mergeable, so the moment partials skip
them; ``histogram_partials`` / ``merge_histograms`` /
``percentiles_from_histogram`` provide the mergeable approximation —
fixed-grid bin counts that add across batches, with an interpolated
finish whose error is bounded by one bin width and whose result is
deterministic (incremental == from-scratch exactly).
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from safedata_pipeline_spark.operators.drift import binned_percentiles, grid_bin

ROUND_N = 6
_DEC = "decimal(38,6)"


def partial_agg_exprs(cols: list[str]) -> list:
    """The sufficient-statistic aggregate expressions, exposed so the
    STREAMING twin (streaming/profile.py) aggregates with the exact
    same DECIMAL math — stream==batch equivalence is then structural,
    not re-implemented."""
    aggs = []
    for c in cols:
        col = F.col(c).cast("double")
        aggs += [
            F.count(col).cast("bigint").alias(f"n__{c}"),
            F.sum(F.col(c).isNull().cast("bigint")).alias(f"nn__{c}"),
            F.sum(F.round(col, ROUND_N).cast(_DEC)).alias(f"s__{c}"),
            F.sum(F.round(col * col, ROUND_N).cast(_DEC)).alias(f"s2__{c}"),
            F.min(col).alias(f"mn__{c}"),
            F.max(col).alias(f"mx__{c}"),
        ]
    return aggs


def melt_partials(row: DataFrame, cols: list[str]) -> DataFrame:
    """Reshape the wide 1-row aggregate into the per-column state
    table — map-only inline over O(columns) structs."""
    structs = [
        F.struct(
            F.lit(c).alias("column"),
            F.col(f"n__{c}").alias("n"),
            F.col(f"nn__{c}").alias("n_null"),
            F.coalesce(F.col(f"s__{c}"), F.lit(0).cast(_DEC)).alias("sum"),
            F.coalesce(F.col(f"s2__{c}"), F.lit(0).cast(_DEC)).alias("sumsq"),
            F.col(f"mn__{c}").alias("min"),
            F.col(f"mx__{c}").alias("max"),
        )
        for c in cols
    ]
    return row.select(F.inline(F.array(*structs)))


def profile_partials(df: DataFrame, cols: list[str]) -> DataFrame:
    """Sufficient statistics per numeric column, one aggregate pass →
    ``(column, n, n_null, sum, sumsq, min, max)``."""
    if not cols:
        raise ValueError("no columns")
    return melt_partials(df.agg(*partial_agg_exprs(cols)), cols)


def merge_partials(*parts: DataFrame) -> DataFrame:
    """Monoid merge of partial tables: counts and decimal sums add,
    min/max fold. Any number of inputs, any grouping of the underlying
    data — the result is independent of how the data was batched."""
    if not parts:
        raise ValueError("no partials")
    allp = reduce(lambda a, b: a.unionByName(b), parts)
    return allp.groupBy("column").agg(
        F.sum("n").cast("bigint").alias("n"),
        F.sum("n_null").cast("bigint").alias("n_null"),
        F.sum("sum").cast(_DEC).alias("sum"),
        F.sum("sumsq").cast(_DEC).alias("sumsq"),
        F.min("min").alias("min"),
        F.max("max").alias("max"),
    )


def finalize_profile(partials: DataFrame) -> DataFrame:
    """Human-facing profile from the state table (map-only over
    O(columns) rows): ``(column, n, n_null, completeness, mean,
    std_pop, min, max)``. Population std via E[x²]−E[x]² on the exact
    decimal sums, clamped at 0 for the degenerate constant-column
    case."""
    n = F.col("n")
    # cast the EXACT decimal sums to double once, then divide in
    # double: decimal-division result scales are engine-specific,
    # double division is not
    mean = F.col("sum").cast("double") / n
    ex2 = F.col("sumsq").cast("double") / n
    var = F.greatest(ex2 - mean * mean, F.lit(0.0))
    return partials.select(
        "column",
        "n",
        "n_null",
        F.round(F.try_divide(n, n + F.col("n_null")), ROUND_N).alias("completeness"),
        F.when(n > 0, F.round(mean, ROUND_N)).alias("mean"),
        F.when(n > 0, F.round(F.sqrt(var), ROUND_N)).alias("std_pop"),
        F.round(F.col("min"), ROUND_N).alias("min"),
        F.round(F.col("max"), ROUND_N).alias("max"),
    )


def histogram_partials(
    df: DataFrame, col: str, lo: float, width: float, bins: int
) -> DataFrame:
    """Mergeable PERCENTILE state — the piece ``profile_partials``
    deliberately omits (exact percentiles aren't mergeable): a
    fixed-grid histogram (bin, count). The grid (lo, width, bins) is
    pinned at fit time like a drift reference, so partials from any
    two batches share bins and merge by ADDING counts — percentile
    error is bounded by one bin width, the binned-KS trade.

    One groupBy pass; values below the grid clamp to bin 0, above to
    bin ``bins``-1 (open tails, documented), NULLs drop. Output:
    (bin, n) — at most ``bins`` rows of state per column."""
    if width <= 0 or bins < 1:
        raise ValueError("need width > 0 and bins >= 1")
    # clamping the value up to lo puts the open low tail in bin 0
    b = grid_bin(F.greatest(F.col(col).cast("double"), F.lit(lo)), lo, width, bins)
    return (
        df.where(F.col(col).isNotNull())
        .groupBy(b.cast("bigint").alias("bin"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    )


def merge_histograms(*parts: DataFrame) -> DataFrame:
    """Add bin counts across batches — same monoid contract as
    ``merge_partials`` (partials must share the fit grid)."""
    if not parts:
        raise ValueError("no partials")
    allp = reduce(lambda a, b: a.unionByName(b), parts)
    return allp.groupBy("bin").agg(F.sum("n").cast("bigint").alias("n"))


def percentiles_from_histogram(
    hist: DataFrame, lo: float, width: float, probs: tuple = (0.25, 0.5, 0.75)
) -> DataFrame:
    """Percentile estimates from the histogram state (1 output row
    ``(n, p25, p50, p75)``): ``drift.binned_percentiles`` — linear
    interpolation within the first bin whose cumulative count reaches
    p·n, error ≤ one bin width, deterministic (all-integer cumulative
    math), so incremental == from-scratch exactly. The running sum is a
    plain ordered window over the ≤bins STATE rows, never data; empty
    state gives NULL ``n`` and percentiles."""
    return binned_percentiles(hist, lo, width, probs)
