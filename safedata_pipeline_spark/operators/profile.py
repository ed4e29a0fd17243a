"""Profiling / aggregation operators (SURVEY §2.3 A1–A12, §2.2 P1–P8).

Behavior parity targets (reference: /root/reference/modules/utility.py):
  * ``basic_stats``   — utility.py:17-86  (one profile row per column)
  * ``group_count``   — privacy.py:8, utility.py:71 (value_counts incl. null group)
  * ``null_profile``  — utility.py:31-32
  * ``numeric_profile``— utility.py:48-54 (mean/std/min/p25/median/p75/max,
                         std is sample std ddof=1 ⇒ stddev_samp)
  * ``top_freq``      — utility.py:70-71 (mode with ascending-value tiebreak)

Scale design: the reference loops ``for col in df.columns`` — one pass
per column. Here the float moments of every column are fused into ONE
wide aggregation (single scan, map-side partial agg), and everything
read off per-(column, value) counts — nunique, top/freq, exact
percentiles — comes from ONE tagged melt (``_tagged_melt``: single
shuffle) instead of a groupBy per column. ``column_stats`` runs that
melt over one table (``basic_stats``) or over several at once, each
side counted in its own column, which is how
``drift.profiles_and_drift`` builds two profiles and their drift table
from one pass. Exact distincts/percentiles are used for oracle parity;
``exact=False`` switches to approx_count_distinct / percentile_approx —
the 100 TB variants (no O(cols×rows) Expand, no full sort).

Float outputs are rounded (ROUND_N decimals) so results are stable
across engines/summation orders — aggregate floats differ in final
ulps between any two executions, so an unrounded float column is not
hash-comparable by design.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.types import (
    DateType,
    NumericType,
    StringType,
    TimestampNTZType,
    TimestampType,
)

from safedata_pipeline_spark.partitioning import spread_small

ROUND_N = 6


def _is_numeric(dt) -> bool:
    return isinstance(dt, NumericType)


def _is_timestamp(dt) -> bool:
    return isinstance(dt, (TimestampType, TimestampNTZType, DateType))


def _dtype_name(dt) -> str:
    # normalize tz-naive parquet timestamps to plain "timestamp"
    return "timestamp" if _is_timestamp(dt) and not isinstance(dt, DateType) else dt.simpleString()


def limit_preview(df: DataFrame, order_cols: list[str], n: int = 5) -> DataFrame:
    """P1 head/limit — deterministic preview (reference app.py:142)."""
    return df.orderBy(*order_cols).limit(n)


def project(df: DataFrame, cols: list[str]) -> DataFrame:
    """P2 column projection (reference risk.py:28) — column pruning
    reaches the parquet scan via Catalyst."""
    return df.select(*cols)


def row_count(df: DataFrame) -> DataFrame:
    """A3 row count."""
    return df.agg(F.count(F.lit(1)).alias("n_rows"))


def group_count(df: DataFrame, col: str) -> DataFrame:
    """A1 value_counts(dropna=False): null is its own group, so count
    via count(*) per group (count(col) would skip nulls)."""
    return df.groupBy(col).agg(F.count(F.lit(1)).alias("cnt"))


def group_freq_norm(df: DataFrame, col: str) -> DataFrame:
    """A2 value_counts(normalize=True) (reference privacy.py:50).

    The post-aggregation table is |distinct| rows, so the global-total
    window runs on a tiny intermediate, not the base data.
    """
    counts = group_count(df, col)
    total = Window.partitionBy()
    return counts.select(
        col,
        F.round(F.col("cnt") / F.sum("cnt").over(total), ROUND_N).alias("freq"),
    )


def value_counts(df: DataFrame, col: str) -> DataFrame:
    """A1+A2 in one result: per-value count AND normalized frequency
    (``value_counts(dropna=False)`` ∪ ``normalize=True``) — same
    aggregation, the total ridden over the tiny post-agg table."""
    counts = group_count(df, col)
    total = Window.partitionBy()
    return counts.select(
        col,
        F.col("cnt"),
        F.round(F.col("cnt") / F.sum("cnt").over(total), ROUND_N).alias("freq"),
    )


def null_profile(df: DataFrame) -> DataFrame:
    """A4 per-column null count + % — one wide agg, melted via inline."""
    n = F.count(F.lit(1))
    aggs = [n.alias("__n")] + [
        F.sum(F.col(f.name).isNull().cast("long")).alias(f"miss__{f.name}")
        for f in df.schema.fields
    ]
    row = df.agg(*aggs)
    structs = [
        F.struct(
            F.lit(f.name).alias("column"),
            F.col(f"miss__{f.name}").alias("n_missing"),
            F.round(F.col(f"miss__{f.name}") * 100.0 / F.col("__n"), 2).alias("missing_pct"),
        )
        for f in df.schema.fields
    ]
    return row.select(F.inline(F.array(*structs)))


def distinct_counts(df: DataFrame, cols: list[str], exact: bool = True) -> DataFrame:
    """A5 nunique(dropna=True) per column. exact=False uses HLL
    (approx_count_distinct) — the 100 TB path (single pass, no Expand)."""
    fn = F.count_distinct if exact else F.approx_count_distinct
    row = df.agg(*[fn(F.col(c)).alias(f"u__{c}") for c in cols])
    structs = [
        F.struct(F.lit(c).alias("column"), F.col(f"u__{c}").alias("n_unique"))
        for c in cols
    ]
    return row.select(F.inline(F.array(*structs)))


def numeric_profile(df: DataFrame, cols: list[str], exact: bool = True) -> DataFrame:
    """A6/A7 moments + percentiles for numeric columns, one wide agg.

    ``F.percentile`` (exact linear interpolation, matches pandas
    ``quantile``/DuckDB ``quantile_cont``) for parity; the scale path
    is ``percentile_approx`` (Greenwald-Khanna sketch, one pass).
    """
    pct = [0.25, 0.5, 0.75]
    aggs: list[Column] = []
    for c in cols:
        col = F.col(c)
        aggs += [
            F.avg(col).alias(f"mean__{c}"),
            F.stddev_samp(col).alias(f"std__{c}"),
            F.min(col).cast("double").alias(f"min__{c}"),
            F.max(col).cast("double").alias(f"max__{c}"),
        ]
        if exact:
            aggs.append(F.percentile(col, F.array(*[F.lit(p) for p in pct])).alias(f"pct__{c}"))
        else:
            aggs.append(F.percentile_approx(col, F.array(*[F.lit(p) for p in pct])).alias(f"pct__{c}"))
    row = df.agg(*aggs)
    structs = []
    for c in cols:
        structs.append(
            F.struct(
                F.lit(c).alias("column"),
                F.round(F.col(f"mean__{c}"), ROUND_N).alias("mean"),
                F.round(F.col(f"std__{c}"), ROUND_N).alias("std"),
                F.round(F.col(f"min__{c}"), ROUND_N).alias("min_num"),
                F.round(F.element_at(F.col(f"pct__{c}"), 1), ROUND_N).alias("p25"),
                F.round(F.element_at(F.col(f"pct__{c}"), 2), ROUND_N).alias("median"),
                F.round(F.element_at(F.col(f"pct__{c}"), 3), ROUND_N).alias("p75"),
                F.round(F.col(f"max__{c}"), ROUND_N).alias("max_num"),
            )
        )
    return row.select(F.inline(F.array(*structs)))


def _tagged_melt(
    dfs: list[DataFrame],
    counts: list[str],
    with_num: bool = True,
    keep_val: set[str] | tuple | None = None,
) -> DataFrame:
    """One explode over every column of every side → rows ``(column,
    val, val_num, *counts)``: per-(column, value) frequencies from a
    single scan + shuffle, regardless of column count, with side ``i``'s
    frequency in ``counts[i]`` (0 where the value never occurs there).
    Null-group rows carry val and val_num NULL.

    ``val`` is the value's string form; ``val_num`` (``with_num``) is the
    value cast to double for columns NUMERIC on that side, taken from
    the original column (not the string round-trip) so float semantics
    are exact — which lets downstream consumers compute order
    statistics from the same exchange. A numeric column keeps its
    string form only when it is in ``keep_val`` (``None`` keeps all):
    the string of a near-unique double is dead weight wherever nothing
    reads it (top/freq is NULL-masked for non-string columns), and
    stringifying them was the row-multiply stage's biggest allocation
    (GC-bimodal medians).

    Formulation: explode-of-structs, NOT ``groupingSets``. Both
    multiply rows ×len(cols) before the partial aggregate, but the
    grouping-sets Expand groups on all len(cols)+1 key slots (one per
    source column + grouping id, 15/16 of them NULL per row — wide
    UnsafeRows, wide hash/equality per probe), while the exploded form
    groups on exactly (column, val, val_num). Measured at sf0.1×16
    cols: 2.2→2.0s median with the 6.3s GC tail collapsing to 2.7s;
    output verified row-identical. Same scale shape either way: one
    scan, one shuffle keyed by (column, value), map-side partial
    combine."""
    null_s = F.lit(None).cast("string")
    null_d = F.lit(None).cast("double")
    parts = []
    for i, df in enumerate(dfs):
        structs = []
        for f in df.schema.fields:
            c, num = f.name, _is_numeric(f.dataType)
            keep = not num or keep_val is None or c in keep_val
            structs.append(
                F.struct(
                    F.lit(c).alias("column"),
                    (F.col(c).cast("string") if keep else null_s).alias("val"),
                    (F.col(c).cast("double") if num and with_num else null_d).alias("val_num"),
                )
            )
        tags = [F.lit(int(i == j)).alias(k) for j, k in enumerate(counts)]
        # the explode multiplies every input row ×len(cols) BEFORE the
        # partial aggregate, so a few-split fixture scan leaves 29 of 32
        # cores idle under the heaviest map stage (measured 3 tasks at
        # sf0.1); spread_small is a no-op once the scan has enough splits
        parts.append(spread_small(df).select(F.explode(F.array(*structs)).alias("e"), *tags))
    u = parts[0]
    for p in parts[1:]:
        u = u.unionByName(p)
    return u.groupBy("e.column", "e.val", "e.val_num").agg(
        *[F.sum(k).alias(k) for k in counts]
    )


def _grouping_sets_tagged(
    df: DataFrame,
    cols: list[str],
    with_num: bool = False,
    skip_val_for_numeric: bool = False,
) -> DataFrame:
    """``_tagged_melt`` of one table's ``cols`` → rows ``(column, val,
    cnt)`` (+ ``val_num`` with ``with_num``); ``skip_val_for_numeric``
    leaves ``val`` NULL on numeric columns (requires ``with_num``, which
    then carries their presence and ordering)."""
    tagged = _tagged_melt(
        [df.select(*cols)], ["cnt"], with_num, () if skip_val_for_numeric else None
    )
    return tagged.select("column", "val", "cnt", *(["val_num"] if with_num else []))


def _value_stats_from_tagged(
    tagged: DataFrame,
    counts: dict[str, str] | None = None,
    distinct_num: dict[str, list[str]] | None = None,
) -> DataFrame:
    """nunique + mode + top frequency per column from a tagged melt, in
    ONE ``groupBy("column")``: for each count column ``k`` with output
    suffix ``counts[k]`` (default ``{"cnt": ""}``) the aggregates are
    masked to the groups where ``k > 0``, giving ``nunique<sfx>``,
    ``top<sfx>``, ``freq<sfx>``. A non-null group is one whose val OR
    val_num is present (numeric columns may carry only val_num; their
    top/freq come back NULL, which basic_stats NULL-masks for non-string
    columns regardless). Every column with a melt row gets a row.

    A group is one distinct (val, val_num) pair, so nunique counts
    groups — except for the numeric columns in ``distinct_num[k]``,
    which also carry their string form: Spark normalizes ``-0.0`` to
    ``0.0`` in a grouping key but ``"-0.0" ≠ "0.0"``, so there two
    groups can hold one number, and nunique counts distinct val_num."""
    counts = counts or {"cnt": ""}
    distinct_num = distinct_num or {}
    present = F.col("val").isNotNull()
    if "val_num" in tagged.columns:
        present = present | F.col("val_num").isNotNull()
    aggs = []
    for k, sfx in counts.items():
        on = present & (F.col(k) > 0)
        key = F.when(on, F.struct((-F.col(k)).alias("nc"), F.col("val").alias("v")))
        nunique = F.count(F.when(on, F.lit(1)))
        if distinct_num.get(k):
            dual = F.col("column").isin(*distinct_num[k])
            nunique = F.count(F.when(on & ~dual, F.lit(1))) + F.count_distinct(
                F.when(on & dual, F.col("val_num"))
            )
        aggs += [
            nunique.alias(f"nunique{sfx}"),
            F.min_by("val", key).alias(f"top{sfx}"),
            F.min_by(k, key).alias(f"freq{sfx}"),
        ]
    return tagged.groupBy("column").agg(*aggs)


def _percentiles_from_tagged(
    tagged: DataFrame,
    num_cols: list[str],
    pcts: list[float],
    counts: dict[str, str] | None = None,
    extra: dict[str, Column] | None = None,
) -> DataFrame:
    """Exact interpolated percentiles per numeric column from the
    (column, val_num, <count>) frame — the second shared-exchange
    consumer, replacing per-column ``F.percentile`` buffers in
    ``basic_stats``'s wide agg (whose partial maps all merged in ONE
    reducer task; measured as the query's dominant cost at sf0.1).
    For each count column ``k`` with output suffix ``counts[k]``
    (default ``{"cnt": ""}``) it gives ``__pq<i><sfx>`` per percentile,
    NULL where ``k`` has no value in the column; ``extra`` aggregates
    (name → Column) ride the same per-column aggregate over the
    ``ranged_prefix`` frame (``x``, ``__cum_<k>``, ``__tot_<k>``).

    Replays Spark's ``Percentile.getPercentile`` arithmetic exactly:
    ``pos = p·(n−1)``; value at ``floor(pos)`` when pos is integral,
    else ``(⌈pos⌉−pos)·lower + (pos−⌊pos⌋)·higher`` — bit-identical to
    the builtin on the fixture and on adversarial random doubles
    (tests/test_profile.py pins this), so the oracle SQL is unchanged.

    Shape: the counts frame is |Σ distinct| rows; the cumulative comes
    from ``partitioning.ranged_prefix`` (range-partitioned parallel prefix sums —
    r12: a ``partitionBy(column)`` window put a near-unique double
    column's ~n distinct values in ONE sort task, measured as
    basic_stats' dominant stage at sf0.1: 1.5s of the 2.2s percentile
    consumer on l_extendedprice's 583k-row partition). The value at
    0-based rank k is recovered WITHOUT the per-row count column:
    x and cum are co-monotone within a column, so it is simply
    ``min{x : cum ≥ k+1}`` — one conditional min per rank, exact
    integers throughout, bit-identical to the windowed form. Rows where
    ``k`` is 0 (another side's values) leave cum flat, so the rule
    holds for every count column of a tagged melt at once."""
    counts = counts or {"cnt": ""}
    extra = extra or {}
    if not num_cols:
        names = [f"__pq{i}{sfx}" for sfx in counts.values() for i in range(len(pcts))]
        return tagged.sparkSession.createDataFrame(
            [], "column string" + "".join(f", {n} double" for n in [*names, *extra])
        )
    from safedata_pipeline_spark.partitioning import ranged_prefix

    nums = tagged.where(
        F.col("column").isin(*num_cols) & F.col("val_num").isNotNull()
    ).select("column", F.col("val_num").alias("x"), *counts)
    d = ranged_prefix(nums, ["x"], list(counts), ["column"])
    aggs = []
    finish = []
    for k, sfx in counts.items():
        cum, tot = F.col(f"__cum_{k}"), F.col(f"__tot_{k}")
        aggs.append(F.max(tot).alias(f"__n{sfx}"))
        for i, p in enumerate(pcts):
            pos = F.lit(float(p)) * (tot - 1)
            kk = F.floor(pos)
            aggs += [
                F.min(F.when(cum >= kk + 1, F.col("x"))).alias(f"__lo{i}{sfx}"),
                F.min(F.when(cum >= kk + 2, F.col("x"))).alias(f"__hi{i}{sfx}"),
                F.max(pos).alias(f"__pos{i}{sfx}"),
            ]
            posc, kc = F.col(f"__pos{i}{sfx}"), F.floor(F.col(f"__pos{i}{sfx}"))
            lo = F.col(f"__lo{i}{sfx}")
            hi = F.coalesce(F.col(f"__hi{i}{sfx}"), lo)
            value = F.when(posc == kc, lo).otherwise((kc + 1 - posc) * lo + (posc - kc) * hi)
            # a side with no value here has tot 0, so pos < 0 and the
            # rank mins would pick up another side's values
            finish.append(F.when(F.col(f"__n{sfx}") > 0, value).alias(f"__pq{i}{sfx}"))
    aggs += [e.alias(n) for n, e in extra.items()]
    return d.groupBy("column").agg(*aggs).select("column", *finish, *extra)


def top_freq(df: DataFrame, cols: list[str]) -> DataFrame:
    """A8 mode + top frequency per column (reference utility.py:70-71).

    pandas ``mode().iloc[0]`` returns the smallest value on frequency
    ties, so the tiebreak is (freq DESC, value ASC) — expressed as
    ``min_by`` over the (-freq, value) struct, a hash aggregation with
    map-side partials (no per-column pass, no sort). Nulls excluded.
    """
    tagged = _grouping_sets_tagged(df, cols).where(F.col("val").isNotNull())
    key = F.struct((-F.col("cnt")).alias("nc"), F.col("val").alias("v"))
    return tagged.groupBy("column").agg(
        F.min_by("val", key).alias("top"), F.min_by("cnt", key).alias("freq")
    )


def value_stats(df: DataFrame, cols: list[str]) -> DataFrame:
    """nunique + mode + top frequency for every column from ONE
    grouping-sets pass: rows ``(column, nunique, top, freq)``.

    Exists because combining multi-column ``count_distinct`` (an Expand
    ×cols plan) with percentile buffers in one aggregation multiplies
    the percentile input by the column count — measured 78s vs 8s at
    sf0.1. Distinct counting over grouped values avoids Expand
    entirely."""
    return _value_stats_from_tagged(_grouping_sets_tagged(df, cols))


PCTS = [0.25, 0.5, 0.75]


def column_stats(
    dfs: list[DataFrame],
    num_aggs: dict[str, Column] | None = None,
    cat_cols: list[str] | tuple = (),
    cat_aggs: dict[str, Column] | None = None,
) -> DataFrame:
    """The exact per-column value statistics of one or more tables
    ("sides") from ONE tagged melt, pinned: one row per column with, for
    side ``i``, ``nunique_<i>``, ``top_<i>``, ``freq_<i>`` and the
    quartiles ``__pq0_<i>``..``__pq2_<i>``.

    The melt (``_tagged_melt``, side ``i`` counted in ``k<i>``) is pinned
    once and read by up to three per-column aggregates:
      * value stats — one side-masked ``groupBy("column")``;
      * quartiles — ONE ``ranged_prefix`` over the numeric rows with
        every side's count (``_percentiles_from_tagged``); ``num_aggs``
        ride its per-column aggregate (two-sample KS reads
        ``__cum_k<i>`` / ``__tot_k<i>`` there);
      * ``cat_aggs`` over ``cat_cols`` regrouped by category — the
        value's string form, NULL counted as "NA" as in
        ``drift.distribution_drift`` — with aligned side counts ``k<i>``
        (the χ² sum). A numeric column in ``cat_cols`` keeps its string
        form in the melt for this.
    The three join on column into one small frame, pinned, so every
    table built from it (``basic_stats``, ``drift.profiles_and_drift``)
    reads the melt's work once."""
    from safedata_pipeline_spark.checkpoint import pin_lazy

    counts = [f"k{i}" for i in range(len(dfs))]
    sfx = {k: f"_{i}" for i, k in enumerate(counts)}
    numeric = [{f.name for f in df.schema.fields if _is_numeric(f.dataType)} for df in dfs]
    keep_val = set(cat_cols)
    melt = pin_lazy(_tagged_melt(dfs, counts, keep_val=keep_val))
    vs = _value_stats_from_tagged(
        melt, sfx, {k: sorted(numeric[i] & keep_val) for i, k in enumerate(counts)}
    )
    num_cols = sorted(set().union(*numeric))
    pq = _percentiles_from_tagged(melt, num_cols, PCTS, sfx, num_aggs)
    # every per-column aggregate comes out hash-partitioned on column, so
    # a merge join reads them where they are; a broadcast of the right
    # side would run as one more job per join
    stats = vs.join(pq.hint("merge"), on="column", how="left")
    if cat_cols:
        cats = (
            melt.where(F.col("column").isin(*cat_cols))
            .groupBy("column", F.coalesce(F.col("val"), F.lit("NA")).alias("cat"))
            .agg(*[F.sum(k).alias(k) for k in counts])
        )
        per_col = cats.groupBy("column").agg(*[e.alias(n) for n, e in (cat_aggs or {}).items()])
        stats = stats.join(per_col.hint("merge"), on="column", how="left")
    return pin_lazy(stats)


def _moments(df: DataFrame, exact: bool) -> DataFrame:
    """The profile's wide-aggregate part: count, per-column missing,
    numeric moments, timestamp min/max (and ``percentile_approx``
    quartiles unless ``exact``) — one row per column, every other
    statistic NULL. NO spread_small, deliberately: repartitioning before
    avg/stddev changes double summation ORDER, and a last-ulp drift
    flips the 6dp round at a boundary (observed on l_tax mean at
    sf0.01) — the float moments must ride the natural scan order the
    oracle also sums in. This agg is cheap without the percentile
    buffers; the heavy melt spreads safely because its aggregates are
    exact integers / distinct values."""
    fields = df.schema.fields
    aggs: list[Column] = [F.count(F.lit(1)).alias("__n")]
    for f in fields:
        c, col = f.name, F.col(f.name)
        aggs.append(F.sum(col.isNull().cast("long")).alias(f"miss__{c}"))
        if _is_numeric(f.dataType):
            aggs += [
                F.avg(col).alias(f"mean__{c}"),
                F.stddev_samp(col).alias(f"std__{c}"),
                F.min(col).cast("double").alias(f"min__{c}"),
                F.max(col).cast("double").alias(f"max__{c}"),
            ]
            if not exact:
                aggs.append(
                    F.percentile_approx(
                        col, F.array(*[F.lit(x) for x in PCTS])
                    ).alias(f"pct__{c}")
                )
        elif _is_timestamp(f.dataType):
            aggs += [
                F.min(col).cast("timestamp_ntz").alias(f"mints__{c}"),
                F.max(col).cast("timestamp_ntz").alias(f"maxts__{c}"),
            ]
    row = df.agg(*aggs)

    null_d = F.lit(None).cast("double")
    null_ts = F.lit(None).cast("timestamp_ntz")
    structs = []
    for f in fields:
        c = f.name
        num = _is_numeric(f.dataType)
        ts = _is_timestamp(f.dataType)
        approx_num = num and not exact
        structs.append(
            F.struct(
                F.lit(c).alias("column"),
                F.lit(_dtype_name(f.dataType)).alias("dtype"),
                F.col("__n").alias("count"),
                F.col(f"miss__{c}").alias("missing"),
                F.round(F.col(f"miss__{c}") * 100.0 / F.col("__n"), 2).alias("missing_pct"),
                (F.round(F.col(f"mean__{c}"), ROUND_N) if num else null_d).alias("mean"),
                (F.round(F.col(f"std__{c}"), ROUND_N) if num else null_d).alias("std"),
                (F.round(F.col(f"min__{c}"), ROUND_N) if num else null_d).alias("min_num"),
                (F.round(F.element_at(F.col(f"pct__{c}"), 1), ROUND_N) if approx_num else null_d).alias("p25"),
                (F.round(F.element_at(F.col(f"pct__{c}"), 2), ROUND_N) if approx_num else null_d).alias("median"),
                (F.round(F.element_at(F.col(f"pct__{c}"), 3), ROUND_N) if approx_num else null_d).alias("p75"),
                (F.round(F.col(f"max__{c}"), ROUND_N) if num else null_d).alias("max_num"),
                (F.col(f"mints__{c}") if ts else null_ts).alias("min_ts"),
                (F.col(f"maxts__{c}") if ts else null_ts).alias("max_ts"),
            )
        )
    return row.select(F.inline(F.array(*structs)))


def profile_from_stats(df: DataFrame, stats: DataFrame, side: int = 0) -> DataFrame:
    """``df``'s exact profile table: its ``_moments`` joined with side
    ``side`` of a ``column_stats`` frame on column name."""
    side_stats = stats.select(
        "column",
        *[F.col(f"{s}_{side}").alias(s) for s in ("nunique", "top", "freq")],
        *[F.col(f"__pq{i}_{side}").alias(f"__pq{i}") for i in range(len(PCTS))],
    )
    return _profile(df, side_stats, exact=True)


def _profile(df: DataFrame, stats: DataFrame, exact: bool) -> DataFrame:
    fields = df.schema.fields
    str_cols = [f.name for f in fields if isinstance(f.dataType, StringType)]
    profile = _moments(df, exact).join(F.broadcast(stats), on="column", how="left")
    if exact:
        for i, name in enumerate(("p25", "median", "p75")):
            profile = profile.withColumn(name, F.round(F.col(f"__pq{i}"), ROUND_N))
    is_str = F.col("column").isin(*str_cols) if str_cols else F.lit(False)
    profile = (
        profile.withColumn("nunique", F.coalesce(F.col("nunique"), F.lit(0)))
        .withColumn("top", F.when(is_str, F.col("top")))
        .withColumn("freq", F.when(is_str, F.col("freq")))
    )
    order = [
        "column", "dtype", "count", "missing", "missing_pct", "nunique",
        "mean", "std", "min_num", "p25", "median", "p75", "max_num",
        "min_ts", "max_ts", "top", "freq",
    ]
    return profile.select(*order)


def basic_stats(df: DataFrame, exact: bool = True) -> DataFrame:
    """A12 full profiling table — reference ``basic_stats``
    (utility.py:17-86): one row per column with count/missing/nunique,
    numeric moments+percentiles, datetime min/max, categorical top/freq.

    Two passes over the data, vs. the reference's one-pass-per-column
    loop:
      1. one wide agg (``_moments``): count, per-column missing, numeric
         moments, timestamp min/max — WITHOUT percentile buffers in
         exact mode (their per-column value maps all merge in a single
         reducer task; measured as the query's dominant cost at sf0.1 —
         VERDICT r9 #6) and WITHOUT count_distinct (the Expand ×cols
         it triggers multiplied the old percentile input — 78s → 8s
         when first split out);
      2. ``column_stats`` of the one table: a tagged melt, pinned, whose
         value stats and exact interpolated quartiles (bit-identical to
         ``F.percentile``, unit-pinned, so the oracle is unchanged) join
         into one small pinned frame. ``drift.profiles_and_drift`` runs
         the same pass over two tables at once.
    The tiny results broadcast-join on column name. ``exact=False``
    keeps percentile_approx in the wide agg and skips the pins — the
    100 TB path (the pinned counts frame is |Σ distinct| rows, fine at
    fixture/profile scale, unbounded on a raw corpus). Output schema
    is fixed and typed; branch-inapplicable stats are NULL (the
    reference leaves them absent/NaN in a ragged frame).
    """
    if exact:
        return profile_from_stats(df, column_stats([df]))
    return _profile(df, value_stats(df, df.columns), exact=False)


def correlation_matrix(df: DataFrame, cols: list[str]) -> DataFrame:
    """Pairwise Pearson correlation of numeric columns in ONE scan →
    long form ``(col_a, col_b, corr)``, col_a < col_b — the utility-
    measurement companion to drift (does the protected table keep the
    correlation structure?).

    All k + k + k·(k−1)/2 moment sums (Σx, Σx², Σxy) ride a single
    wide aggregate; sums use DECIMAL(38,12) so they're partition-order
    independent, and the correlation arithmetic runs driver-free in one
    fixed-order expression per pair — engine-reproducible to the
    rounded 6 decimals. Rows with a NULL in ANY requested column are
    dropped (listwise deletion) so every pair sees the same n.
    """
    pairs = [(a, b) for i, a in enumerate(cols) for b in cols[i + 1 :]]
    if not pairs:
        return df.sparkSession.createDataFrame(
            [], "col_a string, col_b string, corr double"
        )
    d = df.select(*[F.col(c).cast("double").alias(c) for c in cols]).dropna()
    # spread-safe, unlike the float moments in basic_stats: every sum
    # below is a DECIMAL(38,12) of a per-row value — exact and
    # partition-order independent — so unlocking all cores under the
    # k²/2 moment expressions cannot move any output bit (no-op on a
    # many-split corpus scan)
    d = spread_small(d)
    dec = lambda c: c.cast("decimal(38,12)")
    aggs = [F.count(F.lit(1)).alias("n")]
    for c in cols:
        aggs.append(F.sum(dec(F.col(c))).alias(f"s_{c}"))
        aggs.append(F.sum(dec(F.col(c) * F.col(c))).alias(f"ss_{c}"))
    for a, b in pairs:
        aggs.append(F.sum(dec(F.col(a) * F.col(b))).alias(f"sp_{a}__{b}"))
    m = d.agg(*aggs)
    outs = []
    n = F.col("n").cast("double")
    for a, b in pairs:
        sa, sb = F.col(f"s_{a}").cast("double"), F.col(f"s_{b}").cast("double")
        ssa, ssb = F.col(f"ss_{a}").cast("double"), F.col(f"ss_{b}").cast("double")
        sp = F.col(f"sp_{a}__{b}").cast("double")
        cov = n * sp - sa * sb
        var_a, var_b = n * ssa - sa * sa, n * ssb - sb * sb
        corr = F.when(
            (var_a > 0) & (var_b > 0), F.round(cov / F.sqrt(var_a * var_b), ROUND_N)
        )
        outs.append(
            F.struct(F.lit(a).alias("col_a"), F.lit(b).alias("col_b"), corr.alias("corr"))
        )
    return m.select(F.inline(F.array(*outs)))


def robust_stats(df: DataFrame, cols: list[str]) -> DataFrame:
    """Outlier-resistant per-column location/spread profile → one row
    per column: ``(column, median, p25, p75, iqr, mad)`` with MAD the
    median absolute deviation (median of |x − median|), the robust
    stddev stand-in (σ ≈ 1.4826·MAD under normality).

    ONE corpus scan and ONE job (was 2 scans + a driver-collect
    barrier between them): the per-column value-counts frame
    (``_grouping_sets_tagged``, pinned) feeds quartiles/medians
    (``_percentiles_from_tagged`` — the bit-exact F.percentile replay)
    and the MAD as a WEIGHTED median over the same counts — dev =
    |val − med_c| per distinct value with its count (the median rides
    a broadcast join, not a collected literal, so nothing blocks the
    pipeline), re-grouped (two values can share a dev) and replayed
    through the same interpolation. The dev multiset is identical to
    the row-wise computation, so the result is bit-equal to a melted
    F.percentile pass. ``percentile_approx`` over raw rows is the
    drop-in at 100 TB (the counts frame is |Σ distinct| rows).
    """
    from safedata_pipeline_spark.checkpoint import pin_lazy

    # Loud-failure contract (ADVICE r10): the shared counts frame only
    # populates val_num for schema-numeric columns, so a misspelled or
    # string-typed column would silently VANISH from the output where
    # the old F.percentile path raised. Validate up front instead.
    numeric = {f.name for f in df.schema.fields if _is_numeric(f.dataType)}
    bad = [c for c in cols if c not in numeric]
    if bad:
        raise ValueError(
            f"robust_stats requires numeric columns; not numeric in "
            f"schema (or absent): {bad}"
        )

    # skip_val_for_numeric: every robust_stats column is numeric (just
    # validated) and no consumer reads the string form — quartiles and
    # the MAD regroup ride val_num — so stringifying near-unique
    # doubles into `val` was pure Expand allocation
    tagged = pin_lazy(
        _grouping_sets_tagged(df, cols, with_num=True, skip_val_for_numeric=True)
    )
    # the quartile frame is O(columns) rows with TWO consumers (the
    # MAD's median broadcast + the final projection) — pin it so the
    # percentile chain over the counts frame runs once
    quarts = pin_lazy(_percentiles_from_tagged(tagged, cols, [0.25, 0.5, 0.75]))
    med = quarts.select("column", F.col("__pq1").alias("__med"))
    dev_counts = (
        tagged.join(F.broadcast(med), "column")
        .where(F.col("val_num").isNotNull())
        .select(
            "column",
            F.abs(F.col("val_num") - F.col("__med")).alias("val_num"),
            "cnt",
        )
        .groupBy("column", "val_num")
        .agg(F.sum("cnt").alias("cnt"))
    )
    mads = _percentiles_from_tagged(dev_counts, cols, [0.5]).select(
        "column", F.round(F.col("__pq0"), ROUND_N).alias("mad")
    )

    def _r6(c):
        # half-up snap (SQL round(); matches the engine's float snaps)
        return F.floor(c * 1e6 + F.lit(0.5)) / 1e6

    qdf = quarts.where(F.col("__pq1").isNotNull()).select(
        "column",
        _r6(F.col("__pq1")).alias("median"),
        _r6(F.col("__pq0")).alias("p25"),
        _r6(F.col("__pq2")).alias("p75"),
        _r6(F.col("__pq2") - F.col("__pq0")).alias("iqr"),
    )
    # mads is O(columns) rows, but its size estimate (through
    # ranged_prefix's checkpointed frame) does not show it
    return qdf.join(F.broadcast(mads), on="column", how="left")


def skew_report(df: DataFrame, key_col: str) -> DataFrame:
    """Join/group-key skew audit → 1 row: ``(n_rows, n_keys,
    max_key_count, avg_key_count, p50_count, p90_count, p99_count,
    skew_ratio)`` with skew_ratio = max/avg — the measurement that
    decides between a plain shuffle join, AQE skew splitting, and
    ``salted_join`` (salt only when skew is measured, not suspected).

    One grouped count (map-side combinable) + one aggregate over the
    per-key count table (size = |keys|, already reduced). NULL keys
    count as a key, mirroring groupBy semantics.
    """
    counts = df.groupBy(key_col).agg(F.count(F.lit(1)).alias("c"))
    pct = F.percentile(F.col("c"), F.array(F.lit(0.5), F.lit(0.9), F.lit(0.99)))
    return counts.agg(
        F.sum("c").cast("bigint").alias("n_rows"),
        F.count(F.lit(1)).cast("bigint").alias("n_keys"),
        F.max("c").cast("bigint").alias("max_key_count"),
        F.round(F.sum("c") / F.count(F.lit(1)), ROUND_N).alias("avg_key_count"),
        F.element_at(pct, 1).alias("p50_count"),
        F.element_at(pct, 2).alias("p90_count"),
        F.element_at(pct, 3).alias("p99_count"),
        F.round(F.max("c") / (F.sum("c") / F.count(F.lit(1))), ROUND_N).alias("skew_ratio"),
    )


def column_entropy(df: DataFrame, cols: list[str]) -> DataFrame:
    """Shannon entropy (nats) of each column's value distribution,
    nulls included as a category → one row per column:
    ``(column, n_categories, entropy)``.

    The privacy read: a quasi-identifier column's entropy bounds its
    contribution to re-identification (high-entropy QI ⇒ small
    equivalence classes); the curation read: near-zero entropy flags
    degenerate/constant columns. One melted count pass for ALL columns
    (the ``sdc_suppress`` fit shape) + per-column sums; −p·ln p terms
    round@10 → DECIMAL-sum so the ln-bearing float total is order- and
    engine-independent.
    """
    structs = [
        F.struct(F.lit(c).alias("column"), F.col(c).cast("string").alias("val"))
        for c in cols
    ]
    melted = df.select(F.inline(F.array(*structs)))
    counts = melted.groupBy("column", "val").agg(F.count(F.lit(1)).alias("c"))
    w_col = Window.partitionBy("column")
    p = F.col("c") / F.sum("c").over(w_col)
    term = F.round(-p * F.log(p), 10).cast("decimal(38,10)")
    return (
        counts.select("column", term.alias("t"))
        .groupBy("column")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_categories"),
            F.round(F.sum("t").cast("double"), ROUND_N).alias("entropy"),
        )
    )


def quantile_rank(df: DataFrame, col: str) -> DataFrame:
    """Rank-based quantile normalization: append ``q_rank`` = the
    ECDF position of each row's ``col`` value (rows with value ≤ v,
    over total non-null rows — exactly SQL ``cume_dist()``) — the ML
    feature transform that is uniform-[0,1] by construction and
    robust to outliers. NULL values get NULL rank.

    Scale shape: a global ``cume_dist`` window would sort all rows in
    ONE task; instead the distinct-value table runs through
    ``partitioning.ranged_prefix`` (range-partitioned parallel prefix sums) and
    the per-value ranks join back — the join key is the value, whose
    distinct table is the small side. Results are bit-identical to
    the single-window form (integer counts, one final division).
    """
    from safedata_pipeline_spark.partitioning import ranged_prefix

    g = (
        df.where(F.col(col).isNotNull())
        .select(F.col(col).alias("__v"))
        .groupBy("__v")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    ranks = ranged_prefix(g, ["__v"], ["n"]).select(
        "__v", F.round(F.col("__cum_n") / F.col("__tot_n"), 6).alias("q_rank")
    )
    return df.join(
        ranks, on=df[col].eqNullSafe(F.col("__v")), how="left"
    ).drop("__v")


def group_quantiles(
    df: DataFrame,
    group_col: str,
    val_col: str,
    probs: tuple[float, ...] = (0.25, 0.5, 0.75),
) -> DataFrame:
    """Exact per-group percentiles in ONE grouped aggregate (the
    percentile array computes all probs in a single buffer) → one row
    per group: ``(group, p25, p50, p75, …)``. The grouped flavor of
    ``numeric_profile``'s percentile block — per-source length/quality
    bands for dashboards. ``percentile_approx`` is the 100 TB drop-in,
    same as every exact-percentile site.
    """
    pct = F.percentile(
        F.col(val_col), F.array(*[F.lit(float(p)) for p in probs])
    )
    cols = [
        F.round(F.element_at(pct, i + 1), 6).alias(f"p{int(round(p * 100)):02d}")
        for i, p in enumerate(probs)
    ]
    return df.groupBy(group_col).agg(*cols)


def mutual_information(df: DataFrame, col_x: str, col_y: str) -> DataFrame:
    """Mutual information (nats) between two categorical columns, nulls
    as their own category → 1 row ``(mi, n_x_categories,
    n_y_categories)``.

    The privacy read: MI between a quasi-identifier and a sensitive
    column measures how much the QI leaks about it (the quantity
    t-closeness bounds indirectly); the curation read: near-zero MI
    between `source` and `lang` says the mixture is balanced, high MI
    flags a source dominating a language.

    Shape: ONE groupBy over (x, y); marginals fall out of window sums
    over that grouped table (|x|·|y| rows — dashboard-sized), so the
    data is scanned once and shuffled once. MI = Σ (c_xy/N)·ln(c_xy·N /
    (c_x·c_y)) — every ln argument is a ratio of exact integers.
    Per-term round@10 → DECIMAL-sum keeps the ln-bearing float total
    order- and engine-independent.
    """
    d = df.select(
        F.coalesce(F.col(col_x).cast("string"), F.lit("__NULL__")).alias("x"),
        F.coalesce(F.col(col_y).cast("string"), F.lit("__NULL__")).alias("y"),
    )
    cxy = d.groupBy("x", "y").agg(F.count(F.lit(1)).alias("cxy"))
    w_all = Window.partitionBy()
    w_x = Window.partitionBy("x")
    w_y = Window.partitionBy("y")
    p = cxy.select(
        "x",
        "y",
        "cxy",
        F.sum("cxy").over(w_x).alias("cx"),
        F.sum("cxy").over(w_y).alias("cy"),
        F.sum("cxy").over(w_all).alias("n"),
    )
    term = F.round(
        (F.col("cxy") / F.col("n"))
        * F.log((F.col("cxy") * F.col("n")) / (F.col("cx") * F.col("cy"))),
        10,
    ).cast("decimal(38,10)")
    return p.agg(
        F.round(F.sum(term).cast("double"), ROUND_N).alias("mi"),
        F.count_distinct("x").cast("bigint").alias("n_x_categories"),
        F.count_distinct("y").cast("bigint").alias("n_y_categories"),
    )


def table_diff(a: DataFrame, b: DataFrame) -> DataFrame:
    """Schema-aligned dataset diff summary → 1 row ``(n_a, n_b,
    n_only_a, n_only_b, n_common)`` under multiset (EXCEPT ALL)
    semantics — the regression check for pipeline changes ("did the new
    protect chain alter rows it shouldn't have?").

    Shape: ONE tagged union + ONE full-row groupBy (per-side counts),
    then a tiny final agg — one scan per input and a single shuffle,
    replacing the r3 form's four eager jobs (2 counts + 2 exceptAll
    scans). Multiset identities fall out of the per-row (ca, cb)
    pairs: n_only_a = Σ max(ca−cb, 0), n_common = Σ min(ca, cb).
    GroupBy treats NULLs as equal, matching EXCEPT ALL semantics.
    """
    cols = a.columns
    ta = a.withColumns({"__ca": F.lit(1), "__cb": F.lit(0)})
    tb = b.select(*cols).withColumns({"__ca": F.lit(0), "__cb": F.lit(1)})
    g = (
        ta.unionByName(tb)
        .groupBy(*cols)
        .agg(F.sum("__ca").alias("ca"), F.sum("__cb").alias("cb"))
    )
    return g.agg(
        F.sum("ca").cast("bigint").alias("n_a"),
        F.sum("cb").cast("bigint").alias("n_b"),
        F.sum(F.greatest(F.col("ca") - F.col("cb"), F.lit(0))).cast("bigint").alias("n_only_a"),
        F.sum(F.greatest(F.col("cb") - F.col("ca"), F.lit(0))).cast("bigint").alias("n_only_b"),
        F.sum(F.least(F.col("ca"), F.col("cb"))).cast("bigint").alias("n_common"),
    )


def join_cardinality(
    a: DataFrame, b: DataFrame, a_key: str, b_key: str | None = None
) -> DataFrame:
    """Pre-join audit: EXACT output cardinality and fanout profile of
    ``a ⋈ b`` on the key, computed from per-side key-count tables
    WITHOUT running the join — the "will this 100 TB join explode?"
    check that pairs with ``skew_report``. Output (1 row):
    ``(n_a, n_b, n_keys_a, n_keys_b, n_keys_common, n_out,
    max_fanout, top_key)`` where ``n_out = Σ_k cnt_a(k)·cnt_b(k)`` is
    the exact inner-join row count, ``max_fanout`` the largest single
    key's contribution, and ``top_key`` that key (ties → smallest
    key string, deterministic).

    Shape: ONE scan per input — tagged union → one groupBy on the key
    (map-combinable partial counts) → one tiny aggregate over the
    key-count table. No join at all, same trick as ``table_diff``.
    Null keys never join and are excluded.
    """
    b_key = b_key or a_key
    ta = a.where(F.col(a_key).isNotNull()).select(
        F.col(a_key).cast("string").alias("k"),
        F.lit(1).alias("ia"),
        F.lit(0).alias("ib"),
    )
    tb = b.where(F.col(b_key).isNotNull()).select(
        F.col(b_key).cast("string").alias("k"),
        F.lit(0).alias("ia"),
        F.lit(1).alias("ib"),
    )
    per_key = ta.unionByName(tb).groupBy("k").agg(
        F.sum("ia").alias("cnt_a"), F.sum("ib").alias("cnt_b")
    )
    both = (F.col("cnt_a") > 0) & (F.col("cnt_b") > 0)
    fan = F.col("cnt_a") * F.col("cnt_b")
    # min over (-fan, k): largest fanout first, smallest key on ties;
    # non-common keys contribute NULL and are ignored by min
    return per_key.agg(
        F.sum("cnt_a").cast("bigint").alias("n_a"),
        F.sum("cnt_b").cast("bigint").alias("n_b"),
        F.sum((F.col("cnt_a") > 0).cast("bigint")).alias("n_keys_a"),
        F.sum((F.col("cnt_b") > 0).cast("bigint")).alias("n_keys_b"),
        F.sum(both.cast("bigint")).alias("n_keys_common"),
        F.coalesce(F.sum(F.when(both, fan)), F.lit(0)).cast("bigint").alias("n_out"),
        F.min(F.when(both, F.struct((-fan).alias("nf"), F.col("k")))).alias("__m"),
    ).select(
        "n_a",
        "n_b",
        "n_keys_a",
        "n_keys_b",
        "n_keys_common",
        "n_out",
        (-F.col("__m.nf")).cast("bigint").alias("max_fanout"),
        F.col("__m.k").alias("top_key"),
    )


def iqr_outlier_report(
    df: DataFrame, cols: list[str], k: float = 1.5, exact: bool = True
) -> DataFrame:
    """Tukey-fence outlier audit per column: quartiles, fences at
    Q1−k·IQR / Q3+k·IQR, and how many rows fall outside — the triage
    report that decides between ``winsorize`` (clip) and row drop.
    Output: one row per column — (column, q1, q3, iqr, lo_fence,
    hi_fence, n_low, n_high, outlier_pct).

    Two passes: ONE wide quantile agg fits every column's fences
    (exact percentiles for oracle parity; ``exact=False`` swaps in the
    one-pass Greenwald-Khanna sketch for 100 TB), then one wide
    conditional-count agg applies them — O(1) scans regardless of
    column count, fences ride the plan as literals.
    """
    if not cols:
        raise ValueError("no columns")
    fn = F.percentile if exact else F.percentile_approx
    qrow = df.agg(
        *[
            fn(F.col(c), F.array(F.lit(0.25), F.lit(0.75))).alias(f"q__{c}")
            for c in cols
        ]
    ).collect()[0]
    fences = {}
    for c in cols:
        q = qrow[f"q__{c}"]
        if q is None or q[0] is None:
            fences[c] = None
            continue
        # every ingredient snaps to 6 decimals BEFORE deriving the
        # fences, so both engines build bit-identical fence literals
        # even if their raw quartile interpolation differs by an ulp
        q1, q3 = round(float(q[0]), ROUND_N), round(float(q[1]), ROUND_N)
        iqr = round(q3 - q1, ROUND_N)
        fences[c] = (
            q1,
            q3,
            iqr,
            round(q1 - k * iqr, ROUND_N),
            round(q3 + k * iqr, ROUND_N),
        )
    aggs = [F.count(F.lit(1)).alias("__n")]
    for c in cols:
        if fences[c] is None:
            continue
        _, _, _, lo, hi = fences[c]
        aggs += [
            F.coalesce(
                F.sum((F.col(c) < F.lit(lo)).cast("bigint")), F.lit(0)
            ).alias(f"lo__{c}"),
            F.coalesce(
                F.sum((F.col(c) > F.lit(hi)).cast("bigint")), F.lit(0)
            ).alias(f"hi__{c}"),
        ]
    crow = df.agg(*aggs)
    structs = []
    null_b = F.lit(None).cast("bigint")
    for c in cols:
        fc = fences[c]
        structs.append(
            F.struct(
                F.lit(c).alias("column"),
                F.lit(None if fc is None else round(fc[0], ROUND_N)).cast("double").alias("q1"),
                F.lit(None if fc is None else round(fc[1], ROUND_N)).cast("double").alias("q3"),
                F.lit(None if fc is None else round(fc[2], ROUND_N)).cast("double").alias("iqr"),
                F.lit(None if fc is None else round(fc[3], ROUND_N)).cast("double").alias("lo_fence"),
                F.lit(None if fc is None else round(fc[4], ROUND_N)).cast("double").alias("hi_fence"),
                (F.col(f"lo__{c}") if fc is not None else null_b).alias("n_low"),
                (F.col(f"hi__{c}") if fc is not None else null_b).alias("n_high"),
                (
                    F.round(
                        F.try_divide(
                            (F.col(f"lo__{c}") + F.col(f"hi__{c}")) * 100.0,
                            F.col("__n"),
                        ),
                        2,
                    )
                    if fc is not None
                    else F.lit(None).cast("double")
                ).alias("outlier_pct"),
            )
        )
    return crow.select(F.inline(F.array(*structs)))


def completeness_timeline(
    df: DataFrame, cols: list[str], ts_col: str = "ts", period: str = "hour"
) -> DataFrame:
    """Missing-data DRIFT: per period, each column's non-null fraction
    — the "did an upstream field silently break at 3am?" monitor that
    pairs with the value-drift timeline. Output: one row per
    (period, column) — (period_start, column, n_rows, n_null,
    completeness). ONE groupBy pass; the per-column melt multiplies
    the small period grid, never the data."""
    if not cols:
        raise ValueError("no columns")
    p = F.date_trunc(period, F.col(ts_col)).cast("timestamp_ntz")
    g = df.where(F.col(ts_col).isNotNull()).groupBy(p.alias("period_start")).agg(
        F.count(F.lit(1)).cast("bigint").alias("__n"),
        *[
            F.sum(F.col(c).isNull().cast("bigint")).alias(f"nn__{c}")
            for c in cols
        ],
    )
    structs = [
        F.struct(
            F.lit(c).alias("column"),
            F.col("__n").alias("n_rows"),
            F.col(f"nn__{c}").alias("n_null"),
            F.round(
                (F.col("__n") - F.col(f"nn__{c}")) / F.col("__n"), ROUND_N
            ).alias("completeness"),
        )
        for c in cols
    ]
    return g.select(
        "period_start", F.inline(F.array(*structs))
    )


def schema_diff(a: DataFrame, b: DataFrame) -> DataFrame:
    """Schema DRIFT between two frames (yesterday's snapshot vs
    today's feed): per column — added, removed, retyped, or unchanged
    — the metadata-plane check that runs before any data-plane diff
    (``table_diff``) is worth paying for. Pure schema comparison: no
    job, no scan; the result is a local relation of max(|cols_a|,
    |cols_b|) rows ordered by column name."""
    ta = {f.name: f.dataType.simpleString() for f in a.schema.fields}
    tb = {f.name: f.dataType.simpleString() for f in b.schema.fields}
    rows = []
    for c in sorted(set(ta) | set(tb)):
        da, db = ta.get(c), tb.get(c)
        status = (
            "added" if da is None
            else "removed" if db is None
            else "retyped" if da != db
            else "unchanged"
        )
        rows.append((c, da, db, status))
    return a.sparkSession.createDataFrame(
        rows, "column string, dtype_a string, dtype_b string, status string"
    )


def weighted_quantiles(
    df: DataFrame,
    col: str,
    weight_col: str,
    probs: tuple = (0.25, 0.5, 0.75),
) -> DataFrame:
    """Exact WEIGHTED quantiles (lower/inverse-CDF convention): the
    smallest value v with cumweight(≤ v) ≥ p·W — what unweighted
    percentiles become when rows represent unequal masses (tokens per
    doc, revenue per line, sampling weights). One output row:
    (total_weight, p25, p50, ...).

    Aggregate-first: groupBy(value) collapses to the distinct-value
    table with DECIMAL weight sums; the cumulative runs via the
    range-partitioned ``partitioning.ranged_prefix`` (no global row sort, no
    single-task window); the pick is one tiny min(struct) aggregate.
    Deterministic: weights are 6dp DECIMAL, so cumulative boundaries
    are exact and any engine picks identical values. Zero/negative/
    NULL weights drop (mass must be positive)."""
    from safedata_pipeline_spark.partitioning import ranged_prefix

    dec = "decimal(38,6)"
    g = (
        df.where(F.col(col).isNotNull() & (F.col(weight_col) > 0))
        .groupBy(F.col(col).alias("v"))
        .agg(F.sum(F.round(F.col(weight_col).cast("double"), 6).cast(dec)).alias("w"))
    )
    c = ranged_prefix(g, ["v"], ["w"])
    aggs = [F.round(F.max("__tot_w").cast("double"), 6).alias("total_weight")]
    for p in probs:
        target = F.lit(float(p)) * F.col("__tot_w").cast("double")
        pick = F.min(
            F.when(F.col("__cum_w").cast("double") >= target, F.col("v"))
        ).alias(f"p{int(round(p * 100)):02d}")
        aggs.append(pick)
    return c.agg(*aggs)


def group_scale(
    df: DataFrame,
    cols: list[str],
    group_cols: list[str],
    method: str = "zscore",
) -> DataFrame:
    """Per-GROUP column normalization: each value scaled against its
    own group's statistics — ``zscore`` ((x−μ_g)/σ_g) or ``robust``
    ((x−median_g)/IQR_g). The fairness move behind cross-source
    filtering: a global quality threshold silently favors whichever
    source's score distribution sits higher; scaling per source first
    makes one threshold mean the same thing everywhere.

    Output: input columns plus ``<col>_scaled`` per scaled column
    (NULL when the group's spread is 0 or the value is NULL).

    Scale shape: ONE grouped aggregate computes every group's fit
    statistics (map-side combinable; exact percentiles for ``robust``
    via the grouped percentile aggregate), the fit table is
    groups×columns small and broadcast-joins back, and the scaling
    itself is a map-only expression — two passes total for any column
    count, the ``standard_scale`` fit/apply discipline applied
    per-group. Statistics round to 9dp before the division so the
    scaled values are engine-deterministic.
    """
    if method not in ("zscore", "robust"):
        raise ValueError(f"method must be 'zscore' or 'robust', got {method!r}")
    aggs = []
    for c in cols:
        if method == "zscore":
            aggs += [
                F.round(F.avg(c), 9).alias(f"__loc_{c}"),
                F.round(F.stddev_samp(c), 9).alias(f"__spread_{c}"),
            ]
        else:
            pct = F.percentile(F.col(c), F.array(F.lit(0.25), F.lit(0.5), F.lit(0.75)))
            aggs += [
                F.round(F.element_at(pct, 2), 9).alias(f"__loc_{c}"),
                F.round(F.element_at(pct, 3) - F.element_at(pct, 1), 9).alias(
                    f"__spread_{c}"
                ),
            ]
    fit = df.groupBy(*group_cols).agg(*aggs)
    out = df.join(F.broadcast(fit), on=group_cols, how="left")
    for c in cols:
        scaled = F.when(
            F.col(f"__spread_{c}") > 0,
            F.round((F.col(c) - F.col(f"__loc_{c}")) / F.col(f"__spread_{c}"), 6),
        )
        out = out.withColumn(f"{c}_scaled", scaled)
    return out.drop(*[f"__loc_{c}" for c in cols], *[f"__spread_{c}" for c in cols])
