"""Distribution-drift operators (SURVEY §2.7 U1–U3).

Behavior parity targets (reference: /root/reference/modules/utility.py):
  * ``ks_statistic``       — utility.py:92-97 (scipy ks_2samp two-sample
                             statistic; NaN→NULL when either side has
                             <5 non-null values)
  * ``chi2_categorical``   — utility.py:99-110 (align category counts,
                             Σ (oa-ob)²/(oa+ob+1e-9); nulls → "NA";
                             NULL when either side is empty)
  * ``distribution_drift`` — utility.py:112-123 (per shared column:
                             numeric → KS, else → chi²)
  * ``profiles_and_drift`` — utility.py:17-123 as app.py:205-223 calls
                             it: both tables' profiles and their drift
                             from one shared pass

KS construction (no Spark builtin is two-sample): tag both sides, group
by value (ties merge, so the ECDF is evaluated at distinct points — the
window then runs over |distinct values| rows, not |rows|), cumulative
per-side counts via an ordered window, statistic = max |ca/na - cb/nb|.
All counts stay integer until the final division, so the cumulative
arithmetic is exact and engine-independent.

Scale notes: exact ECDF needs a global order, but NOT a global window.
``partitioning.ranged_prefix`` range-partitions the distinct-value
table, computes per-partition cumulative sums in parallel, and
broadcasts per-partition prefix offsets (an O(partitions) table) — the
same trick as ``protect._with_row_index``. No stage ever sorts more
than one partition's values in one task. For 100 TB continuous data
``ks_statistic_binned`` (fixed-width bins, pure groupBy) bounds the
window input to ≤``bins`` rows per column with error ≤ one bin width;
``distribution_drift(exact=False)`` routes every numeric column through
that construction. The whole binned family (binned KS, PSI, JSD, the
hourly timeline and its streaming twin, mergeable percentiles, ROC and
calibration grids) fits its grid with ``fit_grid``, bins with
``grid_bin`` and runs its cumulatives with ``bounded_cum_window`` — a
plain window, allowed only because the table under it is bounded by
``bins`` rows per key. χ² sums per-category contributions as
DECIMAL(38,12) so the sum is order-independent (float sums are not
associative; a shuffle could otherwise flip the last ulp between runs).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window, WindowSpec
from pyspark.sql import functions as F

from safedata_pipeline_spark.checkpoint import pin_eager
from safedata_pipeline_spark.partitioning import ranged_prefix
from pyspark.sql.types import NumericType

ROUND_N = 6
MIN_KS_ROWS = 5  # utility.py:95


def _tagged_union(df_a: DataFrame, df_b: DataFrame, col: str) -> DataFrame:
    a = df_a.select(F.col(col).alias("v")).where(F.col(col).isNotNull()).withColumn(
        "ka", F.lit(1)
    ).withColumn("kb", F.lit(0))
    b = df_b.select(F.col(col).alias("v")).where(F.col(col).isNotNull()).withColumn(
        "ka", F.lit(0)
    ).withColumn("kb", F.lit(1))
    return a.unionByName(b)


def ks_statistic(df_a: DataFrame, df_b: DataFrame, col: str) -> DataFrame:
    """Two-sample Kolmogorov–Smirnov statistic on ``col`` → 1 row
    ``(ks_stat double)``; NULL when either side has <5 non-null rows.
    Cumulative ECDF counts come from ``partitioning.ranged_prefix`` —
    parallel across value ranges, never a one-task global window."""
    u = _tagged_union(df_a, df_b, col)
    g = (
        u.groupBy("v")
        .agg(F.sum("ka").alias("ka"), F.sum("kb").alias("kb"))
        .withColumn("column", F.lit("_"))
    )
    return _ecdf(g, "v").agg(_ks_stat().alias("ks_stat"))


def _ecdf(g: DataFrame, val_col: str) -> DataFrame:
    """Per-column cumulative side counts ``(column, ca, cb, na, nb)``
    over the distinct-value table ``g`` (``column``, ``val_col``,
    ``ka``, ``kb``)."""
    return ranged_prefix(g, [val_col], ["ka", "kb"], ["column"]).select(
        "column",
        F.col("__cum_ka").alias("ca"),
        F.col("__cum_kb").alias("cb"),
        F.col("__tot_ka").alias("na"),
        F.col("__tot_kb").alias("nb"),
    )


def _ks_stat(ca: str = "ca", cb: str = "cb", na: str = "na", nb: str = "nb") -> Column:
    """max |ca/na − cb/nb| over an ECDF frame (cumulative side counts
    ``ca``/``cb``, side totals ``na``/``nb``); NULL when either side has
    fewer than ``MIN_KS_ROWS`` values. The guard sits inside the max:
    under ANSI a side with no values would otherwise divide by zero on
    every row before an outer guard could discard the result."""
    na_c, nb_c = F.col(na), F.col(nb)
    gap = F.abs(F.col(ca) / na_c - F.col(cb) / nb_c)
    enough = (na_c >= MIN_KS_ROWS) & (nb_c >= MIN_KS_ROWS)
    return F.round(F.max(F.when(enough, gap)), ROUND_N)


def _chi2_stat(oa: str = "oa", ob: str = "ob") -> Column:
    """Σ (oa−ob)²/(oa+ob+1e-9) over aligned per-category side counts,
    each term cast to DECIMAL(38,12) so the sum is order-independent;
    NULL when either side is empty."""
    a, b = F.col(oa), F.col(ob)
    contrib = (((a - b) * (a - b)) / (a + b + F.lit(1e-9))).cast("decimal(38,12)")
    return F.when(
        (F.sum(a) > 0) & (F.sum(b) > 0),
        F.round(F.sum(contrib).cast("double"), ROUND_N),
    )


EMPTY_GRID = (0.0, 1.0)  # the grid of an all-NULL column: nothing lands in it


def _grid(lo, hi, bins: int) -> tuple[float, float]:
    lo, hi = float(lo), float(hi)
    return lo, (hi - lo) / bins or 1.0


def fit_grid(df: DataFrame, col: str, bins: int) -> tuple[float, float] | None:
    """Fixed-width histogram grid of ``col`` → ``(lo, width)`` from one
    min/max collect; a constant column gets width 1.0. ``None`` when the
    column has no non-null value — callers that bin anyway take
    ``EMPTY_GRID``, so their counts are zero rows and every statistic
    over them finishes NULL."""
    r = df.agg(F.min(col).alias("lo"), F.max(col).alias("hi")).collect()[0]
    return None if r["lo"] is None else _grid(r["lo"], r["hi"], bins)


def grid_bin(value: Column, lo, width, bins: int) -> Column:
    """Bin id of ``value`` on a fixed-width grid: ``floor((value − lo) /
    width)`` with the top edge clamped into bin ``bins − 1``. ``lo`` and
    ``width`` are floats (a fitted grid) or Columns (a grid riding a
    broadcast 1-row aggregate)."""
    return F.least(F.floor((value - lo) / width), F.lit(bins - 1))


def bounded_cum_window(order, *keys: str) -> WindowSpec:
    """Running-sum frame over a table BOUNDED by a constant (≤ ``bins``
    or ≤ ``max_points`` rows per key): a plain ordered window, one task
    per key. Never use it over a data-sized table — that is what
    ``partitioning.ranged_prefix`` is for."""
    return (
        Window.partitionBy(*keys)
        .orderBy(order)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )


def binned_percentiles(
    hist: DataFrame, lo: float, width: float, probs: tuple, keys: tuple = ()
) -> DataFrame:
    """Percentiles from fixed-grid bin counts ``(*keys, bin, n)`` → one
    row per key ``(*keys, n, p25, ...)``: linear interpolation within
    the first bin whose cumulative count reaches p·n (uniform-within-bin
    — error ≤ one bin width). All-integer cumulative math over ≤bins
    rows per key, so equal counts give bit-equal percentiles however
    they were accumulated. Empty counts give one row of NULLs without
    keys, zero rows with them."""
    cum = hist.select(
        *keys,
        "bin",
        "n",
        F.sum("n").over(bounded_cum_window("bin", *keys)).alias("cn"),
        F.sum("n").over(Window.partitionBy(*keys)).alias("tot"),
    )
    names = [f"p{int(round(p * 100)):02d}" for p in probs]
    aggs = [F.max("tot").cast("bigint").alias("n")]
    for p, name in zip(probs, names):
        # first qualifying bin: min over (bin, cum, n) among hits
        hit = F.col("cn") >= F.lit(float(p)) * F.col("tot")
        aggs.append(F.min(F.when(hit, F.struct("bin", "cn", "n"))).alias(name))
    outs = [*keys, "n"]
    for p, name in zip(probs, names):
        pk = F.col(name)
        frac = (F.lit(float(p)) * F.col("n") - (pk["cn"] - pk["n"])) / pk["n"]
        frac = F.least(F.greatest(frac, F.lit(0.0)), F.lit(1.0))
        val = F.lit(lo) + (pk["bin"].cast("double") + frac) * F.lit(width)
        outs.append(F.round(val, ROUND_N).alias(name))
    return cum.groupBy(*keys).agg(*aggs).select(*outs)


def _binned_sides(df_a: DataFrame, df_b: DataFrame, col: str, bins: int) -> DataFrame:
    """Per-bin side counts ``(b, ca, cb)`` of ``col`` on one grid fit
    over both sides, each row carrying the side totals ``(na, nb)`` —
    a whole-table window, as the table is ≤``bins`` rows. Integer
    counts; both sides empty → zero rows."""
    u = _tagged_union(df_a, df_b, col)
    lo, width = fit_grid(u, "v", bins) or EMPTY_GRID
    g = u.groupBy(grid_bin(F.col("v"), lo, width, bins).alias("b")).agg(
        F.sum("ka").alias("ca"), F.sum("kb").alias("cb")
    )
    whole = Window.partitionBy()
    return g.select(
        "*", F.sum("ca").over(whole).alias("na"), F.sum("cb").over(whole).alias("nb")
    )


def ks_statistic_binned(df_a: DataFrame, df_b: DataFrame, col: str, bins: int = 10000) -> DataFrame:
    """100 TB path: KS over fixed-width bins — one groupBy (map-side
    combinable) + a running sum over ≤``bins`` rows; error ≤ max bin
    width of the true ECDF step. No global sort of the data."""
    w = bounded_cum_window("b")
    return (
        _binned_sides(df_a, df_b, col, bins)
        .select(
            F.sum("ca").over(w).alias("ca"),
            F.sum("cb").over(w).alias("cb"),
            "na",
            "nb",
        )
        .agg(_ks_stat().alias("ks_stat"))
    )


def chi2_categorical(df_a: DataFrame, df_b: DataFrame, col: str, na_label: str = "NA") -> DataFrame:
    """χ²-like categorical drift → 1 row ``(chi2 double)``.

    Parity (utility.py:99-110): nulls become the "NA" category, counts
    are aligned by full outer join (missing → 0), statistic is
    Σ (oa-ob)²/(oa+ob+1e-9); NULL when either side is empty.
    """
    def counts(df: DataFrame, alias: str) -> DataFrame:
        return (
            df.select(F.coalesce(F.col(col).cast("string"), F.lit(na_label)).alias("cat"))
            .groupBy("cat")
            .agg(F.count(F.lit(1)).alias(alias))
        )

    ta, tb = counts(df_a, "oa"), counts(df_b, "ob")
    joined = ta.join(tb, on="cat", how="full_outer").select(
        F.coalesce("oa", F.lit(0)).alias("oa"), F.coalesce("ob", F.lit(0)).alias("ob")
    )
    return joined.agg(_chi2_stat().alias("chi2"))


def _melt_numeric(df: DataFrame, cols: list[str], ka: int, kb: int) -> DataFrame:
    """One scan → (column, vnum, ka, kb) rows for all numeric drift
    columns at once (nulls dropped, mirroring ``_tagged_union``)."""
    structs = [
        F.struct(F.lit(c).alias("column"), F.col(c).cast("double").alias("vnum"))
        for c in cols
    ]
    return (
        df.select(F.inline(F.array(*structs)))
        .where(F.col("vnum").isNotNull())
        .withColumn("ka", F.lit(ka))
        .withColumn("kb", F.lit(kb))
    )


def _melt_categorical(df: DataFrame, cols: list[str], ka: int, kb: int, na_label: str) -> DataFrame:
    """One scan → (column, cat, ka, kb) rows for all categorical drift
    columns at once (nulls → the "NA" category, like the reference)."""
    structs = [
        F.struct(
            F.lit(c).alias("column"),
            F.coalesce(F.col(c).cast("string"), F.lit(na_label)).alias("cat"),
        )
        for c in cols
    ]
    return (
        df.select(F.inline(F.array(*structs)))
        .withColumn("ka", F.lit(ka))
        .withColumn("kb", F.lit(kb))
    )


def _drift_columns(
    df_a: DataFrame, df_b: DataFrame, cols: list[str] | None = None
) -> tuple[list[str], list[str]]:
    """The drift table's columns (``cols``, default the shared ones in
    ``df_a`` order) split into KS columns — numeric on both sides — and
    χ² columns: everything else, including a column whose type differs
    by side (a double binned into string labels)."""
    types_a = {f.name: f.dataType for f in df_a.schema.fields}
    types_b = {f.name: f.dataType for f in df_b.schema.fields}
    shared = [c for c in df_a.columns if c in types_b] if cols is None else cols
    num_cols = [
        c
        for c in shared
        if isinstance(types_a[c], NumericType) and isinstance(types_b[c], NumericType)
    ]
    return num_cols, [c for c in shared if c not in num_cols]


def distribution_drift(
    df_a: DataFrame,
    df_b: DataFrame,
    cols: list[str] | None = None,
    na_label: str = "NA",
    exact: bool = True,
    bins: int = 10000,
) -> DataFrame:
    """Per-column drift table (utility.py:112-123): numeric columns →
    KS, everything else → χ². Output one row per shared column:
    ``(column, type, ks_stat, chi2)`` with the inapplicable metric NULL.

    Single-pass shape: instead of one KS/χ² subplan per column (2 scans
    of each input PER COLUMN), all numeric columns are melted into one
    ``(column, value)`` frame and all categorical columns into another —
    each input is scanned exactly twice total (once per melt) no matter
    how many columns drift is computed over. Per-column χ² is one
    grouped sum. Semantics (min-row guards, "NA" nulls, DECIMAL χ² sum,
    rounding) are identical to the per-column operators above.

    ``exact=True`` computes exact per-column ECDFs via
    ``partitioning.ranged_prefix`` (parallel over value ranges — no per-column
    single-task window). ``exact=False`` is the 100 TB continuous-data
    route: each column's values collapse into ≤``bins`` fixed-width
    bins first (the ``ks_statistic_binned`` construction, error ≤ one
    bin width), so the cumulative window input is bounded at
    ``bins`` rows per column regardless of cardinality.
    """
    num_cols, cat_cols = _drift_columns(df_a, df_b, cols)
    parts: list[DataFrame] = []
    if num_cols:
        u = _melt_numeric(df_a, num_cols, 1, 0).unionByName(_melt_numeric(df_b, num_cols, 0, 1))
        if not exact:
            # per-column lo/width: one tiny agg (O(columns) rows) over
            # the melt, applied as a broadcast join + floor — the bin id
            # replaces the raw value and the distinct-value table is
            # bounded at bins rows per column
            lohi = (
                u.groupBy("column")
                .agg(F.min("vnum").alias("lo"), F.max("vnum").alias("hi"))
                .collect()
            )
            brows = [
                (r["column"], *_grid(r["lo"], r["hi"], bins))
                for r in lohi
                if r["lo"] is not None
            ]
            bounds = u.sparkSession.createDataFrame(
                brows, "column string, lo double, width double"
            )
            u = u.join(F.broadcast(bounds), "column").select(
                "column",
                grid_bin(F.col("vnum"), F.col("lo"), F.col("width"), bins)
                .cast("double")
                .alias("vnum"),
                "ka",
                "kb",
            )
        g = u.groupBy("column", "vnum").agg(F.sum("ka").alias("ka"), F.sum("kb").alias("kb"))
        ks = _ecdf(g, "vnum").groupBy("column").agg(_ks_stat().alias("ks_stat"))
        parts.append(
            ks.select(
                "column",
                F.lit("numeric").alias("type"),
                "ks_stat",
                F.lit(None).cast("double").alias("chi2"),
            )
        )
    if cat_cols:
        u = _melt_categorical(df_a, cat_cols, 1, 0, na_label).unionByName(
            _melt_categorical(df_b, cat_cols, 0, 1, na_label)
        )
        g = u.groupBy("column", "cat").agg(F.sum("ka").alias("oa"), F.sum("kb").alias("ob"))
        chi = g.groupBy("column").agg(_chi2_stat().alias("chi2"))
        parts.append(
            chi.select(
                "column",
                F.lit("categorical").alias("type"),
                F.lit(None).cast("double").alias("ks_stat"),
                "chi2",
            )
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def profiles_and_drift(
    df_a: DataFrame, df_b: DataFrame
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """``basic_stats(df_a)``, ``basic_stats(df_b)`` and
    ``distribution_drift(df_a, df_b)`` — the same rows and types — from
    ONE ``profile.column_stats`` pass over both tables: the three tables
    share its tagged melt (the per-(column, value) counts of each side)
    and its one ``ranged_prefix``, which gives both sides' quartiles and
    the KS statistic from the same cumulative counts; χ² regroups the
    melt by category. Only the float moments stay a wide aggregate per
    table, in its natural scan order.

    A drift row exists where ``distribution_drift`` makes one: for a KS
    column, when either side has a non-null value; for a χ² column, when
    either side has a row."""
    from safedata_pipeline_spark.operators import profile as P

    num_cols, cat_cols = _drift_columns(df_a, df_b)
    stats = P.column_stats(
        [df_a, df_b],
        num_aggs={"ks_stat": _ks_stat("__cum_k0", "__cum_k1", "__tot_k0", "__tot_k1")},
        cat_cols=cat_cols,
        cat_aggs={"chi2": _chi2_stat("k0", "k1")},
    )
    null_d = F.lit(None).cast("double")
    valued = F.col("nunique_0") + F.col("nunique_1") > 0
    ks = stats.where(F.col("column").isin(*num_cols) & valued).select(
        "column", F.lit("numeric").alias("type"), "ks_stat", null_d.alias("chi2")
    )
    chi = stats.where(F.col("column").isin(*cat_cols)).select(
        "column",
        F.lit("categorical").alias("type"),
        null_d.alias("ks_stat"),
        (F.col("chi2") if cat_cols else null_d).alias("chi2"),
    )
    drift = ks.unionByName(chi)
    return P.profile_from_stats(df_a, stats, 0), P.profile_from_stats(df_b, stats, 1), drift


def psi_drift(
    df_a: DataFrame,
    df_b: DataFrame,
    col: str,
    bins: int = 10,
    eps: float = 1e-6,
) -> DataFrame:
    """Population Stability Index over fixed-width bins → 1 row
    ``(psi double)`` — the monitoring-dashboard drift metric
    (PSI = Σ (p_a − p_b)·ln(p_a/p_b); rule of thumb: <0.1 stable,
    >0.25 shifted). Complements KS (distribution shape) and χ²
    (categorical) with a magnitude-weighted score.

    Construction mirrors ``ks_statistic_binned``: shared lo/hi from one
    tiny agg, bin ids via floor (map-only), ONE grouped count per side,
    proportions clamped to ``eps`` so empty bins contribute finitely
    (the standard PSI smoothing). All counts integer until the final
    expression; NULL when either side is empty.
    """
    # try_divide: a fully-empty side has total 0 — the guard below
    # yields NULL psi for that case, but ANSI mode would raise first
    p = _binned_sides(df_a, df_b, col, bins).select(
        F.greatest(F.try_divide(F.col("ca"), F.col("na")), F.lit(eps)).alias("pa"),
        F.greatest(F.try_divide(F.col("cb"), F.col("nb")), F.lit(eps)).alias("pb"),
        "na",
        "nb",
    )
    # per-bin contributions round to 10 decimals and sum as DECIMAL so
    # the (ln-bearing) float sum is partition-order and engine
    # independent before the final 6-decimal round
    contrib = F.round(
        (F.col("pa") - F.col("pb")) * F.log(F.col("pa") / F.col("pb")), 10
    ).cast("decimal(38,10)")
    return p.agg(
        F.when(
            (F.max("na") > 0) & (F.max("nb") > 0),
            F.round(F.sum(contrib).cast("double"), ROUND_N),
        ).alias("psi")
    )


def jsd_drift(
    df_a: DataFrame,
    df_b: DataFrame,
    col: str,
    bins: int = 10,
) -> DataFrame:
    """Jensen–Shannon divergence over fixed-width bins → 1 row
    ``(jsd double)`` — the bounded, symmetric drift metric
    (0 ≤ JSD ≤ ln 2; no eps smoothing needed because 0·ln(0/m) := 0
    and the mixture m is positive wherever either side has mass).

    Same binned construction as PSI; per-bin KL terms round@10 →
    DECIMAL-sum. NULL when either side is empty."""
    p = _binned_sides(df_a, df_b, col, bins).select(
        F.coalesce(F.try_divide(F.col("ca"), F.col("na")), F.lit(0.0)).alias("pa"),
        F.coalesce(F.try_divide(F.col("cb"), F.col("nb")), F.lit(0.0)).alias("pb"),
        "na",
        "nb",
    )
    m = (F.col("pa") + F.col("pb")) / 2
    kl_a = F.when(F.col("pa") > 0, F.col("pa") * F.log(F.col("pa") / m)).otherwise(F.lit(0.0))
    kl_b = F.when(F.col("pb") > 0, F.col("pb") * F.log(F.col("pb") / m)).otherwise(F.lit(0.0))
    contrib = F.round(F.lit(0.5) * (kl_a + kl_b), 10).cast("decimal(38,10)")
    return p.agg(
        F.when(
            (F.max("na") > 0) & (F.max("nb") > 0),
            F.round(F.sum(contrib).cast("double"), ROUND_N),
        ).alias("jsd")
    )


def drift_timeline(
    df: DataFrame,
    ts_col: str = "ts",
    val_col: str = "value",
    bins: int = 100,
) -> DataFrame:
    """Hour-by-hour distribution drift of ``val_col`` against the
    WHOLE dataset's distribution — the monitoring query for "when did
    the data change?". One row per hour: ``(hour_start, n_rows,
    ks_stat)`` with ks = max |ECDF_hour − ECDF_global| over fixed-width
    bins.

    Shape: one pass bins every row (global grid from ``fit_grid``) into
    per-(hour, bin) counts; the grid of hours × occupied bins carries
    each bin's global count, so the global CDF is a running sum in the
    same per-hour window as the hour's own ECDF, and ``hour_ks`` — the
    streaming monitor's finish — takes the max gap. Everything is
    integer until the final division — engine-exact.
    """
    lo, width = fit_grid(df, val_col, bins) or EMPTY_GRID
    # the per-(hour, bin) count table feeds three branches (global bin
    # sums, per-hour totals, the grid join) — materialize it once
    # (bounded at hours × bins rows, dashboard-sized) so the final
    # plan reads the events data exactly once instead of per branch
    g = (
        df.where(F.col(val_col).isNotNull())
        .groupBy(
            F.date_trunc("hour", F.col(ts_col)).cast("timestamp_ntz").alias("hour_start"),
            grid_bin(F.col(val_col), lo, width, bins).alias("b"),
        )
        .agg(F.count(F.lit(1)).alias("c"))
        .transform(pin_eager)
    )
    gb = g.groupBy("b").agg(F.sum("c").alias("cg"))
    # the global total is Σ cg within any one hour's grid rows — no
    # extra scan of df for a number the grid already contains
    cum_cg = F.sum("cg").over(bounded_cum_window("b", "hour_start"))
    total = F.sum("cg").over(Window.partitionBy("hour_start"))
    return hour_ks(hour_grid(g, gb), cum_cg / total)


def hour_grid(counts: DataFrame, ref: DataFrame) -> DataFrame:
    """Hours × reference bins, 0-filled from the ``(hour_start, b, c)``
    count table → ``(hour_start, nh, b, <ref columns>, c)``. An hour
    missing a bin still gets a row there, so its cumulative stays in
    step with the reference; the grid is bounded at hours × bins rows
    (reference broadcast)."""
    hours = counts.groupBy("hour_start").agg(F.sum("c").alias("nh"))
    grid = hours.crossJoin(F.broadcast(ref))
    # rename the right side's keys: grid derives from counts, and a
    # raw self-join on shared names trips conflicting-reference
    # resolution when counts is a sink-table view
    c2 = counts.withColumnRenamed("hour_start", "__h").withColumnRenamed("b", "__b")
    return grid.join(
        c2,
        on=(F.col("hour_start") == F.col("__h")) & (F.col("b") == F.col("__b")),
        how="left",
    ).select(*grid.columns, F.coalesce("c", F.lit(0)).alias("c"))


def hour_ks(grid: DataFrame, ref_cdf: Column) -> DataFrame:
    """Per-hour KS over an ``hour_grid`` → ``(hour_start, n_rows,
    ks_stat)``: each hour's ECDF is a running sum over its ≤bins grid
    rows, compared with ``ref_cdf`` — the reference cumulative fraction
    at the same bin, a column of the reference or a window over it."""
    cum = grid.select(
        "hour_start",
        "nh",
        ref_cdf.alias("ref_cdf"),
        F.sum("c").over(bounded_cum_window("b", "hour_start")).alias("ch"),
    )
    return cum.groupBy("hour_start").agg(
        F.max("nh").cast("bigint").alias("n_rows"),
        F.round(
            F.max(F.abs(F.col("ch") / F.col("nh") - F.col("ref_cdf"))), ROUND_N
        ).alias("ks_stat"),
    )
