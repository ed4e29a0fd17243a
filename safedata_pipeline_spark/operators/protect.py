"""Privacy / anonymization transforms (SURVEY §2.5 PR1–PR5).

Behavior parity targets (reference: /root/reference/modules/privacy.py):
  * ``sdc_suppress``      — privacy.py:4-11  (rare categories → "OTHER",
                            null counted as its own group via dropna=False)
  * ``generalize_numeric``— privacy.py:13-22 (quantile binning, q=10,
                            duplicate edges dropped, labels "[lo, hi)" %.2f)
  * ``add_dp_noise``      — privacy.py:24-31 (Laplace(0, sensitivity/ε),
                            ε clamped to ≥1e-6)
  * ``synthetic_sample``  — privacy.py:33-53 (per-column independent:
                            numeric = 50% bootstrap + 50% Gaussian(μ,σ);
                            categorical = multinomial from empirical freq)
  * ``smart_suggest``     — privacy.py:55-68 (column-role classifier on
                            dtype + nunique thresholds 20/50)

All transforms are composable via ``DataFrame.transform`` and stay lazy
— each is "small aggregation subquery + broadcast join / column
expression", so chaining sdc → generalize → noise stays one job at the
sink instead of the reference's materialized ``df.copy()`` per step.

Scale notes:
  * rare-value suppression fits all columns' rare sets in ONE melted
    count pass (``sdc_rare_values``) and applies them as a map-side
    CASE — no join or shuffle in the row pass regardless of column
    count. Where the rare set is itself data-sized (near-unique IDs),
    ``sdc_suppress_join`` trades the collect for three shuffles.
  * ``generalize_numeric`` collects only the ≤(bins+1) edge values to
    the driver and bins with a whole-stage-codegen CASE chain — no join
    in the row pass. ``exact=False`` switches the edge computation to
    ``approxQuantile`` (one pass, bounded memory) for the 100 TB path.
  * Laplace noise is drawn JVM-side via inverse-CDF over ``F.rand``
    (seedable) — no Python UDF in the row path.
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import NumericType, StringType

EPS_CLAMP = 1e-6


def _numeric_cols(df: DataFrame, cols: list[str]) -> list[str]:
    types = {f.name: f.dataType for f in df.schema.fields}
    return [c for c in cols if c in types and isinstance(types[c], NumericType)]


def _string_cols(df: DataFrame, cols: list[str]) -> list[str]:
    types = {f.name: f.dataType for f in df.schema.fields}
    return [c for c in cols if c in types and isinstance(types[c], StringType)]


# ---------------------------------------------------------------------------
# PR1 — SDC rare-category suppression
# ---------------------------------------------------------------------------

def sdc_rare_values(
    df: DataFrame, cols: list[str], threshold: int = 5
) -> dict[str, set[str | None]]:
    """Fit step for ``sdc_suppress``: per-column sets of values occurring
    fewer than ``threshold`` times, computed in ONE pass over the input.

    All suppression columns melt through a single ``unpivot`` (one scan,
    one shuffle of the melted (column, value) cells) instead of one
    count subquery per column — at k columns the old shape cost k scans
    and k shuffles. Null groups are counted like any other value
    (``value_counts(dropna=False)`` parity, privacy.py:4-11), so ``None``
    can appear in a returned set.

    The collected sets are fit parameters, same class as ``one_hot``'s
    category list or ``quantile_edges``: driver memory is O(rare
    values), fine for the categorical columns suppression targets. For
    columns where the rare set itself is data-sized (near-unique IDs),
    use ``sdc_suppress_join`` which never collects.
    """
    scols = _string_cols(df, cols)
    if not scols:
        return {}
    melted = df.select(*scols).unpivot([], scols, "__sdc_name", "__sdc_value")
    rare = (
        melted.groupBy("__sdc_name", "__sdc_value")
        .agg(F.count(F.lit(1)).alias("__sdc_cnt"))
        .where(F.col("__sdc_cnt") < threshold)
        .select("__sdc_name", "__sdc_value")
        .collect()
    )
    out: dict[str, set[str | None]] = {c: set() for c in scols}
    for r in rare:
        out[r["__sdc_name"]].add(r["__sdc_value"])
    return out


def sdc_suppress(
    df: DataFrame,
    cols: list[str],
    threshold: int = 5,
    other: str = "OTHER",
    rare: dict[str, set[str | None]] | None = None,
) -> DataFrame:
    """Replace category values occurring < threshold times with ``other``.

    Parity (privacy.py:4-11): counts include the null group
    (``value_counts(dropna=False)``); a rare null group is suppressed to
    ``other`` too, a frequent null group stays null. Non-string columns
    in ``cols`` are ignored, like the reference's dtype guard.

    Plan shape: one fused count pass (``sdc_rare_values``) and then a
    pure map-side CASE over the rows — no join and no shuffle in the
    row pass, whole-stage codegen end to end, independent of how many
    columns are suppressed. Pass a precomputed ``rare`` dict to apply
    one fit to several frames (e.g. suppress a holdout with the
    training frame's counts).
    """
    scols = _string_cols(df, cols)
    if not scols:
        return df
    if rare is None:
        rare = sdc_rare_values(df, scols, threshold)
    for c in scols:
        vals = rare.get(c, set())
        lits = sorted(v for v in vals if v is not None)
        cond = F.col(c).isin(lits) if lits else F.lit(False)
        if None in vals:
            cond = cond | F.col(c).isNull()
        df = df.withColumn(c, F.when(cond, F.lit(other)).otherwise(F.col(c)))
    return df


def sdc_suppress_join(
    df: DataFrame, cols: list[str], threshold: int = 5, other: str = "OTHER"
) -> DataFrame:
    """100 TB twin of ``sdc_suppress`` for columns whose rare-value set
    is itself data-sized (near-unique IDs): nothing is collected to the
    driver and nothing is broadcast.

    Shape: tag rows with a transient id, melt the suppression columns
    once (one scan), count cells per (column, value) with an unordered
    window over the melted shuffle, keep the rare cells, fold them to a
    per-row set of suppressed column names, and join that (usually tiny)
    set back on the row id. Three shuffles total, independent of the
    number of columns — versus one full-table shuffle per column in a
    join-per-column shape.

    The transient id is ``monotonically_increasing_id`` over the input
    scan; both uses re-execute the same deterministic plan, so the ids
    agree. Feed it deterministic inputs (files, not fresh ``rand``).
    """
    from pyspark.sql.window import Window

    scols = _string_cols(df, cols)
    if not scols:
        return df
    rid = "__sdc_rid"
    dfi = df.withColumn(rid, F.monotonically_increasing_id())
    melted = dfi.select(rid, *scols).unpivot([rid], scols, "__sdc_name", "__sdc_value")
    w = Window.partitionBy("__sdc_name", "__sdc_value")
    rare_cells = (
        melted.withColumn("__sdc_cnt", F.count(F.lit(1)).over(w))
        .where(F.col("__sdc_cnt") < threshold)
        .groupBy(rid)
        .agg(F.collect_set("__sdc_name").alias("__sdc_hit"))
    )
    out = dfi.join(rare_cells, on=rid, how="left")
    for c in scols:
        out = out.withColumn(
            c,
            F.when(F.array_contains(F.col("__sdc_hit"), c), F.lit(other)).otherwise(F.col(c)),
        )
    return out.drop(rid, "__sdc_hit")


# ---------------------------------------------------------------------------
# PR2 — numeric generalization (quantile binning)
# ---------------------------------------------------------------------------

def quantile_edges(df: DataFrame, col: str, bins: int, exact: bool = True) -> list[float]:
    """Exact (oracle-parity) or approximate (100 TB path) quantile edges
    at i/bins, i=0..bins, with duplicate edges dropped
    (pandas qcut ``duplicates="drop"``, privacy.py:17)."""
    probs = [i / bins for i in range(bins + 1)]
    if exact:
        arr = df.agg(
            F.percentile(F.col(col).cast("double"), F.array(*[F.lit(p) for p in probs]))
        ).collect()[0][0]
        edges = list(arr) if arr is not None else []
    else:
        edges = df.where(F.col(col).isNotNull()).stat.approxQuantile(col, probs, 0.001)
    out: list[float] = []
    for e in edges:
        if e is not None and (not out or e != out[-1]):
            out.append(float(e))
    return out


def _snap2(x: float) -> float:
    """Explicit half-up rounding to 2 decimals on the binary double —
    Python's %.2f (round-half-even on the true binary value) and C/
    DuckDB printf disagree on ties like 2.345; floor(x*100+0.5)/100 is
    engine-independent, and the snapped value is never a formatting tie."""
    return math.floor(x * 100.0 + 0.5) / 100.0


def bin_label(lo: float, hi: float, closed: bool = False) -> str:
    return f"[{_snap2(lo):.2f}, {_snap2(hi):.2f}{']' if closed else ')'}"


def generalize_numeric(df: DataFrame, cols: list[str], bins: int = 10, exact: bool = True) -> DataFrame:
    """Replace numeric values with their quantile-bin label string.

    Parity (privacy.py:13-22): labels are ``"[lo, hi)"`` with %.2f
    edges. Bin membership here is ``[lo, hi)`` with the last bin closed
    ``[lo, hi]`` (the reference's qcut uses ``(lo, hi]`` — our
    convention matches the label text instead; same equal-frequency
    semantics). Nulls stay null. The output is a string column whatever
    the data: a constant column is the one closed bin ``"[v, v]"`` and a
    column with no value (empty or all-NULL) comes back all NULL.

    The row pass is a pure CASE-chain expression (whole-stage codegen,
    no join, no shuffle) built from the ≤bins+1 collected edges.
    """
    for c in _numeric_cols(df, cols):
        edges = quantile_edges(df, c, bins, exact=exact)
        bounds = list(zip(edges, edges[1:])) or [(e, e) for e in edges]
        null_s = F.lit(None).cast("string")
        expr: Column | None = None
        for i, (lo, hi) in enumerate(bounds):
            last = i == len(bounds) - 1
            cond = (F.col(c) >= F.lit(lo)) & (
                (F.col(c) <= F.lit(hi)) if last else (F.col(c) < F.lit(hi))
            )
            lbl = F.lit(bin_label(lo, hi, closed=lo == hi))
            expr = F.when(cond, lbl) if expr is None else expr.when(cond, lbl)
        df = df.withColumn(c, null_s if expr is None else expr.otherwise(null_s))
    return df


# ---------------------------------------------------------------------------
# PR3 — DP-style Laplace noise
# ---------------------------------------------------------------------------

def laplace_noise(scale: float, seed: int | None = None) -> Column:
    """Laplace(0, scale) via inverse CDF over uniform ``F.rand``:
    ``-scale * sign(u) * ln(1 - 2|u|)``, u ∈ (-0.5, 0.5). Seedable and
    JVM-side (no Python UDF); the 1e-300 floor guards u = -0.5 exactly.
    """
    u = (F.rand(seed) if seed is not None else F.rand()) - F.lit(0.5)
    return (
        F.lit(-float(scale))
        * F.signum(u)
        * F.log(F.greatest(F.lit(1.0) - F.lit(2.0) * F.abs(u), F.lit(1e-300)))
    )


def add_dp_noise(
    df: DataFrame,
    cols: list[str],
    epsilon: float = 1.0,
    sensitivity: float = 1.0,
    seed: int | None = None,
) -> DataFrame:
    """Add iid Laplace(0, sensitivity/max(ε, 1e-6)) noise to numeric
    columns (privacy.py:24-31). Each column gets an independent draw."""
    scale = sensitivity / max(epsilon, EPS_CLAMP)
    for i, c in enumerate(_numeric_cols(df, cols)):
        s = None if seed is None else seed + i
        df = df.withColumn(c, F.col(c).cast("double") + laplace_noise(scale, s))
    return df


# ---------------------------------------------------------------------------
# PR4 — lightweight synthetic sampler
# ---------------------------------------------------------------------------

def _with_row_index(df: DataFrame, idx_col: str) -> DataFrame:
    """Attach a dense 0..n-1 ``long`` row index WITHOUT a global sort.

    The naive ``row_number().over(Window.orderBy(...))`` funnels the whole
    dataset through one task; instead we reconstruct the classic
    ``zipWithIndex`` shape in DataFrame terms:

      1. tag each row with its ``spark_partition_id`` and
         ``monotonically_increasing_id`` (both map-side, no shuffle);
      2. one tiny aggregate collects per-partition (count, min id) —
         O(#partitions) driver rows;
      3. each row's index = partition offset + (mid - min mid of its
         partition), applied via a broadcast join on the partition id.

    No shuffle of the data, no window, no single-task stage. Index
    assignment is deterministic for a deterministic input plan (parquet
    scans); both passes re-evaluate the same scan layout.
    """
    tagged = df.withColumn("__pid", F.spark_partition_id()).withColumn(
        "__mid", F.monotonically_increasing_id()
    )
    stats = sorted(
        tagged.groupBy("__pid")
        .agg(F.count(F.lit(1)).alias("__cnt"), F.min("__mid").alias("__minmid"))
        .collect(),
        key=lambda r: r["__pid"],
    )
    if not stats:
        return df.withColumn(idx_col, F.lit(None).cast("long"))
    adj = []
    off = 0
    for r in stats:
        adj.append((r["__pid"], off - r["__minmid"]))
        off += r["__cnt"]
    adj_df = df.sparkSession.createDataFrame(adj, "__pid int, __adj long")
    return (
        tagged.join(F.broadcast(adj_df), on="__pid", how="inner")
        .withColumn(idx_col, (F.col("__mid") + F.col("__adj")).cast("long"))
        .drop("__pid", "__mid", "__adj")
    )


def synthetic_sample(df: DataFrame, n: int | None = None, seed: int = 42) -> DataFrame:
    """Per-column independent synthetic table of ``n`` rows
    (privacy.py:33-53): numeric columns = (n - n//2) bootstrap draws
    + n//2 Gaussian(μ, σ) draws (σ=1 fallback when undefined);
    categorical = multinomial draws from the empirical distribution;
    all-null columns stay all-null. Output column order matches input.

    Distributed shape: one ``spark.range(n)`` spine; bootstrap picks are
    a join on a uniformly random row index (shuffle-free zipWithIndex
    reconstruction — see ``_with_row_index``). Categorical draws use the
    SAME uniform row bootstrap: sampling a row uniformly with
    replacement draws each value with exactly its empirical frequency,
    i.e. it IS the reference's multinomial — without materializing a
    frequency/CDF table, which for near-unique string columns would be
    data-sized and need a global cumulative window. Every randomized
    expression is seeded per column for reproducibility.
    """
    spark = df.sparkSession
    if n is None:
        n = df.count()
    m = int(n * 0.5)  # gaussian share for numeric columns
    spine = spark.range(n).select(F.col("id").alias("__sid"))
    out = spine
    for i, f in enumerate(df.schema.fields):
        c = f.name
        cseed = seed + 1000 * i
        nn = df.where(F.col(c).isNotNull())
        if isinstance(f.dataType, NumericType):
            stats = nn.agg(
                F.count(F.lit(1)).alias("cnt"),
                F.avg(c).alias("mu"),
                F.stddev_samp(c).alias("sigma"),
            ).collect()[0]
            cnt = stats["cnt"]
            if cnt == 0:
                out = out.withColumn(c, F.lit(None).cast(f.dataType))
                continue
            mu = float(stats["mu"])
            sigma = float(stats["sigma"]) if stats["sigma"] else 1.0
            if math.isnan(sigma) or sigma == 0.0:
                sigma = 1.0
            # bootstrap: rows [0, n-m) pick a uniformly random source row;
            # the 0..cnt-1 index comes from the shuffle-free zipWithIndex
            # reconstruction, not a global-sort window
            indexed = _with_row_index(nn.select(F.col(c).alias("__bval")), "__bidx")
            boot = (
                spine.where(F.col("__sid") < n - m)
                .withColumn("__bidx", F.floor(F.rand(cseed) * cnt).cast("long"))
                .join(indexed, on="__bidx", how="left")
                .select("__sid", F.col("__bval").alias(c))
            )
            gauss = (
                spine.where(F.col("__sid") >= n - m)
                .select("__sid", (F.randn(cseed + 1) * sigma + mu).alias(c))
            )
            coldf = boot.unionByName(gauss)
        else:
            cnt = nn.count()
            if cnt == 0:
                out = out.withColumn(c, F.lit(None).cast(f.dataType))
                continue
            indexed = _with_row_index(nn.select(F.col(c).alias("__bval")), "__bidx")
            coldf = (
                spine.withColumn("__bidx", F.floor(F.rand(cseed) * cnt).cast("long"))
                .join(indexed, on="__bidx", how="left")
                .select("__sid", F.col("__bval").alias(c))
            )
        out = out.join(coldf, on="__sid", how="left")
    return out.drop("__sid")


# ---------------------------------------------------------------------------
# P7 — imputation (utility.py:100-101, 136)
# ---------------------------------------------------------------------------

def impute_mean(df: DataFrame, cols: list[str], round_to: int | None = 6) -> DataFrame:
    """Mean-impute numeric columns (reference ``X.fillna(X.mean())``,
    utility.py:136). Means come from ONE wide agg; the fill is a
    coalesce expression — no extra pass per column."""
    num = _numeric_cols(df, cols)
    if not num:
        return df
    means = df.agg(*[F.avg(c).alias(c) for c in num]).collect()[0]
    for c in num:
        mu = means[c]
        filled = F.coalesce(F.col(c).cast("double"), F.lit(float(mu) if mu is not None else None))
        df = df.withColumn(c, F.round(filled, round_to) if round_to is not None else filled)
    return df


def fillna_sentinel(df: DataFrame, cols: list[str], sentinel: str = "NA") -> DataFrame:
    """String-null sentinel fill (reference ``fillna("NA")``,
    utility.py:100-101)."""
    for c in _string_cols(df, cols):
        df = df.withColumn(c, F.coalesce(F.col(c), F.lit(sentinel)))
    return df


# ---------------------------------------------------------------------------
# PR5 — smart suggestion (column-role classifier)
# ---------------------------------------------------------------------------

SUGGEST_EPSILON = 1.0  # privacy.py:56 default


def smart_suggest(df: DataFrame, exact: bool = True) -> DataFrame:
    """Column-role suggestions (privacy.py:55-68): string & nunique>20 →
    'sdc'; numeric & nunique>50 → 'generalize+dp'; numeric otherwise →
    'dp'; low-cardinality string → 'none'. One wide agg (single scan)
    instead of the reference's nunique-per-column loop; returns one row
    per column: (column, kind, n_unique, suggestion)."""
    cd = F.count_distinct if exact else F.approx_count_distinct
    fields = df.schema.fields
    row = df.agg(*[cd(F.col(f.name)).alias(f"u__{f.name}") for f in fields])
    structs = []
    for f in fields:
        c = f.name
        num = isinstance(f.dataType, NumericType)
        kind = "numeric" if num else "categorical"
        u = F.col(f"u__{c}")
        if num:
            sugg = F.when(u > 50, F.lit("generalize+dp")).otherwise(F.lit("dp"))
        else:
            sugg = F.when(u > 20, F.lit("sdc")).otherwise(F.lit("none"))
        structs.append(
            F.struct(
                F.lit(c).alias("column"),
                F.lit(kind).alias("kind"),
                u.alias("n_unique"),
                sugg.alias("suggestion"),
            )
        )
    return row.select(F.inline(F.array(*structs)))


def winsorize(
    df: DataFrame,
    cols: list[str],
    lower: float = 0.01,
    upper: float = 0.99,
    exact: bool = True,
) -> DataFrame:
    """Percentile clipping (winsorization) — the outlier treatment that
    pairs with ``generalize_numeric``: extreme values are pulled to the
    [lower, upper] percentile bounds instead of binned away, preserving
    numeric dtype for downstream ML while capping disclosure-prone
    tails.

    Fit = ONE wide percentile aggregate over all requested columns
    (O(columns) collected doubles — fit parameters); apply = pure
    least/greatest expressions, whole-stage codegen, no join. Exact
    percentiles by default for oracle parity; ``exact=False`` swaps
    ``percentile_approx`` expressions into the SAME single wide agg
    (one scan regardless of column count — the r3 form looped one
    approxQuantile job per column). All-null columns pass through
    unchanged (no bounds to clip to).
    """
    num = _numeric_cols(df, cols)
    if not num:
        return df
    probs = F.array(F.lit(float(lower)), F.lit(float(upper)))
    pct = F.percentile if exact else (
        lambda col, pr: F.percentile_approx(col, pr, F.lit(10000))
    )
    row = df.agg(*[pct(F.col(c), probs).alias(c) for c in num]).collect()[0]
    bounds: dict[str, tuple[float, float] | None] = {}
    for c in num:
        v = row[c]
        bounds[c] = (
            (float(v[0]), float(v[1]))
            if v is not None and v[0] is not None
            else None
        )
    out = df
    for c in num:
        if bounds[c] is None:
            continue
        lo, hi = bounds[c]
        out = out.withColumn(
            c, F.least(F.greatest(F.col(c), F.lit(lo)), F.lit(hi))
        )
    return out
