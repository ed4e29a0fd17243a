"""Partition-count hygiene helpers, and the one range-partitioned
prefix-sum primitive (``ranged_prefix``).

``spread_small`` exists for one plan shape: an operator is about to
EXPLODE (shingles, char n-grams, band rows) and the input arrived from
a scan whose split count is far below the cluster's core count — at
fixture scale a parquet table is often 1–8 splits on a 32-core
local[.] — so the len-fold explode work would pile onto those few
cores. The old fix (`df.repartition(defaultParallelism)` everywhere)
was tuned to that small case and WRONG at scale: on a real corpus the
scan already yields far more splits than ``defaultParallelism``, and
an unconditional repartition would (a) add a full shuffle of raw text
and (b) actively COALESCE parallelism down to the core count.

``spread_small`` therefore only ever raises the partition count:
it is a no-op whenever the plan already has ≥ defaultParallelism
partitions, so large-corpus plans keep their scan-granted parallelism
and skip the raw-text shuffle entirely. The trade-off it keeps from
the old form: on a genuinely small input it still pays one narrow
shuffle to unlock all cores for the explode — that is the intended
purchase.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def _shuffle_partitions(spark) -> int:
    """Shuffle-partition count with a defensive fallback (ADVICE r12):
    on platforms where ``spark.sql.shuffle.partitions`` holds a
    non-numeric value (e.g. 'auto' under adaptive serverless runtimes)
    the int() cast would raise before the job runs — fall back to the
    cluster default parallelism instead."""
    try:
        return max(int(spark.conf.get("spark.sql.shuffle.partitions", "8")), 1)
    except ValueError:
        return max(int(spark.sparkContext.defaultParallelism), 1)


def ranged_prefix(
    df: DataFrame,
    order_cols: list[str],
    sum_cols: list[str],
    key_cols: tuple[str, ...] | list[str] = (),
) -> DataFrame:
    """Exact per-key running sums in ``order_cols`` order with NO
    single-task window — the scale form of
    ``sum(c) OVER (PARTITION BY keys ORDER BY order ROWS BETWEEN
    UNBOUNDED PRECEDING AND CURRENT ROW)``.

    Phase 1: range-partition on (keys, order) and pin each row's
    ``spark_partition_id`` (``localCheckpoint`` materializes the rows
    WITH their partition ids, so every downstream job sees the same
    placement). ``df`` is NOT persisted first: under adaptive execution
    a cached input is built by a job of its own whose final stage is
    never coalesced, while without it the boundary-sampling job and the
    checkpoint share ``df``'s upstream shuffle stages and only its
    narrow tail runs twice (measured on Spark 4.1 against a persisted
    input: the privacy flow drops from 97 to 94 jobs and 686 to 590
    tasks, and no registry query launches more jobs).

    Phase 2: per-(key, pid) totals form an O(partitions × keys) frame;
    a window over it gives each (key, pid) its prefix offset and each
    key its total, broadcast back onto the pinned rows. The running
    sum is a window partitioned by (key, pid): every task sorts only
    its own contiguous range. Integer and DECIMAL sums are exact and
    associative, so the result is bit-identical to the single-window
    form (tests/test_partitioning.py pins it).

    Output: every column of ``df`` plus, per sum column ``c``,
    ``__cum_<c>`` (the inclusive running sum) and ``__tot_<c>`` (the
    per-key total). The frame is ROWS, so summing a ``lit(1)`` column
    gives ``row_number`` over (keys, order).
    """
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from safedata_pipeline_spark.checkpoint import pin_eager

    keys = list(key_cols)
    rp = (
        df.repartitionByRange(
            _shuffle_partitions(df.sparkSession), *keys, *order_cols
        )
        .withColumn("__pid", F.spark_partition_id())
        .transform(pin_eager)
    )
    tot = rp.groupBy(*keys, "__pid").agg(
        *[F.sum(c).alias(f"__pt_{c}") for c in sum_cols]
    )
    w_prev = (
        Window.partitionBy(*keys)
        .orderBy("__pid")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    w_key = Window.partitionBy(*keys)
    off = tot.select(
        *keys,
        "__pid",
        *[
            F.coalesce(F.sum(f"__pt_{c}").over(w_prev), F.lit(0)).alias(f"__off_{c}")
            for c in sum_cols
        ],
        *[F.sum(f"__pt_{c}").over(w_key).alias(f"__tot_{c}") for c in sum_cols],
    )
    w_run = (
        Window.partitionBy(*keys, "__pid")
        .orderBy(*order_cols)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return rp.join(F.broadcast(off), [*keys, "__pid"]).select(
        *df.columns,
        *[
            (F.sum(c).over(w_run) + F.col(f"__off_{c}")).alias(f"__cum_{c}")
            for c in sum_cols
        ],
        *[f"__tot_{c}" for c in sum_cols],
    )


def spread_small(df: DataFrame, min_factor: int = 1) -> DataFrame:
    """Round-robin repartition ``df`` UP to ``min_factor ×
    defaultParallelism`` partitions — never down.

    Two-step gate, both steps job-free:

    1. If the plan already contains an Exchange (checked on the INITIAL
       physical plan, ``queryExecution().sparkPlan()`` — compiled but
       never executed, so under AQE no upstream shuffle stage runs),
       return ``df`` unchanged: downstream width is already governed by
       ``spark.sql.shuffle.partitions``, and a second repartition would
       only add a shuffle of the very rows we're about to explode.
       (The old form asked ``df.rdd.getNumPartitions()`` first, which
       on an AQE plan forces ``getFinalPhysicalPlan`` and EXECUTES the
       upstream shuffle stages once at plan-build time and again in the
       real action — duplicated computation at exactly the scale this
       helper protects.)
    2. Only on a shuffle-FREE (pure scan-stage) plan read the partition
       count — with no exchanges there is no query stage to
       materialize, so this is genuine plan-time metadata — and
       repartition up only when the scan yields fewer splits than the
       target. Both steps run on a column-pruned ``select(lit(1))``
       twin of ``df`` (same split count, trivial codegen), so the probe
       never compiles the real plan's expression trees.
    """
    from pyspark.sql import functions as F

    target = min_factor * df.sparkSession.sparkContext.defaultParallelism
    # Probe a column-PRUNED twin, not df itself: partition count is
    # column-independent, so select(lit(1)) sees the same splits while
    # Catalyst prunes every projection expression away — the probe's
    # codegen is a constant projection instead of the real plan's
    # (possibly huge) expression trees, which .rdd would otherwise
    # Janino-compile once here and again at the real action.
    probe = df.select(F.lit(1).alias("__spread_probe"))
    try:
        # a SHUFFLE exchange sets downstream width; a BroadcastExchange
        # does not (the probe side keeps its scan splits), so only the
        # former short-circuits. Matched STRUCTURALLY on the plan tree
        # (node class names), not on plan text — ADVICE r10: a text
        # regex also hits ReusedExchange-over-broadcast and any future
        # node whose name merely contains "Exchange". Probed on the
        # AQE INITIAL plan, not sparkPlan(): EnsureRequirements runs in
        # the preparations phase, so requirement-inserted exchanges
        # (groupBy/join shuffles — the common case) are INVISIBLE in
        # sparkPlan() and the r10 gate fell through to .rdd on exactly
        # the plans it meant to protect. Building executedPlan under
        # AQE only constructs AdaptiveSparkPlanExec — no query stage
        # materializes (verified: zero jobs submitted).
        ep = probe._jdf.queryExecution().executedPlan()
        root = (
            ep.initialPlan()
            if ep.getClass().getSimpleName() == "AdaptiveSparkPlanExec"
            else ep
        )
        if _has_shuffle_exchange(root):
            return df
        n_parts = probe.rdd.getNumPartitions()
    except Exception:  # pragma: no cover - connect/classic API drift
        # Conservative no-op: falling through to .rdd on an
        # AQE-with-exchanges plan would re-execute upstream shuffle
        # stages — the exact duplicated computation this gate exists
        # to avoid (ADVICE r10).
        return df
    if n_parts >= target:
        return df
    return df.repartition(target)


def spread_small_pinned(df: DataFrame, min_factor: int = 1) -> DataFrame:
    """Width floor for an explode input that sits AFTER a shuffle
    (``.distinct()``/groupBy upstream) — the case ``spread_small``
    deliberately no-ops on.

    Post-shuffle width is unknowable at plan time: AQE's partition
    coalescing sizes it by BYTES (``parallelismFirst`` floors at
    ``minPartitionSize`` = 1 MB), so a small-but-explode-heavy frame —
    a distinct value table whose grams multiply work ~len-fold —
    lands on ONE partition at fixture scale and the whole gram stage
    runs single-core (r11 decade-2 gates caught exactly this:
    record_linkage 11.6×/decade, edit_distance_pairs 4.9×, after the
    plan-probe gate stopped falling through to the old double-execute
    path). The byte heuristic is the wrong signal when downstream work
    per byte is ~len-fold, and no job-free probe can see runtime
    width.

    So: materialize ONCE via an eager localCheckpoint — every caller
    of this helper has ≥2 downstream consumers of the frame (gram
    explode + short bucket; self-join a/b sides), so the pin replaces
    exchange-reuse rather than adding a pass — then read the now-free
    runtime width and round-robin UP only. At 100 TB the pinned frame
    is the distinct-value table (|values| ≪ corpus) and AQE keeps it
    ≥ parallelism anyway, so the repartition is a fixture-scale-only
    shuffle of a small frame."""
    from safedata_pipeline_spark.checkpoint import pin_eager

    target = min_factor * df.sparkSession.sparkContext.defaultParallelism
    pinned = pin_eager(df)
    if pinned.rdd.getNumPartitions() >= target:
        return pinned
    return pinned.repartition(target)


def _has_shuffle_exchange(jplan) -> bool:
    """True if the JVM physical-plan tree contains a shuffle exchange.

    Walks node CLASS names (``ShuffleExchangeExec``; a
    ``ReusedExchangeExec`` counts only when it wraps one) instead of
    regexing ``toString()`` output, so broadcast exchanges and
    incidental "Exchange" substrings never match.
    """
    name = jplan.getClass().getSimpleName()
    if name.startswith("ShuffleExchange"):
        return True
    if name.startswith("ReusedExchange"):
        return _has_shuffle_exchange(jplan.child())
    children = jplan.children()
    return any(
        _has_shuffle_exchange(children.apply(i))
        for i in range(children.size())
    )
