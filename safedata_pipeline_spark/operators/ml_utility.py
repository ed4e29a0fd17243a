"""ML utility check (SURVEY §2.6 E7/E8, §2.7 U4).

Behavior parity targets (reference: /root/reference/modules/utility.py:125-146):
  * numeric features only, target excluded (utility.py:131)
  * mean imputation (utility.py:136) — per-column means from one agg
  * 70/30 split, seed 42 (utility.py:137); stratified per class when
    nunique(y)<20, like the reference's ``stratify=y``: each class is
    randomly ordered and cut at exactly round(0.7·n_c) rows. Exact
    per-class proportions need a per-class ordering (one window task
    per class — fine for <20 classes on an operator whose MLlib fit
    dominates anyway; ``sampleBy`` Bernoulli is the approximate
    alternative if a class itself outgrows a task)
  * LogisticRegression(maxIter=200) with RandomForest(100 trees,
    seed 42) fallback (utility.py:138-143)
  * metrics: accuracy + weighted F1 on the holdout (utility.py:144-145)
  * guard rows with NULL metrics when target missing / <2 classes /
    no numeric features (utility.py:128-135)

Output: one row per dataset: (dataset, acc, f1).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from safedata_pipeline_spark.checkpoint import pin_lazy
from safedata_pipeline_spark.operators.drift import bounded_cum_window, grid_bin
from safedata_pipeline_spark.partitioning import ranged_prefix
from pyspark.sql.types import NumericType

STRATIFY_MAX_CLASSES = 20  # reference utility.py:137
TRAIN_FRACTION = 0.7


def stratified_split(
    data: DataFrame, label_col: str = "label", train_frac: float = TRAIN_FRACTION, seed: int = 42
) -> tuple[DataFrame, DataFrame]:
    """Exact stratified train/test split: within each class, rows are
    ordered by a seeded uniform draw and the first round(train_frac·n_c)
    go to train — per-class proportions are exact and deterministic per
    seed, mirroring sklearn's ``stratify=y``. The per-class window is
    one task per class; intended for low-cardinality targets (the only
    case the reference stratifies)."""
    w = Window.partitionBy(label_col).orderBy("__u")
    cw = Window.partitionBy(label_col)
    tagged = (
        data.withColumn("__u", F.rand(seed))
        .withColumn("__rn", F.row_number().over(w))
        .withColumn("__ntr", F.round(F.count(F.lit(1)).over(cw) * F.lit(train_frac)).cast("long"))
    )
    train = tagged.where(F.col("__rn") <= F.col("__ntr")).drop("__u", "__rn", "__ntr")
    test = tagged.where(F.col("__rn") > F.col("__ntr")).drop("__u", "__rn", "__ntr")
    return train, test


def _null_row(spark: SparkSession, name: str) -> DataFrame:
    return spark.createDataFrame(
        [(name, None, None)], "dataset string, acc double, f1 double"
    )


def _evaluate_one(df: DataFrame, target: str, name: str, seed: int = 42) -> DataFrame:
    from pyspark.ml.classification import LogisticRegression, RandomForestClassifier
    from pyspark.ml.evaluation import MulticlassClassificationEvaluator
    from pyspark.ml.feature import VectorAssembler

    spark = df.sparkSession
    if target not in df.columns:
        return _null_row(spark, name)
    feat_cols = [
        f.name
        for f in df.schema.fields
        if f.name != target and isinstance(f.dataType, NumericType)
    ]
    if not feat_cols:
        return _null_row(spark, name)
    data = df.select(*feat_cols, F.col(target).cast("double").alias("label")).where(
        F.col("label").isNotNull()
    )
    n_classes = data.select("label").distinct().count()
    if n_classes < 2:
        return _null_row(spark, name)

    # mean imputation from ONE wide agg (reference fillna(X.mean()))
    means = data.agg(*[F.avg(c).alias(c) for c in feat_cols]).collect()[0]
    for c in feat_cols:
        data = data.withColumn(c, F.coalesce(F.col(c).cast("double"), F.lit(float(means[c] or 0.0))))

    if n_classes < STRATIFY_MAX_CLASSES:
        train, test = stratified_split(data, "label", TRAIN_FRACTION, seed)
    else:
        train, test = data.randomSplit([TRAIN_FRACTION, 1.0 - TRAIN_FRACTION], seed=seed)
    va = VectorAssembler(inputCols=feat_cols, outputCol="features")
    train_v, test_v = va.transform(train), va.transform(test)
    try:
        model = LogisticRegression(maxIter=200, featuresCol="features", labelCol="label").fit(train_v)
    except Exception:
        model = RandomForestClassifier(
            numTrees=100, seed=seed, featuresCol="features", labelCol="label"
        ).fit(train_v)
    pred = model.transform(test_v)
    acc = MulticlassClassificationEvaluator(
        labelCol="label", predictionCol="prediction", metricName="accuracy"
    ).evaluate(pred)
    f1 = MulticlassClassificationEvaluator(
        labelCol="label", predictionCol="prediction", metricName="weightedFMeasure"
    ).evaluate(pred)
    return spark.createDataFrame(
        [(name, round(acc, 6), round(f1, 6))], "dataset string, acc double, f1 double"
    )


def model_utility_check(
    df_before: DataFrame, df_after: DataFrame, target: str, seed: int = 42
) -> DataFrame:
    """U4: fit/evaluate on original vs protected data → 2-row table
    (dataset, acc, f1); the utility question is how much accuracy the
    protection chain cost."""
    before = _evaluate_one(df_before, target, "original", seed)
    after = _evaluate_one(df_after, target, "protected", seed)
    return before.unionByName(after)


# ---------------------------------------------------------------------------
# Rank-based AUC (Mann–Whitney) — aggregate-first, exact, oracle-able
# ---------------------------------------------------------------------------

def binary_auc(df: DataFrame, score_col: str, label: "F.Column") -> DataFrame:
    """Exact ROC-AUC of a score against a boolean label, by the
    Mann–Whitney identity with tie correction:
    AUC = [Σ_s 2·pos_s·cum_neg_below(s) + pos_s·neg_s] / (2·P·N).

    Aggregate-FIRST: one groupBy(score) collapses the data to the
    distinct-score table (pos/neg counts per score), the cumulative
    runs over that table via ``partitioning.ranged_prefix`` (range-partitioned, no
    global sort of rows, no single-task window), and the finish is one
    tiny aggregate. All counts integer → the result is deterministic
    and hash-matches any engine. Output: (n_pos, n_neg, auc)."""
    e = df.where(F.col(score_col).isNotNull()).select(
        F.col(score_col).alias("s"), label.cast("int").alias("y")
    ).where(F.col("y").isNotNull())
    g = e.groupBy("s").agg(
        F.sum("y").alias("pos"), F.sum(1 - F.col("y")).alias("neg")
    )
    c = ranged_prefix(g, ["s"], ["neg"])
    num = F.sum(
        2 * F.col("pos") * (F.col("__cum_neg") - F.col("neg")) + F.col("pos") * F.col("neg")
    )
    return c.agg(
        F.sum("pos").cast("bigint").alias("n_pos"),
        F.sum("neg").cast("bigint").alias("n_neg"),
        num.alias("__num"),
    ).select(
        "n_pos",
        "n_neg",
        F.round(
            F.col("__num").cast("double")
            / (2.0 * F.col("n_pos").cast("double") * F.col("n_neg").cast("double")),
            6,
        ).alias("auc"),
    )


def _score_grid(e: DataFrame, bins: int) -> DataFrame:
    """1-row ``(lo, w)`` fixed-width grid over the score ``s`` — the
    ``drift.fit_grid`` rule as an aggregate, so the grid rides a
    broadcast instead of a driver collect."""
    span = F.max("s") - F.min("s")
    return e.agg(
        F.min("s").alias("lo"),
        F.when(span == 0, F.lit(1.0)).otherwise(span / F.lit(float(bins))).alias("w"),
    )


def calibration_bins(
    df: DataFrame, score_col: str, label: "F.Column", bins: int = 10
) -> DataFrame:
    """Calibration table: fixed-width score bins → (bin, bin_lo, n,
    n_pos, mean_score, pos_rate). Reads as 'when the model says ~0.7,
    how often is it right' — the reliability-diagram input.

    Aggregate-first like every drift construction: the [lo, hi] range
    rides a broadcast 1-row aggregate, binning is a map-side
    expression, and the single shuffle is the ≤``bins``-key groupBy.
    The top edge clamps into the last bin; NULL scores/labels drop."""
    e = df.select(F.col(score_col).cast("double").alias("s"), label.cast("int").alias("y"))
    e = e.where(F.col("s").isNotNull() & F.col("y").isNotNull())
    r = _score_grid(e, bins)
    b = grid_bin(F.col("s"), F.col("lo"), F.col("w"), bins)
    return (
        e.crossJoin(F.broadcast(r))
        .groupBy(b.cast("bigint").alias("bin"))
        .agg(
            F.round(F.min(F.col("lo") + F.col("w") * b), 6).alias("bin_lo"),
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.sum("y").cast("bigint").alias("n_pos"),
            # DECIMAL sum → double divide: exact partial sums, so the
            # mean is summation-order-independent (hash-stable)
            F.round(
                F.sum(F.round(F.col("s"), 6).cast("decimal(38,6)")).cast("double")
                / F.count(F.lit(1)),
                6,
            ).alias("mean_score"),
            F.round(F.sum("y") / F.count(F.lit(1)), 6).alias("pos_rate"),
        )
    )


def auc_by_group(
    df: DataFrame, group_col: "F.Column", score_col: str, label: "F.Column"
) -> DataFrame:
    """Per-group Mann–Whitney AUC — the monitoring view of
    ``binary_auc`` (daily AUC trend, per-segment discrimination):
    (group, n_pos, n_neg, auc), NULL auc for degenerate groups
    (single-class). Same aggregate-first construction; the cumulative
    is a window PARTITIONED BY group over the per-group distinct-score
    table — per-key ECDFs like the drift timeline, no single-task
    window, no global sort."""
    e = df.select(
        group_col.alias("grp"), F.col(score_col).alias("s"), label.cast("int").alias("y")
    ).where(F.col("s").isNotNull() & F.col("y").isNotNull())
    g = e.groupBy("grp", "s").agg(
        F.sum("y").alias("pos"), F.sum(1 - F.col("y")).alias("neg")
    )
    w = Window.partitionBy("grp").orderBy("s")
    c = g.withColumn("cneg", F.sum("neg").over(w) - F.col("neg"))
    num = F.sum(2 * F.col("pos") * F.col("cneg") + F.col("pos") * F.col("neg"))
    return (
        c.groupBy("grp")
        .agg(
            F.sum("pos").cast("bigint").alias("n_pos"),
            F.sum("neg").cast("bigint").alias("n_neg"),
            num.alias("__num"),
        )
        .select(
            "grp",
            "n_pos",
            "n_neg",
            F.when(
                (F.col("n_pos") > 0) & (F.col("n_neg") > 0),
                F.round(
                    F.col("__num").cast("double")
                    / (2.0 * F.col("n_pos").cast("double") * F.col("n_neg").cast("double")),
                    6,
                ),
            ).alias("auc"),
        )
    )


def roc_points(
    df: DataFrame, score_col: str, label: "F.Column", max_points: int = 100
) -> DataFrame:
    """ROC curve points — the curve behind ``binary_auc``: for each of
    ≤``max_points`` score thresholds, (threshold, n_ge, tpr, fpr)
    where tpr/fpr are the positive/negative rates at score ≥
    threshold. Thresholds come from the score's value range on a
    fixed grid (same broadcast-range trick as ``calibration_bins``),
    so the output is bounded and plot-ready regardless of score
    cardinality.

    Aggregate-first: one groupBy(grid cell) over the data, then the
    ≥-threshold cumulatives and the P/N totals are plain windows over
    the ≤max_points cell table (running DESCENDING by cell) — bounded
    by ``max_points``, never by the data, so no data sort. Integer
    counts → engine-exact rates."""
    e = df.select(F.col(score_col).cast("double").alias("s"), label.cast("int").alias("y"))
    e = e.where(F.col("s").isNotNull() & F.col("y").isNotNull())
    r = _score_grid(e, max_points)
    b = grid_bin(F.col("s"), F.col("lo"), F.col("w"), max_points)
    g = (
        e.crossJoin(F.broadcast(r))
        .groupBy(b.cast("bigint").alias("bin"))
        .agg(
            F.min(F.col("lo") + F.col("w") * b).alias("threshold"),
            F.sum("y").alias("pos"),
            F.sum(1 - F.col("y")).alias("neg"),
        )
    )
    # ≥ threshold ⇒ cumulate from the TOP: running sums DESCENDING by
    # bin; they and the totals are windows over the ≤max_points cells
    w = bounded_cum_window(F.col("bin").desc())
    whole = Window.partitionBy()
    c = g.select(
        "threshold",
        F.sum("pos").over(w).alias("cpos"),
        F.sum("neg").over(w).alias("cneg"),
        F.sum("pos").over(whole).alias("P"),
        F.sum("neg").over(whole).alias("N"),
    )
    return c.select(
        F.round("threshold", 6).alias("threshold"),
        (F.col("cpos") + F.col("cneg")).cast("bigint").alias("n_ge"),
        F.round(F.try_divide(F.col("cpos"), F.col("P")), 6).alias("tpr"),
        F.round(F.try_divide(F.col("cneg"), F.col("N")), 6).alias("fpr"),
    )


def confusion_matrix(
    df: DataFrame, truth_col: str = "truth", pred_col: str = "pred"
) -> DataFrame:
    """Multi-class confusion matrix with per-cell precision/recall
    shares — the standard classifier-evaluation artifact every model
    in the curation loop (langid X182, quality classifier X205) is
    selected by (reference counterpart: the binary accuracy/F1 pair in
    modules/utility.py:120 — this is its multi-class decision table).

    One row per observed (truth, pred) pair: ``n`` (exact count),
    ``frac_of_truth`` = n / row-marginal (the diagonal row reads class
    RECALL), ``frac_of_pred`` = n / column-marginal (the diagonal
    reads class PRECISION) — both exact int/int 6dp snaps. Rows with a
    NULL truth or prediction are EXCLUDED by contract (NULL grouping
    keys join differently across engines; callers bucket their
    unscored rows explicitly — the X231 'unscored' discipline).

    Shape: one (truth, pred) groupBy (map-side combinable, keys =
    classes², a fit-sized frame); the marginals are two aggregations
    OF THE CELL FRAME (no second corpus pass) joined back broadcast.
    Output: (truth, pred, n, frac_of_truth, frac_of_pred).
    """
    base = df.where(
        F.col(truth_col).isNotNull() & F.col(pred_col).isNotNull()
    ).select(F.col(truth_col).alias("truth"), F.col(pred_col).alias("pred"))
    cells = pin_lazy(
        base.groupBy("truth", "pred").agg(F.count(F.lit(1)).alias("n"))
    )
    rt = cells.groupBy("truth").agg(F.sum("n").alias("__rt"))
    ct = cells.groupBy("pred").agg(F.sum("n").alias("__ct"))
    snap = lambda c: F.floor(c * 1e6 + F.lit(0.5)) / 1e6  # noqa: E731
    return (
        cells.join(F.broadcast(rt), on="truth")
        .join(F.broadcast(ct), on="pred")
        .select(
            "truth",
            "pred",
            F.col("n").cast("bigint").alias("n"),
            snap(F.col("n") / F.col("__rt")).alias("frac_of_truth"),
            snap(F.col("n") / F.col("__ct")).alias("frac_of_pred"),
        )
    )
