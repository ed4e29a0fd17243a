"""Corpus sampling / stratification operators for LLM training-data
pipelines (SURVEY §2.8 extension surface; no reference counterpart —
the reference processes only tabular data).

Operators:
  * ``source_mixture_sample`` — deterministic Bernoulli sampling that
    reshapes a corpus to a target per-source mixture (the sampling-side
    form of domain reweighting à la DoReMi / The Pile's per-source
    epochs: decide a mixture, then draw documents to match it). The
    keep/drop decision is an md5-derived uniform per document, so the
    sample is engine-reproducible and oracle-checkable — not a
    ``df.sample`` whose RNG no other engine can replay.
  * ``quality_deciles`` — equal-frequency quality stratification:
    exact decile edges over the heuristic quality score, then per-bucket
    document/token/quality rollups. The curation dashboard query for
    "how much volume do we lose if we cut below decile k?".

Scale notes:
  * ``source_mixture_sample`` collects only the per-source count table
    (O(#sources) rows — fit parameters, same class as one-hot's
    category list) and applies rates as a map-side CASE + filter: the
    row pass is one scan, no join, no shuffle, whole-stage codegen.
  * ``quality_deciles`` collects ≤ buckets+1 edge doubles (one exact
    percentile agg — swap ``exact=False`` for approxQuantile on the
    100 TB path) and bins with a CASE chain; the rollup is one
    map-side-combinable groupBy over ≤ buckets keys.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from safedata_pipeline_spark.functions.hashing import md5_slot32 as _md5_slot
from safedata_pipeline_spark.functions.hashing import md5_unit_interval
from safedata_pipeline_spark.operators.text import _quality_expr, _ws_tokens

ROUND_N = 6


def mixture_rates(
    df: DataFrame, shares: dict[str, float], source_col: str = "source"
) -> dict[str, float]:
    """Per-source keep rates that reshape the corpus to ``shares``
    while keeping the maximum possible volume.

    With ``c_s`` = docs in source s and ``w_s`` = target share, the
    largest total N with composition w is N = min_s(c_s / w_s), and
    rate_s = w_s * N / c_s ≤ 1 by construction. Sources absent from
    ``shares`` get rate 0 (dropped).

    The count table is O(#sources) — collected as fit parameters. The
    arithmetic is plain IEEE doubles in a fixed order (share * N / c)
    so the oracle SQL reproduces the exact rate values bit-for-bit.
    """
    counts = {
        r[source_col]: float(r["cnt"])
        for r in df.groupBy(source_col).agg(F.count(F.lit(1)).alias("cnt")).collect()
    }
    pos = {s: w for s, w in shares.items() if w > 0 and counts.get(s, 0) > 0}
    if not pos:
        return {}
    cap = min(counts[s] / w for s, w in pos.items())
    return {s: w * cap / counts[s] for s, w in pos.items()}


def source_mixture_sample(
    df: DataFrame,
    shares: dict[str, float],
    source_col: str = "source",
    id_col: str = "doc_id",
    rates: dict[str, float] | None = None,
) -> DataFrame:
    """Deterministically sample ``df`` so the surviving rows' source
    composition matches ``shares`` (expected counts), keeping maximal
    volume. A row survives iff md5_unit(id) <= rate(source) — the
    same document always gets the same verdict, across runs and across
    engines (md5-derived uniform, ``functions.hashing``).

    Pass a precomputed ``rates`` dict to apply one fit to several
    frames (e.g. sample a holdout with the training corpus's rates).
    Row pass: map-side CASE + filter; no join, no shuffle.
    """
    if rates is None:
        rates = mixture_rates(df, shares, source_col)
    if not rates:
        return df.where(F.lit(False))
    rate = F.lit(None).cast("double")
    expr = None
    for s, r in sorted(rates.items()):
        cond = F.col(source_col) == F.lit(s)
        expr = F.when(cond, F.lit(r)) if expr is None else expr.when(cond, F.lit(r))
    rate = expr.otherwise(F.lit(None).cast("double"))
    u = md5_unit_interval(F.col(id_col))
    return df.where(rate.isNotNull() & (u <= rate))


def quality_decile_edges(
    df: DataFrame,
    text_col: str = "text",
    buckets: int = 10,
    exact: bool = True,
) -> list[float]:
    """Equal-frequency bucket edges of the per-doc quality score at
    i/buckets, i=0..buckets, duplicate edges dropped (qcut-style).
    ``exact=False`` switches to approxQuantile for the 100 TB path."""
    # tokens materialize first (the captured split otherwise
    # re-evaluates per sub-term — text.quality_score's measured 3×)
    scores = df.select(
        F.col(text_col).alias("__t"), _ws_tokens(F.col(text_col)).alias("__wt")
    ).select(_quality_expr(F.col("__t"), toks=F.col("__wt")).alias("q"))
    probs = [i / buckets for i in range(buckets + 1)]
    if exact:
        arr = scores.agg(
            F.percentile(F.col("q"), F.array(*[F.lit(p) for p in probs]))
        ).collect()[0][0]
        edges = list(arr) if arr is not None else []
    else:
        edges = scores.where(F.col("q").isNotNull()).stat.approxQuantile("q", probs, 0.001)
    out: list[float] = []
    for e in edges:
        if e is not None and (not out or e != out[-1]):
            out.append(float(e))
    return out


def _snap6(col):
    """Half-up snap to 6 decimals for non-negative doubles — identical
    on Spark and DuckDB (plain round() is half-up on one engine and
    half-even on the other at exact .5e-6 ties)."""
    return F.floor(col * F.lit(1e6) + F.lit(0.5)) / F.lit(1e6)


def quality_deciles(
    df: DataFrame,
    text_col: str = "text",
    buckets: int = 10,
    exact: bool = True,
) -> DataFrame:
    """Equal-frequency quality stratification: one row per bucket with
    ``(bucket, lo, hi, n_docs, total_ws_tokens, avg_quality)``.

    Bucket membership is [lo, hi) with the top bucket closed, computed
    against the UNROUNDED edge doubles on both engines (lo/hi in the
    output are display-snapped to 6 decimals). The mean rides a
    DECIMAL(38,6) sum (partition-order independent) and is half-up
    snapped, mirroring ``corpus_stats``.
    """
    edges = quality_decile_edges(df, text_col, buckets, exact)
    spark = df.sparkSession
    if len(edges) < 2:
        return spark.createDataFrame(
            [],
            "bucket bigint, lo double, hi double, n_docs bigint, "
            "total_ws_tokens bigint, avg_quality double",
        )
    base = df.select(
        F.col(text_col).alias("__t"), _ws_tokens(F.col(text_col)).alias("__wt")
    ).select(
        F.size("__wt").cast("bigint").alias("n_toks"),
        _quality_expr(F.col("__t"), toks=F.col("__wt")).alias("q"),
    )
    expr = None
    for i in range(len(edges) - 1):
        lo, hi = edges[i], edges[i + 1]
        last = i == len(edges) - 2
        cond = (F.col("q") >= F.lit(lo)) & (
            (F.col("q") <= F.lit(hi)) if last else (F.col("q") < F.lit(hi))
        )
        b = F.struct(
            F.lit(i).cast("bigint").alias("bucket"),
            F.lit(lo).alias("lo"),
            F.lit(hi).alias("hi"),
        )
        expr = F.when(cond, b) if expr is None else expr.when(cond, b)
    binned = base.select("n_toks", "q", expr.alias("b")).where(F.col("b").isNotNull())
    avg = F.col("__qsum").cast("double") / F.col("n_docs")
    return (
        binned.groupBy("b")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum("n_toks").cast("bigint").alias("total_ws_tokens"),
            F.sum(F.col("q").cast("decimal(38,6)")).alias("__qsum"),
        )
        .select(
            F.col("b.bucket").alias("bucket"),
            _snap6(F.col("b.lo")).alias("lo"),
            _snap6(F.col("b.hi")).alias("hi"),
            "n_docs",
            "total_ws_tokens",
            _snap6(avg).alias("avg_quality"),
        )
    )


def source_share(df: DataFrame, source_col: str = "source") -> DataFrame:
    """Corpus composition: per source, document count and share of the
    total — the number ``source_mixture_sample`` targets; run it
    before and after a mixture step (or any filter) to see what the
    step did to the blend. One grouped count + a window over the
    O(sources) result. Output: (source, n_docs, share)."""
    from pyspark.sql import Window

    counts = df.groupBy(source_col).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs")
    )
    w_all = Window.partitionBy()
    return counts.select(
        source_col,
        "n_docs",
        F.round(F.col("n_docs") / F.sum("n_docs").over(w_all), 6).alias("share"),
    )


def weighted_sample(
    df: DataFrame,
    weight_col: str,
    id_col: str = "doc_id",
    scale: float = 1.0,
) -> DataFrame:
    """Deterministic weighted Bernoulli sample: keep each row with
    probability ``clamp(weight · scale, 0, 1)`` — quality-weighted
    corpus thinning (a doc with quality 0.9 is 3× likelier to survive
    than one at 0.3), replayable by any engine because the coin is the
    md5-unit hash of the id, not an RNG.

    Map-only: no shuffle, no fit pass; the filter fuses into the scan.
    NULL weights drop the row (no evidence to weight by — callers who
    want them kept coalesce first).
    """
    p = F.least(
        F.lit(1.0), F.greatest(F.lit(0.0), F.col(weight_col) * F.lit(float(scale)))
    )
    return df.where(md5_unit_interval(F.col(id_col)) <= p)


def take_per_source(
    df: DataFrame,
    n_per_source: int,
    source_col: str = "source",
    id_col: str = "doc_id",
) -> DataFrame:
    """Deterministic uniform sample of ``n_per_source`` documents per
    source — eval-set / inspection-subset carving that any engine can
    replay (the md5-unit hash is the sort key, so the "random" choice
    is a pure function of the ids).

    Shape: one window per source ordered by (md5_unit(id), id) with
    row_number ≤ n. Sources sort in parallel (partitionBy source); a
    giant source means a big per-key sort, so at 100 TB pre-thin with
    ``source_mixture_sample`` rates sized to ~2·n/c_s first, then take
    exactly n from the survivors — same result with overwhelming
    probability, window input bounded at ~2n rows per source.
    """
    from pyspark.sql import Window

    u = md5_unit_interval(F.col(id_col))
    w = Window.partitionBy(source_col).orderBy(u.asc(), F.col(id_col).asc())
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") <= n_per_source)
        .drop("__rn")
    )


def assign_folds(df: DataFrame, id_col: str, k: int = 5) -> DataFrame:
    """Deterministic k-fold assignment: fold = md5-slot hash of the id
    mod k. Map-only, replayable on any engine (md5 contract), stable
    under repartitioning — the split every cross-validation /
    train-eval carve in this engine can share, and the input
    ``split_leakage_pairs`` audits. Adds a ``fold`` int column."""
    if k < 2:
        raise ValueError("k must be >= 2")
    return df.withColumn(
        "fold", (_md5_slot(F.col(id_col).cast("string"), 0) % k).cast("int")
    )


def length_bucket(col, text_col_is_text: bool = True):
    """Power-of-two word-count bucket of a text column (the
    ``length_histogram`` grid): floor(log2(n_words)), empty → -1."""
    toks = F.when(F.trim(col) == "", F.array().cast("array<string>")).otherwise(
        F.split(F.trim(col), "\\s+")
    )
    n = F.size(toks)
    return F.when(n <= 0, F.lit(-1)).otherwise(
        F.floor(F.log(2.0, n.cast("double"))).cast("int")
    )


def length_matched_rates(
    df: DataFrame, reference: DataFrame, text_col: str = "text"
) -> dict[int, float]:
    """Per-length-bucket keep rates that reshape ``df``'s word-count
    distribution to match ``reference``'s, keeping maximal volume —
    the eval-set construction move (a held-out set with a different
    length profile than the corpus it scores measures length, not
    quality). Same maximal-N arithmetic as ``mixture_rates``, keyed by
    the power-of-two length bucket; buckets absent from the reference
    get rate 0. Both count tables are O(#buckets) fit parameters."""
    def counts(d: DataFrame) -> dict[int, float]:
        return {
            int(r["b"]): float(r["cnt"])
            for r in d.where(F.col(text_col).isNotNull())
            .select(length_bucket(F.col(text_col)).alias("b"))
            .groupBy("b")
            .agg(F.count(F.lit(1)).alias("cnt"))
            .collect()
        }

    cur, ref = counts(df), counts(reference)
    ref_total = sum(ref.values())
    pos = {b: ref[b] / ref_total for b in ref if b in cur and ref[b] > 0}
    if not pos:
        return {}
    cap = min(cur[b] / w for b, w in pos.items())
    return {b: w * cap / cur[b] for b, w in pos.items()}


def length_matched_sample(
    df: DataFrame,
    reference: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    rates: dict[int, float] | None = None,
) -> DataFrame:
    """Deterministically thin ``df`` so the survivors' length-bucket
    distribution matches ``reference``'s (expected counts), keeping
    maximal volume: a row survives iff md5_unit('len|' + id) <=
    rate(bucket). Map-side CASE + filter over fit-parameter rates —
    replayable on any engine at any parallelism, the
    ``source_mixture_sample`` contract keyed by length instead of
    provenance."""
    if rates is None:
        rates = length_matched_rates(df, reference, text_col)
    if not rates:
        return df.limit(0)
    b = length_bucket(F.col(text_col))
    rate = None
    for bucket, r in sorted(rates.items()):
        clause = F.when(b == bucket, F.lit(float(r)))
        rate = clause if rate is None else rate.when(b == bucket, F.lit(float(r)))
    rate = rate.otherwise(F.lit(0.0))
    u = md5_unit_interval(F.concat(F.lit("len|"), F.col(id_col).cast("string")))
    return df.where(F.col(text_col).isNotNull()).where(u <= rate)


def alpha_mixture_sample(
    df: DataFrame,
    source_col: str = "source",
    id_col: str = "doc_id",
    salt: str = "alpha",
) -> DataFrame:
    """Temperature-smoothed source rebalance — the exponentiated
    sampling multilingual/multi-source corpora use to keep head
    sources from drowning the tail (public: the α-smoothing of
    mBERT / XLM-R, α = 0.5). Target share ∝ p_s^α ⇒ per-source keep
    rate ∝ p_s^(α−1); normalizing the largest rate to 1 gives, for
    α = ½, the closed form

        rate_s = sqrt(n_min / n_s)

    — a single IEEE-correctly-rounded sqrt of an integer ratio, so
    the whole sampler (rates AND kept set) is engine-exact and
    oracle-checkable with no float-sum caveats. The smallest source
    is kept whole; a source 4× larger keeps half its docs.

    Plan: one grouped count (map-side combinable), a 1-row global min
    broadcast onto the O(sources) rate table, the rate table broadcast
    onto the corpus, and the md5-replayable coin filter — the corpus
    itself never shuffles. Output: kept rows
    ``(id, source, rate)``."""
    from safedata_pipeline_spark.functions.hashing import md5_unit_interval

    counts = df.groupBy(source_col).agg(F.count(F.lit(1)).alias("n"))
    nmin = counts.agg(F.min("n").alias("nmin"))
    rates = counts.crossJoin(F.broadcast(nmin)).select(
        source_col,
        F.sqrt(F.col("nmin").cast("double") / F.col("n")).alias("rate"),
    )
    coin = md5_unit_interval(
        F.concat(F.lit(salt + "|"), F.col(id_col).cast("string"))
    )
    return (
        df.select(id_col, source_col)
        .join(F.broadcast(rates), source_col)
        .where(coin <= F.col("rate"))
        .select(id_col, source_col, F.round("rate", 6).alias("rate"))
    )


def stratified_split(
    df: DataFrame,
    label_col: str,
    train_pct: int = 80,
    id_col: str = "doc_id",
) -> DataFrame:
    """Deterministic STRATIFIED train/eval split with EXACT per-class
    quotas: within every label class, rows rank by (md5_unit(id), id)
    and the first ``ceil(n_class · train_pct / 100)`` go to train —
    so each class's train share is exact to the row, not Bernoulli
    (`randomSplit`'s per-class share wobbles ±√n, which skews rare
    classes badly). The percentage is INTEGER and the quota is
    ``floor((n·pct + 99) / 100)`` computed as floor of a DOUBLE
    division — deliberately so, and matched term-for-term by the
    DuckDB oracle's ``/100.0``: the dividend ``n·pct + 99`` is an
    exact integer < 2^53, and a correctly-rounded double division of
    such an integer by 100 can never land on the wrong side of an
    integer boundary, so the floor equals the pure integer
    ``(n·pct + 99) div 100`` on every input. Keep the float divide —
    "fixing" it to integer ``div`` on one side only would desync
    engine and oracle.

    Shape: one per-class window (classes sort in parallel) + a count
    join; map-only otherwise. md5 ranking is replayable and stable
    under repartitioning — the same rows split the same way forever,
    and ``split_leakage_pairs`` can audit the assignment. Output: the
    input plus a ``split`` column ('train' / 'eval')."""
    if not (0 < train_pct < 100):
        raise ValueError("train_pct must be in (0, 100)")
    from pyspark.sql import Window

    u = md5_unit_interval(F.col(id_col))
    w = Window.partitionBy(label_col).orderBy(u.asc(), F.col(id_col).asc())
    counts = Window.partitionBy(label_col)
    quota = (F.count(F.lit(1)).over(counts) * train_pct + 99) / 100
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .withColumn("__q", F.floor(quota).cast("bigint"))
        .select(
            "*",
            F.when(F.col("__rn") <= F.col("__q"), F.lit("train"))
            .otherwise(F.lit("eval"))
            .alias("split"),
        )
        .drop("__rn", "__q")
    )


def poisson1_cum_thresholds(max_k: int = 8) -> list[float]:
    """Cumulative Poisson(1) CDF thresholds P(X <= k) for k = 0..max_k-1
    (weights above the last threshold clamp to max_k). Shared by the
    Spark expression and the oracle SQL builder so both engines embed
    the IDENTICAL double literals."""
    import math

    cum, c, term = [], 0.0, math.exp(-1.0)
    for k in range(max_k):
        c += term
        cum.append(c)
        term = term / (k + 1)
    return cum


def bootstrap_mean_ci(
    df: DataFrame,
    value_col: str,
    id_col: str = "doc_id",
    replicates: int = 64,
    alpha: float = 0.05,
    seed_tag: str = "boot",
) -> DataFrame:
    """ONE-PASS bootstrap confidence interval for a column mean via the
    POISSON BOOTSTRAP (Chamandy, Muralidharan, Najmi & Naidu 2012,
    "Estimating Uncertainty for Massive Data Streams" — Google's
    published streaming-bootstrap): classic resampling draws
    Multinomial(n, 1/n) row counts per replicate, which needs n known
    and a pass per replicate; for large n those counts are
    asymptotically iid Poisson(1), so each row can draw its OWN
    per-replicate weight independently — every replicate is computed
    in the same single pass, and error bars on a 100 TB metric cost
    one scan.

    Determinism/oracle discipline: the Poisson(1) weight comes from an
    inverse-CDF CASE chain over the md5 unit coin of (seed_tag, id,
    replicate) — engine-replayable like every coin in this engine, so
    the WHOLE bootstrap (weights, replicate means, percentile CI) is
    hash-checkable. Per-row contributions round@9 → DECIMAL(38,9)
    sums (partition-order free); replicate means take the half-up 1e-6
    snap; the CI is the exact interpolated percentile over the ≤
    ``replicates`` snapped means.

    Output: ONE row — (n_rows, n_replicates, mean, ci_lo, ci_hi).

    Shape: in-row weight array (B structs plus the b = −1 identity
    sentinel that carries the point estimate) → explode keeping only
    w > 0 (~63% of row-replicate pairs) → ONE groupBy over ≤ B+1 keys
    with map-side combine → a ≤ B+1-row finish. ONE corpus scan total
    (``bootstrap_replicate_state`` + ``bootstrap_finish``); the state
    is a sum monoid, so partials merge across batches and the
    streaming twin (``streaming.bootstrap``) is a built-in aggregation.
    """
    if replicates < 2:
        raise ValueError("replicates must be >= 2")
    if not 0.0 < alpha < 1.0:
        raise ValueError("alpha must be in (0, 1)")
    state = bootstrap_replicate_state(df, value_col, id_col, replicates, seed_tag)
    return bootstrap_finish(state, alpha)


def bootstrap_replicate_state(
    df: DataFrame,
    value_col: str,
    id_col: str = "doc_id",
    replicates: int = 64,
    seed_tag: str = "boot",
    spread: bool = True,
) -> DataFrame:
    """The bootstrap's MERGEABLE sufficient-statistics table:
    (b, s = Σ round(w·x, 9) as DECIMAL, wsum = Σ w) for replicate
    b = 0..B−1, plus the SENTINEL row b = −1 with w ≡ 1 carrying the
    point estimate — so one corpus pass yields point AND replicates,
    and the state is a pure sum monoid: batch partials, incremental
    batches, and streaming micro-batches all merge bit-for-bit
    (DECIMAL sums are order-free). This is also what makes the
    STREAMING twin (``streaming.bootstrap``) a built-in aggregation
    in complete mode with ≤ B+1 state rows forever.

    ``spread=False`` for streaming inputs (no plan probe on streams).
    """
    cum = poisson1_cum_thresholds()
    base = df.where(F.col(value_col).isNotNull()).select(
        F.col(id_col).cast("string").alias("__id"),
        F.col(value_col).cast("double").alias("__x"),
    )

    def weight(u):
        w = F.lit(len(cum))
        for k in range(len(cum) - 1, -1, -1):
            w = F.when(u < F.lit(cum[k]), F.lit(k)).otherwise(w)
        return w

    bs = F.sequence(F.lit(0), F.lit(replicates - 1))
    pairs = F.concat(
        F.array(F.struct(F.lit(-1).alias("b"), F.lit(1).alias("w"))),
        F.transform(
            bs,
            lambda b: F.struct(
                b.alias("b"),
                weight(
                    md5_unit_interval(
                        F.concat(
                            F.lit(f"{seed_tag}|"),
                            F.col("__id"),
                            F.lit("|"),
                            b.cast("string"),
                        )
                    )
                ).alias("w"),
            ),
        ),
    )
    if spread:
        from safedata_pipeline_spark.partitioning import spread_small

        base = spread_small(base)
    ex = base.select("__x", F.explode(pairs).alias("p")).where(F.col("p.w") > 0)
    return ex.groupBy(F.col("p.b").alias("b")).agg(
        F.sum(
            F.round(F.col("p.w") * F.col("__x"), 9).cast("decimal(38,9)")
        ).alias("s"),
        F.sum("p.w").cast("bigint").alias("wsum"),
    )


def bootstrap_finish(state: DataFrame, alpha: float = 0.05) -> DataFrame:
    """Finish over the ≤ B+1-row state table: replicate means take the
    half-up 1e-6 snap, the CI is the exact interpolated percentile of
    the snapped means, the b = −1 sentinel row is the point estimate."""
    snap = _snap6
    rep = state.where(F.col("b") >= 0).select(
        snap(F.col("s").cast("double") / F.col("wsum")).alias("m")
    )
    point = state.where(F.col("b") == -1).select(
        F.col("wsum").cast("bigint").alias("n_rows"),
        snap(F.col("s").cast("double") / F.col("wsum")).alias("mean"),
    )
    pct = F.percentile(F.col("m"), F.array(F.lit(alpha / 2), F.lit(1 - alpha / 2)))
    ci = rep.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_replicates"), pct.alias("__p")
    ).select(
        "n_replicates",
        F.round(F.element_at("__p", 1), 6).alias("ci_lo"),
        F.round(F.element_at("__p", 2), 6).alias("ci_hi"),
    )
    return point.crossJoin(F.broadcast(ci)).select(
        "n_rows", "n_replicates", "mean", "ci_lo", "ci_hi"
    )


# temperature_mix prefilter size gate: engage the md5-threshold
# prefilter only when the corpus is at least this many times the
# expected candidate set (slack·budget) — below it the plain
# per-source window is cheaper than the prefilter's extra barriers
PREFILTER_GATE = 8


def temperature_mix(
    df: DataFrame,
    source_col: str = "source",
    id_col: str = "doc_id",
    budget: int = 1000,
    temperature: float = 0.7,
    prefilter_slack: float | None = 4.0,
) -> DataFrame:
    """Temperature-scaled source mixing with an EXACT document budget
    — the "epoch sampling plan" form of q_s ∝ p_s^τ (τ < 1 upsamples
    rare sources — the mT5/XLM-R recipe, public papers): compute
    per-source quotas from temperature-scaled natural frequencies by
    LARGEST-REMAINDER apportionment and draw a deterministic sample
    meeting them to the row. Complements ``alpha_mixture_sample``
    (X187), which is the RATE form: Bernoulli keep-coins whose
    expected shares match α = 0.5 smoothing but whose realized count
    wobbles ±√n. This operator is the QUOTA form — any τ in (0, 1],
    a fixed total budget, and per-source counts that are exact
    integers decided by integer arithmetic (epoch planning / eval-set
    construction need the count, not the expectation).

    Exactness discipline (everything after one pow is INTEGER):
    raw_s = floor(pow(n_s/N, τ)·1e9 + 0.5) as BIGINT (the single
    float snap; pow's 1-ulp cross-engine latitude only matters exactly
    ON the half boundary — the shared measure-zero acceptance);
    quotas by LARGEST REMAINDER on exact integer arithmetic —
    floor_s = (budget·raw_s) div Σraw, remainders rank (rem DESC,
    source ASC) for the +1 top-ups — so Σ quota_s == min(budget-ish,
    see below) bit-identically in any engine. Within a source, docs
    rank by (md5_unit(id), id) — the ``stratified_split`` replayable
    coin — and the first quota_s survive (a source smaller than its
    quota contributes all its docs).

    Shape: two tiny aggregates (per-source counts, the scalar N /
    Σraw — O(sources) driver-free broadcasts), one per-source window
    over the documents. Output: (source, doc_id, smp_rank, quota),
    one row per sampled document.

    Scale path (VERDICT r13 "Next #3"): the within-source window would
    rank each source's FULL document set in one task — a hot source at
    100 TB is a single-task sort. With ``prefilter_slack`` set
    (default 4), docs first pass a coarse md5-threshold prefilter
    u < slack·quota_s/n_s. Because the per-source order is
    (u asc, id asc) and the filter keeps a DOWNWARD-CLOSED prefix of
    that order, the top-quota of the ~slack·budget survivors equals
    the global top-quota EXACTLY whenever a source keeps ≥ quota_s
    survivors; the O(sources) survivor-count check detects the
    astronomically-rare deficit sources (P ≈ Binomial tail at
    slack× the mean) and ranks ONLY those sources in full — so the
    result is bit-identical to the unfiltered form (which
    ``prefilter_slack=None`` still runs, the oracle-replay twin).
    A size gate keeps small corpora on the plain window: when
    N ≤ ``PREFILTER_GATE``·slack·budget the candidate set is a large
    fraction of the corpus and the prefilter's extra barriers cost
    more than they save (measured 1.2s → 2.4s at sf0.1).
    """
    if budget <= 0:
        raise ValueError("budget must be positive")
    if not 0.0 < temperature <= 1.0:
        raise ValueError("temperature must be in (0, 1]")
    from pyspark.sql import Window

    from safedata_pipeline_spark.checkpoint import pin_eager

    # NULL-source rows are excluded BEFORE quota computation: they
    # have no identity to mix by, and leaving them in would allocate a
    # largest-remainder quota slot that the equi-joins downstream can
    # never spend (NULL != NULL) — silently undershooting the EXACT
    # budget contract whenever the corpus carries unattributed docs
    df = df.where(F.col(source_col).isNotNull())
    # pin the O(sources) count frame: five downstream derivations
    # (N, raw, denom, spent, top-ups) would otherwise each re-run the
    # corpus groupBy (measured 5 corpus scans -> 1)
    counts = pin_eager(
        df.groupBy(source_col).agg(F.count(F.lit(1)).alias("__n_s"))
    )
    tot = counts.agg(F.sum("__n_s").alias("__N"))
    raw = counts.join(F.broadcast(tot)).select(
        source_col,
        F.floor(
            F.pow(F.col("__n_s") / F.col("__N"), F.lit(float(temperature)))
            * F.lit(1e9)
            + F.lit(0.5)
        )
        .cast("bigint")
        .alias("__raw"),
    )
    denom = raw.agg(F.sum("__raw").alias("__denom"))
    q0 = raw.join(F.broadcast(denom)).select(
        source_col,
        F.expr(f"(CAST({budget} AS BIGINT) * __raw) div __denom").alias("__fq"),
        F.expr(f"(CAST({budget} AS BIGINT) * __raw) % __denom").alias("__rem"),
    )
    spent = q0.agg(F.sum("__fq").alias("__spent"))
    topup_w = Window.orderBy(F.col("__rem").desc(), F.col(source_col).asc())
    quotas = (
        q0.join(F.broadcast(spent))
        .withColumn("__tr", F.row_number().over(topup_w))
        .select(
            source_col,
            (
                F.col("__fq")
                + (F.col("__tr") <= F.lit(budget) - F.col("__spent")).cast("bigint")
            ).alias("quota"),
        )
    )
    u = md5_unit_interval(F.col(id_col))
    w = Window.partitionBy(source_col).orderBy(u.asc(), F.col(id_col).asc())
    base = df.select(source_col, id_col)
    if prefilter_slack is not None:
        if prefilter_slack <= 0:
            raise ValueError("prefilter_slack must be positive or None")
        # O(sources) fit-parameter read (same class as one-hot's
        # category list): quota + population per source decide both
        # the size gate and, later, the deficit fallback.
        qn_df = quotas.join(counts, on=source_col).select(
            source_col, "quota", "__n_s"
        )
        qn = {r[0]: (int(r[1]), int(r[2])) for r in qn_df.collect()}
        n_total = sum(n for _, n in qn.values())
        if n_total <= PREFILTER_GATE * prefilter_slack * budget:
            # candidate set would be a large fraction of the corpus —
            # the prefilter's extra barriers (candidate pin + survivor
            # check) cost more than the window saves. Rank in full;
            # exact either way.
            prefilter_slack = None
    if prefilter_slack is not None:
        thr_df = F.broadcast(
            qn_df.select(
                source_col,
                F.least(
                    F.lit(1.0 + 1e-9),
                    F.lit(float(prefilter_slack))
                    * F.col("quota")
                    / F.greatest(F.col("__n_s"), F.lit(1)),
                ).alias("__thr"),
            )
        )
        # strict u < thr keeps a DOWNWARD-CLOSED prefix of the
        # (u asc, id asc) order; NULL-u rows (NULL id) sort first under
        # asc and must survive the prefilter to preserve the prefix
        cand = (
            base.withColumn("__u", u)
            .join(thr_df, on=source_col)
            .where(F.col("__u").isNull() | (F.col("__u") < F.col("__thr")))
        )
        cand = pin_eager(cand.select(source_col, id_col))
        surv = {
            r[0]: int(r[1])
            for r in cand.groupBy(source_col)
            .agg(F.count(F.lit(1)).alias("__s"))
            .collect()
        }
        deficit = sorted(
            s for s, (q, n) in qn.items() if surv.get(s, 0) < min(q, n)
        )
        keep = cand
        if deficit:
            # rare by construction: rank the deficit sources in full
            keep = keep.where(~F.col(source_col).isin(deficit)).unionByName(
                base.where(F.col(source_col).isin(deficit))
            )
        return (
            keep.withColumn("smp_rank", F.row_number().over(w))
            .join(F.broadcast(quotas), on=source_col)
            .where(F.col("smp_rank") <= F.col("quota"))
            .select(
                source_col,
                id_col,
                F.col("smp_rank").cast("int").alias("smp_rank"),
                "quota",
            )
        )
    return (
        base
        .withColumn("smp_rank", F.row_number().over(w))
        .join(F.broadcast(quotas), on=source_col)
        .where(F.col("smp_rank") <= F.col("quota"))
        .select(source_col, id_col, F.col("smp_rank").cast("int").alias("smp_rank"), "quota")
    )


def dsir_logweights(
    df: DataFrame,
    target_col: str = "is_target",
    text_col: str = "text",
    id_col: str = "doc_id",
    buckets: int = 256,
) -> DataFrame:
    """DSIR importance log-weights (Xie et al. 2023, "Data Selection
    for Language Models via Importance Resampling" — public paper; no
    reference counterpart, extension surface): score every document by
    how much more likely its hashed n-gram features are under a
    TARGET-domain bag-of-features model than under the RAW-corpus
    model; high weights select raw data that "looks like" the target.

    Features are lowercased whitespace unigrams + bigrams hashed into
    ``buckets`` slots with the engine's md5 slot hash (replayable in
    DuckDB — the ``stratified_split`` coin discipline). Both models
    are add-one-smoothed multinomials over slots:

        logratio[b] = round( ln((c_t[b]+1)/(N_t+B))
                           − ln((c_r[b]+1)/(N_r+B)), 9 )
        logweight(doc) = Σ_b count_doc[b] · logratio[b]

    Exactness: all counts are exact integers; each slot's logratio is
    a MODEL PARAMETER rounded half-even to 9dp once (absorbing
    libm-vs-Math.log 1-ulp latitude — the BM25/PMI discipline); the
    per-doc sum multiplies integers by the 9dp DECIMAL and sums as
    DECIMAL(38,9) (order-independent), final snap half-up at 6dp.

    Scale shape: ONE explode (×tokens) behind ``spread_small`` — the
    per-doc slot counts (≤ docs × buckets rows) pin eagerly and
    everything downstream (the raw/target model over ``buckets`` keys,
    its totals, the final weighted sum) reads the pin, so the corpus
    is scanned once (three lineage replays before the pin measured
    decade-2 slope 5.5; 1.0 after). The model groupBy is map-side
    combinable (a hot slot reduces, never collects) and broadcasts
    back. No window, no driver state, no Python.

    Output: (doc_id, is_target, n_feats, logweight) — docs with ≥ 1
    token only (mirrored in the oracle).
    """
    if buckets < 2:
        raise ValueError("buckets must be >= 2")
    from safedata_pipeline_spark.partitioning import spread_small

    t = F.lower(F.coalesce(F.col(text_col), F.lit("")))
    w = _ws_tokens(t)
    base = df.select(F.col(id_col), F.col(target_col).alias("__tgt"), w.alias("__w"))
    wc = F.col("__w")
    ln2 = F.greatest(F.size(wc) - 1, F.lit(1))
    bigrams = F.when(
        F.size(wc) >= 2,
        F.zip_with(
            F.slice(wc, 1, ln2),
            F.slice(wc, 2, ln2),
            lambda a, b: F.concat(a, F.lit(" "), b),
        ),
    ).otherwise(F.array().cast("array<string>"))
    feats = spread_small(base).select(
        id_col,
        "__tgt",
        F.explode(F.concat(wc, bigrams)).alias("__f"),
    )
    from safedata_pipeline_spark.checkpoint import pin_eager

    slot = F.pmod(_md5_slot(F.col("__f"), 0), F.lit(buckets)).alias("__b")
    fb = feats.select(id_col, "__tgt", slot)
    # ONE corpus explode total: pin the per-doc slot counts (≤ docs ×
    # buckets rows) and derive the model FROM the pinned frame — the
    # model, its totals and the final sum otherwise each re-run the
    # explode+md5 lineage (three corpus scans; measured decade-2
    # slope 5.5 -> the gate, 1.0 after)
    per_doc = pin_eager(
        fb.groupBy(id_col, "__tgt", "__b").agg(F.count(F.lit(1)).alias("__c"))
    )
    model = per_doc.groupBy("__b").agg(
        F.sum("__c").alias("__cr"),
        F.sum(F.when(F.col("__tgt"), F.col("__c")).otherwise(0)).alias("__ct"),
    )
    tot = model.agg(
        F.sum("__cr").alias("__nr"), F.sum("__ct").alias("__nt")
    )
    ratio = model.join(F.broadcast(tot)).select(
        "__b",
        F.round(
            F.log((F.col("__ct") + 1) / (F.col("__nt") + F.lit(buckets)))
            - F.log((F.col("__cr") + 1) / (F.col("__nr") + F.lit(buckets))),
            9,
        )
        .cast("decimal(20,9)")
        .alias("__lr"),
    )
    snap6 = _snap6
    return (
        per_doc.join(F.broadcast(ratio), on="__b")
        .groupBy(id_col, "__tgt")
        .agg(
            F.sum("__c").cast("bigint").alias("n_feats"),
            snap6(
                F.sum(
                    # decimal(9,0): (18,0)x(20,9) would overflow Spark's
                    # 38-digit cap and silently REDUCE the product scale
                    # to 8dp (allowPrecisionLoss), diverging from DuckDB's
                    # full-scale product; (9,0)x(20,9) = (30,9) fits both
                    F.col("__c").cast("decimal(9,0)") * F.col("__lr")
                ).cast("double")
            ).alias("logweight"),
        )
        .select(
            id_col,
            F.col("__tgt").alias("is_target"),
            "n_feats",
            "logweight",
        )
    )


def doremi_weights(
    df: DataFrame,
    lr: float = 0.5,
    text_col: str = "text",
    id_col: str = "doc_id",
    source_col: str = "source",
) -> DataFrame:
    """DoReMi-style domain mixture reweighting (Xie et al. 2023
    "DoReMi: Optimizing Data Mixtures Speeds Up Language Model
    Pretraining", public paper) in the engine's hash-checkable form:
    each source's EXCESS LOSS — how much worse the shared corpus-level
    unigram LM models the source than the source's OWN unigram LM —
    drives one multiplicative-weights update,
    ``weight_s ∝ exp(lr · excess_s)``, normalized over sources. Domains
    the global model underfits get upsampled; domains it already
    covers keep baseline weight (excess clamps at 0). The full DoReMi
    loop retrains the proxy between updates (an ML channel); this
    single exact update over engine-native LMs is the decision table a
    curation run thresholds, in the hash channel.

    Loss discipline = the ``unigram_logprob`` / DSIR family: add-one
    smoothing, per-token −ln p rounded to 6dp, count × DECIMAL(20,6)
    term products (exact — the c operand stays decimal(12,0)),
    DECIMAL(38,6) sums, half-up 6dp snap on the per-token average.
    The exp step quantizes to INTEGER 1e-9 units before normalizing,
    so the weight is an exact int/int ratio (double-sum order can't
    drift it).

    Shape at 100 TB: ONE corpus explode → (source, token) counts
    (map-side combinable; everything downstream rides this vocab×
    sources frame, never token instances); corpus counts re-aggregate
    FROM it; totals and per-source totals broadcast back; the final
    frame is O(sources). Sources with zero tokens carry no loss and
    are omitted (document the empty domain, don't weight it).

    Output: ``(source, n_docs, n_tokens, corpus_loss, own_loss,
    excess, weight)``.
    """
    from safedata_pipeline_spark.checkpoint import pin_lazy
    from safedata_pipeline_spark.partitioning import spread_small

    ex = spread_small(df).select(
        F.col(source_col).alias("source"),
        F.explode(_ws_tokens(F.lower(F.col(text_col)))).alias("tok"),
    )
    # pin the (source, token) count frame: THREE consumers read it
    # (corpus counts, per-source totals, the loss-term join) and each
    # would otherwise re-run the corpus explode+aggregate. The pin is
    # O(vocab × sources) narrow rows — bounded, not corpus-sized.
    cs = (
        ex.groupBy("source", "tok")
        .agg(F.count(F.lit(1)).alias("c_s"))
        .transform(pin_lazy)
    )
    cc = cs.groupBy("tok").agg(F.sum("c_s").alias("c"))
    tot = cc.agg(
        F.sum("c").alias("total"), F.count(F.lit(1)).alias("vocab")
    )
    ts = cs.groupBy("source").agg(
        F.sum("c_s").alias("total_s"), F.count(F.lit(1)).alias("vocab_s")
    )
    nlp_c = F.round(
        -F.log((F.col("c") + 1.0) / (F.col("total") + F.col("vocab"))), ROUND_N
    ).cast("decimal(20,6)")
    nlp_o = F.round(
        -F.log((F.col("c_s") + 1.0) / (F.col("total_s") + F.col("vocab_s"))), ROUND_N
    ).cast("decimal(20,6)")
    c_dec = F.col("c_s").cast("decimal(12,0)")
    terms = (
        cs.join(cc, "tok")
        .join(F.broadcast(tot))
        .join(F.broadcast(ts), "source")
        .select(
            "source",
            (c_dec * nlp_c).cast("decimal(38,6)").alias("tc"),
            (c_dec * nlp_o).cast("decimal(38,6)").alias("to"),
        )
    )
    ps = terms.groupBy("source").agg(
        F.sum("tc").alias("sc"), F.sum("to").alias("so")
    )
    nd = df.groupBy(F.col(source_col).alias("source")).agg(
        F.count(F.lit(1)).alias("n_docs")
    )
    lo = (
        ps.join(F.broadcast(ts), "source")
        .join(F.broadcast(nd), "source")
        .select(
            "source",
            F.col("n_docs").cast("bigint").alias("n_docs"),
            F.col("total_s").cast("bigint").alias("n_tokens"),
            _snap6(F.col("sc").cast("double") / F.col("total_s")).alias("corpus_loss"),
            _snap6(F.col("so").cast("double") / F.col("total_s")).alias("own_loss"),
        )
    )
    excess = F.greatest(F.col("corpus_loss") - F.col("own_loss"), F.lit(0.0))
    wu = (
        F.floor(F.exp(F.lit(lr) * F.col("excess")) * F.lit(1e9) + F.lit(0.5))
        .cast("bigint")
        .alias("wu")
    )
    staged = lo.withColumn("excess", excess).withColumn("wu", wu)
    # O(sources) rows: an unpartitioned total over them is a driver-
    # sized aggregate, not a scale hazard — but keep it join-shaped
    # (broadcast of a 1-row agg), not a global window
    tw = staged.agg(F.sum("wu").alias("tot_w"))
    return (
        staged.join(F.broadcast(tw))
        .select(
            "source",
            "n_docs",
            "n_tokens",
            "corpus_loss",
            "own_loss",
            "excess",
            (
                F.floor(
                    F.col("wu").cast("double") / F.col("tot_w") * F.lit(1e9)
                    + F.lit(0.5)
                )
                / F.lit(1e9)
            ).alias("weight"),
        )
    )


def unimax_mixture(
    df: DataFrame,
    budget_num: int = 19,
    budget_den: int = 20,
    epoch_cap: int = 1,
    source_col: str = "source",
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """UniMax token-budget allocation (Chung et al. 2023, "UniMax:
    Fairer and More Effective Language Sampling for Large-Scale
    Multilingual Pretraining" — the epoch-capped water-filling rule
    that replaced temperature sampling in mT5-class corpora; no
    reference counterpart, extension surface; complements X187/X230's
    temperature family and X243's loss-based DoReMi).

    Given per-source token counts n_s, a token budget
    ``B = (T·budget_num) div budget_den`` (T = total tokens — an exact
    integer fraction, never a float share) and an epoch cap
    ``cap_s = epoch_cap·n_s``, UniMax walks sources in ascending cap
    order: a source whose cap fits under the current uniform share is
    allocated its full cap (it "caps out" — more budget would repeat
    it past the epoch limit); the remaining budget spreads uniformly
    over the rest. The walk has a closed form: with sources ordered by
    (cap, source) and pfx_i = Σ_{j<i} cap_j, source i caps out iff

        cap_i · (L − i + 1) ≤ B − pfx_i

    and the predicate is MONOTONE (if it fails at i it fails at every
    j > i: cap_j ≥ cap_i and the remaining budget per remaining source
    can only shrink once a big source stops capping), so the capped
    set is exactly a prefix — one window pass finds it, no iteration.
    Uncapped sources split the remainder by integer division; the mod
    remainder tops up the first ``r`` uncapped sources in the same
    (cap, source) order (the X230 largest-remainder discipline), so
    Σ alloc = B exactly whenever any source is uncapped. Every
    quantity is BIGINT arithmetic end to end — no float appears
    anywhere, so the whole plan is engine-exact.

    Shape: ONE corpus scan (groupBy source over token counts); all
    windows run over the O(sources) frame — explicitly NOT a corpus-
    scale window. NULL-source rows are excluded before allocation
    (the X230 rule: no identity to mix by).
    Output: (source, n_tokens, cap, capped, alloc).
    """
    if budget_num <= 0 or budget_den <= 0:
        raise ValueError("budget fraction must be positive")
    if epoch_cap <= 0:
        raise ValueError("epoch_cap must be positive")
    from pyspark.sql import Window

    from safedata_pipeline_spark.operators.text import _ws_tokens

    counts = (
        df.where(F.col(source_col).isNotNull())
        .select(
            F.col(source_col).alias("source"),
            # NULL text coalesces to '' → 0 tokens (size(NULL) = -1
            # would silently shrink the source's count)
            F.size(_ws_tokens(F.coalesce(F.col(text_col), F.lit(""))))
            .cast("bigint")
            .alias("__nt"),
        )
        .groupBy("source")
        .agg(F.sum("__nt").alias("n_tokens"))
    )
    tot = counts.agg(
        F.sum("n_tokens").alias("__T"), F.count(F.lit(1)).alias("__L")
    )
    base = counts.join(F.broadcast(tot)).select(
        "source",
        "n_tokens",
        (F.col("n_tokens") * epoch_cap).alias("cap"),
        F.expr(f"(__T * {budget_num}) div {budget_den}").alias("__B"),
        F.col("__L"),
    )
    w_ord = Window.orderBy(F.col("cap").asc(), F.col("source").asc())
    wr = base.select(
        "*",
        F.row_number().over(w_ord).alias("__rn"),
        F.coalesce(
            F.sum("cap").over(w_ord.rowsBetween(Window.unboundedPreceding, -1)),
            F.lit(0),
        ).alias("__pfx"),
    )
    capped = (
        F.col("cap") * (F.col("__L") - F.col("__rn") + 1)
        <= F.col("__B") - F.col("__pfx")
    )
    flagged = wr.withColumn("capped", capped)
    caps = flagged.agg(
        F.sum(F.when(F.col("capped"), 1).otherwise(0)).alias("__K"),
        F.coalesce(
            F.sum(F.when(F.col("capped"), F.col("cap"))), F.lit(0)
        ).alias("__capsum"),
    )
    rem = F.col("__B") - F.col("__capsum")
    uncnt = F.greatest(F.col("__L") - F.col("__K"), F.lit(1))
    u = F.expr("__rem div __uncnt")
    r = F.expr("__rem % __uncnt")
    alloc = (
        F.when(F.col("capped"), F.col("cap"))
        .when(F.col("__rn") - F.col("__K") <= r, u + 1)
        .otherwise(u)
    )
    return (
        flagged.join(F.broadcast(caps))
        .withColumn("__rem", rem)
        .withColumn("__uncnt", uncnt)
        .select(
            "source",
            "n_tokens",
            "cap",
            "capped",
            alloc.cast("bigint").alias("alloc"),
        )
    )


def token_budget_select(
    df: DataFrame,
    budget_num: int = 1,
    budget_den: int = 4,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Quality-ranked selection under a global TOKEN budget — the
    FineWeb-Edu / phi-class curation step (public reports: score every
    document, keep the best until the training-token budget is spent;
    no reference counterpart, extension surface; the budget-side
    complement of X230/X246's per-source allocations).

    Quality = the engine's corpus-self unigram LM score (X52,
    hash-channel: 6dp-DECIMAL per-token terms, snapped mean) — LOWER
    avg_neg_logprob = more typical text, the CCNet "head" direction.
    Docs order by (avg_neg_logprob ASC, id ASC) — a deterministic
    total order over snapped DECIMALs — and survive while the
    INCLUSIVE running token sum stays ≤ B = (T·budget_num) div
    budget_den, T = total tokens over scored docs (exact integer
    fraction). Unscored docs (<1 token) can't be ranked and are
    excluded by contract.

    Scale path: the running token sum and T are
    ``partitioning.ranged_prefix``'s running and total sum of
    n_tokens over (score, id). BIGINT sums are associative, so the
    two-phase running total is bit-identical to the single-window
    form the SQL oracle replays, and no task ever sorts more than its
    own contiguous score range. Output: (id, n_tokens,
    avg_neg_logprob, cum_tokens), the kept prefix.
    """
    if budget_num <= 0 or budget_den <= 0:
        raise ValueError("budget fraction must be positive")
    from safedata_pipeline_spark.operators.text import unigram_logprob
    from safedata_pipeline_spark.partitioning import ranged_prefix

    scored = unigram_logprob(df, text_col=text_col, id_col=id_col)
    has = scored.where(F.col("avg_neg_logprob").isNotNull())
    cum = ranged_prefix(has, ["avg_neg_logprob", id_col], ["n_tokens"])
    budget = F.expr(f"(__tot_n_tokens * {budget_num}) div {budget_den}")
    return cum.where(F.col("__cum_n_tokens") <= budget).select(
        id_col,
        F.col("n_tokens").cast("bigint").alias("n_tokens"),
        "avg_neg_logprob",
        F.col("__cum_n_tokens").cast("bigint").alias("cum_tokens"),
    )
