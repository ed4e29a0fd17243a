"""Similarity search over embedding columns (SURVEY §2.8 extension
surface; generalizes the reference's kNN linkage join from
quasi-identifier space to arbitrary `array<float>` embeddings).

  * ``cosine_topk``     — exact brute-force top-k: queries × corpus
    pair stream with the corpus broadcast, per-query top-k via
    aggregated sorted-slice (no global window sort). The correctness
    baseline and the oracle-checkable form.
  * ``cosine_topk_lsh`` — random-hyperplane (sign) LSH bucketing: a
    query only scores candidates sharing a bucket in some hash table.
    Sub-linear candidate sets at 100 TB; recall controlled by
    (num_tables × hyperplanes). Hyperplane directions are md5-derived,
    so the bucketing is deterministic and engine-reproducible.
  * ``cosine_topk_ivf`` — inverted-file ANN: a KMeans coarse quantizer
    (fit on a corpus sample, seeded) partitions the corpus into cells;
    each query probes only its ``n_probe`` nearest cells. Candidates
    per query ≈ n·n_probe/num_cells; the cell assignment is one
    codegen'd map pass and the probe join is a plain equi-join.

Dot products / norms are array folds in fixed element order —
deterministic FP, identical across engines.

Index-side vector math (LSH sign buckets, IVF cell assignment) is an
Arrow-batched Pandas UDF doing ONE numpy matrix multiply per batch:
per-row higher-order-function expressions cost ~0.5 µs per scalar op
(measured: 2k × 64-dim × 64 planes = 5 s interpreted, <0.1 s as GEMM),
which at 100 TB would dominate the scan. The *scoring* dot products
stay JVM-side array folds — they touch only top-k candidates.
"""

from __future__ import annotations

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from safedata_pipeline_spark.checkpoint import pin_eager, pin_lazy

from safedata_pipeline_spark.functions.vector import cosine as _cos
from safedata_pipeline_spark.functions.vector import dot as _dot
from safedata_pipeline_spark.functions.vector import norm as _norm

ROUND_N = 6


def _prep(df: DataFrame, id_col: str, vec_col: str, alias_id: str) -> DataFrame:
    v = F.col(vec_col).cast("array<double>")
    return df.select(F.col(id_col).alias(alias_id), v.alias("v"), _norm(v).alias("nrm"))


def _topk(scored: DataFrame, k: int) -> DataFrame:
    """Per-query top-k as an aggregation: collect the per-partition
    partial top-k... expressed as sort_array(collect_list(struct)) with
    slice — acceptable because the aggregation is per query id and
    map-side partials keep only candidate structs, not raw vectors.
    Output one row per (query_id, rank)."""
    # undefined (zero-norm) cosines are NULL — drop them BEFORE the
    # sort: Spark's sort_array places nulls first, which would rank a
    # degenerate candidate at the top
    scored = scored.where(F.col("cosine").isNotNull())
    packed = scored.select(
        "query_id",
        F.struct(
            (-F.col("cosine")).alias("neg"), F.col("id").alias("id"), F.col("cosine").alias("cosine")
        ).alias("cand"),
    )
    agg = packed.groupBy("query_id").agg(
        F.slice(F.sort_array(F.collect_list("cand")), 1, k).alias("top")
    )
    return agg.select(
        "query_id", F.posexplode("top").alias("rank0", "cand")
    ).select(
        "query_id",
        (F.col("rank0") + 1).alias("rank"),
        F.col("cand.id").alias("neighbor_id"),
        F.round(F.col("cand.cosine"), ROUND_N).alias("cosine"),
    )


def cosine_topk(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str | None = None,
) -> DataFrame:
    """Exact top-k cosine neighbors for each query vector (self-matches
    excluded by id). Output: (query_id, rank, neighbor_id, cosine)."""
    q = _prep(queries, query_id_col or id_col, vec_col, "query_id")
    c = _prep(corpus, id_col, vec_col, "id")
    par = queries.sparkSession.sparkContext.defaultParallelism
    pairs = q.repartition(par).alias("q").join(
        F.broadcast(c.alias("c")), on=F.col("q.query_id") != F.col("c.id")
    )
    scored = pairs.select(
        F.col("q.query_id").alias("query_id"),
        F.col("c.id").alias("id"),
        _cos(F.col("q.v"), F.col("c.v"), F.col("q.nrm"), F.col("c.nrm")).alias("cosine"),
    )
    return _topk(scored, k)


def margin_bitext_mine(
    src: DataFrame,
    tgt: DataFrame,
    k: int = 4,
    threshold: float = 1.0,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Margin-based bitext mining (Artetxe & Schwenk 2019 "Margin-based
    Parallel Corpus Mining with Multilingual Sentence Embeddings" —
    the pair-selection rule behind CCMatrix/NLLB training data, public
    papers): for each source vector, the best target by the RATIO
    margin  cos(a,b) / ((avgₖ(a→tgt) + avgₖ(b→src)) / 2)  — raw cosine
    over-selects hubs (vectors close to everything); dividing by the
    average similarity of each side's k-neighborhood cancels hubness,
    and pairs are kept only when the margin clears ``threshold``
    (margin > 1 ⇔ the pair beats its neighborhoods' background).

    Determinism discipline: cosines snap to 9dp DECIMAL before any
    aggregation, neighborhood averages are exact DECIMAL sums divided
    as the same double op on both engines, the margin floor-snaps at
    9dp before ranking, ties break to the smallest target id, and a
    non-positive or vanishing (≤ 1e-6) neighborhood denominator yields
    NULL (dropped) instead of an engine-dependent infinity or a
    Long-saturated snap.

    Fixture-scale plan: one broadcast cross of src × tgt scores every
    pair (the ``cosine_topk`` shape), pinned once for its three
    consumers (src-side average, tgt-side average, the margin join).
    At 100 TB neither side broadcasts: candidate pairs come from the
    ANN bucket families (``cosine_topk_ivf`` cells / LSH bands) and
    the margin math downstream of the pair list is unchanged — it only
    ever sees (src, tgt, cosine) rows.

    Output: ``(src_id, tgt_id, cosine, margin)`` — at most one row per
    source vector.
    """
    from safedata_pipeline_spark.checkpoint import pin_lazy

    a = _prep(src, id_col, vec_col, "src_id")
    b = _prep(tgt, id_col, vec_col, "tgt_id")
    par = src.sparkSession.sparkContext.defaultParallelism
    pairs = a.repartition(par).alias("a").crossJoin(F.broadcast(b.alias("b")))
    c9 = F.round(
        _cos(F.col("a.v"), F.col("b.v"), F.col("a.nrm"), F.col("b.nrm")), 9
    ).cast("decimal(12,9)")
    p = (
        pairs.select(F.col("a.src_id"), F.col("b.tgt_id"), c9.alias("c9"))
        .where(F.col("c9").isNotNull())
        .transform(pin_lazy)
    )

    def _avgk(df: DataFrame, key: str, other: str, out: str) -> DataFrame:
        packed = df.select(
            key,
            F.struct((-F.col("c9")).alias("neg"), F.col(other).alias("oid")).alias(
                "cand"
            ),
        )
        agg = packed.groupBy(key).agg(
            F.slice(F.sort_array(F.collect_list("cand")), 1, k).alias("top")
        )
        # accumulator stays DECIMAL(20,9): (20,9) − (12,9) is exact at
        # decimal(21,9) (no precision-loss rescale), and the sum of ≤k
        # unit-bounded cosines fits (20,9), so the cast back is lossless
        zero = F.lit(0).cast("decimal(20,9)")
        ssum = F.aggregate(
            F.col("top"), zero, lambda acc, x: (acc - x["neg"]).cast("decimal(20,9)")
        )
        return agg.select(
            key, (ssum.cast("double") / F.size("top")).alias(out)
        )

    aa = _avgk(p, "src_id", "tgt_id", "avg_a")
    bb = _avgk(p, "tgt_id", "src_id", "avg_b")
    denom = (F.col("avg_a") + F.col("avg_b")) / 2
    # the background must be POSITIVE and non-vanishing (> 1e-6): a
    # near-zero or negative neighborhood average means the pair space
    # is degenerate and the ratio margin is meaningless there — and a
    # tiny denominator would push c9/denom*1e9 past Long range, where
    # Spark's floor->long saturates while DuckDB's double floor does
    # not (a silent cross-engine divergence). With denom > 1e-6 and
    # |c9| <= 1 the snapped value stays below 1e15, exact in both.
    margin = F.when(
        denom > F.lit(1e-6),
        F.floor(F.col("c9").cast("double") / denom * F.lit(1e9) + F.lit(0.5)) / 1e9,
    )
    scored = (
        p.join(aa, "src_id")
        .join(bb, "tgt_id")
        .select("src_id", "tgt_id", "c9", margin.alias("margin"))
        .where(F.col("margin").isNotNull())
    )
    best = scored.groupBy("src_id").agg(
        F.min(
            F.struct(
                (-F.col("margin")).alias("nm"),
                F.col("tgt_id").alias("tid"),
                F.col("c9").alias("c"),
            )
        ).alias("b")
    )
    return best.select(
        "src_id",
        F.col("b.tid").alias("tgt_id"),
        F.col("b.c").cast("double").alias("cosine"),
        (-F.col("b.nm")).alias("margin"),
    ).where(F.col("margin") >= threshold)


def _hyperplane(dim: int, table: int, plane: int) -> list[float]:
    """Deterministic pseudo-random hyperplane component in {-1,+1}^dim,
    derived from md5 so both engines (and reruns) agree."""
    import hashlib

    out = []
    for d in range(dim):
        h = hashlib.md5(f"{table}:{plane}:{d}".encode()).hexdigest()
        out.append(1.0 if int(h[:8], 16) % 2 == 0 else -1.0)
    return out


import functools


@functools.lru_cache(maxsize=8)
def _hyperplane_matrix(dim: int, num_tables: int, planes: int):
    """(num_tables·planes, dim) ±1 matrix, md5-derived (deterministic)."""
    import numpy as np

    return np.array(
        [_hyperplane(dim, t, p) for t in range(num_tables) for p in range(planes)]
    )


def bucket_keys_vectorized(dim: int, num_tables: int, planes: int):
    """Pandas UDF: embedding → array of ``num_tables`` packed bigint
    bucket keys (``t << planes | sign_bits``). One GEMM per Arrow
    batch; the hyperplane matrix is captured once per executor."""
    import numpy as np

    W = _hyperplane_matrix(dim, num_tables, planes)
    pows = 1 << np.arange(planes - 1, -1, -1)
    offs = (np.arange(num_tables) << planes).astype(np.int64)

    @F.pandas_udf("array<long>")
    def keys(col: pd.Series) -> pd.Series:
        M = np.vstack(col.to_numpy())
        bits = (M @ W.T >= 0).reshape(len(M), num_tables, planes)
        packed = bits @ pows + offs
        return pd.Series(list(packed.astype(np.int64)))

    return keys


def probe_keys_vectorized(dim: int, num_tables: int, planes: int, extra_probes: int):
    """Pandas UDF: embedding → MULTI-PROBE bucket keys (Lv et al.,
    "Multi-Probe LSH", VLDB'07): per table, the base key plus the
    ``extra_probes`` perturbed keys whose flipped-margin cost is
    smallest. A perturbation flips any SUBSET of the ``s`` lowest
    |w·q|-margin hyperplanes (the planes most likely to have put a
    true neighbor on the other side); its cost is the sum of the
    flipped margins, and probes are taken in ascending-cost order —
    the full perturbation-sequence scheme of the paper, not just
    single-bit flips (single-bit tops out at ``planes`` probes and
    plateaus well below the recall a deeper sequence reaches).
    ``extra_probes`` multiplies per-query candidate buckets by
    (1 + extra_probes) WITHOUT growing the index (the corpus keeps one
    key per table) — the recall/cost dial that beats adding tables,
    because tables cost index space at 100 TB while probes only cost
    query candidates.

    Fully vectorized: one GEMM + one argsort + two small matmuls per
    Arrow batch. The subset trick: the s chosen planes are distinct
    bits, so the XOR of their key masks equals their SUM — both the
    2^s subset costs (|margins| @ Bᵀ) and the 2^s flip masks
    (chosen_pows @ Bᵀ) are plain matrix products against the static
    subset-membership matrix B."""
    import numpy as np

    W = _hyperplane_matrix(dim, num_tables, planes)
    pows = 1 << np.arange(planes - 1, -1, -1)
    offs = (np.arange(num_tables) << planes).astype(np.int64)
    # perturbation universe: subsets of the s lowest-margin planes,
    # sized so at least extra_probes non-empty subsets exist
    s = 1
    while (1 << s) - 1 < extra_probes and s < planes:
        s += 1
    n_sub = (1 << s) - 1
    # B: (n_sub, s) membership of each non-empty subset (1..2^s-1)
    B = ((np.arange(1, n_sub + 1)[:, None] >> np.arange(s)) & 1).astype(np.float64)

    @F.pandas_udf("array<long>")
    def keys(col: pd.Series) -> pd.Series:
        M = np.vstack(col.to_numpy())
        n = len(M)
        proj = (M @ W.T).reshape(n, num_tables, planes)
        base = ((proj >= 0) @ pows + offs).astype(np.int64)  # (n, T)
        out = base[:, :, None]
        if extra_probes:
            absp = np.abs(proj)
            order = np.argsort(absp, axis=2, kind="stable")[:, :, :s]  # (n,T,s)
            margins = np.take_along_axis(absp, order, axis=2)  # (n,T,s)
            sel_pows = pows[order].astype(np.float64)  # (n,T,s)
            costs = margins @ B.T  # (n,T,n_sub)
            masks = (sel_pows @ B.T).astype(np.int64)  # (n,T,n_sub): XOR==sum
            take = min(extra_probes, n_sub)
            pick = np.argsort(costs, axis=2, kind="stable")[:, :, :take]
            flip = np.take_along_axis(masks, pick, axis=2)  # (n,T,take)
            out = np.concatenate([out, base[:, :, None] ^ flip], axis=2)
        return pd.Series(list(out.reshape(n, -1).astype(np.int64)))

    return keys


def nearest_cells_vectorized(centers, n_probe: int):
    """Pandas UDF: unit embedding → ids of the ``n_probe`` centroids
    with the largest dot product. One GEMM + argsort per Arrow batch."""
    import numpy as np

    C = np.asarray(centers, dtype=float)

    @F.pandas_udf("array<int>")
    def cells(col: pd.Series) -> pd.Series:
        M = np.vstack(col.to_numpy())
        order = np.argsort(-(M @ C.T), axis=1, kind="stable")[:, :n_probe]
        return pd.Series(list(order.astype(np.int32)))

    return cells


def _unit(df: DataFrame) -> DataFrame:
    """Add a unit-normalized copy of ``v`` (zero vectors stay zero)."""
    return df.withColumn(
        "u",
        F.transform(
            "v", lambda x: F.when(F.col("nrm") > 0, x / F.col("nrm")).otherwise(F.lit(0.0))
        ),
    )


def cosine_topk_ivf(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    num_cells: int = 64,
    n_probe: int = 16,
    index_assign: int = 2,
    seed: int = 42,
    sample_fraction: float = 0.25,
) -> DataFrame:
    """Approximate top-k via an IVF (inverted-file) index: spherical
    KMeans on unit vectors partitions the corpus; queries score only
    the ``n_probe`` nearest cells.

    Two recall dials, both published IVF practice:

    * ``n_probe`` — the probe budget (query side): candidates per
      query ≈ n · n_probe · index_assign / num_cells, so cost is
      sub-linear in n whenever n_probe·index_assign < num_cells.
    * ``index_assign`` — multiple assignment (index side; the FAISS /
      SOAR-lineage "cell spilling"): each corpus vector is indexed
      into its ``index_assign`` nearest cells, so a true neighbor
      sitting just across a Voronoi boundary is still reachable from
      the probe set. Costs index size (×index_assign cell rows — the
      vectors themselves are NOT copied, only (cell, id) postings),
      not query fan-out, and at a fixed candidate fraction it beats
      spending the same budget on more probes: measured on the
      near-orthogonal sf0.01 fixture (the adversarial case — no
      cluster structure to exploit), recall@5 at ~25% candidates is
      0.60 with assign=1 vs 0.80 at ~33% with (64 cells, 12 probes,
      assign=2).

    Defaults (64, 16, 2) hold the ≥0.8 recall@5 gate on the fixture.
    Scale shape: the quantizer fits on a corpus *sample* (default 25%;
    set ``sample_fraction`` ≪ 1 at 100 TB — centroid quality needs only
    O(num_cells) data); centroids are O(num_cells·dim) driver-side and
    ship as one literal; cell assignment is a map-only pass; the probe
    is an equi-join on the cell id (AQE handles skewed cells). The
    normalized corpus is materialized once (localCheckpoint, blocks
    auto-released on GC) so the KMeans fit iterations and the probe
    join don't each re-run the scan + normalize lineage.
    Approximate ⇒ recall-tested, not oracle-checked."""
    import numpy as np
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    c = _unit(_prep(corpus, id_col, vec_col, "id")).transform(pin_lazy)
    train = c.select(array_to_vector("u").alias("features"))
    if sample_fraction < 1.0:
        train = train.sample(fraction=sample_fraction, seed=seed)
    # a coarse quantizer needs rough cells, not convergence — cap iterations
    model = KMeans(k=num_cells, seed=seed, maxIter=8, featuresCol="features").fit(train)
    centers = np.vstack(model.clusterCenters()).astype(float)

    assign = nearest_cells_vectorized(centers, index_assign)
    probe = nearest_cells_vectorized(centers, n_probe)
    c_cells = c.withColumn("cell", F.explode(assign("u")))
    q_cells = _unit(_prep(queries, id_col, vec_col, "query_id")).withColumn(
        "cell", F.explode(probe("u"))
    )
    pairs = q_cells.alias("q").join(
        c_cells.alias("c"),
        on=(F.col("q.cell") == F.col("c.cell")) & (F.col("q.query_id") != F.col("c.id")),
    ).select(
        F.col("q.query_id").alias("query_id"),
        F.col("c.id").alias("id"),
        _cos(F.col("q.v"), F.col("c.v"), F.col("q.nrm"), F.col("c.nrm")).alias("cosine"),
    )
    # with index_assign > 1 a (query, id) pair can match through more
    # than one shared cell — dedup before ranking (same guard as the
    # multi-table LSH path); assign=1 never duplicates, skip the shuffle
    if index_assign > 1:
        pairs = pairs.dropDuplicates(["query_id", "id"])
    return _topk(pairs, k)


def cosine_topk_ivf_exact(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    num_cells: int = 8,
    iterations: int = 3,
    n_probe: int = 2,
    dist_round: int = 6,
) -> DataFrame:
    """ORACLE-CHECKABLE IVF ANN — the scale-path composition under the
    hash check, not just the brute-force exact form.

    Same IVF shape as ``cosine_topk_ivf`` (coarse quantizer confines
    the search; queries scan only ``n_probe`` of ``num_cells`` cells ≈
    an ``n_probe/num_cells`` candidate fraction), but every stage is
    engine-deterministic via the semantic-dedup (X166) discipline:

    * quantizer — ``clustering.kmeans_fit_centers`` with the
      md5-seeded init, 9dp-rounded per-iteration centroid means, and
      the ``dist_round``-rounded pure-expression distance kernel, so a
      SQL oracle replays the exact centroid trajectory;
    * index — each corpus vector posts to its single argmin cell
      (rounded distance, ties to lowest cid — ``kmeans_assign``);
    * probe — each query expands to its ``n_probe`` nearest cells by
      the SAME rounded kernel (``clustering.probe_cells_expr``);
    * scoring — exact cosine over the probed cells' members, top-k by
      (cosine desc, id asc) — identical ranking to ``cosine_topk``.

    100 TB shape: fit iterations are map+combine passes with O(k·dim)
    driver traffic; assignment and probing are map-only codegen'd
    expressions; the candidate generation is an equi-join on the cell
    id (shuffle keyed by cell, AQE splits skewed cells); nothing is
    all-pairs. Cross-cell true neighbors are missed — the accepted IVF
    trade, here *measurable* because the recall-gated fast twin
    (``cosine_topk_ivf``) and the exact form share the fixture.
    Output: (query_id, rank, neighbor_id, cosine)."""
    from safedata_pipeline_spark.operators.clustering import (
        kmeans_assign,
        kmeans_fit_centers,
        probe_cells_expr,
    )

    centers, _ = kmeans_fit_centers(
        corpus, k=num_cells, iterations=iterations, id_col=id_col,
        vec_col=vec_col, dist_round=dist_round,
    )
    c = _prep(corpus.where(F.col(vec_col).isNotNull()), id_col, vec_col, "id")
    cells = kmeans_assign(
        corpus, centers, id_col=id_col, vec_col=vec_col, dist_round=dist_round
    ).select(F.col(id_col).alias("id"), F.col("cluster_id").alias("cell"))
    c_cells = c.join(cells, "id")
    q = _prep(queries.where(F.col(vec_col).isNotNull()), id_col, vec_col, "query_id")
    probe = probe_cells_expr(centers, n_probe, dist_round)
    q_cells = q.withColumn("cell", F.explode(probe(F.col("v"))))
    pairs = (
        q_cells.alias("q")
        .join(
            c_cells.alias("c"),
            on=(F.col("q.cell") == F.col("c.cell"))
            & (F.col("q.query_id") != F.col("c.id")),
        )
        .select(
            F.col("q.query_id").alias("query_id"),
            F.col("c.id").alias("id"),
            _cos(F.col("q.v"), F.col("c.v"), F.col("q.nrm"), F.col("c.nrm")).alias(
                "cosine"
            ),
        )
    )
    # single-cell indexing + distinct probed cells -> a (query, id)
    # pair arises at most once; no dedup shuffle needed
    return _topk(pairs, k)


def cosine_topk_lsh(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    num_tables: int = 8,
    planes: int = 8,
    extra_probes: int = 16,
) -> DataFrame:
    """Approximate top-k: score only candidates sharing an LSH bucket
    in at least one table. Candidates per query ≈ n/2^planes ×
    num_tables × (1 + extra_probes) instead of n — the 100 TB path.
    ``extra_probes`` enables multi-probe (query side also checks the
    buckets reached by ascending-cost perturbations of its
    lowest-margin hyperplane bits — see ``probe_keys_vectorized``),
    raising recall without touching index size. Measured recall@5 on
    the sf0.01 fixture (near-orthogonal random vectors — the hard
    case) vs probes: 4→0.47, 8→0.65, 12→0.75, **16→0.83** (default),
    24→0.91, 31→0.94; candidate fraction grows linearly in probes
    while the index stays one key per table. Approximate ⇒ validated
    by recall gates, not the SQL oracle."""
    bk = bucket_keys_vectorized(dim, num_tables, planes)
    pk = probe_keys_vectorized(dim, num_tables, planes, extra_probes)
    q = _prep(queries, id_col, vec_col, "query_id").withColumn("bk", F.explode(pk("v")))
    c = _prep(corpus, id_col, vec_col, "id").withColumn("bk", F.explode(bk("v")))
    pairs = (
        q.alias("q")
        .join(c.alias("c"), on=(F.col("q.bk") == F.col("c.bk")) & (F.col("q.query_id") != F.col("c.id")))
        .select(
            F.col("q.query_id").alias("query_id"),
            F.col("c.id").alias("id"),
            _cos(F.col("q.v"), F.col("c.v"), F.col("q.nrm"), F.col("c.nrm")).alias("cosine"),
        )
        .dropDuplicates(["query_id", "id"])
    )
    return _topk(pairs, k)


def lsh_bucket_keys_expr(
    dim: int, num_tables: int, planes: int, proj_round: int = 6
):
    """PURE-EXPRESSION LSH table keys (the oracle-checkable kernel):
    given an ``array<double>`` column, returns an ``array<bigint>`` of
    ``num_tables`` packed keys ``(t << planes) | sign_bits`` computed
    entirely in Catalyst expressions — no Python, replayable in SQL.

    Each sign bit is ``round(v · w, proj_round) >= 0`` with ``w`` the
    md5-derived ±1 hyperplane (``_hyperplane`` — the same planes the
    GEMM twin ``bucket_keys_vectorized`` uses). Rounding the projection
    BEFORE the sign comparison is the X166/X207 discipline: both
    engines compare the same 6dp number, so last-ulp summation drift
    (Spark's sequential fold vs DuckDB's ``list_dot_product``) cannot
    flip a bucket bit unless the true projection sits within ~1e-15 of
    a rounding boundary. Used by ``cosine_topk_lsh_exact``; the
    vectorized GEMM UDF stays the 100 TB indexing path (identical keys
    when projections are off-boundary, per test)."""

    def keys(vcol):
        out = []
        for t in range(num_tables):
            key = F.lit(t << planes).cast("long")
            for p in range(planes):
                w = _hyperplane(dim, t, p)
                warr = F.array(*[F.lit(x) for x in w])
                bit = (
                    F.round(_dot(vcol, warr), proj_round) >= 0
                ).cast("long")
                key = key + bit * F.lit(1 << (planes - 1 - p))
            out.append(key)
        return F.array(*out)

    return keys


def bucket_keys_snapped_vectorized(
    dim: int, num_tables: int, planes: int, proj_round: int = 6
):
    """Arrow GEMM twin of ``lsh_bucket_keys_expr``: identical packed
    keys — same md5 planes, same ``round(proj, proj_round) >= 0`` sign
    rule — at one matrix multiply per batch instead of an interpreted
    per-row fold. ``cosine_topk_lsh_exact`` uses THIS kernel engine-side
    (the pure-expression form costs ~4-5s of driver-side plan analysis
    alone: 24 planes × 64-element array literals = ~1.5k Literal nodes;
    measured constant across sf0.01/sf0.1, i.e. pure plan overhead)
    while the SQL oracle replays the expression form — equality of the
    two kernels off the rounding boundary is pinned by test. np.round
    half-even vs SQL half-away differs only exactly ON a .5×10^-6
    boundary, and the sign compare only cares about the region around
    0 — the same measure-zero latitude every rounded kernel here
    accepts."""
    import numpy as np

    W = _hyperplane_matrix(dim, num_tables, planes)
    pows = 1 << np.arange(planes - 1, -1, -1)
    offs = (np.arange(num_tables) << planes).astype(np.int64)

    @F.pandas_udf("array<long>")
    def keys(col: pd.Series) -> pd.Series:
        M = np.vstack(col.to_numpy())
        proj = np.round(M @ W.T, proj_round)
        bits = (proj >= 0).reshape(len(M), num_tables, planes)
        packed = bits @ pows + offs
        return pd.Series(list(packed.astype(np.int64)))

    return keys


def cosine_topk_lsh_exact(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    num_tables: int = 4,
    planes: int = 6,
    proj_round: int = 6,
) -> DataFrame:
    """ORACLE-CHECKABLE LSH ANN — the random-hyperplane scale path
    under the hash check (VERDICT r10 #2: the last rows-only asymmetry
    in the similarity stack; the IVF sibling was promoted in r10 as
    X207).

    Same composition as ``cosine_topk_lsh`` — candidates are only the
    pairs sharing a bucket in ≥1 table — but every stage is
    engine-deterministic: md5-derived ±1 hyperplanes, the
    ``proj_round``-rounded pure-expression sign kernel
    (``lsh_bucket_keys_expr``), base buckets only (no multi-probe:
    probe perturbation order depends on float margin sorts, which a
    SQL oracle cannot replay ulp-safely), exact cosine over
    candidates, (cosine desc, id asc) top-k. The hash match therefore
    certifies candidate GENERATION itself — which pairs collide — not
    just scoring. ``cosine_topk_lsh`` remains the recall-gated
    production twin (GEMM indexing + multi-probe recall dial).

    100 TB shape: key computation is a map-only pass (the fold kernel
    here; the Arrow GEMM twin at real scale), candidates arise from an
    equi-join on the packed bucket key (shuffle keyed by bucket; AQE
    splits hot buckets), and per-pair work is one cosine — nothing
    all-pairs. Expected candidates per query ≈ num_tables ×
    n/2^planes. Output: (query_id, rank, neighbor_id, cosine)."""
    keys = bucket_keys_snapped_vectorized(dim, num_tables, planes, proj_round)
    q = _prep(
        queries.where(F.col(vec_col).isNotNull()), id_col, vec_col, "query_id"
    ).withColumn("bk", F.explode(keys(F.col("v"))))
    c = _prep(
        corpus.where(F.col(vec_col).isNotNull()), id_col, vec_col, "id"
    ).withColumn("bk", F.explode(keys(F.col("v"))))
    pairs = (
        q.alias("q")
        .join(
            c.alias("c"),
            on=(F.col("q.bk") == F.col("c.bk"))
            & (F.col("q.query_id") != F.col("c.id")),
        )
        .select(
            F.col("q.query_id").alias("query_id"),
            F.col("c.id").alias("id"),
            _cos(
                F.col("q.v"), F.col("c.v"), F.col("q.nrm"), F.col("c.nrm")
            ).alias("cosine"),
        )
        # a pair can collide in several tables; cosine is a pure
        # function of the pair, so keeping any one row is exact
        .dropDuplicates(["query_id", "id"])
    )
    return _topk(pairs, k)


def embedding_centroids(
    df: DataFrame,
    label_col: str = "label",
    vec_col: str = "embedding",
    packed: bool = True,
) -> DataFrame:
    """Per-label mean embedding (class centroids / cluster centers) —
    the fit step behind nearest-centroid classification, IVF coarse
    quantizers, and per-cluster corpus statistics.

    Shape: posexplode to (label, dim, x) → one map-side-combinable
    aggregation keyed (label, dim) → repack each label's dims into an
    ordered array in-row. Two shuffles, both on small keys; no vector
    ever crosses the wire whole.

    Cross-engine float discipline: per-dimension sums ride
    DECIMAL(38,12) (partition-order independent), convert to double
    once, divide by the count, round — so the centroid is
    oracle-reproducible despite shuffle nondeterminism.

    Output: (label, centroid array<double>, n_vectors) — or, with
    ``packed=False``, the long form (label, dim, centroid_val,
    n_vectors), one row per dimension (flat-typed, driver/oracle
    compare friendly).
    """
    v = F.col(vec_col).cast("array<double>")
    ex = df.select(F.col(label_col).alias("label"), F.posexplode(v).alias("dim", "x"))
    # half-up snap instead of round(): a decimal-sum / int-count
    # quotient can land exactly on a .5e-6 tie, where Spark (half-up)
    # and an oracle engine (half-even) disagree by 1e-6
    mean = F.sum(F.col("x").cast("decimal(38,12)")).cast("double") / F.count(F.lit(1))
    per_dim = ex.groupBy("label", "dim").agg(
        (F.floor(mean * 1e6 + F.lit(0.5)) / 1e6).alias("centroid_val"),
        F.count(F.lit(1)).cast("bigint").alias("n_vectors"),
    )
    if not packed:
        return per_dim.select("label", F.col("dim").cast("bigint").alias("dim"), "centroid_val", "n_vectors")
    return per_dim.groupBy("label").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("dim", "centroid_val"))),
            lambda s: s["centroid_val"],
        ).alias("centroid"),
        F.max("n_vectors").cast("bigint").alias("n_vectors"),
    )


def _gram_partials_kernel(round_dp: int):
    """Arrow per-partition GEMM-partial kernel for ``embedding_gram``
    (VERDICT r12 #4 — removes the ×d(d+1)/2 in-row explode): per Arrow
    batch, ONE outer-product tensor per chunk of rows, per-product
    snap@``round_dp``, and an EXACT int64 accumulation of the scaled
    products — so each batch emits ≤ d(d+1)/2 partial rows
    ``(i, j, psum=Σ round(p,dp)·10^dp, cnt)`` instead of n·d(d+1)/2
    exploded structs through the hash aggregate.

    Exactness discipline (stricter than the X209 twin's bare
    np.round): the JVM path computes HALF_UP(shortest-repr(p), dp) per
    product (Spark's Round on double). The kernel decides each
    product's rounding from the EXACT scaled value p·10^dp via a
    Dekker two-product (error-free: hi+lo ≡ p·10^dp, since the
    106-bit double-double holds the ≤83-bit exact product), and routes
    the measure-tiny near-boundary band (|frac−½| ≤ 1e-14·|hi|, where
    binary-vs-shortest-repr latitude lives) through
    ``Decimal(repr(p))`` HALF_UP — the same decimal-string semantics
    as the JVM. Bit-equality of the two paths is pinned by test on
    random and adversarial inputs."""
    import numpy as np

    scale = np.float64(10**round_dp)
    C = np.float64(134217729.0)  # 2^27 + 1, Veltkamp split constant
    b1 = C * scale
    BH = b1 - (b1 - scale)
    BL = scale - BH  # 0.0 for dp <= 9 (10^dp has a <=30-bit mantissa)
    CHUNK = 256

    def _round_scaled_into(P, bufs):
        """Exact HALF_UP(P·scale) written into bufs['r']. All
        element-wise work runs through PREALLOCATED scratch buffers
        (out=): this container's first-touch page-fault cost measured
        ~20 MB/s, so per-chunk fresh temporaries (~85 MB/chunk) made
        the arithmetic 100x slower than the flops."""
        hi, lo, r, frac, t1, t2, bb = (
            bufs[k] for k in ("hi", "lo", "r", "frac", "t1", "t2", "bb")
        )
        np.multiply(P, scale, out=hi)
        # Dekker two-product: hi + lo == P*scale exactly
        np.multiply(P, C, out=t1)
        np.subtract(t1, P, out=t2)
        np.subtract(t1, t2, out=t2)  # ah
        np.multiply(t2, BH, out=t1)
        np.subtract(t1, hi, out=t1)  # ah*BH - hi
        if BL != 0.0:
            np.multiply(t2, BL, out=lo)
            np.add(t1, lo, out=t1)
        np.subtract(P, t2, out=t2)  # al
        np.multiply(t2, BH, out=lo)
        np.add(t1, lo, out=t1)
        if BL != 0.0:
            np.multiply(t2, BL, out=lo)
            np.add(t1, lo, out=t1)
        lo = t1
        np.rint(hi, out=r)
        np.subtract(hi, r, out=frac)  # Sterbenz-exact
        np.add(frac, lo, out=frac)
        np.greater(frac, 0.5, out=bb)
        np.add(r, bb, out=r, casting="unsafe")
        np.less(frac, -0.5, out=bb)
        np.subtract(r, bb, out=r, casting="unsafe")
        # near-boundary band -> decimal-string HALF_UP (JVM semantics).
        # The binary-exact value and its shortest repr differ by
        # <= 0.5 ulp(p)·scale ≈ 1.1e-16·|hi|; band at 1e-14·|hi| is
        # ~100x wider, still vanishingly rare (exact ties included).
        np.abs(frac, out=t2)
        np.subtract(t2, 0.5, out=t2)
        np.abs(t2, out=t2)
        np.abs(hi, out=lo)
        np.maximum(lo, 1.0, out=lo)
        np.multiply(lo, 1e-14, out=lo)
        np.less_equal(t2, lo, out=bb)
        if bb.any():
            import decimal

            q = int(10**round_dp)
            hard = bb.nonzero()
            for k in zip(*hard):
                r[k] = float(
                    (decimal.Decimal(repr(float(P[k]))) * q).to_integral_value(
                        rounding=decimal.ROUND_HALF_UP
                    )
                )
        return r

    def kernel(it):
        scratch = {}

        def bufs_for(ncell, d):
            key = (ncell, d)
            if key not in scratch:
                shape = (CHUNK, ncell)
                scratch[key] = {
                    "T": np.empty((CHUNK, d, d)),
                    "P": np.empty(shape),
                    "hi": np.empty(shape),
                    "lo": np.empty(shape),
                    "r": np.empty(shape),
                    "frac": np.empty(shape),
                    "t1": np.empty(shape),
                    "t2": np.empty(shape),
                    "bb": np.empty(shape, dtype=bool),
                }
            return scratch[key]

        for pdf in it:
            if pdf.empty:
                continue
            arrs = pdf.iloc[:, 0].to_numpy()
            lens = np.array([len(a) for a in arrs])
            frames = []
            for d in np.unique(lens):
                X = np.vstack([np.asarray(a, dtype=np.float64) for a in arrs[lens == d]])
                n = X.shape[0]
                d = int(d)
                # exactness-envelope guard (ADVICE r13): the int64
                # accumulation and the rint ±1 correction are exact
                # only while every |scaled product| and every
                # CHUNK-row column sum stays below 2^53; beyond it
                # the kernel would silently diverge from the exact
                # vectorized=False twin. Enforce, don't assume.
                amax = float(np.abs(X).max()) if X.size else 0.0
                if amax * amax * float(scale) * CHUNK >= 2.0**53:
                    raise ValueError(
                        "embedding_gram exactness envelope exceeded: "
                        f"max|x| = {amax:g} with round_dp = {round_dp} "
                        f"implies scaled chunk sums >= 2^53; lower "
                        "round_dp or use vectorized=False (exact "
                        "decimal path)"
                    )
                iu = np.triu_indices(d)
                flat = (iu[0] * d + iu[1]).astype(np.intp)
                ncell = flat.size
                full = bufs_for(ncell, d)
                acc = np.zeros(ncell, dtype=np.int64)
                for s in range(0, n, CHUNK):
                    chunk = X[s : s + CHUNK]
                    cn = chunk.shape[0]
                    b = (
                        full
                        if cn == CHUNK
                        else {k: v[:cn] for k, v in full.items()}
                    )
                    np.multiply(
                        chunk[:, :, None], chunk[:, None, :], out=b["T"]
                    )
                    np.take(b["T"].reshape(cn, d * d), flat, axis=1, out=b["P"])
                    r = _round_scaled_into(b["P"], b)
                    # per-chunk column sums are exact integers < 2^53
                    acc += r.sum(axis=0).astype(np.int64)
                frames.append(
                    pd.DataFrame(
                        {
                            "i": iu[0].astype(np.int32),
                            "j": iu[1].astype(np.int32),
                            "psum": acc,
                            "cnt": np.int64(n),
                        }
                    )
                )
            if frames:
                yield pd.concat(frames, ignore_index=True)

    return kernel


def embedding_gram(
    df: DataFrame,
    vec_col: str = "embedding",
    round_dp: int = 9,
    vectorized: bool = True,
) -> DataFrame:
    """Exact corpus second-moment (Gram) matrix over an embedding
    column — the ONE-PASS sufficient statistic behind PCA / whitening
    (``pca_fit``), covariance screens, and embedding-drift monitors:
    S[i,j] = Σ x·xᵀ needs d(d+1)/2 numbers however large the corpus.

    Engine path (``vectorized=True``, default — the X209 twin
    discipline, VERDICT r12 #4): an Arrow ``mapInPandas`` kernel
    computes each batch's d(d+1)/2 partial sums by vectorized outer
    products with the per-product snap applied from the EXACT scaled
    value (see ``_gram_partials_kernel``), then ONE aggregate merges
    ≤ d(d+1)/2 rows per batch — wire cost partitions × d², CPU cost
    one numpy GEMM-shaped pass, no row blowup. Oracle-replay twin
    (``vectorized=False``): the (i, j≥i) pairs are built IN-ROW by a
    nested higher-order transform (runtime ``sequence`` indices — no
    d² literal expression tree), one explode feeds one aggregate; the
    SQL oracle replays this form, and the two paths are test-pinned
    bit-identical.

    Cross-engine float discipline: each product is a correctly-rounded
    IEEE double (identical on any engine), snapped@``round_dp`` and
    summed exactly (DECIMAL(38,9) / scaled int64) — partition-order
    independent, so the matrix is hash-checkable. Output:
    (i, j, gram, n_vectors) for 0-based i ≤ j (upper triangle; mirror
    for the full matrix).
    """
    v = F.col(vec_col).cast("array<double>")
    base = df.where(F.col(vec_col).isNotNull() & (F.size(vec_col) > 0)).select(
        v.alias("__v")
    )
    from safedata_pipeline_spark.partitioning import spread_small

    if vectorized:
        partials = spread_small(base).mapInPandas(
            _gram_partials_kernel(round_dp), "i int, j int, psum long, cnt long"
        )
        scale = 10**round_dp
        return partials.groupBy("i", "j").agg(
            F.round(
                (
                    F.sum(F.col("psum").cast("decimal(38,0)")) / F.lit(scale)
                ).cast("double"),
                6,
            ).alias("gram"),
            F.sum("cnt").cast("bigint").alias("n_vectors"),
        )
    vv = F.col("__v")
    pairs = F.flatten(
        F.transform(
            F.sequence(F.lit(1), F.size(vv)),
            lambda i: F.transform(
                F.sequence(i, F.size(vv)),
                lambda j: F.struct(
                    i.alias("i"),
                    j.alias("j"),
                    F.round(
                        F.element_at(vv, i) * F.element_at(vv, j), round_dp
                    ).alias("p"),
                ),
            ),
        )
    )
    # spread before the ~d²/2-fold pair explode (no-op at scale)
    ex = spread_small(base).select(F.explode(pairs).alias("x"))
    return ex.groupBy(
        (F.col("x.i") - 1).cast("int").alias("i"),
        (F.col("x.j") - 1).cast("int").alias("j"),
    ).agg(
        F.round(F.sum(F.col("x.p").cast("decimal(38,9)")).cast("double"), 6).alias(
            "gram"
        ),
        F.count(F.lit(1)).cast("bigint").alias("n_vectors"),
    )


def embedding_gram_drift(
    df_a: DataFrame,
    df_b: DataFrame,
    vec_col: str = "embedding",
) -> DataFrame:
    """Embedding-DISTRIBUTION drift between two cohorts (crawl
    snapshots, model versions, before/after a pipeline change) via
    their normalized second-moment matrices — the representation-drift
    monitor: per-dimension-pair E[xᵢxⱼ] deltas localize WHICH
    directions moved, something scalar screens (mean cosine, centroid
    shift) can't, and unlike per-vector tests it needs only each
    cohort's d(d+1)/2 sufficient statistics (``embedding_gram``), so
    comparing two 100 TB cohorts costs one scan each.

    Normalization: each cell divides by its cohort's n (second
    MOMENTS, not sums) so unequal cohort sizes compare; quotients take
    the half-up 1e-6 snap (the centroid discipline), delta is the
    exact difference of two snapped doubles — fully hash-checkable.

    Output: (i, j, moment_a, moment_b, delta) for 0-based i ≤ j.
    """
    snap = lambda c: F.floor(c * 1e6 + F.lit(0.5)) / 1e6  # noqa: E731
    a = embedding_gram(df_a, vec_col).select(
        "i", "j", snap(F.col("gram") / F.col("n_vectors")).alias("moment_a")
    )
    b = embedding_gram(df_b, vec_col).select(
        "i", "j", snap(F.col("gram") / F.col("n_vectors")).alias("moment_b")
    )
    return a.join(b, on=["i", "j"], how="outer").select(
        "i",
        "j",
        "moment_a",
        "moment_b",
        F.round(
            F.coalesce(F.col("moment_a"), F.lit(0.0))
            - F.coalesce(F.col("moment_b"), F.lit(0.0)),
            6,
        ).alias("delta"),
    )


def pca_fit(
    df: DataFrame,
    n_components: int = 8,
    vec_col: str = "embedding",
) -> dict:
    """Deterministic PCA fit over an embedding column — the standard
    dimensionality-reduction / whitening step before ANN indexing and
    SemDeDup-style clustering (Abbas et al. 2023 operate on
    unit-normalized, dimensionality-reduced embeddings).

    Distributed part: the ``embedding_gram`` second-moment matrix +
    one per-dim first-moment aggregate — O(d²) driver traffic (fit
    parameters), never the vectors. Driver part: centered covariance
    (S − n·μμᵀ)/(n−1), ``numpy.linalg.eigh``, top-q eigenpairs sorted
    by eigenvalue DESC with a deterministic sign convention (the
    largest-|coefficient| entry of each component is made positive;
    first index wins ties) — so the fit replays bit-identically on any
    partitioning of the same rows.

    Returns a plain-dict artifact (mean, components, eigenvalues, n)
    — broadcastable, JSON-serializable, consumed by ``pca_project``.
    """
    import numpy as np

    gram_rows = embedding_gram(df, vec_col).collect()  # O(d²) fit read
    if not gram_rows:
        raise ValueError("no vectors to fit")
    d = max(r["j"] for r in gram_rows) + 1
    # ADVICE r12: ragged vector lengths produce per-cell counts that
    # disagree — a quietly wrong mean/covariance. Raise instead.
    counts = {r["n_vectors"] for r in gram_rows}
    if len(counts) != 1:
        raise ValueError(
            f"ragged embedding lengths: per-cell n_vectors disagree {sorted(counts)}"
        )
    n = gram_rows[0]["n_vectors"]
    S = np.zeros((d, d))
    for r in gram_rows:
        S[r["i"], r["j"]] = r["gram"]
        S[r["j"], r["i"]] = r["gram"]
    v = F.col(vec_col).cast("array<double>")
    sums = (
        df.where(F.col(vec_col).isNotNull() & (F.size(vec_col) > 0))
        .select(F.posexplode(v).alias("dim", "x"))
        .groupBy("dim")
        .agg(F.sum(F.col("x").cast("decimal(38,12)")).cast("double").alias("s"))
        .collect()
    )
    mu = np.zeros(d)
    for r in sums:
        mu[r["dim"]] = r["s"] / n
    cov = (S - n * np.outer(mu, mu)) / max(n - 1, 1)
    w, V = np.linalg.eigh(cov)  # ascending eigenvalues
    order = np.argsort(w)[::-1][: min(n_components, d)]
    comps, eigs = [], []
    for idx in order:
        c = V[:, idx]
        # deterministic sign: largest-|coefficient| entry positive
        if c[int(np.argmax(np.abs(c)))] < 0:
            c = -c
        comps.append([float(x) for x in c])
        eigs.append(float(w[idx]))
    return {
        "mean": [float(x) for x in mu],
        "components": comps,
        "eigenvalues": eigs,
        "n": int(n),
    }


def pca_project(
    df: DataFrame,
    model: dict,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    packed: bool = False,
) -> DataFrame:
    """Map-only PCA projection: (x − μ)·Vᵀ for the fitted components —
    pure JVM expressions (zip_with product + in-row fold, fixed
    left-to-right order ⇒ deterministic at any parallelism), no UDF,
    no shuffle; projecting 100 TB is scan-bound. Output: (id, pc_0 …
    pc_{q−1}) flat double columns, or with ``packed=True`` one
    ``pca array<double>`` column (the form downstream vector ops —
    ``cosine_topk``, KMeans, quantization — consume directly).
    """
    mu = F.array(*[F.lit(float(x)) for x in model["mean"]])
    v = F.col(vec_col).cast("array<double>")
    centered = F.zip_with(v, mu, lambda x, m: x - m)
    cols = []
    for q, comp in enumerate(model["components"]):
        wv = F.array(*[F.lit(float(x)) for x in comp])
        proj = F.aggregate(
            F.zip_with(centered, wv, lambda x, w: x * w),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
        cols.append(F.round(proj, 9).alias(f"pc_{q}"))
    base = df.where(F.col(vec_col).isNotNull() & (F.size(vec_col) > 0))
    if packed:
        return base.select(F.col(id_col), F.array(*cols).alias("pca"))
    return base.select(F.col(id_col), *cols)


def quantize_embeddings(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    long_form: bool = True,
) -> DataFrame:
    """Symmetric per-vector int8 quantization — the storage/bandwidth
    step before ANN at 100 TB (float32 → int8 is 4× less scan and
    shuffle; recall loss is small for cosine search because each
    vector keeps its own scale).

    q_i = round(x_i / scale), scale = max|x| / 127 — all plain column
    arithmetic inside codegen, map-only. Zero vectors quantize to all
    zeros with scale 0 (try_divide guards the split). ``long_form``
    emits (id, dim, qval, scale) rows — flat-typed for the oracle
    compare; ``long_form=False`` keeps (id, scale, qvec array<int>)
    for pipeline use.
    """
    v = F.col(vec_col).cast("array<double>")
    amax = F.array_max(F.transform(v, lambda x: F.abs(x)))
    scale = (amax / F.lit(127.0)).alias("scale")
    staged = df.select(F.col(id_col).alias("id"), v.alias("v"), scale)
    qvec = F.transform(
        F.col("v"),
        lambda x: F.coalesce(
            F.round(F.try_divide(x, F.col("scale")), 0), F.lit(0.0)
        ).cast("int"),
    )
    # quantize in its own projection: re-aliasing "scale" in the same
    # select as the generator turns the lambda's reference into a
    # lateral alias and trips an analyzer internal error
    quanted = staged.select(
        "id", qvec.alias("q"), F.round("scale", ROUND_N).alias("scale")
    )
    if not long_form:
        return quanted.select(
            F.col("id").alias(id_col), "scale", F.col("q").alias("qvec")
        )
    return quanted.select(
        F.col("id").alias(id_col), "scale", F.posexplode("q").alias("dim", "qval")
    ).select(
        id_col, F.col("dim").cast("bigint").alias("dim"), F.col("qval").cast("bigint").alias("qval"), "scale"
    )


def quantization_error(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Round-trip error summary of int8 quantization → 1 row
    ``(n_values, mean_abs_err, max_abs_err)`` over every dimension of
    every vector. Per-dim errors |x − q·scale| round to 10 decimals and
    sum as DECIMAL so the mean is engine-reproducible; the whole thing
    is one map pass + one scalar aggregate."""
    v = F.col(vec_col).cast("array<double>")
    amax = F.array_max(F.transform(v, lambda x: F.abs(x)))
    staged = df.select(v.alias("v"), (amax / F.lit(127.0)).alias("scale"))
    err = F.transform(
        F.col("v"),
        lambda x: F.abs(
            x - F.coalesce(F.round(F.try_divide(x, F.col("scale")), 0), F.lit(0.0)) * F.col("scale")
        ),
    )
    ex = staged.select(F.explode(err).alias("e"))
    avg = F.sum(F.round(F.col("e"), 10).cast("decimal(38,10)")).cast("double") / F.count(F.lit(1))
    return ex.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_values"),
        (F.floor(avg * 1e6 + F.lit(0.5)) / 1e6).alias("mean_abs_err"),
        F.round(F.max("e"), ROUND_N).alias("max_abs_err"),
    )


def lexical_jaccard_topk(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 20,
    id_col: str = "doc_id",
    text_col: str = "text",
    query_id_col: str | None = None,
    exclude_self: bool | None = None,
) -> DataFrame:
    """Exact token-set-Jaccard top-k retrieval — the LEXICAL leg of
    hybrid search (the BM25-family role, in its simplest exact form).
    One distinct-token explode per side + one token equi-join + a
    per-query window over the candidate set. Output:
    (query_id, rank, item_id, jaccard). Ties break on item id so the
    ranking is engine-deterministic.

    ``exclude_self`` drops candidates with ``query_id == item_id``; it
    defaults to True only when the query ids live in the CORPUS id
    space (``query_id_col`` is None — queries are corpus rows), and to
    False when ``query_id_col`` names a separate query-table id whose
    values are unrelated to corpus ids (an id collision there is a
    legitimate candidate, not a self-match)."""
    if exclude_self is None:
        exclude_self = query_id_col is None
    from pyspark.sql import Window

    def toks(col):
        # NULL text -> empty token array (not a NULL array): keeps
        # size()/sum() on the Spark side and len()/sum() on the DuckDB
        # oracle side in lockstep regardless of sizeOfNull semantics.
        return F.when(
            col.isNull() | (F.trim(col) == ""),
            F.array().cast("array<string>"),
        ).otherwise(F.array_distinct(F.split(F.lower(F.trim(col)), "\\s+")))

    q = queries.select(
        F.col(query_id_col or id_col).alias("query_id"),
        toks(F.col(text_col)).alias("qt"),
    )
    c = corpus.select(F.col(id_col).alias("item_id"), toks(F.col(text_col)).alias("ct"))
    qe = q.select("query_id", F.size("qt").alias("nq"), F.explode("qt").alias("t"))
    ce = c.select("item_id", F.size("ct").alias("nc"), F.explode("ct").alias("t"))
    joined = qe.join(ce, "t")
    if exclude_self:
        joined = joined.where(F.col("query_id") != F.col("item_id"))
    inter = (
        joined.groupBy("query_id", "item_id")
        .agg(
            F.count(F.lit(1)).alias("i"),
            F.first("nq").alias("nq"),
            F.first("nc").alias("nc"),
        )
    )
    jac = F.col("i") / (F.col("nq") + F.col("nc") - F.col("i"))
    w = Window.partitionBy("query_id").orderBy(jac.desc(), F.col("item_id"))
    return (
        inter.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select(
            "query_id",
            F.col("rank").cast("bigint").alias("rank"),
            "item_id",
            F.round(jac, ROUND_N).alias("jaccard"),
        )
    )


def bm25_topk(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 10,
    id_col: str = "doc_id",
    text_col: str = "text",
    k1: float = 1.2,
    b: float = 0.75,
    query_id_col: str | None = None,
    exclude_self: bool | None = None,
    max_df: int | None = None,
) -> DataFrame:
    """Okapi BM25 top-k retrieval (Robertson & Spärck Jones; the
    Lucene-variant idf ``ln(1 + (N − df + 0.5)/(df + 0.5))``, which
    stays positive for df > N/2) — the full-strength lexical leg next
    to ``lexical_jaccard_topk``'s set-overlap form; both plug into
    ``rrf_fuse``.

    score(q, d) = Σ_{t ∈ distinct(q)} idf(t) ·
                  tf·(k1+1) / (tf + k1·(1 − b + b·dl/avgdl))

    Engine-determinism discipline: every per-term contribution is
    computed from exact integers (tf, df, N, dl) plus avgdl (one
    double division of exact ints — correctly rounded, identical
    everywhere), rounded to 9dp and summed as DECIMAL(20,9) — exact
    and order-independent, so the ranking (score desc, item id) is
    engine-stable and the whole leg sits in the hash channel (same
    discipline as ``rrf_fuse``; the 9dp snap also absorbs the 1-ulp
    latitude libm/Math.log implementations have on ``ln``).

    100 TB shape: term frequencies and document frequencies are
    groupBys keyed by token (shuffle by token; AQE splits hot terms);
    candidates arise from the classic inverted-index equi-join of
    query terms against posting lists — work is
    O(Σ_t qdf(t)·df(t)), never all-pairs; N/avgdl ride a broadcast
    1-row aggregate; per-query top-k is a window over candidates only.

    ``max_df`` (default None = exact/full scoring) is the hot-term
    skew gate (VERDICT r11 #4c): terms whose document frequency
    exceeds it are dropped from scoring on BOTH the posting and the
    query side — Lucene's common-terms/stop-term pruning. A term at
    df = N joins every query carrying it to the ENTIRE corpus, so one
    stop word makes the inverted-index join all-pairs; capping bounds
    the hottest posting list while losing only near-zero-idf
    contributions (documented miss class, same trade as
    ``winnowing_overlap_join``'s fingerprint df cap).

    ``exclude_self`` defaults like ``lexical_jaccard_topk``: True when
    queries are corpus rows (shared id space), False when
    ``query_id_col`` names a separate query-table id.
    Output: (query_id, rank, item_id, score)."""
    if exclude_self is None:
        exclude_self = query_id_col is None
    from pyspark.sql import Window

    def toks(col):
        # NULL text -> empty token array so N counts the doc but avgdl
        # adds 0 (ADVICE r11: with legacy sizeOfNull, size(NULL) = -1
        # would SUBTRACT from the length sum while the oracle skips
        # NULLs — coalescing makes both sides agree by construction).
        return F.when(
            col.isNull() | (F.trim(col) == ""),
            F.array().cast("array<string>"),
        ).otherwise(F.split(F.lower(F.trim(col)), "\\s+"))

    # corpus: per-(doc, term) tf + doc length (with duplicates)
    c = corpus.select(
        F.col(id_col).alias("item_id"), toks(F.col(text_col)).alias("ct")
    )
    ctf = (
        c.select("item_id", F.size("ct").alias("dl"), F.explode("ct").alias("t"))
        .groupBy("item_id", "t")
        .agg(F.count(F.lit(1)).alias("tf"), F.first("dl").alias("dl"))
    )
    # document frequency per term: (item_id, t) rows are unique post-agg
    dft = ctf.groupBy("t").agg(F.count(F.lit(1)).alias("df"))
    if max_df is not None:
        # stop-term prune BEFORE the posting join: the df table is the
        # cheap side (one row per term), the cap bounds the hottest
        # posting list's join fan-out; N/avgdl stay full-corpus exact
        dft = dft.where(F.col("df") <= max_df)
        ctf = ctf.join(dft.select("t"), "t", "left_semi")
    # corpus scalars: N docs, average doc length (one broadcast row)
    stats = c.agg(
        F.count(F.lit(1)).alias("N"),
        (F.sum(F.size("ct")) / F.count(F.lit(1))).alias("avgdl"),
    )
    q = queries.select(
        F.col(query_id_col or id_col).alias("query_id"),
        F.explode(F.array_distinct(toks(F.col(text_col)))).alias("t"),
    )
    joined = q.join(ctf, "t").join(dft, "t").crossJoin(F.broadcast(stats))
    if exclude_self:
        joined = joined.where(F.col("query_id") != F.col("item_id"))
    idf = F.log(
        F.lit(1.0)
        + (F.col("N") - F.col("df") + F.lit(0.5)) / (F.col("df") + F.lit(0.5))
    )
    denom = F.col("tf") + F.lit(k1) * (
        F.lit(1.0) - F.lit(b) + F.lit(b) * F.col("dl") / F.col("avgdl")
    )
    contrib = F.round(
        idf * F.col("tf") * F.lit(k1 + 1.0) / denom, 9
    ).cast("decimal(20,9)")
    scored = joined.groupBy("query_id", "item_id").agg(
        F.sum(contrib).alias("s")
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("s").desc(), F.col("item_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select(
            "query_id",
            F.col("rank").cast("bigint").alias("rank"),
            "item_id",
            F.round(F.col("s").cast("double"), ROUND_N).alias("score"),
        )
    )


def rrf_fuse(
    rankings: list[DataFrame], k_rrf: int = 60, top_n: int = 10
) -> DataFrame:
    """Reciprocal-rank fusion (Cormack, Clarke & Buettcher 2009 —
    public; the standard hybrid-search combiner): each input carries
    (query_id, item_id, rank), an item's fused score is
    Σ_lists 1/(k_rrf + rank), and the fused ranking takes the top_n by
    (score desc, item_id). Per-list contributions are rounded to 9dp
    and summed as DECIMAL(20,9) — exact and order-independent, so the
    fused ORDER is engine-stable (the float-sum tie ambiguity RRF
    implementations usually tolerate would break the oracle hash).
    Missing-from-a-list items simply contribute nothing — RRF's
    built-in handling of disjoint candidate sets."""
    from functools import reduce as _reduce

    contrib = F.round(F.lit(1.0) / (F.lit(k_rrf) + F.col("rank")), 9).cast(
        "decimal(20,9)"
    )
    tagged = [
        r.select("query_id", "item_id", contrib.alias("c")) for r in rankings
    ]
    allc = _reduce(lambda a, b: a.unionByName(b), tagged)
    scores = allc.groupBy("query_id", "item_id").agg(F.sum("c").alias("s"))
    packed = scores.select(
        "query_id",
        F.struct(
            (-F.col("s")).alias("ns"), F.col("item_id").alias("item_id"), F.col("s").alias("s")
        ).alias("cand"),
    )
    agg = packed.groupBy("query_id").agg(
        F.slice(F.sort_array(F.collect_list("cand")), 1, top_n).alias("top")
    )
    return agg.select("query_id", F.posexplode("top").alias("rank0", "cand")).select(
        "query_id",
        (F.col("rank0") + 1).cast("bigint").alias("rank"),
        F.col("cand.item_id").alias("item_id"),
        F.col("cand.s").cast("double").alias("rrf_score"),
    )


def rerank_by_cosine(
    candidates: DataFrame,
    emb: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Two-stage retrieval finish (X215): re-rank a stage-1 candidate
    list (e.g. BM25 top-N) by EXACT embedding cosine and keep the
    top-``k`` per query — the standard production "retrieve then
    re-rank" stack (sparse recall, dense precision; the pattern behind
    every cross-encoder/bi-encoder reranker, here with the exact
    cosine as the dense scorer).

    ``candidates``: (query_id, item_id) rows, query/item ids in the
    embedding id space. Output: (query_id, rank, item_id, cosine),
    rank by (cosine desc, item_id), 6dp-rounded cosine (the
    ``cosine_topk`` discipline, so the ranking is engine-stable and
    the whole stage sits in the hash channel). Candidates without an
    embedding on either side drop out (inner joins) — at corpus scale
    the embedding table is the big side and the candidate list is
    O(queries·N_stage1), so BOTH joins are candidate-side broadcasts;
    nothing all-pairs, nothing re-scores the full corpus."""
    e = _prep(emb, id_col, vec_col, "id")
    cand = candidates.select("query_id", "item_id")
    q = e.select(
        F.col("id").alias("query_id"),
        F.col("v").alias("qv"),
        F.col("nrm").alias("qn"),
    )
    scored = (
        q.join(F.broadcast(cand), "query_id")
        .join(e.withColumnRenamed("id", "item_id"), "item_id")
        .select(
            "query_id",
            F.col("item_id").alias("id"),
            _cos(F.col("qv"), F.col("v"), F.col("qn"), F.col("nrm")).alias(
                "cosine"
            ),
        )
    )
    return _topk(scored, k).select(
        "query_id",
        F.col("rank").cast("bigint").alias("rank"),
        F.col("neighbor_id").alias("item_id"),
        "cosine",
    )


def mmr_rerank(
    emb: DataFrame,
    query_id,
    k: int = 3,
    lam: float = 0.7,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Maximal Marginal Relevance re-ranking (Carbonell & Goldstein
    1998 — the standard diverse-top-k rule; no reference counterpart,
    extension surface): greedily pick k vectors maximizing
    ``λ·cos(q, d) − (1−λ)·max_{s∈S} cos(d, s)`` — relevance to the
    query minus redundancy against what's already selected. The
    retrieval-diversity primitive for eval-set / few-shot-pool
    construction over an embedding column.

    Determinism discipline: every cosine snaps at 9dp, then the
    combined score is computed in EXACT DECIMAL arithmetic — λ
    quantized at 9dp, rel/pen recovered exactly from their snapped
    doubles via cast to DECIMAL(12,9), products and the difference
    exact, final HALF_UP round at 9dp (away-from-zero on BOTH
    engines). A double-arithmetic score would sit EXACTLY on the
    .5e-9 boundary for ~1 in 10 candidates (0.7 × a 9dp value has
    exactly 10 decimal digits), where Spark's shortest-repr HALF_UP
    and DuckDB's binary rounding disagree — measured 1/3 rows off by
    1e-9 before the decimal form. Greedy argmax ties break to the
    smallest id, so the selection order replays exactly in the
    unrolled SQL oracle.

    Scale shape: the query row broadcasts; per-round work is one
    scan of the ≤n candidate frame (pinned once — the k rounds and
    the relevance computation reuse one materialization) joined
    against the ≤k-row selected set (broadcast), one argmax
    aggregate. Driver state is k (id, vector) rows — an O(k·d)
    fit-parameter read, the kmeans-centroid class. Zero-norm vectors
    are excluded (their cosine is NULL-undefined on every engine).

    Output: (rank, <id_col>, relevance, mmr_score), rank = 1..k.
    """
    if k < 1:
        raise ValueError("k must be >= 1")
    if not 0.0 < lam <= 1.0:
        raise ValueError("lam must be in (0, 1]")
    from safedata_pipeline_spark.checkpoint import pin_eager

    spark = emb.sparkSession
    q = _prep(emb.where(F.col(id_col) == query_id), id_col, vec_col, "qid")
    cand = pin_eager(
        _prep(emb.where(F.col(id_col) != query_id), id_col, vec_col, "id")
        .crossJoin(
            F.broadcast(
                q.select(F.col("v").alias("qv"), F.col("nrm").alias("qn"))
            )
        )
        .select(
            "id",
            "v",
            "nrm",
            F.round(
                _cos(F.col("v"), F.col("qv"), F.col("nrm"), F.col("qn")), 9
            ).alias("rel"),
        )
        .where(F.col("rel").isNotNull())
    )
    lam_d = F.lit(float(lam)).cast("decimal(10,9)")
    om_d = F.lit(1).cast("decimal(10,9)") - lam_d
    id_type = emb.schema[id_col].dataType.simpleString()
    sel_schema = f"sid {id_type}, sv array<double>, sn double"
    selected: list = []
    out: list = []
    cur = cand
    for rank in range(1, k + 1):
        if selected:
            sel = F.broadcast(
                spark.createDataFrame(
                    [(r["id"], r["v"], r["nrm"]) for r in selected],
                    sel_schema,
                )
            )
            pen = (
                cur.crossJoin(sel)
                .groupBy("id")
                .agg(
                    F.max(
                        F.round(
                            _cos(
                                F.col("v"),
                                F.col("sv"),
                                F.col("nrm"),
                                F.col("sn"),
                            ),
                            9,
                        )
                    ).alias("pen")
                )
            )
            scored = cur.join(pen, on="id")
        else:
            scored = cur.withColumn("pen", F.lit(0.0))
        scored = scored.withColumn(
            "score",
            F.round(
                lam_d * F.col("rel").cast("decimal(12,9)")
                - om_d * F.col("pen").cast("decimal(12,9)"),
                9,
            ).cast("double"),
        )
        top = (
            scored.orderBy(F.col("score").desc(), F.col("id").asc())
            .limit(1)
            .collect()
        )
        if not top:
            break
        r = top[0]
        out.append((rank, r["id"], float(r["rel"]), float(r["score"])))
        selected.append(r)
        cur = cur.where(F.col("id") != F.lit(r["id"]))
    return spark.createDataFrame(
        out, f"rank int, {id_col} {id_type}, relevance double, mmr_score double"
    )


def hard_negative_mine(
    queries: DataFrame,
    corpus: DataFrame,
    skip_top: int = 2,
    n_neg: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str | None = None,
) -> DataFrame:
    """Hard-negative band mining for contrastive embedding training —
    the DPR/ANCE/E5 recipe (Karpukhin et al. 2020; Xiong et al. 2021:
    negatives drawn from the model's own near-top retrievals train far
    stronger encoders than random negatives, but the very top ranks
    are likely unlabeled POSITIVES, so production pipelines skip the
    first ``skip_top`` ranks and take the next ``n_neg`` — the "hard
    negative band"; no reference counterpart, extension surface).

    Rides ``cosine_topk`` verbatim (same zero-norm NULL drop, same
    raw-IEEE cosine ordering with id tiebreak, same 6dp output snap —
    the proven ann_cosine_topk channel) with k = skip_top + n_neg,
    then keeps ranks in (skip_top, skip_top + n_neg], re-based to
    ``neg_rank`` 1..n_neg. At 100 TB the candidate stream comes from
    the ANN bucket families (LSH/IVF) exactly as for top-k search; the
    band selection is unchanged.
    Output: (query_id, neg_rank, negative_id, cosine).
    """
    if skip_top < 0 or n_neg <= 0:
        raise ValueError("skip_top must be >= 0 and n_neg positive")
    ranked = cosine_topk(
        queries,
        corpus,
        k=skip_top + n_neg,
        id_col=id_col,
        vec_col=vec_col,
        query_id_col=query_id_col,
    )
    return ranked.where(F.col("rank") > skip_top).select(
        "query_id",
        (F.col("rank") - skip_top).alias("neg_rank"),
        F.col("neighbor_id").alias("negative_id"),
        "cosine",
    )


def matryoshka_error(
    df: DataFrame,
    prefix_dims: tuple[int, ...] = (8, 16, 32),
    query_id: int = 0,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Matryoshka / prefix-truncation quality audit (Kusupati et al.
    2022 "Matryoshka Representation Learning" — the question every
    embedding-compression rollout asks: how much retrieval quality do
    the first P dimensions retain?; no reference counterpart,
    extension surface). Two signals per candidate prefix length:

      * ``energy_mean`` — corpus mean of the per-vector energy ratio
        ‖v[1..P]‖² / ‖v‖² (the variance-captured curve): each ratio is
        a single IEEE divide snapped at 6dp, the mean a DECIMAL(38,6)
        sum of snapped terms (order-independent) with the standard 6dp
        half-up final snap; zero-norm vectors are excluded (undefined
        ratio), counted out of ``n_vecs``.
      * ``overlap_at_k`` — |top-k(full-dim cosine) ∩ top-k(prefix
        cosine)| for the fixed probe ``query_id`` (self excluded,
        zero-norm candidates dropped on BOTH rankings — the
        ann_cosine_topk NULL discipline), ties to smallest id. An
        exact integer — no float leaves the engine.

    Shape: ONE corpus scan computes every prefix's snapped ratio (one
    wide aggregate row); the rank probes are TakeOrderedAndProject
    top-k heaps (per-partition heap + driver merge — NO global sort at
    any scale) off one pinned (id, cos_full, cos_P...) frame built in
    a single scan against the broadcast query vector; the |∩| joins
    are k-row × k-row. Output: one row per prefix —
    (prefix_dim, n_vecs, energy_mean, overlap_at_k).
    """
    dims = tuple(int(p) for p in prefix_dims)
    if not dims or any(p <= 0 for p in dims):
        raise ValueError("prefix_dims must be positive")
    if k <= 0:
        raise ValueError("k must be positive")
    spark = df.sparkSession
    v = F.col(vec_col).cast("array<double>")
    base = df.select(F.col(id_col).alias("id"), v.alias("v"))

    def sq(col):  # Σ x² as one fold
        return F.aggregate(
            col, F.lit(0.0), lambda acc, x: acc + x * x
        )

    # (1) energy ratios: one scan, one aggregate row over all prefixes
    st = sq(F.col("v"))
    ratios = base.select(
        st.alias("st"),
        *[
            (F.floor(sq(F.slice(F.col("v"), 1, p)) / st * 1e6 + F.lit(0.5)) / 1e6)
            .alias(f"r{p}")
            for p in dims
        ],
    ).where(F.col("st") > 0)
    energy = ratios.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_vecs"),
        *[
            (
                F.floor(
                    F.sum(F.col(f"r{p}").cast("decimal(38,6)")).cast("double")
                    / F.count(F.lit(1))
                    * 1e6
                    + F.lit(0.5)
                )
                / 1e6
            ).alias(f"e{p}")
            for p in dims
        ],
    )
    # (2) rank-overlap probes off one pinned cosine frame
    q = base.where(F.col("id") == query_id).select(
        F.col("v").alias("qv")
    )
    cand = base.where(F.col("id") != query_id).crossJoin(F.broadcast(q))
    cos_cols = [
        _cos(
            F.slice(F.col("qv"), 1, p),
            F.slice(F.col("v"), 1, p),
            _norm(F.slice(F.col("qv"), 1, p)),
            _norm(F.slice(F.col("v"), 1, p)),
        ).alias(f"c{p}")
        for p in dims
    ]
    full_cos = _cos(
        F.col("qv"), F.col("v"), _norm(F.col("qv")), _norm(F.col("v"))
    ).alias("cfull")
    scored = pin_lazy(cand.select("id", full_cos, *cos_cols))

    def topk(col: str) -> DataFrame:
        return (
            scored.where(F.col(col).isNotNull())
            .orderBy(F.col(col).desc(), F.col("id").asc())
            .limit(k)
            .select("id")
        )

    full_top = topk("cfull")
    overlaps = None
    for p in dims:
        o = (
            topk(f"c{p}")
            .join(full_top, on="id")
            .agg(F.count(F.lit(1)).cast("bigint").alias("overlap"))
            .select(F.lit(p).alias("prefix_dim"), "overlap")
        )
        overlaps = o if overlaps is None else overlaps.unionByName(o)

    rows = F.array(
        *[
            F.struct(
                F.lit(p).cast("int").alias("prefix_dim"),
                F.col("n_vecs").alias("n_vecs"),
                F.col(f"e{p}").alias("energy_mean"),
            )
            for p in dims
        ]
    )
    long = energy.select(F.explode(rows).alias("r")).select(
        F.col("r.prefix_dim").alias("prefix_dim"),
        F.col("r.n_vecs").alias("n_vecs"),
        F.col("r.energy_mean").alias("energy_mean"),
    )
    return long.join(F.broadcast(overlaps), on="prefix_dim").select(
        "prefix_dim",
        "n_vecs",
        "energy_mean",
        F.col("overlap").alias("overlap_at_k"),
    )


def prototype_prune(
    df: DataFrame,
    keep_num: int = 1,
    keep_den: int = 2,
    num_cells: int = 8,
    iterations: int = 3,
    dist_round: int = 6,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """SSL-prototype density pruning (Sorscher et al. 2022 "Beyond
    neural scaling laws: beating power law scaling via data pruning" —
    the public result that the BEST examples to drop at scale are the
    EASY/prototypical ones: rank each example by distance to its
    cluster prototype and keep the hardest fraction; no reference
    counterpart, extension surface; complements X166's SemDeDup — that
    drops near-DUPLICATES inside cells, this drops the cluster CORE).

    Prototypes = the engine's deterministic md5-seeded KMeans (the
    X166/X207 oracle-replayable discipline: 9dp per-iteration centroid
    means, ``dist_round``-rounded pure-expression argmin kernel, ties
    to lowest cell id). Each vector's hardness is its FULL squared
    distance to the assigned prototype — |v|² − 2·v·c + |c|², every
    dot the sequential ``functions.vector`` fold, rounded at
    ``dist_round`` — not the |v|²-dropped argmin kernel, which is only
    rank-safe per row, not across rows. Per cell, vectors rank by
    (distance DESC, id ASC) and the top
    ``max(1, (n_cell·keep_num) div keep_den)`` survive — exact integer
    cutoff, no float fraction.

    Shape: fit = the bounded Lloyd loop (O(k·dim) driver traffic);
    assignment + distance are map-only codegen'd expressions against a
    broadcast O(cells)-row centroid table; the rank window partitions
    BY CELL. At 100 TB ``num_cells`` grows ~√n (the IVF sizing rule)
    so cells stay bounded; a pathological hot cell rides the same
    two-phase range-partitioned rank as ccnet/token_budget.
    Output: kept rows (id, cell, dist2, rank_in_cell, cell_size).
    """
    if keep_num <= 0 or keep_den <= 0 or keep_num > keep_den:
        raise ValueError("keep fraction must be in (0, 1]")
    from pyspark.sql import Window

    from safedata_pipeline_spark.operators.clustering import (
        _nearest_centroid_expr,
        kmeans_fit_centers,
    )

    centers, _ = kmeans_fit_centers(
        df, k=num_cells, iterations=iterations, id_col=id_col,
        vec_col=vec_col, dist_round=dist_round,
    )
    v = F.col(vec_col).cast("array<double>")
    data = df.where(F.col(vec_col).isNotNull()).select(
        F.col(id_col), v.alias("v"),
        _nearest_centroid_expr(centers, dist_round)(v).alias("cell"),
    )
    # assigned centroid off the 2-D array literal (F.get) — same
    # sequential-fold dots as the former broadcast (cell, c) join,
    # one map stage instead of a join
    c = _pq_centroid(centers, F.col("cell"))
    # ((|v|² − 2·v·c) + |c|²): parenthesization mirrors the SQL twin
    dist2 = F.round(
        _dot(F.col("v"), F.col("v"))
        - F.lit(2.0) * _dot(F.col("v"), c)
        + _dot(c, c),
        dist_round,
    )
    scored = data.select(id_col, "cell", dist2.alias("dist2"))
    w = Window.partitionBy("cell")
    ranked = scored.select(
        id_col,
        "cell",
        "dist2",
        F.row_number()
        .over(w.orderBy(F.col("dist2").desc(), F.col(id_col).asc()))
        .alias("rank_in_cell"),
        F.count(F.lit(1)).over(w).alias("cell_size"),
    )
    cut = F.greatest(
        F.lit(1), F.expr(f"(cell_size * {keep_num}) div {keep_den}")
    )
    return ranked.where(F.col("rank_in_cell") <= cut).select(
        id_col,
        "cell",
        "dist2",
        F.col("rank_in_cell").cast("bigint").alias("rank_in_cell"),
        F.col("cell_size").cast("bigint").alias("cell_size"),
    )


def knn_label_consistency(
    df: DataFrame,
    k: int = 5,
    n_queries: int = 50,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
) -> DataFrame:
    """k-NN label-consistency probe — the standard embedding-quality /
    label-noise screen (the cleanlab-family heuristic, and the eval
    behind every "linear probe vs kNN" table: an example whose
    neighbors disagree with its label is mislabeled or lies on a class
    boundary; no reference counterpart, extension surface).

    For the fixed probe batch (id < ``n_queries`` — the bm25_search
    fixed-query convention keeping the pair frame linear in the
    corpus), take the exact top-k cosine neighbors (``cosine_topk``
    verbatim — the proven ann channel) and count label agreement with
    NULL-safe equality (two NULL labels agree, a NULL never matches a
    non-NULL — identical semantics on both engines).
    ``consistency`` = n_same / k_used as an exact int/int 6dp snap.
    At 100 TB the neighbor stream comes from the ANN bucket families.
    Output: (query_id, label, k_used, n_same, consistency).
    """
    if k <= 0 or n_queries <= 0:
        raise ValueError("k and n_queries must be positive")
    queries = df.where(F.col(id_col) < n_queries)
    top = cosine_topk(queries, df, k=k, id_col=id_col, vec_col=vec_col)
    qlab = df.select(
        F.col(id_col).alias("query_id"), F.col(label_col).alias("label")
    ).where(F.col("query_id") < n_queries)
    nlab = df.select(
        F.col(id_col).alias("neighbor_id"), F.col(label_col).alias("nlabel")
    )
    joined = (
        top.join(nlab, on="neighbor_id")
        .join(F.broadcast(qlab), on="query_id")
    )
    agg = joined.groupBy("query_id", "label").agg(
        F.count(F.lit(1)).cast("bigint").alias("k_used"),
        F.sum(F.col("label").eqNullSafe(F.col("nlabel")).cast("bigint"))
        .cast("bigint")
        .alias("n_same"),
    )
    return agg.select(
        "query_id",
        "label",
        "k_used",
        "n_same",
        (F.floor(F.col("n_same") / F.col("k_used") * 1e6 + F.lit(0.5)) / 1e6).alias(
            "consistency"
        ),
    )


def pq_fit(
    df: DataFrame,
    dim: int = 64,
    n_sub: int = 8,
    codebook_k: int = 8,
    iterations: int = 2,
    dist_round: int = 6,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    _prepared: DataFrame | None = None,
) -> list[list[list[float]]]:
    """Product-quantization codebooks (Jégou et al. 2011 "Product
    Quantization for Nearest Neighbor Search" — THE billion-to-
    trillion-vector ANN memory layout: split the vector into n_sub
    subspaces, k-means each independently, store one small code per
    subspace). Returns per-subspace centroid lists.

    Each subspace codebook is the engine's deterministic md5-seeded
    KMeans (the X166/X207 replayable discipline: 9dp per-iteration
    means, ``dist_round``-rounded argmin kernel) fit on the sliced
    vectors — the seeds are slices of the SAME md5-ordered rows, so a
    SQL oracle replays every subspace trajectory. Codebooks are fit
    parameters (O(n_sub·k·dim/n_sub) doubles of driver state); at
    100 TB they train on a bounded sample (the standard PQ practice) —
    training cost does not scale with the corpus.

    The ``n_sub`` subspace fits are INDEPENDENT recurrences over
    slices of the SAME rows, so they run as the spaces of ONE joint
    ``clustering._lloyd`` fit: one seed collect and one update job per
    round for all subspaces, bit-identical to fitting each subspace
    alone (test-pinned). ``_prepared`` lets a caller that already
    pinned the (id, v) frame (the encode passes) skip the pin.
    """
    if dim % n_sub != 0:
        raise ValueError("dim must be divisible by n_sub")
    from safedata_pipeline_spark.operators.clustering import _Space, _lloyd, _vectors

    sub = dim // n_sub
    data = _vectors(df, id_col, vec_col) if _prepared is None else _prepared
    spaces = [_Space(codebook_k, iterations, dist_round, s * sub, sub) for s in range(n_sub)]
    return [books for books, _ in _lloyd(data, spaces)]


def _pq_code_cols(codebooks: list[list[list[float]]], v, dim: int, dist_round: int):
    """THE PQ encode kernel, shared by every encoder/ADC/error path
    (pq_codes, pq_reconstruction_error, ann_topk_pq_adc,
    ann_topk_ivf_pq): per subspace, the ``dist_round``-rounded
    nearest-centroid argmin (``_nearest_centroid_expr``, ties to
    lowest code) over ``F.slice`` of the vector column ``v``. Returns
    the list of unaliased code columns, one per subspace — one place,
    so encoder and error/ANN paths can never desynchronize (ADVICE
    r14)."""
    from safedata_pipeline_spark.operators.clustering import _nearest_centroid_expr

    sub = dim // len(codebooks)
    return [
        _nearest_centroid_expr(cb, dist_round)(F.slice(v, s * sub + 1, sub))
        for s, cb in enumerate(codebooks)
    ]


def _pq_centroid(codebook: list[list[float]], code):
    """Assigned-centroid lookup for one subspace: the codebook rides
    the plan as a 2-D array LITERAL read by code (``F.get`` —
    O(codebook_k·dim) constants, no joins; ``_dlit``, one JVM expr
    parse). Shared by the reconstruction-error and ADC paths."""
    from safedata_pipeline_spark.operators.clustering import _dlit

    return F.get(_dlit([[float(x) for x in cc] for cc in codebook]), code)


def _joint_coarse_pq_fit(
    data: DataFrame,
    num_cells: int,
    coarse_iterations: int,
    dim: int,
    n_sub: int,
    codebook_k: int,
    pq_iterations: int,
    dist_round: int,
) -> tuple[list[list[float]], list[list[list[float]]]]:
    """Fit the IVF coarse quantizer AND the PQ codebooks JOINTLY over
    one pinned ``(id, v)`` frame: the coarse space (the full vector,
    ``kmeans_fit_centers``'s recurrence) and the n_sub subspaces
    (``pq_fit``'s) are the spaces of ONE ``clustering._lloyd`` fit —
    1 seed collect + max(T_coarse, T_pq) update collects, where the
    two fits run apart paid 2 seeds + T_coarse + T_pq jobs over the
    same pinned rows. Bit-identical to fitting each space alone; pinned
    by tests/test_similarity.py::test_joint_coarse_pq_fit_matches_sequential."""
    if dim % n_sub != 0:
        raise ValueError("dim must be divisible by n_sub")
    from safedata_pipeline_spark.operators.clustering import _Space, _lloyd

    sub = dim // n_sub
    *books, (centers, _) = _lloyd(
        data,
        [
            *[_Space(codebook_k, pq_iterations, dist_round, s * sub, sub) for s in range(n_sub)],
            _Space(num_cells, coarse_iterations, dist_round),
        ],
    )
    return centers, [b for b, _ in books]


def pq_codes(
    df: DataFrame,
    codebooks: list[list[list[float]]] | None = None,
    dim: int = 64,
    n_sub: int = 8,
    codebook_k: int = 8,
    iterations: int = 2,
    dist_round: int = 6,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """PQ encoding: one map-only corpus pass assigning every vector
    its per-subspace nearest-centroid code (the ``dist_round``-rounded
    argmin kernel, ties to lowest code — the shared ``_pq_code_cols``
    kernel). n_sub argmin folds per row, whole-stage codegen, zero
    shuffles — encoding 100 TB is scan-bound.
    Output: (id, code_0..code_{n-1}).

    When this function also runs the fit (``codebooks is None``), the
    encode pass reads the SAME pinned (id, v) frame the fit pinned
    instead of re-scanning the source — one scan + one pin serve fit
    and encode (identical rows: the pin is exactly the
    notNull-filtered, cast projection the encode pass would make)."""
    from safedata_pipeline_spark.operators.clustering import _vectors

    if codebooks is None:
        prepared = _vectors(df, id_col, vec_col)
        codebooks = pq_fit(
            df, dim, n_sub, codebook_k, iterations, dist_round, id_col, vec_col,
            _prepared=prepared,
        )
        v = F.col("v")
        cols = _pq_code_cols(codebooks, v, dim, dist_round)
        return prepared.select(
            F.col("id").alias(id_col),
            *[c.alias(f"code_{s}") for s, c in enumerate(cols)],
        )
    v = F.col(vec_col).cast("array<double>")
    cols = _pq_code_cols(codebooks, v, dim, dist_round)
    return df.where(F.col(vec_col).isNotNull()).select(
        F.col(id_col), *[c.alias(f"code_{s}") for s, c in enumerate(cols)]
    )


def pq_reconstruction_error(
    df: DataFrame,
    dim: int = 64,
    n_sub: int = 8,
    codebook_k: int = 8,
    iterations: int = 2,
    dist_round: int = 6,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Corpus-mean PQ reconstruction error — the codebook-quality
    metric every PQ deployment tunes (n_sub × codebook_k) against
    (the X158 quantization_error twin for the product layout).

    Per vector: Σ_s round(|v_s|² − 2·v_s·c + |c|², dist_round) over
    its assigned centroids — each subspace residual rounded, the
    left-associated sum of n_sub rounded terms, then a DECIMAL(38,6)
    corpus sum with the standard 6dp half-up mean snap.
    Output: one row (n_vecs, mean_sq_err).

    Encode + measure fuse into ONE map-only scan: the per-subspace
    code is the shared ``_pq_code_cols`` argmin kernel, and the
    assigned centroid comes straight off the codebook as a 2-D array
    literal (``_pq_centroid``) instead of the former id-join + n_sub
    broadcast centroid joins — residuals bit-identical, 9 joins fewer.
    The measure pass reads the SAME pinned (id, v) frame the fit
    pinned (identical rows: the pin is exactly the notNull-filtered,
    cast projection) — one scan + one pin serve fit and measure.
    """
    from safedata_pipeline_spark.operators.clustering import _vectors

    prepared = _vectors(df, id_col, vec_col)
    codebooks = pq_fit(
        df, dim, n_sub, codebook_k, iterations, dist_round, id_col, vec_col,
        _prepared=prepared,
    )
    base = prepared.select(F.col("id").alias(id_col), F.col("v"))
    sub = dim // n_sub
    codes = _pq_code_cols(codebooks, F.col("v"), dim, dist_round)
    err = None
    for s in range(n_sub):
        vs = F.slice(F.col("v"), s * sub + 1, sub)
        c = _pq_centroid(codebooks[s], codes[s])
        t = F.round(
            _dot(vs, vs) - F.lit(2.0) * _dot(vs, c) + _dot(c, c), dist_round
        )
        err = t if err is None else err + t
    return base.select(err.cast("decimal(38,6)").alias("e")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_vecs"),
        (
            F.floor(
                F.sum("e").cast("double") / F.count(F.lit(1)) * 1e6 + F.lit(0.5)
            )
            / 1e6
        ).alias("mean_sq_err"),
    )


def ann_topk_pq_adc(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 5,
    dim: int = 64,
    n_sub: int = 8,
    codebook_k: int = 8,
    iterations: int = 2,
    dist_round: int = 6,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """PQ Asymmetric Distance Computation top-k (Jégou et al. 2011
    §IV: the query stays FULL-precision, every corpus vector is its
    n_sub codes — distance ≈ Σ_s d(q_s, centroid[code_s]) — the lookup
    structure behind every billion-scale IVF-PQ index).

    Fully hash-channel: per-subspace terms use the SAME rounded
    −2·(q_s·c)+|c|² kernel as the assignment (|q_s|² is constant per
    query, so dropping it is rank-safe WITHIN a query's ranking), the
    ADC sum is the left-associated sum of n_sub rounded terms
    (identical parenthesization in SQL), ranking by (adc ASC, id ASC).
    Self-matches excluded by id.

    Shape: codes = one map-only corpus pass; the n_sub centroid
    lookups read the codebook 2-D array LITERAL by code (``F.get`` —
    O(codebook_k·dim) constants in the plan, no joins); the probe
    batch broadcasts onto the coded corpus (pair frame linear in
    corpus — the bm25 fixed-batch convention). At 100 TB this nests
    inside the IVF cells (X207) exactly as published IVF-PQ does; the
    ADC math is unchanged. Output: (query_id, rank, neighbor_id,
    adc_dist).
    """
    from pyspark.sql import Window

    from safedata_pipeline_spark.operators.clustering import _vectors

    # one pinned (id, v) frame serves the fit AND the encode pass
    # (identical rows: the pin is exactly the notNull-filtered, cast
    # projection the encode pass would make) — one scan + one pin
    prepared = _vectors(corpus, id_col, vec_col)
    codebooks = pq_fit(
        corpus, dim, n_sub, codebook_k, iterations, dist_round, id_col, vec_col,
        _prepared=prepared,
    )
    code_cols = _pq_code_cols(codebooks, F.col("v"), dim, dist_round)
    coded = prepared.select(
        F.col("id").alias(id_col),
        *[c.alias(f"code_{s}") for s, c in enumerate(code_cols)],
    )
    qv = F.col(vec_col).cast("array<double>")
    q = queries.where(F.col(vec_col).isNotNull()).select(
        F.col(id_col).alias("query_id"), qv.alias("qv")
    )
    pairs = coded.crossJoin(F.broadcast(q)).where(
        F.col(id_col) != F.col("query_id")
    )
    sub = dim // n_sub
    adc = None
    for s in range(n_sub):
        qs = F.slice(F.col("qv"), s * sub + 1, sub)
        c = _pq_centroid(codebooks[s], F.col(f"code_{s}"))
        t = F.round(
            F.lit(-2.0) * _dot(qs, c) + _dot(c, c), dist_round
        )
        adc = t if adc is None else adc + t
    scored = pairs.select(
        "query_id", F.col(id_col).alias("neighbor_id"), adc.alias("adc_dist")
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("adc_dist").asc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select(
            "query_id",
            F.col("rank").cast("bigint").alias("rank"),
            "neighbor_id",
            "adc_dist",
        )
    )


def ann_topk_ivf_pq(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 5,
    num_cells: int = 8,
    coarse_iterations: int = 3,
    n_probe: int = 2,
    dim: int = 64,
    n_sub: int = 8,
    codebook_k: int = 8,
    pq_iterations: int = 2,
    dist_round: int = 6,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF-PQ: the PUBLISHED billion-scale index composition (Jégou et
    al. 2011 §V "IVFADC"; the FAISS default for >100M vectors) — a
    coarse quantizer confines the search to ``n_probe`` of
    ``num_cells`` inverted lists, and candidates inside those lists
    are scored by PQ asymmetric distance against their codes, never
    their raw vectors. This is the end-to-end 100 TB ANN shape, fully
    in the hash channel: the coarse quantizer is the X207
    exact-cells discipline, the codebooks/codes are X254, the ADC
    ranking is X256 — all md5-seeded, rounded-kernel, SQL-replayable.

    Shape: both fits are bounded (sample-trainable); corpus-side work
    is ONE map-only pass emitting cell assignment + every PQ code
    together; candidate generation is an equi-join on the cell id
    (shuffle keyed by cell, AQE splits skew); ADC scoring per
    candidate reads the codebook 2-D array literal by code (no joins).
    Nothing is all-pairs, nothing touches raw corpus vectors after
    encoding. Output: (query_id, rank, neighbor_id, adc_dist).
    """
    from pyspark.sql import Window

    from safedata_pipeline_spark.operators.clustering import (
        _nearest_centroid_expr,
        _vectors,
        probe_cells_expr,
    )

    # ONE pinned (id, v) frame feeds BOTH fits AND the encode pass —
    # was two pins + two seed scans + a third parquet scan over the
    # same vectors. Lazy: the joint seed collect materializes it.
    prepared = _vectors(corpus, id_col, vec_col)
    # the coarse Lloyd recurrence and the n_sub PQ subspace recurrences
    # are independent, so they fit JOINTLY: ONE seed collect + ONE
    # update job per Lloyd round for all 9 spaces (guide §5 — the fits
    # were driver-round-trip-bound; bit-identical, test-pinned)
    centers, codebooks = _joint_coarse_pq_fit(
        prepared, num_cells, coarse_iterations, dim, n_sub, codebook_k,
        pq_iterations, dist_round,
    )
    # ONE map-only pass over the pinned frame emits cell + every
    # subspace code (was: separate assign and encode passes joined on
    # id, then n_sub broadcast centroid joins — the centroids now ride
    # the plan as a 2-D array literal read by code)
    code_cols = _pq_code_cols(codebooks, F.col("v"), dim, dist_round)
    coded = prepared.select(
        F.col("id").alias(id_col),
        _nearest_centroid_expr(centers, dist_round)(F.col("v")).alias("cell"),
        *[c.alias(f"code_{s}") for s, c in enumerate(code_cols)],
    )
    qv = F.col(vec_col).cast("array<double>")
    sub = dim // n_sub
    probe = probe_cells_expr(centers, n_probe, dist_round)
    q = queries.where(F.col(vec_col).isNotNull()).select(
        F.col(id_col).alias("query_id"), qv.alias("qv")
    ).withColumn("cell", F.explode(probe(F.col("qv"))))
    pairs = q.join(
        coded,
        on=(q["cell"] == coded["cell"]) & (F.col("query_id") != F.col(id_col)),
    )
    adc = None
    for s in range(n_sub):
        qs = F.slice(F.col("qv"), s * sub + 1, sub)
        c = _pq_centroid(codebooks[s], F.col(f"code_{s}"))
        t = F.round(F.lit(-2.0) * _dot(qs, c) + _dot(c, c), dist_round)
        adc = t if adc is None else adc + t
    scored = pairs.select(
        "query_id", F.col(id_col).alias("neighbor_id"), adc.alias("adc_dist")
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("adc_dist").asc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select(
            "query_id",
            F.col("rank").cast("bigint").alias("rank"),
            "neighbor_id",
            "adc_dist",
        )
    )
