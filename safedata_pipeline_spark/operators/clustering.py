"""Deterministic distributed KMeans (Lloyd's algorithm, fixed
iterations) over embedding columns
(SURVEY §2.8 extension surface; no reference counterpart).

Why hand-rolled next to MLlib's KMeans (which the IVF ANN index uses
as a coarse quantizer): MLlib's implementation is neither
reproducible across engines nor across its own releases (k-means||
init, float reduce order), so its assignments can't be pinned by
equality tests. This twin is engine-deterministic end-to-end:

  * init — the k rows with the SMALLEST md5(id) (an order-insensitive
    TakeOrdered; the "random" seeds any engine can recompute);
  * assign — argmin squared L2 distance, ties broken by lowest
    centroid id (numpy stable argmin), one GEMM per Arrow batch
    (the justified-Python contract shared with the ANN module);
  * update — per-(cluster, dim) means via explode + groupBy with
    DECIMAL(38,9) sums, rounded to 9 dp per iteration so float
    summation order can never drift the trajectory (the PageRank /
    drift discipline).

One loop (``_lloyd``) serves every fit in the engine: plain k-means,
the PQ subspace codebooks and the IVF coarse quantizer are its
"spaces" (vector slices), fitted jointly over one pinned frame.

Scale shape: each of the T iterations is one map-only assignment
pass + one (space, cluster, dim)-keyed aggregate (map-side combined:
k·dim cells per partition regardless of rows); centroids are
O(k·dim) driver-side fit parameters, never row data. The input is
localCheckpoint'ed once so T passes don't re-run the scan lineage.
Iterative argmax/argmin makes it rows-only for the oracle harness;
tests pin exact equality against a sequential numpy twin of the
same recurrence (tests/test_clustering.py).
"""

from __future__ import annotations

from typing import NamedTuple

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from safedata_pipeline_spark.checkpoint import pin_eager, pin_lazy

ITER_ROUND = 9  # per-iteration centroid rounding: kills float drift
_DEC = "decimal(38,9)"


def _dlit(nested):
    """Nested ``double`` array literal built JVM-side via ONE
    ``F.expr`` parse. ``F.lit`` on a nested Python list recurses into
    per-element py4j calls — ~0.15 s for an 8×64 centroid table —
    and the centroid kernels rebuild their literals EVERY Lloyd round
    of every fit (measured ~0.18 s per kernel build, ×27 builds in
    ann_topk_ivf_pq's fit chain alone: guide §7.3 "very large plans /
    generating gigantic expression trees in loops"). ``repr`` emits
    the shortest round-trip decimal, which the SQL parser reads back
    to the SAME IEEE double, so the folded literal is bit-identical
    to the ``F.lit`` form."""
    from pyspark.sql import functions as F

    def fmt(x):
        if isinstance(x, (list, tuple)):
            return "array(" + ",".join(fmt(e) for e in x) + ")"
        return repr(float(x)) + "D"

    return F.expr(fmt(nested))


def _nearest_centroid(centers):
    """Pandas UDF: vector → id of the closest centroid (squared L2,
    stable argmin → lowest id wins ties). One GEMM per Arrow batch."""
    import numpy as np

    C = np.asarray(centers, dtype=float)
    c2 = (C * C).sum(axis=1)

    @F.pandas_udf("int")
    def nearest(col: pd.Series) -> pd.Series:
        M = np.vstack(col.to_numpy())
        # |x-c|² = |x|² - 2x·c + |c|²; |x|² is constant per row → drop
        d = -2.0 * (M @ C.T) + c2
        return pd.Series(np.argmin(d, axis=1).astype(np.int32))

    return nearest


def _nearest_centroid_expr(centers: list[list[float]], dist_round: int):
    """Pure-expression twin of ``_nearest_centroid`` for ORACLE-PARITY
    mode: distance = -2·(v·c) + |c|² with the dot as the sequential
    ``functions.vector`` fold (same FP evaluation order as DuckDB's
    ``list_dot_product``), ROUNDED to ``dist_round`` dp before the
    argmin so both engines compare identical values; ties break to the
    lowest centroid id via struct array_min. |c|² is a Python
    sequential float sum over the (already 9dp-rounded) centroid — also
    order-identical to ``list_dot_product(c, c)``. No Python rows, no
    Arrow: whole-stage codegen, k folds per row.

    The candidate structs ride ONE ``transform`` over a 2-D centroid
    array literal (plus a |c|² literal vector) instead of k unrolled
    per-centroid subtrees: identical FP sequence per candidate — the
    same −2·(v·c)+|c|² rounded fold, same (d, cid) struct min — but
    the expression tree (and the py4j round-trips building it) shrinks
    ~k-fold, which dominated plan-build time for every caller that
    re-derives the expression per Lloyd round (measured 1.13s → 0.17s
    per build at k=8·8 subspaces; assignments bit-identical). The
    literals themselves ride ``_dlit`` (one JVM-side expr parse, not
    one py4j call per element) — the residual ~0.17 s/build was
    almost entirely ``F.lit`` recursing into the nested list."""
    from safedata_pipeline_spark.functions.vector import dot as _dot

    C = _dlit([[float(x) for x in c] for c in centers])
    c2s = []
    for c in centers:
        c2 = 0.0
        for x in c:
            c2 += float(x) * float(x)
        c2s.append(c2)
    C2 = _dlit(c2s)

    def assign(v):
        cands = F.transform(
            C,
            lambda c, i: F.struct(
                F.round(F.lit(-2.0) * _dot(v, c) + F.get(C2, i), dist_round).alias(
                    "d"
                ),
                i.cast("int").alias("cid"),
            ),
        )
        return F.array_min(cands).getField("cid")

    return assign


def probe_cells_expr(centers: list[list[float]], n_probe: int, dist_round: int):
    """Pure-expression TOP-``n_probe`` nearest centroids — the
    query-side twin of ``_nearest_centroid_expr``'s argmin, for the
    oracle-parity IVF probe. Same rounded distance kernel
    (−2·(v·c)+|c|², sequential-fold dot, ``dist_round`` dp), ties to
    the lowest centroid id; returns an ``array<int>`` of cell ids in
    ascending (distance, cid) order via one struct array_sort + slice.
    A SQL oracle replays it as a row_number() over the same rounded
    distance. No Python rows, no Arrow — whole-stage codegen. Same
    literal-array ``transform`` construction as
    ``_nearest_centroid_expr`` (k-fold smaller tree, bit-identical
    distances; ``_dlit`` literals — one JVM expr parse each)."""
    from safedata_pipeline_spark.functions.vector import dot as _dot

    C = _dlit([[float(x) for x in c] for c in centers])
    c2s = []
    for c in centers:
        c2 = 0.0
        for x in c:
            c2 += float(x) * float(x)
        c2s.append(c2)
    C2 = _dlit(c2s)

    def probes(v):
        cands = F.transform(
            C,
            lambda c, i: F.struct(
                F.round(F.lit(-2.0) * _dot(v, c) + F.get(C2, i), dist_round).alias(
                    "d"
                ),
                i.cast("int").alias("cid"),
            ),
        )
        ranked = F.slice(F.sort_array(cands), 1, n_probe)
        return F.transform(ranked, lambda s: s.getField("cid"))

    return probes


class _Space(NamedTuple):
    """One Lloyd recurrence inside a joint fit: ``k`` centroids over
    the vector slice ``v[lo : lo + width]`` (``width=None``: the whole
    vector) for ``iterations`` rounds, assigned by the rounded-distance
    expression kernel, or by the Arrow GEMM kernel when ``dist_round``
    is None."""

    k: int
    iterations: int
    dist_round: int | None
    lo: int = 0
    width: int | None = None


def _tag(s: int):
    # capture s by value; transform's lambda must stay 2-arg
    return lambda x, i: F.struct(
        F.lit(s).cast("int").alias("s"),
        F.col(f"cell{s}").alias("cluster_id"),
        i.alias("dim"),
        x.alias("x"),
    )


def _lloyd(
    data: DataFrame, spaces: list[_Space]
) -> list[tuple[list[list[float]], list[int]]]:
    """THE Lloyd loop: fit every space of ``spaces`` over the pinned
    ``(id, v)`` frame ``data`` and return one ``(centers, counts)`` per
    space, ``counts`` from that space's last round.

    The spaces are INDEPENDENT recurrences (none reads another's
    centroids), so they run jointly:

      * seed — ONE collect of the max-k rows with the smallest
        md5(id); each space takes its own k-prefix of them, sliced to
        its columns (exactly the rows a per-space seed collect returns);
      * update — per round ONE job assigns every live space's cells and
        aggregates every live space's (space, cluster, dim)
        DECIMAL(38,9) sums, snapped to ``ITER_ROUND`` dp. The sums are
        exact and order-independent, so each space's trajectory is
        bit-identical to fitting it alone (test-pinned); a space past
        its iteration budget stops contributing rows, and an empty
        cluster keeps its centroid.

    Driver round-trips: 1 seed collect + max(iterations) update
    collects, whatever the number of spaces."""
    if min(min(sp.k, sp.iterations) for sp in spaces) < 1:
        raise ValueError("need k >= 1 and iterations >= 1")
    seed_k = max(sp.k for sp in spaces)
    rows = (
        data.select(F.md5(F.col("id").cast("string").cast("binary")).alias("h"), "v")
        .orderBy("h")
        .limit(seed_k)
        .collect()
    )
    if len(rows) < seed_k:
        raise ValueError(f"need at least k={seed_k} rows, got {len(rows)}")

    def cut(sp: _Space, vec) -> list[float]:
        hi = None if sp.width is None else sp.lo + sp.width
        return [float(x) for x in vec[sp.lo : hi]]

    centers = [[cut(sp, r.v) for r in rows[: sp.k]] for sp in spaces]
    counts = [[0] * sp.k for sp in spaces]
    for it in range(max(sp.iterations for sp in spaces)):
        live = [s for s, sp in enumerate(spaces) if it < sp.iterations]
        sel = []
        for s in live:
            sp = spaces[s]
            vs = F.col("v") if sp.width is None else F.slice("v", sp.lo + 1, sp.width)
            if sp.dist_round is None:
                kernel = _nearest_centroid(centers[s])
            else:
                kernel = _nearest_centroid_expr(centers[s], sp.dist_round)
            sel += [vs.alias(f"vs{s}"), kernel(vs).alias(f"cell{s}")]
        cells = data.select(*sel).select(
            F.explode(
                F.flatten(F.array(*[F.transform(f"vs{s}", _tag(s)) for s in live]))
            ).alias("e")
        )
        upd = (
            cells.groupBy("e.s", "e.cluster_id", "e.dim")
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.sum(F.round(F.col("e.x"), ITER_ROUND).cast(_DEC)).alias("sm"),
            )
            .select(
                "s",
                "cluster_id",
                "dim",
                "n",
                F.round(F.col("sm").cast("double") / F.col("n"), ITER_ROUND).alias("m"),
            )
            .collect()
        )
        for s in live:
            counts[s] = [0] * spaces[s].k
        for r in upd:  # a (cluster, dim) no row reached keeps its value
            centers[r.s][r.cluster_id][r.dim] = float(r.m)
            counts[r.s][r.cluster_id] = int(r.n)
    return list(zip(centers, counts))


def _vectors(df: DataFrame, id_col: str, vec_col: str) -> DataFrame:
    """The lazily pinned ``(id, v array<double>)`` frame every fit and
    encode pass reads. Spread BEFORE the pin: the checkpoint freezes
    partitioning, so a 1-3-split fixture scan would otherwise run every
    assignment + update pass nearly single-core (hash-safe: the update
    sums are exact DECIMALs and the argmin is per-row; a no-op on a
    many-split scan). Lazy: the seed collect, the first action,
    materializes it — one job instead of two."""
    from safedata_pipeline_spark.partitioning import spread_small

    return (
        df.where(F.col(vec_col).isNotNull())
        .select(F.col(id_col).alias("id"), F.col(vec_col).cast("array<double>").alias("v"))
        .transform(spread_small)
        .transform(pin_lazy)
    )


def kmeans_fit_centers(
    df: DataFrame,
    k: int = 8,
    iterations: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dist_round: int | None = None,
    _prepared: DataFrame | None = None,
) -> tuple[list[list[float]], list[int]]:
    """One-space ``_lloyd`` fit; returns (centers, counts) as
    driver-side fit parameters — the form downstream compositions
    (``kmeans_assign``, semantic dedup) consume directly.
    ``dist_round`` switches the assignment to the pure-expression
    rounded-distance kernel (``_nearest_centroid_expr``) whose
    trajectory a SQL oracle can replay exactly; ``None`` keeps the
    Arrow GEMM kernel (fast path, rows-only contract). ``_prepared``
    accepts an already-pinned ``(id, v)`` frame so a caller fitting
    several models on the same vectors pays the materialization
    once."""
    data = _vectors(df, id_col, vec_col) if _prepared is None else _prepared
    return _lloyd(data, [_Space(k, iterations, dist_round)])[0]


def kmeans_fit(
    df: DataFrame,
    k: int = 8,
    iterations: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dist_round: int | None = None,
) -> DataFrame:
    """Fit deterministic KMeans; returns the centroid table
    ``(cluster_id, n_assigned, centroid array<double>)`` after the
    final update step."""
    centers, counts = kmeans_fit_centers(df, k, iterations, id_col, vec_col, dist_round)
    out = [(i, counts[i], centers[i]) for i in range(k)]
    return df.sparkSession.createDataFrame(
        out, "cluster_id int, n_assigned bigint, centroid array<double>"
    )


def kmeans_assign(
    df: DataFrame,
    centroids: list[list[float]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dist_round: int | None = None,
) -> DataFrame:
    """Map-only cluster assignment against a fitted centroid list:
    (id, cluster_id). Scan-bound at any scale — the centroids are a
    broadcast-by-closure fit artifact. ``dist_round`` selects the
    oracle-parity expression kernel (see ``kmeans_fit_centers``)."""
    v = F.col(vec_col).cast("array<double>")
    if dist_round is None:
        cid = _nearest_centroid(centroids)(v)
    else:
        cid = _nearest_centroid_expr(centroids, dist_round)(v)
    return df.where(F.col(vec_col).isNotNull()).select(
        F.col(id_col), cid.alias("cluster_id")
    )
