import hashlib

import numpy as np
import pytest

from safedata_pipeline_spark.operators import clustering as CL


def _ref_kmeans(ids, X, k, iterations):
    """Sequential numpy twin of kmeans_fit's exact recurrence:
    md5-smallest seeds, stable argmin, 9dp-rounded DECIMAL-style
    means."""
    order = np.argsort([hashlib.md5(str(i).encode()).hexdigest() for i in ids], kind="stable")
    centers = X[order[:k]].astype(float).copy()
    counts = np.zeros(k, dtype=int)
    for _ in range(iterations):
        d = ((X[:, None, :] - centers[None, :, :]) ** 2).sum(axis=2)
        a = np.argmin(d, axis=1)
        counts = np.zeros(k, dtype=int)
        for c in range(k):
            m = a == c
            counts[c] = m.sum()
            if counts[c]:
                centers[c] = np.round(np.round(X[m], 9).sum(axis=0) / counts[c], 9)
    return centers, counts


def _toy(spark, n=60, d=4, k=3):
    rng = np.random.RandomState(7)
    X = np.vstack(
        [rng.randn(n // 3, d) + off for off in ([0, 0, 0, 0], [8, 8, 0, 0], [-8, 4, 4, 4])]
    )
    ids = list(range(len(X)))
    df = spark.createDataFrame(
        [(i, [float(x) for x in X[i]]) for i in ids], "vec_id bigint, embedding array<double>"
    )
    return ids, X, df


def test_kmeans_matches_sequential_reference(spark):
    ids, X, df = _toy(spark)
    got = {r.cluster_id: r for r in CL.kmeans_fit(df, k=3, iterations=4).collect()}
    centers, counts = _ref_kmeans(ids, X, 3, 4)
    for c in range(3):
        assert got[c].n_assigned == counts[c]
        assert np.allclose(got[c].centroid, centers[c], atol=1e-9)


def test_kmeans_assign_partitions_blobs(spark):
    ids, X, df = _toy(spark)
    fit = CL.kmeans_fit(df, k=3, iterations=5).collect()
    centroids = [r.centroid for r in sorted(fit, key=lambda r: r.cluster_id)]
    a = {r.vec_id: r.cluster_id for r in CL.kmeans_assign(df, centroids).collect()}
    # each true blob lands in ONE cluster
    blobs = [set(a[i] for i in range(0, 20)), set(a[i] for i in range(20, 40)),
             set(a[i] for i in range(40, 60))]
    assert all(len(b) == 1 for b in blobs)
    assert len(set().union(*blobs)) == 3


def test_kmeans_rejects_bad_params(spark):
    _, _, df = _toy(spark)
    with pytest.raises(ValueError):
        CL.kmeans_fit(df, k=0)
    with pytest.raises(ValueError):
        CL.kmeans_fit(df.limit(2), k=3)


def test_kmeans_embeddings_query_is_flat(spark, sf_dir):
    # the driver hashes result cells: a list-typed centroid column is
    # unhashable there, so the registry query emits one row per
    # (cluster, dim) coordinate with atomic types only
    import os
    import sys

    from pyspark.sql.types import ArrayType, BinaryType, MapType, StructType

    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    import __spark_entry__ as entry

    df = entry.queries()["kmeans_embeddings"](spark, sf_dir)
    nested = (ArrayType, BinaryType, MapType, StructType)
    assert not [f.name for f in df.schema.fields if isinstance(f.dataType, nested)]
    assert df.columns == ["cluster_id", "n_assigned", "dim", "value"]
