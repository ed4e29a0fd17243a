import numpy as np

from safedata_pipeline_spark.operators import similarity as S


def _emb(spark, n=60, dim=16, seed=11):
    rng = np.random.default_rng(seed)
    rows = []
    for i in range(n):
        v = rng.normal(size=dim)
        rows.append((i, [float(x) for x in v]))
    # plant a near-duplicate of vector 0 at id n
    v0 = np.array(rows[0][1])
    rows.append((n, [float(x) for x in v0 + rng.normal(scale=0.01, size=dim)]))
    return spark.createDataFrame(rows, "vec_id bigint, embedding array<double>"), rows


def _exact_topk(rows, qid, k):
    q = np.array(dict(rows)[qid])
    sims = []
    for i, v in rows:
        if i == qid:
            continue
        v = np.array(v)
        sims.append((float(q @ v / (np.linalg.norm(q) * np.linalg.norm(v))), i))
    sims.sort(key=lambda t: (-t[0], t[1]))
    return [i for _, i in sims[:k]]


def test_cosine_topk_matches_numpy(spark):
    df, rows = _emb(spark)
    queries = df.where("vec_id < 3")
    out = S.cosine_topk(queries, df, k=5)
    got = {}
    for r in out.collect():
        got.setdefault(r.query_id, []).append((r.rank, r.neighbor_id))
    for qid in (0, 1, 2):
        mine = [nid for _, nid in sorted(got[qid])]
        assert mine == _exact_topk(rows, qid, 5)


def test_cosine_topk_finds_planted_dup_first(spark):
    df, rows = _emb(spark)
    out = S.cosine_topk(df.where("vec_id = 0"), df, k=1).collect()
    assert out[0].neighbor_id == 60 and out[0].cosine > 0.99


def test_lsh_recall_on_planted_dup(spark):
    df, rows = _emb(spark)
    out = S.cosine_topk_lsh(
        df.where("vec_id = 0"), df, k=1, dim=16, num_tables=8, planes=4
    ).collect()
    # near-identical vectors share sign patterns in every table
    assert out and out[0].neighbor_id == 60


def test_ivf_recall_on_planted_dup(spark):
    df, rows = _emb(spark)
    out = S.cosine_topk_ivf(
        df.where("vec_id = 0"), df, k=1, num_cells=4, n_probe=2
    ).collect()
    # near-identical vectors quantize to the same cell
    assert out and out[0].neighbor_id == 60 and out[0].cosine > 0.99


def test_ivf_probe_widening_recovers_exact(spark):
    df, rows = _emb(spark)
    exact = {r.neighbor_id for r in S.cosine_topk(df.where("vec_id = 1"), df, k=5).collect()}
    # probing every cell degenerates to exact brute force
    full = {
        r.neighbor_id
        for r in S.cosine_topk_ivf(
            df.where("vec_id = 1"), df, k=5, num_cells=4, n_probe=4
        ).collect()
    }
    assert full == exact
    # narrow probe still overlaps the exact set substantially
    narrow = {
        r.neighbor_id
        for r in S.cosine_topk_ivf(
            df.where("vec_id = 1"), df, k=5, num_cells=4, n_probe=2
        ).collect()
    }
    assert len(narrow & exact) >= 3


def test_lsh_candidates_subset_scored_correctly(spark):
    df, rows = _emb(spark)
    exact = {r.neighbor_id for r in S.cosine_topk(df.where("vec_id = 1"), df, k=10).collect()}
    approx = {r.neighbor_id for r in S.cosine_topk_lsh(df.where("vec_id = 1"), df, k=10, dim=16, num_tables=8, planes=4).collect()}
    # approximate set overlaps the exact top-10 substantially
    assert len(exact & approx) >= 5


def test_embedding_centroids_means_and_shapes(spark):
    import numpy as np

    from safedata_pipeline_spark.operators.similarity import embedding_centroids

    rows = [
        (1, [1.0, 2.0, 3.0], "a"),
        (2, [3.0, 4.0, 5.0], "a"),
        (3, [10.0, 20.0, 30.0], "b"),
    ]
    df = spark.createDataFrame(rows, "vec_id bigint, embedding array<double>, label string")
    packed = {r.label: r for r in embedding_centroids(df).collect()}
    assert np.allclose(packed["a"].centroid, [2.0, 3.0, 4.0])
    assert packed["a"].n_vectors == 2
    assert np.allclose(packed["b"].centroid, [10.0, 20.0, 30.0])
    long = embedding_centroids(df, packed=False).collect()
    vals = {(r.label, r.dim): r.centroid_val for r in long}
    assert vals[("a", 1)] == 3.0 and len(long) == 6


def test_quantize_embeddings_roundtrip(spark):
    df = spark.createDataFrame(
        [(1, [1.0, -0.5, 0.25, 0.0]), (2, [0.0, 0.0, 0.0, 0.0])],
        "vec_id bigint, embedding array<float>",
    )
    rows = S.quantize_embeddings(df).collect()
    by = {(r.vec_id, r.dim): r for r in rows}
    # scale = 1.0/127; q = round(x*127)
    assert by[(1, 0)].qval == 127 and by[(1, 1)].qval == -64
    assert by[(1, 2)].qval == 32 and by[(1, 3)].qval == 0
    # zero vector: scale 0, all-zero quants, no division error
    assert all(by[(2, d)].qval == 0 for d in range(4))
    assert by[(2, 0)].scale == 0.0
    # packed form carries the same values
    packed = {r.vec_id: r for r in S.quantize_embeddings(df, long_form=False).collect()}
    assert packed[1].qvec == [127, -64, 32, 0]


def test_quantization_error_bounded(spark, sf_dir):
    from safedata_pipeline_spark.sources.tables import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    r = S.quantization_error(emb).collect()[0]
    # int8 symmetric: per-dim error ≤ scale/2 = max|x|/254
    assert r.n_values > 0
    assert 0.0 <= r.mean_abs_err <= r.max_abs_err
    import duckdb

    amax = duckdb.sql(
        f"SELECT max(list_max(list_transform(embedding::DOUBLE[], x -> abs(x)))) FROM '{sf_dir}/embeddings.parquet'"
    ).fetchone()[0]
    assert r.max_abs_err <= amax / 254 + 1e-9


def test_rrf_fuse_known_ordering(spark):
    """X202: RRF on two hand-built rankings — fused scores match the
    published formula exactly and ties break on item id."""
    from safedata_pipeline_spark.operators import similarity as S

    lex = spark.createDataFrame(
        [(1, 10, 1), (1, 11, 2), (1, 12, 3)], "query_id long, item_id long, rank long"
    )
    vec = spark.createDataFrame(
        [(1, 11, 1), (1, 13, 2), (1, 10, 3)], "query_id long, item_id long, rank long"
    )
    out = {r.item_id: r for r in S.rrf_fuse([lex, vec], k_rrf=60, top_n=10).collect()}
    r9 = lambda x: round(x, 9)  # noqa: E731
    assert out[11].rrf_score == r9(1 / 62) + r9(1 / 61)   # best: 2nd + 1st
    assert out[10].rrf_score == r9(1 / 61) + r9(1 / 63)
    assert out[12].rrf_score == r9(1 / 63)                 # lexical-only
    assert out[13].rrf_score == r9(1 / 62)                 # vector-only
    order = sorted(out.values(), key=lambda r: r.rank)
    assert [r.item_id for r in order] == [11, 10, 13, 12]


def test_lexical_jaccard_topk_exact(spark):
    from safedata_pipeline_spark.operators import similarity as S

    docs = spark.createDataFrame(
        [
            (1, "alpha beta gamma"),
            (2, "alpha beta delta"),       # J(1,2) = 2/4
            (3, "alpha zeta"),             # J(1,3) = 1/4
            (4, "omega psi chi"),          # J(1,4) = 0 -> absent
        ],
        "doc_id long, text string",
    )
    got = {
        r.item_id: r
        for r in S.lexical_jaccard_topk(
            docs.where("doc_id = 1"), docs, k=10
        ).collect()
    }
    assert set(got) == {2, 3}
    assert got[2].jaccard == 0.5 and got[2].rank == 1
    assert got[3].jaccard == 0.25 and got[3].rank == 2


def test_rrf_fuse_composes_with_approximate_legs(spark, sf_dir):
    """The fusion contract is leg-agnostic: swapping the exact vector
    leg for the LSH ANN ranking (the 100 TB path) composes without
    schema or semantic friction, and the exact-leg fusion's top-1 per
    query stays dominated by items at least one leg ranked."""
    from pyspark.sql import functions as F

    from safedata_pipeline_spark.operators import similarity as S
    from safedata_pipeline_spark.sources.tables import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    docs = load_table(spark, sf_dir, "documents")
    lex = S.lexical_jaccard_topk(docs.where(F.col("doc_id") < 3), docs, k=10)
    lsh = S.cosine_topk_lsh(
        emb.where(F.col("vec_id") < 3), emb, k=10, dim=64
    ).select("query_id", F.col("neighbor_id").alias("item_id"), "rank")
    fused = S.rrf_fuse(
        [lex.select("query_id", "item_id", "rank"), lsh], top_n=5
    ).collect()
    assert len(fused) > 0
    legs = {
        (r.query_id, r.item_id)
        for df in (lex, lsh)
        for r in df.select("query_id", "item_id").collect()
    }
    assert all((r.query_id, r.item_id) in legs for r in fused)
    assert all(r.rrf_score > 0 for r in fused)


def test_ivf_exact_confined_and_deterministic(spark, sf_dir):
    """cosine_topk_ivf_exact: every reported neighbor sits in one of
    the query's n_probe nearest cells (candidate confinement is real),
    reported cosines equal the exact pairwise cosine, and two runs are
    row-identical (the deterministic-KMeans discipline)."""
    from pyspark.sql import functions as F

    from safedata_pipeline_spark.operators import similarity as S
    from safedata_pipeline_spark.operators.clustering import (
        kmeans_assign,
        kmeans_fit_centers,
        probe_cells_expr,
    )
    from safedata_pipeline_spark.sources.tables import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.where(F.col("vec_id") < 5)
    a = S.cosine_topk_ivf_exact(q, emb, k=5, num_cells=8, iterations=2, n_probe=2)
    b = S.cosine_topk_ivf_exact(q, emb, k=5, num_cells=8, iterations=2, n_probe=2)
    rows_a = sorted(map(tuple, a.collect()))
    rows_b = sorted(map(tuple, b.collect()))
    assert rows_a == rows_b and len(rows_a) > 0

    # replay the quantizer: the neighbor's cell must be probed by its query
    centers, _ = kmeans_fit_centers(emb, k=8, iterations=2, dist_round=6)
    cells = {
        r.vec_id: r.cluster_id
        for r in kmeans_assign(emb, centers, dist_round=6).collect()
    }
    probes = {
        r.vec_id: list(r.p)
        for r in q.select(
            "vec_id",
            probe_cells_expr(centers, 2, 6)(
                F.col("embedding").cast("array<double>")
            ).alias("p"),
        ).collect()
    }
    for qid, rank, nid, _cos in rows_a:
        assert cells[nid] in probes[qid]

    # reported cosine == exact cosine for the same pair
    exact = {
        (r.query_id, r.neighbor_id): r.cosine
        for r in S.cosine_topk(q, emb, k=2000).collect()
    }
    for qid, rank, nid, cos in rows_a:
        assert abs(exact[(qid, nid)] - cos) < 1e-9


def test_probe_cells_expr_orders_by_distance(spark):
    """probe_cells_expr returns cell ids in ascending (rounded
    distance, cid) order — verified against a numpy replay."""
    from pyspark.sql import functions as F

    from safedata_pipeline_spark.operators.clustering import probe_cells_expr

    centers = [[1.0, 0.0], [0.0, 1.0], [-1.0, 0.0], [0.7, 0.7]]
    df = spark.createDataFrame(
        [(1, [0.9, 0.1]), (2, [0.0, -1.0]), (3, [0.5, 0.5])],
        "vec_id long, v array<double>",
    )
    got = {
        r.vec_id: list(r.p)
        for r in df.select(
            "vec_id", probe_cells_expr(centers, 3, 6)(F.col("v")).alias("p")
        ).collect()
    }
    C = np.asarray(centers)
    for vid, v in [(1, [0.9, 0.1]), (2, [0.0, -1.0]), (3, [0.5, 0.5])]:
        d = np.round(-2.0 * (np.asarray(v) @ C.T) + (C * C).sum(axis=1), 6)
        want = list(np.lexsort((np.arange(len(centers)), d))[:3])
        assert got[vid] == want, (vid, got[vid], want)


def test_lsh_exact_buckets_deterministic_and_confined(spark):
    """cosine_topk_lsh_exact (X209): two runs are row-identical, every
    reported neighbor shares >=1 bucket with its query under the same
    pure-expression key kernel, and reported cosines equal the exact
    pairwise cosine."""
    from pyspark.sql import functions as F

    df, rows = _emb(spark, n=60, dim=16)
    q = df.where("vec_id < 5")
    a = S.cosine_topk_lsh_exact(q, df, k=5, dim=16, num_tables=4, planes=3)
    b = S.cosine_topk_lsh_exact(q, df, k=5, dim=16, num_tables=4, planes=3)
    ra = sorted(map(tuple, a.collect()))
    rb = sorted(map(tuple, b.collect()))
    assert ra == rb and len(ra) > 0

    keys = S.lsh_bucket_keys_expr(16, 4, 3)
    kmap = {
        r.vec_id: set(r.bk)
        for r in df.select(
            "vec_id", keys(F.col("embedding").cast("array<double>")).alias("bk")
        ).collect()
    }
    by_id = dict(rows)
    for qid, rank, nid, cos in ra:
        assert kmap[qid] & kmap[nid], (qid, nid)  # bucket collision is real
        qa, na = np.array(by_id[qid]), np.array(by_id[nid])
        exact = float(qa @ na / (np.linalg.norm(qa) * np.linalg.norm(na)))
        assert abs(cos - exact) < 1e-6


def test_lsh_expr_keys_agree_with_gemm_twin(spark):
    """The pure-expression kernel and the Arrow GEMM indexer produce
    IDENTICAL packed keys off the rounding boundary (same md5 planes;
    the expr form adds only the 6dp snap before the sign compare)."""
    from pyspark.sql import functions as F

    df, _ = _emb(spark, n=80, dim=16, seed=7)
    expr_keys = S.lsh_bucket_keys_expr(16, 4, 3)
    gemm_keys = S.bucket_keys_vectorized(16, 4, 3)
    snap_keys = S.bucket_keys_snapped_vectorized(16, 4, 3)
    got = df.select(
        "vec_id",
        expr_keys(F.col("embedding").cast("array<double>")).alias("e"),
        gemm_keys(F.col("embedding").cast("array<double>")).alias("g"),
        snap_keys(F.col("embedding").cast("array<double>")).alias("s"),
    ).collect()
    assert len(got) == 81
    for r in got:
        # expr (the oracle-replayed spec), unsnapped GEMM, and the
        # snapped GEMM cosine_topk_lsh_exact runs engine-side all agree
        assert list(r.e) == list(r.g) == list(r.s), r.vec_id


def test_bm25_matches_sequential_reference(spark):
    """bm25_topk (X210) equals a straightforward single-process Okapi
    BM25 (Lucene-variant idf) computed in Python on the same corpus —
    scores to 6dp and the full ranking."""
    import math

    docs = [
        (0, "the quick brown fox jumps over the lazy dog"),
        (1, "the quick brown fox"),
        (2, "lazy dogs sleep all day the the the"),
        (3, "quick quick quick brown foxes"),
        (4, "an unrelated document about spark and parquet"),
        (5, "dog dog dog dog"),
        (6, ""),
    ]
    df = spark.createDataFrame(docs, "doc_id bigint, text string")
    got = S.bm25_topk(df.where("doc_id < 2"), df, k=10)
    rows = {(r.query_id, r.item_id): (r.rank, r.score) for r in got.collect()}

    toks = {i: t.lower().split() if t.strip() else [] for i, t in docs}
    N = len(docs)
    avgdl = sum(len(t) for t in toks.values()) / N
    dfreq = {}
    for t in toks.values():
        for w in set(t):
            dfreq[w] = dfreq.get(w, 0) + 1
    k1, b = 1.2, 0.75
    for qid in (0, 1):
        scores = {}
        for did, t in toks.items():
            if did == qid or not t:
                continue
            s = 0.0
            for w in set(toks[qid]):
                tf = t.count(w)
                if not tf:
                    continue
                idf = math.log(1.0 + (N - dfreq[w] + 0.5) / (dfreq[w] + 0.5))
                contrib = idf * tf * (k1 + 1.0) / (
                    tf + k1 * (1.0 - b + b * len(t) / avgdl)
                )
                s += round(contrib, 9)
            if s > 0:
                scores[did] = s
        want = sorted(scores.items(), key=lambda kv: (-kv[1], kv[0]))
        for rank0, (did, s) in enumerate(want):
            assert rows[(qid, did)] == (rank0 + 1, round(s, 6)), (qid, did)


def test_bm25_rare_term_outranks_common(spark):
    """A candidate matching the query's RARE term must outscore one
    matching only the corpus-wide common term (the idf property)."""
    rows = [(0, "zebra the")] + [(i, "the filler text number %d" % i) for i in range(1, 9)]
    rows.append((9, "zebra appears here"))
    df = spark.createDataFrame(rows, "doc_id bigint, text string")
    got = S.bm25_topk(df.where("doc_id = 0"), df, k=3).collect()
    assert got[0].item_id == 9  # the zebra doc wins


def test_bm25_null_text_counts_as_empty_doc(spark):
    """ADVICE r11: a NULL text row must behave exactly like an
    empty-string row — N counts it, avgdl adds 0 — on every
    sizeOfNull setting (legacy size(NULL) = -1 would silently shrink
    the corpus length sum while the oracle skips NULLs)."""
    docs = [
        (0, "the quick brown fox"),
        (1, "lazy dogs sleep"),
        (2, "quick brown dogs"),
    ]
    base = docs + [(3, "")]
    withnull = docs + [(3, None)]
    d1 = spark.createDataFrame(base, "doc_id bigint, text string")
    d2 = spark.createDataFrame(withnull, "doc_id bigint, text string")
    r1 = sorted(
        map(tuple, S.bm25_topk(d1.where("doc_id = 0"), d1, k=5).collect())
    )
    r2 = sorted(
        map(tuple, S.bm25_topk(d2.where("doc_id = 0"), d2, k=5).collect())
    )
    assert r1 == r2 and len(r1) > 0


def test_rerank_by_cosine_matches_sequential_reference(spark):
    """X215: rerank_by_cosine equals brute-force cosine re-ranking of
    the given candidate lists (rank by cosine desc then item id;
    candidates lacking embeddings drop; zero-norm cosines drop)."""
    import math

    vecs = {
        0: [1.0, 0.0, 0.0],
        1: [0.9, 0.1, 0.0],
        2: [0.0, 1.0, 0.0],
        3: [0.5, 0.5, 0.0],
        4: [0.0, 0.0, 0.0],  # zero-norm -> NULL cosine -> dropped
    }
    emb = spark.createDataFrame(
        [(k, v) for k, v in vecs.items()], "vec_id long, embedding array<double>"
    )
    cand = spark.createDataFrame(
        [(0, 1), (0, 2), (0, 3), (0, 4), (0, 9), (1, 0), (1, 2)],
        "query_id long, item_id long",
    )
    got = [
        (r.query_id, r.rank, r.item_id, r.cosine)
        for r in S.rerank_by_cosine(cand, emb, k=2)
        .orderBy("query_id", "rank")
        .collect()
    ]

    def cos(a, b):
        na = math.sqrt(sum(x * x for x in a))
        nb = math.sqrt(sum(x * x for x in b))
        return sum(x * y for x, y in zip(a, b)) / (na * nb) if na * nb > 0 else None

    exp = []
    for q in (0, 1):
        scored = [
            (i, cos(vecs[q], vecs[i]))
            for (qq, i) in [(0, 1), (0, 2), (0, 3), (0, 4), (0, 9), (1, 0), (1, 2)]
            if qq == q and i in vecs
        ]
        scored = [(i, c) for i, c in scored if c is not None]
        scored.sort(key=lambda t: (-t[1], t[0]))
        for rank, (i, c) in enumerate(scored[:2], 1):
            exp.append((q, rank, i, round(c, 6)))
    assert got == exp


def test_bm25_max_df_drops_hot_terms_only(spark):
    """The df-cap (VERDICT r11 #4c): with max_df, terms whose df
    exceeds the cap contribute nothing — scores equal a corpus where
    those terms were deleted from every document's scoring (N/avgdl
    stay full-corpus); with max_df=None behavior is unchanged."""
    docs = [
        (0, "common rare0"),
        (1, "common rare1"),
        (2, "common rare2"),
        (3, "common common rare3"),
    ]
    df = spark.createDataFrame(docs, "doc_id bigint, text string")
    full = {
        (r.query_id, r.item_id): r.score
        for r in S.bm25_topk(df.where("doc_id = 0"), df, k=4).collect()
    }
    capped = {
        (r.query_id, r.item_id): r.score
        for r in S.bm25_topk(df.where("doc_id = 0"), df, k=4, max_df=3).collect()
    }
    # 'common' (df=4) exceeds the cap: with it gone, doc 0's query
    # shares no term with any other doc -> no candidates at all
    assert len(full) == 3 and capped == {}
    # cap ABOVE every df is a no-op
    uncapped = {
        (r.query_id, r.item_id): r.score
        for r in S.bm25_topk(df.where("doc_id = 0"), df, k=4, max_df=100).collect()
    }
    assert uncapped == full


def test_embedding_gram_vs_numpy_twin(spark):
    """Gram matrix exact vs the sequential numpy twin (same rounding
    discipline: per-product round@9, exact sum, output round@6)."""
    import numpy as np
    from decimal import Decimal

    rng = [
        [0.5, -1.25, 2.0, 0.125],
        [1.0, 0.75, -0.5, 3.5],
        [-2.0, 0.25, 1.5, -0.125],
    ]
    df = spark.createDataFrame(
        [(i, v) for i, v in enumerate(rng)], "vec_id bigint, embedding array<float>"
    )
    got = {(r.i, r.j): r for r in S.embedding_gram(df).collect()}
    d = 4
    assert len(got) == d * (d + 1) // 2
    X = np.array(rng, dtype=np.float32).astype(np.float64)
    for i in range(d):
        for j in range(i, d):
            s = sum(Decimal(str(round(float(X[r, i] * X[r, j]), 9))) for r in range(3))
            assert abs(got[(i, j)].gram - float(round(s, 6))) <= 1e-6, (i, j)
            assert got[(i, j)].n_vectors == 3
    # partitioning invariance: DECIMAL sums are order-free
    got7 = {(r.i, r.j): r.gram for r in S.embedding_gram(df.repartition(7)).collect()}
    assert got7 == {k: v.gram for k, v in got.items()}


def test_pca_fit_project_properties(spark):
    """Orthonormal components, descending eigenvalues, deterministic
    sign, repartition-invariant fit, projection matches numpy."""
    import numpy as np

    rng = np.random.RandomState(7)
    # anisotropic cloud: variance concentrated on a known direction
    base = rng.randn(200, 1) * 5.0
    noise = rng.randn(200, 4) * 0.3
    X = np.hstack([base + noise[:, :1], base * 0.5 + noise[:, 1:2], noise[:, 2:]])
    X = np.round(X, 3)
    df = spark.createDataFrame(
        [(i, [float(x) for x in row]) for i, row in enumerate(X)],
        "vec_id bigint, embedding array<float>",
    )
    m = S.pca_fit(df, n_components=3)
    C = np.array(m["components"])
    assert np.allclose(C @ C.T, np.eye(3), atol=1e-6)
    eigs = m["eigenvalues"]
    assert eigs == sorted(eigs, reverse=True) and eigs[0] > 1.0
    # sign convention: the largest-|coeff| entry of each component is positive
    for c in C:
        assert c[int(np.argmax(np.abs(c)))] > 0
    # fit is partitioning-invariant (gram/mean ride DECIMAL sums)
    m7 = S.pca_fit(df.repartition(7), n_components=3)
    assert m7["components"] == m["components"]
    assert m7["eigenvalues"] == m["eigenvalues"]
    # projection matches numpy (x - mu) @ V^T
    proj = {r.vec_id: (r.pc_0, r.pc_1, r.pc_2) for r in S.pca_project(df, m).collect()}
    Xf = np.array([[float(np.float32(x)) for x in row] for row in X])
    ref = (Xf - np.array(m["mean"])) @ C.T
    for i in range(len(X)):
        for q in range(3):
            assert abs(proj[i][q] - ref[i, q]) <= 1e-6, (i, q)
    # the first component carries most of the variance
    p0 = np.array([proj[i][0] for i in range(len(X))])
    p2 = np.array([proj[i][2] for i in range(len(X))])
    assert p0.var() > 10 * p2.var()


def test_embedding_gram_drift_normalizes_cohort_size(spark):
    """Identical DISTRIBUTIONS at different cohort sizes -> zero
    drift; a shifted cohort shows nonzero deltas on the moved cells."""
    base = [[1.0, 0.5], [-0.5, 2.0], [0.25, -1.0]]
    a = spark.createDataFrame(
        [(i, v) for i, v in enumerate(base)], "vec_id bigint, embedding array<float>"
    )
    # b = the same three vectors three times -> same moments, 3x rows
    b = spark.createDataFrame(
        [(i, base[i % 3]) for i in range(9)], "vec_id bigint, embedding array<float>"
    )
    drift = {(r.i, r.j): r for r in S.embedding_gram_drift(a, b).collect()}
    assert len(drift) == 3
    assert all(r.delta == 0.0 for r in drift.values())
    # scale dimension 0 of cohort b -> (0,0) and (0,1) move, (1,1) doesn't
    b2 = spark.createDataFrame(
        [(i, [v[0] * 2.0, v[1]]) for i, v in enumerate(base)],
        "vec_id bigint, embedding array<float>",
    )
    d2 = {(r.i, r.j): r.delta for r in S.embedding_gram_drift(a, b2).collect()}
    assert d2[(0, 0)] != 0.0 and d2[(0, 1)] != 0.0 and d2[(1, 1)] == 0.0


def test_pca_fit_raises_on_ragged_embeddings(spark):
    """ADVICE r12: ragged vector lengths give per-cell n_vectors that
    disagree — pca_fit must raise, not fit a quietly wrong model."""
    import pytest

    df = spark.createDataFrame(
        [(0, [1.0, 2.0, 3.0]), (1, [4.0, 5.0])],
        "vec_id bigint, embedding array<double>",
    )
    with pytest.raises(ValueError, match="ragged"):
        S.pca_fit(df, n_components=2)


def test_embedding_gram_vectorized_twin_bit_identical(spark):
    """VERDICT r12 #4: the Arrow GEMM-partial kernel (engine default)
    and the in-row explode form (the oracle-replay twin) are
    BIT-IDENTICAL — on the fixture, on adversarial near-boundary
    values (odd/1024 products scale to EXACT half-integers at 9dp,
    exercising the Decimal HALF_UP slow path), and on ragged input."""
    import numpy as np

    rng = np.random.RandomState(42)
    vals = list(rng.uniform(-2, 2, size=40))
    vals += [3 / 1024, 5 / 1024, -7 / 1024, 1 / 1024]  # exact-tie class
    vals += [1e-8, -3.5e-9, 123.456789, -99.9999995]
    rows = [
        (i, [float(v) for v in rng.choice(vals, size=8)]) for i in range(12)
    ]
    adv = spark.createDataFrame(rows, "vec_id bigint, embedding array<double>")
    fixture = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    ragged = spark.createDataFrame(
        [(0, [1.0, 2.0, 3.0]), (1, [4.0, 5.0]), (2, [0.5, 0.25, 0.125])],
        "vec_id bigint, embedding array<double>",
    )
    for df in (adv, fixture, ragged):
        a = {
            (r.i, r.j): (r.gram, r.n_vectors)
            for r in S.embedding_gram(df, vectorized=True).collect()
        }
        b = {
            (r.i, r.j): (r.gram, r.n_vectors)
            for r in S.embedding_gram(df, vectorized=False).collect()
        }
        assert a == b and len(a) > 0
    # partitioning invariance of the kernel path (int64 partials merge
    # through an exact DECIMAL sum)
    a7 = {
        (r.i, r.j): (r.gram, r.n_vectors)
        for r in S.embedding_gram(adv.repartition(7)).collect()
    }
    a1 = {
        (r.i, r.j): (r.gram, r.n_vectors)
        for r in S.embedding_gram(adv.coalesce(1)).collect()
    }
    assert a7 == a1


def test_gram_kernel_rounding_matches_decimal_half_up():
    """Property (no Spark): the GEMM-partial kernel's per-product
    scaled rounding equals Decimal(repr(p)) HALF_UP @9dp — the JVM
    Round semantics — on random doubles AND the adversarial odd/2^k
    class whose scaled values are EXACT half-integers."""
    import decimal

    import numpy as np
    import pandas as pd

    from hypothesis import given, settings, strategies as st

    from safedata_pipeline_spark.operators.similarity import _gram_partials_kernel

    kernel = _gram_partials_kernel(9)

    def expected(p):
        return int(
            (decimal.Decimal(repr(float(p))) * 10**9).to_integral_value(
                rounding=decimal.ROUND_HALF_UP
            )
        )

    def kernel_psums(vec):
        pdf = pd.DataFrame({"v": [np.array(vec, dtype=np.float64)]})
        out = pd.concat(list(kernel(iter([pdf]))), ignore_index=True)
        return {(r.i, r.j): int(r.psum) for r in out.itertuples()}

    @settings(max_examples=30, deadline=None)
    @given(
        st.lists(
            st.one_of(
                st.floats(-100, 100, allow_nan=False),
                # odd/2^k: products can scale to exact half-integers
                st.integers(-2047, 2047).map(lambda k: (2 * k + 1) / 1024),
                st.floats(-1e-7, 1e-7, allow_nan=False),
            ),
            min_size=2,
            max_size=6,
        )
    )
    def check(vec):
        got = kernel_psums(vec)
        for (i, j), psum in got.items():
            assert psum == expected(vec[i] * vec[j]), (vec[i], vec[j])

    check()


def test_embedding_gram_envelope_guard_raises(spark):
    """ADVICE r13: the Arrow kernel's int64/rint exactness envelope
    (max|x|^2 * 10^dp * CHUNK < 2^53) is ENFORCED — oversized inputs
    raise instead of silently diverging from the exact twin."""
    big = spark.createDataFrame(
        [(0, [4.0e5, 1.0]), (1, [2.0, 3.0])],
        "vec_id bigint, embedding array<double>",
    )
    import pytest

    with pytest.raises(Exception, match="exactness envelope"):
        S.embedding_gram(big, vectorized=True).collect()
    # the exact explode/decimal twin handles the same input fine
    rows = {(r.i, r.j): r.gram for r in S.embedding_gram(big, vectorized=False).collect()}
    assert rows[(0, 0)] == 4.0e5 * 4.0e5 + 2.0 * 2.0
    # in-envelope values still pass through the kernel untouched
    ok = spark.createDataFrame(
        [(0, [123.0, -99.5])], "vec_id bigint, embedding array<double>"
    )
    assert len(S.embedding_gram(ok, vectorized=True).collect()) == 3


def test_mmr_rerank_diversity_beats_plain_topk(spark):
    """X238 (Carbonell & Goldstein MMR): the second pick trades
    relevance for diversity — a near-duplicate of pick 1 loses to a
    less-relevant but diverse candidate; lam=1 degenerates to plain
    cosine top-k; ranks deterministic; zero-norm vectors excluded."""
    rows = [
        (0, [1.0, 0.0]),        # query
        (1, [0.999, 0.01]),     # most relevant
        (2, [0.998, 0.02]),     # near-dup of 1
        (3, [0.6, 0.8]),        # diverse, less relevant
        (4, [0.0, 0.0]),        # zero-norm -> excluded
    ]
    emb = spark.createDataFrame(rows, "vec_id bigint, embedding array<double>")
    out = S.mmr_rerank(emb, query_id=0, k=3, lam=0.3)
    got = [(r.rank, r.vec_id) for r in out.orderBy("rank").collect()]
    assert got[0] == (1, 1)
    assert got[1] == (2, 3)  # diversity: 3 beats the near-dup 2
    assert got[2] == (3, 2)
    # lam=1: pure relevance order 1, 2, 3
    plain = [r.vec_id for r in S.mmr_rerank(emb, query_id=0, k=3, lam=1.0).orderBy("rank").collect()]
    assert plain == [1, 2, 3]
    # k beyond candidates stops early; validation raises
    assert S.mmr_rerank(emb, query_id=0, k=10, lam=0.3).count() == 3
    import pytest

    with pytest.raises(ValueError, match="lam"):
        S.mmr_rerank(emb, query_id=0, lam=0.0)
    with pytest.raises(ValueError, match="k"):
        S.mmr_rerank(emb, query_id=0, k=0)


def test_margin_bitext_mine_cancels_hubness(spark):
    """A hub target (close to every source) loses to a specific match
    under the ratio margin even when its raw cosine is competitive;
    threshold drops sources with no above-background pair."""
    from safedata_pipeline_spark.operators import similarity as SIM

    # 2-d embeddings: src 0 points at tgt 11's direction; src 2 points
    # near the hub; the hub (tgt 13) sits between axes, fairly close
    # to everything
    src = spark.createDataFrame(
        [(0, [1.0, 0.0]), (2, [0.2, 1.0])],
        "vec_id bigint, embedding array<float>",
    )
    tgt = spark.createDataFrame(
        [
            (11, [1.0, 0.05]),  # specific match for src 0
            (13, [0.7, 0.7]),  # hub
            (15, [0.1, 1.0]),  # specific match for src 2
            (17, [-1.0, 0.2]),  # far from everything
        ],
        "vec_id bigint, embedding array<float>",
    )
    out = {r.src_id: r for r in SIM.margin_bitext_mine(src, tgt, k=2, threshold=0.0).collect()}
    assert out[0].tgt_id == 11
    assert out[2].tgt_id == 15
    for r in out.values():
        assert r.margin > 1.0  # best pair beats its neighborhood average


def test_margin_bitext_mine_threshold_and_zero_norm(spark):
    """Zero-norm vectors produce NULL cosines and never pair; a high
    threshold empties the result rather than erroring."""
    from safedata_pipeline_spark.operators import similarity as SIM

    src = spark.createDataFrame(
        [(0, [1.0, 0.0]), (2, [0.0, 0.0])],
        "vec_id bigint, embedding array<float>",
    )
    tgt = spark.createDataFrame(
        [(1, [1.0, 0.1]), (3, [0.5, 0.8])],
        "vec_id bigint, embedding array<float>",
    )
    out = SIM.margin_bitext_mine(src, tgt, k=2, threshold=0.0).collect()
    assert sorted(r.src_id for r in out) == [0]  # zero-norm src 2 absent
    assert not SIM.margin_bitext_mine(src, tgt, k=2, threshold=99.0).collect()


def _vec_df(spark, vecs):
    return spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in enumerate(vecs)],
        "vec_id bigint, embedding array<float>",
    )


def test_hard_negative_mine_is_topk_band(spark):
    import pytest

    vecs = [[float((i * 7 + j * 3) % 11 - 5) for j in range(8)] for i in range(30)]
    df = _vec_df(spark, vecs)
    q = df.where("vec_id < 3")
    top = {
        (r.query_id, r.rank): r for r in S.cosine_topk(q, df, k=10).collect()
    }
    neg = S.hard_negative_mine(q, df, skip_top=2, n_neg=8).collect()
    assert len(neg) == 3 * 8
    for r in neg:
        t = top[(r.query_id, r.neg_rank + 2)]
        assert r.negative_id == t.neighbor_id and r.cosine == t.cosine
        assert 1 <= r.neg_rank <= 8
    with pytest.raises(ValueError):
        S.hard_negative_mine(q, df, skip_top=-1)
    with pytest.raises(ValueError):
        S.hard_negative_mine(q, df, n_neg=0)


def test_matryoshka_error_energy_and_overlap(spark):
    import pytest

    # vec 0 = query; vecs 1..4 engineered: prefix-2 energy exact,
    # and the prefix-2 ranking INVERTS the full ranking for one pair
    vecs = [
        [1.0, 0.0, 0.0, 0.0],   # query
        [1.0, 0.0, 0.0, 0.0],   # full cos 1.0, prefix cos 1.0
        [1.0, 0.0, 3.0, 0.0],   # energy 1/10
        [0.0, 2.0, 0.0, 0.0],   # orthogonal in prefix, energy 1.0
        [0.0, 0.0, 0.0, 0.0],   # zero vector: excluded everywhere
    ]
    df = _vec_df(spark, vecs)
    out = {r.prefix_dim: r for r in
           S.matryoshka_error(df, prefix_dims=(2,), query_id=0, k=2).collect()}
    r2 = out[2]
    # zero vector excluded: 4 of 5 counted
    assert r2.n_vecs == 4
    # energies: 1.0, 1.0, 0.1, 1.0 -> mean 0.775
    assert r2.energy_mean == 0.775
    # full top-2 = {1, 2}(cos 1.0, 0.316) vs prefix top-2 = {1, 2}
    # (prefix cos 1.0 and 1.0; id tiebreak) -> overlap 2
    assert r2.overlap_at_k == 2
    with pytest.raises(ValueError):
        S.matryoshka_error(df, prefix_dims=())
    with pytest.raises(ValueError):
        S.matryoshka_error(df, k=0)


def test_matryoshka_overlap_detects_rank_inversion(spark):
    # prefix-1 ordering must disagree with full ordering: vec 1 wins
    # on the full vector, vec 2 wins on the first coordinate alone
    vecs = [
        [1.0, 1.0],
        [1.0, 1.0],    # full cos = 1.0, prefix-1 cos = 1.0
        [1.0, -1.0],   # full cos = 0.0 -> excluded from top-1
    ]
    df = _vec_df(spark, vecs)
    out = {r.prefix_dim: r for r in
           S.matryoshka_error(df, prefix_dims=(1,), query_id=0, k=1).collect()}
    # prefix-1: both candidates cos 1.0, tie -> id 1; full: id 1. overlap 1
    assert out[1].overlap_at_k == 1
    # energy counts every nonzero CORPUS vector, query included
    assert out[1].n_vecs == 3


def test_prototype_prune_keeps_farthest_half(spark):
    import pytest

    # two tight clusters around (10,0...) and (0,10...) with varying
    # radial offsets: the farthest-from-centroid half must survive
    vecs = []
    for i in range(8):
        vecs.append([10.0 + i * 0.5, 0.0, 0.0, 0.0])      # ids 0..7
    for i in range(8):
        vecs.append([0.0, 10.0 + i * 0.5, 0.0, 0.0])      # ids 8..15
    df = _vec_df(spark, vecs)
    out = S.prototype_prune(df, keep_num=1, keep_den=2, num_cells=2, iterations=2)
    rows = out.collect()
    by_cell = {}
    for r in rows:
        by_cell.setdefault(r.cell, []).append(r)
    assert len(by_cell) == 2
    for cell_rows in by_cell.values():
        # exact integer cutoff: 8 members -> keep 4
        assert len(cell_rows) == 4
        assert sorted(r.rank_in_cell for r in cell_rows) == [1, 2, 3, 4]
        assert all(r.cell_size == 8 for r in cell_rows)
    # survivors' distances dominate: re-rank everything and check the
    # kept set equals the top-half by (dist2 DESC, id ASC) per cell
    with pytest.raises(ValueError):
        S.prototype_prune(df, keep_num=3, keep_den=2)
    with pytest.raises(ValueError):
        S.prototype_prune(df, keep_num=0)


def test_prototype_prune_singleton_cell_keeps_one(spark):
    # a 3-vector corpus with num_cells=3: every cell size 1 ->
    # max(1, (1*1) div 2) = 1, nothing drops
    df = _vec_df(spark, [[1.0, 0.0], [0.0, 1.0], [-1.0, 0.0]])
    out = S.prototype_prune(df, keep_num=1, keep_den=2, num_cells=3, iterations=1)
    assert out.count() == 3


def test_knn_label_consistency_exact(spark):
    # two separated clusters; labels agree within cluster except one
    # planted mislabel (id 1), which must read low consistency
    rows = [
        (0, [10.0, 0.0], 7),
        (1, [10.1, 0.0], 9),   # mislabeled: neighbors are all 7
        (2, [10.2, 0.0], 7),
        (3, [9.9, 0.0], 7),
        (4, [0.0, 10.0], 3),
        (5, [0.0, 10.1], 3),
    ]
    df = spark.createDataFrame(
        rows, "vec_id bigint, embedding array<float>, label int"
    )
    out = {r.query_id: r for r in
           S.knn_label_consistency(df, k=3, n_queries=2).collect()}
    assert set(out) == {0, 1}
    # id 0's top-3 = {1, 2, 3} (labels 9, 7, 7) -> 2/3
    assert out[0].k_used == 3 and out[0].n_same == 2
    assert out[0].consistency == 0.666667
    # id 1's top-3 = {0, 2, 3} (all 7) vs label 9 -> 0/3
    assert out[1].n_same == 0 and out[1].consistency == 0.0


def test_knn_label_consistency_null_labels(spark):
    import pytest

    rows = [
        (0, [1.0, 0.0], None),
        (1, [1.0, 0.1], None),
        (2, [1.0, 0.2], 5),
    ]
    df = spark.createDataFrame(
        rows, "vec_id bigint, embedding array<float>, label int"
    )
    out = {r.query_id: r for r in
           S.knn_label_consistency(df, k=2, n_queries=1).collect()}
    # NULL query label: agrees with the NULL neighbor, not with 5
    assert out[0].n_same == 1 and out[0].k_used == 2
    with pytest.raises(ValueError):
        S.knn_label_consistency(df, k=0)


def test_pq_codes_deterministic_and_ranged(spark):
    import pytest

    df, _ = _emb(spark)  # 61 vectors, dim 16
    a = {r.vec_id: tuple(r[f"code_{s}"] for s in range(4))
         for r in S.pq_codes(df, dim=16, n_sub=4, codebook_k=4).collect()}
    b = {r.vec_id: tuple(r[f"code_{s}"] for s in range(4))
         for r in S.pq_codes(df, dim=16, n_sub=4, codebook_k=4).collect()}
    assert a == b and len(a) == 61
    for codes in a.values():
        assert all(0 <= c < 4 for c in codes)
    with pytest.raises(ValueError):
        S.pq_fit(df, dim=10, n_sub=4)
    with pytest.raises(ValueError):
        S.pq_fit(df, dim=16, n_sub=4, codebook_k=0)


def test_pq_reconstruction_error_improves_with_k(spark):
    df, _ = _emb(spark)
    e1 = S.pq_reconstruction_error(df, dim=16, n_sub=4, codebook_k=1).collect()[0]
    e8 = S.pq_reconstruction_error(df, dim=16, n_sub=4, codebook_k=8).collect()[0]
    assert e1.n_vecs == 61 and e8.n_vecs == 61
    assert e8.mean_sq_err < e1.mean_sq_err
    assert e8.mean_sq_err >= 0.0


def test_pq_adc_finds_planted_dup(spark):
    df, _ = _emb(spark)
    out = S.ann_topk_pq_adc(
        df.where("vec_id = 0"), df, k=3, dim=16, n_sub=4, codebook_k=8
    ).collect()
    assert len(out) == 3
    # the near-identical vector shares every subspace code with the
    # query, so its ADC distance is minimal
    assert any(r.neighbor_id == 60 for r in out)
    assert [r.rank for r in sorted(out, key=lambda r: r.rank)] == [1, 2, 3]
    adcs = [r.adc_dist for r in sorted(out, key=lambda r: r.rank)]
    assert adcs == sorted(adcs)


def test_ivf_pq_composition_confined_and_useful(spark):
    df, rows = _emb(spark)
    out = S.ann_topk_ivf_pq(
        df.where("vec_id = 0"), df, k=3,
        num_cells=4, coarse_iterations=2, n_probe=2,
        dim=16, n_sub=4, codebook_k=8, pq_iterations=2,
    ).collect()
    assert len(out) == 3
    # the planted near-dup quantizes to the query's cell AND shares
    # its subspace codes -> minimal ADC distance among candidates
    assert any(r.neighbor_id == 60 for r in out)
    # candidates are confined to probed cells: every returned
    # neighbor must be in one of the query's 2 nearest cells
    from safedata_pipeline_spark.operators.clustering import (
        kmeans_assign,
        kmeans_fit_centers,
        probe_cells_expr,
    )
    centers, _ = kmeans_fit_centers(df, k=4, iterations=2, dist_round=6)
    cells = {r.vec_id: r.cluster_id
             for r in kmeans_assign(df, centers, dist_round=6).collect()}
    from pyspark.sql import functions as F
    probed = (
        df.where("vec_id = 0")
        .select(probe_cells_expr(centers, 2, 6)(
            F.col("embedding").cast("array<double>")).alias("p"))
        .collect()[0].p
    )
    for r in out:
        assert cells[r.neighbor_id] in probed


def test_pq_fit_joint_matches_sequential_per_subspace(spark):
    # the joint single-pass fit (one pinned frame, one seed collect,
    # one update job per Lloyd round for ALL subspaces) must be
    # bit-identical to fitting each subspace with its own
    # kmeans_fit_centers over the sliced vectors — the construction it
    # replaced
    from pyspark.sql import functions as F

    from safedata_pipeline_spark.operators.clustering import kmeans_fit_centers

    df, _ = _emb(spark)
    dim, n_sub, k, iters, dr = 16, 4, 4, 2, 6
    sub = dim // n_sub
    v = F.col("embedding").cast("array<double>")
    seq = []
    for s in range(n_sub):
        sliced = df.where(F.col("embedding").isNotNull()).select(
            F.col("vec_id"), F.slice(v, s * sub + 1, sub).alias("embedding")
        )
        centers, _ = kmeans_fit_centers(
            sliced, k=k, iterations=iters,
            id_col="vec_id", vec_col="embedding", dist_round=dr,
        )
        seq.append(centers)
    joint = S.pq_fit(df, dim=dim, n_sub=n_sub, codebook_k=k, iterations=iters)
    assert joint == seq


def test_joint_coarse_pq_fit_matches_sequential(spark):
    # the ivf_pq joint fit (one seed collect + one update job per
    # Lloyd round for the coarse space AND every PQ subspace) must be
    # bit-identical to fitting every space ALONE — the coarse space
    # and each sliced subspace as its own single-space
    # kmeans_fit_centers — including ASYMMETRIC iteration budgets
    # (coarse 3, pq 2: the coarse space keeps iterating alone)
    from pyspark.sql import functions as F

    from safedata_pipeline_spark.checkpoint import pin_lazy
    from safedata_pipeline_spark.operators.clustering import kmeans_fit_centers
    from safedata_pipeline_spark.operators.similarity import _joint_coarse_pq_fit
    from safedata_pipeline_spark.partitioning import spread_small

    df, _ = _emb(spark)
    dim, n_sub, num_cells, codebook_k, dr = 16, 4, 5, 4, 6
    coarse_iters, pq_iters = 3, 2
    prepared = (
        df.where(F.col("embedding").isNotNull())
        .select(
            F.col("vec_id").alias("id"),
            F.col("embedding").cast("array<double>").alias("v"),
        )
        .transform(spread_small)
        .transform(pin_lazy)
    )
    seq_centers, _ = kmeans_fit_centers(
        df, k=num_cells, iterations=coarse_iters,
        id_col="vec_id", vec_col="embedding", dist_round=dr,
    )
    sub = dim // n_sub
    v = F.col("embedding").cast("array<double>")
    seq_books = [
        kmeans_fit_centers(
            df.where(F.col("embedding").isNotNull()).select(
                "vec_id", F.slice(v, s * sub + 1, sub).alias("embedding")
            ),
            k=codebook_k, iterations=pq_iters,
            id_col="vec_id", vec_col="embedding", dist_round=dr,
        )[0]
        for s in range(n_sub)
    ]
    centers, books = _joint_coarse_pq_fit(
        prepared, num_cells, coarse_iters, dim, n_sub, codebook_k, pq_iters, dr
    )
    assert centers == seq_centers
    assert books == seq_books
