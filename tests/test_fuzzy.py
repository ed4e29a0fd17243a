

def test_sorted_neighborhood_pairs_complete_vs_bruteforce(spark):
    """Window-pair completeness vs a brute-force twin: every pair whose
    ranks are within the window and distance <= max_dist appears,
    nothing else, at any parallelism."""
    import itertools

    from safedata_pipeline_spark.operators.fuzzy import sorted_neighborhood_pairs

    names = [
        "alpha0", "alpha1", "alphaX", "beta00", "beta01", "beta99",
        "gamma5", "gamm5", "delta7", "delta8", "zeta11", "zeta12",
    ]
    rows = [(i, n) for i, n in enumerate(names)]
    df = spark.createDataFrame(rows, "rid bigint, name string")
    W, D = 4, 1

    def lev(a, b):
        dp = list(range(len(b) + 1))
        for i, ca in enumerate(a, 1):
            prev, dp[0] = dp[0], i
            for j, cb in enumerate(b, 1):
                prev, dp[j] = dp[j], min(dp[j] + 1, dp[j - 1] + 1, prev + (ca != cb))
        return dp[len(b)]

    ranked = sorted(rows, key=lambda r: (r[1], r[0]))
    expect = set()
    for (ia, a), (ib, b) in itertools.combinations(enumerate(ranked), 2):
        if 1 <= ib - ia <= W - 1 and lev(a[1], b[1]) <= D:
            expect.add((a[0], b[0]))
    for par in (1, 7):
        got = {
            (r.id_a, r.id_b)
            for r in sorted_neighborhood_pairs(
                df.repartition(par), "name", "rid", window=W, max_dist=D
            ).collect()
        }
        assert got == expect and len(expect) >= 3


def test_sorted_neighborhood_pairs_nonnumeric_shuffle_conf():
    """ADVICE r12: a non-numeric spark.sql.shuffle.partitions value
    ('auto' under adaptive serverless runtimes) must fall back to the
    cluster default parallelism instead of raising ValueError.
    (Vanilla Spark rejects setting the conf to 'auto', so the helper
    is exercised with a stub session.)"""
    from safedata_pipeline_spark.partitioning import _shuffle_partitions

    class _Conf:
        def __init__(self, v):
            self.v = v

        def get(self, key, default=None):
            return self.v

    class _SC:
        defaultParallelism = 12

    class _Spark:
        def __init__(self, v):
            self.conf = _Conf(v)
            self.sparkContext = _SC()

    assert _shuffle_partitions(_Spark("auto")) == 12
    assert _shuffle_partitions(_Spark("7")) == 7
    assert _shuffle_partitions(_Spark("0")) == 1
