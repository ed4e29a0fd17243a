import numpy as np
import pytest

from safedata_pipeline_spark.operators import drift as D


def ks_2samp_stat(a, b):
    """Reference two-sample KS statistic (max |ECDF_a - ECDF_b| over the
    pooled sample points) — same definition as scipy.stats.ks_2samp."""
    a, b = np.sort(np.asarray(a, float)), np.sort(np.asarray(b, float))
    pts = np.concatenate([a, b])
    fa = np.searchsorted(a, pts, side="right") / len(a)
    fb = np.searchsorted(b, pts, side="right") / len(b)
    return float(np.max(np.abs(fa - fb)))


def _one(df):
    return df.collect()[0][0]


def test_ks_matches_scipy(spark):
    rng = np.random.default_rng(7)
    a = rng.normal(0, 1, 300)
    b = rng.normal(0.4, 1.3, 250)
    dfa = spark.createDataFrame([(float(x),) for x in a], "v double")
    dfb = spark.createDataFrame([(float(x),) for x in b], "v double")
    expect = ks_2samp_stat(a, b)
    got = _one(D.ks_statistic(dfa, dfb, "v"))
    assert got == pytest.approx(expect, abs=1e-6)


def test_ks_with_ties_matches_scipy(spark):
    a = [1.0, 1.0, 2.0, 2.0, 3.0, 3.0, 4.0]
    b = [2.0, 2.0, 2.0, 3.0, 4.0, 4.0]
    dfa = spark.createDataFrame([(x,) for x in a], "v double")
    dfb = spark.createDataFrame([(x,) for x in b], "v double")
    expect = ks_2samp_stat(a, b)
    assert _one(D.ks_statistic(dfa, dfb, "v")) == pytest.approx(expect, abs=1e-6)


def test_ks_small_side_is_null(spark):
    dfa = spark.createDataFrame([(1.0,), (2.0,), (3.0,), (4.0,)], "v double")  # 4 < 5
    dfb = spark.createDataFrame([(float(i),) for i in range(10)], "v double")
    assert _one(D.ks_statistic(dfa, dfb, "v")) is None


@pytest.mark.parametrize("empty_side", ["no_rows", "all_null"])
def test_ks_null_when_one_side_has_no_values(spark, empty_side):
    """Every KS path gives NULL (the reference's NaN for a side with <5
    values), not an ANSI divide-by-zero, when one side has no non-null
    value — on either side."""
    full = spark.createDataFrame([(float(i),) for i in range(10)], "v double")
    rows = [] if empty_side == "no_rows" else [(None,)] * 10
    empty = spark.createDataFrame(rows, "v double")
    for dfa, dfb in ((full, empty), (empty, full)):
        assert _one(D.ks_statistic(dfa, dfb, "v")) is None
        assert _one(D.ks_statistic_binned(dfa, dfb, "v", bins=16)) is None
        for exact in (True, False):
            got = D.distribution_drift(dfa, dfb, exact=exact).collect()
            assert [(r.column, r.ks_stat) for r in got] == [("v", None)], exact
        fused = D.profiles_and_drift(dfa, dfb)[2].collect()
        assert [(r.column, r.ks_stat) for r in fused] == [("v", None)]


def test_ks_binned_close_to_exact(spark):
    rng = np.random.default_rng(3)
    a = rng.normal(0, 1, 500)
    b = rng.normal(0.5, 1, 500)
    dfa = spark.createDataFrame([(float(x),) for x in a], "v double")
    dfb = spark.createDataFrame([(float(x),) for x in b], "v double")
    exact = ks_2samp_stat(a, b)
    binned = _one(D.ks_statistic_binned(dfa, dfb, "v", bins=2000))
    assert binned == pytest.approx(exact, abs=0.01)


def test_chi2_matches_reference_formula(spark):
    a = ["x"] * 30 + ["y"] * 10 + [None] * 5
    b = ["x"] * 20 + ["y"] * 20 + ["z"] * 3
    dfa = spark.createDataFrame([(v,) for v in a], "c string")
    dfb = spark.createDataFrame([(v,) for v in b], "c string")
    # reference: nulls → "NA", align cats, sum (oa-ob)^2/(oa+ob+1e-9)
    oa = {"x": 30, "y": 10, "NA": 5, "z": 0}
    ob = {"x": 20, "y": 20, "NA": 0, "z": 3}
    expect = sum((oa[k] - ob[k]) ** 2 / (oa[k] + ob[k] + 1e-9) for k in oa)
    assert _one(D.chi2_categorical(dfa, dfb, "c")) == pytest.approx(expect, abs=1e-6)


def test_chi2_empty_side_null(spark):
    dfa = spark.createDataFrame([("x",)], "c string")
    dfb = spark.createDataFrame([], "c string")
    assert _one(D.chi2_categorical(dfa, dfb, "c")) is None


def test_distribution_drift_dispatch(spark):
    dfa = spark.createDataFrame([(1.0, "x"), (2.0, "y"), (3.0, "x"), (4.0, "y"), (5.0, "x")], "n double, c string")
    dfb = spark.createDataFrame([(1.5, "x"), (2.5, "x"), (3.5, "x"), (4.5, "x"), (5.5, "x")], "n double, c string")
    rows = {r.column: r for r in D.distribution_drift(dfa, dfb).collect()}
    assert rows["n"].type == "numeric" and rows["n"].ks_stat is not None and rows["n"].chi2 is None
    assert rows["c"].type == "categorical" and rows["c"].chi2 is not None and rows["c"].ks_stat is None


def test_identical_distributions_zero_drift(spark):
    df = spark.createDataFrame([(float(i),) for i in range(20)], "v double")
    assert _one(D.ks_statistic(df, df, "v")) == 0.0


def test_distribution_drift_binned_close_to_exact(spark):
    import numpy as np

    rng = np.random.default_rng(11)
    a = rng.normal(0, 1, 400)
    b = rng.normal(0.3, 1.2, 400)
    dfa = spark.createDataFrame([(float(x), "u") for x in a], "n double, c string")
    dfb = spark.createDataFrame([(float(x), "u") for x in b], "n double, c string")
    exact = {r.column: r for r in D.distribution_drift(dfa, dfb).collect()}
    binned = {r.column: r for r in D.distribution_drift(dfa, dfb, exact=False, bins=2000).collect()}
    assert binned["n"].ks_stat == pytest.approx(exact["n"].ks_stat, abs=0.01)
    # χ² is unaffected by the numeric binning switch
    assert binned["c"].chi2 == exact["c"].chi2


def test_distribution_drift_exact_flag_same_columns(spark):
    dfa = spark.createDataFrame([(float(i), str(i % 3)) for i in range(30)], "n double, c string")
    dfb = spark.createDataFrame([(float(i) + 0.5, str(i % 2)) for i in range(30)], "n double, c string")
    for exact in (True, False):
        rows = {r.column: r for r in D.distribution_drift(dfa, dfb, exact=exact).collect()}
        assert set(rows) == {"n", "c"}
        assert rows["n"].ks_stat is not None and rows["c"].chi2 is not None


def test_ks_two_phase_no_single_task_window(spark):
    """Scale guarantee: every cumulative-ECDF window ORDERED BY THE
    VALUE COLUMN is partitioned by (key, range-partition id) — the
    per-value cumsum is the frame that scales with |distinct values|,
    so a value-ordered windowspec without __pid would be a single-task
    whole-column sort. Windows over the O(keys × partitions) totals
    frame (ordered by __pid, or unordered per-key sums — the r11
    collect-free offset computation) are exempt: their input is
    fit-parameter sized by construction."""
    import re

    from safedata_pipeline_spark import plans

    dfa = spark.createDataFrame([(float(i),) for i in range(50)], "v double")
    dfb = spark.createDataFrame([(float(i) + 0.3,) for i in range(50)], "v double")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        for df in (
            D.ks_statistic(dfa, dfb, "v"),
            D.distribution_drift(
                dfa.withColumnRenamed("v", "n"), dfb.withColumnRenamed("v", "n")
            ),
        ):
            plan = plans.formatted_plan(df)
            specs = re.findall(r"windowspecdefinition\([^)]*\)", plan)
            assert specs, "expected a window in the KS plan"
            value_ordered = [
                s
                for s in specs
                if re.search(r"\bv(?:num)?#\d+ ASC", s)
            ]
            assert value_ordered, f"expected a value-ordered window: {specs}"
            assert all("__pid" in s for s in value_ordered), specs
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", "true")


def test_psi_identical_is_zero_and_shift_positive(spark):
    import numpy as np

    rng = np.random.default_rng(5)
    a = spark.createDataFrame([(float(x),) for x in rng.normal(0, 1, 300)], "v double")
    b = spark.createDataFrame([(float(x),) for x in rng.normal(0.6, 1, 300)], "v double")
    assert _one(D.psi_drift(a, a, "v")) == 0.0
    shifted = _one(D.psi_drift(a, b, "v"))
    assert shifted > 0.1  # a 0.6σ mean shift is a "significant" PSI
    # empty side -> NULL
    empty = spark.createDataFrame([], "v double")
    assert _one(D.psi_drift(a, empty, "v")) is None
    assert _one(D.psi_drift(empty, empty, "v")) is None


def test_psi_matches_manual_computation(spark):
    import math

    a_vals = [0.0, 1.0, 2.0, 3.0, 4.0, 5.0, 6.0, 7.0, 8.0, 10.0]
    b_vals = [0.0, 0.5, 1.0, 1.5, 2.0, 2.5, 3.0, 3.5, 4.0, 10.0]
    a = spark.createDataFrame([(v,) for v in a_vals], "v double")
    b = spark.createDataFrame([(v,) for v in b_vals], "v double")
    bins, eps = 5, 1e-6
    lo, hi = 0.0, 10.0
    width = (hi - lo) / bins
    ca = [0] * bins
    cb = [0] * bins
    for v in a_vals:
        ca[min(int((v - lo) // width), bins - 1)] += 1
    for v in b_vals:
        cb[min(int((v - lo) // width), bins - 1)] += 1
    expect = sum(
        (max(x / 10, eps) - max(y / 10, eps)) * math.log(max(x / 10, eps) / max(y / 10, eps))
        for x, y in zip(ca, cb)
    )
    got = _one(D.psi_drift(a, b, "v", bins=bins, eps=eps))
    assert got == pytest.approx(expect, abs=1e-6)


def test_two_phase_ecdf_invariant_to_partitioning(spark):
    import numpy as np

    rng = np.random.default_rng(17)
    a = spark.createDataFrame([(float(x),) for x in rng.normal(0, 1, 200)], "v double")
    b = spark.createDataFrame([(float(x),) for x in rng.normal(0.2, 1, 200)], "v double")
    old = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        results = []
        for parts in ("2", "17", "64"):
            spark.conf.set("spark.sql.shuffle.partitions", parts)
            results.append(_one(D.ks_statistic(a, b, "v")))
        assert results[0] == results[1] == results[2]
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old)


def test_jsd_bounds_and_symmetry(spark):
    import math

    import numpy as np

    rng = np.random.default_rng(23)
    a = spark.createDataFrame([(float(x),) for x in rng.normal(0, 1, 300)], "v double")
    b = spark.createDataFrame([(float(x),) for x in rng.normal(3, 1, 300)], "v double")
    ab = _one(D.jsd_drift(a, b, "v"))
    ba = _one(D.jsd_drift(b, a, "v"))
    assert ab == ba  # symmetric
    assert 0.0 < ab <= math.log(2) + 1e-9  # bounded
    assert _one(D.jsd_drift(a, a, "v")) == 0.0
    empty = spark.createDataFrame([], "v double")
    assert _one(D.jsd_drift(a, empty, "v")) is None


def test_drift_timeline_flags_shifted_hour(spark):
    import datetime

    t0 = datetime.datetime(2024, 1, 1)
    rows = []
    # hours 0-3: values ~ U[0, 10); hour 4: shifted to ~U[50, 60)
    i = 0
    for h in range(5):
        base = 50.0 if h == 4 else 0.0
        for k in range(200):
            rows.append((t0 + datetime.timedelta(hours=h, seconds=k), base + (k % 100) / 10.0))
            i += 1
    df = spark.createDataFrame(rows, "ts timestamp, value double")
    out = {r.hour_start.hour: r for r in D.drift_timeline(df, bins=50).collect()}
    assert len(out) == 5
    assert all(r.n_rows == 200 for r in out.values())
    # the shifted hour stands far above the stable ones
    stable_max = max(out[h].ks_stat for h in range(4))
    assert out[4].ks_stat > 0.5 > stable_max


def test_drift_timeline_empty_and_identical(spark):
    import datetime

    empty = spark.createDataFrame([], "ts timestamp, value double")
    assert D.drift_timeline(empty).count() == 0
    # one hour only: its ECDF IS the global ECDF -> ks 0
    t0 = datetime.datetime(2024, 1, 1)
    one = spark.createDataFrame(
        [(t0 + datetime.timedelta(seconds=k), float(k % 7)) for k in range(50)],
        "ts timestamp, value double",
    )
    r = D.drift_timeline(one, bins=20).collect()[0]
    assert r.ks_stat == 0.0 and r.n_rows == 50


def test_cusum_hourly_detects_planted_shift(spark):
    """Stable hours keep S+ at ~0; a sustained +shift accumulates."""
    import datetime as dt

    from safedata_pipeline_spark.operators.timeseries import cusum_hourly

    base = dt.datetime(2024, 1, 1)
    rows = []
    for h in range(48):
        level = 10.0 if h < 40 else 20.0  # sustained shift in the last 8 hours
        for i in range(5):
            rows.append((base + dt.timedelta(hours=h, minutes=i), level + (i - 2) * 0.1))
    df = spark.createDataFrame(rows, "ts timestamp, value double")
    out = {r.hour_start.hour + 24 * (r.hour_start.day - 1): r for r in
           cusum_hourly(df, "ts", "value", k=0.5).collect()}
    assert len(out) == 48
    # pre-shift hours: z slightly negative (mean below global), S+ stays 0
    assert out[10].s_pos == 0.0
    # S+ strictly accumulates across the shifted window
    tail = [out[h].s_pos for h in range(40, 48)]
    assert all(b > a for a, b in zip(tail, tail[1:]))
    assert tail[-1] > 5.0
    # sequential reference replay (same rounding discipline)
    hours = sorted(out)
    zs = [out[h].z for h in hours]
    sp = sn = 0.0
    for h, z in zip(hours, zs):
        sp = round(max(0.0, sp + z - 0.5), 9)
        sn = round(max(0.0, sn - z - 0.5), 9)
        assert out[h].s_pos == sp and out[h].s_neg == sn
