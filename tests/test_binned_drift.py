"""The fixed-width-histogram drift family: degenerate inputs and job budget.

Every binned operator fits its grid with ``drift.fit_grid``, bins with
``drift.grid_bin`` and runs its cumulatives as a plain window over the
bounded bin table. These tests pin (1) the zero-row contract — empty and
one-row inputs give the normal schema, with zero rows or NULL
statistics, never an exception — and (2) the job count of the three
operators whose block-partitioned cumulative became a plain window.
"""

import pytest
from pyspark.sql import functions as F

from safedata_pipeline_spark.operators import drift as DR
from safedata_pipeline_spark.operators import incremental as INC
from safedata_pipeline_spark.operators import ml_utility as MU
from safedata_pipeline_spark.sources.tables import load_table
from safedata_pipeline_spark.streaming import drift as SD

BINS = 20


def _family(ev):
    """Every binned-drift output over the events frame ``ev``, by name."""
    ref = SD.fit_reference(ev, "value", bins=BINS)
    counts = SD.hourly_bin_counts(ev, ref["lo"], ref["width"], ref["bins"])
    hist = INC.histogram_partials(ev, "value", ref["lo"], ref["width"], BINS)
    return {
        "ks_statistic_binned": DR.ks_statistic_binned(ev, ev, "value", bins=BINS),
        "psi_drift": DR.psi_drift(ev, ev, "value", bins=BINS),
        "jsd_drift": DR.jsd_drift(ev, ev, "value", bins=BINS),
        "drift_timeline": DR.drift_timeline(ev, "ts", "value", bins=BINS),
        "finish_timeline": SD.finish_timeline(counts, ref),
        "finish_timeline_psi": SD.finish_timeline_psi(counts, ref),
        "finish_bands": SD.finish_bands(counts, ref["lo"], ref["width"]),
        "percentiles_from_histogram": INC.percentiles_from_histogram(
            hist, ref["lo"], ref["width"]
        ),
        "roc_points": MU.roc_points(
            ev, "value", F.col("event_type") == "purchase", max_points=BINS
        ),
    }


# outputs with one row per hour / per threshold; the rest are one-row
# statistics
PER_KEY = {
    "drift_timeline",
    "finish_timeline",
    "finish_timeline_psi",
    "finish_bands",
    "roc_points",
}
ONE_ROW = {"ks_statistic_binned", "psi_drift", "jsd_drift", "percentiles_from_histogram"}


@pytest.fixture(scope="module")
def normal_schemas(spark, sf_dir):
    ev = load_table(spark, sf_dir, "events")
    return {k: df.dtypes for k, df in _family(ev).items()}


@pytest.mark.parametrize("n", [0, 1])
@pytest.mark.parametrize("name", sorted(PER_KEY | ONE_ROW))
def test_binned_family_degenerate_input(spark, sf_dir, normal_schemas, name, n):
    ev = load_table(spark, sf_dir, "events").limit(n)
    df = _family(ev)[name]
    rows = df.collect()
    assert df.dtypes == normal_schemas[name]
    if name in PER_KEY:
        assert len(rows) == n
    else:
        assert len(rows) == 1
    if n == 0:
        # every one-row statistic is NULL on empty input
        assert all(v is None for r in rows for v in r)
    if n == 1 and name == "drift_timeline":
        # one hour holds all the data: its ECDF IS the global ECDF
        assert (rows[0].n_rows, rows[0].ks_stat) == (1, 0.0)


def test_fit_grid_empty_and_constant(spark):
    empty = spark.createDataFrame([], "v double")
    assert DR.fit_grid(empty, "v", 10) is None
    const = spark.createDataFrame([(2.5,), (2.5,), (None,)], "v double")
    assert DR.fit_grid(const, "v", 10) == (2.5, 1.0)
    spread = spark.createDataFrame([(0.0,), (10.0,)], "v double")
    assert DR.fit_grid(spread, "v", 4) == (0.0, 2.5)
    # the top edge clamps into the last bin, interior values floor
    got = spread.union(spark.createDataFrame([(4.9,)], "v double")).select(
        DR.grid_bin(F.col("v"), 0.0, 2.5, 4).alias("b")
    )
    assert sorted(r.b for r in got.collect()) == [0, 1, 3]


def _jobs_in_group(spark, group, fn):
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setJobGroup(None, None)
    return len(sc.statusTracker().getJobIdsForGroup(group))


def _scores(spark):
    return spark.createDataFrame(
        [(float((i * 37) % 101), i % 3 == 0) for i in range(400)],
        "s double, y boolean",
    )


def test_binned_cumulative_job_budget(spark):
    """The running sums over the ≤bins state are one plain window, not a
    block-partitioned prefix with a range self-join for block offsets.
    Jobs launched (fit collects included) with the block-partitioned
    prefix and broadcast 1-row totals: ks_statistic_binned 13,
    percentiles_from_histogram 11, roc_points 13; with plain windows for
    both: 5, 3, 5."""
    df = _scores(spark)
    half = df.where(F.col("y"))

    def ks():
        DR.ks_statistic_binned(df, half, "s", bins=50).collect()

    hist = INC.histogram_partials(df, "s", 0.0, 1.0, 100)

    def pct():
        INC.percentiles_from_histogram(hist, 0.0, 1.0).collect()

    def roc():
        MU.roc_points(df, "s", F.col("y"), max_points=50).collect()

    budget = {"ks": (ks, 5), "pct": (pct, 3), "roc": (roc, 5)}
    got = {k: _jobs_in_group(spark, f"binned-jobs:{k}", fn) for k, (fn, _) in budget.items()}
    assert all(got[k] <= cap for k, (_, cap) in budget.items()), got
    assert all(v >= 1 for v in got.values()), got
