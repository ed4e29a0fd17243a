import os

import pytest
from pyspark.sql import functions as F

from safedata_pipeline_spark.pipeline import SafedataPipeline
from safedata_pipeline_spark.sources.tables import load_table


def test_full_pipeline_end_to_end(spark, sf_dir, tmp_path):
    cust = load_table(spark, sf_dir, "customer")
    real = cust.where(F.col("c_custkey") % 2 == 1)
    anon = cust.where(F.col("c_custkey") % 2 == 0)

    p = SafedataPipeline(spark).load(real, anon)

    risk = p.assess_risk(["c_nationkey", "c_acctbal", "c_mktsegment"], "c_custkey")
    assert 0.0 <= risk["overall_risk"] <= 1.0

    protected = p.protect(
        sdc_cols=["c_mktsegment"], generalize_cols=["c_acctbal"], dp_cols=["c_nationkey", "c_acctbal"]
    )
    assert protected.count() == anon.count()
    # binning turned acctbal into string labels; noise only hit nationkey
    assert dict(protected.dtypes)["c_acctbal"] == "string"
    assert dict(protected.dtypes)["c_nationkey"] == "double"

    tables = p.measure_utility()
    assert set(tables) == {"profile_before", "profile_after", "drift"}
    drift_cols = {r.column for r in tables["drift"].collect()}
    assert "c_acctbal" in drift_cols

    p.compliance({"pii_identified", "privacy_techniques"})
    assert abs(p.results["compliance_score"] - 2 / 12) < 1e-6

    html = p.report(str(tmp_path / "report.html"))
    content = open(html).read()
    assert "Risk Assessment" in content and "overall_risk" in content
    assert "<table" in content  # rendered result tables

    cfg_path = p.save_config(str(tmp_path / "run.yaml"))
    p2 = SafedataPipeline.from_config(spark, cfg_path)
    assert p2.config["protect"]["bins"] == 10  # round-trip (app.py:124-130)


def test_pipeline_with_suggestions_and_synthesis(spark, sf_dir):
    anon = load_table(spark, sf_dir, "customer")
    p = SafedataPipeline(spark).load(anon, anon)
    p.protect(use_suggestions=True)
    assert p.config["protect"]["sdc_cols"] == ["c_name"]  # high-card string
    assert "c_acctbal" in p.config["protect"]["generalize_cols"]

    synth = p.synthesize(n=100, seed=1)
    assert synth.count() == 100
    assert synth.columns == anon.columns


def test_reference_demo_csv_pipeline_parity(spark, tmp_path):
    """Pin the 6-step flow to the reference's own demo fixture pair
    (reference app.py:139-147): sample_anon is sample_real minus the
    direct identifier, so exact linkage must be near-certain, the
    protect chain must transform the suggested quasi-ids, and the
    report must render every section."""
    from safedata_pipeline_spark.sources.csv import read_csv

    real = read_csv(spark, "/root/reference/sample_real.csv").withColumn(
        "row_id", F.monotonically_increasing_id()
    )
    anon = read_csv(spark, "/root/reference/sample_anon.csv").withColumn(
        "row_id", F.monotonically_increasing_id()
    )
    assert dict(real.dtypes)["age"] in ("int", "bigint")  # S1 inferred schema
    assert dict(real.dtypes)["income"] == "double"

    p = SafedataPipeline(spark).load(real, anon)
    # quasi-ids = reference QUASI_ID_SUGGESTIONS ∩ columns (risk.py:8)
    risk = p.assess_risk(["age", "gender", "pincode", "income"], "row_id")
    # anon rows are byte-identical on quasi-ids → linkage is certain
    assert risk["overall_risk"] > 0.9

    protected = p.protect(
        sdc_cols=["gender"], generalize_cols=["income"], dp_cols=["age"]
    )
    assert protected.count() == 200
    assert dict(protected.dtypes)["income"] == "string"  # binned labels

    tables = p.measure_utility(target="target")
    assert set(tables) == {"profile_before", "profile_after", "drift", "model_utility"}
    drift_rows = {r.column: r for r in tables["drift"].collect()}
    assert drift_rows["age"].ks_stat is not None and drift_rows["age"].ks_stat > 0
    mu = {r.dataset: r for r in tables["model_utility"].collect()}
    assert mu["original"].acc is not None

    p.compliance({"pii_identified"})
    html = p.report(str(tmp_path / "demo.html"))
    content = open(html).read()
    for section in ("Run Summary", "Risk Assessment", "Utility Metrics", "Compliance Checklist"):
        assert section in content


def test_pdf_gated_without_reportlab(spark, tmp_path):
    from safedata_pipeline_spark import reporting as REP

    html = tmp_path / "r.html"
    html.write_text("<html><body>x</body></html>")
    # reportlab/bs4 absent in this container → None, never raises
    assert REP.try_make_pdf(str(html), str(tmp_path / "r.pdf")) is None


def test_csv_roundtrip(spark, tmp_path):
    from safedata_pipeline_spark.sources.csv import read_csv, write_csv

    df = spark.createDataFrame([(1, "a", 1.5), (2, "b", None)], "id int, s string, x double")
    path = str(tmp_path / "out_csv")
    write_csv(df, path)
    back = read_csv(spark, path)
    assert back.count() == 2
    assert {f.name for f in back.schema.fields} == {"id", "s", "x"}
    # inferSchema recovers numeric types (S1 parity: bare pd.read_csv)
    assert dict(back.dtypes)["id"] == "int"


def test_pipeline_anonymity_audit(spark):
    from safedata_pipeline_spark.pipeline import SafedataPipeline

    rows = [(i, 25 + i % 3, "m" if i % 2 else "f", float(i)) for i in range(60)]
    df = spark.createDataFrame(rows, "id bigint, age int, gender string, val double")
    p = SafedataPipeline(spark).load(df)
    p.protect(sdc_cols=["gender"], generalize_cols=["age"], dp_cols=[])
    audit = p.audit_anonymity(["age", "gender"], k=5, sensitive_col="val", l=2)
    assert {"k_anonymity", "satisfies_k", "l_diversity", "satisfies_l"} <= set(audit)
    assert audit["n_classes"] >= 1
    assert p.results["anonymity"] is audit


def test_audit_report_renders_new_sections(spark, sf_dir, tmp_path):
    """The audit report wires the round-3 audit operators: k-anonymity
    (+ violations worklist), l-diversity, key skew, drift timeline —
    each section renders from its aggregate frame."""
    from safedata_pipeline_spark import reporting
    from safedata_pipeline_spark.operators import anonymity as AN
    from safedata_pipeline_spark.operators import drift as DR
    from safedata_pipeline_spark.operators import profile as P
    from safedata_pipeline_spark.sources.tables import load_table

    cust = load_table(spark, sf_dir, "customer")
    ev = load_table(spark, sf_dir, "events")
    qi = ["c_nationkey", "c_mktsegment"]
    path = reporting.save_audit_report(
        str(tmp_path / "audit.html"),
        {"rows": cust.count(), "run": "unit"},
        k_anonymity_df=AN.k_anonymity(cust, qi, k=5),
        k_violations_df=AN.k_anonymity_violations(cust, qi, k=5),
        l_diversity_df=AN.l_diversity(cust, qi, "c_mktsegment", l=2),
        t_closeness_df=AN.t_closeness(cust, ["c_nationkey"], "c_mktsegment", t=0.2),
        skew_df=P.skew_report(ev, "user_id"),
        drift_timeline_df=DR.drift_timeline(ev, "ts", "value", bins=20),
    )
    html = open(path, encoding="utf-8").read()
    for heading in (
        "K-Anonymity",
        "Violating equivalence classes",
        "L-Diversity",
        "T-Closeness",
        "Key Skew",
        "Drift Timeline",
    ):
        assert heading in html, heading
    for col in ("k_anonymity", "class_size", "skew_ratio", "ks_stat"):
        assert col in html, col
    # omitted sections disappear
    p2 = reporting.save_audit_report(
        str(tmp_path / "a2.html"), {"run": "unit"},
        skew_df=P.skew_report(ev, "user_id"),
    )
    h2 = open(p2, encoding="utf-8").read()
    assert "Key Skew" in h2 and "K-Anonymity" not in h2


def test_pipeline_enforce_anonymity_roundtrip(spark, sf_dir):
    """audit -> enforce(residual=drop) -> re-audit satisfies k."""
    from safedata_pipeline_spark.pipeline import SafedataPipeline
    from safedata_pipeline_spark.sources.tables import load_table

    cust = load_table(spark, sf_dir, "customer")
    p = SafedataPipeline(spark).load(cust, cust.drop("c_name"))
    qi = ["c_nationkey", "c_mktsegment"]
    p.protect(sdc_cols=[], generalize_cols=[], dp_cols=[])
    first = p.audit_anonymity(qi, k=10)
    p.enforce_anonymity(qi, k=10, residual="drop")
    again = p.audit_anonymity(qi, k=10)
    assert again["satisfies_k"]
    assert again["n_classes"] <= first["n_classes"] + 1


def test_audit_report_renders_curation_kpis(spark, sf_dir, tmp_path):
    """The dedup/curation KPI sections: per-source duplicate rate,
    split-leakage summary, and the pipeline funnel all render; when
    omitted they disappear."""
    from safedata_pipeline_spark import reporting
    from safedata_pipeline_spark.corpus_pipeline import CorpusPipeline
    from safedata_pipeline_spark.operators import dedup as DD
    from safedata_pipeline_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents")
    pipe = CorpusPipeline(docs).filter_quality(0.8).dedup_substrings(k=8)
    pairs = DD.minhash_lsh_pairs(docs, num_hashes=16, bands=4)
    asg = docs.select(
        "doc_id",
        F.when(F.col("doc_id") % 5 < 4, "train").otherwise("eval").alias("split"),
    )
    path = reporting.save_audit_report(
        str(tmp_path / "curation.html"),
        {"run": "unit"},
        dedup_rate_df=DD.dedup_rate_by_source(docs),
        split_leakage_df=DD.split_leakage_summary(asg, pairs),
        curation_funnel=pipe.funnel_report(),
    )
    html = open(path, encoding="utf-8").read()
    for heading in ("Duplicate Rate by Source", "Split Leakage", "Curation Funnel"):
        assert heading in html, heading
    for key in ("dup_rate", "substring_dedup", "input"):
        assert key in html, key
    p2 = reporting.save_audit_report(str(tmp_path / "c2.html"), {"run": "unit"})
    h2 = open(p2, encoding="utf-8").read()
    assert "Curation Funnel" not in h2 and "Duplicate Rate" not in h2


def test_audit_report_renders_benford_and_cusum(spark, sf_dir, tmp_path):
    from safedata_pipeline_spark import reporting
    from safedata_pipeline_spark.operators.quality_rules import benford_screen
    from safedata_pipeline_spark.operators.timeseries import cusum_hourly
    from safedata_pipeline_spark.sources.tables import load_table

    li = load_table(spark, sf_dir, "lineitem")
    ev = load_table(spark, sf_dir, "events")
    path = reporting.save_audit_report(
        str(tmp_path / "screens.html"),
        {"run": "unit"},
        benford_df=benford_screen(li, "l_extendedprice"),
        cusum_df=cusum_hourly(ev, "ts", "value", k=0.5),
        cusum_alarm=4.0,
    )
    html = open(path, encoding="utf-8").read()
    assert "Benford First-Digit Screen" in html and "expected_freq" in html
    assert "CUSUM Change-Points" in html and "Alarm threshold h = 4.0" in html
    p2 = reporting.save_audit_report(str(tmp_path / "s2.html"), {"run": "unit"})
    h2 = open(p2, encoding="utf-8").read()
    assert "Benford" not in h2 and "CUSUM" not in h2


def test_audit_report_renders_secrets_and_domains(spark, tmp_path):
    """Round-6 KPI sections: credential-scan hits and domain
    concentration render (and disappear when omitted)."""
    from safedata_pipeline_spark import reporting
    from safedata_pipeline_spark.operators.pii import secrets_scan
    from safedata_pipeline_spark.operators.text import domain_stats

    docs = spark.createDataFrame(
        [
            (1, "clean text", "https://www.good.org/a"),
            (2, "key " + "AKIA" + "ABCDEFGHIJKLMNOP" + " leaked", "https://farm.spam.com/b"),
            (3, "more clean text", "https://farm.spam.com/c"),
            (4, "also fine", "https://farm.spam.com/d"),
        ],
        "doc_id bigint, text string, url string",
    )
    path = reporting.save_audit_report(
        str(tmp_path / "r6.html"),
        {"run": "unit"},
        secrets_df=secrets_scan(docs),
        domain_stats_df=domain_stats(docs),
        domain_cap=0.5,
    )
    html = open(path, encoding="utf-8").read()
    assert "Credential / Secret Scan" in html and "Domain Concentration" in html
    assert "n_aws_key" in html and "spam.com" in html
    assert "good.org" not in html.split("Domain Concentration")[1]  # under the cap


def _split_customer(spark, sf_dir):
    cust = load_table(spark, sf_dir, "customer")
    return cust.where(F.col("c_custkey") % 2 == 1), cust.where(F.col("c_custkey") % 2 == 0)


def _protect(p):
    return p.protect(
        sdc_cols=["c_mktsegment"], generalize_cols=["c_acctbal"], dp_cols=["c_nationkey", "c_acctbal"]
    )


def _jobs(spark, group, fn):
    """Jobs ``fn`` launches, counted under its own job group."""
    from perfbench.sparkstats import counters

    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setJobGroup(None, None)
    return counters(spark, [group]).jobs


def test_report_reads_pinned_utility_tables(spark, sf_dir, tmp_path):
    """The utility tables are computed once: after their first collect,
    ``report`` and any later reader scan the pinned rows (one job per
    table), the rows equal freshly computed unpinned tables, and the
    protected table is not left cached."""
    from safedata_pipeline_spark.operators import drift as DR
    from safedata_pipeline_spark.operators import profile as P

    real, anon = _split_customer(spark, sf_dir)
    p = SafedataPipeline(spark).load(real, anon)
    after = _protect(p)
    tables = p.measure_utility()
    assert p.df_protected.is_cached is False
    first = {k: df.collect() for k, df in tables.items()}
    p.compliance({"pii_identified"})

    report_jobs = _jobs(spark, "pinned-utility:report", lambda: p.report(str(tmp_path / "r.html")))
    assert report_jobs <= len(tables) + 1, report_jobs
    # a new Dataset per table: repeating an action on the same Dataset
    # reuses that Dataset's executed plan, pinned or not
    again = {}
    reread_jobs = _jobs(
        spark,
        "pinned-utility:reread",
        lambda: again.update({k: df.select("*").collect() for k, df in tables.items()}),
    )
    assert reread_jobs <= len(tables), reread_jobs
    assert again == first

    fresh = {
        "profile_before": P.basic_stats(anon),
        "profile_after": P.basic_stats(after),
        "drift": DR.distribution_drift(anon, after),
    }
    assert set(fresh) == set(tables)
    for name, df in fresh.items():
        assert sorted(first[name], key=str) == sorted(df.collect(), key=str), name
        assert tables[name].dtypes == df.dtypes, name


def test_measure_utility_job_budget(spark, sf_dir):
    """``measure_utility`` plus the first collect of its tables stays
    within the jobs of one fused utility pass (42 when the two profiles
    and the drift table were three separate plans)."""
    p = SafedataPipeline(spark).load(*_split_customer(spark, sf_dir))
    _protect(p)
    tables = {}
    jobs = _jobs(
        spark,
        "utility-budget",
        lambda: tables.update(
            {k: df.collect() for k, df in p.measure_utility().items()}
        ),
    )
    assert set(tables) == {"profile_before", "profile_after", "drift"}
    assert jobs <= 22, jobs


def _rows(df):
    # repr keeps NaN equal to NaN and -0.0 apart from 0.0
    return sorted(map(repr, df.collect()))


def test_utility_tables_match_single_table_operators(spark):
    """The fused utility pass returns exactly the rows and types of
    ``basic_stats`` on each side and ``distribution_drift`` of the two:
    -0.0 beside 0.0 with NaN and NULLs, a column int on one side and
    double on the other, numeric on one side and string on the other, a
    literal "NA" beside NULL, columns on one side only, 0- and 1-row
    sides."""
    from safedata_pipeline_spark.operators import drift as DR
    from safedata_pipeline_spark.operators import profile as P

    nan = float("nan")
    a = spark.createDataFrame(
        [
            (1, -0.0, 1, "x", "NA", 3.0, "q"),
            (2, 0.0, 2, None, None, nan, "r"),
            (3, nan, 2, "y", "NA", -0.0, "s"),
            (4, None, None, "x", "b", 0.0, "t"),
            (5, 1.0, 5, "z", None, 2.0, "u"),
            (6, 0.0, 7, "z", "c", -0.0, "v"),
        ],
        "id int, d double, i int, s string, n string, m double, only_a string",
    )
    b = spark.createDataFrame(
        [
            (1, 0.0, 1.0, "x", None, "-0.0", 10),
            (2, -0.0, 2.0, "NA", "NA", "0.0", 20),
            (3, None, 2.5, "q", "NA", None, 30),
            (4, 3.0, None, "x", "b", "3.0", 40),
            (5, 1.0, 5.0, None, None, "NaN", 50),
            (6, 2.0, 7.0, "z", "c", "2.0", 60),
        ],
        "id int, d double, i double, s string, n string, m string, only_b bigint",
    )
    one = lambda df: df.where("id = 1")
    for left, right in ((a, b), (b, a), (a.limit(0), b), (one(a), one(b).limit(0))):
        fused = DR.profiles_and_drift(left, right)
        single = (
            P.basic_stats(left),
            P.basic_stats(right),
            DR.distribution_drift(left, right),
        )
        for name, got, want in zip(("profile_a", "profile_b", "drift"), fused, single):
            assert _rows(got) == _rows(want), name
            assert got.dtypes == want.dtypes, name


@pytest.fixture(scope="module")
def normal_schemas(spark, sf_dir):
    p = SafedataPipeline(spark).load(*_split_customer(spark, sf_dir))
    protected = _protect(p)
    tables = {k: df.dtypes for k, df in p.measure_utility().items()}
    return {"protected": protected.dtypes, **tables}


@pytest.mark.parametrize("n", [0, 1])
def test_pipeline_degenerate_input(spark, sf_dir, tmp_path, normal_schemas, n):
    """risk → protect → audit → utility → compliance → report → sink on
    an empty and a one-row input: every step returns, the protected
    table and the utility tables keep their normal schemas and the
    report renders every section."""
    real, anon = _split_customer(spark, sf_dir)
    p = SafedataPipeline(spark).load(real.limit(n), anon.limit(n))
    p.assess_risk(["c_nationkey", "c_acctbal", "c_mktsegment"], "c_custkey")
    protected = _protect(p)
    assert protected.dtypes == normal_schemas["protected"]
    assert dict(protected.dtypes)["c_acctbal"] == "string"
    assert dict(protected.dtypes)["c_nationkey"] == "double"
    p.audit_anonymity(["c_mktsegment", "c_acctbal"])
    tables = p.measure_utility()
    for name, df in tables.items():
        df.collect()
        assert df.dtypes == normal_schemas[name], name
    p.compliance({"pii_identified"})
    content = open(p.report(str(tmp_path / "r.html")), encoding="utf-8").read()
    for section in ("Run Summary", "Risk Assessment", "Utility Metrics", "Compliance Checklist"):
        assert section in content, section
    sink = str(tmp_path / "protected.parquet")
    protected.write.mode("overwrite").parquet(sink)
    assert spark.read.parquet(sink).count() <= n
