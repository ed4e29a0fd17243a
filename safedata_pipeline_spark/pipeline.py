"""End-to-end pipeline orchestration — the Spark-native equivalent of
the reference Streamlit app's 6-step flow (app.py:104: Upload → Risk →
Protect → Utility → Compliance → Report).

A user of the reference drives: load two CSVs, assess linkage risk on
quasi-identifiers, apply a protection chain, measure utility drift and
model accuracy, score a compliance checklist, export a report + config.
``SafedataPipeline`` exposes exactly that surface over DataFrames.

Execution shape vs the reference (§3.2): the reference materializes a
full copy per transform (privacy.py:5,14,25). Here the protect chain is
ONE lazy plan — suppression / binning / noise compose via
``DataFrame.transform`` and execute in a single job at the sink, with
the per-step aggregation subqueries (counts, quantile edges) as the
only extra scans. The utility step computes its three tables (both
profiles and the drift table) from one pass, ``drift.profiles_and_drift``:
one tagged melt of before ∪ after and one ranged prefix feed both
profiles' value statistics and quartiles and the KS/χ² drift. The
tables are the one result several readers share (the caller's collect,
then ``report``), so ``measure_utility`` pins each of them lazily
(``checkpoint.pin_lazy``): the first reader fills the pin and every
later one scans the pinned rows instead of re-running the utility pass.
"""

from __future__ import annotations

from typing import Any

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import NumericType

from safedata_pipeline_spark.checkpoint import pin_lazy
from safedata_pipeline_spark.operators import compliance as C
from safedata_pipeline_spark.operators import drift as DR
from safedata_pipeline_spark.operators import ml_utility as MU
from safedata_pipeline_spark.operators import protect as PR
from safedata_pipeline_spark.operators import risk as RK
from safedata_pipeline_spark import reporting as REP


class SafedataPipeline:
    """Holds the session state the reference keeps in Streamlit
    (app.py:108-113): df_real, df_anon, df_protected + config."""

    def __init__(self, spark: SparkSession, config: dict[str, Any] | None = None):
        self.spark = spark
        self.config: dict[str, Any] = config or {}
        self.df_real: DataFrame | None = None
        self.df_anon: DataFrame | None = None
        self.df_protected: DataFrame | None = None
        self.results: dict[str, Any] = {}

    # -- step 1: upload ------------------------------------------------
    def load(self, df_real: DataFrame, df_anon: DataFrame | None = None) -> "SafedataPipeline":
        self.df_real = df_real
        self.df_anon = df_anon if df_anon is not None else df_real
        return self

    # -- step 2: risk (app.py:153-168) ----------------------------------
    def assess_risk(self, quasi_ids: list[str], id_col: str) -> dict[str, Any]:
        nn = RK.knn_linkage_join(self.df_anon, self.df_real, quasi_ids, id_col, id_col)
        row = RK.linkage_risk_score(nn).collect()[0]
        self.results["risk"] = {
            "overall_risk": row["overall_risk"],
            "n_rows": row["n_rows"],
            "quasi_ids": quasi_ids,
        }
        return self.results["risk"]

    # -- step 3: protect (app.py:173-200) --------------------------------
    def protect(
        self,
        sdc_cols: list[str] | None = None,
        generalize_cols: list[str] | None = None,
        dp_cols: list[str] | None = None,
        threshold: int = 5,
        bins: int = 10,
        epsilon: float = 1.0,
        sensitivity: float = 1.0,
        seed: int | None = 42,
        use_suggestions: bool = False,
    ) -> DataFrame:
        df = self.df_anon
        if use_suggestions:
            sugg = {r["column"]: r["suggestion"] for r in PR.smart_suggest(df).collect()}
            sdc_cols = [c for c, s in sugg.items() if s == "sdc"]
            generalize_cols = [c for c, s in sugg.items() if s == "generalize+dp"]
            dp_cols = [c for c, s in sugg.items() if s in ("dp", "generalize+dp")]
        # one lazy chain; binning turns numerics into categoricals, so
        # noise columns are re-filtered afterwards like app.py:191
        out = df.transform(lambda d: PR.sdc_suppress(d, sdc_cols or [], threshold))
        out = out.transform(lambda d: PR.generalize_numeric(d, generalize_cols or [], bins))
        still_numeric = {
            f.name for f in out.schema.fields if isinstance(f.dataType, NumericType)
        }
        noise_cols = [c for c in (dp_cols or []) if c in still_numeric]
        out = out.transform(
            lambda d: PR.add_dp_noise(d, noise_cols, epsilon, sensitivity, seed)
        )
        self.df_protected = out
        self.config.setdefault("protect", {}).update(
            {
                "sdc_cols": sdc_cols or [],
                "generalize_cols": generalize_cols or [],
                "dp_cols": dp_cols or [],
                "threshold": threshold,
                "bins": bins,
                "epsilon": epsilon,
                "sensitivity": sensitivity,
            }
        )
        return out

    def synthesize(self, n: int | None = None, seed: int = 42) -> DataFrame:
        """Optional synthetic replacement (app.py:194-195)."""
        self.df_protected = PR.synthetic_sample(self.df_anon, n=n, seed=seed)
        return self.df_protected

    # -- step 3b: anonymity audit (beyond the reference: the SDC
    # metrics that tell you whether the protect chain was enough) ------
    def audit_anonymity(
        self,
        quasi_ids: list[str],
        k: int = 5,
        sensitive_col: str | None = None,
        l: int = 2,
    ) -> dict[str, Any]:
        """k-anonymity (and optional l-diversity) of the PROTECTED
        table over the given quasi-identifiers — run after ``protect``
        to check the transforms actually produced k-sized equivalence
        classes; re-run with a bigger bin count / lower threshold when
        ``satisfies_k`` is false."""
        from safedata_pipeline_spark.operators import anonymity as AN

        df = self.df_protected if self.df_protected is not None else self.df_anon
        out: dict[str, Any] = dict(
            AN.k_anonymity(df, quasi_ids, k).collect()[0].asDict()
        )
        if sensitive_col is not None:
            out.update(AN.l_diversity(df, quasi_ids, sensitive_col, l).collect()[0].asDict())
        self.results["anonymity"] = out
        return out

    # -- step 3c: anonymity enforcement (the remedy the audit gates) ---
    def enforce_anonymity(
        self, quasi_ids: list[str], k: int = 5, residual: str = "keep"
    ) -> DataFrame:
        """Suppression-based k-anonymity enforcement on the protected
        table: rows in sub-k equivalence classes get their
        quasi-identifiers masked (``residual="drop"`` removes the
        merged suppressed class when it is itself still under k, so
        the result is unconditionally k-anonymous). Run when
        ``audit_anonymity`` reports ``satisfies_k`` false and a
        coarser generalization isn't acceptable."""
        from safedata_pipeline_spark.operators import anonymity as AN

        df = self.df_protected if self.df_protected is not None else self.df_anon
        self.df_protected = AN.enforce_k_anonymity(df, quasi_ids, k, residual=residual)
        return self.df_protected

    # -- step 4: utility (app.py:205-223) ---------------------------------
    def measure_utility(self, target: str | None = None) -> dict[str, DataFrame]:
        """Profile before/after, distribution drift and, when ``target``
        is given, model utility of the protected table against the
        anonymized input, each as a lazily pinned DataFrame: the first
        reader computes a table once and later readers (``report``)
        scan its pinned rows. The profiles and the drift table come
        from one shared pass (``drift.profiles_and_drift``), row- and
        type-identical to ``basic_stats`` on each side and
        ``distribution_drift``. Under AQE the pins run the tables'
        shuffle-map stages here (see ``checkpoint``), so most of the
        utility work is done by this call."""
        before, after = self.df_anon, self.df_protected
        profile_before, profile_after, drift = DR.profiles_and_drift(before, after)
        tables = {
            "profile_before": profile_before,
            "profile_after": profile_after,
            "drift": drift,
        }
        if target is not None:
            tables["model_utility"] = MU.model_utility_check(before, after, target)
        tables = {name: pin_lazy(df) for name, df in tables.items()}
        self.results["utility_tables"] = tables
        return tables

    # -- step 5: compliance (app.py:228-236) -------------------------------
    def compliance(self, done_keys: set[str] | frozenset[str] = frozenset()) -> DataFrame:
        checklist = C.default_checklist(self.spark, done_keys)
        self.results["compliance_df"] = checklist
        self.results["compliance_score"] = C.checklist_score(checklist).collect()[0]["score"]
        return checklist

    # -- step 6: report + config (app.py:239-267, 124-130) -----------------
    def report(self, html_path: str, pdf_path: str | None = None) -> str:
        summary = {
            "config": self.config,
            "compliance_score": self.results.get("compliance_score"),
        }
        checklist = self.results.get("compliance_df")
        if checklist is None:  # built only when compliance() never ran
            checklist = C.default_checklist(self.spark)
        path = REP.save_html_report(
            html_path,
            summary=summary,
            risk_summary=self.results.get("risk", {}),
            util_tables=self.results.get("utility_tables", {}),
            compliance_df=checklist,
        )
        if pdf_path:
            REP.try_make_pdf(html_path, pdf_path)
        return path

    def save_config(self, path: str) -> str:
        return REP.save_config(path, self.config)

    @classmethod
    def from_config(cls, spark: SparkSession, path: str) -> "SafedataPipeline":
        return cls(spark, REP.load_config(path))
