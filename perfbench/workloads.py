"""The benchmark's workloads: one full pass of each composed flow, plus
the output checks that run outside the timed passes.

A pass calls the engine only through ``step(name, fn)``, so the runner
decides per pass whether a step is traced (own job group and span) or
not. Every step of a flow always runs; a step that raises is counted as
failed and the steps after it, which need its result, are counted as
failed too.
"""

from __future__ import annotations

import os
from collections.abc import Callable
from dataclasses import dataclass
from typing import Any

from pyspark.sql import functions as F

from safedata_pipeline_spark.corpus_pipeline import CorpusPipeline
from safedata_pipeline_spark.pipeline import SafedataPipeline

Step = Callable[[str, Callable[[], Any]], Any]

QUASI_IDS = ["c_nationkey", "c_acctbal", "c_mktsegment"]
DONE_KEYS = frozenset({"pii_identified", "privacy_techniques"})
REPORT_SECTIONS = ("Run Summary", "Risk Assessment", "Utility Metrics", "Compliance Checklist")


@dataclass(frozen=True)
class Workload:
    name: str
    layer: str  # the engine module whose steps the pass calls
    table: str  # the one input table the pass reads, loaded by the runner
    items: str  # what items_per_s counts
    steps: tuple[str, ...]
    step_bytes: str  # the per-step byte counter reported for this layer
    run_pass: Callable[..., dict[str, Any]]
    check: Callable[..., list[tuple[str, bool, str]]]


def _split(cust, seed: int):
    """Real/anon halves of ``customer``, disjoint, chosen by a salted hash."""
    side = F.pmod(F.xxhash64("c_custkey", F.lit(seed)), F.lit(2)) == 0
    return cust.where(side), cust.where(~side)


def privacy_pass(spark, cust, out_dir: str, seed: int, step: Step) -> dict[str, Any]:
    real, anon = _split(cust, seed)
    p = SafedataPipeline(spark).load(real, anon)
    out: dict[str, Any] = {"anon": anon}
    out["risk"] = step("assess_risk", lambda: p.assess_risk(QUASI_IDS, "c_custkey"))
    out["protected"] = step(
        "protect",
        lambda: p.protect(
            sdc_cols=["c_mktsegment"],
            generalize_cols=["c_acctbal"],
            dp_cols=["c_nationkey", "c_acctbal"],
        ),
    )
    step("audit_anonymity", lambda: p.audit_anonymity(["c_mktsegment", "c_acctbal"]))
    tables = step("measure_utility", p.measure_utility)
    out["utility"] = step("utility_collect", lambda: {k: v.collect() for k, v in tables.items()})
    step("compliance", lambda: p.compliance(DONE_KEYS))
    out["score"] = p.results["compliance_score"]
    out["html"] = step("report", lambda: p.report(os.path.join(out_dir, "report.html")))
    out["sink"] = os.path.join(out_dir, "protected.parquet")
    step("sink", lambda: out["protected"].write.mode("overwrite").parquet(out["sink"]))
    return out


def privacy_check(spark, out: dict[str, Any]) -> list[tuple[str, bool, str]]:
    """Invariants of tests/test_pipeline.py on one pass's outputs."""
    risk = out["risk"]["overall_risk"]
    n_anon = out["anon"].count()
    n_sink = spark.read.parquet(out["sink"]).count()
    dtypes = dict(out["protected"].dtypes)
    drift_cols = {r["column"] for r in out["utility"]["drift"]}
    with open(out["html"], encoding="utf-8") as f:
        html = f.read()
    return [
        ("risk_in_unit_interval", 0.0 <= risk <= 1.0, f"overall_risk={risk}"),
        ("protected_rows_equal_anon", n_sink == n_anon > 0, f"{n_sink} vs {n_anon}"),
        (
            "protected_types",
            dtypes["c_acctbal"] == "string" and dtypes["c_nationkey"] == "double",
            str(dtypes),
        ),
        (
            "utility_tables",
            set(out["utility"]) == {"profile_before", "profile_after", "drift"}
            and "c_acctbal" in drift_cols,
            str(sorted(drift_cols)),
        ),
        ("compliance_score", abs(out["score"] - 2 / 12) < 1e-6, f"score={out['score']}"),
        ("report_sections", all(s in html for s in REPORT_SECTIONS), f"{len(html)} chars"),
    ]


def corpus_pass(spark, docs, out_dir: str, seed: int, step: Step) -> dict[str, Any]:
    cp = step("init", lambda: CorpusPipeline(docs))
    step("normalize", cp.normalize)
    step("filter_quality", lambda: cp.filter_quality(0.6))
    step("dedup_substrings", lambda: cp.dedup_substrings(k=8))
    step("dedup_near", lambda: cp.dedup_near(threshold=0.5))
    packed = step("pack", lambda: cp.pack(budget=64, buckets=8))
    sink = os.path.join(out_dir, "packed.parquet")
    step("sink", lambda: packed.write.mode("overwrite").parquet(sink))
    return {"funnel": cp.funnel_report(), "sink": sink}


FUNNEL = ["input", "normalize", "quality", "substring_dedup", "near_dedup"]


def corpus_check(spark, out: dict[str, Any]) -> list[tuple[str, bool, str]]:
    """Invariants of tests/test_corpus_pipeline.py on one pass's outputs."""
    funnel = out["funnel"]
    vals = [funnel.get(k, -1) for k in FUNNEL]
    rows = spark.read.parquet(out["sink"]).select("bucket", "doc_id", "start_offset", "n_tokens").collect()
    gap_free = True
    by_bucket: dict[int, list] = {}
    for r in rows:
        by_bucket.setdefault(r.bucket, []).append(r)
    for bucket_rows in by_bucket.values():
        bucket_rows.sort(key=lambda r: r.doc_id)
        run = 0
        for r in bucket_rows:
            gap_free &= r.start_offset == run
            run += r.n_tokens
    keep = vals[2] / vals[0] if vals[0] > 0 else 0.0
    return [
        ("funnel_monotone", vals == sorted(vals, reverse=True) and vals[-1] > 0, str(vals)),
        ("quality_keeps_60pct", abs(keep - 0.6) < 0.1, f"{keep:.3f}"),
        ("packed_rows_equal_near_dedup", len(rows) == funnel.get("near_dedup"), f"{len(rows)}"),
        ("pack_offsets_gap_free", gap_free and len(rows) > 0, f"{len(by_bucket)} buckets"),
    ]


WORKLOADS = {
    w.name: w
    for w in (
        Workload(
            "privacy_flow",
            "pipeline",
            "customer",
            "input customer rows",
            ("assess_risk", "protect", "audit_anonymity", "measure_utility",
             "utility_collect", "compliance", "report", "sink"),
            "shuffle_bytes",
            privacy_pass,
            privacy_check,
        ),
        Workload(
            "corpus_flow",
            "corpus_pipeline",
            "documents",
            "input documents",
            ("init", "normalize", "filter_quality", "dedup_substrings", "dedup_near", "pack", "sink"),
            "input_bytes",
            corpus_pass,
            corpus_check,
        ),
    )
}
