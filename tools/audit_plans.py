"""Generate PLANS.md: one row per `queries()` entry with the physical
plan properties the scale posture promises — scan count, exchange
(shuffle) count, join strategies, Python (Arrow) stages, and whether
whole-stage codegen covers the row passes.

Usage: python tools/audit_plans.py [sf_dir]
"""

from __future__ import annotations

import re
import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

import __spark_entry__ as entry
from safedata_pipeline_spark.plans import formatted_plan
from safedata_pipeline_spark.session import get_spark


def audit(plan: str) -> dict[str, object]:
    def n(pat: str) -> int:
        return len(re.findall(pat, plan))

    joins = sorted(
        set(re.findall(r"\(\d+\) (\w*(?:HashJoin|MergeJoin|NestedLoopJoin)\w*)", plan))
    )
    return {
        "scans": n(r"\(\d+\) Scan parquet"),
        "exchanges": n(r"\(\d+\) Exchange"),
        "joins": ",".join(joins) if joins else "-",
        "python": "arrow" if n(r"ArrowEvalPython|MapInPandas|FlatMapGroupsInPandas") else "-",
        "codegen": "yes" if "codegen id" in plan else "-",
    }


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    spark = get_spark("plan-audit")
    spark.sparkContext.setLogLevel("ERROR")
    # AQE hides the real plan behind an AdaptiveSparkPlan placeholder
    # pre-execution; disable it for a static audit (codegen ids too)
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    rows = []
    for name, fn in entry.queries().items():
        try:
            df = fn(spark, sf_dir)
            plan = formatted_plan(df)
            rows.append((name, audit(plan)))
        except Exception as e:  # noqa: BLE001 — audit should list, not die
            rows.append((name, {"scans": "?", "exchanges": "?", "joins": f"error: {e}", "python": "?", "codegen": "?"}))

    lines = [
        "# PLANS — physical-plan audit of every driver query",
        "",
        f"Generated by `python tools/audit_plans.py` at `{sf_dir}` "
        "(pre-execution plans; AQE may further coalesce/convert at runtime).",
        "Columns: parquet scan nodes, shuffle exchanges, join strategies chosen,",
        "whether any Arrow/Python stage exists, and whole-stage-codegen presence.",
        "",
        "| query | scans | exchanges | joins | python | codegen |",
        "|---|---|---|---|---|---|",
    ]
    for name, a in rows:
        lines.append(
            f"| {name} | {a['scans']} | {a['exchanges']} | {a['joins']} | {a['python']} | {a['codegen']} |"
        )
    out = "\n".join(lines) + "\n"
    with open(os.path.join(ROOT, "PLANS.md"), "w") as f:
        f.write(out)
    print(f"wrote PLANS.md ({len(rows)} queries)")


if __name__ == "__main__":
    main()
