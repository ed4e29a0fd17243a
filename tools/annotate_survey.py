"""Regenerate SURVEY.md §2.8 per-row Check annotations from the latest
driver CORRECTNESS artifact + the CURRENT queries() window — the
scripted version of the per-round regeneration VERDICT r5 asked to
keep scripted.

    python tools/annotate_survey.py CORRECTNESS_r06.json [next_round]

For every X-row whose query name appears in queries(): in-window →
"oracle (in r{next} window)" (plus "(driver rN green)" when the
artifact already has a green row); artifact-green but rotated out →
"oracle (driver rN green)"; otherwise keep any prior driver-history
note or fall back to "oracle (local sweep green)". Rows-only and
unit-only annotations are left untouched (they are hand-written
contracts, not channel facts).
"""

from __future__ import annotations

import json
import re
import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

import __spark_entry__ as entry  # noqa: E402

ROW = re.compile(r"^\| (X\d+) \| (.*) \| ([^|]*) \| ([^|]*) \| ([^|]*) \|$")


def main() -> None:
    artifact = sys.argv[1] if len(sys.argv) > 1 else None
    next_round = sys.argv[2] if len(sys.argv) > 2 else "?"
    green: set[str] = set()
    round_no = "?"
    if artifact:
        data = json.load(open(artifact))
        green = {
            k for k, v in data.items() if v.get("hash_match") and v.get("rows_match")
        }
        m = re.search(r"_r0*(\d+)", artifact)
        round_no = m.group(1) if m else "?"
    # driver-green HISTORY from the union of every recorded artifact:
    # a rotated-out row keeps its strongest channel fact ("driver rN
    # green") instead of degrading to "local sweep green"
    import glob as _glob
    last_green: dict[str, str] = {}
    for path in sorted(_glob.glob(os.path.join(ROOT, "CORRECTNESS_r*.json"))):
        mm = re.search(r"_r0*(\d+)", path)
        if not mm:
            continue
        try:
            art = json.load(open(path))
        except Exception:
            continue
        for k, v in art.items():
            if v.get("hash_match") and v.get("rows_match"):
                last_green[k] = mm.group(1)
    qs = list(entry.queries())
    window = set(qs[:50])
    osql = entry.oracle_sql()

    lines, changed = [], 0
    for ln in open(os.path.join(ROOT, "SURVEY.md")).read().split("\n"):
        m = ROW.match(ln)
        if not m:
            lines.append(ln)
            continue
        x, desc, mod, qcell, check = m.groups()
        qm = re.search(r"`([a-z0-9_]+)`", qcell)
        qname = qm.group(1) if qm else None
        if qname and qname in qs and qname in osql:
            if qname in window:
                new = f"oracle (in r{next_round} window)" + (
                    f" (driver r{round_no} green)" if qname in green else ""
                )
            elif qname in last_green:
                new = f"oracle (driver r{last_green[qname]} green; local sweep green)"
            else:
                hist = re.search(r"driver r[0-9–r\-]+ green", check)
                new = f"oracle ({hist.group(0)})" if hist else "oracle (local sweep green)"
            if new != check.strip():
                changed += 1
            ln = f"| {x} | {desc} | {mod} | {qcell} | {new} |"
        lines.append(ln)

    # Sort the contiguous X-row block numerically (VERDICT r11 #8:
    # X188/X199 etc. drifted out of sequence as rows were appended).
    first = next(i for i, ln in enumerate(lines) if ROW.match(ln))
    last = first
    while last + 1 < len(lines) and ROW.match(lines[last + 1]):
        last += 1
    block = lines[first : last + 1]
    block.sort(key=lambda ln: int(ROW.match(ln).group(1)[1:]))
    lines[first : last + 1] = block

    text = "\n".join(lines)
    text = _rewrite_counts(text, qs, osql, block)
    open(os.path.join(ROOT, "SURVEY.md"), "w").write(text)
    print(f"annotated SURVEY.md: {changed} rows updated, X-block sorted")

    rd = open(os.path.join(ROOT, "README.md")).read()
    rd2 = _rewrite_counts(rd, qs, osql, block)
    if rd2 != rd:
        open(os.path.join(ROOT, "README.md"), "w").write(rd2)
        print("README.md counts refreshed")


def _rewrite_counts(text: str, qs, osql, xblock) -> str:
    """Rewrite every registered/oracle-backed/rows-only count phrase
    (and the X1–Xmax span) from the AST-true registry sizes, so the
    header prose can't go stale again (VERDICT r11 Missing #3)."""
    n, m = len(qs), len(osql)
    ro = n - m
    xmax = max(int(ROW.match(ln).group(1)[1:]) for ln in xblock)
    text = re.sub(
        r"\d+ registered, \d+ oracle-backed",
        f"{n} registered, {m} oracle-backed",
        text,
    )
    text = re.sub(
        r"\d+ registered queries \(\d+ hash-checked",
        f"{n} registered queries ({m} hash-checked",
        text,
    )
    text = re.sub(
        r"\d+ named\n`queries\(\)`, and \d+ matching",
        f"{n} named\n`queries()`, and {m} matching",
        text,
    )
    text = re.sub(r"[Tt]he \d+ rows-only entries", f"the {ro} rows-only entries", text)
    text = re.sub(
        r"\d+ randomized/approximate ones", f"{ro} randomized/approximate ones", text
    )
    text = re.sub(r"X1–X\d+", f"X1–X{xmax}", text)
    return text


if __name__ == "__main__":
    main()
