"""Local mimic of the driver's t2 correctness gate.

Runs every ``__spark_entry__.queries()`` entry on Spark and its
``oracle_sql()`` counterpart on DuckDB over the same parquet fixtures,
then compares row count, sorted column names, and cell values
(rows sorted by all columns on their raw values; exact for non-floats,
exact-with-report for floats). Rows-only queries (no oracle SQL) are
canonicalized the same way, so a result the driver cannot canonicalize
fails here too. Usage:

    python tools/check_oracle.py [sf_dir] [query ...]
"""

from __future__ import annotations

import os
import sys
import time

import duckdb
import numpy as np
import pandas as pd

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

import __spark_entry__ as entry  # noqa: E402
from safedata_pipeline_spark.session import get_spark  # noqa: E402
from safedata_pipeline_spark.sources.tables import TABLES  # noqa: E402


def normalize(df: pd.DataFrame) -> pd.DataFrame:
    """Canonical row order: columns by name, rows sorted on their RAW
    values — the way the driver canonicalizes. A list/map cell is
    unhashable, so the sort raises ``TypeError`` here exactly as it
    does in the driver (an ``astype(str)`` sort key hid that)."""
    df = df.reindex(sorted(df.columns), axis=1)
    if len(df):
        df = df.sort_values(by=list(df.columns)).reset_index(drop=True)
    return df


def compare(name: str, spd: pd.DataFrame, opd: pd.DataFrame) -> list[str]:
    problems = []
    if len(spd) != len(opd):
        problems.append(f"row count {len(spd)} vs oracle {len(opd)}")
        return problems
    a, b = normalize(spd), normalize(opd)
    if list(a.columns) != list(b.columns):
        problems.append(f"columns {list(a.columns)} vs {list(b.columns)}")
        return problems
    for col in a.columns:
        av, bv = a[col], b[col]
        a_num = pd.api.types.is_numeric_dtype(av) and pd.api.types.is_numeric_dtype(bv)
        if a_num and (pd.api.types.is_float_dtype(av) or pd.api.types.is_float_dtype(bv)):
            af, bf = av.astype(float).to_numpy(), bv.astype(float).to_numpy()
            both_nan = np.isnan(af) & np.isnan(bf)
            exact = (af == bf) | both_nan
            if not exact.all():
                close = np.isclose(af, bf, rtol=1e-9, atol=1e-12, equal_nan=True)
                diff = np.nanmax(np.abs(np.where(both_nan, 0, af - bf)))
                tag = "CLOSE-NOT-EXACT" if close.all() else "VALUE-MISMATCH"
                problems.append(
                    f"{tag} col={col}: {int((~exact).sum())}/{len(af)} cells differ, maxdiff={diff:.3e}"
                )
        else:
            astr = av.map(lambda x: "<NULL>" if pd.isna(x) else str(x))
            bstr = bv.map(lambda x: "<NULL>" if pd.isna(x) else str(x))
            bad = astr != bstr
            if bad.any():
                i = int(np.argmax(bad.to_numpy()))
                problems.append(
                    f"VALUE-MISMATCH col={col}: {int(bad.sum())}/{len(astr)} cells, "
                    f"e.g. row {i}: {astr.iloc[i]!r} vs {bstr.iloc[i]!r}"
                )
    return problems


def main() -> int:
    sf = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:]) or None

    spark = get_spark("oracle-check")
    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{sf}/{t}.parquet'")

    qs, oracles = entry.queries(), entry.oracle_sql()
    n_fail = 0
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            spd = fn(spark, sf).toPandas()
        except Exception as e:
            print(f"FAIL  {name}: spark error: {type(e).__name__}: {e}")
            n_fail += 1
            continue
        dt = time.time() - t0
        if name not in oracles:
            try:
                normalize(spd)
            except Exception as e:
                print(f"FAIL  {name}: canonicalize error: {type(e).__name__}: {e}")
                n_fail += 1
                continue
            print(f"rows-only {name}: rows={len(spd)} ({dt:.1f}s)")
            continue
        try:
            opd = con.sql(oracles[name]).df()
        except Exception as e:
            print(f"FAIL  {name}: duckdb error: {type(e).__name__}: {e}")
            n_fail += 1
            continue
        problems = compare(name, spd, opd)
        hard = [p for p in problems if not p.startswith("CLOSE-NOT-EXACT")]
        status = "FAIL " if hard else ("WARN " if problems else "ok   ")
        if hard:
            n_fail += 1
        print(f"{status} {name}: rows={len(spd)} ({dt:.1f}s)" + ("".join(f"\n        {p}" for p in problems)))
    print(f"\n{n_fail} failures / {len(only) if only else len(qs)} checked")
    return 1 if n_fail else 0


if __name__ == "__main__":
    raise SystemExit(main())
