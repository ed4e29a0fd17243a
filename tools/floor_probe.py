"""Fixed-floor decomposition probe for optimization rounds.

For each selected ``queries()`` entry, splits one cold pass into:

  * ``build``   — seconds inside ``qs[name](spark, sf_dir)`` (pure
    Python/py4j expression construction; any *eager* fit jobs the
    builder runs — kmeans/pq/bpe collects — land here too);
  * ``analyze`` — seconds to resolve the analyzed schema
    (``df.columns``: Catalyst analysis of the final plan);
  * ``exec``    — seconds for the noop-sink write (physical planning,
    codegen, job scheduling, execution).

The sum is one bench rep without the median loop, so
``build + analyze`` vs ``exec`` separates the driver-side fixed floor
(guide §5/§7.3) from actual cluster work, query by query.

Each query runs under its own Spark job group (``setJobGroup``), so the
line also carries the host-independent ``jobs`` / ``stages`` / ``tasks``
counters of everything it launched — eager fit jobs in ``build``
included — read from Spark's status store by
``perfbench.sparkstats.counters`` after the query finishes.

Usage:
    python tools/floor_probe.py [--sf DIR] [--warm] [query ...]
(no queries = the full registry). Prints one JSON line per query so a
partial run still yields data, then a total line.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entry  # noqa: E402
from perfbench.sparkstats import counters  # noqa: E402
from safedata_pipeline_spark.session import get_spark  # noqa: E402


def main() -> None:
    args = sys.argv[1:]
    sf_dir = "/root/testdata/sf0.1"
    warm = False
    names = []
    i = 0
    while i < len(args):
        a = args[i]
        if a == "--sf":
            sf_dir = args[i + 1]
            i += 2
        elif a == "--warm":
            warm = True
            i += 1
        else:
            names.append(a)
            i += 1

    spark = get_spark("safedata-floor-probe")
    spark.sparkContext.setLogLevel("ERROR")
    qs = entry.queries()
    if not names:
        names = list(qs)
    unknown = [n for n in names if n not in qs]
    assert not unknown, f"unknown queries: {unknown}"

    if warm:
        qs["value_counts"](spark, sf_dir).collect()

        def _arrow_warm(it):
            import numpy  # noqa: F401

            from safedata_pipeline_spark.operators import jpeg_codec  # noqa: F401

            for pdf in it:
                yield pdf

        spark.range(0, 32, 1, 32).mapInPandas(_arrow_warm, "id long").write.format(
            "noop"
        ).mode("overwrite").save()

    import gc

    totals = {"build": 0.0, "analyze": 0.0, "exec": 0.0}
    work = {"jobs": 0, "stages": 0, "tasks": 0}
    for i, n in enumerate(names):
        gc.collect()
        group = f"floor:{i}:{n}"
        spark.sparkContext.setJobGroup(group, group)
        t0 = time.time()
        df = qs[n](spark, sf_dir)
        t1 = time.time()
        _ = df.columns
        t2 = time.time()
        df.write.format("noop").mode("overwrite").save()
        t3 = time.time()
        spark.sparkContext.setJobGroup(None, None)
        c = counters(spark, [group])
        rec = {
            "q": n,
            "build": round(t1 - t0, 3),
            "analyze": round(t2 - t1, 3),
            "exec": round(t3 - t2, 3),
            "total": round(t3 - t0, 3),
            "jobs": c.jobs,
            "stages": c.stages,
            "tasks": c.tasks,
        }
        for k in totals:
            totals[k] += rec[k]
        for k in work:
            work[k] += rec[k]
        print(json.dumps(rec), flush=True)
    print(
        json.dumps(
            {
                "q": "__TOTALS__",
                **{k: round(v, 1) for k, v in totals.items()},
                "total": round(sum(totals.values()), 1),
                **work,
                "n": len(names),
            }
        ),
        flush=True,
    )


if __name__ == "__main__":
    main()
