"""End-to-end benchmark of the engine's two composed flows.

    python3 perfbench/run.py --workload privacy_flow --seed 1 --seconds 1 --trace 0

Run from the repository root. One closed-loop client on
``local[<cpus>]``. The inputs are written from ``--seed``; then the
session is set up (``setup_s``: engine import, ``get_spark``, the first
JVM job and the Arrow worker spawn) and passes of the workload run back
to back for ``--seconds`` (at least one). Each pass's outputs are
checked right after it, outside its timing. Every metric describes the
first pass, the one a fresh session runs; later passes are printed only.

``--trace 0`` reports the end-to-end metrics. ``--trace 1`` traces every
pass and reports the per-layer metrics of the first one, its wall time
(``trace.run_s``, to set against ``run_s`` of an untraced run) and the
time spent in the tracing code (``trace.overhead_s``). The spans are
written to ``perfbench/.work/spans/``. Human-readable lines go first;
the last line of stdout is the JSON result. The metric names and units
are read from ``BENCHMARK.json``; ``perfbench/METRICS.md`` defines them.
"""

from __future__ import annotations

import argparse
import itertools
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
import traceback

import inputs
import sparkstats

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH_DIR)


def published_units(trace: bool) -> dict[str, str]:
    """Names and units of the metrics a run reports, from ``BENCHMARK.json``."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return {m["name"]: m["unit"] for m in spec["per_layer" if trace else "end_to_end"]}


class PassFailed(Exception):
    def __init__(self, done: int):
        super().__init__(f"pass failed after {done} steps")
        self.done = done


class Runner:
    """Runs passes of one workload. A traced pass gives every step its own
    job group and span; spans stay in memory until ``write_spans``."""

    def __init__(self, spark, workload, data_dir: str, out_dir: str, seed: int):
        self.spark, self.w = spark, workload
        self.data_dir, self.out_dir, self.seed = data_dir, out_dir, seed
        self.spans: list[dict] = []

    def run(self, label: str, traced: bool) -> dict:
        """One pass: its wall seconds, job groups (the pass's under key
        ``""``, then one per traced step), outputs, and the seconds spent
        in the tracing code itself."""
        from safedata_pipeline_spark.sources.tables import load_table

        sc = self.spark.sparkContext
        run_id = f"{self.w.name}-s{self.seed}-{label}"
        root = f"{self.w.name}/{label}"
        groups = {"": root}
        done = 0
        tracing_s = 0.0

        def step(name, fn, layer=self.w.layer):
            nonlocal done, tracing_s
            if not traced:
                out = fn()
                done += 1
                return out
            t0 = time.perf_counter()
            groups[name] = f"{root}/{name}"
            sc.setJobGroup(groups[name], groups[name])
            start = time.time()
            t1 = time.perf_counter()
            out = fn()
            t2 = time.perf_counter()
            self.spans.append(
                {"run_id": run_id, "name": f"{layer}.{name}", "parent": "pass", "start": start, "end": time.time()}
            )
            done += 1
            tracing_s += (t1 - t0) + (time.perf_counter() - t2)
            return out

        sc.setJobGroup(root, root)
        start = time.time()
        t0 = time.perf_counter()
        try:
            df = step("load_table", lambda: load_table(self.spark, self.data_dir, self.w.table), "sources")
            out = self.w.run_pass(self.spark, df, self.out_dir, self.seed, step)
        except Exception as e:
            traceback.print_exc(file=sys.stderr)
            raise PassFailed(done) from e
        finally:
            sc.setJobGroup(None, None)
        wall = time.perf_counter() - t0
        if traced:
            self.spans.append({"run_id": run_id, "name": "pass", "parent": None, "start": start, "end": time.time()})
        return {"label": label, "traced": traced, "run_s": wall, "groups": groups, "out": out, "tracing_s": tracing_s}

    def write_spans(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s) + "\n")


def setup(work: str, t0: float):
    """Everything before the first timed pass, billed to ``setup_s``:
    engine import (begun at ``t0``) and session start, the first JVM job
    and the Arrow (pandas UDF) worker spawn."""
    from safedata_pipeline_spark.session import get_spark

    spark = get_spark(
        "perfbench",
        conf={
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={work}/tmp -XX:-UsePerfData",
            "spark.sql.warehouse.dir": f"{work}/warehouse",
            "spark.ui.showConsoleProgress": "false",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    t1 = time.perf_counter()
    spark.range(0, 64, 1, 4).selectExpr("sum(id)").collect()

    def _arrow(batches):
        yield from batches

    spark.range(0, 32, 1, 4).mapInPandas(_arrow, "id long").write.format("noop").mode(
        "overwrite"
    ).save()
    return spark, {"session.start_s": t1 - t0, "session.warmup_s": time.perf_counter() - t1}


def stop(spark) -> None:
    """Stop the session and wait until the driver JVM has exited."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def layer_metrics(spark, workloads, runner: Runner, first: dict, table_bytes: int) -> dict[str, float]:
    """Per-layer metrics of one traced pass; layers the workload does not
    run read 0."""
    whole = first["counters"]
    m: dict[str, float] = {
        "sources.input_bytes": whole.input_bytes,
        "sources.scan_amplification": whole.input_bytes / table_bytes,
    }
    run_id = f"{runner.w.name}-s{runner.seed}-{first['label']}"
    spans = {s["name"]: s["end"] - s["start"] for s in runner.spans if s["run_id"] == run_id}
    for w in workloads.values():
        for s in w.steps:
            key = f"{w.layer}.{s}"
            if w is not runner.w:
                m[f"{key}.wall_s"] = m[f"{key}.jobs"] = m[f"{key}.{w.step_bytes}"] = 0
                continue
            c = sparkstats.counters(spark, [first["groups"][s]])
            m[f"{key}.wall_s"] = spans[key]
            m[f"{key}.jobs"] = c.jobs
            m[f"{key}.{w.step_bytes}"] = getattr(c, w.step_bytes)
    busy = whole.busy_s()
    m["spark.job_busy_s"] = busy
    m["spark.driver_gap_s"] = first["run_s"] - busy
    m["spark.executor_run_s"] = whole.executor_run_s
    m["spark.executor_cpu_s"] = whole.executor_cpu_s
    m["spark.spill_bytes"] = whole.spill_bytes
    m["storage.pinned_rdds_after"] = first["pinned_rdds_after"]
    m["trace.run_s"] = first["run_s"]
    m["trace.overhead_s"] = first["tracing_s"]
    return m


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "safedata_pipeline_spark", "__init__.py")):
        print(f"engine package not found under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)

    # every file the run writes, Spark's scratch space included, stays here
    work = os.path.join(BENCH_DIR, ".work", f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}")
    data_dir, out_dir = os.path.join(work, "data"), os.path.join(work, "out")
    for d in (data_dir, out_dir, os.path.join(work, "tmp")):
        os.makedirs(d, exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))

    rows = inputs.write_tables(data_dir, args.seed)

    t0 = time.perf_counter()
    from workloads import WORKLOADS  # pyspark and the engine modules the flows call

    if args.workload not in WORKLOADS:
        shutil.rmtree(work, ignore_errors=True)
        print(f"unknown workload {args.workload!r}; choose from {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    w = WORKLOADS[args.workload]
    spark, session = setup(work, t0)
    items = rows[w.table]
    table_bytes = os.path.getsize(os.path.join(data_dir, f"{w.table}.parquet"))
    runner = Runner(spark, w, data_dir, out_dir, args.seed)

    passes: list[dict] = []
    checks: list[tuple[str, str, bool, str]] = []  # (pass, check, ok, detail)
    attempted = failed = 0
    t_start = time.perf_counter()
    for i in itertools.count():
        label = f"pass{i}"
        attempted += len(w.steps) + 1  # + sources.load_table
        sparkstats.collect_garbage(spark)  # every pass starts from the live set alone
        try:
            p = runner.run(label, traced=bool(args.trace))
        except PassFailed as e:
            failed += len(w.steps) + 1 - e.done
            checks.append((label, "checks_ran", False, "pass failed"))
        else:
            out = p.pop("out")
            try:
                checks += [(label, *c) for c in w.check(spark, out)]
            except Exception as e:  # a check that cannot run is a failed check
                traceback.print_exc(file=sys.stderr)
                checks.append((label, "checks_ran", False, repr(e)))
            del out  # the live set below is what the session holds, not the checks
            p["counters"] = sparkstats.counters(spark, list(p["groups"].values()))
            sparkstats.collect_garbage(spark)
            p["pinned_rdds_after"] = sparkstats.pinned_rdds(spark)
            p["live_heap_mb"] = sparkstats.heap_used_mb(spark)
            passes.append(p)
        if time.perf_counter() - t_start >= args.seconds:
            break
    attempted += len(checks)
    failed += sum(1 for *_, ok, _ in checks if not ok)
    rss = sparkstats.peak_rss_mb(spark)

    # every metric describes the first pass, the one a fresh session runs;
    # later passes are printed as extra samples
    units = published_units(bool(args.trace))
    metrics: dict[str, float] = {}
    first = passes[0] if passes and passes[0]["label"] == "pass0" else None
    if args.trace:
        if first:
            metrics = {**session, **layer_metrics(spark, WORKLOADS, runner, first, table_bytes)}
        runner.write_spans(os.path.join(BENCH_DIR, ".work", "spans", f"{w.name}-s{args.seed}.jsonl"))
    elif first:
        c = first["counters"]
        metrics = {
            "setup_s": session["session.start_s"] + session["session.warmup_s"],
            "run_s": first["run_s"],
            "items_per_s": items / first["run_s"],
            "jobs": c.jobs,
            "stages": c.stages,
            "tasks": c.tasks,
            "shuffle_bytes": c.shuffle_bytes,
            "live_heap_mb": first["live_heap_mb"],
        }

    stop(spark)
    shutil.rmtree(work, ignore_errors=True)

    print(
        f"workload={w.name} seed={args.seed} trace={args.trace} cpus={os.environ['SPARK_GRAFT_CPUS']} "
        f"input_rows={rows} items={items} ({w.items})"
    )
    for p in passes:
        c = p["counters"]
        print(
            f"pass {p['label']}{' traced' if p['traced'] else ''}: run_s={p['run_s']:.3f} "
            f"jobs={c.jobs} stages={c.stages} tasks={c.tasks} shuffle_bytes={c.shuffle_bytes} "
            f"pinned_rdds_after={p['pinned_rdds_after']} live_heap_mb={p['live_heap_mb']:.1f}"
        )
    later = [p["run_s"] for p in passes[1:]]
    if later:
        print(f"later passes run_s: median={statistics.median(later):.3f} max={max(later):.3f} n={len(later)}")
    for label, name, ok, detail in checks:
        print(f"check {label} {name}: {'ok' if ok else 'FAILED'} ({detail})")
    print(f"failed_frac: {failed / attempted} ratio ({failed} of {attempted} steps and checks)")
    print(f"peak_rss_mb: {rss} MB (driver JVM + Python VmHWM)")
    for k, v in metrics.items():
        print(f"{k}: {v} {units[k]}")
    print(
        json.dumps(
            {
                "correct": failed == 0 and set(metrics) == set(units),
                "attempted": attempted,
                "failed": failed,
                "metrics": {k: {"value": metrics.get(k, 0), "unit": u} for k, u in units.items()},
            }
        )
    )
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
