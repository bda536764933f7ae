#!/usr/bin/env python3
"""The repo benchmark: one command, one process, Spark on local[nproc].

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the root of a checkout.  The seed generates the workload's
inputs under perfbench/work/ (removed on exit); the program only sees the
generated files.  Set-up (the session start) is timed; then iterations
run closed-loop, one after another, until S seconds have passed (at least
one; every iteration of both workloads takes longer than the 1 s the
benchmark is run with, so each run times one cold iteration in a fresh
process).  Every iteration's output is checked, untimed; a failed check
or an exception counts as a failed iteration.  The last stdout line is
one JSON object:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With --trace 0 the metrics are the end-to-end ones; with --trace 1 they
are the per-layer ones, from spans recorded around each call into the
package and Spark's status-store counters attributed to them.  The traced
run also writes every span to perfbench/traces/.  See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time
import traceback

from spans import (
    COUNTERS,
    RssSampler,
    StatusStoreCollector,
    Tracer,
    attribute,
    process_tree,
    span_counters,
)

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

# per-layer metrics reported for each span name (every workload reports
# all of them; a layer the workload does not call reads 0)
SPAN_METRICS = {
    "session.get_spark": ("wall_s", "jobs", "task_run_s"),
    "pipeline.gtfs_build.build_gtfs": ("wall_s", "jobs"),
    "sources.gtfs.write_gtfs_feed": COUNTERS,
    "pipeline.feed_check.validate_gtfs_feed": COUNTERS,
    "sources.gtfs.make_gtfs_zip": ("wall_s",),
    "streaming.neardup_stream": COUNTERS,
}
QUERY_METRICS = ("plan_s", "exec_s", "jobs", "stages", "max_stage_tasks",
                 "task_run_s", "slot_util")
STREAM_PROGRESS = ("triggers", "trigger_ms", "add_batch_ms", "query_planning_ms",
                   "state_rows", "state_mem_mb")
UNITS = {"s": "s", "ms": "ms", "mb": "MB", "util": "ratio"}
# a run whose iteration lost more than this share of the machine's CPU time
# to other guests is flagged `host_noisy` in its summary line
NOISY_STEAL_PCT = 5.0


def _unit(metric: str) -> str:
    return UNITS.get(metric.rsplit("_", 1)[-1], "count")


def _cpu_times() -> list[int]:
    """The machine-wide CPU counters of /proc/stat (steal is the 8th)."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def _shutdown(spark) -> None:
    """Stop the session and its gateway JVM, then wait until every process
    the run started (the JVM and its Python workers) has ended."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    gateway.shutdown()
    gateway.proc.stdin.close()      # the JVM exits when its stdin closes
    gateway.proc.wait(timeout=60)
    deadline = time.time() + 30
    while len(process_tree(os.getpid())) > 1 and time.time() < deadline:
        time.sleep(0.1)


def _die(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def _prepare_environment(work: str) -> None:
    """Everything Spark and its Python workers write stays under `work`,
    and the workers can import the package from the checkout."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    paths = [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(paths)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = tmp
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        "--conf spark.ui.showConsoleProgress=false "
        f"--driver-java-options '-Djava.io.tmpdir={tmp} -XX:-UsePerfData' pyspark-shell"
    )
    sys.path[:0] = [ROOT, os.path.join(ROOT, "scripts"), HERE]


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    for need in ("tegallega_spark/session.py", "scripts/stress_extract.py"):
        if not os.path.isfile(os.path.join(ROOT, need)):
            _die(f"{need} not found: run from the root of a repository checkout")
    work = os.path.join(HERE, "work", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    try:
        _prepare_environment(work)
        from workloads import WORKLOADS

        if args.workload not in WORKLOADS:
            _die(f"unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}")
        result = run(WORKLOADS[args.workload](), args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))     # perfbench/work, when no other run uses it
        except OSError:
            pass
    print(json.dumps(result))


def run(wl, args, work: str) -> dict:
    from tegallega_spark.session import get_spark

    trace = Tracer(enabled=bool(args.trace))
    wl.prepare(os.path.join(work, "inputs"), args.seed)
    iter_s, failures = [], []

    with RssSampler() as rss:
        with trace.span("session.get_spark"):
            t0 = time.perf_counter()
            spark = get_spark("perfbench")
            setup_s = time.perf_counter() - t0
        spark.sparkContext.setLogLevel("ERROR")
        collector = StatusStoreCollector(spark) if args.trace else None

        cpu0 = _cpu_times()
        deadline = time.perf_counter() + args.seconds
        attempted = 0
        while attempted == 0 or time.perf_counter() < deadline:
            trace.iteration = attempted
            t0 = time.perf_counter()
            try:
                out = wl.iterate(spark, trace, attempted, work)
                iter_s.append(time.perf_counter() - t0)
                why = wl.check(spark, out)
            except Exception:  # noqa: BLE001 — a failed iteration is counted, not fatal
                why = traceback.format_exc(limit=4)
            if why:
                failures.append(f"iteration {attempted}: {why}")
            attempted += 1
        cpu = [b - a for a, b in zip(cpu0, _cpu_times())]
        jobs = collector.new_jobs() if collector else []
        peak_rss = rss.peak
    _shutdown(spark)

    for f in failures:
        print(f"perfbench: FAILED {f}", file=sys.stderr)
    failed = len(failures)
    steal_pct = 100.0 * cpu[7] / max(sum(cpu), 1)
    iter_med = statistics.median(iter_s) if iter_s else 0.0
    summary = {
        "workload": args.workload, "seed": args.seed, "attempted": attempted,
        "failed": failed, "error_rate": failed / attempted, "iter_s": iter_s,
        "setup_s": setup_s, "peak_rss_mb": peak_rss / 1e6,
        # CPU time the hypervisor gave to other guests while iterating: one
        # source of run-to-run spread on a shared host
        "host_steal_pct": steal_pct, "host_noisy": steal_pct > NOISY_STEAL_PCT,
        **wl.summary(),
    }
    print("perfbench: " + json.dumps(summary), file=sys.stderr)
    if args.trace:
        metrics = per_layer(trace.spans, jobs, iter_med)
        metrics["perfbench.process.peak_rss_mb"] = peak_rss / 1e6
        os.makedirs(os.path.join(HERE, "traces"), exist_ok=True)
        with open(os.path.join(HERE, "traces", f"{args.workload}-seed{args.seed}.json"), "w") as f:
            json.dump({"summary": summary, "metrics": metrics, "spans": trace.spans}, f)
    else:
        metrics = {
            "setup_s": setup_s,
            "iter_s": iter_med,
            "docs_per_s": statistics.median(wl.doc_rates) if wl.doc_rates else 0.0,
        }
    units = {"setup_s": "s", "iter_s": "s", "docs_per_s": "1/s"}
    return {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": units.get(k) or _unit(k)}
                    for k, v in metrics.items()},
    }


def per_layer(spans: list[dict], jobs: list[dict], iter_med: float) -> dict:
    """`<layer>.<function>.<metric>` for every span name: the metric summed
    over the calls in one iteration (max for max_stage_tasks), then the
    median over the iterations."""
    cores = os.cpu_count() or 1
    attribute(spans, jobs)
    by_name: dict[str, dict[int, list[dict]]] = {}
    for s in spans:
        by_name.setdefault(s["name"], {}).setdefault(s["iteration"], []).append(s)

    def combine(group: list[dict]) -> dict:
        extra = ("plan_s", "exec_s", "defects")
        cs = [{**span_counters(s, cores), **{k: s.get(k, 0) for k in extra}} for s in group]
        tot = {k: sum(c[k] for c in cs) for k in cs[0]}
        tot["max_stage_tasks"] = max(c["max_stage_tasks"] for c in cs)
        tot["slot_util"] = tot["task_run_s"] / (tot["wall_s"] * cores) if tot["wall_s"] else 0.0
        tot.update(group[-1].get("progress", {}))
        return tot

    def median_of(name: str, metric: str) -> float:
        groups = by_name.get(name, {})
        vals = [combine(g).get(metric, 0) for g in groups.values()]
        return statistics.median(vals) if vals else 0

    from workloads import QueryMix

    out = {}
    for name, metrics in SPAN_METRICS.items():
        for m in metrics:
            out[f"{name}.{m}"] = median_of(name, m)
    for q in QueryMix.QUERIES:
        for m in QUERY_METRICS:
            out[f"queries.{q}.{m}"] = median_of(f"queries.{q}", m)
    for m in STREAM_PROGRESS:
        out[f"streaming.neardup_stream.{m}"] = median_of("streaming.neardup_stream", m)
    out["pipeline.feed_check.validate_gtfs_feed.defects"] = median_of(
        "pipeline.feed_check.validate_gtfs_feed", "defects")
    out["perfbench.iteration.wall_s"] = iter_med
    return out


if __name__ == "__main__":
    main()
