#!/usr/bin/env python
"""GTFS throughput race at N× input scale.

Replicates the reference inputs N× (relation dirs copied under shifted ids,
routes.json groups suffixed per copy, schedule rows re-keyed) and times

  (a) the reference's single-process generate_gtfs.py
  (b) tegallega_spark.pipeline.gtfs_build (all 7 tables materialized)

on the same replicated input.  The reference's stop→shape projection is
O(stops × shape_pts) per route and strictly sequential across routes, so
its wall-clock grows ≈N×; the Spark DAG spreads routes across cores.

Usage: python scripts/stress_gtfs.py [N]    (default 8)
"""

from __future__ import annotations

import csv
import json
import os
import shutil
import subprocess
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

REF = "/root/reference"
OUT = "/tmp/tegallega_gtfs_stress"

# --pause-pid=N (r13): same serial-window instrumentation as
# stress_extract — SIGSTOP an unrelated background job for exactly the
# TIMED regions (reference runs, Spark runs) and SIGCONT it for untimed
# harness work (input replication, feed parity), so a multi-hour
# feasibility job and this race can share the box without contaminating
# the published numbers.
PAUSE_PID: int | None = None


def _pause_background() -> None:
    if PAUSE_PID:
        import signal

        os.kill(PAUSE_PID, signal.SIGSTOP)


def _resume_background() -> None:
    if PAUSE_PID:
        import signal

        try:
            os.kill(PAUSE_PID, signal.SIGCONT)
        except ProcessLookupError:
            pass


def build_input(n: int) -> str:
    root = os.path.join(OUT, f"x{n}")
    marker = os.path.join(root, ".complete")
    if os.path.exists(marker):
        return root
    if os.path.exists(root):
        shutil.rmtree(root)
    os.makedirs(os.path.join(root, "route-data", "schedule"))
    os.makedirs(os.path.join(root, "route-data", "geojson"))

    with open(f"{REF}/routes.json") as f:
        doc = json.load(f)

    # replicate route groups per copy; relation ids shift to {rid}00{i}
    new_cats = []
    for cat in doc["categories"]:
        groups = []
        for i in range(n):
            for g in cat.get("routeGroups", []):
                g2 = json.loads(json.dumps(g))
                g2["groupId"] = f"{g['groupId']}C{i}"
                for r in g2.get("routes", []):
                    r["relationId"] = f"{r['relationId']}00{i}"
                groups.append(g2)
        cat2 = dict(cat)
        cat2["routeGroups"] = groups
        new_cats.append(cat2)
    with open(os.path.join(root, "routes.json"), "w") as f:
        json.dump({"categories": new_cats}, f)

    # copy relation dirs under each shifted id (symlinks would confuse the
    # reference's os.path.exists-per-file flow on some setups; copy is fine)
    src_geo = f"{REF}/route-data/geojson"
    for rid in os.listdir(src_geo):
        for i in range(n):
            dst = os.path.join(root, "route-data", "geojson", f"{rid}00{i}")
            shutil.copytree(os.path.join(src_geo, rid), dst)

    # schedule CSVs: same headers, data rows replicated with shifted
    # relation ids and trip numbers
    src_sched = f"{REF}/route-data/schedule"
    for fname in os.listdir(src_sched):
        with open(os.path.join(src_sched, fname), newline="") as f:
            rows = list(csv.reader(f))
        header, body = rows[:2], [r for r in rows[2:] if r and r[0].strip()]
        out_rows = list(header)
        for i in range(n):
            for r in body:
                r2 = list(r)
                r2[0] = f"{r[0]}00{i}"
                r2[1] = str(int(r[1]) + i * 100000)
                out_rows.append(r2)
        with open(os.path.join(root, "route-data", "schedule", fname), "w", newline="") as f:
            csv.writer(f).writerows(out_rows)

    os.makedirs(os.path.join(root, "action-scripts"), exist_ok=True)
    shutil.copy(f"{REF}/action-scripts/generate_gtfs.py", os.path.join(root, "action-scripts"))
    open(marker, "w").close()
    return root


def time_reference(root: str) -> tuple[float, int]:
    shutil.rmtree(os.path.join(root, "gtfs"), ignore_errors=True)
    t0 = time.time()
    subprocess.run(
        ["python", "action-scripts/generate_gtfs.py"],
        cwd=root, check=True, capture_output=True, timeout=7200,
    )
    dt = time.time() - t0
    with open(os.path.join(root, "gtfs", "stop_times.txt")) as f:
        n = sum(1 for _ in f) - 1
    return dt, n


def _input_mb(root: str) -> float:
    total = 0
    for dirpath, _, files in os.walk(os.path.join(root, "route-data")):
        for f in files:
            total += os.path.getsize(os.path.join(dirpath, f))
    return total / 1e6


def make_session(root: str):
    from tegallega_spark.session import get_spark

    # Right-size parallelism to the input, the way dynamic allocation sizes
    # a cluster to a job: on a 10 MB input, 32 executor threads × 32
    # shuffle partitions are pure scheduling overhead (~0.4 s per job on
    # this box × ~30 jobs), not parallelism.  ~1 thread per 2 MB of input,
    # clamped to [4, machine]; at 8× and above this saturates to all cores.
    cores = max(4, min(os.cpu_count() or 4, int(_input_mb(root) / 2)))
    spark = get_spark("gtfs-stress", cpus=cores)
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(1).count()
    return spark


def time_spark(root: str, spark=None, sink_dir: str | None = None
               ) -> tuple[float, int]:
    """One full pipeline execution: plan construction + all 7 table
    materializations.  Pass a warm `spark` to measure steady-session
    time (the long-lived-cluster model bench.py also uses — JVM/JIT/
    codegen warmup amortizes to zero on a real deployment); with
    spark=None a fresh session is created and its one-time warmup lands
    inside the measured run.

    sink_dir: when set, every table is written through the REAL K1 CSV
    sink (sources.gtfs.write_gtfs_table — parallel part write + ordered
    driver concat) instead of noop, so the measured wall includes full
    CSV serialization + final file assembly, symmetric with the
    reference script which always writes its 7 .txt files (r11 verdict
    #8: the end-to-end race wrote noop, leaving the sink's share of the
    flagship number invisible outside the isolated sink measurement)."""
    from tegallega_spark.pipeline.gtfs_build import build_gtfs

    own_session = spark is None
    if own_session:
        spark = make_session(root)
    else:
        spark.catalog.clearCache()  # every run recomputes the full DAG
    from concurrent.futures import ThreadPoolExecutor

    t0 = time.time()
    # materialize ALL shared persisted upstreams (catalog, stops_raw,
    # shapes) CONCURRENTLY with the construction of the remaining table
    # plans: those jobs are cluster work, plan construction is driver/py4j
    # work — serializing them (the old flow) wasted the cache-warm jobs'
    # wall-clock inside whichever output job touched each cache first
    pre = ThreadPoolExecutor(max_workers=3)
    warm = []
    tables = build_gtfs(
        spark, root,
        on_cached=lambda _name, df: warm.append(pre.submit(df.count)),
    )
    # the 7 sinks are independent outputs — run them as concurrent jobs
    # (Spark's scheduler interleaves them; the shared persisted upstreams
    # are computed once by whichever job touches them first).  The
    # reference writes its 7 files sequentially because it is a single
    # Python process; concurrent actions are part of the engine.
    for f in warm:  # caches ready before concurrent first-touch
        f.result()

    def write(item):
        name, df = item
        if sink_dir is not None:
            from tegallega_spark.sources.gtfs import write_gtfs_table

            write_gtfs_table(df, name, sink_dir)
            return None
        if name == "stop_times":
            return df.count()
        df.write.format("noop").mode("overwrite").save()
        return None

    with ThreadPoolExecutor(max_workers=len(tables)) as ex:
        results = list(ex.map(write, tables.items()))
    dt = time.time() - t0
    if sink_dir is not None:
        # row count read back from the written file, untimed — symmetric
        # with time_reference, which also counts after the clock stops
        with open(os.path.join(sink_dir, "stop_times.txt")) as f:
            n = sum(1 for _ in f) - 1
    else:
        n = next(r for r in results if r is not None)
    if own_session:
        spark.stop()
    return dt, n


def _multiset_md5(path: str) -> str:
    """Order-insensitive content hash: SUM of per-line md5s modulo
    2**128 (not XOR — XOR is parity-of-occurrence, so a line appearing
    an even number of times contributes nothing and duplicate
    multiplicity is invisible; addition is multiset-homomorphic: k
    copies contribute k*h).  Also folds in the line count, so two files
    can only collide by forging a md5 sum collision.  Streaming and
    O(1) memory, so it scales to the 39 M-row stop_times files; a match
    means the two files contain the SAME MULTISET of lines."""
    import hashlib

    acc = 0
    n = 0
    with open(path, "rb") as f:
        for line in f:
            acc = (acc + int.from_bytes(
                hashlib.md5(line.rstrip(b"\r\n")).digest(), "big"
            )) % (1 << 128)
            n += 1
    return f"{n:x}:{acc:032x}"


def compare_feeds(ref_dir: str, spark_dir: str) -> dict:
    """Per-table parity of the two written feeds, strongest verdict
    first: byte-identical → same lines in the same ORDER (the
    reference's csv module writes CRLF, the Spark sink LF — an
    EOL-only difference) → same multiset of lines → DIFFERENT."""
    import filecmp

    def same_order_eol_insensitive(a: str, b: str) -> bool:
        with open(a, "rb") as fa, open(b, "rb") as fb:
            from itertools import zip_longest

            for la, lb in zip_longest(fa, fb):
                if la is None or lb is None:
                    return False
                if la.rstrip(b"\r\n") != lb.rstrip(b"\r\n"):
                    return False
        return True

    out = {}
    for fname in sorted(os.listdir(ref_dir)):
        if not fname.endswith(".txt"):
            continue
        a, b = os.path.join(ref_dir, fname), os.path.join(spark_dir, fname)
        if not os.path.exists(b):
            out[fname] = "MISSING"
            continue
        if filecmp.cmp(a, b, shallow=False):
            out[fname] = "bytes_identical"
        elif same_order_eol_insensitive(a, b):
            out[fname] = "same_lines_same_order_eol_only"
        elif _multiset_md5(a) == _multiset_md5(b):
            out[fname] = "same_lines_different_order"
        else:
            out[fname] = "DIFFERENT"
    return out


def main() -> None:
    args = sys.argv[1:]
    sink = "--sink" in args
    global PAUSE_PID
    for a in args:
        if a.startswith("--pause-pid="):
            PAUSE_PID = int(a.split("=", 1)[1])
    nums = [int(a) for a in args if not a.startswith("--")]
    n = nums[0] if nums else 8
    root = build_input(n)
    # the host VM shows ±60% run-to-run jitter at small scale; best-of-2
    # on BOTH engines (symmetric) approximates steady state where each run
    # is cheap.  At n>8 a single run is minutes long and self-averages.
    runs = 3 if n <= 8 else 1
    _pause_background()
    try:
        ref_s, ref_rows = min(time_reference(root) for _ in range(runs))
    finally:
        _resume_background()
    # COLD first-session number (r6 verdict: the steady-session 1.41×
    # bundled a methodology change with the threaded-plans code change —
    # publish BOTH so they decompose): a fresh session created inside
    # time_spark, its one-time JVM/codegen/Arrow-worker warmup charged to
    # the measurement.  Only at small n, where warmup is a visible share.
    cold = None
    if n <= 8:
        _pause_background()
        try:
            cold_s, cold_rows = time_spark(root, spark=None)
        finally:
            _resume_background()
        assert cold_rows == ref_rows
        cold = round(cold_s, 2)
    # steady session across the Spark runs (see time_spark docstring):
    # symmetric with the reference's repeat, which also reuses a warm OS
    # page cache; each run still rebuilds + re-executes the whole DAG
    spark_session = make_session(root)
    _pause_background()
    try:
        spark_s, spark_rows = min(
            time_spark(root, spark=spark_session) for _ in range(runs)
        )
    finally:
        _resume_background()
    out = {
        "replication": n,
        "reference_script_sec": round(ref_s, 2),
        "spark_pipeline_sec": round(spark_s, 2),
        "speedup": round(ref_s / spark_s, 2),
        "stop_times_rows": {"reference": ref_rows, "spark": spark_rows},
    }
    if sink:
        # sink-INCLUDED measurement in the same session against the same
        # reference run (r11 verdict #8): the noop number above isolates
        # compute, this one adds the real K1 CSV serialization + concat
        sink_dir = os.path.join(root, "spark-gtfs")
        shutil.rmtree(sink_dir, ignore_errors=True)
        _pause_background()
        try:
            sink_s, sink_rows = min(
                time_spark(root, spark=spark_session, sink_dir=sink_dir)
                for _ in range(runs)
            )
        finally:
            _resume_background()
        assert sink_rows == ref_rows, (sink_rows, ref_rows)
        out["spark_with_k1_sink_sec"] = round(sink_s, 2)
        out["speedup_with_sink"] = round(ref_s / sink_s, 2)
        # parity of the two WRITTEN feeds, untimed (both engines already
        # paid their serialization inside the clock)
        out["feed_parity"] = compare_feeds(os.path.join(root, "gtfs"),
                                           sink_dir)
    spark_session.stop()
    if cold is not None:
        out["spark_cold_first_session_sec"] = cold
        out["speedup_cold"] = round(ref_s / cold, 2)
    print(json.dumps(out, indent=2))


if __name__ == "__main__":
    main()
