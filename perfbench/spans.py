"""Span recording, Spark status-store counters and RSS sampling.

Spans are recorded from the benchmark's own files, around calls into the
package's public functions.  A span is (name, start, end, parent,
iteration).  After an iteration the job list of Spark's status store is
read once and each job is attributed to the innermost span whose interval
holds the job's submission time.  Submission time, not the thread-local
job group, because work is also submitted from other threads (build_gtfs
builds its plans on a thread pool; a streaming query runs its
micro-batches on its own thread).  Nothing is read while an action runs,
so the collector adds no Spark jobs.
"""

from __future__ import annotations

import os
import threading
import time
from contextlib import contextmanager

from py4j.protocol import Py4JJavaError

# the counters span_counters returns
COUNTERS = (
    "wall_s", "jobs", "stages", "tasks", "failed_tasks", "task_run_s",
    "task_cpu_s", "shuffle_write_mb", "spill_mb", "max_stage_tasks",
    "slot_util",
)


class Tracer:
    """Keeps spans in memory; `enabled=False` makes `span` a bare yield so
    the untraced run pays nothing but the context-manager call."""

    def __init__(self, enabled: bool) -> None:
        self.enabled = enabled
        self.spans: list[dict] = []
        self.iteration = -1     # set-up, before the first iteration
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str):
        """Yields the span record (None when disabled) so the caller can
        attach measured fields to it."""
        if not self.enabled:
            yield None
            return
        rec = {
            "name": name,
            "start": time.time(),
            "end": None,
            "parent": self._stack[-1] if self._stack else None,
            "iteration": self.iteration,
            "id": len(self.spans),
        }
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield rec
        finally:
            self._stack.pop()
            rec["end"] = time.time()


def _seq(scala_seq) -> list:
    return [scala_seq.apply(i) for i in range(scala_seq.size())]


class StatusStoreCollector:
    """Reads finished jobs and their stages from the SparkContext's
    AppStatusStore (works with spark.ui.enabled=false)."""

    def __init__(self, spark) -> None:
        self._store = spark.sparkContext._jsc.sc().statusStore()
        self._seen: set[int] = set()

    def new_jobs(self, settle_s: float = 5.0) -> list[dict]:
        """Jobs not returned before, each with its stage counters.  Waits
        up to `settle_s` for the listener bus to mark them finished."""
        deadline = time.time() + settle_s
        while True:
            fresh = [j for j in _seq(self._store.jobsList(None))
                     if j.jobId() not in self._seen]
            running = [j for j in fresh if not j.completionTime().isDefined()]
            if not running or time.time() > deadline:
                break
            time.sleep(0.05)
        out = []
        for j in fresh:
            if not j.completionTime().isDefined():
                continue
            self._seen.add(j.jobId())
            sub = j.submissionTime()
            job = {
                "job_id": j.jobId(),
                "submitted": sub.get().getTime() / 1000.0 if sub.isDefined() else 0.0,
                "status": j.status().toString(),
                "stages": [],
            }
            for sid in _seq(j.stageIds()):
                try:
                    st = self._store.lastStageAttempt(sid)
                except Py4JJavaError:   # stage already evicted from the store
                    continue
                if st.status().toString() == "SKIPPED":
                    continue
                job["stages"].append({
                    "tasks": st.numCompleteTasks() + st.numFailedTasks(),
                    "failed_tasks": st.numFailedTasks(),
                    "run_ms": st.executorRunTime(),
                    "cpu_ns": st.executorCpuTime(),
                    "shuffle_write_bytes": st.shuffleWriteBytes(),
                    "spill_bytes": st.memoryBytesSpilled() + st.diskBytesSpilled(),
                })
            out.append(job)
        return out


def attribute(spans: list[dict], jobs: list[dict]) -> None:
    """Give each job to the innermost span (latest start) that holds its
    submission time; unmatched jobs are dropped (they belong to untraced
    benchmark work such as output checks)."""
    for s in spans:
        s.setdefault("jobs", [])
    closed = [s for s in spans if s["end"] is not None]
    for job in jobs:
        best = None
        for s in closed:
            if s["start"] <= job["submitted"] <= s["end"]:
                if best is None or s["start"] >= best["start"]:
                    best = s
        if best is not None:
            best["jobs"].append(job)


def span_counters(span: dict, cores: int) -> dict:
    wall = span["end"] - span["start"]
    stages = [st for j in span.get("jobs", []) for st in j["stages"]]
    run_s = sum(st["run_ms"] for st in stages) / 1000.0
    return {
        "wall_s": wall,
        "jobs": len(span.get("jobs", [])),
        "stages": len(stages),
        "tasks": sum(st["tasks"] for st in stages),
        "failed_tasks": sum(st["failed_tasks"] for st in stages),
        "task_run_s": run_s,
        "task_cpu_s": sum(st["cpu_ns"] for st in stages) / 1e9,
        "shuffle_write_mb": sum(st["shuffle_write_bytes"] for st in stages) / 1e6,
        "spill_mb": sum(st["spill_bytes"] for st in stages) / 1e6,
        "max_stage_tasks": max((st["tasks"] for st in stages), default=0),
        "slot_util": run_s / (wall * cores) if wall > 0 else 0.0,
    }


def process_tree(root: int) -> dict[int, int]:
    """{pid: RSS bytes} of `root` and every descendant process, from /proc."""
    children: dict[int, list[int]] = {}
    rss: dict[int, int] = {}
    page = os.sysconf("SC_PAGE_SIZE")
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        pid = int(entry)
        children.setdefault(int(fields[1]), []).append(pid)
        rss[pid] = int(fields[21]) * page
    tree, todo = {}, [root]
    while todo:
        pid = todo.pop()
        tree[pid] = rss.get(pid, 0)
        todo.extend(children.get(pid, ()))
    return tree


class RssSampler:
    """Samples the summed RSS of this process tree (Python driver, the
    Spark JVM and its Python workers) every `period_s` on a thread."""

    def __init__(self, period_s: float = 0.1) -> None:
        self._period = period_s
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self.peak = 0

    def _loop(self) -> None:
        me = os.getpid()
        while not self._stop.is_set():
            self.peak = max(self.peak, sum(process_tree(me).values()))
            self._stop.wait(self._period)

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)
