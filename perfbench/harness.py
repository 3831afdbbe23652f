"""Session lifecycle, spans and Spark event-log attribution for the benchmark.

A :class:`Tracer` records one span per call into an engine layer.  With
tracing off a span costs one ``perf_counter`` pair and nothing reaches
Spark; with tracing on every span also tags the Spark jobs it runs with
``setJobGroup(<span id>)``, so the event log's stage metrics can be joined
back to the span that caused them.
"""

from __future__ import annotations

import glob
import json
import os
import statistics
import subprocess
import time
from contextlib import contextmanager
from typing import Any, Iterator


class Tracer:
    """Spans in memory: name, start, end, parent and operation id.

    A span's ``seconds`` (``perf_counter``) is set traced or not, so the
    workloads time themselves through the same spans.  A top-level span is
    one operation; its descendants share its id as ``op``.
    """

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict[str, Any]] = []
        self._stack: list[dict[str, Any]] = []
        self._sc = None

    def bind(self, spark) -> None:
        """Tag jobs of the (new) session with the innermost open span."""
        self._sc = spark.sparkContext if spark is not None else None
        self._tag()

    def _tag(self) -> None:
        if not self.enabled or self._sc is None:
            return
        if self._stack:
            top = self._stack[-1]
            self._sc.setJobGroup(top["id"], top["name"])
        else:
            self._sc.setLocalProperty("spark.jobGroup.id", None)

    @contextmanager
    def span(self, name: str) -> Iterator[dict[str, Any]]:
        parent = self._stack[-1] if self._stack else None
        rec: dict[str, Any] = {"name": name}
        if self.enabled:
            sid = f"span-{len(self.spans)}"
            rec.update(
                id=sid,
                parent=parent["id"] if parent else None,
                op=parent["op"] if parent else sid,
                start=time.time(),
                end=None,
            )
            self.spans.append(rec)
            self._stack.append(rec)
            self._tag()
        t0 = time.perf_counter()
        try:
            yield rec
        finally:
            rec["seconds"] = time.perf_counter() - t0
            if self.enabled:
                rec["end"] = time.time()
                self._stack.pop()
                self._tag()


# --------------------------------------------------------------------------- #
# Spark session lifecycle
# --------------------------------------------------------------------------- #

def jvm_pid() -> int | None:
    from pyspark import SparkContext

    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    return proc.pid if proc is not None else None


def jvm_peak_rss_mb(pid: int) -> float:
    """VmHWM (peak resident set) of the gateway JVM."""
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    raise RuntimeError(f"no VmHWM for pid {pid}")


def _children(pid: int) -> list[int]:
    kids = []
    for stat in glob.glob("/proc/[0-9]*/stat"):
        try:
            with open(stat) as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        if int(fields[1]) == pid:
            kids.append(int(stat.split("/")[2]))
    return kids


def _descendants(pid: int) -> list[int]:
    out, todo = [], [pid]
    while todo:
        kids = _children(todo.pop())
        out += kids
        todo += kids
    return out


def shutdown_jvm(timeout: float = 60.0) -> None:
    """Stop the active session, the gateway JVM and the Python workers it
    started, and wait until every one of those processes has ended."""
    from pyspark import SparkContext
    from pyspark.sql import SparkSession

    active = SparkSession.getActiveSession()
    if active is not None:
        active.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = gw.proc
    workers = _descendants(proc.pid)
    gw.shutdown()
    proc.stdin.close()  # the gateway exits when its stdin closes
    try:
        proc.wait(timeout)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait(timeout)
    SparkContext._gateway = None
    SparkContext._jvm = None
    deadline = time.time() + timeout
    while workers and time.time() < deadline:
        workers = [p for p in workers if os.path.exists(f"/proc/{p}")]
        if workers:
            time.sleep(0.05)
    for p in workers:  # a worker that outlived its JVM: end it
        try:
            os.kill(p, 9)
        except ProcessLookupError:
            pass


# --------------------------------------------------------------------------- #
# event log -> per-job metrics
# --------------------------------------------------------------------------- #

_TASK_FIELDS = {
    "executor_run_ms": lambda m: m["Executor Run Time"],
    "executor_cpu_ms": lambda m: m["Executor CPU Time"] / 1e6,
    "gc_ms": lambda m: m["JVM GC Time"],
    "shuffle_read_bytes": lambda m: m["Shuffle Read Metrics"]["Remote Bytes Read"]
    + m["Shuffle Read Metrics"]["Local Bytes Read"],
    "shuffle_write_bytes": lambda m: m["Shuffle Write Metrics"]["Shuffle Bytes Written"],
    "spill_bytes": lambda m: m["Memory Bytes Spilled"] + m["Disk Bytes Spilled"],
    "input_bytes": lambda m: m["Input Metrics"]["Bytes Read"],
    "output_bytes": lambda m: m["Output Metrics"]["Bytes Written"],
}


def read_event_logs(log_dir: str) -> list[dict[str, Any]]:
    """One record per Spark job across every application in ``log_dir``:
    its job group, submission/completion time (epoch ms), stage and task
    counts, and the task metrics summed over its stages."""
    jobs: list[dict[str, Any]] = []
    for path in sorted(glob.glob(os.path.join(log_dir, "*", "events_*"))):
        by_id: dict[int, dict[str, Any]] = {}
        stage_job: dict[int, dict[str, Any]] = {}
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev["Event"]
                if kind == "SparkListenerJobStart":
                    job = {
                        "app": path,
                        "job": ev["Job ID"],
                        "group": (ev.get("Properties") or {}).get("spark.jobGroup.id"),
                        "start_ms": ev["Submission Time"],
                        "end_ms": None,
                        "stages": 0,
                        "tasks": 0,
                        **{k: 0.0 for k in _TASK_FIELDS},
                    }
                    by_id[ev["Job ID"]] = job
                    jobs.append(job)
                    for sid in ev["Stage IDs"]:
                        stage_job[sid] = job
                elif kind == "SparkListenerJobEnd":
                    by_id[ev["Job ID"]]["end_ms"] = ev["Completion Time"]
                elif kind == "SparkListenerStageCompleted":
                    job = stage_job.get(ev["Stage Info"]["Stage ID"])
                    if job is not None:
                        job["stages"] += 1
                elif kind == "SparkListenerTaskEnd":
                    job = stage_job.get(ev["Stage ID"])
                    metrics = ev.get("Task Metrics")
                    if job is None or metrics is None:
                        continue
                    job["tasks"] += 1
                    for k, get in _TASK_FIELDS.items():
                        job[k] += get(metrics)
    return jobs


def _covered(lo: float, hi: float, intervals: list[tuple[float, float]]) -> float:
    """Length of ``[lo, hi]`` covered by the union of ``intervals``."""
    total, cur_lo, cur_hi = 0.0, None, None
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals if b > lo and a < hi):
        if cur_hi is None or a > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = a, b
        else:
            cur_hi = max(cur_hi, b)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


def self_times(spans: list[dict[str, Any]]) -> dict[str, float]:
    """Span id -> its duration minus the part its children cover."""
    kids: dict[str, list[tuple[float, float]]] = {}
    for s in spans:
        if s["parent"] is not None:
            kids.setdefault(s["parent"], []).append((s["start"], s["end"]))
    return {
        s["id"]: (s["end"] - s["start"]) - _covered(s["start"], s["end"], kids.get(s["id"], []))
        for s in spans
    }


def check_trace(spans: list[dict[str, Any]], jobs: list[dict[str, Any]]) -> list[str]:
    """The trace self-check; returns the list of violations (empty = pass).

    1. For every top-level operation, its self time plus its descendants'
       self times equals its wall time within 1 ms.
    2. Every Spark job in the event log carries the id of a recorded span.
    """
    problems = []
    selfs = self_times(spans)
    tree: dict[str, float] = {}
    for s in spans:
        tree[s["op"]] = tree.get(s["op"], 0.0) + selfs[s["id"]]
    for s in spans:
        if s["parent"] is None:
            wall = s["end"] - s["start"]
            if abs(tree[s["id"]] - wall) > 1e-3:
                problems.append(
                    f"{s['id']} ({s['name']}): self times sum to "
                    f"{tree[s['id']]:.6f} s, wall {wall:.6f} s"
                )
    ids = {s["id"] for s in spans}
    stray = [j for j in jobs if j["group"] not in ids]
    if stray:
        problems.append(
            f"{len(stray)} Spark job(s) not attributed to any span, e.g. "
            f"job {stray[0]['job']} group {stray[0]['group']!r}"
        )
    return problems


def spark_layer(
    spans: list[dict[str, Any]], jobs: list[dict[str, Any]], ops: list[str]
) -> dict[str, float]:
    """Spark work per operation, averaged over the operation ids ``ops``:
    job/stage/task counts, executor metrics, and ``driver_only_s``, the
    operation's wall time not covered by any of its Spark jobs."""
    op_of = {s["id"]: s["op"] for s in spans}
    wanted = set(ops)
    tops = {s["id"]: s for s in spans if s["id"] in wanted}
    sums = {"jobs": 0.0, "stages": 0.0, "tasks": 0.0, **{k: 0.0 for k in _TASK_FIELDS}}
    job_spans: dict[str, list[tuple[float, float]]] = {op: [] for op in wanted}
    for j in jobs:
        op = op_of.get(j["group"])
        if op not in wanted:
            continue
        sums["jobs"] += 1
        sums["stages"] += j["stages"]
        sums["tasks"] += j["tasks"]
        for k in _TASK_FIELDS:
            sums[k] += j[k]
        if j["end_ms"] is not None:
            job_spans[op].append((j["start_ms"] / 1e3, j["end_ms"] / 1e3))
    driver_only = sum(
        (top["end"] - top["start"]) - _covered(top["start"], top["end"], job_spans[op])
        for op, top in tops.items()
    )
    n = max(1, len(tops))
    out = {f"spark.{k}": v / n for k, v in sums.items()}
    out["spark.driver_only_s"] = driver_only / n
    return out


# --------------------------------------------------------------------------- #
# small statistics helpers
# --------------------------------------------------------------------------- #

def median(xs: list[float]) -> float:
    return statistics.median(xs) if xs else 0.0


def tree_bytes(path: str) -> int:
    total = 0
    for dirpath, _dirs, files in os.walk(path):
        for name in files:
            total += os.path.getsize(os.path.join(dirpath, name))
    return total
