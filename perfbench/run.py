"""Lakehouse benchmark: one command, two seeded workloads, every metric.

Usage (from the repository root)::

    python3 perfbench/run.py --workload lakehouse_refresh --seed 1 --seconds 10 --trace 0

``--trace 0`` prints the end-to-end metrics; ``--trace 1`` records a span
around every layer call, tags Spark jobs with the span id, enables Spark's
event log, and prints the per-layer metrics instead.  The last line of
stdout is one JSON object: ``correct``, ``attempted``, ``failed`` and
``metrics`` (name -> value and unit).  Host context and, for a traced run,
the spans go to ``.perfbench_work/runs/`` and to stderr.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shutil
import sys

from harness import (
    Tracer,
    check_trace,
    jvm_peak_rss_mb,
    jvm_pid,
    median,
    read_event_logs,
    shutdown_jvm,
    spark_layer,
)
from workloads import HEADLINE, WORKLOADS, Run

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench_work")

E2E_UNITS = {
    "setup_s": "s",
    "op_p50_s": "s",
    "storage_bytes_per_row": "B/row",
}


def _isolate_environment(run_dir: str) -> None:
    """Keep every file the run (and the JVM and Python workers it starts)
    writes inside the checkout, and let Spark's Python workers import the
    engine package."""
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    path = os.environ.get("PYTHONPATH")
    os.environ["PYTHONPATH"] = ROOT + (os.pathsep + path if path else "")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "spark-local")
    os.environ["TMPDIR"] = tmp
    # -XX:-UsePerfData: no hsperfdata file under the system temp directory
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.chdir(run_dir)  # spark-warehouse / derby.log land here, not in the repo
    sys.path[:0] = [ROOT, os.path.join(ROOT, "tests")]


def _loadavg() -> list[float]:
    with open("/proc/loadavg") as f:
        return [float(x) for x in f.read().split()[:3]]


def _cpu_times() -> list[int]:
    """Host-wide jiffies from /proc/stat: user nice system idle iowait irq
    softirq steal."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:9]]


def _busy_and_steal(t0: list[int], t1: list[int]) -> dict[str, float]:
    """Share of host CPU time that was busy, and stolen by the hypervisor,
    between two ``_cpu_times`` readings: a noisy run shows here."""
    d = [b - a for a, b in zip(t0, t1)]
    total = sum(d) or 1
    return {"cpu_busy_frac": 1 - (d[3] + d[4]) / total, "cpu_steal_frac": d[7] / total}


def _layer_metrics(run, spans, jobs) -> dict[str, tuple[float, str]]:
    """Every per-layer metric, from the traced run's spans and event log.
    A layer the workload does not call reads 0."""
    measured = set(run.measured_ops)
    # layer spans inside timed operations only (set-up and checks excluded)
    in_ops: dict[str, list[float]] = {}
    for s in spans:
        if s["op"] in measured and s["id"] not in measured:
            in_ops.setdefault(s["name"], []).append(s["end"] - s["start"])

    def med(name: str) -> float:
        return median(in_ops.get(name, []))

    out: dict[str, tuple[float, str]] = {
        "session.start_s": (median(run.start_times), "s"),
        "session.first_start_s": (run.start_times[0], "s"),
        "session.jvm_peak_rss_mb": (run.layer["session.jvm_peak_rss_mb"], "MB"),
        "tables.merge_s": (med("tables.merge"), "s"),
        "tables.gold_merge_s": (med("tables.gold_merge"), "s"),
        "tables.anti_join_append_s": (med("tables.anti_join_append"), "s"),
        "tables.write_s": (med("tables.write"), "s"),
        "tables.read_s": (med("tables.read"), "s"),
        "tables.commits_per_cycle": (run.layer.get("tables.commits_per_cycle", 0.0), "count"),
        "tables.files_added_per_cycle": (run.layer.get("tables.files_added_per_cycle", 0.0), "count"),
        "tables.bytes_added_per_cycle": (run.layer.get("tables.bytes_added_per_cycle", 0.0), "B"),
        "tables.live_files": (run.layer.get("tables.live_files", 0.0), "count"),
    }
    for q in HEADLINE:
        out[f"queries.{q}.build_s"] = (med(f"queries.{q}.build"), "s")
        out[f"queries.{q}.action_s"] = (med(f"queries.{q}.action"), "s")
    units = {"jobs": "count", "stages": "count", "tasks": "count", "driver_only_s": "s"}
    for k, v in spark_layer(spans, jobs, sorted(measured)).items():
        field = k.split(".", 1)[1]
        unit = units.get(field) or ("ms" if field.endswith("_ms") else "B")
        out[k] = (v, unit)
    return out


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    run_dir = os.path.join(WORK, f"{args.workload}-seed{args.seed}-trace{args.trace}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    _isolate_environment(run_dir)

    import pyspark

    import delta_lake_spark  # noqa: F401 - fail before any work if the engine is absent

    host = {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "nproc": len(os.sched_getaffinity(0)),
        "SPARK_GRAFT_CPUS": os.environ.get("SPARK_GRAFT_CPUS"),
        "loadavg_start": _loadavg(),
        "cpu_times_start": _cpu_times(),
        "pyspark": pyspark.__version__,
        "python": platform.python_version(),
    }
    event_dir = os.path.join(run_dir, "eventlog")
    extra_conf = {}
    if args.trace:
        os.makedirs(event_dir)
        extra_conf = {
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + event_dir,
            "spark.eventLog.compress": "false",
        }
    run = Run(args.seed, args.seconds, Tracer(bool(args.trace)), run_dir, extra_conf)
    try:
        e2e = WORKLOADS[args.workload](run)
        from pyspark.sql import SparkSession

        spark = SparkSession.getActiveSession()
        host["java"] = spark.sparkContext._jvm.System.getProperty("java.version")
        run.layer["session.jvm_peak_rss_mb"] = jvm_peak_rss_mb(jvm_pid())
    finally:
        shutdown_jvm()  # flushes the event log; ends the JVM and its workers
    host["loadavg_end"] = _loadavg()
    host.update(_busy_and_steal(host.pop("cpu_times_start"), _cpu_times()))
    e2e["setup_s"] = median(run.setup_times)
    samples = {"ops": e2e.pop("_ops"), "setups": len(run.setup_times)}
    extra = {k[1:]: e2e.pop(k) for k in [k for k in e2e if k.startswith("_")]}
    correct = run.failed == 0 and samples["ops"] > 0

    record = {"host": host, "samples": samples, "end_to_end": e2e, **extra}
    if args.trace:
        jobs = read_event_logs(event_dir)
        problems = check_trace(run.tracer.spans, jobs)
        correct = correct and not problems
        metrics = _layer_metrics(run, run.tracer.spans, jobs)
        metrics["trace.op_p50_s"] = (e2e["op_p50_s"], "s")
        record.update(
            trace_check=problems or "ok",
            spans=run.tracer.spans,
            jobs=len(jobs),
        )
    else:
        metrics = {k: (v, E2E_UNITS[k]) for k, v in e2e.items()}
    record["metrics"] = {k: v for k, (v, _u) in metrics.items()}

    os.makedirs(os.path.join(WORK, "runs"), exist_ok=True)
    out = os.path.join(WORK, "runs", os.path.basename(run_dir) + ".json")
    with open(out, "w") as f:
        json.dump(record, f, default=str)
    print(json.dumps({k: v for k, v in record.items() if k != "spans"}, default=str), file=sys.stderr)
    # the run's data is not needed once measured; the record above is kept
    os.chdir(WORK)
    shutil.rmtree(run_dir, ignore_errors=True)
    print(
        json.dumps(
            {
                "correct": bool(correct),
                "attempted": run.attempted,
                "failed": run.failed,
                "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
