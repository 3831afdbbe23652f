"""The benchmark workloads and the Gold marts they refresh.

Each workload is a closed loop with one client: the next operation starts
when the previous one (and its untimed output check) has finished.  A
workload function takes a :class:`Run` and returns its end-to-end metrics;
per-layer numbers come from the spans it records (see run.py).

Span names are the layer vocabulary: ``session.*`` for ``get_spark``,
``tables.*`` for ``ManagedTable`` / ``anti_join_append`` calls,
``queries.<name>.build|action`` for the ``QUERIES`` registry.  Top-level
spans are operations: ``setup``, ``op.*`` (timed), ``check.*`` and
``prepare.*`` (untimed).
"""

from __future__ import annotations

import os
import shutil
import sys
import time
import traceback
from contextlib import contextmanager
from decimal import Decimal
from typing import Any, Callable, Iterator

import numpy as np
import pandas as pd
import pyarrow.parquet as pq

import gen
from harness import Tracer, median, tree_bytes

SETUPS = 3  # set-ups per run; setup_s is their median

# lakehouse_refresh: Silver transactions landed once, 1% MERGEd per cycle,
# and the least number of timed cycles in a run
REFRESH_ROWS = 100_000
REFRESH_CLIENTS = 5_000
REFRESH_CYCLES = 2

# query_mix: corpus scale factor (lineitem = 6M x sf), and the least
# number of timed passes in a run
MIX_SF = 0.005
MIX_PASSES = 3


class Run:
    """State of one benchmark run: tracer, seed, deadline and outcomes."""

    def __init__(self, seed: int, seconds: float, tracer: Tracer, work: str, extra_conf: dict):
        self.seed = seed
        self.seconds = seconds
        self.tracer = tracer
        self.work = work
        self.extra_conf = extra_conf
        self.attempted = 0
        self.failed = 0
        self.measured_ops: list[str] = []  # span ids of timed operations
        self.start_times: list[float] = []
        self.setup_times: list[float] = []
        self.layer: dict[str, float] = {}  # per-layer numbers not read from spans

    def rng(self, stream: int) -> np.random.Generator:
        return np.random.default_rng([self.seed, stream])

    # -- sessions ---------------------------------------------------------- #

    def start_session(self):
        from pyspark.sql import SparkSession

        from delta_lake_spark.session import get_spark

        active = SparkSession.getActiveSession()
        if active is not None:
            self.tracer.bind(None)
            active.stop()
        with self.tracer.span("session.start") as rec:
            spark = get_spark(extra_conf=self.extra_conf)
        self.start_times.append(rec["seconds"])
        self.tracer.bind(spark)
        return spark

    def setups(self, name: str, body: Callable[[str], Any]) -> Any:
        """Run ``body(dir)`` SETUPS times, each from a fresh session and an
        empty directory; returns the last result (the one measured)."""
        out = None
        for i in range(SETUPS):
            root = os.path.join(self.work, f"{name}-setup{i}")
            shutil.rmtree(os.path.join(self.work, f"{name}-setup{i - 1}"), ignore_errors=True)
            with self.tracer.span("setup") as rec:
                out = body(root)
            self.setup_times.append(rec["seconds"])
        return out

    # -- operations and checks --------------------------------------------- #

    @contextmanager
    def operation(self, name: str, timed: bool = True) -> Iterator[dict]:
        """One attempted operation; an exception marks it failed without
        aborting the run.  ``rec['ok']`` is cleared by a failed check."""
        self.attempted += 1
        rec: dict[str, Any] = {"ok": True}
        try:
            with self.tracer.span(name) as span:
                rec["span"] = span
                yield rec
        except Exception:  # noqa: BLE001 - one failed operation must not end the run
            traceback.print_exc(file=sys.stderr)
            rec["ok"] = False
        if rec["ok"] and timed:
            self.measured_ops.append(span.get("id"))
        if not rec["ok"]:
            self.failed += 1

    def check(self, op: dict, name: str, fn: Callable[[], bool]) -> None:
        """Untimed output check of ``op``; a False result or an exception
        counts the operation as failed (once)."""
        if not op["ok"]:
            return
        try:
            with self.tracer.span(f"check.{name}"):
                ok = fn()
        except Exception:  # noqa: BLE001 - a crashing check is a failed operation
            traceback.print_exc(file=sys.stderr)
            ok = False
        if not ok:
            print(f"# check failed: {name}", file=sys.stderr)
            op["ok"] = False
            self.failed += 1
            self.measured_ops = [s for s in self.measured_ops if s != op["span"].get("id")]

    def deadline(self) -> float:
        return time.perf_counter() + self.seconds


def noop_count(df, name: str) -> int:
    """Materialize every output column of ``df`` (``noop`` sink) and return
    its row count, observed in the same job."""
    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    obs = Observation(name)
    df.observe(obs, F.count(F.lit(1)).alias("n")).write.format("noop").mode("overwrite").save()
    return obs.get["n"]


# --------------------------------------------------------------------------- #
# lakehouse_refresh
# --------------------------------------------------------------------------- #

AS_OF = "2025-06-01"  # fixed "today" for client age, so inputs don't drift


def silver_transactions(spark, pdf: pd.DataFrame):
    """Raw transactions -> the reference's Silver shape: decimal amount,
    transaction_date, is_suspicious flag, month partition column."""
    from pyspark.sql import functions as F

    return (
        spark.createDataFrame(pdf)
        .withColumn("amount", (F.col("amount_cents") / 100).cast("decimal(18,2)"))
        .withColumn("transaction_date", F.to_date("transaction_datetime"))
        .withColumn("txn_month", F.date_format("transaction_date", "yyyy-MM"))
        .withColumn(
            "is_suspicious",
            (F.col("amount") > 5000) & F.col("category").isin("withdrawal", "transfer"),
        )
        .drop("amount_cents")
    )


def silver_clients(spark, pdf: pd.DataFrame):
    from pyspark.sql import functions as F

    age = F.floor(F.months_between(F.lit(AS_OF).cast("date"), F.to_date("registration_date")) / 12)
    return (
        spark.createDataFrame(pdf)
        .withColumn("registration_date", F.to_date("registration_date"))
        .withColumn(
            "client_category",
            F.when(age.isNull() | (age < 1), "new").when(age < 3, "regular").otherwise("vip"),
        )
    )


def client_stats_mart(txn, clients):
    """Per-client totals (reference client_stats): dim join + 5-key agg."""
    from pyspark.sql import functions as F

    return (
        txn.join(clients, "client_id", "left")
        .groupBy("client_id", "name", "country", "client_category", "tier")
        .agg(
            F.sum("amount").alias("total_amount"),
            F.avg("amount").alias("avg_amount"),
            F.count("*").alias("transactions_count"),
        )
    )


def daily_metrics_mart(txn, rates):
    """Per-day volume in RUB (reference daily_metrics): rate join, currency
    CASE ladder, conditional aggregates over suspicious rows."""
    from pyspark.sql import functions as F

    joined = txn.join(F.broadcast(rates), txn["transaction_date"] == rates["date"], "left")
    rub = (
        F.when(F.col("currency") == "USD", F.col("amount") * F.col("USD"))
        .when(F.col("currency") == "EUR", F.col("amount") * F.col("EUR"))
        .when(F.col("currency") == "CNY", F.col("amount") * F.col("CNY"))
        .otherwise(F.col("amount"))
    )
    return (
        joined.withColumn("amount_rub", rub)
        .groupBy(F.col("transaction_date").alias("date"))
        .agg(
            F.sum("amount_rub").alias("daily_volume_rub"),
            F.avg("amount_rub").alias("avg_transaction_rub"),
            F.count("*").alias("transactions_count"),
            F.sum(F.when(F.col("is_suspicious"), 1).otherwise(0)).alias("suspicious_count"),
            F.sum(F.when(F.col("is_suspicious"), F.col("amount_rub")).otherwise(0)).alias(
                "suspicious_volume_rub"
            ),
        )
    )


def fraud_analysis_mart(txn, clients):
    """Suspicious activity by category and country (reference fraud_analysis)."""
    from pyspark.sql import functions as F

    return (
        txn.filter(F.col("is_suspicious"))
        .join(clients, "client_id", "left")
        .groupBy("category", "country")
        .agg(
            F.count("*").alias("fraud_count"),
            F.avg("amount").alias("avg_fraud_amount"),
            F.sum("amount").alias("total_fraud_amount"),
        )
    )


def lakehouse_refresh(run: Run) -> dict[str, float]:
    from pyspark.sql import functions as F

    from delta_lake_spark.tables import ManagedTable, anti_join_append

    tr = run.tracer
    n_inc = REFRESH_ROWS // 100

    def setup(root: str):
        spark = run.start_session()
        rng = run.rng(0)
        txn = gen.transactions(rng, REFRESH_ROWS, REFRESH_CLIENTS)
        cl, rates = gen.clients(rng, REFRESH_CLIENTS), gen.currency_rates(rng)
        t = {k: ManagedTable(spark, os.path.join(root, k)) for k in (
            "silver_transactions", "silver_clients", "silver_rates",
            "client_stats", "daily_metrics", "fraud_analysis")}
        with tr.span("tables.write"):
            t["silver_transactions"].write(
                silver_transactions(spark, txn).repartition("txn_month"), partition_by=["txn_month"]
            )
        with tr.span("tables.write"):
            t["silver_clients"].write(silver_clients(spark, cl))
        with tr.span("tables.write"):
            t["silver_rates"].write(spark.createDataFrame(rates).withColumn("date", F.to_date("date")))
        return spark, t, txn, root

    spark, t, txn, root = run.setups("refresh", setup)
    rng = run.rng(1)
    amounts = txn.set_index("transaction_id")["amount_cents"]  # expected Silver state
    high_water = np.datetime64(txn["transaction_datetime"].max().date(), "D")
    next_id, previous = REFRESH_ROWS, None
    cycles: list[float] = []
    commits, files, nbytes = [], [], []

    def parquet_files() -> int:
        return sum(
            f.endswith(".parquet") for _d, _s, fs in os.walk(root) for f in fs
        )

    def versions() -> int:
        return sum(-1 if v is None else v for v in (tbl.latest_version() for tbl in t.values()))

    def cycle(timed: bool) -> None:
        nonlocal next_id, previous, high_water, amounts
        inc = gen.increment(rng, n_inc, REFRESH_CLIENTS, next_id, high_water, previous)
        with tr.span("prepare.increment"):
            inc_df = silver_transactions(spark, inc)
            v0, f0, b0 = versions(), parquet_files(), tree_bytes(root)
        with run.operation("op.cycle", timed) as op:
            with tr.span("tables.merge"):
                t["silver_transactions"].merge(inc_df, ["transaction_id"])
            with tr.span("tables.read"):
                s = t["silver_transactions"].read()
            with tr.span("tables.read"):
                c = t["silver_clients"].read()
            with tr.span("tables.read"):
                r = t["silver_rates"].read()
            if not timed:  # the warm-up cycle builds Gold from scratch
                t["client_stats"].write(client_stats_mart(s, c))
                t["daily_metrics"].write(daily_metrics_mart(s, r))
            else:
                with tr.span("tables.gold_merge"):
                    t["client_stats"].merge(client_stats_mart(s, c), ["client_id"])
                with tr.span("tables.anti_join_append"):
                    anti_join_append(t["daily_metrics"], daily_metrics_mart(s, r), ["date"])
            with tr.span("tables.write"):
                t["fraud_analysis"].write(fraud_analysis_mart(s, c))
        fixed = inc.set_index("transaction_id")["amount_cents"]
        amounts = fixed.combine_first(amounts)
        new = inc[inc["transaction_id"] >= next_id]
        next_id += len(new)
        high_water = high_water + 30
        previous = new

        def verify() -> bool:
            commits.append(versions() - v0)
            files.append(parquet_files() - f0)
            nbytes.append(tree_bytes(root) - b0)
            return check_refresh(t, amounts)

        run.check(op, "refresh", verify)
        if timed and op["ok"]:
            cycles.append(op["span"]["seconds"])

    cycle(timed=False)  # warm-up: first MERGE and the initial Gold build
    storage = tree_bytes(root) / len(amounts)
    commits.clear(), files.clear(), nbytes.clear()
    end = run.deadline()
    while time.perf_counter() < end or len(cycles) < REFRESH_CYCLES:
        cycle(timed=True)
        if run.failed > 10:
            break
    run.layer.update({
        "tables.commits_per_cycle": float(np.mean(commits)) if commits else 0.0,
        "tables.files_added_per_cycle": float(np.mean(files)) if files else 0.0,
        "tables.bytes_added_per_cycle": float(np.mean(nbytes)) if nbytes else 0.0,
        "tables.live_files": float(sum(tbl.detail()["num_files"] for tbl in t.values())),
    })
    return {
        "op_p50_s": median(cycles),
        "storage_bytes_per_row": storage,
        "_ops": len(cycles),
        "_cycle_s": cycles,
    }


def check_refresh(t: dict, amounts: pd.Series) -> bool:
    """Silver equals the expected rows; client_stats reconciles with a
    direct aggregate of the Silver snapshot; daily_metrics holds exactly
    one row per Silver date, the NULL date included."""
    from pyspark.sql import functions as F

    s = t["silver_transactions"].read()
    got = s.agg(
        F.count("*").alias("rows"),
        F.sum("amount").alias("total"),
        F.countDistinct("client_id").alias("clients"),
        F.countDistinct("transaction_date").alias("dates"),
        F.max(F.col("transaction_date").isNull().cast("int")).alias("null_date"),
    ).first()
    want_total = Decimal(int(amounts.sum())) / 100
    g = t["client_stats"].read().agg(
        F.count("*").alias("rows"), F.sum("total_amount").alias("total")
    ).first()
    d = t["daily_metrics"].read().agg(
        F.count("*").alias("rows"),
        F.countDistinct("date").alias("dates"),
        F.sum(F.col("date").isNull().cast("int")).alias("nulls"),
    ).first()
    checks = {
        "silver rows": got["rows"] == len(amounts),
        "silver total": got["total"] == want_total,
        "client_stats rows": g["rows"] == got["clients"],
        "client_stats total": g["total"] == got["total"],
        "daily one row per date": d["rows"] == d["dates"] + d["nulls"],
        "daily dates": d["dates"] == got["dates"] and d["nulls"] == got["null_date"],
    }
    bad = [k for k, ok in checks.items() if not ok]
    if bad:
        print(f"# refresh check failed: {bad} silver={got} gold={g} daily={d}", file=sys.stderr)
    return not bad


# --------------------------------------------------------------------------- #
# query_mix
# --------------------------------------------------------------------------- #

# The 16 headline queries of the engine's own bench (one per operator family).
HEADLINE = [
    "q01_pricing_summary",
    "q02_client_stats",
    "q03_daily_metrics",
    "q04_fraud_analysis",
    "q30_local_supplier_volume",
    "q11_top3_orders_per_customer",
    "q23_user_event_gaps",
    "q09_date_spine_ffill",
    "q19_asof_event_rates",
    "t01_dedup_exact",
    "t04_langid_confusion",
    "t05_winnow_fingerprints",
    "d06_minhash_lsh_pairs",
    "v01_cosine_topk",
    "v04_bucketed_ann",
    "m02_frame_features",
]


def query_mix(run: Run) -> dict[str, float]:
    from oracle_harness import compare_one, duck_connection

    from delta_lake_spark.queries import ORACLE, QUERIES

    tr = run.tracer

    def setup(root: str):
        spark = run.start_session()
        corpus = os.path.join(root, "corpus")
        with tr.span("prepare.corpus"):
            gen.write_corpus(run.rng(0), corpus, MIX_SF)
        return spark, corpus

    spark, corpus = run.setups("mix", setup)
    n_docs = pq.ParquetFile(os.path.join(corpus, "documents.parquet")).metadata.num_rows
    con = duck_connection(corpus)
    rows: dict[str, int] = {}

    # Pass 0 (untimed, cold): every query against its DuckDB oracle.
    for name in HEADLINE:
        res = pdf = None
        with run.operation(f"warmup.{name}", timed=False) as op:
            if name in ORACLE:
                res = compare_one(spark, con, name, QUERIES[name], ORACLE[name], corpus)
                rows[name] = res.rows_spark
            else:
                pdf = QUERIES[name](spark, corpus).toPandas()
                rows[name] = len(pdf)
        run.check(op, f"oracle.{name}", lambda: _oracle_ok(name, res, pdf, n_docs))
    con.close()

    order_rng = run.rng(2)
    per_query: dict[str, list[float]] = {q: [] for q in HEADLINE}

    def serve_pass() -> None:
        """The 16 queries in a seeded order, each into a noop sink."""
        for name in order_rng.permutation(HEADLINE):
            with run.operation("op.query") as op:
                with tr.span(f"queries.{name}.build"):
                    df = QUERIES[name](spark, corpus)
                with tr.span(f"queries.{name}.action"):
                    n = noop_count(df, name)
            run.check(op, "rows", lambda: n == rows.get(name))
            if op["ok"]:
                per_query[name].append(op["span"]["seconds"])

    # At least MIX_PASSES passes, so each query's median drops one slow
    # sample: the first warm pass still JIT-compiles (it ran ~20% slower
    # than the next), and a burst of host contention can slow any pass.
    end = run.deadline()
    passes = 0
    while time.perf_counter() < end or passes < MIX_PASSES:
        serve_pass()
        passes += 1
        if run.failed > 10:
            break
    complete = all(per_query.values())
    lineitem = pq.ParquetFile(os.path.join(corpus, "lineitem.parquet")).metadata.num_rows
    return {
        "op_p50_s": sum(median(v) for v in per_query.values()) if complete else 0.0,
        "storage_bytes_per_row": tree_bytes(corpus) / lineitem,
        "_ops": passes if complete else 0,
        "_query_s": per_query,
    }


def _oracle_ok(name: str, res, pdf, n_docs: int) -> bool:
    if res is not None:
        if not res.ok:
            print(f"# oracle mismatch {name}: {res.detail}", file=sys.stderr)
        return res.ok
    # m02 has no SQL oracle: every document is decoded exactly once
    return len(pdf) > 0 and int(pdf["n_docs"].sum()) == n_docs


WORKLOADS = {
    "lakehouse_refresh": lakehouse_refresh,
    "query_mix": query_mix,
}
