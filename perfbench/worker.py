"""The benchmark's Spark process: set-up, then a closed-loop timed phase.

Run by ``run.py`` as ``python3 perfbench/worker.py SPEC.json``. It
drives the engine only through its public functions, times every call
from outside, and writes ``RESULT.json`` (path given in the spec). With
``trace`` on, every public call runs under its own job group
``pb|<workload>|<op>|<layer>|<phase>``, and Spark's own job, stage and
SQL accounting (its status REST API) is saved for ``layers.py``.
"""

from __future__ import annotations

import contextlib
import json
import os
import random
import shutil
import statistics
import sys
import time
import urllib.request

T_PROCESS = float(os.environ.get("PERFBENCH_T0", time.time()))

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

import pyspark.sql.functions as F  # noqa: E402

from aproximacion_1_etl_spark.operators.explode import explode_json_array  # noqa: E402
from aproximacion_1_etl_spark.plans.runner import run_daily_job  # noqa: E402
from aproximacion_1_etl_spark import queries as Q  # noqa: E402
from aproximacion_1_etl_spark.session import get_spark  # noqa: E402
from aproximacion_1_etl_spark.sources.json_ingest import (  # noqa: E402
    read_day_files,
    split_corrupt,
)

from gen import EVENT_DDL, ORDER_DDL, PACKAGE_DDL  # noqa: E402

CORES = 4
SHUFFLE_PARTITIONS = 4
HEAP = "1536m"


class Tracer:
    """Job-group tagging plus wall-clock spans, kept in memory."""

    def __init__(self, spark, workload: str, on: bool):
        self.sc = spark.sparkContext
        self.workload = workload
        self.on = on
        self.spans: list[dict] = []
        self.overhead_s = 0.0  # wall time spent in tracing-only calls

    @contextlib.contextmanager
    def span(self, op: str, layer: str, phase: str):
        """Time the body; traced, run its jobs under the job group
        ``pb|workload|op|layer|phase``."""
        rec = {"op": op, "layer": layer, "phase": phase}
        if self.on:
            t = time.time()
            self.sc.setJobGroup(f"pb|{self.workload}|{op}|{layer}|{phase}", phase)
            self.overhead_s += time.time() - t
        rec["start"] = time.time()
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            rec["wall"] = rec["end"] - rec["start"]
            if self.on:
                self.sc.setJobGroup("pb|idle", "idle")
                self.overhead_s += time.time() - rec["end"]
                self.spans.append(rec)


# -- daily_etl ---------------------------------------------------------

def daily_run(spark, tracer: Tracer, op: str, landing: str, out: str) -> dict:
    """Landing JSON -> quarantine + staged parent/children -> published
    work table, metadata and DQ report (``run_daily_job``)."""
    staged = os.path.join(out, "staged")
    with tracer.span(op, "sources.json_ingest", "quarantine"):
        raw = read_day_files(
            spark, os.path.join(landing, "*", "*"), schema_ddl=ORDER_DDL
        )
        clean, corrupt = split_corrupt(raw)
        corrupt.select("_corrupt_record").write.mode("overwrite").parquet(
            os.path.join(out, "quarantine")
        )
    with tracer.span(op, "sources.json_ingest", "stage_orders"):
        clean.select(
            "o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
            F.to_timestamp("o_orderdate").alias("o_orderdate"),
        ).write.mode("overwrite").parquet(os.path.join(staged, "orders.parquet"))
    with tracer.span(op, "operators.explode", "packages"):
        explode_json_array(
            clean, "packages_json", PACKAGE_DDL, ["o_orderkey"],
            projections={
                "l_linenumber": "line", "l_quantity": "quantity",
                "l_extendedprice": "price", "l_discount": "discount",
            },
        ).withColumnRenamed("o_orderkey", "l_orderkey").write.mode(
            "overwrite"
        ).parquet(os.path.join(staged, "lineitem.parquet"))
    with tracer.span(op, "operators.explode", "events"):
        explode_json_array(
            clean, "events_info_json", EVENT_DDL, ["o_custkey"],
            projections={
                "event_id": "event_id", "event_type": "status",
                "ts_raw": "timestamp", "value": "value",
            },
        ).select(
            "event_id", F.to_timestamp("ts_raw").alias("ts"),
            F.col("o_custkey").alias("user_id"), "event_type", "value",
        ).write.mode("overwrite").parquet(os.path.join(staged, "events.parquet"))
    with tracer.span(op, "plans.runner", "run_daily_job"):
        summary = run_daily_job(spark, staged, os.path.join(out, "publish"))
    return summary


def fresh_landing(spec: dict, n: int) -> str:
    """A private copy of the landing zone per run: ``split_corrupt``
    caches its scan, so re-reading one path would hit that cache."""
    dst = os.path.join(spec["work"], f"landing-{n}")
    shutil.copytree(spec["landing"], dst)
    return dst


# -- query workloads ---------------------------------------------------

def query_op(spark, tracer: Tracer, op: str, key: str, sf_dir: str, sink: str) -> dict:
    """One catalog key, built and fully written to a parquet sink."""
    rec: dict = {}
    with tracer.span(op, "queries", "build") as b:
        df = Q.ALL_QUERIES[key](spark, sf_dir)
    rec["build_s"] = b["wall"]
    if tracer.on:
        # plans df's own QueryExecution (analysis, optimization, physical
        # planning); the write below plans again, so this is tracing cost
        t = time.time()
        qe = df._jdf.queryExecution()
        qe.executedPlan()
        phases = qe.tracker().phases()
        it = phases.values().iterator()
        ms = 0
        while it.hasNext():
            ms += it.next().durationMs()
        rec["plan_ms"] = ms
        tracer.overhead_s += time.time() - t
    with tracer.span(op, "queries", "action") as a:
        df.write.mode("overwrite").parquet(sink)
    rec["action_s"] = a["wall"]
    return rec


def storage_bytes(spark) -> int:
    """Bytes of RDD blocks (cached or checkpointed) still held."""
    infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    return int(sum(i.memSize() + i.diskSize() for i in infos))


def accounting(spark) -> dict:
    """Spark's own job, stage and SQL-execution records for this
    application, from its status REST API on localhost."""
    sc = spark.sparkContext
    port = sc.uiWebUrl.rsplit(":", 1)[1]
    base = f"http://127.0.0.1:{port}/api/v1/applications/{sc.applicationId}"
    got = {}
    for name, path in (("jobs", "/jobs"), ("stages", "/stages"),
                       ("sql", "/sql?details=true&planDescription=false"
                       "&offset=0&length=1000000")):
        with urllib.request.urlopen(base + path, timeout=60) as r:
            got[name] = json.load(r)
    return got


def timed_phase(spark, spec: dict, tracer: Tracer) -> tuple[list, list]:
    """Closed loop, one client: whole ops (daily_etl) or whole passes
    over the key mix in an order shuffled by the seed. A pass starts
    while fewer than ``min_passes`` have run, or while one more pass of
    the median length so far still ends within ``seconds``; so the
    timed phase lasts about ``seconds`` and never less than
    ``min_passes`` passes. Returns (ops, pass walls)."""
    work, wl = spec["work"], spec["workload"]
    rng = random.Random(spec["seed"])
    ops: list[dict] = []
    passes: list[float] = []
    n = 0
    t_start = time.time()
    while (len(passes) < spec["min_passes"]
           or time.time() - t_start + statistics.median(passes)
           <= spec["seconds"]):
        t_pass = time.time()
        if wl == "daily_etl":
            batch = [("daily_run", fresh_landing(spec, n + 1))]
        else:
            keys = list(spec["keys"])
            rng.shuffle(keys)
            batch = [(k, None) for k in keys]
        for key, landing in batch:
            op = f"op{n}"
            rec = {"op": op, "key": key}
            t0 = time.time()
            try:
                if landing:
                    rec["out"] = os.path.join(work, f"out-{n}")
                    rec["summary"] = daily_run(spark, tracer, op, landing, rec["out"])
                else:
                    rec["sink"] = os.path.join(work, "sinks", f"{op}-{key}")
                    rec.update(query_op(spark, tracer, op, key, spec["sf_dir"],
                                        rec["sink"]))
                rec["error"] = None
            except Exception as e:  # counted as a failed op, never hidden
                rec["error"] = repr(e)[:300]
            rec["latency_s"] = time.time() - t0
            ops.append(rec)
            n += 1
        passes.append(time.time() - t_pass)
    return ops, passes


def main(spec_path: str) -> None:
    with open(spec_path) as f:
        spec = json.load(f)
    work, wl, trace = spec["work"], spec["workload"], spec["trace"]
    conf = {
        # the UI serves the status REST API tracing reads; untraced runs
        # go without it
        "spark.ui.enabled": "true" if trace else "false",
        "spark.ui.showConsoleProgress": "false",
        "spark.ui.retainedJobs": "100000",
        "spark.ui.retainedStages": "100000",
        "spark.sql.ui.retainedExecutions": "100000",
        "spark.driver.memory": HEAP,
        # keep the JVM's temp files (session artifacts, native libraries)
        # inside the run's directory, and write no perf-data file; start
        # the heap at its maximum, so G1 does not resize it on its own
        # timing from run to run; compile with C1 only: C2 spent 5-13 s of
        # compile time per daily run, still ~5 s by the fifth, on threads
        # that compete with the 4 task threads for the 4 cores
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={os.environ['TMPDIR']} -XX:-UsePerfData"
            f" -Xms{HEAP} -XX:TieredStopAtLevel=1",
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
    }
    t_session = time.time()
    spark = get_spark(
        f"perfbench-{wl}", master=f"local[{CORES}]",
        shuffle_partitions=SHUFFLE_PARTITIONS, extra_conf=conf,
    )
    spark.sparkContext.setLogLevel("ERROR")
    result: dict = {"session_start_s": time.time() - t_session, "cores": CORES}
    tracer = Tracer(spark, wl, trace)

    # set-up: the memoized artifacts, then the untimed warm-up ops
    artifacts = {}
    if wl == "daily_etl":
        daily_run(spark, tracer, "warmup", fresh_landing(spec, 0),
                  os.path.join(work, "out-warmup"))
    else:
        for name in spec["artifacts"]:
            with tracer.span("setup", "queries.common", name) as s:
                getattr(Q, name)(spark, spec["sf_dir"])
            artifacts[name] = s["wall"]
        # every key's first run is JIT- and codegen-cold
        for key in spec["keys"]:
            query_op(spark, tracer, "warmup", key, spec["sf_dir"],
                     os.path.join(work, "sinks", f"warmup-{key}"))
    result["artifacts"] = artifacts
    result["setup_s"] = time.time() - T_PROCESS

    tracer.overhead_s = 0.0
    ops, passes = timed_phase(spark, spec, tracer)
    result["trace_overhead_s"] = tracer.overhead_s
    result["passes_s"] = passes
    result["ops"] = ops
    result["storage_bytes_end"] = storage_bytes(spark)
    result["spans"] = tracer.spans
    if trace:
        result["accounting"] = accounting(spark)
    spark.stop()
    with open(spec["result"], "w") as f:
        json.dump(result, f)


if __name__ == "__main__":
    main(sys.argv[1])
