"""Per-layer metrics of a traced run, from Spark's own accounting.

Every public call the worker makes runs under the job group
``pb|<workload>|<op>|<layer>|<phase>``. Jobs are attributed to a layer
by their group, stages by the job that ran them, SQL executions (for
Python worker time) by their jobs. Layers are named after the engine modules.
Query-layer and pipeline-layer numbers are means per timed op;
``queries.common`` covers the set-up artifact builds; ``session`` the
whole run. ``trace.run_s`` is the traced run's ``run_s`` (compare it
with an untraced run's on the same seed); ``trace.overhead_s`` is the
wall time per pass spent in tracing-only calls (job-group tagging and
the plan-phase capture). The Spark UI, whose REST API the accounting
is read from, runs in traced runs only, so ``trace.run_s`` minus an
untraced ``run_s`` is the whole tracing overhead.
"""

from __future__ import annotations

import calendar
import re
import statistics
import time

LAYERS = (
    "sources.json_ingest", "operators.explode", "plans.runner",
    "queries", "queries.common",
)
# metric -> (unit, better)
BASE = {
    "wall_s": ("s", "lower"),
    "jobs": ("count", "lower"),
    "tasks": ("count", "lower"),
    "task_s": ("s", "lower"),
    "task_cpu_s": ("s", "lower"),
    "gc_s": ("s", "lower"),
    "input_bytes": ("B", "lower"),
    "output_bytes": ("B", "lower"),
    "shuffle_read_bytes": ("B", "lower"),
    "shuffle_write_bytes": ("B", "lower"),
    "spill_bytes": ("B", "lower"),
    "python_s": ("s", "lower"),
    "driver_gap_s": ("s", "lower"),
    "busy_frac": ("frac", "higher"),
}
EXTRA = {
    "sources.json_ingest.rows_out": ("count", "higher"),
    "sources.json_ingest.corrupt_rows": ("count", "lower"),
    "operators.explode.rows_out": ("count", "higher"),
    "queries.build_s": ("s", "lower"),
    "queries.build_jobs": ("count", "lower"),
    "queries.action_s": ("s", "lower"),
    "queries.plan_ms": ("ms", "lower"),
    "queries.common.artifact_build_s": ("s", "lower"),
    "session.start_s": ("s", "lower"),
    "session.storage_bytes_end": ("B", "lower"),
    "trace.run_s": ("s", "lower"),
    "trace.overhead_s": ("s", "lower"),
}


def metric_specs() -> dict[str, tuple[str, str]]:
    """Every per-layer metric name -> (unit, better)."""
    specs = {f"{layer}.{m}": v for layer in LAYERS for m, v in BASE.items()}
    specs.update(EXTRA)
    return specs


def _epoch(stamp: str | None) -> float | None:
    """'2026-10-17T04:23:15.897GMT' -> seconds since the epoch."""
    if not stamp:
        return None
    t = time.strptime(stamp[:19], "%Y-%m-%dT%H:%M:%S")
    return calendar.timegm(t) + float("0" + stamp[19:23])


_UNITS = {"ms": 1e-3, "s": 1.0, "m": 60.0, "min": 60.0, "h": 3600.0}


def _seconds(text: str) -> float:
    """A Spark UI duration total in seconds: the value is either
    '782 ms' or 'total (min, med, max ...)\n10.9 s (2.6 s, ...)'."""
    m = re.match(r"\s*([\d.,]+)\s*(ms|s|min|m|h)\b", text.split("\n")[-1])
    return float(m.group(1).replace(",", "")) * _UNITS[m.group(2)] if m else 0.0


def _union(intervals: list[tuple[float, float]]) -> float:
    total, end = 0.0, float("-inf")
    for a, b in sorted(intervals):
        if b > end:
            total += b - max(a, end)
            end = b
    return total


def per_layer(res: dict) -> dict[str, tuple[float, str]]:
    acct = res["accounting"]
    # job id -> (layer, phase) for jobs of the timed ops and set-up; the
    # warm-up op's jobs count toward no layer
    group_of: dict[int, tuple[str, str]] = {}
    for j in acct["jobs"]:
        parts = (j.get("jobGroup") or "").split("|")
        if len(parts) == 5 and parts[0] == "pb" and parts[2] != "warmup":
            group_of[j["jobId"]] = (parts[3], parts[4])
    stage_job: dict[int, int] = {}
    for j in sorted(acct["jobs"], key=lambda j: j["jobId"]):
        for s in j["stageIds"]:
            stage_job.setdefault(s, j["jobId"])

    acc = {layer: {m: 0.0 for m in BASE} for layer in LAYERS}
    intervals: dict[str, list] = {layer: [] for layer in LAYERS}
    build_jobs = 0
    for j in acct["jobs"]:
        if j["jobId"] not in group_of:
            continue
        layer, phase = group_of[j["jobId"]]
        acc[layer]["jobs"] += 1
        build_jobs += phase == "build"
        a, b = _epoch(j.get("submissionTime")), _epoch(j.get("completionTime"))
        if a and b:
            intervals[layer].append((a, b))
    records: dict[tuple[str, str], float] = {}
    for s in acct["stages"]:
        job = stage_job.get(s["stageId"])
        if job not in group_of:
            continue
        layer, phase = group_of[job]
        m = acc[layer]
        m["tasks"] += s["numCompleteTasks"] + s["numFailedTasks"]
        m["task_s"] += s["executorRunTime"] / 1e3
        m["task_cpu_s"] += s["executorCpuTime"] / 1e9
        m["gc_s"] += s["jvmGcTime"] / 1e3
        m["input_bytes"] += s["inputBytes"]
        m["output_bytes"] += s["outputBytes"]
        m["shuffle_read_bytes"] += s["shuffleReadBytes"]
        m["shuffle_write_bytes"] += s["shuffleWriteBytes"]
        m["spill_bytes"] += s["memoryBytesSpilled"] + s["diskBytesSpilled"]
        records[(layer, phase)] = records.get((layer, phase), 0) + s["outputRecords"]
    for q in acct["sql"]:
        jobs = (q.get("successJobIds") or []) + (q.get("failedJobIds") or [])
        layer = next((group_of[j][0] for j in jobs if j in group_of), None)
        if layer is None:
            continue
        for node in q.get("nodes", []):
            for met in node.get("metrics", []):
                if met["name"] == "time to run Python workers":
                    acc[layer]["python_s"] += _seconds(met["value"])
    spans = [sp for sp in res["spans"] if sp["op"] != "warmup"]
    phase_wall: dict[str, float] = {}
    for sp in spans:
        phase_wall[sp["phase"]] = phase_wall.get(sp["phase"], 0.0) + sp["wall"]

    n_ops = len(res["ops"])
    out: dict[str, float] = {}
    for layer in LAYERS:
        m = acc[layer]
        mine = [sp for sp in spans if sp["layer"] == layer]
        m["wall_s"] = sum(sp["wall"] for sp in mine)
        busy = sum(_union([(max(a, sp["start"]), min(b, sp["end"]))
                           for a, b in intervals[layer]
                           if a < sp["end"] and b > sp["start"]])
                   for sp in mine)
        m["driver_gap_s"] = m["wall_s"] - busy
        per = 1 if layer == "queries.common" else n_ops
        for name, v in m.items():
            out[f"{layer}.{name}"] = v / per
        out[f"{layer}.busy_frac"] = (
            m["task_s"] / (m["wall_s"] * res["cores"]) if m["wall_s"] else 0.0)
    out["sources.json_ingest.rows_out"] = records.get(
        ("sources.json_ingest", "stage_orders"), 0) / n_ops
    out["sources.json_ingest.corrupt_rows"] = records.get(
        ("sources.json_ingest", "quarantine"), 0) / n_ops
    out["operators.explode.rows_out"] = (
        records.get(("operators.explode", "packages"), 0)
        + records.get(("operators.explode", "events"), 0)) / n_ops
    out["queries.build_s"] = phase_wall.get("build", 0.0) / n_ops
    out["queries.build_jobs"] = build_jobs / n_ops
    out["queries.action_s"] = phase_wall.get("action", 0.0) / n_ops
    out["queries.plan_ms"] = sum(o.get("plan_ms", 0) for o in res["ops"]) / n_ops
    out["queries.common.artifact_build_s"] = sum(res["artifacts"].values())
    out["session.start_s"] = res["session_start_s"]
    out["session.storage_bytes_end"] = res["storage_bytes_end"]
    out["trace.run_s"] = statistics.median(res["passes_s"])
    out["trace.overhead_s"] = res["trace_overhead_s"] / len(res["passes_s"])
    return {k: (out[k], unit) for k, (unit, _) in metric_specs().items()}
