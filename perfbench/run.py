"""Benchmark entry point.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Generates the workload's inputs from ``--seed`` under
``.perfbench_work/`` in the current directory (the root of a checkout),
runs ``worker.py`` (one Spark driver, ``local[4]``, one client thread,
closed loop) for ``--seconds`` of timed ops, checks every output, and
prints one JSON object as the last line of standard output. With
``--trace 0`` its metrics are the end-to-end metrics; with ``--trace 1``
the per-layer metrics of a traced run. Workloads, inputs and metric
definitions are described in ``perfbench/README.md``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
sys.path[:0] = [HERE, REPO]

WORKER_TIMEOUT_S = 150

ANALYST_KEYS = (
    "pricing_summary", "q3_shipping_priority", "q5_nation_revenue",
    "q10_returned_items", "q13_order_count_distribution", "q18_big_spenders",
    "window_running_sum", "sessionize", "m1_dedup_latest", "m5_child_rollup",
    "work_table_build", "flagship_order_lifecycle", "skew_salted_agg",
    "topk_orders", "agg_rollup", "join_semi_anti", "m4_latest_status",
    "m10_first_scheduled",
)
CORPUS_KEYS = (
    "cogrouped_pandas_join", "incremental_dup_clusters", "ann_recall_at_k",
    "dedup_minhash_lsh",
)
# memoized builders each corpus run builds in set-up, before its first op
CORPUS_ARTIFACTS = ("_dup_cluster_store",)

# min_passes: the fewest timed passes a run makes however slow the host
WORKLOADS = {
    "daily_etl": {"days": 30, "orders_per_day": 200, "corrupt_days": 2,
                  "customers": 600, "min_passes": 4},
    "analyst_queries": {"sf": 0.02, "keys": ANALYST_KEYS, "artifacts": (),
                        "min_passes": 1},
    "corpus_ops": {"sf": 0.01, "keys": CORPUS_KEYS,
                   "artifacts": CORPUS_ARTIFACTS, "min_passes": 2},
}


def dir_bytes(path: str) -> int:
    total = 0
    for root, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(root, f)) for f in files)
    return total


class RssSampler(threading.Thread):
    """Peak resident memory of a process tree (the Python driver, its
    JVM and the Python workers), sampled from /proc once a second. Each
    process contributes its PSS, so pages the forked Python workers
    share are counted once, not once per worker. Reading the JVM's
    smaps_rollup takes about 25 ms of CPU, so faster sampling would
    take a noticeable share of a core from the run it measures."""

    def __init__(self, root_pid: int):
        super().__init__(daemon=True)
        self.root = root_pid
        self.peak = 0
        self.halt = threading.Event()

    def tree_rss(self) -> int:
        parent = {}
        for d in os.listdir("/proc"):
            if d.isdigit():
                try:
                    with open(f"/proc/{d}/stat") as f:
                        parent[int(d)] = int(f.read().rsplit(")", 1)[1].split()[1])
                except (OSError, IndexError, ValueError):
                    pass
        tree, todo = {self.root}, [self.root]
        while todo:
            p = todo.pop()
            for c, pp in parent.items():
                if pp == p and c not in tree:
                    tree.add(c)
                    todo.append(c)
        rss = 0
        for p in tree:
            try:
                with open(f"/proc/{p}/smaps_rollup") as f:
                    for line in f:
                        if line.startswith("Pss:"):
                            rss += int(line.split()[1]) * 1024
                            break
            except (OSError, IndexError, ValueError):
                pass
        return rss

    def run(self):
        while not self.halt.wait(1.0):
            self.peak = max(self.peak, self.tree_rss())


def stop_group(pgid: int, timeout_s: float = 30.0) -> None:
    """Kill every process left in the worker's process group (its JVM
    and Python workers) and wait until the group is empty."""
    try:
        os.killpg(pgid, signal.SIGKILL)
    except ProcessLookupError:
        return
    deadline = time.time() + timeout_s
    while time.time() < deadline:
        try:
            os.killpg(pgid, 0)
        except ProcessLookupError:
            return
        time.sleep(0.05)


def run_worker(spec: dict) -> tuple[dict, float]:
    """Run worker.py on ``spec``; return its result and peak RSS (MB).
    The worker runs in its own process group, which is killed on
    timeout and waited for in every case."""
    spec_path = os.path.join(spec["work"], "spec.json")
    with open(spec_path, "w") as f:
        json.dump(spec, f)
    tmp = os.path.join(spec["work"], "tmp")
    os.makedirs(tmp, exist_ok=True)
    env = dict(os.environ, PERFBENCH_T0=repr(time.time()), TMPDIR=tmp)
    log = open(os.path.join(spec["work"], "worker.log"), "w")
    proc = subprocess.Popen(
        [sys.executable, os.path.join(HERE, "worker.py"), spec_path],
        stdout=log, stderr=subprocess.STDOUT, env=env, cwd=spec["work"],
        start_new_session=True,
    )
    sampler = RssSampler(proc.pid)
    sampler.start()
    try:
        code = proc.wait(timeout=WORKER_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        code = None
    finally:
        sampler.halt.set()
        sampler.join()
        stop_group(proc.pid)
        proc.wait()
        log.close()
    if code != 0:
        with open(log.name) as f:
            tail = f.read()[-2000:]
        raise RuntimeError(f"worker exited with {code}:\n{tail}")
    with open(spec["result"]) as f:
        return json.load(f), sampler.peak / 2**20


def tail(values: list[float]) -> tuple[float, int] | None:
    """(value, pct): the highest whole percentile with at least ten
    samples above it (nearest rank); None below 20 samples, where that
    percentile would not be above the median."""
    n = len(values)
    if n < 20:
        return None
    pct = 100 * (n - 10) // n
    s = sorted(values)
    return s[max(0, -(-n * pct // 100) - 1)], pct


def prepare(wl: str, seed: int, work: str) -> dict:
    """Generate the workload's inputs; return the worker spec plus the
    ground truth the checks need."""
    import gen

    cfg = WORKLOADS[wl]
    spec = {"workload": wl, "seed": seed, "work": work,
            "min_passes": cfg["min_passes"]}
    if wl == "daily_etl":
        landing = os.path.join(work, "landing")
        truth = gen.write_landing(
            landing, seed, cfg["days"], cfg["orders_per_day"],
            cfg["corrupt_days"], cfg["customers"],
        )
        spec.update(landing=landing)
        return {"spec": spec, "truth": truth, "input_bytes": truth["landed_bytes"]}
    sf_dir = os.path.join(work, "tables")
    gen.write_tables(sf_dir, seed, cfg["sf"])
    spec.update(sf_dir=sf_dir, keys=list(cfg["keys"]),
                artifacts=list(cfg["artifacts"]))
    return {"spec": spec, "input_bytes": dir_bytes(sf_dir)}


def end_to_end(wl: str, res: dict, peak_mb: float, inputs: dict) -> dict:
    lat = [o["latency_s"] for o in res["ops"]]
    if wl == "daily_etl":
        out = res["ops"][-1]["out"]
        stored = dir_bytes(os.path.join(out, "publish"))
    else:
        per_key: dict[str, list[int]] = {}
        for o in res["ops"]:
            if not o["error"]:
                per_key.setdefault(o["key"], []).append(dir_bytes(o["sink"]))
        stored = sum(statistics.median(v) for v in per_key.values())
    return {
        "setup_s": (res["setup_s"], "s"),
        "run_s": (statistics.median(res["passes_s"]), "s"),
        "op_p50_s": (statistics.median(lat), "s"),
        "peak_rss_mb": (peak_mb, "MB"),
        "stored_bytes_per_input_byte": (stored / inputs["input_bytes"], "B/B"),
    }


def write_detail(args, res: dict, failed_ops: list) -> None:
    """Per-op rows (not metrics) for a human reader, kept after the run
    in ``.perfbench_out/`` of the current directory."""
    os.makedirs(".perfbench_out", exist_ok=True)
    path = os.path.join(
        ".perfbench_out",
        f"{args.workload}-seed{args.seed}-trace{args.trace}.json",
    )
    keep = ("op", "key", "latency_s", "build_s", "action_s", "plan_ms", "error")
    with open(path, "w") as f:
        json.dump({
            "setup_s": res["setup_s"],
            "session_start_s": res["session_start_s"],
            "artifacts": res["artifacts"],
            "passes_s": res["passes_s"],
            "failed": failed_ops,
            "ops": [{k: o[k] for k in keep if k in o} for o in res["ops"]],
        }, f, indent=1)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    # on SIGTERM, unwind through the finally blocks that stop the worker
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    if not os.path.isdir(os.path.join(REPO, "aproximacion_1_etl_spark")):
        print("perfbench: engine package aproximacion_1_etl_spark not found "
              f"next to {HERE}", file=sys.stderr)
        return 2

    import check

    work = os.path.abspath(os.path.join(
        ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}"
    ))
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        inputs = prepare(args.workload, args.seed, work)
        spec = dict(inputs["spec"], seconds=args.seconds)
        res, peak_mb = run_worker(dict(
            spec, trace=args.trace, result=os.path.join(work, "result.json")
        ))
        failed_ops = check.check(args.workload, res, inputs)
        attempted = len(res["ops"])
        failed = len(failed_ops)
        if args.trace:
            import layers

            metrics = layers.per_layer(res)
        else:
            metrics = end_to_end(args.workload, res, peak_mb, inputs)
        write_detail(args, res, failed_ops)
        for op, why in failed_ops[:10]:
            print(f"perfbench: FAILED {op}: {why}")
        t = tail([o["latency_s"] for o in res["ops"]])
        print(f"perfbench: workload={args.workload} seed={args.seed} "
              f"ops={attempted} failed={failed} "
              f"ops_failed_frac={failed / attempted:.4f} " + (
                  f"op_tail_s={t[0]:.4f} (p{t[1]} of {attempted} ops)" if t
                  else f"op_tail_s=n/a ({attempted} ops, fewer than 20)"))
        print(json.dumps({
            "correct": failed == 0,
            "attempted": attempted,
            "failed": failed,
            "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
        }))
        return 0
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
