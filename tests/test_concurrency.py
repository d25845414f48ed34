"""functions/concurrency.overlap — the driver-side job-overlap helper
(guide §2.6) the report/retrain keys run their independent
driver-blocking evaluations through — and queries.common.artifact, the
memo those threads share corpus artifacts through."""

import os
import sys
import threading
import time
from types import SimpleNamespace

import pytest

from aproximacion_1_etl_spark.functions.concurrency import overlap
from aproximacion_1_etl_spark.queries.common import artifact


def test_overlap_slots_results_in_call_order():
    # deliberately finish out of order: the slow thunk is first
    def slow():
        time.sleep(0.2)
        return "first"

    out = overlap(slow, lambda: "second", lambda: "third")
    assert out == ["first", "second", "third"]


def test_overlap_actually_runs_concurrently():
    gate = threading.Barrier(2, timeout=10)

    # each thunk blocks until BOTH have started — sequential execution
    # would deadlock (the barrier timeout turns that into a failure)
    def t():
        gate.wait()
        return True

    assert overlap(t, t) == [True, True]


def test_overlap_awaits_siblings_and_reraises_first_failure():
    finished = []

    def ok():
        time.sleep(0.3)
        finished.append("ok")
        return 1

    def boom():
        raise RuntimeError("wave failed")

    with pytest.raises(RuntimeError, match="wave failed"):
        overlap(ok, boom)
    # the running sibling was awaited, not abandoned mid-job
    assert finished == ["ok"]


def test_overlap_single_thunk_runs_inline():
    assert overlap(lambda: 42) == [42]


# ---- queries.common.artifact: the one memo for corpus artifacts ----

_JOIN_TIMEOUT = 30


def _fake_spark(app_id: str = "app-1"):
    # the memo reads nothing of the session but its application id
    return SimpleNamespace(sparkContext=SimpleNamespace(applicationId=app_id))


def _corpus(tmp_path, *tables: str) -> str:
    for t in tables:
        part_dir = tmp_path / f"{t}.parquet"
        part_dir.mkdir()
        (part_dir / "part-0.parquet").write_bytes(b"x")
    return str(tmp_path)


def _run_threads(targets) -> None:
    threads = [threading.Thread(target=t, daemon=True) for t in targets]
    for t in threads:
        t.start()
    for t in threads:
        t.join(_JOIN_TIMEOUT)
    assert not any(t.is_alive() for t in threads), "deadlocked"


def test_artifact_single_flight_builds_once_under_contention(tmp_path):
    sf = _corpus(tmp_path, "documents")
    spark = _fake_spark()
    calls = []

    @artifact
    def store(spark, sf_dir):
        calls.append(1)
        time.sleep(0.2)  # a slow build every waiter piles up behind
        return object()

    n = 4 * (os.cpu_count() or 1) + 4  # more threads than cores
    gate = threading.Barrier(n, timeout=_JOIN_TIMEOUT)
    got = [None] * n

    def caller(i):
        gate.wait()
        got[i] = store(spark, sf)

    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)  # force interleaving inside the memo
    try:
        _run_threads([lambda i=i: caller(i) for i in range(n)])
    finally:
        sys.setswitchinterval(old)
    assert len(calls) == 1
    assert got[0] is not None
    assert all(g is got[0] for g in got)


def test_artifact_nested_build_does_not_deadlock(tmp_path):
    sf = _corpus(tmp_path, "documents", "embeddings")
    spark = _fake_spark()
    inner_started = threading.Event()

    @artifact
    def codebook(spark, sf_dir):
        inner_started.set()
        time.sleep(0.1)
        return ("codebook",)

    @artifact
    def index(spark, sf_dir, budget: int = 25):
        # the _chunk_vector_index -> _trained_codebook shape
        return (codebook(spark, sf_dir), budget)

    out = {}

    def outer():
        out["index"] = index(spark, sf)

    def direct():
        inner_started.wait(_JOIN_TIMEOUT)
        out["codebook"] = codebook(spark, sf)

    _run_threads([outer, direct])
    assert out["index"] == (("codebook",), 25)
    assert out["codebook"] is out["index"][0]
    # the extra bound argument is part of the key
    assert index(spark, sf, 10) == (("codebook",), 10)
    assert index(spark, sf) is out["index"]


def test_artifact_rebuilds_when_any_table_or_session_changes(tmp_path):
    sf = _corpus(tmp_path, "orders", "lineitem")
    spark = _fake_spark()
    calls = []

    @artifact
    def graph_store(spark, sf_dir):
        # reads only orders — the stamp must still cover lineitem
        calls.append(1)
        return object()

    first = graph_store(spark, sf)
    assert graph_store(spark, sf) is first
    part = os.path.join(sf, "lineitem.parquet", "part-0.parquet")
    st = os.stat(part)
    os.utime(part, (st.st_atime, st.st_mtime + 100))
    second = graph_store(spark, sf)
    assert second is not first and len(calls) == 2
    assert graph_store(spark, sf) is second
    # a new Spark application cannot reuse checkpointed state
    third = graph_store(_fake_spark("app-2"), sf)
    assert third is not second and len(calls) == 3


def test_artifact_failed_build_caches_nothing(tmp_path):
    sf = _corpus(tmp_path, "documents")
    spark = _fake_spark()
    calls = []

    @artifact
    def flaky(spark, sf_dir):
        calls.append(1)
        if len(calls) == 1:
            raise RuntimeError("executor lost")
        return object()

    with pytest.raises(RuntimeError, match="executor lost"):
        flaky(spark, sf)
    built = flaky(spark, sf)
    assert len(calls) == 2
    assert flaky(spark, sf) is built and len(calls) == 2
