"""The benchmark's own tests (no Spark needed):

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import json
import os
import re
import sys

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [HERE, os.path.dirname(HERE)]

import check  # noqa: E402
import gen  # noqa: E402
import layers  # noqa: E402
import run  # noqa: E402

NAME = re.compile(r"[A-Za-z0-9][A-Za-z0-9_.-]{0,63}")


def _files(root: str) -> dict[str, bytes]:
    out = {}
    for d, _, fs in os.walk(root):
        for f in fs:
            p = os.path.join(d, f)
            with open(p, "rb") as fh:
                out[os.path.relpath(p, root)] = fh.read()
    return out


def test_landing_is_deterministic_per_seed(tmp_path):
    a = gen.write_landing(str(tmp_path / "a"), 7, 4, 30, 1, 50)
    b = gen.write_landing(str(tmp_path / "b"), 7, 4, 30, 1, 50)
    c = gen.write_landing(str(tmp_path / "c"), 8, 4, 30, 1, 50)
    assert a == b
    assert _files(str(tmp_path / "a")) == _files(str(tmp_path / "b"))
    assert _files(str(tmp_path / "a")) != _files(str(tmp_path / "c"))
    assert a["clean_orders"] == 90 and a["corrupt_records"] == 1
    assert len(a["work"]) == 90


def test_tables_are_deterministic_per_seed():
    a = gen.make_tables(3, 0.001)
    b = gen.make_tables(3, 0.001)
    c = gen.make_tables(4, 0.001)
    assert all(a[t].equals(b[t]) for t in a)
    assert not a["lineitem"].equals(c["lineitem"])
    assert {t: a[t].num_rows for t in a} == gen.table_rows(0.001)


def _publish(out: str, truth: dict) -> dict:
    """Write what a correct daily run leaves behind; return its op."""
    pub = os.path.join(out, "publish")
    rows = [dict(o_orderkey=k, **{c: w[c] for c in (
        "o_custkey", "o_orderstatus", "o_totalprice", "n_items", "revenue",
        "latest_event_type", "first_event_ts")}) for k, w in truth["work"].items()]
    os.makedirs(os.path.join(pub, "delivery_order_work"))
    pq.write_table(pa.Table.from_pylist(rows),
                   os.path.join(pub, "delivery_order_work", "part-0.parquet"))
    os.makedirs(os.path.join(out, "quarantine"))
    pq.write_table(pa.table({"_corrupt_record": ["x"] * truth["corrupt_records"]}),
                   os.path.join(out, "quarantine", "part-0.parquet"))
    for name, lines in (
        ("metadata", [{"o_orderstatus": s, "total_ordenes": n}
                      for s, n in truth["statuses"].items()]),
        ("dq_report", [{"rule": "orderkey_unique", "n_violations": 0}]),
    ):
        os.makedirs(os.path.join(pub, name))
        with open(os.path.join(pub, name, "part-0.json"), "w") as f:
            f.write("\n".join(json.dumps(x) for x in lines))
    return {"op": "op0", "error": None, "out": out, "summary": {
        "rows": truth["clean_orders"], "dq_violations": {"orderkey_unique": 0}}}


def test_daily_check_rejects_tampered_output(tmp_path):
    truth = gen.write_landing(str(tmp_path / "landing"), 5, 3, 40, 1, 30)
    op = _publish(str(tmp_path / "out"), truth)
    assert check.check_daily_op(op, truth) is None
    path = str(tmp_path / "out" / "publish" / "delivery_order_work" / "part-0.parquet")
    t = pq.read_table(path).to_pylist()
    t[0]["revenue"] += 0.01
    pq.write_table(pa.Table.from_pylist(t), path)
    assert "digest" in check.check_daily_op(op, truth)


@pytest.mark.parametrize("key", ["pricing_summary", "q13_order_count_distribution"])
def test_query_check_rejects_tampered_sink(tmp_path, key):
    from aproximacion_1_etl_spark.oracles import ALL_ORACLES

    sf_dir = str(tmp_path / "tables")
    gen.write_tables(sf_dir, 1, 0.001)
    sink = tmp_path / "sink"
    sink.mkdir()
    con = check.duck(sf_dir)
    con.execute(
        f"COPY ({ALL_ORACLES[key]}) TO '{sink}/part-0.parquet' (FORMAT parquet)")
    con.close()
    op = {"op": "op0", "key": key, "sink": str(sink), "error": None}
    assert check.check_query_ops([op], sf_dir) == []
    t = pq.read_table(str(sink / "part-0.parquet"))
    col = t.column_names[-1]
    vals = t.column(col).to_pylist()
    vals[0] = None
    pq.write_table(t.set_column(t.column_names.index(col), col,
                                pa.array(vals, t.schema.field(col).type)),
                   str(sink / "part-0.parquet"))
    assert len(check.check_query_ops([op], sf_dir)) == 1


def test_metric_names_and_benchmark_json_agree(tmp_path):
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        bench = json.load(f)
    e2e = [m["name"] for m in bench["end_to_end"]]
    per_layer = {m["name"]: (m["unit"], m["better"]) for m in bench["per_layer"]}
    for name in e2e + list(per_layer) + [w["name"] for w in bench["workloads"]]:
        assert NAME.fullmatch(name), name
    assert per_layer == layers.metric_specs()
    (tmp_path / "part-0.parquet").write_bytes(b"x" * 5)
    res = {"setup_s": 1.0, "passes_s": [2.0], "ops": [
        {"key": "k", "latency_s": 2.0, "error": None, "sink": str(tmp_path)}]}
    printed = run.end_to_end("corpus_ops", res, 100.0, {"input_bytes": 10})
    assert set(e2e) == set(printed)
    assert all(v > 0 for v, _ in printed.values())
    assert {w["name"] for w in bench["workloads"]} <= set(run.WORKLOADS)


def test_tail_is_the_highest_percentile_with_ten_samples_beyond():
    assert run.tail([1.0] * 19) is None
    value, pct = run.tail([float(i) for i in range(1, 101)])
    assert pct == 90 and value == 90.0
    assert sum(v > value for v in range(1, 101)) >= 10
