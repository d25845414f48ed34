"""Output checks, run after the worker has exited (outside set-up and
the timed phase). Each returns the ops that failed, with a reason.

- ``daily_etl``: every run's quarantine, published work table, metadata
  and DQ report are read back and compared with the ground truth the
  generator computed in plain Python.
- query workloads: the sink each timed op wrote is read back with
  DuckDB and compared, as an order-insensitive multiset with columns
  sorted by name, against the key's ``oracle_sql()`` run by DuckDB on
  the same generated tables.
"""

from __future__ import annotations

import datetime as dt
import decimal
import glob
import json
import math
import os

import pyarrow.parquet as pq

from gen import work_digest


def _read_json_lines(path: str) -> list[dict]:
    rows = []
    for part in sorted(glob.glob(os.path.join(path, "*.json"))):
        with open(part) as f:
            rows += [json.loads(line) for line in f if line.strip()]
    return rows


def check_daily_op(op: dict, truth: dict) -> str | None:
    """Return why one daily run's outputs are wrong, or None."""
    if op["error"]:
        return op["error"]
    summary = op["summary"]
    if summary["rows"] != truth["clean_orders"]:
        return f"rows {summary['rows']} != {truth['clean_orders']}"
    if any(summary["dq_violations"].values()):
        return f"dq violations {summary['dq_violations']}"
    out = op["out"]
    n_bad = pq.read_table(os.path.join(out, "quarantine")).num_rows
    if n_bad != truth["corrupt_records"]:
        return f"quarantined {n_bad} != {truth['corrupt_records']}"
    pub = os.path.join(out, "publish")
    meta = {r["o_orderstatus"]: r["total_ordenes"]
            for r in _read_json_lines(os.path.join(pub, "metadata"))}
    if meta != truth["statuses"]:
        return f"metadata {meta} != {truth['statuses']}"
    dq = _read_json_lines(os.path.join(pub, "dq_report"))
    if not dq or any(r["n_violations"] for r in dq):
        return f"dq report {dq}"
    rows = pq.read_table(os.path.join(pub, "delivery_order_work")).to_pylist()
    want = truth["work"]
    got = {r["o_orderkey"]: r for r in rows}
    if len(rows) != len(got) or set(got) != set(want):
        return "published order keys differ from the clean landed orders"
    if work_digest((k, r["n_items"], r["revenue"]) for k, r in got.items()) != \
            work_digest((k, w["n_items"], w["revenue"]) for k, w in want.items()):
        return "per-order (n_items, revenue) digest differs"
    for k, w in want.items():
        r = got[k]
        for col in ("o_custkey", "o_orderstatus", "o_totalprice",
                    "latest_event_type", "first_event_ts"):
            if r[col] != w[col]:
                return f"order {k}: {col} {r[col]!r} != {w[col]!r}"
    return None


def norm(v):
    """Engine-neutral value: floats/decimals to 9 places, timestamps as
    naive-UTC ISO strings, containers recursively."""
    if v is None:
        return None
    if isinstance(v, bool):
        return v
    if isinstance(v, (float, decimal.Decimal)):
        f = float(v)
        return "NaN" if math.isnan(f) else round(f, 9)
    if isinstance(v, dt.datetime):
        if v.tzinfo is not None:
            v = v.astimezone(dt.timezone.utc).replace(tzinfo=None)
        return v.isoformat()
    if isinstance(v, (dt.date, dt.time)):
        return v.isoformat()
    if isinstance(v, dict):
        return tuple(sorted((str(k), norm(x)) for k, x in v.items()))
    if isinstance(v, (list, tuple)):
        return tuple(norm(x) for x in v)
    return v


def canonical(cols: list[str], rows: list[tuple]) -> tuple:
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    body = sorted(
        (tuple(norm(r[i]) for i in order) for r in rows),
        key=lambda t: tuple((x is None, str(x)) for x in t),
    )
    return tuple(sorted(cols)), tuple(body)


def duck(sf_dir: str):
    import duckdb

    from aproximacion_1_etl_spark.sources.tables import TABLES

    con = duckdb.connect()
    con.execute("SET TimeZone = 'UTC'")
    con.execute("SET threads = 2")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    return con


def read_sink(con, sink: str) -> tuple:
    res = con.execute(
        f"SELECT * FROM read_parquet('{sink}/*.parquet')"
    )
    return canonical([d[0] for d in res.description], res.fetchall())


def oracle(con, key: str) -> tuple:
    from aproximacion_1_etl_spark.oracles import ALL_ORACLES

    res = con.execute(ALL_ORACLES[key])
    return canonical([d[0] for d in res.description], res.fetchall())


def check_query_ops(ops: list[dict], sf_dir: str) -> list[tuple[str, str]]:
    con = duck(sf_dir)
    expected: dict[str, tuple] = {}
    failed = []
    for o in ops:
        name = f"{o['op']}:{o['key']}"
        if o["error"]:
            failed.append((name, o["error"]))
            continue
        if o["key"] not in expected:
            expected[o["key"]] = oracle(con, o["key"])
        got = read_sink(con, o["sink"])
        want = expected[o["key"]]
        if got[0] != want[0]:
            failed.append((name, f"columns {got[0]} != oracle {want[0]}"))
        elif got[1] != want[1]:
            failed.append((name, f"{len(got[1])} rows differ from the oracle's "
                                 f"{len(want[1])}"))
    con.close()
    return failed


def check(wl: str, res: dict, inputs: dict) -> list[tuple[str, str]]:
    if wl == "daily_etl":
        return [(o["op"], why) for o in res["ops"]
                if (why := check_daily_op(o, inputs["truth"]))]
    return check_query_ops(res["ops"], inputs["spec"]["sf_dir"])
