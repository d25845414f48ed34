"""Seeded input generators for the benchmark.

Two kinds of input, both a pure function of ``seed``:

- ``write_tables``: the engine's parquet catalog (TPC-H-shaped star
  schema plus the ``events``, ``documents`` and ``embeddings`` tables)
  with the column names, types and value domains of the catalog the
  engine's queries bind to. Row counts follow the scale factor.
- ``write_landing``: the reference's landing zone: one multiLine JSON
  array of delivery orders per day at
  ``{root}/{execution_date}/{day}/{day}.json``, a
  ``{day}_metadata.json`` sidecar beside each, child arrays stored as
  JSON strings (``packages_json``, ``events_info_json``) and a fixed
  number of corrupt day files (truncated mid-array, as a partial upload
  leaves them). A multiLine JSON file is one document, so Spark
  quarantines a corrupt file as ONE corrupt record and none of its
  orders. It returns the ground truth computed here, in plain Python,
  independently of the engine.
"""

from __future__ import annotations

import datetime as dt
import hashlib
import json
import math
import os
from decimal import ROUND_HALF_UP, Decimal

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

WORDS = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
LANGS = ("en", "fr", "es", "zh", "de")
LANG_P = (0.41, 0.15, 0.15, 0.15, 0.14)
EVENT_TYPES = ("click", "signup", "error", "view", "purchase")
SEGMENTS = ("MACHINERY", "AUTOMOBILE", "HOUSEHOLD", "BUILDING", "FURNITURE")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
PART_ADJ = ("blue", "cold", "hot", "large", "new", "old", "red", "small")
PART_NOUN = ("anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget")
PART_TYPES = ("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
EMBED_DIM = 64

def table_rows(sf: float) -> dict[str, int]:
    """Row count of every catalog table at scale factor ``sf``."""
    return {
        "region": 5,
        "nation": 25,
        "customer": max(150, int(150_000 * sf)),
        "supplier": max(10, int(10_000 * sf)),
        "part": max(200, int(200_000 * sf)),
        "orders": max(1_500, int(1_500_000 * sf)),
        "lineitem": max(6_000, int(6_000_000 * sf)),
        "events": max(1_000, int(1_000_000 * sf)),
        "documents": max(500, int(50_000 * sf)),
        "embeddings": max(500, int(20_000 * sf)),
    }


def _days(rng, lo: str, hi: str, n: int) -> np.ndarray:
    start = np.datetime64(lo, "D")
    span = (np.datetime64(hi, "D") - start).astype(int)
    return (start + rng.integers(0, span + 1, n)).astype("datetime64[us]")


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _pick(rng, values, n: int, p=None) -> list[str]:
    return [values[i] for i in rng.choice(len(values), n, p=p)]


def _documents(rng, n: int) -> pa.Table:
    """Word-salad documents over a 30-word vocabulary; ~5 % are near
    duplicates (an earlier document with ``" dup"`` appended), so the
    dedup keys find real clusters."""
    lengths = rng.integers(10, 91, n)
    texts = [" ".join(_pick(rng, WORDS, int(k))) for k in lengths]
    dup_rows = rng.choice(n, n // 20, replace=False)
    for i in dup_rows:
        j = int(rng.integers(0, n))
        if j != i:
            texts[i] = texts[j] + " dup"
    return pa.table({
        "doc_id": pa.array(np.arange(n), pa.int64()),
        "text": texts,
        "lang": _pick(rng, LANGS, n, LANG_P),
        "source": [f"src{i}" for i in rng.integers(0, 20, n)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def _embeddings(rng, n: int) -> pa.Table:
    """Unit-normalized float32 vectors around one centroid per label."""
    centers = rng.normal(size=(10, EMBED_DIM))
    labels = rng.integers(0, 10, n)
    vecs = centers[labels] + 1.5 * rng.normal(size=(n, EMBED_DIM))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    return pa.table({
        "vec_id": pa.array(np.arange(n), pa.int64()),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32()),
    })


def make_tables(seed: int, sf: float) -> dict[str, pa.Table]:
    rng = np.random.default_rng(seed)
    n = table_rows(sf)
    n_cust, n_ord, n_li, n_ev = (
        n["customer"], n["orders"], n["lineitem"], n["events"]
    )
    t: dict[str, pa.Table] = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": list(REGIONS),
    })
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    t["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": _pick(rng, SEGMENTS, n_cust),
    })
    n_sup = n["supplier"]
    t["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n_sup), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_sup)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_sup), pa.int32()),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_sup),
    })
    n_part = n["part"]
    t["part"] = pa.table({
        "p_partkey": pa.array(np.arange(n_part), pa.int64()),
        "p_name": [
            f"{PART_ADJ[a]} {PART_NOUN[b]}"
            for a, b in zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))
        ],
        "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, n_part)],
        "p_type": _pick(rng, PART_TYPES, n_part),
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) / 10.0, 1),
    })
    t["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": _pick(rng, ("F", "O", "P"), n_ord),
        "o_totalprice": _money(rng, 1000.0, 500000.0, n_ord),
        "o_orderdate": _days(rng, "1995-01-01", "2001-08-01", n_ord),
        "o_orderpriority": _pick(rng, PRIORITIES, n_ord),
    })
    t["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_li), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n_li), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_sup, n_li), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n_li), pa.int32()),
        "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105000.0, n_li),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": _pick(rng, ("A", "N", "R"), n_li),
        "l_linestatus": _pick(rng, ("F", "O"), n_li),
        "l_shipdate": _days(rng, "1995-01-02", "2001-11-04", n_li),
    })
    span_us = 30 * 86_400_000_000
    ts = np.sort(rng.integers(0, span_us, n_ev))
    t["events"] = pa.table({
        "event_id": pa.array(np.arange(n_ev), pa.int64()),
        "ts": np.datetime64("2024-01-01T00:00:00", "us") + ts.astype("timedelta64[us]"),
        "user_id": pa.array(rng.integers(0, max(1, n_cust // 10), n_ev), pa.int64()),
        "event_type": _pick(rng, EVENT_TYPES, n_ev),
        "value": np.maximum(0.01, np.round(rng.exponential(50.0, n_ev), 2)),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
    })
    t["documents"] = _documents(rng, n["documents"])
    t["embeddings"] = _embeddings(rng, n["embeddings"])
    return t


def write_tables(out_dir: str, seed: int, sf: float) -> None:
    """Write the catalog as ``{out_dir}/{table}.parquet``."""
    os.makedirs(out_dir, exist_ok=True)
    for name, tbl in make_tables(seed, sf).items():
        pq.write_table(tbl, os.path.join(out_dir, f"{name}.parquet"))


# -- landing zone ----------------------------------------------------

# The staged schema of the landing records, as string DDL.
ORDER_DDL = (
    "delivery_order_id STRING, o_orderkey BIGINT, o_custkey BIGINT, "
    "o_orderstatus STRING, o_totalprice DOUBLE, o_orderdate STRING, "
    "size_box STRING, delivery_attemps INT, "
    "destination STRUCT<street: STRING, number: STRING, structure_id: INT>, "
    "packages_json STRING, events_info_json STRING"
)
PACKAGE_DDL = (
    "code STRING, line INT, quantity DOUBLE, price DOUBLE, discount DOUBLE"
)
EVENT_DDL = (
    "event_id BIGINT, status STRING, timestamp STRING, value DOUBLE, "
    "info STRUCT<user_name: STRING>"
)
EXEC_DATE = "2024-06-01"
FIRST_DAY = dt.date(2024, 1, 1)


def _revenue(lines: list[tuple[float, float]]) -> float:
    """The work table's ``revenue`` for one order, in plain Python:
    each line's double product rounded half-up to 8 decimals, summed
    exactly, then rounded half-up to cents."""
    total = sum(
        Decimal(repr(p * (1.0 - d))).quantize(Decimal("1e-8"), ROUND_HALF_UP)
        for p, d in lines
    )
    return math.floor(float(total) * 100.0 + 0.5) / 100.0


def write_landing(
    root: str,
    seed: int,
    days: int,
    orders_per_day: int,
    corrupt_days: int,
    n_customers: int,
) -> dict:
    """Write ``days`` day files of ``orders_per_day`` records each, of
    which ``corrupt_days`` files are truncated, and return the ground
    truth."""
    rng = np.random.default_rng(seed)
    bad_days = set(rng.choice(days, corrupt_days, replace=False).tolist())
    work: dict[int, dict] = {}
    users: dict[int, list] = {}
    statuses: dict[str, int] = {}
    next_key = 0
    next_event = 0
    landed_bytes = 0
    for d in range(days):
        day = (FIRST_DAY + dt.timedelta(days=d)).isoformat()
        day_dir = os.path.join(root, EXEC_DATE, day)
        os.makedirs(day_dir, exist_ok=True)
        records = []
        for _ in range(orders_per_day):
            key = next_key
            next_key += 1
            cust = int(rng.integers(0, n_customers))
            status = ("F", "O", "P")[int(rng.integers(0, 3))]
            total = round(float(rng.uniform(1000.0, 500000.0)), 2)
            n_pk = int(rng.integers(0, 6))
            packages = [
                {
                    "code": f"PKG{key}-{j}",
                    "line": j + 1,
                    "quantity": float(rng.integers(1, 51)),
                    "price": round(float(rng.uniform(900.0, 105000.0)), 2),
                    "discount": int(rng.integers(0, 11)) / 100.0,
                }
                for j in range(n_pk)
            ]
            events = []
            for _ in range(int(rng.integers(0, 4))):
                sec = d * 86_400 + int(rng.integers(0, 86_400))
                ts = dt.datetime(2024, 1, 1) + dt.timedelta(
                    seconds=sec, microseconds=int(rng.integers(0, 1_000_000))
                )
                events.append({
                    "event_id": next_event,
                    "status": EVENT_TYPES[int(rng.integers(0, 5))],
                    "timestamp": ts.isoformat(timespec="microseconds"),
                    "value": round(float(rng.exponential(50.0)) + 0.01, 2),
                    "info": {"user_name": f"u{int(rng.integers(0, 50))}"},
                })
                next_event += 1
            rec = {
                "delivery_order_id": f"DO-{key}",
                "o_orderkey": key,
                "o_custkey": cust,
                "o_orderstatus": status,
                "o_totalprice": total,
                "o_orderdate": f"{day}T00:00:00",
                "size_box": "ML"[int(rng.integers(0, 2))],
                "delivery_attemps": int(rng.integers(0, 4)),
                "destination": {
                    "street": "Evergreen",
                    "number": str(int(rng.integers(1, 999))),
                    "structure_id": int(rng.integers(13000, 13200)),
                },
                "packages_json": json.dumps(packages),
                "events_info_json": json.dumps(events),
            }
            if d not in bad_days:
                work[key] = {
                    "o_custkey": cust,
                    "o_orderstatus": status,
                    "o_totalprice": total,
                    "n_items": n_pk,
                    "revenue": _revenue(
                        [(p["price"], p["discount"]) for p in packages]
                    ),
                }
                statuses[status] = statuses.get(status, 0) + 1
                for e in events:
                    users.setdefault(cust, []).append(e)
            records.append(rec)
        path = os.path.join(day_dir, f"{day}.json")
        text = json.dumps(records, indent=1)
        if d in bad_days:
            text = text[: len(text) * 3 // 5]
        with open(path, "w") as f:
            f.write(text)
        landed_bytes += os.path.getsize(path)
        with open(os.path.join(day_dir, f"{day}_metadata.json"), "w") as f:
            json.dump({"fecha": day, "total_ordenes": len(records)}, f)
    for key, row in work.items():
        evs = users.get(row["o_custkey"], [])
        if evs:
            last = max(evs, key=lambda e: (e["timestamp"], e["event_id"]))
            row["latest_event_type"] = last["status"]
            first = min(e["timestamp"] for e in evs)
            row["first_event_ts"] = first[:19].replace("T", " ")
        else:
            row["latest_event_type"] = None
            row["first_event_ts"] = None
    return {
        "days": days,
        "orders": days * orders_per_day,
        "clean_orders": len(work),
        "corrupt_records": corrupt_days,
        "lost_orders": corrupt_days * orders_per_day,
        "landed_bytes": landed_bytes,
        "statuses": statuses,
        "work": work,
    }


def work_digest(rows) -> str:
    """Order-insensitive digest of (orderkey, n_items, revenue) rows."""
    h = hashlib.sha256()
    for key, n_items, revenue in sorted(rows):
        h.update(f"{key}|{n_items}|{revenue:.2f}\n".encode())
    return h.hexdigest()
