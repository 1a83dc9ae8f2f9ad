"""Seeded input generator for the lakehouse benchmark.

Runs outside the Spark session (numpy + pyarrow). The tables follow the
star schema the package's queries read (``sources.tables.TABLES``) with the
same column types and value ranges; ``scale`` is the TPC-H-style scale
factor (lineitem ~ 6M x scale rows). The same ``seed`` always gives the
same bytes.

``lake_inputs`` additionally lays out the lake day's arrivals: shipdate-
ordered ``lineitem`` increments (with a small share of rows the cleaning
chain must drop) and Debezium envelope files whose c/u/d ops are aimed at
keys created by earlier files.
"""

from __future__ import annotations

import datetime as dt
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

WORDS = (
    "a agg batch big column customer data dup fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream table "
    "the value vector window"
).split()
ADJ = "blue cold hot large new old red small".split()
NOUN = "anvil bolt gear gizmo plate ring rod widget".split()
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PTYPES = ["ECONOMY", "LARGE", "MEDIUM", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "de", "es", "fr", "zh"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]

ORDER_DAY0 = np.datetime64("1995-01-01", "us")
SHIP_DAY0 = np.datetime64("1995-01-02", "us")
EVENT_T0 = np.datetime64("2024-01-01T00:00:00", "us")
DAY_US = 86_400_000_000


def _write(out_dir: str, name: str, cols: dict) -> None:
    pq.write_table(pa.table(cols), os.path.join(out_dir, f"{name}.parquet"))


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(rng, day0: np.datetime64, span_days: int, n: int) -> np.ndarray:
    return day0 + rng.integers(0, span_days, n) * np.timedelta64(1, "D")


def lineitem_cols(rng, n: int, n_orders: int, n_parts: int, n_supp: int,
                  ship_day0: np.datetime64 = SHIP_DAY0, ship_days: int = 2499) -> dict:
    return {
        "l_orderkey": rng.integers(0, n_orders, n),
        "l_partkey": rng.integers(0, n_parts, n),
        "l_suppkey": rng.integers(0, n_supp, n),
        "l_linenumber": rng.integers(1, 8, n).astype(np.int32),
        "l_quantity": rng.integers(1, 51, n).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105000.0, n),
        "l_discount": rng.integers(0, 11, n) / 100.0,
        "l_tax": rng.integers(0, 9, n) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], n),
        "l_linestatus": rng.choice(["F", "O"], n),
        "l_shipdate": _days(rng, ship_day0, ship_days, n),
    }


def events_cols(rng, n: int, n_users: int) -> dict:
    ts = np.sort(rng.integers(0, 30 * DAY_US, n)) * np.timedelta64(1, "us")
    return {
        "event_id": np.arange(n, dtype=np.int64),
        "ts": EVENT_T0 + ts,
        "user_id": rng.integers(0, n_users, n),
        "event_type": rng.choice(EVENT_TYPES, n),
        "value": np.round(rng.exponential(50.0, n), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)],
    }


def _documents(rng, n: int) -> dict:
    texts: list[str] = []
    near_dup = set(rng.choice(np.arange(21, n), int(0.15 * n), replace=False).tolist())
    for i in range(n):
        if i in near_dup:
            # near-duplicate of an earlier document: a few words replaced
            words = texts[int(rng.integers(0, i))].split()
            for j in rng.integers(0, len(words), max(1, len(words) // 20)):
                words[j] = WORDS[int(rng.integers(0, len(WORDS)))]
        else:
            words = [WORDS[k] for k in rng.integers(0, len(WORDS), int(rng.integers(10, 101)))]
        texts.append(" ".join(words))
    return {
        "doc_id": np.arange(n, dtype=np.int64),
        "text": texts,
        "lang": rng.choice(LANGS, n, p=[0.4, 0.15, 0.15, 0.15, 0.15]),
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    }


def _embeddings(rng, n: int, dim: int = 64) -> dict:
    labels = rng.integers(0, 10, n).astype(np.int32)
    centers = rng.normal(0.0, 1.0, (10, dim))
    vecs = centers[labels] + rng.normal(0.0, 1.5, (n, dim))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    return {
        "vec_id": np.arange(n, dtype=np.int64),
        "embedding": pa.array(list(vecs.astype(np.float32)), type=pa.list_(pa.float32())),
        "label": labels,
    }


def sizes(scale: float) -> dict[str, int]:
    return {
        "customer": max(50, int(150_000 * scale)),
        "supplier": max(10, int(10_000 * scale)),
        "part": max(100, int(200_000 * scale)),
        "orders": max(500, int(1_500_000 * scale)),
        "lineitem": max(2_000, int(6_000_000 * scale)),
        "events": max(1_000, int(1_000_000 * scale)),
        "documents": max(500, int(50_000 * scale)),
        "embeddings": max(500, int(20_000 * scale)),
        "users": max(50, int(15_000 * scale)),
    }


def star_schema(out_dir: str, scale: float, seed: int, tables: list[str]) -> None:
    """Write ``<out_dir>/<table>.parquet`` for each requested table. Each
    table draws from its own child stream, so the set of tables asked for
    does not change any table's contents."""
    os.makedirs(out_dir, exist_ok=True)
    n = sizes(scale)
    streams = dict(zip(
        ["region", "nation", "customer", "supplier", "part", "orders",
         "lineitem", "events", "documents", "embeddings"],
        np.random.SeedSequence(seed).spawn(10),
    ))
    for name in tables:
        rng = np.random.default_rng(streams[name])
        if name == "region":
            cols = {"r_regionkey": np.arange(5, dtype=np.int32), "r_name": REGIONS}
        elif name == "nation":
            keys = np.arange(25, dtype=np.int32)
            cols = {"n_nationkey": keys, "n_name": [f"NATION_{k}" for k in keys],
                    "n_regionkey": keys % 5}
        elif name == "customer":
            k = n["customer"]
            cols = {
                "c_custkey": np.arange(k, dtype=np.int64),
                "c_name": [f"Customer#{i:09d}" for i in range(k)],
                "c_nationkey": rng.integers(0, 25, k).astype(np.int32),
                "c_acctbal": _money(rng, -999.99, 9999.99, k),
                "c_mktsegment": rng.choice(SEGMENTS, k),
            }
        elif name == "supplier":
            k = n["supplier"]
            cols = {
                "s_suppkey": np.arange(k, dtype=np.int64),
                "s_name": [f"Supplier#{i:09d}" for i in range(k)],
                "s_nationkey": rng.integers(0, 25, k).astype(np.int32),
                "s_acctbal": _money(rng, -999.99, 9999.99, k),
            }
        elif name == "part":
            k = n["part"]
            cols = {
                "p_partkey": np.arange(k, dtype=np.int64),
                "p_name": [f"{ADJ[a]} {NOUN[b]}" for a, b in
                           zip(rng.integers(0, 8, k), rng.integers(0, 8, k))],
                "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, k)],
                "p_type": rng.choice(PTYPES, k),
                "p_size": rng.integers(1, 51, k).astype(np.int32),
                "p_retailprice": 900.0 + (np.arange(k) % 1000) / 10.0,
            }
        elif name == "orders":
            k = n["orders"]
            cols = {
                "o_orderkey": np.arange(k, dtype=np.int64),
                "o_custkey": rng.integers(0, n["customer"], k),
                "o_orderstatus": rng.choice(["F", "O", "P"], k),
                "o_totalprice": _money(rng, 1000.0, 500000.0, k),
                "o_orderdate": _days(rng, ORDER_DAY0, 2404, k),
                "o_orderpriority": rng.choice(PRIORITIES, k),
            }
        elif name == "lineitem":
            cols = lineitem_cols(rng, n["lineitem"], n["orders"], n["part"], n["supplier"])
        elif name == "events":
            cols = events_cols(rng, n["events"], n["users"])
        elif name == "documents":
            cols = _documents(rng, n["documents"])
        elif name == "embeddings":
            cols = _embeddings(rng, n["embeddings"])
        else:
            raise ValueError(f"unknown table {name!r}")
        _write(out_dir, name, cols)


# --- lake day arrivals ----------------------------------------------------

def lake_inputs(out_dir: str, scale: float, seed: int, increments: int,
                envelope_files: int, update_share: float, delete_share: float,
                dirty_share: float) -> dict:
    """Write ``lineitem-<k>.parquet`` increments and ``cdc-<k>.json``
    envelope files under ``out_dir``; return their paths.

    Increments split the shipdate range at day boundaries, so the control
    table's ``l_shipdate > watermark`` never drops a row of the next
    increment. Dirty rows (null returnflag, zero quantity, out-of-range
    discount, null shipdate) are what ``clean_facts`` filters out.

    Envelope file k carries a 'c' for every event of the k-th time slice,
    then 'u' ops (new value/type/ts inside the slice, so no op is late for
    the 10-minute watermark) and 'd' ops aimed at keys that are still live;
    ``ts_ms`` rises strictly across all ops.
    """
    os.makedirs(out_dir, exist_ok=True)
    n = sizes(scale)
    rng = np.random.default_rng(np.random.SeedSequence([seed, 7]))
    # the day's arrivals cover one recent year of ship dates
    li = lineitem_cols(rng, n["lineitem"], n["orders"], n["part"], n["supplier"],
                       np.datetime64("2001-01-01", "us"), 365)
    m = len(li["l_orderkey"])
    dirty = rng.random(m) < dirty_share
    kind = rng.integers(0, 4, m)
    ret = np.where(dirty & (kind == 0), None, li["l_returnflag"])
    li["l_returnflag"] = pa.array(ret.tolist(), type=pa.string())
    li["l_quantity"] = np.where(dirty & (kind == 1), 0.0, li["l_quantity"])
    li["l_discount"] = np.where(dirty & (kind == 2), 0.15, li["l_discount"])
    ship = pa.array(li["l_shipdate"])
    li["l_shipdate"] = pa.array(ship.to_pylist(), type=pa.timestamp("us"),
                                mask=dirty & (kind == 3))
    table = pa.table(li)
    day = np.asarray(ship).astype("datetime64[D]").astype(np.int64)
    bounds = np.quantile(day, np.linspace(0, 1, increments + 1)[1:-1]).astype(np.int64)
    inc_of = np.searchsorted(bounds, day, side="right")
    # null-shipdate rows ride along with the increments round-robin
    inc_of = np.where(dirty & (kind == 3), np.arange(m) % increments, inc_of)
    paths = {"increments": [], "envelopes": []}
    for k in range(increments):
        sel = inc_of == k
        p = os.path.join(out_dir, f"lineitem-{k:02d}.parquet")
        order = np.argsort(day[sel], kind="stable")
        pq.write_table(table.filter(pa.array(sel)).take(pa.array(order)), p)
        paths["increments"].append(p)

    ev = events_cols(rng, n["events"], n["users"])
    ts_us = (ev["ts"] - EVENT_T0).astype(np.int64)
    slices = np.array_split(np.arange(len(ts_us)), envelope_files)
    live: dict[int, dict] = {}
    ts_ms = 1_700_000_000_000
    for k, idx in enumerate(slices):
        lo, hi = int(ts_us[idx[0]]), int(ts_us[idx[-1]])
        ops = []
        for i in idx:
            rec = {"event_id": int(ev["event_id"][i]), "ts": _ts_str(int(ts_us[i])),
                   "user_id": int(ev["user_id"][i]), "event_type": str(ev["event_type"][i]),
                   "value": float(ev["value"][i])}
            ops.append(("c", None, rec))
            live[rec["event_id"]] = rec
        keys = np.array(sorted(live), dtype=np.int64)
        n_upd = int(len(idx) * update_share)
        n_del = int(len(idx) * delete_share)
        picked = rng.choice(keys, n_upd + n_del, replace=False)
        for key in picked[:n_upd]:
            old = live[int(key)]
            new = dict(old, value=float(round(rng.exponential(50.0), 2)),
                       event_type=str(rng.choice(EVENT_TYPES)),
                       ts=_ts_str(int(rng.integers(lo, hi + 1))))
            ops.append(("u", old, new))
            live[int(key)] = new
        for key in picked[n_upd:]:
            ops.append(("d", live.pop(int(key)), None))
        lines = []
        for op, before, after in ops:
            ts_ms += 1
            lines.append(json.dumps({
                "op": op, "ts_ms": ts_ms,
                "before": None if before is None else json.dumps(before),
                "after": None if after is None else json.dumps(after),
                "source": {"db": "lake", "table": "events", "ts_ms": ts_ms},
            }))
        p = os.path.join(out_dir, f"cdc-{k:02d}.json")
        with open(p, "w") as f:
            f.write("\n".join(lines) + "\n")
        paths["envelopes"].append(p)
    return paths


def _ts_str(us: int) -> str:
    t = dt.datetime(2024, 1, 1) + dt.timedelta(microseconds=us)
    return t.strftime("%Y-%m-%d %H:%M:%S.%f")
