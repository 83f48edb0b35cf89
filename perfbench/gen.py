"""Seeded input generators for the benchmark.

Everything the benchmark feeds the engine is made here from ``--seed``;
the same seed gives byte-identical inputs.

- :func:`write_tables` writes the TPC-H-ish star schema the suite
  queries read (``region`` .. ``lineitem`` plus the ``events`` stream
  table), with the column names, types and value ranges of the suite's
  test tables, at ``SCALE`` (the row counts of their sf0.01 size).
- :func:`arrivals` makes the batches of new orders (with their line
  items) that reach the batch ETL while its tail phase runs.
- :func:`cdc_files` builds the scenario-6 change stream as a list of
  JSON-lines files. Each file holds one event-time slice: new orders,
  dim churn, deletes of earlier orders and one heartbeat per dim table
  at the slice's end, so the engine's emission frontier (the minimum
  over all inputs of their newest event time) passes every order in the
  file as soon as the file is consumed.
"""

from __future__ import annotations

import datetime as dt
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Row counts of the sf0.01 test tables.
SCALE = {
    "customer": 1_500,
    "supplier": 100,
    "part": 2_000,
    "orders": 15_000,
    "lineitem": 60_000,
    "events": 10_000,
    "users": 150,
}

REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
PART_ADJ = ("small", "large", "red", "blue", "hot", "old", "shiny", "green")
PART_NOUN = ("ring", "widget", "bolt", "gear", "gizmo", "plate", "anvil", "spring")
PART_TYPES = ("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
EVENT_TYPES = ("click", "signup", "error", "view", "purchase")

_US_PER_DAY = 86_400 * 1_000_000
_EPOCH = dt.datetime(1970, 1, 1)


def _day_us(d: dt.datetime) -> int:
    return (d - _EPOCH) // dt.timedelta(microseconds=1)


def _pick(rng: np.random.Generator, values: tuple[str, ...], n: int) -> pa.Array:
    return pa.array(np.asarray(values, dtype=object)[rng.integers(0, len(values), n)], pa.string())


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(rng: np.random.Generator, start: dt.datetime, span_days: int, n: int) -> pa.Array:
    us = _day_us(start) + rng.integers(0, span_days + 1, n) * _US_PER_DAY
    return pa.array(us, pa.timestamp("us"))


def _orders(rng: np.random.Generator, keys: np.ndarray, start: dt.datetime, span_days: int) -> pa.Table:
    n = len(keys)
    return pa.table({
        "o_orderkey": pa.array(keys, pa.int64()),
        "o_custkey": pa.array(rng.integers(0, SCALE["customer"], n), pa.int64()),
        "o_orderstatus": _pick(rng, ("F", "O", "P"), n),
        "o_totalprice": _money(rng, 1000.0, 500000.0, n),
        "o_orderdate": _days(rng, start, span_days, n),
        "o_orderpriority": _pick(rng, PRIORITIES, n),
    })


def _lineitems(rng: np.random.Generator, orderkeys: np.ndarray, linenumbers: np.ndarray | None = None) -> pa.Table:
    n = len(orderkeys)
    partkeys = rng.integers(0, SCALE["part"], n)
    suppkeys = rng.integers(0, SCALE["supplier"], n)
    if linenumbers is None:
        linenumbers = rng.integers(1, 8, n)
    return pa.table({
        "l_orderkey": pa.array(orderkeys, pa.int64()),
        "l_partkey": pa.array(partkeys, pa.int64()),
        "l_suppkey": pa.array(suppkeys, pa.int64()),
        "l_linenumber": pa.array(linenumbers, pa.int32()),
        "l_quantity": rng.integers(1, 51, n).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105000.0, n),
        "l_discount": rng.integers(0, 11, n) / 100.0,
        "l_tax": rng.integers(0, 9, n) / 100.0,
        "l_returnflag": _pick(rng, ("A", "N", "R"), n),
        "l_linestatus": _pick(rng, ("F", "O"), n),
        "l_shipdate": _days(rng, dt.datetime(1995, 1, 2), 2498, n),
    })


def make_tables(seed: int) -> dict[str, pa.Table]:
    """The eight tables the batch queries read, as Arrow tables."""
    rng = np.random.default_rng([seed, 1])
    n_c, n_s, n_p = SCALE["customer"], SCALE["supplier"], SCALE["part"]
    n_o, n_l, n_e = SCALE["orders"], SCALE["lineitem"], SCALE["events"]
    i32, i64 = pa.int32(), pa.int64()
    out = {
        "region": pa.table({
            "r_regionkey": pa.array(range(len(REGIONS)), i32),
            "r_name": pa.array(REGIONS),
        }),
        "nation": pa.table({
            "n_nationkey": pa.array(range(25), i32),
            "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
            "n_regionkey": pa.array([i % len(REGIONS) for i in range(25)], i32),
        }),
        "customer": pa.table({
            "c_custkey": pa.array(np.arange(n_c), i64),
            "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_c)]),
            "c_nationkey": pa.array(rng.integers(0, 25, n_c), i32),
            "c_acctbal": _money(rng, -999.99, 9999.99, n_c),
            "c_mktsegment": _pick(rng, SEGMENTS, n_c),
        }),
        "supplier": pa.table({
            "s_suppkey": pa.array(np.arange(n_s), i64),
            "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_s)]),
            "s_nationkey": pa.array(rng.integers(0, 25, n_s), i32),
            "s_acctbal": _money(rng, -999.99, 9999.99, n_s),
        }),
    }
    adj = np.asarray(PART_ADJ, dtype=object)[rng.integers(0, len(PART_ADJ), n_p)]
    noun = np.asarray(PART_NOUN, dtype=object)[rng.integers(0, len(PART_NOUN), n_p)]
    out["part"] = pa.table({
        "p_partkey": pa.array(np.arange(n_p), i64),
        "p_name": pa.array([f"{a} {b}" for a, b in zip(adj, noun)]),
        "p_brand": pa.array([f"Brand#{i}" for i in rng.integers(1, 26, n_p)]),
        "p_type": _pick(rng, PART_TYPES, n_p),
        "p_size": pa.array(rng.integers(1, 51, n_p), i32),
        "p_retailprice": np.round(900.0 + rng.integers(0, 1000, n_p) / 10.0, 1),
    })
    out["orders"] = _orders(rng, np.arange(n_o), dt.datetime(1995, 1, 1), 2403)
    out["lineitem"] = _lineitems(rng, rng.integers(0, n_o, n_l))
    ts = np.sort(_day_us(dt.datetime(2024, 1, 1)) + rng.integers(0, 30 * _US_PER_DAY, n_e))
    out["events"] = pa.table({
        "event_id": pa.array(np.arange(n_e), i64),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, SCALE["users"], n_e), i64),
        "event_type": _pick(rng, EVENT_TYPES, n_e),
        "value": np.round(rng.exponential(50.0, n_e), 2),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_e)]),
    })
    return out


def write_tables(seed: int, out_dir: str) -> dict[str, int]:
    """Write ``<out_dir>/<table>.parquet`` for every table; return the row
    count of each."""
    os.makedirs(out_dir, exist_ok=True)
    rows = {}
    for name, table in make_tables(seed).items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
        rows[name] = table.num_rows
    return rows


def arrivals(seed: int, n: int, orders_each: int) -> list[dict[str, pa.Table]]:
    """``n`` batches of new orders for the batch ETL, each of
    ``orders_each`` orders with 1-7 line items, keyed after the generated
    ``orders`` table. Their customers and parts exist and their order
    dates fall inside the window ``enriched_orders`` reports
    (1996-01-01 01:00 to 2000-01-01 01:00), so each reaches its output."""
    rng = np.random.default_rng([seed, 3])
    out = []
    for i in range(n):
        keys = SCALE["orders"] + i * orders_each + np.arange(orders_each)
        per = rng.integers(1, 8, orders_each)
        out.append({
            "orders": _orders(rng, keys, dt.datetime(1996, 1, 2), 1450),
            "lineitem": _lineitems(rng, np.repeat(keys, per), np.concatenate([np.arange(1, k + 1) for k in per])),
        })
    return out


# ---------------------------------------------------------------------------
# Scenario-6 change stream
# ---------------------------------------------------------------------------

CDC_DIMS = {"clients": 200, "tables": 40, "table_assignment": 1_000, "pizzas": 30}
CDC_BASE = dt.datetime(2024, 3, 1, 10, 0, 0)
SLICE_S = 60  # event-time width of one file


def _ts(seconds: float) -> str:
    return (CDC_BASE + dt.timedelta(seconds=float(seconds))).strftime("%Y-%m-%d %H:%M:%S")


def _env(table: str, op: str, data: dict) -> str:
    return json.dumps({"table": table, "op": op, "data": json.dumps(data)})


def _dim_row(table: str, key: int, version: int, event_s: float, rng: np.random.Generator) -> dict:
    t = _ts(event_s)
    if table == "clients":
        return {"id": key, "name": f"client_{key}_v{version}", "event_time": t}
    if table == "tables":
        return {"id": key, "name": f"table_{key}_v{version}", "event_time": t}
    if table == "pizzas":
        return {"id": key, "name": f"pizza_{key}_v{version}", "price": int(rng.integers(4, 13)), "event_time": t}
    return {
        "id": key,
        "client_id": int(rng.integers(1, CDC_DIMS["clients"] + 1)),
        "table_id": int(rng.integers(1, CDC_DIMS["tables"] + 1)),
        "event_time": t,
    }


class CdcFile:
    """One generated input file: its JSON lines, the ids of the orders it
    creates, and its event count."""

    def __init__(self, lines: list[str], order_ids: list[int]):
        self.lines = lines
        self.order_ids = order_ids

    @property
    def events(self) -> int:
        return len(self.lines)


def cdc_files(seed: int, n_files: int, orders_per_file: int, first_slice: int = 0,
              first_order_id: int = 1) -> list[CdcFile]:
    """``n_files`` consecutive event-time slices of the change stream.

    Slice ``first_slice + i`` covers event seconds ``[s*SLICE_S,
    (s+1)*SLICE_S)``. The first slice of a stream (``first_slice == 0``)
    also carries the initial version of every dim row. Each later slice
    updates ~5% of every dim table, deletes 2% as many earlier orders as
    it creates, and ends with one heartbeat per dim table at
    ``(s+1)*SLICE_S - 1``, which is at or after every event in it.
    """
    rng = np.random.default_rng([seed, 2, first_slice])
    files = []
    next_id = first_order_id
    version = {name: 0 for name in CDC_DIMS}
    for i in range(n_files):
        s = first_slice + i
        lo, hi = s * SLICE_S, (s + 1) * SLICE_S - 1
        lines = []
        if s == 0:
            for name, n in CDC_DIMS.items():
                lines += [_env(name, "c", _dim_row(name, k, 0, 0, rng)) for k in range(1, n + 1)]
        else:
            for name, n in CDC_DIMS.items():
                version[name] += 1
                for k in rng.choice(np.arange(1, n + 1), max(1, n // 20), replace=False):
                    row = _dim_row(name, int(k), version[name], rng.uniform(lo, hi), rng)
                    lines.append(_env(name, "u", row))
        ids = list(range(next_id, next_id + orders_per_file))
        next_id += orders_per_file
        for oid in ids:
            t = rng.uniform(lo, hi)
            lines.append(_env("orders", "c", {
                "id": oid,
                "table_assignment_id": int(rng.integers(1, CDC_DIMS["table_assignment"] + 1)),
                "order_time": _ts(t),
                "pizzas": [int(p) for p in rng.integers(1, CDC_DIMS["pizzas"] + 1, rng.integers(1, 5))],
                "event_time": _ts(t),
            }))
        if ids[0] > first_order_id:
            for oid in rng.integers(first_order_id, ids[0], max(1, orders_per_file // 50)):
                lines.append(_env("orders", "d", {"id": int(oid), "event_time": _ts(rng.uniform(lo, hi))}))
        for name in CDC_DIMS:
            lines.append(_env(name, "c", {"id": 0, "event_time": _ts(hi)}))
        order = rng.permutation(len(lines))
        files.append(CdcFile([lines[j] for j in order], ids))
    return files


def write_cdc_file(f: CdcFile, path: str, mtime: float) -> None:
    """Write one change-stream file and pin its mtime (the file source
    orders new files by modification time)."""
    with open(path, "w") as fh:
        fh.write("\n".join(f.lines) + "\n")
    os.utime(path, (mtime, mtime))
