"""Seeded input tables for the batch workload.

Writes the eight relational tables the engine's queries read (the
TPC-H-ish star schema plus ``events``) at a chosen scale factor, with the
same column names, parquet types and value ranges as the engine's
test fixtures. Every table is one file with one row group, the shape
``session.read_table`` is written for. The content is a pure function
of the seed, so the same seed stages the same bytes.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

#: Row counts of the sf0.1 fixture; ``build_tables`` scales all but
#: ``region`` and ``nation`` linearly with the scale factor.
SF01_ROWS = {
    "region": 5,
    "nation": 25,
    "customer": 15_000,
    "supplier": 1_000,
    "part": 20_000,
    "orders": 150_000,
    "lineitem": 600_000,
    "events": 100_000,
}

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["blue", "old", "small", "new", "large", "hot", "cold", "red"]
PART_NOUN = ["widget", "gizmo", "ring", "gear", "bolt", "plate", "rod", "anvil"]
PART_TYPES = ["LARGE", "ECONOMY", "STANDARD", "SMALL", "MEDIUM", "PROMO"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["signup", "click", "error", "view", "purchase"]


def _dates(rng: np.random.Generator, n: int, lo: str, hi: str) -> np.ndarray:
    start = np.datetime64(lo, "D")
    span = int((np.datetime64(hi, "D") - start).astype(int))
    return (start + rng.integers(0, span + 1, n)).astype("datetime64[us]")


def _money(rng: np.random.Generator, n: int, lo: float, hi: float) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _pick(rng: np.random.Generator, values: list[str], n: int) -> np.ndarray:
    return np.asarray(values, dtype=object)[rng.integers(0, len(values), n)]


def _names(prefix: str, n: int) -> list[str]:
    return [f"{prefix}#{i:09d}" for i in range(n)]


def table_rows(sf: float) -> dict[str, int]:
    """Row count of each table at scale factor ``sf``."""
    return {
        name: rows if name in ("region", "nation") else round(rows * sf / 0.1)
        for name, rows in SF01_ROWS.items()
    }


def build_tables(seed: int, sf: float) -> dict[str, pa.Table]:
    """The eight tables at scale factor ``sf`` as Arrow tables,
    generated from ``seed``."""
    rng = np.random.default_rng(seed)
    n = table_rows(sf)
    i32, i64, f64 = pa.int32(), pa.int64(), pa.float64()
    ts = pa.timestamp("us")

    region = pa.table(
        {
            "r_regionkey": pa.array(range(n["region"]), i32),
            "r_name": REGIONS,
        }
    )
    nation = pa.table(
        {
            "n_nationkey": pa.array(range(n["nation"]), i32),
            "n_name": [f"NATION_{i}" for i in range(n["nation"])],
            "n_regionkey": pa.array([i % n["region"] for i in range(n["nation"])], i32),
        }
    )
    customer = pa.table(
        {
            "c_custkey": pa.array(np.arange(n["customer"]), i64),
            "c_name": _names("Customer", n["customer"]),
            "c_nationkey": pa.array(rng.integers(0, n["nation"], n["customer"]), i32),
            "c_acctbal": pa.array(_money(rng, n["customer"], -999.99, 9999.99), f64),
            "c_mktsegment": _pick(rng, SEGMENTS, n["customer"]),
        }
    )
    supplier = pa.table(
        {
            "s_suppkey": pa.array(np.arange(n["supplier"]), i64),
            "s_name": _names("Supplier", n["supplier"]),
            "s_nationkey": pa.array(rng.integers(0, n["nation"], n["supplier"]), i32),
            "s_acctbal": pa.array(_money(rng, n["supplier"], -999.99, 9999.99), f64),
        }
    )
    pk = np.arange(n["part"])
    part = pa.table(
        {
            "p_partkey": pa.array(pk, i64),
            "p_name": [
                f"{a} {b}"
                for a, b in zip(
                    _pick(rng, PART_ADJ, n["part"]), _pick(rng, PART_NOUN, n["part"])
                )
            ],
            "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n["part"])],
            "p_type": _pick(rng, PART_TYPES, n["part"]),
            "p_size": pa.array(rng.integers(1, 51, n["part"]), i32),
            "p_retailprice": pa.array(np.round(900.0 + (pk % 1000) / 10.0, 1), f64),
        }
    )
    orders = pa.table(
        {
            "o_orderkey": pa.array(np.arange(n["orders"]), i64),
            "o_custkey": pa.array(rng.integers(0, n["customer"], n["orders"]), i64),
            "o_orderstatus": _pick(rng, ["O", "F", "P"], n["orders"]),
            "o_totalprice": pa.array(_money(rng, n["orders"], 1000.0, 500000.0), f64),
            "o_orderdate": pa.array(_dates(rng, n["orders"], "1995-01-01", "2001-08-01"), ts),
            "o_orderpriority": _pick(rng, PRIORITIES, n["orders"]),
        }
    )
    nl = n["lineitem"]
    lineitem = pa.table(
        {
            "l_orderkey": pa.array(rng.integers(0, n["orders"], nl), i64),
            "l_partkey": pa.array(rng.integers(0, n["part"], nl), i64),
            "l_suppkey": pa.array(rng.integers(0, n["supplier"], nl), i64),
            "l_linenumber": pa.array(rng.integers(1, 8, nl), i32),
            "l_quantity": pa.array(rng.integers(1, 51, nl).astype(float), f64),
            "l_extendedprice": pa.array(_money(rng, nl, 900.0, 105000.0), f64),
            "l_discount": pa.array(rng.integers(0, 11, nl) / 100.0, f64),
            "l_tax": pa.array(rng.integers(0, 9, nl) / 100.0, f64),
            "l_returnflag": _pick(rng, ["A", "N", "R"], nl),
            "l_linestatus": _pick(rng, ["O", "F"], nl),
            "l_shipdate": pa.array(_dates(rng, nl, "1995-01-02", "2001-11-04"), ts),
        }
    )
    ne = n["events"]
    start = np.datetime64("2024-01-01T00:00:00", "us")
    month_us = 30 * 86_400 * 1_000_000
    events = pa.table(
        {
            "event_id": pa.array(np.arange(ne), i64),
            "ts": pa.array(start + np.sort(rng.integers(0, month_us, ne)), ts),
            "user_id": pa.array(rng.integers(0, 1500, ne), i64),
            "event_type": _pick(rng, EVENT_TYPES, ne),
            "value": pa.array(np.round(rng.exponential(50.0, ne), 2), f64),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, ne)],
        }
    )
    return {
        "region": region,
        "nation": nation,
        "customer": customer,
        "supplier": supplier,
        "part": part,
        "orders": orders,
        "lineitem": lineitem,
        "events": events,
    }


def stage_tables(seed: int, sf: float, out_dir: str) -> dict[str, int]:
    """Write the seeded tables as ``<out_dir>/<name>.parquet``; returns
    the row count of each."""
    os.makedirs(out_dir, exist_ok=True)
    rows = {}
    for name, table in build_tables(seed, sf).items():
        path = os.path.join(out_dir, f"{name}.parquet")
        pq.write_table(table, path, row_group_size=max(1, table.num_rows))
        rows[name] = table.num_rows
    return rows

