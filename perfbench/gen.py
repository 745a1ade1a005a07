"""Seeded TPC-H-shaped inputs for the warehouse benchmark.

Everything here is a pure function of the seed: the same seed gives
byte-identical parquet files, batches and op sequences. Sizes follow
scale factor 0.1 (150k orders, ~600k line items), the scale the
engine's own fixtures use. Money columns are whole cents divided by
100 so Spark and DuckDB read identical doubles.
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

EPOCH = dt.datetime(1992, 1, 1)
DATE_SPAN_DAYS = 2405  # 1992-01-01 .. 1998-08-02, as in TPC-H
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]

N_ORDERS = 150_000
N_CUSTOMERS = 15_000
N_SUPPLIERS = 1_000
N_PARTS = 20_000


def rng(seed: int, stream: str) -> np.random.Generator:
    """An independent generator per (seed, stream), so adding a stream
    never shifts the values another stream draws."""
    return np.random.default_rng([seed, *stream.encode()])


def _money(r: np.random.Generator, lo_cents: int, hi_cents: int, n: int) -> np.ndarray:
    return r.integers(lo_cents, hi_cents, n) / 100.0


def _ts(days: np.ndarray, seconds: np.ndarray | None = None) -> pa.Array:
    us = days.astype("int64") * 86_400_000_000
    if seconds is not None:
        us = us + seconds.astype("int64") * 1_000_000
    base = int((EPOCH - dt.datetime(1970, 1, 1)).total_seconds()) * 1_000_000
    return pa.array(us + base, type=pa.timestamp("us"))


def tpch_tables(seed: int) -> dict[str, pa.Table]:
    """region, nation, customer, supplier, orders and lineitem."""
    r = rng(seed, "tpch")
    region = pa.table({
        "r_regionkey": pa.array(np.arange(5), pa.int32()),
        "r_name": REGIONS,
    })
    nation = pa.table({
        "n_nationkey": pa.array(np.arange(25), pa.int32()),
        "n_name": [f"NATION_{k:02d}" for k in range(25)],
        "n_regionkey": pa.array(np.arange(25) % 5, pa.int32()),
    })
    ck = np.arange(1, N_CUSTOMERS + 1)
    customer = pa.table({
        "c_custkey": pa.array(ck, pa.int64()),
        "c_name": [f"Customer#{k:09d}" for k in ck],
        "c_nationkey": pa.array(r.integers(0, 25, N_CUSTOMERS), pa.int32()),
        "c_acctbal": _money(r, -99_999, 999_999, N_CUSTOMERS),
        "c_mktsegment": np.array(SEGMENTS)[r.integers(0, 5, N_CUSTOMERS)],
    })
    sk = np.arange(1, N_SUPPLIERS + 1)
    supplier = pa.table({
        "s_suppkey": pa.array(sk, pa.int64()),
        "s_name": [f"Supplier#{k:09d}" for k in sk],
        "s_nationkey": pa.array(r.integers(0, 25, N_SUPPLIERS), pa.int32()),
        "s_acctbal": _money(r, -99_999, 999_999, N_SUPPLIERS),
    })
    ok = np.arange(1, N_ORDERS + 1)
    odays = r.integers(0, DATE_SPAN_DAYS - 151, N_ORDERS)
    orders = pa.table({
        "o_orderkey": pa.array(ok, pa.int64()),
        "o_custkey": pa.array(r.integers(1, N_CUSTOMERS + 1, N_ORDERS), pa.int64()),
        "o_orderstatus": np.array(["F", "O", "P"])[r.integers(0, 3, N_ORDERS)],
        "o_totalprice": _money(r, 90_000, 50_000_000, N_ORDERS),
        "o_orderdate": _ts(odays),
        "o_orderpriority": np.array(PRIORITIES)[r.integers(0, 5, N_ORDERS)],
    })
    lines = r.integers(1, 8, N_ORDERS)
    lok = np.repeat(ok, lines)
    n = len(lok)
    starts = np.repeat(np.cumsum(lines) - lines, lines)
    qty = r.integers(1, 51, n).astype("float64")
    lineitem = pa.table({
        "l_orderkey": pa.array(lok, pa.int64()),
        "l_partkey": pa.array(r.integers(1, N_PARTS + 1, n), pa.int64()),
        "l_suppkey": pa.array(r.integers(1, N_SUPPLIERS + 1, n), pa.int64()),
        "l_linenumber": pa.array(np.arange(n) - starts + 1, pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": qty * r.integers(90_000, 200_000, n) / 100.0,
        "l_discount": r.integers(0, 11, n) / 100.0,
        "l_tax": r.integers(0, 9, n) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[r.integers(0, 3, n)],
        "l_linestatus": np.array(["F", "O"])[r.integers(0, 2, n)],
        "l_shipdate": _ts(np.repeat(odays, lines) + r.integers(1, 122, n)),
    })
    return {
        "region": region, "nation": nation, "customer": customer,
        "supplier": supplier, "orders": orders, "lineitem": lineitem,
    }


def write_parquet(tables: dict[str, pa.Table], out_dir: str) -> dict[str, str]:
    """One parquet file per table; returns name -> path."""
    os.makedirs(out_dir, exist_ok=True)
    paths = {}
    for name, t in tables.items():
        paths[name] = os.path.join(out_dir, f"{name}.parquet")
        pq.write_table(t, paths[name])
    return paths


def ts_literal(ts: dt.datetime) -> str:
    """``TIMESTAMP '...'`` literal text both engines parse the same way."""
    return f"TIMESTAMP '{ts:%Y-%m-%d %H:%M:%S}'"
