"""Seeded TPC-H-shaped tables for the registry queries of the dedup_sql workload.

Writes one parquet file per table in the schemas of FIXTURES.md B, with the
value domains the registered queries filter on (market segments, region
names, order statuses, return flags, `red%` part names, 1995-2001 dates).
Timestamps are tz-naive microseconds, as in the harness fixtures, so the
engine and DuckDB read them alike.
"""
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_ADJ = ["red", "blue", "green", "small", "large", "shiny", "old", "black",
            "white", "steel", "pale", "dark", "tiny"]
PART_NOUN = ["widget", "bolt", "ring", "anvil", "gear"]
PART_TYPES = ["ECONOMY", "SMALL", "STANDARD", "LARGE", "MEDIUM", "PROMO"]
EVENT_TYPES = ["click", "view", "purchase", "error", "scroll"]

# rows per table at scale factor 0.01, the shape of the harness fixture
BASE_ROWS = {"customer": 1500, "supplier": 100, "part": 2000,
             "orders": 15000, "lineitem": 60000, "events": 10000}

_DAY_US = 86_400_000_000
_D1995 = np.datetime64("1995-01-01", "us")
_D2024 = np.datetime64("2024-01-01", "us")


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _names(prefix, n):
    return pa.array(["%s#%09d" % (prefix, i) for i in range(n)], pa.string())


def _pick(rng, values, n):
    return pa.array(np.asarray(values, dtype=object)[rng.integers(0, len(values), n)],
                    pa.string())


def _days(rng, lo, hi, n):
    return pa.array(_D1995 + rng.integers(lo, hi, n) * np.timedelta64(1, "D"),
                    pa.timestamp("us"))


def build(seed, scale=1.0):
    """Returns {table name: pyarrow.Table}."""
    rng = np.random.default_rng(seed)
    n = {k: max(1, int(v * scale)) for k, v in BASE_ROWS.items()}
    i32, i64 = pa.int32(), pa.int64()
    t = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), i32),
        "r_name": pa.array(REGIONS, pa.string())})
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), i32),
        "n_name": pa.array(["NATION_%d" % i for i in range(25)], pa.string()),
        "n_regionkey": pa.array([i % 5 for i in range(25)], i32)})
    t["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n["customer"]), i64),
        "c_name": _names("Customer", n["customer"]),
        "c_nationkey": pa.array(rng.integers(0, 25, n["customer"]), i32),
        "c_acctbal": _money(rng, -999.99, 9999.99, n["customer"]),
        "c_mktsegment": _pick(rng, SEGMENTS, n["customer"])})
    t["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n["supplier"]), i64),
        "s_name": _names("Supplier", n["supplier"]),
        "s_nationkey": pa.array(rng.integers(0, 25, n["supplier"]), i32),
        "s_acctbal": _money(rng, -999.99, 9999.99, n["supplier"])})
    names = ["%s %s" % (a, b) for a in PART_ADJ for b in PART_NOUN]
    t["part"] = pa.table({
        "p_partkey": pa.array(np.arange(n["part"]), i64),
        "p_name": _pick(rng, names, n["part"]),
        "p_brand": _pick(rng, ["Brand#%d" % i for i in range(1, 26)], n["part"]),
        "p_type": _pick(rng, PART_TYPES, n["part"]),
        "p_size": pa.array(rng.integers(1, 51, n["part"]), i32),
        "p_retailprice": np.round(900.0 + (np.arange(n["part"]) % 1000) / 10.0, 1)})
    t["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n["orders"]), i64),
        "o_custkey": pa.array(rng.integers(0, n["customer"], n["orders"]), i64),
        "o_orderstatus": _pick(rng, ["F", "O", "P"], n["orders"]),
        "o_totalprice": _money(rng, 1000.0, 500000.0, n["orders"]),
        "o_orderdate": _days(rng, 0, 2404, n["orders"]),
        "o_orderpriority": _pick(rng, PRIORITIES, n["orders"])})
    nl = n["lineitem"]
    t["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, n["orders"], nl), i64),
        "l_partkey": pa.array(rng.integers(0, n["part"], nl), i64),
        "l_suppkey": pa.array(rng.integers(0, n["supplier"], nl), i64),
        "l_linenumber": pa.array(rng.integers(1, 8, nl), i32),
        "l_quantity": rng.integers(1, 51, nl).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105000.0, nl),
        "l_discount": rng.integers(0, 11, nl) / 100.0,
        "l_tax": rng.integers(0, 9, nl) / 100.0,
        "l_returnflag": _pick(rng, ["A", "N", "R"], nl),
        "l_linestatus": _pick(rng, ["F", "O"], nl),
        "l_shipdate": _days(rng, 1, 2499, nl)})
    ne = n["events"]
    offsets = np.sort(rng.integers(0, 30 * _DAY_US, ne))
    t["events"] = pa.table({
        "event_id": pa.array(np.arange(ne), i64),
        "ts": pa.array(_D2024 + offsets.astype("timedelta64[us]"), pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, 150, ne), i64),
        "event_type": _pick(rng, EVENT_TYPES, ne),
        "value": np.round(rng.exponential(50.0, ne) + 0.01, 2),
        "props": pa.array(['{"k": %d}' % k for k in rng.integers(0, 100, ne)],
                          pa.string())})
    return t


def write(out_dir, seed, scale=1.0):
    """Writes `<table>.parquet` files; returns {table: row count}."""
    os.makedirs(out_dir, exist_ok=True)
    rows = {}
    for name, table in build(seed, scale).items():
        pq.write_table(table, os.path.join(out_dir, name + ".parquet"))
        rows[name] = table.num_rows
    return rows
