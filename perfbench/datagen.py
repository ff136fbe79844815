"""Seeded stand-ins for the repository's TPC-H-ish test tables.

Every table keeps the column names, types and value shapes of the
repository's test data (one parquet file per table); row counts scale
with `sf` the way the test data does (sf0.1: 150k orders, 600k lineitem,
100k events over 1,500 users). The same (seed, sf) always yields the same
bytes of data, so the program under test sees only these files.
"""
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

ALL_TABLES = ("region", "nation", "customer", "supplier", "part", "orders",
              "lineitem", "events")

_DAY_US = 86_400_000_000
_EPOCH_1995 = np.datetime64("1995-01-01T00:00:00", "us")
_EPOCH_2024 = np.datetime64("2024-01-01T00:00:00", "us")


def _rng(seed, table):
    # One independent stream per table: adding a table never shifts another.
    key = sum(ord(c) * 131 ** i for i, c in enumerate(table)) % (2 ** 32)
    return np.random.Generator(np.random.PCG64([seed, key]))


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(rng, start, span_days, n):
    return start + rng.integers(0, span_days + 1, n) * np.timedelta64(1, "D")


def _pick(rng, values, n):
    return pa.array(np.asarray(values, dtype=object)[rng.integers(0, len(values), n)],
                    pa.string())


def region(seed, sf):
    return pa.table({
        "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
        "r_name": pa.array(["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]),
    })


def nation(seed, sf):
    keys = np.arange(25, dtype=np.int32)
    return pa.table({
        "n_nationkey": pa.array(keys),
        "n_name": pa.array([f"NATION_{k}" for k in keys]),
        "n_regionkey": pa.array(keys % 5),
    })


def customer(seed, sf):
    rng, n = _rng(seed, "customer"), max(1, int(150_000 * sf))
    keys = np.arange(n, dtype=np.int64)
    return pa.table({
        "c_custkey": pa.array(keys),
        "c_name": pa.array([f"Customer#{k:09d}" for k in keys]),
        "c_nationkey": pa.array(rng.integers(0, 25, n).astype(np.int32)),
        "c_acctbal": pa.array(_money(rng, -999.99, 9999.99, n)),
        "c_mktsegment": _pick(rng, ["AUTOMOBILE", "BUILDING", "FURNITURE",
                                    "HOUSEHOLD", "MACHINERY"], n),
    })


def supplier(seed, sf):
    rng, n = _rng(seed, "supplier"), max(1, int(10_000 * sf))
    keys = np.arange(n, dtype=np.int64)
    return pa.table({
        "s_suppkey": pa.array(keys),
        "s_name": pa.array([f"Supplier#{k:09d}" for k in keys]),
        "s_nationkey": pa.array(rng.integers(0, 25, n).astype(np.int32)),
        "s_acctbal": pa.array(_money(rng, -999.99, 9999.99, n)),
    })


def part(seed, sf):
    rng, n = _rng(seed, "part"), max(1, int(200_000 * sf))
    keys = np.arange(n, dtype=np.int64)
    adj = np.array(["large", "hot", "blue", "old", "cold", "small", "red", "new"], dtype=object)
    noun = np.array(["ring", "bolt", "plate", "gear", "nut", "pipe", "valve"], dtype=object)
    names = adj[rng.integers(0, len(adj), n)] + " " + noun[rng.integers(0, len(noun), n)]
    return pa.table({
        "p_partkey": pa.array(keys),
        "p_name": pa.array(names, pa.string()),
        "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, n)]),
        "p_type": _pick(rng, ["LARGE", "ECONOMY", "SMALL", "STANDARD", "MEDIUM", "PROMO"], n),
        "p_size": pa.array(rng.integers(1, 51, n).astype(np.int32)),
        "p_retailprice": pa.array(np.round(900.0 + (keys % 1000) / 10.0, 2)),
    })


def orders(seed, sf):
    rng, n = _rng(seed, "orders"), max(1, int(1_500_000 * sf))
    return pa.table({
        "o_orderkey": pa.array(np.arange(n, dtype=np.int64)),
        "o_custkey": pa.array(rng.integers(0, max(1, int(150_000 * sf)), n)),
        "o_orderstatus": _pick(rng, ["O", "P", "F"], n),
        "o_totalprice": pa.array(_money(rng, 1000.0, 500_000.0, n)),
        "o_orderdate": pa.array(_days(rng, _EPOCH_1995, 2404, n)),
        "o_orderpriority": _pick(rng, ["1-URGENT", "2-HIGH", "3-MEDIUM",
                                       "4-NOT SPECIFIED", "5-LOW"], n),
    })


def lineitem(seed, sf):
    rng, n = _rng(seed, "lineitem"), max(1, int(6_000_000 * sf))
    return pa.table({
        "l_orderkey": pa.array(rng.integers(0, max(1, int(1_500_000 * sf)), n)),
        "l_partkey": pa.array(rng.integers(0, max(1, int(200_000 * sf)), n)),
        "l_suppkey": pa.array(rng.integers(0, max(1, int(10_000 * sf)), n)),
        "l_linenumber": pa.array(rng.integers(1, 8, n).astype(np.int32)),
        "l_quantity": pa.array(rng.integers(1, 51, n).astype(np.float64)),
        "l_extendedprice": pa.array(_money(rng, 900.0, 105_000.0, n)),
        "l_discount": pa.array(rng.integers(0, 11, n) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, n) / 100.0),
        "l_returnflag": _pick(rng, ["A", "N", "R"], n),
        "l_linestatus": _pick(rng, ["O", "F"], n),
        "l_shipdate": pa.array(_days(rng, _EPOCH_1995 + np.timedelta64(1, "D"), 2498, n)),
    })


def events(seed, sf):
    rng, n = _rng(seed, "events"), max(1, int(1_000_000 * sf))
    # Distinct, increasing microsecond timestamps over 30 days, in event_id order.
    span = 30 * _DAY_US
    offsets = np.sort(rng.choice(span, size=n, replace=False))
    return pa.table({
        "event_id": pa.array(np.arange(n, dtype=np.int64)),
        "ts": pa.array(_EPOCH_2024 + offsets.astype("timedelta64[us]")),
        "user_id": pa.array(rng.integers(0, max(1, int(15_000 * sf)), n)),
        "event_type": _pick(rng, ["signup", "click", "error", "view", "purchase"], n),
        "value": pa.array(np.round(rng.exponential(50.0, n), 2)),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]),
    })


def generate(out_dir, seed, sf, tables=ALL_TABLES):
    """Write `<out_dir>/<table>.parquet` for each table."""
    os.makedirs(out_dir, exist_ok=True)
    for t in tables:
        pq.write_table(globals()[t](seed, sf), os.path.join(out_dir, f"{t}.parquet"))
