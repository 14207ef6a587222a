"""Seeded input generator for the graft benchmark.

Writes TPC-H-shaped star tables and an events stream as parquet with the
row counts, parquet types, value distributions and join shapes of the
engine's sf0.1 test tables (`shapes.py` compares the two), plus the mart
seed and hourly change batches that drive the `hourly_etl` workload. The
seed decides every value; table sizes are fixed, so two seeds give the
same amount of work.

    python3 perfbench/gen.py <out_dir> <seed> <workload> [<hours>]
"""
import json
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# sf0.1 row counts of the engine's test tables
N_CUSTOMER = 15_000
N_SUPPLIER = 1_000
N_PART = 20_000
N_ORDERS = 150_000
N_LINEITEM = 600_000
N_EVENTS = 100_000
N_USERS = 1_500

# hourly_etl: share of live keys whose status moves each hour, and new keys
# per hour
HOURLY_CHANGE = 0.01
HOURLY_NEW = 30
TERMINAL = "F"
BASE_TS = np.datetime64("2026-01-01T00:00:00", "us")

US = pa.timestamp("us")


def write(out, name, cols):
    pq.write_table(pa.table(cols), os.path.join(out, f"{name}.parquet"))


def money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def days(rng, start, n_days, n):
    return (np.datetime64(start, "us")
            + rng.integers(0, n_days, n).astype("timedelta64[D]")).astype("datetime64[us]")


def star(out, rng):
    write(out, "region", {
        "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    write(out, "nation", {
        "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array(np.arange(25, dtype=np.int32) % 5)})
    segs = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"])
    write(out, "customer", {
        "c_custkey": pa.array(np.arange(N_CUSTOMER, dtype=np.int64)),
        "c_name": [f"Customer#{i:09d}" for i in range(N_CUSTOMER)],
        "c_nationkey": pa.array(rng.integers(0, 25, N_CUSTOMER, dtype=np.int32)),
        "c_acctbal": money(rng, -999.99, 9999.99, N_CUSTOMER),
        "c_mktsegment": segs[rng.integers(0, 5, N_CUSTOMER)]})
    write(out, "supplier", {
        "s_suppkey": pa.array(np.arange(N_SUPPLIER, dtype=np.int64)),
        "s_name": [f"Supplier#{i:09d}" for i in range(N_SUPPLIER)],
        "s_nationkey": pa.array(rng.integers(0, 25, N_SUPPLIER, dtype=np.int32)),
        "s_acctbal": money(rng, -999.99, 9999.99, N_SUPPLIER)})
    adj = np.array("blue cold hot large new old red small".split())
    nouns = np.array("anvil bolt gear gizmo plate ring rod widget".split())
    types = np.array(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"])
    write(out, "part", {
        "p_partkey": pa.array(np.arange(N_PART, dtype=np.int64)),
        "p_name": np.char.add(np.char.add(adj[rng.integers(0, len(adj), N_PART)], " "),
                              nouns[rng.integers(0, len(nouns), N_PART)]),
        "p_brand": np.char.add("Brand#", rng.integers(1, 26, N_PART).astype(str)),
        "p_type": types[rng.integers(0, 6, N_PART)],
        "p_size": pa.array(rng.integers(1, 51, N_PART, dtype=np.int32)),
        "p_retailprice": np.round(900.0 + (np.arange(N_PART) % 1000) / 10.0, 1)})
    write(out, "orders", orders(rng))
    flags = np.array(["A", "N", "R"])
    stat = np.array(["F", "O"])
    write(out, "lineitem", {
        "l_orderkey": pa.array(rng.integers(0, N_ORDERS, N_LINEITEM, dtype=np.int64)),
        "l_partkey": pa.array(rng.integers(0, N_PART, N_LINEITEM, dtype=np.int64)),
        "l_suppkey": pa.array(rng.integers(0, N_SUPPLIER, N_LINEITEM, dtype=np.int64)),
        "l_linenumber": pa.array(rng.integers(1, 8, N_LINEITEM, dtype=np.int32)),
        "l_quantity": rng.integers(1, 51, N_LINEITEM).astype(np.float64),
        "l_extendedprice": money(rng, 900.0, 104999.99, N_LINEITEM),
        "l_discount": rng.integers(0, 11, N_LINEITEM) / 100.0,
        "l_tax": rng.integers(0, 9, N_LINEITEM) / 100.0,
        "l_returnflag": flags[rng.integers(0, 3, N_LINEITEM)],
        "l_linestatus": stat[rng.integers(0, 2, N_LINEITEM)],
        "l_shipdate": pa.array(days(rng, "1995-01-02", 2499, N_LINEITEM), US)})


def orders(rng):
    prio = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])
    status = np.array(["F", "O", "P"])
    return {
        "o_orderkey": pa.array(np.arange(N_ORDERS, dtype=np.int64)),
        "o_custkey": pa.array(rng.integers(0, N_CUSTOMER, N_ORDERS, dtype=np.int64)),
        "o_orderstatus": status[rng.integers(0, 3, N_ORDERS)],
        "o_totalprice": money(rng, 1000.0, 499999.99, N_ORDERS),
        "o_orderdate": pa.array(days(rng, "1995-01-01", 2404, N_ORDERS), US),
        "o_orderpriority": prio[rng.integers(0, 5, N_ORDERS)]}


def events(out, rng):
    kinds = np.array(["click", "error", "purchase", "signup", "view"])
    n = N_EVENTS
    ts = np.sort(BASE_TS - np.timedelta64(731, "D")
                 + rng.integers(0, 30 * 86_400_000_000, n).astype("timedelta64[us]"))
    write(out, "events", {
        "event_id": pa.array(np.arange(n, dtype=np.int64)),
        "ts": pa.array(ts, US),
        "user_id": pa.array(rng.integers(0, N_USERS, n, dtype=np.int64)),
        "event_type": kinds[rng.integers(0, 5, n)],
        "value": np.round(rng.exponential(50.0, n), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]})


def hourly(out, rng, n_hours):
    """The mart's seed snapshot and one change batch for each of the first
    `n_hours` hours (a longer run gets the same first hours). Each hour
    about 1% of live keys move one status forward (O -> P -> F, F being the
    terminal, soft-deleting status) and a few new keys arrive."""
    o = orders(rng)
    status = np.asarray(o["o_orderstatus"]).copy()
    n0 = len(status)
    write(out, "mart_seed", {
        "id": o["o_orderkey"], "last_status": status,
        "o_custkey": o["o_custkey"], "o_totalprice": o["o_totalprice"],
        "created_at": o["o_orderdate"]})
    hours = os.path.join(out, "hours")
    os.makedirs(hours, exist_ok=True)
    status = np.concatenate([status, np.full(n_hours * HOURLY_NEW, "O")]).astype("<U1")
    nxt = {"O": "P", "P": "F"}
    for h in range(1, n_hours + 1):
        live = np.flatnonzero(status[:n0 + (h - 1) * HOURLY_NEW] != TERMINAL)
        ids = np.sort(rng.choice(live, int(len(live) * HOURLY_CHANGE), replace=False))
        forward = np.array([nxt[s] for s in status[ids]])
        new_status = np.where(rng.random(len(ids)) < 0.8, forward, TERMINAL)
        status[ids] = new_status
        new_ids = np.arange(n0 + (h - 1) * HOURLY_NEW, n0 + h * HOURLY_NEW)
        ids_all = np.concatenate([ids, new_ids]).astype(np.int64)
        n = len(ids_all)
        run_ts = BASE_TS + np.timedelta64(h, "h")
        write(hours, f"h{h:04d}", {
            "id": pa.array(ids_all),
            "last_status": np.concatenate([new_status, np.full(HOURLY_NEW, "O")]),
            "o_custkey": pa.array(rng.integers(0, N_CUSTOMER, n, dtype=np.int64)),
            "o_totalprice": money(rng, 1000.0, 499999.99, n),
            "created_at": pa.array(np.full(n, run_ts - np.timedelta64(30, "m")), US)})
    with open(os.path.join(out, "hourly.json"), "w") as f:
        json.dump({"hours": n_hours, "base_ts": str(BASE_TS), "seed_rows": n0,
                   "terminal": TERMINAL}, f)


def main(out, seed, workload, hours=120):
    os.makedirs(out, exist_ok=True)
    rng = np.random.default_rng(seed)
    if workload == "hourly_etl":
        hourly(out, rng, hours)
    elif workload == "analytics_read":
        star(out, rng)
        events(out, rng)
    else:
        raise SystemExit(f"unknown workload {workload}")


if __name__ == "__main__":
    main(sys.argv[1], int(sys.argv[2]), sys.argv[3], *map(int, sys.argv[4:5]))
