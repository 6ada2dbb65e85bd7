"""Seeded generator for the benchmark's inputs.

Writes TPC-H-shaped tables (region, nation, customer, supplier, part,
orders, lineitem) plus an `events` click stream as one parquet file each,
the same schema the query registry reads. Row counts scale with `sf`
(sf=1 would be TPC-H scale factor 1); the same (seed, sf) always gives
the same bytes.

    python3 perfbench/gen.py <out_dir> <seed> <sf>
"""
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DAY_US = 86_400_000_000
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
NATIONS = [
    ("ALGERIA", 0), ("ARGENTINA", 1), ("BRAZIL", 1), ("CANADA", 1),
    ("EGYPT", 4), ("ETHIOPIA", 0), ("FRANCE", 3), ("GERMANY", 3),
    ("INDIA", 2), ("INDONESIA", 2), ("IRAN", 4), ("IRAQ", 4), ("JAPAN", 2),
    ("JORDAN", 4), ("KENYA", 0), ("MOROCCO", 0), ("MOZAMBIQUE", 0),
    ("PERU", 1), ("CHINA", 2), ("ROMANIA", 3), ("SAUDI ARABIA", 4),
    ("VIETNAM", 2), ("RUSSIA", 3), ("UNITED KINGDOM", 3),
    ("UNITED STATES", 1)]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_TYPES = ["LARGE", "STANDARD", "ECONOMY", "MEDIUM", "SMALL", "PROMO"]
ADJECTIVES = ["large", "hot", "small", "cold", "shiny", "dim", "new", "old"]
NOUNS = ["ring", "bolt", "case", "drum", "cap", "plate", "tube", "wheel"]
EVENT_TYPES = ["view", "click", "signup", "purchase", "error"]
TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events"]


def _ts(base, micros):
    return (np.datetime64(base, "us")
            + micros.astype("timedelta64[us]")).astype("datetime64[us]")


def generate(out, seed, sf, tables=TABLES):
    """Write `tables` under `out`. Every table is drawn from the same random
    stream in a fixed order, so a table's rows do not depend on which other
    tables are written."""
    os.makedirs(out, exist_ok=True)

    def _write(name, cols):
        if name in tables:
            pq.write_table(pa.table(cols), os.path.join(out, f"{name}.parquet"))

    rng = np.random.default_rng(seed)
    n_cust = max(int(150000 * sf), 50)
    n_supp = max(int(10000 * sf), 10)
    n_part = max(int(200000 * sf), 100)
    n_ord = max(int(1500000 * sf), 500)
    n_evt = max(int(1000000 * sf), 500)

    _write("region", {
        "r_regionkey": np.arange(5, dtype="int32"),
        "r_name": REGIONS})
    _write("nation", {
        "n_nationkey": np.arange(25, dtype="int32"),
        "n_name": [n for n, _ in NATIONS],
        "n_regionkey": np.array([r for _, r in NATIONS], dtype="int32")})

    k = np.arange(n_cust)
    _write("customer", {
        "c_custkey": k.astype("int64"),
        "c_name": [f"Customer#{i:09d}" for i in k],
        "c_nationkey": rng.integers(0, 25, n_cust).astype("int32"),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_cust), 2),
        "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, n_cust)]})

    k = np.arange(n_supp)
    _write("supplier", {
        "s_suppkey": k.astype("int64"),
        "s_name": [f"Supplier#{i:09d}" for i in k],
        "s_nationkey": rng.integers(0, 25, n_supp).astype("int32"),
        "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_supp), 2)})

    k = np.arange(n_part)
    _write("part", {
        "p_partkey": k.astype("int64"),
        "p_name": [f"{ADJECTIVES[i % 8]} {NOUNS[(i // 8) % 8]}" for i in k],
        "p_brand": [f"Brand#{i % 25}" for i in k],
        "p_type": np.array(PART_TYPES)[rng.integers(0, 6, n_part)],
        "p_size": rng.integers(1, 51, n_part).astype("int32"),
        "p_retailprice": np.round(900.0 + (k % 1000) / 10.0, 1)})

    k = np.arange(n_ord)
    order_day = rng.integers(0, 2405, n_ord)
    _write("orders", {
        "o_orderkey": k.astype("int64"),
        "o_custkey": rng.integers(0, n_cust, n_ord).astype("int64"),
        "o_orderstatus": np.array(["O", "P", "F"])[rng.integers(0, 3, n_ord)],
        "o_totalprice": np.round(rng.uniform(1000.0, 500000.0, n_ord), 2),
        "o_orderdate": _ts("1995-01-01", order_day * DAY_US),
        "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, 5, n_ord)]})

    lines = np.clip(rng.poisson(3.0, n_ord) + 1, 1, 7)
    l_order = np.repeat(k, lines)
    n_line = l_order.size
    qty = rng.integers(1, 51, n_line).astype("float64")
    ship_day = np.clip(order_day[l_order] + rng.integers(1, 120, n_line), 1, 2498)
    _write("lineitem", {
        "l_orderkey": l_order.astype("int64"),
        "l_partkey": rng.integers(0, n_part, n_line).astype("int64"),
        "l_suppkey": rng.integers(0, n_supp, n_line).astype("int64"),
        "l_linenumber": np.concatenate(
            [np.arange(1, c + 1) for c in lines]).astype("int32"),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900.0, 2100.0, n_line), 2),
        "l_discount": np.round(rng.integers(0, 11, n_line) / 100.0, 2),
        "l_tax": np.round(rng.integers(0, 9, n_line) / 100.0, 2),
        "l_returnflag": np.array(["R", "N", "A"])[rng.integers(0, 3, n_line)],
        "l_linestatus": np.array(["O", "F"])[rng.integers(0, 2, n_line)],
        "l_shipdate": _ts("1995-01-01", ship_day.astype("int64") * DAY_US)})

    gaps = rng.exponential(30 * 86400e6 / n_evt, n_evt)
    _write("events", {
        "event_id": np.arange(n_evt, dtype="int64"),
        "ts": _ts("2024-01-01", np.cumsum(gaps).astype("int64")),
        "user_id": rng.integers(0, max(n_cust // 10, 10), n_evt).astype("int64"),
        "event_type": np.array(EVENT_TYPES)[rng.integers(0, 5, n_evt)],
        "value": np.round(rng.exponential(75.0, n_evt), 2),
        "props": [f'{{"k": {v}}}' for v in rng.integers(0, 100, n_evt)]})



if __name__ == "__main__":
    generate(sys.argv[1], int(sys.argv[2]), float(sys.argv[3]))
