"""Deterministic tables for the `catalog` workload.

Writes the ten parquet tables the catalog reads (`graft.Tables.names`),
shaped like the repository's synthetic test data: a TPC-H-like star schema
plus the `events`, `documents` and `embeddings` tables. The generator seed
is fixed, so every run and every commit sees the same bytes; only the
order in which entries run depends on the workload seed.

    python3 cdcbench/catalog_data.py <out-dir> [scale]
"""
import datetime as dt
import random
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

SEED = 42
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
NATIONS = [("ALGERIA", 0), ("ARGENTINA", 1), ("BRAZIL", 1), ("CANADA", 1),
           ("EGYPT", 4), ("ETHIOPIA", 0), ("FRANCE", 3), ("GERMANY", 3),
           ("INDIA", 2), ("INDONESIA", 2), ("IRAN", 4), ("IRAQ", 4),
           ("JAPAN", 2), ("JORDAN", 4), ("KENYA", 0), ("MOROCCO", 0),
           ("MOZAMBIQUE", 0), ("PERU", 1), ("CHINA", 2), ("ROMANIA", 3),
           ("SAUDI ARABIA", 4), ("VIETNAM", 2), ("RUSSIA", 3),
           ("UNITED KINGDOM", 3), ("UNITED STATES", 1)]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
TYPES = [f"{a} {b} {c}" for a in ["STANDARD", "SMALL", "MEDIUM", "LARGE", "ECONOMY", "PROMO"]
         for b in ["ANODIZED", "BURNISHED", "PLATED", "POLISHED", "BRUSHED"]
         for c in ["TIN", "NICKEL", "BRASS", "STEEL", "COPPER"]]
PART_WORDS = ["almond", "antique", "aquamarine", "azure", "beige", "bisque", "black",
              "blanched", "blue", "blush", "brown", "burlywood", "chartreuse", "widget",
              "chiffon", "chocolate", "coral", "cornflower", "cream", "cyan"]
DOC_WORDS = ("row the query stream fast spark line small customer group value hash batch "
             "sort data big filter dup key agg scan slow table part a merge window order "
             "column join vector").split()
LANGS = ["en"] * 44 + ["de"] * 14 + ["es"] * 14 + ["fr"] * 13 + ["zh"] * 15
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]


def generate(out, scale=0.01):
    r = random.Random(SEED)
    rng = np.random.default_rng(SEED)

    def write(name, cols):
        pq.write_table(pa.table(cols), f"{out}/{name}.parquet")

    def day(start, span_days):
        return start + dt.timedelta(days=r.randrange(span_days))

    n_cust, n_supp = int(150000 * scale), max(10, int(10000 * scale))
    n_part, n_orders = int(200000 * scale), int(150000 * scale)
    write("region", {"r_regionkey": pa.array(range(5), pa.int32()), "r_name": REGIONS})
    write("nation", {"n_nationkey": pa.array(range(25), pa.int32()),
                     "n_name": [n for n, _ in NATIONS],
                     "n_regionkey": pa.array([k for _, k in NATIONS], pa.int32())})
    write("customer", {
        "c_custkey": pa.array(range(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array([r.randrange(25) for _ in range(n_cust)], pa.int32()),
        "c_acctbal": [round(r.uniform(-999.99, 9999.99), 2) for _ in range(n_cust)],
        "c_mktsegment": [r.choice(SEGMENTS) for _ in range(n_cust)]})
    write("supplier", {
        "s_suppkey": pa.array(range(n_supp), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array([r.randrange(25) for _ in range(n_supp)], pa.int32()),
        "s_acctbal": [round(r.uniform(-999.99, 9999.99), 2) for _ in range(n_supp)]})
    prices = [round(900 + (i % 1000) + r.random() * 100, 2) for i in range(n_part)]
    write("part", {
        "p_partkey": pa.array(range(n_part), pa.int64()),
        "p_name": [" ".join(r.sample(PART_WORDS, 3)) for _ in range(n_part)],
        "p_brand": [f"Brand#{r.randint(1, 5)}{r.randint(1, 5)}" for _ in range(n_part)],
        "p_type": [r.choice(TYPES) for _ in range(n_part)],
        "p_size": pa.array([r.randint(1, 50) for _ in range(n_part)], pa.int32()),
        "p_retailprice": prices})
    o_dates = [day(dt.datetime(1992, 1, 1), 2405) for _ in range(n_orders)]
    write("orders", {
        "o_orderkey": pa.array(range(n_orders), pa.int64()),
        "o_custkey": pa.array([r.randrange(n_cust) for _ in range(n_orders)], pa.int64()),
        "o_orderstatus": [r.choices("FOP", [49, 49, 2])[0] for _ in range(n_orders)],
        "o_totalprice": [round(r.uniform(1000, 500000), 2) for _ in range(n_orders)],
        "o_orderdate": pa.array(o_dates, pa.timestamp("us")),
        "o_orderpriority": [r.choice(PRIORITIES) for _ in range(n_orders)]})
    cut = dt.datetime(1995, 6, 17)
    li = {k: [] for k in ["l_orderkey", "l_partkey", "l_suppkey", "l_linenumber", "l_quantity",
                          "l_extendedprice", "l_discount", "l_tax", "l_returnflag",
                          "l_linestatus", "l_shipdate"]}
    for o in range(n_orders):
        for ln in range(1, r.randint(1, 7) + 1):
            p, q = r.randrange(n_part), float(r.randint(1, 50))
            ship = o_dates[o] + dt.timedelta(days=r.randint(1, 121))
            li["l_orderkey"].append(o); li["l_partkey"].append(p)
            li["l_suppkey"].append(r.randrange(n_supp)); li["l_linenumber"].append(ln)
            li["l_quantity"].append(q); li["l_extendedprice"].append(round(q * prices[p], 2))
            li["l_discount"].append(r.randint(0, 10) / 100); li["l_tax"].append(r.randint(0, 8) / 100)
            li["l_returnflag"].append(r.choice("RA") if ship <= cut else "N")
            li["l_linestatus"].append("F" if ship <= cut else "O")
            li["l_shipdate"].append(ship)
    li["l_orderkey"] = pa.array(li["l_orderkey"], pa.int64())
    li["l_partkey"] = pa.array(li["l_partkey"], pa.int64())
    li["l_suppkey"] = pa.array(li["l_suppkey"], pa.int64())
    li["l_linenumber"] = pa.array(li["l_linenumber"], pa.int32())
    li["l_shipdate"] = pa.array(li["l_shipdate"], pa.timestamp("us"))
    write("lineitem", li)

    n_docs, n_emb, n_events = int(50000 * scale), int(50000 * scale), int(1000000 * scale)
    texts = [" ".join(r.choice(DOC_WORDS) for _ in range(r.randint(10, 99))) for _ in range(n_docs)]
    write("documents", {
        "doc_id": pa.array(range(n_docs), pa.int64()), "text": texts,
        "lang": [r.choice(LANGS) for _ in range(n_docs)],
        "source": [f"src{i % 20}" for i in range(n_docs)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64())})
    labels = rng.integers(0, 10, n_emb)
    centers = rng.normal(0, 0.05, (10, 64))
    vecs = (centers[labels] + rng.normal(0, 0.12, (n_emb, 64))).astype(np.float32)
    write("embeddings", {
        "vec_id": pa.array(range(n_emb), pa.int64()),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32())})
    t0 = dt.datetime(2024, 1, 1)
    n_users = max(10, int(15000 * scale))
    write("events", {
        "event_id": pa.array(range(n_events), pa.int64()),
        "ts": pa.array([t0 + dt.timedelta(microseconds=r.randrange(30 * 86400 * 10**6))
                        for _ in range(n_events)], pa.timestamp("us")),
        "user_id": pa.array([r.randrange(n_users) for _ in range(n_events)], pa.int64()),
        "event_type": [r.choice(EVENT_TYPES) for _ in range(n_events)],
        "value": [round(r.uniform(0.01, 490.02), 2) for _ in range(n_events)],
        "props": [f'{{"k": {r.randrange(100)}}}' for _ in range(n_events)]})


if __name__ == "__main__":
    generate(sys.argv[1], float(sys.argv[2]) if len(sys.argv) > 2 else 0.01)
