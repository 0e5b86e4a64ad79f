"""Deterministic board tables: the driver-contract schema at a scale factor.

Writes region, nation, customer, supplier, part, orders, lineitem, events,
documents and embeddings as one parquet file each, with the column names
and types of the contract's synthetic tables (TPC-H-like star schema, an
event stream, a document corpus and an embedding table). README.md
compares them with the tables TESTDATA.md describes.
Row counts scale with `sf` as the contract's tables do (orders 1.5M x sf).
`seed` draws the content; `order_seed`, when given, permutes each table's
rows, which changes the files but not what any query computes.
"""
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

WORDS = ("a the key row scan slow fast table value part hash merge batch spark "
         "line sort window order data column agg join small customer query big "
         "stream filter group vector").split()
LANGS = ["en", "de", "fr", "es", "zh"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
PART_ADJ = ["blue", "small", "hot", "old", "big", "red", "cold", "new"]
PART_NOUN = ["anvil", "bolt", "gear", "widget", "nut", "spring", "valve", "cog"]
PART_TYPES = ["ECONOMY", "STANDARD", "LARGE", "SMALL", "MEDIUM", "PROMO"]
EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]


def _ts(base, seconds):
    return pa.array((np.datetime64(base, "us") + seconds.astype("timedelta64[us]")),
                    pa.timestamp("us"))


def _pick(rng, values, n):
    return pa.array(np.array(values, dtype=object)[rng.integers(0, len(values), n)],
                    pa.string())


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def generate(out_dir, sf, seed, order_seed=None):
    rng = np.random.default_rng(seed)
    order = None if order_seed is None else np.random.default_rng(order_seed)
    os.makedirs(out_dir, exist_ok=True)
    n_cust, n_supp = max(150, int(150_000 * sf)), max(10, int(10_000 * sf))
    n_part, n_ord = max(200, int(200_000 * sf)), max(1500, int(1_500_000 * sf))
    n_events = max(1000, int(1_000_000 * sf))
    n_docs, n_vecs = max(500, int(50_000 * sf)), max(500, int(20_000 * sf))
    day = 86_400 * 1_000_000

    def write(name, cols):
        t = pa.table(cols)
        if order is not None:
            t = t.take(pa.array(order.permutation(t.num_rows)))
        pq.write_table(t, os.path.join(out_dir, name + ".parquet"))

    write("region", {"r_regionkey": pa.array(range(5), pa.int32()),
                     "r_name": pa.array(REGIONS, pa.string())})
    write("nation", {"n_nationkey": pa.array(range(25), pa.int32()),
                     "n_name": pa.array(["NATION_%d" % i for i in range(25)], pa.string()),
                     "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    write("customer", {
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": pa.array(["Customer#%09d" % i for i in range(n_cust)], pa.string()),
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": _pick(rng, SEGMENTS, n_cust)})
    write("supplier", {
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": pa.array(["Supplier#%09d" % i for i in range(n_supp)], pa.string()),
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp)})
    names = [a + " " + b for a in PART_ADJ for b in PART_NOUN]
    write("part", {
        "p_partkey": pa.array(np.arange(n_part), pa.int64()),
        "p_name": _pick(rng, names, n_part),
        "p_brand": _pick(rng, ["Brand#%d" % i for i in range(1, 26)], n_part),
        "p_type": _pick(rng, PART_TYPES, n_part),
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900 + rng.integers(0, 1000, n_part) / 10.0, 1)})
    order_days = rng.integers(0, 2400, n_ord)
    write("orders", {
        "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": _pick(rng, ["F", "O", "P"], n_ord),
        "o_totalprice": _money(rng, 1000.0, 500000.0, n_ord),
        "o_orderdate": _ts("1995-01-01", order_days * day),
        "o_orderpriority": _pick(rng, PRIORITIES, n_ord)})
    lines = rng.integers(1, 8, n_ord)
    okey = np.repeat(np.arange(n_ord), lines)
    n_li = len(okey)
    lineno = np.arange(n_li) - np.repeat(np.cumsum(lines) - lines, lines) + 1
    qty = rng.integers(1, 51, n_li).astype(float)
    write("lineitem", {
        "l_orderkey": pa.array(okey, pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n_li), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), pa.int64()),
        "l_linenumber": pa.array(lineno, pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900, 2100, n_li), 2),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": _pick(rng, ["A", "N", "R"], n_li),
        "l_linestatus": _pick(rng, ["F", "O"], n_li),
        "l_shipdate": _ts("1995-01-02", (order_days[okey] + rng.integers(0, 100, n_li)) * day)})
    gaps = rng.integers(1, 2 * 30 * 86_400_000_000 // n_events, n_events)
    write("events", {
        "event_id": pa.array(np.arange(n_events), pa.int64()),
        "ts": _ts("2024-01-01", np.cumsum(gaps)),
        "user_id": pa.array(rng.integers(0, max(150, n_events // 66), n_events), pa.int64()),
        "event_type": _pick(rng, EVENT_TYPES, n_events),
        "value": _money(rng, 0.01, 500.0, n_events),
        "props": pa.array(['{"k": %d}' % k for k in rng.integers(0, 100, n_events)],
                          pa.string())})
    lengths = rng.integers(8, 100, n_docs)
    words = np.array(WORDS, dtype=object)
    texts = [" ".join(words[rng.integers(0, len(WORDS), n)]) for n in lengths]
    write("documents", {
        "doc_id": pa.array(np.arange(n_docs), pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": _pick(rng, LANGS, n_docs),
        "source": _pick(rng, ["src%d" % i for i in range(20)], n_docs),
        "n_chars": pa.array([len(t) for t in texts], pa.int64())})
    vecs = rng.normal(0, 0.13, (n_vecs, 64)).astype(np.float32)
    write("embeddings", {
        "vec_id": pa.array(np.arange(n_vecs), pa.int64()),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_vecs), pa.int32())})

