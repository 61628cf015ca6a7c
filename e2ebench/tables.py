"""Seeded TPC-H-like tables for the `gates` workload.

The schemas (names, types, parquet timestamp encoding) are those of the
engine's reference test tables; values follow the same shapes: 2-dp
prices, 1-7 lines per order, documents of 10-100 tokens over a 30-word
vocabulary with about 5% near-duplicates (an earlier text plus " dup")
and a few exact duplicates. The same seed writes the same tables.
"""
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = ("spark window merge table column vector stream value data small join filter "
         "big group hash customer sort order slow line part fast row the agg key query "
         "a scan batch").split()
LANGS = ["en", "fr", "zh", "de", "es"]
LANG_P = [0.41, 0.15, 0.15, 0.14, 0.15]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PART_WORDS = [["blue", "cold", "hot", "large", "small"], ["bolt", "rod", "ring", "widget"]]
DAY_US = 86_400_000_000
EPOCH_1995_US = 788_918_400_000_000  # 1995-01-01T00:00:00

SIZES = {"documents": 1000, "customer": 1500, "orders": 15000, "part": 2000, "supplier": 100}


def _write(out, name, cols):
    pq.write_table(pa.table(cols), os.path.join(out, f"{name}.parquet"))


def _prices(rng, n, lo, hi):
    return (rng.integers(int(lo * 100), int(hi * 100), n) / 100.0).astype(np.float64)


def documents(rng, n):
    """Every 20th document is a near-duplicate and every 500th an exact
    duplicate of a random earlier original, so the duplicate-pair graph
    has the same size for every seed and only its wiring varies."""
    texts, originals = [], []
    for i in range(n):
        if i % 500 == 499:
            texts.append(texts[originals[int(rng.integers(0, len(originals)))]])
        elif i % 20 == 19:
            texts.append(texts[originals[int(rng.integers(0, len(originals)))]] + " dup")
        else:
            k = int(rng.integers(10, 101))
            texts.append(" ".join(VOCAB[j] for j in rng.integers(0, len(VOCAB), k)))
            originals.append(i)
    return {
        "doc_id": pa.array(np.arange(n, dtype=np.int64)),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array([LANGS[j] for j in rng.choice(len(LANGS), n, p=LANG_P)], pa.string()),
        "source": pa.array([f"src{i % 20}" for i in range(n)], pa.string()),
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
    }


def generate(out, seed):
    """Write every table the gates read into `out`."""
    os.makedirs(out, exist_ok=True)
    rng = np.random.default_rng(seed)
    n_doc, n_cust, n_ord, n_part, n_supp = (SIZES[k] for k in
                                            ("documents", "customer", "orders", "part", "supplier"))
    _write(out, "documents", documents(rng, n_doc))
    _write(out, "region", {
        "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
        "r_name": pa.array(["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"])})
    _write(out, "nation", {
        "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
        "n_regionkey": pa.array(np.arange(25, dtype=np.int32) % 5)})
    _write(out, "customer", {
        "c_custkey": pa.array(np.arange(n_cust, dtype=np.int64)),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)]),
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust).astype(np.int32)),
        "c_acctbal": pa.array(_prices(rng, n_cust, -999.99, 9999.99)),
        "c_mktsegment": pa.array([SEGMENTS[j] for j in rng.integers(0, 5, n_cust)])})
    _write(out, "supplier", {
        "s_suppkey": pa.array(np.arange(n_supp, dtype=np.int64)),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)]),
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp).astype(np.int32)),
        "s_acctbal": pa.array(_prices(rng, n_supp, -999.99, 9999.99))})
    _write(out, "part", {
        "p_partkey": pa.array(np.arange(n_part, dtype=np.int64)),
        "p_name": pa.array([f"{PART_WORDS[0][a]} {PART_WORDS[1][b]}" for a, b in
                            zip(rng.integers(0, 5, n_part), rng.integers(0, 4, n_part))]),
        "p_brand": pa.array([f"Brand#{j}" for j in rng.integers(1, 26, n_part)]),
        "p_type": pa.array([PART_TYPES[j] for j in rng.integers(0, 6, n_part)]),
        "p_size": pa.array(rng.integers(1, 51, n_part).astype(np.int32)),
        "p_retailprice": pa.array((90000 + np.arange(n_part) % 20000 * 10) / 100.0)})
    odate = EPOCH_1995_US + rng.integers(0, 2404, n_ord) * DAY_US
    _write(out, "orders", {
        "o_orderkey": pa.array(np.arange(n_ord, dtype=np.int64)),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord).astype(np.int64)),
        "o_orderstatus": pa.array([("O", "F", "P")[j] for j in rng.integers(0, 3, n_ord)]),
        "o_totalprice": pa.array(_prices(rng, n_ord, 900.0, 500000.0)),
        "o_orderdate": pa.array(odate, pa.timestamp("us")),
        "o_orderpriority": pa.array([PRIORITIES[j] for j in rng.integers(0, 5, n_ord)])})
    lines = rng.integers(1, 8, n_ord)
    okey = np.repeat(np.arange(n_ord, dtype=np.int64), lines)
    n_li = len(okey)
    _write(out, "lineitem", {
        "l_orderkey": pa.array(okey),
        "l_partkey": pa.array(rng.integers(0, n_part, n_li).astype(np.int64)),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li).astype(np.int64)),
        "l_linenumber": pa.array(np.concatenate([np.arange(1, k + 1) for k in lines]).astype(np.int32)),
        "l_quantity": pa.array(rng.integers(1, 51, n_li).astype(np.float64)),
        "l_extendedprice": pa.array(_prices(rng, n_li, 900.0, 105000.0)),
        "l_discount": pa.array(rng.integers(0, 11, n_li) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, n_li) / 100.0),
        "l_returnflag": pa.array([("R", "A", "N")[j] for j in rng.integers(0, 3, n_li)]),
        "l_linestatus": pa.array([("O", "F")[j] for j in rng.integers(0, 2, n_li)]),
        "l_shipdate": pa.array(np.repeat(odate, lines) + rng.integers(1, 122, n_li) * DAY_US,
                               pa.timestamp("us"))})
