"""Seeded input generator for board_hot: TPC-H-shaped tables and a document
corpus in the schema of the repository's fixtures.

Everything here is a pure function of the seed's variant: the same variant
writes the same files. The expected timed-pass output digests in
expected/board.json were made from this file, and oracle.py refuses them
once it changes.
"""
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

BOARD_SFS = {"warm": 0.001, "timed": 0.02}
BOARD_VARIANTS = 16
_DOC_WORDS = ("a the key agg row scan slow fast table value part hash merge "
              "batch spark line column order small sort group filter query "
              "big window stream join customer data vector").split()
_COLORS = "blue red hot cold small large new old".split()
_NOUNS = "ring plate gear rod bolt anvil widget gizmo".split()


def _table(path, cols):
    pq.write_table(pa.table(cols), path)


def board_tables(out, seed, sf):
    """The TPC-H-shaped tables and the document corpus the board queries
    read, at scale factor `sf` (sf 1 = 6M lineitem rows)."""
    g = np.random.default_rng([seed, int(sf * 10 ** 6)])
    os.makedirs(out)
    n_cust, n_part, n_supp = int(150000 * sf), int(200000 * sf), int(10000 * sf)
    n_ord, n_li, n_doc = int(1500000 * sf), int(6000000 * sf), int(50000 * sf)
    i32, i64, f64, s = pa.int32(), pa.int64(), pa.float64(), pa.string()

    def col(x, t):
        return pa.array(x, type=t)

    def money(lo, hi, n):
        return np.round(g.uniform(lo, hi, n), 2)

    def days(start, n_days, n):
        return (np.datetime64(start, "D") + g.integers(0, n_days, n)).astype("datetime64[us]")

    _table(f"{out}/region.parquet", {
        "r_regionkey": col(np.arange(5), i32),
        "r_name": col(["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"], s)})
    _table(f"{out}/nation.parquet", {
        "n_nationkey": col(np.arange(25), i32),
        "n_name": col([f"NATION_{i}" for i in range(25)], s),
        "n_regionkey": col(np.arange(25) % 5, i32)})
    _table(f"{out}/customer.parquet", {
        "c_custkey": col(np.arange(n_cust), i64),
        "c_name": col([f"Customer#{i:09d}" for i in range(n_cust)], s),
        "c_nationkey": col(g.integers(0, 25, n_cust), i32),
        "c_acctbal": col(money(-999.99, 9999.99, n_cust), f64),
        "c_mktsegment": col(g.choice(["AUTOMOBILE", "BUILDING", "FURNITURE",
                                      "HOUSEHOLD", "MACHINERY"], n_cust), s)})
    _table(f"{out}/supplier.parquet", {
        "s_suppkey": col(np.arange(n_supp), i64),
        "s_name": col([f"Supplier#{i:09d}" for i in range(n_supp)], s),
        "s_nationkey": col(g.integers(0, 25, n_supp), i32),
        "s_acctbal": col(money(-999.99, 9999.99, n_supp), f64)})
    _table(f"{out}/part.parquet", {
        "p_partkey": col(np.arange(n_part), i64),
        "p_name": col([f"{c} {n}" for c, n in zip(g.choice(_COLORS, n_part),
                                                     g.choice(_NOUNS, n_part))], s),
        "p_brand": col([f"Brand#{b}" for b in g.integers(1, 26, n_part)], s),
        "p_type": col(g.choice(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL",
                                "STANDARD"], n_part), s),
        "p_size": col(g.integers(1, 51, n_part), i32),
        "p_retailprice": col(np.round(900 + (np.arange(n_part) % 1000) / 10, 1), f64)})
    _table(f"{out}/orders.parquet", {
        "o_orderkey": col(np.arange(n_ord), i64),
        "o_custkey": col(g.integers(0, n_cust, n_ord), i64),
        "o_orderstatus": col(g.choice(["F", "O", "P"], n_ord), s),
        "o_totalprice": col(money(1000, 500000, n_ord), f64),
        "o_orderdate": days("1995-01-01", 2404, n_ord),
        "o_orderpriority": col(g.choice(["1-URGENT", "2-HIGH", "3-MEDIUM",
                                         "4-NOT SPECIFIED", "5-LOW"], n_ord), s)})
    qty = g.integers(1, 51, n_li).astype(float)
    _table(f"{out}/lineitem.parquet", {
        "l_orderkey": col(g.integers(0, n_ord, n_li), i64),
        "l_partkey": col(g.integers(0, n_part, n_li), i64),
        "l_suppkey": col(g.integers(0, n_supp, n_li), i64),
        "l_linenumber": col(g.integers(1, 8, n_li), i32),
        "l_quantity": col(qty, f64),
        "l_extendedprice": col(np.round(qty * g.uniform(900, 3000, n_li), 2), f64),
        "l_discount": col(g.integers(0, 11, n_li) / 100, f64),
        "l_tax": col(g.integers(0, 9, n_li) / 100, f64),
        "l_returnflag": col(g.choice(["A", "N", "R"], n_li), s),
        "l_linestatus": col(g.choice(["O", "F"], n_li), s),
        "l_shipdate": days("1995-01-02", 2498, n_li)})
    texts = []
    for i in range(n_doc):
        if i > 10 and g.random() < 0.05:  # near-dup of an earlier doc
            texts.append(texts[int(g.integers(0, i))] + " dup")
        else:
            texts.append(" ".join(g.choice(_DOC_WORDS, int(g.integers(8, 80)))))
    _table(f"{out}/documents.parquet", {
        "doc_id": col(np.arange(n_doc), i64),
        "text": col(texts, s),
        "lang": col(g.choice(["en", "en", "en", "de", "es", "fr", "zh"], n_doc), s),
        "source": col([f"src{k}" for k in g.integers(0, 20, n_doc)], s),
        "n_chars": col([len(t) for t in texts], i64)})


def board_variant(seed):
    """The board's tables come in BOARD_VARIANTS seeded variants, one per
    residue of the seed, so every seed's timed-pass outputs have expected digests
    committed in expected/board.json."""
    return seed % BOARD_VARIANTS


def board_inputs(out, seed):
    for name, sf in BOARD_SFS.items():
        board_tables(f"{out}/board/{name}", board_variant(seed), sf)
