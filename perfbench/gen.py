"""Seeded input generation for the benchmark.

Every table the workloads read is generated here from the run's seed, in
the layout of the engine's harness tables (one `<table>.parquet` file per
table, same column names and physical types), so the same seed always
gives the same inputs and no input is read from outside the checkout.

Star-schema sizes scale with a TPC-H-style scale factor `sf` (orders
1.5M x sf with 1-7 line items each (lineitem ~6M x sf), customer 150k x sf, part 200k x sf,
supplier 10k x sf). The curation corpus has the harness shape (a 30-word
vocabulary, 10-100 tokens per document, ~5% planted near-duplicates;
unit-norm 64-d float vectors) at a given size.
"""
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DIM = 64

# The incremental-refresh source: this share of orders is modified in
# place and this share is appended as new orders (with new line items);
# nothing is removed.
CHANGED_SHARE = 0.03
NEW_SHARE = 0.03

VOCAB = ("spark window merge table column vector stream value data small "
         "join filter big group hash customer sort order slow line part "
         "fast row the agg key query a scan batch").split()
LANGS = ["en", "zh", "de", "fr", "es"]
LANG_P = [0.41, 0.15, 0.14, 0.15, 0.15]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]

EPOCH = np.datetime64("1995-01-01")


class Sizes:
    def __init__(self, sf: float):
        self.orders = int(1_500_000 * sf)
        self.customers = int(150_000 * sf)
        self.parts = int(200_000 * sf)
        self.suppliers = max(int(10_000 * sf), 25)


def _days(rng, n, lo, hi):
    return (EPOCH + rng.integers(lo, hi, n).astype("timedelta64[D]")) \
        .astype("datetime64[us]")


def _money(rng, n, lo, hi):
    return np.round(rng.uniform(lo, hi, n), 2)


def _orders(rng, z: Sizes, keys):
    n = len(keys)
    return {
        "o_orderkey": pa.array(keys, pa.int64()),
        "o_custkey": pa.array(rng.integers(0, z.customers, n), pa.int64()),
        "o_orderstatus": pa.array(rng.choice(["F", "O", "P"], n)),
        "o_totalprice": pa.array(_money(rng, n, 1000, 500_000)),
        "o_orderdate": pa.array(_days(rng, n, 0, 2404), pa.timestamp("us")),
        "o_orderpriority": pa.array(rng.choice(PRIORITIES, n)),
    }


def _lineitem(rng, z: Sizes, orderkeys):
    """Line items for `orderkeys`, TPC-H style: 1-7 lines per order
    (4 on average), numbered from 1, so (l_orderkey, l_linenumber) is a
    key."""
    counts = rng.integers(1, 8, len(orderkeys))
    keys = np.repeat(orderkeys, counts)
    n = len(keys)
    starts = np.repeat(np.cumsum(counts) - counts, counts)
    return {
        "l_orderkey": pa.array(keys, pa.int64()),
        "l_partkey": pa.array(rng.integers(0, z.parts, n), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, z.suppliers, n), pa.int64()),
        "l_linenumber": pa.array(np.arange(n) - starts + 1, pa.int32()),
        "l_quantity": pa.array(rng.integers(1, 51, n).astype(np.float64)),
        "l_extendedprice": pa.array(_money(rng, n, 900, 105_000)),
        "l_discount": pa.array(rng.integers(0, 11, n) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, n) / 100.0),
        "l_returnflag": pa.array(rng.choice(["A", "N", "R"], n)),
        "l_linestatus": pa.array(rng.choice(["O", "F"], n)),
        "l_shipdate": pa.array(_days(rng, n, 1, 2499), pa.timestamp("us")),
    }


def lineitem(seed: int, sf: float) -> dict:
    z = Sizes(sf)
    return _lineitem(np.random.default_rng([seed, 4]), z,
                     np.arange(z.orders))


def tables(seed: int, sf: float) -> dict:
    """The star-schema source tables, as column dicts."""
    z = Sizes(sf)
    rng = np.random.default_rng([seed, 1])
    out = {
        "region": {
            "r_regionkey": pa.array(np.arange(5), pa.int32()),
            "r_name": pa.array(["AFRICA", "AMERICA", "ASIA", "EUROPE",
                                "MIDDLE EAST"]),
        },
        "nation": {
            "n_nationkey": pa.array(np.arange(25), pa.int32()),
            "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
            "n_regionkey": pa.array(np.arange(25) % 5, pa.int32()),
        },
    }
    ck = np.arange(z.customers)
    out["customer"] = {
        "c_custkey": pa.array(ck, pa.int64()),
        "c_name": pa.array([f"Customer#{i:09d}" for i in ck]),
        "c_nationkey": pa.array(rng.integers(0, 25, z.customers), pa.int32()),
        "c_acctbal": pa.array(_money(rng, z.customers, -999.99, 9999.99)),
        "c_mktsegment": pa.array(rng.choice(
            ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"],
            z.customers)),
    }
    sk = np.arange(z.suppliers)
    out["supplier"] = {
        "s_suppkey": pa.array(sk, pa.int64()),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in sk]),
        "s_nationkey": pa.array(rng.integers(0, 25, z.suppliers), pa.int32()),
        "s_acctbal": pa.array(_money(rng, z.suppliers, -999.99, 9999.99)),
    }
    pk = np.arange(z.parts)
    adj = np.array(["large", "hot", "blue", "old", "cold", "small", "red",
                    "green"])
    noun = np.array(["ring", "bolt", "plate", "gear", "nut", "pipe", "wire",
                     "cap"])
    out["part"] = {
        "p_partkey": pa.array(pk, pa.int64()),
        "p_name": pa.array(np.char.add(np.char.add(
            adj[rng.integers(0, 8, z.parts)], " "),
            noun[rng.integers(0, 8, z.parts)])),
        "p_brand": pa.array([f"Brand#{b}" for b in
                             rng.integers(1, 26, z.parts)]),
        "p_type": pa.array(rng.choice(
            ["STANDARD", "SMALL", "MEDIUM", "LARGE", "ECONOMY", "PROMO"],
            z.parts)),
        "p_size": pa.array(rng.integers(1, 51, z.parts), pa.int32()),
        "p_retailprice": pa.array(900.0 + (pk % 1000) / 10.0),
    }
    out["orders"] = _orders(rng, z, np.arange(z.orders))
    out["lineitem"] = _lineitem(rng, z, np.arange(z.orders))
    return out


def changed(seed: int, sf: float, base: dict) -> dict:
    """The incremental-refresh source: a copy of `base` where
    CHANGED_SHARE of orders get a new status, price and priority, and
    NEW_SHARE new orders arrive with four line items each on average."""
    z = Sizes(sf)
    rng = np.random.default_rng([seed, 2])
    out = dict(base)
    cols = {k: v.to_numpy(zero_copy_only=False).copy()
            for k, v in base["orders"].items()}
    hit = rng.random(z.orders) < CHANGED_SHARE
    m = int(hit.sum())
    cols["o_orderstatus"][hit] = rng.choice(["F", "O", "P"], m)
    cols["o_totalprice"][hit] = _money(rng, m, 1000, 500_000)
    cols["o_orderpriority"][hit] = rng.choice(PRIORITIES, m)
    new_n = int(z.orders * NEW_SHARE)
    new_keys = np.arange(z.orders, z.orders + new_n)
    new = _orders(rng, z, new_keys)
    out["orders"] = {
        k: pa.concat_arrays([pa.array(cols[k], base["orders"][k].type),
                             new[k]])
        for k in cols}
    items = _lineitem(rng, z, new_keys)
    out["lineitem"] = {k: pa.concat_arrays([base["lineitem"][k], items[k]])
                       for k in base["lineitem"]}
    return out


def corpus(seed: int, docs: int, vecs: int) -> dict:
    """Documents and embeddings for the curation workload."""
    rng = np.random.default_rng([seed, 3])
    vocab = np.array(VOCAB)
    texts = [" ".join(vocab[rng.integers(0, len(vocab),
                                         rng.integers(10, 101))])
             for _ in range(docs)]
    # Planted near-duplicates: an earlier document plus one token.
    for i in np.flatnonzero(rng.random(docs) < 0.05):
        if i > 0:
            texts[i] = texts[int(rng.integers(0, i))] + " dup"
    ids = np.arange(docs)
    v = rng.standard_normal((vecs, DIM)).astype(np.float32)
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    return {
        "documents": {
            "doc_id": pa.array(ids, pa.int64()),
            "text": pa.array(texts),
            "lang": pa.array(rng.choice(LANGS, docs, p=LANG_P)),
            "source": pa.array([f"src{i % 20}" for i in ids]),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        },
        "embeddings": {
            "vec_id": pa.array(np.arange(vecs), pa.int64()),
            "embedding": pa.array(list(v), pa.list_(pa.float32())),
            "label": pa.array(rng.integers(0, 10, vecs), pa.int32()),
        },
    }


def write(dir_: str, cols_by_table: dict) -> None:
    os.makedirs(dir_, exist_ok=True)
    for name, cols in cols_by_table.items():
        pq.write_table(pa.table(cols), os.path.join(dir_, f"{name}.parquet"),
                       compression="snappy")
