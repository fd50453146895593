"""Seeded synthetic catalog tables.

The ten tables the declared queries read (a TPC-H-like star schema plus
`events`, `documents` and `embeddings`), with the column names, types and
value domains of the program's test tables. Every column is drawn from its
own numpy PCG64 stream keyed by (seed, table, column), so a seed always
yields the same bytes. Each table is one parquet file with one row group;
timestamps are TIMESTAMP(MICROS, isAdjustedToUTC=false), the shape
`Tables.load` normalizes.
"""
import os
import zlib

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLES = ["region", "nation", "customer", "supplier", "part", "orders", "lineitem",
          "events", "documents", "embeddings"]

# Words of the `documents` corpus (the planted QA answers are drawn from them).
VOCAB = ["spark", "window", "merge", "table", "column", "vector", "stream", "value",
         "data", "small", "join", "filter", "big", "group", "hash", "customer", "sort",
         "order", "slow", "line", "part", "fast", "row", "the", "agg", "key", "query",
         "a", "scan", "batch"]


def rows(sf):
    """Row counts at scale factor `sf` (sf 0.1 has 600,000 lineitem rows)."""
    return {"region": 5, "nation": 25, "customer": round(150000 * sf),
            "supplier": max(10, round(10000 * sf)), "part": round(200000 * sf),
            "orders": round(1500000 * sf), "lineitem": round(6000000 * sf),
            "events": round(1000000 * sf), "documents": round(50000 * sf),
            "embeddings": round(20000 * sf)}


def _rng(seed, table, column):
    return np.random.Generator(np.random.PCG64(
        [seed & 0xFFFFFFFF, zlib.crc32(f"{table}.{column}".encode())]))


def _days(rng, n, start, days):
    base = np.datetime64(start, "D")
    return (base + rng.integers(0, days, n)).astype("datetime64[us]")


def table(name, sf, seed):
    n = rows(sf)
    size = n[name]
    ids = np.arange(size, dtype=np.int64)

    def r(column):
        return _rng(seed, name, column)

    def pick(column, values):
        return np.array(values, dtype=object)[r(column).integers(0, len(values), size)]

    def money(column, lo, hi):
        return np.round(r(column).uniform(lo, hi, size), 2)

    if name == "region":
        return pa.table({"r_regionkey": pa.array(ids, pa.int32()),
                         "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    if name == "nation":
        return pa.table({"n_nationkey": pa.array(ids, pa.int32()),
                         "n_name": [f"NATION_{i}" for i in ids],
                         "n_regionkey": pa.array(ids % 5, pa.int32())})
    if name == "customer":
        return pa.table({
            "c_custkey": ids, "c_name": [f"Customer#{i:09d}" for i in ids],
            "c_nationkey": pa.array(r("nation").integers(0, 25, size), pa.int32()),
            "c_acctbal": money("acctbal", -999.99, 9999.99),
            "c_mktsegment": pick("segment", ["AUTOMOBILE", "BUILDING", "FURNITURE",
                                             "HOUSEHOLD", "MACHINERY"])})
    if name == "supplier":
        return pa.table({
            "s_suppkey": ids, "s_name": [f"Supplier#{i:09d}" for i in ids],
            "s_nationkey": pa.array(r("nation").integers(0, 25, size), pa.int32()),
            "s_acctbal": money("acctbal", -999.99, 9999.99)})
    if name == "part":
        adj = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
        noun = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
        names = [f"{a} {b}" for a, b in zip(pick("adj", adj), pick("noun", noun))]
        return pa.table({
            "p_partkey": ids, "p_name": names,
            "p_brand": [f"Brand#{b}" for b in r("brand").integers(1, 26, size)],
            "p_type": pick("type", ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]),
            "p_size": pa.array(r("size").integers(1, 51, size), pa.int32()),
            "p_retailprice": 900.0 + (ids % 1000) / 10.0})
    if name == "orders":
        return pa.table({
            "o_orderkey": ids, "o_custkey": r("cust").integers(0, n["customer"], size),
            "o_orderstatus": pick("status", ["F", "O", "P"]),
            "o_totalprice": money("price", 1000.0, 500000.0),
            "o_orderdate": pa.array(_days(r("date"), size, "1995-01-01", 2405), pa.timestamp("us")),
            "o_orderpriority": pick("priority", ["1-URGENT", "2-HIGH", "3-MEDIUM",
                                                 "4-NOT SPECIFIED", "5-LOW"])})
    if name == "lineitem":
        return pa.table({
            "l_orderkey": r("order").integers(0, n["orders"], size),
            "l_partkey": r("part").integers(0, n["part"], size),
            "l_suppkey": r("supp").integers(0, n["supplier"], size),
            "l_linenumber": pa.array(r("line").integers(1, 8, size), pa.int32()),
            "l_quantity": r("qty").integers(1, 51, size).astype(np.float64),
            "l_extendedprice": money("price", 900.0, 105000.0),
            "l_discount": r("disc").integers(0, 11, size) / 100.0,
            "l_tax": r("tax").integers(0, 9, size) / 100.0,
            "l_returnflag": pick("rf", ["A", "N", "R"]),
            "l_linestatus": pick("ls", ["F", "O"]),
            "l_shipdate": pa.array(_days(r("ship"), size, "1995-01-02", 2499), pa.timestamp("us"))})
    if name == "events":
        users = max(10, round(size * 0.015))
        ts = np.datetime64("2024-01-01T00:00:00", "us") + \
            np.sort(r("ts").integers(0, 30 * 86400 * 1000000, size)).astype("timedelta64[us]")
        return pa.table({
            "event_id": ids, "ts": pa.array(ts, pa.timestamp("us")),
            "user_id": r("user").integers(0, users, size),
            "event_type": pick("type", ["click", "error", "purchase", "signup", "view"]),
            "value": np.round(r("value").exponential(60.0, size), 2),
            "props": [f'{{"k": {k}}}' for k in r("k").integers(0, 100, size)]})
    if name == "documents":
        lengths = r("len").integers(10, 101, size)
        words = r("words").integers(0, len(VOCAB), int(lengths.sum()))
        vocab = np.array(VOCAB, dtype=object)
        offsets = np.concatenate([[0], np.cumsum(lengths)])
        texts = [" ".join(vocab[words[offsets[i]:offsets[i + 1]]]) for i in range(size)]
        # about 0.2% of documents repeat an earlier document's text exactly
        # and about 5% carry a "dup" marker word: the exact- and near-
        # duplicate operators have something to find
        copy = r("copy").random(size) < 0.002
        source = r("copy_of").integers(0, np.maximum(ids, 1))
        mark = r("mark").random(size) < 0.05
        for i in range(1, size):
            if copy[i]:
                texts[i] = texts[source[i]]
            elif mark[i]:
                texts[i] = texts[i] + " dup"
        return pa.table({
            "doc_id": ids, "text": texts,
            "lang": pick("lang", ["en", "en", "en", "zh", "es", "fr", "de"]),
            "source": [f"src{i % 20}" for i in ids],
            "n_chars": np.array([len(t) for t in texts], dtype=np.int64)})
    if name == "embeddings":
        # 64-d unit vectors: a normal draw plus a small per-label offset, so
        # labels carry weak structure
        labels = r("label").integers(0, 10, size)
        centers = r("centers").uniform(-0.5, 0.5, (10, 64))
        v = r("vec").standard_normal((size, 64)) + centers[labels]
        v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
        emb = pa.ListArray.from_arrays(pa.array(np.arange(0, 64 * size + 1, 64, dtype=np.int32)),
                                       pa.array(v.reshape(-1), pa.float32()))
        return pa.table({"vec_id": ids, "embedding": emb,
                         "label": pa.array(labels, pa.int32())})
    raise ValueError(f"unknown table {name}")


def write_tables(directory, sf, seed, names=TABLES):
    """Write each named table as `<directory>/<name>.parquet`."""
    os.makedirs(directory, exist_ok=True)
    for name in names:
        pq.write_table(table(name, sf, seed), os.path.join(directory, f"{name}.parquet"))
