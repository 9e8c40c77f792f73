"""Seeded generator of the lakehouse tables graft's loaders read
(`graft.Tables`): the TPC-H-shaped star schema, `events`, `documents` and
`embeddings`, with the column names and types of the project's test data
(timestamps are microsecond `timestamp` without a time zone).

The same seed and sizes always give the same files. Each table is a
directory `<dir>/<name>.parquet/` of part files; `events` is split into
`event_files` parts with a seeded assignment of rows to parts.

The value lists below are also the parameter lists of the SQL statements
in `scala/graftbench/SqlGateway.scala` and `Gen.scala`; keep them equal.
"""
import datetime as dt
import math
import os
import random

import pyarrow as pa
import pyarrow.parquet as pq

PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
COLORS = ["small", "red", "blue", "hot", "green", "dark", "cold", "big"]
NOUNS = ["ring", "widget", "bolt", "gear", "plate", "nut", "pipe", "valve"]
PTYPES = ["ECONOMY", "SMALL", "MEDIUM", "LARGE", "PROMO", "STANDARD"]
EVENT_TYPES = ["view", "view", "click", "click", "purchase", "signup", "error"]
VOCAB = ["join", "hash", "row", "batch", "scan", "column", "customer", "filter", "small", "slow",
         "merge", "order", "vector", "line", "table", "data", "agg", "value", "key", "stream",
         "window", "a", "spark", "part", "group", "big", "sort", "query", "fast", "the"]
LANGS = ["en", "en", "en", "es", "de", "fr", "zh"]
DAY0 = dt.datetime(1995, 1, 1)

# The input sizes of each workload's corpora, stated only here; the harness
# reads row counts from the files. (lake_ingest makes its own rows, sized in
# `LakeIngest.scala`.)
SIZES = {
    "sql_gateway": {"orders": 2500},
    "curation_stream": {"documents": 400, "embeddings": 300, "events": 6000, "event_files": 8,
                        "orders": 3000},
}


def _rng(seed, salt):
    return random.Random(seed * 1000003 + salt)


def _money(x):
    return round(x * 100) / 100.0


def _write(d, name, cols, schema, parts=1):
    out = os.path.join(d, f"{name}.parquet")
    os.makedirs(out, exist_ok=True)
    n = len(next(iter(cols.values())))
    for p in range(parts):
        lo, hi = n * p // parts, n * (p + 1) // parts
        t = pa.table({k: v[lo:hi] for k, v in cols.items()}, schema=schema)
        pq.write_table(t, os.path.join(out, f"part-{p:05d}.parquet"))


def tpch(d, seed, n_orders):
    nc, np_, ns = max(50, n_orders // 10), max(40, n_orders * 2 // 15), max(10, n_orders // 150)
    i32, i64, s, f64, ts = pa.int32(), pa.int64(), pa.string(), pa.float64(), pa.timestamp("us")
    _write(d, "region", {"r_regionkey": list(range(5)), "r_name": REGIONS},
           pa.schema([("r_regionkey", i32), ("r_name", s)]))
    _write(d, "nation", {"n_nationkey": list(range(25)), "n_name": [f"NATION_{i}" for i in range(25)],
                         "n_regionkey": [i % 5 for i in range(25)]},
           pa.schema([("n_nationkey", i32), ("n_name", s), ("n_regionkey", i32)]))
    r = _rng(seed, 1)
    cust = [(i, f"Customer#{i:09d}", r.randrange(25), _money(-999.99 + r.random() * 10999.98),
             r.choice(SEGMENTS)) for i in range(nc)]
    _write(d, "customer", dict(zip(["c_custkey", "c_name", "c_nationkey", "c_acctbal", "c_mktsegment"],
                                   map(list, zip(*cust)))),
           pa.schema([("c_custkey", i64), ("c_name", s), ("c_nationkey", i32), ("c_acctbal", f64),
                      ("c_mktsegment", s)]))
    r = _rng(seed, 2)
    supp = [(i, f"Supplier#{i:09d}", r.randrange(25), _money(-999.99 + r.random() * 10999.98))
            for i in range(ns)]
    _write(d, "supplier", dict(zip(["s_suppkey", "s_name", "s_nationkey", "s_acctbal"], map(list, zip(*supp)))),
           pa.schema([("s_suppkey", i64), ("s_name", s), ("s_nationkey", i32), ("s_acctbal", f64)]))
    r = _rng(seed, 3)
    part = [(i, r.choice(COLORS) + " " + r.choice(NOUNS), f"Brand#{1 + r.randrange(25)}", r.choice(PTYPES),
             1 + r.randrange(50), _money(900 + (i % 1000) / 10.0)) for i in range(np_)]
    _write(d, "part", dict(zip(["p_partkey", "p_name", "p_brand", "p_type", "p_size", "p_retailprice"],
                               map(list, zip(*part)))),
           pa.schema([("p_partkey", i64), ("p_name", s), ("p_brand", s), ("p_type", s), ("p_size", i32),
                      ("p_retailprice", f64)]))
    orders = orders_table(d, seed, n_orders, nc)
    r = _rng(seed, 4)
    lines = []
    for o in orders:
        for ln in range(1, 2 + r.randrange(7)):
            qty = float(1 + r.randrange(50))
            lines.append((o[0], r.randrange(np_), r.randrange(ns), ln, qty, _money(qty * (900 + r.random() * 2100)),
                          r.randrange(11) / 100.0, r.randrange(9) / 100.0, r.choice("ANR"), r.choice("OF"),
                          o[4] + dt.timedelta(days=1 + r.randrange(121))))
    _write(d, "lineitem", dict(zip(["l_orderkey", "l_partkey", "l_suppkey", "l_linenumber", "l_quantity",
                                    "l_extendedprice", "l_discount", "l_tax", "l_returnflag", "l_linestatus",
                                    "l_shipdate"], map(list, zip(*lines)))),
           pa.schema([("l_orderkey", i64), ("l_partkey", i64), ("l_suppkey", i64), ("l_linenumber", i32),
                      ("l_quantity", f64), ("l_extendedprice", f64), ("l_discount", f64), ("l_tax", f64),
                      ("l_returnflag", s), ("l_linestatus", s), ("l_shipdate", ts)]))


def orders_table(d, seed, n, n_cust=None):
    """The TPC-H `orders` table alone; returns its rows."""
    nc = n_cust or max(50, n // 10)
    r = _rng(seed, 7)
    orders = [(i, r.randrange(nc), r.choice("FOP"), _money(1000 + r.random() * 499000),
               DAY0 + dt.timedelta(days=r.randrange(2400)), r.choice(PRIORITIES)) for i in range(n)]
    _write(d, "orders", dict(zip(["o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice", "o_orderdate",
                                  "o_orderpriority"], map(list, zip(*orders)))),
           pa.schema([("o_orderkey", pa.int64()), ("o_custkey", pa.int64()), ("o_orderstatus", pa.string()),
                      ("o_totalprice", pa.float64()), ("o_orderdate", pa.timestamp("us")),
                      ("o_orderpriority", pa.string())]))
    return orders


def events(d, seed, n, parts):
    """Events over January 2024; rows are assigned to `parts` files by a seeded shuffle."""
    r = _rng(seed, 5)
    start = dt.datetime(2024, 1, 1)
    offs = sorted(r.randrange(30 * 86400 * 1000000) for _ in range(n))
    rows = [(i, start + dt.timedelta(microseconds=offs[i]), r.randrange(150), r.choice(EVENT_TYPES),
             _money(min(490.0, max(0.01, math.exp(3.4 + r.gauss(0, 1))))), f'{{"k": {r.randrange(100)}}}')
            for i in range(n)]
    r.shuffle(rows)
    _write(d, "events", dict(zip(["event_id", "ts", "user_id", "event_type", "value", "props"],
                                 map(list, zip(*rows)))),
           pa.schema([("event_id", pa.int64()), ("ts", pa.timestamp("us")), ("user_id", pa.int64()),
                      ("event_type", pa.string()), ("value", pa.float64()), ("props", pa.string())]), parts)


def documents(d, seed, n):
    """Documents with ~1 % exact and ~6 % near duplicates of earlier ones."""
    r = _rng(seed, 6)
    texts = []
    for i in range(n):
        u = r.random()
        if i > 10 and u < 0.01:
            texts.append(texts[r.randrange(i)])
        elif i > 10 and u < 0.07:
            w = list(texts[r.randrange(i)])
            for _ in range(r.randrange(3)):
                w[r.randrange(len(w))] = r.choice(VOCAB)
            texts.append(w)
        else:
            texts.append([r.choice(VOCAB) for _ in range(10 + r.randrange(91))])
    text = [" ".join(w) for w in texts]
    _write(d, "documents", {"doc_id": list(range(n)), "text": text, "lang": [r.choice(LANGS) for _ in range(n)],
                            "source": [f"src{r.randrange(20)}" for _ in range(n)], "n_chars": [len(t) for t in text]},
           pa.schema([("doc_id", pa.int64()), ("text", pa.string()), ("lang", pa.string()),
                      ("source", pa.string()), ("n_chars", pa.int64())]))


def embeddings(d, seed, n, dim=64):
    """Unit vectors around 10 seeded centers; `label` is the center."""
    r = _rng(seed, 8)

    def unit(a):
        s = math.sqrt(sum(x * x for x in a))
        return [x / s for x in a]

    centers = [unit([r.gauss(0, 1) for _ in range(dim)]) for _ in range(10)]
    vecs, labels = [], []
    for _ in range(n):
        c = r.randrange(10)
        vecs.append(unit([x + 0.35 * r.gauss(0, 1) / 8 for x in centers[c]]))
        labels.append(c)
    _write(d, "embeddings", {"vec_id": list(range(n)), "embedding": vecs, "label": labels},
           pa.schema([("vec_id", pa.int64()), ("embedding", pa.list_(pa.float32())), ("label", pa.int32())]))


def inputs(workload, data_root, seed):
    """Writes the inputs of one run under `data_root`: `real` (measured) and
    `warm` (warm-up, from a seed no run measures) for the gateway, `labels`
    (set-up corpus) and `c0` (measured corpus) for curation_stream."""
    z = SIZES.get(workload, {})
    tags = {}
    if workload == "sql_gateway":
        tags = {"real": [(tpch, (z["orders"],))], "warm": [(tpch, (z["orders"],))]}
    elif workload == "curation_stream":
        corpus = [(documents, (z["documents"],)), (embeddings, (z["embeddings"],)),
                  (events, (z["events"], z["event_files"])), (orders_table, (z["orders"],))]
        tags = {"labels": corpus, "c0": corpus}
    for i, (tag, gens) in enumerate(sorted(tags.items())):
        s = -1 - seed if tag == "warm" else seed * 101 + i
        for g, a in gens:
            g(os.path.join(data_root, tag), s, *a)
