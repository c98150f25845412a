"""Seeded input generator.

Every table comes from a `random.Random` keyed by (seed, table), so one
seed gives the same rows on any machine. A table is written as one
parquet file under `<dir>/<table>.parquet/`, the directory layout the
engine's `Tables` loaders and Spark writers use.

The tables keep the engine fixtures' schemas (FIXTURES.md §1) and FK
edges: every o_custkey, l_orderkey, l_partkey, l_suppkey, c_nationkey and
n_regionkey resolves. Row counts depend only on the sizes; the seed moves
the values and the shapes the jobs are sensitive to:

- orders per patient (the paciente dedup fan-in): a seed-chosen share of
  customers is four times as likely to place an order;
- lineitems per order (the prestacion unpivot fan-out): every order has
  one line and the rest are dealt to orders, a seed-chosen share of
  "heavy" orders being three times as likely to receive one;
- documents: fixed shares of exact and of near duplicates (the fixture's
  " dup" suffix) of seed-chosen originals, under fresh doc_ids;
- vectors: 64-d unit vectors around seed-drawn cluster centres.
"""
import bisect
import datetime
import hashlib
import itertools
import math
import os
import random

import pyarrow as pa
import pyarrow.parquet as pq

# Sizes of each workload's input: one operation must fit the run budget
# (4 cores: about 13 s for batch_jobs, 10 s for ann_index). The star schema
# sits between the fixture's sf0.001 and sf0.01 (5,000 orders, 20,000
# lineitems); the corpus has the fixture's 2,000 vectors.
STAR = dict(orders=5000, customers=500, parts=2000, suppliers=100, lines_per_order=4)
DOCS = 1000
EXACT_DUP_SHARE = 0.05
NEAR_DUP_SHARE = 0.05
VECTORS = dict(vectors=2000, batch=100, rounds=6, queries=20, clusters=32, dim=64)
QUERY_ID_BASE = 10_000_000

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
ADJECTIVES = ["large", "hot", "blue", "small", "red", "shiny", "cold", "green"]
NOUNS = ["ring", "bolt", "nut", "gear", "valve", "pipe", "screw", "spring"]
TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
WORDS = ["a", "agg", "batch", "big", "column", "customer", "data", "fast", "filter",
         "group", "hash", "join", "key", "line", "merge", "order", "part", "query",
         "row", "scan", "slow", "small", "sort", "spark", "stream", "table", "the",
         "value", "vector", "window"]
LANGS = ["en", "en", "zh", "de", "fr", "es"]
EPOCH = datetime.datetime(1995, 1, 1)
DATE_SPAN_DAYS = 2403  # 1995-01-01 .. 2001-08-01


def rng(seed, table):
    key = hashlib.sha256(f"{seed}/{table}".encode()).digest()
    return random.Random(int.from_bytes(key[:8], "big"))


def write(dir_, name, columns):
    """columns: list of (name, arrow type, values)."""
    table = pa.table({n: pa.array(v, type=t) for n, t, v in columns})
    out = os.path.join(dir_, f"{name}.parquet")
    os.makedirs(out, exist_ok=True)
    pq.write_table(table, os.path.join(out, "part-00000.parquet"))


def money(r, lo, hi):
    return round(lo + r.random() * (hi - lo), 2)


class Weighted:
    """Draw an index in [0, n): indices whose `hot` flag is set weigh `w`."""

    def __init__(self, hot, w):
        self.cum = list(itertools.accumulate(w if h else 1 for h in hot))

    def draw(self, r):
        return bisect.bisect_right(self.cum, r.randrange(self.cum[-1]))


def star(seed, dir_):
    s = STAR
    i32, i64, f64, txt = pa.int32(), pa.int64(), pa.float64(), pa.string()
    ts = pa.timestamp("us")
    write(dir_, "region", [("r_regionkey", i32, list(range(len(REGIONS)))),
                           ("r_name", txt, REGIONS)])
    write(dir_, "nation", [("n_nationkey", i32, list(range(25))),
                           ("n_name", txt, [f"NATION_{i}" for i in range(25)]),
                           ("n_regionkey", i32, [i % len(REGIONS) for i in range(25)])])

    r = rng(seed, "customer")
    rows = [(i, f"Customer#{i:09d}", r.randrange(25), money(r, -999, 9999), r.choice(SEGMENTS))
            for i in range(s["customers"])]
    write(dir_, "customer", [(n, t, [x[k] for x in rows]) for k, (n, t) in enumerate(
        [("c_custkey", i64), ("c_name", txt), ("c_nationkey", i32), ("c_acctbal", f64),
         ("c_mktsegment", txt)])])

    r = rng(seed, "supplier")
    rows = [(i, f"Supplier#{i:09d}", r.randrange(25), money(r, -999, 9999))
            for i in range(s["suppliers"])]
    write(dir_, "supplier", [(n, t, [x[k] for x in rows]) for k, (n, t) in enumerate(
        [("s_suppkey", i64), ("s_name", txt), ("s_nationkey", i32), ("s_acctbal", f64)])])

    r = rng(seed, "part")
    rows = [(i, f"{r.choice(ADJECTIVES)} {r.choice(NOUNS)}", f"Brand#{1 + r.randrange(25)}",
             r.choice(TYPES), 1 + r.randrange(50), 900.0 + (i % 1000) / 10.0)
            for i in range(s["parts"])]
    write(dir_, "part", [(n, t, [x[k] for x in rows]) for k, (n, t) in enumerate(
        [("p_partkey", i64), ("p_name", txt), ("p_brand", txt), ("p_type", txt),
         ("p_size", i32), ("p_retailprice", f64)])])

    r = rng(seed, "orders")
    hot_share = 0.05 + 0.10 * r.random()
    patients = Weighted([r.random() < hot_share for _ in range(s["customers"])], 4)
    days = [r.randrange(DATE_SPAN_DAYS) for _ in range(s["orders"])]
    rows = [(i, patients.draw(r), r.choice("FOP"), money(r, 1000, 400000),
             EPOCH + datetime.timedelta(days=days[i]), r.choice(PRIORITIES))
            for i in range(s["orders"])]
    write(dir_, "orders", [(n, t, [x[k] for x in rows]) for k, (n, t) in enumerate(
        [("o_orderkey", i64), ("o_custkey", i64), ("o_orderstatus", txt),
         ("o_totalprice", f64), ("o_orderdate", ts), ("o_orderpriority", txt)])])

    r = rng(seed, "lineitem")
    heavy_share = 0.10 + 0.20 * r.random()
    heavy = Weighted([r.random() < heavy_share for _ in range(s["orders"])], 3)
    lines = [1] * s["orders"]
    for _ in range(s["orders"] * (s["lines_per_order"] - 1)):
        lines[heavy.draw(r)] += 1
    rows = [(o, r.randrange(s["parts"]), r.randrange(s["suppliers"]), ln,
             float(1 + r.randrange(50)), money(r, 900, 100000), r.randrange(11) / 100.0,
             r.randrange(9) / 100.0, r.choice("ANR"), r.choice("OF"),
             EPOCH + datetime.timedelta(days=days[o] + 1 + r.randrange(120)))
            for o in range(s["orders"]) for ln in range(1, lines[o] + 1)]
    write(dir_, "lineitem", [(n, t, [x[k] for x in rows]) for k, (n, t) in enumerate(
        [("l_orderkey", i64), ("l_partkey", i64), ("l_suppkey", i64), ("l_linenumber", i32),
         ("l_quantity", f64), ("l_extendedprice", f64), ("l_discount", f64), ("l_tax", f64),
         ("l_returnflag", txt), ("l_linestatus", txt), ("l_shipdate", ts)])])


def documents(seed, dir_):
    r = rng(seed, "documents")
    n_exact = int(DOCS * EXACT_DUP_SHARE)
    n_near = int(DOCS * NEAR_DUP_SHARE)
    base = [(" ".join(r.choice(WORDS) for _ in range(10 + r.randrange(91))), r.choice(LANGS))
            for _ in range(DOCS - n_exact - n_near)]
    copies = []
    for j in range(n_exact + n_near):
        text, lang = base[r.randrange(len(base))]
        copies.append((text if j < n_exact else text + " dup", lang))
    docs = base + copies
    write(dir_, "documents", [
        ("doc_id", pa.int64(), list(range(len(docs)))),
        ("text", pa.string(), [d[0] for d in docs]),
        ("lang", pa.string(), [d[1] for d in docs]),
        ("source", pa.string(), [f"src{i % 20}" for i in range(len(docs))]),
        ("n_chars", pa.int64(), [len(d[0]) for d in docs])])


def _unit(v):
    n = math.sqrt(sum(x * x for x in v))
    return [x / n for x in v]


def _vectors(seed, table, ids):
    v = VECTORS
    rc = rng(seed, "centres")
    centres = [_unit([rc.random() * 2 - 1 for _ in range(v["dim"])]) for _ in range(v["clusters"])]
    r = rng(seed, table)
    noise = 0.6 / math.sqrt(v["dim"])  # cosine to the centre ≈ 0.85
    labels, embs = [], []
    for _ in ids:
        c = r.randrange(v["clusters"])
        labels.append(c)
        embs.append(_unit([x + r.gauss(0.0, noise) for x in centres[c]]))
    return [("vec_id", pa.int64(), list(ids)),
            ("embedding", pa.list_(pa.float32()), embs),
            ("label", pa.int32(), labels)]


def vectors(seed, dir_):
    """embeddings (the build corpus), batch_<r> per append round and
    `queries` (one batch of VECTORS['queries'] per round, ids from
    QUERY_ID_BASE), all with the fixture's embeddings schema."""
    v = VECTORS
    write(dir_, "embeddings", _vectors(seed, "embeddings", range(v["vectors"])))
    for b in range(v["rounds"]):
        lo = v["vectors"] + b * v["batch"]
        write(dir_, f"batch_{b}", _vectors(seed, f"batch_{b}", range(lo, lo + v["batch"])))
    write(dir_, "queries", _vectors(seed, "queries",
                                    range(QUERY_ID_BASE, QUERY_ID_BASE + v["queries"] * v["rounds"])))


WORKLOADS = {
    "batch_jobs": lambda seed, d: (star(seed, d), documents(seed, d)),
    "ann_index": vectors,
}


def generate(workload, seed, dir_):
    WORKLOADS[workload](seed, dir_)
