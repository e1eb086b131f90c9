"""Seeded fixture tables for the query part of the ``fold_query`` workload.

Writes the ten tables the query registry reads (TPC-H-like star schema plus
``events``, ``documents`` and ``embeddings``), one parquet file each, with
the column names and types of the engine's fixture catalog, at the row
counts of a 0.001 scale factor (6,000 line items, 500 documents, 500
embeddings).
"""

from __future__ import annotations

import datetime as dt
import os
import random

import pyarrow as pa
import pyarrow.parquet as pq

WORDS = (
    "a the data table row column key value join group sort filter merge "
    "hash scan agg window stream batch spark query order customer part line "
    "vector fast slow big small"
).split()
LANGS = ("en", "de", "fr", "es", "zh")
EVENT_TYPES = ("view", "click", "signup", "purchase", "error")
STATUSES = ("O", "F", "P")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
TYPES = ("ECONOMY", "STANDARD", "LARGE", "SMALL", "MEDIUM", "PROMO")
ADJ = ("blue", "hot", "small", "old", "red", "new", "cold", "large")
NOUN = ("bolt", "gear", "anvil", "ring", "widget", "rod", "plate", "gizmo")
REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
EMB_DIM = 64
T0 = dt.datetime(1995, 1, 1)


def write_tables(out: str, seed: int) -> dict[str, int]:
    """Write all ten tables under ``out``; returns row counts."""
    r = random.Random(seed)
    os.makedirs(out, exist_ok=True)
    n_cust, n_supp, n_part, n_ord = 150, 10, 200, 1500
    rows = {}

    def put(name, cols, fields):
        pq.write_table(pa.table(cols, schema=pa.schema(fields)),
                       os.path.join(out, f"{name}.parquet"))
        rows[name] = len(next(iter(cols.values())))

    i32, i64, f64, s = pa.int32(), pa.int64(), pa.float64(), pa.string()
    ts = pa.timestamp("us")
    put("region", {"r_regionkey": list(range(5)), "r_name": list(REGIONS)},
        [("r_regionkey", i32), ("r_name", s)])
    put("nation", {"n_nationkey": list(range(25)),
                   "n_name": [f"NATION_{i}" for i in range(25)],
                   "n_regionkey": [i % 5 for i in range(25)]},
        [("n_nationkey", i32), ("n_name", s), ("n_regionkey", i32)])
    put("customer", {
        "c_custkey": list(range(n_cust)),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": [r.randrange(25) for _ in range(n_cust)],
        "c_acctbal": [round(r.uniform(-999.99, 9999.99), 2) for _ in range(n_cust)],
        "c_mktsegment": [r.choice(SEGMENTS) for _ in range(n_cust)],
    }, [("c_custkey", i64), ("c_name", s), ("c_nationkey", i32),
        ("c_acctbal", f64), ("c_mktsegment", s)])
    put("supplier", {
        "s_suppkey": list(range(n_supp)),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": [r.randrange(25) for _ in range(n_supp)],
        "s_acctbal": [round(r.uniform(-999.99, 9999.99), 2) for _ in range(n_supp)],
    }, [("s_suppkey", i64), ("s_name", s), ("s_nationkey", i32), ("s_acctbal", f64)])
    put("part", {
        "p_partkey": list(range(n_part)),
        "p_name": [f"{r.choice(ADJ)} {r.choice(NOUN)}" for _ in range(n_part)],
        "p_brand": [f"Brand#{r.randrange(1, 26)}" for _ in range(n_part)],
        "p_type": [r.choice(TYPES) for _ in range(n_part)],
        "p_size": [r.randrange(1, 51) for _ in range(n_part)],
        "p_retailprice": [round(r.uniform(900, 1000), 2) for _ in range(n_part)],
    }, [("p_partkey", i64), ("p_name", s), ("p_brand", s), ("p_type", s),
        ("p_size", i32), ("p_retailprice", f64)])

    o_date = [T0 + dt.timedelta(days=r.randrange(2400)) for _ in range(n_ord)]
    put("orders", {
        "o_orderkey": list(range(n_ord)),
        "o_custkey": [r.randrange(n_cust) for _ in range(n_ord)],
        "o_orderstatus": [r.choice(STATUSES) for _ in range(n_ord)],
        "o_totalprice": [round(r.uniform(1000, 500000), 2) for _ in range(n_ord)],
        "o_orderdate": o_date,
        "o_orderpriority": [r.choice(PRIORITIES) for _ in range(n_ord)],
    }, [("o_orderkey", i64), ("o_custkey", i64), ("o_orderstatus", s),
        ("o_totalprice", f64), ("o_orderdate", ts), ("o_orderpriority", s)])

    li = {k: [] for k in (
        "l_orderkey", "l_partkey", "l_suppkey", "l_linenumber", "l_quantity",
        "l_extendedprice", "l_discount", "l_tax", "l_returnflag",
        "l_linestatus", "l_shipdate")}
    target = 6000
    o = 0
    while len(li["l_orderkey"]) < target:
        for ln in range(1, r.randrange(1, 8) + 1):
            q = float(r.randrange(1, 51))
            li["l_orderkey"].append(o % n_ord)
            li["l_partkey"].append(r.randrange(n_part))
            li["l_suppkey"].append(r.randrange(n_supp))
            li["l_linenumber"].append(ln)
            li["l_quantity"].append(q)
            li["l_extendedprice"].append(round(q * r.uniform(900, 1000), 2))
            li["l_discount"].append(r.randrange(11) / 100)
            li["l_tax"].append(r.randrange(9) / 100)
            li["l_returnflag"].append(r.choice("ANR"))
            li["l_linestatus"].append(r.choice("OF"))
            li["l_shipdate"].append(o_date[o % n_ord] + dt.timedelta(days=r.randrange(1, 122)))
        o += 1
    li = {k: v[:target] for k, v in li.items()}
    put("lineitem", li, [
        ("l_orderkey", i64), ("l_partkey", i64), ("l_suppkey", i64),
        ("l_linenumber", i32), ("l_quantity", f64), ("l_extendedprice", f64),
        ("l_discount", f64), ("l_tax", f64), ("l_returnflag", s),
        ("l_linestatus", s), ("l_shipdate", ts)])

    n_ev = 1000
    e0 = dt.datetime(2024, 1, 1)
    ev_ts = sorted(e0 + dt.timedelta(seconds=r.uniform(0, 30 * 86400)) for _ in range(n_ev))
    put("events", {
        "event_id": list(range(n_ev)),
        "ts": ev_ts,
        "user_id": [r.randrange(15) for _ in range(n_ev)],
        "event_type": [r.choice(EVENT_TYPES) for _ in range(n_ev)],
        "value": [round(r.uniform(0.01, 500), 2) for _ in range(n_ev)],
        "props": [f'{{"k": {r.randrange(100)}}}' for _ in range(n_ev)],
    }, [("event_id", i64), ("ts", ts), ("user_id", i64), ("event_type", s),
        ("value", f64), ("props", s)])

    n_doc = 500
    texts = []
    for _ in range(n_doc):
        if texts and r.random() < 0.1:  # near-duplicate of an earlier doc
            texts.append(r.choice(texts) + " dup")
        else:
            texts.append(" ".join(r.choice(WORDS) for _ in range(r.randrange(8, 90))))
    put("documents", {
        "doc_id": list(range(n_doc)),
        "text": texts,
        "lang": [r.choice(LANGS) for _ in range(n_doc)],
        "source": [f"src{r.randrange(20)}" for _ in range(n_doc)],
        "n_chars": [len(t) for t in texts],
    }, [("doc_id", i64), ("text", s), ("lang", s), ("source", s), ("n_chars", i64)])

    n_emb = 500
    labels = [r.randrange(10) for _ in range(n_emb)]
    centers = [[r.gauss(0, 0.1) for _ in range(EMB_DIM)] for _ in range(10)]
    put("embeddings", {
        "vec_id": list(range(n_emb)),
        "embedding": [[c + r.gauss(0, 0.05) for c in centers[lab]] for lab in labels],
        "label": labels,
    }, [("vec_id", i64), ("embedding", pa.list_(pa.float32())), ("label", i32)])
    return rows
