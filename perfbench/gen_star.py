"""Star-schema tables for the headline-query workload.

The registered queries read ten parquet tables from one directory (see
``sources.readers.TPCH_TABLES``). This writes all ten, with the column
names and types the queries expect, at a small fixed size: query time at
this size is dominated by per-query fixed cost (plan building, jobs and
stages), which is what the workload measures. Value domains follow the
engine's test data: a ~31-word text pool, 64-dim embeddings around
cluster directions, a 30-day event window, 1995-2001 ship dates.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

WORDS = (
    "a the key agg row scan slow fast table value part hash merge batch "
    "line sort window data customer query stream order group column join "
    "small filter big vector spark split"
).split()
LANGS = ("en", "en", "en", "zh", "es", "de", "fr")
EVENT_TYPES = ("view", "click", "signup", "purchase", "error")
#: the tables do not vary with the run's seed (it permutes query order),
#: so their oracle hashes can be stored; see ``expect.py``
SEED = 0


def _write(out: str, name: str, cols: dict, schema: pa.Schema) -> None:
    table = pa.Table.from_pydict(cols, schema=schema)
    pq.write_table(table, os.path.join(out, f"{name}.parquet"))


def generate(out: str, seed: int) -> None:
    """Write the ten tables under ``out``."""
    rng = np.random.default_rng(seed)
    os.makedirs(out, exist_ok=True)
    n_cust, n_supp, n_part, n_ord = 150, 10, 200, 1500
    n_docs, n_emb, n_events = 500, 500, 1000

    _write(out, "region", {"r_regionkey": list(range(5)),
                           "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]},
           pa.schema([("r_regionkey", pa.int32()), ("r_name", pa.string())]))
    _write(out, "nation", {"n_nationkey": list(range(25)),
                           "n_name": [f"NATION{i:02d}" for i in range(25)],
                           "n_regionkey": [i % 5 for i in range(25)]},
           pa.schema([("n_nationkey", pa.int32()), ("n_name", pa.string()),
                      ("n_regionkey", pa.int32())]))
    _write(out, "customer", {
        "c_custkey": np.arange(1, n_cust + 1),
        "c_name": [f"Customer#{i:06d}" for i in range(1, n_cust + 1)],
        "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": np.round(rng.uniform(-999, 9999, n_cust), 2),
        "c_mktsegment": rng.choice(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"], n_cust),
    }, pa.schema([("c_custkey", pa.int64()), ("c_name", pa.string()), ("c_nationkey", pa.int32()),
                  ("c_acctbal", pa.float64()), ("c_mktsegment", pa.string())]))
    _write(out, "supplier", {
        "s_suppkey": np.arange(1, n_supp + 1),
        "s_name": [f"Supplier#{i:06d}" for i in range(1, n_supp + 1)],
        "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
        "s_acctbal": np.round(rng.uniform(-999, 9999, n_supp), 2),
    }, pa.schema([("s_suppkey", pa.int64()), ("s_name", pa.string()), ("s_nationkey", pa.int32()),
                  ("s_acctbal", pa.float64())]))
    _write(out, "part", {
        "p_partkey": np.arange(1, n_part + 1),
        "p_name": [f"part {WORDS[i % len(WORDS)]} {i}" for i in range(n_part)],
        "p_brand": [f"Brand#{b}" for b in rng.integers(11, 56, n_part)],
        "p_type": rng.choice(["STANDARD BRASS", "SMALL STEEL", "LARGE COPPER", "PROMO TIN", "ECONOMY NICKEL"], n_part),
        "p_size": rng.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": np.round(rng.uniform(900, 2000, n_part), 2),
    }, pa.schema([("p_partkey", pa.int64()), ("p_name", pa.string()), ("p_brand", pa.string()),
                  ("p_type", pa.string()), ("p_size", pa.int32()), ("p_retailprice", pa.float64())]))

    day = np.timedelta64(1, "D")
    t_lo = np.datetime64("1995-01-01")
    odate = t_lo + rng.integers(0, 2500, n_ord) * day
    _write(out, "orders", {
        "o_orderkey": np.arange(1, n_ord + 1),
        "o_custkey": rng.integers(1, n_cust + 1, n_ord),
        "o_orderstatus": rng.choice(["F", "O", "P"], n_ord),
        "o_totalprice": np.round(rng.uniform(1000, 400000, n_ord), 2),
        "o_orderdate": odate.astype("datetime64[us]"),
        "o_orderpriority": rng.choice(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], n_ord),
    }, pa.schema([("o_orderkey", pa.int64()), ("o_custkey", pa.int64()), ("o_orderstatus", pa.string()),
                  ("o_totalprice", pa.float64()), ("o_orderdate", pa.timestamp("us")),
                  ("o_orderpriority", pa.string())]))

    lines = rng.integers(0, 8, n_ord)  # ~2% of orders get no lines, as in the test data
    okey = np.repeat(np.arange(1, n_ord + 1), lines)
    lnum = np.concatenate([np.arange(1, k + 1) for k in lines]).astype(np.int32)
    n_li = len(okey)
    qty = rng.integers(1, 51, n_li).astype(float)
    _write(out, "lineitem", {
        "l_orderkey": okey,
        "l_partkey": rng.integers(1, n_part + 1, n_li),
        "l_suppkey": rng.integers(1, n_supp + 1, n_li),
        "l_linenumber": lnum,
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900, 2000, n_li), 2),
        "l_discount": np.round(rng.integers(0, 11, n_li) / 100.0, 2),
        "l_tax": np.round(rng.integers(0, 9, n_li) / 100.0, 2),
        "l_returnflag": rng.choice(["A", "N", "R"], n_li),
        "l_linestatus": rng.choice(["F", "O"], n_li),
        "l_shipdate": (t_lo + rng.integers(0, 2500, n_li) * day).astype("datetime64[us]"),
    }, pa.schema([("l_orderkey", pa.int64()), ("l_partkey", pa.int64()), ("l_suppkey", pa.int64()),
                  ("l_linenumber", pa.int32()), ("l_quantity", pa.float64()),
                  ("l_extendedprice", pa.float64()), ("l_discount", pa.float64()),
                  ("l_tax", pa.float64()), ("l_returnflag", pa.string()),
                  ("l_linestatus", pa.string()), ("l_shipdate", pa.timestamp("us"))]))

    span_us = 30 * 86_400 * 1_000_000
    ts = np.datetime64("2024-01-01T00:00:00", "us") + np.sort(rng.integers(0, span_us, n_events)).astype("timedelta64[us]")
    _write(out, "events", {
        "event_id": np.arange(n_events),
        "ts": ts,
        "user_id": rng.integers(0, 150, n_events),
        "event_type": rng.choice(EVENT_TYPES, n_events),
        "value": np.round(rng.uniform(0, 200, n_events), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_events)],
    }, pa.schema([("event_id", pa.int64()), ("ts", pa.timestamp("us")), ("user_id", pa.int64()),
                  ("event_type", pa.string()), ("value", pa.float64()), ("props", pa.string())]))

    texts = []
    for i in range(n_docs):
        if i % 20 == 7:  # a near-duplicate of the previous document
            texts.append(texts[-1].rsplit(" ", 1)[0])
        else:
            texts.append(" ".join(rng.choice(WORDS, int(rng.integers(10, 100)))))
    _write(out, "documents", {
        "doc_id": np.arange(n_docs),
        "text": texts,
        "lang": rng.choice(LANGS, n_docs),
        "source": [f"src{i % 20}" for i in range(n_docs)],
        "n_chars": np.array([len(t) for t in texts]),
    }, pa.schema([("doc_id", pa.int64()), ("text", pa.string()), ("lang", pa.string()),
                  ("source", pa.string()), ("n_chars", pa.int64())]))

    centers = rng.normal(0, 1, (10, 64))
    label = rng.integers(0, 10, n_emb)
    vecs = (centers[label] * 0.2 + rng.normal(0, 0.1, (n_emb, 64))).astype(np.float32)
    _write(out, "embeddings", {
        "vec_id": np.arange(n_emb),
        "embedding": list(vecs),
        "label": label.astype(np.int32),
    }, pa.schema([("vec_id", pa.int64()), ("embedding", pa.list_(pa.float32())),
                  ("label", pa.int32())]))
