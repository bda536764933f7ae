"""Seeded synthetic tables for the registry queries.

Same schemas and value domains as the driver's TPC-H-ish star schema plus
the `events`, `documents` and `embeddings` tables (TESTDATA.md), at
fixed row counts so every seed gives the same amount of data.  Written with
pandas → pyarrow, so timestamps are TIMESTAMP(MICROS) like the
driver-generated data.
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd

SIZES = {
    "customer": 1500, "supplier": 100, "part": 2000, "orders": 15000,
    "lineitem": 60000, "events": 10000, "documents": 500, "embeddings": 500,
}
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
P_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
P_ADJ = ["red", "blue", "hot", "cold", "new", "old", "large", "small"]
P_NOUN = ["bolt", "ring", "plate", "rod", "anvil", "gear", "nut", "pipe"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "en", "de", "es", "fr", "zh"]
WORDS = ("a the data spark query table row column key value hash sort join "
         "group agg filter scan window stream batch merge order line part "
         "customer vector fast slow big small").split()


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(rng, start, end, n):
    span = (pd.Timestamp(end) - pd.Timestamp(start)).days
    return (pd.Timestamp(start)
            + pd.to_timedelta(rng.integers(0, span + 1, n), unit="D")).astype("datetime64[us]")


def _documents(rng, n):
    texts = []
    for _ in range(n):
        r = rng.random()
        if texts and r < 0.02:                      # exact duplicate
            texts.append(texts[int(rng.integers(0, len(texts)))])
        elif texts and r < 0.10:                    # near duplicate
            toks = texts[int(rng.integers(0, len(texts)))].split(" ")
            for j in range(len(toks)):
                if rng.random() < 0.05:
                    toks[j] = WORDS[int(rng.integers(0, len(WORDS)))]
            texts.append(" ".join(toks))
        else:
            k = int(rng.integers(10, 80))
            texts.append(" ".join(WORDS[i] for i in rng.integers(0, len(WORDS), k)))
    return pd.DataFrame({
        "doc_id": np.arange(n, dtype=np.int64),
        "text": texts,
        "lang": [LANGS[i] for i in rng.integers(0, len(LANGS), n)],
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })


def _embeddings(rng, n, dim=64, k=10):
    centers = rng.normal(0, 1, (k, dim))
    labels = rng.integers(0, k, n)
    v = centers[labels] + rng.normal(0, 0.6, (n, dim))
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    return pd.DataFrame({
        "vec_id": np.arange(n, dtype=np.int64),
        "embedding": list(v.astype(np.float32)),
        "label": labels.astype(np.int32),
    })


def generate(out_dir: str, seed: int) -> dict[str, int]:
    """Write one `<table>.parquet` per table under `out_dir`; returns the
    row count of each."""
    rng = np.random.default_rng((seed, 0x7AB1E))
    n = SIZES
    t = {}
    t["region"] = pd.DataFrame({
        "r_regionkey": np.arange(5, dtype=np.int32),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    t["nation"] = pd.DataFrame({
        "n_nationkey": np.arange(25, dtype=np.int32),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": (np.arange(25) % 5).astype(np.int32)})
    t["customer"] = pd.DataFrame({
        "c_custkey": np.arange(n["customer"], dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n["customer"])],
        "c_nationkey": rng.integers(0, 25, n["customer"]).astype(np.int32),
        "c_acctbal": _money(rng, -999.99, 9999.99, n["customer"]),
        "c_mktsegment": [SEGMENTS[i] for i in rng.integers(0, 5, n["customer"])]})
    t["supplier"] = pd.DataFrame({
        "s_suppkey": np.arange(n["supplier"], dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n["supplier"])],
        "s_nationkey": rng.integers(0, 25, n["supplier"]).astype(np.int32),
        "s_acctbal": _money(rng, -999.99, 9999.99, n["supplier"])})
    t["part"] = pd.DataFrame({
        "p_partkey": np.arange(n["part"], dtype=np.int64),
        "p_name": [f"{P_ADJ[a]} {P_NOUN[b]}" for a, b in
                   zip(rng.integers(0, 8, n["part"]), rng.integers(0, 8, n["part"]))],
        "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, n["part"])],
        "p_type": [P_TYPES[i] for i in rng.integers(0, 6, n["part"])],
        "p_size": rng.integers(1, 51, n["part"]).astype(np.int32),
        "p_retailprice": np.round(900 + (np.arange(n["part"]) % 1000) / 10, 2)})
    t["orders"] = pd.DataFrame({
        "o_orderkey": np.arange(n["orders"], dtype=np.int64),
        "o_custkey": rng.integers(0, n["customer"], n["orders"]).astype(np.int64),
        "o_orderstatus": [["F", "O", "P"][i] for i in rng.integers(0, 3, n["orders"])],
        "o_totalprice": _money(rng, 1000, 500000, n["orders"]),
        "o_orderdate": _days(rng, "1995-01-01", "2001-08-01", n["orders"]),
        "o_orderpriority": [PRIORITIES[i] for i in rng.integers(0, 5, n["orders"])]})
    m = n["lineitem"]
    t["lineitem"] = pd.DataFrame({
        "l_orderkey": rng.integers(0, n["orders"], m).astype(np.int64),
        "l_partkey": rng.integers(0, n["part"], m).astype(np.int64),
        "l_suppkey": rng.integers(0, n["supplier"], m).astype(np.int64),
        "l_linenumber": rng.integers(1, 8, m).astype(np.int32),
        "l_quantity": rng.integers(1, 51, m).astype(np.float64),
        "l_extendedprice": _money(rng, 900, 105000, m),
        "l_discount": rng.integers(0, 11, m) / 100.0,
        "l_tax": rng.integers(0, 9, m) / 100.0,
        "l_returnflag": [["A", "N", "R"][i] for i in rng.integers(0, 3, m)],
        "l_linestatus": [["F", "O"][i] for i in rng.integers(0, 2, m)],
        "l_shipdate": _days(rng, "1995-01-02", "2001-11-04", m)})
    e = n["events"]
    ts = np.sort(rng.integers(0, 30 * 86400 * 10**6, e))
    t["events"] = pd.DataFrame({
        "event_id": np.arange(e, dtype=np.int64),
        "ts": (pd.Timestamp("2024-01-01") + pd.to_timedelta(ts, unit="us")).astype("datetime64[us]"),
        "user_id": rng.integers(0, e // 66, e).astype(np.int64),
        "event_type": [EVENT_TYPES[i] for i in rng.integers(0, 5, e)],
        "value": np.round(rng.exponential(40.0, e), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, e)]})
    t["documents"] = _documents(rng, n["documents"])
    t["embeddings"] = _embeddings(rng, n["embeddings"])
    os.makedirs(out_dir, exist_ok=True)
    for name, df in t.items():
        df.to_parquet(os.path.join(out_dir, f"{name}.parquet"), index=False)
    return {name: len(df) for name, df in t.items()}
