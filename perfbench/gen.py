"""Seeded input generator for the benchmark.

Writes the ten tables graft's registered operators read (the TPC-H-like
star schema, `events`, `documents`, `embeddings`) as one parquet file
each, with the same schemas and value distributions as the project's
testdata. The same seed gives byte-identical tables; the row order of
every table is a seeded permutation, so no operator may rely on the
physical order of its input.
"""
import datetime as dt

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
ADJ = ["blue", "old", "hot", "large", "cold", "red", "small", "new"]
NOUN = ["widget", "gizmo", "ring", "gear", "bolt", "plate", "anvil", "rod"]
PTYPES = ["ECONOMY", "STANDARD", "LARGE", "SMALL", "MEDIUM", "PROMO"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]
WORDS = ("join hash row batch scan column customer filter small slow merge "
         "order vector line table data agg value key stream window a spark "
         "part group big sort query fast the").split()
LANGS = ["en", "es", "zh", "de", "fr"]
LANG_P = [0.44, 0.14, 0.14, 0.14, 0.14]


def _days(rng, n, start, end):
    """n midnight timestamps drawn uniformly from [start, end]."""
    span = (end - start).days
    d = rng.integers(0, span + 1, n)
    base = np.datetime64(start.isoformat(), "us")
    return base + d.astype("timedelta64[D]").astype("timedelta64[us]")


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _shuffled(rng, table):
    return table.take(pa.array(rng.permutation(table.num_rows)))


def tables(seed, n_lineitem, n_events, event_days, n_docs, n_embeddings):
    """Build every table; returns {name: pyarrow.Table}."""
    rng = np.random.default_rng(seed)
    n_orders = n_lineitem // 4
    n_cust = max(n_orders // 10, 10)
    n_part = max(n_lineitem // 30, 20)
    n_supp = max(n_lineitem // 600, 5)
    n_users = max(n_events * 3 // 200, 10)
    out = {}
    out["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": REGIONS})
    out["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    out["customer"] = pa.table({
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": rng.choice(SEGMENTS, n_cust)})
    out["supplier"] = pa.table({
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp)})
    out["part"] = pa.table({
        "p_partkey": np.arange(n_part, dtype=np.int64),
        "p_name": [f"{a} {b}" for a, b in zip(
            rng.choice(ADJ, n_part), rng.choice(NOUN, n_part))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": rng.choice(PTYPES, n_part),
        "p_size": rng.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": np.round(900 + (np.arange(n_part) % 1000) * 0.1, 1)})
    out["orders"] = pa.table({
        "o_orderkey": np.arange(n_orders, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_orders).astype(np.int64),
        "o_orderstatus": rng.choice(["F", "O", "P"], n_orders),
        "o_totalprice": _money(rng, 1000, 500000, n_orders),
        "o_orderdate": _days(rng, n_orders, dt.date(1995, 1, 1), dt.date(2001, 8, 1)),
        "o_orderpriority": rng.choice(PRIORITIES, n_orders)})
    out["lineitem"] = pa.table({
        "l_orderkey": rng.integers(0, n_orders, n_lineitem).astype(np.int64),
        "l_partkey": rng.integers(0, n_part, n_lineitem).astype(np.int64),
        "l_suppkey": rng.integers(0, n_supp, n_lineitem).astype(np.int64),
        "l_linenumber": rng.integers(1, 8, n_lineitem).astype(np.int32),
        "l_quantity": rng.integers(1, 51, n_lineitem).astype(np.float64),
        "l_extendedprice": _money(rng, 900, 105000, n_lineitem),
        "l_discount": rng.integers(0, 11, n_lineitem) / 100.0,
        "l_tax": rng.integers(0, 9, n_lineitem) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], n_lineitem),
        "l_linestatus": rng.choice(["O", "F"], n_lineitem),
        "l_shipdate": _days(rng, n_lineitem, dt.date(1995, 1, 2), dt.date(2001, 11, 4))})
    span_us = event_days * 86_400_000_000
    ts = np.sort(rng.integers(0, span_us, n_events))
    out["events"] = pa.table({
        "event_id": np.arange(n_events, dtype=np.int64),
        "ts": np.datetime64("2024-01-01T00:00:00", "us") + ts.astype("timedelta64[us]"),
        "user_id": rng.integers(0, n_users, n_events).astype(np.int64),
        "event_type": rng.choice(EVENT_TYPES, n_events),
        "value": np.maximum(np.round(rng.exponential(50.0, n_events), 2), 0.01),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_events)]})
    # every seed gets the same multiset of document lengths (10..99 words)
    # and the same number of planted near-duplicates, so the text kernels'
    # work does not vary with the seed; content and order do
    words = rng.permutation(np.linspace(10, 99, n_docs).round().astype(int))
    dups = set(rng.choice(np.arange(1, n_docs), size=min(n_docs - 1, max(1, n_docs // 20)),
                          replace=False).tolist()) if n_docs > 1 else set()
    texts = []
    for i in range(n_docs):
        if i in dups:
            # planted near-duplicate: the earlier document closest to this
            # slot's length, plus one token
            j = min(range(i), key=lambda k: abs(len(texts[k].split()) - words[i]))
            texts.append(texts[j] + " dup")
        else:
            texts.append(" ".join(rng.choice(WORDS, int(words[i]))))
    out["documents"] = pa.table({
        "doc_id": np.arange(n_docs, dtype=np.int64),
        "text": texts,
        "lang": rng.choice(LANGS, n_docs, p=LANG_P),
        "source": [f"src{i % 20}" for i in range(n_docs)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64)})
    centers = rng.normal(0.0, 1.0, (10, 64))
    centers *= 0.14 / np.linalg.norm(centers, axis=1, keepdims=True)
    labels = rng.integers(0, 10, n_embeddings)
    vecs = centers[labels] + rng.normal(0.0, 0.123, (n_embeddings, 64))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    out["embeddings"] = pa.table({
        "vec_id": np.arange(n_embeddings, dtype=np.int64),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": labels.astype(np.int32)})
    return {name: _shuffled(rng, t) for name, t in out.items()}


def write(directory, seed, names=None, **sizes):
    """Write the tables in `names` (default all) to `<directory>/<name>.parquet`;
    returns their row counts."""
    counts = {}
    for name, t in tables(seed, **sizes).items():
        if names is None or name in names:
            pq.write_table(t, f"{directory}/{name}.parquet")
            counts[name] = t.num_rows
    return counts
