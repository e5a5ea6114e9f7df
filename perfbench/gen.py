"""Seeded input tables for the benchmark workloads.

Every table has the schema and value shape of the engine's standard
fixture (TPC-H-like star schema plus `events`, `documents` and
`embeddings`): the same columns and types, ids dense from 0, foreign keys
uniform over the parent's ids, the same categorical domains, and in
`documents` the same planted structure (about 5% near-duplicates made by
appending " dup" to an earlier document, a few exact duplicates). The seed
selects every random draw, so one seed always gives byte-identical tables
and another seed gives different rows of the same shape.

`generate(out_dir, seed, sizes)` writes `<table>.parquet` files plus
`manifest.json` (rows and bytes per table) and returns the manifest.
"""
import datetime as dt
import json
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
ADJECTIVES = ["blue", "old", "small", "new", "large", "hot", "cold", "red"]
NOUNS = ["widget", "gizmo", "ring", "gear", "bolt", "plate", "rod", "anvil"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
VOCAB = ("a agg batch big column customer data fast filter group hash join key "
         "line merge order part query row scan slow small sort spark stream "
         "table the value vector window").split()
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.41, 0.145, 0.15, 0.145, 0.15]
EMBED_DIM = 64


def _rng(seed, table):
    # one independent stream per (seed, table): adding a table or resizing
    # one never shifts the draws of another
    key = [seed & 0xFFFFFFFF, (seed >> 32) & 0xFFFFFFFF] + [ord(c) for c in table]
    return np.random.default_rng(np.random.SeedSequence(key))


def _days(rng, n, start, end):
    span = (end - start).days
    d = np.datetime64(start) + rng.integers(0, span + 1, n).astype("timedelta64[D]")
    return d.astype("datetime64[us]")


def _money(rng, n, lo, hi):
    return np.round(rng.uniform(lo, hi, n), 2)


def _pick(rng, values, n, p=None):
    return np.asarray(values, dtype=object)[rng.choice(len(values), n, p=p)]


def _tables(seed, sizes):
    sf = sizes["sf"]
    n_cust = max(int(15000 * sf * 10), 10)
    n_supp = max(int(1000 * sf * 10), 10)
    n_part = max(int(20000 * sf * 10), 20)
    n_ord = max(int(150000 * sf * 10), 100)
    n_line = max(int(600000 * sf * 10), 400)
    n_evt = max(int(100000 * sf * 10), 100)
    n_user = max(int(1500 * sf * 10), 10)

    yield "region", {"r_regionkey": pa.array(range(5), pa.int32()),
                     "r_name": pa.array(REGIONS)}
    yield "nation", {"n_nationkey": pa.array(range(25), pa.int32()),
                     "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
                     "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())}

    r = _rng(seed, "customer")
    yield "customer", {
        "c_custkey": pa.array(np.arange(n_cust, dtype=np.int64)),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)]),
        "c_nationkey": pa.array(r.integers(0, 25, n_cust).astype(np.int32)),
        "c_acctbal": pa.array(_money(r, n_cust, -999.99, 9999.99)),
        "c_mktsegment": pa.array(_pick(r, SEGMENTS, n_cust), pa.string())}

    r = _rng(seed, "supplier")
    yield "supplier", {
        "s_suppkey": pa.array(np.arange(n_supp, dtype=np.int64)),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)]),
        "s_nationkey": pa.array(r.integers(0, 25, n_supp).astype(np.int32)),
        "s_acctbal": pa.array(_money(r, n_supp, -999.99, 9999.99))}

    r = _rng(seed, "part")
    keys = np.arange(n_part, dtype=np.int64)
    names = _pick(r, ADJECTIVES, n_part) + " " + _pick(r, NOUNS, n_part)
    yield "part", {
        "p_partkey": pa.array(keys),
        "p_name": pa.array(names, pa.string()),
        "p_brand": pa.array([f"Brand#{b}" for b in r.integers(1, 26, n_part)]),
        "p_type": pa.array(_pick(r, PART_TYPES, n_part), pa.string()),
        "p_size": pa.array(r.integers(1, 51, n_part).astype(np.int32)),
        "p_retailprice": pa.array(np.round(900.0 + (keys % 1000) / 10.0, 2))}

    r = _rng(seed, "orders")
    yield "orders", {
        "o_orderkey": pa.array(np.arange(n_ord, dtype=np.int64)),
        "o_custkey": pa.array(r.integers(0, n_cust, n_ord).astype(np.int64)),
        "o_orderstatus": pa.array(_pick(r, ["F", "O", "P"], n_ord), pa.string()),
        "o_totalprice": pa.array(_money(r, n_ord, 1000.0, 500000.0)),
        "o_orderdate": pa.array(_days(r, n_ord, dt.date(1995, 1, 1), dt.date(2001, 8, 1))),
        "o_orderpriority": pa.array(_pick(r, PRIORITIES, n_ord), pa.string())}

    r = _rng(seed, "lineitem")
    yield "lineitem", {
        "l_orderkey": pa.array(r.integers(0, n_ord, n_line).astype(np.int64)),
        "l_partkey": pa.array(r.integers(0, n_part, n_line).astype(np.int64)),
        "l_suppkey": pa.array(r.integers(0, n_supp, n_line).astype(np.int64)),
        "l_linenumber": pa.array(r.integers(1, 8, n_line).astype(np.int32)),
        "l_quantity": pa.array(r.integers(1, 51, n_line).astype(np.float64)),
        "l_extendedprice": pa.array(_money(r, n_line, 900.0, 105000.0)),
        "l_discount": pa.array(r.integers(0, 11, n_line) / 100.0),
        "l_tax": pa.array(r.integers(0, 9, n_line) / 100.0),
        "l_returnflag": pa.array(_pick(r, ["A", "N", "R"], n_line), pa.string()),
        "l_linestatus": pa.array(_pick(r, ["F", "O"], n_line), pa.string()),
        "l_shipdate": pa.array(_days(r, n_line, dt.date(1995, 1, 2), dt.date(2001, 11, 4)))}

    r = _rng(seed, "events")
    month_us = 30 * 86400 * 10**6
    ts = np.sort(r.integers(0, month_us, n_evt)) + np.datetime64("2024-01-01T00:00:00", "us")
    yield "events", {
        "event_id": pa.array(np.arange(n_evt, dtype=np.int64)),
        "ts": pa.array(ts.astype("datetime64[us]")),
        "user_id": pa.array(r.integers(0, n_user, n_evt).astype(np.int64)),
        "event_type": pa.array(_pick(r, EVENT_TYPES, n_evt), pa.string()),
        "value": pa.array(np.round(r.exponential(50.0, n_evt), 2)),
        "props": pa.array([f'{{"k": {k}}}' for k in r.integers(0, 100, n_evt)])}

    yield "documents", _documents(seed, sizes["docs"])

    r = _rng(seed, "embeddings")
    n_emb = sizes["embeddings"]
    v = r.standard_normal((n_emb, EMBED_DIM))
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    yield "embeddings", {
        "vec_id": pa.array(np.arange(n_emb, dtype=np.int64)),
        "embedding": pa.array(list(v), pa.list_(pa.float32())),
        "label": pa.array(r.integers(0, 10, n_emb).astype(np.int32))}


def _documents(seed, n):
    r = _rng(seed, "documents")
    texts = []
    for i in range(n):
        u = r.random()
        if i >= 10 and u < 0.05:
            # planted near-duplicate: an earlier document plus one token
            texts.append(texts[int(r.integers(0, i))] + " dup")
        elif i >= 10 and u < 0.052:
            texts.append(texts[int(r.integers(0, i))])  # exact duplicate
        else:
            words = _pick(r, VOCAB, int(r.integers(10, 101)))
            texts.append(" ".join(words))
    return {
        "doc_id": pa.array(np.arange(n, dtype=np.int64)),
        "text": pa.array(texts),
        "lang": pa.array(_pick(r, LANGS, n, LANG_P), pa.string()),
        "source": pa.array([f"src{i % 20}" for i in range(n)]),
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64))}


def generate(out_dir, seed, sizes):
    """Write the tables for (seed, sizes) into out_dir unless already there."""
    manifest_path = os.path.join(out_dir, "manifest.json")
    if os.path.exists(manifest_path):
        with open(manifest_path) as f:
            return json.load(f)
    tmp = out_dir + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    manifest = {"seed": seed, "sizes": sizes, "tables": {}}
    for name, cols in _tables(seed, sizes):
        path = os.path.join(tmp, f"{name}.parquet")
        pq.write_table(pa.table(cols), path)
        manifest["tables"][name] = {"rows": len(next(iter(cols.values()))),
                                    "bytes": os.path.getsize(path)}
    with open(os.path.join(tmp, "manifest.json"), "w") as f:
        json.dump(manifest, f, indent=1, sort_keys=True)
    shutil.rmtree(out_dir, ignore_errors=True)
    os.rename(tmp, out_dir)
    return manifest
