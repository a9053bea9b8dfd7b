"""Seeded generator for the engine's TPC-H-ish graph tables.

`generate(out, seed, sf)` writes the ten parquet tables the engine's
queries read (region, nation, customer, supplier, part, orders, lineitem,
events, documents, embeddings) with the column names, parquet types and
value shapes of the engine's fixtures: uniform keys, 5 market segments,
64 part names, 30-word documents of which 5% are `<earlier doc> dup`
near-duplicates, unit-norm 64-d embeddings.

`scale_up(base, out, k)` writes k disjoint copies of the entity and fact
tables (customer, supplier, part, orders, lineitem) with every entity key
offset by copy * rows, and keeps region/nation and the nation foreign keys
unchanged, so per-nation groups stay 25 wide instead of growing with k.

Both are deterministic: the same (seed, sf, k) gives byte-identical tables.
Each records the seconds it took in `datagen.json` next to the tables, so
`cost_s` reports what a data set cost to make also when it is reused.
"""
import json
import os
import shutil
import time

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

# rows per table at sf = 1
ROWS = {"customer": 150_000, "supplier": 10_000, "part": 200_000,
        "orders": 1_500_000, "lineitem": 6_000_000, "events": 1_000_000,
        "documents": 50_000, "embeddings": 20_000}
ENTITY_TABLES = ("customer", "supplier", "part", "orders", "lineitem")
ALL_TABLES = ("region", "nation") + ENTITY_TABLES + (
    "events", "documents", "embeddings")

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
WORDS = ["a", "agg", "batch", "big", "column", "customer", "data", "fast",
         "filter", "group", "hash", "join", "key", "line", "merge", "order",
         "part", "query", "row", "scan", "slow", "small", "sort", "spark",
         "stream", "table", "the", "value", "vector", "window"]
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.41, 0.15, 0.15, 0.145, 0.145]
DUP_FRACTION = 0.05


def _rows(table, sf):
    return max(1, int(round(ROWS[table] * sf)))


def _pick(rng, values, n, p=None):
    return np.asarray(values, dtype=object)[rng.choice(len(values), n, p=p)]


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(rng, start, span, n):
    return (np.datetime64(start, "us")
            + rng.integers(0, span, n).astype("timedelta64[D]"))


def _write(df, path):
    pq.write_table(pa.Table.from_pandas(df, preserve_index=False), path,
                   compression="snappy")


def _tables(seed, sf):
    rng = np.random.default_rng(seed)
    n = {t: _rows(t, sf) for t in ROWS}
    out = {}
    out["region"] = pd.DataFrame({
        "r_regionkey": np.arange(5, dtype=np.int32), "r_name": REGIONS})
    nk = np.arange(25, dtype=np.int32)
    out["nation"] = pd.DataFrame({
        "n_nationkey": nk, "n_name": [f"NATION_{i}" for i in nk],
        "n_regionkey": (nk % 5).astype(np.int32)})
    ck = np.arange(n["customer"], dtype=np.int64)
    out["customer"] = pd.DataFrame({
        "c_custkey": ck, "c_name": [f"Customer#{k:09d}" for k in ck],
        "c_nationkey": rng.integers(0, 25, len(ck)).astype(np.int32),
        "c_acctbal": _money(rng, -999.99, 9999.99, len(ck)),
        "c_mktsegment": _pick(rng, SEGMENTS, len(ck))})
    sk = np.arange(n["supplier"], dtype=np.int64)
    out["supplier"] = pd.DataFrame({
        "s_suppkey": sk, "s_name": [f"Supplier#{k:09d}" for k in sk],
        "s_nationkey": rng.integers(0, 25, len(sk)).astype(np.int32),
        "s_acctbal": _money(rng, -999.99, 9999.99, len(sk))})
    pk = np.arange(n["part"], dtype=np.int64)
    names = np.array([f"{a} {b}" for a in PART_ADJ for b in PART_NOUN],
                     dtype=object)
    out["part"] = pd.DataFrame({
        "p_partkey": pk, "p_name": names[rng.integers(0, 64, len(pk))],
        "p_brand": np.array([f"Brand#{i}" for i in range(1, 26)],
                            dtype=object)[rng.integers(0, 25, len(pk))],
        "p_type": _pick(rng, PART_TYPES, len(pk)),
        "p_size": rng.integers(1, 51, len(pk)).astype(np.int32),
        "p_retailprice": np.round(900.0 + (pk % 1000) / 10.0, 2)})
    ok = np.arange(n["orders"], dtype=np.int64)
    out["orders"] = pd.DataFrame({
        "o_orderkey": ok,
        "o_custkey": rng.integers(0, n["customer"], len(ok)).astype(np.int64),
        "o_orderstatus": _pick(rng, ["F", "O", "P"], len(ok)),
        "o_totalprice": _money(rng, 1000.0, 500000.0, len(ok)),
        "o_orderdate": _days(rng, "1995-01-01", 2404, len(ok)),
        "o_orderpriority": _pick(rng, PRIORITIES, len(ok))})
    nl = n["lineitem"]
    out["lineitem"] = pd.DataFrame({
        "l_orderkey": rng.integers(0, n["orders"], nl).astype(np.int64),
        "l_partkey": rng.integers(0, n["part"], nl).astype(np.int64),
        "l_suppkey": rng.integers(0, n["supplier"], nl).astype(np.int64),
        "l_linenumber": rng.integers(1, 8, nl).astype(np.int32),
        "l_quantity": rng.integers(1, 51, nl).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105000.0, nl),
        "l_discount": rng.integers(0, 11, nl) / 100.0,
        "l_tax": rng.integers(0, 9, nl) / 100.0,
        "l_returnflag": _pick(rng, ["A", "N", "R"], nl),
        "l_linestatus": _pick(rng, ["F", "O"], nl),
        "l_shipdate": _days(rng, "1995-01-02", 2499, nl)})
    ne = n["events"]
    month_us = 30 * 24 * 3600 * 1_000_000
    out["events"] = pd.DataFrame({
        "event_id": np.arange(ne, dtype=np.int64),
        "ts": np.datetime64("2024-01-01", "us")
        + np.sort(rng.integers(0, month_us, ne)).astype("timedelta64[us]"),
        "user_id": rng.integers(0, max(1, round(ne * 0.015)), ne)
        .astype(np.int64),
        "event_type": _pick(rng, EVENT_TYPES, ne),
        "value": np.round(rng.exponential(50.0, ne), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, ne)]})
    nd = n["documents"]
    words = np.asarray(WORDS, dtype=object)
    lengths = rng.integers(10, 101, nd)
    texts = [" ".join(words[rng.integers(0, len(WORDS), m)]) for m in lengths]
    is_dup = rng.random(nd) < DUP_FRACTION
    for i in np.flatnonzero(is_dup):
        if i > 0:
            texts[i] = texts[int(rng.integers(0, i))] + " dup"
    did = np.arange(nd, dtype=np.int64)
    out["documents"] = pd.DataFrame({
        "doc_id": did, "text": texts,
        "lang": _pick(rng, LANGS, nd, LANG_P),
        "source": [f"src{i % 20}" for i in did],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64)})
    nv = n["embeddings"]
    vec = rng.standard_normal((nv, 64)).astype(np.float32)
    vec /= np.linalg.norm(vec, axis=1, keepdims=True)
    out["embeddings"] = pd.DataFrame({
        "vec_id": np.arange(nv, dtype=np.int64), "embedding": list(vec),
        "label": rng.integers(0, 10, nv).astype(np.int32)})
    return out


COST_FILE = "datagen.json"


def _finish(tmp, out_dir, t0):
    with open(os.path.join(tmp, COST_FILE), "w") as f:
        json.dump({"seconds": time.perf_counter() - t0}, f)
    os.replace(tmp, out_dir)


def cost_s(data_dir):
    """Seconds the generator spent writing data_dir."""
    with open(os.path.join(data_dir, COST_FILE)) as f:
        return json.load(f)["seconds"]


def generate(out_dir, seed, sf):
    """Write all tables for (seed, sf) into out_dir."""
    t0 = time.perf_counter()
    tmp = out_dir + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    for name, df in _tables(seed, sf).items():
        _write(df, os.path.join(tmp, f"{name}.parquet"))
    _finish(tmp, out_dir, t0)


# (table, key columns offset by the copy index * the named table's rows)
OFFSETS = {
    "customer": {"c_custkey": "customer"},
    "supplier": {"s_suppkey": "supplier"},
    "part": {"p_partkey": "part"},
    "orders": {"o_orderkey": "orders", "o_custkey": "customer"},
    "lineitem": {"l_orderkey": "orders", "l_partkey": "part",
                 "l_suppkey": "supplier"},
}
NAME_COLS = {"customer": ("c_name", "c_custkey", "Customer#"),
             "supplier": ("s_name", "s_suppkey", "Supplier#")}


def row_count(path):
    return pq.ParquetFile(path).metadata.num_rows


def scale_up(base_dir, out_dir, k):
    """Write k disjoint copies of base_dir's entity tables into out_dir."""
    t0 = time.perf_counter()
    tmp = out_dir + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    base_rows = {t: row_count(os.path.join(base_dir, f"{t}.parquet"))
                 for t in ENTITY_TABLES}
    for t in ALL_TABLES:
        src = os.path.join(base_dir, f"{t}.parquet")
        dst = os.path.join(tmp, f"{t}.parquet")
        if t not in OFFSETS:
            shutil.copyfile(src, dst)
            continue
        base = pq.read_table(src).to_pandas()
        copies = []
        for c in range(k):
            df = base.copy()
            for col, owner in OFFSETS[t].items():
                df[col] = df[col] + np.int64(c * base_rows[owner])
            if t in NAME_COLS:
                name, key, prefix = NAME_COLS[t]
                df[name] = [f"{prefix}{v:09d}" for v in df[key]]
            copies.append(df)
        _write(pd.concat(copies, ignore_index=True), dst)
    for t in ENTITY_TABLES:
        got = row_count(os.path.join(tmp, f"{t}.parquet"))
        if got != k * base_rows[t]:
            raise RuntimeError(
                f"scale-up self-check: {t} has {got} rows, "
                f"expected {k} x {base_rows[t]}")
    _finish(tmp, out_dir, t0)
