"""Seeded synthetic tables with the schema of the repo's TPC-H-ish test data.

The benchmark may not read data outside its checkout, so it makes its own
inputs: the same (seed, scale factor) always gives the same parquet files.
Column types, key ranges and value distributions follow the test tables the
operators and their DuckDB oracles are written against (uniform keys,
integer quantities, two-decimal prices, 5% near-duplicate documents, unit
64-d embeddings). perfbench/run.py calls `ensure`.
"""
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

ALL_TABLES = ("region", "nation", "customer", "supplier", "part", "orders",
              "lineitem", "events", "documents", "embeddings")
WORDS = ("spark window merge table column vector stream value data small join "
         "filter big group hash customer sort order slow line part fast row "
         "the agg key query a scan batch").split()
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
ADJ = ["large", "hot", "blue", "old", "cold", "red", "small", "new"]
NOUN = ["ring", "bolt", "plate", "gear", "widget", "rod", "anvil", "gizmo"]
TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["de", "en", "es", "fr", "zh"]
LANG_P = [0.14, 0.41, 0.15, 0.15, 0.15]


def _cents(rng, lo, hi, n):
    return np.round(rng.integers(int(lo * 100), int(hi * 100) + 1, n) / 100.0, 2)


def _days(rng, start, span, n):
    base = np.datetime64(start, "us")
    return base + rng.integers(0, span, n).astype("timedelta64[D]")


def _write(out, name, cols):
    pq.write_table(pa.table(cols), os.path.join(out, f"{name}.parquet"))


def generate(out, seed, sf, tables=ALL_TABLES):
    # one independent stream per table: adding a table never shifts another
    def rng(name):
        return np.random.default_rng([seed, ALL_TABLES.index(name)])

    n_cust, n_supp = int(150_000 * sf), int(10_000 * sf)
    n_part, n_ord = int(200_000 * sf), int(1_500_000 * sf)
    n_line, n_ev = int(6_000_000 * sf), int(1_000_000 * sf)
    n_doc, n_emb = max(500, int(50_000 * sf)), max(500, int(20_000 * sf))
    os.makedirs(out, exist_ok=True)
    if "region" in tables:
        _write(out, "region", {
            "r_regionkey": pa.array(range(5), pa.int32()),
            "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    if "nation" in tables:
        _write(out, "nation", {
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    if "customer" in tables:
        r = rng("customer")
        _write(out, "customer", {
            "c_custkey": np.arange(n_cust, dtype=np.int64),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": r.integers(0, 25, n_cust).astype(np.int32),
            "c_acctbal": _cents(r, -999.99, 9999.99, n_cust),
            "c_mktsegment": np.array(SEGMENTS)[r.integers(0, 5, n_cust)]})
    if "supplier" in tables:
        r = rng("supplier")
        _write(out, "supplier", {
            "s_suppkey": np.arange(n_supp, dtype=np.int64),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": r.integers(0, 25, n_supp).astype(np.int32),
            "s_acctbal": _cents(r, -999.99, 9999.99, n_supp)})
    if "part" in tables:
        r = rng("part")
        keys = np.arange(n_part, dtype=np.int64)
        _write(out, "part", {
            "p_partkey": keys,
            "p_name": np.char.add(np.char.add(
                np.array(ADJ)[r.integers(0, 8, n_part)], " "),
                np.array(NOUN)[r.integers(0, 8, n_part)]),
            "p_brand": np.char.add("Brand#", r.integers(1, 26, n_part).astype(str)),
            "p_type": np.array(TYPES)[r.integers(0, 6, n_part)],
            "p_size": r.integers(1, 51, n_part).astype(np.int32),
            "p_retailprice": np.round(900.0 + (keys % 1000) / 10.0, 1)})
    if "orders" in tables:
        r = rng("orders")
        _write(out, "orders", {
            "o_orderkey": np.arange(n_ord, dtype=np.int64),
            "o_custkey": r.integers(0, n_cust, n_ord).astype(np.int64),
            "o_orderstatus": np.array(["F", "O", "P"])[r.integers(0, 3, n_ord)],
            "o_totalprice": _cents(r, 1000.0, 500000.0, n_ord),
            "o_orderdate": _days(r, "1995-01-01", 2405, n_ord),
            "o_orderpriority": np.array(PRIORITIES)[r.integers(0, 5, n_ord)]})
    if "lineitem" in tables:
        r = rng("lineitem")
        _write(out, "lineitem", {
            "l_orderkey": r.integers(0, n_ord, n_line).astype(np.int64),
            "l_partkey": r.integers(0, n_part, n_line).astype(np.int64),
            "l_suppkey": r.integers(0, n_supp, n_line).astype(np.int64),
            "l_linenumber": r.integers(1, 8, n_line).astype(np.int32),
            "l_quantity": r.integers(1, 51, n_line).astype(np.float64),
            "l_extendedprice": _cents(r, 900.0, 105000.0, n_line),
            "l_discount": r.integers(0, 11, n_line) / 100.0,
            "l_tax": r.integers(0, 9, n_line) / 100.0,
            "l_returnflag": np.array(["A", "N", "R"])[r.integers(0, 3, n_line)],
            "l_linestatus": np.array(["F", "O"])[r.integers(0, 2, n_line)],
            "l_shipdate": _days(r, "1995-01-02", 2499, n_line)})
    if "events" in tables:
        r = rng("events")
        span_us = 30 * 86_400 * 1_000_000
        ts = np.sort(r.integers(0, span_us, n_ev))
        _write(out, "events", {
            "event_id": np.arange(n_ev, dtype=np.int64),
            "ts": pa.array(np.datetime64("2024-01-01", "us") + ts.astype("timedelta64[us]"),
                           pa.timestamp("us")),
            "user_id": r.integers(0, max(1, int(15_000 * sf)), n_ev).astype(np.int64),
            "event_type": np.array(EVENT_TYPES)[r.integers(0, 5, n_ev)],
            "value": np.round(r.exponential(50.0, n_ev), 2),
            "props": [f'{{"k": {k}}}' for k in r.integers(0, 100, n_ev)]})
    if "documents" in tables:
        r = rng("documents")
        texts = [" ".join(np.array(WORDS)[r.integers(0, len(WORDS), r.integers(10, 101))])
                 for _ in range(n_doc)]
        # 5% near-duplicates: another document's text with " dup" appended
        # (the dedup operators' positives)
        for i in r.choice(n_doc, n_doc // 20, replace=False):
            texts[i] = texts[int(r.integers(0, n_doc))] + " dup"
        _write(out, "documents", {
            "doc_id": np.arange(n_doc, dtype=np.int64),
            "text": texts,
            "lang": np.array(LANGS)[r.choice(5, n_doc, p=LANG_P)],
            "source": [f"src{i % 20}" for i in range(n_doc)],
            "n_chars": np.array([len(t) for t in texts], dtype=np.int64)})
    if "embeddings" in tables:
        r = rng("embeddings")
        labels = r.integers(0, 10, n_emb)
        centers = r.normal(0, 1, (10, 64))
        x = r.normal(0, 1, (n_emb, 64)) + 0.55 * centers[labels]
        x /= np.linalg.norm(x, axis=1, keepdims=True)
        _write(out, "embeddings", {
            "vec_id": np.arange(n_emb, dtype=np.int64),
            "embedding": pa.array(list(x.astype(np.float32)), pa.list_(pa.float32())),
            "label": labels.astype(np.int32)})


def ensure(root, seed, sf, tables=ALL_TABLES):
    """The data directory for (seed, sf, tables), generated once and reused."""
    out = os.path.join(root, f"sf{sf}-s{seed}-{'_'.join(tables)}")
    if not os.path.isdir(out):
        tmp = f"{out}.tmp{os.getpid()}"
        shutil.rmtree(tmp, ignore_errors=True)
        generate(tmp, seed, sf, tables)
        os.rename(tmp, out)
    return out

