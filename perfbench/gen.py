"""Seeded input generator for the benchmark.

Writes the ten fixture tables the package reads (``sources.TABLES``) as
parquet under one directory, with the schemas and value distributions of
the TPC-H-shaped test fixtures (``TESTDATA.md``): the same columns and
dtypes, the same key ranges per scale factor, the same categorical
domains, ~5% near-duplicate documents marked with a trailing ``dup``, and
unit-norm 64-d embeddings in ten weak clusters.  Every value is drawn
from ``numpy.random.default_rng(seed)``, so one seed always gives
byte-identical files; ``generate`` returns a manifest with the row count,
byte size and SHA-256 of every file, plus one fingerprint over all of
them.
"""

from __future__ import annotations

import hashlib
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

_WORDS = (
    "a the data row column table key value part line order customer join "
    "merge sort hash scan filter group agg window stream batch query spark "
    "vector small big fast slow").split()
_LANGS = np.array(["en", "de", "fr", "es", "zh"])
_LANG_P = [0.44, 0.14, 0.14, 0.14, 0.14]


def _days(start: str, n_days: int, size: int, rng) -> np.ndarray:
    base = np.datetime64(start, "D")
    return (base + rng.integers(0, n_days, size)).astype("datetime64[us]")


def _money(rng, lo: float, hi: float, size: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, size), 2)


def _tables(scale: float, rng) -> dict[str, pa.Table]:
    n_cust = max(1, round(150_000 * scale))
    n_supp = max(1, round(10_000 * scale))
    n_part = max(1, round(200_000 * scale))
    n_ord = max(1, round(1_500_000 * scale))
    n_line = max(1, round(6_000_000 * scale))
    n_evt = max(1, round(1_000_000 * scale))
    n_user = max(1, round(15_000 * scale))
    n_doc = max(500, round(50_000 * scale))
    n_emb = max(500, round(20_000 * scale))
    i32, i64 = pa.int32(), pa.int64()

    t = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), i32),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), i32),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], i32)})
    t["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n_cust), i64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), i32),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": rng.choice(
            ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"],
            n_cust)})
    t["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n_supp), i64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), i32),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp)})
    adj = np.array("small red hot old large blue cold new".split())
    noun = np.array("widget plate ring rod gizmo bolt gear anvil".split())
    pk = np.arange(n_part)
    t["part"] = pa.table({
        "p_partkey": pa.array(pk, i64),
        "p_name": np.char.add(np.char.add(rng.choice(adj, n_part), " "),
                              rng.choice(noun, n_part)),
        "p_brand": np.char.add("Brand#", rng.integers(1, 26, n_part).astype(str)),
        "p_type": rng.choice(
            ["ECONOMY", "STANDARD", "LARGE", "SMALL", "MEDIUM", "PROMO"], n_part),
        "p_size": pa.array(rng.integers(1, 51, n_part), i32),
        "p_retailprice": np.round(900.0 + (pk % 1000) / 10.0, 2)})
    t["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n_ord), i64),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), i64),
        "o_orderstatus": rng.choice(["F", "O", "P"], n_ord),
        "o_totalprice": _money(rng, 1000.0, 500000.0, n_ord),
        "o_orderdate": _days("1995-01-01", 2404, n_ord, rng),
        "o_orderpriority": rng.choice(
            ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"],
            n_ord)})
    qty = rng.integers(1, 51, n_line).astype(np.float64)
    t["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_line), i64),
        "l_partkey": pa.array(rng.integers(0, n_part, n_line), i64),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_line), i64),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line), i32),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900.0, 2100.0, n_line), 2),
        "l_discount": np.round(rng.integers(0, 11, n_line) / 100.0, 2),
        "l_tax": np.round(rng.integers(0, 9, n_line) / 100.0, 2),
        "l_returnflag": rng.choice(["A", "N", "R"], n_line),
        "l_linestatus": rng.choice(["F", "O"], n_line),
        "l_shipdate": _days("1995-01-02", 2498, n_line, rng)})
    month_us = 30 * 86_400 * 1_000_000
    ts = np.sort(rng.integers(0, month_us, n_evt)) + np.datetime64(
        "2024-01-01", "us").astype(np.int64)
    t["events"] = pa.table({
        "event_id": pa.array(np.arange(n_evt), i64),
        "ts": pa.array(ts.astype("datetime64[us]")),
        "user_id": pa.array(rng.integers(0, n_user, n_evt), i64),
        "event_type": rng.choice(
            ["view", "click", "purchase", "signup", "error"], n_evt),
        "value": np.maximum(np.round(rng.exponential(50.0, n_evt), 2), 0.01),
        "props": np.char.add(np.char.add('{"k": ', rng.integers(
            0, 100, n_evt).astype(str)), "}")})
    texts: list[str] = []
    for i in range(n_doc):
        if i >= 20 and rng.random() < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            n_w = int(rng.integers(8, 91))
            texts.append(" ".join(rng.choice(_WORDS, n_w)))
    t["documents"] = pa.table({
        "doc_id": pa.array(np.arange(n_doc), i64),
        "text": texts,
        "lang": rng.choice(_LANGS, n_doc, p=_LANG_P),
        "source": [f"src{i % 20}" for i in range(n_doc)],
        "n_chars": pa.array([len(s) for s in texts], i64)})
    centers = rng.normal(0.0, 0.15 / 8.0, (10, 64))
    labels = rng.integers(0, 10, n_emb)
    vecs = centers[labels] + rng.normal(0.0, 0.125, (n_emb, 64))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    t["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(n_emb), i64),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(labels, i32)})
    return t


def generate(out_dir: str, scale: float, seed: int) -> dict:
    """Write every table under ``out_dir``; return the manifest."""
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    tables = _tables(scale, rng)
    manifest: dict = {"scale": scale, "seed": seed, "tables": {}}
    whole = hashlib.sha256()
    for name in sorted(tables):
        table = tables[name]
        path = os.path.join(out_dir, f"{name}.parquet")
        pq.write_table(table, path)
        with open(path, "rb") as fh:
            data = fh.read()
        digest = hashlib.sha256(data)
        manifest["tables"][name] = {"rows": table.num_rows, "bytes": len(data),
                                    "sha256": digest.hexdigest()}
        whole.update(digest.digest())
    manifest["fingerprint"] = whole.hexdigest()
    return manifest
