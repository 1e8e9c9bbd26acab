"""Seeded synthetic inputs for the benchmark.

``tables(seed, scale)`` builds the TPC-H-like star schema plus the
``events``/``documents``/``embeddings`` tables that ``dsq_spark.queries``
reads, with the same column names and types as the scale-factor
directories the query registry was written against (lineitem has
``6_000_000 * scale`` rows).  The same seed always gives the same tables.
The text writers turn tables into the CSV / JSONL / JSON-array files the
CLI workloads read.
"""

from __future__ import annotations

import datetime as _dt
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = ("a the key agg row scan slow fast table value part hash merge batch "
         "spark window order data column join small big line customer query "
         "filter group vector shuffle stage task plan cache index file sort "
         "limit stream event user price total count").split()
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
COLORS = ["red", "blue", "green", "black", "white", "small", "large", "tan"]
NOUNS = ["widget", "bolt", "ring", "gear", "valve", "panel", "spring", "nut"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "en", "en", "de", "es", "fr", "zh"]


def _epoch_us(y: int, m: int, d: int) -> int:
    return int(_dt.datetime(y, m, d, tzinfo=_dt.timezone.utc).timestamp()) * 10**6


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _ts(us: np.ndarray) -> pa.Array:
    return pa.array(us.astype("int64"), type=pa.int64()).cast(pa.timestamp("us"))


def tables(seed: int, scale: float) -> dict[str, pa.Table]:
    rng = np.random.default_rng(seed)
    n_cust = max(50, int(15_000 * scale))
    n_supp = max(10, int(1_000 * scale))
    n_part = max(100, int(20_000 * scale))
    n_ord = max(200, int(150_000 * scale))
    n_line = max(1_000, int(6_000_000 * scale))
    n_ev = max(500, int(100_000 * scale))
    n_doc = max(100, int(5_000 * scale))
    n_emb = max(100, int(5_000 * scale))
    day = 86_400 * 10**6
    out: dict[str, pa.Table] = {}

    out["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    out["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    out["customer"] = pa.table({
        "c_custkey": np.arange(n_cust, dtype="int64"),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust).astype("int32"),
        "c_acctbal": _money(rng, -999, 9999, n_cust),
        "c_mktsegment": rng.choice(SEGMENTS, n_cust)})
    out["supplier"] = pa.table({
        "s_suppkey": np.arange(n_supp, dtype="int64"),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, n_supp).astype("int32"),
        "s_acctbal": _money(rng, -999, 9999, n_supp)})
    out["part"] = pa.table({
        "p_partkey": np.arange(n_part, dtype="int64"),
        "p_name": [f"{c} {w}" for c, w in zip(rng.choice(COLORS, n_part),
                                              rng.choice(NOUNS, n_part))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": rng.choice(PART_TYPES, n_part),
        "p_size": rng.integers(1, 51, n_part).astype("int32"),
        "p_retailprice": np.round(900 + np.arange(n_part) % 1000 * 0.1, 2)})
    odate = _epoch_us(1992, 1, 1) + rng.integers(0, 365 * 9, n_ord) * day
    out["orders"] = pa.table({
        "o_orderkey": np.arange(n_ord, dtype="int64"),
        "o_custkey": rng.integers(0, n_cust, n_ord),
        "o_orderstatus": rng.choice(["F", "O", "P"], n_ord),
        "o_totalprice": _money(rng, 900, 500_000, n_ord),
        "o_orderdate": _ts(odate),
        "o_orderpriority": rng.choice(PRIORITIES, n_ord)})
    qty = rng.integers(1, 51, n_line).astype("float64")
    out["lineitem"] = pa.table({
        "l_orderkey": rng.integers(0, n_ord, n_line),
        "l_partkey": rng.integers(0, n_part, n_line),
        "l_suppkey": rng.integers(0, n_supp, n_line),
        "l_linenumber": rng.integers(1, 8, n_line).astype("int32"),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900, 2000, n_line), 2),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], n_line),
        "l_linestatus": rng.choice(["F", "O"], n_line),
        "l_shipdate": _ts(_epoch_us(1992, 1, 2)
                          + rng.integers(0, 365 * 10, n_line) * day)})
    gaps = rng.integers(1_000_000, 400_000_000, n_ev)
    out["events"] = pa.table({
        "event_id": np.arange(n_ev, dtype="int64"),
        "ts": _ts(_epoch_us(2024, 1, 1) + np.cumsum(gaps)),
        "user_id": rng.integers(0, max(10, n_ev // 100), n_ev),
        "event_type": rng.choice(EVENT_TYPES, n_ev),
        "value": _money(rng, 0, 100, n_ev),
        "props": [json.dumps({"k": int(k)}) for k in rng.integers(0, 100, n_ev)]})
    docs: list[str] = []
    for i in range(n_doc):
        if i > 10 and rng.random() < 0.2:  # near-duplicate of an earlier doc
            words = docs[int(rng.integers(0, i))].split()
            for j in rng.integers(0, len(words), max(1, len(words) // 10)):
                words[j] = str(rng.choice(VOCAB))
        else:
            words = list(rng.choice(VOCAB, int(rng.integers(20, 80))))
        docs.append(" ".join(words))
    out["documents"] = pa.table({
        "doc_id": np.arange(n_doc, dtype="int64"),
        "text": docs,
        "lang": rng.choice(LANGS, n_doc),
        "source": [f"src{i % 20}" for i in range(n_doc)],
        "n_chars": np.array([len(d) for d in docs], dtype="int64")})
    centers = rng.normal(0, 1, (8, 64))
    label = rng.integers(0, 8, n_emb)
    vecs = (centers[label] + rng.normal(0, 1.2, (n_emb, 64))).astype("float32")
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True) * 4
    out["embeddings"] = pa.table({
        "vec_id": np.arange(n_emb, dtype="int64"),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": label.astype("int32")})
    return out


def write_parquet_dir(tabs: dict[str, pa.Table], path: str) -> None:
    os.makedirs(path, exist_ok=True)
    for name, tab in tabs.items():
        pq.write_table(tab, os.path.join(path, f"{name}.parquet"))


def text_columns(tab: pa.Table) -> list[list[str]]:
    """Each column as the text the CSV holds: integral floats without
    '.0', timestamps as dates."""
    import pyarrow.compute as pc

    out = []
    for col in tab.columns:
        if pa.types.is_timestamp(col.type):
            col = pc.strftime(col, format="%Y-%m-%d")
        elif pa.types.is_floating(col.type) and pc.all(pc.equal(
                col, pc.floor(col))).as_py():
            col = col.cast(pa.int64())
        out.append(col.cast(pa.string()).to_pylist())
    return out


def jsonl_lines(tab: pa.Table) -> list[str]:
    """One JSON object per line; timestamps as dates."""
    return [json.dumps({k: v.strftime("%Y-%m-%d")
                        if isinstance(v, _dt.datetime) else v
                        for k, v in r.items()}) for r in tab.to_pylist()]


def write_text(path: str, lines: list[str]) -> None:
    with open(path, "w", encoding="utf-8") as fh:
        fh.write("\n".join(lines) + "\n")
