"""Seeded input corpora, generated inside the checkout.

``make_base_corpus`` writes the ten tables the engine reads, at the
row counts of the engine's sf0.1 test corpus (600,000 lineitems, 5,000
documents, 2,000 embeddings) and with the same column types and value
shapes: uniform keys and measures, a 31-word document vocabulary with
planted ``dup`` near-copies, unit-norm 64-d embeddings in ten weak
clusters, and a time-ordered event stream. The query workloads run on
one base corpus made from a fixed seed, so their oracle digests are
computed once per checkout.

``make_refresh_corpus`` is the ``doc_refresh`` input: ``copies``
copies of the base documents, each with its own doc-id range, a seeded
share of its tokens replaced from the vocabulary, and the table in
seeded row order.
"""

from __future__ import annotations

import datetime as dt
import os
import random
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)
BASE_SEED = 42

VOCAB = (
    "a agg batch big column customer data fast filter group hash join key line merge "
    "order part query row scan slow small sort spark stream table the value vector window"
).split()
P_ADJ = "blue cold hot large new old red small".split()
P_NOUN = "anvil bolt gear plate ring rod widget nut".split()
P_TYPES = ("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
EVENT_TYPES = ("click", "error", "purchase", "signup", "view")
LANGS = ("en", "de", "es", "fr", "zh")
LANG_P = (0.41, 0.15, 0.145, 0.145, 0.15)

# Ghost rows of the catalog's pre-refresh master take doc_id + 90001 as
# their id and live rows doc_id + 1, so every doc_id stays below this.
MAX_DOC_ID = 90_000
REPLACE_SHARE = 0.1
REFRESH_ROW_GROUP = 2_500

ROWS = {
    "customer": 15_000, "supplier": 1_000, "part": 20_000, "orders": 150_000,
    "lineitem": 600_000, "events": 100_000, "documents": 5_000, "embeddings": 2_000,
}
EMBED_DIM = 64
EMBED_LABELS = 10


def _days(rng, lo: dt.date, hi: dt.date, n: int) -> pa.Array:
    start = np.datetime64(lo, "D")
    span = (hi - lo).days + 1
    return pa.array((start + rng.integers(0, span, n)).astype("datetime64[us]"))


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _relational(rng, n: dict[str, int]) -> dict[str, pa.Table]:
    i32 = pa.int32()
    t: dict[str, pa.Table] = {}
    t["region"] = pa.table(
        {
            "r_regionkey": pa.array(range(5), i32),
            "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
        }
    )
    t["nation"] = pa.table(
        {
            "n_nationkey": pa.array(range(25), i32),
            "n_name": [f"NATION_{k}" for k in range(25)],
            "n_regionkey": pa.array([k % 5 for k in range(25)], i32),
        }
    )
    t["customer"] = pa.table(
        {
            "c_custkey": np.arange(n["customer"], dtype=np.int64),
            "c_name": [f"Customer#{k:09d}" for k in range(n["customer"])],
            "c_nationkey": pa.array(rng.integers(0, 25, n["customer"]), i32),
            "c_acctbal": _money(rng, -999.99, 9999.99, n["customer"]),
            "c_mktsegment": rng.choice(SEGMENTS, n["customer"]),
        }
    )
    t["supplier"] = pa.table(
        {
            "s_suppkey": np.arange(n["supplier"], dtype=np.int64),
            "s_name": [f"Supplier#{k:09d}" for k in range(n["supplier"])],
            "s_nationkey": pa.array(rng.integers(0, 25, n["supplier"]), i32),
            "s_acctbal": _money(rng, -999.99, 9999.99, n["supplier"]),
        }
    )
    pk = np.arange(n["part"], dtype=np.int64)
    t["part"] = pa.table(
        {
            "p_partkey": pk,
            "p_name": [f"{a} {b}" for a, b in zip(rng.choice(P_ADJ, len(pk)), rng.choice(P_NOUN, len(pk)))],
            "p_brand": [f"Brand#{k}" for k in rng.integers(1, 26, len(pk))],
            "p_type": rng.choice(P_TYPES, len(pk)),
            "p_size": pa.array(rng.integers(1, 51, len(pk)), i32),
            "p_retailprice": np.round(900 + (pk % 1000) * 0.1, 1),
        }
    )
    t["orders"] = pa.table(
        {
            "o_orderkey": np.arange(n["orders"], dtype=np.int64),
            "o_custkey": rng.integers(0, n["customer"], n["orders"]),
            "o_orderstatus": rng.choice(("F", "O", "P"), n["orders"]),
            "o_totalprice": _money(rng, 1000.0, 500_000.0, n["orders"]),
            "o_orderdate": _days(rng, dt.date(1995, 1, 1), dt.date(2001, 8, 1), n["orders"]),
            "o_orderpriority": rng.choice(PRIORITIES, n["orders"]),
        }
    )
    m = n["lineitem"]
    t["lineitem"] = pa.table(
        {
            "l_orderkey": rng.integers(0, n["orders"], m),
            "l_partkey": rng.integers(0, n["part"], m),
            "l_suppkey": rng.integers(0, n["supplier"], m),
            "l_linenumber": pa.array(rng.integers(1, 8, m), i32),
            "l_quantity": rng.integers(1, 51, m).astype(np.float64),
            "l_extendedprice": _money(rng, 900.0, 105_000.0, m),
            "l_discount": rng.integers(0, 11, m) / 100,
            "l_tax": rng.integers(0, 9, m) / 100,
            "l_returnflag": rng.choice(("A", "N", "R"), m),
            "l_linestatus": rng.choice(("F", "O"), m),
            "l_shipdate": _days(rng, dt.date(1995, 1, 2), dt.date(2001, 11, 4), m),
        }
    )
    return t


def _events(rng, n: int) -> pa.Table:
    start = np.datetime64("2024-01-01T00:00:00", "us")
    span_us = 30 * 86_400 * 1_000_000
    # distinct, time-ordered by event_id
    offsets = np.sort(rng.choice(span_us, n, replace=False))
    return pa.table(
        {
            "event_id": np.arange(n, dtype=np.int64),
            "ts": pa.array(start + offsets.astype("timedelta64[us]")),
            "user_id": rng.integers(0, 1_500, n),
            "event_type": rng.choice(EVENT_TYPES, n),
            "value": np.round(rng.exponential(50.0, n), 2),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)],
        }
    )


def _documents(rng, n: int) -> pa.Table:
    texts = [" ".join(rng.choice(VOCAB, rng.integers(10, 100))) for _ in range(n)]
    # planted near-duplicates: another document's text plus one token
    for d in rng.choice(n, n // 20, replace=False):
        src = int(rng.integers(0, n))
        if src != d:
            texts[d] = texts[src] + " dup"
    return pa.table(
        {
            "doc_id": np.arange(n, dtype=np.int64),
            "text": texts,
            "lang": rng.choice(LANGS, n, p=LANG_P),
            "source": [f"src{k % 20}" for k in range(n)],
            "n_chars": np.array([len(s) for s in texts], dtype=np.int64),
        }
    )


def _embeddings(rng, n: int) -> pa.Table:
    labels = rng.integers(0, EMBED_LABELS, n)
    centers = rng.normal(0.0, 1.0, (EMBED_LABELS, EMBED_DIM))
    vecs = rng.normal(0.0, 1.0, (n, EMBED_DIM)) + 0.6 * centers[labels]
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    return pa.table(
        {
            "vec_id": np.arange(n, dtype=np.int64),
            "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
            "label": pa.array(labels, pa.int32()),
        }
    )


def _write(table: pa.Table, out_dir: str, name: str, row_group_size: int | None = None) -> None:
    pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"), row_group_size, compression="snappy")


def make_base_corpus(out_dir: str, seed: int = BASE_SEED, scale: float = 1.0) -> None:
    """Write all ten tables into ``out_dir``; the same seed and scale
    write the same rows. ``scale`` shrinks every table but region and
    nation (tests use a small corpus)."""
    rng = np.random.default_rng(seed)
    rows = {t: max(int(n * scale), 20) for t, n in ROWS.items()}
    os.makedirs(out_dir, exist_ok=True)
    tables = _relational(rng, rows)
    tables["events"] = _events(rng, rows["events"])
    tables["documents"] = _documents(rng, rows["documents"])
    tables["embeddings"] = _embeddings(rng, rows["embeddings"])
    for name in TABLES:
        _write(tables[name], out_dir, name)


def make_refresh_corpus(base_dir: str, out_dir: str, seed: int, copies: int) -> int:
    """Write the ``doc_refresh`` corpus into ``out_dir``; returns its
    document count. Tables other than ``documents`` are copied as-is."""
    os.makedirs(out_dir, exist_ok=True)
    for t in TABLES:
        if t != "documents":
            shutil.copyfile(os.path.join(base_dir, f"{t}.parquet"), os.path.join(out_dir, f"{t}.parquet"))
    docs = pq.read_table(os.path.join(base_dir, "documents.parquet"))
    rows = docs.to_pylist()
    stride = max(r["doc_id"] for r in rows) + 1
    if stride * copies > MAX_DOC_ID:
        raise ValueError(f"{copies} copies of {stride} ids would reach the ghost-id range")
    vocab = sorted({w for r in rows for w in r["text"].split()})
    rng = random.Random(seed)
    out = []
    for k in range(copies):
        for r in rows:
            words = [rng.choice(vocab) if rng.random() < REPLACE_SHARE else w for w in r["text"].split()]
            text = " ".join(words)
            out.append({**r, "doc_id": r["doc_id"] + k * stride, "text": text, "n_chars": len(text)})
    rng.shuffle(out)
    # Spark reads the file as one split either way; the row groups let
    # the DuckDB oracles scan it in parallel.
    _write(pa.Table.from_pylist(out, schema=docs.schema), out_dir, "documents", REFRESH_ROW_GROUP)
    return len(out)
