"""Deterministic input tables for the benchmark.

Writes the ten tables the engine's registry queries read (``region nation
customer supplier part orders lineitem events documents embeddings``) as
one parquet file each, with the column names, arrow types and value
domains of the TPC-H-ish test tables the queries were written against.
Row counts follow the scale factor ``sf`` the same way: 1.5M * sf
orders, 6M * sf line items, 1M * sf events, and at least 500
documents / 500 vectors.

The base tables come from a FIXED generator seed, so every workload seed
runs over the same base data; a workload seed only picks how the base is
used (op order, corpus rotations, batch/delete splits).  That keeps the
amount of work per run the same across seeds.

``amplify`` builds the x-m curation corpus from a base directory: replica
``i`` rotates the document alphabet and the vector components by a
seed-chosen offset, so each replica has the base corpus's near-duplicate
density without duplicating another replica.  The other tables are
symlinked from the base.
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

BASE_SEED = 42
TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()

WORDS = (
    "spark window merge table column vector stream value data small join filter "
    "big group hash customer sort order slow line part fast row the agg key query "
    "a scan batch"
).split()
LANGS = ("en", "es", "zh", "de", "fr")
LANG_P = (0.41, 0.1475, 0.1475, 0.1475, 0.1475)
ALPHA = "abcdefghijklmnopqrstuvwxyz"
DIM = 64


def _write(out_dir: str, name: str, cols: dict[str, pa.Array]) -> None:
    pq.write_table(pa.table(cols), os.path.join(out_dir, f"{name}.parquet"))


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(rng, start: dt.date, span: int, n: int) -> pa.Array:
    base = np.datetime64(start, "us")
    offs = rng.integers(0, span, n).astype("timedelta64[D]").astype("timedelta64[us]")
    return pa.array(base + offs, pa.timestamp("us"))


def _documents(rng, n: int) -> dict[str, pa.Array]:
    texts: list[str] = []
    for i in range(n):
        r = rng.random()
        if i > 10 and r < 0.05:  # near duplicate of an earlier document
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        elif i > 10 and r < 0.052:  # exact duplicate
            texts.append(texts[int(rng.integers(0, i))])
        else:
            k = int(rng.integers(10, 101))
            texts.append(" ".join(WORDS[j] for j in rng.integers(0, len(WORDS), k)))
    return {
        "doc_id": pa.array(np.arange(n, dtype=np.int64)),
        "text": pa.array(texts),
        "lang": pa.array([LANGS[j] for j in rng.choice(len(LANGS), n, p=LANG_P)]),
        "source": pa.array([f"src{i % 20}" for i in range(n)]),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    }


def _embeddings(rng, n: int) -> dict[str, pa.Array]:
    labels = rng.integers(0, 10, n)
    centers = rng.normal(0, 1, (10, DIM))
    x = rng.normal(0, 1, (n, DIM)) + 0.07 * centers[labels]
    x /= np.linalg.norm(x, axis=1, keepdims=True)
    return {
        "vec_id": pa.array(np.arange(n, dtype=np.int64)),
        "embedding": pa.array(list(x.astype(np.float32)), pa.list_(pa.float32())),
        "label": pa.array(labels.astype(np.int32)),
    }


def generate(out_dir: str, sf: float) -> None:
    """Write the ten base tables for scale factor ``sf`` into ``out_dir``."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(BASE_SEED)
    n_cust, n_supp, n_part = int(150_000 * sf), int(10_000 * sf), int(200_000 * sf)
    n_ord, n_li, n_ev = int(1_500_000 * sf), int(6_000_000 * sf), int(1_000_000 * sf)
    n_docs, n_vecs = max(500, int(50_000 * sf)), max(500, int(20_000 * sf))

    _write(out_dir, "region", {
        "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
        "r_name": pa.array(["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]),
    })
    _write(out_dir, "nation", {
        "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
        "n_regionkey": pa.array(np.arange(25, dtype=np.int32) % 5),
    })
    segments = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
    _write(out_dir, "customer", {
        "c_custkey": pa.array(np.arange(n_cust, dtype=np.int64)),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)]),
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust).astype(np.int32)),
        "c_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_cust)),
        "c_mktsegment": pa.array([segments[j] for j in rng.integers(0, 5, n_cust)]),
    })
    _write(out_dir, "supplier", {
        "s_suppkey": pa.array(np.arange(n_supp, dtype=np.int64)),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)]),
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp).astype(np.int32)),
        "s_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_supp)),
    })
    adj = ["blue", "old", "small", "new", "large", "hot", "cold", "red"]
    noun = ["widget", "gizmo", "ring", "gear", "bolt", "plate", "rod", "anvil"]
    types = ["PROMO", "LARGE", "ECONOMY", "STANDARD", "SMALL", "MEDIUM"]
    keys = np.arange(n_part, dtype=np.int64)
    _write(out_dir, "part", {
        "p_partkey": pa.array(keys),
        "p_name": pa.array(
            [f"{adj[a]} {noun[b]}" for a, b in rng.integers(0, 8, (n_part, 2))]
        ),
        "p_brand": pa.array([f"Brand#{j}" for j in rng.integers(1, 26, n_part)]),
        "p_type": pa.array([types[j] for j in rng.integers(0, 6, n_part)]),
        "p_size": pa.array(rng.integers(1, 51, n_part).astype(np.int32)),
        "p_retailprice": pa.array(np.round(900.0 + (keys % 1000) / 10.0, 1)),
    })
    prio = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
    _write(out_dir, "orders", {
        "o_orderkey": pa.array(np.arange(n_ord, dtype=np.int64)),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord).astype(np.int64)),
        "o_orderstatus": pa.array([("O", "P", "F")[j] for j in rng.integers(0, 3, n_ord)]),
        "o_totalprice": pa.array(_money(rng, 1000.0, 500_000.0, n_ord)),
        "o_orderdate": _days(rng, dt.date(1995, 1, 1), 2404, n_ord),
        "o_orderpriority": pa.array([prio[j] for j in rng.integers(0, 5, n_ord)]),
    })
    _write(out_dir, "lineitem", {
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_li).astype(np.int64)),
        "l_partkey": pa.array(rng.integers(0, n_part, n_li).astype(np.int64)),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li).astype(np.int64)),
        "l_linenumber": pa.array(rng.integers(1, 8, n_li).astype(np.int32)),
        "l_quantity": pa.array(rng.integers(1, 51, n_li).astype(np.float64)),
        "l_extendedprice": pa.array(_money(rng, 900.0, 105_000.0, n_li)),
        "l_discount": pa.array(rng.integers(0, 11, n_li) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, n_li) / 100.0),
        "l_returnflag": pa.array([("A", "N", "R")[j] for j in rng.integers(0, 3, n_li)]),
        "l_linestatus": pa.array([("F", "O")[j] for j in rng.integers(0, 2, n_li)]),
        "l_shipdate": _days(rng, dt.date(1995, 1, 2), 2498, n_li),
    })
    ev_types = ["click", "error", "purchase", "signup", "view"]
    span_us = 30 * 86_400 * 1_000_000
    ts = np.sort(rng.integers(0, span_us, n_ev)) + np.datetime64("2024-01-01", "us")
    _write(out_dir, "events", {
        "event_id": pa.array(np.arange(n_ev, dtype=np.int64)),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, max(15, int(15_000 * sf)), n_ev).astype(np.int64)),
        "event_type": pa.array([ev_types[j] for j in rng.integers(0, 5, n_ev)]),
        "value": pa.array(_money(rng, 0.0, 560.0, n_ev)),
        "props": pa.array([f'{{"k": {j}}}' for j in rng.integers(0, 100, n_ev)]),
    })
    _write(out_dir, "documents", _documents(rng, n_docs))
    _write(out_dir, "embeddings", _embeddings(rng, n_vecs))


def rotations(rng, m: int) -> list[int]:
    """Replica 0 is the base corpus; replicas 1..m-1 get distinct
    seed-chosen alphabet rotations (1..25; at most 26 replicas)."""
    return [0] + [int(r) for r in rng.permutation(np.arange(1, 26))[: m - 1]]


def amplify(base_dir: str, out_dir: str, rots: list[int]) -> None:
    """Write one replica of the base documents/embeddings per rotation into
    ``out_dir`` (ids offset per replica) and symlink the other tables."""
    os.makedirs(out_dir, exist_ok=True)
    docs = pq.read_table(os.path.join(base_dir, "documents.parquet"))
    embs = pq.read_table(os.path.join(base_dir, "embeddings.parquet"))
    texts = docs.column("text").to_pylist()
    x = np.stack(embs.column("embedding").to_numpy(zero_copy_only=False))
    doc_parts, emb_parts = [], []
    for i, rot in enumerate(rots):
        shift = str.maketrans(ALPHA, ALPHA[rot:] + ALPHA[:rot])
        offset = i * 10_000_000
        doc_parts.append(
            docs.set_column(0, "doc_id", pa.array(docs.column("doc_id").to_numpy() + offset))
            .set_column(1, "text", pa.array([t.translate(shift) for t in texts]))
        )
        emb_parts.append(
            embs.set_column(0, "vec_id", pa.array(embs.column("vec_id").to_numpy() + offset))
            .set_column(1, "embedding", pa.array(list(np.roll(x, -rot, axis=1)), pa.list_(pa.float32())))
        )
    pq.write_table(pa.concat_tables(doc_parts), os.path.join(out_dir, "documents.parquet"))
    pq.write_table(pa.concat_tables(emb_parts), os.path.join(out_dir, "embeddings.parquet"))
    for t in TABLES:
        if t not in ("documents", "embeddings"):
            os.symlink(
                os.path.relpath(os.path.join(base_dir, f"{t}.parquet"), out_dir),
                os.path.join(out_dir, f"{t}.parquet"),
            )
