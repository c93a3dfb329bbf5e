"""Seeded synthetic tables for the analytics workload.

The tables the workload reads, with the column names and physical
types of the repository's test data (``part``, ``orders`` and
``lineitem`` of the TPC-H-shaped schema, an ``events`` stream, a
``documents`` corpus and an ``embeddings`` table), drawn from
``numpy.random.default_rng(seed)`` at scale factor 0.01. Values
follow the shapes the queries depend on: money rounded to cents,
dates at midnight, event times in January 2024, documents over a
small vocabulary with a share of near-duplicate copies, and unit
embedding vectors clustered around ten labels.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

SCALE = 0.01

_VOCAB = (
    "spark window merge table column vector stream value data small join filter "
    "big group hash customer sort order slow line part fast row the agg key query "
    "a scan batch"
).split()
_ADJ = "small red blue hot old large green dark".split()
_NOUN = "ring widget bolt plate rod gear pipe nut".split()
_TYPES = "ECONOMY SMALL MEDIUM LARGE PROMO STANDARD".split()
_PRIORITIES = "1-URGENT 2-HIGH 3-MEDIUM 4-NOT SPECIFIED 5-LOW".split()
_EVENTS = "click view purchase signup error".split()
_LANGS = ("en", "zh", "es", "fr", "de")
_LANG_P = (0.41, 0.15, 0.15, 0.15, 0.14)


def _cents(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _midnights(rng: np.random.Generator, first: str, days: int, n: int) -> pa.Array:
    base = np.datetime64(first, "D")
    d = base + rng.integers(0, days, n).astype("timedelta64[D]")
    return pa.array(d.astype("datetime64[us]"), pa.timestamp("us"))


def _write(out: str, name: str, cols: dict[str, pa.Array | np.ndarray | list]) -> None:
    pq.write_table(pa.table(cols), os.path.join(out, f"{name}.parquet"))


def generate(out: str, seed: int) -> None:
    rng = np.random.default_rng(seed)
    os.makedirs(out, exist_ok=True)
    n_cust, n_supp = int(150_000 * SCALE), int(10_000 * SCALE)
    n_part, n_orders = int(200_000 * SCALE), int(1_500_000 * SCALE)
    n_line, n_events = int(6_000_000 * SCALE), int(1_000_000 * SCALE)
    n_docs, n_vecs = int(50_000 * SCALE), int(25_000 * SCALE)

    _write(out, "part", {
        "p_partkey": np.arange(n_part, dtype=np.int64),
        "p_name": [f"{a} {b}" for a, b in zip(rng.choice(_ADJ, n_part), rng.choice(_NOUN, n_part))],
        "p_brand": [f"Brand#{k}" for k in rng.integers(1, 26, n_part)],
        "p_type": rng.choice(_TYPES, n_part),
        "p_size": rng.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) / 10.0, 2),
    })
    _write(out, "orders", {
        "o_orderkey": np.arange(n_orders, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_orders).astype(np.int64),
        "o_orderstatus": rng.choice(["P", "O", "F"], n_orders),
        "o_totalprice": _cents(rng, 1000.0, 500_000.0, n_orders),
        "o_orderdate": _midnights(rng, "1995-01-01", 2404, n_orders),
        "o_orderpriority": rng.choice(_PRIORITIES, n_orders),
    })
    qty = rng.integers(1, 51, n_line).astype(np.float64)
    _write(out, "lineitem", {
        "l_orderkey": rng.integers(0, n_orders, n_line).astype(np.int64),
        "l_partkey": rng.integers(0, n_part, n_line).astype(np.int64),
        "l_suppkey": rng.integers(0, n_supp, n_line).astype(np.int64),
        "l_linenumber": rng.integers(1, 8, n_line).astype(np.int32),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900.0, 2100.0, n_line), 2),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], n_line),
        "l_linestatus": rng.choice(["O", "F"], n_line),
        "l_shipdate": _midnights(rng, "1995-01-02", 2499, n_line),
    })
    span_us = 30 * 86_400 * 1_000_000
    # strictly increasing with event_id, as an append-only stream
    ts = np.sort(rng.integers(0, span_us - n_events, n_events)) + np.arange(n_events)
    ts += np.datetime64("2024-01-01", "us").astype(np.int64)
    _write(out, "events", {
        "event_id": np.arange(n_events, dtype=np.int64),
        "ts": pa.array(ts.astype("datetime64[us]"), pa.timestamp("us")),
        "user_id": rng.integers(0, int(15_000 * SCALE), n_events).astype(np.int64),
        "event_type": rng.choice(_EVENTS, n_events),
        "value": np.round(rng.exponential(50.0, n_events), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_events)],
    })
    texts = [" ".join(rng.choice(_VOCAB, int(rng.integers(8, 90)))) for _ in range(n_docs)]
    # near-duplicate families: a copy of another document plus a marker
    for i in np.flatnonzero(rng.random(n_docs) < 0.05):
        texts[i] = texts[int(rng.integers(0, n_docs))] + " dup"
    _write(out, "documents", {
        "doc_id": np.arange(n_docs, dtype=np.int64),
        "text": texts,
        "lang": rng.choice(_LANGS, n_docs, p=_LANG_P),
        "source": [f"src{i % 20}" for i in range(n_docs)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })
    centers = rng.normal(size=(10, 64))
    labels = rng.integers(0, 10, n_vecs)
    vecs = centers[labels] + rng.normal(scale=0.8, size=(n_vecs, 64))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    _write(out, "embeddings", {
        "vec_id": np.arange(n_vecs, dtype=np.int64),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": labels.astype(np.int32),
    })
