"""Seeded input generation for the three workloads.

Everything here is a pure function of the seed: the TPC-H-shaped star schema
plus `events`, `documents` and `embeddings` (the same table and column layout
the registry queries read), the curation samples with planted
near-duplicates, and the routing request inputs. The program under test only
ever sees the files written here.
"""

from __future__ import annotations

import os
from datetime import datetime

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PART_WORDS = ["blue", "hot", "large", "ring", "bolt", "steel", "green", "tiny"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "en", "en", "de", "es", "fr", "zh"]
# the fixture's 31-word vocabulary (includes the stopwords the text
# operators count)
VOCAB = (
    "query row stream the spark line small fast group customer batch sort value hash "
    "filter big data dup part column order scan a slow agg key window table merge vector join"
).split()
EMB_DIM = 64
N_LABELS = 10

_US_PER_DAY = 86_400_000_000


def _epoch_us(y: int, m: int, d: int) -> int:
    return int((datetime(y, m, d) - datetime(1970, 1, 1)).total_seconds()) * 1_000_000


def _days(rng, n: int, start: tuple, end: tuple) -> pa.Array:
    lo, hi = _epoch_us(*start) // _US_PER_DAY, _epoch_us(*end) // _US_PER_DAY
    us = rng.integers(lo, hi + 1, n, dtype=np.int64) * _US_PER_DAY
    return pa.array(us, type=pa.timestamp("us"))


def _money(rng, n: int, lo: float, hi: float) -> np.ndarray:
    # whole cents, so every value is exact at 2 decimals (the registry's
    # float-parity policy casts money to DECIMAL before summing)
    return rng.integers(int(lo * 100), int(hi * 100) + 1, n) / 100.0


def _pick(rng, choices: list, n: int) -> pa.Array:
    return pa.array(np.asarray(choices, dtype=object)[rng.integers(0, len(choices), n)], type=pa.string())


def _write(path: str, table: pa.Table) -> None:
    pq.write_table(table, path)


def write_star_schema(out_dir: str, seed: int, sf: float, tables: tuple[str, ...]) -> None:
    """Write the requested tables of the TPC-H-shaped schema at scale `sf`
    (sf0.1: 600k lineitem, 150k orders, 15k customers, 100k events)."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng([seed, 1])
    n_cust, n_supp, n_part = int(150_000 * sf), int(10_000 * sf), int(200_000 * sf)
    n_ord, n_li, n_ev = int(1_500_000 * sf), int(6_000_000 * sf), int(1_000_000 * sf)
    gen = {
        "region": lambda: pa.table({
            "r_regionkey": pa.array(range(5), pa.int32()), "r_name": REGIONS}),
        "nation": lambda: pa.table({
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())}),
        "customer": lambda: pa.table({
            "c_custkey": np.arange(n_cust, dtype=np.int64),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
            "c_acctbal": _money(rng, n_cust, -999.99, 9999.99),
            "c_mktsegment": _pick(rng, SEGMENTS, n_cust)}),
        "supplier": lambda: pa.table({
            "s_suppkey": np.arange(n_supp, dtype=np.int64),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
            "s_acctbal": _money(rng, n_supp, -999.99, 9999.99)}),
        "part": lambda: pa.table({
            "p_partkey": np.arange(n_part, dtype=np.int64),
            "p_name": [f"{a} {b}" for a, b in zip(
                rng.choice(PART_WORDS, n_part), rng.choice(PART_WORDS, n_part))],
            "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, n_part)],
            "p_type": _pick(rng, PART_TYPES, n_part),
            "p_size": rng.integers(1, 51, n_part).astype(np.int32),
            "p_retailprice": 900.0 + (np.arange(n_part) % 1000) / 10.0}),
        "orders": lambda: pa.table({
            "o_orderkey": np.arange(n_ord, dtype=np.int64),
            "o_custkey": rng.integers(0, n_cust, n_ord),
            "o_orderstatus": _pick(rng, ["F", "O", "P"], n_ord),
            "o_totalprice": _money(rng, n_ord, 1000.0, 500000.0),
            "o_orderdate": _days(rng, n_ord, (1995, 1, 1), (2001, 8, 1)),
            "o_orderpriority": _pick(rng, PRIORITIES, n_ord)}),
        "lineitem": lambda: pa.table({
            "l_orderkey": rng.integers(0, n_ord, n_li),
            "l_partkey": rng.integers(0, n_part, n_li),
            "l_suppkey": rng.integers(0, n_supp, n_li),
            "l_linenumber": rng.integers(1, 8, n_li).astype(np.int32),
            "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
            "l_extendedprice": _money(rng, n_li, 900.0, 105000.0),
            "l_discount": rng.integers(0, 11, n_li) / 100.0,
            "l_tax": rng.integers(0, 9, n_li) / 100.0,
            "l_returnflag": _pick(rng, ["A", "N", "R"], n_li),
            "l_linestatus": _pick(rng, ["F", "O"], n_li),
            "l_shipdate": _days(rng, n_li, (1995, 1, 2), (2001, 11, 4))}),
        "events": lambda: _events(rng, n_ev, max(1, int(15_000 * sf))),
    }
    for name in tables:
        _write(os.path.join(out_dir, f"{name}.parquet"), gen[name]())


def _events(rng, n: int, n_users: int) -> pa.Table:
    start = _epoch_us(2024, 1, 1)
    ts = np.sort(rng.integers(start, start + 30 * _US_PER_DAY, n))
    return pa.table({
        "event_id": np.arange(n, dtype=np.int64),
        "ts": pa.array(ts, type=pa.timestamp("us")),
        "user_id": rng.integers(0, n_users, n),
        "event_type": _pick(rng, EVENT_TYPES, n),
        "value": _money(rng, n, 0.0, 560.0),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)],
    })


def corpus(seed: int, n_docs: int = 5000, n_vecs: int = 2000) -> tuple[list[str], np.ndarray, np.ndarray]:
    """The sf0.1 document texts and (embedding, label) rows."""
    rng = np.random.default_rng([seed, 2])
    vocab = np.asarray(VOCAB, dtype=object)
    texts = [" ".join(vocab[rng.integers(0, len(VOCAB), rng.integers(10, 101))]) for _ in range(n_docs)]
    centroids = rng.normal(0.0, 1.0, (N_LABELS, EMB_DIM))
    labels = rng.integers(0, N_LABELS, n_vecs).astype(np.int32)
    vecs = (centroids[labels] * 0.1 + rng.normal(0.0, 0.1, (n_vecs, EMB_DIM))).astype(np.float32)
    return texts, vecs, labels


def write_curation_sample(
    out_dir: str, rng, texts: list[str], vecs: np.ndarray, labels: np.ndarray,
    n_docs: int, n_vecs: int, dup_share: float,
) -> int:
    """One request's input: a sample of documents and embeddings in which
    `dup_share` of the rows are planted near-duplicates of other sampled
    rows (one or two word substitutions; a small vector perturbation).
    Returns the number of planted document duplicates."""
    os.makedirs(out_dir, exist_ok=True)
    n_dup = int(round(n_docs * dup_share))
    base = rng.choice(len(texts), n_docs - n_dup, replace=False)
    docs = [texts[i] for i in base]
    for src in rng.integers(0, len(docs), n_dup):
        words = docs[src].split(" ")
        for pos in rng.integers(0, len(words), rng.integers(1, 3)):
            words[pos] = VOCAB[rng.integers(0, len(VOCAB))]
        docs.append(" ".join(words))
    order = rng.permutation(len(docs))
    docs = [docs[i] for i in order]
    lang = np.asarray(LANGS, dtype=object)[rng.integers(0, len(LANGS), len(docs))]
    _write(os.path.join(out_dir, "documents.parquet"), pa.table({
        "doc_id": np.arange(len(docs), dtype=np.int64),
        "text": docs,
        "lang": pa.array(lang, pa.string()),
        "source": [f"src{i}" for i in rng.integers(0, 20, len(docs))],
        "n_chars": np.asarray([len(t) for t in docs], dtype=np.int64),
    }))

    n_vdup = int(round(n_vecs * dup_share))
    vb = rng.choice(len(vecs), n_vecs - n_vdup, replace=False)
    vsrc = vb[rng.integers(0, len(vb), n_vdup)]
    noise = rng.normal(0.0, 0.002, (n_vdup, vecs.shape[1])).astype(np.float32)
    v = np.concatenate([vecs[vb], vecs[vsrc] + noise])
    lab = np.concatenate([labels[vb], labels[vsrc]])
    vorder = rng.permutation(len(v))
    emb = pa.FixedSizeListArray.from_arrays(pa.array(v[vorder].ravel(), pa.float32()), v.shape[1])
    _write(os.path.join(out_dir, "embeddings.parquet"), pa.table({
        "vec_id": np.arange(len(v), dtype=np.int64),
        "embedding": emb.cast(pa.list_(pa.float32())),
        "label": lab[vorder].astype(np.int32),
    }))
    return n_dup


def write_parts(path: str, table: pa.Table, n_parts: int) -> None:
    """A parquet dataset directory of `n_parts` contiguous row slices, so a
    scan of it runs as `n_parts` tasks."""
    os.makedirs(path, exist_ok=True)
    step = -(-table.num_rows // n_parts)
    for i in range(n_parts):
        part = table.slice(i * step, step)
        if part.num_rows:
            pq.write_table(part, os.path.join(path, f"part-{i:03d}.parquet"))
