"""Seeded input generator for the benchmark.

Writes tables with the schema and one-file-per-table layout of the
TPC-H-style test data (``region nation customer supplier part orders
lineitem events documents embeddings``), sized by a scale factor, plus
the wave files the store-ingest workload streams. The same seed always
gives the same bytes.

Every document and every embedding is an independent draw, so the corpus
holds no accidental near-duplicates. Near-duplicates come only from a
planted share: a stated fraction of documents are copies of an earlier
document with a tenth of their tokens replaced (``PLANTED_NEAR_DUP``),
and a smaller fraction are exact copies (``PLANTED_EXACT_DUP``).
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

PLANTED_NEAR_DUP = 0.02
PLANTED_EXACT_DUP = 0.005

# the 31 words the query slots search for (BM25 / RRF query terms,
# stopwords) stay the most frequent tokens; the long tail is a Zipfian
# vocabulary of generated words, so term statistics are not degenerate
BASE_WORDS = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
BASE_SHARE = 0.6
TAIL_WORDS = 4000
LANGS = (("en", 0.41), ("de", 0.14), ("es", 0.15), ("fr", 0.15), ("zh", 0.15))
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
DIM = 64
LABELS = 10


def _days(rng, n, lo: str, hi: str) -> np.ndarray:
    a, b = np.datetime64(lo, "D"), np.datetime64(hi, "D")
    off = rng.integers(0, int((b - a).astype(int)) + 1, n)
    return (a + off).astype("datetime64[us]")


def _money(rng, n, lo, hi) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _tail_vocab(rng) -> np.ndarray:
    syll = np.array(
        [c + v for c in "bdfgklmnprstvz" for v in "aeiou"], dtype=object
    )
    words: set[str] = set()
    while len(words) < TAIL_WORDS:
        k = int(rng.integers(2, 4))
        w = "".join(syll[rng.integers(0, len(syll), k)])
        if w not in BASE_WORDS:
            words.add(w)
    return np.array(sorted(words), dtype=object)


def documents(rng, n: int) -> pa.Table:
    """``n`` documents of 10-100 tokens; see the module doc for the
    planted near-duplicate and exact-duplicate shares."""
    tail = _tail_vocab(rng)
    zipf = 1.0 / np.arange(1, TAIL_WORDS + 1) ** 1.1
    zipf /= zipf.sum()
    base = np.array(BASE_WORDS, dtype=object)
    lens = rng.integers(10, 101, n)
    total = int(lens.sum())
    from_base = rng.random(total) < BASE_SHARE
    tokens = np.where(
        from_base,
        base[rng.integers(0, len(base), total)],
        tail[rng.choice(TAIL_WORDS, total, p=zipf)],
    )
    bounds = np.concatenate([[0], np.cumsum(lens)])
    docs = [tokens[bounds[i]:bounds[i + 1]] for i in range(n)]
    # planted duplicates point at an earlier, non-planted document
    kind = rng.random(n)
    near = kind < PLANTED_NEAR_DUP
    exact = (kind >= PLANTED_NEAR_DUP) & (kind < PLANTED_NEAR_DUP + PLANTED_EXACT_DUP)
    for i in np.flatnonzero(near | exact):
        if i == 0:
            continue
        src = docs[int(rng.integers(0, i))].copy()
        if near[i]:
            swap = rng.random(len(src)) < 0.1
            src[swap] = tail[rng.integers(0, TAIL_WORDS, int(swap.sum()))]
        docs[i] = src
    text = [" ".join(d) for d in docs]
    codes, probs = zip(*LANGS)
    ids = np.arange(n, dtype=np.int64)
    return pa.table({
        "doc_id": ids,
        "text": pa.array(text, pa.string()),
        "lang": pa.array(np.array(codes)[rng.choice(len(codes), n, p=probs)]),
        "source": pa.array([f"src{i % 20}" for i in ids]),
        "n_chars": pa.array([len(t) for t in text], pa.int64()),
    })


def embeddings(rng, n: int) -> pa.Table:
    """Unit vectors around ``LABELS`` random cluster centres."""
    centres = rng.standard_normal((LABELS, DIM))
    centres /= np.linalg.norm(centres, axis=1, keepdims=True)
    label = rng.integers(0, LABELS, n)
    v = 0.5 * centres[label] + rng.standard_normal((n, DIM)) / np.sqrt(DIM)
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    flat = pa.array(v.astype(np.float32).ravel(), pa.float32())
    return pa.table({
        "vec_id": np.arange(n, dtype=np.int64),
        "embedding": pa.ListArray.from_arrays(
            pa.array(np.arange(0, n * DIM + 1, DIM, dtype=np.int32)), flat
        ),
        "label": pa.array(label.astype(np.int32)),
    })


def events(rng, n: int, n_users: int) -> pa.Table:
    """An event stream over 30 days with exponential inter-arrival gaps."""
    gap_us = rng.exponential(30 * 86400e6 / n, n)
    ts = np.datetime64("2024-01-01", "us") + np.cumsum(gap_us).astype(np.int64)
    return pa.table({
        "event_id": np.arange(n, dtype=np.int64),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": rng.integers(0, n_users, n).astype(np.int64),
        "event_type": pa.array(np.array(EVENT_TYPES)[rng.integers(0, 5, n)]),
        "value": np.round(rng.exponential(50.0, n), 2),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]),
    })


def tpch(rng, sf: float) -> dict[str, pa.Table]:
    n_cust, n_supp = int(150_000 * sf), int(10_000 * sf)
    n_part, n_ord, n_li = int(200_000 * sf), int(1_500_000 * sf), int(6_000_000 * sf)
    pk = np.arange(n_part, dtype=np.int64)
    return {
        "region": pa.table({
            "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
            "r_name": REGIONS,
        }),
        "nation": pa.table({
            "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array(np.arange(25, dtype=np.int32) % 5),
        }),
        "customer": pa.table({
            "c_custkey": np.arange(n_cust, dtype=np.int64),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
            "c_acctbal": _money(rng, n_cust, -999.99, 9999.99),
            "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, n_cust)],
        }),
        "supplier": pa.table({
            "s_suppkey": np.arange(n_supp, dtype=np.int64),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
            "s_acctbal": _money(rng, n_supp, -999.99, 9999.99),
        }),
        "part": pa.table({
            "p_partkey": pk,
            "p_name": [f"{ADJ[a]} {NOUN[b]}" for a, b in
                       rng.integers(0, 8, (n_part, 2))],
            "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
            "p_type": np.array(PART_TYPES)[rng.integers(0, 6, n_part)],
            "p_size": rng.integers(1, 51, n_part).astype(np.int32),
            "p_retailprice": np.round(900 + (pk % 1000) / 10, 1),
        }),
        "orders": pa.table({
            "o_orderkey": np.arange(n_ord, dtype=np.int64),
            "o_custkey": rng.integers(0, n_cust, n_ord).astype(np.int64),
            "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)],
            "o_totalprice": _money(rng, n_ord, 1000.0, 500000.0),
            "o_orderdate": pa.array(_days(rng, n_ord, "1995-01-01", "2001-08-01")),
            "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, 5, n_ord)],
        }),
        "lineitem": pa.table({
            "l_orderkey": rng.integers(0, n_ord, n_li).astype(np.int64),
            "l_partkey": rng.integers(0, n_part, n_li).astype(np.int64),
            "l_suppkey": rng.integers(0, n_supp, n_li).astype(np.int64),
            "l_linenumber": rng.integers(1, 8, n_li).astype(np.int32),
            "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
            "l_extendedprice": _money(rng, n_li, 900.0, 105000.0),
            "l_discount": rng.integers(0, 11, n_li) / 100.0,
            "l_tax": rng.integers(0, 9, n_li) / 100.0,
            "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_li)],
            "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_li)],
            "l_shipdate": pa.array(_days(rng, n_li, "1995-01-02", "2001-11-04")),
        }),
    }


def write(tables: dict[str, pa.Table], out_dir: str) -> dict[str, dict]:
    """One parquet file per table; returns ``{table: {rows, bytes}}``."""
    os.makedirs(out_dir, exist_ok=True)
    sizes = {}
    for name, tb in tables.items():
        path = os.path.join(out_dir, f"{name}.parquet")
        pq.write_table(tb, path)
        sizes[name] = {"rows": tb.num_rows, "bytes": os.path.getsize(path)}
    return sizes


def dataset(seed: int, out_dir: str, sf: float, n_docs: int, n_vecs: int,
            ) -> dict[str, dict]:
    """All ten tables at scale factor ``sf``, with ``n_docs`` documents and
    ``n_vecs`` embeddings."""
    rng = np.random.default_rng(seed)
    tables = tpch(rng, sf)
    tables["events"] = events(rng, int(1_000_000 * sf), int(15_000 * sf))
    tables["documents"] = documents(rng, n_docs)
    tables["embeddings"] = embeddings(rng, n_vecs)
    return write(tables, out_dir)


def waves(seed: int, out_dir: str, n_waves: int, vecs_per_wave: int) -> dict[str, dict]:
    """Embedding wave files for the store-ingest workload,
    ``<out_dir>/wave<NN>.parquet``, written in order so a file stream
    reads them in order."""
    tb = embeddings(np.random.default_rng([seed, 1]), n_waves * vecs_per_wave)
    os.makedirs(out_dir)
    total = 0
    for w in range(n_waves):
        path = os.path.join(out_dir, f"wave{w:02d}.parquet")
        pq.write_table(tb.slice(w * vecs_per_wave, vecs_per_wave), path)
        total += os.path.getsize(path)
    return {"embeddings": {"rows": tb.num_rows, "bytes": total, "waves": n_waves}}
