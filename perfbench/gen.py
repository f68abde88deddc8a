"""Seeded input generator for the benchmark.

Everything the engine reads is made here from ``--seed``: the four
TPC-H-like parquet tables the workloads query (``lineitem``, ``events``,
``documents``, ``embeddings``, same schemas as the engine's test data) and
a reference-format basket text corpus (``customer p1 ... pK``) whose
lines are also split into files that a stream reads one per micro-batch.

The corpus has Zipf item popularity and long-tailed basket lengths, so
baskets re-use hot items and the window rule (truncate at the next
re-occurrence of the current item) does real work.  Sizes are fixed; the
seed changes only the draws, so every seed costs about the same.
"""

from __future__ import annotations

import json
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Table sizes: lineitem is about sf0.004 of TPC-H; the others match the
# engine's sf0.01 test data.
N_ORDERS = 6_000
N_PARTS = 2_000
N_SUPPLIERS = 100
N_EVENTS = 10_000
N_USERS = 150
N_DOCS = 500
N_VECS = 500
VEC_DIM = 64
N_CLUSTERS = 10

# Basket corpus.
N_BASKETS = 2_500
N_ITEMS = 400
ZIPF_S = 1.1
MEAN_BASKET_LEN = 18
MAX_BASKET_LEN = 80
STREAM_FILES = 6

VOCAB = (
    "a the big small fast slow data table row column key value part line "
    "order customer query scan join merge sort hash window group agg filter "
    "batch stream spark vector"
).split()
LANGS = ["en", "zh", "es", "de", "fr"]
LANG_P = [0.44, 0.15, 0.14, 0.14, 0.13]
EVENT_TYPES = ["view", "click", "purchase", "signup", "error"]
VERSION = 5  # bump when the data for a seed changes: it seeds the draws and keys the cache


def _fixed(draw):
    """``draw`` made with a generator seeded 0: basket and document lengths
    (and with them the work) are the same multiset for every seed, which
    only shuffles them."""
    return draw(np.random.default_rng(0))


def _lineitem(rng: np.random.Generator) -> pa.Table:
    sizes = rng.permutation(_fixed(lambda g: np.clip(g.poisson(3.5, N_ORDERS) + 1, 1, 13)))
    n = int(sizes.sum())
    order = np.repeat(np.arange(N_ORDERS, dtype=np.int64), sizes)
    starts = np.repeat(np.cumsum(sizes) - sizes, sizes)
    linenumber = (np.arange(n) - starts + 1).astype(np.int32)
    perm = rng.permutation(n)  # row order carries no basket order
    qty = rng.integers(1, 51, n).astype(np.float64)
    price = np.round(qty * rng.uniform(900.0, 2100.0, n), 2)
    epoch = np.datetime64("1995-01-01", "us")
    ship = epoch + (rng.integers(0, 2557, n) * 86_400_000_000).astype("timedelta64[us]")
    cols = {
        "l_orderkey": order,
        "l_partkey": rng.integers(0, N_PARTS, n, dtype=np.int64),
        "l_suppkey": rng.integers(0, N_SUPPLIERS, n, dtype=np.int64),
        "l_linenumber": linenumber,
        "l_quantity": qty,
        "l_extendedprice": price,
        "l_discount": rng.integers(0, 11, n) / 100.0,
        "l_tax": rng.integers(0, 9, n) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n)],
        "l_shipdate": ship,
    }
    return pa.table({k: v[perm] for k, v in cols.items()})


def _events(rng: np.random.Generator) -> pa.Table:
    start = np.datetime64("2024-01-01T00:00:00", "us")
    offs = np.sort(rng.integers(0, 30 * 86_400_000_000, N_EVENTS))
    return pa.table({
        "event_id": np.arange(N_EVENTS, dtype=np.int64),
        "ts": start + offs.astype("timedelta64[us]"),
        "user_id": rng.integers(0, N_USERS, N_EVENTS, dtype=np.int64),
        "event_type": np.array(EVENT_TYPES)[rng.integers(0, 5, N_EVENTS)],
        "value": rng.integers(1, 2001, N_EVENTS) / 100.0,
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, N_EVENTS)],
    })


def _documents(rng: np.random.Generator) -> pa.Table:
    vocab = np.array(VOCAB)
    texts = [" ".join(vocab[rng.integers(0, len(vocab), k)])
             for k in rng.permutation(_fixed(lambda g: g.integers(10, 100, N_DOCS)))]
    return pa.table({
        "doc_id": np.arange(N_DOCS, dtype=np.int64),
        "text": texts,
        "lang": np.array(LANGS)[rng.choice(len(LANGS), N_DOCS, p=LANG_P)],
        "source": [f"src{i % 20}" for i in rng.permutation(N_DOCS)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })


def _embeddings(rng: np.random.Generator) -> pa.Table:
    centers = rng.normal(size=(N_CLUSTERS, VEC_DIM))
    label = rng.integers(0, N_CLUSTERS, N_VECS)
    v = centers[label] + rng.normal(scale=0.6, size=(N_VECS, VEC_DIM))
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    return pa.table({
        "vec_id": np.arange(N_VECS, dtype=np.int64),
        "embedding": pa.array(list(v), type=pa.list_(pa.float32())),
        "label": label.astype(np.int32),
    })


def _corpus(rng: np.random.Generator) -> tuple[list[str], list[int]]:
    ranks = np.arange(1, N_ITEMS + 1, dtype=np.float64)
    p = ranks ** -ZIPF_S
    p /= p.sum()
    item_ids = rng.permutation(N_ITEMS)  # popularity is not id order
    sigma = 0.8
    mu = np.log(MEAN_BASKET_LEN) - sigma**2 / 2
    lens = rng.permutation(_fixed(lambda g: np.clip(
        np.round(g.lognormal(mu, sigma, N_BASKETS)), 1, MAX_BASKET_LEN)))
    lines = []
    for b, k in enumerate(lens.astype(int)):
        items = item_ids[rng.choice(N_ITEMS, k, p=p)]
        lines.append(f"c{b} " + " ".join(map(str, items)))
    return lines, [int(k) for k in lens]


def generate(seed: int, out_dir: str) -> dict:
    """Write every input for ``seed`` under ``out_dir`` (skipped when a
    previous call already finished there) and return the input summary."""
    manifest = os.path.join(out_dir, "manifest.json")
    if os.path.exists(manifest):
        with open(manifest) as f:
            return json.load(f)
    shutil.rmtree(out_dir, ignore_errors=True)  # an interrupted earlier call
    os.makedirs(out_dir)
    rng = np.random.default_rng([seed, VERSION])
    tables = {"lineitem": _lineitem(rng), "events": _events(rng),
              "documents": _documents(rng), "embeddings": _embeddings(rng)}
    summary: dict = {"seed": seed, "tables": {}}
    for name, t in tables.items():
        path = os.path.join(out_dir, f"{name}.parquet")
        pq.write_table(t, path)
        summary["tables"][name] = {"rows": t.num_rows, "bytes": os.path.getsize(path)}

    lines, lens = _corpus(rng)
    corpus_dir = os.path.join(out_dir, "corpus")
    stream_dir = os.path.join(out_dir, "stream")
    os.makedirs(corpus_dir)
    os.makedirs(stream_dir)
    with open(os.path.join(corpus_dir, "baskets.txt"), "w") as f:
        f.write("\n".join(lines) + "\n")
    for i in range(STREAM_FILES):  # contiguous slices, one file per micro-batch
        part = lines[i * len(lines) // STREAM_FILES:(i + 1) * len(lines) // STREAM_FILES]
        with open(os.path.join(stream_dir, f"part-{i:04d}.txt"), "w") as f:
            f.write("\n".join(part) + "\n")
    q = np.percentile(lens, [50, 90, 99])
    summary["corpus"] = {
        "rows": len(lines),
        "bytes": os.path.getsize(os.path.join(corpus_dir, "baskets.txt")),
        "items": N_ITEMS,
        "zipf_s": ZIPF_S,
        "basket_len": {"min": min(lens), "p50": float(q[0]), "p90": float(q[1]),
                       "p99": float(q[2]), "max": max(lens),
                       "mean": round(sum(lens) / len(lens), 3)},
        "stream_files": STREAM_FILES,
    }
    with open(manifest + ".tmp", "w") as f:
        json.dump(summary, f)
    os.replace(manifest + ".tmp", manifest)
    return summary
