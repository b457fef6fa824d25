#!/usr/bin/env python3
"""Seeded input generator of the benchmark.

Content and layout are separate:

* Content is fixed per scale. A synthetic base corpus with the schema of the
  sf0.1 test corpus (TPC-H-like customer/orders/lineitem, an `events`
  stream, `documents`, `embeddings`), smaller, with the shape measured on
  that corpus (see SHAPE), is drawn from a fixed content seed, then
  replicated with the copy scheme of `graft.tools.GenScale`: every key column is offset by
  copy * (max key + 1); copy k > 0 of each document passes through a
  per-copy substitution cipher over a-z; copy k > 0 of each embedding is
  multiplied by a per-copy +-1 sign mask. The scheme is re-implemented here
  so that a change to the program's own generators cannot change the
  benchmark's inputs.
* Layout comes from --seed: each table's rows are permuted and cut into
  files at seed-chosen boundaries. The rows, and so every lane's correct
  output, do not depend on the seed.

Tables are written as directories of parquet files, `<out>/<table>.parquet/`.

    python3 perfbench/gen.py --workload ingest --seed 3 --out /some/dir
"""
import argparse
import hashlib
import json
import os
import shutil
import sys
import time

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

CONTENT_SEED = 20240101
MASK64 = (1 << 64) - 1

# The shape of the sf0.1 test corpus (the corpus graft.Verify and
# scripts/check.py run on), measured with DuckDB; the base corpus keeps these
# ratios and distributions at a smaller size.
SHAPE = {
    # 150,000 orders over 15,000 customers, 20,000 parts, 1,000 suppliers
    "orders_per_customer": 10, "orders_per_part": 7.5, "orders_per_supplier": 150,
    # 600,000 lineitems; l_orderkey is uniform over the orders, so lines per
    # order follow Poisson(4) (11,016 orders with one line, 29,097 with four,
    # 2.5 % with none); l_linenumber is uniform 1..7, l_shipdate uniform over
    # 1995-01-02..2001-11-04 and independent of o_orderdate
    "lines_per_order": 4,
    # 100,000 events over 1,500 users and 30 days, five event types in equal
    # shares; value is exponential with mean 50 (measured mean 49.87, median
    # 34.77); per-user density sets the click/purchase pairs stream_join finds
    "events_per_user": 100000 / 1500, "event_value_mean": 50.0,
    # 5,000 documents of 10..100 words (uniform, mean 54.1) over the 30 words
    # of VOCAB; 250 (5 %) end in the token "dup", and 128 of those repeat an
    # earlier document's words exactly (the other 122 are fresh texts), which
    # leaves 8 repeated texts; source is src<doc_id mod 20>
    "near_dup_rate": 0.05, "near_dup_copy_share": 128 / 250,
    # lang counts en 2,059, de 702, es 744, fr 742, zh 753
    "langs": {"en": 2059, "de": 702, "es": 744, "fr": 742, "zh": 753},
    # 2,000 64-dim unit vectors with no cluster structure (mean cosine
    # 1.8e-5 within a label, 1.3e-5 across); label uniform over 0..9 and
    # independent of the vector
    "labels": 10,
}

# Base sizes and copy factor per workload. Content depends only on these,
# SHAPE and the code below (see scale_name).
SCALES = {
    "ingest": {"tables": ["lineitem", "orders", "events"], "copies": 2,
               "orders": 20000, "events": 8000},
    "cdc_stream": {"tables": ["events"], "copies": 1, "events": 8000},
    "analytics": {"tables": ["documents", "embeddings", "customer"], "copies": 2,
                  "documents": 600, "vectors": 600, "dim": 64, "customers": 150},
}

FILES_PER_TABLE = 4
TABLES = ["customer", "documents", "embeddings", "events", "lineitem", "orders"]

VOCAB = ("spark window merge table column vector stream value data small join "
         "filter big group hash customer sort order slow line part fast row "
         "the agg key query a scan batch").split()


def splitmix64(seed):
    """graft.expressions.Sketch.splitmix64 on unsigned 64-bit ints."""
    z = (seed + 0x9E3779B97F4A7C15) & MASK64
    z = ((z ^ (z >> 30)) * 0xBF58476D1CE4E5B9) & MASK64
    z = ((z ^ (z >> 27)) * 0x94D9669B529CCF12) & MASK64
    return z ^ (z >> 31)


def signed64(u):
    return u - (1 << 64) if u >= (1 << 63) else u


def cipher(k):
    """GenScale's per-copy letter permutation (Fisher-Yates keyed by k)."""
    perm = list("abcdefghijklmnopqrstuvwxyz")
    if k > 0:
        for i in range(len(perm) - 1, 0, -1):
            # Java Math.floorMod(long, long): result has the divisor's sign
            j = signed64(splitmix64((k * 7919 + i) & MASK64)) % (i + 1)
            perm[i], perm[j] = perm[j], perm[i]
    return str.maketrans("abcdefghijklmnopqrstuvwxyz", "".join(perm))


def sign_mask(k, dim):
    """GenScale's per-copy +-1 embedding mask."""
    return np.array([1.0 if splitmix64((k * 100003 + i) & MASK64) & 1 == 0 else -1.0
                     for i in range(dim)], dtype=np.float32)


def ts_us(base, micros):
    return pa.array(np.datetime64(base, "us") + micros.astype("timedelta64[us]"),
                    type=pa.timestamp("us"))


# ---- base content -------------------------------------------------------

def base_customer(rng, n):
    keys = np.arange(n, dtype=np.int64)
    return pa.table({
        "c_custkey": keys,
        "c_name": [f"Customer#{k:09d}" for k in keys],
        "c_nationkey": rng.integers(0, 25, n).astype(np.int32),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n), 2),
        "c_mktsegment": rng.choice(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD",
                                    "MACHINERY"], n),
    })


def base_orders(rng, n, n_cust):
    days = rng.integers(0, 2405, n)  # 1995-01-01 .. 2001-08-01
    return pa.table({
        "o_orderkey": np.arange(n, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n).astype(np.int64),
        "o_orderstatus": rng.choice(["F", "O", "P"], n),
        "o_totalprice": np.round(rng.uniform(1000.0, 500000.0, n), 2),
        "o_orderdate": ts_us("1995-01-01", days * 86400 * 10**6),
        "o_orderpriority": rng.choice(["1-URGENT", "2-HIGH", "3-MEDIUM",
                                       "4-NOT SPECIFIED", "5-LOW"], n),
    })


def base_lineitem(rng, n_orders, n_parts, n_supp):
    n = n_orders * SHAPE["lines_per_order"]
    ship = rng.integers(0, 2499, n)  # 1995-01-02 .. 2001-11-04
    return pa.table({
        "l_orderkey": rng.integers(0, n_orders, n).astype(np.int64),
        "l_partkey": rng.integers(0, n_parts, n).astype(np.int64),
        "l_suppkey": rng.integers(0, n_supp, n).astype(np.int64),
        "l_linenumber": rng.integers(1, 8, n).astype(np.int32),
        "l_quantity": rng.integers(1, 51, n).astype(np.float64),
        "l_extendedprice": np.round(rng.uniform(900.0, 105000.0, n), 2),
        "l_discount": np.round(rng.uniform(0.0, 0.1, n), 2),
        "l_tax": np.round(rng.uniform(0.0, 0.08, n), 2),
        "l_returnflag": rng.choice(["A", "N", "R"], n),
        "l_linestatus": rng.choice(["F", "O"], n),
        "l_shipdate": ts_us("1995-01-02", ship * 86400 * 10**6),
    })


def base_events(rng, n, n_users):
    # 30 days of events in time order, as the test corpus has them
    micros = np.sort(rng.integers(0, 30 * 86400 * 10**6, n))
    return pa.table({
        "event_id": np.arange(n, dtype=np.int64),
        "ts": ts_us("2024-01-01", micros),
        "user_id": rng.integers(0, n_users, n).astype(np.int64),
        "event_type": rng.choice(["view", "click", "purchase", "signup", "error"], n),
        "value": np.round(rng.exponential(SHAPE["event_value_mean"], n), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)],
    })


def base_documents(rng, n):
    def fresh():
        k = int(rng.integers(10, 101))
        return [VOCAB[j] for j in rng.integers(0, len(VOCAB), k)]

    texts = []
    for i in range(n):
        if i > 10 and rng.random() < SHAPE["near_dup_rate"]:
            # a near-duplicate: an earlier document's words, or fresh ones,
            # followed by the token "dup"
            if rng.random() < SHAPE["near_dup_copy_share"]:
                words = [w for w in texts[int(rng.integers(0, i))].split() if w != "dup"]
            else:
                words = fresh()
            texts.append(" ".join(words + ["dup"]))
        else:
            texts.append(" ".join(fresh()))
    langs = sorted(SHAPE["langs"])
    share = np.array([SHAPE["langs"][x] for x in langs], dtype=np.float64)
    return pa.table({
        "doc_id": np.arange(n, dtype=np.int64),
        "text": texts,
        "lang": rng.choice(langs, n, p=share / share.sum()),
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })


def base_embeddings(rng, n, dim):
    labels = rng.integers(0, SHAPE["labels"], n).astype(np.int32)
    vecs = rng.normal(0.0, 1.0, (n, dim))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    return labels, vecs.astype(np.float32)


def embeddings_table(ids, vecs, labels):
    dim = vecs.shape[1]
    flat = pa.array(vecs.reshape(-1), type=pa.float32())
    offsets = pa.array(np.arange(0, len(ids) * dim + 1, dim, dtype=np.int32))
    return pa.table({
        "vec_id": ids,
        "embedding": pa.ListArray.from_arrays(offsets, flat),
        "label": labels,
    })


# ---- GenScale copies ----------------------------------------------------

def derived(cfg, size, per):
    """A key range that keeps the corpus's ratio: e.g. customers = orders / 10."""
    return max(1, round(cfg[size] / SHAPE[per]))


def offset(t, col, k, span):
    i = t.schema.get_field_index(col)
    return t.set_column(i, col, pa.array(t[col].to_numpy() + k * span))


def scaled(name, cfg):
    """The content of table `name` at scale `cfg`: base x copies."""
    rng = np.random.default_rng([CONTENT_SEED, TABLES.index(name)])
    copies = cfg["copies"]
    if name == "customer":
        base = base_customer(rng, cfg["customers"])
        span = cfg["customers"]
        parts = [offset(base, "c_custkey", k, span) for k in range(copies)]
    elif name == "orders":
        n_cust = derived(cfg, "orders", "orders_per_customer")
        base = base_orders(rng, cfg["orders"], n_cust)
        parts = [offset(offset(base, "o_orderkey", k, cfg["orders"]), "o_custkey", k, n_cust)
                 for k in range(copies)]
    elif name == "lineitem":
        n_parts = derived(cfg, "orders", "orders_per_part")
        n_supp = derived(cfg, "orders", "orders_per_supplier")
        base = base_lineitem(rng, cfg["orders"], n_parts, n_supp)
        parts = [offset(offset(offset(base, "l_orderkey", k, cfg["orders"]),
                               "l_partkey", k, n_parts),
                        "l_suppkey", k, n_supp) for k in range(copies)]
    elif name == "events":
        users = derived(cfg, "events", "events_per_user")
        base = base_events(rng, cfg["events"], users)
        parts = [offset(offset(base, "event_id", k, cfg["events"]), "user_id", k, users)
                 for k in range(copies)]
    elif name == "documents":
        base = base_documents(rng, cfg["documents"])
        parts = []
        for k in range(copies):
            t = offset(base, "doc_id", k, cfg["documents"])
            if k > 0:
                tr = cipher(k)
                t = t.set_column(1, "text", pa.array([s.translate(tr) for s in
                                                      t["text"].to_pylist()]))
            parts.append(t)
    elif name == "embeddings":
        labels, vecs = base_embeddings(rng, cfg["vectors"], cfg["dim"])
        n = cfg["vectors"]
        parts = [embeddings_table(np.arange(n, dtype=np.int64) + k * n,
                                  vecs * sign_mask(k, cfg["dim"]) if k else vecs, labels)
                 for k in range(copies)]
    else:
        raise ValueError(name)
    return pa.concat_tables(parts)


# ---- seeded layout ------------------------------------------------------

def layout(table, name, seed):
    """Permute rows and cut them into FILES_PER_TABLE files at seed-chosen
    boundaries (each file 10-40 % of the rows)."""
    rng = np.random.default_rng([seed, TABLES.index(name)])
    n = table.num_rows
    perm = rng.permutation(n)
    w = rng.uniform(1.0, 4.0, FILES_PER_TABLE)
    cuts = np.concatenate([[0], np.round(np.cumsum(w) / w.sum() * n).astype(int)])
    shuffled = table.take(pa.array(perm))
    return [shuffled.slice(cuts[i], cuts[i + 1] - cuts[i]) for i in range(FILES_PER_TABLE)]


def scale_name(workload):
    """Names the content: a hash of the workload's sizes and of this file,
    so that a change to the sizes or to the generator cannot reuse inputs
    cached under, or digests recorded for, other content."""
    h = hashlib.sha256(json.dumps(SCALES[workload], sort_keys=True).encode())
    with open(os.path.abspath(__file__), "rb") as fh:
        h.update(fh.read())
    return f"{workload}-{h.hexdigest()[:10]}"


def generate(workload, seed, out):
    """Write the workload's tables for `seed` to `out`; return seconds taken."""
    t0 = time.time()
    cfg = SCALES[workload]
    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    for name in cfg["tables"]:
        d = os.path.join(tmp, f"{name}.parquet")
        os.makedirs(d)
        for i, part in enumerate(layout(scaled(name, cfg), name, seed)):
            pq.write_table(part, os.path.join(d, f"part-{i:05d}.parquet"))
    shutil.rmtree(out, ignore_errors=True)
    os.rename(tmp, out)
    return time.time() - t0


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(SCALES))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--out", required=True)
    a = ap.parse_args()
    print(f"{generate(a.workload, a.seed, a.out):.2f}s -> {a.out}", file=sys.stderr)


if __name__ == "__main__":
    main()
