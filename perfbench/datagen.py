"""Seeded lake_ingest batches for the benchmark.

The base tables are fixed (`perfbench/data/<scale>`); only the batches
the lake_ingest workload commits come from the seed. They are drawn
against the base tables: upserts over existing and new order keys,
delete predicates, document and vector appends, and deletions of base
documents and vectors. The same seed and base tables always give the
same batches.
"""
import os

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
LANGS = ["en", "fr", "de", "es", "zh"]
TS = pa.timestamp("us")
NEW_ID_BASE = 10_000_000  # appended document and vector ids start here
PER_UPSERT, PER_APPEND, PER_DELETE = 40, 10, 3
DEL_MOD = 97  # the delete predicate is o_orderkey % DEL_MOD = r


def _days(rng, start, end, n):
    span = (np.datetime64(end, "D") - np.datetime64(start, "D")).astype(int)
    base = np.datetime64(start, "us")
    return base + rng.integers(0, span + 1, n).astype("timedelta64[D]").astype("timedelta64[us]")


def orders_table(rng, keys, n_cust):
    n = len(keys)
    return pa.table({
        "o_orderkey": pa.array(keys, pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n), pa.int64()),
        "o_orderstatus": pa.array(rng.choice(["F", "O", "P"], n).tolist(), pa.string()),
        "o_totalprice": pa.array(np.round(rng.uniform(1000, 500000, n), 2), pa.float64()),
        "o_orderdate": pa.array(_days(rng, "1995-01-01", "2001-08-01", n), TS),
        "o_orderpriority": pa.array(rng.choice(PRIORITIES, n).tolist(), pa.string()),
    })


def documents_table(rng, ids, vocab):
    texts = [" ".join(vocab[i] for i in rng.integers(0, len(vocab), int(k)))
             for k in rng.integers(8, 90, len(ids))]
    return pa.table({
        "doc_id": pa.array(ids, pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(rng.choice(LANGS, len(ids)).tolist(), pa.string()),
        "source": pa.array([f"src{i % 20}" for i in ids], pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def embeddings_table(rng, ids, base_vecs):
    """New vectors near base vectors, unit length, same dimension."""
    pick = rng.integers(0, len(base_vecs), len(ids))
    vecs = base_vecs[pick] + rng.normal(0, 0.12, (len(ids), base_vecs.shape[1]))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    return pa.table({
        "vec_id": pa.array(ids, pa.int64()),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, len(ids)), pa.int32()),
    })


def ids_table(name, ids):
    return pa.table({name: pa.array(ids, pa.int64())})


def _max(base, table, column):
    return pc.max(pq.read_table(f"{base}/{table}.parquet", columns=[column])[column]).as_py()


def generate(out, seed, base, batches):
    """Writes `batches` + 1 batch sets under `out` and `out/meta.tsv`;
    returns the per-batch (batch, delete modulus, delete residue, search
    term) rows."""
    rng = np.random.default_rng(seed)
    os.makedirs(out, exist_ok=True)
    n_ord = _max(base, "orders", "o_orderkey") + 1
    n_cust = _max(base, "customer", "c_custkey") + 1
    docs = pq.read_table(f"{base}/documents.parquet", columns=["doc_id", "text"])
    vocab = sorted({w for t in docs["text"].to_pylist() for w in t.lower().split()})
    emb = pq.read_table(f"{base}/embeddings.parquet", columns=["vec_id", "embedding"])
    base_vecs = np.array(emb["embedding"].to_pylist(), dtype=np.float64)
    # deleted ids never repeat, appended ids are always new
    doc_del = rng.permutation(np.array(docs["doc_id"].to_pylist()))
    vec_del = rng.permutation(np.array(emb["vec_id"].to_pylist()))
    meta = []
    for b in range(batches + 1):
        old = rng.choice(n_ord, PER_UPSERT // 2, replace=False)
        new = n_ord + b * PER_UPSERT + np.arange(PER_UPSERT // 2)
        pq.write_table(orders_table(rng, np.concatenate([old, new]), n_cust), f"{out}/upsert_{b}.parquet")
        added = NEW_ID_BASE + b * PER_APPEND + np.arange(PER_APPEND)
        pq.write_table(documents_table(rng, added, vocab), f"{out}/docs_{b}.parquet")
        pq.write_table(ids_table("doc_id", doc_del[b * PER_DELETE:(b + 1) * PER_DELETE]),
                       f"{out}/docdel_{b}.parquet")
        pq.write_table(embeddings_table(rng, added, base_vecs), f"{out}/vecs_{b}.parquet")
        pq.write_table(ids_table("vec_id", vec_del[b * PER_DELETE:(b + 1) * PER_DELETE]),
                       f"{out}/vecdel_{b}.parquet")
        meta.append((b, DEL_MOD, int(rng.integers(0, DEL_MOD)), vocab[int(rng.integers(0, len(vocab)))]))
    with open(f"{out}/meta.tsv", "w") as f:
        for m in meta:
            f.write("\t".join(map(str, m)) + "\n")
    return meta
