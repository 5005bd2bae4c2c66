"""Seeded input generator for the graft benchmark.

Writes, under one work directory, everything a workload reads:

* ``tables/<name>.parquet`` -- documents, embeddings, part and lineitem
  with the column names, types and value domains of graft's reference
  testdata, at a chosen size;
* workload extras: planted near-duplicate documents and an eval set
  (``curate_train``), index deltas and serve batches (``index_lifecycle``);
* ``inputs.json`` -- the input properties each workload reports: rows,
  bytes, duplicate share, delta share and read:write mix.

The same seed always gives byte-identical inputs.

    python3 gen.py --workload curate_train --seed 7 --out WORKDIR
"""
import argparse
import datetime as dt
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

WORDS = ["join", "hash", "row", "batch", "scan", "customer", "column", "filter",
         "small", "slow", "merge", "order", "vector", "line", "data", "table",
         "agg", "value", "key", "stream", "window", "spark", "a", "group",
         "part", "big", "sort", "query", "fast", "the"]
LANGS = ["en", "en", "en", "de", "fr", "es", "zh"]
PART_ADJ = ["blue", "old", "small", "new", "hot", "large", "cold", "red"]
PART_NOUN = ["widget", "gizmo", "ring", "gear", "bolt", "plate", "anvil", "rod"]
PART_TYPES = ["ECONOMY", "STANDARD", "LARGE", "SMALL", "MEDIUM", "PROMO"]
DIM = 64

# Per-workload sizing: scale factor of the star schema and document count.
SIZES = {
    "curate_train": {"sf": 0.01, "docs": 1500, "vectors": 100},
    "index_lifecycle": {"sf": 0.001, "docs": 1000, "vectors": 1000},
}
DUP_SHARE = 0.10       # curate_train: planted near-dup copies / original docs
EVAL_CONTAMINATED = 30  # curate_train: eval docs copied from the corpus
EVAL_FRESH = 30         # curate_train: eval docs absent from the corpus
# curate_train: W1's training set is the same for every seed. L-BFGS takes a
# data-dependent number of function evaluations, so with the fit's few
# iterations its time differed by 1.7x between seeds (2.1 s vs 3.5 s).
TRAIN_SEED = 0
DELTA_SHARE = 0.02      # index_lifecycle: delta rows / indexed rows
SERVE_BATCHES = 1       # index_lifecycle: serve batches per family and pass
REFRESHES = 1           # index_lifecycle: refreshes per family and pass
QUERIES_PER_BATCH = 16


def ts_us(d):
    return int((d - dt.datetime(1970, 1, 1)).total_seconds() * 1_000_000)


def uniform_days(rng, n, lo, hi):
    lo_us, hi_us = ts_us(lo), ts_us(hi)
    days = rng.integers(0, (hi_us - lo_us) // 86_400_000_000 + 1, n)
    return pa.array(lo_us + days * 86_400_000_000, pa.timestamp("us"))


def text_of(rng, n_words):
    return " ".join(WORDS[i] for i in rng.integers(0, len(WORDS), n_words))


def documents(rng, n, first_id=0):
    """Documents of 10-100 words; about 5% are copies of an earlier document
    with " dup" appended, as in the reference testdata."""
    texts = []
    for i in range(n):
        if i > 0 and rng.random() < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            texts.append(text_of(rng, int(rng.integers(10, 101))))
    ids = np.arange(first_id, first_id + n, dtype=np.int64)
    return pa.table({
        "doc_id": ids,
        "text": texts,
        "lang": [LANGS[i] for i in rng.integers(0, len(LANGS), n)],
        "source": [f"src{i % 20}" for i in ids],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })


def unit_vectors(rng, n, centers):
    labels = rng.integers(0, len(centers), n).astype(np.int32)
    v = centers[labels] + rng.normal(0.0, 0.08, (n, DIM))
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    return v.astype(np.float32), labels


def base_tables(rng, sf, n_docs, n_vectors):
    """The tables the workloads read: documents and embeddings, part (the
    restaurants workload's input) and lineitem (the scan calibration
    anchor), with the reference testdata's columns and value domains."""
    n_part, n_line = max(200, int(200_000 * sf)), max(6000, int(6_000_000 * sf))
    t = {}
    t["part"] = pa.table({
        "p_partkey": np.arange(n_part, dtype=np.int64),
        "p_name": [f"{PART_ADJ[a]} {PART_NOUN[b]}" for a, b in
                   zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))],
        "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, n_part)],
        "p_type": [PART_TYPES[i] for i in rng.integers(0, 6, n_part)],
        "p_size": rng.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) / 10.0, 1)})
    qty = rng.integers(1, 51, n_line).astype(np.float64)
    t["lineitem"] = pa.table({
        "l_orderkey": rng.integers(0, n_line // 4, n_line).astype(np.int64),
        "l_partkey": rng.integers(0, n_part, n_line).astype(np.int64),
        "l_suppkey": rng.integers(0, max(10, n_part // 20), n_line).astype(np.int64),
        "l_linenumber": rng.integers(1, 8, n_line).astype(np.int32),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900.0, 3000.0, n_line), 2),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": [("A", "N", "R")[i] for i in rng.integers(0, 3, n_line)],
        "l_linestatus": [("O", "F")[i] for i in rng.integers(0, 2, n_line)],
        "l_shipdate": uniform_days(rng, n_line, dt.datetime(1995, 1, 2), dt.datetime(2001, 11, 4))})
    t["documents"] = documents(rng, n_docs)
    centers = rng.normal(0.0, 1.0, (10, DIM))
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)
    vecs, labels = unit_vectors(rng, n_vectors, centers)
    t["embeddings"] = pa.table({
        "vec_id": np.arange(n_vectors, dtype=np.int64),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": labels})
    return t, centers


def write(table, path):
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path)
    return {"rows": table.num_rows, "bytes": os.path.getsize(path)}


def curate_extras(rng, docs, out):
    """Planted near-dups (copy + one appended word: 5-gram Jaccard >= 0.8 for
    any document of 10+ words), an eval set half copied from the corpus, and
    W1's training set."""
    n = docs.num_rows
    texts = docs.column("text").to_pylist()
    n_dup = int(round(n * DUP_SHARE))
    src = rng.choice(n, n_dup, replace=False)
    dup_text = [texts[i] + " " + WORDS[int(rng.integers(0, len(WORDS)))] for i in src]
    dups = pa.table({
        "doc_id": np.arange(n, n + n_dup, dtype=np.int64),
        "text": dup_text,
        "lang": [docs.column("lang")[int(i)].as_py() for i in src],
        "source": [f"src{i % 20}" for i in range(n, n + n_dup)],
        "n_chars": np.array([len(t) for t in dup_text], dtype=np.int64)})
    corpus = pa.concat_tables([docs, dups])
    copied = rng.choice(n, EVAL_CONTAMINATED, replace=False)
    eval_text = [texts[i] for i in copied] + [text_of(rng, int(rng.integers(20, 60)))
                                              for _ in range(EVAL_FRESH)]
    ev = pa.table({"doc_id": np.arange(1_000_000, 1_000_000 + len(eval_text), dtype=np.int64),
                   "text": eval_text})
    train = documents(np.random.default_rng(TRAIN_SEED), n)
    return {"corpus": write(corpus, f"{out}/curate/corpus.parquet"),
            "eval": write(ev, f"{out}/curate/eval.parquet"),
            "train": write(train, f"{out}/curate/train.parquet"),
            "planted_dups": n_dup, "dup_share": DUP_SHARE}


def index_extras(rng, docs, emb, centers, out):
    """Deltas for each index family and the serve batches of one pass."""
    n_docs, n_vec = docs.num_rows, emb.num_rows
    k = max(4, int(round(n_docs * DELTA_SHARE)))
    texts = docs.column("text").to_pylist()
    info = {"delta_share": DELTA_SHARE}
    # eval split for the Bloom family: every 10th doc is the base eval set,
    # the delta adds k fresh eval docs
    ids = np.arange(n_docs)
    info["bloom_base"] = write(docs.filter(pa.array(ids % 10 == 0)), f"{out}/index/bloom_eval.parquet")
    info["bloom_corpus"] = write(docs.filter(pa.array(ids % 10 != 0)), f"{out}/index/bloom_corpus.parquet")
    add_text = [text_of(rng, int(rng.integers(20, 80))) for _ in range(k)]
    fresh = pa.table({"doc_id": np.arange(2 * n_docs, 2 * n_docs + k, dtype=np.int64),
                      "text": add_text})
    info["bloom_delta"] = write(fresh, f"{out}/index/bloom_delta.parquet")
    # BM25: add-only delta of fresh doc ids
    info["bm25_delta"] = write(fresh, f"{out}/index/bm25_delta.parquet")
    # bands: a change feed of added / removed / changed docs
    removed = rng.choice(n_docs, k, replace=False)
    changed = np.setdiff1d(rng.choice(n_docs, 2 * k, replace=False), removed)[:k]
    band = pa.table({
        "doc_id": np.concatenate([fresh.column("doc_id").to_numpy(), removed, changed]).astype(np.int64),
        "status": ["added"] * k + ["removed"] * len(removed) + ["changed"] * len(changed),
        "text": add_text + [texts[i] for i in removed] + [texts[i] + " freshly appended clause" for i in changed]})
    info["band_delta"] = write(band, f"{out}/index/band_delta.parquet")
    # ANN: added / removed / changed vectors as (vec_id, status, v: array<double>)
    kv = max(4, int(round(n_vec * DELTA_SHARE)))
    new_v, _ = unit_vectors(rng, kv, centers)
    rem_v = rng.choice(n_vec, kv, replace=False)
    chg_v = np.setdiff1d(rng.choice(n_vec, 2 * kv, replace=False), rem_v)[:kv]
    old = emb.column("embedding").to_pylist()
    ann = pa.table({
        "vec_id": np.concatenate([np.arange(2 * n_vec, 2 * n_vec + kv), rem_v, chg_v]).astype(np.int64),
        "status": ["added"] * kv + ["removed"] * len(rem_v) + ["changed"] * len(chg_v),
        "v": pa.array([list(map(float, v)) for v in new_v] + [old[i] for i in rem_v]
                      + [[-x for x in old[i]] for i in chg_v], pa.list_(pa.float64()))})
    info["ann_delta"] = write(ann, f"{out}/index/ann_delta.parquet")
    # serve batches: ANN query vectors, BM25 term lists, band incoming docs
    # (half re-keyed copies of standing docs, so alerts are never empty),
    # Bloom corpus batches
    nb = SERVE_BATCHES * QUERIES_PER_BATCH
    qv, _ = unit_vectors(rng, nb, centers)
    info["ann_queries"] = write(pa.table({
        "batch": np.repeat(np.arange(SERVE_BATCHES), QUERIES_PER_BATCH).astype(np.int32),
        "query_id": np.arange(nb, dtype=np.int64),
        "qv": pa.array([list(map(float, v)) for v in qv], pa.list_(pa.float64()))}),
        f"{out}/index/ann_queries.parquet")
    info["bm25_queries"] = write(pa.table({
        "batch": np.repeat(np.arange(SERVE_BATCHES), QUERIES_PER_BATCH).astype(np.int32),
        "query_id": np.arange(nb, dtype=np.int64),
        "terms": [[WORDS[i] for i in rng.choice(len(WORDS), int(rng.integers(1, 4)), replace=False)]
                  for _ in range(nb)]}), f"{out}/index/bm25_queries.parquet")
    copies = rng.choice(n_docs, nb, replace=False)
    info["band_incoming"] = write(pa.table({
        "batch": np.repeat(np.arange(SERVE_BATCHES), QUERIES_PER_BATCH).astype(np.int32),
        "doc_id": np.arange(3 * n_docs, 3 * n_docs + nb, dtype=np.int64),
        "text": [texts[i] if j % 2 == 0 else text_of(rng, int(rng.integers(20, 80)))
                 for j, i in enumerate(copies)]}), f"{out}/index/band_incoming.parquet")
    info["read_write_mix"] = f"{SERVE_BATCHES}:{REFRESHES} per family"
    return info


def generate(workload, seed, out):
    size = SIZES[workload]
    rng = np.random.default_rng(seed)
    tables, centers = base_tables(rng, size["sf"], size["docs"], size["vectors"])
    info = {"workload": workload, "seed": seed, "sf": size["sf"], "tables": {}}
    for name, t in tables.items():
        info["tables"][name] = write(t, f"{out}/tables/{name}.parquet")
    if workload == "curate_train":
        info.update(curate_extras(rng, tables["documents"], out))
    if workload == "index_lifecycle":
        info.update(index_extras(rng, tables["documents"], tables["embeddings"], centers, out))
    with open(f"{out}/inputs.json", "w") as f:
        json.dump(info, f, indent=1, sort_keys=True)
    return info


if __name__ == "__main__":
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(SIZES))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--out", required=True)
    a = ap.parse_args()
    print(json.dumps(generate(a.workload, a.seed, a.out), sort_keys=True))
