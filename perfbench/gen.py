"""Seeded generator for the benchmark corpus.

Writes the ten tables the engine's registry reads (`region nation customer
supplier part orders lineitem events documents embeddings`, one parquet file
each) with the column types and value domains of the shipped test corpus:
TPC-H-like keys and categories, order dates 1995-01-01..2001-08-01, January
2024 events, 64-dimensional unit embeddings, and documents drawn from a
31-word vocabulary of which 5% are near-duplicates (" dup" appended to an
earlier text). Row counts scale with `sf` as in TPC-H (lineitem = 6M x sf),
documents and embeddings with `docs_sf`. These tables come from a fixed seed,
so every benchmark seed measures the same corpus; the benchmark seed draws the
operation order and the churn append sequence only.

With `churn` it also writes the append batches of the churn workload under
`<outDir>/churn`: the initial documents and embeddings, one batch of each
(disjoint copies of a 10% sample of the initial rows drawn from `seed`: ids
shifted, text tagged, vectors jittered) and the probe queries.

Usage: python3 gen.py <outDir> <sf> <docs_sf> <seed> [churn]
"""
import datetime
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = ("merge window customer spark part group stream filter the sort scan "
         "vector join query big hash column data agg table line small slow "
         "key fast order row value a batch").split()
LANGS = np.array(["en", "de", "fr", "es", "zh"])
LANG_P = [0.41, 0.1475, 0.1475, 0.1475, 0.1475]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"])
PTYPES = np.array(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"])
ADJ = np.array("blue cold hot large new old red small".split())
NOUN = np.array("anvil bolt gear gizmo plate ring rod widget".split())
PRIORITIES = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])
EVENT_TYPES = np.array(["click", "error", "purchase", "signup", "view"])


def money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def ts_us(rng, start, days, n, whole_days):
    base = np.datetime64(start, "us")
    if whole_days:
        off = rng.integers(0, days + 1, n).astype("timedelta64[D]")
    else:
        off = rng.integers(0, days * 86400 * 10**6, n).astype("timedelta64[us]")
    return pa.array(base + off, pa.timestamp("us"))


def texts(rng, n):
    lens = rng.integers(10, 101, n)
    words = rng.integers(0, len(VOCAB), (n, 100))
    vocab = np.array(VOCAB)
    out = [" ".join(vocab[words[i, :lens[i]]]) for i in range(n)]
    # near-duplicates: an earlier document's text with one extra token
    for i in np.nonzero(rng.random(n) < 0.05)[0]:
        if i > 0:
            out[i] = out[rng.integers(0, i)] + " dup"
    return out


BASE_SEED = 42


def generate(out_dir, sf, docs_sf, seed, churn=False):
    rng = np.random.default_rng(BASE_SEED)
    n_cust, n_supp, n_part = int(150000 * sf), max(int(10000 * sf), 10), int(200000 * sf)
    n_ord, n_li, n_ev = int(1500000 * sf), int(6000000 * sf), int(1000000 * sf)
    n_doc, n_emb = int(50000 * docs_sf), int(20000 * docs_sf)
    i32, i64 = pa.int32(), pa.int64()
    tables = {
        "region": {"r_regionkey": pa.array(range(5), i32), "r_name": REGIONS},
        "nation": {"n_nationkey": pa.array(range(25), i32),
                   "n_name": [f"NATION_{i}" for i in range(25)],
                   "n_regionkey": pa.array([i % 5 for i in range(25)], i32)},
        "customer": {"c_custkey": pa.array(np.arange(n_cust), i64),
                     "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
                     "c_nationkey": pa.array(rng.integers(0, 25, n_cust), i32),
                     "c_acctbal": money(rng, -999.99, 9999.99, n_cust),
                     "c_mktsegment": SEGMENTS[rng.integers(0, 5, n_cust)]},
        "supplier": {"s_suppkey": pa.array(np.arange(n_supp), i64),
                     "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
                     "s_nationkey": pa.array(rng.integers(0, 25, n_supp), i32),
                     "s_acctbal": money(rng, -999.99, 9999.99, n_supp)},
        "part": {"p_partkey": pa.array(np.arange(n_part), i64),
                 "p_name": np.char.add(np.char.add(ADJ[rng.integers(0, 8, n_part)], " "),
                                       NOUN[rng.integers(0, 8, n_part)]),
                 "p_brand": np.char.add("Brand#", rng.integers(1, 26, n_part).astype(str)),
                 "p_type": PTYPES[rng.integers(0, 6, n_part)],
                 "p_size": pa.array(rng.integers(1, 51, n_part), i32),
                 "p_retailprice": money(rng, 900.0, 999.9, n_part)},
        "orders": {"o_orderkey": pa.array(np.arange(n_ord), i64),
                   "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), i64),
                   "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)],
                   "o_totalprice": money(rng, 1000.0, 500000.0, n_ord),
                   "o_orderdate": ts_us(rng, "1995-01-01", 2403, n_ord, True),
                   "o_orderpriority": PRIORITIES[rng.integers(0, 5, n_ord)]},
    }
    qty = rng.integers(1, 51, n_li).astype(np.float64)
    tables["lineitem"] = {
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_li), i64),
        "l_partkey": pa.array(rng.integers(0, n_part, n_li), i64),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), i64),
        "l_linenumber": pa.array(rng.integers(1, 8, n_li), i32),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(18.0, 2100.0, n_li), 2),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_li)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_li)],
        "l_shipdate": ts_us(rng, "1995-01-02", 2498, n_li, True)}
    tables["events"] = {
        "event_id": pa.array(np.arange(n_ev), i64),
        "ts": ts_us(rng, "2024-01-01", 30, n_ev, False),
        "user_id": pa.array(rng.integers(0, max(int(15000 * sf), 1), n_ev), i64),
        "event_type": EVENT_TYPES[rng.integers(0, 5, n_ev)],
        "value": np.round(rng.exponential(50.0, n_ev), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]}
    doc_text = texts(rng, n_doc)
    tables["documents"] = {
        "doc_id": pa.array(np.arange(n_doc), i64),
        "text": doc_text,
        "lang": LANGS[rng.choice(5, n_doc, p=LANG_P)],
        "source": [f"src{i % 20}" for i in range(n_doc)],
        "n_chars": pa.array([len(t) for t in doc_text], i64)}
    emb = rng.standard_normal((n_emb, 64)).astype(np.float32)
    emb /= np.linalg.norm(emb, axis=1, keepdims=True)
    tables["embeddings"] = {
        "vec_id": pa.array(np.arange(n_emb), i64),
        "embedding": pa.array(list(emb), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_emb), i32)}
    os.makedirs(out_dir, exist_ok=True)
    counts = {}
    for name, cols in tables.items():
        tbl = pa.table(cols)
        pq.write_table(tbl, os.path.join(out_dir, f"{name}.parquet"))
        counts[name] = tbl.num_rows
    if churn:
        counts.update(churn_batches(os.path.join(out_dir, "churn"),
                                    np.random.default_rng(seed), tables))
    return counts


BATCH_FRAC = 0.1


def churn_batches(out_dir, rng, tables):
    os.makedirs(out_dir, exist_ok=True)
    docs, embs = pa.table(tables["documents"]), pa.table(tables["embeddings"])
    out = {"churn/documents_initial": docs, "churn/embeddings_initial": embs}
    vecs = np.stack(embs.column("embedding").to_numpy(zero_copy_only=False))
    shift = 10**9
    take = np.sort(rng.choice(docs.num_rows, int(docs.num_rows * BATCH_FRAC), replace=False))
    text = [t + " copytag" for t in docs.column("text").take(take).to_pylist()]
    out["churn/documents_batch"] = pa.table({
        "doc_id": pa.array(docs.column("doc_id").take(take).to_numpy() + shift, pa.int64()),
        "text": text,
        "lang": docs.column("lang").take(take),
        "source": docs.column("source").take(take),
        "n_chars": pa.array([len(t) for t in text], pa.int64())})
    take = np.sort(rng.choice(embs.num_rows, int(embs.num_rows * BATCH_FRAC), replace=False))
    v = vecs[take] + rng.normal(0, 0.05, (len(take), vecs.shape[1])).astype(np.float32)
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    out["churn/embeddings_batch"] = pa.table({
        "vec_id": pa.array(embs.column("vec_id").take(take).to_numpy() + shift, pa.int64()),
        "embedding": pa.array(list(v), pa.list_(pa.float32())),
        "label": embs.column("label").take(take)})
    out["churn/queries"] = pa.table({
        "query_id": embs.column("vec_id").slice(0, 16),
        "q_emb": embs.column("embedding").slice(0, 16)})
    for name, tbl in out.items():
        pq.write_table(tbl, os.path.join(os.path.dirname(out_dir), f"{name}.parquet"))
    return {k: t.num_rows for k, t in out.items()}


if __name__ == "__main__":
    a = sys.argv[1:]
    print(generate(a[0], float(a[1]), float(a[2]), int(a[3]), a[4:5] == ["churn"]))
