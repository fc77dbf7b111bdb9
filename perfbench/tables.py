"""Seeded generator for the star-schema tables the registry queries read.

Writes one parquet file per table (`region nation customer supplier part
orders lineitem events documents embeddings`) with the column names and
physical types of the engine's fixture tables, so `graft.core.Tables.load`
and the DuckDB oracles read them exactly as they read the fixtures. The
same seed gives the same bytes.

`documents` carries curation work on purpose: a share of documents are
near-copies of earlier ones (edited in a few words) and a share splice in
a passage of an early document (`doc_id < EVAL_DOCS`), so near-dup cuts and
eval-gram decontamination both fire.
"""

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

EVAL_DOCS = 200

VOCAB = ("row the query stream fast spark line small customer group value hash "
         "batch sort data big filter dup key agg scan slow table part a merge "
         "window order column join vector").split()
LANGS = ["en", "de", "fr", "es", "zh"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
PART_ADJ = ["red", "blue", "small", "large", "hot", "cold", "old", "new"]
PART_NOUN = ["widget", "bolt", "gear", "ring", "rod", "plate", "anvil", "gizmo"]
PART_TYPES = ["ECONOMY", "STANDARD", "LARGE", "SMALL", "MEDIUM", "PROMO"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]

# rows per table, as in the fixtures' sf0.001
SIZES = {"customer": 150, "supplier": 10, "part": 200, "orders": 1500,
         "lineitem": 6000, "events": 1000}


def _write(out_dir, name, cols):
    pq.write_table(pa.table(cols), f"{out_dir}/{name}.parquet")


def _ts(base, seconds):
    return pa.array((np.datetime64(base, "us")
                     + (np.asarray(seconds) * 1e6).astype("timedelta64[us]")),
                    pa.timestamp("us"))


def _doc_texts(rng, n):
    texts = []
    for i in range(n):
        kind = rng.random()
        if i >= EVAL_DOCS and kind < 0.12:
            # near-copy of an earlier document: a few words replaced
            words = texts[int(rng.integers(0, i))].split()
            for j in rng.integers(0, len(words), size=max(1, len(words) // 25)):
                words[j] = VOCAB[int(rng.integers(0, len(VOCAB)))]
        else:
            words = [VOCAB[k] for k in rng.integers(0, len(VOCAB), size=int(rng.integers(10, 100)))]
            if i >= EVAL_DOCS and kind < 0.20:
                # leak a 12-word passage of an eval document
                src = texts[int(rng.integers(0, EVAL_DOCS))].split()
                at = int(rng.integers(0, max(1, len(src) - 12)))
                cut = int(rng.integers(0, len(words)))
                words = words[:cut] + src[at:at + 12] + words[cut:]
        texts.append(" ".join(words))
    return texts


def generate(out_dir, seed, docs=500, vectors=500, dim=64):
    rng = np.random.default_rng(seed)
    n = SIZES

    _write(out_dir, "region", {"r_regionkey": pa.array(range(5), pa.int32()),
                               "r_name": REGIONS})
    _write(out_dir, "nation", {
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})

    def money(lo, hi, size):
        return np.round(rng.uniform(lo, hi, size), 2)

    nc = n["customer"]
    _write(out_dir, "customer", {
        "c_custkey": pa.array(range(nc), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(nc)],
        "c_nationkey": pa.array(rng.integers(0, 25, nc), pa.int32()),
        "c_acctbal": money(-999.99, 9999.99, nc),
        "c_mktsegment": [SEGMENTS[k] for k in rng.integers(0, 5, nc)]})

    ns = n["supplier"]
    _write(out_dir, "supplier", {
        "s_suppkey": pa.array(range(ns), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(ns)],
        "s_nationkey": pa.array(rng.integers(0, 25, ns), pa.int32()),
        "s_acctbal": money(-999.99, 9999.99, ns)})

    npart = n["part"]
    _write(out_dir, "part", {
        "p_partkey": pa.array(range(npart), pa.int64()),
        "p_name": [f"{PART_ADJ[a]} {PART_NOUN[b]}" for a, b in
                   zip(rng.integers(0, 8, npart), rng.integers(0, 8, npart))],
        "p_brand": [f"Brand#{k}" for k in rng.integers(1, 26, npart)],
        "p_type": [PART_TYPES[k] for k in rng.integers(0, 6, npart)],
        "p_size": pa.array(rng.integers(1, 51, npart), pa.int32()),
        "p_retailprice": np.round(900.0 + (np.arange(npart) % 1000) * 0.1, 2)})

    no = n["orders"]
    _write(out_dir, "orders", {
        "o_orderkey": pa.array(range(no), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, nc, no), pa.int64()),
        "o_orderstatus": [("F", "O", "P")[k] for k in rng.integers(0, 3, no)],
        "o_totalprice": money(1000.0, 500000.0, no),
        "o_orderdate": _ts("1995-01-01", rng.integers(0, 2404, no) * 86400),
        "o_orderpriority": [PRIORITIES[k] for k in rng.integers(0, 5, no)]})

    nl = n["lineitem"]
    qty = rng.integers(1, 51, nl).astype(float)
    _write(out_dir, "lineitem", {
        "l_orderkey": pa.array(rng.integers(0, no, nl), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, npart, nl), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, ns, nl), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, nl), pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900.0, 2100.0, nl), 2),
        "l_discount": np.round(rng.integers(0, 11, nl) * 0.01, 2),
        "l_tax": np.round(rng.integers(0, 9, nl) * 0.01, 2),
        "l_returnflag": [("A", "N", "R")[k] for k in rng.integers(0, 3, nl)],
        "l_linestatus": [("F", "O")[k] for k in rng.integers(0, 2, nl)],
        "l_shipdate": _ts("1995-01-02", rng.integers(0, 2499, nl) * 86400)})

    ne = n["events"]
    _write(out_dir, "events", {
        "event_id": pa.array(range(ne), pa.int64()),
        "ts": _ts("2024-01-01", np.sort(rng.uniform(0, 30 * 86400, ne))),
        "user_id": pa.array(rng.integers(0, max(2, ne * 3 // 200), ne), pa.int64()),
        "event_type": [EVENT_TYPES[k] for k in rng.integers(0, 5, ne)],
        "value": np.round(np.minimum(rng.exponential(50.0, ne), 490.0) + 0.01, 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, ne)]})

    texts = _doc_texts(rng, docs)
    _write(out_dir, "documents", {
        "doc_id": pa.array(range(docs), pa.int64()),
        "text": texts,
        "lang": [LANGS[k] for k in rng.integers(0, 5, docs)],
        "source": [f"src{k}" for k in rng.integers(0, 20, docs)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64())})

    centroids = rng.normal(0.0, 1.0, (10, dim))
    labels = rng.integers(0, 10, vectors)
    vecs = centroids[labels] + rng.normal(0.0, 1.6, (vectors, dim))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    _write(out_dir, "embeddings", {
        "vec_id": pa.array(range(vectors), pa.int64()),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32())})
