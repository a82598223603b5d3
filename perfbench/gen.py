"""Seeded input generation for the graft benchmark.

Every table is a pure function of (workload, seed): numpy's PCG64 drives all
values and pyarrow writes them with fixed settings, so the same seed gives
byte-identical parquet files. `digest` hashes those bytes; the benchmark
prints it so two runs can show they measured the same inputs.

Shapes follow the sf0.1 test tables graft's registry queries read
(orders, events, lineitem, documents, embeddings) and keep their fixed date
anchors: orders span 1995-01-01..2001-08-01, events 2024-01-01..2024-01-30.
"""
import hashlib
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# The sf0.1 document vocabulary.
VOCAB = ("a agg batch big column customer data dup fast filter group hash join "
         "key line merge order part query row scan slow small sort spark stream "
         "table the value vector window").split()
LANGS = np.array(["en", "en", "en", "de", "es", "fr", "zh"])

DAY_US = 86_400_000_000
ORDERS_START = np.datetime64("1995-01-01", "us")
ORDERS_DAYS = int((np.datetime64("2001-08-01") - np.datetime64("1995-01-01")).astype(int))
EVENTS_START = np.datetime64("2024-01-01", "us")
EVENTS_SPAN_US = 30 * DAY_US


def _write(table, path):
    pq.write_table(table, path, compression="snappy", version="2.6",
                   write_statistics=True, store_schema=False)


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def orders(rng, n=150_000):
    days = rng.integers(0, ORDERS_DAYS + 1, n)
    return pa.table({
        "o_orderkey": pa.array(np.arange(n, dtype=np.int64)),
        "o_custkey": pa.array(rng.integers(0, 15_000, n, dtype=np.int64)),
        "o_orderstatus": pa.array(np.array(["F", "O", "P"])[rng.integers(0, 3, n)]),
        "o_totalprice": pa.array(_money(rng, 1000.0, 500_000.0, n)),
        "o_orderdate": pa.array(ORDERS_START + days * DAY_US, pa.timestamp("us")),
        "o_orderpriority": pa.array(np.array(
            ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])[rng.integers(0, 5, n)]),
    })


def events(rng, n=100_000):
    ts = np.sort(rng.integers(0, EVENTS_SPAN_US, n))
    return pa.table({
        "event_id": pa.array(np.arange(n, dtype=np.int64)),
        "ts": pa.array(EVENTS_START + ts, pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, 1500, n, dtype=np.int64)),
        "event_type": pa.array(np.array(
            ["click", "error", "purchase", "signup", "view"])[rng.integers(0, 5, n)]),
        "value": pa.array(np.round(rng.exponential(50.0, n), 2)),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]),
    })


def lineitem(rng, n=600_000):
    days = rng.integers(1, ORDERS_DAYS + 96, n)
    return pa.table({
        "l_orderkey": pa.array(rng.integers(0, 150_000, n, dtype=np.int64)),
        "l_partkey": pa.array(rng.integers(0, 20_000, n, dtype=np.int64)),
        "l_suppkey": pa.array(rng.integers(0, 1000, n, dtype=np.int64)),
        "l_linenumber": pa.array(rng.integers(1, 8, n, dtype=np.int32)),
        "l_quantity": pa.array(rng.integers(1, 51, n).astype(np.float64)),
        "l_extendedprice": pa.array(_money(rng, 900.0, 105_000.0, n)),
        "l_discount": pa.array(rng.integers(0, 11, n) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, n) / 100.0),
        "l_returnflag": pa.array(np.array(["A", "N", "R"])[rng.integers(0, 3, n)]),
        "l_linestatus": pa.array(np.array(["F", "O"])[rng.integers(0, 2, n)]),
        "l_shipdate": pa.array(ORDERS_START + days * DAY_US, pa.timestamp("us")),
    })


def texts(rng, n, lo=10, hi=100):
    words = np.array(VOCAB)
    lens = rng.integers(lo, hi + 1, n)
    return [" ".join(words[rng.integers(0, len(words), k)]) for k in lens]


def documents_table(ids, txt, rng):
    n = len(txt)
    return pa.table({
        "doc_id": pa.array(np.asarray(ids, dtype=np.int64)),
        "text": pa.array(txt),
        "lang": pa.array(LANGS[rng.integers(0, len(LANGS), n)]),
        "source": pa.array([f"src{k}" for k in rng.integers(0, 20, n)]),
        "n_chars": pa.array(np.array([len(t) for t in txt], dtype=np.int64)),
    })


def documents(rng, n):
    return documents_table(np.arange(n), texts(rng, n), rng)


def unit_vectors(rng, n, dim=64):
    v = rng.standard_normal((n, dim))
    return (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)


def embeddings_table(ids, vecs, labels):
    flat = pa.array(vecs.reshape(-1), pa.float32())
    offsets = pa.array(np.arange(0, vecs.size + 1, vecs.shape[1], dtype=np.int32))
    return pa.table({
        "vec_id": pa.array(np.asarray(ids, dtype=np.int64)),
        "embedding": pa.ListArray.from_arrays(offsets, flat),
        "label": pa.array(np.asarray(labels, dtype=np.int32)),
    })


def embeddings(rng, n, dim=64):
    return embeddings_table(np.arange(n), unit_vectors(rng, n, dim),
                            rng.integers(0, 10, n))


def serve_corpus(rng, n, dim=64, clusters=16, group=16):
    """Unit vectors in seeded clusters of small near-duplicate groups: a
    vector's true top-10 are its group-mates, and probing nProbe of the
    clusters reads a fraction of the corpus."""
    centres = unit_vectors(rng, clusters, dim).astype(np.float64)
    groups = -(-n // group)
    heads = centres[rng.integers(0, clusters, groups)] + \
        0.35 * rng.standard_normal((groups, dim)) / np.sqrt(dim)
    label = np.repeat(np.arange(groups), group)[:n]
    v = heads[label] + 0.05 * rng.standard_normal((n, dim)) / np.sqrt(dim)
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    return embeddings_table(np.arange(n), v, label)


def serve_appends(rng, corpus, batches, rows, jitter=0.05):
    """Append batches for the serve workload: seeded jittered copies of
    corpus vectors, with fresh ids after the corpus. `first` marks the row
    each batch's visibility search looks for."""
    base = np.stack(corpus.column("embedding").to_numpy(zero_copy_only=False)).astype(np.float64)
    n, dim = base.shape
    src = rng.integers(0, n, batches * rows)
    v = base[src] + jitter * rng.standard_normal((len(src), dim)) / np.sqrt(dim)
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    t = embeddings_table(n + np.arange(len(src)), v, np.zeros(len(src)))
    batch = np.repeat(np.arange(batches, dtype=np.int32), rows)
    first = np.tile(np.arange(rows) == 0, batches)
    return t.append_column("batch", pa.array(batch)).append_column("first", pa.array(first))


def near_dup(rng, text, edits=1):
    words = text.split(" ")
    for _ in range(edits):
        words[rng.integers(0, len(words))] = VOCAB[rng.integers(0, len(VOCAB))]
    return " ".join(words)


def ingest_stream(rng, batches, batch_size, dup_share=0.08):
    """An id-ordered document stream in which exactly `dup_share` of the
    arrivals are one-word edits of an earlier ORIGINAL arrival. Each original
    is copied at most once and copies are never copied, so there are no
    chains and the online dedup must equal one batch sweep."""
    n = batches * batch_size
    dups = set(rng.choice(np.arange(1, n), int(dup_share * n), replace=False).tolist())
    out, originals = [], []
    for i in range(n):
        if i in dups and originals:
            j = originals.pop(int(rng.integers(0, len(originals))))
            out.append(near_dup(rng, out[j]))
        else:
            out.append(texts(rng, 1, 30, 60)[0])
            originals.append(i)
    return documents_table(np.arange(n), out, rng)


def tables_for(workload, seed, sizes):
    """The tables `workload` reads, by name, generated from `seed`."""
    rng = np.random.Generator(np.random.PCG64(seed))
    if workload == "monitor":
        return {"orders": orders(rng), "events": events(rng), "lineitem": lineitem(rng)}
    if workload == "curate":
        return {"documents": documents(rng, sizes["curate_docs"]),
                "embeddings": embeddings(rng, sizes["curate_vectors"])}
    if workload == "serve":
        corpus = serve_corpus(rng, sizes["serve_vectors"])
        return {"embeddings": corpus,
                "appends": serve_appends(rng, corpus, sizes["serve_append_batches"],
                                         sizes["serve_append_rows"])}
    if workload == "ingest":
        return {"stream": ingest_stream(rng, sizes["ingest_batches"], sizes["ingest_batch"]),
                "stream_meta": pa.table({"batch_size": pa.array([sizes["ingest_batch"]],
                                                                pa.int64())})}
    raise ValueError(f"unknown workload {workload}")


def fn_tables(seed, sizes):
    """The inputs every traced run takes its kernel-level figures on: small
    documents/embeddings (a fifth of the documents near-dups) to count the
    dedup candidate funnels, and larger ones to time graft's native
    expressions over (functions.*_ns_per_row; the media kernels get fewer,
    costlier rows)."""
    rng = np.random.Generator(np.random.PCG64(seed ^ 0x5EED))
    return {"fn_documents": ingest_stream(rng, 1, sizes["fn_rows"], dup_share=0.2),
            "fn_embeddings": embeddings(rng, sizes["fn_rows"]),
            "fn_kernel_documents": documents(rng, sizes["fn_kernel_rows"]),
            "fn_kernel_embeddings": embeddings(rng, sizes["fn_kernel_rows"]),
            "fn_media_documents": documents(rng, sizes["fn_media_rows"])}


def write_all(tables, out_dir):
    os.makedirs(out_dir, exist_ok=True)
    for name, t in tables.items():
        _write(t, os.path.join(out_dir, f"{name}.parquet"))


def digest(out_dir):
    h = hashlib.sha256()
    for name in sorted(os.listdir(out_dir)):
        if name.endswith(".parquet"):
            h.update(name.encode())
            with open(os.path.join(out_dir, name), "rb") as f:
                h.update(f.read())
    return h.hexdigest()[:16]
