"""Seeded input generator for the benchmark.

Writes tables shaped like the repo's test data (TESTDATA.md): `events`,
`customer`, `documents`, `embeddings`, with the column names and types of
FIXTURES.md, as one parquet file each, with a single row group per file like the DuckDB-written
test tables, so `Tables.fanned` sees the same single-task scan.
Distributions follow the seed-42 test tables: 30-word vocabulary,
10-100 words per document, 5% near-duplicates ("<other doc> dup"), 64-dim
unit embeddings with 10 labels, 5 event types over 30 days.

`replicate` stages the 10x replica of the documents and embeddings with the
recipe of tools/make_sf1.py (doc_id + k*n_docs, vec_id + k*n_vecs, sorted
by id).
"""
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = ("spark window merge table column vector stream value data small join "
         "filter big group hash customer sort order slow line part fast row "
         "the agg key query a scan batch").split()
LANGS = np.array(["en", "de", "es", "fr", "zh"])
LANG_P = [0.41, 0.14, 0.15, 0.15, 0.15]
EVENT_TYPES = np.array(["click", "error", "purchase", "signup", "view"])
SEGMENTS = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"])
T0_US = 1704067200 * 1_000_000  # 2024-01-01T00:00:00Z
DAY_US = 86_400 * 1_000_000

# Rows per table at scale factor 1; the sf0.1 test tables have a tenth of these.
ROWS_AT_SF1 = {"events": 1_000_000, "customer": 150_000,
               "documents": 50_000, "embeddings": 20_000}


def rows(table, sf):
    return max(1, int(round(ROWS_AT_SF1[table] * sf)))


def _write(table, path):
    pq.write_table(table, path, row_group_size=max(1, table.num_rows))


def events(rng, n):
    ts = T0_US + np.sort(rng.integers(0, 30 * DAY_US, n))
    k = rng.integers(0, 100, n)
    return pa.table({
        "event_id": pa.array(np.arange(n, dtype=np.int64)),
        # nanosecond timestamps like the test tables (read through
        # Tables.events, which truncates them to microseconds)
        "ts": pa.array(ts * 1000, type=pa.timestamp("ns")),
        "user_id": pa.array(rng.integers(0, 1500, n).astype(np.int64)),
        "event_type": pa.array(EVENT_TYPES[rng.integers(0, 5, n)]),
        "value": pa.array(np.round(rng.exponential(50.0, n), 2)),
        "props": pa.array(['{"k": %d}' % v for v in k]),
    })


def customer(rng, n):
    return pa.table({
        "c_custkey": pa.array(np.arange(n, dtype=np.int64)),
        "c_name": pa.array(["Customer#%09d" % i for i in range(n)]),
        "c_nationkey": pa.array(rng.integers(0, 25, n).astype(np.int32)),
        "c_acctbal": pa.array(np.round(rng.uniform(-999.99, 9999.99, n), 2)),
        "c_mktsegment": pa.array(SEGMENTS[rng.integers(0, 5, n)]),
    })


def documents(rng, n):
    vocab = np.array(VOCAB)
    lengths = rng.integers(10, 101, n)
    texts = [" ".join(vocab[rng.integers(0, len(vocab), m)]) for m in lengths]
    # near-duplicates: 5% of documents repeat another one plus a marker word
    for i in rng.choice(n, size=n // 20, replace=False):
        texts[i] = texts[int(rng.integers(0, n))] + " dup"
    return pa.table({
        "doc_id": pa.array(np.arange(n, dtype=np.int64)),
        "text": pa.array(texts),
        "lang": pa.array(LANGS[rng.choice(5, size=n, p=LANG_P)]),
        "source": pa.array(["src%d" % (i % 20) for i in range(n)]),
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
    })


def embeddings(rng, n, dim=64):
    v = rng.standard_normal((n, dim)).astype(np.float32)
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    return pa.table({
        "vec_id": pa.array(np.arange(n, dtype=np.int64)),
        "embedding": pa.array(list(v), type=pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n).astype(np.int32)),
    })


def generate(out_dir, seed, sf, tables):
    """Write `tables` at scale factor `sf` from `seed` into `out_dir`.
    Each table draws from its own stream, so the set of tables asked for
    does not change any table's contents."""
    os.makedirs(out_dir, exist_ok=True)
    makers = {
        "events": lambda r: events(r, rows("events", sf)),
        "customer": lambda r: customer(r, rows("customer", sf)),
        "documents": lambda r: documents(r, rows("documents", sf)),
        "embeddings": lambda r: embeddings(r, rows("embeddings", sf)),
    }
    for i, name in enumerate(sorted(makers)):
        if name in tables:
            rng = np.random.default_rng([seed, i])
            _write(makers[name](rng), os.path.join(out_dir, name + ".parquet"))


def replicate(src_dir, out_dir, k=10):
    """The tools/make_sf1.py recipe for the two tables the fanned scan
    reads: k copies with offset ids, sorted by id."""
    os.makedirs(out_dir, exist_ok=True)
    for name, key in (("documents", "doc_id"), ("embeddings", "vec_id")):
        t = pq.read_table(os.path.join(src_dir, name + ".parquet"))
        n = t.num_rows
        copies = []
        for c in range(k):
            ids = pa.array(np.asarray(t.column(key)) + c * n)
            copies.append(t.set_column(0, key, ids))
        _write(pa.concat_tables(copies), os.path.join(out_dir, name + ".parquet"))
