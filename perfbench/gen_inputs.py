"""Seeded input generator for the benchmark.

Writes `events.parquet`, `documents.parquet` and `embeddings.parquet` with the
schemas and value contracts of the program's test tables, so every declared
query and its DuckDB oracle run on them unchanged. The same seed and sizes give
byte-identical files (fixed pyarrow writer settings, no wall-clock metadata).
Sizes are fixed (`SIZES`); only the seed varies the inputs.

    python3 perfbench/gen_inputs.py <out_dir> --seed 7
"""
import argparse
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

EVENT_TYPES = ["view", "click", "signup", "purchase", "error"]
# 2024-01-01T00:00:00 and the exclusive end of the 30-day window, in µs.
TS_START_US = 1704067200 * 1_000_000
TS_SPAN_US = 30 * 86400 * 1_000_000
MAX_CENTS = 56021  # values are 2-dp in [0, 560.21]
VOCAB = ("a the data spark table column row part line key value query hash "
         "join group agg sort order filter scan merge window stream batch "
         "vector big small fast slow customer").split()
LANGS = ["en", "zh", "de", "fr", "es"]
LANG_P = [0.40, 0.15, 0.15, 0.15, 0.15]
N_SOURCES = 20
DUP_SHARE = 0.05  # share of documents that repeat an earlier one + " dup"
EMB_DIM = 64
N_LABELS = 10

SIZES = {"events": 1_000_000, "users": 1_500, "documents": 1_000,
         "embeddings": 500}
# Row groups of the events file. Spark cuts the ~15 MB file into 4 scan
# splits (one per core) and a split reads only the row groups that start in
# it, so the file needs several groups for scans to run on every core.
EVENTS_ROW_GROUPS = 16


def _rng(seed, stream):
    # One independent stream per table, so resizing one leaves the others.
    return np.random.Generator(np.random.PCG64([seed, stream]))


def events_table(seed, n, users):
    rng = _rng(seed, 1)
    # Strictly increasing µs timestamps: positive gaps averaging 90% of the
    # span's share per row, so their sum stays inside the 30-day window.
    gaps = rng.integers(1, 9 * TS_SPAN_US // (5 * n), size=n, dtype=np.int64)
    ts = TS_START_US + np.cumsum(gaps)
    cents = np.minimum(np.floor(rng.exponential(5000.0, size=n)),
                       MAX_CENTS).astype(np.int64)
    return pa.table({
        "event_id": pa.array(np.arange(n, dtype=np.int64)),
        "ts": pa.array(ts, type=pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, users, size=n, dtype=np.int64)),
        "event_type": pa.array(EVENT_TYPES).take(
            rng.integers(0, len(EVENT_TYPES), size=n)),
        "value": pa.array(cents / 100.0),
        "props": pa.array(['{"k": %d}' % k for k in range(100)]).take(
            rng.integers(0, 100, size=n)),
    })


def documents_table(seed, n):
    rng = _rng(seed, 2)
    texts = []
    for i in range(n):
        if i > 0 and rng.random() < DUP_SHARE:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            words = rng.integers(0, len(VOCAB), size=int(rng.integers(10, 101)))
            texts.append(" ".join(VOCAB[w] for w in words))
    langs = rng.choice(len(LANGS), size=n, p=LANG_P)
    return pa.table({
        "doc_id": pa.array(np.arange(n, dtype=np.int64)),
        "text": pa.array(texts),
        "lang": pa.array([LANGS[i] for i in langs]),
        "source": pa.array(["src%d" % (i % N_SOURCES) for i in range(n)]),
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
    })


def embeddings_table(seed, n):
    rng = _rng(seed, 3)
    x = rng.standard_normal((n, EMB_DIM))
    x = (x / np.linalg.norm(x, axis=1, keepdims=True)).astype(np.float32)
    return pa.table({
        "vec_id": pa.array(np.arange(n, dtype=np.int64)),
        "embedding": pa.array(list(x), type=pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, N_LABELS, size=n).astype(np.int32)),
    })


def check_events(t, n, users):
    """Fail loudly if the events table breaks a contract the queries rely on."""
    ids = t["event_id"].to_numpy()
    ts = t["ts"].cast(pa.int64()).to_numpy()
    vals = t["value"].to_numpy()
    uid = t["user_id"].to_numpy()
    assert t.num_rows == n, "row count"
    assert len(np.unique(ids)) == n, "event_id must be unique"
    assert np.all(np.diff(ts) > 0), "ts must increase strictly"
    assert ts[0] >= TS_START_US and ts[-1] < TS_START_US + TS_SPAN_US, \
        "ts must lie within 2024-01-01..2024-01-30"
    assert set(pc.unique(t["event_type"]).to_pylist()) == set(EVENT_TYPES), \
        "5 event types"
    assert vals.min() >= 0 and vals.max() <= MAX_CENTS / 100, "value range"
    assert np.all(np.round(vals * 100) / 100 == vals), "values are 2-dp"
    assert len(np.unique(uid)) == users, "every series present"
    assert pc.all(pc.match_substring_regex(
        t["props"], r'^\{"k": \d+\}$')).as_py(), "props shape"


def check_documents(t, n):
    texts = t["text"].to_pylist()
    assert t.num_rows == n and len(set(t["doc_id"].to_pylist())) == n
    assert t["n_chars"].to_pylist() == [len(x) for x in texts]
    assert set(t["lang"].to_pylist()) <= set(LANGS)


def check_embeddings(t, n):
    x = np.stack(t["embedding"].to_numpy(zero_copy_only=False))
    assert t.num_rows == n and x.shape == (n, EMB_DIM)
    assert np.allclose(np.linalg.norm(x, axis=1), 1.0, atol=1e-5)


def write(table, path, row_groups=1):
    pq.write_table(table, path, compression="snappy",
                   row_group_size=-(-table.num_rows // row_groups),
                   store_schema=False)


def generate(out_dir, seed):
    """Write the three tables into out_dir; returns {table: {rows, bytes}}."""
    os.makedirs(out_dir, exist_ok=True)
    tables = {
        "events": events_table(seed, SIZES["events"], SIZES["users"]),
        "documents": documents_table(seed, SIZES["documents"]),
        "embeddings": embeddings_table(seed, SIZES["embeddings"]),
    }
    check_events(tables["events"], SIZES["events"], SIZES["users"])
    check_documents(tables["documents"], SIZES["documents"])
    check_embeddings(tables["embeddings"], SIZES["embeddings"])
    info = {}
    for name, table in tables.items():
        path = os.path.join(out_dir, name + ".parquet")
        write(table, path, EVENTS_ROW_GROUPS if name == "events" else 1)
        info[name] = {"rows": table.num_rows, "bytes": os.path.getsize(path)}
    return info


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("out_dir")
    ap.add_argument("--seed", type=int, required=True)
    a = ap.parse_args()
    print(json.dumps(generate(a.out_dir, a.seed)))


if __name__ == "__main__":
    main()
