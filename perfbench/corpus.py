"""Seeded corpus for the corpus_scale workload.

The corpus has the shape of the engine's ScaleProbe corpus: documents of
10-99 tokens over the fixture vocabulary with injected near-duplicates
(every 100th document repeats its predecessor plus one token), 64-dim
unit vectors with injected near-copies (every 50th vector nudges its
predecessor), and events spread over 34 days with about 67 events per
user. Column names and types match the fixture tables.

Each table is written as a directory of at least `n_files` parquet files
with one row group each, so every scan splits into that many tasks.
The same seed and sizes always give the same rows.
"""
import hashlib
import json
import os
import shutil
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = ("a agg batch big column customer data dup fast filter group hash join "
         "key line merge order part query row scan slow small sort spark stream "
         "table the value vector window").split()
LANGS = ("en", "es", "zh", "de", "fr")
LANG_P = (0.41, 0.15, 0.15, 0.14, 0.15)
EVENT_TYPES = ("view", "click", "purchase", "error", "signup")
EVENT_P = (0.40, 0.25, 0.10, 0.10, 0.15)
DIM = 64
EPOCH_US = 1704067200 * 1_000_000          # 2024-01-01T00:00Z
SPAN_US = 34 * 24 * 3600 * 1_000_000
TABLES = ("documents", "embeddings", "events")


def documents(rng, n):
    lengths = rng.integers(10, 100, size=n)
    words = rng.integers(0, len(VOCAB), size=int(lengths.sum()))
    texts, pos = [], 0
    for i, k in enumerate(lengths):
        if i % 100 == 99:
            texts.append(texts[-1] + " dup")
        else:
            texts.append(" ".join(VOCAB[w] for w in words[pos:pos + k]))
        pos += k
    return pa.table({
        "doc_id": pa.array(np.arange(n, dtype=np.int64)),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(rng.choice(LANGS, size=n, p=LANG_P), pa.string()),
        "source": pa.array([f"src{i % 20}" for i in range(n)], pa.string()),
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
    })


def embeddings(rng, n):
    v = rng.standard_normal((n, DIM))
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    v = v.astype(np.float32)
    dup = np.arange(49, n, 50)
    v[dup] = v[dup - 1]
    v[dup, 0] += np.float32(1e-4)
    offsets = pa.array(np.arange(0, (n + 1) * DIM, DIM, dtype=np.int32))
    return pa.table({
        "vec_id": pa.array(np.arange(n, dtype=np.int64)),
        "embedding": pa.ListArray.from_arrays(offsets, pa.array(v.reshape(-1))),
        "label": pa.array(rng.integers(0, 10, size=n).astype(np.int32)),
    })


def events(rng, n):
    users = max(1, n // 67)
    ts = np.sort(EPOCH_US + rng.integers(0, SPAN_US, size=n))
    return pa.table({
        "event_id": pa.array(np.arange(n, dtype=np.int64)),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, users, size=n).astype(np.int64)),
        "event_type": pa.array(rng.choice(EVENT_TYPES, size=n, p=EVENT_P), pa.string()),
        "value": pa.array(rng.integers(0, 100000, size=n) / 100.0),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, size=n)],
                          pa.string()),
    })


def write_table(table, path, n_files):
    path.mkdir(parents=True)
    bounds = np.linspace(0, table.num_rows, n_files + 1).astype(int)
    for i in range(n_files):
        part = table.slice(bounds[i], bounds[i + 1] - bounds[i])
        pq.write_table(part, path / f"part-{i:05d}.parquet",
                       row_group_size=max(1, part.num_rows))


def generate(out, seed, sizes, n_files):
    """Writes documents/embeddings/events parquet dirs under `out`."""
    makers = {"documents": documents, "embeddings": embeddings, "events": events}
    out.mkdir(parents=True)
    for i, name in enumerate(TABLES):
        rng = np.random.default_rng([seed, i])
        write_table(makers[name](rng, sizes[name]), out / f"{name}.parquet", n_files)


def ensure(cache, seed, sizes, n_files):
    """Returns the data dir of the corpus for `seed`, generating it once.
    A manifest of the generation parameters sits beside the data; a dir
    whose manifest does not match is regenerated."""
    manifest = {"seed": seed, "sizes": sizes, "files_per_table": n_files,
                "generator": hashlib.sha256(Path(__file__).read_bytes()).hexdigest()}
    root = cache / f"seed{seed}"
    mpath = root / "manifest.json"
    if mpath.is_file() and json.loads(mpath.read_text()) == manifest:
        return root / "data"
    shutil.rmtree(root, ignore_errors=True)
    tmp = cache / f".seed{seed}.{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    generate(tmp / "data", seed, sizes, n_files)
    (tmp / "manifest.json").write_text(json.dumps(manifest))
    tmp.rename(root)
    return root / "data"
