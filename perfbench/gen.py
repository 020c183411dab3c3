"""Seeded input generator for the graft benchmark.

Draws the documents and embeddings tables from the seed, in one pass, with
the shape measured on the sf0.1 test corpus (5000 documents, 2000
embeddings):

- documents: 10-99 words each, uniform; every word drawn uniformly from a
  30-word vocabulary; 5% near-duplicates, each a copy of another document
  (anywhere in the table, any length) with the word 'dup' appended, so a
  few near-duplicates of near-duplicates form chains, and two near-duplicates
  of one document are exact duplicates of each other (the only exact
  duplicates sf0.1 has: 8 pairs); `lang` drawn from the measured language
  shares; `source` is `src<doc_id mod 20>`; `n_chars` is the text's
  length.
- embeddings: 64-dim unit vectors of i.i.d. Gaussian coordinates, float32,
  with a uniform label in 0..9 and no cluster structure (on sf0.1 the label
  centroids have norm 0.07, what 200 random unit vectors give).

Each input directory carries a manifest (seed, generator version, row counts,
bytes). A directory whose manifest is missing or does not match is
regenerated.
"""
import datetime
import hashlib
import json
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VERSION = 2

VOCAB = ("spark window merge table column vector stream value data small join filter "
         "big group hash customer sort order slow line part fast row the agg key query "
         "a scan batch").split()
MIN_WORDS, MAX_WORDS = 10, 99
NEAR_DUP = 0.05
LANGS = ["en", "zh", "es", "fr", "de"]
LANG_P = [0.4118, 0.1506, 0.1488, 0.1484, 0.1404]
DIM = 64
LABELS = 10


def sub_seed(seed, *parts):
    h = hashlib.sha256(repr((seed,) + parts).encode()).digest()
    return int.from_bytes(h[:8], "little")


def _words(rng, n):
    words = [rng.integers(0, len(VOCAB), k) for k in rng.integers(MIN_WORDS, MAX_WORDS + 1, n)]

    def other(i):
        j = int(rng.integers(0, n - 1))
        return j + (j >= i)

    # -1 stands for the word 'dup'
    for i in rng.permutation(np.flatnonzero(rng.random(n) < NEAR_DUP)):
        words[i] = np.append(words[other(i)], -1)
    return words


def documents(seed, n):
    rng = np.random.default_rng(sub_seed(seed, "documents"))
    texts = [" ".join("dup" if w < 0 else VOCAB[w] for w in ws) for ws in _words(rng, n)]
    return pa.table({
        "doc_id": pa.array(np.arange(n), pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array([LANGS[k] for k in rng.choice(len(LANGS), n, p=LANG_P)], pa.string()),
        "source": pa.array([f"src{i % 20}" for i in range(n)], pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def embeddings(seed, n):
    rng = np.random.default_rng(sub_seed(seed, "embeddings"))
    v = rng.normal(size=(n, DIM))
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    return pa.table({
        "vec_id": pa.array(np.arange(n), pa.int64()),
        "embedding": pa.array(list(v), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, LABELS, n), pa.int32()),
    })


def tables_for(spec, seed):
    """spec: {"documents": rows, "embeddings": rows}; returns name -> pyarrow table."""
    makers = {"documents": documents, "embeddings": embeddings}
    return {name: makers[name](seed, rows) for name, rows in spec.items()}


def ensure(dst, spec, seed):
    """Write the inputs for (spec, seed) into dst unless its manifest already
    matches; returns the manifest."""
    key = {"seed": seed, "version": VERSION, "spec": spec}
    path = os.path.join(dst, "manifest.json")
    try:
        with open(path) as f:
            m = json.load(f)
        if {k: m.get(k) for k in key} == json.loads(json.dumps(key)) and all(
                os.path.getsize(os.path.join(dst, f"{t}.parquet")) == v["bytes"]
                for t, v in m["tables"].items()):
            return m
    except (OSError, ValueError, KeyError):
        pass
    shutil.rmtree(dst, ignore_errors=True)
    os.makedirs(dst)
    tables = {}
    for name, tbl in tables_for(spec, seed).items():
        p = os.path.join(dst, f"{name}.parquet")
        pq.write_table(tbl, p)
        tables[name] = {"rows": tbl.num_rows, "bytes": os.path.getsize(p)}
    m = dict(key, tables=tables,
             created=datetime.datetime.now(datetime.timezone.utc).isoformat())
    with open(path, "w") as f:
        json.dump(m, f, indent=1)
    return m
