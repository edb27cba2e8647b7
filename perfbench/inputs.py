"""Seeded benchmark inputs.

Every table is written as ``<sf_dir>/<name>.parquet``, the layout
``crankshaft_spark.sources.derived.load_table`` reads, so the workloads hand
the package the same kind of input the driver queries use.  The seed picks
the content (words, keys, balances, vector directions, node labels); the
shapes are fixed by the scale, so every seed does the same amount of work:

* ``documents`` -- ``n_docs`` rows.  Doc ``i`` has ``8 + (i*37) % 41`` words
  drawn from a seeded 4000-word vocabulary; every fifth doc is a near copy
  of the doc five rows before it (one word replaced), so MinHash/LSH has
  real duplicate pairs to find.
* ``customer`` -- ``n_points`` rows with distinct seeded keys in
  ``[0, 24000)``; ``customer_points`` maps each key to closed-form x/y, so
  the key draw is the point cloud.  ``c_acctbal`` is integer-valued (the
  permutation-sim oracles need integer y).
* ``embeddings`` -- ``n_vecs`` rows of ``dims`` float32 vectors around 8
  seeded directions.
* the dense blob pair graph is closed form: ``n_blobs`` blobs of
  ``blob_size`` nodes, node ``j`` of a blob linked to ``j+1 .. j+blob_deg``
  (a banded ring, diameter ``blob_size/(2*blob_deg)``), with node ids a
  seeded permutation.
"""

from __future__ import annotations

import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

#: input shapes per scale.  ``bench`` is what BENCHMARK.json runs; ``smoke``
#: is the self-test size (roughly the sf0.001 testdata tables).
SCALES = {
    "bench": {
        "hotspot": {"n_docs": 2000, "multiplier": 6},
        "sims_loops": {"n_points": 3000, "n_docs": 1200, "n_vecs": 600,
                       "dims": 16, "n_blobs": 12, "blob_size": 40,
                       "blob_deg": 8},
    },
    "smoke": {
        "hotspot": {"n_docs": 200, "multiplier": 2},
        "sims_loops": {"n_points": 300, "n_docs": 150, "n_vecs": 80,
                       "dims": 8, "n_blobs": 3, "blob_size": 16,
                       "blob_deg": 2},
    },
}

_LANGS = ["en", "de", "fr", "es", "zh"]


def _vocab(rng: np.random.Generator, n: int = 4000) -> list[str]:
    letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
    words = set()
    while len(words) < n:
        k = int(rng.integers(4, 11))
        words.add("".join(rng.choice(letters, size=k)))
    return sorted(words)


def documents(rng: np.random.Generator, n_docs: int) -> pa.Table:
    vocab = np.array(_vocab(rng))
    texts = []
    for i in range(n_docs):
        n_words = 8 + (i * 37) % 41
        if i % 5 == 4:
            words = texts[i - 4].split(" ")
            words[int(rng.integers(len(words)))] = str(rng.choice(vocab))
        else:
            words = list(rng.choice(vocab, size=n_words))
        texts.append(" ".join(words))
    ids = np.arange(n_docs, dtype=np.int64)
    return pa.table({
        "doc_id": ids,
        "text": texts,
        "lang": [_LANGS[i % len(_LANGS)] for i in range(n_docs)],
        "source": [f"src{i % 20}" for i in range(n_docs)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })


def customer(rng: np.random.Generator, n_points: int) -> pa.Table:
    keys = np.sort(rng.choice(24000, size=n_points, replace=False)
                   ).astype(np.int64)
    return pa.table({
        "c_custkey": keys,
        "c_name": [f"Customer#{k:09d}" for k in keys],
        "c_nationkey": (keys % 25).astype(np.int32),
        "c_acctbal": rng.integers(0, 1000, size=n_points).astype(np.float64),
        "c_mktsegment": ["BUILDING"] * n_points,
    })


def embeddings(rng: np.random.Generator, n_vecs: int, dims: int) -> pa.Table:
    centers = rng.normal(size=(8, dims))
    lab = np.arange(n_vecs) % 8
    vecs = (centers[lab] + 0.3 * rng.normal(size=(n_vecs, dims))
            ).astype(np.float32)
    return pa.table({
        "vec_id": np.arange(n_vecs, dtype=np.int64),
        "embedding": pa.array(list(vecs), type=pa.list_(pa.float32())),
        "label": lab.astype(np.int32),
    })


def blob_pairs(rng: np.random.Generator, n_blobs: int, blob_size: int,
               blob_deg: int) -> np.ndarray:
    """(a, b) pairs with a < b of the dense blob graph, as an int64 array."""
    n = n_blobs * blob_size
    label = rng.permutation(n).astype(np.int64)
    j = np.arange(blob_size)
    out = []
    for blob in range(n_blobs):
        base = blob * blob_size
        for d in range(1, blob_deg + 1):
            u = label[base + j]
            v = label[base + (j + d) % blob_size]
            out.append(np.stack([np.minimum(u, v), np.maximum(u, v)], 1))
    return np.unique(np.concatenate(out), axis=0)


def build(workload: str, scale: str, seed: int, sf_dir: str) -> dict:
    """Write the workload's seeded tables under ``sf_dir``; return the
    in-memory arrays the checks need (the blob graph, the shape)."""
    shape = SCALES[scale][workload]
    rng = np.random.default_rng([seed, sum(map(ord, workload))])
    if os.path.exists(sf_dir):
        shutil.rmtree(sf_dir)
    os.makedirs(sf_dir)
    tables = {}
    if "n_docs" in shape:
        tables["documents"] = documents(rng, shape["n_docs"])
    if "n_points" in shape:
        tables["customer"] = customer(rng, shape["n_points"])
    if "n_vecs" in shape:
        tables["embeddings"] = embeddings(rng, shape["n_vecs"],
                                          shape["dims"])
    for name, t in tables.items():
        pq.write_table(t, os.path.join(sf_dir, f"{name}.parquet"))
    out = {"shape": shape}
    if "n_blobs" in shape:
        out["blob_pairs"] = blob_pairs(rng, shape["n_blobs"],
                                       shape["blob_size"], shape["blob_deg"])
    return out
