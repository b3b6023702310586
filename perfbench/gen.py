"""Seeded input generator for the benchmark.

The distributions are those of ``tools/gen_sf.py``; only the tables and
columns the benchmark's queries read are written.

The seed drives the RNG of documents and embeddings and sets an offset on
``o_orderkey``.  The POI layers are hashed from ``o_orderkey``
(``sources/layers.py``), so the offset moves every coordinate while the
link / dangling / duplicate / geometry-type mixes, which are residues of
the key, stay exactly fixed: the offset is a multiple of ``KEY_PERIOD``.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = (
    "a agg batch big column customer data dup fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream table "
    "the value vector window"
).split()
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.41, 0.14, 0.15, 0.15, 0.15]

#: lcm of every residue the layer derivation tests (k % 3, 4, 10, 16,
#: 20, 50, 100, 1000): shifting keys by a multiple keeps each class size
KEY_PERIOD = 6000
#: offsets stay far below the 1e9 shift that marks dangling link targets
_MAX_OFFSET_STEPS = 100_000


def key_offset(seed: int) -> int:
    return (seed % _MAX_OFFSET_STEPS) * KEY_PERIOD


def orders(n: int, seed: int) -> pa.Table:
    """Keys only: the POI layers derive everything from ``o_orderkey``."""
    return pa.table({"o_orderkey": pa.array(key_offset(seed) + np.arange(n), pa.int64())})


def documents(n: int, seed: int) -> pa.Table:
    """10-100 words from the 31-word vocabulary; ~2% near-dup copies
    (1-2 word mutations) and ~0.15% exact copies of an earlier doc."""
    rng = np.random.default_rng([seed, 2])
    words = np.array(VOCAB)
    lens = rng.integers(10, 101, n)
    texts: list[str] = []
    for i in range(n):
        r = rng.random()
        if i > 10 and r < 0.0015:
            texts.append(texts[rng.integers(0, i)])
            continue
        if i > 10 and r < 0.02:
            src = texts[rng.integers(0, i)].split(" ")
            for _ in range(rng.integers(1, 3)):
                src[rng.integers(0, len(src))] = words[rng.integers(0, 31)]
            texts.append(" ".join(src))
            continue
        texts.append(" ".join(words[rng.integers(0, 31, lens[i])]))
    return pa.table({
        "doc_id": pa.array(range(n), pa.int64()),
        "text": texts,
        "lang": pa.array(rng.choice(LANGS, n, p=LANG_P)),
        "source": pa.array([f"src{i}" for i in rng.integers(0, 20, n)]),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def embeddings(n: int, seed: int) -> pa.Table:
    """Unit-norm 64-dim vectors; ~10% are small perturbations of an
    earlier vector (near-dup structure for the cosine top-k)."""
    rng = np.random.default_rng([seed, 3])
    emb = rng.normal(0, 1, (n, 64))
    for i in range(n):
        if i > 10 and rng.random() < 0.10:
            emb[i] = emb[rng.integers(0, i)] + rng.normal(0, 0.05, 64)
    emb /= np.linalg.norm(emb, axis=1, keepdims=True)
    return pa.table({
        "vec_id": pa.array(range(n), pa.int64()),
        "embedding": pa.array(emb.astype("float32").tolist(), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n), pa.int32()),
    })


TABLES = {"orders": orders, "documents": documents, "embeddings": embeddings}


def write_inputs(out_dir: str, sizes: dict[str, int], seed: int) -> dict:
    """Write one parquet file per table in ``sizes`` ({table: rows}).
    Returns {table: {"rows": n, "bytes": file size}}."""
    os.makedirs(out_dir, exist_ok=True)
    info = {}
    for name, n in sizes.items():
        path = os.path.join(out_dir, f"{name}.parquet")
        pq.write_table(TABLES[name](n, seed), path)
        info[name] = {"rows": n, "bytes": os.path.getsize(path)}
    return info
