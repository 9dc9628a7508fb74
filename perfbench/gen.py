"""Seeded input generators for the four benchmark workloads.

Everything here is pure Python/NumPy/pyarrow: no Spark, so inputs exist
before the session starts and their cost is never charged to set-up.
The same ``seed`` always yields byte-identical files; the amount of work
(file, document and vector counts) is fixed per workload size so runs on
different seeds measure the same volume, while the seed moves the shape:
tree depth and fan-out skew, corrupt-file positions, token sequences,
duplicate pairs, vector clusters.

The document and embedding tables follow the schemas the ``operators``
queries read (``documents``: doc_id, text, lang, source, n_chars;
``embeddings``: vec_id, embedding[64] unit-norm float32, label).
"""

from __future__ import annotations

import json
import os
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Closed token vocabulary of the corpus (includes the English stop words
# the curation language gate looks for).
VOCAB = ("spark", "window", "merge", "table", "column", "vector", "stream",
         "value", "data", "small", "join", "filter", "big", "group", "hash",
         "customer", "sort", "order", "slow", "line", "part", "fast", "row",
         "the", "agg", "key", "query", "a", "scan", "batch")
LANGS = ("en", "de", "es", "fr", "zh")
LANG_P = (0.4, 0.15, 0.15, 0.15, 0.15)
N_SOURCES = 20
EMBED_DIM = 64
N_LABELS = 10

# Stream ids keep the generators of different inputs independent, so
# adding an input to one workload never shifts another's bytes.
_TREE, _DOCS, _VECS = 1, 2, 3
_ARRIVAL_T0 = 1_700_000_000   # mtime of the first arrival file (seconds)


def _rng(seed: int, stream: int) -> np.random.Generator:
    return np.random.default_rng([seed, stream])


@dataclass(frozen=True)
class CrawlGolden:
    """Expected crawl results, computed while the tree is written."""
    n_files: int
    n_dirs: int
    n_corrupt: int
    data_sum: int
    max_depth: int


def crawl_tree(root: str, seed: int, n_files: int,
               max_depth: int = 6, corrupt_share: float = 0.01) -> CrawlGolden:
    """Write a tree of ``n_files`` one-object ``{"data": n}`` JSON files.

    A chain of ``max_depth`` nested directories is laid first, so every
    seed has the same nesting depth (and breadth-first listings the same
    number of levels); the other directories attach to a parent chosen
    with Zipf-like weights, so a few directories get most of the
    children (skewed fan-out).  Files land in directories with the same
    skew.  Exactly ``round(n_files * corrupt_share)`` files (at least one)
    hold truncated or non-JSON bytes; both crawl paths count them as
    corrupt and fold them as the neutral element 0.
    """
    rng = _rng(seed, _TREE)
    n_dirs = max(max_depth, n_files // 25)
    depth = list(range(max_depth + 1))
    parents = list(range(-1, max_depth))
    for _ in range(n_dirs - max_depth):
        open_ = [i for i, d in enumerate(depth) if d < max_depth]
        w = 1.0 / (np.arange(1, len(open_) + 1) ** 1.1)
        p = open_[int(rng.choice(len(open_), p=w / w.sum()))]
        parents.append(p)
        depth.append(depth[p] + 1)
    paths = [root]
    for i in range(1, len(parents)):
        paths.append(os.path.join(paths[parents[i]], f"d{i:04d}"))
    for p in paths:
        os.makedirs(p, exist_ok=True)

    order = rng.permutation(len(paths))
    dw = 1.0 / (np.arange(1, len(paths) + 1) ** 0.8)
    where = order[rng.choice(len(paths), size=n_files, p=dw / dw.sum())]
    values = rng.integers(0, 1000, size=n_files)
    n_corrupt = max(1, int(round(n_files * corrupt_share)))
    corrupt = set(rng.choice(n_files, size=n_corrupt, replace=False).tolist())
    data_sum = 0
    for i in range(n_files):
        if i in corrupt:
            body = '{"data": ' if i % 2 else "not json {"
        else:
            body = json.dumps({"data": int(values[i])})
            data_sum += int(values[i])
        with open(os.path.join(paths[where[i]], f"f{i:06d}.json"), "w") as f:
            f.write(body)
    return CrawlGolden(n_files=n_files, n_dirs=len(paths) - 1,
                       n_corrupt=n_corrupt, data_sum=data_sum,
                       max_depth=max(depth))


def documents(seed: int, n_docs: int, exact_share: float = 0.02,
              near_share: float = 0.05) -> pa.Table:
    """Seeded corpus with a set share of exact and near duplicates.

    Each document is 10-100 tokens drawn from ``VOCAB``.  An exact
    duplicate copies an earlier document's text; a near duplicate copies
    it, substitutes one token and appends ``dup``.  Duplicates point at
    a document at most 150 ids back, inside the 200-document trailing
    window of the streaming dedup, so batch and incremental dedup see
    the same pairs.
    """
    rng = _rng(seed, _DOCS)
    vocab = np.array(VOCAB)
    lens = rng.integers(10, 101, size=n_docs)
    kind = rng.choice(3, size=n_docs,
                      p=(1 - exact_share - near_share, exact_share, near_share))
    texts: list[str] = []
    for i in range(n_docs):
        if i > 0 and kind[i] != 0:
            words = texts[i - int(rng.integers(1, min(i, 150) + 1))].split(" ")
            if kind[i] == 2:
                words[int(rng.integers(0, len(words)))] = str(
                    vocab[rng.integers(0, len(vocab))])
                words.append("dup")
            texts.append(" ".join(words))
        else:
            texts.append(" ".join(vocab[rng.integers(0, len(vocab),
                                                     size=lens[i])]))
    ids = np.arange(n_docs, dtype=np.int64)
    return pa.table({
        "doc_id": ids,
        "text": texts,
        "lang": [LANGS[k] for k in rng.choice(len(LANGS), size=n_docs, p=LANG_P)],
        "source": [f"src{i % N_SOURCES}" for i in ids],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })


def embeddings(seed: int, n_vecs: int, n_clusters: int = 16) -> pa.Table:
    """Unit-norm float32 vectors around seeded cluster centres."""
    rng = _rng(seed, _VECS)
    centres = rng.standard_normal((n_clusters, EMBED_DIM))
    v = (centres[rng.integers(0, n_clusters, size=n_vecs)]
         + 1.5 * rng.standard_normal((n_vecs, EMBED_DIM)))
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    return pa.table({
        "vec_id": np.arange(n_vecs, dtype=np.int64),
        "embedding": pa.array(list(v), type=pa.list_(pa.float32())),
        "label": rng.integers(0, N_LABELS, size=n_vecs).astype(np.int32),
    })


def write_table_dir(out_dir: str, **tables: pa.Table) -> str:
    """Write ``name.parquet`` per table: the layout the operators'
    ``sf_dir`` argument and the DuckDB oracles both read."""
    os.makedirs(out_dir, exist_ok=True)
    for name, t in tables.items():
        pq.write_table(t, os.path.join(out_dir, f"{name}.parquet"))
    return out_dir


def write_arrivals(out_dir: str, docs: pa.Table, n_files: int) -> list[str]:
    """Split ``docs`` into ``n_files`` doc_id-ordered parquet files with
    strictly increasing modification times, so a file-source stream
    replays them oldest-first in doc_id order (the ordering contract of
    the windowed streaming dedup)."""
    os.makedirs(out_dir, exist_ok=True)
    n = docs.num_rows
    paths = []
    for i in range(n_files):
        lo, hi = n * i // n_files, n * (i + 1) // n_files
        p = os.path.join(out_dir, f"arrival-{i:03d}.parquet")
        pq.write_table(docs.slice(lo, hi - lo), p)
        os.utime(p, (_ARRIVAL_T0 + i, _ARRIVAL_T0 + i))
        paths.append(p)
    return paths
