"""Seeded input generators for the benchmark.

Everything here is NumPy + PyArrow; the engine only ever sees the Parquet
files these functions write. The same seed gives byte-identical inputs.

* Vectors: a Gaussian mixture whose component centres are spread only a few
  noise-widths apart, so the clusters overlap and IVF recall@10 at the base
  nprobe stays clearly below 1.0 (well separated blobs make every probe list
  trivially right). Queries come from the same mixture and carry ids
  disjoint from the corpus.
* ``rating_bucket``: an explicit column drawn from the reference rating
  distribution in ``operators.filters.BUCKETS``, so
  ``filters.named_filter_predicate`` binds to it.
* Documents: word-salad English-like text that passes the quality gate,
  plus a known number of planted exact duplicates, near duplicates (one
  word replaced) and too-short documents the quality gate must drop.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from filtered_ads_vector_search_spark.functions.text import STOPWORDS
from filtered_ads_vector_search_spark.operators.filters import BUCKETS

QUERY_ID_BASE = 1_000_000_000
DELTA_ID_BASE = 500_000_000
DIM = 64
N_COMPONENTS = 48
# component centres are drawn with this standard deviation, in units of the
# (unit) noise width, so neighbouring components overlap
SPREAD = 0.6
WORDS_PER_DOC = 70
VOCAB_SIZE = 6000


@dataclass
class VectorSet:
    ids: np.ndarray       # int64
    vecs: np.ndarray      # float32 (n, dim)
    buckets: np.ndarray   # object array of BUCKETS labels


def _mixture(rng, n, centres):
    comp = rng.integers(0, len(centres), size=n)
    pts = centres[comp] + rng.standard_normal((n, centres.shape[1]))
    return pts.astype(np.float32)


def _buckets(rng, n):
    labels = np.array([b for b, _ in BUCKETS], dtype=object)
    cum = np.array([c for _, c in BUCKETS])
    return labels[np.searchsorted(cum, rng.integers(0, 10_000, size=n), side="right")]


def vectors(seed: int, n: int, n_queries: int, n_delta: int):
    """Corpus, query and delta (append) sets from one seeded mixture."""
    rng = np.random.default_rng(seed)
    centres = rng.standard_normal((N_COMPONENTS, DIM)) * SPREAD
    corpus = VectorSet(np.arange(n, dtype=np.int64),
                       _mixture(rng, n, centres), _buckets(rng, n))
    queries = VectorSet(QUERY_ID_BASE + np.arange(n_queries, dtype=np.int64),
                        _mixture(rng, n_queries, centres), None)
    delta = VectorSet(DELTA_ID_BASE + np.arange(n_delta, dtype=np.int64),
                      _mixture(rng, n_delta, centres), _buckets(rng, n_delta))
    return corpus, queries, delta


def _vec_array(vecs: np.ndarray) -> pa.Array:
    flat = pa.array(vecs.reshape(-1), type=pa.float32())
    return pa.ListArray.from_arrays(
        pa.array(np.arange(0, vecs.size + 1, vecs.shape[1], dtype=np.int32)), flat
    )


def write_parquet(table: pa.Table, path: str, n_files: int) -> None:
    """Split ``table`` into ``n_files`` Parquet files under directory ``path``
    so scans split across cores."""
    os.makedirs(path, exist_ok=True)
    step = -(-table.num_rows // n_files)
    for i in range(n_files):
        pq.write_table(table.slice(i * step, step), f"{path}/part-{i:03d}.parquet")


def corpus_table(vs: VectorSet) -> pa.Table:
    return pa.table({
        "vec_id": pa.array(vs.ids, type=pa.int64()),
        "embedding": _vec_array(vs.vecs),
        "rating_bucket": pa.array(vs.buckets.tolist(), type=pa.string()),
    })


def queries_table(vs: VectorSet) -> pa.Table:
    return pa.table({
        "query_id": pa.array(vs.ids, type=pa.int64()),
        "q_vec": _vec_array(vs.vecs),
    })


def documents(seed: int, n_base: int, n_exact: int, n_near: int, n_short: int) -> pa.Table:
    """Base documents plus planted duplicates. Each exact duplicate copies a
    distinct base document verbatim; each near duplicate replaces one
    word of another distinct base document; short documents have four
    words, below curate_corpus's ``min_tokens`` gate."""
    rng = np.random.default_rng(seed + 7919)
    letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
    vocab = np.array([
        "".join(rng.choice(letters, size=rng.integers(4, 9)))
        for _ in range(VOCAB_SIZE)
    ], dtype=object)
    stop = np.array(STOPWORDS, dtype=object)

    def doc() -> list[str]:
        words = vocab[rng.integers(0, VOCAB_SIZE, size=WORDS_PER_DOC)]
        # a fixed stopword count keeps every base document above the
        # Gopher stopword floor
        pos = rng.choice(WORDS_PER_DOC, size=WORDS_PER_DOC // 8, replace=False)
        words[pos] = stop[rng.integers(0, len(stop), size=len(pos))]
        return list(words)

    base = [doc() for _ in range(n_base)]
    picks = rng.permutation(n_base)[: n_exact + n_near]
    texts = [" ".join(w) for w in base]
    texts += [texts[i] for i in picks[:n_exact]]
    for i in picks[n_exact:]:
        w = list(base[i])
        pos = rng.integers(0, WORDS_PER_DOC)
        new = vocab[rng.integers(0, VOCAB_SIZE)]
        # never the word already there: that would plant an exact duplicate
        w[pos] = new if new != w[pos] else new + "x"
        texts.append(" ".join(w))
    texts += [" ".join(vocab[rng.integers(0, VOCAB_SIZE, size=4)]) for _ in range(n_short)]
    # shuffle so duplicates are not adjacent to their originals
    order = rng.permutation(len(texts))
    return pa.table({
        "doc_id": pa.array(np.arange(len(texts), dtype=np.int64)),
        "text": pa.array([texts[i] for i in order], type=pa.string()),
    })
