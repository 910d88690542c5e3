"""Seeded input generator for the LSH benchmark.

One Gaussian mixture of 512 centres produces every vector a run uses: the
corpus, the held-out query vectors, and the vectors appended by the write
path. Vectors are unit-norm float32. Each stream (corpus, queries, appends,
deletes) draws from its own child of the seed, so changing how many queries
or append rounds a workload uses never changes the corpus.

Id spaces never collide:
  corpus ids    0 .. n-1
  appended ids  n .. n + rounds * append_per_round - 1
  query ids     QUERY_ID_BASE + i  (held out: never stored in the index)
"""

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

CENTRES = 512
QUERY_ID_BASE = 1 << 40


def _unit(x):
    return (x / np.linalg.norm(x, axis=1, keepdims=True)).astype(np.float32)


class Mixture:
    """The shared mixture: centres fixed by the seed, points drawn around them."""

    def __init__(self, seed, dim, spread):
        self.dim = dim
        self.spread = spread
        rng = np.random.default_rng([seed, dim, 0])
        self.centres = _unit(rng.standard_normal((CENTRES, dim)))

    def draw(self, rng, m):
        """m unit-norm points and the centre each came from."""
        which = rng.integers(0, CENTRES, m)
        noise = rng.standard_normal((m, self.dim)) * (self.spread / np.sqrt(self.dim))
        return _unit(self.centres[which] + noise), which.astype(np.int32)


def generate(seed, n, dim, queries, rounds=0, append_per_round=0,
             delete_per_round=0, spread=0.6):
    """All inputs of one run, as numpy arrays.

    Returns a dict with `ids`, `vectors`, `labels` (corpus), `query_ids`,
    `query_vectors`, and per round `appends` (list of (ids, vectors,
    labels)) and `deletes` (list of id arrays). Each round's deletes are
    drawn from the ids live after that round's append, so no id is deleted
    twice and every deleted id exists.
    """
    mix = Mixture(seed, dim, spread)
    corpus_rng, query_rng, append_rng, delete_rng = (
        np.random.default_rng([seed, dim, s]) for s in (1, 2, 3, 4))
    vectors, labels = mix.draw(corpus_rng, n)
    query_vectors, _ = mix.draw(query_rng, queries)
    appends, deletes = [], []
    live = list(range(n))
    next_id = n
    for _ in range(rounds):
        vecs, labs = mix.draw(append_rng, append_per_round)
        ids = np.arange(next_id, next_id + append_per_round, dtype=np.int64)
        next_id += append_per_round
        appends.append((ids, vecs, labs))
        live.extend(ids.tolist())
        pick = delete_rng.choice(len(live), size=delete_per_round, replace=False)
        gone = np.sort(np.asarray([live[i] for i in pick], dtype=np.int64))
        deletes.append(gone)
        drop = set(gone.tolist())
        live = [i for i in live if i not in drop]
    return {
        "ids": np.arange(n, dtype=np.int64),
        "vectors": vectors,
        "labels": labels,
        "query_ids": QUERY_ID_BASE + np.arange(queries, dtype=np.int64),
        "query_vectors": query_vectors,
        "appends": appends,
        "deletes": deletes,
    }


def write_parquet(path, ids, vectors, labels):
    """The engine's embeddings schema: vec_id int64, embedding list<float>, label int32."""
    dim = vectors.shape[1]
    flat = pa.array(vectors.reshape(-1), type=pa.float32())
    offsets = pa.array(np.arange(0, len(ids) * dim + 1, dim, dtype=np.int32))
    emb = pa.ListArray.from_arrays(offsets, flat)
    table = pa.table({
        "vec_id": pa.array(ids, type=pa.int64()),
        "embedding": emb,
        "label": pa.array(labels, type=pa.int32()),
    })
    pq.write_table(table, path)


def exact_top_k(corpus, corpus_ids, queries, k, exclude=None):
    """Brute-force k nearest corpus ids per query by Euclidean distance.

    `exclude[i]`, when given, is an id query i may not return (its own).
    Ties break on the smaller id, as the engine's ranking does.
    """
    out = np.empty((len(queries), k), dtype=np.int64)
    c = corpus.astype(np.float64)
    cn = (c * c).sum(axis=1)
    for start in range(0, len(queries), 256):
        q = queries[start:start + 256].astype(np.float64)
        d = cn[None, :] - 2.0 * (q @ c.T) + (q * q).sum(axis=1)[:, None]
        if exclude is not None:
            for row, ex in enumerate(exclude[start:start + 256]):
                d[row, corpus_ids == ex] = np.inf
        part = np.argpartition(d, k, axis=1)[:, :k + 1]
        for row in range(len(q)):
            cand = part[row]
            order = np.lexsort((corpus_ids[cand], d[row, cand]))
            out[start + row] = corpus_ids[cand[order[:k]]]
    return out
