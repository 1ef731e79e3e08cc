"""Seeded inputs for the ANN workloads.

Vectors come from a mixture of Gaussian clusters: random centres, and
points scattered around a centre picked uniformly. Queries come from the
same mixture and are not corpus members. Everything is a function of the
seed.
"""
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

SEARCH, INSERT_NEW, OVERWRITE, DELETE = 0, 1, 2, 3


class Mixture:
    def __init__(self, rng, centres, dim, sigma):
        self.rng = rng
        self.centres = rng.standard_normal((centres, dim))
        self.sigma = sigma

    def draw(self, n):
        c = self.rng.integers(0, len(self.centres), n)
        noise = self.rng.standard_normal((n, self.centres.shape[1]))
        return self.centres[c] + self.sigma * noise


def write_f64(path, a):
    np.ascontiguousarray(a, dtype="<f8").tofile(path)


def write_corpus(path, vectors):
    """The corpus table the index build reads: (vec_id BIGINT,
    embedding ARRAY<DOUBLE>), ids 0..n-1."""
    n, dim = vectors.shape
    flat = pa.array(np.ascontiguousarray(vectors).reshape(-1), type=pa.float64())
    offsets = pa.array(np.arange(0, n * dim + 1, dim, dtype=np.int32))
    table = pa.table({
        "vec_id": pa.array(np.arange(n, dtype=np.int64)),
        "embedding": pa.ListArray.from_arrays(offsets, flat),
    })
    pq.write_table(table, path)


def ann_serve(d, seed, cfg):
    mix = Mixture(np.random.default_rng(seed), cfg["centres"], cfg["dim"], cfg["sigma"])
    corpus = mix.draw(cfg["n"])
    queries = mix.draw(cfg["pool"])
    write_corpus(os.path.join(d, "corpus.parquet"), corpus)
    write_f64(os.path.join(d, "queries.f64"), queries)
    return {"corpus": corpus, "queries": queries}


def ann_ingest(d, seed, cfg):
    """Initial corpus, a query pool, and an op stream of (kind, id, row):
    search rows index the pool; insert and overwrite rows index the insert
    vectors; overwrite and delete pick a live id uniformly."""
    rng = np.random.default_rng(seed)
    mix = Mixture(rng, cfg["centres"], cfg["dim"], cfg["sigma"])
    corpus = mix.draw(cfg["n"])
    queries = mix.draw(cfg["pool"])
    n_ops = cfg["ops"]
    kinds = rng.choice(4, size=n_ops, p=cfg["mix"])
    n_vec = int(np.sum((kinds == INSERT_NEW) | (kinds == OVERWRITE)))
    inserts = mix.draw(n_vec)
    picks = rng.random(n_ops)
    rows = rng.integers(0, cfg["pool"], n_ops)
    live = list(range(cfg["n"]))
    pos = {i: i for i in live}
    next_id, next_vec = cfg["n"], 0
    ops = np.empty((n_ops, 3), dtype=np.int64)
    for i, kind in enumerate(kinds):
        if kind == SEARCH:
            ops[i] = (SEARCH, -1, rows[i])
        elif kind == INSERT_NEW:
            ops[i] = (INSERT_NEW, next_id, next_vec)
            pos[next_id] = len(live)
            live.append(next_id)
            next_id += 1
            next_vec += 1
        else:
            victim = live[int(picks[i] * len(live))]
            if kind == OVERWRITE:
                ops[i] = (OVERWRITE, victim, next_vec)
                next_vec += 1
            else:
                ops[i] = (DELETE, victim, -1)
                j, last = pos.pop(victim), live.pop()
                if last != victim:
                    live[j] = last
                    pos[last] = j
    write_corpus(os.path.join(d, "corpus.parquet"), corpus)
    write_f64(os.path.join(d, "queries.f64"), queries)
    write_f64(os.path.join(d, "inserts.f64"), inserts)
    ops.astype("<i8").tofile(os.path.join(d, "ops.i64"))
    return {"corpus": corpus, "queries": queries, "inserts": inserts, "ops": ops}
