"""Sample statistics and answer-quality measures used by the benchmark."""
import math
import statistics

import numpy as np

# Percentile levels a tail may be reported at, lowest first.
TAIL_LADDER = (50.0, 75.0, 90.0, 95.0, 99.0, 99.5, 99.9, 99.95, 99.99)
TAIL_BEYOND = 10


def tail_level(n):
    """The highest ladder percentile with at least TAIL_BEYOND of n samples
    beyond it, or None when even the median has fewer."""
    best = None
    for p in TAIL_LADDER:
        if round(n * (100.0 - p) / 100.0, 6) >= TAIL_BEYOND:
            best = p
    return best


def percentile(values, p):
    """Nearest-rank percentile of an unsorted sequence."""
    s = sorted(values)
    if not s:
        raise ValueError("no samples")
    rank = max(1, math.ceil(p * len(s) / 100.0 - 1e-9))
    return s[rank - 1]


def tail(values):
    """(level, value) of the tail percentile of `values`."""
    level = tail_level(len(values))
    if level is None:
        raise ValueError(f"{len(values)} samples are too few for a tail")
    return level, percentile(values, level)


def median(values):
    return statistics.median(values)


def exact_topk(ids, vectors, queries, k):
    """Exact cosine top-k ids per query, ties broken by id ascending."""
    ids = np.asarray(ids)
    norms = np.linalg.norm(vectors, axis=1)
    norms[norms == 0] = 1.0
    unit = vectors / norms[:, None]
    out = np.empty((len(queries), k), dtype=np.int64)
    for lo in range(0, len(queries), 128):
        q = queries[lo:lo + 128]
        qn = np.linalg.norm(q, axis=1)
        qn[qn == 0] = 1.0
        dist = 1.0 - (q / qn[:, None]) @ unit.T
        cand = np.argpartition(dist, k - 1, axis=1)[:, :k] if dist.shape[1] > k \
            else np.tile(np.arange(dist.shape[1]), (len(q), 1))
        for r in range(len(q)):
            c = cand[r]
            order = np.lexsort((ids[c], dist[r, c]))[:k]
            out[lo + r] = ids[c[order]]
    return out


def recall_at_k(approx, truth, k):
    """Mean share of each query's true top-k found in its returned top-k."""
    hits = 0
    for a, t in zip(approx, truth):
        hits += len({int(x) for x in a[:k] if x >= 0} & {int(x) for x in t[:k]})
    return hits / (k * len(truth))
