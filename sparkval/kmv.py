"""K-minimum-values (KMV) sketch kernel — the set-overlap monoid.

Sixth member of the engine's mergeable-sketch family (histogram
partials, t-digest, HLL, count-min, Bloom): keep the ``k`` smallest
distinct 32-bit hashes of a value set. Merging is union-then-k-
smallest (associative, commutative, idempotent), so per-task partials
roll up to any group union, and — unlike HLL — a KMV sketch supports
SET ALGEBRA: the k smallest of the union of two sketches is a valid
sample of the union, so Jaccard similarity between two groups is
estimable from their kilobyte sketches alone (Bar-Yossef et al. 2002;
Beyer et al. 2007 "distinct-value estimation" — public literature).

The hash is the engine-replayable md5 prefix shared with
sparkval.countmin/bloom (identical in Python, Spark md5()+conv(),
DuckDB md5()), and every estimator below is a deterministic closed
form over sorted integer arrays — so both the sketches AND the
estimates carry a FULL value oracle.

Estimators (U = 2^32, h_(k) = the kth smallest hash):
- distinct count: exact |sketch| while |sketch| < k, else
  (k-1) * U / h_(k)
- Jaccard(A, B): X = k smallest of (A ∪ B) sketch union;
  |{x in X : x in A and x in B}| / |X| (``stats.kmv_jaccard_expr``)
"""

from __future__ import annotations

import numpy as np

from sparkval.countmin import term_hash

K = 256
U = 1 << 32  # hash space size; h0 is the md5-prefix 32-bit int


def sketch_of(values, k: int = K) -> np.ndarray:
    """k smallest DISTINCT hashes of the values, ascending int64."""
    hs = np.unique(np.fromiter(
        (term_hash(str(v)) for v in values), dtype=np.int64
    )) if len(values) else np.empty(0, dtype=np.int64)
    return hs[:k]


def merge(sketches, k: int = K) -> np.ndarray:
    """Union then k smallest — the monoid op (idempotent)."""
    parts = [np.asarray(s, dtype=np.int64) for s in sketches]
    if not parts:
        return np.empty(0, dtype=np.int64)
    return np.unique(np.concatenate(parts))[:k]


def distinct_estimate(sketch: np.ndarray, k: int = K) -> float:
    """Exact below k (every distinct hash was kept), KMV estimator at
    saturation."""
    n = len(sketch)
    if n < k:
        return float(n)
    return (k - 1) * float(U) / float(sketch[k - 1])

