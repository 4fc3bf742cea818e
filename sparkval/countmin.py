"""Count-min sketch kernel (numpy/python) — the heavy-hitter monoid.

Fourth member of the engine's mergeable-sketch family (histogram
partials, t-digest, HLL): per-task sketches sum elementwise into any
rollup, so a persisted per-partition sketch table answers "top terms
over any group union" without rescanning the corpus. The reference's
StripReducer partial/merge discipline (strip.rs:126-209) applied to
frequency estimation.

Every hash here is ENGINE-REPLAYABLE (the reason this sketch has a
full value oracle, not an invariant one): the base hash is the first
8 hex chars of md5 (identical in Python, Spark's md5()+conv(), and
DuckDB's md5()), and the per-row mixing is integer arithmetic mod the
Mersenne prime 2^31-1 with every intermediate < 2^63, so numpy int64,
Spark LongType and DuckDB BIGINT all compute the identical bucket.
Estimates are deterministic integers — min over depth rows of the
colliding-mass sums — so two engines agree exactly.
"""

from __future__ import annotations

import hashlib

import numpy as np

P = 2147483647  # 2^31 - 1
DEPTH = 4
WIDTH = 2048


def row_coeffs(depth: int = DEPTH) -> list[tuple[int, int]]:
    """(a_j, b_j) for each sketch row j — both < p, so a_j * h0 with
    h0 < 2^32 stays under 2^63 (checked: (p-1)*(2^32-1) + (p-1) <
    2^63 - 1)."""
    return [
        ((2654435761 * (j + 1)) % P, (40503 * (j + 1) + 7) % P)
        for j in range(depth)
    ]


def term_hash(term: str) -> int:
    """First 8 md5 hex chars as an int (< 2^32) — the cross-engine
    base hash."""
    return int(hashlib.md5(term.encode("utf-8")).hexdigest()[:8], 16)


def buckets(h0: int, depth: int = DEPTH, width: int = WIDTH) -> list[int]:
    return [((a * h0 + b) % P) % width for a, b in row_coeffs(depth)]


def empty_sketch(depth: int = DEPTH, width: int = WIDTH) -> np.ndarray:
    return np.zeros(depth * width, dtype=np.int64)


def update(
    sketch: np.ndarray,
    terms,
    counts,
    depth: int = DEPTH,
    width: int = WIDTH,
) -> np.ndarray:
    """Add ``counts[i]`` occurrences of ``terms[i]`` into the sketch
    (in place). Hashing is per DISTINCT term — callers pre-aggregate
    their batch (Arrow value_counts), so the python-level md5 cost
    is O(batch vocabulary), not O(tokens)."""
    for term, n in zip(terms, counts):
        h0 = term_hash(term)
        for j, b in enumerate(buckets(h0, depth, width)):
            sketch[j * width + b] += int(n)
    return sketch


def merge(sketches) -> np.ndarray:
    """Elementwise sum — the monoid op."""
    out = None
    for s in sketches:
        a = np.asarray(s, dtype=np.int64)
        out = a.copy() if out is None else out + a
    return out


def estimate(
    sketch: np.ndarray, term: str, depth: int = DEPTH, width: int = WIDTH
) -> int:
    """Point-frequency estimate: min over rows. Deterministic, always
    >= the true count (collisions only ever add)."""
    h0 = term_hash(term)
    return int(
        min(sketch[j * width + b] for j, b in enumerate(buckets(h0, depth, width)))
    )
