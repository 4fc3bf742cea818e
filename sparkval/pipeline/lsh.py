"""Bucket-local pair verify shared by every LSH family.

Every banded near-dup operator (MinHash, SimHash, hyperplane cosine,
bit-sampling cosine) reduces to the same shape: a band table of
``(id, band, bucket, payload)`` rows, where two rows are candidates iff
they share a (band, bucket), and a family-specific score over the two
payloads decides which candidates survive. ``bucket_pairs`` owns all of
that shape once; a ``Scorer`` supplies only the family arithmetic.

The payload rides the banding explode once (O(rows x bands), linear)
and each bucket verifies in place inside one grouped Arrow kernel, so
the shuffle never carries a row per candidate pair. Per bucket:

- buckets below the scorer's ``pair_split`` members (the overwhelming
  majority: median 2 at corpus scale) enumerate their (i < j) pairs,
  and ALL of a group's small-bucket pairs go through one batched exact
  call — no per-bucket numpy call floor;
- larger buckets collapse rows with byte-identical payloads first (any
  scorer that is a pure function of the payload bytes scores every
  member of a collapsed group identically, so a hot bucket of
  near-identical rows costs O(unique^2), not O(members^2)), then the
  unique rows are compared in ``_VERIFY_BLOCK`` tiles through the
  scorer's over-accepting prefilter and survivors are scored exactly;
- buckets above ``_HOT_BUCKET_CAP`` members never reach a group whole:
  a JVM window sizes and ranks every bucket first, and a hot bucket's
  rows are re-keyed as (band, bucket, ci, cj) block pairs of contiguous
  id-ranked chunks, each its own group of the same grouped call (all
  pairs when ci == cj, cross-chunk pairs otherwise), so per-call work
  stays ~cap^2 pair cells however large a bucket grows.

The window and the grouped call share one ``_grp`` exchange, and rows
cross into Python once. The plan is static (no driver-side probe, no
eager checkpoint), so building it runs no Spark job. Emitted pairs are
``(min(id), max(id))``; pairs of rows with equal ids are never emitted.
A pair found in k bands carries the identical score k times, and the
final ``dropDuplicates(a, b)`` keeps one.
"""

from __future__ import annotations

from collections.abc import Callable
from typing import NamedTuple

import numpy as np
import pyarrow as pa

from pyspark.sql import DataFrame, functions as F
from pyspark.sql import types as T
from pyspark.sql.pandas.types import to_arrow_schema

#: tile edge for the unique-payload prefilter: bounds the prefilter's
#: peak memory at ~block^2 cells however large the bucket
_VERIFY_BLOCK = 2048
#: buckets ABOVE this member count are verified as block pairs, one
#: grouped call per block pair (per-call work ~cap^2 pair cells); no
#: bucket at any scale measured so far exceeds it
_HOT_BUCKET_CAP = 8192
#: index pairs per exact-score call: bounds the row gathers of one call
_PAIR_CHUNK = 1 << 21


class Scorer(NamedTuple):
    """The family arithmetic ``bucket_pairs`` verifies with.

    ``read(arr)``: the payload Arrow column as a (len(arr), w) row
    matrix. ``tile(A, B)``: (len(A), len(B)) bool mask of row pairs
    that MAY be kept — it may over-accept, never under-accept.
    ``exact(X, pi, pj)``: (k, score) — positions k into the index-pair
    arrays of the pairs kept, and their exact scores; it may prefilter
    internally. Scores must be a symmetric, pure function of the two
    payloads' bytes. ``pair_split``: buckets below this many members
    verify as one batched ``exact`` call over their enumerated pairs,
    larger ones through collapse + tiles — the crossover of the
    scorer's per-pair gather cost against the ~0.2-0.5 ms fixed cost
    of tiling one bucket."""

    read: Callable[[pa.Array], np.ndarray]
    tile: Callable[[np.ndarray, np.ndarray], np.ndarray]
    exact: Callable[[np.ndarray, np.ndarray, np.ndarray], tuple[np.ndarray, np.ndarray]]
    score_col: str
    score_type: T.DataType
    pair_split: int = 512


def _segmented_arange(counts: np.ndarray) -> np.ndarray:
    """[0..c0), [0..c1), ... concatenated."""
    starts = np.concatenate(([0], np.cumsum(counts)[:-1]))
    return np.arange(int(counts.sum()), dtype=np.int64) - np.repeat(starts, counts)


def _collapse(X: np.ndarray) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Unique payload rows: (U, order, bounds) with rows
    order[bounds[g]:bounds[g + 1]] of X all byte-equal to U[g]."""
    rows = np.ascontiguousarray(X).reshape(len(X), -1)
    void = rows.view(np.dtype((np.void, rows.shape[1] * rows.itemsize))).ravel()
    _, first, inv = np.unique(void, return_index=True, return_inverse=True)
    order = np.argsort(inv, kind="stable")
    bounds = np.searchsorted(inv[order], np.arange(len(first) + 1))
    return X[first], order, bounds


def bucket_pairs(bands: DataFrame, id_col: str, payload_col: str,
                 scorer: Scorer) -> DataFrame:
    """Deduplicated ``(a, b, <scorer.score_col>)`` pairs, ``a < b``, of
    rows sharing a (band, bucket) of ``bands`` that ``scorer`` keeps.

    ``bands`` holds ``id_col`` (integral), ``band``, ``bucket`` and
    ``payload_col``. Buckets are grouped under a coarse deterministic
    key (xxhash64(band, bucket) mod groups), so the grouped call sees
    O(parallelism x 32) groups instead of one Python call per bucket;
    a bucket never straddles groups, so segmentation in the kernel is
    exact."""
    n_groups = max(bands.sparkSession.sparkContext.defaultParallelism, 8) * 32
    rows = bands.select(
        F.pmod(F.xxhash64("band", "bucket"), F.lit(n_groups)).alias("_grp"),
        "band",
        "bucket",
        F.col(id_col).cast("long").alias("_id"),
        F.col(payload_col).alias("_payload"),
    ).repartition("_grp")
    # The bucket window and the grouped call below both run on this one
    # _grp partitioning (a bucket never straddles a _grp). _n is the
    # bucket size, _r the id rank; a hot bucket's rows are cut into
    # ceil(_n / cap) contiguous chunks of the id-ranked bucket and each
    # row is re-emitted once per chunk pair that includes its chunk, so
    # every member pair lands in exactly one (band, bucket, ci, cj)
    # block. Other rows keep a null block key. (SQL text: the same plan
    # as the Column API in two py4j calls instead of dozens.)
    bucket = "PARTITION BY _grp, band, bucket ORDER BY _id"
    ranked = rows.selectExpr(
        "*",
        f"count(1) OVER ({bucket} ROWS BETWEEN UNBOUNDED PRECEDING"
        " AND UNBOUNDED FOLLOWING) AS _n",
        f"row_number() OVER ({bucket}) - 1 AS _r",
    )
    hot, nck = f"_n > {_HOT_BUCKET_CAP}", f"CAST(ceil(_n / {_HOT_BUCKET_CAP}) AS INT)"
    chunk = f"CAST(floor(CAST(_r AS BIGINT) * {nck} / _n) AS INT)"
    keyed = ranked.selectExpr(
        "_grp", "band", "bucket", "_id", "_payload",
        f"IF({hot}, {chunk}, NULL) AS chunk",
        f"explode_outer(IF({hot}, transform(sequence(0, {nck} - 1), o -> named_struct("
        f"'band', band, 'bucket', bucket, 'ci', least({chunk}, o), 'cj', greatest({chunk}, o)"
        ")), NULL)) AS _block",
    )
    schema = T.StructType(
        [
            T.StructField("a", T.LongType()),
            T.StructField("b", T.LongType()),
            T.StructField("score", scorer.score_type),
        ]
    )
    out_schema = to_arrow_schema(schema)

    def verify_block(out, ids_l, X_l, ids_r=None, X_r=None) -> None:
        """All kept pairs within one row set (``ids_r`` None) or across
        two: collapse, tile prefilter, exact score, member expansion."""
        same = ids_r is None
        U_l, o_l, b_l = _collapse(X_l)
        U_r, o_r, b_r = (U_l, o_l, b_l) if same else _collapse(X_r)
        mem_l = ids_l[o_l]
        mem_r = mem_l if same else ids_r[o_r]
        U = U_l if same else np.concatenate([U_l, U_r])
        off_r = 0 if same else len(U_l)
        n_l, n_r = len(U_l), len(U_r)
        cnt_l, cnt_r = np.diff(b_l), np.diff(b_r)
        for i0 in range(0, n_l, _VERIFY_BLOCK):
            i1 = min(i0 + _VERIFY_BLOCK, n_l)
            for j0 in range(i0 if same else 0, n_r, _VERIFY_BLOCK):
                j1 = min(j0 + _VERIFY_BLOCK, n_r)
                hit = scorer.tile(U_l[i0:i1], U_r[j0:j1])
                if same and i0 == j0:
                    # upper triangle; a diagonal (g, g) cell stands for
                    # the pairs inside collapsed group g, if it has any
                    hit &= ~np.tri(*hit.shape, k=-1, dtype=bool)
                    d = np.arange(len(hit))
                    hit[d, d] &= cnt_l[i0:i1] > 1
                gi, gj = np.nonzero(hit)
                for c0 in range(0, len(gi), _PAIR_CHUNK):
                    ci = gi[c0: c0 + _PAIR_CHUNK] + i0
                    cj = gj[c0: c0 + _PAIR_CHUNK] + j0
                    k, score = scorer.exact(U, ci, cj + off_r)
                    ci, cj = ci[k], cj[k]
                    na, nb = cnt_l[ci], cnt_r[cj]
                    cell = np.repeat(np.arange(len(ci)), na * nb)
                    pos = _segmented_arange(na * nb)
                    ra = b_l[ci[cell]] + pos // nb[cell]
                    rb = b_r[cj[cell]] + pos % nb[cell]
                    if same:  # a diagonal (g, g) cell keeps each pair once
                        upper = (ci[cell] != cj[cell]) | (ra < rb)
                        cell, ra, rb = cell[upper], ra[upper], rb[upper]
                    emit(out, mem_l[ra], mem_r[rb], score[cell])

    def emit(out, ia, ib, score) -> None:
        ne = ia != ib  # an id duplicated in the input never pairs with itself
        out.append((np.minimum(ia, ib)[ne], np.maximum(ia, ib)[ne], score[ne]))

    def buckets(out, tbl: pa.Table) -> None:
        """Every pair of every (at most cap-sized) bucket in ``tbl``."""
        m = tbl.num_rows
        band = tbl.column("band").to_numpy()
        bucket = tbl.column("bucket").to_numpy()
        ids = tbl.column("_id").to_numpy()
        order = np.lexsort((ids, bucket, band))
        ids, band, bucket = ids[order], band[order], bucket[order]
        X = scorer.read(tbl.column("_payload").chunk(0))[order]
        seg_new = np.empty(m, dtype=bool)
        seg_new[0] = True
        seg_new[1:] = (band[1:] != band[:-1]) | (bucket[1:] != bucket[:-1])
        starts = np.flatnonzero(seg_new)
        sizes = np.diff(np.append(starts, m))
        # small buckets: every (i < j) pair of every bucket, enumerated
        # without a per-bucket loop, scored by one batched exact call
        row_size = np.repeat(sizes, sizes)
        pos = np.arange(m) - np.repeat(starts, sizes)
        cnt = np.where(row_size < scorer.pair_split, row_size - 1 - pos, 0)
        pi = np.repeat(np.arange(m), cnt)
        pj = pi + 1 + _segmented_arange(cnt)
        for c0 in range(0, len(pi), _PAIR_CHUNK):
            i, j = pi[c0: c0 + _PAIR_CHUNK], pj[c0: c0 + _PAIR_CHUNK]
            k, score = scorer.exact(X, i, j)
            emit(out, ids[i[k]], ids[j[k]], score)
        for s, mm in zip(starts, sizes):
            if mm >= scorer.pair_split:
                verify_block(out, ids[s: s + mm], X[s: s + mm])

    def kernel(tbl: pa.Table) -> pa.Table:
        """One _grp's buckets up to the cap, or one block pair of a
        bucket above it (all pairs when ci == cj, cross-chunk pairs
        otherwise)."""
        out: list[tuple] = []
        if tbl.num_rows > 1:
            tbl = tbl.combine_chunks()
            block = tbl.column("_block")[0].as_py()
            if block is None:
                buckets(out, tbl)
            else:
                ci, cj = block["ci"], block["cj"]
                ids = tbl.column("_id").to_numpy()
                X = scorer.read(tbl.column("_payload").chunk(0))
                if ci == cj:
                    verify_block(out, ids, X)
                else:
                    chunk = tbl.column("chunk").to_numpy()
                    left, right = chunk == ci, chunk == cj
                    verify_block(out, ids[left], X[left], ids[right], X[right])
        a, b, score = (
            (np.concatenate(c) for c in zip(*out)) if out
            else (np.empty(0, np.int64), np.empty(0, np.int64), [])
        )
        return pa.table(
            [pa.array(a, pa.int64()), pa.array(b, pa.int64()),
             pa.array(score, out_schema.field("score").type)],
            schema=out_schema,
        )

    verified = keyed.groupBy("_grp", "_block").applyInArrow(kernel, schema)
    return verified.select(
        "a", "b", F.col("score").alias(scorer.score_col)
    ).dropDuplicates(["a", "b"])
