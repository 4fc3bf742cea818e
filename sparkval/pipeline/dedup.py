"""Deduplication operators: exact, MinHash-LSH, SimHash, n-gram
Jaccard, embedding-cosine near-dup.

Scale design:
- exact: hash-groupBy on a 128-bit content hash — one shuffle of
  (hash, key) pairs only, never content.
- MinHash-LSH: per-doc signatures via ONE vectorized Arrow kernel
  (numpy, no per-row Python), then banding -> explode(bands) with the
  signature riding along -> bucket-local verify (pipeline.lsh): each
  (band, bucket) scores its own pairs in place, so candidate volume
  never crosses the shuffle, and buckets above the hot-bucket cap are
  split into block pairs so per-task work stays bounded.
- SimHash: same shape, 64-bit signature, ``max_hamming + 1`` bit blocks
  as the bands, verified in place by XOR + popcount.
- n-gram Jaccard: exact verification joined onto LSH candidates only.

All thresholds/permutations are deterministic (fixed seeds) so
results are reproducible across runs and partitionings.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pyarrow as pa

from pyspark.sql import DataFrame, functions as F
from pyspark.sql import types as T

from sparkval.pipeline import lsh
from sparkval.pipeline.lsh import _segmented_arange
from sparkval.session import _spread_small_input

# Deterministic MinHash permutation parameters (a*x+b mod p), seed 42.
_MINHASH_P = np.uint64((1 << 61) - 1)
_N_PERM = 64
_rng = np.random.default_rng(42)
_PERM_A = _rng.integers(1, int(_MINHASH_P) - 1, _N_PERM, dtype=np.uint64)
_PERM_B = _rng.integers(0, int(_MINHASH_P) - 1, _N_PERM, dtype=np.uint64)


def exact_duplicates(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Groups of byte-identical documents: (fp, n_dups, doc_ids)."""
    h = F.sha2(F.col(text_col).cast("binary"), 256).alias("fp")
    groups = (
        df.select(h, F.col(id_col))
        .groupBy("fp")
        .agg(F.count(F.lit(1)).alias("n_dups"), F.sort_array(F.collect_list(id_col)).alias("doc_ids"))
        .filter(F.col("n_dups") > 1)
    )
    return groups


_FNV = np.uint64(1099511628211)


def _arrow_shingle_stream(batch: pa.RecordBatch, text_idx: int, k: int
                          ) -> tuple[np.ndarray, np.ndarray]:
    """Per-doc rolling k-gram hashes IN DOCUMENT ORDER for a whole
    record batch, computed over the string column's single contiguous
    UTF-8 buffer: k vectorized horner passes over the raw bytes, then
    one gather of each doc's valid window starts (windows straddling a
    document boundary are simply never gathered). Zero per-doc Python
    for any doc >= k bytes; shorter/null docs (rare) take the padded
    single-shingle fallback of the scalar kernel.

    Returns (hashes_flat, counts_per_doc) — hash values bit-identical
    to _shingles(text, k, unique=False).
    """
    arr = batch.column(text_idx)
    n = len(arr)
    off_dtype = np.int64 if pa.types.is_large_string(arr.type) else np.int32
    bufs = arr.buffers()
    off = (
        np.frombuffer(bufs[1], dtype=off_dtype)[arr.offset : arr.offset + n + 1]
        .astype(np.int64)
    )
    data = (
        np.frombuffer(bufs[2], dtype=np.uint8)
        if bufs[2] is not None
        else np.empty(0, dtype=np.uint8)
    )
    lengths = off[1:] - off[:-1]

    m = len(data) - k + 1
    if m > 0:
        h = np.zeros(m, dtype=np.uint64)
        with np.errstate(over="ignore"):
            for i in range(k):
                h = h * _FNV + data[i : i + m]
    else:
        h = np.empty(0, dtype=np.uint64)

    win_counts = np.maximum(lengths - k + 1, 0)
    fc = np.where(lengths >= k, win_counts, 1).astype(np.int64)
    out = np.empty(int(fc.sum()), dtype=np.uint64)
    out_starts = np.concatenate(([0], np.cumsum(fc)[:-1]))
    long_mask = lengths >= k
    lc = np.where(long_mask, win_counts, 0)
    dest = _segmented_arange(lc) + np.repeat(out_starts, lc)
    src = _segmented_arange(lc) + np.repeat(off[:-1], lc)
    out[dest] = h[src]
    for d in np.flatnonzero(~long_mask):  # short/null docs only
        b = np.frombuffer(
            bytes(data[off[d] : off[d + 1]]).ljust(k, b" "), dtype=np.uint8
        ).astype(np.uint64)
        v = np.uint64(0)
        with np.errstate(over="ignore"):
            for i in range(k):
                v = v * _FNV + b[i]
        out[out_starts[d]] = v
    return out, fc


def _segmented_unique(flat: np.ndarray, counts: np.ndarray
                      ) -> tuple[np.ndarray, np.ndarray]:
    """Per-segment sorted-unique of a flat segmented array, fully
    vectorized: lexsort by (segment, value), keep segment-firsts and
    value-changes. Returns (flat_unique, counts_unique) — per segment
    identical to np.unique of that segment."""
    if len(flat) == 0:
        return flat, counts * 0
    seg = np.repeat(np.arange(len(counts), dtype=np.int64), counts)
    order = np.lexsort((flat, seg))
    fs, ss = flat[order], seg[order]
    keep = np.empty(len(fs), dtype=bool)
    keep[0] = True
    keep[1:] = (fs[1:] != fs[:-1]) | (ss[1:] != ss[:-1])
    return fs[keep], np.bincount(ss[keep], minlength=len(counts)).astype(np.int64)


def _shingles(text: str, k: int = 5, unique: bool = True) -> np.ndarray:
    """Character k-shingle hashes, vectorized via numpy byte tricks.

    ``unique=True`` (set semantics) for MinHash/SimHash; winnowing
    needs ``unique=False`` — the hashes in DOCUMENT ORDER — because
    its window-minimum selection is positional."""
    b = np.frombuffer(text.encode("utf-8", "replace"), dtype=np.uint8)
    if len(b) < k:
        b = np.pad(b, (0, k - len(b)), constant_values=32)
    windows = np.lib.stride_tricks.sliding_window_view(b, k).astype(np.uint64)
    # polynomial rolling hash of each window (vectorized horner)
    h = np.zeros(len(windows), dtype=np.uint64)
    with np.errstate(over="ignore"):
        for i in range(k):
            h = h * np.uint64(1099511628211) + windows[:, i]
    return np.unique(h) if unique else h


def minhash_signatures(df: DataFrame, text_col: str = "text", id_col: str = "doc_id",
                       k_shingle: int = 5) -> DataFrame:
    """64-permutation MinHash signature per document — one mapInArrow
    kernel over the raw string buffer: batch-wide rolling k-gram
    hashes (_arrow_shingle_stream, no per-doc Python, no Python str
    objects), segmented per-doc dedup, then per-doc minima with one
    segmented reduce per permutation of the (a*x+b) mod p family."""
    out_schema = T.StructType(
        [
            T.StructField(id_col, T.LongType(), False),
            T.StructField("signature", T.ArrayType(T.LongType()), False),
        ]
    )

    def gen(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for batch in batches:
            n = batch.num_rows
            if n == 0:
                continue
            ids = batch.column(0).to_numpy()
            flat, counts = _arrow_shingle_stream(batch, 1, k_shingle)
            uflat, ucounts = _segmented_unique(flat, counts)
            offsets = np.concatenate(([0], np.cumsum(ucounts)[:-1]))
            with np.errstate(over="ignore"):
                sig_mat = np.empty((_N_PERM, n), dtype=np.uint64)
                for p in range(_N_PERM):
                    hp = (uflat * _PERM_A[p] + _PERM_B[p]) % _MINHASH_P
                    sig_mat[p] = np.minimum.reduceat(hp, offsets)
            sigs = sig_mat.T.astype(np.int64)
            yield pa.record_batch(
                {
                    id_col: pa.array(ids, pa.int64()),
                    "signature": pa.array(list(sigs), pa.list_(pa.int64())),
                }
            )

    return _spread_small_input(df.select(id_col, text_col)).mapInArrow(gen, out_schema)


def _band_table(
    sigs: DataFrame, id_col: str, n_bands: int, carry: tuple[str, ...] = ()
) -> DataFrame:
    """(id, band, bucket) LSH banding rows: hash of each band's
    signature slice, salted by the band index. ``carry`` rides extra
    columns (e.g. the signature itself for the bucket-local verify)
    through the explode unchanged."""
    rows_per_band = _N_PERM // n_bands
    return sigs.select(
        id_col,
        *carry,
        F.posexplode(
            F.transform(
                F.sequence(F.lit(0), F.lit(n_bands - 1)),
                lambda i: F.hash(F.slice("signature", i * rows_per_band + 1, rows_per_band), i),
            )
        ).alias("band", "bucket"),
    )


def _minhash_scorer(threshold: float) -> lsh.Scorer:
    """Signature agreement: the estimate is agreeing permutations / 64,
    kept iff >= ``threshold``. Both the tile prefilter and the exact
    step bulk-count agreement on the LOW 16 BITS of each permutation
    value first (4x less memory traffic than int64): truncated equality
    is implied by full equality, so the truncated count only ever
    OVER-estimates, and every candidate is re-counted exactly on the
    full values before it is kept."""

    def read(arr: pa.Array) -> np.ndarray:
        # zero-copy (rows, 64) view of the list column's values buffer
        return arr.flatten().to_numpy().reshape(len(arr), _N_PERM)

    def tile(A: np.ndarray, B: np.ndarray) -> np.ndarray:
        # transposed-contiguous int16 perm planes (measured 5x faster
        # than row-major int64 planes at the hot-bucket shape)
        A16 = np.ascontiguousarray(A.astype(np.int16).T)
        B16 = np.ascontiguousarray(B.astype(np.int16).T)
        agree = np.zeros((len(A), len(B)), dtype=np.int16)
        for p in range(_N_PERM):
            agree += A16[p, :, None] == B16[p, None, :]
        return agree / float(_N_PERM) >= threshold

    def exact(S: np.ndarray, pi: np.ndarray, pj: np.ndarray):
        S16 = S.astype(np.int16)
        agree = (S16[pi] == S16[pj]).sum(axis=1, dtype=np.int16)
        cand = np.flatnonzero(agree / float(_N_PERM) >= threshold)
        est = (S[pi[cand]] == S[pj[cand]]).sum(axis=1) / float(_N_PERM)
        keep = est >= threshold
        return cand[keep], est[keep]

    return lsh.Scorer(read, tile, exact, "jaccard_est", T.DoubleType())


def near_duplicates_minhash(df: DataFrame, text_col: str = "text",
                            id_col: str = "doc_id", threshold: float = 0.7,
                            materialize: bool = True) -> DataFrame:
    """End-to-end MinHash near-dup: signatures -> 16-band LSH ->
    bucket-local signature-agreement verify (pipeline.lsh) -> pairs
    ``(a, b, jaccard_est)`` with ``a < b`` and estimate (agreeing
    permutations / 64) >= ``threshold``.

    The signature rides the banding explode, so it crosses the shuffle
    once per (doc, band) — O(corpus) — never once per candidate pair
    (the old self-join shape measured 103M candidate rows for 62k
    surviving pairs at the 100k-doc bench scale). The candidate set is
    every same-bucket pair of distinct ids.

    ``materialize=True`` (default) forces the (tiny: id-pair) result
    through an eager localCheckpoint, so multi-action callers (CC
    builds edges from it twice) never recompute the sweep.
    ``materialize=False`` returns a lazy plan: building it runs no
    Spark job, and the sweep runs inside the caller's single action.

    No global sort: the result is a pair SET (deterministic content);
    callers needing a stable order sort the (tiny) output themselves.
    """
    sigs = minhash_signatures(df, text_col, id_col)
    bands = _band_table(sigs, id_col, n_bands=16, carry=("signature",))
    out = lsh.bucket_pairs(bands, id_col, "signature", _minhash_scorer(threshold))
    if materialize:
        out = out.localCheckpoint(eager=True)
    return out


def dedupe_keep_canonical(df: DataFrame, text_col: str = "text",
                          id_col: str = "doc_id") -> DataFrame:
    """The retention step of exact dedup: keep ONE canonical document
    (lowest id) per byte-identical content group, pass uniques
    through — i.e. the deduplicated corpus a training pipeline feeds
    downstream, not just the duplicate-group report.

    Scale shape: group on the 256-bit content hash to elect winners,
    then a LEFT SEMI join back on (hash, id) — only (hash, id) pairs
    shuffle, never content; at 10^12 rows the winners table is
    ~distinct-contents sized, so the join stays a shuffled semi-join
    with AQE handling any viral-content skew.

    NULL content is NOT a duplicate group: sha2(NULL) is NULL, which
    would (a) lump every NULL doc into one group and (b) drop even its
    elected winner at the equi-join (NULL never equi-matches) — silent
    data loss. NULL docs instead fingerprint to a per-row sentinel
    keyed by their id, so each is its own group and passes through
    untouched, in the same single scan."""
    h = F.when(
        F.col(text_col).isNull(),
        F.concat(F.lit("\x00NULL:"), F.col(id_col).cast("string")),
    ).otherwise(F.sha2(F.col(text_col).cast("binary"), 256))
    withfp = df.withColumn("_fp", h)
    winners = withfp.groupBy("_fp").agg(F.min(id_col).alias(id_col))
    return withfp.join(winners, ["_fp", id_col], "left_semi").drop("_fp")


def connected_components(pairs: DataFrame, src: str = "a", dst: str = "b",
                         max_iter: int = 25, check_every: int = 2) -> DataFrame:
    """Pairs -> transitive duplicate GROUPS: (node, component) with
    component = the smallest node id reachable from node.

    The missing link between candidate generation and retention: LSH
    (minhash/simhash/cosine) emits PAIRS, but "keep one canonical doc
    per duplicate cluster" needs the transitive closure — A~B and B~C
    must land A, B, C in one group even when A~C never collided.

    Scale shape (min-label propagation, the GraphX/GraphFrames CC
    formulation): labels start at node id; each round every node takes
    the min label among itself and its neighbours — one edge⋈label join
    plus one shuffled groupBy per round, nothing driver-side, edges
    never collected.
    Round count is the graph DIAMETER; near-dup clusters are LSH-bucket
    cliques or short chains (diameter ~1-4), so 100 TB runs converge in
    a handful of rounds. ``max_iter`` guards pathological chains (a
    diameter-D path needs D rounds; raise it or pre-contract with
    exact-dedup first). Each round localCheckpoints the label table —
    O(nodes) rows — so the plan doesn't grow with iterations.

    Convergence is detected by counting label changes; the count()
    action runs every ``check_every`` rounds (default 2), halving the
    blocking driver round-trips for the shallow graphs LSH emits —
    O(diameter / check_every) actions total, the standard price of
    iterative algorithms on Spark. (A converged label table is a fixed
    point: extra propagation rounds inside a check window are cheap
    no-op joins over O(dup nodes) rows, never incorrect.)
    """
    edges = (
        pairs.select(F.col(src).alias("u"), F.col(dst).alias("v"))
        .union(pairs.select(F.col(dst).alias("u"), F.col(src).alias("v")))
        .distinct()
        .localCheckpoint(eager=True)
    )
    labels = (
        edges.select(F.col("u").alias("node"))
        .distinct()
        .withColumn("component", F.col("node"))
        .localCheckpoint(eager=True)
    )
    check_every = max(1, check_every)
    changed = None  # max_iter <= 0: the initial labels, no warning
    for it in range(max_iter):
        # candidate label for v: min label among its neighbours u
        cand = (
            edges.join(labels, edges["u"] == labels["node"])
            .groupBy(F.col("v").alias("node"))
            .agg(F.min("component").alias("cand"))
        )
        merged = (
            labels.join(cand, "node", "left")
            .select(
                "node",
                F.least(F.col("component"), F.coalesce("cand", "component")).alias("new_component"),
                "component",
            )
        )
        check = (it + 1) % check_every == 0 or it == max_iter - 1
        changed = (
            merged.filter(F.col("new_component") != F.col("component")).count()
            if check
            else None
        )
        labels = (
            merged.select("node", F.col("new_component").alias("component"))
            .localCheckpoint(eager=True)
        )
        if changed == 0:
            break
    if changed:
        # exhausted max_iter with labels still moving: the returned
        # components are SPLIT (a chain with diameter > max_iter keeps
        # extra duplicates downstream) — tell the caller instead of
        # silently under-merging (ADVICE r5)
        import warnings

        warnings.warn(
            f"connected_components did not converge in {max_iter} rounds "
            f"({changed} labels still changing): components may be split. "
            "Raise max_iter or pre-contract with exact dedup.",
            RuntimeWarning,
            stacklevel=2,
        )
    return labels


def dedupe_near_duplicates(df: DataFrame, text_col: str = "text",
                           id_col: str = "doc_id", threshold: float = 0.7,
                           exact_first: bool = True,
                           method: str = "minhash",
                           max_hamming: int = 3,
                           max_edit: int = 4) -> DataFrame:
    """End-to-end near-duplicate DEDUP — the operation a training
    pipeline actually runs, fused from its three stages: MinHash-LSH
    candidate pairs -> transitive components -> keep the canonical
    (lowest-id) member per cluster, uniques passing through.

    ``exact_first`` pre-contracts byte-identical copies with exact
    dedup before LSH ever shingles anything — at web scale the exact
    duplicates are the bulk of the removable mass and cost one
    hash-groupBy, so the expensive signature kernel only sees distinct
    contents. Canonicality composes: exact dedup keeps the min id per
    identical group, CC labels components by min member id, so the
    survivor is the global min id of the merged near-dup cluster.

    Scale shape: content shuffles ZERO times after the (optional)
    exact pass — LSH ships (id, band, bucket), CC iterates over O(dup
    nodes) label rows, and retention is one left-anti join of the
    corpus against the O(dup nodes) loser-id set (AQE broadcasts it
    when small).

    ``method`` selects the candidate generator: "minhash" (Jaccard >=
    ``threshold``, the default), "simhash" (Hamming <=
    ``max_hamming`` over 64-bit signatures — cheaper per doc, blunter
    on partial overlap), "winnow" (MOSS containment >= ``threshold``
    over winnowed fingerprints — catches a small file embedded in a
    large one, which symmetric Jaccard dilutes away), or
    "levenshtein" (edit distance <= ``max_edit`` within prefix
    blocks — the short-text/typo generator, and the only
    DETERMINISTIC one, which is why the fused pipeline's full
    CC-closure has a recursive-SQL value oracle on this path).
    Everything downstream (CC, retention) is generator-agnostic."""
    work = dedupe_keep_canonical(df, text_col, id_col) if exact_first else df
    if method == "minhash":
        pairs = near_duplicates_minhash(work, text_col, id_col, threshold)
    elif method == "simhash":
        pairs = near_duplicates_simhash(work, text_col, id_col, max_hamming)
    elif method == "winnow":
        pairs = winnow_overlap(
            winnow_fingerprints(work, text_col, id_col),
            min_containment=threshold,
            max_fingerprint_df=10_000,
        )
    elif method == "levenshtein":
        pairs = near_duplicates_levenshtein(
            work, text_col, id_col, max_dist=max_edit
        )
    else:
        raise ValueError(
            f"unknown method {method!r} (minhash|simhash|winnow|levenshtein)"
        )
    return keep_canonical_from_pairs(work, pairs, id_col)


def dedup_report(
    original: DataFrame,
    kept: DataFrame,
    pairs: DataFrame | None = None,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """One-row accounting for a dedup pass — the number every training
    pipeline reports next to its deduped corpus: rows/bytes in and
    kept, removal fraction, and (when the candidate ``pairs`` are
    supplied) near-dup cluster statistics from the same connected
    components the dedup used.

    Scale shape: two narrow aggregations (count + sum of length — the
    text column is read but never shuffled) and an O(dup nodes)
    groupBy over CC labels. All outputs are scalars."""
    def _acct(df: DataFrame, prefix: str) -> DataFrame:
        return df.agg(
            F.count(F.lit(1)).alias(f"{prefix}_rows"),
            F.coalesce(F.sum(F.length(text_col)), F.lit(0)).cast("long").alias(
                f"{prefix}_chars"
            ),
        )

    row = _acct(original, "in").crossJoin(_acct(kept, "kept"))
    row = row.select(
        "*",
        (F.col("in_rows") - F.col("kept_rows")).alias("removed_rows"),
        F.round(
            (F.col("in_rows") - F.col("kept_rows")) / F.col("in_rows"), 6
        ).alias("removed_fraction"),
    )
    if pairs is not None:
        sizes = (
            connected_components(pairs.select("a", "b"), "a", "b")
            .groupBy("component")
            .agg(F.count(F.lit(1)).alias("size"))
        )
        cstats = sizes.agg(
            F.count(F.lit(1)).cast("long").alias("n_clusters"),
            F.max("size").cast("long").alias("max_cluster_size"),
            F.round(F.avg("size"), 6).alias("avg_cluster_size"),
        )
        row = row.crossJoin(cstats)
    return row


def keep_canonical_from_pairs(df: DataFrame, pairs: DataFrame, id_col: str) -> DataFrame:
    """Retention step shared by every fused dedup (text LSH variants
    and the embedding-cosine twin): transitive components over (a, b)
    near-dup pairs, keep each cluster's lowest-id member, pass
    singletons through. One left-anti join against the O(dup nodes)
    loser set — AQE broadcasts it when small."""
    labels = connected_components(pairs, "a", "b")
    losers = labels.filter(F.col("node") != F.col("component")).select(
        F.col("node").alias(id_col)
    )
    return df.join(losers, [id_col], "left_anti")


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------

def simhash_signatures(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """64-bit SimHash per document — the same mapInArrow shingle
    stream as MinHash, then per-doc bit counts via one add.reduceat
    per bit plane over the doc-boundary offsets (no per-doc numpy
    calls; peak extra memory is one int64 plane, not a (total, 64)
    matrix)."""
    out_schema = T.StructType(
        [
            T.StructField(id_col, T.LongType(), False),
            T.StructField("simhash", T.LongType(), False),
        ]
    )

    def gen(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        bitw = (np.uint64(1) << np.arange(64, dtype=np.uint64))
        for batch in batches:
            n = batch.num_rows
            if n == 0:
                continue
            ids = batch.column(0).to_numpy()
            flat, fcounts = _arrow_shingle_stream(batch, 1, 5)
            uflat, ucounts = _segmented_unique(flat, fcounts)
            offsets = np.concatenate(([0], np.cumsum(ucounts)[:-1]))
            counts = np.empty((n, 64), dtype=np.int64)
            for j in range(64):
                # int64 plane: reduceat keeps the operand dtype, and an
                # int8 plane would overflow at segments > 127 shingles
                plane = ((uflat & bitw[j]) != 0).astype(np.int64)
                counts[:, j] = np.add.reduceat(plane, offsets)
            maj = counts * 2 > ucounts[:, None]
            fps = (maj * bitw).sum(axis=1, dtype=np.uint64).astype(np.int64)
            yield pa.record_batch(
                {id_col: pa.array(ids, pa.int64()), "simhash": pa.array(fps)}
            )

    return _spread_small_input(df.select(id_col, text_col)).mapInArrow(gen, out_schema)


#: set-bit count of every byte value (numpy 1.26 has no bitwise_count)
_POP8 = np.array([bin(i).count("1") for i in range(256)], dtype=np.uint8)


def _simhash_scorer(max_hamming: int) -> lsh.Scorer:
    """Hamming distance between 64-bit signatures, kept iff <=
    ``max_hamming``: XOR, then a byte-LUT popcount. The tile step is
    already exact."""

    def hamming(x: np.ndarray) -> np.ndarray:
        x = np.ascontiguousarray(x)
        return _POP8[x.view(np.uint8)].reshape(*x.shape, 8).sum(axis=-1, dtype=np.int32)

    def read(arr: pa.Array) -> np.ndarray:
        return arr.to_numpy().reshape(len(arr), 1)

    def tile(A: np.ndarray, B: np.ndarray) -> np.ndarray:
        return hamming(A[:, 0, None] ^ B[None, :, 0]) <= max_hamming

    def exact(X: np.ndarray, pi: np.ndarray, pj: np.ndarray):
        ham = hamming(X[pi, 0] ^ X[pj, 0])
        keep = np.flatnonzero(ham <= max_hamming)
        return keep, ham[keep]

    return lsh.Scorer(read, tile, exact, "hamming", T.IntegerType())


def near_duplicates_simhash(df: DataFrame, text_col: str = "text",
                            id_col: str = "doc_id", max_hamming: int = 3) -> DataFrame:
    """SimHash near-dup via block LSH: the 64-bit signature splits into
    ``max_hamming + 1`` near-equal contiguous blocks, so a pair within
    the Hamming budget must agree on at least one block (pigeonhole —
    at most ``max_hamming`` blocks can contain a differing bit). The
    block count is DERIVED from the parameter (ADVICE round 3: a fixed
    4-block layout silently lost the recall guarantee at
    ``max_hamming >= 4``); the default 3 keeps the classic 4x16-bit
    layout bit-for-bit. Capped at 15 (16 x 4-bit blocks): beyond that
    each block key carries so little entropy its buckets degenerate
    toward all-pairs — raise, don't silently scan.

    The blocks are the bands of the shared bucket-local verify
    (pipeline.lsh): each (block, value) bucket scores its own pairs by
    XOR + popcount on the carried signature, so no candidate pair
    crosses the shuffle. Output: ``(a, b, hamming)`` with ``a < b`` and
    ``hamming <= max_hamming``."""
    if not 0 <= max_hamming <= 15:
        raise ValueError(
            f"max_hamming={max_hamming} out of range [0, 15]: block LSH needs "
            "max_hamming+1 blocks of >=4 bits each for selective buckets"
        )
    n_blocks = max_hamming + 1
    # near-equal widths summing to 64 (e.g. 4 blocks -> 16/16/16/16,
    # 5 -> 13/13/13/13/12); pigeonhole only needs the blocks to be a
    # partition of the 64 bit positions
    widths = [64 // n_blocks + (1 if i < 64 % n_blocks else 0) for i in range(n_blocks)]
    starts = [sum(widths[:i]) for i in range(n_blocks)]
    sigs = simhash_signatures(df, text_col, id_col)
    blocks = sigs.select(
        id_col,
        "simhash",
        F.posexplode(
            F.array(
                *[
                    # width-64 single block (max_hamming=0): the mask
                    # (2^64-1) overflows LongType — the block IS the sig
                    F.col("simhash")
                    if widths[i] == 64
                    else F.shiftrightunsigned("simhash", starts[i]).bitwiseAND(
                        F.lit((1 << widths[i]) - 1)
                    )
                    for i in range(n_blocks)
                ]
            )
        ).alias("band", "bucket"),
    )
    # no global sort in the hot path — the result is a pair set
    return lsh.bucket_pairs(blocks, id_col, "simhash", _simhash_scorer(max_hamming))


# ---------------------------------------------------------------------------
# Winnowing (MOSS-style) rolling-hash fingerprints
# ---------------------------------------------------------------------------

_WINNOW_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType(), False),
        T.StructField("fingerprint", T.LongType(), False),
        T.StructField("pos", T.IntegerType(), False),
    ]
)


def winnow_fingerprints(df: DataFrame, text_col: str = "text", id_col: str = "doc_id",
                        k: int = 5, window: int = 4) -> DataFrame:
    """Winnowing document fingerprints (Schleimer/Wilkerson/Aiken,
    SIGMOD'03): rolling k-gram hashes, keep the minimum of every
    ``window`` consecutive hashes (rightmost tie-break) — guarantees
    any match of length >= k+window-1 shares a fingerprint, with
    document-position-independent selection (robust to reordering,
    unlike head/tail sampling).

    One batch-vectorized pass (flat-concat + masked windows, the same
    treatment as the MinHash/SimHash kernels): every doc's rolling
    hashes concatenate into ONE array, the window argmin runs over it
    globally, and windows straddling a document boundary are masked
    out — zero per-doc Python in the main path (only docs shorter
    than the window, rare by construction, take a fallback). Output
    is the long (doc_id, fingerprint, pos) table: overlap detection
    is then a plain fingerprint equi-join + group-count — pure
    built-ins that shuffle only (hash, id) pairs.

    Selection density is ~2/(window+1) of the k-gram stream (the
    paper's bound), which is exactly what keeps the downstream
    equi-join volume sane at web scale.
    """
    def gen(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for batch in batches:
            if batch.num_rows == 0:
                continue
            batch_ids = batch.column(0).to_numpy()
            # document-order hashes (the unique=False stream):
            # winnowing's window minimum is positional — sorted-unique
            # input would degenerate selection to "almost every
            # distinct hash"
            flat, lengths = _arrow_shingle_stream(batch, 1, k)
            starts = np.concatenate(([0], np.cumsum(lengths)[:-1]))
            doc_idx = np.repeat(np.arange(len(lengths)), lengths)
            if len(flat) >= window:
                win = np.lib.stride_tricks.sliding_window_view(flat, window)
                # rightmost minimum per window (the paper's robust
                # winnowing tie-break): argmin on the reversed axis
                rev_arg = np.argmin(win[:, ::-1], axis=1)
                w_start = np.arange(len(win))
                sel_pos = w_start + (window - 1 - rev_arg)
                # windows fully inside one document only
                inside = doc_idx[w_start] == doc_idx[w_start + window - 1]
                sel_pos = sel_pos[inside]
            else:
                sel_pos = np.empty(0, dtype=np.int64)
            short = np.flatnonzero(lengths < window)
            if len(short):
                short_pos = np.concatenate(
                    [np.arange(starts[d], starts[d] + lengths[d]) for d in short]
                )
                sel_pos = np.concatenate([sel_pos, short_pos])
            sel_pos = np.unique(sel_pos)
            sel_doc = doc_idx[sel_pos]
            yield pa.record_batch(
                {
                    "doc_id": pa.array(batch_ids[sel_doc], pa.int64()),
                    "fingerprint": pa.array(flat[sel_pos].astype(np.int64)),
                    "pos": pa.array((sel_pos - starts[sel_doc]).astype(np.int32)),
                }
            )

    return _spread_small_input(df.select(id_col, text_col)).mapInArrow(gen, _WINNOW_SCHEMA)


def winnow_overlap(fps: DataFrame, min_containment: float = 0.8,
                   max_fingerprint_df: int | None = None) -> DataFrame:
    """Document pairs whose winnowed fingerprint sets overlap with
    containment (shared / smaller set size) >= ``min_containment`` —
    the MOSS match criterion, robust to templated corpora where raw
    shared-count thresholds drown in boilerplate.

    Scale shape: fingerprint equi-join on per-doc-deduped fingerprints;
    pair counts and set sizes are partial+final hash aggs. Hot
    fingerprints (boilerplate shared by thousands of files) are the
    skew hazard: ``max_fingerprint_df`` applies the classic
    stopword cut before the join (AQE skew-join covers the rest) — at
    web scale ALWAYS set it, since a fingerprint shared by k docs
    yields k^2/2 join rows.
    """
    d = fps.select("doc_id", "fingerprint").distinct()
    if max_fingerprint_df is not None:
        # Broadcast the HOT list (df > cap) and remove it with a
        # left-anti join: the hot set is tiny by construction (few
        # boilerplate fingerprints shared by many docs), whereas the
        # keep-list is nearly every distinct fingerprint — broadcasting
        # that would OOM the driver at exactly the scale the cap is for.
        hot = (
            d.groupBy("fingerprint")
            .agg(F.count(F.lit(1)).alias("df"))
            .filter(F.col("df") > max_fingerprint_df)
            .select("fingerprint")
        )
        d = d.join(F.broadcast(hot), "fingerprint", "left_anti")
    sizes = d.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_fps"))
    l, r = d.alias("l"), d.alias("r")
    pairs = (
        l.join(
            r,
            (F.col("l.fingerprint") == F.col("r.fingerprint"))
            & (F.col("l.doc_id") < F.col("r.doc_id")),
        )
        .groupBy(F.col("l.doc_id").alias("a"), F.col("r.doc_id").alias("b"))
        .agg(F.count(F.lit(1)).alias("shared_fingerprints"))
    )
    with_sizes = pairs.join(
        sizes.select(F.col("doc_id").alias("a"), F.col("n_fps").alias("_na")), "a"
    ).join(sizes.select(F.col("doc_id").alias("b"), F.col("n_fps").alias("_nb")), "b")
    return (
        with_sizes.withColumn(
            "containment",
            F.col("shared_fingerprints") / F.least("_na", "_nb"),
        )
        .filter(F.col("containment") >= min_containment)
        .select("a", "b", "shared_fingerprints", F.round("containment", 6).alias("containment"))
    )


# ---------------------------------------------------------------------------
# Exact n-gram Jaccard (verification joined onto candidates)
# ---------------------------------------------------------------------------

def ngram_jaccard_exact(df: DataFrame, candidates: DataFrame, text_col: str = "text",
                        id_col: str = "doc_id", n: int = 3) -> DataFrame:
    """Exact word-n-gram Jaccard for candidate pairs, with built-ins:
    tokenize -> n-gram arrays -> array_intersect/union sizes."""
    toks = F.split(F.lower(F.trim(F.col(text_col))), r"\s+")
    grams = F.array_distinct(
        F.transform(
            F.sequence(F.lit(0), F.greatest(F.size(toks) - n, F.lit(0))),
            lambda i: F.concat_ws(" ", F.slice(toks, i + 1, n)),
        )
    )
    # gram building is the cost — spread a few-partition scan first
    # (no-op whenever partitions >= slots)
    g = _spread_small_input(df.select(id_col, text_col)).select(
        F.col(id_col), grams.alias("grams")
    )
    a = g.select(F.col(id_col).alias("a"), F.col("grams").alias("ga"))
    b = g.select(F.col(id_col).alias("b"), F.col("grams").alias("gb"))
    joined = candidates.select("a", "b").join(a, "a").join(b, "b")
    inter = F.size(F.array_intersect("ga", "gb")).cast("double")
    union = F.size(F.array_union("ga", "gb")).cast("double")
    return joined.select(
        "a", "b", (inter / F.greatest(union, F.lit(1.0))).alias("jaccard")
    )


# -- benchmark decontamination (cross-corpus n-gram overlap) ---------------

def ngram_hash_stream(df: DataFrame, text_col: str = "text",
                      id_col: str = "doc_id", n: int = 13) -> DataFrame:
    """(id, gram_hash) stream of word n-gram hashes — pure codegen
    expressions (split -> sliding window via transform(sequence) ->
    xxhash64 over the joined window). Documents shorter than ``n``
    tokens emit nothing (the standard contamination rule ignores
    them). Content never shuffles: only 8-byte hashes leave the scan."""
    # trim first: leading/trailing whitespace would otherwise emit
    # empty boundary tokens (Pattern.split semantics) and shift
    # every window
    toks = F.split(F.trim(F.lower(F.coalesce(F.col(text_col), F.lit("")))), r"\s+")
    grams = F.transform(
        F.sequence(F.lit(1), F.size(toks) - (n - 1)),
        lambda i: F.xxhash64(F.concat_ws(" ", F.slice(toks, i, n))),
    )
    # the tokenize+hash expressions are the cost: spread a
    # few-partition input across the cluster first so they don't run
    # on 1-2 cores (no-op whenever partitions >= slots — see
    # _spread_small_input)
    return (
        _spread_small_input(df.select(id_col, text_col))
        .filter(F.size(toks) >= n)
        .select(F.col(id_col), F.explode(grams).alias("gram_hash"))
    )


def ngram_hash_positions(df: DataFrame, text_col: str = "text",
                         id_col: str = "doc_id", n: int = 13) -> DataFrame:
    """(id, pos, gram_hash) positional word n-gram stream — the
    ngram_hash_stream tokenizer with posexplode, so downstream span
    logic knows WHERE each gram starts (0-based word index). Same
    codegen-only shape: only (8B hash + int pos) leaves the scan."""
    toks = F.split(F.trim(F.lower(F.coalesce(F.col(text_col), F.lit("")))), r"\s+")
    grams = F.transform(
        F.sequence(F.lit(1), F.size(toks) - (n - 1)),
        lambda i: F.xxhash64(F.concat_ws(" ", F.slice(toks, i, n))),
    )
    return (
        _spread_small_input(df.select(id_col, text_col))
        .filter(F.size(toks) >= n)
        .select(F.col(id_col), F.posexplode(grams).alias("pos", "gram_hash"))
    )


def duplicated_spans(df: DataFrame, text_col: str = "text",
                     id_col: str = "doc_id", n: int = 13,
                     min_count: int = 2,
                     broadcast_dups: bool = True) -> DataFrame:
    """SPAN-level duplicate text detection — the substring-dedup rule
    of Lee et al. 2022 ("Deduplicating Training Data Makes Language
    Models Better"), which removes repeated PASSAGES (boilerplate,
    licenses, templated headers) that document-level near-dup misses
    because the containing documents differ. A word ``n``-gram
    occurring >= ``min_count`` times corpus-wide (across OR within
    documents) is a duplicated anchor; overlapping anchor windows
    merge into maximal spans. Returns (id, span_start, span_end,
    n_words) with [start, end) word indices — callers cut or drop the
    spans.

    Scale shape: the anchor table is (id, int, 8B hash) — tokens-sized
    but narrow; the groupBy(gram_hash) count is the one inherent big
    shuffle of corpus-wide substring dedup (the reference approach
    uses machine-local suffix arrays; hash anchors are the
    shuffle-native equivalent). The duplicated-hash set is SMALL for
    clean corpora (that's the point of running dedup) and broadcasts
    into a map-side LEFT SEMI (``broadcast_dups=False`` falls back to
    a shuffled semi join for pathological corpora). The island merge
    is a per-document window — rows per document are bounded by its
    token count, never by the corpus."""
    from pyspark.sql import Window

    if n < 1 or min_count < 2:
        raise ValueError(f"bad n={n} / min_count={min_count}")
    grams = ngram_hash_positions(df, text_col, id_col, n)
    dup_hashes = (
        grams.groupBy("gram_hash").agg(F.count(F.lit(1)).alias("_c"))
        .filter(F.col("_c") >= min_count).select("gram_hash")
    )
    if broadcast_dups:
        dup_hashes = F.broadcast(dup_hashes)
    marked = grams.join(dup_hashes, "gram_hash", "left_semi").withColumn(
        "_end", F.col("pos") + n
    )
    w_prev = Window.partitionBy(id_col).orderBy("pos").rowsBetween(
        Window.unboundedPreceding, -1
    )
    w_run = Window.partitionBy(id_col).orderBy("pos")
    prev_max_end = F.max("_end").over(w_prev)
    new_island = F.when(
        prev_max_end.isNull() | (F.col("pos") > prev_max_end), 1
    ).otherwise(0)
    return (
        marked.withColumn("_isl", F.sum(new_island).over(w_run))
        .groupBy(id_col, "_isl")
        .agg(
            F.min("pos").cast("long").alias("span_start"),
            F.max("_end").cast("long").alias("span_end"),
        )
        .withColumn("n_words", F.col("span_end") - F.col("span_start"))
        .drop("_isl")
    )


def decontaminate(corpus: DataFrame, benchmark: DataFrame,
                  text_col: str = "text", id_col: str = "doc_id",
                  n: int = 13) -> DataFrame:
    """Training-corpus decontamination: drop every corpus document that
    shares ANY word ``n``-gram with the benchmark set (the 13-gram
    overlap rule used by GPT-3/PaLM-style training pipelines) — the
    cross-corpus sibling of near-dup removal, and the op that keeps
    eval sets out of the training mix.

    Scale shape: the benchmark side reduces to a DISTINCT set of
    8-byte gram hashes (benchmarks are ~1e6 grams even for large eval
    suites) and is BROADCAST; the corpus gram stream then dies in a
    map-side LEFT SEMI probe — no shuffle of corpus grams, no content
    movement, one corpus scan. Contaminated ids (rare) broadcast back
    into a LEFT ANTI on the corpus. 64-bit hashing: a cross-corpus
    collision would drop a clean doc with probability ~1e-19 per
    gram pair — the standard engineering trade, documented here.
    """
    bench_grams = (
        ngram_hash_stream(benchmark, text_col, id_col, n)
        .select("gram_hash").distinct()
    )
    contaminated = (
        ngram_hash_stream(corpus, text_col, id_col, n)
        .join(F.broadcast(bench_grams), "gram_hash", "left_semi")
        .select(id_col).distinct()
    )
    return corpus.join(F.broadcast(contaminated), id_col, "left_anti")


def dedupe_against(corpus: DataFrame, reference: DataFrame,
                   text_col: str = "text", id_col: str = "doc_id",
                   threshold: float = 0.7, n_bands: int = 16,
                   k_shingle: int = 5) -> DataFrame:
    """Cross-corpus NEAR-dup decontamination: drop every corpus
    document whose estimated Jaccard similarity to ANY reference
    document reaches ``threshold`` — the fuzzy sibling of
    ``decontaminate`` (which needs a verbatim 13-gram). This is the
    rule that catches lightly-paraphrased or reformatted eval
    contamination that exact n-gram overlap misses.

    Scale shape (asymmetric by design — the reference is an eval
    suite, orders of magnitude smaller than the training corpus):
    both sides reduce to 64-permutation MinHash signatures via the
    zero-copy Arrow kernel; the reference's LSH band table and
    signature table are BROADCAST, so corpus bands die in a map-side
    band-bucket probe and the verify join never shuffles the corpus —
    corpus content moves zero times, corpus signatures once (into the
    probe), and the contaminated-id set (rare) broadcasts back into a
    LEFT ANTI. The tiny hit set is eagerly checkpointed so both
    signature caches are released before returning (cache-ownership
    discipline: the returned plan holds no persisted inputs)."""
    c_sigs = minhash_signatures(corpus, text_col, id_col, k_shingle)
    r_sigs = minhash_signatures(reference, text_col, id_col, k_shingle)
    c_sigs.persist()
    r_sigs.persist()
    try:
        c_bands = _band_table(c_sigs, id_col, n_bands)
        r_bands = _band_table(r_sigs, id_col, n_bands).withColumnRenamed(
            id_col, "_ref_id"
        )
        cand = (
            c_bands.join(F.broadcast(r_bands), ["band", "bucket"])
            .select(F.col(id_col).alias("a"), F.col("_ref_id").alias("b"))
            .distinct()
        )
        a = c_sigs.select(F.col(id_col).alias("a"), F.col("signature").alias("sig_a"))
        b = r_sigs.select(F.col(id_col).alias("b"), F.col("signature").alias("sig_b"))
        agree = F.size(
            F.filter(
                F.zip_with("sig_a", "sig_b", lambda x, y: (x == y).cast("int")),
                lambda v: v == 1,
            )
        )
        # candidates (rare: corpus docs colliding with an eval doc's
        # bucket) broadcast into the verify join, so corpus signatures
        # are probed map-side rather than shuffled on the pair key
        hits = (
            a.join(F.broadcast(cand), "a").join(F.broadcast(b), "b")
            .select("a", (agree / F.lit(float(_N_PERM))).alias("jaccard_est"))
            .filter(F.col("jaccard_est") >= threshold)
            .select(F.col("a").alias(id_col)).distinct()
            .localCheckpoint(eager=True)
        )
    finally:
        c_sigs.unpersist()
        r_sigs.unpersist()
    return corpus.join(F.broadcast(hits), id_col, "left_anti")


def group_overlap_matrix(
    df: DataFrame,
    group_col: str = "source",
    text_col: str = "text",
    k_shingle: int = 5,
) -> DataFrame:
    """Pairwise corpus-overlap matrix: for every pair of groups
    (sources, crawl snapshots, dataset shards), the EXACT Jaccard
    similarity of their distinct word-``k_shingle`` sets — the
    corpus-contamination / mixture-redundancy report a training-mix
    curator reads before weighting sources (two sources with Jaccard
    0.8 are one source counted twice).

    Scale shape: content dies at the scan — only (group, 8-byte gram
    hash) pairs leave it, de-duplicated per group by a map-side-partial
    groupBy. The pair counts come from a self-equi-join ON THE GRAM
    KEY (never a doc-level or group-level cross join): each gram
    contributes at most C(groups,2) pair rows, so the shuffled volume
    is O(distinct grams x groups^2) with groups typically in the
    tens. Pairs sharing ZERO shingles are omitted from the output (at
    corpus scale the matrix is sparse; callers needing the dense
    matrix outer-join against their group dictionary). For thousands
    of groups, estimate with per-group MinHash signatures
    (``minhash_signatures``) instead of exact counting.

    Output: (group_a, group_b, n_grams_a, n_grams_b, n_common,
    jaccard) with group_a < group_b, jaccard rounded to 1e-6.
    """
    # the contamination tokenizer/windowing, reused verbatim (id_col
    # generalizes to the group key) — one definition of the shingle
    # stream across decontaminate/spans/overlap
    gset = (
        ngram_hash_stream(df, text_col, id_col=group_col, n=k_shingle)
        .select(F.col(group_col).alias("group_a"),
                F.col("gram_hash").alias("_gram"))
        .distinct()
    )
    sizes = gset.groupBy("group_a").agg(F.count(F.lit(1)).alias("n_grams_a"))
    inter = (
        gset.join(
            gset.select(
                F.col("group_a").alias("group_b"), F.col("_gram")
            ),
            "_gram",
        )
        .filter(F.col("group_a") < F.col("group_b"))
        .groupBy("group_a", "group_b")
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    sizes_b = sizes.select(
        F.col("group_a").alias("group_b"), F.col("n_grams_a").alias("n_grams_b")
    )
    # per-group sizes are O(groups) rows — broadcast both dimension sides
    out = inter.join(F.broadcast(sizes), "group_a").join(
        F.broadcast(sizes_b), "group_b"
    )
    union = F.col("n_grams_a") + F.col("n_grams_b") - F.col("n_common")
    return out.select(
        "group_a",
        "group_b",
        "n_grams_a",
        "n_grams_b",
        "n_common",
        F.round(F.col("n_common") / union, 6).alias("jaccard"),
    )


def _gram_exprs(text_col: str, n: int):
    """(tokens, distinct-gram-array) expression pair shared by the
    Bloom decontamination family — one definition so the batch and
    streaming probes cannot drift on tokenization."""
    toks = F.split(
        F.trim(F.lower(F.coalesce(F.col(text_col), F.lit("")))), r"\s+"
    )
    grams = F.array_distinct(
        F.transform(
            F.sequence(F.lit(1), F.size(toks) - (n - 1)),
            lambda i: F.concat_ws(" ", F.slice(toks, i, n)),
        )
    )
    return toks, grams


def bloom_gram_filter(
    benchmark: DataFrame,
    text_col: str = "text",
    n: int = 13,
    k: int = 4,
    m_bits: int = 1 << 20,
) -> DataFrame:
    """Fold the benchmark's distinct word ``n``-grams into ONE Bloom
    filter row (column ``filter``, m_bits/64 longs) — the fixed-size
    probe artifact shared by ``bloom_decontaminate`` (batch) and
    ``streaming.stream_contamination_gate`` (per-micro-batch). The
    merge is seeded with the all-zero identity filter so an empty (or
    all-short) benchmark yields a defined nothing-matches filter, and
    OR-adds are idempotent so the build needs no distinct()."""
    from sparkval.stats import bloom_filters, merge_bloom

    if n < 1:
        raise ValueError(f"bad n={n}")
    toks, grams = _gram_exprs(text_col, n)
    bench_grams = (
        _spread_small_input(benchmark.select(text_col))
        .filter(F.size(toks) >= n)
        .select(F.explode(grams).alias("gram"), F.lit(0).alias("_g"))
    )
    seed = benchmark.sparkSession.range(1).select(
        F.lit(0).alias("_g"),
        F.array_repeat(F.lit(0).cast("long"), m_bits // 64).alias("filter"),
        F.lit(0).cast("long").alias("n_values"),
    )
    return merge_bloom(
        bloom_filters(bench_grams, "gram", ["_g"], k, m_bits)
        .unionByName(seed),
        [],
    ).select("filter")



def bloom_decontaminate(
    corpus: DataFrame,
    benchmark: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 13,
    k: int = 4,
    m_bits: int = 1 << 20,
) -> DataFrame:
    """Two-phase benchmark decontamination with a FIXED-SIZE probe:
    phase 1 folds the benchmark's word ``n``-grams into a Bloom
    filter (sparkval.bloom — m_bits/8 bytes, 128 KB at the default)
    and probes every corpus gram against it with pure JVM
    expressions; phase 2 re-derives grams for ONLY the flagged docs
    and verifies them exactly against the benchmark's distinct gram
    hashes. Returns a per-document report (id, n_grams, bloom_hits,
    exact_hits, contaminated) over corpus docs with >= 1 gram, where
    contaminated = exact_hits > 0 — so false positives are
    ACCOUNTED (bloom_hits > 0, exact_hits = 0), never silently
    dropped docs (the filter has no false negatives).

    Scale shape vs plain ``decontaminate``: the exact path broadcasts
    the benchmark's distinct 8-byte gram hashes — linear in benchmark
    size; this path broadcasts ONE 128 KB row no matter how large the
    benchmark grows, and the corpus-side probe dies map-side inside a
    higher-order filter() over per-doc gram arrays (array_distinct
    keeps it one entry per distinct gram — matching the oracle's
    distinct-gram counting — and no gram string ever leaves the
    projection). The exact-verify broadcast still exists but probes
    only the flagged docs' gram stream, which is contamination-rare.
    The report is localCheckpointed (O(docs) narrow rows — the op's
    own output) so candidate selection does not re-run the probe
    scan."""
    from sparkval.stats import bloom_h0_contains_expr, bloom_h0_expr

    if n < 1:
        raise ValueError(f"bad n={n}")
    toks, grams = _gram_exprs(text_col, n)
    # phase-1 build: the shared fixed-size filter artifact (seeded,
    # idempotent — see bloom_gram_filter)
    filt = bloom_gram_filter(benchmark, text_col, n, k, m_bits)

    # two-stage probe: transform computes the md5-derived base hash
    # ONCE per gram, then the k bit tests run on the long — inside a
    # single filter() lambda Spark re-evaluates the md5 per bit test
    # (no CSE in higher-order lambdas), 4x the hash work
    probed = (
        _spread_small_input(corpus.select(id_col, text_col))
        .filter(F.size(toks) >= n)
        .select(F.col(id_col), grams.alias("_grams"))
        .crossJoin(F.broadcast(filt))
        .select(
            id_col,
            F.size("_grams").cast("long").alias("n_grams"),
            F.size(
                F.filter(
                    F.transform("_grams", lambda g: bloom_h0_expr(g)),
                    lambda h: bloom_h0_contains_expr(h, "filter", k, m_bits),
                )
            ).cast("long").alias("bloom_hits"),
        )
        .localCheckpoint(eager=True)
    )

    cand = probed.filter(F.col("bloom_hits") > 0).select(id_col)
    bench_hashes = (
        ngram_hash_stream(benchmark, text_col, id_col, n)
        .select("gram_hash").distinct()
    )
    exact = (
        ngram_hash_stream(
            corpus.join(F.broadcast(cand), id_col, "left_semi"),
            text_col, id_col, n,
        )
        .distinct()
        .join(F.broadcast(bench_hashes), "gram_hash", "left_semi")
        .groupBy(id_col)
        .agg(F.count(F.lit(1)).alias("exact_hits"))
    )
    return (
        probed.join(exact, id_col, "left")
        .withColumn("exact_hits", F.coalesce("exact_hits", F.lit(0)))
        .withColumn("contaminated", F.col("exact_hits") > 0)
    )


def contamination_spans(
    corpus: DataFrame,
    benchmark: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 13,
) -> DataFrame:
    """WHERE the contamination is: for every corpus document sharing a
    word ``n``-gram with the benchmark set, the maximal overlapping
    token spans [span_start, span_end) covering the shared grams —
    ``decontaminate`` says WHICH docs to drop; this says WHERE the
    overlap sits, so a curator can surgically CUT the contaminated
    passage (the usual remedy when a long document merely quotes one
    eval question) instead of dropping the whole doc.

    Plan: positional corpus grams (``ngram_hash_positions`` — only
    (id, pos, 8B hash) leaves the scan) probe the benchmark's
    broadcast DISTINCT hash set map-side; surviving anchors (rare)
    merge into maximal spans with the same per-document
    gaps-and-islands window as ``duplicated_spans`` — rows per doc
    bounded by its token count, never the corpus. Same shapes, same
    100 TB budget as decontaminate + duplicated_spans."""
    from pyspark.sql import Window

    if n < 1:
        raise ValueError(f"bad n={n}")
    bench_grams = (
        ngram_hash_stream(benchmark, text_col, id_col, n)
        .select("gram_hash").distinct()
    )
    marked = (
        ngram_hash_positions(corpus, text_col, id_col, n)
        .join(F.broadcast(bench_grams), "gram_hash", "left_semi")
        .withColumn("_end", F.col("pos") + n)
    )
    w_prev = Window.partitionBy(id_col).orderBy("pos").rowsBetween(
        Window.unboundedPreceding, -1
    )
    w_run = Window.partitionBy(id_col).orderBy("pos")
    prev_max_end = F.max("_end").over(w_prev)
    new_island = F.when(
        prev_max_end.isNull() | (F.col("pos") > prev_max_end), 1
    ).otherwise(0)
    return (
        marked.withColumn("_isl", F.sum(new_island).over(w_run))
        .groupBy(id_col, "_isl")
        .agg(
            F.min("pos").cast("long").alias("span_start"),
            F.max("_end").cast("long").alias("span_end"),
        )
        .withColumn("n_words", F.col("span_end") - F.col("span_start"))
        .drop("_isl")
    )


def cut_spans(
    df: DataFrame,
    spans: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    broadcast_spans: bool = True,
) -> DataFrame:
    """APPLY span-level dedup/decontamination: remove the word ranges
    named by ``spans`` (``duplicated_spans`` / ``contamination_spans``
    output — [span_start, span_end) 0-based word indices) from each
    document and re-join the survivors — the Lee et al. 2022 remedy
    step that CUTS repeated passages instead of dropping documents.
    Returns every input doc as (id, n_words, n_removed, text_clean);
    docs without spans pass through with n_removed = 0.

    Span indices were computed on the lowercased tokenization, but
    whitespace positions are case-invariant, so the cut applies to
    the ORIGINAL-case tokens. Plan: spans collapse to one per-doc
    array (bounded by the doc's own token count), broadcast when
    span-bearing docs are rare (the common case after dedup;
    ``broadcast_spans=False`` for pathological corpora), and the cut
    itself is a higher-order filter on the (element, index) form —
    pure JVM, no shuffle of content beyond the one spans join."""
    agg = spans.groupBy(id_col).agg(
        F.collect_list(
            F.struct(
                F.col("span_start").alias("s"), F.col("span_end").alias("e")
            )
        ).alias("_spans")
    )
    if broadcast_spans:
        agg = F.broadcast(agg)
    toks = F.when(
        F.col(text_col).isNull() | (F.trim(F.col(text_col)) == ""),
        F.array().cast("array<string>"),
    ).otherwise(F.split(F.trim(F.col(text_col)), r"\s+"))
    empty = F.array().cast("array<struct<s:long,e:long>>")
    kept = F.filter(
        F.col("_toks"),
        lambda x, i: ~F.exists(
            F.col("_sp"), lambda sp: (i >= sp["s"]) & (i < sp["e"])
        ),
    )
    return (
        df.select(id_col, text_col)
        .join(agg, id_col, "left")
        .select(
            id_col,
            toks.alias("_toks"),
            F.coalesce(F.col("_spans"), empty).alias("_sp"),
        )
        .select(
            id_col,
            F.size("_toks").cast("long").alias("n_words"),
            (F.size("_toks") - F.size(kept)).cast("long").alias("n_removed"),
            F.concat_ws(" ", kept).alias("text_clean"),
        )
    )


def near_duplicates_levenshtein(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_dist: int = 8,
    block_prefix: int = 12,
    max_block: int = 1000,
) -> DataFrame:
    """Edit-distance near-dup pairs via prefix blocking — the
    fuzzy-matching member of the dedup family for SHORT texts (titles,
    paths, names) where token-set methods (minhash) under-resolve
    single-character typos. Exact within its blocking recall contract:
    every pair sharing the first ``block_prefix`` characters and
    within ``max_dist`` edits is returned with its true distance.

    Blocking/scale:
    - block key = first ``block_prefix`` chars; the self-join shuffles
      (id, text) once on that key — never all-pairs.
    - hot blocks (> ``max_block`` rows; degenerate shared prefixes
      like boilerplate headers) are excluded by an aggregate hot-list,
      bounding any block's pair count at max_block^2 — same df-cap
      discipline as the simhash/winnow hot-token lists.
    - |len(a) - len(b)| <= max_dist prunes before the O(n*m) distance
      (edit distance is lower-bounded by the length difference), and
      the JVM levenshtein early-exits above ``max_dist`` (threshold
      form), so mismatched pairs cost O(n * max_dist), not O(n^2).
    """
    t = df.select(
        F.col(id_col).alias("__id"),
        F.coalesce(F.col(text_col), F.lit("")).alias("__t"),
    ).withColumn("__blk", F.substring("__t", 1, block_prefix))
    ok_blocks = (
        t.groupBy("__blk")
        .agg(F.count(F.lit(1)).alias("__n"))
        .filter((F.col("__n") >= 2) & (F.col("__n") <= max_block))
        .select("__blk")
    )
    # the block rows are byte-tiny but the DP downstream is
    # compute-bound (O(len * max_dist) per pair): AQE coalesces
    # shuffles by SIZE and would run the whole self-join + distance
    # stage on a couple of cores. An explicit numbered repartition on
    # the block key is exempt from AQE coalescing, pins the join to
    # cluster width, and co-partitions both sides (one shuffle total;
    # measured 13.4 s -> 1.9 s at local[32] on the sf0.1 corpus).
    width = df.sparkSession.sparkContext.defaultParallelism
    blocked = t.join(ok_blocks, "__blk").repartition(width, "__blk")
    a = blocked.select(
        F.col("__blk"), F.col("__id").alias("a"), F.col("__t").alias("__ta")
    )
    b = blocked.select(
        F.col("__blk"), F.col("__id").alias("b"), F.col("__t").alias("__tb")
    )
    pairs = (
        a.join(b, "__blk")
        .filter(F.col("a") < F.col("b"))
        .filter(
            F.abs(F.length("__ta") - F.length("__tb")) <= max_dist
        )
        .withColumn("dist", F.levenshtein("__ta", "__tb", max_dist))
        .filter((F.col("dist") >= 0) & (F.col("dist") <= max_dist))
    )
    return pairs.select("a", "b", "dist").orderBy("a", "b")
