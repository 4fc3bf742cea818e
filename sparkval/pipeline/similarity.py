"""Similarity search over embedding columns (array<float>).

Entry points:

- ``brute_force_topk``: exact cosine top-k. The query side is small
  and broadcast; the corpus side streams through one vectorized
  pandas UDF per partition computing a PARTIAL top-k (numpy matmul
  over the Arrow batch), then a tiny global top-k reduction. Shuffle
  volume is O(n_queries * k * partitions), never the corpus.
- ``ivf_topk_indexed``: approximate top-k against a centroid-
  partitioned index (``write_ivf_index``); each query scores only its
  ``nprobe`` nearest cells, and the probe is a partition filter, so
  unprobed cells are never read. ``ivf_topk`` is the index-free
  variant that quantizes the corpus on every call.
- ``near_duplicates_cosine``: near-duplicate PAIRS above a cosine
  threshold — random-hyperplane LSH (``lsh_bands``) with a
  bucket-local exact verify (``pipeline.lsh``).

Cosine in the JVM would be F.aggregate(F.zip_with(...)) per pair —
fine for single pairs, but top-k against every corpus row is a
matmul; that belongs in numpy via Arrow (100-1000x the throughput of
per-element expression trees at this shape).
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame, Window, functions as F
from pyspark.sql import types as T

from sparkval.pipeline import lsh

_TOPK_SCHEMA = T.StructType(
    [
        T.StructField("query_id", T.LongType(), False),
        T.StructField("vec_id", T.LongType(), False),
        T.StructField("cosine", T.DoubleType(), False),
    ]
)


def _normalize(m: np.ndarray) -> np.ndarray:
    n = np.linalg.norm(m, axis=1, keepdims=True)
    return m / np.maximum(n, 1e-12)


def brute_force_topk(
    embeddings: DataFrame,
    queries: list[tuple[int, list[float]]],
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact cosine top-k of each query against the corpus.

    ``queries``: [(query_id, vector)] — broadcast to every task.
    """
    spark = embeddings.sparkSession
    q_ids = np.array([q[0] for q in queries], dtype=np.int64)
    q_mat = _normalize(np.array([q[1] for q in queries], dtype=np.float64))
    bc = spark.sparkContext.broadcast((q_ids, q_mat))

    def partial_topk(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        ids, mat = bc.value
        for pdf in batches:
            if pdf.empty:
                continue
            corpus = _normalize(np.stack(pdf[vec_col].to_numpy()).astype(np.float64))
            sims = mat @ corpus.T  # (n_queries, batch)
            kk = min(k, sims.shape[1])
            top = np.argpartition(-sims, kk - 1, axis=1)[:, :kk]
            out = []
            vec_ids = pdf[id_col].to_numpy()
            for qi in range(len(ids)):
                for j in top[qi]:
                    out.append(
                        {"query_id": ids[qi], "vec_id": int(vec_ids[j]),
                         "cosine": float(sims[qi, j])}
                    )
            yield pd.DataFrame(out)

    partials = embeddings.select(id_col, vec_col).mapInPandas(partial_topk, _TOPK_SCHEMA)
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cosine"), F.asc("vec_id")  # deterministic tie-break
    )
    return (
        partials.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "vec_id", F.round("cosine", 9).alias("cosine"), "rank")
        .orderBy("query_id", "rank")
    )


def lsh_bands(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_planes: int = 8,
    n_tables: int = 8,
    dim: int = 64,
    seed: int = 42,
    keep_vec: bool = False,
) -> DataFrame:
    """OR-amplified random-hyperplane LSH: ``n_tables`` independent
    hash tables of ``n_planes`` bits each, all from ONE matmul pass.

    A single table collides a cosine-θ pair with p = (1 - θ/π)^P —
    only ~0.40 at cosine 0.9 with P=6, i.e. it silently drops most
    true pairs. OR-amplification raises recall to 1 - (1-p)^L
    (≈ 0.98 at L=8, P=8, cosine 0.9) while keeping per-bucket sizes
    ~n/2^P so candidate generation never goes quadratic.

    Scale shape: output is ONLY (id, band, bucket) — embeddings never
    enter the shuffle. ``keep_vec=True`` additionally carries the
    vector column on each banding row (O(n x L x dim) — linear, for
    the bucket-local verify that replaces per-pair vector joins).
    """
    rng = np.random.default_rng(seed)
    planes = rng.normal(size=(n_tables * n_planes, dim))
    weights = (np.int64(1) << np.arange(n_planes, dtype=np.int64))
    fields = [
        T.StructField(id_col, T.LongType(), False),
        T.StructField("band", T.IntegerType(), False),
        T.StructField("bucket", T.LongType(), False),
    ]
    if keep_vec:
        # mirror the input column's exact element type: the bucket-local
        # verify recomputes the legacy per-pair arithmetic on these
        # values, so they must not be re-cast in flight
        fields.append(T.StructField(vec_col, df.schema[vec_col].dataType, False))
    schema = T.StructType(fields)

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if pdf.empty:
                continue
            mat = np.stack(pdf[vec_col].to_numpy()).astype(np.float64)
            bits = (mat @ planes.T) > 0  # (n, L*P), one fused matmul
            buckets = bits.reshape(len(mat), n_tables, n_planes) @ weights
            ids = pdf[id_col].to_numpy()
            out = {
                id_col: np.repeat(ids, n_tables),
                "band": np.tile(np.arange(n_tables, dtype=np.int32), len(ids)),
                "bucket": buckets.reshape(-1),
            }
            if keep_vec:
                out[vec_col] = np.repeat(pdf[vec_col].to_numpy(), n_tables)
            yield pd.DataFrame(out)

    return df.select(id_col, vec_col).mapInPandas(gen, schema)


def _kmeans_lite(sample: np.ndarray, k: int, iters: int = 8) -> np.ndarray:
    """Tiny deterministic k-means on a driver-side sample (normalized
    rows, cosine == dot). At 100 TB the sample is still ~1e5 rows —
    training is a driver-side detail; only assignment distributes.

    Init is deterministic farthest-point (k-means++ with argmax
    instead of sampling): each next seed is the sample row least
    similar to every seed chosen so far, so k well-separated clusters
    always receive one seed each — k tight planted clusters can never
    collapse into k-1 inverted lists (contract-tested)."""
    k = min(k, len(sample))
    chosen = np.zeros(k, dtype=np.int64)
    nearest = sample @ sample[0]
    for c in range(1, k):
        chosen[c] = int(np.argmin(nearest))
        nearest = np.maximum(nearest, sample @ sample[chosen[c]])
    centroids = sample[chosen].copy()
    for _ in range(iters):
        assign = np.argmax(sample @ centroids.T, axis=1)
        for c in range(k):
            members = sample[assign == c]
            if len(members):
                m = members.mean(axis=0)
                centroids[c] = m / max(np.linalg.norm(m), 1e-12)
    return centroids


def cluster_embeddings(
    embeddings: DataFrame,
    k: int = 8,
    iters: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    train_sample: int = 4096,
) -> DataFrame:
    """Distributed spherical k-means over an embedding column — the
    corpus-clustering primitive behind topic bucketing, mix curation,
    and diversity sampling. Returns (id, cluster, similarity) where
    ``similarity`` is the cosine to the winning centroid.

    Scale shape: init is the deterministic bounded-sample
    farthest-point trainer (train_centroids — TakeOrderedAndProject
    sample, never a full collect), then ``iters`` distributed Lloyd
    rounds. Each round is ONE corpus scan emitting <= k partial rows
    (count, vector sum) per task from a batched matmul, merged by a
    k-row groupBy — content never shuffles, the driver only ever
    holds k x dim doubles. Assignment is a final scan with the same
    matmul. Empty clusters keep their previous centroid (no
    respawning), and everything is seed-free/deterministic, so two
    runs over the same data agree bit-for-bit."""
    spark = embeddings.sparkSession
    if k <= 0 or iters < 0:
        raise ValueError(f"bad k={k} / iters={iters}")
    centroids = train_centroids(embeddings, k, id_col, vec_col, train_sample)
    data = embeddings.select(id_col, vec_col)
    partial_schema = T.StructType(
        [
            T.StructField("cluster", T.IntegerType(), False),
            T.StructField("n", T.LongType(), False),
            T.StructField("vec_sum", T.ArrayType(T.DoubleType()), False),
        ]
    )

    def _merge(pdf: pd.DataFrame) -> pd.DataFrame:
        return pd.DataFrame(
            [
                {
                    "cluster": int(pdf["cluster"].iloc[0]),
                    "n": int(pdf["n"].sum()),
                    "vec_sum": np.sum(np.stack(pdf["vec_sum"].to_numpy()), axis=0),
                }
            ]
        )

    for _ in range(iters):
        bc = spark.sparkContext.broadcast(centroids)

        def partials(batches: Iterator[pd.DataFrame], _bc=bc) -> Iterator[pd.DataFrame]:
            cents = _bc.value
            for pdf in batches:
                if pdf.empty:
                    continue
                mat = _normalize(np.stack(pdf[vec_col].to_numpy()).astype(np.float64))
                assign = np.argmax(mat @ cents.T, axis=1)
                rows = []
                for c in np.unique(assign):
                    sel = mat[assign == c]
                    rows.append(
                        {"cluster": int(c), "n": len(sel), "vec_sum": sel.sum(axis=0)}
                    )
                yield pd.DataFrame(rows)

        merged = (
            data.mapInPandas(partials, partial_schema)
            .groupBy("cluster")
            .applyInPandas(_merge, partial_schema)
            .collect()  # k rows of (count, dim-vector) — O(k*dim)
        )
        new = centroids.copy()
        for r in merged:
            m = np.asarray(r["vec_sum"], dtype=np.float64) / max(int(r["n"]), 1)
            nrm = np.linalg.norm(m)
            if nrm > 1e-12:
                new[r["cluster"]] = m / nrm
        centroids = new

    bc = spark.sparkContext.broadcast(centroids)
    out_schema = T.StructType(
        [
            T.StructField(id_col, T.LongType(), False),
            T.StructField("cluster", T.IntegerType(), False),
            T.StructField("similarity", T.DoubleType(), False),
        ]
    )

    def assign_final(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        cents = bc.value
        for pdf in batches:
            if pdf.empty:
                continue
            mat = _normalize(np.stack(pdf[vec_col].to_numpy()).astype(np.float64))
            sims = mat @ cents.T
            a = np.argmax(sims, axis=1)
            yield pd.DataFrame(
                {
                    id_col: pdf[id_col].to_numpy(),
                    "cluster": a.astype(np.int32),
                    "similarity": sims[np.arange(len(a)), a],
                }
            )

    return data.mapInPandas(assign_final, out_schema)


def train_centroids(
    embeddings: DataFrame,
    n_centroids: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    train_sample: int = 4096,
) -> np.ndarray:
    """Deterministic coarse quantizer from a bounded driver sample.

    orderBy(hash)+limit plans as TakeOrderedAndProject (distributed
    top-k, no full sort); the sample stays ~1e5 rows even at 100 TB.
    """
    sample_rows = (
        embeddings.select(F.col(vec_col), F.xxhash64(id_col).alias("_h"))
        .orderBy("_h")
        .limit(train_sample)
        .select(vec_col)
        .collect()
    )
    sample = _normalize(np.stack([np.asarray(r[0]) for r in sample_rows]).astype(np.float64))
    return _kmeans_lite(sample, n_centroids)


def write_ivf_index(
    embeddings: DataFrame,
    path: str,
    n_centroids: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    train_sample: int = 4096,
) -> np.ndarray:
    """Build the IVF layout: assign each row to its nearest centroid
    and write parquet PARTITIONED BY centroid, so probes become
    partition-pruned scans (ivf_topk_indexed reads nprobe/n_centroids
    of the files, verified by a plan-discipline test). Centroids are
    persisted alongside (underscore-prefixed => invisible to parquet
    discovery). One corpus pass; the only Python stage is the
    assignment matmul, which ships (id, vec) and appends a byte."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    spark = embeddings.sparkSession
    centroids = train_centroids(embeddings, n_centroids, id_col, vec_col, train_sample)
    bc = spark.sparkContext.broadcast(centroids)
    schema = T.StructType(
        [
            T.StructField(id_col, T.LongType(), False),
            T.StructField(vec_col, T.ArrayType(T.FloatType()), False),
            T.StructField("centroid", T.IntegerType(), False),
        ]
    )

    def assign(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        cents = bc.value
        for pdf in batches:
            if pdf.empty:
                continue
            mat = _normalize(np.stack(pdf[vec_col].to_numpy()).astype(np.float64))
            pdf = pdf.copy()
            pdf["centroid"] = np.argmax(mat @ cents.T, axis=1).astype(np.int32)
            yield pdf

    assigned = embeddings.select(id_col, vec_col).mapInPandas(assign, schema)
    assigned.write.mode("overwrite").partitionBy("centroid").parquet(path)
    pq.write_table(
        pa.table(
            {
                "centroid_id": pa.array(range(len(centroids)), pa.int32()),
                "vec": pa.array([c.tolist() for c in centroids]),
            }
        ),
        f"{path}/_centroids.parquet",
    )
    return centroids


def read_ivf_centroids(path: str) -> np.ndarray:
    import pyarrow.parquet as pq

    t = pq.read_table(f"{path}/_centroids.parquet").sort_by("centroid_id")
    return np.stack([np.asarray(v) for v in t["vec"].to_pylist()])


def ivf_probe_lists(
    index_path: str, queries: list[tuple[int, list[float]]], nprobe: int
) -> dict[int, list[int]]:
    """Probe selection for an IVF index: per query_id, the ``nprobe``
    centroid ids whose cells the search will scan. Public so callers
    (and invariant oracles) share the EXACT probe choice
    ivf_topk_indexed uses rather than re-deriving it."""
    centroids = read_ivf_centroids(index_path)
    q_mat = _normalize(np.array([q[1] for q in queries], dtype=np.float64))
    probes = np.argsort(-(q_mat @ centroids.T), axis=1)[:, :nprobe]
    return {int(q[0]): [int(c) for c in probes[i]] for i, q in enumerate(queries)}


def ivf_topk_indexed(
    spark,
    index_path: str,
    queries: list[tuple[int, list[float]]],
    k: int = 10,
    nprobe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF top-k against a centroid-partitioned index: the probe is a
    ``centroid IN (...)`` filter on the PARTITION column, so Spark's
    scan reads only the probed directories — at nprobe/n_centroids =
    1/4, 75% of the corpus is never opened. This (not the index-free
    ivf_topk) is the 100 TB path."""
    # probe selection via the SHARED helper (its docstring promises
    # callers the exact choice this function uses — so use it here
    # too, review round 4)
    probe_map = ivf_probe_lists(index_path, queries, nprobe)
    q_ids = np.array([q[0] for q in queries], dtype=np.int64)
    q_mat = _normalize(np.array([q[1] for q in queries], dtype=np.float64))
    probed = sorted({c for cells in probe_map.values() for c in cells})
    q_by_centroid = {
        c: [qi for qi in range(len(q_ids)) if c in probe_map[int(q_ids[qi])]]
        for c in probed
    }
    bc = spark.sparkContext.broadcast((q_ids, q_mat, q_by_centroid))

    corpus = spark.read.parquet(index_path).filter(F.col("centroid").isin(probed))

    def score(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        ids, mat, by_c = bc.value
        for pdf in batches:
            if pdf.empty:
                continue
            vecs = _normalize(np.stack(pdf[vec_col].to_numpy()).astype(np.float64))
            cells = pdf["centroid"].to_numpy()
            vec_ids = pdf[id_col].to_numpy()
            out = []
            for c, q_idx in by_c.items():
                in_cell = cells == c
                if not in_cell.any():
                    continue
                sims = mat[q_idx] @ vecs[in_cell].T
                cell_ids = vec_ids[in_cell]
                kk = min(k, sims.shape[1])
                top = np.argpartition(-sims, kk - 1, axis=1)[:, :kk]
                for row, qi in enumerate(q_idx):
                    for j in top[row]:
                        out.append(
                            {"query_id": ids[qi], "vec_id": int(cell_ids[j]),
                             "cosine": float(sims[row, j])}
                        )
            if out:
                yield pd.DataFrame(out)

    partials = corpus.select(id_col, vec_col, "centroid").mapInPandas(score, _TOPK_SCHEMA)
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("vec_id"))
    return (
        partials.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "vec_id", F.round("cosine", 9).alias("cosine"), "rank")
        .orderBy("query_id", "rank")
    )


def ivf_topk(
    embeddings: DataFrame,
    queries: list[tuple[int, list[float]]],
    k: int = 10,
    n_centroids: int = 16,
    nprobe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    train_sample: int = 4096,
) -> DataFrame:
    """Index-free IVF approximate top-k: coarse-quantize, then score
    each query only against its ``nprobe`` nearest lists.

    .. deprecated:: round 3
        Prefer ``write_ivf_index`` + ``ivf_topk_indexed`` for anything
        beyond one-off exploration. The scan here still reads 100% of
        the rows (assignment happens inside the UDF) — it saves
        distance computations, not I/O, so at corpus scale it costs a
        full pass per query batch that the partitioned layout avoids
        entirely. The two formulations are contract-tested equal on the
        same trained centroids (test_ivf_index_full_probe_contract);
        this one remains for index-build-cost-dominated ad-hoc use.
    """
    spark = embeddings.sparkSession
    centroids = train_centroids(embeddings, n_centroids, id_col, vec_col, train_sample)

    q_ids = np.array([q[0] for q in queries], dtype=np.int64)
    q_mat = _normalize(np.array([q[1] for q in queries], dtype=np.float64))
    # per-query probe lists (driver-side: queries are small by contract)
    probes = np.argsort(-(q_mat @ centroids.T), axis=1)[:, :nprobe]
    probed_centroids = sorted({int(c) for row in probes for c in row})
    q_by_centroid: dict[int, list[int]] = {
        int(c): [qi for qi in range(len(q_ids)) if c in probes[qi]] for c in probed_centroids
    }
    bc = spark.sparkContext.broadcast((q_ids, q_mat, centroids, q_by_centroid))

    def assign_and_score(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        ids, mat, cents, by_c = bc.value
        for pdf in batches:
            if pdf.empty:
                continue
            corpus = _normalize(np.stack(pdf[vec_col].to_numpy()).astype(np.float64))
            cell = np.argmax(corpus @ cents.T, axis=1)
            vec_ids = pdf[id_col].to_numpy()
            out = []
            for c, q_idx in by_c.items():
                in_cell = cell == c
                if not in_cell.any():
                    continue
                sims = mat[q_idx] @ corpus[in_cell].T
                cell_ids = vec_ids[in_cell]
                kk = min(k, sims.shape[1])
                top = np.argpartition(-sims, kk - 1, axis=1)[:, :kk]
                for row, qi in enumerate(q_idx):
                    for j in top[row]:
                        out.append(
                            {"query_id": ids[qi], "vec_id": int(cell_ids[j]),
                             "cosine": float(sims[row, j])}
                        )
            if out:
                yield pd.DataFrame(out)

    partials = embeddings.select(id_col, vec_col).mapInPandas(assign_and_score, _TOPK_SCHEMA)
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("vec_id"))
    return (
        partials.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "vec_id", F.round("cosine", 9).alias("cosine"), "rank")
        .orderBy("query_id", "rank")
    )


#: absolute margin for the matmul prefilter of the bucket-local verify.
#: The exact arithmetic forms each product x_i*y_i in the input element
#: dtype (float32: relative error <= 2^-24 per product) and folds in
#: float64; the prefilter multiplies float64 normalized values. The
#: product errors are weighted by sum|x_i*y_i| <= |x||y|
#: (Cauchy-Schwarz), so the dot differs by at most 2^-24 |x||y|, and
#: the float32-square norms add at most ~2^-24 relative more: the two
#: cosines differ by <= ~1.2e-7, plus float64 fold noise (~dim x 2^-53)
#: and the 9-decimal rounding (<= 5e-10). A 1e-6 band therefore cannot
#: drop a pair the exact arithmetic would keep, with ~8x headroom.
_COS_MARGIN = 1e-6


def _cosine_scorer(threshold: float) -> lsh.Scorer:
    """Cosine between embedding payloads. The tile prefilter is a
    normalized float64 matmul at ``threshold - _COS_MARGIN``; the exact
    step recomputes the legacy per-pair arithmetic BIT-EXACTLY — the
    products in the input element dtype (zip_with multiplies floats as
    floats), accumulated left-to-right in float64 (np.cumsum == the JVM
    aggregate fold), norms likewise — and keeps cosines at or above the
    same cut. Rounding and the threshold filter stay JVM-side, so the
    result set is exactly the old per-pair join formulation's.

    Buckets from 16 members up take the tile path: a per-pair gather of
    dim-wide rows then costs more than one small matmul per bucket
    (measured at 64 dims: 16 members 0.19 ms as pairs vs 0.23 ms as a
    tile; 156 members, the 40k-vector shape, 6x faster as tiles)."""
    cut = threshold - _COS_MARGIN

    def norms(V: np.ndarray) -> np.ndarray:
        return np.sqrt(np.cumsum((V * V).astype(np.float64), axis=1)[:, -1])

    def read(arr) -> np.ndarray:
        # zero-copy (rows, dim) view in the NATIVE element dtype — the
        # exact values the legacy per-pair expressions saw
        return arr.flatten().to_numpy().reshape(len(arr), -1)

    def unit(A: np.ndarray) -> np.ndarray:
        # any float64 summation order is fine here: the prefilter only
        # has to stay within _COS_MARGIN of the exact fold
        A = A.astype(np.float64)
        return A / np.maximum(np.sqrt(np.einsum("ij,ij->i", A, A)), 1e-300)[:, None]

    def tile(A: np.ndarray, B: np.ndarray) -> np.ndarray:
        return unit(A) @ unit(B).T >= cut

    def exact(V: np.ndarray, pi: np.ndarray, pj: np.ndarray):
        nv = norms(V)
        dots = np.cumsum((V[pi] * V[pj]).astype(np.float64), axis=1)[:, -1]
        cos = dots / (nv[pi] * nv[pj])
        keep = np.flatnonzero(cos >= cut)
        return keep, cos[keep]

    return lsh.Scorer(read, tile, exact, "cosine", T.DoubleType(), pair_split=16)


def near_duplicates_cosine(
    embeddings: DataFrame,
    threshold: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_planes: int = 8,
    n_tables: int = 8,
    dim: int = 64,
) -> DataFrame:
    """Embedding near-dup: OR-amplified LSH -> bucket-local exact
    cosine verify -> filter.

    Candidates from ANY of the ``n_tables`` hash tables survive
    (recall ≈ 1-(1-p)^L, see lsh_bands); false positives cost only an
    exact-cosine verification, never a wrong answer. The vector rides
    the banding rows (O(n x L), linear) and each bucket verifies in
    place (pipeline.lsh.bucket_pairs) instead of emitting candidate
    (a, b) rows and joining the vector payload back per pair — at the
    40k-vector bench scale the join shape shuffled 29M candidate rows
    to keep 20k. Emitted cosines are bit-identical to the zip_with /
    aggregate per-pair expression (same products, same fold order),
    rounded to 9 decimals here. No global sort: output is a pair SET
    (callers order if needed)."""
    b = lsh_bands(
        embeddings, id_col, vec_col, n_planes, n_tables, dim, keep_vec=True
    )
    exact = lsh.bucket_pairs(b, id_col, vec_col, _cosine_scorer(threshold))
    return exact.select(
        "a", "b", F.round("cosine", 9).alias("cosine")
    ).filter(F.col("cosine") >= threshold)


def dedupe_near_duplicates_cosine(
    embeddings: DataFrame,
    threshold: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_planes: int = 8,
    n_tables: int = 8,
    dim: int = 64,
) -> DataFrame:
    """End-to-end embedding near-dup DEDUP — the cosine twin of
    pipeline.dedup.dedupe_near_duplicates: OR-amplified LSH candidate
    pairs -> exact-cosine verify -> transitive connected components ->
    keep the canonical (lowest-id) member per cluster, uniques passing
    through untouched. This is the operation an embedding-dedup stage
    of a training pipeline actually runs (drop semantic near-copies,
    keep one representative).

    Scale shape: embeddings ship through Python exactly once (the LSH
    matmul); candidates are (id, id) pairs; CC iterates over O(dup
    nodes) label rows; retention is one left-anti join of the corpus
    against the O(dup nodes) loser-id set (AQE broadcasts it when
    small). No all-pairs stage anywhere."""
    from sparkval.pipeline.dedup import keep_canonical_from_pairs

    pairs = near_duplicates_cosine(
        embeddings, threshold, id_col, vec_col, n_planes, n_tables, dim
    )
    return keep_canonical_from_pairs(embeddings, pairs.select("a", "b"), id_col)


def random_projection(
    embeddings: DataFrame,
    out_dim: int = 16,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    seed: int = 7,
) -> DataFrame:
    """Johnson–Lindenstrauss random projection: map each embedding to
    ``out_dim`` dimensions through a deterministic sparse sign matrix
    (Achlioptas-style {-1, 0, +1} entries) — the ANN cost reducer: a
    64->16 projection cuts every downstream brute-force/LSH matmul 4x
    while approximately preserving pairwise distances.

    The matrix entry is the CLOSED FORM (p = 2^31 - 1, a Mersenne
    prime)::

        a(i) = (i*2654435761 + seed)       % p
        b(j) = (j*40503 + 2654435789)      % p
        R[i][j] = ((a(i) * b(j)) % p) % 3 - 1

    scaled by ``sqrt(3 / (2*out_dim))`` (unit-variance entries, so
    squared norms are preserved in expectation). The MULTIPLICATIVE
    mixing through the prime modulus is load-bearing: any
    affine-in-(i, j) form reduced mod 3 factors through (i + j) mod 3
    and collapses the matrix to rank 2 (distinct inputs project to
    identical outputs) — this form is full-rank (verified to 256x32
    in tests) with each factor < 2^31 so the product stays exact in
    int64/BIGINT arithmetic on every engine. A closed form rather
    than a seeded RNG makes the projection engine-replayable: the SQL
    oracle regenerates the identical matrix from the same arithmetic,
    and any two runs (or engines) agree bit-for-bit on the matrix.

    Scale shape: one vectorized Arrow pass (numpy matmul per batch);
    the matrix is built once per task from the closed form (no
    broadcast needed), embeddings cross to Python exactly once, and
    the output is (id, out_dim floats) — 4x narrower than the input
    at the default shape. Elements round at 1e-6.
    """
    if out_dim <= 0:
        raise ValueError(f"out_dim must be positive: {out_dim}")
    scale = float(np.sqrt(3.0 / (2.0 * out_dim)))

    schema = T.StructType(
        [
            T.StructField("vec_id", T.LongType(), False),
            T.StructField("projected", T.ArrayType(T.DoubleType()), False),
        ]
    )

    def project(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        r_cache: dict[int, np.ndarray] = {}
        for pdf in batches:
            if pdf.empty:
                continue
            mat = np.stack(pdf[vec_col].to_numpy()).astype(np.float64)
            d = mat.shape[1]
            if d not in r_cache:
                p = 2147483647
                i = np.arange(d, dtype=np.int64)[:, None]
                j = np.arange(out_dim, dtype=np.int64)[None, :]
                a = (i * 2654435761 + seed) % p
                b = (j * 40503 + 2654435789) % p
                r_cache[d] = ((((a * b) % p) % 3) - 1).astype(
                    np.float64
                ) * scale
            proj = np.round(mat @ r_cache[d], 6)
            # the select below aliased id_col to vec_id, so the Arrow
            # batch always carries the output name
            yield pd.DataFrame(
                {
                    "vec_id": pdf["vec_id"].to_numpy(),
                    "projected": list(proj),
                }
            )

    return embeddings.select(
        F.col(id_col).alias("vec_id"), F.col(vec_col)
    ).mapInPandas(project, schema)


def _per_dim_moments(df: DataFrame, col: str) -> DataFrame:
    """The per-dimension (sum, sumsq, n) moment monoid shared by
    embedding_stats and embedding_drift: posexplode -> double cast ->
    groupBy(dim) with map-side partials, so each task collapses to
    n_dims rows before the exchange. These rows are the persistable
    per-shard stats artifact both operators document."""
    return (
        df.select(F.posexplode(F.col(col)).alias("dim", "_v"))
        .select("dim", F.col("_v").cast("double").alias("_v"))
        .groupBy("dim")
        .agg(
            F.sum("_v").alias("_s"),
            F.sum(F.col("_v") * F.col("_v")).alias("_ss"),
            F.count(F.lit(1)).alias("_n"),
        )
    )


def embedding_stats(df: DataFrame, col: str = "embedding") -> DataFrame:
    """Embedding-quality diagnostics: per-dimension mean and
    population std plus the corpus ANISOTROPY ratio
    ||mean vector|| / mean ||x|| — the collapse check an embedding
    pipeline runs before trusting downstream ANN/dedup (a ratio near
    1 means every vector points the same way and cosine similarity
    is meaningless; a healthy corpus sits near 0). Returns one row
    per dimension: (dim, mean_v, std_v, anisotropy), 0-based dim,
    with the scalar anisotropy repeated on each row.

    Scale shape: pure JVM — posexplode(dim, v) feeds a
    groupBy(dim) whose map-side partial hash-agg collapses each
    task to n_dims partial rows BEFORE the exchange, so the shuffle
    is O(tasks x dims), never O(rows x dims); the norm pass is one
    scalar agg over a higher-order fold. Variance comes from the
    (sum, sumsq, n) moment monoid — the same partials a persisted
    per-shard stats table would merge."""
    per_dim = _per_dim_moments(df, col)
    norm = F.sqrt(
        F.aggregate(
            F.col(col),
            F.lit(0.0),
            lambda acc, x: acc + x.cast("double") * x.cast("double"),
        )
    )
    avg_norm = df.select(norm.alias("_norm")).agg(
        F.avg("_norm").alias("_avg_norm")
    )
    mean_v = F.col("_s") / F.col("_n")
    var_v = F.col("_ss") / F.col("_n") - mean_v * mean_v
    moments = per_dim.select(
        "dim",
        mean_v.alias("mean_v"),
        F.sqrt(F.greatest(var_v, F.lit(0.0))).alias("std_v"),
    )
    mean_norm = moments.agg(
        F.sqrt(F.sum(F.col("mean_v") * F.col("mean_v"))).alias("_mean_norm")
    )
    return (
        moments.crossJoin(F.broadcast(mean_norm))
        .crossJoin(F.broadcast(avg_norm))
        .select(
            "dim",
            "mean_v",
            "std_v",
            (F.col("_mean_norm") / F.col("_avg_norm")).alias("anisotropy"),
        )
    )


def bit_lsh_bands(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_bands: int = 8,
    band_bits: int = 4,
    keep_vec: bool = False,
) -> DataFrame:
    """Bit-sampling LSH bands from SIGN BITS of the embedding's own
    coordinates — band b's bucket is the ``band_bits``-bit code of
    coordinates [b*band_bits, (b+1)*band_bits). For embeddings whose
    coordinates are roughly sign-balanced (any centered or randomly
    projected representation), each coordinate IS a random-hyperplane
    bit, so this is hyperplane LSH with axis-aligned planes — and
    unlike ``lsh_bands`` it needs NO Python at all: the whole band
    projection is a Column expression inside whole-stage codegen,
    and being data-independent it is exactly replayable by a SQL
    oracle (the reason this variant exists next to the seeded-matmul
    one).

    Output: (id, band, bucket) — one row per (row, band); embeddings
    never enter the shuffle. Tune band_bits to keep ~n/2^band_bits
    bucket sizes sub-quadratic at scale. ``keep_vec=True`` carries the
    vector column along (O(n x bands), for the bucket-local verify).
    """
    if n_bands < 1 or band_bits < 1:  # not the product: (-2)*(-4) > 0
        raise ValueError("need n_bands and band_bits >= 1")
    buckets = []
    for b in range(n_bands):
        code = F.lit(0)
        for j in range(band_bits):
            coord = F.element_at(F.col(vec_col), b * band_bits + j + 1)
            code = code + F.when(coord > 0, F.lit(1 << j)).otherwise(F.lit(0))
        buckets.append(code)
    carry = [F.col(vec_col)] if keep_vec else []
    return df.select(
        F.col(id_col), *carry,
        F.posexplode(F.array(*buckets)).alias("band", "bucket"),
    )


def bit_lsh_near_dups(
    df: DataFrame,
    threshold: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_bands: int = 8,
    band_bits: int = 4,
) -> DataFrame:
    """Near-duplicate pairs via bit-sampling LSH + exact cosine
    verify: candidates = pairs sharing ANY band bucket (OR-amplified),
    verified with the exact zip_with/aggregate cosine arithmetic and
    kept at round(cos, 9) >= ``threshold``.

    Scale shape: band projection is a map-only JVM expression (no
    Python); the vector rides the banding rows (O(n x bands), linear)
    and each (band, bucket) verifies IN PLACE in the shared
    bucket-local Arrow kernel (pipeline.lsh.bucket_pairs) instead of
    emitting candidate (a, b) rows and joining the vector payload back
    per pair — with 2^band_bits buckets per band the candidate join
    was O(n^2 x bands / 2^band_bits) rows (~400M at 40k vectors; the
    join shape did not finish inside 10 minutes at that scale, the
    kernel runs in seconds). Embeddings are cast to array<double> before any
    arithmetic, and the kernel reproduces the zip_with/aggregate
    float64 fold bit-for-bit, so the verify still matches the float64
    SQL oracle exactly.
    """
    dbl = df.select(
        F.col(id_col), F.col(vec_col).cast("array<double>").alias(vec_col)
    )
    bands = bit_lsh_bands(dbl, id_col, vec_col, n_bands, band_bits, keep_vec=True)
    exact = lsh.bucket_pairs(bands, id_col, vec_col, _cosine_scorer(threshold))
    return exact.select(
        "a", "b", F.round("cosine", 9).alias("cosine")
    ).filter(F.col("cosine") >= threshold)


def embedding_drift(
    current: DataFrame, reference: DataFrame, col: str = "embedding"
) -> DataFrame:
    """Embedding-space drift between two snapshots — the "did the
    encoder change under us?" gate a pipeline runs after any model
    or preprocessing update, before trusting cached ANN indexes or
    near-dup thresholds built on the old space. Compares the two
    corpora's MEAN vectors:

    - ``mean_cosine``: cosine between the mean vectors (1.0 = same
      direction; degenerate zero-norm means emit NULL);
    - ``l2_shift``: euclidean distance between the mean vectors;
    - ``max_dim_shift`` / ``worst_dim``: the largest single-dimension
      displacement and where it happened (the starting point for a
      drill-down).

    Scale shape: same monoid as embedding_stats — posexplode feeds a
    per-dim partial hash-agg, so each side collapses to O(tasks x
    dims) rows at the scan; the join and all scalars run on two
    n_dims-row tables. Vectors never round-trip through Python.
    """

    def side(df: DataFrame, s: str, n: str) -> DataFrame:
        return _per_dim_moments(df, col).select(
            "dim", F.col("_s").alias(s), F.col("_n").alias(n)
        )

    j = side(current, "_s_cur", "_n_cur").join(
        side(reference, "_s_ref", "_n_ref"), "dim", "full"
    )
    # a dimension present in only ONE snapshot (ragged vectors, encoder
    # width change) zero-pads on the missing side — it contributes its
    # full mean as displacement instead of silently dropping out
    m_cur = F.coalesce(F.col("_s_cur") / F.col("_n_cur"), F.lit(0.0))
    m_ref = F.coalesce(F.col("_s_ref") / F.col("_n_ref"), F.lit(0.0))
    d = m_cur - m_ref
    agg = j.agg(
        # empty snapshot => 0 rows on that side: report n = 0, never NULL
        F.coalesce(F.max("_n_cur"), F.lit(0).cast("long")).alias("n_current"),
        F.coalesce(F.max("_n_ref"), F.lit(0).cast("long")).alias("n_reference"),
        F.sum(m_cur * m_ref).alias("_dot"),
        F.sqrt(F.sum(m_cur * m_cur)).alias("_na"),
        F.sqrt(F.sum(m_ref * m_ref)).alias("_nb"),
        F.sqrt(F.sum(d * d)).alias("_l2"),
        F.max(F.abs(d)).alias("_maxd"),
        F.max_by("dim", F.abs(d)).alias("worst_dim"),
    )
    return agg.select(
        "n_current",
        "n_reference",
        F.round(
            F.when(
                (F.col("_na") > 0) & (F.col("_nb") > 0),
                F.col("_dot") / (F.col("_na") * F.col("_nb")),
            ),
            6,
        ).alias("mean_cosine"),
        F.round("_l2", 6).alias("l2_shift"),
        F.round("_maxd", 6).alias("max_dim_shift"),
        "worst_dim",
    )
