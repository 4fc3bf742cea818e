"""Per-partition distribution vectors — the engine's "planar image" layer.

The reference's fundamental tensor is the f32 plane (`ImageF`,
image.rs:156-161); ours is the per-(repo_bucket, lang) distribution
vector: byte-frequency (256 bins), log2-length (64 bins), and lang mix
(LANG_VOCAB bins). The interleaved->planar conversion
(opsin.rs:346-376) becomes histogram aggregation.

The vectors form one mergeable monoid: counts and histograms sum,
fingerprints XOR, so the split of the input never changes the result.
``_hist_partial_arrays`` turns an Arrow batch of rows into per-key
partial rows, and ``_fold`` is the one place partial rows combine. It
runs in three places:

1. **Task state** (``partial_histograms``, ``fused_scan_partials``):
   each task folds its batches' partials into a running O(present
   keys) state and emits it once. This is the map-side combine: raw
   content never shuffles, and 100 TB of content becomes ~(tasks x
   keys) rows of ~2.6 KB each.
2. **Bucket merge** (``merge_histograms_with_lang``): one grouped-map
   shuffle on repo_bucket folds the bucket's partial rows per lang and
   derives the bucket-wide lang-mix vector from the folded counts —
   Spark's own StripReducer (strip.rs:126-209 analog).
3. **Stream state** (``streaming.stream_cumulative_drift``): each
   micro-batch's partials fold into the bucket's running state.

The histogram bins are uniform by construction, so the merge stage
has zero skew even when repos are hot — skew lives only in the
map stage, where AQE/file-split sizing handles it.
"""

from __future__ import annotations

import zlib
from collections.abc import Iterator

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc

from pyspark.sql import DataFrame, functions as F
from pyspark.sql import types as T
from pyspark.sql.pandas.types import to_arrow_schema

from sparkval.config import BYTE_BINS, LANG_VOCAB, LEN_BINS, ValidationConfig

#: Version tag of the per-row content fingerprint function used for the
#: identical-input short-circuit. Bump whenever prepared_scan's
#: fingerprint expression changes (e.g. the blake2b->xxhash64 switch):
#: baselines persisted under another version must NOT short-circuit
#: against current fingerprints (they'd silently never match).
FP_ALGO = "xxhash64(lang,content)-v1"

PARTIAL_SCHEMA = T.StructType(
    [
        T.StructField("repo_bucket", T.IntegerType(), False),
        T.StructField("lang", T.StringType(), False),
        T.StructField("n_files", T.LongType(), False),
        T.StructField("n_null_content", T.LongType(), False),
        T.StructField("total_bytes", T.LongType(), False),
        T.StructField("byte_hist", T.ArrayType(T.LongType()), False),
        T.StructField("len_hist", T.ArrayType(T.LongType()), False),
        # xor of per-row xxhash64(lang, content) (order-insensitive,
        # partition-invariant); rides along so the identical-input
        # short-circuit (diff.rs:766-772) costs zero extra scans
        T.StructField("fingerprint", T.LongType(), False),
    ]
)


_PARTIAL_PA_SCHEMA = to_arrow_schema(PARTIAL_SCHEMA)


#: Sentinel standing in for a NULL repo when bucketing. NULL repos are
#: still *reported* by constraints.null_violations; the histogram scan
#: must tolerate them (crc32(NULL) would NULL the group key and crash
#: the Arrow kernel), so they hash into a deterministic bucket instead.
NULL_REPO_SENTINEL = "\x00NULL_REPO"


def repo_bucket_py(repo: str | None, n_buckets: int) -> int:
    """Deterministic repo->bucket hash, identical in every context.

    crc32 rather than Spark's hash() so pandas-side and JVM-side
    bucket assignments can never diverge. NULL repos map through the
    same sentinel prepared_scan uses.
    """
    if repo is None:
        repo = NULL_REPO_SENTINEL
    return zlib.crc32(repo.encode("utf-8")) % n_buckets


def repo_bucket_col(n_buckets: int) -> F.Column:
    """JVM-side twin of ``repo_bucket_py``: crc32 of the repo (NULL
    repos through the same sentinel, never a NULL bucket) mod
    ``n_buckets``. The one bucket expression of the scan and of the
    drill-down filter."""
    repo_nn = F.coalesce(F.col("repo"), F.lit(NULL_REPO_SENTINEL))
    return F.pmod(F.crc32(repo_nn.cast("binary")), F.lit(n_buckets)).cast("int")


def prepared_scan(
    corpus: DataFrame,
    n_buckets: int,
    bucket: F.Column | None = None,
    extra: list | None = None,
) -> DataFrame:
    """JVM-side per-row preparation for the histogram scan: bucket,
    normalized lang, 64-bit row fingerprint, char length, and UTF-8
    bytes — all codegen'd expressions, zero per-row Python. The pandas
    stage downstream only groups and bin-counts.

    encode() matters doubly: the Arrow transfer ships raw bytes and the
    Python side never materializes (decode + re-encode) str objects for
    multi-KB contents.

    ``bucket`` overrides the default crc32(repo) % n_buckets partition
    key with any int expression in [0, n_buckets) — the drill-down
    path partitions ONE bucket's rows by a dense per-repo index so the
    same histogram kernel attributes drift to individual repos.
    """
    lang_low = F.lower(F.coalesce(F.col("lang"), F.lit("other")))
    lang_norm = F.when(lang_low.isin(*LANG_VOCAB), lang_low).otherwise(F.lit("other"))
    # the sentinel matters: crc32(NULL) is NULL, which would NULL the
    # composite _key and abort the whole mapInArrow scan on the first
    # corpus with a NULL repo (tolerate-and-report, never fatal —
    # null_violations is where NULL keys get flagged)
    bucket = repo_bucket_col(n_buckets) if bucket is None else bucket.cast("int")
    lang_code = (
        F.array_position(F.array(*[F.lit(l) for l in LANG_VOCAB]), lang_norm).cast("int")
        - F.lit(1)
    )
    return corpus.select(
        bucket.alias("_b"),
        lang_norm.alias("_l"),
        # composite numeric group key (bucket * n_langs + lang_code):
        # lets the Arrow-side kernel group with np.unique instead of
        # hashing strings row-by-row
        (bucket * len(LANG_VOCAB) + lang_code).alias("_key"),
        # includes lang: a relabel with unchanged content must still
        # move the fingerprint (the lang-mix channel is bucket-wide)
        F.xxhash64(lang_norm, F.coalesce(F.col("content"), F.lit("\x00NULL")))
        .alias("_fp"),
        F.length("content").alias("_len"),
        F.encode(F.col("content"), "UTF-8").alias("_bytes"),
        # fused single-scan path: row-check expressions ride the SAME
        # projection so bucket/fingerprint logic has one definition
        *(extra or []),
    )


def partial_histograms(
    corpus: DataFrame, config: ValidationConfig, bucket: F.Column | None = None
) -> DataFrame:
    """Map-side partial histograms: one output row per (key, task).

    Per-row work (bucket, lang-norm, group key, fingerprint, length,
    UTF-8 bytes) runs JVM-side in prepared_scan; the Python stage is a
    mapInArrow kernel reading the record batch's buffers DIRECTLY:

    - the binary column's data buffer is ONE contiguous allocation for
      the whole batch — per-row views of it feed bincount with ZERO
      copies and zero Python bytes objects (the old mapInPandas path
      materialized every content as a bytes object, then paid another
      full copy joining them into a blob: 2x the memory traffic of
      the data itself, on the stage that is memory-bandwidth-bound);
    - grouping is np.unique over the JVM-computed int key (no string
      hashing), fingerprints fold with one segmented XOR, and length
      histograms are one scatter-add per batch.
    """
    n_langs = len(LANG_VOCAB)

    def gen(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        # per-TASK fold (guide §2.3, aggregate before the shuffle):
        # every batch's partials fold into one O(present keys) state,
        # emitted ONCE per task — the per-batch emit shipped (batches x
        # keys) rows into the merge shuffle (479k rows / ~1.2 GB at the
        # 6M-file bench corpus vs ~20k rows with the fold)
        state = None
        for batch in batches:
            if batch.num_rows:
                part = _hist_partial_arrays(batch, n_langs)
                state = part if state is None else _fold_rows(state, part)
        if state is not None:
            yield _partial_batch(state, n_langs)

    prepped = prepared_scan(corpus, config.n_repo_buckets, bucket=bucket).select(
        "_key", "_fp", "_len", "_bytes"
    )
    return prepped.mapInArrow(gen, PARTIAL_SCHEMA)


def _fold(keys, n_files, nulls, total, byte_hist, len_hist, fingerprint) -> tuple:
    """The histogram monoid, applied once: partial rows sharing a key
    fold to one row — counts and histograms sum, fingerprints XOR.
    Every place partials meet runs through here (a task's batches, a
    bucket's partial rows, a stream bucket's micro-batches), so no
    split of the input changes the result. Returns the same seven
    columns with ``keys`` unique and ascending."""
    order = np.argsort(keys, kind="stable")
    ukeys, starts = np.unique(keys[order], return_index=True)

    def add(a):
        return np.add.reduceat(a[order], starts, axis=0)

    return (
        ukeys, add(n_files), add(nulls), add(total), add(byte_hist), add(len_hist),
        np.bitwise_xor.reduceat(fingerprint[order], starts),
    )


def _fold_rows(*parts: tuple) -> tuple:
    """``_fold`` over the row-wise concatenation of partial tuples."""
    return _fold(*(np.concatenate(cols) for cols in zip(*parts)))


def _list_array(m: np.ndarray) -> pa.ListArray:
    """(rows, bins) matrix -> list column over its flat buffer."""
    offsets = np.arange(0, m.size + 1, m.shape[1], dtype=np.int32)
    return pa.ListArray.from_arrays(offsets, pa.array(m.ravel()))


def _list_matrix(col: pa.ChunkedArray, bins: int) -> np.ndarray:
    """list<int64> column of fixed-length vectors -> (rows, bins)."""
    return col.combine_chunks().flatten().to_numpy().reshape(-1, bins)


def _partial_batch(state: tuple, n_langs: int) -> pa.RecordBatch:
    """Folded partial rows keyed by bucket * n_langs + lang code ->
    a PARTIAL_SCHEMA record batch."""
    keys, n_files, nulls, total, bh, lh, fp = state
    return pa.record_batch(
        [
            pa.array((keys // n_langs).astype(np.int32)),
            pa.array(np.asarray(LANG_VOCAB, dtype=object)[keys % n_langs], pa.string()),
            pa.array(n_files), pa.array(nulls), pa.array(total),
            _list_array(bh), _list_array(lh), pa.array(fp),
        ],
        schema=_PARTIAL_PA_SCHEMA,
    )


def _hist_partial_arrays(batch: pa.RecordBatch, n_langs: int) -> tuple:
    """The per-batch histogram-partial kernel over a prepared_scan
    batch whose first four columns are (_key, _fp, _len, _bytes):
    reads the binary column's buffers DIRECTLY (zero copies, zero
    Python bytes objects), groups via np.unique over the JVM int key,
    folds fingerprints with one segmented XOR, scatter-adds length
    bins, and bincounts content bytes. Shared verbatim by
    partial_histograms, fused_scan_partials and the stream monitor so
    the paths can never drift. Returns (ukeys, n_files, nulls, total,
    bh, lh, fpx): one partial row per key, ready for ``_fold``."""
    n = batch.num_rows
    key = batch.column(0).to_numpy()
    fp = batch.column(1).to_numpy().view(np.uint64)
    ln = batch.column(2).fill_null(-1).to_numpy(zero_copy_only=False).astype(np.int64)
    barr = batch.column(3)
    # offsets/data buffer views (no copy); binary() carries int32
    # offsets, large_binary() int64
    off_dtype = np.int64 if pa.types.is_large_binary(barr.type) else np.int32
    bufs = barr.buffers()
    off = np.frombuffer(bufs[1], dtype=off_dtype)[barr.offset : barr.offset + n + 1]
    data = (
        np.frombuffer(bufs[2], dtype=np.uint8)
        if bufs[2] is not None
        else np.empty(0, dtype=np.uint8)
    )

    ukeys, inv = np.unique(key, return_inverse=True)
    G = len(ukeys)
    n_files = np.bincount(inv, minlength=G).astype(np.int64)
    nulls = np.bincount(inv[ln < 0], minlength=G).astype(np.int64)

    # segmented XOR of row fingerprints per group
    order = np.argsort(inv, kind="stable")
    seg_starts = np.searchsorted(inv[order], np.arange(G))
    fpx = np.bitwise_xor.reduceat(fp[order], seg_starts).view(np.int64)

    pres = ln >= 0
    lh = np.zeros((G, LEN_BINS), dtype=np.int64)
    if pres.any():
        lbin = np.clip(np.log2(ln[pres] + 1).astype(np.int64), 0, LEN_BINS - 1)
        np.add.at(lh, (inv[pres], lbin), 1)
    total = np.zeros(G, dtype=np.int64)
    np.add.at(total, inv[pres], ln[pres])

    bh = np.zeros((G, BYTE_BINS), dtype=np.int64)
    for i in np.flatnonzero(pres):
        s, e = off[i], off[i + 1]
        if e > s:
            bh[inv[i]] += np.bincount(data[s:e], minlength=BYTE_BINS)

    return ukeys, n_files, nulls, total, bh, lh, fpx


#: union-schema output of the fused single-scan kernel: kind='h' rows
#: carry histogram-partial columns (PARTIAL_SCHEMA), kind='r' rows the
#: narrow per-row check partials (constraints.row_check_exprs) —
#: everything row-level validation needs, from ONE content read.
FUSED_SCHEMA = T.StructType(
    [T.StructField("kind", T.StringType(), False)]
    + [T.StructField(f.name, f.dataType, True) for f in PARTIAL_SCHEMA.fields]
    + [
        T.StructField("repo", T.StringType(), True),
        T.StructField("path", T.StringType(), True),
        T.StructField("commit", T.StringType(), True),
        T.StructField("content_sha256", T.StringType(), True),
        T.StructField("null_detail", T.StringType(), True),
    ]
)

_ROW_COLS = ("repo", "path", "commit", "content_sha256", "null_detail")


def fused_scan_partials(corpus: DataFrame, config: ValidationConfig) -> DataFrame:
    """Single-scan fusion of the two per-row passes a full validate
    needs: histogram partials AND row-check partials from ONE read of
    the content column — the format every committed unit holds
    (``validate_strips`` strips, ``validate_incremental`` files), so a
    committed unit's content is never read again. Mechanics:

    - every expensive per-row expression (sha256, null detail, bucket,
      fingerprint, UTF-8 encode) stays JVM-side codegen;
    - the Arrow kernel tags each incoming batch's narrow row columns
      through as kind='r' (zero content bytes — those stay in the
      dropped _bytes buffer) and folds the content buffer into
      histogram partials emitted as kind='h';
    - downstream, filter(kind) splits the (tiny: ~100 B/row + tasks x
      keys hist rows) fused table (``split_fused``).

    One-shot ``validate`` does not use it: there the fusion pays the
    Arrow pass-through and a sha256 of every row, and measured no
    faster than its two plans (docs/SCALE.md). Same monoid contract as
    partial_histograms; the kind='r' rows feed
    constraints.violations_from_row_partials — bit-identical outputs
    to the two-plan path (parity-tested)."""
    from sparkval.constraints import NATURAL_KEY, row_check_exprs

    n_langs = len(LANG_VOCAB)
    sha, null_detail = row_check_exprs()
    src = prepared_scan(
        corpus,
        config.n_repo_buckets,
        extra=[
            *[F.col(k) for k in NATURAL_KEY],
            sha.alias("content_sha256"),
            null_detail.alias("null_detail"),
        ],
    ).select("_key", "_fp", "_len", "_bytes", *_ROW_COLS)

    def gen(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        # kind='r' rows stream out per batch; kind='h' partials fold
        # into one per-task state (as in partial_histograms) emitted
        # once at task end
        state = None
        for batch in batches:
            n = batch.num_rows
            if n == 0:
                continue
            # -- kind='r': pass the narrow row columns through
            # (content bytes stay behind in the dropped _bytes buffer)
            yield _fused_batch("r", n, dict(zip(_ROW_COLS, batch.columns[4:])))
            part = _hist_partial_arrays(batch, n_langs)
            state = part if state is None else _fold_rows(state, part)

        if state is not None:
            hb = _partial_batch(state, n_langs)
            yield _fused_batch("h", hb.num_rows, dict(zip(hb.schema.names, hb.columns)))

    return src.mapInArrow(gen, FUSED_SCHEMA)


_FUSED_PA_SCHEMA = to_arrow_schema(FUSED_SCHEMA)


def _fused_batch(kind: str, n: int, cols: dict) -> pa.RecordBatch:
    """``n`` fused rows of ``kind``: the given columns, nulls elsewhere."""
    cols = {"kind": pa.array([kind] * n, pa.string()), **cols}
    return pa.record_batch(
        [cols[f.name] if f.name in cols else pa.nulls(n, f.type) for f in _FUSED_PA_SCHEMA],
        schema=_FUSED_PA_SCHEMA,
    )


def split_fused(fused: DataFrame) -> tuple[DataFrame, DataFrame]:
    """(hist_partials, row_partials) views of a fused table — filters
    over the (committed, tiny) fused output, NOT rescans of content."""
    hist = fused.filter(F.col("kind") == "h").select(
        *[f.name for f in PARTIAL_SCHEMA.fields]
    )
    rows = fused.filter(F.col("kind") == "r").select(*_ROW_COLS)
    return hist, rows


MERGED_LANG_SCHEMA = T.StructType(
    list(PARTIAL_SCHEMA.fields)
    + [T.StructField("lang_hist", T.ArrayType(T.DoubleType()), False)]
)


def merge_histograms_with_lang(partials: DataFrame) -> DataFrame:
    """Final per-(repo_bucket, lang) hist table with the bucket-wide
    lang-mix vector (LANG_VOCAB order) on every row of the bucket.

    ONE grouped-map shuffle on repo_bucket does both the per-(bucket,
    lang) merge (``_fold`` over the group's Arrow columns, whose
    list<int64> vectors flatten into (rows, bins) matrices) and the
    lang-mix vector, derived from the folded counts. That is the
    operator-fusion rewrite the reference applied by hand everywhere
    (SURVEY §4), applied to shuffle stages: every stage saved is
    ~0.5-1 s of latency that would otherwise be a fixed serial cost at
    any cluster size. Partials are tiny (tasks x keys rows), so stage
    count, not data volume, dominates the merge.
    """
    n_langs = len(LANG_VOCAB)
    vocab = pa.array(LANG_VOCAB)

    def merge_bucket(tbl: pa.Table) -> pa.Table:
        # partial langs are prepared_scan-normalized: all in LANG_VOCAB
        code = pc.index_in(tbl.column("lang"), value_set=vocab).to_numpy()
        state = _fold(
            tbl.column("repo_bucket").to_numpy().astype(np.int64) * n_langs + code,
            *(tbl.column(c).to_numpy() for c in ("n_files", "n_null_content", "total_bytes")),
            _list_matrix(tbl.column("byte_hist"), BYTE_BINS),
            _list_matrix(tbl.column("len_hist"), LEN_BINS),
            tbl.column("fingerprint").to_numpy(),
        )
        keys, n_files = state[:2]
        raw = np.zeros(n_langs)
        raw[keys % n_langs] = n_files
        vec = raw / max(raw.sum(), 1.0)
        return pa.Table.from_batches([_partial_batch(state, n_langs)]).append_column(
            "lang_hist", _list_array(np.tile(vec, (len(keys), 1)))
        )

    return partials.groupBy("repo_bucket").applyInArrow(merge_bucket, MERGED_LANG_SCHEMA)
