"""Structured Streaming drift monitor.

The reference is strictly batch (SURVEY §2.9: no watermarks/event
time); its incremental story is the strip walker. The engine's
streaming story reuses the batch machinery via ``foreachBatch``: each
micro-batch of newly arrived corpus rows is validated against the
persisted baseline with the SAME code path as batch validation, so
streaming and batch verdicts can never diverge (the strip==full
parity discipline, strip.rs:38-45, applied to streams).

For per-window drift over an event stream there is also a windowed
histogram aggregation built from built-ins only.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame, functions as F
from pyspark.sql.streaming import StreamingQuery

from sparkval.config import BYTE_BINS, LANG_VOCAB, LEN_BINS, ValidationConfig
from sparkval.drift import drift_verdicts, partition_histograms
from sparkval.histograms import (
    _fold, _fold_rows, _hist_partial_arrays, _list_matrix, _partial_batch,
)


def stream_validate(
    stream: DataFrame,
    baseline: DataFrame,
    config: ValidationConfig,
    out_path: str,
    checkpoint: str,
    trigger_once: bool = True,
) -> StreamingQuery:
    """Validate a streaming corpus source micro-batch-by-micro-batch.

    Each batch's partition histograms are scored against the baseline
    and appended (with batch id) to ``out_path`` — an append-only
    verdict log suitable for alerting on FAIL rows.
    """
    def handle(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        hists = partition_histograms(batch_df, config)
        verdicts = drift_verdicts(baseline, hists, config).withColumn(
            "batch_id", F.lit(batch_id)
        )
        verdicts.write.mode("append").parquet(out_path)

    writer = (
        stream.writeStream.foreachBatch(handle)
        .option("checkpointLocation", checkpoint)
        .outputMode("update")
    )
    if trigger_once:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def _bucket_channels(hists: pa.Table) -> dict[int, dict]:
    """Per-bucket drift channels of a per-(repo_bucket, lang) hist
    table: byte and length histograms fold over the bucket, and the
    lang channel holds each lang's file count."""
    buckets = hists.column("repo_bucket").to_numpy()
    n_files = hists.column("n_files").to_numpy()
    z = np.zeros(len(buckets), dtype=np.int64)
    ub, _, _, _, bh, lh, _ = _fold(
        buckets, n_files, z, z, _list_matrix(hists.column("byte_hist"), BYTE_BINS),
        _list_matrix(hists.column("len_hist"), LEN_BINS), z,
    )
    lang = np.zeros((len(ub), len(LANG_VOCAB)), dtype=np.int64)
    code = pc.index_in(hists.column("lang"), value_set=pa.array(LANG_VOCAB)).to_numpy()
    lang[np.searchsorted(ub, buckets), code] = n_files
    return {int(b): {"byte": bh[i], "len": lh[i], "lang": lang[i]} for i, b in enumerate(ub)}


def _state_rows(bucket: int, state: tuple) -> tuple:
    """A bucket's stored stream state (n_files, byte_hist, len_hist,
    lang_hist) as lang-keyed partial rows for ``_fold``: lang counts in
    n_files, the bucket's byte/len totals on the first row (only their
    bucket-wide fold is ever read)."""
    n_langs = len(LANG_VOCAB)
    _, bh, lh, gh = state
    z = np.zeros(n_langs, dtype=np.int64)
    byte_hist = np.zeros((n_langs, BYTE_BINS), dtype=np.int64)
    len_hist = np.zeros((n_langs, LEN_BINS), dtype=np.int64)
    byte_hist[0], len_hist[0] = bh, lh
    keys = bucket * n_langs + np.arange(n_langs)
    return keys, np.asarray(gh, dtype=np.int64), z, z, byte_hist, len_hist, z


def stream_cumulative_drift(
    stream: DataFrame,
    baseline: DataFrame,
    config: ValidationConfig,
):
    """Custom stateful streaming operator (applyInPandasWithState):
    cumulative per-bucket drift across micro-batches.

    Unlike ``stream_validate`` (which scores each micro-batch in
    isolation), this keeps the RUNNING histograms of everything seen so
    far as typed group state — the streaming twin of the strip walker's
    running StripReducer (strip.rs:126-209). Each micro-batch goes
    through the batch kernel (``histograms._hist_partial_arrays``) and
    folds into the state with the one histogram fold
    (``histograms._fold``), so the emitted score after the final batch
    is bit-comparable to a batch run over the full input.

    State per repo_bucket: (n_files, byte_hist[BYTE_BINS],
    len_hist[LEN_BINS], lang_counts[|vocab|]) — a few KB regardless of
    stream volume. The per-bucket baseline is a fold of the collected
    baseline table, O(buckets x langs) rows at any corpus size.
    """
    import pandas as pd
    from pyspark.sql import types as T
    from pyspark.sql.streaming.state import GroupStateTimeout

    from sparkval import kernels
    from sparkval.drift import VERDICT_FAIL, VERDICT_PASS, VERDICT_WARN
    from sparkval.histograms import prepared_scan

    n_langs = len(LANG_VOCAB)
    base_by_bucket = _bucket_channels(
        baseline.select("repo_bucket", "lang", "n_files", "byte_hist", "len_hist").toArrow()
    )
    good, bad = config.good_score, config.bad_score
    hf_asym, single_res = config.hf_asymmetry, config.single_resolution
    xmul = config.xmul
    intensity = config.intensity_factor

    out_schema = T.StructType(
        [
            T.StructField("repo_bucket", T.IntegerType(), False),
            T.StructField("files_seen", T.LongType(), False),
            T.StructField("score", T.DoubleType(), False),
            T.StructField("pnorm_3", T.DoubleType(), False),
            T.StructField("verdict", T.StringType(), False),
        ]
    )
    state_schema = T.StructType(
        [
            T.StructField("n_files", T.LongType(), False),
            T.StructField("byte_hist", T.ArrayType(T.LongType()), False),
            T.StructField("len_hist", T.ArrayType(T.LongType()), False),
            T.StructField("lang_hist", T.ArrayType(T.LongType()), False),
        ]
    )
    batch_schema = pa.schema(
        [("_key", pa.int32()), ("_fp", pa.int64()), ("_len", pa.int32()),
         ("_bytes", pa.binary()), ("_b", pa.int32())]
    )
    empty = {"byte": np.zeros(BYTE_BINS), "len": np.zeros(LEN_BINS), "lang": np.zeros(n_langs)}

    def update(key, pdfs, state):
        bucket = int(key[0])
        parts = [
            _hist_partial_arrays(
                pa.RecordBatch.from_pandas(pdf, schema=batch_schema, preserve_index=False),
                n_langs,
            )
            for pdf in pdfs
        ]
        if state.exists:
            parts.append(_state_rows(bucket, state.get))
        snap = _bucket_channels(pa.table(_partial_batch(_fold_rows(*parts), n_langs)))[bucket]
        gh = snap["lang"]
        n = int(gh.sum())
        state.update((n, snap["byte"].tolist(), snap["len"].tolist(), gh.tolist()))
        score, pnorm3, _ = kernels.drift_score(
            base_by_bucket.get(bucket, empty), {**snap, "lang": gh / max(n, 1)},
            hf_asymmetry=hf_asym, xmul=xmul,
            single_resolution=single_res, intensity_factor=intensity,
        )
        verdict = (
            VERDICT_PASS if score < good else (VERDICT_WARN if score < bad else VERDICT_FAIL)
        )
        yield pd.DataFrame(
            [{"repo_bucket": bucket, "files_seen": n, "score": float(score),
              "pnorm_3": float(pnorm3), "verdict": verdict}]
        )

    prepped = prepared_scan(stream, config.n_repo_buckets).select(
        "_key", "_fp", "_len", "_bytes", "_b"
    )
    return prepped.groupBy("_b").applyInPandasWithState(
        update, out_schema, state_schema, "update", GroupStateTimeout.NoTimeout
    )


def stream_dedupe(
    stream: DataFrame,
    keys: list[str],
    ts_col: str = "ts",
    delay: str = "1 hour",
) -> DataFrame:
    """Streaming exact dedup with BOUNDED state — the streaming twin of
    the exact-dedup pass a training pipeline runs on an event firehose.

    ``dropDuplicatesWithinWatermark``: a key's dedup state lives only
    until the watermark passes its event time + ``delay``, so state is
    O(keys arriving within the delay window), not O(all keys ever) —
    the difference between a monitor that runs for months and one that
    OOMs (plain dropDuplicates on a stream retains every key forever).
    Duplicates arriving farther apart than ``delay`` are NOT dropped;
    size the delay to the source's duplicate-delivery window (e.g. the
    Kafka producer's retry horizon)."""
    return stream.withWatermark(ts_col, delay).dropDuplicatesWithinWatermark(keys)


def windowed_lang_counts(
    events: DataFrame,
    ts_col: str = "ts",
    lang_col: str = "lang",
    window: str = "1 minute",
    watermark: str = "2 minutes",
) -> DataFrame:
    """Late-data-tolerant per-window lang counts (built-ins only):
    the streaming analog of the lang-mix channel. Aggregating counts
    (not rows) keeps state bounded by windows x langs."""
    return (
        events.withWatermark(ts_col, watermark)
        .groupBy(F.window(ts_col, window).alias("w"), F.col(lang_col))
        .agg(F.count(F.lit(1)).alias("n"))
        .select(
            F.col("w.start").alias("window_start"),
            F.col(lang_col),
            F.col("n"),
        )
    )


def stream_heavy_hitters(
    stream: DataFrame,
    col: str,
    out_path: str,
    checkpoint: str,
    group_cols: list[str] | None = None,
    depth: int = 4,
    width: int = 2048,
    trigger_once: bool = True,
) -> StreamingQuery:
    """Streaming heavy-hitter monitor: each micro-batch collapses to
    per-group count-min partial sketches (stats.countmin_sketches)
    appended with its batch id to ``out_path`` — and because the
    sketch is a monoid, the append-only log IS the queryable
    artifact: the running frequency estimate at any moment is
    ``merge_countmin`` over the rows written so far (optionally
    filtered to a batch/group range), with no reprocessing and no
    unbounded key state in the stream itself (state per batch is the
    fixed depth x width grid, unlike a streaming groupBy(term) whose
    state grows with the vocabulary). The batch/stream parity is
    exact, not approximate-by-window: merging the per-batch sketches
    equals the sketch of the full corpus, bit for bit. Writes are
    idempotent under foreachBatch's at-least-once replays (dynamic
    overwrite of the batch_id partition), so the log never holds two
    copies of one batch."""
    from sparkval.stats import countmin_sketches

    group_cols = group_cols or ["lang"]

    def handle(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        sk = countmin_sketches(batch_df, col, group_cols, depth, width)
        # foreachBatch is at-least-once: a retried micro-batch must not
        # append a second copy of its sketches (the merge path would
        # double-count). Dynamic partition overwrite on batch_id makes
        # the write idempotent — a replay overwrites ONLY its own
        # partition, committed batches are untouched.
        (
            sk.withColumn("batch_id", F.lit(batch_id))
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("batch_id")
            .parquet(out_path)
        )

    writer = (
        stream.writeStream.foreachBatch(handle)
        .option("checkpointLocation", checkpoint)
        .outputMode("update")
    )
    if trigger_once:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def stream_contamination_gate(
    stream: DataFrame,
    bloom_filter: DataFrame,
    out_path: str,
    checkpoint: str,
    text_col: str = "text",
    n: int = 13,
    k: int = 4,
    m_bits: int = 1 << 20,
    trigger_once: bool = True,
) -> StreamingQuery:
    """Per-micro-batch contamination admission check: every arriving
    document's word ``n``-grams probe the STATIC 128 KB Bloom filter
    (``pipeline.dedup.bloom_gram_filter`` over the eval/benchmark
    set), and each batch appends one accounting row
    (batch_id, n_docs, n_flagged) — the gate an ingest pipeline reads
    before admitting a batch to the training mix, with flagged docs
    handed to the exact verify offline. The probe is the same pure
    JVM expression as the batch path (one shared ``_gram_exprs``
    tokenization, so batch and stream cannot drift), the filter is a
    broadcast static join, per-batch state is O(1), and writes use
    dynamic partition overwrite on batch_id so at-least-once replays
    stay idempotent. Because the per-doc probe is independent of
    batching, summing n_flagged over the log equals the batch-mode
    flagged count exactly."""
    from sparkval.pipeline.dedup import _gram_exprs
    from sparkval.session import _spread_small_input
    from sparkval.stats import bloom_h0_contains_expr, bloom_h0_expr

    filt = bloom_filter.select("filter")
    toks, grams = _gram_exprs(text_col, n)

    def handle(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        # a maxFilesPerTrigger micro-batch arrives as 1-2 partitions:
        # spread it so the gram probe uses every core (no-op when the
        # batch already has >= slots partitions), and hash each gram
        # once (bloom_h0_expr) before the k bit tests — the composed
        # probe re-ran the md5 per bit test inside the filter lambda
        probed = (
            _spread_small_input(batch_df.select(text_col))
            .select(
                F.when(F.size(toks) >= n, grams)
                .otherwise(F.array().cast("array<string>"))
                .alias("_grams")
            )
            .crossJoin(F.broadcast(filt))
            .select(
                (
                    F.size(
                        F.filter(
                            F.transform("_grams", lambda g: bloom_h0_expr(g)),
                            lambda h: bloom_h0_contains_expr(h, "filter", k, m_bits),
                        )
                    )
                    > 0
                ).alias("_hit")
            )
        )
        agg = probed.agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.col("_hit").cast("long")).alias("n_flagged"),
        )
        (
            agg.withColumn("batch_id", F.lit(batch_id))
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("batch_id")
            .parquet(out_path)
        )

    writer = (
        stream.writeStream.foreachBatch(handle)
        .option("checkpointLocation", checkpoint)
        .outputMode("update")
    )
    if trigger_once:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def streaming_sessions(
    events: DataFrame,
    ts_col: str = "ts",
    key_col: str = "user_id",
    gap: str = "30 minutes",
    watermark: str = "2 hours",
) -> DataFrame:
    """Watermarked SESSION-window aggregation (built-in
    F.session_window — dynamic-gap windows that merge while events
    keep arriving within ``gap``): per (key, session) start/end/count,
    the streaming analog of the batch gaps-and-islands sessionize.
    Session end = last event + gap, and the merge rule is INCLUSIVE:
    an event landing exactly at the previous session's end still
    merges (delta <= gap; pinned by test so SQL oracles use <=, not
    <). State is bounded by OPEN sessions per key; the
    watermark finalizes (and emits, in append mode) every session
    whose end falls behind it, so long-idle keys cannot pin state
    forever.
    """
    return (
        events.withWatermark(ts_col, watermark)
        .groupBy(
            F.session_window(F.col(ts_col), gap).alias("w"), F.col(key_col)
        )
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            F.col(key_col),
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            F.col("n_events"),
        )
    )


def stream_freshness(
    stream: DataFrame, group_col: str = "event_type", ts_col: str = "ts"
) -> DataFrame:
    """Streaming freshness state: per-group event count + last-seen
    epoch-micros, maintained as a complete-mode aggregation — the
    always-on "is anything silent?" monitor. State is O(groups)
    (two longs per group), never O(events), so it runs for months.

    Write with outputMode("complete") and finalize any snapshot of
    the sink with events.freshness_verdicts — the SAME verdict
    expressions the batch freshness_report uses, so the monitor and
    the batch audit can never disagree (stream == batch parity is
    oracle-checked in the entry query)."""
    u = F.unix_micros(F.col(ts_col).cast("timestamp"))
    return stream.groupBy(group_col).agg(
        F.count(F.lit(1)).alias("n_events"),
        F.max(u).alias("last_us"),
    )
