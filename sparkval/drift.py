"""Distribution-drift check: the butteraugli compare, Spark-side.

Plan shape (designed for 10^12 files / 1000 executors):

  snapshot corpus scan ──mapInArrow──> partial hists (tiny)
        │ shuffle: (repo_bucket, lang, bin) rows only
        ▼
  per-partition hist table (~#buckets x #langs rows, ~3 KB each)
        │ full-outer join with the baseline hist table (joined_hists)
        ▼
  one batched numpy kernel call per Arrow batch  (mapInArrow)
        ▼
  verdict table (score, pnorm_3, verdict, driftmap)

The expensive thing — the corpus scan — happens exactly once; the
drift kernel itself runs on O(partitions) rows, never on file rows.
The baseline side is the reference's ButteraugliReference
(precompute.rs:127-152) recast as a persisted hist table: the kernel
decomposes both sides from their histograms on every compare, since
the table is only O(buckets x langs) rows. Full-outer join semantics
cover partitions that appear or vanish between snapshots (all mass
appearing/disappearing = max drift, naturally).
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pyarrow as pa

from pyspark.sql import DataFrame, functions as F
from pyspark.sql import types as T
from pyspark.sql.pandas.types import to_arrow_schema

from sparkval import kernels
from sparkval.config import BYTE_BINS, LANG_VOCAB, LEN_BINS, ValidationConfig
from sparkval.session import _list_array, _list_matrix

VERDICT_PASS = "PASS"      # score < good  (reference README.md:50-62: imperceptible)
VERDICT_WARN = "WARN"      # good <= score < bad
VERDICT_FAIL = "FAIL"      # score >= bad  (clearly visible drift)

_VERDICT_SCHEMA = T.StructType(
    [
        T.StructField("repo_bucket", T.IntegerType(), False),
        T.StructField("lang", T.StringType(), False),
        T.StructField("n_files_base", T.LongType(), False),
        T.StructField("n_files_snap", T.LongType(), False),
        T.StructField("score", T.DoubleType(), False),
        T.StructField("pnorm_3", T.DoubleType(), False),
        T.StructField("verdict", T.StringType(), False),
        T.StructField("low_confidence", T.BooleanType(), False),
        T.StructField("driftmap", T.ArrayType(T.DoubleType()), True),
    ]
)


def partition_histograms(corpus: DataFrame, config: ValidationConfig) -> DataFrame:
    """Per-(repo_bucket, lang) hist table with the lang-mix channel.

    Fused single-shuffle path: scan -> map-side partials -> one
    bucket-keyed merge that emits both the merged histograms and the
    bucket-wide lang-mix vector."""
    from sparkval.histograms import merge_histograms_with_lang, partial_histograms

    return merge_histograms_with_lang(partial_histograms(corpus, config))


def joined_hists(base_hists: DataFrame, snap_hists: DataFrame) -> DataFrame:
    """Full-outer join of baseline x snapshot hist tables on the
    partition key — appearing/vanishing partitions still get rows.
    Both sides are partition-level tiny (O(buckets x langs) rows), so
    the shuffle is negligible regardless of corpus size (broadcast
    hints are unsupported for full-outer joins). Fingerprint columns
    ride along when present (the short-circuit predicate reads them)."""
    keys = ["repo_bucket", "lang"]
    fp_b = (
        [F.col("fingerprint").alias("b_fingerprint")]
        if "fingerprint" in base_hists.columns
        else []
    )
    fp_s = [F.col("fingerprint")] if "fingerprint" in snap_hists.columns else []
    b = base_hists.select(
        *keys,
        F.col("n_files").alias("b_n_files"),
        F.col("byte_hist").alias("b_byte"),
        F.col("len_hist").alias("b_len"),
        F.col("lang_hist").alias("b_lang"),
        *fp_b,
    )
    s = snap_hists.select(
        *keys,
        F.col("n_files").alias("s_n_files"),
        F.col("byte_hist").alias("s_byte"),
        F.col("len_hist").alias("s_len"),
        F.col("lang_hist").alias("s_lang"),
        *fp_s,
    )
    return s.join(b, on=keys, how="full_outer")


def drift_verdicts_joined(
    joined: DataFrame, config: ValidationConfig, same_col: str | None = None
) -> DataFrame:
    """Score each row of a joined hist table. When ``same_col`` names a
    boolean column, rows where it is true take the identical-input
    short-circuit (diff.rs:766-772) INSIDE the kernel stage: score
    exactly 0.0, PASS, no kernel call — no extra joins or union
    branches in the plan."""
    config.validate()
    good, bad = config.good_score, config.bad_score
    chan_bins = (("byte", BYTE_BINS), ("len", LEN_BINS), ("lang", len(LANG_VOCAB)))
    schema = to_arrow_schema(_VERDICT_SCHEMA)

    # the missing side of a full-outer row reads as an empty partition
    # (zero hists, 0 files) and a NULL shortcut flag as false, on the
    # JVM side, so every batch column is dense
    def dense(c: str, zero) -> F.Column:
        return F.coalesce(F.col(c), zero.cast(joined.schema[c].dataType)).alias(c)

    dense_joined = joined.select(
        F.col("repo_bucket").cast("int"), "lang",
        *[dense(f"{side}_n_files", F.lit(0)) for side in "bs"],
        *[dense(f"{side}_{ch}", F.array_repeat(F.lit(0), n))
          for side in "bs" for ch, n in chan_bins],
        (dense(same_col, F.lit(False)) if same_col else F.lit(False)).alias("_same"),
    )

    def score_batches(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for batch in batches:
            shortcut = batch.column("_same").to_numpy(zero_copy_only=False)
            # every non-shortcut row scores in ONE batched kernel call
            # over (rows, bins) matrices; shortcut rows keep 0.0
            scores = np.zeros(batch.num_rows)
            pnorms = np.zeros(batch.num_rows)
            driftmap = np.zeros((batch.num_rows, sum(n for _, n in chan_bins)))
            idx = np.flatnonzero(~shortcut)
            if len(idx):
                base, snap = (
                    {ch: _list_matrix(batch.column(f"{side}_{ch}"), n)[idx] for ch, n in chan_bins}
                    for side in "bs"
                )
                scores[idx], pnorms[idx], driftmap[idx] = kernels.drift_score_batch(
                    base, snap, hf_asymmetry=config.hf_asymmetry, xmul=config.xmul,
                    single_resolution=config.single_resolution,
                    intensity_factor=config.intensity_factor,
                )
            verdicts = np.where(
                shortcut | (scores < good), VERDICT_PASS,
                np.where(scores < bad, VERDICT_WARN, VERDICT_FAIL),
            )
            n_b, n_s = batch.column("b_n_files"), batch.column("s_n_files")
            yield pa.record_batch(
                [
                    batch.column("repo_bucket"), batch.column("lang"), n_b, n_s,
                    pa.array(scores), pa.array(pnorms), pa.array(verdicts, pa.string()),
                    # tiny-partition analog of reflect-padding
                    # (lib.rs:209-227): score stands, flag stands out
                    pa.array(np.minimum(n_b, n_s) < config.min_partition_rows),
                    _list_array(driftmap, mask=shortcut) if config.compute_driftmap
                    else pa.nulls(batch.num_rows, schema.field("driftmap").type),
                ],
                schema=schema,
            )

    return dense_joined.mapInArrow(score_batches, _VERDICT_SCHEMA)


def drift_verdicts(
    base_hists: DataFrame, snap_hists: DataFrame, config: ValidationConfig
) -> DataFrame:
    """Join baseline x snapshot hist tables and score each partition."""
    return drift_verdicts_joined(joined_hists(base_hists, snap_hists), config)


def drill_down_bucket(
    snapshot: DataFrame,
    baseline_corpus: DataFrame,
    bucket_id: int,
    config: ValidationConfig,
) -> DataFrame:
    """Attribute a FAILING bucket's drift to individual repos — the
    automated-bisection step after a bucket-level verdict (SCALE.md:
    "4096+ buckets when per-bucket verdicts feed automated
    bisection"; the reference's per-image diffmap heatmap
    localization, butteraugli-cli main.rs:461-519, applied one level
    down the key hierarchy).

    Shape: filter BOTH corpora to the offending bucket (a partition-
    or row-filterable predicate — at 10^12 rows this touches
    ~1/n_buckets of the data, and with the recommended bucket(repo)
    Iceberg layout it is a partition-pruned scan), assign each repo a
    dense index via a broadcast dictionary, and run the SAME histogram
    kernel with the index as the partition key — per-repo verdicts
    drop out of unchanged machinery. Repos untouched by the drift
    score 0 (identical histograms); the culprit surfaces as the top
    score.

    Driver-side bound: the distinct-repo dictionary of ONE bucket
    (corpus repos / n_buckets — size buckets so this is ~10^3-10^5).
    Returns the verdict table with ``repo`` in place of repo_bucket.
    """
    from dataclasses import replace as _replace

    from pyspark.sql import Window

    from sparkval.histograms import (
        NULL_REPO_SENTINEL,
        merge_histograms_with_lang,
        partial_histograms,
        repo_bucket_col,
    )

    repo_nn = F.coalesce(F.col("repo"), F.lit(NULL_REPO_SENTINEL))
    in_bucket = repo_bucket_col(config.n_repo_buckets) == bucket_id
    s = snapshot.withColumn("repo", repo_nn).filter(in_bucket)
    b = baseline_corpus.withColumn("repo", repo_nn).filter(in_bucket)

    repos = s.select("repo").unionByName(b.select("repo")).distinct()
    ridx = repos.withColumn(
        "_ri", F.row_number().over(Window.orderBy("repo")) - 1
    )
    n_repos = ridx.count()
    if n_repos == 0:
        raise ValueError(f"bucket {bucket_id} holds no repos in either corpus")
    cfg2 = _replace(config, n_repo_buckets=n_repos)

    def hists(df: DataFrame) -> DataFrame:
        joined = df.join(F.broadcast(ridx), on="repo", how="inner")
        return merge_histograms_with_lang(
            partial_histograms(joined, cfg2, bucket=F.col("_ri"))
        )

    v = drift_verdicts(hists(b), hists(s), cfg2)
    return (
        v.join(
            F.broadcast(ridx.withColumnRenamed("_ri", "repo_bucket")),
            on="repo_bucket",
        )
        .drop("repo_bucket")
        .select("repo", *[c for c in v.columns if c != "repo_bucket"])
    )


#: bin-address boundaries of the concatenated driftmap
#: [byte(256) | len(64) | lang(9)] (kernels.drift_score contract)
_CHANNEL_OFFSETS = (("byte", 0, BYTE_BINS), ("len", BYTE_BINS, LEN_BINS),
                    ("lang", BYTE_BINS + LEN_BINS, len(LANG_VOCAB)))


def driftmap_violations(verdicts: DataFrame, threshold: float) -> DataFrame:
    """Explode per-bin driftmaps into addressable violation rows — the
    diffmap-heatmap sink of the reference (butteraugli-cli
    main.rs:461-519) as a relational output: one row per (partition,
    channel, bin) whose drift exceeds ``threshold``.

    Requires verdicts computed with compute_driftmap=True. Built-ins
    only: posexplode + a channel-decoding CASE; the output is tiny
    (only offending bins survive the filter).
    """
    exploded = (
        verdicts.filter(F.col("driftmap").isNotNull())
        .select("repo_bucket", "lang", "score",
                F.posexplode("driftmap").alias("bin", "drift"))
        .filter(F.col("drift") >= threshold)
    )
    channel = (
        F.when(F.col("bin") < _CHANNEL_OFFSETS[1][1], F.lit("byte"))
        .when(F.col("bin") < _CHANNEL_OFFSETS[2][1], F.lit("len"))
        .otherwise(F.lit("lang"))
    )
    local_bin = (
        F.when(F.col("bin") < _CHANNEL_OFFSETS[1][1], F.col("bin"))
        .when(F.col("bin") < _CHANNEL_OFFSETS[2][1], F.col("bin") - _CHANNEL_OFFSETS[1][1])
        .otherwise(F.col("bin") - _CHANNEL_OFFSETS[2][1])
    )
    return exploded.select(
        "repo_bucket", "lang",
        channel.alias("channel"),
        local_bin.alias("channel_bin"),
        F.round("drift", 9).alias("drift"),
        F.round("score", 9).alias("partition_score"),
    ).orderBy("repo_bucket", "lang", "channel", "channel_bin")
