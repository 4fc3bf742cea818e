"""Distribution-drift check: the butteraugli compare, Spark-side.

Plan shape (designed for 10^12 files / 1000 executors):

  snapshot corpus scan ──mapInPandas──> partial hists (tiny)
        │ shuffle: (repo_bucket, lang, bin) rows only
        ▼
  per-partition hist table (~#buckets x #langs rows, ~3 KB each)
        │ full-outer join with the baseline hist table (joined_hists)
        ▼
  one batched numpy kernel call per Arrow batch  (mapInPandas)
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
import pandas as pd

from pyspark.sql import DataFrame, functions as F
from pyspark.sql import types as T

from sparkval import kernels
from sparkval.config import BYTE_BINS, LANG_VOCAB, LEN_BINS, ValidationConfig

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


def _vec(x, n: int) -> np.ndarray:
    if x is None or (isinstance(x, float) and np.isnan(x)):
        return np.zeros(n, dtype=np.float64)
    return np.asarray(x, dtype=np.float64)


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

    hf_asym = config.hf_asymmetry
    xmul = config.xmul
    intensity = config.intensity_factor
    single_res = config.single_resolution
    keep_map = config.compute_driftmap
    good, bad = config.good_score, config.bad_score
    min_rows = config.min_partition_rows

    chan_bins = (("byte", BYTE_BINS), ("len", LEN_BINS), ("lang", len(LANG_VOCAB)))

    def score_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            n_rows = len(pdf)
            if n_rows == 0:
                yield pd.DataFrame(
                    {f.name: pd.Series(dtype="object") for f in _VERDICT_SCHEMA.fields}
                )
                continue
            n_b = pdf["b_n_files"].fillna(0).astype(np.int64).to_numpy()
            n_s = pdf["s_n_files"].fillna(0).astype(np.int64).to_numpy()

            # every non-shortcut row scores in ONE batched kernel call
            # over stacked (rows, bins) matrices (round-4 verdict #7:
            # the per-row itertuples loop was the last per-row Python
            # in the hot path)
            if same_col is not None:
                shortcut = pdf[same_col].fillna(False).to_numpy(dtype=bool)
            else:
                shortcut = np.zeros(n_rows, dtype=bool)

            scores = np.zeros(n_rows)
            pnorms = np.zeros(n_rows)
            driftmaps: list = [None] * n_rows
            idx = np.flatnonzero(~shortcut)
            if len(idx):
                base = {ch: np.stack([_vec(v, n) for v in pdf[f"b_{ch}"].iloc[idx]])
                        for ch, n in chan_bins}
                snap = {ch: np.stack([_vec(v, n) for v in pdf[f"s_{ch}"].iloc[idx]])
                        for ch, n in chan_bins}
                sc, pn, dm = kernels.drift_score_batch(
                    base, snap, hf_asymmetry=hf_asym, xmul=xmul,
                    single_resolution=single_res, intensity_factor=intensity,
                )
                scores[idx] = sc
                pnorms[idx] = pn
                if keep_map:
                    for j, i in enumerate(idx):
                        driftmaps[i] = dm[j]

            verdicts = np.where(
                shortcut | (scores < good), VERDICT_PASS,
                np.where(scores < bad, VERDICT_WARN, VERDICT_FAIL),
            )
            scores[shortcut] = 0.0
            pnorms[shortcut] = 0.0
            out = pd.DataFrame(
                {
                    "repo_bucket": pdf["repo_bucket"].astype(np.int32).to_numpy(),
                    "lang": pdf["lang"].to_numpy(),
                    "n_files_base": n_b,
                    "n_files_snap": n_s,
                    "score": scores,
                    "pnorm_3": pnorms,
                    "verdict": verdicts,
                    # tiny-partition analog of reflect-padding
                    # (lib.rs:209-227): score stands, flag stands out
                    "low_confidence": np.minimum(n_b, n_s) < min_rows,
                    "driftmap": driftmaps,
                }
            )
            yield out

    return joined.mapInPandas(score_batches, _VERDICT_SCHEMA)


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
