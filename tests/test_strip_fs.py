"""Object-store-safe strip commits + stale-strip isolation + baseline
build-config sidecar (round-3 verdict #2/#8 and ADVICE medium).

The sandbox has no S3/HDFS, but every probe now routes through the
Hadoop FileSystem API — exercised here with file:/// URIs, which take
the same jvm code path (scheme-resolved FileSystem) instead of
driver-local os.path. On s3a:// the identical calls resolve to the
S3A filesystem.
"""

import warnings

import pytest

from pyspark.sql import functions as F

from sparkval import (
    CancellationToken,
    ValidationCancelled,
    ValidationConfig,
    ValidationEngine,
)


def _corpus(spark, n=3000):
    return spark.range(0, n).select(
        F.concat(F.lit("r"), (F.col("id") % 9).cast("string")).alias("repo"),
        F.col("id").cast("string").alias("path"),
        F.lit("c0").alias("commit"),
        F.lit("python").alias("lang"),
        F.sha2(F.col("id").cast("string"), 256).alias("content"),
    )


def test_strip_walker_uri_checkpoint_cancel_resume(spark, tmp_path):
    """checkpoint_dir AND snapshot_path as file:/// URIs: commit
    probes, per-strip writes, and the finalize merge all resolve
    through the FileSystem API; cancel-at-boundary + resume behaves
    exactly as with bare local paths."""
    eng = ValidationEngine(ValidationConfig(short_circuit_identical=False))
    corpus = _corpus(spark)
    path = f"file://{tmp_path}/snap.parquet"
    corpus.repartition(6).write.parquet(path)
    base = eng.build_baseline(corpus)
    ckpt = f"file://{tmp_path}/ck_uri"

    # files hash to strips, so the non-empty strip count n is read
    # from the hook; cancel at its midpoint
    stop = CancellationToken(spark)
    half = []

    def cancel_at_half(i, n, sk):
        if i == n // 2:
            half.append(i)
            stop.cancel("half")

    with pytest.raises(ValidationCancelled):
        eng.validate_strips(path, base, ckpt, stop=stop, n_strips=6,
                            on_strip=cancel_at_half)
    # strips before the midpoint committed under the URI dir, visible
    # through the FS API
    from sparkval.io import fs_exists, uri_join

    assert fs_exists(spark, uri_join(ckpt, "fused_partials"))

    seen = []
    out = eng.validate_strips(
        path, base, ckpt, n_strips=6,
        on_strip=lambda i, n, sk: seen.append(sk),
    )
    assert seen == [True] * half[0] + [False] * (len(seen) - half[0])

    full = eng.validate(spark.read.parquet(path), base)["verdicts"].toPandas()
    got = out["verdicts"].toPandas()
    cols = ["repo_bucket", "lang", "score", "verdict"]
    a = got[cols].sort_values(["repo_bucket", "lang"]).reset_index(drop=True)
    b = full[cols].sort_values(["repo_bucket", "lang"]).reset_index(drop=True)
    assert a.equals(b)


def test_strip_walker_ignores_stale_strips_from_other_layout(spark, tmp_path):
    """ADVICE (medium): a reused checkpoint dir holding committed
    strips from a DIFFERENT n_strips layout must not double-count
    histogram mass — the finalize merge prunes to this run's strip id
    set. Without the filter this test's scores double."""
    eng = ValidationEngine(ValidationConfig(short_circuit_identical=False))
    corpus = _corpus(spark)
    path = str(tmp_path / "snap.parquet")
    corpus.repartition(6).write.parquet(path)
    base = eng.build_baseline(corpus)
    ckpt = str(tmp_path / "ck_stale")

    # full 3-strip run commits 3 strips covering the WHOLE corpus
    eng.validate_strips(path, base, ckpt, n_strips=3)["verdicts"].count()
    # rerun with 6 strips into the SAME dir: sids differ, so the 3
    # stale strips also cover the corpus — unfiltered merge = 2x mass
    out = eng.validate_strips(path, base, ckpt, n_strips=6)["verdicts"].toPandas()

    full = eng.validate(spark.read.parquet(path), base)["verdicts"].toPandas()
    cols = ["repo_bucket", "lang", "score", "n_files_snap", "verdict"]
    a = out[cols].sort_values(["repo_bucket", "lang"]).reset_index(drop=True)
    b = full[cols].sort_values(["repo_bucket", "lang"]).reset_index(drop=True)
    assert a.equals(b)


def test_strip_config_change_invalidates_checkpoint(spark, tmp_path):
    """Strip ids hash the config as well as the file paths: rerunning
    into a checkpoint dir under another n_repo_buckets must recompute
    every strip, never merge partials bucketed under the old config
    (the strip twin of test_incremental_config_change_invalidates_cache)."""
    corpus = _corpus(spark, n=1200)
    snap = corpus.union(corpus.limit(5))  # 5 duplicate keys
    path = str(tmp_path / "snap.parquet")
    snap.repartition(4).write.parquet(path)
    ckpt = str(tmp_path / "ck_cfg")

    eng = ValidationEngine()
    eng.validate_strips(
        path, eng.build_baseline(corpus), ckpt, n_strips=4
    )["verdicts"].count()

    other = ValidationEngine(ValidationConfig(n_repo_buckets=32))
    base32 = other.build_baseline(corpus)
    seen = []
    out = other.validate_strips(
        path, base32, ckpt, n_strips=4,
        on_strip=lambda i, n, sk: seen.append(sk),
    )
    assert seen and not any(seen)  # no stale reuse
    full = other.validate(spark.read.parquet(path), base32)
    for k in ("verdicts", "violations"):
        assert sorted(map(tuple, out[k].collect())) == sorted(
            map(tuple, full[k].collect())
        ), k
    assert full["violations"].count() == 10


def test_baseline_sidecar_records_build_config_and_warns(spark, tmp_path):
    from sparkval.baseline import load_baseline, save_baseline

    cfg = ValidationConfig(n_repo_buckets=8)
    eng = ValidationEngine(cfg)
    base = eng.build_baseline(_corpus(spark, n=400))
    p = str(tmp_path / "base.parquet")
    save_baseline(base, p)

    # same config: no warning
    with warnings.catch_warnings():
        warnings.simplefilter("error")
        load_baseline(spark, p, config=cfg)

    # histogram-shaping mismatch: warned at load time, naming the field
    with pytest.warns(UserWarning, match="n_repo_buckets"):
        load_baseline(spark, p, config=ValidationConfig(n_repo_buckets=16))

    # no config passed: legacy behavior, silent
    with warnings.catch_warnings():
        warnings.simplefilter("error")
        load_baseline(spark, p)


def test_baseline_bytes_fs_form_matches_local_walk(spark, tmp_path):
    from sparkval.baseline import baseline_bytes, save_baseline

    eng = ValidationEngine(ValidationConfig())
    base = eng.build_baseline(_corpus(spark, n=400))
    p = str(tmp_path / "bb.parquet")
    save_baseline(base, p)
    legacy = baseline_bytes(p)
    via_fs = baseline_bytes(spark, p)
    via_uri = baseline_bytes(spark, f"file://{p}")
    # the FS form excludes local-fs .crc checksum shadows (FS metadata,
    # not baseline data) that os.walk counts — so fs <= legacy, close
    assert via_fs == via_uri > 0
    assert via_fs <= legacy <= via_fs * 1.05


def test_strip_mode_violations_parity_with_batch(spark, tmp_path):
    """Strip mode is a FULL validate: the
    row-level violation set (uniqueness + null_required + referential +
    sha256 manifest) finalized from committed per-row partials must
    equal validate()'s, exactly — including global uniqueness counts
    for keys whose duplicates land in DIFFERENT strips."""
    from sparkval import fixtures as fx
    from sparkval.constraints import content_manifest

    base_pd, _, commits_pd = fx.make_case("random_mid__identity", n_rows=900)
    snap_pd = fx.distort(fx.distort(base_pd, "dangle_4"), "nullify_2")
    snap = spark.createDataFrame(snap_pd)
    commits = spark.createDataFrame(commits_pd)
    # expected manifest = the BASELINE's rows -> missing/unexpected/
    # mismatch rows all exercised (dup'd + nulled + dangled snapshot)
    expected = content_manifest(spark.createDataFrame(base_pd))

    eng = ValidationEngine(ValidationConfig(short_circuit_identical=False))
    base = eng.build_baseline(spark.createDataFrame(base_pd))
    path = str(tmp_path / "snapv.parquet")
    snap.repartition(8, "path").write.parquet(path)
    # duplicate copies APPENDED as their own file: identical rows hash
    # to the same partition under ANY column-based repartition (review
    # round 4 — the old dup_6-then-repartition layout could never put
    # the two copies of a key in different strips), so the cross-strip
    # uniqueness aggregation is only exercised by file separation
    dup_paths = [str(p) for p in snap_pd["path"].iloc[:6]]
    snap.filter(F.col("path").isin(dup_paths)).coalesce(1).write.mode(
        "append"
    ).parquet(path)

    out = eng.validate_strips(
        path, base, str(tmp_path / "ckv"), n_strips=4,
        commits=commits, expected_manifest=expected,
    )
    batch = eng.validate(
        spark.read.parquet(path), base, commits=commits, expected_manifest=expected
    )

    cols = ["check", "repo", "path", "commit", "content_sha256", "detail"]
    a = out["violations"].toPandas()[cols].sort_values(cols).reset_index(drop=True)
    b = batch["violations"].toPandas()[cols].sort_values(cols).reset_index(drop=True)
    assert len(a) > 10  # planted violations actually present
    assert a.equals(b)


def test_strip_half_committed_strip_reruns_both_writes(spark, tmp_path):
    """The full-validate strip commit is ONE atomic write (round 5:
    fused hist+row partials, single _SUCCESS) — there is no
    two-table half-committed state anymore. The kill-mid-commit
    scenario that remains: a strip dir whose write job died before the
    commit marker landed. Resume must re-run exactly that strip and
    still produce exact batch parity."""
    import shutil

    from sparkval.io import uri_join

    eng = ValidationEngine(ValidationConfig(short_circuit_identical=False))
    corpus = _corpus(spark, n=1200)
    path = str(tmp_path / "snap.parquet")
    corpus.repartition(4).write.parquet(path)
    base = eng.build_baseline(corpus)
    ckpt = str(tmp_path / "ck_half")

    # full strip run -> every strip has its fused commit
    eng.validate_strips(path, base, ckpt, n_strips=4)["verdicts"].count()

    # simulate the mid-commit kill: drop ONE strip's _SUCCESS marker
    # (data files may exist, but an uncommitted strip must not count)
    import os

    fused_root = uri_join(ckpt, "fused_partials")
    victim = sorted(os.listdir(fused_root))[0]
    os.remove(os.path.join(fused_root, victim, "_SUCCESS"))
    crc = os.path.join(fused_root, victim, "._SUCCESS.crc")
    if os.path.exists(crc):
        os.remove(crc)

    seen = []
    out = eng.validate_strips(
        path, base, ckpt, n_strips=4,
        on_strip=lambda i, n, sk: seen.append(sk),
    )
    assert seen.count(False) == 1  # exactly the half-committed strip re-ran

    batch = eng.validate(spark.read.parquet(path), base)
    vcols = ["check", "repo", "path", "commit", "content_sha256", "detail"]
    a = out["violations"].toPandas()[vcols].sort_values(vcols).reset_index(drop=True)
    b = batch["violations"].toPandas()[vcols].sort_values(vcols).reset_index(drop=True)
    assert a.equals(b)
    cols = ["repo_bucket", "lang", "score", "verdict"]
    av = out["verdicts"].toPandas()[cols].sort_values(cols[:2]).reset_index(drop=True)
    bv = batch["verdicts"].toPandas()[cols].sort_values(cols[:2]).reset_index(drop=True)
    assert av.equals(bv)


def test_sidecar_config_from_breadcrumb_and_explicit_param(spark, tmp_path):
    """Review round 4: save_baseline records the build config from
    build_baseline's breadcrumb, and save_baseline(config=...) records
    it even for DataFrames that lost the attribute (e.g. re-read
    baselines)."""
    import json

    from sparkval.baseline import save_baseline
    from sparkval.io import fs_read_text

    cfg = ValidationConfig(n_repo_buckets=8)
    eng = ValidationEngine(cfg)
    base = eng.build_baseline(_corpus(spark, n=300))

    p1 = str(tmp_path / "built.parquet")
    save_baseline(base, p1)
    meta1 = json.loads(fs_read_text(spark, f"{p1}/_sparkval_meta.json"))
    assert meta1["build_config"] == {"n_repo_buckets": 8}

    # attribute-less frame (round-tripped) + explicit config param
    rt = spark.read.parquet(p1)
    p2 = str(tmp_path / "rt.parquet")
    save_baseline(rt, p2, config=cfg)
    meta2 = json.loads(fs_read_text(spark, f"{p2}/_sparkval_meta.json"))
    assert meta2["build_config"] == {"n_repo_buckets": 8}


def test_resumed_full_validate_never_rescans_committed_content(spark, tmp_path):
    """validate_strips is THE resumable full
    validate (round-4 verdict #2): once a strip's two partial tables
    are committed, its content is never read again. Proven by
    poisoning the snapshot's bytes in place after the first run —
    the resumed run must skip every strip and return the ORIGINAL
    violations (a rescan would surface the planted extras), while a
    fresh-checkpoint run over the same poisoned files sees them."""
    import os
    import shutil

    eng = ValidationEngine(ValidationConfig(short_circuit_identical=False))
    corpus = _corpus(spark, n=2000)
    base = eng.build_baseline(corpus)
    snap = corpus.union(corpus.limit(5))  # 5 duplicate keys
    path = str(tmp_path / "snap_poison.parquet")
    snap.coalesce(1).repartition(4).write.parquet(path)
    ckpt = str(tmp_path / "ck_fullval")

    out1 = eng.validate_strips(path, base, ckpt, n_strips=4)
    v1 = out1["violations"].toPandas()
    assert len(v1) > 0  # the planted dups are visible

    # poison: rewrite the same part-file NAMES with a corpus holding 12
    # extra duplicates (strip assignment and ids hash the file paths,
    # so names must be preserved; .crc shadows are dropped so the new bytes stay
    # readable if anything were to read them)
    snap2 = corpus.union(corpus.limit(12))
    path2 = str(tmp_path / "snap_poison_v2.parquet")
    snap2.coalesce(1).repartition(4).write.parquet(path2)
    parts1 = sorted(f for f in os.listdir(path) if f.endswith(".parquet"))
    parts2 = sorted(f for f in os.listdir(path2) if f.endswith(".parquet"))
    assert len(parts1) == len(parts2) == 4
    for a, b in zip(parts1, parts2):
        shutil.copyfile(os.path.join(path2, b), os.path.join(path, a))
        crc = os.path.join(path, f".{a}.crc")
        if os.path.exists(crc):
            os.remove(crc)
    spark.catalog.refreshByPath(path)

    seen = []
    out2 = eng.validate_strips(
        path, base, ckpt, n_strips=4,
        on_strip=lambda i, n, sk: seen.append(sk),
    )
    assert seen and all(seen)  # every strip resumed from its commit
    v2 = out2["violations"].toPandas()
    key = ["check", "repo", "path", "commit"]
    a = v1[key].sort_values(key).reset_index(drop=True)
    b = v2[key].sort_values(key).reset_index(drop=True)
    assert a.equals(b)  # original violations — content never rescanned

    # sanity: the poison IS detectable from the bytes on disk
    out3 = eng.validate_strips(path, base, str(tmp_path / "ck_freshval"), n_strips=4)
    assert len(out3["violations"].toPandas()) > len(v1)


def test_appended_file_recomputes_one_strip(spark, tmp_path):
    """Each file goes to strip crc32(path) % n_strips, so appending one
    data file changes one strip's file set: the rerun recomputes at
    most that strip and still equals a plain validate. Contiguous
    slices of the sorted path list would shift every strip boundary
    after the new file's (random) part name."""
    from sparkval import fixtures as fx

    base_pd = fx.make_case("random_mid__identity", n_rows=800)[0]
    corpus = spark.createDataFrame(base_pd)
    eng = ValidationEngine(ValidationConfig(short_circuit_identical=False))
    base = eng.build_baseline(corpus)
    path = str(tmp_path / "snap.parquet")
    corpus.repartition(40).write.parquet(path)
    ckpt = str(tmp_path / "ck_append")
    eng.validate_strips(path, base, ckpt, n_strips=16)["verdicts"].count()

    corpus.limit(20).coalesce(1).write.mode("append").parquet(path)
    seen = []
    out = eng.validate_strips(
        path, base, ckpt, n_strips=16,
        on_strip=lambda i, n, sk: seen.append(sk),
    )
    assert seen.count(False) <= 1, seen

    full = eng.validate(spark.read.parquet(path), base)
    for k in ("verdicts", "violations"):
        assert sorted(map(tuple, out[k].collect())) == sorted(
            map(tuple, full[k].collect())
        ), k
    assert full["violations"].count() == 40  # 20 duplicated keys
