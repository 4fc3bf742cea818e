"""Fused partials (histograms.fused_scan_partials): one content read
produces histogram partials AND per-row check partials. They live only
in committed units — validate_strips' strips and validate_incremental's
data files — and every output finalized from them must be bit-identical
to validate()'s two-plan shape, with and without the expected-manifest
invariant. validate() itself persists nothing.
"""

import numpy as np
import pytest

from sparkval import (
    CancellationToken,
    ValidationConfig,
    ValidationEngine,
    fixtures as fx,
)


@pytest.fixture(scope="module")
def tables(spark, tmp_path_factory):
    base_pd, _, commits_pd = fx.make_case("random_mid__identity", n_rows=800)
    snap_pd = fx.distort(fx.distort(base_pd, "dangle_4"), "dup_6")
    snap_path = str(tmp_path_factory.mktemp("fused") / "snap.parquet")
    spark.createDataFrame(snap_pd).repartition(6).write.parquet(snap_path)
    return (
        spark.createDataFrame(base_pd),
        snap_path,
        spark.createDataFrame(commits_pd),
    )


def _verdict_frames(out):
    return out["verdicts"].toPandas().sort_values(
        ["repo_bucket", "lang"]
    ).reset_index(drop=True)


VCOLS = ["check", "repo", "path", "commit", "content_sha256", "detail"]


def _violation_frame(out):
    return out["violations"].toPandas()[VCOLS].sort_values(VCOLS).reset_index(drop=True)


def test_fused_bit_identical_to_classic(spark, tables, tmp_path):
    base_df, snap_path, commits = tables
    eng = ValidationEngine(ValidationConfig(short_circuit_identical=False))
    base = eng.build_baseline(base_df)
    classic = eng.validate(spark.read.parquet(snap_path), base, commits=commits)
    fused = eng.validate_strips(
        snap_path, base, str(tmp_path / "ck"), n_strips=4, commits=commits
    )
    vc, vf = _verdict_frames(classic), _verdict_frames(fused)
    assert list(vc.columns) == list(vf.columns) and len(vc) > 0
    for col in ("repo_bucket", "lang", "n_files_base", "n_files_snap",
                "verdict", "low_confidence"):
        assert (vc[col] == vf[col]).all(), col
    assert np.array_equal(vc["score"].to_numpy(), vf["score"].to_numpy())
    assert np.array_equal(vc["pnorm_3"].to_numpy(), vf["pnorm_3"].to_numpy())
    ic, if_ = _violation_frame(classic), _violation_frame(fused)
    assert len(ic) > 0 and ic.equals(if_)


def test_fused_manifest_parity(spark, tables, tmp_path):
    """With the expected-manifest invariant, violation rows finalized
    from per-file fused partials match the two-plan shape exactly."""
    from sparkval.constraints import content_manifest

    base_df, snap_path, commits = tables
    eng = ValidationEngine(ValidationConfig(short_circuit_identical=False))
    base = eng.build_baseline(base_df)
    manifest = content_manifest(base_df)  # baseline as "reference run"
    classic = eng.validate(
        spark.read.parquet(snap_path), base, commits=commits, expected_manifest=manifest
    )
    fused = eng.validate_incremental(
        snap_path, base, str(tmp_path / "cache"), commits=commits,
        expected_manifest=manifest,
    )
    ic, if_ = _violation_frame(classic), _violation_frame(fused)
    assert (ic["check"] == "row_invariant_sha256").any()
    assert ic.equals(if_)


def test_fused_short_circuit_identity(spark, tables, tmp_path):
    base_df, _, _ = tables
    eng = ValidationEngine(ValidationConfig())  # short-circuit ON
    base = eng.build_baseline(base_df)
    path = str(tmp_path / "base.parquet")
    base_df.repartition(3).write.parquet(path)
    out = eng.validate_strips(path, base, str(tmp_path / "ck"), n_strips=3)
    v = out["verdicts"].toPandas()
    assert (v["verdict"] == "PASS").all() and (v["score"] == 0.0).all()
    assert out["violations"].count() == 0


def test_validate_with_manifest_leaves_no_cache(spark, tables):
    """validate() with a manifest runs the two-plan shape and persists
    nothing: once its outputs are consumed, the session's cache is as
    empty as before the call."""
    from sparkval.constraints import content_manifest

    base_df, snap_path, commits = tables
    spark.catalog.clearCache()
    eng = ValidationEngine(ValidationConfig(short_circuit_identical=False))
    base = eng.build_baseline(base_df)
    out = eng.validate(
        spark.read.parquet(snap_path), base, commits=commits,
        expected_manifest=content_manifest(base_df),
    )
    assert out["verdicts"].count() > 0 and out["violations"].count() > 0
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()


def test_with_stop_leaves_no_cache(spark):
    from sparkval.constraints import content_manifest

    base_pd = fx.make_case("random_mid__identity", n_rows=500)[0]
    snap = spark.createDataFrame(fx.distort(base_pd, "dup_6"))
    base_df = spark.createDataFrame(base_pd)
    eng = ValidationEngine(ValidationConfig(short_circuit_identical=False))
    base = eng.build_baseline(base_df)
    manifest = content_manifest(base_df)

    spark.catalog.clearCache()
    stop = CancellationToken(spark)
    out = eng.validate_with_stop(snap, base, stop, expected_manifest=manifest)
    assert out["verdicts"].count() > 0
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()
