"""Fused single-scan validate (round 5): one content read produces
histogram partials AND per-row check partials (histograms.
fused_scan_partials); validate(single_scan=True) must be bit-identical
to the classic two-plan shape, and the AUTO default must pick fused
exactly when the per-row manifest invariant (which forces full-corpus
sha256 anyway) is requested.
"""

import numpy as np
import pytest

from sparkval import (
    CancellationToken,
    ValidationConfig,
    ValidationEngine,
    fixtures as fx,
)
from sparkval.engine import _SCAN_CACHES, release_scan_caches


@pytest.fixture(scope="module")
def tables(spark):
    base_pd, _, commits_pd = fx.make_case("random_mid__identity", n_rows=800)
    snap_pd = fx.distort(fx.distort(base_pd, "dangle_4"), "dup_6")
    return (
        spark.createDataFrame(base_pd),
        spark.createDataFrame(snap_pd),
        spark.createDataFrame(commits_pd),
    )


def _verdict_frames(out):
    return out["verdicts"].toPandas().sort_values(
        ["repo_bucket", "lang"]
    ).reset_index(drop=True)


VCOLS = ["check", "repo", "path", "commit", "content_sha256", "detail"]


def _violation_frame(out):
    return out["violations"].toPandas()[VCOLS].sort_values(VCOLS).reset_index(drop=True)


def test_fused_bit_identical_to_classic(spark, tables):
    base_df, snap, commits = tables
    eng = ValidationEngine(ValidationConfig(short_circuit_identical=False))
    base = eng.build_baseline(base_df)
    classic = eng.validate(snap, base, commits=commits, single_scan=False)
    fused = eng.validate(snap, base, commits=commits, single_scan=True)
    vc, vf = _verdict_frames(classic), _verdict_frames(fused)
    assert list(vc.columns) == list(vf.columns) and len(vc) > 0
    for col in ("repo_bucket", "lang", "n_files_base", "n_files_snap",
                "verdict", "low_confidence"):
        assert (vc[col] == vf[col]).all(), col
    assert np.array_equal(vc["score"].to_numpy(), vf["score"].to_numpy())
    assert np.array_equal(vc["pnorm_3"].to_numpy(), vf["pnorm_3"].to_numpy())
    ic, if_ = _violation_frame(classic), _violation_frame(fused)
    assert len(ic) > 0 and ic.equals(if_)
    assert release_scan_caches() >= 1
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()


def test_fused_manifest_parity(spark, tables):
    """With the expected-manifest invariant (the case AUTO routes to
    fused), violation rows still match the classic shape exactly."""
    from sparkval.constraints import content_manifest

    base_df, snap, commits = tables
    eng = ValidationEngine(ValidationConfig(short_circuit_identical=False))
    base = eng.build_baseline(base_df)
    manifest = content_manifest(base_df)  # baseline as "reference run"
    classic = eng.validate(
        snap, base, commits=commits, expected_manifest=manifest, single_scan=False
    )
    fused = eng.validate(
        snap, base, commits=commits, expected_manifest=manifest, single_scan=True
    )
    ic, if_ = _violation_frame(classic), _violation_frame(fused)
    assert (ic["check"] == "row_invariant_sha256").any()
    assert ic.equals(if_)
    release_scan_caches()


def test_fused_short_circuit_identity(spark, tables):
    base_df, _, _ = tables
    eng = ValidationEngine(ValidationConfig())  # short-circuit ON
    base = eng.build_baseline(base_df)
    out = eng.validate(base_df, base, single_scan=True)
    v = out["verdicts"].toPandas()
    assert (v["verdict"] == "PASS").all() and (v["score"] == 0.0).all()
    assert out["violations"].count() == 0
    release_scan_caches()


def test_auto_default_routes_on_manifest(spark, tables):
    """AUTO = fused exactly when expected_manifest is given — observed
    via the scan-cache registry the fused path populates."""
    from sparkval.constraints import content_manifest

    base_df, snap, _ = tables
    eng = ValidationEngine(ValidationConfig(short_circuit_identical=False))
    base = eng.build_baseline(base_df)
    release_scan_caches()
    eng.validate(snap, base)  # no manifest -> classic, no cache entry
    assert not _SCAN_CACHES
    eng.validate(snap, base, expected_manifest=content_manifest(base_df))
    assert len(_SCAN_CACHES) == 1
    release_scan_caches()


def test_validate_self_releases_previous_fused_cache(spark, corpus_pair):
    corpus, snap, _commits = corpus_pair
    eng = ValidationEngine(ValidationConfig())
    base = eng.build_baseline(corpus)
    release_scan_caches()

    out1 = eng.validate(snap, base, single_scan=True)
    out1["verdicts"].count()
    assert len(_SCAN_CACHES) == 1
    # second direct call: the first call's cache is drained, not
    # accreted — at most the new call's own table remains
    out2 = eng.validate(snap, base, single_scan=True)
    out2["verdicts"].count()
    assert len(_SCAN_CACHES) == 1
    release_scan_caches()
    assert not _SCAN_CACHES


def test_with_stop_releases_fused_cache(spark):
    from sparkval.constraints import content_manifest

    base_pd = fx.make_case("random_mid__identity", n_rows=500)[0]
    snap = spark.createDataFrame(fx.distort(base_pd, "dup_6"))
    base_df = spark.createDataFrame(base_pd)
    eng = ValidationEngine(ValidationConfig(short_circuit_identical=False))
    base = eng.build_baseline(base_df)
    manifest = content_manifest(base_df)

    release_scan_caches()
    stop = CancellationToken(spark)
    out = eng.validate_with_stop(snap, base, stop, expected_manifest=manifest)
    assert out["verdicts"].count() > 0
    assert not _SCAN_CACHES  # the fused persist was released in-call
