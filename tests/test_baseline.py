"""Baseline persistence: save/load sidecar, breadcrumbs, rename-backed
sidecar writes.

1. save_baseline with neither an explicit config nor a surviving
   breadcrumb warns at SAVE time (the sidecar records build_config
   null).
2. A sidecar recording the band-only fields of older baselines loads
   silently when only those differ, and still warns when the
   histogram-shaping n_repo_buckets differs.
3. fs_write_text is rename-backed: overwrites are whole-file swaps, no
   temp residue; a garbage sidecar degrades load_baseline with the
   documented warning instead of crashing.
"""

import json
import warnings

import pytest

from sparkval import fixtures as fx
from sparkval.config import ValidationConfig
from sparkval.engine import ValidationEngine


@pytest.fixture(scope="module")
def corpus(spark):
    pdf = fx.make_corpus("random_mid", 800)
    return spark.createDataFrame(pdf), pdf


def test_save_baseline_warns_when_breadcrumb_lost(spark, corpus, tmp_path):
    from sparkval.baseline import save_baseline
    from sparkval.io import fs_read_text, uri_join

    df, _ = corpus
    cfg = ValidationConfig()
    base = ValidationEngine(cfg).build_baseline(df)
    # any transformation drops the driver-side breadcrumb attribute
    transformed = base.select("*")
    path = str(tmp_path / "b_lost")
    with pytest.warns(UserWarning, match="Pass.*config.*explicitly"):
        save_baseline(transformed, path)
    meta = json.loads(fs_read_text(spark, uri_join(path, "_sparkval_meta.json")))
    assert meta["build_config"] is None
    # explicit config: no warning, sidecar populated
    path2 = str(tmp_path / "b_cfg")
    with warnings.catch_warnings(record=True) as caught:
        warnings.simplefilter("always")
        save_baseline(transformed, path2, config=cfg)
    assert not [w for w in caught if "Pass" in str(w.message)]
    meta2 = json.loads(fs_read_text(spark, uri_join(path2, "_sparkval_meta.json")))
    assert meta2["build_config"]["n_repo_buckets"] == cfg.n_repo_buckets


def test_band_era_sidecar_warns_only_on_bucket_mismatch(spark, corpus, tmp_path):
    """Sidecars of baselines that stored precomputed bands record the
    band-only fields too. They no longer affect a compare, so a load
    that differs only in those stays silent; n_repo_buckets still
    warns."""
    from sparkval.baseline import load_baseline, save_baseline
    from sparkval.histograms import FP_ALGO
    from sparkval.io import fs_write_text, uri_join

    df, _ = corpus
    cfg = ValidationConfig()
    path = str(tmp_path / "b_band_era")
    save_baseline(ValidationEngine(cfg).build_baseline(df), path, config=cfg)
    # every band-only field differs from the load config
    band_era = {
        "intensity_target": 250.0, "intensity_factor": 250.0 / 80.0,
        "single_resolution": True, "iir_blur": True,
        "n_repo_buckets": cfg.n_repo_buckets,
    }
    fs_write_text(
        spark, uri_join(path, "_sparkval_meta.json"),
        json.dumps({"fp_algo": FP_ALGO, "build_config": band_era}),
    )
    with warnings.catch_warnings():
        warnings.simplefilter("error")
        again = load_baseline(spark, path, config=cfg)
    assert "fingerprint" in again.columns
    with pytest.warns(UserWarning, match="n_repo_buckets"):
        load_baseline(spark, path, config=ValidationConfig(n_repo_buckets=32))


def test_fs_write_text_rename_swap_no_residue(spark, tmp_path):
    import os

    from sparkval.io import fs_read_text, fs_write_text

    p = f"file://{tmp_path}/sidecar.json"
    fs_write_text(spark, p, "first version")
    fs_write_text(spark, p, "second version")
    assert fs_read_text(spark, p) == "second version"
    left = os.listdir(tmp_path)
    assert not [f for f in left if "__tmp__" in f], left


def test_fs_write_text_dance_no_residue_and_old_fallback(spark, tmp_path):
    from sparkval.io import fs_read_text, fs_write_text, hadoop_fs

    import os

    p = f"file://{tmp_path}/meta.json"
    fs_write_text(spark, p, "v1")
    fs_write_text(spark, p, "v2")
    assert fs_read_text(spark, p) == "v2"
    residue = [f for f in os.listdir(tmp_path) if "__tmp__" in f or "__old__" in f]
    assert not residue, residue

    # simulate the crash window between the parking rename and the
    # final rename: destination missing, .__old__ holds previous
    fs, jpath = hadoop_fs(spark, p)
    old = hadoop_fs(spark, p + ".__old__")[1]
    assert fs.rename(jpath, old)
    assert fs_read_text(spark, p) == "v2"  # served from the parked copy
    # the next write recovers cleanly and drops the stale parked copy
    fs_write_text(spark, p, "v3")
    assert fs_read_text(spark, p) == "v3"
    assert not [f for f in os.listdir(tmp_path) if "__old__" in f]


def test_garbage_sidecar_warns_not_crashes(spark, corpus, tmp_path):
    from sparkval.baseline import load_baseline, save_baseline
    from sparkval.io import fs_write_text, uri_join

    df, _ = corpus
    cfg = ValidationConfig()
    base = ValidationEngine(cfg).build_baseline(df)
    path = str(tmp_path / "b_garbage")
    save_baseline(base, path, config=cfg)
    fs_write_text(spark, uri_join(path, "_sparkval_meta.json"), "{not json!!")
    with pytest.warns(UserWarning, match="unreadable"):
        again = load_baseline(spark, path, config=cfg)
    # degrades exactly like a missing sidecar: fingerprints dropped
    assert "fingerprint" not in again.columns
    assert again.count() > 0
