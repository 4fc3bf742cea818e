"""Round-4 ADVICE regression tests.

1. drift warm path: a baseline whose rows carry packed-band vectors of
   a DIFFERENT length than the current config produces (appended under
   another single_resolution setting) must not crash the batched
   np.stack — mismatched rows demote to the cold path and score
   bit-identically to a band-less baseline.
2. (retired: near_duplicates_minhash no longer caches signatures in
   any mode — tests/test_advice_r3.py pins the empty cache manager.)
3. save_baseline on a band-carrying baseline with neither an explicit
   config nor a surviving breadcrumb warns at SAVE time (the sidecar
   records build_config null).
4. fs_write_text is rename-backed: overwrites are whole-file swaps, no
   temp residue; a garbage sidecar degrades load_baseline with the
   documented warning instead of crashing.
"""

import json

import numpy as np
import pytest
from pyspark.sql import functions as F

from sparkval import fixtures as fx
from sparkval.config import ValidationConfig
from sparkval.engine import ValidationEngine


@pytest.fixture(scope="module")
def corpus(spark):
    pdf = fx.make_corpus("random_mid", 800)
    return spark.createDataFrame(pdf), pdf


def test_warm_mixed_packed_lengths_demote_to_cold(spark, corpus):
    """Union of rows precomputed under multi-res and single-res configs
    (different packed lengths): the multi-res engine must score it
    without a stack crash, bit-equal to the fully-cold baseline —
    matching rows ride the warm path, alien rows demote to cold."""
    from sparkval.baseline import compact_baseline

    df, pdf = corpus
    snap = spark.createDataFrame(fx.distort(pdf, "noise_7_0.3"))
    cfg_multi = ValidationConfig(short_circuit_identical=False)
    cfg_single = ValidationConfig(
        short_circuit_identical=False, single_resolution=True
    )
    eng = ValidationEngine(cfg_multi)
    base_multi = eng.build_baseline(df, precompute_bands=True)
    base_single = ValidationEngine(cfg_single).build_baseline(
        df, precompute_bands=True
    )
    mixed = base_multi.filter(F.col("repo_bucket") % 2 == 0).unionByName(
        base_single.filter(F.col("repo_bucket") % 2 == 1)
    )
    got = eng.validate(snap, mixed)["verdicts"].toPandas()
    cold = eng.validate(snap, compact_baseline(base_multi))["verdicts"].toPandas()
    a = got.set_index(["repo_bucket", "lang"])["score"].sort_index()
    b = cold.set_index(["repo_bucket", "lang"])["score"].sort_index()
    assert list(a.index) == list(b.index) and len(a) > 0
    assert np.array_equal(a.to_numpy(), b.to_numpy())


def test_warm_all_alien_lengths_equal_cold(spark, corpus):
    """Baseline built single-res, validated multi-res: every row's
    packed length mismatches — all demote to cold; scores must equal
    the band-less baseline bit-exactly (pre-fix, unpack mis-sliced
    these bands silently)."""
    from sparkval.baseline import compact_baseline

    df, pdf = corpus
    snap = spark.createDataFrame(fx.distort(pdf, "shift_16"))
    eng = ValidationEngine(ValidationConfig(short_circuit_identical=False))
    alien = ValidationEngine(
        ValidationConfig(short_circuit_identical=False, single_resolution=True)
    ).build_baseline(df, precompute_bands=True)
    got = eng.validate(snap, alien)["verdicts"].toPandas()
    cold = eng.validate(snap, compact_baseline(alien))["verdicts"].toPandas()
    a = got.set_index(["repo_bucket", "lang"])["score"].sort_index()
    b = cold.set_index(["repo_bucket", "lang"])["score"].sort_index()
    assert np.array_equal(a.to_numpy(), b.to_numpy())


def test_save_baseline_warns_when_breadcrumb_lost(spark, corpus, tmp_path):
    import warnings

    from sparkval.baseline import save_baseline
    from sparkval.io import fs_read_text, uri_join

    df, _ = corpus
    cfg = ValidationConfig()
    base = ValidationEngine(cfg).build_baseline(df, precompute_bands=True)
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


def test_fs_write_text_rename_swap_no_residue(spark, tmp_path):
    import os

    from sparkval.io import fs_read_text, fs_write_text

    p = f"file://{tmp_path}/sidecar.json"
    fs_write_text(spark, p, "first version")
    fs_write_text(spark, p, "second version")
    assert fs_read_text(spark, p) == "second version"
    left = os.listdir(tmp_path)
    assert not [f for f in left if "__tmp__" in f], left


def test_garbage_sidecar_warns_not_crashes(spark, corpus, tmp_path):
    from sparkval.baseline import load_baseline, save_baseline
    from sparkval.io import fs_write_text, uri_join

    df, _ = corpus
    cfg = ValidationConfig()
    base = ValidationEngine(cfg).build_baseline(df, precompute_bands=True)
    path = str(tmp_path / "b_garbage")
    save_baseline(base, path, config=cfg)
    fs_write_text(spark, uri_join(path, "_sparkval_meta.json"), "{not json!!")
    with pytest.warns(UserWarning, match="unreadable"):
        again = load_baseline(spark, path, config=cfg)
    # degrades exactly like a missing sidecar: fingerprints dropped
    assert "fingerprint" not in again.columns
    assert again.count() > 0
