"""Regression tests for the round-2 ADVICE findings.

Each test reproduces the reported failure mode against the fixed code:

1. engine.py — a NULL repo must not abort validate(); the histogram
   scan half of this finding is pinned in test_stats.py.
2. pipeline/dedup.py — dedupe_keep_canonical must not silently delete
   NULL-content documents (sha2(NULL) is NULL; NULL never equi-joins).
3. cli.py — build-baseline must write the FP_ALGO sidecar and validate
   must load through the version guard (not a raw parquet read).
4. constraints.py — deterministic_order's cap must retain a
   deterministic prefix of the total order, not an arbitrary subset.
"""

import json
import os

import pandas as pd
import pytest

from sparkval import constraints as C
from sparkval import fixtures as fx
from sparkval.config import ValidationConfig
from sparkval.histograms import FP_ALGO


def test_null_repo_validate_end_to_end_tolerates_and_reports(spark):
    """The full validate() leg must complete on a NULL-repo corpus and
    still report the NULL key as a violation (tolerate-and-report)."""
    from sparkval.baseline import build_baseline
    from sparkval.engine import ValidationEngine

    pdf = fx.make_corpus("random_mid", 200)
    snap_pdf = pdf.copy()
    snap_pdf.loc[0, "repo"] = None
    cfg = ValidationConfig(n_repo_buckets=8)
    engine = ValidationEngine(cfg)
    base = build_baseline(spark.createDataFrame(pdf), cfg)
    result = engine.validate(spark.createDataFrame(snap_pdf), base)
    viols = result["violations"].toPandas()
    assert (viols["check"] == "null_required").any()
    assert result["verdicts"].count() > 0


def test_dedupe_keep_canonical_passes_null_docs_through(spark):
    from sparkval.pipeline.dedup import dedupe_keep_canonical

    df = spark.createDataFrame(
        pd.DataFrame({"doc_id": [1, 2, 3, 4], "text": ["a", None, None, "a"]})
    )
    kept = dedupe_keep_canonical(df).toPandas().sort_values("doc_id")
    # doc 4 is a dup of doc 1; NULL docs 2 and 3 are each unique
    assert kept["doc_id"].tolist() == [1, 2, 3]
    assert kept[kept["doc_id"] == 2]["text"].isna().all()


def test_cli_build_baseline_writes_fp_sidecar_and_validate_guards(
    spark, tmp_path, capsys
):
    from sparkval.cli import main as cli_main

    pdf = fx.make_corpus("random_mid", 300)
    corpus_path = str(tmp_path / "corpus.parquet")
    baseline_path = str(tmp_path / "baseline.parquet")
    spark.createDataFrame(pdf).write.parquet(corpus_path)

    assert cli_main(
        ["build-baseline", "--corpus", corpus_path, "--out", baseline_path]
    ) == 0
    meta = os.path.join(baseline_path, "_sparkval_meta.json")
    assert os.path.exists(meta)
    with open(meta) as f:
        assert json.load(f)["fp_algo"] == FP_ALGO

    # identical snapshot validates clean through the load_baseline path
    rc = cli_main(
        ["validate", "--corpus", corpus_path, "--baseline", baseline_path, "--json"]
    )
    assert rc == 0
    capsys.readouterr()

    # a stale-algo sidecar must trip the guard (fingerprints dropped
    # with a warning) — proving the CLI actually routes through
    # load_baseline rather than a raw parquet read. Overwrite via the
    # FS API: a bare open() would orphan the local checksum fs's .crc
    # shadow and poison the next FS read.
    from sparkval.io import fs_write_text

    fs_write_text(spark, meta, json.dumps({"fp_algo": "ancient-v0"}))
    with pytest.warns(UserWarning, match="fingerprint algo"):
        rc2 = cli_main(
            ["validate", "--corpus", corpus_path, "--baseline", baseline_path,
             "--json"]
        )
    assert rc2 == 0  # still validates correctly, just without short-circuit
    capsys.readouterr()


def test_deterministic_order_cap_is_deterministic_prefix(spark):
    pdf = pd.DataFrame(
        {
            "k": [f"k{i % 7:02d}" for i in range(40)],
            "v": [f"v{i:02d}" for i in range(40)],
        }
    )
    want = pdf.sort_values(["k", "v"]).head(10).reset_index(drop=True)
    outs = []
    for parts in (1, 7):
        df = spark.createDataFrame(pdf).repartition(parts)
        out = C.deterministic_order(df, ["k"], max_rows=10).toPandas()
        outs.append(out.reset_index(drop=True))
    # same subset regardless of input partitioning, and it is exactly
    # the first 10 rows of the total order (keys + tiebreakers)
    pd.testing.assert_frame_equal(outs[0], outs[1])
    pd.testing.assert_frame_equal(outs[0], want)
