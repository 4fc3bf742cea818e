"""CLI contract tests: exit codes per the reference's --max-score
semantics (butteraugli-cli main.rs:232-259)."""

import json
import os

import pytest

from sparkval import fixtures as fx
from sparkval.cli import main as cli_main
from sparkval.engine import ValidationEngine
from sparkval.histograms import FP_ALGO


def test_cli_roundtrip_exit_codes(spark, tmp_path, capsys):
    base_pdf = fx.make_corpus("random_mid", 500)
    corpus_path = str(tmp_path / "corpus.parquet")
    snap_ok = str(tmp_path / "snap_ok.parquet")
    snap_bad = str(tmp_path / "snap_bad.parquet")
    baseline_path = str(tmp_path / "baseline.parquet")
    out_dir = str(tmp_path / "out")

    spark.createDataFrame(base_pdf).write.parquet(corpus_path)
    spark.createDataFrame(fx.distort(base_pdf, "identity")).write.parquet(snap_ok)
    spark.createDataFrame(fx.distort(base_pdf, "quantize_3")).write.parquet(snap_bad)

    assert cli_main(["build-baseline", "--corpus", corpus_path, "--out", baseline_path]) == 0

    rc = cli_main(
        ["validate", "--corpus", snap_ok, "--baseline", baseline_path,
         "--out-dir", out_dir, "--json"]
    )
    assert rc == 0
    metrics = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert metrics["verdict_counts"]["FAIL"] == 0
    assert metrics["files_validated"] == 500

    rc_bad = cli_main(["validate", "--corpus", snap_bad, "--baseline", baseline_path])
    assert rc_bad == 2

    # metrics sidecar written (lineage requirement)
    with open(f"{out_dir}/metrics.json") as f:
        side = json.load(f)
    assert side["partitions"] > 0


def test_cli_strip_mode_full_validate(spark, tmp_path, capsys):
    """--strips N: the strip walker is reachable from spark-submit and
    is a FULL validate (violations included in metrics/exit code)."""
    import json as _json

    from sparkval import fixtures as fx
    from sparkval.cli import main as cli_main

    pdf = fx.make_corpus("random_mid", 400)
    corpus_path = str(tmp_path / "c.parquet")
    base_path = str(tmp_path / "b.parquet")
    spark.createDataFrame(pdf).repartition(6).write.parquet(corpus_path)
    assert cli_main(["build-baseline", "--corpus", corpus_path,
                     "--out", base_path]) == 0

    rc = cli_main([
        "validate", "--corpus", corpus_path, "--baseline", base_path,
        "--strips", "3", "--checkpoint", str(tmp_path / "ck"), "--json",
    ])
    out = _json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert rc == 0  # identical snapshot: no drift, no violations
    assert out["files_validated"] == 400
    assert sum(out["violations_by_check"].values()) == 0

    # planted duplicates -> exit 2 through the SAME strip path
    dup_path = str(tmp_path / "cdup.parquet")
    spark.createDataFrame(fx.distort(pdf, "dup_5")).repartition(6).write.parquet(dup_path)
    rc2 = cli_main([
        "validate", "--corpus", dup_path, "--baseline", base_path,
        "--strips", "3", "--checkpoint", str(tmp_path / "ck2"), "--json",
    ])
    out2 = _json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert rc2 == 2
    assert out2["violations_by_check"].get("uniqueness") == 10  # 5 keys x 2 rows


def test_cli_checkpoint_rerun_matches_plain_validate_after_append(
    spark, tmp_path, capsys
):
    """--checkpoint (no --strips) is strip mode: rerun with the same
    checkpoint after a data file is appended, it reports exactly what a
    plain validate of the grown table reports — no verdict or file
    count carries over from the first run."""
    pdf = fx.make_corpus("random_mid", 600)
    corpus_path = str(tmp_path / "c.parquet")
    base_path = str(tmp_path / "b.parquet")
    ckpt = str(tmp_path / "ck")
    spark.createDataFrame(pdf).repartition(4).write.parquet(corpus_path)
    assert cli_main(["build-baseline", "--corpus", corpus_path,
                     "--out", base_path]) == 0

    def run(*extra):
        rc = cli_main(["validate", "--corpus", corpus_path,
                       "--baseline", base_path, "--json", *extra])
        return rc, json.loads(capsys.readouterr().out.strip().splitlines()[-1])

    rc1, first = run("--checkpoint", ckpt)
    assert rc1 == 0 and first["files_validated"] == 600

    # one more data file: 60 existing keys again (duplicates), with
    # some langs relabelled (drift)
    spark.createDataFrame(fx.distort(pdf.iloc[:60], "langswap_10")).coalesce(
        1
    ).write.mode("append").parquet(corpus_path)

    rc2, resumed = run("--checkpoint", ckpt)
    rc3, plain = run()
    keys = ["files_validated", "verdict_counts", "violations_by_check"]
    assert {k: resumed[k] for k in keys} == {k: plain[k] for k in keys}
    assert resumed["score"]["max"] == plain["score"]["max"]
    assert resumed["files_validated"] == 660
    assert plain["verdict_counts"]["FAIL"] > 0
    assert plain["violations_by_check"]["uniqueness"] == 120
    assert rc2 == rc3 == 2


@pytest.mark.parametrize(
    "argv, message",
    [
        (["--corpus", "c.parquet", "--strips", "3"],
         "--strips requires --checkpoint"),
        (["--corpus", "iceberg:cat.db.corpus", "--checkpoint", "ck"],
         "--corpus must be a path"),
    ],
    ids=["strips-without-checkpoint", "checkpoint-with-iceberg-corpus"],
)
def test_cli_rejects_strip_args_before_any_spark_job(spark, argv, message, capsys):
    """Bad strip-mode arguments exit through argparse (code 2) before
    the CLI reads a table or runs a Spark job."""
    sc = spark.sparkContext
    group = "cli-argument-check"
    sc.setJobGroup(group, "no job may run")
    try:
        with pytest.raises(SystemExit) as ei:
            cli_main(["validate", "--baseline", "missing.parquet", *argv])
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert ei.value.code == 2
    assert message in capsys.readouterr().err
    assert list(sc.statusTracker().getJobIdsForGroup(group)) == []


def test_write_metrics_fs_form(spark, tmp_path):
    """Metrics sidecar lands through the FS API when spark is passed
    (URI paths work); legacy local form unchanged."""
    from sparkval.io import fs_read_text

    uri = f"file://{tmp_path}/m.json"
    ValidationEngine.write_metrics({"a": 1, "b": [2, 3]}, uri, spark=spark)
    assert json.loads(fs_read_text(spark, uri)) == {"a": 1, "b": [2, 3]}
    local = str(tmp_path / "m2.json")
    ValidationEngine.write_metrics({"c": 4}, local)
    with open(local) as f:
        assert json.load(f) == {"c": 4}


def test_read_corpus_csv_json_explicit_schema(spark, tmp_path):
    """Format-inferring read_corpus: csv/json read with the EXPLICIT
    corpus schema (no inference scan), parquet-equal content."""
    from sparkval import fixtures as fx
    from sparkval.io import read_corpus

    pdf = fx.make_corpus("random_mid", 50)
    df = spark.createDataFrame(pdf)
    csv_p = str(tmp_path / "c.csv")
    json_p = str(tmp_path / "c.json")
    df.write.option("header", "true").mode("overwrite").csv(csv_p)
    df.write.mode("overwrite").json(json_p)

    want = {(r["repo"], r["path"], r["commit"]) for r in df.collect()}
    got_csv = read_corpus(spark, csv_p)
    got_json = read_corpus(spark, json_p)
    assert got_csv.schema == df.schema == got_json.schema
    assert {(r["repo"], r["path"], r["commit"]) for r in got_csv.collect()} == want
    assert {(r["repo"], r["path"], r["commit"]) for r in got_json.collect()} == want


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
