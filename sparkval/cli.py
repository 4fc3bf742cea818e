"""CLI entry — the butteraugli-cli analog (main.rs:202-270, 536-622).

Usage (spark-submit --py-files sparkval.zip cli.py ... in deployment;
plain python locally):

  python -m sparkval.cli build-baseline --corpus C.parquet --out B.parquet
  python -m sparkval.cli validate --corpus SNAP.parquet --baseline B.parquet \
      [--commits COMMITS.parquet] [--out-dir OUT] \
      [--checkpoint CKPT [--strips N]] \
      [--max-score 2.0] [--hf-asymmetry 1.0] [--single-resolution] [--json]

--checkpoint selects strip mode (ValidationEngine.validate_strips):
per-strip commits under CKPT, and a rerun skips every committed strip;
--corpus must then be a parquet path, not iceberg:.

Exit codes mirror the reference's --max-score contract
(main.rs:232-259): 0 = all partitions below threshold, 2 = drift above
threshold or violations found, 1 = error.
"""

from __future__ import annotations

import argparse
import json
import sys
import time

from sparkval.baseline import load_baseline, save_baseline
from sparkval.config import ValidationConfig
from sparkval.engine import ValidationEngine
from sparkval.io import read_corpus
from sparkval.session import get_spark


def _add_common(p: argparse.ArgumentParser) -> None:
    p.add_argument("--parallelism", type=int, default=None)
    p.add_argument("--hf-asymmetry", type=float, default=1.0)
    p.add_argument("--intensity-target", type=float, default=80.0)
    p.add_argument("--single-resolution", action="store_true")
    p.add_argument("--json", action="store_true", help="one-line JSON output")


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(prog="sparkval")
    sub = ap.add_subparsers(dest="cmd", required=True)

    b = sub.add_parser("build-baseline")
    b.add_argument("--corpus", required=True)
    b.add_argument("--out", required=True)
    _add_common(b)

    v = sub.add_parser("validate")
    v.add_argument("--corpus", required=True)
    v.add_argument("--baseline", required=True)
    v.add_argument("--commits", default=None)
    v.add_argument("--manifest", default=None,
                   help="reference-engine (repo,path,commit,content_sha256) "
                        "manifest parquet for the per-row invariant check")
    v.add_argument("--out-dir", default=None)
    v.add_argument("--checkpoint", default=None,
                   help="strip mode (bounded scan, per-strip atomic commits "
                        "under this dir, scan-skipping resume); --corpus "
                        "must be a parquet path (not iceberg:)")
    v.add_argument("--strips", type=int, default=None,
                   help="strip mode: split the corpus parquet files into N "
                        "strips (default 16); requires --checkpoint")
    v.add_argument("--max-score", type=float, default=None)
    _add_common(v)

    args = ap.parse_args(argv)
    if args.cmd == "validate":
        if args.strips is not None and not args.checkpoint:
            ap.error("--strips requires --checkpoint (per-strip commit dir)")
        if args.checkpoint and args.corpus.startswith("iceberg:"):
            ap.error("--checkpoint walks parquet files; --corpus must be a path")

    config = ValidationConfig(
        hf_asymmetry=args.hf_asymmetry,
        intensity_target=args.intensity_target,
        single_resolution=args.single_resolution,
    )
    spark = get_spark("sparkval-cli", parallelism=args.parallelism)
    engine = ValidationEngine(config)
    t0 = time.time()

    if args.cmd == "build-baseline":
        corpus = read_corpus(spark, args.corpus)
        if args.out.startswith("iceberg:"):
            # no filesystem sidecar channel for a table URI; validate's
            # loader will treat the missing sidecar as algo-unknown and
            # disable the short-circuit loudly rather than silently
            engine.build_baseline(corpus).writeTo(
                args.out[len("iceberg:"):]
            ).createOrReplace()
        else:
            # save_baseline (not a bare parquet write): the
            # _sparkval_meta.json sidecar records FP_ALGO so a future
            # fingerprint-function change is detected at load instead of
            # silently never short-circuiting (ADVICE round 2)
            save_baseline(engine.build_baseline(corpus), args.out,
                          config=engine.config)
        if args.json:
            print(json.dumps({"cmd": "build-baseline", "out": args.out,
                              "elapsed_sec": time.time() - t0}))
        return 0

    # parquet baselines go through load_baseline: the FP_ALGO sidecar
    # check runs (and drops stale fingerprints with a warning) instead
    # of being bypassed by a raw read. iceberg: sources have no sidecar
    # channel and keep read_corpus (fingerprints unversioned -> the
    # engine still behaves correctly, just without the guard).
    if args.baseline.startswith("iceberg:"):
        baseline = read_corpus(spark, args.baseline)
    else:
        # config=: the build-config sidecar diff warns at LOAD time
        # when the baseline was bucketed under a different config
        baseline = load_baseline(spark, args.baseline, config=engine.config)
    commits = read_corpus(spark, args.commits) if args.commits else None
    manifest = read_corpus(spark, args.manifest) if args.manifest else None

    if args.checkpoint:
        # strip-walker full validate: bounded scan per strip, atomic
        # per-strip commits under --checkpoint, violations finalized
        # from narrow per-row partials; a rerun after a kill resumes
        # from the committed strips (scan skipped)
        strips = {} if args.strips is None else {"n_strips": args.strips}
        result = engine.validate_strips(
            args.corpus, baseline, args.checkpoint, commits=commits,
            expected_manifest=manifest, **strips,
        )
    else:
        # every table arg accepts iceberg:<catalog.table> or a parquet path
        corpus = read_corpus(spark, args.corpus)
        result = engine.validate(corpus, baseline, commits, manifest)

    if args.out_dir:
        result["verdicts"].write.mode("overwrite").parquet(f"{args.out_dir}/verdicts")
        result["violations"].write.mode("overwrite").parquet(f"{args.out_dir}/violations")

    metrics = engine.run_metrics(result["verdicts"], result["violations"], t0)
    if args.out_dir:
        # FS-API write: out_dir may be s3a://hdfs:// on a real deploy
        ValidationEngine.write_metrics(
            metrics, f"{args.out_dir}/metrics.json", spark=spark
        )
    if args.json:
        print(json.dumps(metrics, default=str))
    else:
        vc = metrics["verdict_counts"]
        print(
            f"partitions={metrics['partitions']} PASS={vc['PASS']} "
            f"WARN={vc['WARN']} FAIL={vc['FAIL']} "
            f"violations={sum(metrics['violations_by_check'].values())} "
            f"files/sec={metrics['files_per_sec']:.0f}"
        )

    threshold = args.max_score if args.max_score is not None else config.bad_score
    worst = metrics["score"]["max"] or 0.0
    n_viol = sum(metrics["violations_by_check"].values())
    return 2 if (worst >= threshold or n_viol > 0) else 0


if __name__ == "__main__":
    sys.exit(main())
