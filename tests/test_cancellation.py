"""Cancellation semantics (tests/cancellation.rs analog): a cancelled
token aborts the run's Spark jobs and raises ValidationCancelled; a
pre-cancelled token refuses to start (validate_with_stop and
validate_strips share one job-group fence); cancel + resume is the
strip walker's: a rerun skips the strips committed before the cancel
(strip.rs:510-513 shape).
"""

import threading
import time

import pytest

from pyspark.sql import functions as F

from sparkval import (
    CancellationToken,
    ValidationCancelled,
    ValidationConfig,
    ValidationEngine,
)


def _slow_corpus(spark, n=400_000, repeat=60):
    return spark.range(0, n).select(
        F.concat(F.lit("r"), (F.col("id") % 40).cast("string")).alias("repo"),
        F.col("id").cast("string").alias("path"),
        F.lit("c0").alias("commit"),
        F.lit("python").alias("lang"),
        F.repeat(F.concat_ws(" ", "id", F.sha2(F.col("id").cast("string"), 256)), repeat)
        .alias("content"),
    )


@pytest.mark.parametrize("entry", ["validate_with_stop", "validate_strips"])
def test_precancelled_token_refuses_to_start(spark, tmp_path, entry):
    eng = ValidationEngine(ValidationConfig())
    tiny = _slow_corpus(spark, n=50, repeat=1)
    base = eng.build_baseline(tiny)
    stop = CancellationToken(spark)
    stop.cancel("before start")
    t0 = time.perf_counter()
    with pytest.raises(ValidationCancelled) as ei:
        if entry == "validate_with_stop":
            eng.validate_with_stop(tiny, base, stop)
        else:
            eng.validate_strips(str(tmp_path / "snap.parquet"), base,
                                str(tmp_path / "ck"), stop=stop)
    assert ei.value.reason == "before start"
    assert time.perf_counter() - t0 < 2.0


def test_cancel_mid_run_aborts(spark):
    """A cancel fired mid-validation must abort well before the full
    run would have finished. The canceller re-fires until the run
    reacts (cancel is idempotent), mirroring a real supervisor."""
    eng = ValidationEngine(ValidationConfig(short_circuit_identical=False))
    tiny = _slow_corpus(spark, n=200, repeat=1)
    base = eng.build_baseline(tiny)
    big = _slow_corpus(spark, n=600_000, repeat=80)  # heavy snapshot

    stop = CancellationToken(spark)
    done = threading.Event()

    def keep_cancelling():
        time.sleep(1.5)
        while not done.is_set():
            stop.cancel("mid-run")
            time.sleep(0.5)

    t = threading.Thread(target=keep_cancelling, daemon=True)
    t.start()
    t0 = time.perf_counter()
    try:
        with pytest.raises(ValidationCancelled) as ei:
            eng.validate_with_stop(big, base, stop)
        elapsed = time.perf_counter() - t0
        assert ei.value.reason == "mid-run"
        # a full run of this corpus takes >30s at test parallelism; a
        # working cancel lands an order of magnitude earlier
        assert elapsed < 20.0, elapsed
    finally:
        done.set()


def _strip_corpus_path(spark, tmp_path, n_files=12, n=6000):
    path = str(tmp_path / "snap.parquet")
    _slow_corpus(spark, n=n, repeat=2).repartition(n_files).write.mode(
        "overwrite"
    ).parquet(path)
    return path


def test_strip_walker_parity_with_batch(spark, tmp_path):
    """validate_strips == validate(), exactly: partial histograms are
    a mergeable integer monoid, so any strip grouping produces
    bit-identical hist tables and therefore bit-identical scores (the
    strip_parity discipline, strip.rs:38-45 / tests/strip_parity.rs)."""
    eng = ValidationEngine(ValidationConfig(short_circuit_identical=False))
    path = _strip_corpus_path(spark, tmp_path)
    snap = spark.read.parquet(path)
    base = eng.build_baseline(_slow_corpus(spark, n=6000, repeat=2))

    strip_v = eng.validate_strips(
        path, base, str(tmp_path / "ck1"), n_strips=5
    )["verdicts"].toPandas()
    full_v = eng.validate(snap, base)["verdicts"].toPandas()
    cols = ["repo_bucket", "lang", "score", "pnorm_3", "verdict"]
    a = strip_v[cols].sort_values(["repo_bucket", "lang"]).reset_index(drop=True)
    b = full_v[cols].sort_values(["repo_bucket", "lang"]).reset_index(drop=True)
    assert a.equals(b)


def test_strip_walker_cancel_resume_skips_committed_strips(spark, tmp_path):
    """Cancel at a strip boundary (strip.rs:510-513) -> committed
    strips persist; the resumed run skips them (scan included) and the
    final verdicts equal an uncancelled run."""
    eng = ValidationEngine(ValidationConfig(short_circuit_identical=False))
    path = _strip_corpus_path(spark, tmp_path)
    snap = spark.read.parquet(path)
    base = eng.build_baseline(_slow_corpus(spark, n=6000, repeat=2))
    ckpt = str(tmp_path / "ck2")

    stop = CancellationToken(spark)
    seen = []
    half = []

    def cancel_at_half(i, n, skipped):
        # files hash to strips, so n counts the non-empty ones
        seen.append((i, skipped))
        if i == n // 2:  # boundary poll catches it before strip n // 2 runs
            half.append(i)
            stop.cancel("halfway")

    with pytest.raises(ValidationCancelled):
        eng.validate_strips(path, base, ckpt, stop=stop, n_strips=6,
                            on_strip=cancel_at_half)
    done_first = [i for i, sk in seen if not sk]
    assert done_first == list(range(half[0] + 1))

    # resume: already-committed strips are reported skipped=True
    seen2 = []
    out = eng.validate_strips(
        path, base, ckpt, n_strips=6,
        on_strip=lambda i, n, sk: seen2.append((i, sk)),
    )["verdicts"].toPandas()
    skipped = [i for i, sk in seen2 if sk]
    assert skipped == list(range(half[0]))  # committed before the cancel
    full_v = eng.validate(snap, base)["verdicts"].toPandas()
    cols = ["repo_bucket", "lang", "score", "verdict"]
    a = out[cols].sort_values(["repo_bucket", "lang"]).reset_index(drop=True)
    b = full_v[cols].sort_values(["repo_bucket", "lang"]).reset_index(drop=True)
    assert a.equals(b)
