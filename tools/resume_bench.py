"""Resume-efficiency benchmark (round-2 verdict #7) — the operational
analog of the reference's cancellation-granularity story (strip.rs):
cancel a strip-mode validation at ~50% of input, resume it, and verify
the resumed run's wall time tracks the REMAINING input fraction rather
than the full cost.

Output: one JSON line with full/cancelled/resumed wall seconds, strips
committed at cancel, and resume_efficiency = saved_time /
expected_saved_time (1.0 = resume skipped exactly what the committed
strips had paid for). Recorded in BENCH.md.

Usage: python tools/resume_bench.py  (env: SPARK_GRAFT_CPUS,
SPARK_GRAFT_SF_DIR, SPARK_GRAFT_BENCH_REPEAT as for bench.py)
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import bench  # noqa: E402  (reuses the corpus builder + warmup)
from sparkval import (  # noqa: E402
    CancellationToken,
    ValidationCancelled,
    ValidationConfig,
    ValidationEngine,
)
from sparkval.session import get_spark  # noqa: E402

N_STRIPS = int(os.environ.get("SPARK_GRAFT_RESUME_STRIPS", "16"))
CANCEL_AT = N_STRIPS // 2


def main() -> None:
    steal0 = bench._steal_ticks()
    spark = get_spark(
        "sparkval-resume-bench", parallelism=bench.CPUS,
        shuffle_partitions=max(bench.CPUS, 8),
    )
    spark.sparkContext.setLogLevel("ERROR")
    bench.warmup(spark)

    tmp = tempfile.mkdtemp(prefix="sparkval_resume_")
    snap_path = f"{tmp}/snapshot.parquet"
    virtual = bench.corpus_from_lineitem(spark, bench.SF_DIR).repartition(256)
    virtual.write.mode("overwrite").parquet(snap_path)
    base_corpus = spark.read.parquet(snap_path)

    eng = ValidationEngine(ValidationConfig(short_circuit_identical=False))
    base = eng.build_baseline(base_corpus)
    base_path = f"{tmp}/baseline.parquet"
    base.write.mode("overwrite").parquet(base_path)
    base = spark.read.parquet(base_path)

    # leg 1: full uncancelled strip run (fresh checkpoint)
    ck_full = f"{tmp}/ck_full"
    t0 = time.perf_counter()
    eng.validate_strips(snap_path, base, ck_full, n_strips=N_STRIPS)[
        "verdicts"
    ].write.format("noop").mode("overwrite").save()
    t_full = time.perf_counter() - t0

    # leg 2: cancel at the CANCEL_AT strip boundary
    ck = f"{tmp}/ck_resume"
    stop = CancellationToken(spark)
    committed = []

    def cancel_at(i, n, skipped):
        if not skipped:
            committed.append(i)
        if i == CANCEL_AT:
            stop.cancel("bench halfway")

    t0 = time.perf_counter()
    try:
        eng.validate_strips(snap_path, base, ck, stop=stop, n_strips=N_STRIPS,
                            on_strip=cancel_at)
    except ValidationCancelled:
        pass
    t_cancelled = time.perf_counter() - t0
    n_committed = len(
        [d for d in os.listdir(f"{ck}/fused_partials")
         if os.path.exists(f"{ck}/fused_partials/{d}/_SUCCESS")]
    ) if os.path.isdir(f"{ck}/fused_partials") else 0

    # leg 3: resume to completion
    skipped = []
    t0 = time.perf_counter()
    eng.validate_strips(
        snap_path, base, ck, n_strips=N_STRIPS,
        on_strip=lambda i, n, sk: skipped.append(i) if sk else None,
    )["verdicts"].write.format("noop").mode("overwrite").save()
    t_resume = time.perf_counter() - t0

    remaining_frac = (N_STRIPS - n_committed) / N_STRIPS
    # efficiency: time actually saved vs time the committed strips
    # were worth (scan share of the full run scales with strips; the
    # finalize stage is fixed and paid by both runs)
    saved = t_full - t_resume
    expected_saved = t_full * (n_committed / N_STRIPS)
    print(json.dumps({
        "metric": "strip-resume efficiency",
        "n_strips": N_STRIPS,
        "cancelled_after_strips": n_committed,
        "strips_skipped_on_resume": len(skipped),
        "full_sec": round(t_full, 3),
        "cancelled_leg_sec": round(t_cancelled, 3),
        "resume_sec": round(t_resume, 3),
        "remaining_fraction": round(remaining_frac, 3),
        "resume_over_full": round(t_resume / t_full, 3),
        "resume_efficiency": round(saved / expected_saved, 3) if expected_saved else None,
        "parallelism": bench.CPUS,
        # interval steal, not absolute (round-4 fix: the r3 run
        # reported the counter's lifetime value, unusable for
        # window-quality judgment)
        "host_steal_ticks": bench._steal_ticks() - steal0,
    }))
    shutil.rmtree(tmp, ignore_errors=True)
    spark.stop()


if __name__ == "__main__":
    raise SystemExit(main())
