"""sparkval benchmark: seeded workloads, checked outputs, per-layer trace.

Run from the root of a sparkval checkout:

    python3 perfbench/run.py --workload validate_snapshot --seed 1 --seconds 5 --trace 0
    python3 perfbench/run.py --workload all --seed 1 --seconds 5

One process, one SparkSession on local[N] (N = min(2, usable CPUs)),
closed loop with one client: each timed iteration starts when the
previous one has finished. ``--trace 0`` prints the end-to-end metrics;
``--trace 1`` times half the seconds untraced, restarts the session with
the Spark event log on, times the other half (the difference of the two
medians is the tracing overhead) and replays the workload one layer
call at a time. The last stdout line is the result JSON; the line
before it (``# detail``) carries samples, sketch error / recall,
versions and host steal.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
MIN_ITERATIONS = 1

# Wall time per iteration (run_s, rows_per_s) is in the detail line but
# not among these: on a shared host it doubles for minutes at a time
# when other tenants are busy, while CPU time and peak memory hold.
E2E_UNITS = {"setup_s": "s", "cpu_s": "s", "peak_rss_mb": "MB"}


def import_program():
    """sparkval from this checkout only; exits non-zero without it."""
    sys.path.insert(0, ROOT)
    try:
        import sparkval
    except ImportError as e:
        sys.exit(f"sparkval is not importable from {ROOT}: {e}")
    if not os.path.abspath(sparkval.__file__).startswith(ROOT + os.sep):
        sys.exit(f"sparkval resolved outside the checkout: {sparkval.__file__}")


def make_work_dir(name: str) -> str:
    """A private scratch dir inside the checkout for data, Spark local
    dirs and temp files; the environment points Spark and the Python
    workers at it (workers import sparkval from this checkout, whatever
    the cwd)."""
    work = os.path.join(HERE, ".work", f"{name}-{os.getpid()}")
    for sub in ("tmp", "spark-local", "data"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    return work


def remove_work_dir(work: str) -> None:
    shutil.rmtree(work, ignore_errors=True)
    try:
        os.rmdir(os.path.dirname(work))
    except OSError:
        pass  # another run still owns a work dir there


def n_cpus() -> int:
    """Two task slots. At these input sizes an iteration is Spark job
    overhead, about as fast on local[2] as on local[4], and two slots
    plus their Python workers leave CPUs free for the JVM's own threads
    and for vCPUs the host is stealing."""
    return min(2, len(os.sched_getaffinity(0)))


def start_session(work: str, event_log: str | None = None):
    from sparkval.session import get_spark

    # The JVM compiles with C1 only (TieredStopAtLevel=1). With C2 on,
    # an iteration keeps getting faster for ~5 iterations (8 s -> 5.7 s
    # on dedup_corpus) and the C2 compiler threads compete for the
    # CPUs, so a short run measures where the JIT happens to be; with C1
    # the first timed iteration is already at its steady level. The heap
    # is fixed and touched at start, so the JVM's share of peak_rss_mb
    # does not depend on when G1 grows the heap.
    conf = {
        "spark.driver.memory": "2g",
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} "
            "-XX:-UsePerfData -Xms2g -XX:+AlwaysPreTouch -XX:TieredStopAtLevel=1",
    }
    if event_log is None:
        conf["spark.eventLog.enabled"] = "false"
    else:
        os.makedirs(event_log, exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + event_log,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    spark = get_spark("sparkval-perfbench", parallelism=n_cpus(), extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_jvm(spark) -> None:
    """Stop the session, then the JVM, and wait for it to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    try:
        spark.stop()
    except Exception:  # the JVM is already gone; it is still waited for below
        pass
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    try:
        gateway.shutdown()
    except Exception:
        pass
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def timed_loop(wl, seconds: float) -> dict:
    """Closed loop: iterations until ``seconds`` have passed (at least
    MIN_ITERATIONS). Per iteration: wall time, tree CPU, host steal,
    phase times, and the output check (untimed)."""
    from procstat import host_steal_s, tree_cpu_s

    walls, cpus, steals, phases, failures, quality = [], [], [], [], [], []
    attempted = 0
    t_start = time.perf_counter()
    while attempted < MIN_ITERATIONS or time.perf_counter() - t_start < seconds:
        i = attempted
        attempted += 1
        wl.prepare(i)
        try:
            cpu0, steal0 = tree_cpu_s(), host_steal_s()
            t0 = time.perf_counter()
            out = wl.run_once(i)
            wall = time.perf_counter() - t0
            walls.append(wall)
            cpus.append(tree_cpu_s() - cpu0)
            steals.append(host_steal_s() - steal0)
            phases.append(wl.phase_s)
            fails = wl.check(out, i)
            quality.append(wl.quality(out))
        except Exception:  # a run that raises counts as failed
            fails = ["raised: " + traceback.format_exc(limit=3)]
        finally:
            wl.restore(i)
        if fails:
            failures.append({"iteration": i, "failures": fails})
    return {"walls": walls, "cpus": cpus, "steals": steals, "phases": phases,
            "failures": failures, "attempted": attempted, "quality": quality}


def warm_up(wl) -> list[str]:
    """One untimed full run in this session, checked too; it also
    fills the engine workload's partial cache. Returns its failures."""
    wl.prepare(-1)
    try:
        return wl.check(wl.run_once(-1), -1)
    finally:
        wl.restore(-1)


def run_workload(args) -> int:
    import_program()
    sys.path.insert(0, HERE)
    import gen
    from procstat import tree_peak_rss_mb
    from workloads import WORKLOADS

    work = make_work_dir(args.workload)
    spark = None
    try:
        t0 = time.perf_counter()
        spark = start_session(work)
        t_session = time.perf_counter() - t0
        wl = WORKLOADS[args.workload](args.seed, gen.SCALES["bench"], os.path.join(work, "data"))
        wl.generate()
        t_generated = time.perf_counter() - t0
        wl.attach(spark)
        wl.seed_state()
        t_seeded = time.perf_counter() - t0
        warm_fail = warm_up(wl)
        setup_s = time.perf_counter() - t0

        # a traced run splits its seconds between the untraced loop and
        # the traced one, so it measures for --seconds like any other
        loop_s = args.seconds / 2 if args.trace else args.seconds
        res = timed_loop(wl, loop_s)
        peak_rss_mb = tree_peak_rss_mb()
        run_s = statistics.median(res["walls"]) if res["walls"] else float("nan")
        detail = {
            "workload": args.workload, "seed": args.seed,
            "run_s": run_s, "rows_per_s": wl.rows / run_s,
            "rows": wl.rows, "rows_unit": wl.rows_unit, "samples": len(res["walls"]),
            "run_s_samples": res["walls"], "cpu_s_samples": res["cpus"],
            "phase_s_samples": res["phases"], "host_steal_s": res["steals"],
            "quality": res["quality"][-1:] or None,
            "setup": {"session_s": t_session, "generate_s": t_generated - t_session,
                      "seed_s": t_seeded - t_generated,
                      "warmup_s": setup_s - t_seeded},
            "env": env_info(spark),
        }
        if args.trace:
            metrics = traced(loop_s, wl, work, spark, res, run_s, detail)
            spark = None  # traced() stopped it
        else:
            metrics = {
                "setup_s": setup_s,
                "cpu_s": statistics.median(res["cpus"]) if res["cpus"] else float("nan"),
                "peak_rss_mb": peak_rss_mb,
            }
            metrics = {k: {"value": v, "unit": E2E_UNITS[k]} for k, v in metrics.items()}
        failures = res["failures"] + ([{"iteration": -1, "failures": warm_fail}]
                                       if warm_fail else [])
        detail["failures"] = failures
        correct = not failures
        print("# detail " + json.dumps(detail, default=str))
        print(json.dumps({"correct": correct, "attempted": res["attempted"],
                          "failed": len(res["failures"]), "metrics": metrics}))
        return 0 if correct else 1
    finally:
        try:
            if spark is not None:
                stop_jvm(spark)
        finally:
            remove_work_dir(work)


def traced(loop_s, wl, work, spark, res, run_s_untraced, detail) -> dict:
    """The same loop again with the Spark event log on, then the layer
    replay. The session is restarted for it (the JVM and its JIT state
    stay), so the tracing overhead is the traced median minus the
    untraced one measured just before."""
    from layertrace import Tracer, layer_metrics, parse_event_log
    from workloads import LAYERS

    log_dir = os.path.join(work, "eventlog")
    spark.stop()
    spark = start_session(work, event_log=log_dir)
    try:
        wl.attach(spark)
        loop = timed_loop(wl, loop_s)
        res["failures"].extend(loop["failures"])
        res["attempted"] += loop["attempted"]
        detail["traced_run_s_samples"] = loop["walls"]
        tracer = Tracer(spark)
        wl.trace(tracer)
    finally:
        stop_jvm(spark)

    metrics = layer_metrics(LAYERS, tracer, parse_event_log(log_dir))
    run_s_traced = statistics.median(loop["walls"])
    total, recomputed = wl.file_counts
    extra = {
        "engine.validate_incremental.files_recomputed": (recomputed, "count"),
        "engine.validate_incremental.cache_hit_ratio":
            ((total - recomputed) / total if total else 0.0, "ratio"),
        "workload.run_s_untraced": (run_s_untraced, "s"),
        "workload.run_s_traced": (run_s_traced, "s"),
        "workload.tracing_overhead_s": (run_s_traced - run_s_untraced, "s"),
        "workload.layer_s_sum": (sum(v["s"] for v in tracer.totals().values()), "s"),
    }
    metrics.update({k: {"value": v, "unit": u} for k, (v, u) in extra.items()})
    return metrics


def env_info(spark) -> dict:
    import numpy
    import pyarrow

    return {"nproc": os.cpu_count(), "usable_cpus": len(os.sched_getaffinity(0)),
            "master": spark.sparkContext.master, "spark": spark.version,
            "pyarrow": pyarrow.__version__, "numpy": numpy.__version__,
            "python": sys.version.split()[0]}


def run_all(args) -> int:
    """Every workload in turn, each in its own process."""
    sys.path.insert(0, HERE)
    from workloads import WORKLOADS

    worst = 0
    for name in WORKLOADS:
        cmd = [sys.executable, os.path.abspath(__file__), "--workload", name,
               "--seed", str(args.seed), "--seconds", str(args.seconds),
               "--trace", str(args.trace)]
        proc = subprocess.run(cmd, capture_output=True, text=True, timeout=600)
        lines = proc.stdout.strip().splitlines()
        print(f"== {name}: exit {proc.returncode}")
        print(lines[-1] if lines else proc.stderr[-2000:])
        worst = worst or proc.returncode
    return worst


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=5.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    # SIGTERM unwinds like an exception, so the finally blocks stop the
    # JVM and remove the work dir
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    if args.workload == "all":
        import_program()
        return run_all(args)
    return run_workload(args)


if __name__ == "__main__":
    sys.exit(main())
