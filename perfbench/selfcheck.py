"""Self-check of the benchmark's output checks, at the tiny scale.

Runs each workload once (sf0.001-sized inputs, every defect still
planted) and requires its check to pass; then tampers with the output
in several ways and requires the check to fail on every one. Exits
non-zero if any expectation is not met.

    python3 perfbench/selfcheck.py
"""

from __future__ import annotations

import copy
import os
import sys

import run


def _drop_first(rows: list, pred) -> list:
    i = next(k for k, r in enumerate(rows) if pred(r))
    return rows[:i] + rows[i + 1:]


def _flip_verdict(rows: list, to_pass: bool) -> list:
    """Turn one non-PASS verdict into PASS, or one PASS into WARN."""
    from pyspark.sql import Row

    out = list(rows)
    i = next(k for k, r in enumerate(out) if (r["verdict"] != "PASS") == to_pass)
    out[i] = Row(repo_bucket=out[i]["repo_bucket"], lang=out[i]["lang"],
                 verdict="PASS" if to_pass else "WARN")
    return out


def _scale_estimate(rows: list, factor: float) -> list:
    from pyspark.sql import Row

    r = rows[0].asDict()
    r["distinct_estimate"] *= factor
    return [Row(**r)] + rows[1:]


def tampers(name: str) -> dict:
    """name -> function(out) returning a tampered deep copy."""
    def t(fn):
        def apply(out):
            out = copy.deepcopy(out)
            fn(out)
            return out
        return apply

    if name == "validate_snapshot":
        return {
            "missing violation": t(lambda o: o["validate"].update(violations=_drop_first(
                o["validate"]["violations"], lambda r: r["check"] == "uniqueness"))),
            "drift missed": t(lambda o: o["validate"].update(
                verdicts=_flip_verdict(o["validate"]["verdicts"], to_pass=True))),
            "false drift": t(lambda o: o["incremental"].update(
                verdicts=_flip_verdict(o["incremental"]["verdicts"], to_pass=False))),
            "stale cache reuse": t(lambda o: o["incremental"].update(
                violations=_drop_first(o["incremental"]["violations"],
                                       lambda r: r["check"] == "null_required"))),
            "wrong recompute count": t(lambda o: o.update(file_counts=(o["file_counts"][0], 0))),
            "wrong row count": t(lambda o: o.update(column_stats=o["column_stats"][1:])),
            "sketch error": t(lambda o: o.update(hll_all=_scale_estimate(o["hll_all"], 1.2))),
        }
    return {
        "duplicate kept": t(lambda o: o["kept"].append(o["kept"][0])),
        "canonical dropped": t(lambda o: o.update(kept=o["kept"][1:])),
        "pairs missed": t(lambda o: o.update(minhash=[], cosine=[])),
    }


SEED = 7


def main() -> int:
    run.import_program()
    import gen
    from workloads import WORKLOADS

    work = run.make_work_dir("selfcheck")
    spark = None
    problems = []
    try:
        spark = run.start_session(work)
        for name, cls in WORKLOADS.items():
            wl = cls(SEED, gen.SCALES["tiny"], os.path.join(work, "data", name))
            os.makedirs(wl.work)
            wl.generate()
            wl.attach(spark)
            wl.seed_state()
            fails = run.warm_up(wl)
            print(f"{name}: warm-up -> {'FAIL ' + str(fails) if fails else 'pass'}")
            if fails:
                problems.append(f"{name}: warm-up output failed its check")
            wl.prepare(0)
            try:
                out = wl.run_once(0)
            finally:
                wl.restore(0)
            fails = wl.check(out, 0)
            print(f"{name}: untampered -> {'FAIL ' + str(fails) if fails else 'pass'}")
            if fails:
                problems.append(f"{name}: untampered output failed its check")
            for label, tamper in tampers(name).items():
                caught = bool(wl.check(tamper(out), 0))
                print(f"{name}: {label} -> {'caught' if caught else 'NOT CAUGHT'}")
                if not caught:
                    problems.append(f"{name}: tampered output ({label}) passed its check")
    finally:
        if spark is not None:
            run.stop_jvm(spark)
        run.remove_work_dir(work)
    print("selfcheck: " + ("ok" if not problems else "FAILED\n  " + "\n  ".join(problems)))
    return 1 if problems else 0


if __name__ == "__main__":
    sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
    sys.exit(main())
