"""Write the executed physical plan of driver entry queries to text.

Runs each named __spark_entry__ query once (so adaptive plans are
final) and writes its formatted plan to OUT_DIR/<name>_<suffix>.txt,
with the input directory written as ``<sf-dir>``.
``--root`` picks the checkout whose __spark_entry__ and sparkval are
imported, so one invocation per tree captures before/after plans.

    python tools/capture_plans.py plans/out --suffix after \
        --sf-dir /path/to/sf0.1 minhash_near_dups_documents ...
"""

from __future__ import annotations

import argparse
import os
import sys


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("out_dir")
    ap.add_argument("names", nargs="+")
    ap.add_argument("--suffix", default="after")
    ap.add_argument("--sf-dir", required=True)
    ap.add_argument(
        "--root",
        default=os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    )
    args = ap.parse_args()
    sys.path.insert(0, args.root)
    # Python workers import sparkval from the same tree as the driver
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (args.root, os.environ.get("PYTHONPATH")) if p
    )
    import __spark_entry__ as E
    from sparkval.session import get_spark

    spark = get_spark("capture-plans", parallelism=4, shuffle_partitions=8)
    queries = E.queries()
    os.makedirs(args.out_dir, exist_ok=True)
    for name in args.names:
        df = queries[name](spark, args.sf_dir)
        df.collect()
        plan = spark._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"
        ).replace(os.path.abspath(args.sf_dir), "<sf-dir>")  # host-neutral
        path = os.path.join(args.out_dir, f"{name}_{args.suffix}.txt")
        with open(path, "w", encoding="utf-8") as f:
            f.write(plan)
        print(path)
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
