"""Local replica of the driver's correctness harness.

Runs every __spark_entry__.queries() entry (or the named ones) over one
scale-factor directory and compares row-count, column names, and
order-insensitive values against the DuckDB oracle_sql(). The checked
tree is the one this script lives in, on the Spark driver and in the
Python workers alike, so a copy of another revision attests that
revision.

    python tools/check_entry.py [--sf-dir DIR] [names...]
"""

from __future__ import annotations

import argparse
import math
import os
import sys

import duckdb

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)
# Python workers import sparkval from the same tree as the Spark driver
os.environ["PYTHONPATH"] = os.pathsep.join(
    p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
)

import __spark_entry__ as E  # noqa: E402
from sparkval.session import get_spark  # noqa: E402

SF_DIR = "/root/testdata/sf0.01"
TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()


def norm_cell(v):
    # Type-tagged: an int64 on one side vs float64 on the other (e.g.
    # DuckDB HUGEINT sums -> pandas float64) must FAIL, as it does in
    # the driver's value hash, even when the numbers are equal.
    if type(v).__module__ == "numpy":  # unwrap np.int64/np.float64 scalars
        v = v.item()
    if isinstance(v, bool):
        return f"b:{v}"
    if isinstance(v, float):
        if math.isnan(v):
            return "f:nan"
        return f"f:{v:.6g}"
    if isinstance(v, int):
        return f"i:{v}"
    return str(v)


def canon(rows, cols):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = sorted(tuple(norm_cell(r[i]) for i in order) for r in rows)
    return out


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("names", nargs="*")
    ap.add_argument("--sf-dir", default=SF_DIR)
    args = ap.parse_args()
    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{args.sf_dir}/{t}.parquet'")
    spark = get_spark("check-entry", parallelism=8, shuffle_partitions=8)

    names = args.names or list(E.queries())
    qs, oracles = E.queries(), E.oracle_sql()
    failures = 0
    for name in names:
        sdf = qs[name](spark, args.sf_dir)
        srows = sdf.collect()
        scols = sdf.columns
        if name not in oracles:
            print(f"{name}: rows-only check, {len(srows)} rows  [no oracle]")
            continue
        ores = con.sql(oracles[name])
        ocols = [c for c in ores.columns]
        # HUGEINT/DECIMAL oracle columns hash differently from Spark's
        # int64 in the driver's typed compare (r01: the only 3 hash
        # mismatches were integer-sum() queries) — lint them as FAIL.
        badtypes = [
            (c, str(t)) for c, t in zip(ocols, ores.types)
            if str(t) in ("HUGEINT", "UHUGEINT") or str(t).startswith("DECIMAL")
        ]
        orows = ores.fetchall()
        if badtypes:
            failures += 1
            print(f"{name}: FAIL oracle column type not int64/double-safe: {badtypes}")
            continue
        ok_cols = sorted(scols) == sorted(ocols)
        ok_count = len(srows) == len(orows)
        ok_vals = ok_cols and canon([tuple(r) for r in srows], scols) == canon(orows, ocols)
        status = "OK" if (ok_cols and ok_count and ok_vals) else "FAIL"
        if status == "FAIL":
            failures += 1
            print(f"{name}: {status} cols={ok_cols} count={ok_count}({len(srows)}/{len(orows)}) vals={ok_vals}")
            if ok_cols and ok_count:
                a = canon([tuple(r) for r in srows], scols)
                b = canon(orows, ocols)
                diffs = [(x, y) for x, y in zip(a, b) if x != y][:3]
                print("  first diffs:", diffs)
        else:
            print(f"{name}: OK ({len(srows)} rows)")
    spark.stop()
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
