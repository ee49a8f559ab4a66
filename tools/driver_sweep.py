"""Replay the WHOLE query surface under EXACT driver conditions:
a vanilla SparkSession (no factory configs) created from a foreign
working directory, calling ``__spark_entry__.queries()`` /
``oracle_sql()`` the way the grading driver does, and comparing every
oracle-backed query against DuckDB with the strict gate.

This is the one harness ``tools/check.py`` cannot substitute for:
check.py runs from the repo root, where executor workers can import
the package, so a Python-UDF closure or Python DataSource that
references a package module not registered for pickling by value
still works there — and then dies on a caller's session, whose cwd is
elsewhere. Running from a temp cwd with a vanilla session proves the
by-value rule over the whole query surface (nothing is shipped to the
workers) and exercises the UTC-repin wrapper for real.

Usage: python tools/driver_sweep.py [--sf SF_DIR] [--cpus N] [names...]
``--cpus`` defaults to ``$SPARK_GRAFT_CPUS``, else ``os.cpu_count()``.
Exit code: 0 = all green, else min(failures, 255) — raw counts would
wrap mod 256 and a 256-failure sweep would read as success (ADVICE r5).
The true count is printed on the last line.
"""

from __future__ import annotations

import argparse
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default="/root/testdata/sf0.01")
    ap.add_argument(
        "--cpus", default=os.environ.get("SPARK_GRAFT_CPUS") or str(os.cpu_count())
    )
    ap.add_argument("names", nargs="*", help="subset of queries() to replay")
    args = ap.parse_args()

    sys.path.insert(0, REPO)
    from real_time_big_data_analytics_spark.streaming.runner import _session_tmpdir

    # Foreign cwd FIRST, before any Spark context exists, so executor
    # python workers inherit a directory the package is NOT importable
    # from — the exact failure surface the driver exposes.
    os.chdir(_session_tmpdir("rtba_driver_sweep_"))

    from pyspark.sql import SparkSession

    spark = (
        SparkSession.builder.master(f"local[{args.cpus}]")
        .config("spark.sql.shuffle.partitions", args.cpus)
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    import __spark_entry__ as e
    from tools.check import compare, duck_connection

    qs, osql = e.queries(), e.oracle_sql()
    todo = args.names or sorted(qs)
    unknown = [n for n in todo if n not in qs]
    if unknown:
        print(f"unknown queries: {unknown}", file=sys.stderr)
        return min(len(unknown), 255)
    con = duck_connection(args.sf)
    fails = 0
    t0 = time.time()
    for name in todo:
        try:
            sdf = qs[name](spark, args.sf).toPandas()
        except Exception as ex:  # noqa: BLE001 - report and continue the sweep
            print(f"FAIL {name}: {ex!r}"[:300])
            fails += 1
            continue
        if name in osql:
            try:
                bad = compare(name, sdf, con.execute(osql[name]).df())
            except Exception as ex:  # noqa: BLE001
                print(f"FAIL(cmp) {name}: {ex!r}"[:300])
                fails += 1
                continue
            if bad:
                print(f"FAIL {name}")
                fails += 1
        elif not len(sdf):
            print(f"FAIL(rows) {name}: empty result for rows-only query")
            fails += 1
    print(f"{fails} failures / {len(todo)} in {time.time() - t0:.0f}s")
    return min(fails, 255)


if __name__ == "__main__":
    raise SystemExit(main())
