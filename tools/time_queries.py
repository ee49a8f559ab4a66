"""Time individual queries: each forced through the noop sink, min-of-N
after a shared warm-up of the JVM/session. Each run (construction and
execution) runs under its own Spark job group; ``jobs`` is the number
of jobs the last run submitted. Prints one line per query, then one
JSON line ``{name: {"min": s, "runs": [s, ...], "jobs": n}}``.

Usage:
    python tools/time_queries.py [--sf DIR] [--runs 3] name...
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from bench import SF_DIR, force
from real_time_big_data_analytics_spark.registry import all_queries
from real_time_big_data_analytics_spark.session import get_spark


def main(argv: list[str] | None = None) -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default=SF_DIR)
    ap.add_argument("--runs", type=int, default=3)
    ap.add_argument("names", nargs="+")
    args = ap.parse_args(argv)

    spark = get_spark("rtba-time-queries")
    queries = all_queries()
    # warm the JVM/codegen/streaming machinery once
    warm_sf = "/root/testdata/sf0.001"
    if not os.path.isdir(warm_sf):
        warm_sf = args.sf
    for wq in ("flagship_windowed_analytics", "j1_revenue_by_mktsegment"):
        force(queries[wq].fn(spark, warm_sf))

    sc = spark.sparkContext
    out = {}
    for name in args.names:
        runs = []
        for i in range(args.runs):
            group = f"time_queries {name} run {i} {time.time_ns()}"
            sc.setJobGroup(group, f"{name} run {i}")
            t0 = time.monotonic()
            force(queries[name].fn(spark, args.sf))
            runs.append(round(time.monotonic() - t0, 3))
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setJobDescription(None)
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        jobs = len(sc.statusTracker().getJobIdsForGroup(group))
        out[name] = {"min": min(runs), "runs": runs, "jobs": jobs}
        print(f"{name}: min={min(runs)} runs={runs} jobs={jobs}", flush=True)
    print(json.dumps(out))


if __name__ == "__main__":
    main()
