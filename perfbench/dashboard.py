"""``dashboard``: the internalized Kibana panels at sf0.1, closed loop,
one client.

These are sub-second queries dominated by fixed per-query cost, about
half of it in construction (``fn``). One pass runs every panel once, in
an order drawn from the seed. The first pass collects each panel and
compares it with its DuckDB twin (``tools/check.py``); warm-up passes
then force through the noop sink until the per-pass time has plateaued
(on 4 cores, a fixed 3 warm passes split processes into two groups
~15% apart, and pass time still falls ~10% between passes 8 and 20).
Timed passes then run until ``--seconds`` have passed; a traced run
also goes on until ``MIN_SAMPLES`` panels have been timed, so that its
p90 (``panel.latency_p90_s``) has 10 samples beyond it. A panel's
latency runs from the ``fn`` call to the force returning; throughput
is panels per median timed pass, so one stalled pass does not move it.
"""

from __future__ import annotations

import random
import statistics
import sys
import time
import traceback

import stats

PANELS = (
    "a1_count_by_group",
    "a2_topk_sources_other",
    "a3_sum_by_group",
    "a4_topk_lang_other",
    "a5_recent_window_counts",
    "a6_counts_over_time",
    "flagship_windowed_analytics",
    "m0_label_distribution",
)
MIN_WARM, MAX_WARM = 8, 16  # warm-up passes after the checked one
MIN_SAMPLES = 104  # 13 passes


def plateaued(passes: list[float]) -> bool:
    """True once the last two warm-up passes each ran no more than 8%
    faster than the pass before them (or the cap is reached)."""
    if len(passes) >= MAX_WARM:
        return True
    return len(passes) >= MIN_WARM and all(passes[i] >= 0.92 * passes[i - 1] for i in (-1, -2))


def check_panels(spark, queries, sf_dir: str, order: list[str]) -> int:
    """Collect every panel once and compare it with its DuckDB twin;
    return how many failed (mismatch or exception)."""
    from check import compare, duck_connection

    con = duck_connection(sf_dir)
    failed = 0
    try:
        for name in order:
            try:
                problems = compare(
                    name, queries[name].fn(spark, sf_dir).toPandas(), con.execute(queries[name].sql).df()
                )
            except Exception:  # noqa: BLE001 - an exception is a failed operation
                problems = [traceback.format_exc()]
            if problems:
                failed += 1
                print(f"dashboard: {name} failed its check:", *problems, sep="\n  ", file=sys.stderr)
    finally:
        con.close()
    return failed


def run(ctx) -> dict:
    from bench import force
    from real_time_big_data_analytics_spark.registry import all_queries
    from real_time_big_data_analytics_spark.session import get_spark

    t = time.monotonic()
    spark = get_spark("perfbench-dashboard")
    get_spark_s = time.monotonic() - t
    ctx.tracer.add("session.get_spark", t, t + get_spark_s, "setup")
    sc = spark.sparkContext
    queries = all_queries()
    rng = random.Random(ctx.seed)

    def order() -> list[str]:
        return rng.sample(PANELS, len(PANELS))

    attempted = len(PANELS)
    t_check = time.monotonic()
    failed = check_panels(spark, queries, ctx.sf_dir, order())
    check_s = time.monotonic() - t_check
    warm: list[float] = []
    while not plateaued(warm):
        t = time.monotonic()
        for name in order():
            force(queries[name].fn(spark, ctx.sf_dir))
            attempted += 1
        warm.append(time.monotonic() - t)
    print(f"dashboard: session {t_check - ctx.t_start:.1f}s, check {check_s:.1f}s; warm pass seconds",
          " ".join(f"{w:.2f}" for w in warm), file=sys.stderr)

    # timed: traced runs trace every even pass and leave odd passes
    # untraced, so one run yields both the layers and the overhead
    start = time.monotonic()
    setup_s = start - ctx.t_start
    latency = {True: [], False: []}
    layers = {name: {"construct": [], "execute": []} for name in PANELS}
    groups: list[tuple[str, str]] = []
    passes = 0
    pass_s: list[float] = []
    while time.monotonic() - start < ctx.seconds or (ctx.tracer.enabled and passes * len(PANELS) < MIN_SAMPLES):
        traced = ctx.tracer.enabled and passes % 2 == 0
        t_pass = time.monotonic()
        for name in order():
            group = f"{name}#{passes}" if traced else None
            sc.setLocalProperty("spark.jobGroup.id", group)
            attempted += 1
            t0 = time.monotonic()
            try:
                df = queries[name].fn(spark, ctx.sf_dir)
                t1 = time.monotonic()
                force(df)
            except Exception:  # noqa: BLE001 - an exception is a failed operation
                failed += 1
                traceback.print_exc()
                continue
            t2 = time.monotonic()
            latency[traced].append(t2 - t0)
            if traced:
                groups.append((name, group))
                layers[name]["construct"].append(t1 - t0)
                layers[name]["execute"].append(t2 - t1)
                parent = ctx.tracer.add("panel", t0, t2, group)
                ctx.tracer.add("construct", t0, t1, group, parent)
                ctx.tracer.add("execute", t1, t2, group, parent)
        pass_s.append(time.monotonic() - t_pass)
        passes += 1
    elapsed = time.monotonic() - start
    sc.setLocalProperty("spark.jobGroup.id", None)
    n = len(latency[True]) + len(latency[False])
    print(f"dashboard: {passes} timed passes, {n} panels in {elapsed:.2f}s; pass seconds",
          " ".join(f"{p:.2f}" for p in pass_s), file=sys.stderr)

    if not ctx.tracer.enabled:
        samples = latency[False]
        metrics = {
            "setup_s": setup_s,
            "latency_p50_s": stats.percentile(samples, 50),
            "throughput_per_s": len(PANELS) / statistics.median(pass_s),
        }
        return {"attempted": attempted, "failed": failed, "metrics": metrics}

    from spans import group_counts

    time.sleep(0.5)  # let the listener bus publish the last jobs to the status store
    metrics = {
        "session.get_spark_s": get_spark_s,
        "panel.latency_p90_s": stats.percentile(latency[True] + latency[False], 90),
        "failed_tasks": 0,
    }
    for name, group in groups:
        counts = group_counts(sc, group)  # the last traced pass wins: counts are exact per plan
        metrics["failed_tasks"] += counts.pop("failed_tasks")
        for k, v in counts.items():
            metrics[f"{k}.{name}"] = v
    for name, d in layers.items():
        metrics[f"construct_s.{name}"] = statistics.median(d["construct"])
        metrics[f"execute_s.{name}"] = statistics.median(d["execute"])
    metrics["trace.overhead_s"] = statistics.median(latency[True]) - statistics.median(latency[False])
    return {"attempted": attempted, "failed": failed, "metrics": metrics}
