"""Bucketed tables: the co-located fact-fact join (no shuffle).

At 100 TB the lineitem ⋈ orders join is the dominant shuffle; writing
both tables bucketed (+sorted) on the order key lets the sort-merge
join read matching buckets directly — zero Exchange in the plan. The
harness proves the mechanism at small scale; the layout decision is
identical at any scale.
"""

from __future__ import annotations

import os
import uuid

import pytest
from pyspark.sql import functions as F

from real_time_big_data_analytics_spark.sources.files import write_bucketed_table

N_BUCKETS = 8


@pytest.fixture(scope="module")
def bucketed(spark, sf_dir, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("buckets"))
    suffix = uuid.uuid4().hex[:8]
    names = {}
    for name, table, key in [
        ("orders", "orders", "o_orderkey"),
        ("lineitem", "lineitem", "l_orderkey"),
    ]:
        tbl = f"b_{name}_{suffix}"
        df = spark.read.parquet(f"{sf_dir}/{table}.parquet")
        write_bucketed_table(
            df, tbl, os.path.join(d, tbl), bucket_by=key, n_buckets=N_BUCKETS
        )
        names[name] = tbl
    yield names
    for tbl in names.values():
        spark.sql(f"DROP TABLE IF EXISTS {tbl}")


def test_bucketed_join_has_no_exchange(spark, bucketed):
    li = spark.table(bucketed["lineitem"]).hint("MERGE")
    orders = spark.table(bucketed["orders"]).hint("MERGE")
    joined = li.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
    plan = joined._jdf.queryExecution().executedPlan().toString()
    assert "SortMergeJoin" in plan, plan
    assert "Exchange" not in plan, plan  # buckets align: no shuffle


def test_bucketed_join_matches_unbucketed(spark, sf_dir, bucketed):
    li = spark.table(bucketed["lineitem"])
    orders = spark.table(bucketed["orders"])
    got = (
        li.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy("o_orderpriority")
        .agg(F.count("*").alias("n"))
    )
    plain = (
        spark.read.parquet(f"{sf_dir}/lineitem.parquet")
        .join(
            spark.read.parquet(f"{sf_dir}/orders.parquet"),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .groupBy("o_orderpriority")
        .agg(F.count("*").alias("n"))
    )
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, plain.collect()))


def test_zorder_layout_bounds_both_dimensions(spark, sf_dir, tmp_path):
    """Z-ordered files must cover tight ranges in BOTH clustered
    columns, where a linear sort bounds only its leading column —
    measured as the summed per-file min/max span of the SECOND
    dimension, which parquet zone-map skipping depends on."""
    from pyspark.sql import functions as F

    from real_time_big_data_analytics_spark.sources.files import (
        morton_code,
        write_sorted_parquet,
        write_zordered_parquet,
    )
    from real_time_big_data_analytics_spark.sources.tables import load_table

    events = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", F.dayofmonth("ts").alias("day"), "value"
    )
    lin, zo = str(tmp_path / "linear"), str(tmp_path / "zorder")
    write_sorted_parquet(events, lin, ["day"], num_partitions=8)
    write_zordered_parquet(events, zo, "user_id", "day", n_files=8)

    def user_span_sum(path):
        total = 0
        df = spark.read.parquet(path)
        for f in df.inputFiles():
            s = spark.read.parquet(f).agg(
                F.min("user_id"), F.max("user_id")
            ).collect()[0]
            total += s[1] - s[0]
        return total

    lin_span, zo_span = user_span_sum(lin), user_span_sum(zo)
    # the day-sorted layout leaves user_id unconstrained per file;
    # z-order must cut the summed span substantially
    assert zo_span < lin_span * 0.7, (zo_span, lin_span)

    # morton code sanity: interleave is monotone in each dim at fixed other
    df = spark.createDataFrame([(1, 1), (2, 1), (1, 2)], "a long, b long")
    codes = {(r.a, r.b): r.z for r in df.select("a", "b", morton_code("a", "b").alias("z")).collect()}
    assert codes[(2, 1)] > codes[(1, 1)]
    assert codes[(1, 2)] > codes[(1, 1)]
