"""Every registered query runs at sf0.001 and returns a stable schema
(the driver's t1-smoke shape, SURVEY.md §5.2)."""

from __future__ import annotations

import pytest

from real_time_big_data_analytics_spark.registry import all_queries

QUERIES = all_queries()

# queries whose result can legitimately be empty at smoke scale
# (q7: the selective two-nation pair has no supplier×customer
# co-occurrence in the ~100-supplier sf0.001 sample; rows appear at
# sf0.01 where the oracle validates it)
MAY_BE_EMPTY = {
    "l2_ngram_jaccard_pairs",
    "l2_simhash_pairs",
    "l3_knn_lsh",
    "q7_volume_shipping",
    "q11_important_part_values",  # needs NATION_1 suppliers, absent at sf0.001
}


@pytest.mark.parametrize("name", sorted(QUERIES))
def test_query_runs(spark, sf_dir, name):
    df = QUERIES[name].fn(spark, sf_dir)
    assert df.schema.fields, f"{name}: empty schema"
    rows = df.count()
    if name not in MAY_BE_EMPTY:
        assert rows > 0, f"{name}: returned no rows at smoke scale"


def test_oracle_keys_subset():
    for name, q in QUERIES.items():
        if q.sql is not None:
            assert name in QUERIES


def test_entry_contract(spark):
    import __spark_entry__ as e

    df = e.entry(spark)
    assert df.count() > 0
    assert set(e.oracle_sql()) <= set(e.queries())


REPEATABLE = (
    # queries with session-external artifacts (staged exports, persisted
    # index, memory sinks, checkpointed iteration) — a stale-cache or
    # name-collision bug shows up as run-2 diverging from run-1
    "s_python_datasource_scan",
    "s_python_datasource_stream",
    "l3_knn_ivf_indexed",
    "l2_dedup_clusters",
    "t7_stream_dedup_counts",
    "cdc_upsert_state",
)


@pytest.mark.parametrize("name", REPEATABLE)
def test_second_run_is_identical(spark, sf_dir, name):
    """Artifact-backed queries must be idempotent within a session:
    the second invocation reuses (or cleanly rebuilds) its staging and
    returns the same rows."""
    fn = QUERIES[name].fn
    first = {tuple(r) for r in fn(spark, sf_dir).collect()}
    second = {tuple(r) for r in fn(spark, sf_dir).collect()}
    assert first == second, name


def test_entry_shim_pins_utc_session_tz(spark, sf_dir):
    """The driver passes its own session; a non-UTC session TZ would
    shift day/window boundaries vs the naive-timestamp oracle. The
    __spark_entry__ wrappers must repin UTC on every call."""
    import __spark_entry__ as e

    spark.conf.set("spark.sql.session.timeZone", "Asia/Kolkata")
    try:
        df = e.queries()["a6_counts_over_time"](spark, sf_dir)
        assert spark.conf.get("spark.sql.session.timeZone") == "UTC"
        df.limit(1).collect()
    finally:
        spark.conf.set("spark.sql.session.timeZone", "UTC")


def test_registry_order_independent_of_import_order():
    """all_queries() once ordered by QUERIES dict insertion order,
    which follows whichever queries_* module Python imported FIRST —
    under pytest a test file importing queries_text ahead of
    queries_batch silently reordered the registry. The canonical
    (module rank, in-module sequence) key must make the order
    identical no matter the import order."""
    import subprocess
    import sys

    probe = (
        "from real_time_big_data_analytics_spark import {pre}registry\n"
        "print('\\n'.join(registry.all_queries()))\n"
    )
    clean = probe.format(pre="")
    polluted = probe.format(
        pre="queries_streaming, queries_text  # worst-case order\n"
        "from real_time_big_data_analytics_spark import "
    )
    outs = []
    for code in (clean, polluted):
        r = subprocess.run(
            [sys.executable, "-c", code], capture_output=True, text=True
        )
        assert r.returncode == 0, r.stderr[-2000:]
        outs.append(r.stdout)
    assert outs[0] == outs[1], "registry order depends on import order"
