"""The upstream generator has shipped ``events.ts`` in a different
physical parquet encoding each round (epoch-nanos via the legacy
nanosAsLong path, then naive timestamp[us] → TIMESTAMP_NTZ).  Source
loading must be environment-proof: every encoding normalizes to
session-zone TIMESTAMP with identical wall-clock values, for batch and
streaming alike, before any event-time operator sees the column.
"""

from __future__ import annotations

import datetime
import os
import shutil

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

ROWS = [
    (1, datetime.datetime(2026, 1, 1, 0, 0, 0), 10, "view", 1.0, "{}"),
    (2, datetime.datetime(2026, 1, 1, 0, 0, 30), 10, "click", 2.0, "{}"),
    (3, datetime.datetime(2026, 1, 1, 0, 45, 0), 10, "purchase", 3.0, "{}"),
    (4, datetime.datetime(2026, 1, 1, 0, 1, 0), 11, "view", 4.0, "{}"),
    # Sentinel 2h later: drives the final watermark past the first
    # hour window so append mode emits it (its own window stays open).
    (5, datetime.datetime(2026, 1, 1, 2, 0, 0), 12, "view", 5.0, "{}"),
]


def _arrays(ts_array):
    return {
        "event_id": pa.array([r[0] for r in ROWS], pa.int64()),
        "ts": ts_array,
        "user_id": pa.array([r[2] for r in ROWS], pa.int64()),
        "event_type": pa.array([r[3] for r in ROWS], pa.string()),
        "value": pa.array([r[4] for r in ROWS], pa.float64()),
        "props": pa.array([r[5] for r in ROWS], pa.string()),
    }


def _write_fixture(tmp_path, encoding: str) -> str:
    naive = [r[1] for r in ROWS]
    if encoding == "ntz":
        ts = pa.array(naive, pa.timestamp("us"))
    elif encoding == "ltz":
        utc = [d.replace(tzinfo=datetime.timezone.utc) for d in naive]
        ts = pa.array(utc, pa.timestamp("us", tz="UTC"))
    elif encoding == "iso_string":
        ts = pa.array([d.isoformat(sep=" ") for d in naive], pa.string())
    elif encoding == "nanos":
        epoch = datetime.datetime(1970, 1, 1)
        ts = pa.array(
            [int((d - epoch).total_seconds() * 1e9) for d in naive],
            pa.timestamp("ns"),
        )
    else:
        raise ValueError(encoding)
    sf_dir = str(tmp_path / encoding)
    os.makedirs(sf_dir)
    pq.write_table(pa.table(_arrays(ts)), os.path.join(sf_dir, "events.parquet"))
    return sf_dir


EXPECTED = sorted(r[1] for r in ROWS)


@pytest.mark.parametrize("encoding", ["ntz", "ltz", "nanos", "iso_string"])
def test_load_table_normalizes_every_encoding(spark, tmp_path, encoding):
    from real_time_big_data_analytics_spark.sources.tables import load_table

    df = load_table(spark, _write_fixture(tmp_path, encoding), "events")
    assert dict(df.dtypes)["ts"] == "timestamp"
    got = sorted(r["ts"] for r in df.select("ts").collect())
    assert got == EXPECTED, f"{encoding}: wall-clock values drifted"


@pytest.mark.parametrize("encoding", ["ntz", "nanos", "iso_string"])
def test_events_stream_normalizes_and_watermarks(spark, tmp_path, encoding):
    """Watermarks reject TIMESTAMP_NTZ — the stream loader must emit a
    watermark-compatible TIMESTAMP for every encoding."""
    from pyspark.sql import functions as F

    from real_time_big_data_analytics_spark.streaming.runner import (
        events_stream,
        run_to_table,
    )

    sf_dir = _write_fixture(tmp_path, encoding)
    stream = events_stream(spark, sf_dir)
    assert dict(stream.dtypes)["ts"] == "timestamp"
    agg = (
        stream.withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "1 hour").alias("w"))
        .agg(F.count("*").alias("n"))
        .select(F.col("w.start").alias("window_start"), "n")
    )
    out = run_to_table(spark, agg, output_mode="append")
    # Final watermark = 02:00 - 10m → the [00:00, 01:00) window (4
    # events) is finalized and emitted; the sentinel's window is open.
    rows = {r["window_start"]: r["n"] for r in out.collect()}
    assert rows == {datetime.datetime(2026, 1, 1, 0, 0, 0): 4}


def test_ts_query_family_runs_on_current_testdata(spark):
    """The six queries that crashed in round 2 when the testdata moved
    to NTZ — pin them green against whatever encoding is on disk now."""
    from real_time_big_data_analytics_spark.registry import all_queries

    sf = "/root/testdata/sf0.001"
    queries = all_queries()
    for name in (
        "wf_sessionize_events",
        "wf_funnel_counts",
        "wf_retention_cohorts",
        "asof_purchase_attribution",
        "t5_stream_windowed_watermarked",
        "t9_stream_stream_interval_join",
    ):
        n = queries[name].fn(spark, sf).count()
        assert n >= 0, name


def test_load_table_normalizes_date_encoded_columns(spark, tmp_path):
    """If the generator ever re-encodes a date-valued column (e.g.
    o_orderdate) as parquet DATE, the loader must surface session-zone
    TIMESTAMP at midnight — value-identical to DuckDB's naive read."""
    sf_dir = str(tmp_path / "date_enc")
    os.makedirs(sf_dir)
    days = [datetime.date(1996, 1, 1), datetime.date(1996, 7, 4)]
    pq.write_table(
        pa.table(
            {
                "o_orderkey": pa.array([1, 2], pa.int64()),
                "o_custkey": pa.array([1, 2], pa.int64()),
                "o_orderstatus": pa.array(["O", "F"], pa.string()),
                "o_totalprice": pa.array([10.0, 20.0], pa.float64()),
                "o_orderdate": pa.array(days, pa.date32()),
                "o_orderpriority": pa.array(["1-URGENT", "5-LOW"], pa.string()),
            }
        ),
        os.path.join(sf_dir, "orders.parquet"),
    )
    from real_time_big_data_analytics_spark.sources.tables import load_table

    df = load_table(spark, sf_dir, "orders")
    assert dict(df.dtypes)["o_orderdate"] == "timestamp"
    got = sorted(r[0] for r in df.select("o_orderdate").collect())
    assert got == [datetime.datetime(1996, 1, 1), datetime.datetime(1996, 7, 4)]
    # date-range predicates still behave (and push down) on the cast
    assert df.filter("o_orderdate >= '1996-06-01'").count() == 1


def test_load_table_picks_up_rewritten_ts_encoding(spark, tmp_path):
    """The schema cache is keyed by file identity: rewriting
    events.parquet in place with another ts encoding (int64 nanos →
    timestamp[us]) is inferred again and still loads as TIMESTAMP."""
    from real_time_big_data_analytics_spark.sources.tables import (
        load_table,
        parquet_schema,
    )

    sf_dir = _write_fixture(tmp_path, "nanos")
    path = os.path.join(sf_dir, "events.parquet")
    for encoding, raw in (("nanos", "bigint"), ("ntz", "timestamp_ntz")):
        if encoding == "ntz":
            shutil.copy(os.path.join(_write_fixture(tmp_path, "ntz"), "events.parquet"), path)
        df = load_table(spark, sf_dir, "events")
        assert dict(df.dtypes)["ts"] == "timestamp", encoding
        assert sorted(r["ts"] for r in df.select("ts").collect()) == EXPECTED, encoding
        assert parquet_schema(spark, path)["ts"].dataType.simpleString() == raw


def test_parquet_schema_reinfers_when_an_inference_conf_changes(spark, tmp_path):
    """The session's parquet inference confs are part of the cache key."""
    from real_time_big_data_analytics_spark.sources.tables import parquet_schema

    path = os.path.join(_write_fixture(tmp_path, "ntz"), "events.parquet")
    key = "spark.sql.parquet.inferTimestampNTZ.enabled"
    prev = spark.conf.get(key)
    try:
        kinds = []
        for value in ("true", "false", "true"):
            spark.conf.set(key, value)
            kinds.append(parquet_schema(spark, path)["ts"].dataType.simpleString())
    finally:
        spark.conf.set(key, prev)
    assert kinds == ["timestamp_ntz", "timestamp", "timestamp_ntz"]
