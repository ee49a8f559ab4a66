"""Tests of the benchmark's own logic (no Spark session is started).

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import os
import sys
import time
import types

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [HERE, os.path.dirname(HERE), os.path.join(os.path.dirname(HERE), "tools")]

import bot_stream  # noqa: E402
import dashboard  # noqa: E402
import gen  # noqa: E402
import stats  # noqa: E402


@pytest.fixture
def events_path(tmp_path):
    n = 3 * gen.CHUNK_SIZE
    rng = np.random.default_rng(0)
    table = pa.table({
        "event_id": np.arange(n, dtype=np.int64),
        "ts": pa.array(np.arange(n, dtype=np.int64) * 1_000_000, pa.timestamp("us")),
        "user_id": rng.integers(0, 50, n),
        "event_type": rng.choice(["click", "view", "error"], n),
        "value": rng.random(n),
        "props": ["{}"] * n,
    })
    path = tmp_path / "events.parquet"
    pq.write_table(table, path)
    return str(path)


def test_generator_same_seed_same_chunks(events_path, tmp_path):
    a = gen.write_chunks(events_path, str(tmp_path / "a"), seed=7, n_chunks=4)
    b = gen.write_chunks(events_path, str(tmp_path / "b"), seed=7, n_chunks=4)
    c = gen.write_chunks(events_path, str(tmp_path / "c"), seed=8, n_chunks=4)
    assert a == b
    assert a != c
    assert len(set(a)) == 4


def test_generator_event_ids_unique_across_chunks(events_path):
    chunks = list(gen.make_chunks(pq.read_table(events_path), seed=1, n_chunks=5))
    ids = np.concatenate([t["event_id"].to_numpy() for t in chunks])
    assert len(ids) == len(set(ids)) == 5 * gen.CHUNK_SIZE
    assert [t["chunk"][0].as_py() for t in chunks] == list(range(5))


def test_schedule_never_waits_and_latency_counts_from_schedule(tmp_path):
    stage, watch = tmp_path / "stage", tmp_path / "watch"
    stage.mkdir()
    watch.mkdir()
    for c in range(1, 4):  # chunk 0 is a warm-up chunk, published by the caller
        (stage / gen.chunk_name(c)).write_bytes(b"x")
    # every slot is already in the past: the generator runs late and
    # publishes at once instead of shifting its schedule
    t0 = time.monotonic() - 10
    due = gen.schedule(t0, paced=2, backlog=1)
    step = 1 / gen.RATE
    assert due == [t0, t0 + step, t0 + 2 * step + gen.GAP]
    log = gen.publish(str(stage), str(watch), due, first=1)
    assert [r["chunk"] for r in log] == [1, 2, 3]
    assert sorted(os.listdir(watch)) == [gen.chunk_name(c) for c in range(1, 4)]
    late = [r["published"] - r["scheduled"] for r in log]
    assert min(late) > 4

    scheduled = {r["chunk"]: r["scheduled"] for r in log}
    committed = {r["chunk"]: r["published"] + 0.25 for r in log}
    latency = stats.chunk_latencies(scheduled, committed)
    for r in log:
        assert latency[r["chunk"]] == pytest.approx(r["published"] - r["scheduled"] + 0.25)


def test_percentile_refuses_fewer_than_ten_beyond():
    with pytest.raises(ValueError):
        stats.percentile(list(range(99)), 90)  # rank 90: only 9 beyond
    assert stats.percentile([float(x) for x in range(1, 101)], 90) == 90.0
    assert stats.percentile([float(x) for x in range(1, 21)], 50) == 10.0


def test_percentile_counts_chunks_not_their_repeated_events():
    chunks = [0.3 + 0.01 * c for c in range(11)]
    with pytest.raises(ValueError):  # 11 chunks of 2,000 events: 1 chunk beyond the p90
        stats.percentile(chunks, 90, [gen.CHUNK_SIZE] * 11)
    with pytest.raises(ValueError):  # 5 chunks beyond the p50
        stats.percentile(chunks, 50, [gen.CHUNK_SIZE] * 11)
    chunks = [0.3 + 0.01 * c for c in range(25)]
    assert stats.percentile(chunks, 50, [gen.CHUNK_SIZE] * 25) == chunks[12]
    # weights shift the rank: the one heavy chunk holds the median
    assert stats.percentile(chunks, 50, [1] * 12 + [100] + [1] * 12) == chunks[12]
    assert stats.percentile(chunks[:21], 50, [100] + [1] * 20) == chunks[0]


def test_bot_stream_check_counts_each_bad_event():
    ref = pd.DataFrame({"event_id": [0, 1, 2, 3], "prediction": [0, 1, 0, 1],
                        "bolt_user": ["Not bolt", "Bolt", "Not bolt", "Bolt"]})
    assert bot_stream.check(ref.copy(), ref, published=4) == 0
    sink = pd.DataFrame({"event_id": [0, 1, 1, 2, 9], "prediction": [0, 1, 1, 1, 0],
                         "bolt_user": ["Not bolt", "Bolt", "Bolt", "Bolt", "Not bolt"]})
    # event 1 twice, event 2 mis-scored, event 3 missing, event 9 never published
    assert bot_stream.check(sink, ref, published=4) == 4


def test_dashboard_counts_a_failed_output_check(monkeypatch):
    import check

    class Con:
        def execute(self, sql):
            return types.SimpleNamespace(df=lambda: pd.DataFrame({"n": [int(sql)]}))

        def close(self):
            pass

    def query(n, sql):
        return types.SimpleNamespace(fn=lambda spark, sf: types.SimpleNamespace(
            toPandas=lambda: pd.DataFrame({"n": [n]})), sql=sql)

    def broken(spark, sf):
        raise RuntimeError("boom")

    monkeypatch.setattr(check, "duck_connection", lambda sf_dir: Con())
    queries = {"good": query(1, "1"), "wrong": query(2, "3"),
               "raises": types.SimpleNamespace(fn=broken, sql="1")}
    assert dashboard.check_panels(None, queries, "sf", ["good"]) == 0
    assert dashboard.check_panels(None, queries, "sf", ["good", "wrong", "raises"]) == 2


def test_warmup_stops_on_plateau():
    flat = [6.0, 5.0] + [3.0] * (dashboard.MIN_WARM - 2)
    assert not dashboard.plateaued(flat[:-1])  # too few passes
    assert dashboard.plateaued(flat)
    assert not dashboard.plateaued(flat[:-1] + [2.0])  # still getting faster
    assert dashboard.plateaued([9.0 - i * 0.5 for i in range(dashboard.MAX_WARM)])


def test_drain_rate_is_the_median_batch_after_the_first():
    sizes = {3: 10_000, 4: 10_000, 5: 6_000, 6: 10_000}
    calls = {3: (0.0, 1.0), 4: (1.0, 1.5), 5: (1.5, 2.0), 6: (2.0, 7.0)}
    # per-batch rates after batch 3: 20k, 12k and, for the stalled batch 6, 2k
    assert bot_stream.sustained_rate(sizes, calls) == 12_000.0
