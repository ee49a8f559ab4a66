"""``bot_stream``: the paper's consumer topology, fed by ``gen.py``.

A Structured Streaming query watches a directory of parquet chunks,
joins each event to the per-user feature table (broadcast,
stream-static), scores it with the DecisionTree and appends verdicts
through ``index_sink`` in ``foreachBatch``.

Two phases share one query:

- warm-up (closed loop, untimed): ``WARM`` chunks published one at a
  time, each as soon as the previous one is written, so the per-batch
  code paths are compiled before the clock starts.
- paced (open loop): one 2,000-event chunk a second for ``--seconds``
  seconds, about a third of capacity on 4 cores. Above ~60% utilisation
  queueing amplifies host hiccups into latency noise. Latency runs per
  event from the chunk's scheduled time to the return of the
  ``foreachBatch`` that committed it. Every event of a chunk shares
  that latency, so only the p50 is reported: it needs 20 paced chunks,
  and a p90 would need 100 (``stats.MIN_BEYOND``).
- drain (closed loop): a backlog published at once, consumed
  ``FILES_PER_TRIGGER`` chunks per trigger; events/s is the median
  per-batch rate after the first drain batch.

Outside the timed window every published ``event_id`` must land in
the sink exactly once, with the verdict a batch
``with_verdict(model.transform(...))`` gives for the same events.
"""

from __future__ import annotations

import json
import os
import statistics
import subprocess
import sys
import time
from datetime import datetime

import stats
from gen import CHUNK_SIZE, RATE, chunk_name

WARM = 40  # latency per batch keeps falling for ~60 batches after the query starts
FILES_PER_TRIGGER = 5
LOCAL1_CHUNKS = 3 * FILES_PER_TRIGGER  # drained by the traced run's local[1] baseline

# durationMs keys of StreamingQueryProgress reported per paced batch
DURATIONS = {
    "stream.query_planning_s": "queryPlanning",
    "stream.wal_commit_s": "walCommit",
    "stream.commit_offsets_s": "commitOffsets",
    "stream.latest_offset_s": "latestOffset",
}


def plan(seconds: int) -> tuple[int, int]:
    """Paced chunks and backlog chunks for a run of ``seconds``."""
    return round(seconds * RATE), 3 * seconds


def score(events, model, profile):
    """Join events to the per-user profile (broadcast), score, add verdicts."""
    from pyspark.sql import functions as F
    from real_time_big_data_analytics_spark.operators.ml import with_verdict
    from real_time_big_data_analytics_spark.sources.tables import normalize_timestamps

    scored = with_verdict(model.transform(normalize_timestamps(events).join(F.broadcast(profile), "user_id")))
    return scored.withColumn("prediction", F.col("prediction").cast("int"))


def scored_stream(spark, model, profile, schema, watch: str):
    events = spark.readStream.schema(schema).option("maxFilesPerTrigger", FILES_PER_TRIGGER).parquet(watch)
    return score(events, model, profile).select("event_id", "user_id", "chunk", "prediction", "bolt_user")


def batch_verdicts(spark, model, profile, schema, watch: str):
    """The reference: the same scoring as a batch job over every published chunk."""
    events = spark.read.schema(schema).parquet(watch)
    return score(events, model, profile).select("event_id", "prediction", "bolt_user")


def train(spark, sf_dir: str):
    from real_time_big_data_analytics_spark.operators.ml import train_decision_tree, user_activity_features

    feats = user_activity_features(spark, sf_dir)
    model = train_decision_tree(feats)  # caches feats, so the profile below is reused
    return model, feats.drop("label")


class Sink:
    """``index_sink`` wrapped in ``foreachBatch``; records each call's
    start and return. Traced runs put every even batch in its own job
    group, so traced and untraced batches of one run can be compared."""

    def __init__(self, spark, path: str, traced: bool):
        from real_time_big_data_analytics_spark.streaming.runner import index_sink

        self.sc = spark.sparkContext
        self.path = path
        self.write = index_sink(path)
        self.traced = traced
        self.calls: dict[int, tuple[float, float]] = {}

    def group(self, batch_id: int) -> str | None:
        return f"batch-{batch_id}" if self.traced and batch_id % 2 == 0 else None

    def __call__(self, df, batch_id: int) -> None:
        group = self.group(batch_id)
        start = time.monotonic()
        self.sc.setLocalProperty("spark.jobGroup.id", group)
        self.write(df, batch_id)
        self.calls[batch_id] = (start, time.monotonic())


def run_query(stream, sink: Sink, ckpt: str):
    return stream.writeStream.foreachBatch(sink).option("checkpointLocation", ckpt).start()


def warm_up(query, sink: Sink, stage: str, watch: str, chunks: range) -> None:
    """Publish each chunk as soon as the sink has written the one before
    (closed loop), so warm-up batches run back to back."""
    for c in chunks:
        done = len(sink.calls)
        os.rename(os.path.join(stage, chunk_name(c)), os.path.join(watch, chunk_name(c)))
        deadline = time.monotonic() + 60
        while len(sink.calls) == done:
            if time.monotonic() > deadline:
                raise RuntimeError(f"warm-up chunk {c} was not written: {query.exception()}")
            time.sleep(0.002)


def check(sink_pdf, ref_pdf, published: int) -> int:
    """Failed events: missing, duplicated, unexpected or mis-scored."""
    ids = sink_pdf["event_id"]
    duplicated = len(ids) - ids.nunique()
    expected = set(range(published))
    landed = set(ids)
    missing = len(expected - landed)
    unexpected = len(landed - expected)
    merged = ref_pdf.merge(sink_pdf.drop_duplicates("event_id"), on="event_id", suffixes=("_ref", ""))
    wrong = int(
        ((merged["prediction"] != merged["prediction_ref"]) | (merged["bolt_user"] != merged["bolt_user_ref"])).sum()
    )
    unscored = published - len(ref_pdf)  # an event the batch reference could not score
    return duplicated + missing + unexpected + wrong + max(0, unscored)


def sustained_rate(sizes: dict[int, int], calls: dict[int, tuple[float, float]]) -> float:
    """Events/s of a drain: the median over every batch after the first
    of its events over the time since the previous batch's commit. The
    first batch, which also pays for discovering the backlog, is left
    out; the median keeps one stalled batch from moving the rate."""
    batches = sorted(sizes)
    return statistics.median(
        sizes[b] / (calls[b][1] - calls[prev][1]) for prev, b in zip(batches, batches[1:])
    )


def local1_drain(ctx, spark, watch: str) -> float:
    """Events/s of a ``local[1]`` drain of the last backlog chunks: the
    single-threaded baseline, in a fresh SparkContext on the same JVM."""
    from real_time_big_data_analytics_spark.session import get_spark

    spark.stop()
    spark = get_spark("perfbench-bot-stream-local1", cpus="1")
    model, profile = train(spark, ctx.sf_dir)
    src = sorted(f for f in os.listdir(watch) if f.endswith(".parquet"))[-LOCAL1_CHUNKS:]
    watch1, ckpt = (os.path.join(ctx.root, d) for d in ("watch-local1", "ckpt-local1"))
    os.makedirs(watch1)
    schema = spark.read.parquet(os.path.join(watch, src[0])).schema
    sink = Sink(spark, os.path.join(ctx.root, "sink-local1"), traced=False)
    query = run_query(scored_stream(spark, model, profile, schema, watch1), sink, ckpt)
    try:
        query.processAllAvailable()
        for f in src:
            os.link(os.path.join(watch, f), os.path.join(watch1, f))
        query.processAllAvailable()
    finally:
        query.stop()
    sizes = spark.read.parquet(sink.path).groupBy("_batch_id").count().toPandas()
    return sustained_rate(dict(zip(sizes["_batch_id"], sizes["count"])), sink.calls)


def run(ctx) -> dict:
    from real_time_big_data_analytics_spark.session import get_spark

    paced, backlog = plan(ctx.seconds)
    n_chunks = WARM + paced + backlog
    stage, watch, sink_dir, ckpt = (os.path.join(ctx.root, d) for d in ("stage", "watch", "sink", "ckpt"))
    os.makedirs(watch)
    report_path = os.path.join(ctx.root, "gen.json")
    gen = subprocess.Popen(
        [sys.executable, os.path.join(os.path.dirname(__file__), "gen.py"),
         "--events", os.path.join(ctx.sf_dir, "events.parquet"), "--stage", stage, "--watch", watch,
         "--report", report_path, "--seed", str(ctx.seed), "--warm", str(WARM),
         "--paced", str(paced), "--backlog", str(backlog)],
        stdin=subprocess.PIPE, stdout=subprocess.PIPE, text=True,
    )
    try:
        t = time.monotonic()
        spark = get_spark("perfbench-bot-stream")
        get_spark_s = time.monotonic() - t
        ctx.tracer.add("session.get_spark", t, t + get_spark_s, "setup")
        t = time.monotonic()
        model, profile = train(spark, ctx.sf_dir)
        train_s = time.monotonic() - t
        ctx.tracer.add("ml.train", t, t + train_s, "setup")
        if gen.stdout.readline().strip() != "ready":
            raise RuntimeError("generator failed before publishing")
        schema = spark.read.parquet(os.path.join(stage, chunk_name(0))).schema
        sink = Sink(spark, sink_dir, ctx.tracer.enabled)
        query = run_query(scored_stream(spark, model, profile, schema, watch), sink, ckpt)
        try:
            t_warm = time.monotonic()
            warm_up(query, sink, stage, watch, range(WARM))
            t0 = time.monotonic() + 0.2
            gen.stdin.write(f"{t0!r}\n")
            gen.stdin.close()
            if gen.wait(timeout=paced + 60) != 0:
                raise RuntimeError(f"generator exited with {gen.returncode}")
            query.processAllAvailable()
        finally:
            query.stop()
        progress = [json.loads(p.json) for p in query.recentProgress]
    finally:
        if gen.poll() is None:
            gen.kill()
            gen.wait()
    with open(report_path) as f:
        report = json.load(f)["chunks"]

    # -- correctness and timing attribution, outside the timed window --
    published = n_chunks * CHUNK_SIZE
    sink_pdf = spark.read.parquet(sink_dir).select("event_id", "chunk", "_batch_id", "prediction", "bolt_user").toPandas()
    ref_pdf = batch_verdicts(spark, model, profile, schema, watch).toPandas()
    failed = check(sink_pdf, ref_pdf, published)

    batch_of = sink_pdf.groupby("chunk")["_batch_id"].max().to_dict()
    scheduled = {r["chunk"]: r["scheduled"] for r in report}
    paced_ids = range(WARM, WARM + paced)
    backlog_ids = range(WARM + paced, n_chunks)
    committed = {c: sink.calls[batch_of[c]][1] for c in scheduled if c in batch_of}
    missing_chunks = [c for c in range(WARM, n_chunks) if c not in committed]
    if missing_chunks:
        raise RuntimeError(f"chunks never committed: {missing_chunks}")
    latency = stats.chunk_latencies({c: scheduled[c] for c in paced_ids}, committed)
    drain_sizes = sink_pdf[sink_pdf["chunk"] >= backlog_ids[0]].groupby("_batch_id").size().to_dict()
    drain_batches = sorted(drain_sizes)
    result = {
        "setup_s": scheduled[WARM] - ctx.t_start,
        "latency_p50_s": stats.percentile(list(latency.values()), 50, [CHUNK_SIZE] * len(latency)),
        "throughput_per_s": sustained_rate(drain_sizes, sink.calls),
    }
    late = [r["published"] - r["scheduled"] for r in report]
    print(f"bot_stream: session+train {t_warm - ctx.t_start:.1f}s, warm-up {t0 - t_warm:.1f}s, "
          f"measured {sink.calls[drain_batches[-1]][1] - t0:.1f}s, check {time.monotonic() - sink.calls[drain_batches[-1]][1]:.1f}s",
          file=sys.stderr)
    print(f"bot_stream: generator late max {max(late):.4f}s; paced chunk latencies (s):",
          " ".join(f"{latency[c]:.3f}" for c in paced_ids), f"; {len(drain_batches)} drain batches", file=sys.stderr)
    if not ctx.tracer.enabled:
        return {"attempted": published, "failed": failed, "metrics": result}

    # -- per-layer (traced run) --
    from spans import group_counts

    mono_minus_wall = time.monotonic() - time.time()
    by_batch = {p["batchId"]: p for p in progress if p.get("numInputRows")}
    paced_batches = sorted({batch_of[c] for c in paced_ids})

    def trigger_start(b: int) -> float:
        wall = datetime.fromisoformat(by_batch[b]["timestamp"].replace("Z", "+00:00")).timestamp()
        return wall + mono_minus_wall

    published_at = {r["chunk"]: r["published"] for r in report}
    for r in report:
        c = r["chunk"]
        req = f"chunk-{c}"
        ctx.tracer.add("gen.publish", r["scheduled"], r["published"], req)
        b = batch_of[c]
        parent = ctx.tracer.add("stream.batch", trigger_start(b), sink.calls[b][1], req)
        ctx.tracer.add("sink.index", *sink.calls[b], req, parent)

    def dur(b: int, key: str) -> float:
        return by_batch[b]["durationMs"].get(key, 0) / 1000

    layer = {
        "session.get_spark_s": get_spark_s,
        "ml.train_s": train_s,
        "stream.overhead_s": statistics.median([dur(b, "triggerExecution") - dur(b, "addBatch") for b in paced_batches]),
        **{k: statistics.median([dur(b, key) for b in paced_batches]) for k, key in DURATIONS.items()},
        "stream.discovery_wait_s": statistics.median(
            [trigger_start(batch_of[c]) - published_at[c] for c in paced_ids]
        ),
        "sink.busy_s": statistics.median([sink.calls[b][1] - sink.calls[b][0] for b in drain_batches]),
        "gen.late_max_s": max(late),
    }
    counts = {b: group_counts(spark.sparkContext, g) for b in sink.calls if (g := sink.group(b))}
    layer["sink.jobs_per_batch"] = statistics.median([counts[b]["jobs"] for b in drain_batches if b in counts] or [0])
    layer["failed_tasks"] = sum(c["failed_tasks"] for c in counts.values())
    traced_lat = [lat for c, lat in latency.items() if sink.group(batch_of[c])]
    plain_lat = [lat for c, lat in latency.items() if not sink.group(batch_of[c])]
    layer["trace.overhead_s"] = statistics.median(traced_lat) - statistics.median(plain_lat) if traced_lat and plain_lat else 0.0
    layer["baseline.local1_throughput_eps"] = local1_drain(ctx, spark, watch)
    return {"attempted": published, "failed": failed, "metrics": layer}
