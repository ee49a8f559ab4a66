"""Structured Streaming plumbing (SURVEY.md §2.8).

The reference's stream is a 5-second DStream micro-batch loop
(reference ProducerFinal.scala:41, ConsumerESFinal.scala:36) with
checkpointing (S9) and per-batch output ops (T2 ``foreachRDD``). The
rebuild's equivalents:

- source: file-stream replay of ``events.parquet`` (FIXTURES.md §B —
  the Kafka-shaped source stands in for the reference's
  Twitter→Kafka pipe; swapping in ``format("kafka")`` changes only
  this function).
- trigger: ``availableNow`` for harness determinism (finite replay);
  production uses ``processingTime="5 seconds"`` — T1 parity.
- sink: in-memory table for oracle-comparable results; production
  sinks (parquet/kafka/foreachBatch) share the same query graph.
- checkpointing: every run gets a checkpoint dir (S9/T3).

Prefix-consistency of Structured Streaming makes an availableNow
replay's result equal to the batch query over the same data — that
equivalence is exactly what the DuckDB oracle checks (SURVEY.md §5.2).
"""

from __future__ import annotations

import atexit
import contextlib
import os
import shutil
import tempfile
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

# A streaming query's state-store partition count is fixed at first
# start by spark.sql.shuffle.partitions — a deliberate sizing decision
# in any deployment. The harness replay is one bounded batch of small
# state, so it sizes low (fewer store instances to open/commit);
# a production deployment sizes to sustained key cardinality instead.
STREAM_PARTITIONS = os.environ.get("SPARK_GRAFT_STREAM_PARTITIONS", "8")


def _session_tmpdir(prefix: str) -> str:
    """mkdtemp that is removed at interpreter exit — a 298-query sweep
    otherwise leaks one stage dir + one checkpoint dir per streaming
    replay (same hygiene class as the DuckDB spill-dir fix in
    tools/check.py, ADVICE r5)."""
    path = tempfile.mkdtemp(prefix=prefix)
    atexit.register(shutil.rmtree, path, ignore_errors=True)
    return path


@contextlib.contextmanager
def _stream_shuffle_partitions(spark: SparkSession):
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", STREAM_PARTITIONS)
    try:
        yield
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)


def events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unbounded view of the events table via file-stream replay.

    Schema comes from the batch footer via the per-file cache of
    sources.tables.parquet_schema (no inference on streams); all
    timestamp encodings (nanos-long / NTZ / LTZ) are normalized by the
    shared sources.tables.normalize_timestamps helper — watermarks
    reject TIMESTAMP_NTZ, so the cast must happen here, before any
    event-time operator sees the column.

    ``events.parquet`` may be a single file (the driver's testdata) or
    a DIRECTORY of time-ordered part files (the streaming scale smoke,
    tools/stream_scale_smoke.py) — each data file is symlinked
    individually so FileStreamSource discovers them in
    modification-time order. With SPARK_GRAFT_STREAM_MAX_FILES set,
    availableNow replays N files per micro-batch instead of everything
    at once, so the watermark advances BETWEEN batches and bounded
    state (t13's dedup ledger) actually evicts — the production
    micro-batch cadence, observable in recentProgress.
    """
    from ..sources.tables import normalize_timestamps, parquet_schema

    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    path = os.path.join(sf_dir, "events.parquet")
    schema = parquet_schema(spark, path)
    # FileStreamSource requires a directory; stage the (read-only)
    # table file(s) into a temp dir via symlink — zero-copy replay.
    stage = _session_tmpdir("rtba_stream_src_")
    if os.path.isdir(path):
        for fn in sorted(os.listdir(path)):
            if fn.endswith(".parquet"):
                os.symlink(os.path.join(path, fn), os.path.join(stage, fn))
    else:
        os.symlink(path, os.path.join(stage, "events.parquet"))
    reader = spark.readStream.schema(schema)
    max_files = os.environ.get("SPARK_GRAFT_STREAM_MAX_FILES")
    if max_files:
        reader = reader.option("maxFilesPerTrigger", max_files)
    stream = reader.parquet(stage)
    return normalize_timestamps(stream)


def run_foreach_batch(
    streaming_df: DataFrame,
    batch_fn,
    *,
    output_mode: str = "update",
) -> None:
    """T2 — per-batch side-effect sink, the structured ``foreachRDD``
    (reference ConsumerESFinal.scala:86-94). ``batch_fn(df, batch_id)``
    receives each micro-batch as a batch DataFrame; with an idempotent
    writer this is the exactly-once pattern (the batch_id is stable
    across replays)."""
    checkpoint = _session_tmpdir("rtba_ckpt_fb_")
    spark = streaming_df.sparkSession
    with _stream_shuffle_partitions(spark):
        query = (
            streaming_df.writeStream.outputMode(output_mode)
            .foreachBatch(batch_fn)
            .option("checkpointLocation", checkpoint)
            .trigger(availableNow=True)
            .start()
        )
        try:
            query.awaitTermination()
        finally:
            query.stop()


def index_sink(path: str):
    """S7 — the Elasticsearch-sink stand-in: an append-mode parquet
    "index" written per micro-batch from ``foreachBatch`` (the
    reference bulk-indexed each batch to ES, ConsumerESFinal.scala:93;
    ES connectivity is infra, not query semantics — SURVEY.md §2.1).
    """

    def write(df: DataFrame, batch_id: int) -> None:
        df.withColumn("_batch_id", F.lit(batch_id)).write.mode("append").parquet(path)

    return write


# Per-batch StreamingQueryProgress dicts from the most recent
# run_to_table replay — state-store rows/bytes and input rates for the
# streaming scale smoke (tools/stream_scale_smoke.py). Diagnostics
# only; queries never read it.
LAST_RECENT_PROGRESS: list[dict] = []


def run_to_table(spark: SparkSession, streaming_df: DataFrame, *, output_mode: str) -> DataFrame:
    """Run a streaming aggregation to completion (availableNow) into a
    memory sink; return the finite result as a batch DataFrame."""
    name = f"q_{uuid.uuid4().hex[:12]}"
    checkpoint = os.path.join(_session_tmpdir("rtba_ckpt_"), name)
    with _stream_shuffle_partitions(spark):
        query = (
            streaming_df.writeStream.outputMode(output_mode)
            .format("memory")
            .queryName(name)
            .option("checkpointLocation", checkpoint)
            .trigger(availableNow=True)
            .start()
        )
        try:
            query.awaitTermination()
        finally:
            import json as _json

            LAST_RECENT_PROGRESS[:] = [
                _json.loads(p.json) for p in query.recentProgress
            ]
            query.stop()
    return spark.table(name)
