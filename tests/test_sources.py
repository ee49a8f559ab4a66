"""File sources: schema'd CSV/JSON round trips (SURVEY.md §2.1 S4/S5)."""

from __future__ import annotations

import tempfile

from real_time_big_data_analytics_spark.sources import files

SCHEMA = "id bigint, name string, score double"
ROWS = [(1, "plain", 1.5), (2, "with, comma", -2.0), (3, None, 0.25)]


def _roundtrip(spark, write, read):
    df = spark.createDataFrame(ROWS, SCHEMA)
    with tempfile.TemporaryDirectory(prefix="rtba_files_") as d:
        write(df, d)
        back = read(spark, d, SCHEMA)
        assert sorted(back.collect()) == sorted(df.collect())


def test_csv_roundtrip_quotes_commas(spark):
    """CSV writer quotes the embedded comma — the field survives,
    unlike the reference's unquoted serializer (SURVEY.md §1.4.1)."""
    _roundtrip(spark, files.write_csv, files.read_csv)


def test_jsonl_roundtrip(spark):
    _roundtrip(spark, files.write_jsonl, files.read_jsonl)


def test_partitioned_write_prunes_directories(spark, sf_dir):
    """Partition layout exists on disk and a partition-key filter
    prunes to a single directory's rows (static partition pruning)."""
    import glob

    from pyspark.sql import functions as F

    from real_time_big_data_analytics_spark.sources.tables import load_table

    events = load_table(spark, sf_dir, "events")
    with tempfile.TemporaryDirectory(prefix="rtba_part_") as d:
        path = f"{d}/events_by_type"
        files.write_partitioned_parquet(events, path, partition_by=["event_type"])
        dirs = sorted(
            p.rsplit("=", 1)[1] for p in glob.glob(f"{path}/event_type=*")
        )
        assert len(dirs) >= 2
        back = spark.read.parquet(path)
        one = back.filter(F.col("event_type") == dirs[0])
        expected = events.filter(F.col("event_type") == dirs[0]).count()
        assert one.count() == expected
        # the filter must reach the scan as a partition filter
        plan = one._jdf.queryExecution().executedPlan().toString()
        assert "PartitionFilters: [isnotnull(event_type" in plan, plan


def test_sorted_parquet_layout_gives_tight_zone_maps(spark, sf_dir, tmp_path):
    """write_sorted_parquet must produce files with disjoint value
    ranges and internally sorted row groups, so min/max footer stats
    can prune row groups for selective predicates on the sort key."""
    import pyarrow.parquet as pq
    import glob
    import os

    from real_time_big_data_analytics_spark.sources.files import write_sorted_parquet

    events = spark.read.parquet(f"{sf_dir}/events.parquet").select("event_id", "value")
    out = str(tmp_path / "events_by_id")
    write_sorted_parquet(events, out, ["event_id"], num_partitions=8)

    file_ranges = []
    for f in glob.glob(os.path.join(out, "*.parquet")):
        md = pq.ParquetFile(f).metadata
        idx = {md.schema.column(i).name: i for i in range(md.schema.names.__len__())}["event_id"]
        gmins, gmaxs = [], []
        for g in range(md.num_row_groups):
            st = md.row_group(g).column(idx).statistics
            gmins.append(st.min); gmaxs.append(st.max)
        # row groups inside a sorted file are contiguous: each group
        # starts at or after the previous one's max
        for prev_max, cur_min in zip(gmaxs, gmins[1:]):
            assert cur_min >= prev_max
        file_ranges.append((min(gmins), max(gmaxs)))
    assert len(file_ranges) > 1, "expected multiple range partitions"
    file_ranges.sort()
    # files cover disjoint ranges (range partitioning)
    for (_, amax), (bmin, _) in zip(file_ranges, file_ranges[1:]):
        assert bmin >= amax
    # the layout round-trips losslessly
    assert spark.read.parquet(out).count() == events.count()


def test_spread_parallelizes_small_scans_only(spark, sf_dir):
    """spread() must repartition a single-row-group scan up to session
    parallelism, and leave already-parallel data untouched."""
    from real_time_big_data_analytics_spark.sources.tables import load_table, spread

    docs = load_table(spark, sf_dir, "documents")
    assert docs.rdd.getNumPartitions() < spark.sparkContext.defaultParallelism
    assert (
        spread(docs).rdd.getNumPartitions()
        == spark.sparkContext.defaultParallelism
    )
    wide = docs.repartition(spark.sparkContext.defaultParallelism + 4)
    assert spread(wide) is wide  # no added shuffle


def test_compact_parquet_reduces_file_count(spark, sf_dir, tmp_path):
    """Fragmented directory (64 tiny files) compacts to the byte-sized
    target with identical contents."""
    import os

    from real_time_big_data_analytics_spark.sources.files import compact_parquet

    src = str(tmp_path / "fragmented")
    dst = str(tmp_path / "compacted")
    events = spark.read.parquet(os.path.join(sf_dir, "events.parquet"))
    events.repartition(64).write.parquet(src)
    n_src = sum(f.endswith(".parquet") for f in os.listdir(src))
    n_out = compact_parquet(spark, src, dst, target_mb=128)
    n_dst = sum(f.endswith(".parquet") for f in os.listdir(dst))
    assert n_src == 64
    assert n_dst == n_out < 64
    before = sorted(map(tuple, events.collect()))
    after = sorted(map(tuple, spark.read.parquet(dst).collect()))
    assert before == after


def test_orc_roundtrip_preserves_schema_and_values(spark, sf_dir, tmp_path):
    """S4/S5 ORC — write the customer dim to ORC, read it back, and
    check set-equality with the parquet original, plus pushdown-ready
    typing (no string-ification through the format hop)."""
    from real_time_big_data_analytics_spark.sources.files import read_orc, write_orc
    from real_time_big_data_analytics_spark.sources.tables import load_table

    orig = load_table(spark, sf_dir, "customer")
    path = str(tmp_path / "customer_orc")
    write_orc(orig, path)
    back = read_orc(spark, path)
    assert back.schema == orig.schema
    assert back.count() == orig.count()
    assert back.exceptAll(orig).count() == 0
    assert orig.exceptAll(back).count() == 0
    # predicate reaches the ORC scan (PushedFilters in the plan)
    plan = back.filter("c_acctbal > 0")._jdf.queryExecution().executedPlan().toString()
    assert "c_acctbal" in plan


def test_python_datasource_partitions_per_file_and_matches_native(spark, sf_dir, tmp_path):
    """S4 extension — the custom Arrow JSONL connector must fan out one
    task per shard file and reproduce the native scan's rows."""
    from real_time_big_data_analytics_spark.sources.pyds import (
        read_documents_via_python_datasource,
    )
    from real_time_big_data_analytics_spark.sources.tables import load_table

    native = load_table(spark, sf_dir, "documents").select(
        "doc_id", "lang", "n_chars"
    )
    out = str(tmp_path / "docs_jsonl")
    native.coalesce(3).write.mode("overwrite").json(out)
    back = read_documents_via_python_datasource(spark, out)
    import os

    n_files = len([f for f in os.listdir(out) if f.endswith(".json")])
    assert back.rdd.getNumPartitions() == n_files
    assert back.exceptAll(native).count() == 0
    assert native.exceptAll(back).count() == 0


def test_orc_roundtrip_pushes_filter_to_scan(spark, sf_dir):
    from real_time_big_data_analytics_spark.queries_text import (
        _stage_docs_orc,
    )
    from pyspark.sql import functions as F

    df = (
        spark.read.orc(_stage_docs_orc(spark, sf_dir))
        .filter(F.col("n_chars") >= 200)
        .select("lang", "n_chars")
    )
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters" in plan and "n_chars" in plan, plan
    # roundtrip preserves every row
    n_orc = spark.read.orc(_stage_docs_orc(spark, sf_dir)).count()
    n_pq = spark.read.parquet(f"{sf_dir}/documents.parquet").count()
    assert n_orc == n_pq


def test_python_datasource_writer_commit_protocol(spark, sf_dir):
    """The custom sink must publish atomically: after save() the dir
    holds only part-*.jsonl plus a _SUCCESS marker recording the row
    total, no _tmp_ leftovers; overwrite replaces prior output."""
    import os
    import tempfile

    from pyspark.sql import functions as F

    from real_time_big_data_analytics_spark.sources.pyds import (
        read_documents_via_python_datasource,
        write_documents_via_python_datasource,
    )
    from real_time_big_data_analytics_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "lang", "n_chars"
    )
    n = docs.count()
    with tempfile.TemporaryDirectory(prefix="rtba_pydsw_t_") as d:
        write_documents_via_python_datasource(spark, docs.repartition(3), d)
        names = sorted(os.listdir(d))
        assert not any(f.startswith("_tmp_") for f in names)
        parts = [f for f in names if f.startswith("part-") and f.endswith(".jsonl")]
        assert parts and "_SUCCESS" in names
        with open(os.path.join(d, "_SUCCESS")) as f:
            assert int(f.read()) == n
        # overwrite: fewer partitions must not leave stale part files
        write_documents_via_python_datasource(spark, docs.repartition(1), d)
        parts2 = [
            f for f in os.listdir(d) if f.startswith("part-") and f.endswith(".jsonl")
        ]
        assert len(parts2) == 1
        back = read_documents_via_python_datasource(spark, d)
        assert back.count() == n
        assert back.agg(F.sum("n_chars")).first()[0] == docs.agg(F.sum("n_chars")).first()[0]


def test_schema_evolution_merge_nulls_and_schema(spark, sf_dir):
    """The merged scan must carry the evolved column, null exactly on
    pre-evolution rows, and match per-batch direct reads."""
    from pyspark.sql import functions as F

    from real_time_big_data_analytics_spark.queries_text import (
        _stage_docs_evolving,
    )

    base = _stage_docs_evolving(spark, sf_dir)
    merged = spark.read.option("mergeSchema", "true").parquet(
        f"{base}/b1", f"{base}/b2"
    )
    assert "quality_tier" in merged.columns
    b1 = spark.read.parquet(f"{base}/b1")
    assert "quality_tier" not in b1.columns
    n1 = b1.count()
    assert merged.filter(F.col("quality_tier").isNull()).count() == n1
    assert (
        merged.filter(F.col("doc_id") % 2 == 1)
        .filter(F.col("quality_tier") != F.col("n_chars") % 3)
        .count()
        == 0
    )


def test_corrupt_record_capture_quarantines_exact_lines(spark, sf_dir):
    """PERMISSIVE ingestion must quarantine exactly the injected
    lines (doc_id % CORRUPT_EVERY == 0), keep every other row intact,
    and never silently drop a line."""
    from pyspark.sql import functions as F

    from real_time_big_data_analytics_spark.queries_text import (
        CORRUPT_EVERY,
        _stage_docs_jsonl_corrupt,
    )
    from real_time_big_data_analytics_spark.sources.tables import load_table

    path = _stage_docs_jsonl_corrupt(spark, sf_dir)
    df = spark.read.schema(
        "doc_id BIGINT, lang STRING, n_chars BIGINT, _corrupt_record STRING"
    ).option("mode", "PERMISSIVE").option(
        "columnNameOfCorruptRecord", "_corrupt_record"
    ).json(path)
    # Spark disallows querying ONLY the corrupt column from a raw
    # scan (UNSUPPORTED_FEATURE.QUERY_ONLY_CORRUPT_RECORD_COLUMN);
    # cache first, exactly like the operator does
    df = df.cache()
    docs = load_table(spark, sf_dir, "documents")
    n_total = docs.count()
    n_bad_expected = docs.filter(F.col("doc_id") % CORRUPT_EVERY == 0).count()
    assert df.count() == n_total  # nothing dropped
    bad = df.filter(F.col("_corrupt_record").isNotNull())
    assert bad.count() == n_bad_expected
    good_ids = {
        r.doc_id for r in df.filter(F.col("_corrupt_record").isNull()).collect()
    }
    expect_good = {
        r.doc_id
        for r in docs.filter(F.col("doc_id") % CORRUPT_EVERY != 0).collect()
    }
    assert good_ids == expect_good


def test_kafka_wire_datasource_roundtrips_events_exactly(spark, sf_dir):
    """The kafka_wire batch DataSource (VERDICT r6 ask #2): every
    events row survives distributed produce → broker log → per-
    partition fetch tasks → RecordBatch decode, byte-exact at the
    payload level, with one scan partition per Kafka partition and
    offsets dense per partition."""
    import json

    from pyspark.sql import functions as F

    from real_time_big_data_analytics_spark.sources.pyds import (
        WIRE_NPARTS,
        read_events_via_kafka_wire,
    )
    from real_time_big_data_analytics_spark.sources.tables import load_table

    raw = read_events_via_kafka_wire(spark, sf_dir).cache()
    events = load_table(spark, sf_dir, "events")
    n = events.count()
    assert raw.count() == n  # nothing lost, nothing duplicated
    # partition assignment honored: kpart == user_id % 8 for every row
    parsed = raw.withColumn(
        "uid", F.get_json_object("value", "$.user_id").cast("bigint")
    )
    assert parsed.filter(F.col("kpart") != F.col("uid") % WIRE_NPARTS).count() == 0
    # key column carries the entity key (never a constant)
    assert parsed.filter(F.col("key") != F.col("uid").cast("string")).count() == 0
    # offsets are dense 0..count-1 within each kafka partition
    per = (
        raw.groupBy("kpart")
        .agg(
            F.count("*").alias("cnt"),
            F.min("koffset").alias("lo"),
            F.max("koffset").alias("hi"),
            F.countDistinct("koffset").alias("nd"),
        )
        .collect()
    )
    assert len(per) == WIRE_NPARTS
    for r in per:
        assert (r.lo, r.hi, r.nd) == (0, r.cnt - 1, r.cnt)
    # payload values byte-exact: spot-decode one row per partition
    sample = {r.kpart: r.value for r in raw.collect()}
    for v in sample.values():
        rec = json.loads(v)
        assert set(rec) >= {"event_id", "user_id", "event_type"}


def test_kafka_wire_stream_offsets_advance_per_partition(spark, sf_dir):
    """The streaming twin drains the topic in WIRE_NPARTS micro-
    batches (offset = consumer position) and the drained rows equal
    the batch scan exactly."""
    import tempfile
    import uuid

    from real_time_big_data_analytics_spark.sources.pyds import (
        read_events_via_kafka_wire,
        stream_events_via_kafka_wire,
    )
    from real_time_big_data_analytics_spark.streaming.runner import (
        _stream_shuffle_partitions,
    )

    stream = stream_events_via_kafka_wire(spark, sf_dir)
    name = f"kwire_t_{uuid.uuid4().hex[:8]}"
    with _stream_shuffle_partitions(spark):
        q = (
            stream.writeStream.outputMode("append")
            .format("memory")
            .queryName(name)
            .option(
                "checkpointLocation", tempfile.mkdtemp(prefix="rtba_ckpt_kwt_")
            )
            .start()
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()
    drained = {
        (r.kpart, r.koffset, r.key, r.value)
        for r in spark.table(name).collect()
    }
    batch = {
        (r.kpart, r.koffset, r.key, r.value)
        for r in read_events_via_kafka_wire(spark, sf_dir).collect()
    }
    assert drained == batch and len(drained) > 0


def _job_ids(spark, group, action):
    """Spark jobs that ``action()`` submits, counted by job group."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        action()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return list(sc.statusTracker().getJobIdsForGroup(group))


def test_load_table_infers_schema_once_per_file(spark, sf_dir, tmp_path):
    """Only the first load of a file runs the schema-inference job; a
    second load of the unchanged file submits no Spark job at all."""
    import shutil
    import uuid

    from real_time_big_data_analytics_spark.sources.tables import load_table

    shutil.copy(f"{sf_dir}/events.parquet", tmp_path)
    tag = uuid.uuid4().hex[:8]
    first = _job_ids(spark, f"first_{tag}", lambda: load_table(spark, str(tmp_path), "events"))
    assert len(first) == 1  # the counter sees the inference job
    second = _job_ids(spark, f"second_{tag}", lambda: load_table(spark, str(tmp_path), "events"))
    assert second == []


def test_load_table_self_join_resolves(spark, sf_dir):
    """Two loads of one table are separate DataFrames with their own
    attribute ids, so a self-join condition stays unambiguous."""
    from pyspark.sql import functions as F

    from real_time_big_data_analytics_spark.sources.tables import load_table

    a = load_table(spark, sf_dir, "events")
    b = load_table(spark, sf_dir, "events")
    joined = a.join(b, a["user_id"] == b["user_id"])
    per_user = a.groupBy("user_id").count()
    expected = per_user.select(F.sum(F.col("count") * F.col("count"))).first()[0]
    assert joined.count() == expected


def test_parquet_schema_reinfers_directories(spark, tmp_path):
    """A part-file directory has no single file identity to key on: its
    schema is inferred on every call, so replaced parts are picked up."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from real_time_big_data_analytics_spark.sources.tables import parquet_schema

    d = tmp_path / "parts"
    d.mkdir()
    pq.write_table(pa.table({"a": pa.array([1], pa.int64())}), d / "part-0.parquet")
    assert parquet_schema(spark, str(d)).simpleString() == "struct<a:bigint>"
    (d / "part-0.parquet").unlink()
    pq.write_table(pa.table({"b": pa.array(["x"], pa.string())}), d / "part-1.parquet")
    assert parquet_schema(spark, str(d)).simpleString() == "struct<b:string>"
