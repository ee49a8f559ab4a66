"""Batch table sources.

The reference reads a schema-less line-oriented CSV with positional
``split(",")`` parsing (reference ConsumerESFinal.scala:50-51); here every
source is a schema'd columnar scan: ``spark.read.parquet`` gives the
vectorized reader, predicate pushdown, and column pruning for free.

At 100 TB these tables would be partitioned (e.g. orders/lineitem by
date) and the same ``load_table`` call would partition-prune via
Catalyst; nothing in the query layer needs to change.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

TABLE_NAMES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

# Dimension tables small enough to broadcast at any realistic scale
# (region/nation are fixed-cardinality; supplier/part/customer grow but
# stay << fact tables). Used by operators to hint broadcast joins.
BROADCAST_DIMS = frozenset({"region", "nation", "supplier", "part", "customer"})

# Session confs that change what parquet schema inference returns for
# the same file; part of the schema cache key.
_INFERENCE_CONFS = (
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
)
_SCHEMAS: dict[tuple, StructType] = {}


def parquet_schema(spark: SparkSession, path: str) -> StructType:
    """Schema of the parquet table at ``path``, inferred once per file.

    Inference is a Spark job (the parallel footer merge); for a single
    file its result only changes when the file or an inference conf
    does. The cache key is the file's identity (absolute path, inode,
    mtime_ns, size) plus the session's current values of
    ``_INFERENCE_CONFS``, so a rewritten or replaced file, or a flipped
    conf, is inferred again. A directory (a part-file table) or a
    path that is not a local file is inferred on every call.
    """
    if not os.path.isfile(path):
        return spark.read.parquet(path).schema
    st = os.stat(path)
    key = (
        os.path.abspath(path),
        st.st_ino,
        st.st_mtime_ns,
        st.st_size,
        *(spark.conf.get(k) for k in _INFERENCE_CONFS),
    )
    schema = _SCHEMAS.get(key)
    if schema is None:  # concurrent misses only infer the same schema twice
        schema = _SCHEMAS[key] = spark.read.parquet(path).schema
    return schema


def normalize_timestamps(df: DataFrame) -> DataFrame:
    """Normalize every timestamp-ish column to session-local TIMESTAMP.

    The upstream generator has shipped the ``events.ts`` column in a
    different physical encoding each round:

    - parquet TIMESTAMP(NANOS) → Spark (with
      ``spark.sql.legacy.parquet.nanosAsLong``) surfaces a ``bigint``
      of epoch nanos;
    - naive parquet ``timestamp[us]`` → Spark 4.x surfaces
      ``TIMESTAMP_NTZ``;
    - tz-aware ``timestamp[us, tz=UTC]`` → plain ``TIMESTAMP``.

    All downstream operators (windows, watermarks, as-of joins) want
    one type: session-zone TIMESTAMP.  The session runs in UTC
    (session.py), so the NTZ→LTZ cast preserves wall-clock fields and
    stays value-identical to DuckDB's naive read of the same file.
    Every loader — batch or streaming — must route through here; no
    query reads ``ts`` raw.
    """
    for f in df.schema.fields:
        kind = f.dataType.simpleString()
        if kind == "timestamp_ntz":
            df = df.withColumn(f.name, F.col(f.name).cast("timestamp"))
        elif kind == "date":
            # a parquet DATE encoding of what the queries treat as a
            # timestamp (o_orderdate/l_shipdate style columns):
            # midnight in the UTC session zone, value-identical to
            # DuckDB's naive read.
            df = df.withColumn(f.name, F.col(f.name).cast("timestamp"))
        elif f.name == "ts" and kind == "bigint":
            # epoch nanos from the legacy nanosAsLong path; integer
            # floor-div keeps it lossless at microsecond precision.
            df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
        elif f.name == "ts" and kind == "string":
            # ISO-8601 text encoding; cast parses it in the UTC
            # session zone, matching DuckDB's naive parse.
            df = df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one harness table (SURVEY.md §2.1 S10).

    The read uses the schema from :func:`parquet_schema`, which
    infers it once per file and caches it by file identity (path,
    inode, mtime_ns, size) and the parquet inference confs; so only
    the first load of a file pays the inference job. Each call returns
    a new DataFrame with its own attribute ids, so self-joins of two
    loads stay unambiguous.

    Timestamp columns are normalized to session-zone TIMESTAMP
    regardless of the file's physical encoding — see
    :func:`normalize_timestamps`.
    """
    if name not in TABLE_NAMES:
        raise KeyError(f"unknown table {name!r}; expected one of {TABLE_NAMES}")
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    path = os.path.join(sf_dir, f"{name}.parquet")
    df = spark.read.schema(parquet_schema(spark, path)).parquet(path)
    return normalize_timestamps(df)


def spread(df: DataFrame) -> DataFrame:
    """Guard for CPU-heavy per-row stages (shingling, trigram
    extraction): if the scan produced fewer partitions than the
    session's parallelism, hash-repartition so every core engages.

    This only fires for small single-row-group files (the harness
    corpus), where parquet gives the scan ONE split and all downstream
    HOF work would serialize on one core — measured 2.5 s → 0.4 s on
    the sf0.1 shingle stage. At production scale a table has far more
    row groups than cores, the predicate is false, and no shuffle is
    added.
    """
    spark = df.sparkSession
    target = spark.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < target:
        return df.repartition(target)
    return df


def load_tables(spark: SparkSession, sf_dir: str, *names: str) -> dict[str, DataFrame]:
    names = names or TABLE_NAMES
    return {n: load_table(spark, sf_dir, n) for n in names}


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every table as a temp view for the spark.sql path.

    The DataFrame API and SQL land in the same Catalyst pipeline
    (SURVEY.md §3.4) — the engine supports both entry points.
    """
    for n in TABLE_NAMES:
        load_table(spark, sf_dir, n).createOrReplaceTempView(n)
