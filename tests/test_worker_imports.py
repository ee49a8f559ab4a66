"""Code that runs in Spark's Python workers reaches them by value.

Executor workers and the streaming-source runner cannot import this
package when the driver runs from another cwd without the repo on
``PYTHONPATH``: that is how a caller's own session runs it. Every
module whose code runs there registers itself with cloudpickle at
import, so its functions and classes travel inside the task payload.
These tests pin that rule twice: each kernel module's pure call
unpickled in a process where the package is not importable, and the
registered queries that run worker code on a vanilla session from a
foreign cwd.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from real_time_big_data_analytics_spark.sources import (
    avro_ocf,
    delta_dv,
    es_wire,
    kafka_wire,
    parquet_footer,
)

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

_RECS = [(b"k%d" % i, b"value-%d " % i * 20) for i in range(50)]
_AVRO_SCHEMA = {
    "type": "record",
    "name": "R",
    "fields": [{"name": "a", "type": "long"}, {"name": "b", "type": "string"}],
}
_DV = delta_dv.dv_inline_descriptor([0, 3, 4096, 70000])


def _pure_calls() -> dict:
    """One small pure call per module, each a nested def or lambda so
    cloudpickle ships the call itself by value and the module it uses
    by whatever rule that module declares."""

    def kafka_roundtrip(codec):
        return lambda _d: kafka_wire.decode_record_batch(
            kafka_wire.encode_record_batch(_RECS, codec=codec)
        )

    def avro_roundtrip(d):
        path = os.path.join(d, "t.avro")
        rows = [{"a": i, "b": "x" * i} for i in range(100)]
        n = avro_ocf.write_ocf(path, _AVRO_SCHEMA, rows, codec="snappy")
        return n, list(avro_ocf.read_ocf(path))

    def footer(d):
        path = os.path.join(d, "t.parquet")
        pq.write_table(pa.table({"a": list(range(10)), "b": ["s"] * 10}), path)
        return parquet_footer.read_footer(path)

    return {
        "kafka_wire_gzip": kafka_roundtrip(kafka_wire.CODEC_GZIP),
        "kafka_wire_snappy": kafka_roundtrip(kafka_wire.CODEC_SNAPPY),
        "avro_ocf": avro_roundtrip,
        "parquet_footer": footer,
        "delta_dv": lambda _d: delta_dv.dv_row_indexes(_DV),
        "es_wire": lambda _d: [es_wire.es_shard(str(i), 8) for i in range(64)],
    }


_PURE_CALLS = _pure_calls()


@pytest.mark.parametrize("case", sorted(_PURE_CALLS))
def test_module_unpickles_where_package_is_not_importable(case, tmp_path):
    """The call pickles in this process and runs in a fresh one that
    cannot import the package: by-reference pickling, or a run-time
    package import inside the module, fails there."""
    from pyspark import cloudpickle

    fn = _PURE_CALLS[case]
    (tmp_path / "fn.pkl").write_bytes(cloudpickle.dumps(fn))
    code = (
        "import importlib.util, os, pickle\n"
        "assert importlib.util.find_spec('real_time_big_data_analytics_spark') is None\n"
        "fn = pickle.load(open('fn.pkl', 'rb'))\n"
        "print(repr(fn(os.getcwd())))\n"
    )
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    r = subprocess.run(
        [sys.executable, "-c", code],
        capture_output=True,
        text=True,
        cwd=tmp_path,
        env=env,
    )
    assert r.returncode == 0, r.stderr[-2000:]
    assert r.stdout.strip() == repr(fn(str(tmp_path)))


# Every registered query whose Spark plan runs this package's code in a
# Python worker or in the streaming-source runner.
_WORKER_QUERIES = (
    "s_delta_dv_sidecar",
    "s_delta_deletion_vectors",
    "s_python_datasource_scan",
    "s_python_datasource_write_roundtrip",
    "s_kafka_wire_roundtrip",
    "s_kafka_wire_stream",
    "s_avro_ocf_stream",
    "s_avro_schema_evolution_read",
    "s_es_wire_roundtrip",
    "s_es_wire_sink_datasource",
    "dq_parquet_footer_stats",
)


def test_worker_queries_on_vanilla_session_from_foreign_cwd(tmp_path, sf_dir):
    """A caller's own ``local[2]`` session, started from a cwd outside
    the repo with no ``PYTHONPATH``: only the driver process has the
    package on ``sys.path``, exactly as when a caller imports it."""
    tmp = tmp_path / "tmp"
    tmp.mkdir()
    code = (
        "import json, sys\n"
        f"sys.path.insert(0, {REPO!r})\n"
        "from pyspark.sql import SparkSession\n"
        "spark = SparkSession.builder.master('local[2]').getOrCreate()\n"
        "spark.sparkContext.setLogLevel('ERROR')\n"
        "from real_time_big_data_analytics_spark.registry import all_queries\n"
        "qs = all_queries()\n"
        "out = {}\n"
        f"for name in {list(_WORKER_QUERIES)!r}:\n"
        "    try:\n"
        f"        out[name] = len(qs[name].fn(spark, {sf_dir!r}).collect())\n"
        "    except Exception as e:\n"
        "        out[name] = type(e).__name__ + ': ' + str(e)[-400:]\n"
        "print(json.dumps(out))\n"
    )
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env["TMPDIR"] = str(tmp)
    r = subprocess.run(
        [sys.executable, "-c", code],
        capture_output=True,
        text=True,
        cwd=tmp_path,
        env=env,
        timeout=1200,
    )
    assert r.returncode == 0, r.stderr[-3000:]
    rows = json.loads(r.stdout.strip().splitlines()[-1])
    bad = {n: v for n, v in rows.items() if not (isinstance(v, int) and v > 0)}
    assert not bad, bad
