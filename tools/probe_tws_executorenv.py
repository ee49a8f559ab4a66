"""Probe (VERDICT r9 ask #4): can `spark.executorEnv.PYTHONPATH`, set
on the session builder BEFORE the first job, carry the purepb shim to
the transformWithState state-server workers — i.e. is there an
IN-SESSION activation route that does not require the driver process
itself to be launched with the shim on PYTHONPATH?

Earlier probes covered late os.environ mutation and addPyFile after
session creation — both crash the state-server worker. This one must run from a CLEAN environment
(no PYTHONPATH): `env -u PYTHONPATH python tools/probe_tws_executorenv.py`.
Prints one PROBE line; exit 0 either way (the OUTCOME is the datum).
"""

from __future__ import annotations

import os
import sys
import traceback

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from real_time_big_data_analytics_spark.compat import PUREPB_DIR  # noqa: E402


def main() -> None:
    try:
        import google.protobuf  # noqa: F401

        print("PROBE tws_executorenv: VOID (protobuf importable at start)")
        return
    except ImportError:
        pass
    from pyspark.sql import SparkSession

    spark = (
        SparkSession.builder.master("local[4]")
        .config("spark.sql.shuffle.partitions", "4")
        .config("spark.ui.enabled", "false")
        .config("spark.executorEnv.PYTHONPATH", PUREPB_DIR)
        .config(
            "spark.sql.streaming.stateStore.providerClass",
            "org.apache.spark.sql.execution.streaming.state."
            "RocksDBStateStoreProvider",
        )
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    # driver-side import for query CONSTRUCTION only (sys.path, not
    # os.environ — the JVM env stays clean; the question is whether
    # executorEnv alone reaches the state-server worker)
    sys.path.insert(0, PUREPB_DIR)
    try:
        from real_time_big_data_analytics_spark.streaming.queries import (
            stream_transform_with_state,
        )

        df = stream_transform_with_state(spark, "/root/testdata/sf0.001")
        n = df.count()
        print(f"PROBE tws_executorenv: WORKS (rows={n})")
    except Exception as e:
        root = traceback.format_exc().strip().splitlines()[-1][:200]
        print(f"PROBE tws_executorenv: FAILS ({type(e).__name__}: {root})")
    finally:
        spark.stop()


if __name__ == "__main__":
    main()
