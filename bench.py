"""Shared by the benchmark (``perfbench/``) and the per-query timers
(``tools/time_queries.py``, ``tools/bench_sf1.py``): where the sf0.1
tables live, and how a query is forced end to end.

The benchmark itself is ``python3 perfbench/run.py --workload …``.
"""

from __future__ import annotations

import os

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def force(df) -> None:
    """Run the full computation through the noop sink (no driver collect)."""
    df.write.format("noop").mode("overwrite").save()
