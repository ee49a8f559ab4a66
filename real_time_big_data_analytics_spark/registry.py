"""The harness contract: named queries + their DuckDB oracle twins.

Every operator from SURVEY.md §2 registers here as a ``Query``:
  fn  — (spark, sf_dir) -> DataFrame (the Spark-native implementation)
  sql — ANSI-SQL twin runnable by DuckDB over the same parquet tables
        (views: region nation customer supplier part orders lineitem
        events documents embeddings). ``None`` → rows-only check for
        genuinely non-SQL-expressible ops (LSH, ML scoring, custom
        stateful streaming).

Column names are aligned on both sides (the driver's compare sorts
columns by name before hashing). Final double aggregates are rounded
(functions/numeric.py) so engine-order-dependent floating summation
doesn't produce spurious last-ulp mismatches.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession


@dataclass(frozen=True)
class Query:
    fn: Callable[[SparkSession, str], DataFrame]
    sql: str | None = None
    tags: tuple[str, ...] = field(default=())
    # Canonical position: (rank of the registering queries_* module in
    # _MODULE_ORDER, registration sequence within that module). Within
    # a module the sequence is source order, so the canonical order is
    # identical no matter which module Python happened to import first
    # — QUERIES dict insertion order is NOT stable under pytest, where
    # a test file may import queries_text before queries_batch, and
    # tools and __spark_entry__ need one stable order.
    module: str = ""
    seq: int = 0


QUERIES: dict[str, Query] = {}

# Canonical module order = _load_all() import order. Used for the
# registration tie-break in all_queries() instead of dict insertion
# order (which varies with which module a caller imported first).
_MODULE_ORDER: tuple[str, ...] = (
    "queries_batch",
    "queries_parity",
    "queries_text",
    "queries_ml",
    "queries_streaming",
)


def register(name: str, fn, sql: str | None = None, tags: tuple[str, ...] = ()) -> None:
    if name in QUERIES:
        raise ValueError(f"duplicate query name {name!r}")
    import sys

    mod = sys._getframe(1).f_globals.get("__name__", "").rsplit(".", 1)[-1]
    seq = sum(1 for q in QUERIES.values() if q.module == mod)
    QUERIES[name] = Query(fn=fn, sql=sql, tags=tags, module=mod, seq=seq)


def _load_all() -> None:
    """Import every module that registers queries (idempotent)."""
    from . import queries_batch  # noqa: F401
    from . import queries_parity  # noqa: F401
    from . import queries_text  # noqa: F401
    from . import queries_ml  # noqa: F401
    from . import queries_streaming  # noqa: F401


def all_queries() -> dict[str, Query]:
    """The registry in canonical order: module rank in _MODULE_ORDER,
    then source order within the module."""
    _load_all()

    def canon(n: str) -> tuple[int, int]:
        q = QUERIES[n]
        try:
            rank = _MODULE_ORDER.index(q.module)
        except ValueError:
            rank = len(_MODULE_ORDER)
        return (rank, q.seq)

    return {n: QUERIES[n] for n in sorted(QUERIES, key=canon)}
