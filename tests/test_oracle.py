"""DuckDB-oracle equivalence at smoke scale for every SQL-expressible
query — a fast local replica of the driver's t2 gate (full-scale run:
``python tools/check.py --sf /root/testdata/sf0.01``)."""

from __future__ import annotations

import pytest

from real_time_big_data_analytics_spark.registry import all_queries
from tools.check import compare, duck_connection

QUERIES = {n: q for n, q in all_queries().items() if q.sql is not None}


@pytest.fixture(scope="module")
def duck(sf_dir):
    con = duck_connection(sf_dir)
    yield con
    con.close()


@pytest.mark.parametrize("name", sorted(QUERIES))
def test_matches_oracle(spark, sf_dir, duck, name):
    q = QUERIES[name]
    sdf = q.fn(spark, sf_dir).toPandas()
    odf = duck.execute(q.sql).df()
    problems = compare(name, sdf, odf)
    assert not problems, f"{name}: {problems}"


def test_uncast_integer_sum_fails_gate():
    """Round-4 regression (q12): an oracle twin whose bare ``sum(int)``
    comes back from DuckDB as HUGEINT→float64 must FAIL the local gate
    even when values are numerically identical, because the driver's
    value hash distinguishes int64 ``2`` from float64 ``2.0``."""
    import pandas as pd

    sdf = pd.DataFrame({"g": ["a", "b"], "n": pd.array([2, 5], dtype="int64")})
    odf = pd.DataFrame({"g": ["a", "b"], "n": pd.array([2.0, 5.0], dtype="float64")})
    problems = compare("q12_regression", sdf, odf)
    assert problems and any("dtype kind differs" in p for p in problems)


def test_integral_float_not_folded():
    """canon() must not fold 2.0 to "2" — that masking hid the q12
    dtype drift from four rounds of local sweeps."""
    from tools.check import canon
    import pandas as pd

    out = canon(pd.DataFrame({"x": [2.0]}))
    assert out["x"].iloc[0] == "2.0"
