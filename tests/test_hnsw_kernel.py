"""The HNSW kernels (operators/hnsw.py) without a SparkSession.

Two properties no Spark query exercises: the scalar per-neighbor
distance path that shards above ``FULL_DOT_MAX`` vectors take (every
harness shard is far smaller), and the module's self-registration for
pickling by value, which is what lets executor workers run the
kernels when they cannot import this package.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pandas as pd
import pyarrow.parquet as pq

from real_time_big_data_analytics_spark.operators import hnsw

M, EF_C, EF, K, SHARDS = 8, 64, 64, 10, 4


def _shards(sf_dir: str) -> list[pd.DataFrame]:
    emb = pq.read_table(
        os.path.join(sf_dir, "embeddings.parquet"), columns=["vec_id", "embedding"]
    ).to_pandas()
    return [emb[emb["vec_id"] % SHARDS == s] for s in range(SHARDS)]


def _run_shards(shards, queries):
    out = []
    for pdf in shards:
        edges = hnsw.build_and_search(pdf, [], 0, (), M, EF_C, emit="edges")
        cands = hnsw.build_and_search(pdf, queries, K, (4, EF), M, EF_C)
        served = hnsw.search_edges(pdf, edges, queries, K, EF, M)
        out.append((edges, cands, served))
    return out


def test_scalar_fallback_matches_vectorized(monkeypatch, sf_dir):
    shards = _shards(sf_dir)
    queries = [
        (int(v), [float(x) for x in e])
        for v, e in zip(shards[0]["vec_id"], shards[0]["embedding"])
    ][:5]
    vectorized = _run_shards(shards, queries)
    monkeypatch.setattr(hnsw, "FULL_DOT_MAX", 0)
    scalar = _run_shards(shards, queries)
    for vec, sca in zip(vectorized, scalar):
        edges, cands, served = vec
        assert len(edges) > 0 and len(cands) > 0 and len(served) > 0
        for a, b in zip(vec, sca):
            pd.testing.assert_frame_equal(a, b)


def test_kernel_unpickles_where_package_is_not_importable(tmp_path):
    from pyspark import cloudpickle

    (tmp_path / "kernel.pkl").write_bytes(cloudpickle.dumps(hnsw.build_and_search))
    code = (
        "import importlib.util, json, pickle\n"
        "import numpy as np, pandas as pd\n"
        "assert importlib.util.find_spec('real_time_big_data_analytics_spark') is None\n"
        "fn = pickle.load(open('kernel.pkl', 'rb'))\n"
        "vecs = [[1, 0, 0], [0.9, 0.1, 0], [0, 1, 0]]\n"
        "pdf = pd.DataFrame({'vec_id': [0, 1, 2],\n"
        "    'embedding': [np.asarray(v, dtype=np.float32) for v in vecs]})\n"
        "out = fn(pdf, [(0, [1.0, 0.0, 0.0])], 2, (4,), 8, 64)\n"
        "print(json.dumps(out[['query_id', 'vec_id']].values.tolist()))\n"
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
    assert json.loads(r.stdout.strip().splitlines()[-1]) == [[0, 1], [0, 2]]

