"""Embedding similarity search over ``embeddings`` (SURVEY.md §2.9 L3/L5).

Brute-force cosine top-k is the exactness baseline (query-side
broadcast → linear scan, perfectly parallel, scales as
n_queries × n_vectors); the LSH-bucketed variant is the 100 TB path
(candidates only from matching sign-hash buckets). All similarity
math is native Catalyst array HOFs (functions/arrays.py) — zero
Python on the data path.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.arrays import cosine_similarity, dot, l2_norm
from ..functions.numeric import round2, round_half_up
from ..sources.staging import fingerprint_dir, stage_once
from ..sources.tables import load_table, spread
from .hnsw import (
    build_and_search,
    compact_edges,
    graph_stats,
    insert_edges,
    search_edges,
)

# Per-process staging token (optimization r12, VERDICT r11 what's-wrong
# #1): every persisted index staging dir under /tmp folds this into its
# content tag, so an index staged by a PREVIOUS process (an earlier
# bench/driver run against the same testdata fingerprint) is never
# silently reused — each process pays its own build, exactly once
# (the declared build-once/search-many lifecycle), and a warm /tmp can
# no longer exclude the build cost from a fresh run's first sample.
# A uuid, not the pid: pids recycle and a recycled pid plus a stale
# /tmp dir would alias. Since no later process can reuse such a dir,
# each one is removed when the process that staged it exits.
import uuid as _uuid

_PROC_STAGE_TOKEN = _uuid.uuid4().hex[:12]
_STAGED_DIRS: set[str] = set()


def _proc_stage_dir(kind: str, sf_dir: str) -> tuple[str, str]:
    """(tag, dir) for this process's ``kind`` index over ``sf_dir``'s
    embeddings: the tag hashes the source file's fingerprint and the
    process token, and the dir (with any ``.staging-*`` sibling) is
    removed at interpreter exit."""
    tag, index_dir = fingerprint_dir(kind, sf_dir, "embeddings", _PROC_STAGE_TOKEN)
    _remove_at_exit(index_dir)
    return tag, index_dir


def _remove_at_exit(path: str) -> None:
    import atexit

    if path not in _STAGED_DIRS:
        _STAGED_DIRS.add(path)
        atexit.register(_remove_staged, path)


def _remove_staged(path: str) -> None:
    import glob
    import shutil

    for p in (path, *glob.glob(glob.escape(path) + ".staging-*")):
        shutil.rmtree(p, ignore_errors=True)

N_QUERIES = 5  # vec_id < 5 are the demo query vectors
TOP_K = 10


def _ranked_topk(sims: DataFrame, k: int) -> DataFrame:
    """Deterministic top-k per query: rank on the ROUNDED similarity
    with vec_id tiebreak, so engine last-ulp float differences can't
    flip the cut."""
    w = Window.partitionBy("query_id").orderBy(F.desc("sim"), F.asc("vec_id"))
    return (
        sims.withColumn("rk", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rk") <= k)
        .select("query_id", "vec_id", "sim", "rk")
    )


def _all_sims(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact cosine of every (query, corpus vector) pair — the tiny
    query side broadcasts, so this is one scan of the corpus with a
    codegen'd dot product per pair."""
    emb = spread(load_table(spark, sf_dir, "embeddings"))
    queries = emb.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("q")
    )
    corpus = emb.select("vec_id", "embedding")
    return corpus.join(F.broadcast(queries), F.col("vec_id") != F.col("query_id")).select(
        "query_id",
        "vec_id",
        round2(cosine_similarity("q", "embedding"), 6).alias("sim"),
    )


def knn_bruteforce(spark: SparkSession, sf_dir: str, k: int = TOP_K) -> DataFrame:
    """L3 — exact cosine top-k for each query vector.

    The canonical brute-force ANN baseline: perfectly parallel, no
    shuffle until the (k-bounded) per-query ranking.
    """
    return _ranked_topk(_all_sims(spark, sf_dir), k)


def knn_lsh(spark: SparkSession, sf_dir: str, k: int = TOP_K, n_planes: int = 8) -> DataFrame:
    """L3 (scale path) — sign-random-projection LSH bucketed kNN.

    Hyperplanes are derived deterministically from the corpus itself
    (the first ``n_planes`` embeddings), so the operator needs no
    random state and is reproducible. Vectors hash to a bucket of
    sign bits; candidates come only from the query's bucket, cutting
    the scanned fraction to ~2^-planes of the corpus at scale.
    Approximate by construction → rows-only check + recall-vs-brute
    pytest (SURVEY.md §5.2).
    """
    emb = spread(load_table(spark, sf_dir, "embeddings"))
    # Hyperplanes are metadata (n_planes rows) — collect once on the
    # driver and inline as literals so the signature is computed in a
    # single codegen'd projection with no join or shuffle.
    rows = (
        emb.filter(F.col("vec_id") < n_planes).orderBy("vec_id").select("embedding").collect()
    )
    sig_bits = [
        (dot("embedding", F.array(*[F.lit(float(x)) for x in r.embedding])) > 0)
        .cast("int")
        .cast("string")
        for r in rows
    ]
    with_sig = emb.select("vec_id", "embedding", F.concat_ws("", *sig_bits).alias("sig"))
    queries = with_sig.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("q"),
        F.col("sig").alias("qsig"),
    )
    sims = (
        with_sig.join(
            F.broadcast(queries),
            (F.col("sig") == F.col("qsig")) & (F.col("vec_id") != F.col("query_id")),
        )
        .select(
            "query_id",
            "vec_id",
            round2(cosine_similarity("q", "embedding"), 6).alias("sim"),
        )
    )
    return _ranked_topk(sims, k)


def embedding_cosine_pairs(
    spark: SparkSession, sf_dir: str, threshold: float = 0.35
) -> DataFrame:
    """L2 (embedding variant) — near-duplicate pairs by embedding
    cosine, blocked on ``label`` as the coarse-quantizer cell.

    The label block turns the quadratic all-pairs join into a
    per-cell self-join — the same blocking structure an IVF/LSH
    near-dup pass uses at 100 TB (cells bound the candidate set; the
    join shuffles on the cell key only). Similarity is rounded before
    thresholding so the cut is engine-exact.
    """
    emb = spread(load_table(spark, sf_dir, "embeddings"))
    a = emb.select("label", F.col("vec_id").alias("a_id"), F.col("embedding").alias("va"))
    b = emb.select("label", F.col("vec_id").alias("b_id"), F.col("embedding").alias("vb"))
    pairs = a.join(b, "label").filter(F.col("a_id") < F.col("b_id"))
    sims = pairs.select(
        "a_id", "b_id", round2(cosine_similarity("va", "vb"), 4).alias("cos_sim")
    )
    return sims.filter(F.col("cos_sim") >= threshold)


def knn_ivf(
    spark: SparkSession,
    sf_dir: str,
    k: int = TOP_K,
    n_cells: int = 8,
    n_probe: int = 2,
    seed: int = 7,
) -> DataFrame:
    """L3 (IVF variant) — inverted-file ANN: KMeans coarse quantizer,
    probe the ``n_probe`` nearest cells per query, exact cosine within
    the probed cells only.

    The scan fraction drops to ~n_probe/n_cells of the corpus; cell
    assignment is a narrow ``model.transform`` projection and the
    candidate join broadcasts the (tiny) query×cell probe table — the
    standard billion-vector IVF layout. Approximate by construction →
    rows-only check + recall-vs-brute pytest.
    """
    import numpy as np
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    emb = spread(load_table(spark, sf_dir, "embeddings"))
    vecs = emb.select(
        "vec_id",
        "embedding",
        array_to_vector(F.col("embedding").cast("array<double>")).alias("fv"),
    ).cache()
    # maxIter=5: a coarse quantizer plateaus in a few Lloyd rounds —
    # cell QUALITY barely moves after that while train time is the
    # operator's dominant cost (measured 4.7 s -> ~2 s per call at
    # sf0.1); recall keeps its pytest floor with margin.
    model = KMeans(
        k=n_cells, seed=seed, maxIter=5, featuresCol="fv", predictionCol="cell"
    ).fit(vecs)
    assigned = model.transform(vecs).select("vec_id", "embedding", "cell")

    # Probe selection is metadata-scale: n_queries × n_cells distances
    # on the driver, independent of corpus size.
    centers = np.asarray(model.clusterCenters())
    probe_rows = []
    for r in emb.filter(F.col("vec_id") < N_QUERIES).select("vec_id", "embedding").collect():
        q = np.asarray(r.embedding, dtype=float)
        d2 = ((centers - q) ** 2).sum(axis=1)
        for c in np.argsort(d2)[:n_probe]:
            probe_rows.append((r.vec_id, int(c), [float(x) for x in q]))
    probes = spark.createDataFrame(
        probe_rows, "query_id bigint, cell int, q array<double>"
    )
    cands = assigned.join(F.broadcast(probes), "cell").filter(
        F.col("vec_id") != F.col("query_id")
    )
    sims = cands.select(
        "query_id",
        "vec_id",
        round2(cosine_similarity("q", "embedding"), 6).alias("sim"),
    )
    return _ranked_topk(sims, k)


def ivf_index_write(
    spark: SparkSession,
    sf_dir: str,
    index_dir: str,
    n_cells: int = 8,
    seed: int = 7,
) -> None:
    """Persist the IVF index: corpus vectors written as parquet
    PARTITIONED BY coarse-quantizer cell, centroids alongside.

    This is the serving half of billion-vector ANN: the index is
    built once (KMeans + one partitioned write) and every probe
    afterwards reads only its ``n_probe`` cell directories via static
    partition pruning — IO drops to ~n_probe/n_cells of the corpus
    with no recluster per query, unlike ``knn_ivf`` which re-fits on
    each call (fine for one-shot analytics, wrong for serving).
    """
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    emb = spread(load_table(spark, sf_dir, "embeddings"))
    vecs = emb.select(
        "vec_id",
        "embedding",
        array_to_vector(F.col("embedding").cast("array<double>")).alias("fv"),
    ).cache()
    model = KMeans(
        k=n_cells, seed=seed, maxIter=5, featuresCol="fv", predictionCol="cell"
    ).fit(vecs)  # maxIter=5: see knn_ivf — quantizer quality plateaus
    assigned = model.transform(vecs).select("vec_id", "embedding", "cell")
    assigned.write.mode("overwrite").partitionBy("cell").parquet(f"{index_dir}/vectors")
    centers = [
        (int(i), [float(x) for x in c]) for i, c in enumerate(model.clusterCenters())
    ]
    spark.createDataFrame(centers, "cell int, center array<double>").coalesce(
        1
    ).write.mode("overwrite").parquet(f"{index_dir}/centroids")
    vecs.unpersist()


def knn_ivf_indexed(
    spark: SparkSession,
    sf_dir: str,
    k: int = TOP_K,
    n_cells: int = 8,
    n_probe: int = 2,
    index_dir: str | None = None,
) -> DataFrame:
    """L3 (persisted-IVF variant) — kNN against the partitioned index
    written by ``ivf_index_write``, building it first if absent
    (idempotent, deterministic seed).

    Probe-cell selection is driver-side metadata work (n_queries ×
    n_cells distances on the kilobyte centroid table); the corpus scan
    carries ``cell IN (probed)`` as a STATIC partition filter, so only
    the probed cell directories are listed and read
    (plan-pinned by tests/test_similarity.py). At 100 TB this is the
    difference between touching ~n_probe/n_cells of the files and
    touching all of them.
    """
    import numpy as np

    if index_dir is None:
        # The cache key includes a fingerprint of the SOURCE file
        # (mtime+size), not just the sf-dir name: the harness
        # regenerates testdata between rounds under the same path, and
        # an index built from the previous round's vectors would
        # silently serve stale cells. A real deployment versions its
        # index builds the same way.
        _tag, index_dir = _proc_stage_dir(f"ivf_c{n_cells}", sf_dir)
    if not os.path.isdir(os.path.join(index_dir, "vectors")):
        ivf_index_write(spark, sf_dir, index_dir, n_cells=n_cells)

    centers_rows = spark.read.parquet(f"{index_dir}/centroids").collect()
    centers = np.zeros((len(centers_rows), len(centers_rows[0].center)))
    for r in centers_rows:
        centers[r.cell] = r.center

    emb = load_table(spark, sf_dir, "embeddings")
    probe_rows = []
    for r in emb.filter(F.col("vec_id") < N_QUERIES).select("vec_id", "embedding").collect():
        q = np.asarray(r.embedding, dtype=float)
        d2 = ((centers - q) ** 2).sum(axis=1)
        for c in np.argsort(d2)[:n_probe]:
            probe_rows.append((r.vec_id, int(c), [float(x) for x in q]))
    probes = spark.createDataFrame(
        probe_rows, "query_id bigint, cell int, q array<double>"
    )
    probed_cells = sorted({c for _, c, _ in probe_rows})

    idx = spark.read.parquet(f"{index_dir}/vectors").filter(
        F.col("cell").isin(probed_cells)  # static partition pruning
    )
    cands = idx.join(F.broadcast(probes), "cell").filter(
        F.col("vec_id") != F.col("query_id")
    )
    sims = cands.select(
        "query_id",
        "vec_id",
        round2(cosine_similarity("q", "embedding"), 6).alias("sim"),
    )
    return _ranked_topk(sims, k)


def _knn_invariants(
    spark: SparkSession,
    sf_dir: str,
    approx: DataFrame,
    k: int,
    min_recall: float | None,
) -> DataFrame:
    """Bound-assertion twin for an ANN variant (operators/sketches.py
    pattern): the SQL-exact part is the query-id set; the approximate
    parts collapse to asserted invariants the oracle emits as ``true``.

    Sound invariants (hold for ANY correct ANN, any data):
    - ``sims_exact``: every returned (query, vector, sim) matches the
      exact cosine for that pair — catches similarity-math drift
      between the approximate and exact paths;
    - ``within_k``: no query returns more than k results.
    Empirical invariant (IVF variants only, same floor the recall
    pytest pins): overall recall@k vs the true top-k >= ``min_recall``.

    Cost: one extra brute-force pass over the corpus — this is a
    verification query; the serving path is the unwrapped operator.
    """
    exact = _all_sims(spark, sf_dir).withColumnRenamed("sim", "exact_sim")
    queries = (
        load_table(spark, sf_dir, "embeddings")
        .filter(F.col("vec_id") < N_QUERIES)
        .select(F.col("vec_id").alias("query_id"))
    )
    # Optimization r11 (guide §1.2/#1 — don't compute things twice):
    # ``approx`` used to feed TWO consumers (the per-query flag
    # aggregate and a separate global recall count), so Catalyst
    # planned the whole ANN candidate subtree — an applyInPandas graph
    # build for HNSW — twice; AQE exchange reuse can't dedup work
    # ABOVE the reused exchange. Folding the recall hit-count into the
    # same per-query aggregate (true-top-k membership joined in as a
    # marker) and summing it with an unpartitioned window leaves ONE
    # reference to ``approx`` in the plan. At local[32]/sf0.1 the
    # duplicate ran in otherwise-idle task slots, but at driver-bench
    # low core counts and at 100 TB it was a full second ANN pass.
    joined = approx.join(exact, ["query_id", "vec_id"], "left")
    if min_recall is not None:
        true_k = _ranked_topk(_all_sims(spark, sf_dir), k).select(
            "query_id", "vec_id", F.lit(1).alias("is_true")
        )
        joined = joined.join(F.broadcast(true_k), ["query_id", "vec_id"], "left")
    per_q_aggs = [
        F.every(
            F.col("exact_sim").isNotNull()
            & (F.abs(F.col("sim") - F.col("exact_sim")) < 1e-9)
        ).alias("sims_exact"),
        (F.count("*") <= F.lit(k)).alias("within_k"),
    ]
    if min_recall is not None:
        per_q_aggs.append(
            F.sum(F.coalesce("is_true", F.lit(0))).alias("hits")
        )
    per_q = joined.groupBy("query_id").agg(*per_q_aggs)
    out = queries.join(per_q, "query_id", "left").select(
        "query_id",
        # a query with an empty candidate set satisfies both vacuously
        F.coalesce("sims_exact", F.lit(True)).alias("sims_exact"),
        F.coalesce("within_k", F.lit(True)).alias("within_k"),
        *(
            [F.coalesce("hits", F.lit(0)).alias("hits")]
            if min_recall is not None
            else []
        ),
    )
    if min_recall is not None:
        total = true_k.agg(F.count("*").alias("total"))
        out = (
            out.crossJoin(F.broadcast(total))
            .withColumn(
                "recall_ok",
                F.sum("hits").over(Window.partitionBy())
                >= min_recall * F.col("total"),
            )
            .drop("hits", "total")
        )
    return out


def knn_lsh_checked(spark: SparkSession, sf_dir: str, k: int = TOP_K) -> DataFrame:
    """L3 LSH with its invariant twin (no recall floor: same-bucket
    candidates can legitimately be empty for a query)."""
    return _knn_invariants(spark, sf_dir, knn_lsh(spark, sf_dir, k), k, None)


def knn_ivf_checked(spark: SparkSession, sf_dir: str, k: int = TOP_K) -> DataFrame:
    """L3 IVF with its invariant twin (recall floor 0.3 — the same
    empirical floor tests/test_similarity.py pins)."""
    return _knn_invariants(spark, sf_dir, knn_ivf(spark, sf_dir, k), k, 0.3)


def knn_ivf_indexed_checked(spark: SparkSession, sf_dir: str, k: int = TOP_K) -> DataFrame:
    """L3 persisted-IVF with its invariant twin."""
    return _knn_invariants(spark, sf_dir, knn_ivf_indexed(spark, sf_dir, k), k, 0.3)


def embedding_norm_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L5 — multimodal array column ops: per-label L2-norm statistics."""
    emb = load_table(spark, sf_dir, "embeddings")
    return (
        emb.select("label", l2_norm("embedding").alias("norm"))
        .groupBy("label")
        .agg(
            round2(F.avg("norm"), 4).alias("avg_norm"),
            round2(F.min("norm"), 4).alias("min_norm"),
            round2(F.max("norm"), 4).alias("max_norm"),
            F.count("*").alias("n"),
        )
    )


def centroid_per_label(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L5 — per-label centroid vector (element-wise mean), then its norm.

    Element-wise array mean via posexplode + re-collect: shuffles
    (label × dim) rows only — the standard scalable centroid pattern
    (vs. collecting vectors to the driver, which does not scale).
    """
    emb = load_table(spark, sf_dir, "embeddings")
    per_dim = (
        emb.select("label", F.posexplode("embedding").alias("pos", "x"))
        .groupBy("label", "pos")
        .agg(F.avg(F.col("x").cast("double")).alias("mean_x"))
    )
    return (
        per_dim.groupBy("label")
        .agg(round2(F.sqrt(F.sum(F.col("mean_x") * F.col("mean_x"))), 6).alias("centroid_norm"))
    )


def quantization_error_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L5 — int8 scalar quantization audit: quantize each embedding to
    256 levels over its own [min, max] range, dequantize, and report
    per-label reconstruction RMSE and quantization scale.

    This is the storage/IO lever for ANN at 100 TB — int8 vectors are
    4x smaller than float32, and the decision to ship them hinges on
    exactly this audit. All Catalyst higher-order functions
    (``aggregate`` over the array), zero Python, narrow until the tiny
    per-label aggregate. ``floor(r + 0.5)`` instead of ``round``:
    identical half-up semantics in every engine, so the DuckDB oracle
    reproduces the arithmetic bit-for-bit.
    """
    emb = load_table(spark, sf_dir, "embeddings")
    mn = F.array_min("embedding").cast("double")
    mx = F.array_max("embedding").cast("double")
    scale = F.greatest((mx - mn) / F.lit(255.0), F.lit(1e-30))
    sq_err = F.expr(
        "aggregate(embedding, cast(0.0 as double), (acc, x) -> acc + "
        "pow(cast(x as double) - (mn + floor((cast(x as double) - mn) / q_scale + 0.5d) * q_scale), 2))"
    )
    per_vec = emb.select(
        "label",
        "embedding",
        mn.alias("mn"),
        scale.alias("q_scale"),
        F.size("embedding").alias("dim"),
    ).select("label", "q_scale", F.sqrt(sq_err / F.col("dim")).alias("rmse"))
    return per_vec.groupBy("label").agg(
        round2(F.avg("rmse"), 6).alias("avg_rmse"),
        round2(F.max("rmse"), 6).alias("max_rmse"),
        round2(F.avg("q_scale"), 6).alias("avg_scale"),
        F.count("*").alias("n"),
    )


def matryoshka_truncation_audit(
    spark: SparkSession, sf_dir: str, prefix_dim: int = 16
) -> DataFrame:
    """L5 — Matryoshka-style truncation audit: how much cosine
    structure survives keeping only the first ``prefix_dim`` of 64
    dimensions. For every label-blocked pair (the same cell structure
    as ``embedding_cosine_pairs``) compute full-dim and prefix-dim
    cosine, then per-label distortion statistics — the measurement a
    team runs before shipping truncated embeddings to cut ANN serving
    cost 4x.

    Same scale shape as the cosine-pair op: the label block bounds the
    candidate set, the pair join shuffles on the cell key only, and
    the distortion aggregate is label-cardinality rows. slice() is a
    row-side HOF — no second scan for the truncated view.
    """
    emb = spread(load_table(spark, sf_dir, "embeddings"))
    a = emb.select("label", F.col("vec_id").alias("a_id"), F.col("embedding").alias("va"))
    b = emb.select("label", F.col("vec_id").alias("b_id"), F.col("embedding").alias("vb"))
    pairs = a.join(b, "label").filter(F.col("a_id") < F.col("b_id"))
    ta = F.slice("va", 1, prefix_dim)
    tb = F.slice("vb", 1, prefix_dim)
    scored = pairs.select(
        "label",
        round2(cosine_similarity("va", "vb"), 6).alias("cos_full"),
        round2(cosine_similarity(ta, tb), 6).alias("cos_trunc"),
    )
    dist = F.abs(F.col("cos_full") - F.col("cos_trunc"))
    return scored.groupBy("label").agg(
        F.count("*").alias("n_pairs"),
        round2(F.avg(dist), 4).alias("avg_distortion"),
        round2(F.max(dist), 4).alias("max_distortion"),
        round2(F.avg("cos_full"), 4).alias("avg_cos_full"),
        round2(F.avg("cos_trunc"), 4).alias("avg_cos_trunc"),
    )


def range_search(
    spark: SparkSession, sf_dir: str, radius: float = 0.3
) -> DataFrame:
    """L3 (range variant) — epsilon-ball search: every corpus vector
    within cosine similarity >= ``radius`` of each query, plus the
    per-query neighborhood size.

    The top-k family bounds results by count; range search bounds by
    similarity — the retrieval primitive for "all near-duplicates of
    this item" and density estimation. Same broadcast-query scan as
    the brute-force path (no shuffle until the per-query count), and
    the radius filter is applied on the rounded similarity so the cut
    is engine-exact.
    """
    sims = _all_sims(spark, sf_dir).filter(F.col("sim") >= radius)
    w = Window.partitionBy("query_id")
    return sims.select(
        "query_id",
        "vec_id",
        "sim",
        F.count("*").over(w).alias("n_in_ball"),
    )


# --- Product quantization (PQ) + asymmetric distance computation (ADC) ---

PQ_N_SUB = 8  # 64-dim embeddings -> 8 subspaces of 8 dims
PQ_N_CODES = 16  # centroids per subspace codebook (4-bit codes)


def _pq_subvectors(emb: DataFrame, n_sub: int, sub_dim: int) -> DataFrame:
    """(vec_id, sub, sv): each embedding split into its subspace
    slices — a row-side projection, no shuffle."""
    slices = F.array(
        *[
            F.slice("embedding", s * sub_dim + 1, sub_dim).cast("array<double>")
            for s in range(n_sub)
        ]
    )
    return emb.select("vec_id", F.posexplode(slices).alias("sub", "sv"))


def _pq_assign(subvecs: DataFrame, codebook: DataFrame) -> DataFrame:
    """Nearest-centroid assignment per (vec_id, sub): broadcast the
    KB-scale codebook, argmin over its n_codes rows via a
    deterministic min(struct(dist, code)) — ties break on code."""
    from ..functions.arrays import l2_sq_dist

    scored = subvecs.join(F.broadcast(codebook), "sub").select(
        "vec_id",
        "sub",
        "sv",
        F.struct(
            l2_sq_dist("sv", "center").alias("d2"), F.col("code").alias("code")
        ).alias("cand"),
    )
    return (
        scored.groupBy("vec_id", "sub")
        .agg(F.min("cand").alias("best"), F.first("sv").alias("sv"))
        .select("vec_id", "sub", F.col("best.code").alias("code"), "sv")
    )


def pq_train_codebook(
    spark: SparkSession,
    sf_dir: str,
    n_sub: int = PQ_N_SUB,
    n_codes: int = PQ_N_CODES,
    lloyd_rounds: int = 2,
) -> DataFrame:
    """Train per-subspace PQ codebooks with ``lloyd_rounds`` rounds of
    distributed Lloyd iteration: seed centroids are the first
    ``n_codes`` corpus vectors' subspace slices (deterministic, no
    random state), then assign → per-(sub, code, dim) mean →
    reassemble. Every step is DataFrame ops: assignment broadcasts the
    codebook (KB), the mean recompute shuffles (n_sub × n_codes × dim)
    rows — independent of corpus size. Codes whose cluster empties
    keep their previous center.
    """
    emb = spread(load_table(spark, sf_dir, "embeddings"))
    sub_dim = 64 // n_sub
    subvecs = _pq_subvectors(emb, n_sub, sub_dim).localCheckpoint()

    codebook = (
        _pq_subvectors(emb.filter(F.col("vec_id") < n_codes), n_sub, sub_dim)
        .select("sub", F.col("vec_id").cast("int").alias("code"), F.col("sv").alias("center"))
        .localCheckpoint()
    )
    for _ in range(lloyd_rounds):
        assigned = _pq_assign(subvecs, codebook)
        per_dim = (
            assigned.select("sub", "code", F.posexplode("sv").alias("pos", "x"))
            .groupBy("sub", "code", "pos")
            .agg(F.avg("x").alias("m"))
        )
        new_centers = per_dim.groupBy("sub", "code").agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "m"))), lambda s: s.m
            ).alias("center")
        )
        codebook = (
            codebook.select("sub", "code", F.col("center").alias("old_center"))
            .join(new_centers, ["sub", "code"], "left")
            .select("sub", "code", F.coalesce("center", "old_center").alias("center"))
            .localCheckpoint()
        )
    return codebook


def knn_pq_adc(
    spark: SparkSession,
    sf_dir: str,
    k: int = TOP_K,
    n_sub: int = PQ_N_SUB,
    n_codes: int = PQ_N_CODES,
) -> DataFrame:
    """L3 (PQ variant) — product-quantization ANN with asymmetric
    distance computation: the corpus is stored as ``n_sub`` 4-bit
    codes per vector (16x smaller than float32), each query builds a
    (sub × code) distance table against the codebook, and approximate
    distances are table-lookup sums — no float vector math per
    candidate at query time.

    Scale shape: codebook training and the distance table are
    metadata-scale; the corpus side touches only the code columns
    (the 100 TB case reads ~n_sub bytes per vector instead of 256),
    and the lookup join broadcasts the (n_queries × n_sub × n_codes)
    table. This is the FAISS IVFPQ storage layout expressed as
    DataFrame ops. Approximate by construction → invariant-twin
    registry entry + recall-vs-exact pytest.
    """
    sub_dim = 64 // n_sub
    emb = spread(load_table(spark, sf_dir, "embeddings"))
    codebook = pq_train_codebook(spark, sf_dir, n_sub=n_sub, n_codes=n_codes)
    codes = _pq_assign(_pq_subvectors(emb, n_sub, sub_dim), codebook).select(
        "vec_id", "sub", "code"
    )

    # Per-query distance table: n_queries × n_sub × n_codes rows,
    # computed on the driver from the KB-scale codebook.
    cb = {(r.sub, r.code): r.center for r in codebook.collect()}
    queries = emb.filter(F.col("vec_id") < N_QUERIES).select("vec_id", "embedding").collect()
    dt_rows = []
    for qr in queries:
        q = [float(x) for x in qr.embedding]
        for (sub, code), center in cb.items():
            sv = q[sub * sub_dim : (sub + 1) * sub_dim]
            pd = sum((a - b) * (a - b) for a, b in zip(sv, center))
            dt_rows.append((qr.vec_id, sub, code, pd))
    dt = spark.createDataFrame(dt_rows, "query_id bigint, sub int, code int, pd double")

    adc = (
        codes.join(F.broadcast(dt), ["sub", "code"])
        .filter(F.col("vec_id") != F.col("query_id"))
        .groupBy("query_id", "vec_id")
        .agg(round2(F.sum("pd"), 6).alias("adc_dist"))
    )
    w = Window.partitionBy("query_id").orderBy(F.asc("adc_dist"), F.asc("vec_id"))
    return (
        adc.withColumn("rk", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rk") <= k)
        .select("query_id", "vec_id", "adc_dist", "rk")
    )


def _all_l2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact squared-L2 of every (query, corpus vector) pair — the
    ground truth for the PQ recall check (PQ approximates L2, not
    cosine)."""
    from ..functions.arrays import l2_sq_dist

    emb = spread(load_table(spark, sf_dir, "embeddings"))
    queries = emb.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("q")
    )
    corpus = emb.select("vec_id", "embedding")
    return corpus.join(F.broadcast(queries), F.col("vec_id") != F.col("query_id")).select(
        "query_id", "vec_id", round2(l2_sq_dist("q", "embedding"), 6).alias("d2")
    )


def exact_l2_topk(spark: SparkSession, sf_dir: str, k: int = TOP_K) -> DataFrame:
    w = Window.partitionBy("query_id").orderBy(F.asc("d2"), F.asc("vec_id"))
    return (
        _all_l2(spark, sf_dir)
        .withColumn("rk", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rk") <= k)
        .select("query_id", "vec_id")
    )


def knn_pq_rerank_checked(spark: SparkSession, sf_dir: str, k: int = TOP_K) -> DataFrame:
    """PQ shortlist→rerank with its invariant twin (sketches.py
    bound-assertion pattern): per query — result count within k and
    every returned distance EXACTLY matches the true L2 for that pair
    (the rerank stage is exact, so distance drift is a hard bug);
    globally — recall@k vs the exact L2 top-k above the empirical
    floor the pytest pins (0.7)."""
    approx = knn_pq_rerank(spark, sf_dir, k)
    exact = _all_l2(spark, sf_dir).withColumnRenamed("d2", "exact_d2")
    queries = (
        load_table(spark, sf_dir, "embeddings")
        .filter(F.col("vec_id") < N_QUERIES)
        .select(F.col("vec_id").alias("query_id"))
    )
    per_q = (
        approx.join(exact, ["query_id", "vec_id"], "left")
        .groupBy("query_id")
        .agg(
            (F.count("*") <= F.lit(k)).alias("within_k"),
            F.every(
                F.col("exact_d2").isNotNull()
                & (F.abs(F.col("d2") - F.col("exact_d2")) < 1e-9)
            ).alias("dists_exact"),
        )
    )
    out = queries.join(per_q, "query_id", "left").select(
        "query_id",
        F.coalesce("within_k", F.lit(True)).alias("within_k"),
        F.coalesce("dists_exact", F.lit(True)).alias("dists_exact"),
    )
    true_k = exact_l2_topk(spark, sf_dir, k)
    flag = (
        approx.join(true_k, ["query_id", "vec_id"], "inner")
        .agg(F.count("*").alias("hits"))
        .crossJoin(true_k.agg(F.count("*").alias("total")))
        .select((F.col("hits") >= 0.7 * F.col("total")).alias("recall_ok"))
    )
    return out.crossJoin(F.broadcast(flag))


def knn_pq_rerank(
    spark: SparkSession,
    sf_dir: str,
    k: int = TOP_K,
    shortlist_mult: int = 8,
) -> DataFrame:
    """L3 (PQ serving pipeline) — ADC shortlist → exact rerank: the
    PQ codes produce a ``shortlist_mult × k`` candidate list per query
    by table-lookup distance, then ONLY those candidates are reranked
    with exact L2 against the float vectors.

    This is the production two-stage ANN shape (FAISS search +
    refine): the full-precision vectors are touched for just
    n_queries × shortlist rows — an absolute, not corpus-relative,
    amount — while the corpus-wide pass reads 4-bit codes only.
    Final recall@k equals the shortlist's recall (rerank is exact),
    0.84 at the harness scale vs 0.30 for raw ADC ranks.
    """
    from ..functions.arrays import l2_sq_dist

    shortlist = knn_pq_adc(spark, sf_dir, k=shortlist_mult * k).select(
        "query_id", "vec_id"
    )
    emb = spread(load_table(spark, sf_dir, "embeddings"))
    queries = emb.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("q")
    )
    cands = shortlist.join(emb.select("vec_id", "embedding"), "vec_id").join(
        F.broadcast(queries), "query_id"
    )
    scored = cands.select(
        "query_id", "vec_id", round2(l2_sq_dist("q", "embedding"), 6).alias("d2")
    )
    w = Window.partitionBy("query_id").orderBy(F.asc("d2"), F.asc("vec_id"))
    return (
        scored.withColumn("rk", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rk") <= k)
        .select("query_id", "vec_id", "d2", "rk")
    )


APPEND_BITS = 3  # sign-bit quantizer width for the append audit: 8 cells


def ivf_index_append_audit(
    spark: SparkSession,
    sf_dir: str,
) -> DataFrame:
    """L3 (index maintenance) — incremental IVF index append: build
    the cell-partitioned index from the standing corpus (stand-in:
    vec_id % 10 != 0), then ingest the nightly batch (vec_id % 10 ==
    0) by assigning each new vector to its nearest SAVED centroid —
    no recluster — and appending only the touched cell partitions.

    The coarse quantizer is the APPEND_BITS sign-bit rule shared with
    ``l3_ivf_recall_sweep`` and the saved centroids are the per-cell
    per-dimension MEANS of the base vectors — both pure SQL functions
    of the data, which is what graduated this query from rows-only to
    HASH-EXACT in round 8 (VERDICT r7 ask #2b): DuckDB replays the
    build, the centroid table, and the nearest-centroid placement, so
    one mis-assigned append breaks the hash. (The trained-k-means
    variant of cell building lives in ``l3_knn_ivf``/PQ with invariant
    twins; index MAINTENANCE is the semantics under test here.) Note
    the appended vector's nearest-centroid cell can differ from its
    own sign cell — exactly the drift a no-recluster append absorbs.

    The assignment is a broadcast join against the KB-scale centroid
    table (8 cells × 64 dims in long format) with a deterministic
    argmin — d² rounded at 1e-6 BEFORE the (d², cell) min so
    summation-order ulps cannot flip a placement (the importance-
    weights discipline) — and the write is
    ``mode("append").partitionBy("cell")``: base cell files are never
    rewritten. At 100 TB this is the difference between a nightly
    index refresh that touches ~batch-size bytes and one that
    rewrites the corpus. Output: per-cell base/appended counts.
    """
    import tempfile

    index_dir = tempfile.mkdtemp(prefix="rtba_ivf_append_")
    _remove_at_exit(index_dir)
    emb = spread(load_table(spark, sf_dir, "embeddings"))
    corpus = emb.withColumn(
        "cell", F.expr(_sign_cell_expr(bits=APPEND_BITS))
    )
    base = corpus.filter(F.col("vec_id") % 10 != 0)
    batch = corpus.drop("cell").filter(F.col("vec_id") % 10 == 0)

    base.select("vec_id", "embedding", "cell").write.mode(
        "overwrite"
    ).partitionBy("cell").parquet(f"{index_dir}/vectors")
    # saved centroids: per-cell per-dim means in long format —
    # 8 cells x 64 dims of metadata, exactly SQL-reproducible
    centroids = (
        base.select("cell", F.posexplode("embedding").alias("pos", "x"))
        .groupBy("cell", "pos")
        .agg(F.avg(F.col("x").cast("double")).alias("m"))
    )
    centroids.coalesce(1).write.mode("overwrite").parquet(
        f"{index_dir}/centroids"
    )

    # --- the append path: nearest SAVED centroid, append touched cells
    saved = spark.read.parquet(f"{index_dir}/centroids")
    d2 = (
        batch.select("vec_id", F.posexplode("embedding").alias("pos", "x"))
        .join(F.broadcast(saved), "pos")
        .groupBy("vec_id", "cell")
        .agg(
            F.round(
                F.sum(
                    (F.col("x").cast("double") - F.col("m"))
                    * (F.col("x").cast("double") - F.col("m"))
                ),
                6,
            ).alias("d2")
        )
    )
    placed = (
        d2.groupBy("vec_id")
        .agg(F.min(F.struct("d2", "cell")).alias("best"))
        .select("vec_id", F.col("best.cell").alias("cell"))
        .join(batch.select("vec_id", "embedding"), "vec_id")
        .select("vec_id", "embedding", "cell")
        # materialize once: the write below and the audit join both
        # consume it, and the checkpoint truncates the (bounded,
        # 512-row-broadcast) assignment lineage out of the audit plan
        .localCheckpoint()
    )
    placed.write.mode("append").partitionBy("cell").parquet(f"{index_dir}/vectors")

    after = spark.read.parquet(f"{index_dir}/vectors")
    appended_ids = placed.select("vec_id", F.lit(True).alias("is_appended"))
    return (
        after.join(appended_ids, "vec_id", "left")
        .groupBy("cell")
        .agg(
            F.count("*").alias("n_vectors"),
            F.sum(F.coalesce(F.col("is_appended"), F.lit(False)).cast("int"))
            .cast("bigint")
            .alias("n_appended"),
        )
        .orderBy("cell")
    )


IVF_INDEX_APPEND_SQL = f"""
WITH c AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS ev,
         {" + ".join(f"(CASE WHEN embedding[{d + 1}] > 0 THEN {1 << d} ELSE 0 END)" for d in range(APPEND_BITS))} AS cell
  FROM embeddings
), base AS (
  SELECT * FROM c WHERE vec_id % 10 <> 0
), batch AS (
  SELECT * FROM c WHERE vec_id % 10 = 0
), cent AS (
  SELECT cell, pos, avg(x) AS m
  FROM (SELECT cell, unnest(ev) AS x, generate_subscripts(ev, 1) AS pos
        FROM base)
  GROUP BY cell, pos
), bexp AS (
  SELECT vec_id, unnest(ev) AS x, generate_subscripts(ev, 1) AS pos
  FROM batch
), d2 AS (
  SELECT b.vec_id, cent.cell,
         round(sum((b.x - cent.m) * (b.x - cent.m)), 6) AS d2
  FROM bexp b JOIN cent ON b.pos = cent.pos
  GROUP BY b.vec_id, cent.cell
), placed AS (
  SELECT vec_id, cell FROM (
    SELECT vec_id, cell,
           row_number() OVER (PARTITION BY vec_id ORDER BY d2, cell) AS rk
    FROM d2) WHERE rk = 1
)
SELECT cell, count(*) AS n_vectors,
       CAST(sum(CASE WHEN appended THEN 1 ELSE 0 END) AS BIGINT) AS n_appended
FROM (SELECT cell, false AS appended FROM base
      UNION ALL SELECT cell, true AS appended FROM placed)
GROUP BY cell ORDER BY cell
"""


def embedding_cohort_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L5 — embedding-space drift between two cohorts (vec_id parity
    stands in for e.g. last week's snapshot vs this week's): per
    label, the cosine between the two cohorts' centroid vectors AND
    the L2 gap between them, plus cohort sizes. The L2 gap is the
    robust signal (≈0 when the cohorts sample the same distribution,
    grows with genuine shift, regardless of whether embeddings are
    zero-centered); the cosine adds direction information when
    centroids are far from the origin. Either flags representation
    drift the scalar PSI monitor (`sf_psi_drift`) cannot see.

    Same scalable shape as `centroid_per_label`: explode to
    (label x cohort x dim) mean rows — never a vector collect — then
    a label-keyed 64-term reduction for the cosine.
    """
    emb = load_table(spark, sf_dir, "embeddings")
    per_dim = (
        emb.select(
            "label",
            (F.col("vec_id") % 2).alias("cohort"),
            F.posexplode("embedding").alias("pos", "x"),
        )
        .groupBy("label", "cohort", "pos")
        .agg(F.avg(F.col("x").cast("double")).alias("m"))
    )
    a = per_dim.filter(F.col("cohort") == 0).select(
        "label", "pos", F.col("m").alias("m0")
    )
    b = per_dim.filter(F.col("cohort") == 1).select(
        "label", "pos", F.col("m").alias("m1")
    )
    cos = a.join(b, ["label", "pos"]).groupBy("label").agg(
        round2(
            F.sum(F.col("m0") * F.col("m1"))
            / (
                F.sqrt(F.sum(F.col("m0") * F.col("m0")))
                * F.sqrt(F.sum(F.col("m1") * F.col("m1")))
            ),
            6,
        ).alias("centroid_cosine"),
        round2(
            F.sqrt(F.sum((F.col("m0") - F.col("m1")) * (F.col("m0") - F.col("m1")))),
            6,
        ).alias("centroid_l2_gap"),
    )
    counts = (
        emb.groupBy("label")
        .agg(
            F.sum(((F.col("vec_id") % 2) == 0).cast("int")).cast("bigint").alias("n_cohort0"),
            F.sum(((F.col("vec_id") % 2) == 1).cast("int")).cast("bigint").alias("n_cohort1"),
        )
    )
    return cos.join(counts, "label")


def ivf_append_invariants(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L3 (index maintenance) — engine-checkable summary of the
    incremental-append audit, the bound-assertion-twin pattern the
    sketch family uses: per-cell populations depend on KMeans (not
    SQL-derivable), but the INVARIANTS are exact — every corpus
    vector indexed exactly once, every nightly-batch vector appended
    exactly once, base partitions never shrink. The flags are
    computed from the real audit output, so a broken append path
    flips them to false and the oracle comparison fails.
    """
    audit = ivf_index_append_audit(spark, sf_dir)
    emb = load_table(spark, sf_dir, "embeddings")
    truth = emb.agg(
        F.count("*").alias("n_corpus"),
        F.sum((F.col("vec_id") % 10 == 0).cast("int")).cast("bigint").alias("n_batch"),
    )
    summary = audit.agg(
        F.sum("n_vectors").cast("bigint").alias("n_indexed"),
        F.sum("n_appended").cast("bigint").alias("n_appended"),
        F.min(F.col("n_appended") <= F.col("n_vectors")).alias("cells_consistent"),
    )
    return summary.join(F.broadcast(truth), F.expr("true")).select(
        "n_indexed",
        "n_appended",
        (F.col("n_indexed") == F.col("n_corpus")).alias("corpus_covered"),
        (F.col("n_appended") == F.col("n_batch")).alias("batch_covered"),
        "cells_consistent",
    )


def knn_graph(spark: SparkSession, sf_dir: str, k: int = 3) -> DataFrame:
    """L3 — the k-NN GRAPH: every vector's top-k most similar
    neighbors (cosine, label-blocked), not just a handful of query
    points. The batch primitive under semantic dedup, curriculum
    ordering, and graph-based coreset selection.

    Label blocks bound the candidate set exactly as
    ``embedding_cosine_pairs``; the per-vector top-k is a window
    rank WITHIN the source vector's partition, so after the blocked
    self-join nothing is global: shuffle on the cell key, shuffle on
    the source id, emit k rows per vector. Directed edges — a's
    neighbor list is independent of b's. Similarity rounds at 1e-4
    before ranking with a vec_id tie-break, so ranks are engine-exact.
    """
    emb = spread(load_table(spark, sf_dir, "embeddings"))
    a = emb.select("label", F.col("vec_id").alias("src"), F.col("embedding").alias("va"))
    b = emb.select("label", F.col("vec_id").alias("dst"), F.col("embedding").alias("vb"))
    pairs = a.join(b, "label").filter(F.col("src") != F.col("dst"))
    sims = pairs.select(
        "src", "dst", round2(cosine_similarity("va", "vb"), 4).alias("cos_sim")
    )
    w = Window.partitionBy("src").orderBy(F.desc("cos_sim"), F.asc("dst"))
    return (
        sims.withColumn("rk", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rk") <= k)
        .select("src", "rk", "dst", "cos_sim")
    )


RRF_K = 60  # standard RRF dampening constant (Cormack et al., 2009)


def rrf_hybrid_search(spark: SparkSession, sf_dir: str, k: int = TOP_K) -> DataFrame:
    """L4/L3 — HYBRID retrieval via reciprocal-rank fusion: the
    lexical ranking (Okapi BM25, ``text.bm25_search``) fused with a
    semantic ranking (exact cosine against a pseudo-relevance seed:
    each query's top BM25 hit's embedding — the classic
    "more-like-the-best-lexical-hit" feedback loop), scored
    RRF(d) = Σ_r 1/(60 + rank_r(d)) (Cormack/Clarke/Büttcher 2009).
    This is the retrieval shape RAG/dedup pipelines actually run:
    inverted index for precision, embeddings for recall, rank fusion
    so neither scale dominates.

    Hash-exact despite floats: both ranks are integers from
    rounded-score windows, the fused score is a sum of two dyadic-
    identical divisions, and ties break on doc_id. Execution: BM25's
    postings-traversal plan feeds a 3-row seed broadcast; the cosine
    side is one corpus scan against broadcast seeds (same shape as
    ``knn_bruteforce``); fusion is a k-bounded full outer join.
    """
    from .text import bm25_search

    # localCheckpoint (optimization r11, guide §1.2/#1): ``lex`` feeds
    # THREE plan references (the fusion join's lexical side, the seed
    # filter, and — through the seeds — the semantic side's lineage),
    # so the whole BM25 postings-traversal subtree was planned and
    # executed twice. The BM25 output is term×k rows — materializing
    # it once is a KB-sized checkpoint, and no parallelism is lost
    # because the semantic side STRICTLY depends on the seeds anyway.
    lex = bm25_search(spark, sf_dir).select(
        "term", F.col("doc_id").alias("l_id"), F.col("rk").alias("rk_lex")
    ).localCheckpoint()
    seeds = lex.filter(F.col("rk_lex") == 1).select(
        "term", F.col("l_id").alias("seed_id")
    )
    emb = spread(load_table(spark, sf_dir, "embeddings"))
    qv = emb.join(
        F.broadcast(seeds), emb.vec_id == F.col("seed_id")
    ).select("term", F.col("embedding").alias("q"))
    w_sem = Window.partitionBy("term").orderBy(F.desc("sim"), F.asc("vec_id"))
    sem = (
        emb.select("vec_id", "embedding")
        .join(F.broadcast(qv))
        .select(
            "term",
            "vec_id",
            round2(cosine_similarity("q", "embedding"), 6).alias("sim"),
        )
        .withColumn("rk_sem", F.row_number().over(w_sem))
        .filter(F.col("rk_sem") <= k)
        # sem's lineage includes lex (via the seed docs), so rename its
        # key columns before the full outer join to avoid self-join
        # ambiguity
        .select(
            F.col("term").alias("s_term"), F.col("vec_id").alias("s_id"), "rk_sem"
        )
    )
    fused = lex.join(
        sem,
        (lex.term == F.col("s_term")) & (F.col("l_id") == F.col("s_id")),
        "full_outer",
    ).select(
        F.coalesce(lex.term, F.col("s_term")).alias("term"),
        F.coalesce("l_id", "s_id").alias("doc_id"),
        "rk_lex",
        "rk_sem",
        round2(
            F.coalesce(1.0 / (RRF_K + F.col("rk_lex")), F.lit(0.0))
            + F.coalesce(1.0 / (RRF_K + F.col("rk_sem")), F.lit(0.0)),
            6,
        ).alias("rrf_score"),
    )
    w_f = Window.partitionBy("term").orderBy(F.desc("rrf_score"), F.asc("doc_id"))
    return (
        fused.withColumn("rrf_rank", F.row_number().over(w_f).cast("bigint"))
        .filter(F.col("rrf_rank") <= k)
        .select(
            "term",
            "rrf_rank",
            "doc_id",
            "rrf_score",
            F.col("rk_lex").cast("bigint").alias("rk_lex"),
            F.col("rk_sem").cast("bigint").alias("rk_sem"),
        )
    )


MMR_LAMBDA = 0.7
MMR_K = 5
MMR_POOL = 20


def mmr_diversified_topk(
    spark: SparkSession,
    sf_dir: str,
    k: int = MMR_K,
    pool_m: int = MMR_POOL,
    lam: float = MMR_LAMBDA,
) -> DataFrame:
    """L3 — Maximal Marginal Relevance diversified top-k (Carbonell &
    Goldstein 1998): greedily select k results per query maximizing
    ``λ·sim(q,d) − (1−λ)·max_{s∈S} sim(d,s)`` — relevance minus
    redundancy vs the already-selected set. The standard re-ranker for
    dedup-aware retrieval (and for picking DIVERSE few-shot/eval
    examples from an embedding corpus, where plain top-k returns k
    near-copies of the same document).

    Scale shape: one brute-force corpus scan builds the per-query
    top-``pool_m`` candidate pool (the only data-scale stage — same
    plan as ``knn_bruteforce``); everything after operates on the
    5×20-row pool: candidate↔candidate cosines are a broadcast
    self-join of the pool against the embedding table (≤ pool²·queries
    rows), and the k greedy steps unroll into anti-join + max-penalty
    + 1-row-per-query window picks over that metadata — the iterative
    selection never touches the corpus again. Both sims round at 1e-6
    before ranking (vec_id tiebreak) so engine last-ulp differences
    can't flip a pick; the oracle replays the identical unrolled
    greedy recurrence.
    """
    # Optimization r11 (guide §8 "decide with small rows" / §5 driver
    # rules): the only corpus-scale stage is the pool build (the same
    # brute-force scan as ``knn_bruteforce``); everything after runs on
    # ≤ n_queries×pool_m rows of METADATA. The previous shape unrolled
    # the k greedy steps as k Spark jobs (a localCheckpoint per pick,
    # plus cached pool/csims materializations) — ~6 scheduler round
    # trips to pick 25 rows. The greedy recurrence now runs on the
    # driver over the collected pool (a bounded collect, same class as
    # the query-vector collects the IVF/HNSW paths already do) with
    # BIT-IDENTICAL arithmetic: the candidate cosines replicate the
    # Catalyst fold (sequential double accumulation over float32
    # values) and the rounding replicates round2's floor/ceil
    # construction, so the emitted doubles — and the oracle hash —
    # are unchanged. 3.5 s → one pool job + one 25-row createDataFrame.
    emb = spread(load_table(spark, sf_dir, "embeddings")).select("vec_id", "embedding")
    pool_rows = (
        _ranked_topk(_all_sims(spark, sf_dir), pool_m)
        .select("query_id", "vec_id", "sim")
        .join(emb, "vec_id")  # ride each member's vector along: ONE job
        .collect()  # bounded: n_queries × pool_m metadata rows
    )
    vecs = {
        int(r.vec_id): [float(x) for x in r.embedding] for r in pool_rows
    }

    def _fold_dot(a: list, b: list) -> float:
        # ADVICE r11: zip() truncates ragged pairs where the Spark
        # path's zip_with null-pads and propagates NULL — fail loudly
        # instead of silently diverging from Catalyst semantics
        if len(a) != len(b):
            raise ValueError(
                f"ragged embedding pair: {len(a)} vs {len(b)} dims"
            )
        acc = 0.0
        for x, y in zip(a, b):
            acc += x * y
        return acc

    def _cos(a_id: int, b_id: int) -> float | None:
        import math

        a, b = vecs[a_id], vecs[b_id]
        denom = math.sqrt(_fold_dot(a, a)) * math.sqrt(_fold_dot(b, b))
        if denom == 0.0:
            # ADVICE r11: Spark's divide yields NULL on a zero-norm
            # vector where Python raises — mirror the NULL
            return None
        return round_half_up(_fold_dot(a, b) / denom, 6)

    by_q: dict[int, list] = {}
    for r in pool_rows:
        by_q.setdefault(int(r.query_id), []).append((int(r.vec_id), float(r.sim)))
    lam2 = 1.0 - lam  # one IEEE subtract, mirrored verbatim in the oracle
    out_rows = []
    for qid in sorted(by_q):
        members = by_q[qid]
        selected: list[int] = []
        for t in range(1, k + 1):
            best = None
            for vid, sim in members:
                if vid in selected:
                    continue
                if selected:
                    # Spark max() ignores NULL cosines (zero-norm
                    # vectors, ADVICE r11); all-NULL -> NULL penalty
                    # -> NULL score, which the desc ordering sorts
                    # LAST — candidates with real scores win first
                    cs = [
                        c
                        for c in (_cos(vid, s) for s in selected)
                        if c is not None
                    ]
                    pen = max(cs) if cs else None
                else:
                    pen = 0.0
                if pen is None:
                    score = None
                    key = (float("inf"), vid)  # NULLS LAST, vid tie-break
                else:
                    score = lam * sim - lam2 * pen
                    key = (-score, vid)
                if best is None or key < best[0]:
                    best = (key, vid, sim, score)
            if best is None:
                # pool smaller than k: emit fewer rows, exactly like
                # the old Spark plan's anti-join degradation (ADVICE
                # r11 — the recurrence must not raise on tiny corpora)
                break
            _key, vid, sim, score = best
            selected.append(vid)
            out_rows.append(
                (qid, vid, sim, t,
                 round_half_up(score, 6) if score is not None else None)
            )
    return spark.createDataFrame(
        out_rows,
        schema="query_id bigint, vec_id bigint, sim double, step bigint, mmr_score double",
    )


PCA_ITERS = 3
EMB_DIM = 64  # harness embedding width; the Spark side discovers the
# width dynamically (max size) — the constant exists only so the
# DuckDB twin's position range can be interpolated


def embedding_pca_power(
    spark: SparkSession, sf_dir: str, iters: int = PCA_ITERS
) -> DataFrame:
    """L5 — top principal component of the embedding cloud by MATRIX-
    FREE power iteration: C·v is computed as Σ_r x_r(x_r·v) in one
    corpus pass per iteration — the d×d second-moment matrix is never
    materialized, so the cost is O(n·d) per step and the only state
    between steps is the d-wide direction vector (a 1-row broadcast).
    That is the formulation that survives d in the thousands and n in
    the billions, where the n·d² materialize-the-covariance plan dies.

    The top PC is the standard embedding-health lens: drift of the
    dominant direction between snapshots flags collapsed or rotated
    encoders (the cohort companion to ``l5_embedding_cohort_drift``),
    and its eigenvalue share bounds how much variance whitening would
    remove. Scaling by 1/n is deferred to the end (power iteration is
    scale-invariant; each step renormalizes), so no count scalar
    enters the loop.

    Determinism: v₀ is the exact constant 1/√d; each step's direction
    is renormalized from engine-identical structure (the only float
    divergence is summation order inside the per-step aggregates,
    absorbed by the 1e-4 output rounding); the sign is pinned by v₀.
    The DuckDB twin replays the identical unrolled recurrence with the
    same scalar-subquery norms. Output: one row per dimension with
    its loading, plus the covariance eigenvalue (λ/n) repeated.
    """
    emb = spread(load_table(spark, sf_dir, "embeddings")).select(
        "vec_id", "embedding"
    )
    v = emb.agg(F.max(F.size("embedding")).alias("d")).select(
        F.expr(
            "transform(sequence(1, d), i -> 1.0 / sqrt(CAST(d AS DOUBLE)))"
        ).alias("v")
    )
    s = None
    for _ in range(iters):
        dots = emb.crossJoin(F.broadcast(v)).select(
            "embedding",
            F.expr(
                "aggregate(zip_with(embedding, v, (x, y) -> CAST(x AS DOUBLE) * y),"
                " 0D, (a, b) -> a + b)"
            ).alias("dot"),
        )
        s = dots.select(
            F.posexplode("embedding").alias("pos", "e"), "dot"
        ).groupBy("pos").agg(
            F.sum(F.col("e").cast("double") * F.col("dot")).alias("s")
        )
        nrm = s.agg(F.sqrt(F.sum(F.col("s") * F.col("s"))).alias("nrm"))
        v = (
            s.crossJoin(F.broadcast(nrm))
            .select("pos", (F.col("s") / F.col("nrm")).alias("vi"))
            .agg(F.array_sort(F.collect_list(F.struct("pos", "vi"))).alias("pv"))
            .select(F.expr("transform(pv, x -> x.vi)").alias("v"))
        )
    lam = s.agg(F.sqrt(F.sum(F.col("s") * F.col("s"))).alias("lam"))
    n = emb.agg(F.count("*").cast("double").alias("n"))
    return (
        s.crossJoin(F.broadcast(lam))
        .crossJoin(F.broadcast(n))
        .select(
            F.col("pos").cast("bigint").alias("pos"),
            round2(F.col("s") / F.col("lam"), 4).alias("loading"),
            round2(F.col("lam") / F.col("n"), 4).alias("eigval_cov"),
        )
    )


def knn_blockmatmul(spark: SparkSession, sf_dir: str, k: int = TOP_K) -> DataFrame:
    """L3 — the BLAS path for exact cosine top-k: an Arrow-batched
    ``mapInPandas`` that computes each partition-batch's similarity to
    ALL queries as ONE numpy matrix multiply (Xn @ Qn.T) instead of a
    per-pair HOF dot product. Same output contract as
    ``knn_bruteforce`` (shares its oracle); the point is the physical
    strategy: when queries number in the thousands, a fused
    block-matmul amortizes the corpus scan across every query at
    memory bandwidth — the standard dense-retrieval scoring shape —
    while the HOF plan re-walks the array per pair.

    Scale shape: queries are a bounded constant (N_QUERIES rows,
    collected once — broadcast metadata, the L3 discipline), shipped
    into the closure BY VALUE; the corpus side is one narrow Arrow
    scan, no join, no shuffle until the k-bounded ranking. Batch rows
    x query count floats per batch stay well under Arrow batch limits.

    Determinism: float64 matmul noise vs the oracle's scalar dots is
    ~1 ulp, absorbed by the shared 1e-6 rounding BEFORE the rank (the
    `_ranked_topk` discipline); rounding happens JVM-side with round2,
    never numpy (banker's rounding differs at ties).
    """
    import numpy as np

    emb = spread(load_table(spark, sf_dir, "embeddings"))
    q_rows = (
        emb.filter(F.col("vec_id") < N_QUERIES)
        .orderBy("vec_id")
        .select("vec_id", "embedding")
        .collect()
    )
    q_ids = [int(r.vec_id) for r in q_rows]
    q_mat = [[float(x) for x in r.embedding] for r in q_rows]

    out_schema = "query_id bigint, vec_id bigint, sim_raw double"

    def score_blocks(batches):
        # nested def, pickled by value: only stdlib/numpy/pandas names
        # inside (executor workers can't import this package when the
        # driver runs from a foreign cwd)
        import numpy as _np
        import pandas as _pd

        Q = _np.asarray(q_mat, dtype=_np.float64)
        Qn = Q / _np.linalg.norm(Q, axis=1, keepdims=True)
        ids = _np.asarray(q_ids, dtype=_np.int64)
        for pdf in batches:
            if not len(pdf):
                continue
            X = _np.asarray(pdf["embedding"].tolist(), dtype=_np.float64)
            Xn = X / _np.linalg.norm(X, axis=1, keepdims=True)
            S = Xn @ Qn.T  # (batch, n_queries)
            vid = pdf["vec_id"].to_numpy(dtype=_np.int64)
            n, m = S.shape
            out = _pd.DataFrame(
                {
                    "query_id": _np.repeat(ids[_np.newaxis, :], n, 0).ravel(),
                    "vec_id": _np.repeat(vid, m),
                    "sim_raw": S.ravel(),
                }
            )
            yield out[out.query_id != out.vec_id]

    sims = (
        emb.select("vec_id", "embedding")
        .mapInPandas(score_blocks, schema=out_schema)
        .select("query_id", "vec_id", round2("sim_raw", 6).alias("sim"))
    )
    return _ranked_topk(sims, k)


MAHA_TOPK = 20


def embedding_outliers(spark: SparkSession, sf_dir: str, k: int = MAHA_TOPK) -> DataFrame:
    """L5 — embedding-cloud outliers by diagonal Mahalanobis distance:
    per-dimension mean/variance in ONE corpus pass, then
    d²(x) = sum_pos (x_pos - mu_pos)² / var_pos and the top-k most
    distant vectors. The embedding-health screen between norm stats
    (``embedding_norm_stats``) and the top-PC lens
    (``embedding_pca_power``): encoder glitches, mis-batched rows and
    truncated vectors land far from the cloud under the per-dimension
    scaling even when their L2 norm looks normal.

    Scale shape: stats are a d-row grouped aggregate (posexplode,
    partial-agg combine); the d-row stats table broadcasts back onto
    the posexploded corpus and regroups to vec grain — two corpus
    passes, no similarity join, no collect. Variance uses explicit
    moments ((sum(x²) - n·mu²)/(n-1)) so both engines evaluate the
    same formula rather than their own variance kernels.

    Determinism: the 64-term d² sums are rounded at 1e-4 BEFORE the
    top-k rank (vec_id tiebreak) — the `_ranked_topk` discipline.
    """
    emb = spread(load_table(spark, sf_dir, "embeddings")).select(
        "vec_id", F.posexplode("embedding").alias("pos", "x")
    ).select("vec_id", "pos", F.col("x").cast("double").alias("x"))
    stats = emb.groupBy("pos").agg(
        F.count("*").alias("n"),
        F.avg("x").alias("mu"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
    ).select(
        "pos",
        "mu",
        (
            (F.col("sxx") - F.col("n") * F.col("mu") * F.col("mu"))
            / (F.col("n") - 1)
        ).alias("var"),
    )
    d2 = (
        emb.join(F.broadcast(stats), "pos")
        .groupBy("vec_id")
        .agg(
            round2(
                F.sum(
                    (F.col("x") - F.col("mu")) ** 2 / F.col("var")
                ),
                4,
            ).alias("maha_d2")
        )
    )
    w = Window.orderBy(F.desc("maha_d2"), F.asc("vec_id"))
    return (
        d2.withColumn("rk", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rk") <= k)
        .select("rk", "vec_id", "maha_d2")
    )


LSH_SWEEP_PLANES = (4, 6, 8)


def lsh_plane_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L3 — LSH tuning curve: bucket structure of the sign-random-
    projection index at each candidate hyperplane count. More planes
    = finer buckets = smaller candidate fraction but lower recall —
    this sweep is how n_planes gets CHOSEN instead of guessed (the
    ANN analog of the dedup `l2_threshold_sweep`). Emits, per plane
    count: bucket count, max/avg bucket size, within-bucket candidate
    pairs, and the fraction of the all-pairs comparison space a
    bucketed query would scan.

    The hyperplanes are the same corpus-derived rows `knn_lsh` uses
    (collected once, bounded metadata, inlined as literals). Sign
    bits are taken on the 1e-6-ROUNDED dot so the two engines' dot
    summation orders cannot flip a knife-edge sign — this makes the
    whole bucket structure hash-exact, unlike the recall-flag-only
    check on `l3_knn_lsh` itself.

    Scale shape: per plane count, one projection pass over the corpus
    and a sig-grain aggregate; the sweep unions three such plans.
    """
    emb = spread(load_table(spark, sf_dir, "embeddings"))
    out = None
    for p in LSH_SWEEP_PLANES:
        rows = (
            emb.filter(F.col("vec_id") < p)
            .orderBy("vec_id")
            .select("embedding")
            .collect()
        )
        sig_bits = [
            (
                round2(
                    dot(
                        "embedding",
                        F.array(*[F.lit(float(x)) for x in r.embedding]),
                    ),
                    6,
                )
                > 0
            )
            .cast("int")
            .cast("string")
            for r in rows
        ]
        buckets = (
            emb.select(F.concat_ws("", *sig_bits).alias("sig"))
            .groupBy("sig")
            .agg(F.count("*").alias("bn"))
        )
        cand = F.sum(F.col("bn") * (F.col("bn") - 1) / 2)
        n = F.sum("bn")
        stats = buckets.agg(
            F.lit(p).cast("bigint").alias("n_planes"),
            F.count("*").cast("bigint").alias("n_buckets"),
            F.max("bn").cast("bigint").alias("max_bucket"),
            round2(F.avg("bn"), 6).alias("avg_bucket"),
            cand.cast("bigint").alias("candidate_pairs"),
            round2(cand * 2 / (n * (n - 1)), 6).alias("scan_fraction"),
        )
        out = stats if out is None else out.unionByName(stats)
    return out


SEM_SWEEP_THRESHOLDS = (0.35, 0.45, 0.55, 0.65, 0.75)


def semantic_threshold_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L2 — tuning curve for SEMANTIC (embedding-cosine) dedup: pair
    counts and affected-vector counts at each candidate cosine cutoff,
    all derived from ONE label-blocked pair join at the loosest
    threshold (the `l2_threshold_sweep` discipline applied to the
    embedding variant). Picking the semantic-dedup cutoff without
    this curve is guessing how much corpus each step removes.

    Scale shape: one blocked cosine pair join (the
    `embedding_cosine_pairs` plan) at min(thresholds); each sweep row
    is then a filtered aggregate over the pair-grain frame — the
    threshold grid multiplies a pair-bounded frame by 5, never
    re-joining the corpus.

    Determinism: cosine is rounded at 1e-4 BEFORE thresholding (the
    cut is part of the operator contract); counts are exact.
    """
    base = embedding_cosine_pairs(
        spark, sf_dir, threshold=min(SEM_SWEEP_THRESHOLDS)
    )
    # threshold grid as an explode on the pair frame — a projection,
    # not a join (the l2_threshold_sweep shape)
    hit = base.select(
        "a_id",
        "b_id",
        "cos_sim",
        F.explode(
            F.array(*[F.lit(float(t)) for t in SEM_SWEEP_THRESHOLDS])
        ).alias("threshold"),
    ).filter(F.col("cos_sim") >= F.col("threshold"))
    per = hit.groupBy("threshold").agg(
        F.count("*").alias("n_pairs"),
        F.countDistinct(
            F.least("a_id", "b_id"), F.greatest("a_id", "b_id")
        ).alias("n_distinct_pairs"),
    )
    affected = (
        hit.select("threshold", F.explode(F.array("a_id", "b_id")).alias("v"))
        .groupBy("threshold")
        .agg(F.countDistinct("v").alias("n_affected_vectors"))
    )
    return per.join(affected, "threshold").select(
        round2("threshold", 2).alias("threshold"),
        "n_pairs",
        "n_affected_vectors",
    )


# -- IVF recall/probe sweep (round 7) ----------------------------------

SWEEP_BITS = 6  # sign bits of the first 6 dims -> up to 64 cells
SWEEP_PROBES = (1, 2, 4, 8, 16, 64)  # 64 = every possible cell: the
# sweep's top row must read recall exactly 1.0 against brute force


def _sign_cell_expr(col: str = "embedding", bits: int = SWEEP_BITS) -> str:
    """Deterministic coarse quantizer: cell id = sign-bit pattern of
    the first ``bits`` dimensions. Unlike a trained k-means
    quantizer it is oracle-reproducible in pure SQL, which is the
    point here: the recall CURVE itself gets a hash-exact oracle
    instead of an invariant twin. (No corpus vector has an exactly-
    zero leading dim — verified on the generator output — so the
    sign is unambiguous on both engines.) ``ivf_index_append_audit``
    shares it at APPEND_BITS width."""
    return " + ".join(
        f"if(element_at({col}, {d + 1}) > 0, {1 << d}, 0)" for d in range(bits)
    )


def ivf_recall_sweep(
    spark: SparkSession, sf_dir: str, k: int = TOP_K
) -> DataFrame:
    """The ANN quality/efficiency trade-off, measured: recall@k of an
    inverted-file search as a function of probed cells (nprobe in
    1/2/4/8), against the exact brute-force top-k — plus the average
    candidate count actually scanned, the efficiency axis. This is
    the audit a production ANN deployment tunes nprobe with.

    Scale: queries and the per-query cell ranking broadcast (both
    O(n_queries · n_cells) metadata); the corpus is scanned ONCE for
    similarities; every later stage is k-bounded or cell-bounded.
    """
    emb = spread(load_table(spark, sf_dir, "embeddings"))
    corpus = emb.withColumn("cell", F.expr(_sign_cell_expr()))
    queries = (
        corpus.filter(F.col("vec_id") < N_QUERIES)
        .select(
            F.col("vec_id").alias("query_id"),
            F.col("embedding").alias("q"),
            F.col("cell").alias("qcell"),
        )
    )
    # per-query probe order over the DISTINCT cells present in the
    # corpus: hamming distance between sign patterns, cell id tiebreak
    cells = corpus.select("cell").distinct()
    cell_rank = (
        cells.crossJoin(F.broadcast(queries.select("query_id", "qcell")))
        .withColumn("hd", F.expr("bit_count(cell ^ qcell)"))
        .withColumn(
            "cell_rank",
            F.row_number().over(
                Window.partitionBy("query_id").orderBy("hd", "cell")
            ),
        )
        .select("query_id", "cell", "cell_rank")
    )
    sims = (
        corpus.join(F.broadcast(queries), F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            "vec_id",
            "cell",
            round2(cosine_similarity("q", "embedding"), 6).alias("sim"),
        )
        .join(F.broadcast(cell_rank), ["query_id", "cell"])
    )
    true_topk = (
        sims.withColumn(
            "rk",
            F.row_number().over(
                Window.partitionBy("query_id").orderBy(
                    F.desc("sim"), F.asc("vec_id")
                )
            ),
        )
        .filter(F.col("rk") <= k)
        .select("query_id", "vec_id")
        .withColumn("is_true", F.lit(1))
    )
    probed = sims.withColumn(
        "nprobe", F.explode(F.array(*[F.lit(p) for p in SWEEP_PROBES]))
    ).filter(F.col("cell_rank") <= F.col("nprobe"))
    approx_topk = probed.withColumn(
        "rk",
        F.row_number().over(
            Window.partitionBy("query_id", "nprobe").orderBy(
                F.desc("sim"), F.asc("vec_id")
            )
        ),
    )
    per_query = (
        approx_topk.join(F.broadcast(true_topk), ["query_id", "vec_id"], "left")
        .groupBy("query_id", "nprobe")
        .agg(
            (F.sum(F.when(F.col("rk") <= k, F.coalesce("is_true", F.lit(0)))) / k)
            .alias("recall"),
            F.count("*").alias("n_candidates"),
        )
    )
    return (
        per_query.groupBy("nprobe")
        .agg(
            round2(F.avg("recall"), 4).alias("mean_recall"),
            round2(F.avg("n_candidates"), 2).alias("avg_candidates"),
            F.count("*").cast("bigint").alias("n_queries"),
        )
        .orderBy("nprobe")
    )


IVF_RECALL_SWEEP_SQL = f"""
WITH c AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS ev,
         {" + ".join(f"(CASE WHEN embedding[{d + 1}] > 0 THEN {1 << d} ELSE 0 END)" for d in range(SWEEP_BITS))} AS cell
  FROM embeddings
), q AS (
  SELECT vec_id AS query_id, ev AS qv, cell AS qcell FROM c WHERE vec_id < 5
), cellrank AS (
  SELECT query_id, cell,
         row_number() OVER (
           PARTITION BY query_id
           ORDER BY bit_count(CAST(xor(cell, qcell) AS BIGINT)), cell) AS cell_rank
  FROM (SELECT DISTINCT cell FROM c) CROSS JOIN q
), sims AS (
  SELECT query_id, c.vec_id, c.cell, cell_rank,
         round(list_dot_product(qv, ev)
               / (sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(ev, ev))),
               6) AS sim
  FROM c JOIN q ON c.vec_id <> q.query_id
  JOIN cellrank USING (query_id, cell)
), true_topk AS (
  SELECT query_id, vec_id FROM (
    SELECT query_id, vec_id,
           row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, vec_id ASC) AS rk
    FROM sims) WHERE rk <= 10
), probed AS (
  SELECT s.*, p.nprobe,
         row_number() OVER (PARTITION BY query_id, nprobe ORDER BY sim DESC, vec_id ASC) AS rk
  FROM sims s CROSS JOIN (VALUES {", ".join(f"({p})" for p in SWEEP_PROBES)}) AS p(nprobe)
  WHERE s.cell_rank <= p.nprobe
), per_query AS (
  SELECT p.query_id, p.nprobe,
         sum(CASE WHEN p.rk <= 10 AND t.vec_id IS NOT NULL THEN 1 ELSE 0 END) / 10.0 AS recall,
         count(*) AS n_candidates
  FROM probed p LEFT JOIN true_topk t
    ON p.query_id = t.query_id AND p.vec_id = t.vec_id
  GROUP BY p.query_id, p.nprobe
)
SELECT nprobe, round(avg(recall), 4) AS mean_recall,
       round(avg(n_candidates), 2) AS avg_candidates,
       CAST(count(*) AS BIGINT) AS n_queries
FROM per_query GROUP BY nprobe ORDER BY nprobe
"""


# --- HNSW: graph-based ANN, shard-and-merge (round 9, VERDICT r8 #5) --

HNSW_M = 8
HNSW_EF_CONSTRUCTION = 64
HNSW_EF_SEARCH = 64
HNSW_SHARDS = 4


def _murmur3_int32(x: int, seed: int = 42) -> int:
    """Spark's ``hash()`` of one INT column: Murmur3_x86_32 over the
    4-byte value with Spark's seed 42 — a driver-side twin used only
    to PLAN partition counts (validated against F.hash in tests)."""
    mask = 0xFFFFFFFF
    k = (x & mask) * 0xCC9E2D51 & mask
    k = ((k << 15) | (k >> 17)) & mask
    k = k * 0x1B873593 & mask
    h = (seed ^ k) & mask
    h = ((h << 13) | (h >> 19)) & mask
    h = (h * 5 + 0xE6546B64) & mask
    h ^= 4  # total byte length
    h ^= h >> 16
    h = h * 0x85EBCA6B & mask
    h ^= h >> 13
    h = h * 0xC2B2AE35 & mask
    h ^= h >> 16
    return h - (1 << 32) if h >= (1 << 31) else h


def _spread_parts(n_groups: int) -> int:
    """Smallest partition count that gives every shard id 0..n-1 its
    own hash partition (Spark pmod(murmur3, p) collides badly for
    small consecutive ints: 0..3 land in 2-3 of 32 buckets)."""
    hs = [_murmur3_int32(i) for i in range(n_groups)]
    p = n_groups
    while len({h % p for h in hs}) < n_groups:
        p += 1
    return p


_SPREAD_PARTS_MEMO: dict[int, int] = {HNSW_SHARDS: _spread_parts(HNSW_SHARDS)}


def _sharded(df: DataFrame, n_groups: int = HNSW_SHARDS):
    """Per-shard grouping for the COMPUTE-heavy graph stages (build /
    insert / compact / search inside applyInPandas): an explicit
    ``repartition(p, "shard")`` pins the exchange's partition count
    (AQE leaves user-specified counts alone), because byte-based AQE
    partition coalescing otherwise merges the few-KB shard partitions
    into ONE task and serializes every shard's O(n log n) graph build
    — partition bytes are the wrong proxy for per-group CPU here.
    ``p`` is the smallest count placing each shard id in its own hash
    partition (optimization r11; guide §2.5 "synthetic partitioning
    keys with too few distinct values"). ``n_groups`` must be the
    caller's shard-id count (ADVICE r11: a non-default shard count
    silently lost the one-partition-per-shard guarantee when ``p``
    was pinned to the module-level HNSW_SHARDS constant)."""
    if n_groups not in _SPREAD_PARTS_MEMO:
        _SPREAD_PARTS_MEMO[n_groups] = _spread_parts(n_groups)
    return df.repartition(_SPREAD_PARTS_MEMO[n_groups], "shard").groupBy("shard")


def _shard_of(col: str, n_shards: int = HNSW_SHARDS):
    """The deterministic shard of a vector (or edge row's node) id."""
    return (F.col(col) % n_shards).cast("int")


HNSW_EF_SWEEP = (4, 16, 64)
# empirical per-ef recall floors pinned by tests at every harness SF;
# chosen with margin below observed minima (see tests/test_similarity)
HNSW_SWEEP_FLOORS = {4: 0.2, 16: 0.55, 64: 0.85}
EDGE_SCHEMA = "node_id bigint, layer int, neighbor_id bigint"

# The per-shard graph work runs in operators/hnsw.py's kernels; each
# factory below closes one of them over its plain-list/int arguments.


def _hnsw_candidate_fn(
    queries: list, k: int, efs: tuple, m: int, ef_c: int, emit: str = "candidates"
):
    """Grouped body: build ONE shard's HNSW graph and search every
    query at each requested ef; ``emit="edges"`` returns the graph's
    (node_id, layer, neighbor_id) rows instead — the PERSISTENCE path
    (levels and the entry point are derivable from the id hash, so
    edges are the whole index)."""

    def shard_kernel(pdf):
        return build_and_search(pdf, queries, k, efs, m, ef_c, emit)

    return shard_kernel


def _hnsw_search_edges_fn(
    queries: list, k: int, ef: int, m: int, excluded: frozenset = frozenset()
):
    """Cogrouped search body: one shard's VECTORS (left) + its
    persisted EDGE rows (right) → per-query local top-k candidates, by
    a fresh build's own descent and beam (tests/test_similarity.py pins
    indexed ≡ fresh-build results EXACTLY). ``excluded`` is a TOMBSTONE
    set: traversal runs THROUGH tombstoned nodes (they are still edges
    in the graph — removing them from the descent would strand their
    neighborhoods) but an excluded id is never EMITTED, the serve-side
    semantics between a delete and the compaction that removes it."""

    def shard_kernel(vec_pdf, edge_pdf):
        return search_edges(vec_pdf, edge_pdf, queries, k, ef, m, excluded)

    return shard_kernel


def _hnsw_insert_fn(m: int, ef_c: int):
    """Cogrouped insert body: one shard's vectors (base + new, flagged
    ``is_new``) + the shard's PERSISTED base edges → the updated full
    edge set. The base adjacency is RECONSTRUCTED from the edge rows
    (no base-base distance is ever recomputed); only the inserted
    nodes run the graph build's insert loop (tests pin degree bounds +
    connectivity)."""

    def shard_kernel(vec_pdf, edge_pdf):
        return insert_edges(vec_pdf, edge_pdf, m, ef_c)

    return shard_kernel


def _hnsw_graph_stats_fn(m: int):
    """Cogrouped audit body over (vectors, edge rows): per-shard
    structural invariants of the UPDATED graph — every node present,
    every appended node reachable from the entry point (layer-0 BFS;
    retrievability IS connectivity in a beam-searched graph), and the
    M-bound held through the append's overflow pruning."""

    def shard_kernel(vec_pdf, edge_pdf):
        return graph_stats(vec_pdf, edge_pdf, m)

    return shard_kernel


def _hnsw_compact_fn(m: int):
    """Cogrouped compaction body: one shard's vectors (flagged
    ``is_deleted``) + its edge rows → the repaired SURVIVOR-ONLY edge
    set. For every deleted node d at every layer, d's surviving
    neighbors are re-linked pairwise (the standard one-hop repair:
    the hole d leaves is bridged by its own neighborhood), then every
    survivor's list drops deleted targets and re-prunes to the M
    bound by the graph build's prune rule — so the output graph is
    self-contained (zero edges into deleted nodes) and degree-bounded."""

    def shard_kernel(vec_pdf, edge_pdf):
        return compact_edges(vec_pdf, edge_pdf, m)

    return shard_kernel


def _query_vectors(emb: DataFrame) -> list:
    """The N_QUERIES demo query vectors as (vec_id, [float]) pairs,
    shipped into the search kernels by value."""
    return [
        (int(r.vec_id), [float(x) for x in r.embedding])
        for r in emb.filter(F.col("vec_id") < N_QUERIES)
        .select("vec_id", "embedding")
        .collect()  # bounded: the N_QUERIES demo query vectors
    ]


def _rescored(cands: DataFrame, emb: DataFrame, *keep: str) -> DataFrame:
    """HNSW candidates re-scored with the SAME Catalyst cosine
    expression as the exact path, so sims are bit-identical to brute
    force for the pairs returned; ``keep`` columns lead the output."""
    qdf = emb.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("q")
    )
    return (
        cands.join(emb.select("vec_id", "embedding"), "vec_id")
        .join(F.broadcast(qdf), "query_id")
        .select(
            *keep,
            "query_id",
            "vec_id",
            round2(cosine_similarity("q", "embedding"), 6).alias("sim"),
        )
    )


def _built_edges(corpus: DataFrame) -> DataFrame:
    """Every shard's freshly built graph as shard-tagged edge rows."""
    fn = _hnsw_candidate_fn([], 0, (), HNSW_M, HNSW_EF_CONSTRUCTION, emit="edges")
    return (
        _sharded(corpus)
        .applyInPandas(fn, EDGE_SCHEMA)
        .withColumn("shard", _shard_of("node_id"))
    )


def _served(
    corpus: DataFrame,
    edges: DataFrame,
    queries: list,
    k: int = TOP_K,
    ef: int = HNSW_EF_SEARCH,
    excluded: frozenset = frozenset(),
) -> DataFrame:
    """Per-shard candidates from searching the persisted graph
    ``edges`` over ``corpus``: the vectors and the index cogroup on
    shard, one task per shard."""
    fn = _hnsw_search_edges_fn(queries, k, ef, HNSW_M, excluded)
    return (
        _sharded(corpus)
        .cogroup(_sharded(edges))
        .applyInPandas(fn, "query_id bigint, vec_id bigint")
    )


def _graph_stats(corpus: DataFrame, edges: DataFrame) -> DataFrame:
    """Per-shard ``_hnsw_graph_stats_fn`` rows of ``edges``."""
    return (
        _sharded(corpus)
        .cogroup(_sharded(edges))
        .applyInPandas(
            _hnsw_graph_stats_fn(HNSW_M),
            "n_vectors bigint, n_new bigint, n_new_connected bigint, "
            "degree_violations bigint",
        )
    )


def _recall_floor_met(approx: DataFrame, true_k: DataFrame) -> DataFrame:
    """One-row ``recall_floor_met``: ``approx`` holds at least the
    fresh-build floor's share of ``true_k``'s (query_id, vec_id) pairs."""
    return (
        approx.join(true_k, ["query_id", "vec_id"], "inner")
        .agg(F.count("*").alias("hits"))
        .crossJoin(true_k.agg(F.count("*").alias("total")))
        .select(
            (
                F.col("hits")
                >= F.lit(HNSW_APPEND_RECALL_FLOOR) * F.col("total")
            ).alias("recall_floor_met")
        )
    )


def _hnsw_candidates(
    spark: SparkSession,
    sf_dir: str,
    k: int,
    efs: tuple,
    n_shards: int = HNSW_SHARDS,
) -> DataFrame:
    """Shard-and-merge HNSW: the corpus splits into ``n_shards``
    deterministic shards (vec_id % n_shards), each Spark task builds
    ONE shard's graph locally and beam-searches every query — the
    standard distributed HNSW deployment (per-shard graphs searched in
    parallel, results merged as a global top-k). At 100 TB the shard
    count scales with the corpus while each graph stays RAM-sized;
    graph build cost is per-shard O(n·log n) and never crosses the
    wire. Query vectors are bounded driver-side metadata (N_QUERIES
    rows), like the IVF/MMR paths."""
    emb = spread(load_table(spark, sf_dir, "embeddings"))
    fn = _hnsw_candidate_fn(
        _query_vectors(emb), k, tuple(efs), HNSW_M, HNSW_EF_CONSTRUCTION
    )
    corpus = emb.withColumn("shard", _shard_of("vec_id", n_shards))
    return _sharded(corpus, n_groups=n_shards).applyInPandas(
        fn, "query_id bigint, vec_id bigint, ef int"
    )


def knn_hnsw(
    spark: SparkSession,
    sf_dir: str,
    k: int = TOP_K,
    ef_search: int = HNSW_EF_SEARCH,
) -> DataFrame:
    """L3 — HNSW top-k: per-shard graph search, candidates re-scored
    with the exact Catalyst cosine, merged into the global top-k."""
    cands = _hnsw_candidates(spark, sf_dir, k, (ef_search,)).drop("ef")
    emb = spread(load_table(spark, sf_dir, "embeddings"))
    return _ranked_topk(_rescored(cands, emb), k)


def knn_hnsw_checked(spark: SparkSession, sf_dir: str, k: int = TOP_K) -> DataFrame:
    """L3 HNSW with its invariant twin (recall floor 0.85 — the
    empirical floor tests/test_similarity.py pins at every SF)."""
    return _knn_invariants(spark, sf_dir, knn_hnsw(spark, sf_dir, k), k, 0.85)


def hnsw_recall_sweep(
    spark: SparkSession, sf_dir: str, k: int = TOP_K
) -> DataFrame:
    """The HNSW quality knob, measured: recall@k vs the exact
    brute-force top-k as a function of the search beam ef — the curve
    an HNSW deployment tunes ef with (l3_ivf_recall_sweep's
    discipline). The graph walk itself is not SQL-replayable, so the
    oracle is the bound-assertion twin: exact n_queries/k columns plus
    per-ef asserted invariants (recall >= pinned floor, all candidate
    sims match the exact cosine, result sets within k)."""
    cands = _hnsw_candidates(spark, sf_dir, k, HNSW_EF_SWEEP)
    sims = _rescored(cands, spread(load_table(spark, sf_dir, "embeddings")), "ef")
    ranked = sims.withColumn(
        "rk",
        F.row_number().over(
            Window.partitionBy("ef", "query_id").orderBy(
                F.desc("sim"), F.asc("vec_id")
            )
        ),
    ).filter(F.col("rk") <= k)
    exact = _all_sims(spark, sf_dir).withColumnRenamed("sim", "exact_sim")
    true_k = _ranked_topk(_all_sims(spark, sf_dir), k).select(
        "query_id", "vec_id", F.lit(1).alias("is_true")
    )
    floors = F.create_map(
        *[F.lit(x) for kv in HNSW_SWEEP_FLOORS.items() for x in kv]
    )
    per_ef = (
        ranked.join(exact, ["query_id", "vec_id"], "left")
        .join(F.broadcast(true_k), ["query_id", "vec_id"], "left")
        .groupBy("ef")
        .agg(
            F.countDistinct("query_id").alias("n_queries"),
            F.every(
                F.col("exact_sim").isNotNull()
                & (F.abs(F.col("sim") - F.col("exact_sim")) < 1e-9)
            ).alias("sims_exact"),
            (F.max(F.col("rk")) <= k).alias("within_k"),
            (
                F.sum(F.coalesce("is_true", F.lit(0)))
                >= floors[F.col("ef")] * F.countDistinct("query_id") * k
            ).alias("recall_ok"),
        )
    )
    return per_ef.select(
        "ef",
        "n_queries",
        F.lit(k).cast("bigint").alias("k"),
        "sims_exact",
        "within_k",
        "recall_ok",
    ).orderBy("ef")


HNSW_RECALL_SWEEP_SQL = """
SELECT ef, CAST(n_queries AS BIGINT) AS n_queries,
       CAST(10 AS BIGINT) AS k,
       true AS sims_exact, true AS within_k, true AS recall_ok
FROM (VALUES (4, 5), (16, 5), (64, 5)) AS t(ef, n_queries)
ORDER BY ef
"""


# --- HNSW persisted index: build once, search many (round 9) ----------


def hnsw_index_write(spark: SparkSession, sf_dir: str) -> str:
    """Persist the per-shard HNSW graphs as a shard-partitioned
    parquet EDGE table — the index lifecycle step the IVF family has
    (``ivf_index_write``): build once, search many. Only the adjacency
    needs storing; node levels and the entry point are pure functions
    of the vector id (the deterministic level draw), so the index is
    exactly (node_id, layer, neighbor_id) rows. Staged once per process
    per corpus fingerprint (the _PROC_STAGE_TOKEN discipline) via
    ``stage_once``."""
    tag, index_dir = _proc_stage_dir("hnswidx", sf_dir)

    def build(stage: str) -> None:
        emb = spread(load_table(spark, sf_dir, "embeddings"))
        corpus = emb.withColumn("shard", _shard_of("vec_id"))
        _built_edges(corpus).write.partitionBy("shard").parquet(
            os.path.join(stage, "edges")
        )

    return stage_once(index_dir, tag, build)


def knn_hnsw_indexed(
    spark: SparkSession,
    sf_dir: str,
    k: int = TOP_K,
    ef_search: int = HNSW_EF_SEARCH,
) -> DataFrame:
    """L3 — HNSW search over the PERSISTED per-shard graphs: the
    vectors and the index cogroup on shard (one task per shard, the
    same fan-out as the build), no graph construction at query time.
    Candidates are re-scored with the exact Catalyst cosine and merged
    as the global top-k, identical to the fresh-build path."""
    index_dir = hnsw_index_write(spark, sf_dir)
    edges = spark.read.parquet(os.path.join(index_dir, "edges"))
    emb = spread(load_table(spark, sf_dir, "embeddings"))
    corpus = emb.withColumn("shard", _shard_of("vec_id"))
    cands = _served(corpus, edges, _query_vectors(emb), k, ef_search)
    return _ranked_topk(_rescored(cands, emb), k)


def knn_hnsw_indexed_checked(
    spark: SparkSession, sf_dir: str, k: int = TOP_K
) -> DataFrame:
    """L3 persisted-HNSW with its invariant twin (same 0.85 floor as
    the fresh-build path — the graphs are identical by construction)."""
    return _knn_invariants(
        spark, sf_dir, knn_hnsw_indexed(spark, sf_dir, k), k, 0.85
    )


# --- HNSW incremental maintenance (round 10, VERDICT r9 ask #5) --------
#
# The persisted edge-table index above is build-once; this section
# gives it the `l3_ivf_index_append` treatment: a nightly batch
# (vec_id % 10 == 0) is INSERTED into the per-shard graphs persisted
# from the standing corpus (vec_id % 10 != 0) — the standard HNSW
# insert (greedy descent from the entry point, beam with
# ef_construction, bidirectional M-bounded links with overflow
# pruning), costing O(|batch| · log n) link work per shard instead of
# the O(n · log n) rebuild. At 100 TB this is the difference between
# a nightly index refresh bounded by the batch and one that re-links
# the corpus. Pinned by the bound-assertion pattern: every appended
# node reachable from the entry point, degree bounds intact, and
# serving recall over the UPDATED graph at the fresh-build floor.


def _append_corpus(emb: DataFrame) -> DataFrame:
    """The corpus with its shard and the nightly-batch flag."""
    return emb.withColumn("shard", _shard_of("vec_id")).withColumn(
        "is_new", F.col("vec_id") % 10 == 0
    )


def hnsw_append_stage(spark: SparkSession, sf_dir: str) -> str:
    """Stage the append lifecycle once per process per corpus
    fingerprint (``stage_once``): persist the BASE corpus's per-shard
    edges, then read them BACK from disk and run the insert cogroup
    for the nightly batch, persisting the updated graph as
    ``edges_v2`` — the full persisted-index round trip."""
    tag, index_dir = _proc_stage_dir("hnswapp", sf_dir)

    def build(stage: str) -> None:
        corpus = _append_corpus(spread(load_table(spark, sf_dir, "embeddings")))
        _built_edges(corpus.filter(~F.col("is_new"))).write.partitionBy(
            "shard"
        ).parquet(os.path.join(stage, "edges_base"))
        persisted = spark.read.parquet(os.path.join(stage, "edges_base"))
        (
            _sharded(corpus)
            .cogroup(_sharded(persisted))
            .applyInPandas(_hnsw_insert_fn(HNSW_M, HNSW_EF_CONSTRUCTION), EDGE_SCHEMA)
            .withColumn("shard", _shard_of("node_id"))
            .write.partitionBy("shard")
            .parquet(os.path.join(stage, "edges_v2"))
        )

    return stage_once(index_dir, tag, build)


HNSW_APPEND_RECALL_FLOOR = 0.85  # the fresh-build serving floor


def hnsw_index_append_invariants(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``l3_hnsw_index_append`` — the bound-assertion summary of the
    HNSW incremental append: counts SQL-exact, structure collapsed to
    flags the oracle re-emits as ``true`` (the ivf_append_invariants
    pattern). One unreachable appended vector, one M-bound violation,
    one lost node, or serving recall under the fresh-build floor flips
    a flag and breaks the hash."""
    index_dir = hnsw_append_stage(spark, sf_dir)
    emb = spread(load_table(spark, sf_dir, "embeddings"))
    corpus = _append_corpus(emb)
    edges = spark.read.parquet(os.path.join(index_dir, "edges_v2"))
    stats = _graph_stats(corpus, edges).agg(
        F.sum("n_vectors").cast("bigint").alias("nodes_indexed"),
        F.sum("n_new").cast("bigint").alias("n_batch"),
        (F.sum("n_new") == F.sum("n_new_connected")).alias("appended_connected"),
        (F.sum("degree_violations") == 0).alias("degree_bounded"),
    )
    # serving recall over the UPDATED persisted graph, vs the exact
    # top-k of the FULL corpus (base + appended)
    cands = _served(corpus.drop("is_new"), edges, _query_vectors(emb))
    approx = _ranked_topk(_rescored(cands, emb), TOP_K).select("query_id", "vec_id")
    true_k = _ranked_topk(_all_sims(spark, sf_dir), TOP_K).select(
        "query_id", "vec_id"
    )
    recall = _recall_floor_met(approx, true_k)
    truth = emb.agg(F.count("*").cast("bigint").alias("n_corpus"))
    return (
        stats.crossJoin(F.broadcast(truth))
        .crossJoin(F.broadcast(recall))
        .select(
            "nodes_indexed",
            "n_batch",
            (F.col("nodes_indexed") == F.col("n_corpus")).alias(
                "corpus_covered"
            ),
            "appended_connected",
            "degree_bounded",
            "recall_floor_met",
        )
    )


HNSW_INDEX_APPEND_SQL = """
SELECT CAST(count(*) AS BIGINT) AS nodes_indexed,
       CAST(sum(CASE WHEN vec_id % 10 = 0 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_batch,
       true AS corpus_covered,
       true AS appended_connected,
       true AS degree_bounded,
       true AS recall_floor_met
FROM embeddings
"""


# -- round 11: HNSW delete maintenance (tombstone -> compact) -----------

HNSW_TOMBSTONE_COMPACT = 0.05  # compact a shard past this deleted fraction


def hnsw_delete_stage(spark: SparkSession, sf_dir: str) -> str:
    """Stage the delete lifecycle once per process per corpus fingerprint:

    - ``edges_base``: the full-corpus per-shard graphs, persisted;
    - ``tombstones_v1`` (``vec_id % 34 == 3``, ~2.9%/shard): BELOW the
      compaction threshold everywhere — serving excludes them, the
      graph is untouched;
    - ``tombstones_v2`` (``vec_id % 17 == 3``, ~5.9%/shard): past the
      threshold — every shard whose deleted fraction exceeds
      ``HNSW_TOMBSTONE_COMPACT`` is COMPACTED (one-hop neighbor
      repair, survivor-only edges, M bound re-pruned) into
      ``edges_compacted``; a below-threshold shard would keep its
      base edges (the per-shard decision is written to
      ``compaction.json``)."""
    tag, index_dir = _proc_stage_dir("hnswdel", sf_dir)

    def build(stage: str) -> None:
        emb = spread(load_table(spark, sf_dir, "embeddings"))
        corpus = emb.withColumn("shard", _shard_of("vec_id"))
        _built_edges(corpus).write.partitionBy("shard").parquet(
            os.path.join(stage, "edges_base")
        )
        for name, modulus in (("tombstones_v1", 34), ("tombstones_v2", 17)):
            corpus.filter(F.col("vec_id") % modulus == 3).select(
                "vec_id", "shard"
            ).write.parquet(os.path.join(stage, name))
        # per-shard compaction decision from the v2 tombstone fraction
        fractions = {
            int(r.shard): (r.nd / r.n)
            for r in corpus.groupBy("shard")
            .agg(
                F.count("*").alias("n"),
                F.sum(
                    (F.col("vec_id") % 17 == 3).cast("int")
                ).alias("nd"),
            )
            .collect()  # bounded: HNSW_SHARDS rows
        }
        compact_shards = sorted(
            s for s, frac in fractions.items()
            if frac > HNSW_TOMBSTONE_COMPACT
        )
        with open(os.path.join(stage, "compaction.json"), "w") as f:
            json.dump(
                {"fractions": fractions, "compacted": compact_shards}, f,
                sort_keys=True,
            )
        persisted = spark.read.parquet(os.path.join(stage, "edges_base"))
        flagged = corpus.withColumn(
            "is_deleted", F.col("vec_id") % 17 == 3
        )
        to_compact = flagged.filter(F.col("shard").isin(compact_shards))
        compacted = (
            _sharded(to_compact)
            .cogroup(
                _sharded(persisted.filter(
                    F.col("shard").isin(compact_shards)
                ))
            )
            .applyInPandas(_hnsw_compact_fn(HNSW_M), EDGE_SCHEMA)
            .withColumn("shard", _shard_of("node_id"))
        )
        kept = persisted.filter(~F.col("shard").isin(compact_shards)).select(
            "node_id", "layer", "neighbor_id", "shard"
        )
        compacted.unionByName(kept).write.partitionBy("shard").parquet(
            os.path.join(stage, "edges_compacted")
        )

    return stage_once(index_dir, tag, build)


def hnsw_index_delete_invariants(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``l3_hnsw_index_delete`` — the delete lifecycle audited end to
    end (VERDICT r10 ask #4): counts SQL-exact, structure collapsed to
    flags the oracle re-emits as ``true``:

    - ``tombstone_serve_clean``: pre-compaction serving traverses the
      intact graph but never returns a v1-tombstoned id;
    - ``shards_compacted_v1``/``shards_compacted``: the per-shard
      threshold decision, recomputed by the oracle from the same
      fraction rule;
    - ``no_deleted_refs``: the compacted edge table references zero
      deleted ids (self-contained survivor graph);
    - ``survivors_reachable`` + ``degree_bounded``: layer-0 BFS from
      the entry covers every survivor; the M bound held through
      repair (via ``_hnsw_graph_stats_fn``);
    - ``deleted_never_returned`` + ``recall_floor_met``: serving the
      compacted graph returns no deleted id and keeps recall over the
      SURVIVOR exact top-k at the 0.85 floor."""
    index_dir = hnsw_delete_stage(spark, sf_dir)
    with open(os.path.join(index_dir, "compaction.json")) as f:
        decision = json.load(f)
    emb = spread(load_table(spark, sf_dir, "embeddings"))
    corpus = emb.withColumn("shard", _shard_of("vec_id"))
    queries = _query_vectors(emb)
    v1_ids = frozenset(
        int(r.vec_id)
        for r in spark.read.parquet(
            os.path.join(index_dir, "tombstones_v1")
        ).collect()  # bounded: ~n/34 tombstones at the demo scale;
        # production keeps this as a broadcast join, not a driver set
    )
    base_edges = spark.read.parquet(os.path.join(index_dir, "edges_base"))
    serve_v1 = _served(corpus, base_edges, queries, excluded=v1_ids)
    v1_clean = serve_v1.agg(
        (
            F.sum((F.col("vec_id") % 34 == 3).cast("int")) == 0
        ).alias("tombstone_serve_clean")
    )
    # post-compaction: survivors only, no exclusion set — a single
    # dangling edge into a deleted node would KeyError the scan
    survivors = corpus.filter(F.col("vec_id") % 17 != 3)
    cedges = spark.read.parquet(os.path.join(index_dir, "edges_compacted"))
    deleted = corpus.filter(F.col("vec_id") % 17 == 3).select(
        F.col("vec_id").alias("del_id")
    )
    no_refs = (
        cedges.join(
            F.broadcast(deleted),
            (cedges.node_id == F.col("del_id"))
            | (cedges.neighbor_id == F.col("del_id")),
            "left_semi",
        )
        .agg((F.count("*") == 0).alias("no_deleted_refs"))
    )
    # reachability + degree via the append audit body: flagging every
    # survivor "new" makes its new-connected count a full layer-0 BFS
    # coverage check of the compacted graph
    reach = _graph_stats(survivors.withColumn("is_new", F.lit(True)), cedges).agg(
        (F.sum("n_new") == F.sum("n_new_connected")).alias("survivors_reachable"),
        (F.sum("degree_violations") == 0).alias("degree_bounded"),
        F.sum("n_vectors").cast("bigint").alias("n_survivor_nodes"),
    )
    # two consumers (the deleted-id flag and the recall sims) —
    # materialize the ≤ n_queries×k candidate rows once so the
    # survivor beam-search cogroup runs once, not twice (r11)
    serve_v2 = _served(survivors, cedges, queries).localCheckpoint()
    clean_v2 = serve_v2.agg(
        (F.sum((F.col("vec_id") % 17 == 3).cast("int")) == 0).alias(
            "deleted_never_returned"
        )
    )
    approx = _ranked_topk(_rescored(serve_v2, emb), TOP_K).select("query_id", "vec_id")
    true_k = _ranked_topk(
        _all_sims(spark, sf_dir).filter(F.col("vec_id") % 17 != 3), TOP_K
    ).select("query_id", "vec_id")
    recall = _recall_floor_met(approx, true_k)
    counts = emb.agg(
        F.count("*").cast("bigint").alias("n_corpus"),
        F.sum((F.col("vec_id") % 17 == 3).cast("int"))
        .cast("bigint")
        .alias("n_deleted"),
    )
    return (
        counts.crossJoin(F.broadcast(reach))
        .crossJoin(F.broadcast(v1_clean))
        .crossJoin(F.broadcast(no_refs))
        .crossJoin(F.broadcast(clean_v2))
        .crossJoin(F.broadcast(recall))
        .select(
            "n_corpus",
            "n_deleted",
            (F.col("n_survivor_nodes") == F.col("n_corpus") - F.col("n_deleted"))
            .alias("survivors_covered"),
            F.lit(len(decision["compacted"])).cast("bigint").alias(
                "shards_compacted"
            ),
            "tombstone_serve_clean",
            "no_deleted_refs",
            "survivors_reachable",
            "degree_bounded",
            "deleted_never_returned",
            "recall_floor_met",
        )
    )


HNSW_INDEX_DELETE_SQL = """
WITH per_shard AS (
    SELECT vec_id % 4 AS shard,
           count(*) AS n,
           sum(CASE WHEN vec_id % 17 = 3 THEN 1 ELSE 0 END) AS nd
    FROM embeddings GROUP BY vec_id % 4
)
SELECT CAST((SELECT sum(n) FROM per_shard) AS BIGINT) AS n_corpus,
       CAST((SELECT sum(nd) FROM per_shard) AS BIGINT) AS n_deleted,
       true AS survivors_covered,
       CAST((SELECT count(*) FROM per_shard
             WHERE nd * 1.0 / n > 0.05) AS BIGINT) AS shards_compacted,
       true AS tombstone_serve_clean,
       true AS no_deleted_refs,
       true AS survivors_reachable,
       true AS degree_bounded,
       true AS deleted_never_returned,
       true AS recall_floor_met
"""
