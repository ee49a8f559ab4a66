"""Similarity search: LSH recall vs brute force; array-math sanity."""

from __future__ import annotations

from pyspark.sql import functions as F

from real_time_big_data_analytics_spark.functions.arrays import cosine_similarity
from real_time_big_data_analytics_spark.operators import similarity
from tests.conftest import SF_CORRECT


def test_knn_bruteforce_shape(spark, sf_dir):
    df = similarity.knn_bruteforce(spark, sf_dir)
    rows = df.collect()
    per_query = {}
    for r in rows:
        per_query.setdefault(r.query_id, []).append(r)
    assert set(per_query) == set(range(similarity.N_QUERIES))
    for q, rs in per_query.items():
        assert len(rs) == similarity.TOP_K
        sims = [r.sim for r in sorted(rs, key=lambda r: r.rk)]
        assert sims == sorted(sims, reverse=True)
        assert all(-1.0 <= s <= 1.0 for s in sims)


def test_knn_lsh_subset_of_true_sims(spark, sf_dir):
    """LSH results must agree with brute-force similarity values
    (approximate candidate set, exact scores)."""
    brute = {
        (r.query_id, r.vec_id): r.sim
        for r in similarity.knn_bruteforce(spark, sf_dir, k=10**6).collect()
    }
    lsh = similarity.knn_lsh(spark, sf_dir).collect()
    assert lsh, "LSH should return some candidates"
    for r in lsh:
        assert abs(brute[(r.query_id, r.vec_id)] - r.sim) < 1e-9


def test_knn_ivf_recall_vs_brute(spark, sf_dir):
    """IVF probes a fraction of the corpus but must recover most of
    the true top-k (recall floor) with exact similarity values."""
    brute = similarity.knn_bruteforce(spark, sf_dir).collect()
    true_sets = {}
    for r in brute:
        true_sets.setdefault(r.query_id, set()).add(r.vec_id)
    all_sims = {
        (r.query_id, r.vec_id): r.sim
        for r in similarity.knn_bruteforce(spark, sf_dir, k=10**6).collect()
    }
    ivf = similarity.knn_ivf(spark, sf_dir).collect()
    assert ivf
    got = {}
    for r in ivf:
        got.setdefault(r.query_id, set()).add(r.vec_id)
        assert abs(all_sims[(r.query_id, r.vec_id)] - r.sim) < 1e-9
    hits = sum(len(true_sets[q] & got.get(q, set())) for q in true_sets)
    total = sum(len(s) for s in true_sets.values())
    assert hits / total >= 0.3, f"IVF recall too low: {hits}/{total}"


def test_embedding_cosine_pairs_symmetric_and_thresholded(spark, sf_dir):
    pairs = similarity.embedding_cosine_pairs(spark, sf_dir).collect()
    assert pairs
    for r in pairs:
        assert r.a_id < r.b_id
        assert r.cos_sim >= 0.35


def test_cosine_self_similarity(spark, sf_dir):
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    sims = emb.select(
        cosine_similarity("embedding", "embedding").alias("s")
    ).collect()
    assert all(abs(r.s - 1.0) < 1e-9 for r in sims)


def test_knn_ivf_indexed_prunes_partitions_and_matches_live_ivf(spark, sf_dir, tmp_path):
    """The persisted-index probe must (a) carry the probed cells as a
    partition filter so only those cell directories are scanned, and
    (b) at equal probe settings return candidates whose similarities
    match the exact cosine math."""
    from pyspark.sql import functions as F

    from real_time_big_data_analytics_spark import operators
    from real_time_big_data_analytics_spark.operators import similarity

    idx = str(tmp_path / "ivf")
    df = similarity.knn_ivf_indexed(spark, sf_dir, n_probe=2, index_dir=idx)
    rows = df.collect()
    assert rows

    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "cell" in plan.split("PartitionFilters", 1)[1][:120], (
        "probed cells did not reach the scan as partition filters"
    )

    # recall floor vs brute force (same floor as the live-IVF test)
    brute = {
        (r.query_id, r.vec_id)
        for r in similarity.knn_bruteforce(spark, sf_dir).collect()
    }
    got = {(r.query_id, r.vec_id) for r in rows}
    assert len(got & brute) / len(brute) >= 0.3

    # rebuilding is idempotent: second call reuses the on-disk index
    again = {(r.query_id, r.vec_id, r.sim) for r in similarity.knn_ivf_indexed(
        spark, sf_dir, n_probe=2, index_dir=idx).collect()}
    assert again == {(r.query_id, r.vec_id, r.sim) for r in rows}


def test_staged_index_dirs_are_removed_at_process_exit(sf_dir, tmp_path):
    """Staged index dirs carry the per-process token, so no later
    process can reuse them: the process that stages one must remove it
    (and any ``.staging-*`` leftover) when it exits."""
    import json
    import os
    import subprocess
    import sys

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    code = (
        "import json, os, sys\n"
        "from real_time_big_data_analytics_spark.operators import similarity\n"
        "tag, d = similarity._proc_stage_dir('hnswidx', sys.argv[1])\n"
        "stage = d + '.staging-0'\n"
        "for p in (d, stage):\n"
        "    os.makedirs(p)\n"
        "    open(os.path.join(p, 'part'), 'w').close()\n"
        "print(json.dumps([d, stage]))\n"
    )
    r = subprocess.run(
        [sys.executable, "-c", code, sf_dir],
        capture_output=True,
        text=True,
        cwd=repo,
        env={**os.environ, "TMPDIR": str(tmp_path)},
    )
    assert r.returncode == 0, r.stderr[-2000:]
    staged = json.loads(r.stdout.strip().splitlines()[-1])
    assert all(p.startswith(str(tmp_path)) for p in staged), staged
    assert not [p for p in staged if os.path.exists(p)]
    assert os.listdir(tmp_path) == []


def test_matryoshka_audit_distortion_is_bounded_and_ordered(spark, sf_dir):
    from real_time_big_data_analytics_spark.operators.similarity import (
        matryoshka_truncation_audit,
    )

    rows = matryoshka_truncation_audit(spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert 0 <= r.avg_distortion <= r.max_distortion <= 2.0
        assert -1.0 <= r.avg_cos_trunc <= 1.0
        assert r.n_pairs > 0


def test_pq_rerank_recall_vs_exact_l2(spark):
    """Two-stage PQ (ADC shortlist -> exact rerank) must recover most
    of the true L2 top-k; raw ADC ranks are allowed to be coarser but
    must still beat random."""
    from real_time_big_data_analytics_spark.operators import similarity as S

    true = {(r.query_id, r.vec_id) for r in S.exact_l2_topk(spark, SF_CORRECT).collect()}
    assert true
    rerank = {
        (r.query_id, r.vec_id) for r in S.knn_pq_rerank(spark, SF_CORRECT).collect()
    }
    recall = len(true & rerank) / len(true)
    assert recall >= 0.7, f"pq rerank recall {recall:.2f} < 0.7"

    adc = {(r.query_id, r.vec_id) for r in S.knn_pq_adc(spark, SF_CORRECT).collect()}
    adc_recall = len(true & adc) / len(true)
    assert adc_recall >= 0.15, f"raw adc recall {adc_recall:.2f}"


def test_pq_codebook_shape_and_determinism(spark):
    from real_time_big_data_analytics_spark.operators import similarity as S

    cb = S.pq_train_codebook(spark, SF_CORRECT).collect()
    assert len(cb) == S.PQ_N_SUB * S.PQ_N_CODES
    for r in cb:
        assert len(r.center) == 64 // S.PQ_N_SUB
    again = S.pq_train_codebook(spark, SF_CORRECT).collect()
    a = sorted((r.sub, r.code, tuple(round(x, 9) for x in r.center)) for r in cb)
    b = sorted((r.sub, r.code, tuple(round(x, 9) for x in r.center)) for r in again)
    assert a == b


def test_ivf_index_append_covers_corpus_and_places_correctly(spark, sf_dir):
    """After the append pass: every corpus vector is in the index
    exactly once, every appended vector sits in its nearest saved
    centroid's cell, and per-cell counts are consistent."""
    from real_time_big_data_analytics_spark.operators.similarity import (
        ivf_index_append_audit,
    )

    rows = ivf_index_append_audit(spark, sf_dir).collect()
    n_corpus = spark.read.parquet(f"{sf_dir}/embeddings.parquet").count()
    n_batch = (
        spark.read.parquet(f"{sf_dir}/embeddings.parquet")
        .filter(F.col("vec_id") % 10 == 0)
        .count()
    )
    assert sum(r.n_vectors for r in rows) == n_corpus
    assert sum(r.n_appended for r in rows) == n_batch
    for r in rows:
        assert 0 <= r.n_appended <= r.n_vectors


def test_embedding_cohort_drift_bounds(spark, sf_dir):
    from pyspark.sql import functions as F

    from real_time_big_data_analytics_spark.operators.similarity import (
        embedding_cohort_drift,
    )

    rows = embedding_cohort_drift(spark, sf_dir).collect()
    assert rows
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    totals = {r.label: r.n for r in emb.groupBy("label").agg(F.count("*").alias("n")).collect()}
    for r in rows:
        assert -1.0 <= r.centroid_cosine <= 1.0 + 1e-9
        assert r.n_cohort0 + r.n_cohort1 == totals[r.label]
    # deterministic: the split is a pure function of vec_id
    again = {
        r.label: r.centroid_cosine
        for r in embedding_cohort_drift(spark, sf_dir).collect()
    }
    assert {r.label: r.centroid_cosine for r in rows} == again


def test_identical_cohorts_have_zero_gap(spark, tmp_path):
    """Two copies of the same vectors as cohorts → L2 gap 0, cosine 1."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from real_time_big_data_analytics_spark.operators.similarity import (
        embedding_cohort_drift,
    )

    vecs = [[float(i + j) for j in range(4)] for i in range(6)]
    tbl = pa.table({
        "vec_id": pa.array([0, 1, 2, 3, 4, 5], pa.int64()),
        # even/odd ids carry IDENTICAL vectors pairwise
        "embedding": pa.array([vecs[i // 2] for i in range(6)],
                              pa.list_(pa.float32())),
        "label": pa.array([7] * 6, pa.int32()),
    })
    d = tmp_path / "ident"
    d.mkdir()
    pq.write_table(tbl, d / "embeddings.parquet")
    r = embedding_cohort_drift(spark, str(d)).collect()[0]
    assert r.centroid_l2_gap == 0.0
    assert abs(r.centroid_cosine - 1.0) < 1e-9


def test_ivf_append_invariants_all_green(spark, sf_dir):
    from real_time_big_data_analytics_spark.operators.similarity import (
        ivf_append_invariants,
    )

    r = ivf_append_invariants(spark, sf_dir).collect()[0]
    assert r.corpus_covered and r.batch_covered and r.cells_consistent
    assert r.n_appended < r.n_indexed


def test_knn_graph_structure_and_brute_agreement(spark, sf_dir):
    import math

    from real_time_big_data_analytics_spark.operators.similarity import knn_graph

    rows = knn_graph(spark, sf_dir, k=3).collect()
    per_src = {}
    for r in rows:
        per_src.setdefault(r.src, []).append((r.rk, r.dst, r.cos_sim))
    emb = {
        r.vec_id: (r.label, r.embedding)
        for r in spark.read.parquet(f"{sf_dir}/embeddings.parquet").collect()
    }
    # every source has <= 3 neighbors, ranks dense from 1, sims descending
    for src, lst in per_src.items():
        lst.sort()
        assert [e[0] for e in lst] == list(range(1, len(lst) + 1))
        sims = [e[2] for e in lst]
        assert sims == sorted(sims, reverse=True)
    # spot-check 5 sources against brute force within the label block
    def cos(a, b):
        d = sum(x * y for x, y in zip(a, b))
        return d / (math.sqrt(sum(x * x for x in a)) * math.sqrt(sum(y * y for y in b)))

    for src in sorted(per_src)[:5]:
        lab, v = emb[src]
        cands = sorted(
            (
                (round(cos(v, w), 4), -other)  # desc sim, asc id via neg
                for other, (l2, w) in emb.items()
                if l2 == lab and other != src
            ),
            key=lambda t: (-t[0], -t[1]),
        )[:3]
        want = [(-i, s) for s, i in [(c[0], c[1]) for c in cands]]
        got = [(e[1], e[2]) for e in per_src[src]]
        assert got == [(int(w[0]), w[1]) for w in want], src


def test_rrf_fuses_both_rankers(spark, sf_dir):
    from real_time_big_data_analytics_spark.operators.similarity import (
        RRF_K,
        rrf_hybrid_search,
    )

    rows = rrf_hybrid_search(spark, sf_dir).collect()
    by_term = {}
    for r in rows:
        by_term.setdefault(r.term, []).append(r)
    assert len(by_term) == 3
    for term, rs in by_term.items():
        assert [r.rrf_rank for r in sorted(rs, key=lambda r: r.rrf_rank)] == list(
            range(1, len(rs) + 1)
        )
        # the seed doc is rank 1 in BOTH rankings -> it must win fusion
        top = min(rs, key=lambda r: r.rrf_rank)
        assert top.rk_lex == 1 and top.rk_sem == 1
        assert abs(top.rrf_score - 2 / (RRF_K + 1)) < 1e-6
        # docs present in both lists outrank same-rank singletons
        for r in rs:
            assert r.rk_lex is not None or r.rk_sem is not None


def test_rrf_scores_match_rank_formula(spark, sf_dir):
    from real_time_big_data_analytics_spark.operators.similarity import (
        RRF_K,
        rrf_hybrid_search,
    )

    for r in rrf_hybrid_search(spark, sf_dir).collect():
        want = (1 / (RRF_K + r.rk_lex) if r.rk_lex else 0) + (
            1 / (RRF_K + r.rk_sem) if r.rk_sem else 0
        )
        assert abs(r.rrf_score - want) < 1e-6


def test_mmr_greedy_invariants(spark, sf_dir):
    """MMR: k distinct picks per query; step 1 equals brute-force
    top-1; greedy scores are non-increasing (candidate pool shrinks
    and penalties only grow, so each step's max cannot rise)."""
    from real_time_big_data_analytics_spark.operators.similarity import (
        MMR_K,
        knn_bruteforce,
        mmr_diversified_topk,
    )

    rows = mmr_diversified_topk(spark, sf_dir).collect()
    top1 = {
        r.query_id: r.vec_id for r in knn_bruteforce(spark, sf_dir).collect() if r.rk == 1
    }
    by_q = {}
    for r in rows:
        by_q.setdefault(r.query_id, []).append(r)
    assert len(by_q) > 0
    for q, picks in by_q.items():
        picks.sort(key=lambda r: r.step)
        assert [r.step for r in picks] == list(range(1, MMR_K + 1))
        assert len({r.vec_id for r in picks}) == MMR_K  # no repeats
        assert picks[0].vec_id == top1[q]  # relevance-first seed
        scores = [r.mmr_score for r in picks]
        assert all(a >= b - 1e-9 for a, b in zip(scores, scores[1:]))


def test_pca_power_matches_numpy(spark, sf_dir):
    """The unrolled matrix-free recurrence must equal a numpy replay
    of the same three iterations, and the direction must have
    substantially converged to numpy's exact top eigenvector."""
    import numpy as np

    from real_time_big_data_analytics_spark.operators import similarity as sim
    from real_time_big_data_analytics_spark.sources.tables import load_table

    rows = sorted(
        sim.embedding_pca_power(spark, sf_dir).collect(), key=lambda r: r.pos
    )
    X = np.array(
        load_table(spark, sf_dir, "embeddings")
        .orderBy("vec_id")
        .select("embedding")
        .toPandas()["embedding"]
        .tolist(),
        dtype=float,
    )
    d = X.shape[1]
    assert len(rows) == d

    v = np.full(d, 1.0 / np.sqrt(d))
    for _ in range(sim.PCA_ITERS):
        s = X.T @ (X @ v)
        v = s / np.linalg.norm(s)
    lam = np.linalg.norm(s)
    for r, si in zip(rows, s):
        assert abs(r.loading - si / lam) < 1e-3
    assert abs(rows[0].eigval_cov - lam / len(X)) < max(1e-3, lam / len(X) * 1e-3)

    # Rayleigh sanity: the harness embedding cloud is near-isotropic
    # (lambda_2/lambda_1 ~ 1), where NO fixed iteration count can
    # isolate the exact top eigenvector — the honest invariants are
    # that the returned direction is unit-norm, its Rayleigh quotient
    # beats the average eigenvalue (better than a random direction),
    # and the reported eigenvalue never exceeds the true maximum.
    w, _ = np.linalg.eigh(X.T @ X)
    got = np.array([r.loading for r in rows])
    assert abs(np.linalg.norm(got) - 1.0) < 1e-2
    rayleigh = got @ (X.T @ (X @ got)) / (got @ got)
    assert rayleigh > w.mean()
    assert rows[0].eigval_cov <= w[-1] / len(X) + 1e-3


def test_blockmatmul_equals_bruteforce_exactly(spark, sf_dir):
    """The BLAS path must reproduce the HOF brute-force path row for
    row (same rounding, same ranking), and must plan as an
    Arrow-batched MapInPandas — never row-wise Python."""
    from real_time_big_data_analytics_spark.operators import similarity as sim

    brute = {
        (r.query_id, r.rk): (r.vec_id, r.sim)
        for r in sim.knn_bruteforce(spark, sf_dir).collect()
    }
    block = {
        (r.query_id, r.rk): (r.vec_id, r.sim)
        for r in sim.knn_blockmatmul(spark, sf_dir).collect()
    }
    assert block == brute

    from real_time_big_data_analytics_spark.plans.inspect import explain_str

    plan = explain_str(sim.knn_blockmatmul(spark, sf_dir))
    assert "MapInPandas" in plan
    assert "BatchEvalPython" not in plan


def test_embedding_outliers_matches_numpy(spark, sf_dir):
    """Top-k Mahalanobis outliers must equal a numpy replay (same
    explicit-moment variance, same rounded ranking), and d2 must be
    on the chi-square(d) scale."""
    import numpy as np

    from real_time_big_data_analytics_spark.operators import similarity as sim
    from real_time_big_data_analytics_spark.sources.tables import load_table

    rows = sim.embedding_outliers(spark, sf_dir).collect()
    pdf = (
        load_table(spark, sf_dir, "embeddings")
        .orderBy("vec_id")
        .select("vec_id", "embedding")
        .toPandas()
    )
    X = np.array(pdf.embedding.tolist(), dtype=float)
    mu = X.mean(0)
    var = (np.sum(X * X, 0) - len(X) * mu * mu) / (len(X) - 1)
    d2 = np.round(((X - mu) ** 2 / var).sum(1), 4)
    order = sorted(zip(-d2, pdf.vec_id))[: sim.MAHA_TOPK]
    assert len(rows) == sim.MAHA_TOPK
    for r, (nd2, vid) in zip(rows, order):
        assert r.vec_id == vid
        assert abs(r.maha_d2 - (-nd2)) < 2e-3
    d = X.shape[1]
    # E[d2] = d for in-cloud points; outliers must exceed the mean
    assert all(r.maha_d2 > d for r in rows)
    assert rows[0].maha_d2 == max(r.maha_d2 for r in rows)


def test_lsh_plane_sweep_monotone_structure(spark, sf_dir):
    """More planes must never coarsen the index: bucket count is
    non-decreasing, candidate pairs and scan fraction non-increasing;
    marginals must reconstruct the corpus size."""
    from real_time_big_data_analytics_spark.operators import similarity as sim
    from real_time_big_data_analytics_spark.sources.tables import load_table

    rows = sorted(
        sim.lsh_plane_sweep(spark, sf_dir).collect(), key=lambda r: r.n_planes
    )
    n = load_table(spark, sf_dir, "embeddings").count()
    assert [r.n_planes for r in rows] == sorted(sim.LSH_SWEEP_PLANES)
    for r in rows:
        # avg_bucket * n_buckets == corpus size
        assert abs(r.avg_bucket * r.n_buckets - n) < 0.01
        assert r.max_bucket <= n
        assert 0.0 < r.scan_fraction <= 1.0
    for a, b in zip(rows, rows[1:]):
        assert a.n_buckets <= b.n_buckets
        assert a.candidate_pairs >= b.candidate_pairs
        assert a.scan_fraction >= b.scan_fraction


def test_semantic_threshold_sweep_monotone(spark, sf_dir):
    """Counts must be non-increasing in the threshold, consistent
    with the base pair set at each cutoff."""
    from real_time_big_data_analytics_spark.operators import similarity as sim

    rows = sorted(
        sim.semantic_threshold_sweep(spark, sf_dir).collect(),
        key=lambda r: r.threshold,
    )
    base = sim.embedding_cosine_pairs(
        spark, sf_dir, threshold=min(sim.SEM_SWEEP_THRESHOLDS)
    ).collect()
    # thresholds with zero surviving pairs drop out of the grouped
    # result (identically on both engines) — expect exactly the
    # populated ones
    expected = [
        round(t, 2)
        for t in sorted(sim.SEM_SWEEP_THRESHOLDS)
        if any(p.cos_sim >= t - 1e-9 for p in base)
    ]
    assert [r.threshold for r in rows] == expected
    for r in rows:
        hits = [p for p in base if p.cos_sim >= r.threshold - 1e-9]
        assert r.n_pairs == len(hits)
        assert r.n_affected_vectors == len(
            {p.a_id for p in hits} | {p.b_id for p in hits}
        )
    for a, b in zip(rows, rows[1:]):
        assert a.n_pairs >= b.n_pairs
        assert a.n_affected_vectors >= b.n_affected_vectors


# --- round 9: HNSW (VERDICT r8 ask #5) --------------------------------


def test_hnsw_recall_floor_and_exact_sims(spark, sf_dir):
    """HNSW@ef=64 must hit the pinned recall floor vs brute force
    (measured 1.0 at sf0.001/0.01 and 1.0 at sf0.1 this round; floor
    0.85 leaves margin), and every returned sim must equal the exact
    cosine for that pair."""
    brute = {
        (r.query_id, r.vec_id): r.sim
        for r in similarity.knn_bruteforce(spark, sf_dir).collect()
    }
    approx = similarity.knn_hnsw(spark, sf_dir).collect()
    hits = sum((r.query_id, r.vec_id) in brute for r in approx)
    assert hits >= 0.85 * len(brute)
    exact = {
        (r.query_id, r.vec_id): r.sim
        for r in similarity._all_sims(spark, sf_dir).collect()
    }
    for r in approx:
        assert abs(r.sim - exact[(r.query_id, r.vec_id)]) < 1e-9
    per_q = {}
    for r in approx:
        per_q.setdefault(r.query_id, []).append(r)
    assert set(per_q) == set(range(similarity.N_QUERIES))
    for q, rs in per_q.items():
        assert len(rs) <= similarity.TOP_K
        assert all(r.vec_id != q for r in rs)  # never the query itself


def test_hnsw_deterministic_across_runs(spark, sf_dir):
    """Same corpus, two independent builds: identical results (the
    hash-stability requirement — levels from id hashes, insertion by
    sorted vec_id, rounded-distance tie-breaks, sorted neighbor
    iteration)."""
    a = sorted(
        (r.query_id, r.vec_id, r.rk)
        for r in similarity.knn_hnsw(spark, sf_dir).collect()
    )
    b = sorted(
        (r.query_id, r.vec_id, r.rk)
        for r in similarity.knn_hnsw(spark, sf_dir).collect()
    )
    assert a == b


def test_hnsw_recall_improves_with_ef(spark, sf_dir):
    """The sweep's reason to exist: a tiny beam must not outscore a
    saturated one, and the saturated beam should be near-exact."""
    true_k = {
        (r.query_id, r.vec_id)
        for r in similarity.knn_bruteforce(spark, sf_dir).collect()
    }
    cands = similarity._hnsw_candidates(
        spark, sf_dir, similarity.TOP_K, similarity.HNSW_EF_SWEEP
    )
    from pyspark.sql import Window

    emb = similarity.spread(
        similarity.load_table(spark, sf_dir, "embeddings")
    )
    q = emb.filter(F.col("vec_id") < similarity.N_QUERIES).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("q")
    )
    ranked = (
        cands.join(emb.select("vec_id", "embedding"), "vec_id")
        .join(F.broadcast(q), "query_id")
        .select(
            "ef", "query_id", "vec_id",
            similarity.round2(
                cosine_similarity("q", "embedding"), 6
            ).alias("sim"),
        )
        .withColumn(
            "rk",
            F.row_number().over(
                Window.partitionBy("ef", "query_id").orderBy(
                    F.desc("sim"), F.asc("vec_id")
                )
            ),
        )
        .filter(F.col("rk") <= similarity.TOP_K)
        .collect()
    )
    recall = {}
    for ef in similarity.HNSW_EF_SWEEP:
        got = {(r.query_id, r.vec_id) for r in ranked if r.ef == ef}
        recall[ef] = len(got & true_k) / len(true_k)
    efs = sorted(recall)
    assert recall[efs[-1]] >= 0.9  # saturated beam near-exact
    for ef in efs:
        assert recall[ef] >= similarity.HNSW_SWEEP_FLOORS[ef] - 1e-9
    assert recall[efs[0]] <= recall[efs[-1]] + 1e-9


def test_hnsw_sweep_flags_all_true(spark, sf_dir):
    rows = similarity.hnsw_recall_sweep(spark, sf_dir).collect()
    assert [r.ef for r in rows] == sorted(similarity.HNSW_EF_SWEEP)
    for r in rows:
        assert r.n_queries == similarity.N_QUERIES
        assert r.k == similarity.TOP_K
        assert r.sims_exact and r.within_k and r.recall_ok


def test_hnsw_indexed_equals_fresh_build_exactly(spark, sf_dir):
    """The persisted-graph search must reproduce the fresh-build
    results EXACTLY (same graph + same beam search) — the drift guard
    between the builder's search and the edge-table replayer."""
    fresh = sorted(
        (r.query_id, r.vec_id, r.rk, r.sim)
        for r in similarity.knn_hnsw(spark, sf_dir).collect()
    )
    idx = sorted(
        (r.query_id, r.vec_id, r.rk, r.sim)
        for r in similarity.knn_hnsw_indexed(spark, sf_dir).collect()
    )
    assert idx == fresh and len(idx) > 0
    # the index is reused, not rebuilt: same staged dir both times
    a = similarity.hnsw_index_write(spark, sf_dir)
    b = similarity.hnsw_index_write(spark, sf_dir)
    assert a == b
    import os

    assert os.path.exists(os.path.join(a, "_staging_complete"))


def test_hnsw_index_append_invariants_all_true(spark, sf_dir):
    """Round 10 (VERDICT r9 ask #5): the append lifecycle's flags —
    every appended node reachable from its shard's entry point, degree
    bounds held through overflow pruning, serving recall over the
    UPDATED graph at the fresh-build floor."""
    row = similarity.hnsw_index_append_invariants(spark, sf_dir).collect()[0]
    assert row.corpus_covered and row.appended_connected
    assert row.degree_bounded and row.recall_floor_met
    assert row.n_batch > 0 and row.nodes_indexed > row.n_batch


def test_hnsw_appended_vector_is_retrievable(spark, sf_dir):
    """The sharpest retrievability pin: query the UPDATED persisted
    graph with an APPENDED vector's own embedding (under a synthetic
    query id so self-exclusion cannot hide it) — the top hit must be
    that vector at distance ~0. A broken insert (node written but not
    linked) cannot pass: beam search only reaches linked nodes."""
    import os

    from pyspark.sql import functions as F

    index_dir = similarity.hnsw_append_stage(spark, sf_dir)
    emb = similarity.spread(
        similarity.load_table(spark, sf_dir, "embeddings")
    )
    # a few appended vectors, one per shard where possible
    targets = [
        (int(r.vec_id), [float(x) for x in r.embedding])
        for r in emb.filter(
            (F.col("vec_id") % 10 == 0)
            & (F.col("vec_id") >= similarity.N_QUERIES)
        )
        .orderBy("vec_id")
        .limit(8)
        .collect()
    ]
    assert targets
    queries = [(-(i + 1), vec) for i, (_vid, vec) in enumerate(targets)]
    want = {-(i + 1): vid for i, (vid, _vec) in enumerate(targets)}
    edges = spark.read.parquet(os.path.join(index_dir, "edges_v2"))
    corpus = emb.withColumn(
        "shard", (F.col("vec_id") % similarity.HNSW_SHARDS).cast("int")
    )
    fn = similarity._hnsw_search_edges_fn(
        queries, 1, similarity.HNSW_EF_SEARCH, similarity.HNSW_M
    )
    cands = (
        corpus.groupBy("shard")
        .cogroup(edges.groupBy("shard"))
        .applyInPandas(fn, "query_id bigint, vec_id bigint")
    )
    # per query take the global best by exact cosine
    qdf = spark.createDataFrame(
        [(qid, vec) for qid, vec in queries],
        "query_id bigint, q array<float>",
    )
    best = (
        cands.join(emb.select("vec_id", "embedding"), "vec_id")
        .join(F.broadcast(qdf), "query_id")
        .select(
            "query_id",
            "vec_id",
            similarity.cosine_similarity("q", "embedding").alias("sim"),
        )
    )
    top = {
        r.query_id: (r.vec_id, r.sim)
        for r in similarity._ranked_topk(best, 1).collect()
    }
    for qid, vid in want.items():
        got_vid, got_sim = top[qid]
        assert got_vid == vid, (qid, vid, top[qid])
        assert got_sim > 0.999999


def test_hnsw_append_base_results_preserved(spark, sf_dir):
    """Pre-existing serving results: for queries over the BASE graph,
    the updated graph returns base vectors with the same exact-cosine
    scores (re-scored), and overall serving recall stays floor-gated
    (asserted by the invariants query). Here we pin the narrower
    no-corruption property: every (query, base-vector) hit served
    from the updated graph has a sim identical to the exact cosine."""
    import os

    from pyspark.sql import functions as F

    index_dir = similarity.hnsw_append_stage(spark, sf_dir)
    emb = similarity.spread(
        similarity.load_table(spark, sf_dir, "embeddings")
    )
    queries = [
        (int(r.vec_id), [float(x) for x in r.embedding])
        for r in emb.filter(F.col("vec_id") < similarity.N_QUERIES)
        .select("vec_id", "embedding")
        .collect()
    ]
    edges = spark.read.parquet(os.path.join(index_dir, "edges_v2"))
    corpus = emb.withColumn(
        "shard", (F.col("vec_id") % similarity.HNSW_SHARDS).cast("int")
    )
    fn = similarity._hnsw_search_edges_fn(
        queries, similarity.TOP_K, similarity.HNSW_EF_SEARCH, similarity.HNSW_M
    )
    cands = (
        corpus.groupBy("shard")
        .cogroup(edges.groupBy("shard"))
        .applyInPandas(fn, "query_id bigint, vec_id bigint")
    )
    exact = similarity._all_sims(spark, sf_dir).withColumnRenamed(
        "sim", "exact_sim"
    )
    bad = (
        cands.join(exact, ["query_id", "vec_id"], "left")
        .filter(F.col("exact_sim").isNull())
        .count()
    )
    assert bad == 0  # every served pair exists in the exact relation


# --- round 11: HNSW delete maintenance ---------------------------------


def test_hnsw_delete_invariants_all_true(spark, sf_dir):
    """VERDICT r10 ask #4 'done' bind: deleted ids never returned
    (both tombstone-serving and post-compaction), survivors reachable,
    M bound held through repair, recall over the survivor truth at the
    0.85 floor, and the per-shard threshold decision populated."""
    row = similarity.hnsw_index_delete_invariants(spark, sf_dir).collect()[0]
    assert row.tombstone_serve_clean and row.deleted_never_returned
    assert row.no_deleted_refs and row.survivors_reachable
    assert row.degree_bounded and row.recall_floor_met
    assert row.survivors_covered
    assert 0 < row.n_deleted < row.n_corpus
    assert row.shards_compacted == similarity.HNSW_SHARDS


def test_hnsw_compaction_is_not_vacuous(spark, sf_dir):
    """Adversarial control: the UNCOMPACTED base edge table still
    references deleted ids — the audit that passes on edges_compacted
    must FAIL on edges_base, proving no_deleted_refs measures the
    compaction, not the query plumbing."""
    import os

    from pyspark.sql import functions as F

    index_dir = similarity.hnsw_delete_stage(spark, sf_dir)
    base = spark.read.parquet(os.path.join(index_dir, "edges_base"))
    compacted = spark.read.parquet(
        os.path.join(index_dir, "edges_compacted")
    )
    def refs_deleted(edges):
        return (
            edges.filter(
                (F.col("node_id") % 17 == 3)
                | (F.col("neighbor_id") % 17 == 3)
            ).count()
        )
    assert refs_deleted(base) > 0
    assert refs_deleted(compacted) == 0
    # compaction shrank the node set by exactly the tombstone count
    base_nodes = base.select("node_id").distinct().count()
    comp_nodes = compacted.select("node_id").distinct().count()
    n_deleted = (
        similarity.spread(
            similarity.load_table(spark, sf_dir, "embeddings")
        ).filter(F.col("vec_id") % 17 == 3).count()
    )
    assert base_nodes - comp_nodes == n_deleted


def test_hnsw_compacted_graph_serves_near_neighbors(spark, sf_dir):
    """Retrievability through the repair: query the compacted graph
    with a SURVIVOR's own embedding under a synthetic query id — the
    top hit must be that survivor (distance ~0), proving the repaired
    links keep its neighborhood searchable."""
    import os

    from pyspark.sql import functions as F

    index_dir = similarity.hnsw_delete_stage(spark, sf_dir)
    emb = similarity.spread(
        similarity.load_table(spark, sf_dir, "embeddings")
    )
    # a survivor adjacent to the deleted set: vec_id 20 (20%17=3 is
    # deleted... 20 % 17 == 3 -> deleted! pick 21)
    probe = emb.filter(F.col("vec_id") == 21).collect()[0]
    assert probe.vec_id % 17 != 3
    queries = [(-1, [float(x) for x in probe.embedding])]
    survivors = emb.filter(F.col("vec_id") % 17 != 3).withColumn(
        "shard", (F.col("vec_id") % similarity.HNSW_SHARDS).cast("int")
    )
    cedges = spark.read.parquet(os.path.join(index_dir, "edges_compacted"))
    fn = similarity._hnsw_search_edges_fn(
        queries, similarity.TOP_K, similarity.HNSW_EF_SEARCH,
        similarity.HNSW_M,
    )
    got = (
        survivors.groupBy("shard")
        .cogroup(cedges.groupBy("shard"))
        .applyInPandas(fn, "query_id bigint, vec_id bigint")
        .collect()
    )
    assert any(int(r.vec_id) == 21 for r in got)


def test_murmur_twin_matches_spark_hash_and_shards_spread(spark):
    """The driver-side Murmur3 twin used to PLAN the shard exchange's
    partition count must match Spark's hash() exactly, and the chosen
    count must place every shard id in its own partition — otherwise
    AQE-proof repartitioning would still serialize graph builds."""
    ints = list(range(-5, 40)) + [2**31 - 1, -(2**31)]
    rows = (
        spark.createDataFrame([(i,) for i in ints], "x int")
        .select("x", F.hash("x").alias("h"))
        .collect()
    )
    for r in rows:
        assert similarity._murmur3_int32(r.x) == r.h, r.x
    p = similarity._spread_parts(similarity.HNSW_SHARDS)
    hs = {similarity._murmur3_int32(s) % p for s in range(similarity.HNSW_SHARDS)}
    assert len(hs) == similarity.HNSW_SHARDS
    # the memoized planner agrees with a fresh computation, and a
    # NON-default shard count gets its own spread (ADVICE r11)
    assert similarity._SPREAD_PARTS_MEMO[similarity.HNSW_SHARDS] == p
    p6 = similarity._spread_parts(6)
    assert len({similarity._murmur3_int32(s) % p6 for s in range(6)}) == 6
    # and through the real exchange: distinct spark partitions per shard
    df = spark.createDataFrame(
        [(s,) for s in range(similarity.HNSW_SHARDS)], "shard int"
    )
    got = (
        similarity._sharded(df)
        .applyInPandas(
            lambda pdf: __import__("pandas").DataFrame(
                {"shard": [int(pdf["shard"].iloc[0])], "n": [len(pdf)]}
            ),
            "shard int, n bigint",
        )
        .collect()
    )
    assert sorted(r.shard for r in got) == list(range(similarity.HNSW_SHARDS))
