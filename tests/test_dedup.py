"""Dedup family: idempotence, recall of approximate vs exact
(SURVEY.md §5.2 property checks)."""

from __future__ import annotations

from pyspark.sql import functions as F

from real_time_big_data_analytics_spark.operators import dedup_approx, text
from tests.conftest import SF_CORRECT


def test_exact_dedup_idempotent(spark, sf_dir):
    once = text.exact_dedup(spark, sf_dir)
    assert once.count() == once.dropDuplicates(["doc_id"]).count()
    # dedup of already-deduped ids is a fixpoint
    ids = {r.doc_id for r in once.select("doc_id").collect()}
    again = {r.doc_id for r in text.exact_dedup(spark, sf_dir).collect()}
    assert ids == again


def test_dup_groups_cover_all_docs(spark, sf_dir):
    stats = text.dup_group_stats(spark, sf_dir)
    total = stats.agg(F.sum("n_copies")).collect()[0][0]
    n_docs = spark.read.parquet(f"{sf_dir}/documents.parquet").count()
    assert total == n_docs


def test_minhash_recall_vs_exact_jaccard(spark):
    """MinHash LSH must recover most exact-Jaccard≥0.8 pairs."""
    exact = {
        (r.a_id, r.b_id)
        for r in text.ngram_jaccard_pairs(spark, SF_CORRECT, threshold=0.8).collect()
    }
    assert exact, "fixture should contain near-dup pairs at sf0.01"
    approx = {
        (r.a_id, r.b_id)
        for r in dedup_approx.minhash_lsh_pairs(
            spark, SF_CORRECT, jaccard_distance_threshold=0.25
        ).collect()
    }
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.9, f"minhash recall {recall:.2f} < 0.9"


def test_simhash_similar_docs_have_close_signatures(spark):
    """Near-dup pairs (exact jaccard) should sit within small Hamming
    distance of each other's simhash."""
    pairs = text.ngram_jaccard_pairs(spark, SF_CORRECT, threshold=0.8).collect()
    sigs = {
        r.doc_id: r.sig
        for r in dedup_approx.simhash_signatures(spark, SF_CORRECT).collect()
    }
    assert pairs
    for p in pairs:
        ham = sum(a != b for a, b in zip(sigs[p.a_id], sigs[p.b_id]))
        assert ham <= 16, f"near-dup pair {(p.a_id, p.b_id)} hamming {ham}"


def test_near_dup_clusters_are_consistent(spark):
    """Cluster reps must be component minima: every doc's rep is ≤ its
    id, reps are their own reps, and both ends of every pair land in
    the same cluster."""
    from real_time_big_data_analytics_spark.operators.clustering import near_dup_clusters

    labels = {r.doc_id: r.cluster_rep for r in near_dup_clusters(spark, SF_CORRECT).collect()}
    assert labels
    for doc, rep in labels.items():
        assert rep <= doc
        assert labels[rep] == rep  # representative is canonical
    pairs = text.ngram_jaccard_pairs(spark, SF_CORRECT, threshold=0.8).collect()
    for p in pairs:
        assert labels[p.a_id] == labels[p.b_id]


def test_component_local_and_distributed_paths_agree(spark):
    """The adaptive two-phase connected components must give identical
    (node, label) assignments whether the closure finishes with the
    driver-side union-find (edge count under LOCAL_CC_MAX_EDGES) or
    the distributed min-label loop (forced via local_max_edges=0)."""
    from real_time_big_data_analytics_spark.operators.clustering import (
        min_label_components,
    )

    # chain 1-2-3, clique 10-11-12, singleton-pair 20-21: exercises
    # diameter>1 (the chain needs >1 propagation round)
    edges = [(1, 2), (2, 3), (10, 11), (11, 12), (10, 12), (20, 21)]
    pairs = spark.createDataFrame(edges, "a_id bigint, b_id bigint")
    local = {(r.node, r.label) for r in min_label_components(pairs).collect()}
    dist = {
        (r.node, r.label)
        for r in min_label_components(pairs, local_max_edges=0).collect()
    }
    expect = {(1, 1), (2, 1), (3, 1), (10, 10), (11, 10), (12, 10), (20, 20), (21, 20)}
    assert local == expect
    assert dist == expect


def test_max_df_cap_bounds_hot_shingle_pairs(spark, tmp_path):
    """A boilerplate shingle shared by every doc must not fan out into
    O(n²) candidate pairs: with the df cap it is dropped from the join,
    so only genuinely-overlapping docs pair up."""
    boiler = "terms of service apply"
    rows = []
    # 40 docs sharing ONLY the boilerplate prefix + unique tails
    for i in range(40):
        tail = " ".join(f"tok{i}x{j}" for j in range(10))
        rows.append((i, f"{boiler} {tail}", "en", "srcA"))
    # one true near-dup pair with no boilerplate
    dup = "alpha beta gamma delta epsilon zeta eta theta"
    rows.append((100, dup, "en", "srcB"))
    rows.append((101, dup + " iota", "en", "srcB"))
    df = spark.createDataFrame(rows, "doc_id long, text string, lang string, source string")
    df.write.mode("overwrite").parquet(str(tmp_path / "documents.parquet"))

    capped = text.ngram_jaccard_pairs(
        spark, str(tmp_path), threshold=0.05, max_df=5
    ).collect()
    got = {(r.a_id, r.b_id) for r in capped}
    # the planted near-dup survives; no boilerplate-only pair does
    assert (100, 101) in got
    assert all(a >= 100 for a, _ in got), f"boilerplate pairs leaked: {got}"

    # sanity: without the cap the hot shingle fans out into the
    # quadratic pair space the cap exists to prevent (C(40,2) pairs)
    uncapped = text.ngram_jaccard_pairs(
        spark, str(tmp_path), threshold=0.05, max_df=10**9
    )
    assert uncapped.count() >= 40 * 39 // 2


def test_max_df_default_is_noop_at_harness_scale(spark):
    """Default cap (DEFAULT_MAX_DF) must not change results on the
    harness corpus — max shingle df there is far below the cap."""
    capped = {
        (r.a_id, r.b_id, r.jaccard)
        for r in text.ngram_jaccard_pairs(spark, SF_CORRECT).collect()
    }
    uncapped = {
        (r.a_id, r.b_id, r.jaccard)
        for r in text.ngram_jaccard_pairs(spark, SF_CORRECT, max_df=10**9).collect()
    }
    assert capped == uncapped and capped


def test_keep_best_prefers_longest_cluster_member(spark, sf_dir):
    from pyspark.sql import functions as F

    from real_time_big_data_analytics_spark.operators import clustering

    kept = {r.doc_id for r in clustering.dedup_keep_best(spark, sf_dir).collect()}
    clusters = clustering.near_dup_clusters(spark, sf_dir).collect()
    chars = {
        r.doc_id: r.n_chars
        for r in spark.read.parquet(f"{sf_dir}/documents.parquet")
        .select("doc_id", "n_chars")
        .collect()
    }
    by_cluster = {}
    for r in clusters:
        by_cluster.setdefault(r.cluster_rep, []).append(r.doc_id)
    assert by_cluster
    for members in by_cluster.values():
        survivors = [m for m in members if m in kept]
        assert len(survivors) == 1
        best = max(members, key=lambda d: (chars[d], -d))
        assert survivors[0] == best


def test_ppjoin_matches_capped_jaccard_join(spark, sf_dir):
    """At harness SFs the max_df cap is a no-op, so the prefix-filtered
    exact algorithm and the capped group-join must emit identical
    pair sets and scores."""
    from real_time_big_data_analytics_spark.operators import text

    pp = {
        (r.a_id, r.b_id): r.jaccard
        for r in text.ppjoin_jaccard_pairs(spark, sf_dir).collect()
    }
    capped = {
        (r.a_id, r.b_id): r.jaccard
        for r in text.ngram_jaccard_pairs(spark, sf_dir).collect()
    }
    assert pp == capped
    assert pp  # non-degenerate at every harness SF


def test_ppjoin_prefix_is_shorter_than_doc(spark, sf_dir):
    """The candidate stage must join on strictly fewer tokens than the
    full shingle stream (the whole point of prefix filtering)."""
    from pyspark.sql import functions as F

    from real_time_big_data_analytics_spark.operators import text
    from real_time_big_data_analytics_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents")
    full = text.shingles(docs).count()
    t = 0.8
    arr = text._with_shingle_array(docs, 3)
    pref_len = arr.select(
        F.sum(
            F.greatest(
                F.size("sh_arr") - F.ceil(F.lit(t) * F.size("sh_arr")) + 1,
                F.lit(0),
            )
        )
    ).collect()[0][0]
    assert pref_len < 0.45 * full  # ~1-t of the stream plus one token per doc


def test_containment_catches_subdocument_dup(spark, tmp_path):
    """A short doc quoted verbatim inside a much longer one: Jaccard
    stays far below threshold, containment hits 1.0."""
    import pyspark.sql.functions as F  # noqa: F401

    from real_time_big_data_analytics_spark.operators import text

    quote = " ".join(f"q{i}" for i in range(20))
    page = quote + " " + " ".join(f"p{i}" for i in range(400))
    rows = [
        (1, quote, "en", "a", len(quote)),
        (2, page, "en", "b", len(page)),
        (3, " ".join(f"z{i}" for i in range(50)), "en", "c", 1),
    ]
    df = spark.createDataFrame(
        rows, "doc_id LONG, text STRING, lang STRING, source STRING, n_chars LONG"
    )
    df.write.mode("overwrite").parquet(str(tmp_path / "documents.parquet"))

    cont = text.containment_pairs(spark, str(tmp_path), threshold=0.9).collect()
    assert [(r.a_id, r.b_id, r.contained_id) for r in cont] == [(1, 2, 1)]
    assert cont[0].containment == 1.0
    jac = text.ngram_jaccard_pairs(spark, str(tmp_path), threshold=0.5).collect()
    assert jac == []  # Jaccard is blind to the quoted-subset pair


def _brute_jaccard_pairs(docs, threshold=0.8, n=3):
    """Ground truth on the driver: doc_id -> distinct word n-gram set,
    all pairs scored, rounded at 4 like both engines."""
    sets = {}
    for doc_id, text_ in docs:
        ws = text_.split(" ")
        sh = {" ".join(ws[i : i + n]) for i in range(len(ws) - n + 1)} if len(ws) >= n else set()
        if sh:
            sets[doc_id] = sh
    out = {}
    ids = sorted(sets)
    for i, a in enumerate(ids):
        for b in ids[i + 1 :]:
            inter = len(sets[a] & sets[b])
            if not inter:
                continue
            jac = round(inter / len(sets[a] | sets[b]), 4)
            if jac >= threshold:
                out[(a, b)] = jac
    return out


def test_ppjoin_property_random_corpora(spark):
    """Prefix filtering must be lossless on adversarial corpora: tiny
    vocab + repeated phrases force heavy shingle sharing, near-ties in
    document frequency, and size-filter borderline pairs."""
    import random

    rng = random.Random(7)
    from real_time_big_data_analytics_spark.operators import text

    for trial in range(4):
        vocab = [f"w{i}" for i in range(rng.randint(4, 12))]
        docs = []
        for d in range(rng.randint(5, 25)):
            base = [rng.choice(vocab) for _ in range(rng.randint(3, 30))]
            docs.append((d, " ".join(base)))
            if rng.random() < 0.5:  # plant a near-dup with light edits
                mut = list(base)
                for _ in range(rng.randint(0, 2)):
                    mut[rng.randrange(len(mut))] = rng.choice(vocab)
                docs.append((1000 + d, " ".join(mut)))
        df = spark.createDataFrame(
            [(i, t, "en", "s", len(t)) for i, t in docs],
            "doc_id LONG, text STRING, lang STRING, source STRING, n_chars LONG",
        )
        import tempfile, os
        with tempfile.TemporaryDirectory() as tmp:
            df.write.mode("overwrite").parquet(os.path.join(tmp, "documents.parquet"))
            got = {
                (r.a_id, r.b_id): r.jaccard
                for r in text.ppjoin_jaccard_pairs(spark, tmp).collect()
            }
        want = _brute_jaccard_pairs(docs)
        assert got == want, f"trial {trial}: {got} != {want}"


def test_ppjoin_exact_tie_at_threshold(spark):
    """Pairs sitting EXACTLY at J = t must survive every lossless
    filter. Float-rounded constants break this: 0.8/1.8 rounds UP to
    0.4444444444444445 so the positional-filter alpha overshoots the
    exact ceil(4(a+b)/9) for sz_a+sz_b in {63, 117, ...}; float
    0.8·sz overshoots ceil(t·|d|) for |d| a multiple of 5 (prefix one
    token short); and min >= float(0.8)·max prunes the tight 4/5 pair.
    Fixtures: a 28-shingle doc contained in a 35-shingle doc
    (overlap 28, J = 28/35 = 0.8, sz_a+sz_b = 63 — the ADVICE case)
    and a 4-in-5 containment (J = 4/5, the size-filter tie)."""
    import os
    import tempfile

    from real_time_big_data_analytics_spark.operators import text

    w = [f"t{i:02d}" for i in range(40)]
    a30 = " ".join(w[:30])          # 28 distinct 3-shingles
    b37 = " ".join(w[:37])          # 35 shingles, first 28 shared
    c6 = " ".join(w[:6])            # 4 shingles
    d7 = " ".join(w[:7])            # 5 shingles, first 4 shared
    docs = [(1, a30), (2, b37), (3, c6), (4, d7)]
    df = spark.createDataFrame(
        [(i, t, "en", "s", len(t)) for i, t in docs],
        "doc_id LONG, text STRING, lang STRING, source STRING, n_chars LONG",
    )
    with tempfile.TemporaryDirectory() as tmp:
        df.write.mode("overwrite").parquet(os.path.join(tmp, "documents.parquet"))
        got = {
            (r.a_id, r.b_id): r.jaccard
            for r in text.ppjoin_jaccard_pairs(spark, tmp, threshold=0.8).collect()
        }
    want = _brute_jaccard_pairs(docs, threshold=0.8)
    assert (1, 2) in want and want[(1, 2)] == 0.8  # fixture sanity
    assert (3, 4) in want and want[(3, 4)] == 0.8
    assert got == want, f"{got} != {want}"


def test_incremental_jaccard_is_cross_batch_slice_of_full(spark, sf_dir):
    """The incremental pass must equal the cross-tag slice of the full
    pair set — no pair lost, none invented, scores identical."""
    from real_time_big_data_analytics_spark.operators import text

    full = {
        (r.a_id, r.b_id): r.jaccard
        for r in text.ngram_jaccard_pairs(spark, sf_dir).collect()
    }
    want = {}
    for (a, b), j in full.items():
        if (a % 10 == 0) != (b % 10 == 0):
            new, old = (a, b) if a % 10 == 0 else (b, a)
            want[(new, old)] = j
    got = {
        (r.new_id, r.old_id): r.jaccard
        for r in text.incremental_jaccard_pairs(spark, sf_dir).collect()
    }
    assert got == want
    assert got  # non-degenerate on harness data


def test_threshold_sweep_monotone_and_consistent(spark, sf_dir):
    """Cumulative sweep counts must be monotone non-increasing in the
    threshold and agree with direct per-threshold pair queries."""
    from real_time_big_data_analytics_spark.operators import text as t

    rows = sorted(
        t.dedup_threshold_sweep(spark, sf_dir).collect(),
        key=lambda r: r.threshold,
    )
    assert [r.threshold for r in rows] == sorted(
        th for th in t.SWEEP_THRESHOLDS
        if any(abs(x.threshold - th) < 1e-9 for x in rows)
    )
    assert all(
        a.n_pairs >= b.n_pairs and a.n_docs >= b.n_docs
        for a, b in zip(rows, rows[1:])
    )
    # spot-check one interior threshold against the direct pair query
    direct = t.ngram_jaccard_pairs(spark, sf_dir, threshold=0.8).count()
    by_thr = {round(r.threshold, 1): r.n_pairs for r in rows}
    if 0.8 in by_thr:
        assert by_thr[0.8] == direct
    assert rows and rows[0].n_pairs >= rows[0].n_docs // 2


def test_training_mix_v2_matches_python_replay(spark, sf_dir):
    """The targeted-mix pipeline must equal a python replay composed
    from the engine's own survivor set and DSIR scores, and its
    structural invariants must hold (fill <= 1, shares sum to 1,
    only lr >= 0 docs kept)."""
    from collections import defaultdict

    from real_time_big_data_analytics_spark.operators import clustering
    from real_time_big_data_analytics_spark.operators.text import (
        dsir_doc_scores,
    )
    from real_time_big_data_analytics_spark.sources.tables import load_table

    rows = {r.lang: r for r in clustering.training_mix_v2(spark, sf_dir).collect()}
    surv = {
        r.doc_id for r in clustering.dedup_corpus(spark, sf_dir).collect()
    }
    scores = dsir_doc_scores(spark, sf_dir).collect()
    ntok = {
        r.doc_id: len(r.text.split(" "))
        for r in load_table(spark, sf_dir, "documents")
        .select("doc_id", "text")
        .collect()
    }
    kept = sorted(
        (r.lang, r.doc_id, r.lr_doc)
        for r in scores
        if r.doc_id in surv and r.lr_doc >= 0
    )
    by_lang = defaultdict(list)
    for lang, did, lr in kept:
        by_lang[lang].append((did, lr))
    total_tokens = sum(ntok[d] for _, d, _ in kept)
    B = clustering.PACK_BIN_TOKENS
    assert set(rows) == set(by_lang)
    for lang, docs in by_lang.items():
        docs.sort()
        toks = [ntok[d] for d, _ in docs]
        offs, bins = 0, set()
        for t in toks:
            bins.add(offs // B)
            offs += t
        r = rows[lang]
        assert r.n_docs == len(docs)
        assert r.n_bins == len(bins)
        assert r.total_tokens == sum(toks)
        assert abs(r.avg_lr - sum(lr for _, lr in docs) / len(docs)) < 1e-5
        assert abs(r.bin_fill - sum(toks) / (len(bins) * B)) < 1e-5
        assert 0.0 < r.bin_fill <= 1.0 + 1e-9
        assert abs(r.token_share - sum(toks) / total_tokens) < 1e-5
        assert r.avg_lr >= 0
    assert abs(sum(r.token_share for r in rows.values()) - 1.0) < 1e-4


def test_size_prefilter_keeps_pairs_that_round_up_to_threshold(spark, tmp_path):
    """The pair is emitted on round2(J, 4) >= t, so the min/max size
    prefilter (and ppjoin's prefix and positional bounds) must not
    prune a pair whose J only ROUNDS up to t.
    Docs with nested distinct word 3-shingles: 31,999 of 40,000 gives
    J = min/max = 0.799975 -> 0.8 (emitted); 31,996 of 40,000 gives
    0.7999 (not emitted)."""
    words = [f"w{i}" for i in range(40_002)]  # 40,000 distinct shingles
    docs = [
        (1, " ".join(words)),
        (2, " ".join(words[:32_001])),  # 31,999 shingles, all in doc 1
        (3, " ".join(words[:31_998])),  # 31,996 shingles
    ]
    df = spark.createDataFrame(
        [(i, t, "en", "s", len(t)) for i, t in docs],
        "doc_id LONG, text STRING, lang STRING, source STRING, n_chars LONG",
    )
    df.write.mode("overwrite").parquet(str(tmp_path / "documents.parquet"))
    expected = {(1, 2): 0.8, (2, 3): 0.9999}
    assert _brute_jaccard_pairs(docs) == expected
    for op in (text.ngram_jaccard_pairs, text.ppjoin_jaccard_pairs):
        got = {
            (r.a_id, r.b_id): r.jaccard
            for r in op(spark, str(tmp_path), threshold=0.8).collect()
        }
        assert got == expected, op.__name__
