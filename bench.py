"""Driver benchmark: headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS].

Prints ONE JSON line:
  {"metric": "...", "value": <total sec>, "unit": "sec",
   "queries": {name: sec, ...}, "sf": <sf>}

and ALSO writes the same dict to BENCH_SUMMARY_r{N}.json (N inferred
as one past the newest driver-recorded BENCH_r*.json), so the
machine-readable receipt survives even if the driver's stdout tail
buffer truncates the (long) summary line — the r3 failure mode.

Each query is forced end-to-end with the noop sink (full computation,
no driver collect). Times are per-query wall clock after a shared
warm-up of the JVM/session.

``--isolate``: instead of the default back-to-back min-of-3 per query,
run 3 full PASSES over the headline set, each pass in a fresh
random order, and take the per-query min across passes. Back-to-back
repeats share whatever JVM/GC/code-cache state the previous queries
left behind in a fixed order; randomized passes decorrelate that, so
comparing the two modes splits shared-session interference from real
per-query regression (round-3 verdict ask #3).

Contention robustness (round 9, VERDICT r8 ask #1): in the default
mode every query's samples are BRACKETED by interleaved single-thread
calibration loops; queries whose bracket drifted >10% above the run's
baseline calibration are automatically requeued (quietest bracket
wins), and calibration-normalized per-query times land in the summary
as first-class fields (``queries_norm`` / ``value_norm`` / ``calib`` /
``brackets`` / ``requeued``) — so the recorded artifact reads the
engine, not whatever the host happened to be doing.
"""

from __future__ import annotations

import json
import os
import random
import sys
import time

REPO = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, REPO)

from real_time_big_data_analytics_spark.registry import all_queries
from real_time_big_data_analytics_spark.session import get_spark

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
# Processes in the multi-core calibration: 8, but never more than the
# host has cores, or a quiet small host reads as contended.
_MC_WORKERS = min(8, os.cpu_count() or 1)

HEADLINE = [
    "flagship_windowed_analytics",
    "q1_pricing_summary",
    "j2_revenue_by_nation_region",
    "q3_top_orders_by_revenue",
    "a2_topk_sources_other",
    "pivot_event_counts",
    "wf_sessionize_events",
    "l1_dup_group_stats",
    "l2_ngram_jaccard_pairs",
    "l3_knn_bruteforce",
    "l4_word_topk",
    "asof_purchase_attribution",
    "q6_forecast_revenue",
    "q18_large_volume_orders",
    "skew_salted_user_stats",
    "q9_product_profit",
    "q13_customer_distribution",
    "q16_supplier_part_segments",
    "t4_stream_windowed_analytics",
    # round-2 additions: the heaviest previously-unbenched queries,
    # so regressions in the composed pipeline / funnel / lang-ID /
    # q21 window families are visible round over round
    "l6_training_pipeline",
    "wf_funnel_counts",
    "l4_lang_id_ngram_confusion",
    "q21_waiting_suppliers",
    # round-3 additions: the corpus-wide vocab join (quality-LM) and
    # the sampled-fingerprint dedup pass — the two new shuffle-heavy
    # text ops
    "l4_unigram_logprob_quality",
    "l2_winnow_overlap_pairs",
    # late round-3 additions: the new TPC-H/incremental/time-series
    # families, one representative each
    "q2_min_cost_supplier",
    "cdc_upsert_state",
    "ts_ohlc_hourly",
    # this session's additions: the iterative graph family and the
    # BPE-trainer pair mining (vocab-bounded shuffle)
    "graph_trade_pagerank",
    "l4_bpe_merge_candidates",
    # this session's additions: blocked fuzzy matching (hash-join
    # self-pairing inside blocks) and BM25 retrieval (tf/df build +
    # broadcast query scoring) — the two new shuffle shapes
    "er_candidate_pairs",
    "l4_bm25_search",
    # late additions: the lossless prefix-filtered dedup join and the
    # two-phase distributed prefix-sum sweep — both new shuffle shapes
    "l2_ppjoin_jaccard_pairs",
    "wf_peak_concurrency",
    # closing additions: integer-ECDF KS test (third prefix-sum
    # application) and the blocked k-NN graph build
    "sf_ks_test_chars",
    "l3_knn_graph",
    # final-session additions: the lazily-composed iterative GD
    # trainer, the Morton-layout pruning replay (explode x2 +
    # bounds broadcast), and hybrid rank fusion (BM25 + cosine).
    # sf_bootstrap_mean_orders is deliberately NOT headlined: its
    # honest cost is the 32x-widened md5 projection (~8 s at sf0.1),
    # measured once in its docstring, and benching it would swamp the
    # regression signal of everything else.
    "m5_logreg_gd",
    "dq_zorder_pruning_audit",
    "l4_rrf_hybrid_search",
    # round-4 additions: the four new operator families — iterative
    # k-means (scalar-broadcast recurrence), BPE vocab-fold encoding,
    # LPA communities (integer-weight iterative argmax), and the MMR
    # greedy re-ranker (pool scan + k checkpointed picks)
    "m7_kmeans_lloyd",
    "l4_bpe_encode_stats",
    "graph_trade_communities",
    "l3_mmr_diversified_topk",
    # late round-4 additions: the broadcast runtime-filter probe (bit
    # arithmetic over every fact row) and the lossless length-band
    # fuzzy join (replicated band shuffle + bounded levenshtein) —
    # the two new per-row-cost shapes. Ridge/Zipf/FDR are deliberately
    # NOT headlined: each is one aggregate pass over already-benched
    # scan shapes (q1/l4_word_topk cover their cost envelope).
    "dq_bloom_semijoin_prune",
    "er_lossless_fuzzy_names",
    # second-wave round-4 additions: the Arrow block-matmul scoring
    # path (first MapInPandas in the bench — measures the Arrow
    # transfer + BLAS batch shape against l3_knn_bruteforce's HOF
    # twin), the corpus adjacent-pair extraction feeding TextRank
    # (zip_with explode + vocab-bounded iteration), and the HBOS
    # double-histogram score join. Holt/WOE/SRM/DP/target-encode ride
    # already-benched aggregate shapes and stay unheadlined.
    "l3_knn_blockmatmul",
    "l4_textrank_keywords",
    "dq_hbos_outliers",
    # fifth-wave round-4 additions: the basket self-join (pairs within
    # an order — a genuinely new fanout shape) and the DSIR weight
    # build (tokenize + two vocab-grain LMs + per-doc score join).
    # AUC/LTV/anomaly/backtest ride already-benched shapes.
    "rec_copurchase_topk",
    "l4_importance_weights",
    # the composed targeted-mix pipeline (dedup closure + DSIR gate +
    # per-lang packing) — the v2 counterpart of l6_training_pipeline
    "l6_training_mix_v2",
    # round-5 addition: the real stdlib PNG pixel codec — a new cost
    # shape (CPU-bound Arrow-batched decode behind a metadata
    # repartition, no data shuffle). wav/quarantine ride the same
    # shape and stay unheadlined.
    "l5_png_pixel_decode_stats",
    # round-7 addition: the in-engine Kafka wire path — a new cost
    # shape (Python DataSource scan: one fetch task per Kafka
    # partition over a real socket + RecordBatch v2 decode + from_json
    # parse). First run includes one-time broker staging (distributed
    # produce of the full events table, ~25 s at sf0.1); min-of-3
    # reports the steady-state fetch+decode scan (~3.5 s).
    "s_kafka_wire_roundtrip",
    # round-9 additions: the two genuinely new cost shapes — the
    # motion-compensated video codec (per-doc Python MC encode inside
    # mapInPandas, zero shuffle) and shard-and-merge HNSW (per-shard
    # graph build + beam search in applyInPandas plus TWO brute-force
    # verification passes in its invariant twin). s_es_wire_pushdown /
    # s_delta_partition_prune ride already-benched scan shapes and the
    # hnsw sweep rides l3_knn_hnsw's, so they stay unheadlined.
    "l5_video_pframe_stats",
    "l3_knn_hnsw",
    # round-10 addition: the HNSW append lifecycle — persisted-edge
    # adjacency reconstruction + O(batch·log n) insert inside cogroup
    # applyInPandas + the BFS/degree audit + ONE brute-force recall
    # pass. The kafka idempotent produce and the delta sidecar/cm
    # queries ride already-benched wire/scan shapes and stay
    # unheadlined.
    "l3_hnsw_index_append",
    # round-11 additions: the two genuinely new cost shapes — the
    # pure-Python snappy codec inside the wire produce/fetch path
    # (per-byte Python compression cycled with gzip/none), and the
    # HNSW delete lifecycle (tombstone-excluding beam search +
    # cogrouped one-hop compaction + reachability/recall audits).
    # The group-resume, page-index, bloom, constraints, restore and
    # codec-matrix queries ride already-benched wire/metadata/scan
    # shapes and stay unheadlined.
    "s_kafka_wire_snappy_roundtrip",
    "l3_hnsw_index_delete",
]


def _prev_bench() -> tuple[str, dict] | None:
    """Latest BENCH_r{N}.json in the repo root (driver-recorded), for
    the round-over-round regression delta."""
    import re

    candidates = []
    for fn in os.listdir(REPO):
        m = re.fullmatch(r"BENCH_r(\d+)\.json", fn)
        if m:
            candidates.append((int(m.group(1)), fn))
    # Newest first, but skip crashed rounds ("parsed": null, rc!=0) —
    # fall back to the most recent bench that actually has timings.
    for _, fn in sorted(candidates, reverse=True):
        try:
            with open(os.path.join(REPO, fn)) as f:
                data = json.load(f)
        except (OSError, json.JSONDecodeError):
            continue
        parsed = data.get("parsed") or data
        if isinstance(parsed, dict) and isinstance(parsed.get("queries"), dict):
            return fn, parsed["queries"]
    return None


def force(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _ambient() -> dict:
    """Host-condition snapshot (VERDICT r6 ask #4): loadavg, memory /
    page-cache, cpufreq if readable, and a ~2 s single-thread
    calibration loop, so BENCH_DRIFT can normalize per-query times
    against a same-process CPU constant instead of arguing from
    spread. All fields best-effort — absent readings record None."""
    amb: dict = {}
    try:
        amb["loadavg"] = [round(x, 2) for x in os.getloadavg()]
    except OSError:
        amb["loadavg"] = None
    mem = {}
    try:
        with open("/proc/meminfo") as f:
            for line in f:
                k, v = line.split(":", 1)
                if k in ("MemTotal", "MemFree", "MemAvailable", "Cached"):
                    mem[k] = int(v.split()[0])  # kB
    except OSError:
        pass
    amb["meminfo_kb"] = mem or None
    try:
        with open("/sys/devices/system/cpu/cpu0/cpufreq/scaling_cur_freq") as f:
            amb["cpu0_khz"] = int(f.read().strip())
    except OSError:
        amb["cpu0_khz"] = None
    # Calibration: fixed arithmetic workload, time it. The constant is
    # pure-Python single-thread CPU; contention or frequency scaling
    # shows up directly as a larger number. ~0.6-2 s nominal.
    t0 = time.monotonic()
    acc = 0
    for i in range(10_000_000):
        acc += i * i & 0xFFFF
    amb["calib_sec"] = round(time.monotonic() - t0, 4)
    amb["calib_check"] = acc & 0xFFFF  # pin the loop against DCE-style edits
    # MULTI-CORE calibration (round 9): _MC_WORKERS processes running
    # the same loop concurrently. Background multi-core load (other
    # tenants' Spark jobs) inflates THIS reading while leaving the single-thread
    # one untouched — exactly the contention mode that inflated r8/r9
    # shuffle-heavy queries ~15% at normal single-thread speed, which
    # per-query normalization cannot correct (it senses the wrong
    # dimension). The drift doc compares calib_mc_sec across rounds to
    # attribute that class of movement to the host.
    try:
        import multiprocessing as mp

        with mp.get_context("fork").Pool(_MC_WORKERS) as pool:
            t0 = time.monotonic()
            pool.map(_mc_calib_worker, range(_MC_WORKERS))
            amb["calib_mc_sec"] = round(time.monotonic() - t0, 4)
    except Exception:
        amb["calib_mc_sec"] = None
    return amb


def _mc_calib_worker(_i: int) -> int:
    acc = 0
    for i in range(10_000_000):
        acc += i * i & 0xFFFF
    return acc & 0xFFFF


def _calib_quick() -> float:
    """Short single-thread calibration (~0.1-0.3 s nominal): the same
    fixed arithmetic workload as _ambient()'s 10M-iteration loop at
    1/5 length, cheap enough to interleave BETWEEN queries (VERDICT r8
    ask #1). Ambient CPU contention or frequency scaling inflates the
    reading directly."""
    t0 = time.monotonic()
    acc = 0
    for i in range(2_000_000):
        acc += i * i & 0xFFFF
    dt = time.monotonic() - t0
    if acc & 0xFFFF == 0xDEAD:  # pin the loop against DCE-style edits
        print(acc)
    return dt


def _mc_calib_quick_worker(_i: int) -> int:
    acc = 0
    for i in range(2_000_000):
        acc += i * i & 0xFFFF
    return acc & 0xFFFF


def _mc_calib_quick() -> float | None:
    """Short MULTI-CORE calibration (round 10, VERDICT r9 ask #6):
    _MC_WORKERS forked processes running the quick loop concurrently.
    Co-tenant MULTI-core load inflates this while leaving the single-thread
    reading untouched — the contention mode r9 could only attribute
    post-hoc; interleaved per-bracket it becomes a requeue signal and
    a normalization axis. ~0.2-0.4 s nominal; None if fork fails."""
    try:
        import multiprocessing as mp

        with mp.get_context("fork").Pool(_MC_WORKERS) as pool:
            t0 = time.monotonic()
            pool.map(_mc_calib_quick_worker, range(_MC_WORKERS))
            return time.monotonic() - t0
    except Exception:
        return None


def _timed_runs(queries, name: str, runs: int = 3) -> list[float]:
    out = []
    for _ in range(runs):
        t0 = time.monotonic()
        force(queries[name].fn(spark_holder[0], SF_DIR))
        out.append(time.monotonic() - t0)
    return out


spark_holder: list = [None]


def _bracketed_sweep(queries, names: list[str]) -> tuple[dict, dict, list]:
    """Contention-robust measurement (VERDICT r8 ask #1): every query's
    3 samples are BRACKETED by interleaved single-thread calibrations;
    a query whose bracket drifted >10% above the run's baseline
    calibration (= min over all calibrations seen, the uncontended
    host speed) is automatically REQUEUED to the back of the line (up
    to 2 retries) and the attempt with the quietest bracket wins.

    Round 10 (VERDICT r9 ask #6): each bracket ALSO runs a quick
    multi-core calibration. A query whose mc inflation exceeds ~1.2×
    its single-thread inflation is under multi-core co-tenant load the
    single-thread axis cannot see — it requeues on the same retry
    budget, and the recorded mc inflation feeds the mc-normalized
    totals in the summary.

    Returns (attempts_by_name, calib_stats, requeued_names):
    attempts_by_name[name] = list of {"samples", "bracket", "infl",
    "mc_sec", "mc_infl"}.
    """
    # settle the baselines with several quick calibrations up front
    calibs = [_calib_quick() for _ in range(5)]
    mc_calibs = [c for c in (_mc_calib_quick(), _mc_calib_quick()) if c]

    def baseline_of(cs: list[float]) -> float:
        # ROBUST baseline: the 25th percentile, not the minimum — an
        # idle host's single-thread speed intrinsically fluctuates
        # ±5-10% (frequency scaling; measured: 125 solo samples,
        # median/p25 = 1.06), so a lucky minimum would read steady
        # state as contention and requeue most of the suite for
        # nothing. p25 tracks the quiet-but-real host speed.
        return sorted(cs)[len(cs) // 4]

    attempts: dict[str, list[dict]] = {n: [] for n in names}
    requeued: list[str] = []
    queue = list(names)
    retries: dict[str, int] = {n: 0 for n in names}
    last_calib = _calib_quick()
    calibs.append(last_calib)
    while queue:
        name = queue.pop(0)
        pre = last_calib
        samples = _timed_runs(queries, name)
        post = _calib_quick()
        calibs.append(post)
        last_calib = post
        mc = _mc_calib_quick()
        if mc is not None:
            mc_calibs.append(mc)
        baseline = baseline_of(calibs)
        mc_baseline = baseline_of(mc_calibs) if mc_calibs else None
        bracket_mean = (pre + post) / 2.0
        infl = bracket_mean / baseline
        mc_infl = (
            mc / mc_baseline if (mc is not None and mc_baseline) else None
        )
        attempts[name].append(
            {
                "samples": samples,
                "bracket": [pre, post],
                "infl": infl,
                "mc_sec": mc,
                "mc_infl": mc_infl,
            }
        )
        single_contended = infl > 1.10
        mc_contended = (
            mc_infl is not None and mc_infl > 1.2 * max(infl, 1.0)
        )
        if (single_contended or mc_contended) and retries[name] < 2:
            retries[name] += 1
            queue.append(name)  # contended bracket: try again later
            if name not in requeued:
                requeued.append(name)
    baseline = baseline_of(calibs)
    mc_baseline = baseline_of(mc_calibs) if mc_calibs else None
    # recompute every attempt's inflation against the FINAL baselines
    # so early attempts (judged against a young, possibly lucky
    # baseline) compare on the same scale as late ones
    for atts in attempts.values():
        for a in atts:
            a["infl"] = (a["bracket"][0] + a["bracket"][1]) / 2.0 / baseline
            a["mc_infl"] = (
                a["mc_sec"] / mc_baseline
                if (a["mc_sec"] is not None and mc_baseline)
                else None
            )
    calib_stats = {
        "baseline_sec": round(baseline, 4),
        "baseline_kind": "p25",
        "n": len(calibs),
        "min_sec": round(min(calibs), 4),
        "median_sec": round(sorted(calibs)[len(calibs) // 2], 4),
        "max_sec": round(max(calibs), 4),
        "spread_pct": round((max(calibs) / min(calibs) - 1) * 100, 1),
        "samples_sec": [round(c, 4) for c in calibs],
    }
    if mc_calibs:
        calib_stats["mc"] = {
            "baseline_sec": round(mc_baseline, 4),
            "baseline_kind": "p25",
            "n": len(mc_calibs),
            "min_sec": round(min(mc_calibs), 4),
            "median_sec": round(sorted(mc_calibs)[len(mc_calibs) // 2], 4),
            "max_sec": round(max(mc_calibs), 4),
            "spread_pct": round(
                (max(mc_calibs) / min(mc_calibs) - 1) * 100, 1
            ),
            "samples_sec": [round(c, 4) for c in mc_calibs],
        }
    return attempts, calib_stats, requeued


def _next_round() -> int:
    """One past the newest driver-recorded BENCH_r{N}.json (the file
    for the CURRENT round doesn't exist yet while bench.py runs)."""
    import re

    rounds = [0]
    for fn in os.listdir(REPO):
        m = re.fullmatch(r"BENCH_r(\d+)\.json", fn)
        if m:
            rounds.append(int(m.group(1)))
    return max(rounds) + 1


def main() -> None:
    isolate = "--isolate" in sys.argv[1:]
    ambient_pre = _ambient()
    spark = get_spark("rtba-bench")
    queries = all_queries()

    # Warm-up: exercise each execution path once (parquet scan +
    # codegen, shuffle agg/join, streaming machinery) at the smallest
    # SF so per-query timings measure steady-state latency, not
    # one-time JVM/JIT/checkpoint setup.
    warm_sf = "/root/testdata/sf0.001"
    if not os.path.isdir(warm_sf):
        warm_sf = SF_DIR
    for wq in ("flagship_windowed_analytics", "j1_revenue_by_mktsegment",
               "t4_stream_windowed_analytics"):
        force(queries[wq].fn(spark, warm_sf))
    force(spark.read.parquet(os.path.join(SF_DIR, "region.parquet")))

    # Best of three runs per query: repeats reuse nothing (noop sink,
    # no caching) but sit past one-time plan/codegen compilation, so
    # min() reports steady-state latency. Three, not two — on a shared
    # host a single contended run otherwise sets the recorded number
    # (observed 2-7× first-run inflation after idle periods).
    spark_holder[0] = spark
    calib_stats = None
    brackets: dict[str, dict] = {}
    requeued: list[str] = []
    if isolate:
        # 3 randomized full passes: per-query min across passes, with
        # a fixed seed so reruns are reproducible.
        runs_by_name: dict[str, list[float]] = {n: [] for n in HEADLINE}
        rng = random.Random(4)
        for _ in range(3):
            order = list(HEADLINE)
            rng.shuffle(order)
            for name in order:
                t0 = time.monotonic()
                force(queries[name].fn(spark, SF_DIR))
                runs_by_name[name].append(time.monotonic() - t0)
    else:
        # Default mode (the driver's grading run): calibration-
        # bracketed sweep with auto-requeue on ambient drift (VERDICT
        # r8 ask #1 — the committed r8 headline was a degraded-host
        # run; this makes the artifact read the ENGINE, not the host).
        attempts, calib_stats, requeued = _bracketed_sweep(queries, HEADLINE)
        runs_by_name = {}
        for name, atts in attempts.items():
            # quietest attempt on BOTH axes: single-thread inflation
            # and multi-core inflation (r9 ask #6 — a single-quiet
            # but mc-loud attempt is still a contended measurement)
            best = min(
                atts,
                key=lambda a: max(a["infl"], a["mc_infl"] or a["infl"]),
            )
            brackets[name] = {
                "bracket_sec": [round(b, 4) for b in best["bracket"]],
                "infl": round(best["infl"], 4),
                "attempts": len(atts),
            }
            if best["mc_infl"] is not None:
                brackets[name]["mc_sec"] = round(best["mc_sec"], 4)
                brackets[name]["mc_infl"] = round(best["mc_infl"], 4)
            runs_by_name[name] = best["samples"]
    # Headline per-query figure stays min-of-3 (steady-state latency,
    # methodology unchanged since r1); the RAW samples now land in the
    # receipt too (VERDICT r6 ask #5) so drift tables can compare mins
    # and see the within-session spread instead of arguing from a
    # single sample per round.
    timings = {n: round(min(rs), 3) for n, rs in runs_by_name.items()}
    samples = {n: [round(r, 3) for r in rs] for n, rs in runs_by_name.items()}
    # Calibration-normalized per-query times (first-class, VERDICT r8
    # ask #1): raw / bracket-inflation — what the same run would have
    # read at the baseline (uncontended) host speed. Raw stays the
    # headline for methodology continuity; normalized is what
    # BENCH_DRIFT compares across rounds.
    timings_norm = (
        {
            # deflate only: a bracket QUIETER than the p25 baseline is
            # normal fluctuation, not evidence the query would be slower
            n: round(t / max(brackets[n]["infl"], 1.0), 3)
            for n, t in timings.items()
        }
        if brackets
        else None
    )

    # End-to-end streaming throughput: events ingested through the
    # windowed streaming aggregation per second of wall clock — the
    # comparable number to the reference's ~35 rec/s envelope
    # (BASELINE.md "observed throughput"). This single number swung
    # 120k→72.7k across driver rounds while same-host replays held
    # steady (BENCH_DRIFT_r06.md: the swing is inter-session host
    # variance, not cadence). Five samples total (the headline's three
    # + two dedicated runs); the HEADLINE figure is the MEDIAN-of-5
    # (ADVICE r6: min-of-5 recorded the best case, inflating vs prior
    # rounds' single-run methodology), with best + raw samples
    # recorded alongside so both readings stay available.
    n_events = spark.read.parquet(os.path.join(SF_DIR, "events.parquet")).count()
    t4_runs = list(runs_by_name["t4_stream_windowed_analytics"])
    for _ in range(2):
        t0 = time.monotonic()
        force(queries["t4_stream_windowed_analytics"].fn(spark, SF_DIR))
        t4_runs.append(time.monotonic() - t0)
    t4_sorted = sorted(t4_runs)
    t4_median = t4_sorted[len(t4_sorted) // 2]
    stream_rps = round(n_events / t4_median, 1)
    stream_rps_best = round(n_events / t4_sorted[0], 1)
    ambient_post = _ambient()

    sf = SF_DIR.rstrip("/").rsplit("sf", 1)[-1]
    out = {
        "metric": "headline query wall clock, noop sink",
        "value": round(sum(timings.values()), 3),
        "unit": "sec",
        "queries": timings,
        "samples": samples,
        "stream_events_per_sec": stream_rps,
        "stream_events_per_sec_best": stream_rps_best,
        "stream_t4_samples_sec": [round(t, 3) for t in t4_runs],
        "ambient": {"pre": ambient_pre, "post": ambient_post},
        "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
    }
    if timings_norm is not None:
        out["value_norm"] = round(sum(timings_norm.values()), 3)
        out["queries_norm"] = timings_norm
        out["calib"] = calib_stats
        out["brackets"] = brackets
        out["requeued"] = requeued
        # mc-NORMALIZED total (round 10, VERDICT r9 ask #6): raw
        # deflated by the winning bracket's MULTI-core inflation — the
        # reading a fully quiet 32-core host would have produced, the
        # axis single-thread normalization cannot sense. Reported
        # alongside, never replacing, the single-thread one.
        mc_norm = {
            n: round(
                t / max(brackets[n].get("mc_infl", 1.0) or 1.0, 1.0), 3
            )
            for n, t in timings.items()
            if n in brackets
        }
        if mc_norm:
            out["value_mcnorm"] = round(sum(mc_norm.values()), 3)
            out["queries_mcnorm"] = mc_norm
    # Round-over-round regression signal: per-query delta vs the last
    # driver-recorded bench (positive = slower this round).
    prev = _prev_bench()
    if prev is not None:
        ref_name, ref_timings = prev
        out["delta_vs"] = ref_name
        out["delta_sec"] = {
            n: round(t - ref_timings[n], 3)
            for n, t in timings.items()
            if n in ref_timings
        }
    if isolate:
        out["mode"] = "isolate"
    # Truncation-proof receipt: the driver captures stdout with a
    # bounded tail buffer (BENCH_r03.json:parsed was null because the
    # 39-query line outgrew it), so the FULL summary (raw samples,
    # ambient snapshots) lands in a file and the stdout line stays
    # compact — per-query raw samples and the ambient blocks would
    # roughly triple it and re-trigger the r3 failure mode.
    suffix = "_isolated" if isolate else ""
    path = os.path.join(REPO, f"BENCH_SUMMARY_r{_next_round():02d}{suffix}.json")
    try:
        with open(path, "w") as f:
            json.dump(out, f, indent=1)
            f.write("\n")
    except OSError:
        pass  # read-only checkout: the stdout line is still the receipt
    compact = {
        k: v
        for k, v in out.items()
        if k
        not in ("samples", "ambient", "queries_norm", "queries_mcnorm", "brackets")
    }
    if calib_stats is not None:
        compact["calib"] = {
            k: (
                {kk: vv for kk, vv in v.items() if kk != "samples_sec"}
                if k == "mc"
                else v
            )
            for k, v in calib_stats.items()
            if k != "samples_sec"
        }
    compact["ambient_calib_sec"] = {
        "pre": ambient_pre.get("calib_sec"),
        "post": ambient_post.get("calib_sec"),
    }
    print(json.dumps(compact))


if __name__ == "__main__":
    main()
