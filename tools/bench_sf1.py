"""BENCH_SF1 (VERDICT r7 ask #4): the headline suite's top-10
wall-clock queries re-measured at an sf1-EQUIVALENT dataset (~6 M
lineitem rows) built by tools/scale_smoke's join-preserving 10x
replication of sf0.1.

Selection: the ten most expensive FACT-SCALING queries of the round-7
headline bench (``git show 630fba5:BENCH_SUMMARY_r07.json``; l3_mmr_diversified_topk is excluded and documented —
its input, embeddings, is a dimension table in this harness, so a 10x
fact replication measures nothing about it). Document-PAIR queries run
on the mostly-unique tagged corpus (scale_smoke.UNIQUE_QUERIES): a
verbatim 10x replication makes every doc a 10-way duplicate clique, a
property of the synthetic workload rather than the plan.

Timing: min-of-3 per query per scale after a shared warm-up, noop-sink
forced (full computation, no driver collect). Output: one JSON line +
BENCH_SF1.json with per-query base/sf1 seconds and the ratio; the
SCALE.md table is derived from this file. Linear-with-logs is the bar:
ratio ~<= k plus modest log terms; anything >> k is a scale bug.

Usage: python tools/bench_sf1.py [--k 10] [--sf /root/testdata/sf0.1]
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

import bench  # noqa: E402  (the noop-sink force)
from tools import scale_smoke  # noqa: E402

# Top-10 by round-7 headline wall clock, fact-scaling only (see
# module docstring for the one exclusion).
TOP10 = (
    "l6_training_mix_v2",
    "s_kafka_wire_roundtrip",
    "l6_training_pipeline",
    "rec_copurchase_topk",
    "l4_rrf_hybrid_search",
    "graph_trade_communities",
    "l2_ppjoin_jaccard_pairs",
    "dq_zorder_pruning_audit",
    "l2_ngram_jaccard_pairs",
    "graph_trade_pagerank",
)
EXCLUDED = {
    "l3_mmr_diversified_topk": "input (embeddings) is a dimension table "
    "in this harness; fact replication measures nothing about it "
    "(and its greedy unroll is pool-bounded, not corpus-bounded)",
    "s_kafka_wire_idempotent_produce": "rides s_kafka_wire_roundtrip's "
    "benched wire shape (same fetch/decode scan; staging differs only "
    "in header fields + replays)",
}
# s_es_wire_composite_agg left the excluded set in round 11: the
# version-scoped parsed-doc + composite-bucket-space caches ended the
# re-parse/re-group-per-page cost (hours-class at 10x through r10;
# 6.4 s measured after)

# Round-9/10 operators measured at 10x (VERDICT r9 ask #3): the HNSW
# paths scale on the EMBEDDINGS axis (scale_smoke.build_embed); the
# delta/ES/video queries scale on the fact axis (their stagers
# re-stage per corpus fingerprint, so the 10x number includes a
# one-time staging run amortized out by min-of-3).
R9R10_ADDS = (
    "l3_knn_hnsw_serving",      # the serving path, not the invariant twin
    "l3_hnsw_index_append",
    "s_delta_deletion_vectors",
    "s_delta_dv_sidecar",
    "s_delta_partition_prune",  # pruning ratio should be scale-invariant
    "s_es_wire_pushdown",
    "l5_video_pframe_stats",
)

# Names that are not registry entries: direct callables (the serving
# path of a query whose registered form carries verification twins).
def _special_queries():
    from real_time_big_data_analytics_spark.operators import similarity

    return {
        "l3_knn_hnsw_serving": lambda spark, sf: similarity.knn_hnsw(spark, sf)
    }


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--k", type=int, default=10)
    ap.add_argument("--sf", default="/root/testdata/sf0.1")
    ap.add_argument(
        "--merge",
        action="store_true",
        help="merge results into the existing BENCH_SF1.json instead of "
        "replacing it (round-10 incremental refresh)",
    )
    ap.add_argument("names", nargs="*")
    args = ap.parse_args()

    from real_time_big_data_analytics_spark.registry import all_queries
    from real_time_big_data_analytics_spark.session import get_spark

    spark = get_spark("rtba-bench-sf1")
    queries = all_queries()
    special = _special_queries()
    names = tuple(args.names) or TOP10

    def fn_of(name):
        return special[name] if name in special else queries[name].fn

    big = scale_smoke.build(spark, args.sf, args.k)
    big_uniq = (
        scale_smoke.build_unique(spark, args.sf, args.k)
        if any(n in scale_smoke.UNIQUE_QUERIES for n in names)
        else None
    )
    big_embed = (
        scale_smoke.build_embed(spark, args.sf, args.k)
        if any(n in scale_smoke.EMBED_QUERIES for n in names)
        else None
    )
    bench.force(queries["q1_pricing_summary"].fn(spark, args.sf))  # warm-up

    report = {}
    for name in names:
        if name in scale_smoke.EMBED_QUERIES:
            big_dir, corpus = big_embed, "embed"
        elif name in scale_smoke.UNIQUE_QUERIES:
            big_dir, corpus = big_uniq, "unique"
        else:
            big_dir, corpus = big, "verbatim"
        times = {}
        for label, sf_dir in (("base", args.sf), ("sf1", big_dir)):
            runs = []
            for _ in range(3):
                t0 = time.monotonic()
                bench.force(fn_of(name)(spark, sf_dir))
                runs.append(time.monotonic() - t0)
            times[label] = round(min(runs), 3)
        ratio = round(times["sf1"] / max(times["base"], 1e-9), 2)
        report[name] = {**times, "ratio": ratio, "corpus": corpus}
        print(
            f"{name:32s} base={times['base']:7.3f}s "
            f"sf1={times['sf1']:8.3f}s ratio={ratio:6.2f} ({corpus})",
            flush=True,
        )

    path = os.path.join(REPO, "BENCH_SF1.json")
    out = {
        "k": args.k,
        "base_sf": args.sf,
        "queries": report,
        "excluded": EXCLUDED,
    }
    if args.merge and os.path.exists(path):
        with open(path) as f:
            prev = json.load(f)
        merged_q = dict(prev.get("queries") or {})
        merged_q.update(report)
        out["queries"] = merged_q
        out["merged_rounds"] = sorted(
            set(prev.get("merged_rounds") or []) | {"r11"}
        )
    with open(path, "w") as f:
        json.dump(out, f, indent=1)
    print(json.dumps({"wrote": path, "k": args.k,
                      "ratios": {n: r["ratio"] for n, r in report.items()}}))


if __name__ == "__main__":
    main()
