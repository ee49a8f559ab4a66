"""A-series analytics (SURVEY.md §2.3).

These internalize the aggregations the reference delegated to
Elasticsearch/Kibana after its sink (reference ConsumerESFinal.scala:93
``saveToEs``; dashboard.png panels): count-by-class donut (A1), top-k
terms with an "Other" residual bucket (A2/A4), sum-by-class (A3), the
now-15m time filter (A5), and count-over-time (A6).

Scale notes
-----------
The panels read through ``load_narrow``. When the table file is one
local file no larger than ``min(spark.sql.files.maxPartitionBytes,
spark.sql.files.openCostInBytes)`` (4 MB by default; sf0.1 ``events``
is 2.0 MB, ``documents`` 0.6 MB) its scan is one split on any core
count, and the scan is coalesced to one partition. That partition
satisfies every aggregate's and the global rank window's required
distribution, so the plan has no exchange and a panel runs as ONE
job (two for A5, below). A larger file, such as sf1 ``events``
(~20 MB), keeps its scan parallelism: every groupBy then compiles to
a partial (map-side) HashAggregate + one shuffle on the group keys +
final HashAggregate, the minimal shuffle plan. Group-key cardinality
is tiny (event types, languages, sources), so that shuffle moves only
pre-aggregated rows regardless of input size; these run unchanged at
100 TB. The top-k+Other operator is two aggregations (term counts →
rank) where the ranking input is already reduced to distinct-term
cardinality, so the window sort is cheap by construction.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.numeric import round2
from ..sources.tables import load_narrow, load_table


def count_by_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A1 — record count per class ("bolt users" donut)."""
    events = load_narrow(spark, sf_dir, "events")
    return events.groupBy("event_type").agg(F.count("*").alias("n"))


def sum_by_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A3 — donut sized by sum(value) per class."""
    events = load_narrow(spark, sf_dir, "events")
    return events.groupBy("event_type").agg(
        round2(F.sum("value")).alias("total_value"),
        F.count("*").alias("n"),
    )


def _topk_other(df: DataFrame, term: str, k: int) -> DataFrame:
    """Top-k terms by count with a residual "Other" bucket (A2/A4 core).

    Two-phase: (1) count per term — partial agg, shuffle only distinct
    terms; (2) rank terms and re-aggregate the tail into "Other".
    The rank input is distinct-term-sized, so the single-partition
    window sort is trivially small even at 100 TB input.
    """
    counts = df.groupBy(term).agg(F.count("*").alias("n"))
    w = Window.orderBy(F.desc("n"), F.asc(term))  # deterministic tiebreak
    ranked = counts.withColumn("rk", F.row_number().over(w))
    bucketed = ranked.withColumn(
        "term", F.when(F.col("rk") <= k, F.col(term)).otherwise(F.lit("Other"))
    )
    return bucketed.groupBy("term").agg(F.sum("n").alias("n"))


def topk_sources_other(spark: SparkSession, sf_dir: str, k: int = 5) -> DataFrame:
    """A2 — top-k `documents.source` terms + "Other" (location panel analog)."""
    docs = load_narrow(spark, sf_dir, "documents")
    return _topk_other(docs, "source", k)


def topk_lang_other(spark: SparkSession, sf_dir: str, k: int = 3) -> DataFrame:
    """A4 — top-k `documents.lang` terms + "Other" (language panel analog)."""
    docs = load_narrow(spark, sf_dir, "documents")
    return _topk_other(docs, "lang", k)


def recent_window_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A5 — Kibana's `from:now-15m` global time filter, internalized.

    "now" is pinned to max(ts) of the table so the query is
    deterministic. The 1-row max aggregate is broadcast, so the filter
    costs one scan + one broadcast-hash semi-style comparison — no
    shuffle of the fact table. Over a narrowed scan this still runs
    TWO jobs: the broadcast's max(ts) is a job of its own. A
    ``max(ts) over ()`` window would make it one, but at scale, where
    the scan is not narrowed, that window moves the whole fact table
    into one partition.
    """
    events = load_narrow(spark, sf_dir, "events")
    max_ts = events.agg(F.max("ts").alias("max_ts"))
    return (
        events.join(F.broadcast(max_ts))
        .filter(F.col("ts") >= F.col("max_ts") - F.expr("INTERVAL 15 MINUTES"))
        .groupBy("event_type")
        .agg(F.count("*").alias("n"), round2(F.sum("value")).alias("total_value"))
    )


def counts_over_time(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A6 — count of records per tumbling hour (Kibana date-histogram).

    Uses the same event-time tumbling semantics as the streaming twin
    (streaming/windows.py); batch and stream share one definition.
    """
    events = load_narrow(spark, sf_dir, "events")
    return (
        events.groupBy(F.window("ts", "1 hour").alias("w"))
        .agg(F.count("*").alias("n"))
        .select(F.col("w.start").alias("window_start"), "n")
    )


def flagship_windowed_analytics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flagship: 15-minute tumbling window × event_type → count + sum.

    The direct internalization of the reference's dashboard (donut
    count A1 + sum A3 sliced by Kibana's time histogram A6) as one
    native event-time aggregation.
    """
    events = load_narrow(spark, sf_dir, "events")
    return (
        events.groupBy(F.window("ts", "15 minutes").alias("w"), "event_type")
        .agg(F.count("*").alias("n"), round2(F.sum("value")).alias("total_value"))
        .select(
            F.col("w.start").alias("window_start"),
            "event_type",
            "n",
            "total_value",
        )
    )


def event_association_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A-family extension — market-basket association mining over
    per-user event-type baskets: for every type pair, support,
    directional confidence, and lift.

    The basket table is DISTINCT (user, type) — at most |types| rows
    per user — so within-user pair expansion is bounded by
    C(|types|, 2) per user and the pair aggregate by C(|types|, 2)
    total: every post-basket structure is bounded by the TYPE
    vocabulary, not the event volume. One shuffle builds baskets;
    the pair join co-partitions on user_id.
    """
    events = load_table(spark, sf_dir, "events")
    baskets = events.select("user_id", "event_type").distinct()
    n_users = baskets.select("user_id").distinct().count()  # scalar, one job
    per_type = baskets.groupBy("event_type").agg(F.count("*").alias("n_t"))
    a = baskets.select("user_id", F.col("event_type").alias("a"))
    b = baskets.select("user_id", F.col("event_type").alias("b"))
    pairs = (
        a.join(b, "user_id")
        .filter(F.col("a") < F.col("b"))
        .groupBy("a", "b")
        .agg(F.count("*").alias("n_ab"))
    )
    ta = per_type.select(F.col("event_type").alias("a"), F.col("n_t").alias("n_a"))
    tb = per_type.select(F.col("event_type").alias("b"), F.col("n_t").alias("n_b"))
    scored = pairs.join(F.broadcast(ta), "a").join(F.broadcast(tb), "b")
    return scored.select(
        "a",
        "b",
        "n_ab",
        F.round(F.col("n_ab") / F.lit(float(n_users)), 6).alias("support"),
        F.round(F.col("n_ab") / F.col("n_a"), 6).alias("conf_a_to_b"),
        F.round(F.col("n_ab") / F.col("n_b"), 6).alias("conf_b_to_a"),
        F.round(
            (F.col("n_ab") * F.lit(float(n_users))) / (F.col("n_a") * F.col("n_b")), 6
        ).alias("lift"),
    )
