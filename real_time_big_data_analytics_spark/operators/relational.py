"""Relational core: TPC-H-style aggregation, sorts/limits, set ops,
window functions, pivot, rollup, scalar functions
(SURVEY.md §2.2, §2.5-2.7).

The reference's per-record transforms (split/cast/encode, reference
ConsumerESFinal.scala:50-56, ProducerFinal.scala:73-79) become native
Catalyst expressions here; everything stays inside whole-stage codegen
with zero Python on the data path.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.numeric import round2
from ..sources.tables import load_table


def pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1-style pricing summary over lineitem.

    Filter pushes to the parquet scan; the groupBy has 6-ish distinct
    keys so partial aggregation reduces each input partition to a
    handful of rows before the (tiny) shuffle — the canonical
    scan-heavy plan that scales linearly with input.
    """
    li = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") <= F.lit("1998-09-02")
    )
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.groupBy("l_returnflag", "l_linestatus")
        .agg(
            round2(F.sum("l_quantity")).alias("sum_qty"),
            round2(F.sum("l_extendedprice")).alias("sum_base_price"),
            round2(F.sum(disc_price)).alias("sum_disc_price"),
            round2(F.sum(disc_price * (1 + F.col("l_tax")))).alias("sum_charge"),
            round2(F.avg("l_quantity")).alias("avg_qty"),
            round2(F.avg("l_extendedprice")).alias("avg_price"),
            round2(F.avg("l_discount")).alias("avg_disc"),
            F.count("*").alias("count_order"),
        )
    )


def top_orders_by_price(spark: SparkSession, sf_dir: str, k: int = 10) -> DataFrame:
    """Sort + limit (top-k) with deterministic tiebreak.

    Spark executes this as TakeOrderedAndProject — per-partition heap
    top-k then a k-row merge on the driver, no full sort — exactly the
    plan you want at 100 TB.
    """
    orders = load_table(spark, sf_dir, "orders")
    return (
        orders.select("o_orderkey", "o_custkey", "o_totalprice", "o_orderdate")
        .orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
        .limit(k)
    )


def union_priority_slices(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Set op: UNION (dedup) of two order slices."""
    orders = load_table(spark, sf_dir, "orders")
    urgent = orders.filter(F.col("o_orderpriority") == "1-URGENT")
    high_value = orders.filter(F.col("o_totalprice") > 400000)
    return (
        urgent.select("o_orderkey", "o_custkey")
        .union(high_value.select("o_orderkey", "o_custkey"))
        .distinct()
    )


def intersect_customer_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Set op: INTERSECT — customers with URGENT orders ∩ with 5-LOW orders."""
    orders = load_table(spark, sf_dir, "orders")
    a = orders.filter(F.col("o_orderpriority") == "1-URGENT").select(
        F.col("o_custkey").alias("custkey")
    )
    b = orders.filter(F.col("o_orderpriority") == "5-LOW").select(
        F.col("o_custkey").alias("custkey")
    )
    return a.intersect(b)


def except_customer_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Set op: EXCEPT — customers with orders but none URGENT."""
    orders = load_table(spark, sf_dir, "orders")
    all_c = orders.select(F.col("o_custkey").alias("custkey"))
    urgent = orders.filter(F.col("o_orderpriority") == "1-URGENT").select(
        F.col("o_custkey").alias("custkey")
    )
    return all_c.subtract(urgent)  # EXCEPT (distinct semantics)


def distinct_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DISTINCT projection."""
    return load_table(spark, sf_dir, "customer").select("c_mktsegment").distinct()


# --- window functions (SURVEY.md §2.5) ---


def topk_events_per_type(spark: SparkSession, sf_dir: str, k: int = 3) -> DataFrame:
    """row_number() top-k per group — the A2/A4 ranking building block."""
    events = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("event_type").orderBy(F.desc("value"), F.asc("event_id"))
    return (
        events.withColumn("rk", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rk") <= k)
        .select("event_type", "event_id", "value", "rk")
    )


def running_value_per_user(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cumulative sum per user ordered by event time (running metric)."""
    events = load_table(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    # round2 in a second projection: inlining it around .over() would
    # replan the running sum once per textual reference in the CASE
    # (see analytic_order_stats).
    return events.select(
        "event_id", "user_id", F.sum("value").over(w).alias("raw_rv")
    ).select(
        "event_id", "user_id", round2(F.col("raw_rv")).alias("running_value")
    )


def analytic_order_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.5 analytic-function suite in one pass: percent_rank, ntile
    quartiles, lag, and a 3-row sliding average over one month of
    orders, partitioned by priority.

    All four functions share a single window spec (same partition +
    order keys), so the physical plan is ONE shuffle on
    o_orderpriority and one sort per partition — adding analytics to
    an existing window is free; a second window spec would double the
    shuffle. Deterministic across engines because the order key
    includes the unique o_orderkey tiebreak.
    """
    orders = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= "1997-01-01") & (F.col("o_orderdate") < "1997-02-01")
    )
    w = Window.partitionBy("o_orderpriority").orderBy(
        F.desc("o_totalprice"), F.asc("o_orderkey")
    )
    ma3 = w.rowsBetween(-2, Window.currentRow)
    # Two projections on purpose: rounding in the same select as
    # .over() would inline each window expression into round2's CASE
    # — Catalyst then plans the SAME window function once per textual
    # reference (~9× for percent_rank). Materializing the raw values
    # as attributes first makes each a single _we in the Window node.
    raw = orders.select(
        "o_orderkey",
        "o_orderpriority",
        F.percent_rank().over(w).alias("raw_pr"),
        F.ntile(4).over(w).cast("bigint").alias("quartile"),
        F.lag("o_totalprice").over(w).alias("raw_prev"),
        F.avg("o_totalprice").over(ma3).alias("raw_ma3"),
    )
    return raw.select(
        "o_orderkey",
        "o_orderpriority",
        round2(F.col("raw_pr"), 4).alias("pct_rank"),
        "quartile",
        round2(F.col("raw_prev")).alias("prev_price"),
        round2(F.col("raw_ma3")).alias("ma3"),
    )


def sessionize_events(spark: SparkSession, sf_dir: str, gap_minutes: int = 30) -> DataFrame:
    """Batch sessionization via lag + gap-flag cumulative sum
    (SURVEY.md §2.5 [N]; streaming twin uses session_window).

    Two window passes over the same (user_id, ts) partitioning — Spark
    reuses the single sort+shuffle for both, so the cost is one
    shuffle of the events table regardless of scale.
    """
    events = load_table(spark, sf_dir, "events")
    by_user = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap = F.col("ts").cast("long") - F.lag(F.col("ts").cast("long")).over(by_user)
    with_flag = events.withColumn(
        "new_session",
        F.when(gap.isNull() | (gap > gap_minutes * 60), F.lit(1)).otherwise(F.lit(0)),
    )
    with_id = with_flag.withColumn(
        "session_id",
        F.sum("new_session").over(by_user.rowsBetween(Window.unboundedPreceding, 0)),
    )
    return with_id.groupBy("user_id").agg(
        F.max("session_id").alias("n_sessions"),
        F.count("*").alias("n_events"),
    )


# --- pivot / rollup (SURVEY.md §2.6 [N]) ---

EVENT_TYPES = ("click", "view", "purchase", "signup", "error")


def pivot_event_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot event_type → one count column per type, per user.

    Explicit pivot values keep the plan a single pass (no extra
    distinct-values job) — required practice at scale.
    """
    events = load_table(spark, sf_dir, "events")
    return (
        events.groupBy("user_id")
        .pivot("event_type", list(EVENT_TYPES))
        .agg(F.count(F.lit(1)))
        .na.fill(0, list(EVENT_TYPES))
    )


def rollup_orders_by_year_month(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP (year, month) subtotals + grand total over orders."""
    orders = load_table(spark, sf_dir, "orders")
    return (
        orders.select(
            F.year("o_orderdate").cast("int").alias("yr"),
            F.month("o_orderdate").cast("int").alias("mo"),
            "o_totalprice",
        )
        .rollup("yr", "mo")
        .agg(round2(F.sum("o_totalprice")).alias("total"), F.count("*").alias("n"))
    )


# --- scalar functions (SURVEY.md §2.7) ---


def json_props_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON extraction from events.props (native get_json_object)."""
    events = load_table(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("int")
    return (
        events.select("event_type", k.alias("k"))
        .groupBy("event_type")
        .agg(
            F.sum("k").alias("sum_k"),
            F.min("k").alias("min_k"),
            F.max("k").alias("max_k"),
        )
    )


def orders_by_month(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Date functions: per (year, month) order stats."""
    orders = load_table(spark, sf_dir, "orders")
    return (
        orders.groupBy(
            F.year("o_orderdate").cast("int").alias("yr"),
            F.month("o_orderdate").cast("int").alias("mo"),
        )
        .agg(round2(F.sum("o_totalprice")).alias("total"), F.count("*").alias("n"))
    )


def string_profile_by_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """String functions over documents (length/upper/distinct counts)."""
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.groupBy(F.upper("lang").alias("lang_uc"))
        .agg(
            F.count("*").alias("n_docs"),
            F.max(F.length("text")).cast("bigint").alias("max_len"),
            F.min(F.length("text")).cast("bigint").alias("min_len"),
            round2(F.avg("n_chars")).alias("avg_chars"),
            F.countDistinct("source").alias("n_sources"),
        )
    )


def forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6 shape — single-table selective filter + global agg.

    Every predicate (shipdate range, discount band, quantity cap) is a
    plain comparison, so all of them push into the parquet scan
    (PushedFilters) and row-group/page statistics skip non-matching
    data before decode — at 100 TB with date-partitioned lineitem this
    is a partition-pruned scan of ~1/6 of the table, no shuffle at all
    (partial aggs combine map-side into one row).
    """
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.filter(
            (F.col("l_shipdate") >= "1996-01-01")
            & (F.col("l_shipdate") < "1997-01-01")
            & (F.col("l_discount") >= 0.05)
            & (F.col("l_discount") <= 0.07)
            & (F.col("l_quantity") < 24)
        )
        .agg(
            round2(F.sum(F.col("l_extendedprice") * F.col("l_discount"))).alias("revenue"),
            F.count("*").alias("n_items"),
        )
    )


ORDERS_ABOVE_AVG_SQL = """
SELECT o_custkey, count(*) AS n_above
FROM orders o
WHERE o_totalprice > (SELECT avg(o2.o_totalprice)
                      FROM orders o2 WHERE o2.o_custkey = o.o_custkey)
GROUP BY o_custkey
"""


def orders_above_customer_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated scalar subquery through the ``spark.sql`` entry
    point — the engine's second query surface (SURVEY.md §3.4: SQL and
    DataFrame land in the same Catalyst pipeline).

    Catalyst's RewriteCorrelatedScalarSubquery decorrelates this into
    a per-customer aggregate joined back to orders (SURVEY.md §4.2) —
    one shuffle on o_custkey reused by both the aggregate and the
    join, not a per-row subquery execution.
    """
    from ..sources.tables import register_views

    register_views(spark, sf_dir)
    return spark.sql(ORDERS_ABOVE_AVG_SQL)


def cube_orders_status_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE (orderstatus, orderpriority): all 2^2 grouping-set
    combinations in one pass — Spark expands the sets and aggregates
    with a single shuffle (same plan family as rollup/grouping sets).
    """
    orders = load_table(spark, sf_dir, "orders")
    return (
        orders.select("o_orderstatus", "o_orderpriority", "o_totalprice")
        .cube("o_orderstatus", "o_orderpriority")
        .agg(round2(F.sum("o_totalprice")).alias("total"), F.count("*").alias("n"))
    )


def asof_purchase_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join (event-time attribution): each purchase matched to
    the user's most recent click at-or-before the purchase.

    Spark has no native as-of join; the scalable formulation is a
    single event-time window pass — ``last(click, ignorenulls)`` over
    a per-user ordered frame — not a range self-join, so cost is one
    shuffle on user_id regardless of event density. Ties on ts break
    by event_id (deterministic).
    """
    events = load_table(spark, sf_dir, "events")
    ev = events.filter(F.col("event_type").isin("click", "purchase"))
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    click_id = F.when(F.col("event_type") == "click", F.col("event_id"))
    click_ts = F.when(F.col("event_type") == "click", F.col("ts"))
    attributed = ev.select(
        "event_id",
        "user_id",
        "event_type",
        "ts",
        F.last(click_id, ignorenulls=True).over(w).alias("click_event_id"),
        F.last(click_ts, ignorenulls=True).over(w).alias("click_ts"),
    )
    return (
        attributed.filter(F.col("event_type") == "purchase")
        .filter(F.col("click_event_id").isNotNull())
        .select(
            F.col("event_id").alias("purchase_event_id"),
            "user_id",
            "click_event_id",
            F.expr("(unix_micros(ts) - unix_micros(click_ts)) div 1000000").alias("gap_s"),
        )
    )


# Shared by both engines EXCEPT the final rounding: Spark's round()
# and DuckDB's round() disagree on exact-tie doubles (the reason
# functions/numeric.round2 exists), so the shared text emits the raw
# sum and each side applies its own bit-compatible rounding.
GROUPING_SETS_BASE_SQL = """
SELECT o_orderstatus, o_orderpriority,
       sum(o_totalprice) AS total_raw,
       count(*) AS n,
       CAST(grouping(o_orderstatus) AS INT) AS g_status,
       CAST(grouping(o_orderpriority) AS INT) AS g_priority
FROM orders
GROUP BY GROUPING SETS ((o_orderstatus, o_orderpriority),
                        (o_orderstatus), (o_orderpriority))
"""

GROUPING_SETS_ORACLE_SQL = f"""
SELECT o_orderstatus, o_orderpriority, round(total_raw, 2) AS total,
       n, g_status, g_priority
FROM ({GROUPING_SETS_BASE_SQL})
"""


def grouping_sets_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit GROUPING SETS (the general form of rollup/cube) with
    ``grouping()`` markers disambiguating real NULLs from subtotal
    rows.

    Spark expands the three sets into one Expand + single-shuffle
    aggregate — the same one-pass plan family as cube/rollup; each
    input row fans out only to the sets it belongs to, so cost is
    O(rows × sets), never one scan per set.
    """
    from ..sources.tables import register_views

    register_views(spark, sf_dir)
    return (
        spark.sql(GROUPING_SETS_BASE_SQL)
        .withColumn("total", round2("total_raw"))
        .select(
            "o_orderstatus", "o_orderpriority", "total", "n", "g_status", "g_priority"
        )
    )


def exact_percentiles_by_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact per-group percentiles (p50/p90/p99 of ``value`` per
    event type) via the built-in ``percentile`` aggregate —
    JVM-side, one shuffle on the group key.

    Exact percentiles must see every value of a group (no partial
    pre-aggregation of the distribution), so the group's values
    gather on one reducer — fine while groups are few and fit memory
    (event types here). For billions-of-rows-per-group at 100 TB the
    scale path is the mergeable sketch twin
    (``sketch_value_quantiles``, t-digest-style ``approx_percentile``
    with partial map-side merge); keeping both pins the sketch's
    error against exact truth.
    """
    events = load_table(spark, sf_dir, "events")
    pct = lambda p: F.expr(f"percentile(value, {p})")  # noqa: E731
    return events.groupBy("event_type").agg(
        round2(pct(0.5)).alias("p50"),
        round2(pct(0.9)).alias("p90"),
        round2(pct(0.99)).alias("p99"),
        F.count("*").alias("n"),
    )


def stats_moments_by_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Statistical aggregates per event type: stddev, sample
    covariance and Pearson correlation of (value, hour-of-day).

    All partial-aggregable built-ins (sum/sum-of-squares/cross-moment
    accumulators merge map-side), so the plan is one shuffle of
    constant-width rows per group at any scale — unlike exact
    percentiles, moments never gather raw values.
    """
    events = load_table(spark, sf_dir, "events")
    hod = F.hour("ts").cast("double")
    return (
        events.select("event_type", F.col("value").cast("double").alias("v"), hod.alias("h"))
        .groupBy("event_type")
        .agg(
            round2(F.stddev_samp("v"), 4).alias("sd_value"),
            round2(F.covar_samp("v", "h"), 4).alias("covar_vh"),
            round2(F.corr("v", "h"), 4).alias("corr_vh"),
            F.count("*").alias("n"),
        )
    )


def value_histogram(spark: SparkSession, sf_dir: str, n_buckets: int = 20) -> DataFrame:
    """Fixed-width histogram of ``events.value`` — the width_bucket
    pattern: global min/max via a 1-row broadcast, bucket index as a
    narrow expression, then a count per bucket.

    Two passes over the fact column (bounds + binning) but the first
    reduces map-side to one row per partition; at 100 TB the bounds
    come from table statistics or a fixed domain instead, dropping to
    a single pass. The histogram aggregate shuffles ``n_buckets``
    rows at most.

    The bucket width goes through nullif(width, 0): a degenerate
    domain (min == max) would otherwise divide by zero, where Spark
    (ANSI off) yields NULL but DuckDB yields nan — both engines
    coalesce that edge to bucket 0. The coalesce sits INSIDE the
    least(): DuckDB's least() ignores NULL arguments (returns 19)
    while Spark's propagates them, so coalescing after least would
    diverge on exactly the edge the guard exists for.
    """
    events = load_table(spark, sf_dir, "events")
    bounds = events.agg(
        F.min("value").alias("lo"), F.max("value").alias("hi")
    )
    width = (F.col("hi") - F.col("lo")) / F.lit(n_buckets)
    bucket = F.least(
        F.coalesce(
            F.floor((F.col("value") - F.col("lo")) / F.nullif(width, F.lit(0.0))).cast(
                "int"
            ),
            F.lit(0),
        ),
        F.lit(n_buckets - 1),
    )
    return (
        events.crossJoin(F.broadcast(bounds))
        .select(bucket.alias("bucket"))
        .groupBy("bucket")
        .agg(F.count("*").alias("n"))
    )


def funnel_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequential funnel (view → click → purchase): users reaching
    each stage strictly after the previous one, with mean
    stage-to-stage latency — the product-analytics query the
    reference's dashboard era would have pushed to Kibana.

    Sequencing is per-user, so the whole funnel is ONE pass over a
    single hash(user_id) shuffle: three stacked whole-partition
    windows derive t1 = first view, t2 = first click after t1,
    t3 = first purchase after t2 (each ``min(when(...))`` may
    reference the previous window's column — same window spec, so
    Catalyst stacks the Window nodes on one exchange with no
    re-sort), then the per-user dedup aggregate reuses that
    partitioning and only the final 5-column global aggregate
    shuffles again. Two exchanges total at any scale, versus the
    join-per-stage formulation's six (PLANS.md round 1) — and the
    scan is read once, not three times.
    """
    events = load_table(spark, sf_dir, "events")
    ev = events.filter(
        F.col("event_type").isin("view", "click", "purchase")
    ).select("user_id", "event_type", "ts")

    wu = Window.partitionBy("user_id")
    t1 = F.min(F.when(F.col("event_type") == "view", F.col("ts"))).over(wu)
    staged = ev.withColumn("t1", t1)
    t2 = F.min(
        F.when((F.col("event_type") == "click") & (F.col("ts") > F.col("t1")), F.col("ts"))
    ).over(wu)
    staged = staged.withColumn("t2", t2)
    t3 = F.min(
        F.when(
            (F.col("event_type") == "purchase") & (F.col("ts") > F.col("t2")), F.col("ts")
        )
    ).over(wu)
    staged = staged.withColumn("t3", t3)

    per_user = (
        staged.filter(F.col("t1").isNotNull())  # funnel starts at a view
        .groupBy("user_id")
        .agg(F.max("t1").alias("t1"), F.max("t2").alias("t2"), F.max("t3").alias("t3"))
    )
    return per_user.agg(
        F.count("t1").alias("n_viewed"),
        F.count("t2").alias("n_clicked"),
        F.count("t3").alias("n_purchased"),
        round2(
            F.avg((F.unix_millis("t2") - F.unix_millis("t1")) / 3600000.0), 4
        ).alias("avg_hours_view_to_click"),
        round2(
            F.avg((F.unix_millis("t3") - F.unix_millis("t2")) / 3600000.0), 4
        ).alias("avg_hours_click_to_purchase"),
    )


def retention_cohorts(spark: SparkSession, sf_dir: str, max_weeks: int = 8) -> DataFrame:
    """Cohort retention matrix: users grouped by signup week, counted
    as retained in each subsequent week they produced any event.

    The signup aggregate shuffles once on user_id; the activity join
    reuses that partitioning, and per-user-week dedup happens BEFORE
    the cohort aggregate (distinct on the already-partitioned key
    set), so the final matrix aggregate sees at most
    users × max_weeks rows. Week arithmetic is epoch-millisecond
    math, not calendar datediff — identical in every engine.
    """
    events = load_table(spark, sf_dir, "events")
    signups = events.filter(F.col("event_type") == "signup").groupBy("user_id").agg(
        F.min("ts").alias("signup_ts")
    )
    week_offset = F.floor(
        (F.unix_millis("ts") - F.unix_millis("signup_ts")) / F.lit(7 * 86400000)
    ).cast("bigint")
    active = (
        events.join(signups, "user_id")
        .select(
            F.date_trunc("week", "signup_ts").alias("cohort_week"),
            week_offset.alias("week_offset"),
            "user_id",
        )
        .filter((F.col("week_offset") >= 0) & (F.col("week_offset") < max_weeks))
        .distinct()
    )
    return active.groupBy("cohort_week", "week_offset").agg(
        F.count("*").alias("n_active")
    )


def gapfill_locf_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-series gap fill + LOCF (the hypertable/timescale rollup
    pattern): a dense hourly grid over the observed range, zero-filled
    counts, and the hourly average carried forward across empty hours.

    The dense grid generates from a 1-row bounds aggregate
    (sequence + explode — rows proportional to the time range, not the
    fact table), left-joins the hourly rollup, and the
    carry-forward is one ordered window over the grid. The window here
    is a single global ordering because the grid is one series; at
    scale every series carries its id and the window partitions by it,
    keeping state per-series-bounded.
    """
    events = load_table(spark, sf_dir, "events")
    hourly = events.groupBy(F.date_trunc("hour", "ts").alias("h")).agg(
        F.count("*").alias("n_raw"),
        F.avg("value").alias("avg_raw"),
    )
    bounds = hourly.agg(F.min("h").alias("lo"), F.max("h").alias("hi"))
    grid = bounds.select(
        F.explode(F.expr("sequence(lo, hi, interval 1 hour)")).alias("h")
    )
    w = Window.orderBy("h").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return (
        grid.join(hourly, "h", "left")
        .select(
            "h",
            F.coalesce(F.col("n_raw"), F.lit(0)).cast("bigint").alias("n"),
            round2(
                F.last(F.col("avg_raw"), ignorenulls=True).over(w), 4
            ).alias("avg_value_locf"),
        )
    )


def rolling_zscore_hourly(spark: SparkSession, sf_dir: str, trailing: int = 24) -> DataFrame:
    """Rolling anomaly score: each hour's event count standardized
    against the trailing ``trailing``-hour mean/stddev (z-score), the
    streaming-monitoring primitive for rate anomalies.

    One shuffle for the hourly rollup, one ordered window over the
    tiny hour-grain series. ROWS framing (not RANGE) keeps the frame
    deterministic; hours with fewer than two trailing samples yield
    NULL stddev and a NULL z — identical semantics in the oracle. The
    divisor goes through nullif(sd, 0): a flat trailing window (24
    equal counts) has sd exactly 0, where Spark's ANSI-off x/0 yields
    NULL but DuckDB's IEEE division yields inf/nan — nullif pins both
    engines to NULL. At scale the window partitions by series id
    exactly as in ``gapfill_locf_hourly``.
    """
    events = load_table(spark, sf_dir, "events")
    hourly = events.groupBy(F.date_trunc("hour", "ts").alias("h")).agg(
        F.count("*").cast("double").alias("n")
    )
    w = (
        Window.orderBy("h").rowsBetween(-trailing, -1)
    )
    mu = F.avg("n").over(w)
    sd = F.stddev_samp("n").over(w)
    return hourly.select(
        "h",
        F.col("n").cast("bigint").alias("n"),
        round2((F.col("n") - mu) / F.nullif(sd, F.lit(0.0)), 4).alias("zscore"),
    )


def event_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W-family — first-order Markov transition matrix over per-user
    event sequences: P(next event type | current event type).

    One shuffle: the (user_id, ts) window sort — the SAME partitioning
    sessionization and funnel use, so a multi-query session analysis
    stage reuses one exchange for all three. The transition aggregate
    is keyed on (cur, next) — at most |event_types|² rows, so the
    second exchange moves a KB regardless of corpus size, and the
    per-row probability normalizer is a window over that tiny
    aggregate, not over events.
    """
    events = load_table(spark, sf_dir, "events")
    by_user = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = events.select(
        F.col("event_type").alias("cur"),
        F.lead("event_type").over(by_user).alias("nxt"),
    ).filter(F.col("nxt").isNotNull())
    t = seq.groupBy("cur", "nxt").agg(F.count("*").alias("n"))
    total = F.sum("n").over(Window.partitionBy("cur"))
    return t.select(
        F.col("cur").alias("cur_type"),
        F.col("nxt").alias("next_type"),
        F.col("n").alias("n_transitions"),
        round2(F.col("n").cast("double") / total, 4).alias("p_next"),
    )


def top_event_paths(spark: SparkSession, sf_dir: str, k: int = 10) -> DataFrame:
    """W-family — most common 3-step event paths (cur > next > next²)
    across user sequences; the path-mining view of the same window
    sort ``event_transitions`` uses. Path count aggregate is bounded
    by |event_types|³ rows.
    """
    events = load_table(spark, sf_dir, "events")
    by_user = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = events.select(
        F.col("event_type").alias("e1"),
        F.lead("event_type", 1).over(by_user).alias("e2"),
        F.lead("event_type", 2).over(by_user).alias("e3"),
    ).filter(F.col("e3").isNotNull())
    paths = seq.select(
        F.concat_ws(" > ", "e1", "e2", "e3").alias("path")
    ).groupBy("path").agg(F.count("*").alias("n"))
    w = Window.orderBy(F.desc("n"), F.asc("path"))
    return (
        paths.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= k)
        .select("path", "n", F.col("rk").cast("bigint").alias("rk"))
    )


def robust_outlier_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SF-family — MAD-based robust outlier detection per event type:
    median, median-absolute-deviation, and how many events fall
    outside median ± 3·1.4826·MAD (the robust z-score gate that,
    unlike mean/stddev, a few extreme values cannot drag).

    Two exact-median passes over the same (event_type) grouping —
    Spark reuses one shuffle for the window-median and the residual
    aggregation. Same single-reducer-per-group caveat as
    ``exact_percentiles_by_type``; the mergeable-sketch quantile twin
    is the stated 100 TB path for the median step.
    """
    events = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("event_type")
    med = F.expr("percentile(value, 0.5)").over(w)
    with_med = events.select("event_type", "value", med.alias("med"))
    resid = F.abs(F.col("value") - F.col("med"))
    with_resid = with_med.withColumn("resid", resid)
    mad = F.expr("percentile(resid, 0.5)").over(w)
    scored = with_resid.withColumn("mad", mad)
    cut = 3.0 * 1.4826 * F.col("mad")
    return scored.groupBy("event_type").agg(
        F.count("*").alias("n"),
        round2(F.first("med")).alias("median"),
        round2(F.first("mad")).alias("mad"),
        F.sum((F.col("resid") > cut).cast("int")).cast("bigint").alias("n_outliers"),
    )


def ohlc_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-series downsample: per (hour, event_type) OHLC bars —
    open/high/low/close of ``value`` plus the bar's row count — the
    hypertable-rollup shape (continuous-aggregate materialization).

    Open/close are argmin/argmax by event time with an ``event_id``
    tie-break, expressed as ``min``/``max`` over a
    (ts, event_id, value) struct — lexicographic struct ordering makes
    the pick deterministic and engine-exact, and the whole bar is ONE
    map-side-combinable aggregate (no window pass, no self-join): at
    100 TB this partial-aggregates per file split before a single
    (bucket × type)-cardinality shuffle.
    """
    events = load_table(spark, sf_dir, "events")
    probe = F.struct("ts", "event_id", "value")
    return (
        events.groupBy(
            F.date_trunc("hour", "ts").alias("bucket"), "event_type"
        )
        .agg(
            F.min(probe).getField("value").alias("open"),
            F.max("value").alias("high"),
            F.min("value").alias("low"),
            F.max(probe).getField("value").alias("close"),
            F.count("*").alias("n"),
        )
    )


def variant_props_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured analytics via the Spark 4 VARIANT type:
    ``parse_json`` ingests ``events.props`` into the binary variant
    encoding once, ``variant_get`` path-extracts typed values.

    Against ``get_json_object`` (string re-parse per extraction,
    see ``json_props_stats``), VARIANT parses once and every
    extraction is a cheap binary path walk — the semi-structured
    layout to ship at 100 TB (same design as Parquet
    shredded-variant columns).  Buckets k into deciles and counts —
    engine-exact integer outputs.
    """
    events = load_table(spark, sf_dir, "events")
    k = F.try_variant_get(F.parse_json("props"), "$.k", "int")
    return (
        events.select("event_type", k.alias("k"))
        .groupBy("event_type", F.floor(F.col("k") / 10).alias("k_decile"))
        .agg(F.count("*").alias("n"), F.sum("k").alias("sum_k"))
    )


def revenue_mom_change(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BI-style month-over-month change: monthly revenue from orders,
    with previous-month revenue and the percentage delta via ``lag``
    over the (tiny) aggregated series.

    The window runs AFTER aggregation — one fact-table shuffle to
    ~month-count rows, then a single-partition window over dozens of
    rows (bounded by calendar length, not data size; at any SF this
    stage is KB-scale).
    """
    orders = load_table(spark, sf_dir, "orders")
    monthly = orders.groupBy(
        F.year("o_orderdate").alias("o_year"), F.month("o_orderdate").alias("o_month")
    ).agg(F.sum("o_totalprice").alias("raw_rev"))
    w = Window.orderBy("o_year", "o_month")
    prev = F.lag("raw_rev").over(w)
    return monthly.select(
        "o_year",
        "o_month",
        round2(F.col("raw_rev")).alias("revenue"),
        round2(prev).alias("prev_revenue"),
        round2((F.col("raw_rev") - prev) / prev * 100.0, 4).alias("pct_change"),
    )


def rollup_tree_monthly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hypertable-style rollup tree: hourly partial aggregates are the
    ONLY pass over the fact table; daily merges hourly partials,
    monthly merges daily — and the monthly answer is byte-identical to
    aggregating the raw events directly (the DuckDB oracle does
    exactly that), because every statistic carried is mergeable
    (count/sum/min/max; avg derived at the end as sum/count, never
    averaged-of-averages).

    This is the continuous-aggregate design at 100 TB: each level's
    input is the level below (hours: ~8.8k rows/year; days: 365), so
    refreshing a month touches no raw data. One fact-table shuffle
    total; the merges are metadata-scale.
    """
    events = load_table(spark, sf_dir, "events")
    hourly = events.groupBy(
        F.date_trunc("hour", "ts").alias("h")
    ).agg(
        F.count("*").alias("n"),
        F.sum("value").alias("s"),
        F.min("value").alias("mn"),
        F.max("value").alias("mx"),
    )
    daily = hourly.groupBy(F.date_trunc("day", "h").alias("d")).agg(
        F.sum("n").alias("n"),
        F.sum("s").alias("s"),
        F.min("mn").alias("mn"),
        F.max("mx").alias("mx"),
    )
    monthly = daily.groupBy(F.date_trunc("month", "d").alias("month")).agg(
        F.sum("n").cast("bigint").alias("n_events"),
        round2(F.sum("s")).alias("total_value"),
        round2(F.min("mn")).alias("min_value"),
        round2(F.max("mx")).alias("max_value"),
        round2(F.sum("s") / F.sum("n")).alias("avg_value"),
    )
    return monthly


PSI_EDGES = (5.0, 10.0, 20.0, 35.0, 50.0, 75.0, 100.0, 150.0, 250.0)


def psi_drift_by_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution-drift monitor: Population Stability Index of the
    ``value`` distribution between the first and second half of the
    month (day-of-month ≤ 15 vs > 15), per event type — the standard
    production check that a feature's distribution hasn't shifted
    between a reference window and a live window (PSI < 0.1 stable,
    0.1-0.25 moderate, > 0.25 major shift).

    Fixed bucket edges (a production monitor pins edges at reference
    time, it does not recompute quantiles per run) keep the whole
    query two cascaded aggregations on (type × bucket) keys — no
    scalar subqueries, no second scan. Smoothing (+0.5 per cell)
    guards empty buckets exactly like the textbook estimator.
    """
    events = load_table(spark, sf_dir, "events")
    bucket = F.lit(0)
    for i, e in enumerate(PSI_EDGES):
        bucket = F.when(F.col("value") >= e, i + 1).otherwise(bucket)
    half = F.when(F.dayofmonth("ts") <= 15, "ref").otherwise("live")
    cells = events.select(
        "event_type", half.alias("half"), bucket.alias("bucket")
    ).groupBy("event_type", "half", "bucket").agg(F.count("*").alias("n"))

    w = Window.partitionBy("event_type", "half")
    frac = cells.select(
        "event_type",
        "half",
        "bucket",
        (
            (F.col("n") + F.lit(0.5))
            / (F.sum("n").over(w) + F.lit(0.5 * (len(PSI_EDGES) + 1)))
        ).alias("p"),
    )
    ref = frac.filter(F.col("half") == "ref").select(
        "event_type", "bucket", F.col("p").alias("p_ref")
    )
    live = frac.filter(F.col("half") == "live").select(
        "event_type", "bucket", F.col("p").alias("p_live")
    )
    per_bucket = ref.join(live, ["event_type", "bucket"], "full").select(
        "event_type",
        (
            (F.coalesce("p_live", F.lit(0.0)) - F.coalesce("p_ref", F.lit(0.0)))
            * F.log(F.coalesce("p_live", F.lit(1e-12)) / F.coalesce("p_ref", F.lit(1e-12)))
        ).alias("term"),
    )
    psi = per_bucket.groupBy("event_type").agg(round2(F.sum("term"), 6).alias("psi"))
    return psi.select(
        "event_type",
        "psi",
        F.when(F.col("psi") < 0.1, "stable")
        .when(F.col("psi") < 0.25, "moderate")
        .otherwise("shifted")
        .alias("verdict"),
    )


def dq_constraint_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deequ-style declarative data-quality suite over ``events``:
    each constraint computes its metric and verdict in ONE shared
    aggregation pass (completeness, uniqueness, range, set
    membership, monotone-time sanity) — the nightly gate a pipeline
    runs before publishing a table. One full-scan aggregate, one
    output row per constraint; adding a constraint adds a column to
    the same pass, not a new scan.
    """
    events = load_table(spark, sf_dir, "events")
    n = F.count("*")
    metrics = events.agg(
        n.alias("n_rows"),
        F.sum(F.col("value").isNull().cast("int")).alias("null_value"),
        F.sum(F.col("user_id").isNull().cast("int")).alias("null_user"),
        F.count_distinct("event_id").alias("distinct_ids"),
        F.sum(((F.col("value") < 0) | (F.col("value") > 1000)).cast("int")).alias(
            "out_of_range"
        ),
        F.sum(
            (~F.col("event_type").isin("view", "click", "signup", "purchase", "error")).cast(
                "int"
            )
        ).alias("bad_type"),
        F.sum((F.year("ts") < 2000).cast("int")).alias("bad_ts"),
    )
    c = metrics.select(
        F.col("n_rows"),
        F.array(
            F.struct(
                F.lit("value_complete").alias("constraint"),
                (F.lit(1.0) - F.col("null_value") / F.col("n_rows")).alias("metric"),
                (F.col("null_value") == 0).alias("passed"),
            ),
            F.struct(
                F.lit("user_complete").alias("constraint"),
                (F.lit(1.0) - F.col("null_user") / F.col("n_rows")).alias("metric"),
                (F.col("null_user") == 0).alias("passed"),
            ),
            F.struct(
                F.lit("event_id_unique").alias("constraint"),
                (F.col("distinct_ids") / F.col("n_rows")).alias("metric"),
                (F.col("distinct_ids") == F.col("n_rows")).alias("passed"),
            ),
            F.struct(
                F.lit("value_in_range").alias("constraint"),
                (F.lit(1.0) - F.col("out_of_range") / F.col("n_rows")).alias("metric"),
                (F.col("out_of_range") == 0).alias("passed"),
            ),
            F.struct(
                F.lit("type_in_set").alias("constraint"),
                (F.lit(1.0) - F.col("bad_type") / F.col("n_rows")).alias("metric"),
                (F.col("bad_type") == 0).alias("passed"),
            ),
            F.struct(
                F.lit("ts_sane").alias("constraint"),
                (F.lit(1.0) - F.col("bad_ts") / F.col("n_rows")).alias("metric"),
                (F.col("bad_ts") == 0).alias("passed"),
            ),
        ).alias("cs"),
    )
    return c.select(F.explode("cs").alias("c")).select(
        F.col("c.constraint").alias("constraint"),
        round2(F.col("c.metric"), 6).alias("metric"),
        F.col("c.passed").alias("passed"),
    )


def multitouch_attribution(
    spark: SparkSession, sf_dir: str, lookback_hours: int = 24
) -> DataFrame:
    """Marketing-style LINEAR multi-touch attribution: each purchase's
    value is credited equally across the user's touch events (click /
    view / signup) in the preceding ``lookback_hours`` window; the
    report aggregates credited revenue per touch type.

    Complements the as-of join (last-touch attribution,
    :func:`asof_purchase_attribution`) with the many-touch variant.
    Scalable shape: ONE per-user event-time RANGE window pass computes
    the per-type touch counts inside the lookback frame — no range
    self-join, so cost is one shuffle on user_id at any event density.
    Credits are materialized as exact integer millicents per purchase
    (deterministic per-row rounding), so the final sums are
    order-independent BIGINT math on both engines — no float-summation
    hash risk.
    """
    events = load_table(spark, sf_dir, "events")
    lookback_us = lookback_hours * 3_600_000_000
    ev = events.select(
        "user_id",
        "event_type",
        F.unix_micros("ts").alias("tus"),
        F.floor(F.col("value") * 100 + F.lit(0.5)).alias("cents"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("tus")
        .rangeBetween(-lookback_us, -1)
    )
    touch = {
        t: F.sum(F.when(F.col("event_type") == t, 1).otherwise(0)).over(w)
        for t in ("click", "view", "signup")
    }
    p = (
        ev.select(
            "event_type",
            "cents",
            *[cnt.alias(f"n_{t}") for t, cnt in touch.items()],
        )
        .filter(F.col("event_type") == "purchase")
        .withColumn("n_touch", F.col("n_click") + F.col("n_view") + F.col("n_signup"))
        .filter(F.col("n_touch") > 0)
    )
    credited = p.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(t).alias("touch_type"),
                        # exact integer half-up, same discipline as
                        # the time-decay twin: no float round at ties
                        F.expr(
                            f"CAST((2 * cents * n_{t} * 1000 + n_touch)"
                            " DIV (2 * n_touch) AS BIGINT)"
                        ).alias("credit_mc"),
                        (F.col(f"n_{t}") > 0).cast("int").alias("hit"),
                    )
                    for t in ("click", "view", "signup")
                ]
            )
        ).alias("c")
    ).select("c.touch_type", "c.credit_mc", "c.hit")
    return credited.groupBy("touch_type").agg(
        F.sum("hit").cast("bigint").alias("n_purchases_credited"),
        round2(F.sum("credit_mc") / F.lit(100_000.0), 2).alias("credited_revenue"),
    )


def dq_referential_integrity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-table data-quality gate: orphan-foreign-key audit over
    every edge of the star schema (the check `dq_constraint_suite`
    cannot do single-table). One row per FK edge with the child
    cardinality, orphan count, and verdict.

    Each edge is one LEFT OUTER join child→parent (parents
    deduplicated, so a corrupt parent key cannot double-count
    children) feeding a single aggregate that counts rows and
    null-parent orphans together — one scan per child table, no
    scalar cross-joins. Dimension parents broadcast (KB–MB scale);
    the one fact-fact edge (lineitem→orders) shuffles on the join
    key exactly like the revenue joins and benefits from the same
    AQE sizing. Adding an edge adds a row, not a new pipeline.
    """
    edges = [
        ("lineitem.l_orderkey->orders", "lineitem", "l_orderkey", "orders", "o_orderkey", False),
        ("orders.o_custkey->customer", "orders", "o_custkey", "customer", "c_custkey", True),
        ("customer.c_nationkey->nation", "customer", "c_nationkey", "nation", "n_nationkey", True),
        ("supplier.s_nationkey->nation", "supplier", "s_nationkey", "nation", "n_nationkey", True),
        ("nation.n_regionkey->region", "nation", "n_regionkey", "region", "r_regionkey", True),
        ("lineitem.l_partkey->part", "lineitem", "l_partkey", "part", "p_partkey", True),
        ("lineitem.l_suppkey->supplier", "lineitem", "l_suppkey", "supplier", "s_suppkey", True),
    ]
    parts = []
    for edge, child, fk, parent, pk, bcast in edges:
        c = load_table(spark, sf_dir, child).select(F.col(fk).alias("fk"))
        p = load_table(spark, sf_dir, parent).select(F.col(pk).alias("pk")).distinct()
        if bcast:
            p = F.broadcast(p)
        parts.append(
            c.join(p, c.fk == p.pk, "left")
            .agg(
                F.count("*").alias("n_child"),
                F.sum(F.col("pk").isNull().cast("int")).cast("bigint").alias("n_orphan"),
            )
            .select(
                F.lit(edge).alias("edge"),
                "n_child",
                "n_orphan",
                (F.col("n_orphan") == 0).alias("ok"),
            )
        )
    out = parts[0]
    for p_ in parts[1:]:
        out = out.unionByName(p_)
    return out


def value_deciles_by_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-DEPTH histogram per event type: `ntile(10)` buckets of
    equal row count with per-decile bounds and mass — the quantile
    view `sf_value_histogram` (equi-width) cannot give.

    The per-group global sort is the honest cost of exact deciles,
    same disclosure as `sf_exact_percentiles`; the mergeable-sketch
    twin (`sketch_value_quantiles`) is the stated 100 TB path when
    approximate bounds suffice. Ties order by event_id so both
    engines assign identical bucket membership.
    """
    events = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("event_type").orderBy("value", "event_id")
    return (
        events.select("event_type", "value", "event_id")
        .withColumn("decile", F.ntile(10).over(w).cast("bigint"))
        .groupBy("event_type", "decile")
        .agg(
            F.count("*").alias("n"),
            round2(F.min("value"), 2).alias("lo"),
            round2(F.max("value"), 2).alias("hi"),
            round2(F.avg("value"), 2).alias("mean_value"),
        )
    )


LATERAL_TOP_ORDERS_SQL = """
SELECT c_custkey, c_mktsegment, t.o_orderkey, t.o_totalprice, t.rk
FROM customer,
LATERAL (
  SELECT o_orderkey, o_totalprice,
         row_number() OVER (ORDER BY o_totalprice DESC, o_orderkey ASC)
           AS rk
  FROM orders
  WHERE o_custkey = c_custkey
  ORDER BY o_totalprice DESC, o_orderkey ASC
  LIMIT 2
) t
WHERE c_mktsegment = 'BUILDING'
"""


def lateral_top_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LATERAL correlated table subquery (the SQL:1999 feature Spark
    gained in 3.2): each BUILDING customer joined to their own top-2
    orders by price.

    Catalyst's DecorrelateInnerQuery rewrites the per-row LIMIT into a
    partitioned window filter — the plan is one shuffle on the
    correlation key, identical to the hand-written ranked-window
    formulation, not a per-customer subquery execution. This pins the
    engine's third correlated-subquery shape (scalar: `subquery_*`,
    EXISTS: `j3_*`, table-valued: here).
    """
    from ..sources.tables import register_views

    register_views(spark, sf_dir)
    return spark.sql(LATERAL_TOP_ORDERS_SQL)


def activity_streaks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gaps-and-islands: each user's LONGEST run of consecutive active
    calendar days (and their active-day count) — the retention metric
    `wf_retention_cohorts` (fixed cohort grid) and
    `wf_sessionize_events` (intra-day time gaps) cannot express.

    The classic anchor trick: per user, consecutive days all share
    `day - row_number() days`, so one per-user window pass over the
    DISTINCT (user, day) table — day-bounded, far smaller than the
    event stream — then two small aggregates. No self-join, no gap
    enumeration; shuffles carry (user, day) pairs only.
    """
    events = load_table(spark, sf_dir, "events")
    days = events.select(
        "user_id", F.date_trunc("day", "ts").cast("date").alias("day")
    ).distinct()
    w = Window.partitionBy("user_id").orderBy("day")
    anchored = days.withColumn(
        "anchor", F.date_sub("day", F.row_number().over(w))
    )
    streaks = anchored.groupBy("user_id", "anchor").agg(
        F.count("*").alias("len")
    )
    return streaks.groupBy("user_id").agg(
        F.max("len").cast("bigint").alias("longest_streak"),
        F.sum("len").cast("bigint").alias("n_active_days"),
    )


def peak_session_concurrency(
    spark: SparkSession, sf_dir: str, gap_minutes: int = 30
) -> DataFrame:
    """Sweep-line peak concurrency: the maximum number of user sessions
    active at the same instant (and the earliest instant it occurs).

    Sessions are the same gap-based intervals as ``sessionize_events``
    (reference parity: the DStream pipeline's per-window user activity,
    ``StreamingJob.scala`` equivalents, internalized). A session is
    active on [start_ts, end_ts]; the sweep emits +1 at start and -1
    one microsecond after end, so back-to-back touching sessions both
    count at the boundary instant.

    The running sum is computed WITHOUT a global sort: per-day local
    prefix sums in parallel (one window per day partition), a
    day-level offset table (one row per calendar day — KB-scale at any
    corpus size) cumulated on a single partition, then broadcast back.
    This is the classic distributed prefix-sum decomposition: the only
    single-partition step scales with the number of DAYS, not events,
    so the plan survives 100 TB.
    """
    events = load_table(spark, sf_dir, "events")
    by_user = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap_us = F.unix_micros(F.col("ts")) - F.unix_micros(F.lag("ts").over(by_user))
    flagged = events.withColumn(
        "new_session",
        F.when(gap_us.isNull() | (gap_us > gap_minutes * 60 * 1_000_000), 1).otherwise(0),
    ).withColumn(
        "session_id",
        F.sum("new_session").over(by_user.rowsBetween(Window.unboundedPreceding, 0)),
    )
    intervals = flagged.groupBy("user_id", "session_id").agg(
        F.min("ts").alias("start_ts"), F.max("ts").alias("end_ts")
    )
    deltas = intervals.select(
        F.col("start_ts").alias("ts"), F.lit(1).alias("d")
    ).unionAll(
        intervals.select(
            (F.col("end_ts") + F.expr("INTERVAL '0.000001' SECOND")).alias("ts"),
            F.lit(-1).alias("d"),
        )
    )
    net = deltas.groupBy("ts").agg(F.sum("d").alias("net")).withColumn(
        "bucket", F.date_trunc("day", "ts")
    )
    w_local = Window.partitionBy("bucket").orderBy("ts").rowsBetween(
        Window.unboundedPreceding, 0
    )
    local = net.withColumn("local_run", F.sum("net").over(w_local))
    # day-level offsets: one row per day; the single-partition window
    # here is over the DAY table, bounded by calendar span, not data
    w_days = Window.orderBy("bucket").rowsBetween(
        Window.unboundedPreceding, -1
    )
    offsets = (
        net.groupBy("bucket")
        .agg(F.sum("net").alias("day_total"))
        .withColumn("offset", F.coalesce(F.sum("day_total").over(w_days), F.lit(0)))
        .select("bucket", "offset")
    )
    run = local.join(F.broadcast(offsets), "bucket").withColumn(
        "active", F.col("offset") + F.col("local_run")
    )
    return (
        run.orderBy(F.desc("active"), F.asc("ts"))
        .limit(1)
        .select(
            F.col("active").cast("bigint").alias("peak_concurrency"),
            F.col("ts").alias("peak_at"),
        )
    )


EWMA_ALPHA = 0.1
EWMA_SPAN_ROWS = 30


def ewma_daily_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Truncated-history exponentially weighted moving average of each
    user's daily event value (ts family, alongside
    ``ts_rolling_zscore`` / ``ts_gapfill_locf_hourly``):

        ewma_t = Σ_{j=0..min(t,29)} (1-α)^j · x_{t-j}
                 / Σ_{j=0..min(t,29)} (1-α)^j

    — pandas ``ewm(alpha, adjust=True)`` restricted to a 30-row
    window, which makes the recurrence a FRAME computation instead of
    an unbounded scan: one per-user window collects the trailing 30
    daily sums as an array, and JVM-side array HOFs (transform with
    index + aggregate) apply the decay weights. No Python, no
    self-join, bounded per-row state — the shuffles carry one
    (user, day) row per active day regardless of corpus size.

    The DuckDB twin computes the same weights via a band self-join on
    row offsets; both sides round at 1e-6 to absorb engine summation
    order.
    """
    events = load_table(spark, sf_dir, "events")
    daily = (
        events.groupBy(
            "user_id", F.date_trunc("day", "ts").cast("date").alias("day")
        )
        .agg(F.sum("value").alias("v"))
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("day")
        .rowsBetween(-(EWMA_SPAN_ROWS - 1), 0)
    )
    decay = F.lit(1.0 - EWMA_ALPHA)
    framed = daily.withColumn(
        "arr", F.collect_list("v").over(w)  # frame order = day ascending
    )
    arr = F.col("arr")
    # element i of an L-long frame is x_{t-(L-1-i)} -> weight (1-a)^(L-1-i)
    weighted = F.transform(
        arr, lambda x, i: x * F.pow(decay, F.size(arr) - 1 - i)
    )
    weights = F.transform(arr, lambda x, i: F.pow(decay, F.size(arr) - 1 - i))
    num = F.aggregate(weighted, F.lit(0.0), lambda acc, x: acc + x)
    den = F.aggregate(weights, F.lit(0.0), lambda acc, x: acc + x)
    return framed.select(
        "user_id",
        # timestamp, not date: the driver comparator stringifies dates
        # engine-dependently but timestamps identically
        F.col("day").cast("timestamp").alias("day"),
        round2(num / den, 6).alias("ewma"),
    )


ROLLING_DISTINCT_DAYS = 7


def rolling_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact 7-day rolling distinct active users per day (ts family).

    Sliding-window COUNT(DISTINCT) does not decompose: distinct sets
    cannot be merged across overlapping windows, so the naive
    formulations are a per-window re-scan (7x the corpus) or a giant
    unmergeable state. The scale trick is bounded MEMBERSHIP
    AMPLIFICATION: collapse events to distinct (user, day) — the
    day-bounded activity table — then each activity row contributes to
    exactly the 7 window-end days it can influence
    (explode(sequence(day, day+6))), and one hash aggregation counts
    distinct users per window day. Row growth is exactly 7x of the
    ACTIVITY table (not the event stream), every stage is a plain
    shuffle-agg, and the same shape handles any window length or
    rolling HLL/p50 by swapping the final aggregate.

    Window days with no events themselves are dropped (semi join with
    the present-day set, broadcast — calendar-bounded KB table).
    """
    events = load_table(spark, sf_dir, "events")
    days = events.select(
        "user_id", F.date_trunc("day", "ts").cast("date").alias("day")
    ).distinct()
    contrib = days.select(
        "user_id",
        F.explode(
            F.sequence(F.col("day"), F.date_add("day", ROLLING_DISTINCT_DAYS - 1))
        ).alias("win_day"),
    )
    present = days.select(F.col("day").alias("win_day")).distinct()
    return (
        contrib.join(F.broadcast(present), "win_day", "left_semi")
        .groupBy("win_day")
        .agg(F.countDistinct("user_id").alias("n_users"))
        .select(
            F.col("win_day").cast("timestamp").alias("win_day"),
            F.col("n_users").cast("bigint").alias("n_users"),
        )
    )


PROFILE_COLUMNS = (
    "o_orderkey",
    "o_custkey",
    "o_orderstatus",
    "o_totalprice",
    "o_orderdate",
    "o_orderpriority",
)


def dq_table_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANALYZE-style table profile of ``orders``: per-column null count
    and EXACT distinct cardinality, computed in ONE aggregation over
    one scan (companion to ``dq_constraint_suite``; the stats a
    cost-based optimizer or a data catalog ingests).

    Spark plans the six simultaneous count_distincts with a single
    Expand (one scan, x7 row expansion, partial aggs before the
    shuffle) — the multi-distinct strategy ANALYZE itself uses. At
    100 TB swap count_distinct for approx_count_distinct per column
    and the plan loses the expansion entirely; the exact form here is
    what the DuckDB twin can verify.
    """
    orders = load_table(spark, sf_dir, "orders")
    aggs = [F.count("*").alias("n_rows")]
    for c in PROFILE_COLUMNS:
        aggs.append(F.sum(F.col(c).isNull().cast("long")).alias(f"nn_{c}"))
        aggs.append(F.count_distinct(F.col(c)).alias(f"nd_{c}"))
    one = orders.agg(*aggs)
    cols = F.array(
        *[
            F.struct(
                F.lit(c).alias("column_name"),
                F.col(f"nn_{c}").cast("bigint").alias("n_nulls"),
                F.col(f"nd_{c}").cast("bigint").alias("n_distinct"),
            )
            for c in PROFILE_COLUMNS
        ]
    )
    return (
        one.select(F.col("n_rows").cast("bigint").alias("n_rows"), F.explode(cols).alias("p"))
        .select("n_rows", "p.column_name", "p.n_nulls", "p.n_distinct")
    )


def dq_order_reconciliation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-table financial reconciliation (double-entry audit): for
    every order, compare the header total ``o_totalprice`` against the
    sum of its line items' discounted+taxed extended prices, and
    report per-status drift stats. The synthetic harness data does NOT
    guarantee consistency — the point of the audit is to MEASURE the
    gap deterministically, the nightly finance-pipeline gate.

    One fact-side aggregation (lineitem collapses to one row per
    order BEFORE the join — aggregate-then-join, so the join carries
    order-grain rows, not line grain), then a broadcast-size rollup
    by status. Gap stats are rounded at 1e-2 on both engines.
    """
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    line_total = F.sum(
        F.col("l_extendedprice") * (1 - F.col("l_discount")) * (1 + F.col("l_tax"))
    ).alias("li_total")
    per_order = li.groupBy("l_orderkey").agg(line_total)
    joined = orders.join(
        per_order, orders.o_orderkey == per_order.l_orderkey, "left"
    ).select(
        "o_orderstatus",
        "o_totalprice",
        F.coalesce("li_total", F.lit(0.0)).alias("li_total"),
    )
    gap = F.col("o_totalprice") - F.col("li_total")
    return (
        joined.groupBy("o_orderstatus")
        .agg(
            F.count("*").alias("n_orders"),
            F.sum((F.abs(gap) > 0.01).cast("long")).alias("n_mismatched"),
            round2(F.sum(gap), 2).alias("total_gap"),
            round2(F.max(F.abs(gap)), 2).alias("max_abs_gap"),
        )
    )


def snapshot_diff_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Row-level diff between two table snapshots (the lakehouse
    time-travel primitive): full outer join on the key, null-safe
    column compare, per-change-kind counts.

    Snapshot B derives deterministically from snapshot A (orders):
    keys hashing 0 mod 97 are deleted, 0 mod 31 get a status change,
    and a shifted key range is inserted — so the diff has all three
    change kinds with exactly known membership, and both engines can
    rebuild the identical snapshots. The plan is ONE full outer join
    on the key with the change classification computed row-side; at
    100 TB both sides shuffle once on the key (or zero times if both
    snapshots are bucketed by key — sources/files.py bucketed writer).
    """
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    # inserted rows: re-keyed OUTSIDE the A key space by negation —
    # o_orderkey is positive at every SF, so -k - 1 can never collide
    # with a real key (a fixed +10M shift would at TPC-H SF >= 2)
    inserted = orders.filter(F.col("o_orderkey") % 101 == 0).select(
        (-F.col("o_orderkey") - 1).alias("o_orderkey"),
        F.lit("N").alias("o_orderstatus"),
        F.col("o_totalprice"),
    )
    snap_b = (
        orders.filter(F.col("o_orderkey") % 97 != 0)
        .withColumn(
            "o_orderstatus",
            F.when(F.col("o_orderkey") % 31 == 0, F.lit("X")).otherwise(
                F.col("o_orderstatus")
            ),
        )
        .unionAll(inserted)
    )
    a = orders.alias("a")
    b = snap_b.alias("b")
    d = a.join(b, F.col("a.o_orderkey") == F.col("b.o_orderkey"), "full_outer")
    kind = (
        F.when(F.col("b.o_orderkey").isNull(), F.lit("deleted"))
        .when(F.col("a.o_orderkey").isNull(), F.lit("inserted"))
        .when(
            ~F.col("a.o_orderstatus").eqNullSafe(F.col("b.o_orderstatus"))
            | ~F.col("a.o_totalprice").eqNullSafe(F.col("b.o_totalprice")),
            F.lit("changed"),
        )
        .otherwise(F.lit("unchanged"))
    )
    return (
        d.select(kind.alias("change_kind"))
        .groupBy("change_kind")
        .agg(F.count("*").alias("n_rows"))
    )


def winsorize_values(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group winsorization audit: clip ``value`` at its exact
    per-event-type [p01, p99] and report how much the tails moved —
    the feature-preprocessing step that protects downstream training
    from heavy tails, with the evidence a reviewer asks for (clip
    counts, mean before/after).

    Two passes by construction (clipping needs the quantiles): the
    exact-percentile aggregate collapses to one KB-scale row per
    event type, broadcasts back onto the stream, and the clip +
    moment rollup rides a second scan. At 100 TB swap the exact
    percentile for the mergeable sketch twin and the threshold table
    stays KB-scale — the join shape is unchanged.
    """
    events = load_table(spark, sf_dir, "events")
    thresholds = events.groupBy("event_type").agg(
        F.expr("percentile(value, 0.01)").alias("lo"),
        F.expr("percentile(value, 0.99)").alias("hi"),
    )
    j = events.join(F.broadcast(thresholds), "event_type")
    clipped = F.least(F.greatest(F.col("value"), F.col("lo")), F.col("hi"))
    return j.groupBy("event_type").agg(
        F.count("*").alias("n"),
        F.sum((F.col("value") < F.col("lo")).cast("long")).alias("n_clipped_lo"),
        F.sum((F.col("value") > F.col("hi")).cast("long")).alias("n_clipped_hi"),
        round2(F.avg("value"), 4).alias("mean_before"),
        round2(F.avg(clipped), 4).alias("mean_after"),
        round2(F.min("lo"), 4).alias("p01"),
        round2(F.min("hi"), 4).alias("p99"),
    )


def dq_join_fanout_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join-explosion guard: compute the EXACT output cardinality of
    orders ⋈ lineitem on the order key WITHOUT executing the join,
    plus each side's worst key multiplicity — the pre-flight check a
    pipeline runs before an expensive join (and the quantity a
    cost-based optimizer estimates; here it is exact).

    Σ_k |A_k|·|B_k| over per-key grouped counts: two partial-agg
    shuffles of (key, count) rows and a key-equi join of the two
    count tables — never the fact-grain join itself. A key present on
    one side only contributes zero (inner-join semantics).
    """
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    a = orders.groupBy(F.col("o_orderkey").alias("k")).agg(F.count("*").alias("ca"))
    b = li.groupBy(F.col("l_orderkey").alias("k")).agg(F.count("*").alias("cb"))
    joined = a.join(b, "k")
    return joined.agg(
        F.sum(F.col("ca") * F.col("cb")).cast("bigint").alias("join_rows"),
        F.max("ca").cast("bigint").alias("max_mult_orders"),
        F.max("cb").cast("bigint").alias("max_mult_lineitem"),
        F.count("*").cast("bigint").alias("n_matching_keys"),
    )


LATENESS_BUCKET = 10_000  # event_id range per local prefix-max bucket


def watermark_lateness_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Out-of-orderness audit: how late do events arrive relative to
    the maximum event time already seen at their arrival point? The
    distribution of that lateness is exactly what sizes a watermark
    delay (`withWatermark`): p95 lateness ≈ the delay that finalizes
    windows while dropping <5% of stragglers.

    Arrival order = event_id (the producer's monotone sequence).
    lateness(e) = max(ts of events arriving before e) - ts(e), floored
    at 0. The running MAX uses the same two-phase decomposition as
    ``peak_session_concurrency``'s running sum — max is a monoid too:
    per-bucket local prefix max in parallel (event_id ranges), a
    KB-scale bucket-offset table (max of all PRIOR buckets) cumulated
    on one partition and broadcast back. One row out: lateness
    quantiles in seconds plus the implied watermark recommendation.
    """
    events = load_table(spark, sf_dir, "events")
    e = events.select(
        "event_id",
        F.unix_micros("ts").alias("tus"),
        F.floor(F.col("event_id") / LATENESS_BUCKET).alias("bucket"),
    )
    w_local = (
        Window.partitionBy("bucket")
        .orderBy("event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    local = e.withColumn("local_max", F.max("tus").over(w_local))
    w_prior = Window.orderBy("bucket").rowsBetween(Window.unboundedPreceding, -1)
    offsets = (
        e.groupBy("bucket")
        .agg(F.max("tus").alias("bucket_max"))
        .withColumn("prior_max", F.max("bucket_max").over(w_prior))
        .select("bucket", "prior_max")
    )
    # greatest() skips nulls; the very first event (both maxes null)
    # has seen nothing earlier -> lateness 0 via coalesce to its own ts
    run = local.join(F.broadcast(offsets), "bucket").withColumn(
        "seen_max",
        F.coalesce(F.greatest("local_max", "prior_max"), F.col("tus")),
    )
    lateness_s = F.greatest(
        (F.col("seen_max") - F.col("tus")) / 1_000_000.0, F.lit(0.0)
    )
    lat = run.select(lateness_s.alias("lateness_s"))
    raw = lat.agg(
        F.count("*").alias("n_events"),
        F.sum((F.col("lateness_s") > 0).cast("long")).alias("n_late"),
        F.expr("percentile(lateness_s, 0.5)").alias("raw_p50"),
        F.expr("percentile(lateness_s, 0.95)").alias("raw_p95"),
        F.max("lateness_s").alias("raw_max"),
    )
    return raw.select(
        "n_events",
        "n_late",
        round2(F.col("raw_p50"), 3).alias("p50_lateness_s"),
        round2(F.col("raw_p95"), 3).alias("p95_lateness_s"),
        round2(F.col("raw_max"), 3).alias("max_lateness_s"),
        F.ceil(F.col("raw_p95")).cast("bigint").alias("recommended_delay_s"),
    )


TREND_ORIGIN = "2024-01-01"


def ols_trend_by_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group ordinary-least-squares trend: regress each event
    type's DAILY total value on the day index (days since a fixed
    origin) with the built-in regression aggregates — slope/intercept/
    r² per group in ONE shuffle, no matrix math, no Python.

    regr_slope/intercept/r2 are partial-aggregable (sum, sum-of-
    squares, cross-moment accumulators merge map-side), so the plan
    is the moments plan: constant-width state per group at any scale.
    Rounded at 1e-4 on both engines.
    """
    events = load_table(spark, sf_dir, "events")
    daily = events.groupBy(
        "event_type", F.date_trunc("day", "ts").cast("date").alias("day")
    ).agg(F.sum("value").alias("y"))
    x = F.datediff(F.col("day"), F.lit(TREND_ORIGIN)).cast("double")
    return (
        daily.select("event_type", x.alias("x"), "y")
        .groupBy("event_type")
        .agg(
            F.count("*").alias("n_days"),
            round2(F.expr("regr_slope(y, x)"), 4).alias("slope"),
            round2(F.expr("regr_intercept(y, x)"), 4).alias("intercept"),
            round2(F.expr("regr_r2(y, x)"), 4).alias("r2"),
        )
    )


def theilsen_trend_by_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group Theil–Sen robust trend: the MEDIAN of all pairwise
    slopes of each event type's daily total — the outlier-resistant
    companion to ``ols_trend_by_type`` (a single corrupted day moves
    OLS arbitrarily; Theil–Sen has a 29% breakdown point), the
    standard robust-trend screen for metric drift.

    Exactness across engines is arranged the attribution way: daily
    totals are exact integer CENTS (floor per event, integer sum), so
    every pairwise slope is the same double division on identical
    integers, and the median — exact interpolated percentile over an
    identical multiset — matches bit-for-bit. Scale: the pair join is
    over the DAILY aggregate (days², not events² — ~10⁵ pairs per
    type per year), metadata after the one fact-table pass; the
    per-type median sorts that bounded pair list.
    """
    events = load_table(spark, sf_dir, "events")
    daily = events.groupBy(
        "event_type", F.date_trunc("day", "ts").cast("date").alias("day")
    ).agg(
        F.sum(F.floor(F.col("value") * 100 + F.lit(0.5))).alias("cents")
    )
    a = daily.select(
        "event_type", F.col("day").alias("d1"), F.col("cents").alias("c1")
    )
    b = daily.select(
        F.col("event_type").alias("et"),
        F.col("day").alias("d2"),
        F.col("cents").alias("c2"),
    )
    pairs = a.join(
        b, (a.event_type == b.et) & (a.d1 < b.d2)
    ).select(
        "event_type",
        (
            (F.col("c2") - F.col("c1")).cast("double")
            / F.datediff("d2", "d1")
        ).alias("slope"),
    )
    return pairs.groupBy("event_type").agg(
        F.count("*").cast("bigint").alias("n_pairs"),
        round2(F.expr("percentile(slope, 0.5)") / F.lit(100.0), 4).alias(
            "trend_per_day"
        ),
    )


def chi2_lang_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chi-square independence test of the (lang × source) contingency
    table over documents: χ² = Σ (obs − exp)²/exp with
    exp = row_total·col_total/n, plus the degrees of freedom — the
    "are these two categorical columns independent?" screen a feature
    audit runs.

    Shape: one grouped count to cell grain, two window margins over
    the (tiny) cell table, one scalar rollup. All the heavy lifting is
    the first count; everything after is KB-scale.
    """
    docs = load_table(spark, sf_dir, "documents")
    cells = docs.groupBy("lang", "source").agg(F.count("*").alias("obs"))
    rows = cells.groupBy("lang").agg(F.sum("obs").alias("row_tot"))
    cols = cells.groupBy("source").agg(F.sum("obs").alias("col_tot"))
    # full margin-product grid (tiny: |langs| x |sources|) so EMPTY
    # cells contribute their (0 - exp)^2/exp = exp term — dropping
    # them understates the statistic
    grid = rows.crossJoin(cols).join(cells, ["lang", "source"], "left")
    m = grid.select(
        "lang",
        "source",
        F.coalesce("obs", F.lit(0)).alias("obs"),
        "row_tot",
        "col_tot",
        F.sum(F.coalesce("obs", F.lit(0))).over(Window.partitionBy()).alias("n"),
    )
    exp = F.col("row_tot") * F.col("col_tot") / F.col("n")
    term = (F.col("obs") - exp) * (F.col("obs") - exp) / exp
    return m.agg(
        round2(F.sum(term), 6).alias("chi2"),
        (
            (F.count_distinct("lang") - 1) * (F.count_distinct("source") - 1)
        ).cast("bigint").alias("dof"),
        F.sum("obs").cast("bigint").alias("n_obs"),
    )


def benford_price_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford's-law first-digit audit of ``o_totalprice`` — the
    classic fabricated-numbers screen: naturally occurring monetary
    amounts follow P(d) = log10(1 + 1/d); per digit we report the
    observed share and its deviation, both as integer ppm (floor) so
    the comparison is bit-exact cross-engine.

    First digit via floor(p / 10^floor(log10 p)) — pure math, no
    double→string formatting (engines format doubles differently).
    One scan, a 9-row aggregate, a window total.
    """
    orders = load_table(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 0)
    digit = F.floor(
        F.col("o_totalprice") / F.pow(F.lit(10.0), F.floor(F.log10("o_totalprice")))
    ).cast("int")
    per_digit = orders.groupBy(digit.alias("digit")).agg(F.count("*").alias("n"))
    total = F.sum("n").over(Window.partitionBy())
    obs_ppm = F.floor(F.col("n") * 1_000_000 / total).cast("bigint")
    exp_ppm = F.floor(
        F.log10(F.lit(1.0) + F.lit(1.0) / F.col("digit")) * 1_000_000
    ).cast("bigint")
    return per_digit.select(
        "digit",
        F.col("n").cast("bigint").alias("n"),
        obs_ppm.alias("observed_ppm"),
        exp_ppm.alias("expected_ppm"),
        (obs_ppm - exp_ppm).alias("deviation_ppm"),
    )


KS_BUCKET = 1_000  # n_chars range per local prefix-sum bucket


def ks_test_chars(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample Kolmogorov–Smirnov test: are English and German
    document lengths drawn from the same distribution? D = max over
    values v of |ECDF_en(v) − ECDF_de(v)| — the nonparametric
    distribution-shift screen (PSI's exact cousin; no binning choices).

    The ECDFs are running sums over the sorted value axis, so this is
    the third application of the two-phase prefix-sum decomposition
    (after the concurrency sweep and the lateness running max):
    per-value conditional counts, per-bucket local prefix sums in
    parallel, KB-scale bucket offsets broadcast back. The statistic
    stays ALL-INTEGER until the final division — D is maximized as
    |c_en·n_de − c_de·n_en| (exact bigint), then floored to ppm — so
    both engines agree bit-for-bit. (At counts beyond ~3·10⁹ per
    sample the cross-product needs decimal(38) instead of bigint.)

    Returns one row: (n_en, n_de, d_ppm, at_value) with at_value the
    smallest length achieving the maximum.
    """
    docs = load_table(spark, sf_dir, "documents").filter(
        F.col("lang").isin("en", "de")
    )
    per_value = docs.groupBy(F.col("n_chars").alias("v")).agg(
        F.sum((F.col("lang") == "en").cast("long")).alias("c_en"),
        F.sum((F.col("lang") == "de").cast("long")).alias("c_de"),
    ).withColumn("bucket", F.floor(F.col("v") / KS_BUCKET))
    w_local = Window.partitionBy("bucket").orderBy("v").rowsBetween(
        Window.unboundedPreceding, 0
    )
    local = per_value.select(
        "bucket",
        "v",
        F.sum("c_en").over(w_local).alias("le"),
        F.sum("c_de").over(w_local).alias("ld"),
    )
    w_prior = Window.orderBy("bucket").rowsBetween(Window.unboundedPreceding, -1)
    offsets = (
        per_value.groupBy("bucket")
        .agg(F.sum("c_en").alias("be"), F.sum("c_de").alias("bd"))
        .select(
            "bucket",
            F.coalesce(F.sum("be").over(w_prior), F.lit(0)).alias("oe"),
            F.coalesce(F.sum("bd").over(w_prior), F.lit(0)).alias("od"),
        )
    )
    totals = docs.groupBy().agg(
        F.sum((F.col("lang") == "en").cast("long")).alias("n_en"),
        F.sum((F.col("lang") == "de").cast("long")).alias("n_de"),
    )
    run = (
        local.join(F.broadcast(offsets), "bucket")
        .crossJoin(F.broadcast(totals))
        .select(
            "v",
            "n_en",
            "n_de",
            F.abs(
                (F.col("oe") + F.col("le")) * F.col("n_de")
                - (F.col("od") + F.col("ld")) * F.col("n_en")
            ).alias("d_num"),
        )
    )
    return (
        run.orderBy(F.desc("d_num"), F.asc("v"))
        .limit(1)
        .select(
            F.col("n_en").cast("bigint").alias("n_en"),
            F.col("n_de").cast("bigint").alias("n_de"),
            F.floor(F.col("d_num") * 1_000_000 / (F.col("n_en") * F.col("n_de")))
            .cast("bigint")
            .alias("d_ppm"),
            F.col("v").cast("bigint").alias("at_value"),
        )
    )


def mann_whitney_chars(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample Mann–Whitney U (Wilcoxon rank-sum) test: do English
    and German document lengths have the same location? The rank-based
    sibling of the KS test — sensitive to median shift where KS is
    sensitive to any CDF gap.

    Stays ALL-INTEGER via doubled midranks: ties at value v share
    midrank cum_before + (ties+1)/2, so 2·midrank = 2·cum_before +
    ties + 1 is exact bigint arithmetic; U is recovered as
    U2 = 2·R_en − n_en(n_en+1) (doubled), and the common-language
    effect size (P(en draw > de draw), ties counted half) is floored
    to ppm. Bit-exact cross-engine, no floating ranks anywhere.

    Same two-phase prefix-sum shape as ``ks_test_chars``: per-value
    counts, bucket-local running sums in parallel, KB-scale bucket
    offsets broadcast back. One shuffle to value grain; the rank pass
    never materializes per-row ranks.
    """
    docs = load_table(spark, sf_dir, "documents").filter(
        F.col("lang").isin("en", "de")
    )
    per_value = (
        docs.groupBy(F.col("n_chars").alias("v"))
        .agg(
            F.sum((F.col("lang") == "en").cast("long")).alias("c_en"),
            F.sum((F.col("lang") == "de").cast("long")).alias("c_de"),
        )
        .withColumn("cnt", F.col("c_en") + F.col("c_de"))
        .withColumn("bucket", F.floor(F.col("v") / KS_BUCKET))
    )
    w_local = Window.partitionBy("bucket").orderBy("v").rowsBetween(
        Window.unboundedPreceding, -1
    )
    local = per_value.select(
        "bucket",
        "v",
        "c_en",
        "cnt",
        F.coalesce(F.sum("cnt").over(w_local), F.lit(0)).alias("lcum"),
    )
    w_prior = Window.orderBy("bucket").rowsBetween(Window.unboundedPreceding, -1)
    offsets = (
        per_value.groupBy("bucket")
        .agg(F.sum("cnt").alias("bc"))
        .select(
            "bucket",
            F.coalesce(F.sum("bc").over(w_prior), F.lit(0)).alias("ocum"),
        )
    )
    # doubled midrank of value v = 2*(rows strictly below v) + ties + 1
    r2_en = (
        local.join(F.broadcast(offsets), "bucket")
        .select(
            (
                F.col("c_en")
                * (2 * (F.col("ocum") + F.col("lcum")) + F.col("cnt") + 1)
            ).alias("term")
        )
        .agg(F.sum("term").alias("r2_en"))
    )
    totals = docs.groupBy().agg(
        F.sum((F.col("lang") == "en").cast("long")).alias("n_en"),
        F.sum((F.col("lang") == "de").cast("long")).alias("n_de"),
    )
    u2 = F.col("r2_en") - F.col("n_en") * (F.col("n_en") + 1)
    return (
        r2_en.crossJoin(F.broadcast(totals))
        .select(
            F.col("n_en").cast("bigint").alias("n_en"),
            F.col("n_de").cast("bigint").alias("n_de"),
            u2.cast("bigint").alias("u2_en"),
            # common-language effect size = U / (n_en * n_de), in ppm
            F.floor(u2 * 500_000 / (F.col("n_en") * F.col("n_de")))
            .cast("bigint")
            .alias("auc_ppm"),
        )
    )


def welch_ttest_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Welch's unequal-variance t-test comparing mean ``value`` between
    click and purchase events — the A/B-metric significance screen.
    t = (m̄₁ − m̄₂)/√(s₁²/n₁ + s₂²/n₂), dof via Welch–Satterthwaite.

    One grouped-aggregate pass (count/avg/var_samp are all partial-
    aggregable: constant-width state per group map-side); the test
    statistic itself is a 2-row driver-free pivot. Rounded at 1e-4 —
    the only floating work is the final scalar formula over six
    aggregates.
    """
    events = load_table(spark, sf_dir, "events").filter(
        F.col("event_type").isin("click", "purchase")
    )
    g = events.groupBy("event_type").agg(
        F.count("*").alias("n"),
        F.avg("value").alias("m"),
        F.var_samp("value").alias("s2"),
    )
    a = F.col("event_type") == "click"
    p = g.agg(
        F.max(F.when(a, F.col("n"))).alias("n1"),
        F.max(F.when(a, F.col("m"))).alias("m1"),
        F.max(F.when(a, F.col("s2"))).alias("s21"),
        F.max(F.when(~a, F.col("n"))).alias("n2"),
        F.max(F.when(~a, F.col("m"))).alias("m2"),
        F.max(F.when(~a, F.col("s2"))).alias("s22"),
    )
    va, vb = F.col("s21") / F.col("n1"), F.col("s22") / F.col("n2")
    se2 = va + vb
    dof = se2 * se2 / (
        va * va / (F.col("n1") - 1) + vb * vb / (F.col("n2") - 1)
    )
    return p.select(
        F.col("n1").cast("bigint").alias("n_click"),
        F.col("n2").cast("bigint").alias("n_purchase"),
        round2(F.col("m1") - F.col("m2"), 4).alias("mean_diff"),
        round2((F.col("m1") - F.col("m2")) / F.sqrt(se2), 4).alias("t_stat"),
        round2(dof, 2).alias("dof"),
    )


def km_survival_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kaplan–Meier survival curve over user lifetimes — the churn/
    retention estimator that handles censoring correctly (users still
    active at the end of the observation window are censored, not
    counted as churned).

    Lifetime = days between a user's first and last event; a user
    whose last event falls on the corpus's final day is censored.
    S(t) = Π_{s≤t, d_s>0} (1 − d_s/n_s) with n_s = users whose
    lifetime ≥ s, computed as N − cumsum(exits before s) — a prefix
    sum over the per-lifetime exit counts, NOT a per-user window.

    The heavy pass is the per-user min/max aggregation (one shuffle by
    user_id, partial-aggregable). Everything after operates on the
    distinct-lifetime table, bounded by the observation span in days
    (30 here, ≤ a few thousand for any real corpus) — the unpartitioned
    windows below run on that KB-scale table only. The product is
    exp(Σ ln(1−d/n)) rounded at 1e-6; each factor is a ratio of exact
    bigints.
    """
    events = load_table(spark, sf_dir, "events")
    horizon = events.agg(
        F.max(F.date_trunc("day", "ts").cast("date")).alias("last_day")
    )
    users = (
        events.groupBy("user_id")
        .agg(
            F.min(F.date_trunc("day", "ts").cast("date")).alias("first_day"),
            F.max(F.date_trunc("day", "ts").cast("date")).alias("user_last"),
        )
        .crossJoin(F.broadcast(horizon))
        .select(
            F.datediff("user_last", "first_day").alias("t"),
            (F.col("user_last") < F.col("last_day")).cast("long").alias("event"),
        )
    )
    per_t = users.groupBy("t").agg(
        F.sum("event").alias("d"),
        F.count("*").alias("x"),  # exits (death or censor) at t
    )
    w_prior = Window.orderBy("t").rowsBetween(Window.unboundedPreceding, -1)
    w_run = Window.orderBy("t").rowsBetween(Window.unboundedPreceding, 0)
    n_total = F.sum("x").over(Window.partitionBy())
    at_risk = per_t.select(
        "t",
        "d",
        (n_total - F.coalesce(F.sum("x").over(w_prior), F.lit(0))).alias("n_risk"),
    )
    # d == n_risk (everyone left dies at t) would be log(0): Spark
    # yields NULL, DuckDB -inf. Keep that factor out of the log-sum
    # and force survival to exactly 0 from that row on instead.
    extinct = F.sum((F.col("d") == F.col("n_risk")).cast("long")).over(w_run)
    factor = F.when(F.col("d") < F.col("n_risk"), 1 - F.col("d") / F.col("n_risk")).otherwise(F.lit(1.0))
    surv = F.when(extinct > 0, F.lit(0.0)).otherwise(
        F.exp(F.sum(F.log(factor)).over(w_run))
    )
    return at_risk.filter(F.col("d") > 0).select(
        F.col("t").cast("bigint").alias("t_days"),
        F.col("n_risk").cast("bigint").alias("n_risk"),
        F.col("d").cast("bigint").alias("n_events"),
        round2(surv, 6).alias("survival"),
    )


BOOT_B = 32
# Poisson(1) CDF thresholds in integer ppm (floor): a hash-uniform
# u_ppm in [0, 1e6) maps to weight = #{thresholds <= u_ppm}. Integer
# compares only — replicate membership is bit-exact cross-engine.
BOOT_CDF_PPM = (
    367879, 735758, 919698, 981011, 996340,
    999405, 999916, 999989, 999997,
)


def bootstrap_mean_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Poisson bootstrap standard error of mean(o_totalprice) — the
    resampling-free bootstrap for distributed data (Chamandy et al.,
    "Estimating Uncertainty for Massive Data Streams", Google 2012):
    instead of drawing N rows with replacement (which needs global
    coordination), each row enters replicate b with an independent
    Poisson(1) weight, here derived DETERMINISTICALLY from
    md5(orderkey, b) so both engines agree on every weight.

    Shape: one narrow scan, explode ×B=32, and a 32-group partial
    aggregate — map-side combine collapses each input partition to 32
    rows before the shuffle, so the only real cost is the 32× widened
    expression evaluation (no extra I/O, no resample shuffle; measured
    ~8 s at sf0.1 on local[32], linear in rows×B — the md5 evaluation
    dominates). The replicate means then reduce to one row: point
    mean, bootstrap SE, and the replicate-mean range.
    """
    orders = load_table(spark, sf_dir, "orders")
    b = F.explode(F.sequence(F.lit(0), F.lit(BOOT_B - 1))).alias("b")
    u_ppm = (
        F.conv(
            F.substring(
                F.md5(
                    F.concat_ws(
                        "|",
                        F.col("o_orderkey").cast("string"),
                        F.col("b").cast("string"),
                    )
                ),
                1,
                8,
            ),
            16,
            10,
        ).cast("bigint")
        % 1_000_000
    )
    w = sum(
        [(u_ppm >= F.lit(c)).cast("long") for c in BOOT_CDF_PPM],
        F.lit(0),
    )
    rep = (
        orders.select(F.col("o_orderkey"), F.col("o_totalprice"), b)
        .select("b", (w * F.col("o_totalprice")).alias("wx"), w.alias("w"))
        .groupBy("b")
        .agg((F.sum("wx") / F.sum("w")).alias("mean_b"))
    )
    point = load_table(spark, sf_dir, "orders").agg(
        F.count("*").alias("n"), F.avg("o_totalprice").alias("mean_all")
    )
    return rep.crossJoin(F.broadcast(point)).agg(
        F.first("n").cast("bigint").alias("n"),
        F.count("*").cast("bigint").alias("n_replicates"),
        round2(F.first("mean_all"), 3).alias("point_mean"),
        round2(F.stddev_samp("mean_b"), 3).alias("se_boot"),
        round2(F.min("mean_b"), 3).alias("rep_min"),
        round2(F.max("mean_b"), 3).alias("rep_max"),
    )


CUPED_SPLIT_DAY = "2024-01-16"  # pre-period: days before; post: from


def cuped_adjusted_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUPED-adjusted A/B metric (Deng et al., WSDM 2013): assign
    users to arms by md5 parity, metric = per-user POST-period total
    value, covariate = the same user's PRE-period total. The adjusted
    metric Y' = Y − θ(X − X̄) with θ = cov(Y,X)/var(X) removes the
    variance explained by pre-experiment behavior — the standard
    trick that makes small lifts detectable without more traffic.

    One shuffle to user grain (partial-aggregable sums), then scalar
    covariance aggregates over the user table and a 2×-broadcast
    combine. Reports raw and adjusted lift plus the variance-reduction
    share in ppm (floored on an integer-scaled ratio of rounded
    variances so both engines agree).
    """
    events = load_table(spark, sf_dir, "events")
    users = events.groupBy("user_id").agg(
        F.sum(
            F.when(F.col("ts") >= F.lit(CUPED_SPLIT_DAY), F.col("value")).otherwise(0.0)
        ).alias("y"),
        F.sum(
            F.when(F.col("ts") < F.lit(CUPED_SPLIT_DAY), F.col("value")).otherwise(0.0)
        ).alias("x"),
        (md5_parity("user_id")).alias("arm"),
    )
    g = users.groupBy().agg(
        F.covar_samp("y", "x").alias("cyx"),
        F.var_samp("x").alias("vx"),
        F.avg("x").alias("mx"),
        F.var_samp("y").alias("vy"),
    )
    theta = F.col("cyx") / F.col("vx")
    adj = users.crossJoin(F.broadcast(g)).select(
        "arm",
        "y",
        (F.col("y") - theta * (F.col("x") - F.col("mx"))).alias("y_adj"),
        (F.col("vy") - F.col("cyx") * F.col("cyx") / F.col("vx")).alias("v_adj"),
        "vy",
    )
    a = F.col("arm") == 1
    return adj.agg(
        F.sum(a.cast("long")).cast("bigint").alias("n_treat"),
        F.sum((~a).cast("long")).cast("bigint").alias("n_control"),
        round2(
            F.avg(F.when(a, F.col("y"))) - F.avg(F.when(~a, F.col("y"))), 4
        ).alias("raw_diff"),
        round2(
            F.avg(F.when(a, F.col("y_adj"))) - F.avg(F.when(~a, F.col("y_adj"))), 4
        ).alias("cuped_diff"),
        round2(1 - F.first("v_adj") / F.first("vy"), 4).alias("var_reduction"),
    )


def md5_parity(key_col: str):
    """Deterministic 0/1 arm assignment — md5-bucket mod 2, the
    cross-engine twin of `md5_bucket(key, 2)`."""
    return (
        F.conv(F.substring(F.md5(F.col(key_col).cast("string")), 1, 8), 16, 10)
        .cast("bigint")
        % 2
    )


ACF_MAX_LAG = 7


def acf_daily_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lag-1..7 autocorrelation of the daily total event value — the
    seasonality screen run before choosing a forecasting window.
    ACF(k) = corr(y_t, y_{t−k}) over the aligned day pairs.

    The heavy pass is the daily aggregate (one shuffle, partial agg);
    the series itself is bounded by the observation span in days, so
    the per-lag self-join runs on a KB-scale table (broadcast, day+lag
    equi-key). Pearson corr is partial-aggregable on both engines;
    rounded at 1e-4.
    """
    events = load_table(spark, sf_dir, "events")
    daily = events.groupBy(
        F.date_trunc("day", "ts").cast("date").alias("day")
    ).agg(F.sum("value").alias("y"))
    lags = spark.range(1, ACF_MAX_LAG + 1).select(F.col("id").cast("int").alias("lag"))
    shifted = daily.crossJoin(F.broadcast(lags)).select(
        F.date_add("day", F.col("lag")).alias("day"), "lag", F.col("y").alias("y_prev")
    )
    return (
        daily.join(F.broadcast(shifted), "day")
        .groupBy("lag")
        .agg(
            F.count("*").cast("bigint").alias("n_pairs"),
            round2(F.corr("y", "y_prev"), 4).alias("acf"),
        )
    )


Z_BITS = 16  # per-dimension rank resolution
Z_FILES = 64  # simulated file count (top 6 bits of the layout key)
# the audited 2-D query box: one order-year x a mid price band
ZQ_DATE_LO, ZQ_DATE_HI = "1997-01-01", "1997-12-31"
ZQ_PRICE_LO, ZQ_PRICE_HI = 100_000.0, 200_000.0


def _interleave_bits(x, y):
    """32-bit Morton code from two 16-bit ints — pure shift/and/or
    expressions, kept in lockstep with the SQL twin builder
    (queries_batch._morton_sql)."""
    z = F.lit(0).cast("bigint")
    for i in range(Z_BITS):
        z = (
            z
            + F.shiftleft(F.shiftright(x, i).bitwiseAND(F.lit(1)), 2 * i)
            + F.shiftleft(F.shiftright(y, i).bitwiseAND(F.lit(1)), 2 * i + 1)
        )
    return z


def zorder_pruning_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DQ/layout — measures what Z-ORDERING buys on a 2-D filter:
    lay orders out into 64 simulated files two ways — Morton
    (bit-interleaved orderdate×totalprice rank) vs. the naive
    insertion order (orderkey ranges) — then replay file-level
    min/max (zone-map) pruning for a date-band × price-band query
    and report how many files and rows each layout actually scans.

    This is the planning arithmetic behind Delta/Iceberg Z-ORDER BY
    and Spark's own parquet min/max skipping, run AS A QUERY so the
    layout decision is evidence-backed instead of folklore: the
    Morton layout's files are 2-D tiles, so a 2-D box touches
    O(perimeter) files; the key layout correlates with nothing and
    scans ~everything. All-integer outputs (counts, file tallies) —
    hash-exact cross-engine; the rank normalization divides identical
    doubles on both sides.

    Shape: one scan + 1-row bounds broadcast, explode ×2 (one row per
    candidate layout), one (layout, file) aggregate, one per-layout
    rollup. No shuffle exceeds 2×64 rows after partial aggregation.
    """
    orders = load_table(spark, sf_dir, "orders")
    bounds = orders.agg(
        F.min(F.col("o_orderdate").cast("date")).alias("d_lo"),
        F.max(F.col("o_orderdate").cast("date")).alias("d_hi"),
        F.min("o_totalprice").alias("p_lo"),
        F.max("o_totalprice").alias("p_hi"),
        F.max("o_orderkey").alias("k_hi"),
    )
    scale = (1 << Z_BITS) - 1
    xr = F.floor(
        F.datediff(F.col("o_orderdate").cast("date"), F.col("d_lo"))
        * F.lit(float(scale))
        / F.datediff(F.col("d_hi"), F.col("d_lo"))
    ).cast("bigint")
    yr = F.floor(
        (F.col("o_totalprice") - F.col("p_lo"))
        * F.lit(float(scale))
        / (F.col("p_hi") - F.col("p_lo"))
    ).cast("bigint")
    # Optimization r11 (guide §1.2#2 per-task work): the layout key
    # keeps only the TOP 6 Morton bits (64 files), i.e. the interleave
    # of bits Z_BITS-3..Z_BITS-1 of each rank — building the full
    # 2·Z_BITS-bit code and shifting it away burned a 96-node
    # expression chain per row for bits that cannot survive.
    # Arithmetic identity: shiftright(interleave(x, y), 2·Z_BITS-6)
    # == Σ_{i=Z_BITS-3..Z_BITS-1} ((x>>i)&1) << (2i-(2·Z_BITS-6))
    #                           + ((y>>i)&1) << (2i-(2·Z_BITS-6)+1).
    # Verified row-for-row equal against the full-interleave form at
    # sf0.1; the DuckDB twin keeps the full formula (same identity).
    # Measured 2.6 → 0.94 s at sf0.1.
    zfile = F.lit(0).cast("bigint")
    for i in range(Z_BITS - 3, Z_BITS):
        lo = 2 * i - (2 * Z_BITS - 6)
        zfile = (
            zfile
            + F.shiftleft(F.shiftright(xr, i).bitwiseAND(F.lit(1)), lo)
            + F.shiftleft(F.shiftright(yr, i).bitwiseAND(F.lit(1)), lo + 1)
        )
    kfile = F.least(
        F.floor(F.col("o_orderkey") * Z_FILES / (F.col("k_hi") + 1)).cast("bigint"),
        F.lit(Z_FILES - 1),
    )
    in_box = (
        (F.col("o_orderdate").cast("date") >= F.lit(ZQ_DATE_LO))
        & (F.col("o_orderdate").cast("date") <= F.lit(ZQ_DATE_HI))
        & (F.col("o_totalprice") >= ZQ_PRICE_LO)
        & (F.col("o_totalprice") <= ZQ_PRICE_HI)
    ).cast("long")
    tagged = (
        orders.crossJoin(F.broadcast(bounds))
        .select(
            F.col("o_orderdate").cast("date").alias("d"),
            F.col("o_totalprice").alias("p"),
            in_box.alias("hit"),
            F.explode(
                F.array(
                    F.struct(F.lit("zorder").alias("layout"), zfile.alias("f")),
                    F.struct(F.lit("keyorder").alias("layout"), kfile.alias("f")),
                )
            ).alias("lf"),
        )
        .select("d", "p", "hit", "lf.layout", "lf.f")
    )
    files = tagged.groupBy("layout", "f").agg(
        F.count("*").alias("rows"),
        F.sum("hit").alias("hits"),
        F.min("d").alias("dmin"),
        F.max("d").alias("dmax"),
        F.min("p").alias("pmin"),
        F.max("p").alias("pmax"),
    )
    scanned = (
        (F.col("dmin") <= F.lit(ZQ_DATE_HI))
        & (F.col("dmax") >= F.lit(ZQ_DATE_LO))
        & (F.col("pmin") <= ZQ_PRICE_HI)
        & (F.col("pmax") >= ZQ_PRICE_LO)
    ).cast("long")
    return (
        files.groupBy("layout")
        .agg(
            F.count("*").cast("bigint").alias("n_files"),
            F.sum(scanned).cast("bigint").alias("files_scanned"),
            F.sum(F.col("rows")).cast("bigint").alias("rows_total"),
            F.sum("hits").cast("bigint").alias("rows_matched"),
            F.sum(scanned * F.col("rows")).cast("bigint").alias("rows_scanned"),
        )
    )


MTA_HALF_LIFE_US = 6 * 3_600_000_000  # decay half-life: 6 h
MTA_BUCKETS = 4  # 4 half-lives cover the 24 h lookback


def multitouch_time_decay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TIME-DECAY multi-touch attribution — recency-weighted credit:
    a touch j half-lives before the purchase earns weight 2^-j.
    Completes the attribution family (last-touch ``asof``, equal-split
    ``mta_linear_attribution``).

    The decisive trick for both scale and exactness: the continuous
    exp(−Δt/τ) decay is DISCRETIZED to half-life buckets, so per-type
    weighted touch counts become 4 RANGE-frame window counts per type
    — bucket j counts touches with Δt ∈ ((j)·hl, (j+1)·hl] — combined
    as Σ (8>>j)·n_tj. One sort per user serves all 12 frames (same
    single-pass shape as the linear variant: no range self-join), and
    every weight is an exact integer, so credits are deterministic
    integer millicents and the final sums carry no float-summation
    hash risk.
    """
    events = load_table(spark, sf_dir, "events")
    hl = MTA_HALF_LIFE_US
    ev = events.select(
        "user_id",
        "event_type",
        F.unix_micros("ts").alias("tus"),
        F.floor(F.col("value") * 100 + F.lit(0.5)).alias("cents"),
    )
    types = ("click", "view", "signup")
    weighted = {}
    for t in types:
        acc = F.lit(0)
        for j in range(MTA_BUCKETS):
            w = (
                Window.partitionBy("user_id")
                .orderBy("tus")
                .rangeBetween(-(j + 1) * hl, -j * hl - 1)
            )
            # narrow bucket frames are often EMPTY, where sum() is
            # NULL (not 0) — coalesce or the weight poisons to null
            acc = acc + (8 >> j) * F.coalesce(
                F.sum(F.when(F.col("event_type") == t, 1).otherwise(0)).over(w),
                F.lit(0),
            )
        weighted[t] = acc
    p = (
        ev.select(
            "event_type",
            "cents",
            *[wt.alias(f"w_{t}") for t, wt in weighted.items()],
        )
        .filter(F.col("event_type") == "purchase")
        .withColumn("w_touch", F.col("w_click") + F.col("w_view") + F.col("w_signup"))
        .filter(F.col("w_touch") > 0)
    )
    credited = p.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(t).alias("touch_type"),
                        # exact integer half-up: round(n/d) =
                        # (2n + d) DIV 2d for n >= 0, d > 0 — no
                        # F.round (Spark HALF_UP on shortest-decimal
                        # repr diverges from DuckDB's binary
                        # half-away at exact ties, see round2), no
                        # float at all: cents/weights are bigints
                        F.expr(
                            f"CAST((2 * cents * w_{t} * 1000 + w_touch)"
                            " DIV (2 * w_touch) AS BIGINT)"
                        ).alias("credit_mc"),
                        (F.col(f"w_{t}") > 0).cast("int").alias("hit"),
                    )
                    for t in types
                ]
            )
        ).alias("c")
    ).select("c.touch_type", "c.credit_mc", "c.hit")
    return credited.groupBy("touch_type").agg(
        F.sum("hit").cast("bigint").alias("n_purchases_credited"),
        round2(F.sum("credit_mc") / F.lit(100_000.0), 2).alias("credited_revenue"),
    )


def rfm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM segmentation — the classic customer-value grid: per user,
    Recency (days since last purchase), Frequency (purchase count),
    Monetary (purchase revenue), each cut into quintiles, users
    reported per three-digit RFM segment (555 = best).

    One shuffle to user grain; the quintile cuts are `ntile(5)` over
    the USER table (already N/|events-per-user| smaller than the
    input — at 100 TB of events this is the manageable dimension
    table; the same single-sort disclosure as `sf_exact_percentiles`
    applies, with per-dimension sorts). Ties order by user_id so both
    engines agree on every boundary user; recency sorts ASCENDING
    (most recent = highest quintile after the 6−q flip), all outputs
    integer except the rounded segment revenue.
    """
    events = load_table(spark, sf_dir, "events")
    horizon = events.agg(
        F.max(F.date_trunc("day", "ts").cast("date")).alias("last_day")
    )
    users = (
        events.filter(F.col("event_type") == "purchase")
        .groupBy("user_id")
        .agg(
            F.max(F.date_trunc("day", "ts").cast("date")).alias("last_purchase"),
            F.count("*").alias("frequency"),
            F.sum(F.floor(F.col("value") * 100 + F.lit(0.5))).alias("cents"),
        )
        .crossJoin(F.broadcast(horizon))
        .select(
            "user_id",
            F.datediff("last_day", "last_purchase").alias("recency_days"),
            "frequency",
            "cents",
        )
    )
    r_q = 6 - F.ntile(5).over(Window.orderBy(F.asc("recency_days"), F.asc("user_id")))
    f_q = F.ntile(5).over(Window.orderBy(F.asc("frequency"), F.asc("user_id")))
    m_q = F.ntile(5).over(Window.orderBy(F.asc("cents"), F.asc("user_id")))
    seg = (
        users.withColumn("r", r_q)
        .withColumn("f", f_q)
        .withColumn("m", m_q)
        .withColumn("segment", (F.col("r") * 100 + F.col("f") * 10 + F.col("m")).cast("bigint"))
    )
    return seg.groupBy("segment").agg(
        F.count("*").cast("bigint").alias("n_users"),
        F.sum("frequency").cast("bigint").alias("n_purchases"),
        round2(F.sum("cents") / 100.0, 2).alias("revenue"),
    )


def _key_skew(df: DataFrame, key: str, label: str) -> DataFrame:
    """One key's skew profile: count per key, then integer-exact
    Gini / top-share statistics over the (already aggregated,
    rows << input) key-count table."""
    counts = df.groupBy(F.col(key).alias("k")).agg(F.count("*").alias("c"))
    w_rank = Window.orderBy(F.asc("c"), F.asc("k"))
    w_top = Window.orderBy(F.desc("c"), F.asc("k"))
    ranked = counts.select(
        "c",
        F.row_number().over(w_rank).alias("i"),
        F.row_number().over(w_top).alias("top_i"),
    )
    return ranked.agg(
        F.lit(label).alias("key"),
        F.count("*").cast("bigint").alias("n_keys"),
        F.sum("c").cast("bigint").alias("n_rows"),
        F.floor(F.max("c") * 1_000_000 / F.sum("c")).cast("bigint").alias(
            "top1_share_ppm"
        ),
        F.floor(
            F.sum(F.when(F.col("top_i") <= 10, F.col("c")).otherwise(0))
            * 1_000_000
            / F.sum("c")
        )
        .cast("bigint")
        .alias("top10_share_ppm"),
        # Gini over sorted-ascending counts: G = (2·Σ i·c_i − (n+1)·Σc)
        # / (n·Σc) — exact bigint numerator, floored to ppm
        F.floor(
            (2 * F.sum(F.col("i") * F.col("c")) - (F.count("*") + 1) * F.sum("c"))
            * 1_000_000
            / (F.count("*") * F.sum("c"))
        )
        .cast("bigint")
        .alias("gini_ppm"),
    )


def key_skew_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DQ/layout — join-key skew profile: per candidate shuffle key,
    the distinct-key count, top-1/top-10 key shares, and the Gini
    coefficient of the key-frequency distribution — the measurement
    behind every salting / AQE-skew-join decision (pairs with
    ``skew_salted_user_stats``, which is the FIX; this is the
    detector you run first).

    Shape: one count-aggregate per key (rows collapse to distinct
    keys — the dimension, not the fact, cardinality), then rank
    windows over the key-count table. All statistics stay exact
    bigints until a final ppm floor. The rank sort is single-pass
    over the aggregated key table; at billions of keys the same
    two-phase bucketed prefix-sum used by the KS/Mann-Whitney pair
    applies (bucket by count), and the quantile-sketch family is the
    approximate fallback.
    """
    events = load_table(spark, sf_dir, "events")
    li = load_table(spark, sf_dir, "lineitem")
    return _key_skew(events, "user_id", "events.user_id").unionByName(
        _key_skew(li, "l_orderkey", "lineitem.l_orderkey")
    )


POWER_Z_ALPHA = 1.959964  # two-sided 5%
POWER_Z_BETA = 0.841621  # 80% power
POWER_MDE_PCT = (2, 5, 10)  # minimum detectable effects, % of mean


def ab_power_analysis(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Experimentation — sample-size / power analysis from observed
    variance: for each candidate minimum-detectable-effect (as % of
    the mean per-user value), the users-per-arm needed for 80% power
    at two-sided α=5%: n = 2·(z_α/2+z_β)²·σ²/Δ². The planning query
    an experimentation platform runs BEFORE launching the A/B test
    that ``sf_cuped_adjusted_diff`` later reads out.

    One user-grain aggregate (the same pass CUPED makes), a 1-row
    moments reduce, and a 3-row MDE grid broadcast. ceil() on the
    final count; everything before it is identical double arithmetic
    on both engines.
    """
    events = load_table(spark, sf_dir, "events")
    users = events.groupBy("user_id").agg(F.sum("value").alias("y"))
    m = users.agg(
        F.count("*").alias("n_users"),
        F.avg("y").alias("mean_y"),
        F.var_samp("y").alias("var_y"),
    )
    grid = spark.range(len(POWER_MDE_PCT)).select(
        F.element_at(
            F.array(*[F.lit(p) for p in POWER_MDE_PCT]), (F.col("id") + 1).cast("int")
        ).alias("mde_pct")
    )
    z2 = (POWER_Z_ALPHA + POWER_Z_BETA) ** 2
    delta = F.col("mean_y") * F.col("mde_pct") / 100.0
    n_arm = F.ceil(2 * F.lit(z2) * F.col("var_y") / (delta * delta))
    return (
        m.crossJoin(F.broadcast(grid))
        .select(
            F.col("mde_pct").cast("bigint").alias("mde_pct"),
            F.col("n_users").cast("bigint").alias("n_users_observed"),
            round2(F.col("mean_y"), 4).alias("mean_y"),
            round2(F.sqrt("var_y"), 4).alias("sd_y"),
            n_arm.cast("bigint").alias("n_per_arm_needed"),
            (n_arm * 2 <= F.col("n_users")).alias("feasible_now"),
        )
    )


# --- multiple-testing control: Benjamini-Hochberg FDR ----------------

FDR_Q = 0.05

# Two-sided normal p-value p = erfc(|z|/sqrt(2)) via Abramowitz-Stegun
# 7.1.26 (max abs error 1.5e-7 — far inside the 1e-6 output rounding).
# The polynomial is evaluated from the SAME string by Spark (F.expr)
# and the DuckDB oracle (queries_batch.py interpolation), over the
# named columns az = |z|/sqrt(2) and tt = 1/(1 + 0.3275911*az), so the
# special function has no hand-transcription seam between engines.
PVAL_TT_EXPR = "1.0 / (1.0 + 0.3275911 * az)"
PVAL_EXPR = (
    "((((1.061405429 * tt - 1.453152027) * tt + 1.421413741) * tt"
    " - 0.284496736) * tt + 0.254829592) * tt * exp(-az * az)"
)


def fdr_bh_nations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """sf — Benjamini-Hochberg FDR control over a family of per-group
    hypothesis tests: for every nation, a two-sided z-test of whether
    its customers' mean account balance differs from the global mean,
    then the BH step-up adjustment at q = FDR_Q. This is the missing
    piece after per-test statistics (``sf_welch_ttest_value``,
    ``sf_mann_whitney_chars``): any platform that screens hundreds of
    segment metrics per day needs multiplicity control, not raw
    p-values.

    Plan shape: one grouped-aggregate pass (n, mean per nation) + a
    1-row global-moments broadcast; the BH machinery — ascending
    p-rank, step-up reverse running minimum of m*p/i — runs on m rows
    (one per group), metadata-scale regardless of fact-table size.
    """
    cust = load_table(spark, sf_dir, "customer")
    g = cust.groupBy("c_nationkey").agg(
        F.count("*").alias("n"), F.avg("c_acctbal").alias("m")
    )
    tot = cust.agg(
        F.avg("c_acctbal").alias("ma"), F.stddev_samp("c_acctbal").alias("sa")
    )
    z = g.crossJoin(F.broadcast(tot)).withColumn(
        "zstat", (F.col("m") - F.col("ma")) / (F.col("sa") / F.sqrt("n"))
    )
    pv = (
        z.withColumn("az", F.abs(F.col("zstat")) / F.sqrt(F.lit(2.0)))
        .withColumn("tt", F.expr(PVAL_TT_EXPR))
        .withColumn("p", F.expr(PVAL_EXPR))
    )
    w_rank = Window.orderBy(F.asc("p"), F.asc("c_nationkey"))
    ranked = pv.withColumn("i", F.row_number().over(w_rank)).withColumn(
        "mt", F.count("*").over(Window.partitionBy())
    )
    w_tail = Window.orderBy("i").rowsBetween(0, Window.unboundedFollowing)
    adj = ranked.withColumn(
        "p_bh",
        F.min(F.least(F.lit(1.0), F.col("mt") * F.col("p") / F.col("i"))).over(
            w_tail
        ),
    )
    return adj.select(
        "c_nationkey",
        F.col("n").cast("bigint").alias("n_customers"),
        round2("m", 2).alias("mean_bal"),
        round2("zstat", 4).alias("z_stat"),
        round2("p", 6).alias("p_value"),
        round2("p_bh", 6).alias("p_bh"),
        (F.col("p_bh") <= FDR_Q).alias("reject_fdr"),
    )


def cusum_changepoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ts — CUSUM change-point detection over the daily total event
    value: S_t = Σ_{i≤t}(x_i − x̄); the day maximizing |S_t| is the
    most likely level-shift point (Page 1954, public literature), and
    the before/after means quantify the shift. The drift companion to
    `ts_rolling_zscore` (local spikes) and `sf_psi_drift`
    (distributional): CUSUM finds WHEN a persistent level change
    happened, which is the first question an on-call data engineer
    asks about a metric regression.

    Scale shape: the fact scan collapses to one row per calendar day
    before any window runs, so the global-ordering prefix sum and the
    top-1 pick operate on a calendar-bounded series (the same
    argument as `ts_ewma_daily_value`); the chosen change-point is a
    1-row broadcast back onto the daily series for the split means.
    """
    events = load_table(spark, sf_dir, "events")
    daily = events.groupBy(
        F.date_trunc("day", "ts").cast("date").alias("day")
    ).agg(F.sum("value").alias("x"))
    dev = daily.withColumn("mx", F.avg("x").over(Window.partitionBy()))
    cus = dev.withColumn(
        "s",
        F.sum(F.col("x") - F.col("mx")).over(
            Window.orderBy("day").rowsBetween(Window.unboundedPreceding, 0)
        ),
    )
    top = (
        cus.orderBy(F.abs(F.col("s")).desc(), F.asc("day"))
        .limit(1)
        .select(F.col("day").alias("cp_day"), F.abs(F.col("s")).alias("cmax"))
    )
    joined = daily.crossJoin(F.broadcast(top))
    return joined.agg(
        F.count("*").cast("bigint").alias("n_days"),
        # timestamp, not date: the driver comparator stringifies dates
        # engine-dependently but timestamps identically (ewma precedent)
        F.first(F.col("cp_day").cast("timestamp")).alias("changepoint_day"),
        round2(F.first("cmax"), 2).alias("cusum_max"),
        round2(
            F.avg(F.when(F.col("day") <= F.col("cp_day"), F.col("x"))), 2
        ).alias("mean_before"),
        round2(
            F.avg(F.when(F.col("day") > F.col("cp_day"), F.col("x"))), 2
        ).alias("mean_after"),
    )


def seasonal_decompose_dow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ts — classical additive seasonal decomposition of the daily
    event value with day-of-week seasonality: trend = centered 7-day
    moving average, detrended = x − trend, seasonal index = per-dow
    mean of the detrended series re-centered to sum to zero. The
    calendar twin of `ts_cusum_changepoint`: CUSUM finds level
    shifts, this separates the weekly rhythm from them so alerts
    compare like weekdays with like.

    Day-of-week comes from anchor-date arithmetic
    (``datediff(day, 1970-01-05) % 7``, 0 = Monday) instead of each
    engine's dayofweek() — Spark counts Sunday=1 and DuckDB Sunday=0,
    and the modulo form removes that convention seam entirely.

    Scale shape: identical to the other ts ops — the fact scan
    collapses to one row per day before any window, the 7-wide MA and
    the 7-row seasonal centering are calendar-bounded.
    """
    events = load_table(spark, sf_dir, "events")
    daily = events.groupBy(
        F.date_trunc("day", "ts").cast("date").alias("day")
    ).agg(F.sum("value").alias("x"))
    w7 = Window.orderBy("day").rowsBetween(-3, 3)
    det = daily.withColumn("trend", F.avg("x").over(w7)).withColumn(
        "det", F.col("x") - F.col("trend")
    )
    dow = det.withColumn(
        "dow_idx",
        F.pmod(F.datediff(F.col("day"), F.lit("1970-01-05").cast("date")), F.lit(7))
        .cast("bigint"),
    )
    per = dow.groupBy("dow_idx").agg(
        F.count("*").cast("bigint").alias("n_days"),
        F.avg("det").alias("md"),
    )
    centered = per.withColumn("grand", F.avg("md").over(Window.partitionBy()))
    return centered.select(
        "dow_idx",
        "n_days",
        round2("md", 4).alias("seasonal_raw"),
        round2(F.col("md") - F.col("grand"), 4).alias("seasonal_idx"),
    )


SPEARMAN_X_BUCKET = 8
SPEARMAN_Y_BUCKET = 100.0


def _midranks2(df: DataFrame, value_col: str, bucket_width) -> DataFrame:
    """Value-grain DOUBLED midranks (2·midrank = 2·rows-strictly-below
    + ties + 1 — always an exact integer, whatever the value type)
    via the same two-phase bucketed prefix sum as ``mann_whitney``:
    bucket-local running sums in parallel, KB-scale bucket offsets
    broadcast back. Returns (v, mr2); per-row ranks are never
    materialized — callers join their row grain to this value grain.
    """
    per_value = (
        df.groupBy(F.col(value_col).alias("v"))
        .agg(F.count("*").alias("cnt"))
        .withColumn("bucket", F.floor(F.col("v") / bucket_width))
    )
    w_local = Window.partitionBy("bucket").orderBy("v").rowsBetween(
        Window.unboundedPreceding, -1
    )
    local = per_value.select(
        "bucket",
        "v",
        "cnt",
        F.coalesce(F.sum("cnt").over(w_local), F.lit(0)).alias("lcum"),
    )
    w_prior = Window.orderBy("bucket").rowsBetween(Window.unboundedPreceding, -1)
    offsets = (
        per_value.groupBy("bucket")
        .agg(F.sum("cnt").alias("bc"))
        .select(
            "bucket",
            F.coalesce(F.sum("bc").over(w_prior), F.lit(0)).alias("ocum"),
        )
    )
    return local.join(F.broadcast(offsets), "bucket").select(
        "v",
        (2 * (F.col("ocum") + F.col("lcum")) + F.col("cnt") + 1)
        .cast("bigint")
        .alias("mr2"),
    )


def spearman_user_activity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """sf — Spearman rank correlation between each user's event count
    and total value, next to raw Pearson: the monotone-association
    screen that survives the heavy-tailed spend distributions Pearson
    is wrecked by.

    Exactness design: the per-user y is rounded to cents BEFORE
    ranking so both engines rank identical values; doubled midranks
    are exact integers (the ``mann_whitney`` trick), so every rank
    SUM is a bigint both engines agree on bit-for-bit, and the final
    rho formula is one double expression over nine integer scalars —
    zero summation-order exposure. (Integer moment sums bound: with
    doubled ranks ≤ 2n, Σmr² < 4n³ stays inside bigint below n ≈ 1.3e6
    users per the n·Σ product in the formula; beyond that, move the
    moment accumulators to DECIMAL(38,0) — the shape is unchanged.)

    Scale shape: one shuffle to user grain, one to each value grain
    (distinct-value-bounded), two value-grain joins back — per-row
    global ranks are never materialized, so there is no
    single-partition window over the user table.
    """
    events = load_table(spark, sf_dir, "events")
    u = events.groupBy("user_id").agg(
        F.count("*").cast("bigint").alias("x"),
        round2(F.sum("value"), 2).alias("y"),
    )
    rx = _midranks2(u, "x", SPEARMAN_X_BUCKET).withColumnRenamed("mr2", "rx2")
    ry = _midranks2(u, "y", SPEARMAN_Y_BUCKET).withColumnRenamed("mr2", "ry2")
    ranked = (
        u.join(rx, u.x == rx.v)
        .drop("v")
        .join(ry, u.y == ry.v)
        .drop("v")
    )
    m = ranked.agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum("rx2").cast("bigint").alias("sx"),
        F.sum("ry2").cast("bigint").alias("sy"),
        F.sum(F.col("rx2") * F.col("rx2")).cast("bigint").alias("sxx"),
        F.sum(F.col("ry2") * F.col("ry2")).cast("bigint").alias("syy"),
        F.sum(F.col("rx2") * F.col("ry2")).cast("bigint").alias("sxy"),
        # raw Pearson moments for contrast (doubles, rounded at the end)
        F.avg("x").alias("pmx"),
        F.avg("y").alias("pmy"),
        F.avg(F.col("x") * F.col("x")).alias("pxx"),
        F.avg(F.col("y") * F.col("y")).alias("pyy"),
        F.avg(F.col("x") * F.col("y")).alias("pxy"),
    )
    n, sx, sy = F.col("n"), F.col("sx").cast("double"), F.col("sy").cast("double")
    sxx, syy, sxy = (
        F.col("sxx").cast("double"),
        F.col("syy").cast("double"),
        F.col("sxy").cast("double"),
    )
    rho = (n * sxy - sx * sy) / F.sqrt(
        (n * sxx - sx * sx) * (n * syy - sy * sy)
    )
    pear = (F.col("pxy") - F.col("pmx") * F.col("pmy")) / F.sqrt(
        (F.col("pxx") - F.col("pmx") * F.col("pmx"))
        * (F.col("pyy") - F.col("pmy") * F.col("pmy"))
    )
    return m.select(
        F.col("n").alias("n_users"),
        round2(rho, 4).alias("spearman_rho"),
        round2(pear, 4).alias("pearson_r"),
    )


# --- Holt linear-trend double exponential smoothing -------------------

HOLT_ALPHA = 0.3
HOLT_BETA = 0.1


def holt_linear_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ts — Holt's linear-trend (double) exponential smoothing of the
    daily event value: level l_t = alpha*x_t + (1-alpha)*(l+b), trend
    b_t = beta*(l_t-l) + (1-beta)*b, one-step forecast x_hat_t = l+b,
    initialized l_2 = x_2, b_2 = x_2-x_1. The trend companion to
    ``ewma_daily_value`` (level-only smoothing): Holt's forecast keeps
    up with a drifting series, so its residuals are the right anomaly
    signal when traffic grows — a plain EWMA flags the growth itself.

    Scale shape: the fact scan collapses to one row per day (a
    calendar-bounded series) BEFORE anything sequential happens; the
    order-sensitive recurrence then runs as an ``aggregate``
    higher-order function over the array-packed series inside a 1-row
    aggregate — JVM-side, O(days), no Python, no driver collect. Only
    the daily-rollup shuffle ever sees fact-table data, so the plan is
    identical at sf0.01 and at 100 TB.

    Determinism: the daily input is round2-ed to cents on both engines
    first, so the recurrence consumes engine-identical doubles and
    both sides evaluate the identical arithmetic sequence; alpha/beta
    are interpolated into the DuckDB twin from these module constants
    (the twin replays the recurrence with a recursive CTE). Output
    rounded at 1e-4.
    """
    events = load_table(spark, sf_dir, "events")
    daily = events.groupBy(
        F.date_trunc("day", "ts").cast("date").alias("day")
    ).agg(round2(F.sum("value"), 2).alias("x"))
    arr = daily.agg(
        F.array_sort(F.collect_list(F.struct("day", "x"))).alias("arr")
    )
    a, b = HOLT_ALPHA, HOLT_BETA
    rows_t = (
        "array<struct<day:date,x:double,level:double,trend:double,"
        "fitted:double>>"
    )
    # l_new appears three times textually; all are the same IEEE
    # expression over the same operands, so the value is identical —
    # no cross-engine seam from the duplication.
    rec = arr.select(
        F.expr(
            f"""
            aggregate(
              slice(arr, 3, greatest(size(arr) - 2, 0)),
              named_struct(
                'l', arr[1].x,
                'b', arr[1].x - arr[0].x,
                'rows', CAST(array() AS {rows_t})),
              (acc, e) -> named_struct(
                'l', {a} * e.x + {1 - a} * (acc.l + acc.b),
                'b', {b} * (({a} * e.x + {1 - a} * (acc.l + acc.b)) - acc.l)
                     + {1 - b} * acc.b,
                'rows', array_append(acc.rows, named_struct(
                  'day', e.day, 'x', e.x,
                  'level', {a} * e.x + {1 - a} * (acc.l + acc.b),
                  'trend', {b} * (({a} * e.x + {1 - a} * (acc.l + acc.b))
                                  - acc.l) + {1 - b} * acc.b,
                  'fitted', acc.l + acc.b)))
            ).rows AS rows
            """
        )
    )
    return rec.select(F.explode("rows").alias("r")).select(
        # timestamp, not date: DuckDB dates arrive in pandas as
        # datetime64, so the comparable type is timestamp (same as
        # ewma_daily_value)
        F.col("r.day").cast("timestamp").alias("day"),
        F.col("r.x").alias("x"),
        round2("r.level", 4).alias("level"),
        round2("r.trend", 4).alias("trend"),
        round2("r.fitted", 4).alias("fitted"),
        round2(F.col("r.x") - F.col("r.fitted"), 4).alias("resid"),
    )


# --- weight-of-evidence / information value ---------------------------


def woe_iv_segment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """sf — weight of evidence and information value of the customer
    market segment against an "urgent order" outcome (o_orderpriority
    in 1-URGENT/2-HIGH). WOE_i = ln(event-share_i / nonevent-share_i);
    IV = sum_i (event-share_i - nonevent-share_i) * WOE_i — the
    standard credit-scoring screen for how much a categorical feature
    separates a binary label, here repurposed as a training-data
    feature audit.

    Scale shape: one fact-dim equi-join (orders->customer on custkey,
    shuffle-partitioned on the key; AQE broadcasts the build side when
    it fits) collapsing directly into a 5-row grouped aggregate; the
    WOE/IV arithmetic runs over those 5 rows via an unpartitioned
    window — metadata scale, no second pass over facts, no crossJoin.

    Determinism: counts are exact integers; the only float ops are
    ln() and division evaluated from identical integers on both
    engines (same libm), absorbed by 1e-6 output rounding.
    """
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    j = orders.join(
        cust, orders.o_custkey == cust.c_custkey, "inner"
    ).select(
        "c_mktsegment",
        F.col("o_orderpriority").isin("1-URGENT", "2-HIGH").alias("ev"),
    )
    g = j.groupBy(F.col("c_mktsegment").alias("segment")).agg(
        F.count("*").alias("n_orders"),
        F.sum(F.col("ev").cast("bigint")).alias("n_events"),
        F.sum((~F.col("ev")).cast("bigint")).alias("n_nonevents"),
    )
    w = Window.partitionBy()
    tot = g.withColumn("te", F.sum("n_events").over(w)).withColumn(
        "tn", F.sum("n_nonevents").over(w)
    )
    es = F.col("n_events") / F.col("te")
    ns = F.col("n_nonevents") / F.col("tn")
    woe = F.log(es / ns)
    scored = tot.withColumn("woe_raw", woe).withColumn(
        "iv_raw", (es - ns) * woe
    )
    return scored.select(
        "segment",
        "n_orders",
        "n_events",
        "n_nonevents",
        round2("woe_raw", 6).alias("woe"),
        round2("iv_raw", 6).alias("iv_term"),
        round2(F.sum("iv_raw").over(w), 6).alias("iv_total"),
    )


# --- A/B assignment health: sample-ratio mismatch ----------------------

SRM_ARMS = 2
SRM_ALPHA = 0.001  # the conventional SRM alert threshold


def ab_srm_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """sf — sample-ratio-mismatch audit of a deterministic 50/50 A/B
    assignment: users are bucketed by the shared md5 hash gate
    (``text.md5_bucket`` — the same engine-portable expression as the
    corpus splits), then a chi-square goodness-of-fit test against the
    designed equal split. SRM is THE standard validity gate run before
    reading any experiment metric — a significant mismatch means the
    assignment (or logging) is broken and every downstream readout is
    suspect. Complements ``ab_power_analysis`` (design) and
    ``welch_ttest_value`` (readout).

    p-value: df = arms-1 = 1, so P(X > x) = erfc(sqrt(x)/sqrt(2)) —
    the SAME A&S 7.1.26 polynomial string (PVAL_EXPR) the BH-FDR
    query shares with its oracle, with az = sqrt(chi2)/sqrt(2).

    Scale shape: one distinct-users aggregate (the only fact-scale
    exchange), then a 2-row grouped count; the chi-square arithmetic
    runs over those 2 rows via unpartitioned windows — metadata scale.

    Determinism: counts are exact integers; chi2/p are single float
    expressions from identical integers, rounded at 1e-6.
    """
    from .text import md5_bucket

    events = load_table(spark, sf_dir, "events")
    users = events.select("user_id").distinct()
    arms = users.select(
        F.when(md5_bucket("user_id", SRM_ARMS) == 0, "A")
        .otherwise("B")
        .alias("arm")
    )
    g = arms.groupBy("arm").agg(F.count("*").alias("n_users"))
    w = Window.partitionBy()
    t = g.withColumn("n_total", F.sum("n_users").over(w)).withColumn(
        "expected", F.col("n_total") / F.lit(float(SRM_ARMS))
    )
    dev2 = (F.col("n_users") - F.col("expected")) ** 2 / F.col("expected")
    c = t.withColumn("chi2_raw", F.sum(dev2).over(w))
    p = (
        c.withColumn("az", F.sqrt(F.col("chi2_raw")) / F.sqrt(F.lit(2.0)))
        .withColumn("tt", F.expr(PVAL_TT_EXPR))
        .withColumn("p_raw", F.expr(PVAL_EXPR))
    )
    return p.select(
        "arm",
        "n_users",
        "n_total",
        round2("expected", 2).alias("expected"),
        round2("chi2_raw", 6).alias("chi2"),
        round2("p_raw", 6).alias("p_value"),
        (F.col("p_raw") < F.lit(SRM_ALPHA)).alias("srm_detected"),
    )


# --- differential-privacy release: Laplace-noised counts ---------------

DP_EPSILON = 1.0
DP_SENSITIVITY = 1.0  # event-level DP: one event moves one count by 1
DP_SEED_BUCKETS = 1 << 20


def dp_noisy_event_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """dp — a differential-privacy release mechanism for the
    per-event-type counts: Laplace(sensitivity/epsilon) noise via
    inverse-CDF transform, noise = -(s/eps)*sign(u-0.5)*ln(1-2|u-0.5|)
    with u in (0,1). The release shape every privacy-reviewed
    analytics export needs; epsilon/sensitivity are module constants
    interpolated into the oracle.

    The uniform u is drawn DETERMINISTICALLY from the shared md5 hash
    gate over a salted group key ((bucket + 0.5) / 2^20 — never
    exactly 0, 0.5 or 1, so the log never sees 0 and sign never sees a
    tie). That makes the mechanism replayable and hash-checkable
    across engines — a DISCLOSED stand-in: a production release would
    draw fresh randomness per release (deterministic noise re-used
    across releases leaks the true count by averaging); everything
    else — the calibration, the inverse CDF, the release schema — is
    the real mechanism.

    Scale shape: one grouped count over facts (partial-agg friendly),
    then per-row scalar math on the handful of group rows.
    """
    from .text import md5_bucket

    events = load_table(spark, sf_dir, "events")
    g = events.groupBy("event_type").agg(F.count("*").alias("n_true"))
    keyed = g.withColumn(
        "u",
        (
            md5_bucket("event_type", DP_SEED_BUCKETS).cast("double")
            + F.lit(0.5)
        )
        / F.lit(float(DP_SEED_BUCKETS)),
    )
    c = F.col("u") - F.lit(0.5)
    scale = DP_SENSITIVITY / DP_EPSILON
    noise = (
        -F.lit(scale)
        * F.signum(c)
        * F.log(F.lit(1.0) - F.lit(2.0) * F.abs(c))
    )
    noised = keyed.withColumn("noise_raw", noise)
    return noised.select(
        "event_type",
        "n_true",
        round2("noise_raw", 6).alias("noise"),
        round2(F.col("n_true") + F.col("noise_raw"), 6).alias("n_noisy"),
        F.lit(DP_EPSILON).alias("epsilon"),
    )


# --- HBOS: histogram-based outlier score --------------------------------

HBOS_BINS = 20
HBOS_TOPK = 20


def hbos_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """dq — HBOS (Goldstein & Dengel 2012) over two order features
    (total price, item count): equal-width histograms per feature,
    score = sum_f [ln(max-bin count) - ln(own-bin count)] — zero for a
    row in the densest bins, large where any feature is rare. The
    standard O(n) unsupervised outlier screen: no pairwise distances,
    no iterations, so it is the anomaly detector that actually runs at
    100 TB (kNN/LOF-style detectors need a similarity join).

    Scale shape: one fact-fact equi-join (orders x per-order lineitem
    counts, both shuffle-partitioned on orderkey), ONE 1-row min/max
    broadcast to fix bin edges, two BINS-row histogram aggregates
    broadcast back onto the fact frame, and a TakeOrdered top-k — no
    global sort, no second fact pass.

    Determinism: bin ids come from identical float arithmetic on both
    engines; scores are ln() of exact integer counts, so equal scores
    are bit-equal and the (score desc, orderkey) top-k is total.
    """
    orders = load_table(spark, sf_dir, "orders")
    li = (
        load_table(spark, sf_dir, "lineitem")
        .groupBy("l_orderkey")
        .agg(F.count("*").cast("double").alias("n_items"))
    )
    # localCheckpoint (optimization r12, guide §5 / the m5 pattern):
    # the feature frame feeds FOUR sequential-dependent references —
    # the min/max scalars, both histogram aggregates, and the scoring
    # join — so the orders⋈lineitem-counts join was executed four
    # times per run. The consumers are strictly sequential (bins need
    # mm; scoring needs both histograms), so materializing once loses
    # no parallel-slot overlap. A/B min-of-5: 1.24 -> 1.09 s at
    # local[32], 1.15 -> 0.94 s at local[8]; outputs identical.
    f = orders.join(li, orders.o_orderkey == li.l_orderkey).select(
        "o_orderkey", F.col("o_totalprice").alias("price"), "n_items"
    ).localCheckpoint()
    mm = f.agg(
        F.min("price").alias("p0"),
        F.max("price").alias("p1"),
        F.min("n_items").alias("i0"),
        F.max("n_items").alias("i1"),
    )
    nb = F.lit(float(HBOS_BINS))

    def bin_of(x, lo, hi):
        return F.least(
            F.floor((F.col(x) - F.col(lo)) / (F.col(hi) - F.col(lo)) * nb),
            F.lit(HBOS_BINS - 1),
        ).cast("bigint")

    b = f.crossJoin(F.broadcast(mm)).select(
        "o_orderkey",
        bin_of("price", "p0", "p1").alias("bin_price"),
        bin_of("n_items", "i0", "i1").alias("bin_items"),
    )
    w = Window.partitionBy()
    hp = (
        b.groupBy("bin_price")
        .agg(F.count("*").alias("np"))
        .withColumn("mp", F.max("np").over(w))
    )
    hi = (
        b.groupBy("bin_items")
        .agg(F.count("*").alias("ni"))
        .withColumn("mi", F.max("ni").over(w))
    )
    scored = (
        b.join(F.broadcast(hp), "bin_price")
        .join(F.broadcast(hi), "bin_items")
        .select(
            "o_orderkey",
            "bin_price",
            "bin_items",
            round2(
                (F.log("mp") - F.log("np")) + (F.log("mi") - F.log("ni")), 6
            ).alias("hbos_score"),
        )
    )
    return scored.orderBy(
        F.desc("hbos_score"), F.asc("o_orderkey")
    ).limit(HBOS_TOPK)


# --- revenue concentration: exact Gini + top-p% shares ------------------

GINI_BUCKET = 100000.0
GINI_SHARES = (1, 10, 50)  # top-p% rows reported


def gini_topshare_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """sf — exact Gini coefficient of per-customer order revenue plus
    the revenue share of the top 1% / 10% / 50% of customers — the
    concentration readout behind "whales" dashboards and the
    training-data analog of corpus-source dominance auditing.

    Gini uses the tie-corrected midrank identity
    G = 2*sum(x_i*r_i)/(n*X) - (n+1)/n; top-p%% shares cut the
    descending distribution at k = ceil(p*n/100) customers EXACTLY,
    splitting the boundary tie group pro-rata (share = (cum_above -
    overshoot*v)/X), so the result is the true k-richest share, not a
    bucket approximation.

    Scale shape: NO single-partition window anywhere. Per-customer
    revenue is one grouped aggregate; ranks and cumulative sums come
    from the same two-phase bucketed prefix sum as ``mann_whitney`` /
    ``spearman`` (bucket-local running sums in parallel, KB-scale
    bucket offsets broadcast back); totals are a 1-row broadcast; the
    p-grid is a 3-row broadcast joined by the boundary predicate.

    Determinism: per-customer revenue is round2-ed to cents BEFORE the
    value-grain groupBy, so counts per distinct value are engine-exact
    integers; everything after is integer/cent arithmetic until the
    final 1e-6-rounded ratios.
    """
    orders = load_table(spark, sf_dir, "orders")
    per_cust = orders.groupBy("o_custkey").agg(
        round2(F.sum("o_totalprice"), 2).alias("v")
    )
    per_value = per_cust.groupBy("v").agg(F.count("*").alias("cnt"))
    pv = per_value.withColumn("bucket", F.floor(F.col("v") / GINI_BUCKET))
    w_local = Window.partitionBy("bucket").orderBy("v").rowsBetween(
        Window.unboundedPreceding, -1
    )
    local = pv.select(
        "bucket",
        "v",
        "cnt",
        F.coalesce(F.sum("cnt").over(w_local), F.lit(0)).alias("lc_n"),
        F.coalesce(F.sum(F.col("cnt") * F.col("v")).over(w_local), F.lit(0.0)).alias(
            "lc_x"
        ),
    )
    w_prior = Window.orderBy("bucket").rowsBetween(Window.unboundedPreceding, -1)
    offsets = (
        pv.groupBy("bucket")
        .agg(
            F.sum("cnt").alias("bn"),
            F.sum(F.col("cnt") * F.col("v")).alias("bx"),
        )
        .select(
            "bucket",
            F.coalesce(F.sum("bn").over(w_prior), F.lit(0)).alias("oc_n"),
            F.coalesce(F.sum("bx").over(w_prior), F.lit(0.0)).alias("oc_x"),
        )
    )
    cum = local.join(F.broadcast(offsets), "bucket").select(
        "v",
        "cnt",
        (F.col("lc_n") + F.col("oc_n")).alias("cn_excl"),
        (F.col("lc_x") + F.col("oc_x")).alias("cx_excl"),
    )
    tot = per_value.agg(
        F.sum("cnt").alias("n"),
        F.sum(F.col("cnt") * F.col("v")).alias("X"),
    )
    # tie-corrected midrank: mr = cn_excl + (cnt + 1)/2
    gini_parts = cum.crossJoin(F.broadcast(tot)).select(
        (
            F.col("cnt")
            * F.col("v")
            * (F.col("cn_excl") + (F.col("cnt") + 1) / F.lit(2.0))
        ).alias("xr"),
        "n",
        "X",
    )
    gini = gini_parts.groupBy("n", "X").agg(F.sum("xr").alias("sxr")).select(
        "n",
        "X",
        (
            F.lit(2.0) * F.col("sxr") / (F.col("n") * F.col("X"))
            - (F.col("n") + 1) / F.col("n")
        ).alias("gini_raw"),
    )
    ps = spark.range(1).select(
        F.explode(F.array(*[F.lit(p) for p in GINI_SHARES])).alias("p")
    )
    cuts = (
        cum.crossJoin(F.broadcast(tot))
        .crossJoin(F.broadcast(ps))
        .withColumn("k", F.ceil(F.col("p") * F.col("n") / F.lit(100.0)))
        .filter(
            ((F.col("n") - F.col("cn_excl")) >= F.col("k"))
            & ((F.col("n") - F.col("cn_excl") - F.col("cnt")) < F.col("k"))
        )
        .withColumn(
            "share_raw",
            (
                (F.col("X") - F.col("cx_excl"))
                - (F.col("n") - F.col("cn_excl") - F.col("k")) * F.col("v")
            )
            / F.col("X"),
        )
    )
    return cuts.crossJoin(F.broadcast(gini.select("gini_raw"))).select(
        F.col("p").cast("bigint").alias("top_pct"),
        F.col("k").cast("bigint").alias("n_customers"),
        round2("v", 2).alias("cutoff_revenue"),
        round2("share_raw", 6).alias("revenue_share"),
        round2("gini_raw", 6).alias("gini"),
    )


# --- item-item co-purchase recommender ----------------------------------

REC_TOPK = 3


def copurchase_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """rec — item-item collaborative filtering over order baskets: for
    every part, the REC_TOPK most-associated parts by co-purchase
    cosine c_ab / sqrt(n_a * n_b) (n_x = orders containing x). The
    classic "customers also bought" primitive — the same math as a
    sparse item-item similarity matrix, expressed relationally.

    Scale shape: the basket self-join shuffles ONCE on the order key
    and pairs only within an order, so fanout is bounded by basket
    size squared (~4² here), not the catalog; co-occurrence then
    collapses to item-pair grain (vocabulary-scale), where the
    per-item counts join back and the top-k is a k-bounded window
    partitioned BY ITEM — no global sort, no single-partition stage.
    At catalog scale the standard refinement caps pathological basket
    sizes (a B-item basket emits B² pairs); harness baskets are tiny.

    Determinism: counts are exact integers; cosine is ONE float
    expression of those integers (bit-identical across engines), so
    the (cosine desc, part_b) ranking is total — rounded only at
    output.
    """
    li = (
        load_table(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_partkey")
        .distinct()
    )
    n = li.groupBy(F.col("l_partkey").alias("p")).agg(
        F.count("*").alias("n_ord")
    )
    a = li.select(F.col("l_orderkey").alias("o"), F.col("l_partkey").alias("pa"))
    b = li.select(F.col("l_orderkey").alias("o"), F.col("l_partkey").alias("pb"))
    pairs = a.join(b, "o").filter(F.col("pa") < F.col("pb"))
    cnt = pairs.groupBy("pa", "pb").agg(F.count("*").alias("c_ab"))
    # Optimization r11 (guide §2.4/§1.2#1): the symmetric direction
    # used to be a unionAll of the SAME cnt subtree, and the per-part
    # counts joined onto the union — the post-AQE plan
    # (tools/plan_dump.py) showed ZERO exchange reuse, so the basket
    # self-join + pair count ran twice and lineitem scanned 12× per
    # query. Both n_a and n_b now attach at pair grain (each cnt row
    # carries both parts) and the flip is ONE explode over the joined
    # rows — the pair subtree and its two count joins evaluate exactly
    # once.
    both = cnt.join(
        n.select(F.col("p").alias("pa"), F.col("n_ord").alias("na")), "pa"
    ).join(n.select(F.col("p").alias("pb"), F.col("n_ord").alias("nb")), "pb")
    sym_cols = F.array(
        F.struct(
            F.col("pa").alias("part_a"),
            F.col("pb").alias("part_b"),
            F.col("na").alias("n_a"),
            F.col("nb").alias("n_b"),
        ),
        F.struct(
            F.col("pb").alias("part_a"),
            F.col("pa").alias("part_b"),
            F.col("nb").alias("n_a"),
            F.col("na").alias("n_b"),
        ),
    )
    scored = (
        both.select("c_ab", F.explode(sym_cols).alias("s"))
        .select("s.part_a", "s.part_b", "c_ab", "s.n_a", "s.n_b")
        .withColumn(
            "cos_raw",
            F.col("c_ab") / F.sqrt(F.col("n_a") * F.col("n_b")),
        )
    )
    w = Window.partitionBy("part_a").orderBy(
        F.desc("cos_raw"), F.asc("part_b")
    )
    return (
        scored.withColumn("rk", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rk") <= REC_TOPK)
        .select(
            "part_a",
            "part_b",
            "c_ab",
            "n_a",
            "n_b",
            round2("cos_raw", 6).alias("cosine"),
            "rk",
        )
    )


def forecast_backtest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ts — backtest scorecard for the Holt one-step forecasts: MAE,
    sMAPE, and MASE (MAE relative to the naive last-value forecast,
    Hyndman & Koehler 2006) over the evaluation days, plus the share
    of days Holt beats naive. The eval harness for the forecasting
    family — the ts analog of ``retrieval_metrics``: a forecaster
    without a backtest scorecard is a guess. MASE < 1 means the model
    genuinely beats persistence.

    Scale shape: everything runs on ``holt_linear_daily``'s
    calendar-bounded output (one row per day), so the lag window and
    the final 1-row aggregate are metadata-scale; the only fact-scale
    work is the daily rollup inside the Holt operator itself.

    Determinism: inherits the cents-rounded recurrence; metric sums
    span <= days terms, rounded at 1e-6.
    """
    h = holt_linear_daily(spark, sf_dir)
    w = Window.orderBy("day")
    ev = h.withColumn("x_prev", F.lag("x").over(w)).filter(
        F.col("x_prev").isNotNull()
    )
    e_holt = F.abs(F.col("x") - F.col("fitted"))
    e_naive = F.abs(F.col("x") - F.col("x_prev"))
    smape = (
        F.lit(2.0)
        * F.abs(F.col("x") - F.col("fitted"))
        / (F.abs(F.col("x")) + F.abs(F.col("fitted")))
    )
    return ev.agg(
        F.count("*").cast("bigint").alias("n_days"),
        round2(F.avg(e_holt), 6).alias("mae_holt"),
        round2(F.avg(e_naive), 6).alias("mae_naive"),
        round2(F.avg(e_holt) / F.avg(e_naive), 6).alias("mase"),
        round2(F.avg(smape), 6).alias("smape_holt"),
        round2(
            F.avg((e_holt < e_naive).cast("double")), 6
        ).alias("share_beats_naive"),
    )


def mutual_information(spark: SparkSession, sf_dir: str) -> DataFrame:
    """sf — mutual information (and normalized MI) between the
    customer market segment and the order priority, from the exact
    contingency table: I = sum p(a,b) ln(p(a,b)/(p(a)p(b))), H(.) the
    marginal entropies, NMI = I/sqrt(H_a H_b). The dependence audit
    chi-square can't give you: MI is in nats, comparable across
    feature pairs, the screen for redundant categorical features
    before training. Companion to ``woe_iv_segment`` (binary label)
    and ``chi2_lang_source`` (significance).

    Scale shape: ONE fact-dim join collapsing into a |A|x|B|
    contingency aggregate; marginals/entropies run on those ~35 rows
    via windows — metadata scale after the first aggregate.

    Determinism: all probabilities are ratios of exact integers; the
    ln() sums span the contingency grid only, rounded at 1e-6.
    """
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    j = orders.join(cust, orders.o_custkey == cust.c_custkey).select(
        F.col("c_mktsegment").alias("a"),
        F.col("o_orderpriority").alias("b"),
    )
    g = j.groupBy("a", "b").agg(F.count("*").alias("n_ab"))
    w = Window.partitionBy()
    t = (
        g.withColumn("n", F.sum("n_ab").over(w))
        .withColumn("n_a", F.sum("n_ab").over(Window.partitionBy("a")))
        .withColumn("n_b", F.sum("n_ab").over(Window.partitionBy("b")))
    )
    p_ab = F.col("n_ab") / F.col("n")
    lift = F.col("n_ab") * F.col("n") / (F.col("n_a") * F.col("n_b"))
    mi_term = p_ab * F.log(lift)
    scored = t.withColumn("mi_term_raw", mi_term)
    # marginal entropies as GRID sums (sum_b n_ab = n_a, so
    # H_a = -sum_{a,b} p(a,b) ln(p(a))) — same windowed frame, no
    # separate aggregate branches to cross-join back
    return (
        scored.withColumn("mi_raw", F.sum("mi_term_raw").over(w))
        .withColumn(
            "h_a",
            F.sum(-p_ab * F.log(F.col("n_a") / F.col("n"))).over(w),
        )
        .withColumn(
            "h_b",
            F.sum(-p_ab * F.log(F.col("n_b") / F.col("n"))).over(w),
        )
        .select(
            "a",
            "b",
            "n_ab",
            round2(lift, 6).alias("lift"),
            round2("mi_term_raw", 6).alias("mi_term"),
            round2("mi_raw", 6).alias("mi_total"),
            round2(
                F.col("mi_raw") / F.sqrt(F.col("h_a") * F.col("h_b")), 6
            ).alias("nmi"),
        )
    )


def conversion_lag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """wf — time-to-convert distribution: per user, the lag from
    first signup to the first purchase at-or-after it, bucketed into
    whole days, with the unconverted remainder and the conversion
    rate carried on every row. The funnel-depth readout
    ``wf_funnel_counts`` doesn't give: not just WHETHER users
    convert, but HOW LONG they take — the curve retention/payback
    models are fit to.

    Scale shape: two user-grain min-aggregates (signups, purchases
    after the user's first signup) joined on user, then a
    day-bucket-grain count; totals ride as unpartitioned-window sums
    over the calendar-bounded bucket rows. No fact-scale window, no
    self-join at event grain.

    Determinism: lags are exact integer seconds (both engines
    subtract timestamps exactly); day bucketing is integer floor
    division; the only float is the final rate, rounded 1e-6.
    """
    events = load_table(spark, sf_dir, "events")
    signup = events.filter(F.col("event_type") == "signup").groupBy(
        "user_id"
    ).agg(F.min("ts").alias("s_ts"))
    purch = (
        events.filter(F.col("event_type") == "purchase")
        .join(signup, "user_id")
        .filter(F.col("ts") >= F.col("s_ts"))
        .groupBy("user_id")
        # min, not first: s_ts is constant per user after the join,
        # but min() is deterministic by contract
        .agg(F.min("ts").alias("p_ts"), F.min("s_ts").alias("s_ts2"))
    )
    lag = purch.select(
        "user_id",
        F.floor(
            (
                F.col("p_ts").cast("double") - F.col("s_ts2").cast("double")
            )
            / F.lit(86400.0)
        ).cast("bigint").alias("lag_days"),
    )
    buckets = lag.groupBy("lag_days").agg(F.count("*").alias("n_converted"))
    w = Window.partitionBy()
    tot_sign = signup.agg(F.count("*").cast("bigint").alias("n_signups"))
    return (
        buckets.withColumn(
            "total_converted", F.sum("n_converted").over(w).cast("bigint")
        )
        .crossJoin(F.broadcast(tot_sign))
        .select(
            "lag_days",
            "n_converted",
            "total_converted",
            "n_signups",
            round2(
                F.col("total_converted") / F.col("n_signups"), 6
            ).alias("conversion_rate"),
        )
    )


# --- period-over-period delta attribution -------------------------------

ATTR_CUT = "1998-01-01"  # period boundary (orders span 1995..2001)


def delta_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """dq — "why did the metric move": period-over-period revenue
    delta per customer segment, decomposed exactly into a VOLUME
    effect ((n2-n1)*avg1) and a RATE effect (n2*(avg2-avg1)) that sum
    to the segment's delta, with each segment's share of the total
    move. The root-cause slice every metrics review starts from —
    chi-square says the mix changed, this says which slice moved the
    number and whether by traffic or by ticket size.

    Scale shape: ONE fact-dim join into a (segment, period) grouped
    aggregate (10 rows); the decomposition pivots periods and the
    total rides an unpartitioned window over the 5 segment rows.

    Determinism: counts exact; sums round2-ed to cents before the
    decomposition arithmetic so both engines difference identical
    doubles; shares rounded 1e-6.
    """
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    j = orders.join(cust, orders.o_custkey == cust.c_custkey).select(
        F.col("c_mktsegment").alias("segment"),
        (F.col("o_orderdate") >= F.lit(ATTR_CUT).cast("timestamp")).alias(
            "p2"
        ),
        "o_totalprice",
    )
    g = j.groupBy("segment", "p2").agg(
        F.count("*").alias("n"), round2(F.sum("o_totalprice"), 2).alias("rev")
    )
    wide = g.groupBy("segment").agg(
        F.sum(F.when(~F.col("p2"), F.col("n")).otherwise(0)).alias("n1"),
        F.sum(F.when(~F.col("p2"), F.col("rev")).otherwise(0.0)).alias("rev1"),
        F.sum(F.when(F.col("p2"), F.col("n")).otherwise(0)).alias("n2"),
        F.sum(F.when(F.col("p2"), F.col("rev")).otherwise(0.0)).alias("rev2"),
    )
    avg1 = F.col("rev1") / F.col("n1")
    avg2 = F.col("rev2") / F.col("n2")
    delta = F.col("rev2") - F.col("rev1")
    vol = (F.col("n2") - F.col("n1")) * avg1
    rate = F.col("n2") * (avg2 - avg1)
    w = Window.partitionBy()
    return wide.withColumn("delta_raw", delta).select(
        "segment",
        F.col("n1").cast("bigint").alias("n1"),
        F.col("n2").cast("bigint").alias("n2"),
        round2("rev1", 2).alias("rev1"),
        round2("rev2", 2).alias("rev2"),
        round2("delta_raw", 2).alias("delta"),
        round2(vol, 2).alias("volume_effect"),
        round2(rate, 2).alias("rate_effect"),
        round2(
            F.col("delta_raw") / F.sum("delta_raw").over(w), 6
        ).alias("share_of_total_delta"),
    )


def cohort_ltv_triangle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """wf — the cohort LTV triangle: users grouped by signup week,
    purchase value accumulated by weeks-since-signup, reported as
    per-cohort cumulative revenue per user. THE payback/LTV readout —
    each row answers "after w weeks, how much has the week-c cohort
    spent per member", and diagonal comparisons expose cohort quality
    drift that aggregate revenue hides. Completes the lifecycle
    family: retention (`wf_retention_cohorts`) tracks WHO returns,
    this tracks what they are WORTH.

    Scale shape: one user-grain min-aggregate (first signup), one
    fact-scale join of purchases onto it (user-keyed shuffle), one
    (cohort, week) grouped aggregate; the cumulative sum runs per
    cohort over calendar-bounded week offsets. Anchor-epoch integer
    week arithmetic — no engine week-convention seam.

    Determinism: week indices are integer floor divisions of exact
    second diffs; revenue is round2-ed at the (cohort, week) grain
    before the cumulative window so both engines accumulate identical
    cents.
    """
    events = load_table(spark, sf_dir, "events")
    signup = events.filter(F.col("event_type") == "signup").groupBy(
        "user_id"
    ).agg(F.min("ts").alias("s_ts"))
    cohort_week = F.floor(
        F.col("s_ts").cast("double") / F.lit(604800.0)
    ).cast("bigint")
    cohorts = signup.select(
        "user_id", "s_ts", cohort_week.alias("cohort_week")
    )
    sizes = cohorts.groupBy("cohort_week").agg(
        F.count("*").alias("n_users")
    )
    purch = (
        events.filter(F.col("event_type") == "purchase")
        .join(cohorts, "user_id")
        .filter(F.col("ts") >= F.col("s_ts"))
        .select(
            "cohort_week",
            F.floor(
                (F.col("ts").cast("double") - F.col("s_ts").cast("double"))
                / F.lit(604800.0)
            ).cast("bigint").alias("weeks_since"),
            "value",
        )
    )
    cell = purch.groupBy("cohort_week", "weeks_since").agg(
        round2(F.sum("value"), 2).alias("rev")
    )
    w_cum = Window.partitionBy("cohort_week").orderBy("weeks_since").rowsBetween(
        Window.unboundedPreceding, 0
    )
    return (
        cell.withColumn("cum_rev", F.sum("rev").over(w_cum))
        .join(F.broadcast(sizes), "cohort_week")
        .select(
            "cohort_week",
            "weeks_since",
            "n_users",
            round2("rev", 2).alias("week_revenue"),
            round2("cum_rev", 2).alias("cum_revenue"),
            round2(F.col("cum_rev") / F.col("n_users"), 6).alias(
                "cum_ltv_per_user"
            ),
        )
    )


ANOM_K_MAD = 3.0  # flag |resid| > k * MAD (consistency-scaled)
MAD_SIGMA = 1.4826  # 1/Phi^-1(0.75): MAD -> sigma for normal data


def holt_anomaly_days(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ts — applied anomaly detection: days whose Holt one-step
    forecast residual exceeds ANOM_K_MAD robust sigmas, where sigma =
    MAD_SIGMA * median(|resid - median(resid)|). The composition the
    forecasting family exists for — Holt absorbs trend, the MAD gate
    is outlier-proof (a huge anomaly can't inflate its own threshold
    the way a stddev gate does). Returns ALL days with their robust
    z so the flag is auditable, not just the alarms.

    Scale shape: runs entirely on the calendar-bounded Holt output
    (one row per day); the two medians are exact order statistics on
    that tiny frame (percentile()); threshold is a 1-row broadcast.

    Determinism: residuals are already 1e-4-rounded by the Holt
    operator on both engines; medians of identical value sets are
    engine-exact (both interpolate the middle pair identically for
    even counts — asserted by the hash gate); robust z rounded 1e-4.
    """
    h = holt_linear_daily(spark, sf_dir)
    med = h.agg(F.expr("percentile(resid, 0.5)").alias("med"))
    dev = h.crossJoin(F.broadcast(med)).select(
        "day",
        "x",
        "fitted",
        "resid",
        F.abs(F.col("resid") - F.col("med")).alias("adev"),
    )
    mad = dev.agg(F.expr("percentile(adev, 0.5)").alias("mad"))
    scored = dev.crossJoin(F.broadcast(mad)).crossJoin(F.broadcast(med))
    rz = (F.col("resid") - F.col("med")) / (F.lit(MAD_SIGMA) * F.col("mad"))
    return scored.select(
        "day",
        "x",
        "fitted",
        "resid",
        round2(rz, 4).alias("robust_z"),
        (F.abs(rz) > ANOM_K_MAD).alias("is_anomaly"),
    )


MAU_WINDOW_DAYS = 28


def dau_mau_stickiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """wf — DAU/MAU stickiness: per day, distinct daily actives,
    distinct trailing-MAU_WINDOW_DAYS actives, and their ratio — the
    canonical engagement-health metric (how much of the monthly base
    shows up on a given day). Rolling DISTINCT cannot ride a window
    frame (distinct doesn't decompose), so this uses the same
    membership-amplification shape as ``rolling_distinct_users``:
    each (user, active-day) row replicates to the MAU_WINDOW_DAYS
    window days it supports, then one exact count-distinct per window
    day. At 100 TB the replication factor is the window length — a
    constant — and the count-distinct shuffles on (day, user), the
    same key order the ingest already clusters by.

    Determinism: pure integer counting on exact calendar arithmetic;
    the only float is the final ratio, rounded 1e-6.
    """
    events = load_table(spark, sf_dir, "events")
    days = events.select(
        "user_id", F.date_trunc("day", "ts").cast("date").alias("day")
    ).distinct()
    dau = days.groupBy("day").agg(F.count("*").cast("bigint").alias("dau"))
    contrib = days.select(
        "user_id",
        F.explode(
            F.sequence(
                F.col("day"),
                F.date_add(F.col("day"), MAU_WINDOW_DAYS - 1),
            )
        ).alias("win_day"),
    )
    mau = (
        contrib.join(
            F.broadcast(dau.select(F.col("day").alias("win_day"))),
            "win_day",
        )
        .groupBy("win_day")
        .agg(F.count_distinct("user_id").cast("bigint").alias("mau"))
    )
    return (
        dau.join(mau, dau.day == mau.win_day)
        .select(
            F.col("day").cast("timestamp").alias("day"),
            "dau",
            "mau",
            round2(F.col("dau") / F.col("mau"), 6).alias("stickiness"),
        )
    )


def theil_decomposition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """sf — Theil-T inequality index of per-customer revenue with the
    EXACT within/between decomposition by market segment:
    T = sum_i (x_i/X) ln(x_i / mu); T = T_between + sum_g s_g * T_g
    where s_g is group g's revenue share and T_g its internal Theil.
    The decomposability Gini lacks (`gini_topshare_revenue` reports
    concentration; this says how much of it lives INSIDE segments vs
    BETWEEN them) — the standard additive inequality audit.

    Scale shape: one per-customer aggregate, one (segment) grouped
    pass accumulating n_g / X_g / sum(x ln x)_g (all map-side
    combinable; per-row ln runs in the scan), then all decomposition
    arithmetic on the 5 segment rows via windows. The identity
    T_within + T_between == T_total is emitted as columns and pinned
    by test, not assumed.

    Determinism: revenue is cents-rounded before ln; the ln sums are
    the only float accumulation, absorbed by 1e-6 output rounding.
    """
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    per = (
        orders.groupBy("o_custkey")
        .agg(round2(F.sum("o_totalprice"), 2).alias("x"))
        .join(cust, F.col("o_custkey") == cust.c_custkey)
        .select(F.col("c_mktsegment").alias("segment"), "x")
    )
    g = per.groupBy("segment").agg(
        F.count("*").alias("n_g"),
        F.sum("x").alias("x_g"),
        F.sum(F.col("x") * F.log("x")).alias("sxlx_g"),
    )
    w = Window.partitionBy()
    t = (
        g.withColumn("n", F.sum("n_g").over(w))
        .withColumn("X", F.sum("x_g").over(w))
    )
    mu = F.col("X") / F.col("n")
    mu_g = F.col("x_g") / F.col("n_g")
    # T_g = (1/x_g) * sum(x ln x)_g - ln(mu_g)
    t_g = F.col("sxlx_g") / F.col("x_g") - F.log(mu_g)
    s_g = F.col("x_g") / F.col("X")
    between_term = s_g * F.log(mu_g / mu)
    scored = t.withColumn("t_g_raw", t_g).withColumn(
        "within_term_raw", s_g * t_g
    ).withColumn("between_term_raw", between_term)
    return scored.select(
        "segment",
        F.col("n_g").cast("bigint").alias("n_customers"),
        round2(s_g, 6).alias("revenue_share"),
        round2("t_g_raw", 6).alias("theil_within_group"),
        round2("within_term_raw", 6).alias("within_contribution"),
        round2("between_term_raw", 6).alias("between_contribution"),
        round2(F.sum("within_term_raw").over(w), 6).alias("t_within"),
        round2(F.sum("between_term_raw").over(w), 6).alias("t_between"),
        round2(
            F.sum("within_term_raw").over(w)
            + F.sum("between_term_raw").over(w),
            6,
        ).alias("t_total"),
    )


BF_BUCKET = 100.0  # per-group value-grain prefix-sum bucket width


def brown_forsythe_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """sf — Brown-Forsythe test for equality of variances of the
    event value across event types: one-way ANOVA on the absolute
    deviations from each group's MEDIAN (the robust Levene variant —
    a mean-centered Levene is wrecked by the same outliers it is
    meant to detect). The missing prerequisite check for the
    equal-variance assumptions other tests quietly make; pairs with
    ``welch_ttest_value`` (which avoids the assumption) and
    ``robust_outlier_stats``.

    Group medians are the LOWER median (k = ceil(n/2)-th smallest —
    a documented choice, replayed identically by the twin) computed
    by the per-group two-phase bucketed prefix sum — windows
    partitioned by (group, bucket), so every group ranks in parallel
    and nothing is single-partition. The W statistic's moments are
    two grouped aggregates over the deviations.

    p-value: with df2 in the tens of thousands, df1*W -> chi2(df1);
    for even df1 the chi-square survival has the closed form
    exp(-y/2) * sum_{{j<df1/2}} (y/2)^j / j!, evaluated identically
    on both engines (df1 = groups-1 = 4 here). The approximation
    (not an erfc polynomial) is part of the operator contract.

    Determinism: values cents-rounded before the value grain; medians
    and counts exact integers/cents; the deviation moments are the
    only float sums, absorbed by 1e-6 rounding.
    """
    events = load_table(spark, sf_dir, "events")
    x = events.select(
        F.col("event_type").alias("g"), round2("value", 2).alias("v")
    )
    per_value = x.groupBy("g", "v").agg(F.count("*").alias("cnt"))
    pv = per_value.withColumn("bu", F.floor(F.col("v") / BF_BUCKET))
    w_local = Window.partitionBy("g", "bu").orderBy("v").rowsBetween(
        Window.unboundedPreceding, -1
    )
    local = pv.select(
        "g",
        "bu",
        "v",
        "cnt",
        F.coalesce(F.sum("cnt").over(w_local), F.lit(0)).alias("lc"),
    )
    w_prior = Window.partitionBy("g").orderBy("bu").rowsBetween(
        Window.unboundedPreceding, -1
    )
    offsets = (
        pv.groupBy("g", "bu")
        .agg(F.sum("cnt").alias("bn"))
        .select(
            "g",
            "bu",
            F.coalesce(F.sum("bn").over(w_prior), F.lit(0)).alias("oc"),
        )
    )
    cum = local.join(offsets, ["g", "bu"]).select(
        "g", "v", "cnt", (F.col("lc") + F.col("oc")).alias("cn_excl")
    )
    sizes = per_value.groupBy("g").agg(F.sum("cnt").alias("n_g"))
    med = (
        cum.join(F.broadcast(sizes), "g")
        .withColumn("k", F.ceil(F.col("n_g") / 2).cast("bigint"))
        .filter(
            (F.col("cn_excl") < F.col("k"))
            & (F.col("cn_excl") + F.col("cnt") >= F.col("k"))
        )
        .select("g", F.col("v").alias("med"))
    )
    z = x.join(F.broadcast(med), "g").select(
        "g", F.abs(F.col("v") - F.col("med")).alias("z")
    )
    gm = z.groupBy("g").agg(
        F.count("*").alias("n_g"),
        F.avg("z").alias("zbar_g"),
        F.sum(F.col("z") * F.col("z")).alias("szz_g"),
    )
    w = Window.partitionBy()
    t = (
        gm.withColumn("N", F.sum("n_g").over(w))
        .withColumn("k_groups", F.count("*").over(w))
        .withColumn(
            "zbar",
            F.sum(F.col("zbar_g") * F.col("n_g")).over(w) / F.col("N"),
        )
    )
    between = F.sum(
        F.col("n_g") * (F.col("zbar_g") - F.col("zbar")) ** 2
    ).over(w)
    within = F.sum(
        F.col("szz_g") - F.col("n_g") * F.col("zbar_g") ** 2
    ).over(w)
    W = (
        (F.col("N") - F.col("k_groups"))
        / (F.col("k_groups") - 1)
        * between
        / within
    )
    scored = t.withColumn("W_raw", W).withColumn(
        "y", (F.col("k_groups") - 1) * F.col("W_raw")
    )
    # chi2(4) survival: exp(-y/2) * (1 + y/2)  [df1 = 4 for 5 groups]
    p = F.exp(-F.col("y") / 2) * (1 + F.col("y") / 2)
    return scored.select(
        F.col("g").alias("event_type"),
        F.col("n_g").cast("bigint").alias("n"),
        round2("zbar_g", 6).alias("mean_abs_dev"),
        round2("W_raw", 6).alias("bf_statistic"),
        (F.col("k_groups") - 1).cast("bigint").alias("df1"),
        (F.col("N") - F.col("k_groups")).cast("bigint").alias("df2"),
        round2(p, 6).alias("p_approx"),
    )


def new_vs_returning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """wf — daily actives split into NEW (first-ever activity that
    day) vs RETURNING, plus the running total of acquired users — the
    growth-accounting view (every DAU change decomposes into
    acquisition vs retention, which this makes visible). Completes
    the engagement family: stickiness (`wf_dau_mau_stickiness`) says
    how often the base shows up, this says where the base comes from.

    Scale shape: one user-grain min-aggregate (first day), broadcast
    back onto the distinct (user, day) frame for the new/returning
    tag, then a day-grain aggregate; the cumulative acquired count is
    a window over calendar-bounded day rows.

    Determinism: pure integer counting on exact calendar arithmetic;
    the share is the only float, rounded 1e-6.
    """
    events = load_table(spark, sf_dir, "events")
    days = events.select(
        "user_id", F.date_trunc("day", "ts").cast("date").alias("day")
    ).distinct()
    first = days.groupBy("user_id").agg(F.min("day").alias("first_day"))
    tagged = days.join(F.broadcast(first), "user_id").select(
        "day", (F.col("day") == F.col("first_day")).alias("is_new")
    )
    g = tagged.groupBy("day").agg(
        F.sum(F.col("is_new").cast("bigint")).alias("new_users"),
        F.sum((~F.col("is_new")).cast("bigint")).alias("returning_users"),
    )
    w_cum = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, 0)
    return g.select(
        F.col("day").cast("timestamp").alias("day"),
        "new_users",
        "returning_users",
        (F.col("new_users") + F.col("returning_users")).alias("dau"),
        F.sum("new_users").over(w_cum).cast("bigint").alias("acquired_to_date"),
        round2(
            F.col("new_users")
            / (F.col("new_users") + F.col("returning_users")),
            6,
        ).alias("new_share"),
    )


PGRAM_PERIODS = (5, 7, 10)  # candidate cycle lengths in days
PGRAM_TWO_PI = 6.283185307179586  # 2*pi as an exact shared double


def periodogram_power(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ts — single-frequency periodogram (Goertzel/Schuster) of the
    daily event value at candidate periods: for each period P,
    I(P) = (C^2 + S^2) / n with C = sum xc_t cos(2 pi t / P),
    S = sum xc_t sin(2 pi t / P) over the mean-centered daily series,
    plus each period's share of total variance. The frequency-domain
    confirmation of what ``seasonal_decompose_dow`` assumes: the
    7-day line should dominate its neighbors — if a 5- or 10-day
    cycle ever rivals it, the weekly seasonal model is wrong.

    Scale shape: the fact scan collapses to one row per day before
    any trigonometry; the period grid is an explode PROJECTION on the
    calendar-bounded daily frame (3x rows); per-period C/S/variance
    are one grouped aggregate. 2*pi is a shared literal double so
    both engines evaluate identical cos/sin arguments.

    Determinism: the day index and candidate periods are integers;
    cos/sin come from the same libm on identical doubles; the <=days
    -term sums are absorbed by 1e-4 output rounding.
    """
    events = load_table(spark, sf_dir, "events")
    daily = events.groupBy(
        F.date_trunc("day", "ts").cast("date").alias("day")
    ).agg(round2(F.sum("value"), 2).alias("x"))
    w_all = Window.partitionBy()
    w_rn = Window.orderBy("day")
    centered = daily.withColumn(
        "t", (F.row_number().over(w_rn) - 1).cast("double")
    ).withColumn("xc", F.col("x") - F.avg("x").over(w_all))
    grid = centered.select(
        "t",
        "xc",
        F.explode(
            F.array(*[F.lit(p) for p in PGRAM_PERIODS])
        ).alias("period"),
    )
    ang = F.lit(PGRAM_TWO_PI) * F.col("t") / F.col("period")
    g = grid.groupBy("period").agg(
        F.count("*").alias("n"),
        F.sum(F.col("xc") * F.cos(ang)).alias("c"),
        F.sum(F.col("xc") * F.sin(ang)).alias("s"),
        F.sum(F.col("xc") * F.col("xc")).alias("ss"),
    )
    power = (F.col("c") ** 2 + F.col("s") ** 2) / F.col("n")
    return g.select(
        F.col("period").cast("bigint").alias("period"),
        F.col("n").cast("bigint").alias("n_days"),
        round2(power, 4).alias("power"),
        round2(power / F.col("ss"), 6).alias("variance_share"),
    )


def column_entropy_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """dq — Shannon entropy profile of the categorical order/customer
    columns: per column, distinct count, entropy (nats) and the
    normalized H/ln(k) in [0,1]. The distribution-shape companion to
    ``dq_table_profile``'s null/distinct counts: near-0 normalized
    entropy means a column is effectively constant (a candidate for
    partition pruning or removal), near-1 means uniform (a good
    shuffle key, a bad filter). The profiler an auto-layout advisor
    reads first.

    Scale shape: one grouped count per column (map-side combinable,
    same Expand trick as the table profile), entropy arithmetic on
    the value-grain rows — vocab-bounded per categorical column.

    Determinism: counts exact; H is a sum of k closed-form terms of
    integer ratios, rounded 1e-6.
    """
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    cols = [
        ("o_orderstatus", orders.select(F.col("o_orderstatus").alias("v"))),
        ("o_orderpriority", orders.select(F.col("o_orderpriority").alias("v"))),
        ("c_mktsegment", cust.select(F.col("c_mktsegment").alias("v"))),
        ("c_nationkey", cust.select(F.col("c_nationkey").cast("string").alias("v"))),
    ]
    out = None
    for name, df in cols:
        g = df.groupBy("v").agg(F.count("*").alias("c"))
        w = Window.partitionBy()
        h = g.withColumn("n", F.sum("c").over(w)).agg(
            F.lit(name).alias("column_name"),
            F.count("*").cast("bigint").alias("n_distinct"),
            (-F.sum(
                (F.col("c") / F.col("n")) * F.log(F.col("c") / F.col("n"))
            )).alias("h_raw"),
        )
        part = h.select(
            "column_name",
            "n_distinct",
            round2("h_raw", 6).alias("entropy_nats"),
            round2(
                F.col("h_raw") / F.log(F.col("n_distinct").cast("double")), 6
            ).alias("entropy_normalized"),
        )
        out = part if out is None else out.unionByName(part)
    return out


def event_order_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """dq — event-ordering integrity: per user, does the lifecycle
    respect causality (no purchase before the first signup, no click
    before the first view)? Emits per-violation-type user counts and
    rates. The logical-consistency audit next to the structural ones
    (`dq_referential_integrity` checks keys; this checks TIME) — at
    100 TB ordering violations usually mean clock skew or a replayed
    partition, caught here before they poison sessionization and
    attribution.

    Scale shape: one user-grain aggregate computing all first-event
    timestamps in a single pass (conditional mins), then counting
    comparisons — no joins, no windows over events.

    Determinism: pure timestamp comparisons and integer counts; the
    rate is the only float, rounded 1e-6.
    """
    events = load_table(spark, sf_dir, "events")
    per = events.groupBy("user_id").agg(
        F.min(F.when(F.col("event_type") == "signup", F.col("ts"))).alias(
            "first_signup"
        ),
        F.min(F.when(F.col("event_type") == "purchase", F.col("ts"))).alias(
            "first_purchase"
        ),
        F.min(F.when(F.col("event_type") == "view", F.col("ts"))).alias(
            "first_view"
        ),
        F.min(F.when(F.col("event_type") == "click", F.col("ts"))).alias(
            "first_click"
        ),
    )
    checks = [
        (
            "purchase_before_signup",
            F.col("first_purchase").isNotNull()
            & F.col("first_signup").isNotNull()
            & (F.col("first_purchase") < F.col("first_signup")),
            F.col("first_purchase").isNotNull()
            & F.col("first_signup").isNotNull(),
        ),
        (
            "click_before_view",
            F.col("first_click").isNotNull()
            & F.col("first_view").isNotNull()
            & (F.col("first_click") < F.col("first_view")),
            F.col("first_click").isNotNull() & F.col("first_view").isNotNull(),
        ),
        (
            "purchase_without_any_signup",
            F.col("first_purchase").isNotNull()
            & F.col("first_signup").isNull(),
            F.col("first_purchase").isNotNull(),
        ),
    ]
    out = None
    for name, viol, applicable in checks:
        part = per.agg(
            F.lit(name).alias("check"),
            F.sum(applicable.cast("bigint")).alias("n_applicable"),
            F.sum(viol.cast("bigint")).alias("n_violations"),
        ).select(
            "check",
            "n_applicable",
            "n_violations",
            round2(
                F.col("n_violations")
                / F.greatest(F.col("n_applicable"), F.lit(1)),
                6,
            ).alias("violation_rate"),
        )
        out = part if out is None else out.unionByName(part)
    return out


def partial_correlation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """sf — partial correlation of per-user event count and total
    value CONTROLLING for activity span (days active):
    r_xy.z = (r_xy - r_xz r_yz) / sqrt((1-r_xz²)(1-r_yz²)). Count and
    value correlate trivially because both grow with tenure — the
    partial coefficient asks whether they still co-move once tenure
    is held fixed, the confounder-aware readout a raw Pearson (as in
    ``spearman_user_activity``) cannot give.

    Scale shape: ONE user-grain aggregate produces (x, y, z); one
    more pass accumulates all nine pairwise moments map-side; the
    partial formula is 1-row arithmetic.

    Determinism: moments are the only float sums; the output rounds
    at 1e-6 (the m8/OLS discipline).
    """
    events = load_table(spark, sf_dir, "events")
    per = events.groupBy("user_id").agg(
        F.count("*").cast("double").alias("x"),
        F.sum("value").alias("y"),
        F.countDistinct(F.date_trunc("day", "ts")).cast("double").alias("z"),
    )
    m = per.agg(
        F.count("*").alias("n"),
        F.avg("x").alias("mx"),
        F.avg("y").alias("my"),
        F.avg("z").alias("mz"),
        F.avg(F.col("x") * F.col("y")).alias("mxy"),
        F.avg(F.col("x") * F.col("z")).alias("mxz"),
        F.avg(F.col("y") * F.col("z")).alias("myz"),
        F.avg(F.col("x") * F.col("x")).alias("mxx"),
        F.avg(F.col("y") * F.col("y")).alias("myy"),
        F.avg(F.col("z") * F.col("z")).alias("mzz"),
    )

    def corr(ab, a, b, aa, bb):
        return (F.col(ab) - F.col(a) * F.col(b)) / F.sqrt(
            (F.col(aa) - F.col(a) ** 2) * (F.col(bb) - F.col(b) ** 2)
        )

    rxy = corr("mxy", "mx", "my", "mxx", "myy")
    rxz = corr("mxz", "mx", "mz", "mxx", "mzz")
    ryz = corr("myz", "my", "mz", "myy", "mzz")
    partial = (rxy - rxz * ryz) / F.sqrt(
        (1 - rxz ** 2) * (1 - ryz ** 2)
    )
    return m.select(
        F.col("n").cast("bigint").alias("n_users"),
        round2(rxy, 6).alias("r_xy"),
        round2(rxz, 6).alias("r_xz"),
        round2(ryz, 6).alias("r_yz"),
        round2(partial, 6).alias("r_xy_given_z"),
    )


def max_drawdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ts — maximum drawdown of the cumulative daily event value: the
    deepest peak-to-trough fall of the running total, with the peak
    and trough days. The risk lens on a cumulative series (the same
    machinery finance uses on equity curves, applied to revenue
    run-rate): CUSUM (`ts_cusum_changepoint`) finds WHERE the level
    shifted, drawdown says how BAD the worst stretch was.

    Scale shape: the fact scan collapses to one row per day; the
    cumulative sum, running max, and argmax all run on the
    calendar-bounded daily frame. Deterministic argmax: the trough is
    the first day attaining the maximal drawdown (rounded cents, day
    tiebreak); the peak is the first day attaining the running max
    before it.

    Determinism: daily values cents-rounded before the cumsum, so
    running totals are engine-identical cents.
    """
    events = load_table(spark, sf_dir, "events")
    daily = events.groupBy(
        F.date_trunc("day", "ts").cast("date").alias("day")
    ).agg(round2(F.sum("value"), 2).alias("x"))
    w_cum = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, 0)
    c = daily.withColumn("cum", F.sum("x").over(w_cum)).withColumn(
        "peak", F.max(F.sum("x").over(w_cum)).over(w_cum)
    )
    dd = c.withColumn("drawdown", F.col("peak") - F.col("cum"))
    w_pick = Window.orderBy(F.desc(round2(F.col("drawdown"), 2)), F.asc("day"))
    trough = dd.withColumn("rk", F.row_number().over(w_pick)).filter(
        F.col("rk") == 1
    )
    # first day attaining that trough's peak value
    peak_day = (
        dd.join(
            F.broadcast(trough.select(F.col("peak").alias("p0"))),
            F.col("cum") == F.col("p0"),
        )
        .agg(F.min("day").alias("peak_day"))
    )
    return trough.crossJoin(F.broadcast(peak_day)).select(
        F.col("peak_day").cast("timestamp").alias("peak_day"),
        F.col("day").cast("timestamp").alias("trough_day"),
        round2("peak", 2).alias("peak_cum"),
        round2("cum", 2).alias("trough_cum"),
        round2("drawdown", 2).alias("max_drawdown"),
        round2(F.col("drawdown") / F.col("peak"), 6).alias("drawdown_frac"),
    )
