"""Graph analytics over the star schema — iterative PageRank
(SURVEY.md §2 [N] extensions; iterative-algorithm family alongside
``clustering.min_label_components``).

The graph: nation→nation trade edges, weight = revenue flowing from
the customer's nation to the supplier's nation
(lineitem ⋈ orders ⋈ customer ⋈ supplier — same join shape as
``q9_product_profit``). PageRank then ranks nations by where trade
revenue concentrates.

Execution shape: the edge aggregation collapses the fact table to a
nation×nation matrix (≤ 625 rows); the fixed-iteration rank
recurrence then replays DRIVER-side over the collected normalized
edges (optimization r12 — the LPA/MMR bounded-collect precedent; the
previous lazily-composed 5-iteration plan spent ~1.2 s/run
scheduling KB-data stages). At 100 TB the edge build dominates (one
fact-table pass); the recurrence cost is the aggregated graph's
size, not the corpus's. For graphs too big to collect (billions of
edges), checkpoint per iteration exactly as ``min_label_components``
does — the recurrence is identical.

The DuckDB oracle unrolls the same five iterations as chained CTEs —
an exact cross-engine check of an iterative distributed algorithm
(final ranks rounded at 1e-6; the recurrence itself is never
rounded).
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.numeric import round2, round_half_up
from ..sources.tables import load_table

DAMPING = 0.85
N_ITER = 5


def trade_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(src, dst, w): revenue from customer-nation src to
    supplier-nation dst."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    supplier = load_table(spark, sf_dir, "supplier")
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(customer), orders.o_custkey == customer.c_custkey)
        .join(F.broadcast(supplier), li.l_suppkey == supplier.s_suppkey)
        .groupBy(
            F.col("c_nationkey").alias("src"), F.col("s_nationkey").alias("dst")
        )
        .agg(F.sum(rev).alias("w"))
    )


def trade_pagerank(
    spark: SparkSession,
    sf_dir: str,
    n_iter: int = N_ITER,
    damping: float = DAMPING,
) -> DataFrame:
    """Weighted PageRank over the nation trade graph, ``n_iter`` fixed
    iterations: rank_{t+1}(v) = (1-d)/N + d·Σ_{u→v} rank_t(u)·w(u,v)/outw(u).

    Returns (n_name, rank) for every nation, rank rounded at 1e-6.
    Nations with no inbound trade keep the teleport term only.

    Optimization r12 (guide §8 "decide with small rows", the LPA/MMR
    precedent): the fact-scale edge aggregation stays distributed; the
    rank recurrence replays DRIVER-side over the collected ≤ nation²
    normalized edges (bounded at ANY corpus scale — same argument as
    ``trade_label_propagation``). The lazily-composed 5-iteration
    Spark plan spent ~1.2 s scheduling ~15 KB-data stages per run;
    the replay is one collect + pure-Python recurrence. r11 left this
    alone fearing float summation-order flips. Each per-dst mass is a
    ``math.fsum`` of its terms: the correctly rounded sum, so the driver
    result does not depend on edge order and is at least as accurate as
    any distributed order (the DuckDB CTE sums in its own order; the
    1e-6 output rounding absorbs its ulps). Final rounding uses
    ``round_half_up``, round2's driver twin.
    NOTE plan captures: the operator is eager at construction (the
    ADVICE r11 eager-collect contract — plan_dump shows only the
    residual createDataFrame; the real work is the edge aggregate,
    whose plan is ``trade_edges``'s)."""
    nation = load_table(spark, sf_dir, "nation")
    names = {
        int(r.n_nationkey): r.n_name
        for r in nation.select("n_nationkey", "n_name").collect()
    }  # bounded: one row per nation
    nodes = sorted(names)
    n_nodes = len(nodes)

    # normalized transition probabilities — the only fact-scale work
    edges = trade_edges(spark, sf_dir)
    out_w = Window.partitionBy("src")
    trans = edges.select(
        "src", "dst", (F.col("w") / F.sum("w").over(out_w)).alias("p")
    )
    rows = sorted(
        (int(r.src), int(r.dst), float(r.p)) for r in trans.collect()
    )  # bounded: ≤ nation² edges at any corpus scale

    ranks = {v: 1.0 / n_nodes for v in nodes}
    for _ in range(n_iter):
        terms: dict[int, list[float]] = {}
        for s, d, p in rows:
            terms.setdefault(d, []).append(ranks[s] * p)
        ranks = {
            v: (1.0 - damping) / n_nodes + damping * math.fsum(terms.get(v, ()))
            for v in nodes
        }
    out = [(names[v], round_half_up(ranks[v], 6)) for v in nodes]
    return spark.createDataFrame(out, "n_name string, rank double")


def _undirected_trade_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct undirected nation pairs (a < b) with any trade flow —
    the simple graph underlying triangle counting."""
    edges = trade_edges(spark, sf_dir)
    return (
        edges.filter(F.col("src") != F.col("dst"))
        .select(
            F.least("src", "dst").alias("a"), F.greatest("src", "dst").alias("b")
        )
        .distinct()
    )


def trade_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-nation triangle participation counts over the undirected
    trade graph (SURVEY.md §2 [N] graph family, alongside PageRank and
    the union-find components in ``clustering``).

    Canonical oriented-edge enumeration: every triangle a<b<c is found
    exactly once by joining (a,b)⋈(b,c)⋈(a,c). On the nation graph the
    edge list is KB-scale; at billions of edges the same plan holds
    with the standard refinement of orienting by DEGREE instead of id
    (low-degree endpoint first) so no hub node fans out quadratically —
    orientation changes which joins carry the skew, not the result.

    Returns (n_name, n_triangles) for every nation, 0 included.
    """
    nation = load_table(spark, sf_dir, "nation")
    e = _undirected_trade_pairs(spark, sf_dir).localCheckpoint()
    e1 = e.select(F.col("a").alias("x"), F.col("b").alias("y"))
    e2 = e.select(F.col("a").alias("y"), F.col("b").alias("z"))
    e3 = e.select(F.col("a").alias("x"), F.col("b").alias("z"))
    tri = e1.join(e2, "y").join(e3, ["x", "z"])
    per_node = (
        tri.select(F.explode(F.array("x", "y", "z")).alias("node"))
        .groupBy("node")
        .agg(F.count("*").alias("n_triangles"))
    )
    return (
        F.broadcast(nation)
        .join(per_node, nation.n_nationkey == per_node.node, "left")
        .select(
            "n_name",
            F.coalesce("n_triangles", F.lit(0)).cast("bigint").alias("n_triangles"),
        )
    )


TOP_EDGES_PER_SRC = 3
MAX_HOPS = 6
BFS_SOURCE = 0


def trade_bfs_hops(
    spark: SparkSession,
    sf_dir: str,
    source: int = BFS_SOURCE,
    max_hops: int = MAX_HOPS,
) -> DataFrame:
    """Min-hop distances from one nation over the SPARSIFIED trade
    graph: each nation keeps only its ``TOP_EDGES_PER_SRC`` strongest
    outgoing trade edges (deterministic tie-break on dst), which makes
    multi-hop structure appear in an otherwise near-complete graph.

    Frontier-style BFS as ``max_hops`` fixed iterations of
    join+min-aggregate, composed lazily over the localCheckpoint-ed
    KB-scale edge list — the same iterative-recurrence execution shape
    as ``trade_pagerank``. The DuckDB twin walks the identical edge
    set with a recursive CTE, so a genuinely iterative distributed
    algorithm gets an exact cross-engine oracle.

    Returns (n_name, hops) for reachable nations; unreachable ones are
    omitted (matching the recursive CTE's semantics).
    """
    nation = load_table(spark, sf_dir, "nation")
    edges = trade_edges(spark, sf_dir).filter(F.col("src") != F.col("dst"))
    # rank on the ROUNDED weight: the raw float sum depends on
    # summation order (Spark partial aggs vs DuckDB scan order), and
    # an unrounded near-tie could pick different top-3 edge sets per
    # engine; cementing at 1e-2 makes the sparsification engine-exact
    # (same guard knn_graph applies before its rank)
    w_rank = Window.partitionBy("src").orderBy(
        F.desc(round2(F.col("w"), 2)), F.asc("dst")
    )
    sparse = (
        edges.withColumn("rk", F.row_number().over(w_rank))
        .filter(F.col("rk") <= TOP_EDGES_PER_SRC)
        .select("src", "dst")
        .localCheckpoint()
    )
    dist = spark.createDataFrame([(source, 0)], "node BIGINT, hops INT")
    for h in range(1, max_hops + 1):
        frontier = dist.filter(F.col("hops") == h - 1)
        expanded = (
            frontier.join(sparse, frontier.node == sparse.src)
            .select(F.col("dst").alias("node"), F.lit(h).alias("hops"))
        )
        # checkpoint per iteration: the recurrence references `dist`
        # twice (union + frontier), so a fully lazy composition doubles
        # the logical plan each hop (2^k joins by hop k). Cutting
        # lineage keeps the plan linear in max_hops — the same
        # bounded-lineage discipline ``clustering.min_label_components``
        # applies, and mandatory at billion-node scale.
        dist = (
            dist.unionAll(expanded)
            .groupBy("node")
            .agg(F.min("hops").alias("hops"))
            .localCheckpoint()
        )
    return (
        dist.join(F.broadcast(nation), dist.node == nation.n_nationkey)
        .select("n_name", F.col("hops").cast("int").alias("hops"))
    )


LPA_ITER = 4


def trade_label_propagation(
    spark: SparkSession, sf_dir: str, n_iter: int = LPA_ITER
) -> DataFrame:
    """Synchronous weighted label propagation (Raghavan 2007) over the
    undirected nation trade graph — community detection, the fourth
    distinct algorithm in the graph family (rank / triangles / BFS /
    communities). Each round every nation adopts the label carrying
    the highest total incident edge weight among its neighbors (tie →
    smallest label); labels start as node ids.

    Determinism across engines is load-bearing: label masses are sums
    of floats in engine-specific order, so edge weights are built as
    EXACT INTEGER CENTS from the per-lineitem revenue (floor at the
    row, integer sum — the attribution-family discipline), making
    every mass comparison bit-identical and the argmax unflippable.
    Execution shape: one fact-table pass builds the ≤625-row edge
    list (localCheckpoint-ed), then ``n_iter`` join+argmax rounds over
    that KB-scale metadata with per-round lineage cuts — the
    ``trade_bfs_hops`` posture. Returns (n_name, community).
    """
    nation = load_table(spark, sf_dir, "nation")
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    supplier = load_table(spark, sf_dir, "supplier")
    cents = F.floor(
        F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100 + F.lit(0.5)
    ).cast("bigint")
    directed = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(customer), orders.o_custkey == customer.c_custkey)
        .join(F.broadcast(supplier), li.l_suppkey == supplier.s_suppkey)
        .filter(F.col("c_nationkey") != F.col("s_nationkey"))
        .groupBy(
            F.col("c_nationkey").alias("src"), F.col("s_nationkey").alias("dst")
        )
        .agg(F.sum(cents).alias("w"))
    )
    # Optimization r11 (guide §8 "decide with small rows" / §5 driver
    # rules): the iteration operates on the AGGREGATED graph — at most
    # nation² = 625 integer-weight edges at ANY corpus scale — but
    # each round ran as its own Spark job (join + window argmax +
    # localCheckpoint), ~n_iter scheduler round trips over KB-scale
    # metadata. The fact-scale stage (the edge aggregation) stays
    # distributed; the recurrence now runs on the driver over the
    # collected edge list. Every mass is an exact INTEGER (the cents
    # discipline exists precisely so the argmax is order-insensitive),
    # so the driver replay is bit-identical to the distributed rounds
    # by construction — same sums, same (m desc, label asc) tie-break.
    edge_rows = (
        directed.select("src", "dst", "w")
        .unionAll(
            directed.select(
                F.col("dst").alias("src"), F.col("src").alias("dst"), "w"
            )
        )
        .groupBy("src", "dst")
        .agg(F.sum("w").cast("bigint").alias("w"))
        .collect()  # bounded: <= nation×nation rows at any scale
    )
    node_rows = nation.select(F.col("n_nationkey").alias("node")).collect()
    labels = {int(r.node): int(r.node) for r in node_rows}
    adj = [(int(r.src), int(r.dst), int(r.w)) for r in edge_rows]
    for _ in range(n_iter):
        mass: dict[tuple[int, int], int] = {}
        for src, dst, w in adj:
            key = (src, labels[dst])
            mass[key] = mass.get(key, 0) + w
        best: dict[int, tuple[int, int]] = {}
        for (node, label), m in mass.items():
            cur = best.get(node)
            # argmax by (m desc, label asc) — the window's exact order
            if cur is None or (-m, label) < cur:
                best[node] = (-m, label)
        for node, (_negm, label) in best.items():
            labels[node] = label
    labeled = spark.createDataFrame(
        sorted(labels.items()), schema="node bigint, label bigint"
    )
    return (
        labeled.join(F.broadcast(nation), labeled.node == nation.n_nationkey)
        .select("n_name", F.col("label").cast("bigint").alias("community"))
    )


KCORE_K = 10
KCORE_ROUNDS = 3


def _strong_trade_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Median-sparsified undirected strong-trade pairs (a < b), exact
    integer-cent weights — the deterministic sparse graph shared by
    ``trade_kcore`` and ``trade_link_prediction``. Checkpointed: one
    fact pass, ≤300 rows out."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    supplier = load_table(spark, sf_dir, "supplier")
    cents = F.floor(
        F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100 + F.lit(0.5)
    ).cast("bigint")
    pairs = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(customer), orders.o_custkey == customer.c_custkey)
        .join(F.broadcast(supplier), li.l_suppkey == supplier.s_suppkey)
        .filter(F.col("c_nationkey") != F.col("s_nationkey"))
        .groupBy(
            F.least("c_nationkey", "s_nationkey").alias("a"),
            F.greatest("c_nationkey", "s_nationkey").alias("b"),
        )
        .agg(F.sum(cents).alias("w"))
    )
    med = pairs.agg(F.expr("percentile(w, 0.5)").alias("med"))
    return (
        pairs.crossJoin(F.broadcast(med))
        .filter(F.col("w") > F.col("med"))
        .select("a", "b")
        .localCheckpoint()
    )


def trade_kcore(
    spark: SparkSession,
    sf_dir: str,
    k: int = KCORE_K,
    rounds: int = KCORE_ROUNDS,
) -> DataFrame:
    """k-core membership over the strong-trade graph — the fifth graph
    algorithm (rank / triangles / BFS / communities / cores): peel
    nodes with fewer than k strong partners until a fixed point; the
    surviving core is the densely interlocked trading bloc, the
    standard seed for community cores and nested-density analysis.

    The graph is sparsified DETERMINISTICALLY first: undirected pair
    weights are exact integer cents (the LPA discipline, so no float
    comparison can flip an edge), and only pairs strictly above the
    exact median weight survive — a self-scaling threshold with no
    tuned constant. Peeling runs ``rounds`` synchronous rounds
    (each: recount degrees inside the surviving set, drop < k); the
    harness graphs reach their fixed point in 2 rounds and round 3 is
    asserted to be an identity by pytest. Production graphs loop the
    same round body until no node drops.

    Execution shape: one fact-table pass builds the ≤300-row pair
    list; every peel round is a join+agg over that checkpointed
    KB-scale edge list (the ``trade_label_propagation`` posture).
    Returns every nation with its strong-graph degree and core flag.
    """
    nation = load_table(spark, sf_dir, "nation")
    kept = _strong_trade_pairs(spark, sf_dir)
    edges = kept.select(F.col("a").alias("x"), F.col("b").alias("y")).unionAll(
        kept.select(F.col("b").alias("x"), F.col("a").alias("y"))
    )
    deg0 = edges.groupBy("x").agg(F.count("*").alias("d")).localCheckpoint()
    active = deg0.filter(F.col("d") >= k).select(F.col("x").alias("node"))
    for _ in range(rounds - 1):
        surv = (
            edges.join(active.withColumnRenamed("node", "x"), "x")
            .join(
                active.select(F.col("node").alias("y")), "y"
            )
            .groupBy("x")
            .agg(F.count("*").alias("d"))
        )
        active = (
            surv.filter(F.col("d") >= k)
            .select(F.col("x").alias("node"))
            .localCheckpoint()
        )
    return (
        F.broadcast(nation)
        .join(deg0, nation.n_nationkey == deg0.x, "left")
        .join(active, nation.n_nationkey == active.node, "left")
        .select(
            "n_name",
            F.coalesce("d", F.lit(0)).cast("bigint").alias("degree_strong"),
            F.col("node").isNotNull().alias("in_kcore"),
        )
    )


def trade_link_prediction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Link prediction over the strong-trade graph: for every
    NON-edge pair with at least one common strong partner, the three
    classic topological scores — common-neighbor count, neighbor-set
    Jaccard cn/(d_u + d_v - cn), and Adamic-Adar sum_z 1/ln(deg z)
    (Liben-Nowell & Kleinberg 2003). The "which trade links should
    exist next" readout, and the recommendation primitive (same math
    as item-item collaborative filtering on a co-occurrence graph).

    Execution shape: the graph is the checkpointed KB-scale
    ``_strong_trade_pairs`` output, so everything here — the wedge
    join e(z,u) x e(z,v), the degree joins, the known-edge anti-join —
    runs on metadata-scale frames after one fact pass. At billions of
    edges the same wedge join is the scale path with the standard
    refinement of enumerating wedges from the low-degree endpoint.

    Determinism: degrees and cn are exact integers; Jaccard is a
    single division of integers; Adamic-Adar sums <= |V| terms of
    1/ln(integer) (noise ~1 ulp vs the 1e-6 rounding).
    """
    nation = load_table(spark, sf_dir, "nation")
    kept = _strong_trade_pairs(spark, sf_dir)
    edges = kept.select(F.col("a").alias("x"), F.col("b").alias("y")).unionAll(
        kept.select(F.col("b").alias("x"), F.col("a").alias("y"))
    )
    deg = edges.groupBy("x").agg(F.count("*").alias("d"))
    wedges = (
        edges.select(F.col("x").alias("z"), F.col("y").alias("u"))
        .join(edges.select(F.col("x").alias("z"), F.col("y").alias("v")), "z")
        .filter(F.col("u") < F.col("v"))
        .join(deg.select(F.col("x").alias("z"), F.col("d").alias("dz")), "z")
    )
    cand = wedges.groupBy("u", "v").agg(
        F.count("*").alias("cn"),
        F.sum(F.lit(1.0) / F.log("dz")).alias("aa_raw"),
    )
    non_edges = cand.join(
        kept,
        (cand.u == kept.a) & (cand.v == kept.b),
        "left_anti",
    )
    scored = (
        non_edges.join(deg.select(F.col("x").alias("u"), F.col("d").alias("du")), "u")
        .join(deg.select(F.col("x").alias("v"), F.col("d").alias("dv")), "v")
        .withColumn(
            "jaccard_raw",
            F.col("cn") / (F.col("du") + F.col("dv") - F.col("cn")),
        )
    )
    na = nation.select(
        F.col("n_nationkey").alias("u"), F.col("n_name").alias("nation_a")
    )
    nb = nation.select(
        F.col("n_nationkey").alias("v"), F.col("n_name").alias("nation_b")
    )
    return (
        scored.join(F.broadcast(na), "u")
        .join(F.broadcast(nb), "v")
        .select(
            "nation_a",
            "nation_b",
            F.col("cn").cast("bigint").alias("common_neighbors"),
            round2("jaccard_raw", 6).alias("jaccard"),
            round2("aa_raw", 6).alias("adamic_adar"),
        )
    )


HARMONIC_HOPS = 6


def trade_harmonic_centrality(
    spark: SparkSession, sf_dir: str, max_hops: int = HARMONIC_HOPS
) -> DataFrame:
    """Harmonic closeness centrality over the sparsified trade graph
    (the ``trade_bfs_hops`` edge set, same rounded-weight top-
    TOP_EDGES_PER_SRC sparsification): H(v) = sum_{u != v reachable}
    1/dist(v,u), distances by ALL-SOURCE frontier BFS within
    ``max_hops``. Harmonic (not classic closeness) because it is
    well-defined on disconnected graphs — unreachable nodes simply
    contribute 0 — which is exactly the regime a sparsified graph
    lives in. The seventh graph algorithm: WHERE a node sits
    (centrality) next to pagerank's where MASS flows.

    Execution shape: the all-pairs distance table lives at
    |V|^2-grain — metadata scale once the fact table has collapsed to
    the edge list. Each BFS round is one frontier-edge join plus an
    anti-join against the settled set (frontier layering makes the
    first arrival the min, so no min-aggregate is needed), check-
    pointed per round like ``min_label_components``. At billions of
    edges all-pairs is the wrong ask for ANY engine; the per-source
    frontier shape stays the scale path for bounded source sets.

    Determinism: pure integer hop arithmetic on an engine-exact edge
    set; 1/d sums span <= |V| unit fractions, rounded 1e-6.
    """
    nation = load_table(spark, sf_dir, "nation")
    edges = trade_edges(spark, sf_dir).filter(F.col("src") != F.col("dst"))
    w_rank = Window.partitionBy("src").orderBy(
        F.desc(round2(F.col("w"), 2)), F.asc("dst")
    )
    sparse = (
        edges.withColumn("rk", F.row_number().over(w_rank))
        .filter(F.col("rk") <= TOP_EDGES_PER_SRC)
        .select("src", "dst")
        .localCheckpoint()
    )
    nodes = nation.select(F.col("n_nationkey").alias("v"))
    dist = nodes.select("v", F.col("v").alias("u"), F.lit(0).alias("d"))
    frontier = dist
    for h in range(1, max_hops + 1):
        stepped = (
            frontier.join(sparse, frontier.u == sparse.src)
            .select("v", F.col("dst").alias("u"), F.lit(h).alias("d"))
            .distinct()
        )
        newly = stepped.join(dist, ["v", "u"], "left_anti").localCheckpoint()
        dist = dist.unionByName(newly).localCheckpoint()
        frontier = newly
    harm = (
        dist.filter(F.col("d") > 0)
        .groupBy("v")
        .agg(
            F.count("*").cast("bigint").alias("n_reachable"),
            F.sum(F.lit(1.0) / F.col("d")).alias("h_raw"),
        )
    )
    n_nodes = nodes.count()  # dimension-table cardinality (25)
    return (
        F.broadcast(nation)
        .join(harm, nation.n_nationkey == harm.v, "left")
        .select(
            "n_name",
            F.coalesce("n_reachable", F.lit(0)).cast("bigint").alias(
                "n_reachable"
            ),
            round2(F.coalesce("h_raw", F.lit(0.0)), 6).alias("harmonic"),
            round2(
                F.coalesce("h_raw", F.lit(0.0)) / F.lit(float(n_nodes - 1)), 6
            ).alias("harmonic_normalized"),
        )
    )


def trade_assortativity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree assortativity of the strong-trade graph (Newman 2002):
    the Pearson correlation of endpoint degrees over all directed
    edges. Positive = hubs trade with hubs (rich-club), negative =
    hub-and-spoke. The one-number structural summary that tells you
    which sparsification/partitioning strategy a graph workload
    needs — the eighth graph statistic, complementing centrality
    (where a node sits) and cores (how deep).

    Execution shape: degrees are one aggregate over the checkpointed
    strong-pair list; the correlation's five moments are ONE pass
    over the degree-joined edge list — all metadata-scale after the
    fact table collapses to edges. Returns one row with the
    coefficient and its moments (so the twin pins the arithmetic,
    not just the headline number).

    Determinism: degrees are exact integers; the correlation is one
    float expression of integer moments, rounded 1e-6.
    """
    kept = _strong_trade_pairs(spark, sf_dir)
    edges = kept.select(F.col("a").alias("x"), F.col("b").alias("y")).unionAll(
        kept.select(F.col("b").alias("x"), F.col("a").alias("y"))
    )
    deg = edges.groupBy("x").agg(F.count("*").alias("d"))
    de = (
        edges.join(deg.select(F.col("x"), F.col("d").alias("dx")), "x")
        .join(
            deg.select(F.col("x").alias("y"), F.col("d").alias("dy")), "y"
        )
    )
    m = de.agg(
        F.count("*").alias("m"),
        F.avg("dx").alias("mx"),
        F.avg("dy").alias("my"),
        F.avg(F.col("dx") * F.col("dy")).alias("mxy"),
        F.avg(F.col("dx") * F.col("dx")).alias("mxx"),
        F.avg(F.col("dy") * F.col("dy")).alias("myy"),
    )
    r = (F.col("mxy") - F.col("mx") * F.col("my")) / F.sqrt(
        (F.col("mxx") - F.col("mx") ** 2) * (F.col("myy") - F.col("my") ** 2)
    )
    return m.select(
        F.col("m").cast("bigint").alias("n_directed_edges"),
        round2("mx", 6).alias("mean_deg"),
        round2(r, 6).alias("assortativity"),
    )


def trade_reciprocity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reciprocity of the DIRECTED trade graph: the fraction of
    src->dst flow edges whose reverse edge also exists, and the
    weighted variant sum(min(w_ab, w_ba)) / sum(w) — how much of the
    trade volume flows in BALANCED pairs. The directionality summary
    the undirected ops discard: pagerank sees where mass concentrates,
    this says whether relationships are two-way.

    Execution shape: the fact table collapses to the <=625-row
    directed edge aggregate (integer cents — the LPA weight
    discipline); reciprocity is one self-join of that edge list on
    the swapped key plus a 1-row aggregate — all metadata-scale.

    Determinism: everything is exact integer-cent arithmetic until
    the two final ratios, rounded 1e-6.
    """
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    supplier = load_table(spark, sf_dir, "supplier")
    cents = F.floor(
        F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100 + F.lit(0.5)
    ).cast("bigint")
    e = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(customer), orders.o_custkey == customer.c_custkey)
        .join(F.broadcast(supplier), li.l_suppkey == supplier.s_suppkey)
        .filter(F.col("c_nationkey") != F.col("s_nationkey"))
        .groupBy(
            F.col("c_nationkey").alias("src"), F.col("s_nationkey").alias("dst")
        )
        .agg(F.sum(cents).alias("w"))
    )
    rev = e.select(
        F.col("dst").alias("src"), F.col("src").alias("dst"),
        F.col("w").alias("w_rev"),
    )
    j = e.join(rev, ["src", "dst"], "left")
    return j.agg(
        F.count("*").cast("bigint").alias("n_directed_edges"),
        F.sum(F.col("w_rev").isNotNull().cast("bigint"))
        .cast("bigint")
        .alias("n_reciprocated"),
        round2(
            F.sum(F.col("w_rev").isNotNull().cast("double")) / F.count("*"), 6
        ).alias("edge_reciprocity"),
        round2(
            F.sum(F.least(F.col("w"), F.coalesce(F.col("w_rev"), F.lit(0))))
            / F.sum("w"),
            6,
        ).alias("weighted_reciprocity"),
    )
