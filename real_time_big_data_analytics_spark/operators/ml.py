"""ML pipeline parity (SURVEY.md §2.10 M1-M3, L6).

The reference's core is a bot-detector: a 6-feature MLlib decision
tree (gini, maxDepth=6, maxBins=32 — reference
ConsumerESFinal.scala:61-67) trained on a labeled batch
(``dataset.txt``) and applied per-record inside a DStream map
(reference ConsumerESFinal.scala:73), emitting "Bolt"/"Not bolt"
verdict strings (reference ConsumerESFinal.scala:82).

The rebuild derives an equivalent labeled fixture from the harness
``events`` table (per-user activity profile, 6 features, imbalanced
binary label), trains ``pyspark.ml`` ``DecisionTreeClassifier`` with
the reference's hyperparameters, and scores with ``model.transform``
— on batch DataFrames here and on streaming DataFrames in
streaming/scoring.py (the idiomatic replacement for model-in-closure).

Scale notes: training is driver-coordinated but data-parallel
(level-wise histogram aggregation, same as MLlib's RDD path, reference
§3.2); scoring is a pure narrow projection — no shuffle, runs at
stream/scan speed at any scale. ``.cache()`` before ``.fit`` mirrors
the reference's ``cache()`` ahead of iterative training
(ConsumerESFinal.scala:56).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.numeric import round2
from ..sources.tables import load_narrow, load_table

SEED = 42
FEATURES = [
    "n_events",
    "n_clicks",
    "n_purchases",
    "n_signups",
    "avg_value",
    "total_value",
]
LABEL_ERROR_RATIO = 0.25


def user_activity_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Labeled per-user activity profile — the rebuild's analog of the
    reference's 6-feature/binary-label ``dataset.txt`` (FIXTURES.md A1).

    Label: error-heavy users ("bots") — error ratio > 0.25. Features
    deliberately exclude the error counts themselves so the tree has
    to learn correlated structure, not read the label back.
    """
    return _activity_profile(load_table(spark, sf_dir, "events"))


def _activity_profile(events: DataFrame) -> DataFrame:
    """The per-user features and label of :func:`user_activity_features`."""
    return events.groupBy("user_id").agg(
        F.count("*").alias("n_events"),
        F.sum((F.col("event_type") == "click").cast("int")).alias("n_clicks"),
        F.sum((F.col("event_type") == "purchase").cast("int")).alias("n_purchases"),
        F.sum((F.col("event_type") == "signup").cast("int")).alias("n_signups"),
        round2(F.avg("value")).alias("avg_value"),
        round2(F.sum("value")).alias("total_value"),
        (
            (F.sum((F.col("event_type") == "error").cast("int")) / F.count("*"))
            > LABEL_ERROR_RATIO
        )
        .cast("int")
        .alias("label"),
    )


def _assembler():
    from pyspark.ml.feature import VectorAssembler

    return VectorAssembler(inputCols=FEATURES, outputCol="features")


def train_decision_tree(train_df: DataFrame):
    """M1 — DecisionTreeClassifier with the reference's hyperparameters
    (gini / maxDepth 6 / maxBins 32, ConsumerESFinal.scala:61-67)."""
    from pyspark.ml import Pipeline
    from pyspark.ml.classification import DecisionTreeClassifier

    dt = DecisionTreeClassifier(
        labelCol="label",
        featuresCol="features",
        impurity="gini",
        maxDepth=6,
        maxBins=32,
        seed=SEED,
    )
    return Pipeline(stages=[_assembler(), dt]).fit(train_df.cache())


P6_FIXTURE_N = 600


def p6_training_fixture(spark: SparkSession) -> DataFrame:
    """Deterministic labeled training fixture for the P6 scoring-parity
    path — the rebuild's analog of the reference's STATIC ``dataset.txt``
    (the reference trains on a fixed labeled file and scores the live
    stream, ConsumerESFinal.scala:54-67; it never trains on the stream).

    Closed-form features over an id grid with an interaction-heavy
    label plus deterministic flips, so the fitted depth-6 tree is
    non-trivial. SMALL ON PURPOSE (600 rows): below MLlib's 10k-row
    split-sampling threshold, continuous-split candidates come from the
    FULL sorted input — the fitted tree is a pure function of the row
    set, independent of cluster partitioning — which is what lets the
    fitted tree be compiled to SQL, pinned, and replayed by the DuckDB
    oracle (P6_TREE_PREDICT_SQL). Training on sf-dependent features
    (like m1) is partitioning-sensitive above that threshold."""
    base = (
        ((F.col("n_events") > 26) != (F.col("n_clicks") > 15))
        | ((F.col("n_purchases") > 20) & (F.col("avg_value") < 5.0))
    )
    return (
        spark.range(P6_FIXTURE_N)
        .select(
            (F.col("id") * 7 % 53).alias("n_events"),
            (F.col("id") * 11 % 31).alias("n_clicks"),
            (F.col("id") * 13 % 29).alias("n_purchases"),
            (F.col("id") * 17 % 23).alias("n_signups"),
            F.round((F.col("id") * 19 % 97) / 7.0, 2).alias("avg_value"),
            F.col("id").alias("id"),
        )
        .withColumn(
            "total_value", F.round(F.col("avg_value") * F.col("n_events"), 2)
        )
        .withColumn(
            "label",
            (base != (F.col("id") % 37 == 0)).cast("int"),
        )
        .drop("id")
    )


def tree_to_case_sql(model, feature_cols: list[str]) -> str:
    """Compile a fitted DecisionTreeClassificationModel into a nested
    ANSI CASE-WHEN expression over ``feature_cols`` (assembler input
    order == feature indices) by walking ``toDebugString`` — the public
    serialization of the fitted tree. Continuous splits only (this
    pipeline has no categorical features); thresholds are emitted via
    ``repr`` so the decimal literal round-trips to the identical double
    in any engine. The expression evaluates to the integer class
    prediction, which is what lets DuckDB replay MLlib scoring
    verbatim (the P6 oracle)."""
    import re

    lines = [
        ln for ln in model.toDebugString.splitlines()[1:] if ln.strip()
    ]

    def walk(i: int) -> tuple[str, int]:
        ln = lines[i].strip()
        if ln.startswith("Predict:"):
            return str(int(float(ln.split(":", 1)[1]))), i + 1
        m = re.fullmatch(r"If \(feature (\d+) <= (.+)\)", ln)
        if not m:
            raise ValueError(f"unsupported tree node: {ln!r}")
        cond = f"{feature_cols[int(m.group(1))]} <= {float(m.group(2))!r}"
        left, i = walk(i + 1)
        if not lines[i].strip().startswith("Else "):
            raise ValueError(f"expected Else at: {lines[i]!r}")
        right, i = walk(i + 1)
        return f"CASE WHEN {cond} THEN {left} ELSE {right} END", i

    sql, end = walk(0)
    if end != len(lines):
        raise ValueError("trailing unparsed tree lines")
    return sql


# The compiled fit over p6_training_fixture — generated by
# tree_to_case_sql, pinned here so the DuckDB oracle can replay the
# scoring without a SparkSession. scored_parity_9col re-compiles the
# LIVE fit on every run and refuses to score if it drifts from this
# constant (so would tests/test_parity.py), making an MLlib behavior
# change a loud failure instead of a silent oracle mismatch.
P6_TREE_PREDICT_SQL = (
    "CASE WHEN n_purchases <= 20.5 THEN CASE WHEN avg_value <= "
    "7.359999999999999 THEN CASE WHEN n_clicks <= 27.5 THEN CASE WHEN "
    "n_events <= 25.5 THEN CASE WHEN n_clicks <= 15.5 THEN 0 ELSE CASE "
    "WHEN total_value <= 108.2 THEN 1 ELSE 0 END END ELSE CASE WHEN "
    "n_clicks <= 15.5 THEN CASE WHEN n_events <= 27.5 THEN 0 ELSE 1 END "
    "ELSE 0 END END ELSE CASE WHEN n_events <= 22.5 THEN 1 ELSE 0 END "
    "END ELSE CASE WHEN n_clicks <= 20.5 THEN CASE WHEN n_events <= "
    "27.5 THEN CASE WHEN n_clicks <= 15.5 THEN 0 ELSE 1 END ELSE CASE "
    "WHEN n_clicks <= 15.5 THEN 1 ELSE CASE WHEN avg_value <= 12.93 "
    "THEN 0 ELSE 1 END END END ELSE CASE WHEN n_events <= 25.5 THEN "
    "CASE WHEN n_purchases <= 3.5 THEN CASE WHEN n_purchases <= 2.5 "
    "THEN 1 ELSE 0 END ELSE 1 END ELSE 0 END END END ELSE CASE WHEN "
    "avg_value <= 5.07 THEN CASE WHEN n_purchases <= 26.5 THEN 1 ELSE "
    "CASE WHEN avg_value <= 2.9299999999999997 THEN 1 ELSE CASE WHEN "
    "total_value <= 84.525 THEN CASE WHEN n_clicks <= 20.5 THEN 0 ELSE "
    "1 END ELSE 1 END END END ELSE CASE WHEN n_clicks <= 3.5 THEN CASE "
    "WHEN n_events <= 7.5 THEN 0 ELSE 1 END ELSE CASE WHEN n_clicks <= "
    "27.5 THEN CASE WHEN n_clicks <= 8.5 THEN CASE WHEN n_events <= "
    "25.5 THEN 0 ELSE 1 END ELSE CASE WHEN n_clicks <= 12.5 THEN 1 ELSE "
    "0 END END ELSE CASE WHEN n_purchases <= 23.5 THEN CASE WHEN "
    "n_signups <= 4.5 THEN 1 ELSE 0 END ELSE 1 END END END END END"
)


def with_verdict(scored: DataFrame) -> DataFrame:
    """P6 — verdict string column, exactly the reference's encoding
    (``if (prediction == 0) "Not bolt" else "Bolt"``,
    ConsumerESFinal.scala:82)."""
    return scored.withColumn(
        "bolt_user",
        F.when(F.col("prediction") == 0, F.lit("Not bolt")).otherwise(F.lit("Bolt")),
    )


def train_score_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M1+M3 — train on the labeled fixture, bulk-score it, emit
    verdicts (deterministic: fixed seed, deterministic features)."""
    data = user_activity_features(spark, sf_dir)
    model = train_decision_tree(data)
    scored = with_verdict(model.transform(data))
    return scored.select(
        "user_id", "label", F.col("prediction").cast("int").alias("prediction"), "bolt_user"
    )


def holdout_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P10+M3 — reference test harness parity (DecisionTreeTest.scala:
    37-45): seeded 70/30 randomSplit, train, bulk-predict the holdout,
    report accuracy + confusion counts."""
    data = user_activity_features(spark, sf_dir)
    train, test = data.randomSplit([0.7, 0.3], seed=SEED)
    model = train_decision_tree(train)
    scored = model.transform(test).select(
        "label", F.col("prediction").cast("int").alias("prediction")
    )
    return scored.groupBy("label", "prediction").agg(F.count("*").alias("n"))


def train_score_checked(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M1 with a bound-assertion twin (operators/sketches.py pattern):
    per-label user counts are SQL-exact (they check the whole feature/
    label derivation), and the training-accuracy flag rides along.

    The bound is sound, not empirical: a decision tree predicts the
    majority class at each leaf, so its TRAINING accuracy is >= the
    root's majority-class prior for any data — if this flag ever goes
    false, the scoring pipeline is broken (e.g. features misaligned
    with the fitted assembler), not the data unlucky.
    """
    data = user_activity_features(spark, sf_dir)
    model = train_decision_tree(data)
    scored = model.transform(data)
    per_label = scored.groupBy("label").agg(F.count("*").alias("n_users"))
    p1 = F.avg(F.col("label").cast("double"))
    flag = scored.agg(
        (
            F.avg((F.col("prediction") == F.col("label")).cast("double"))
            >= F.greatest(p1, F.lit(1.0) - p1) - F.lit(1e-9)
        ).alias("acc_ge_prior")
    )
    return per_label.crossJoin(F.broadcast(flag))


def holdout_eval_checked(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M3 with a bound-assertion twin: the total user count is
    SQL-exact; the flags assert the seeded 70/30 randomSplit is a true
    partition in sane proportions and holdout accuracy clears 0.5
    (observed 0.80-1.0 across SFs; the label prior keeps the majority
    class above half, so a sane tree cannot plausibly go below)."""
    data = user_activity_features(spark, sf_dir)
    train, test = data.randomSplit([0.7, 0.3], seed=SEED)
    model = train_decision_tree(train)
    scored = model.transform(test)
    counts = (
        train.agg(F.count("*").alias("n_train"))
        .crossJoin(
            scored.agg(
                F.count("*").alias("n_test"),
                F.avg((F.col("prediction") == F.col("label")).cast("double")).alias("acc"),
            )
        )
        .crossJoin(data.agg(F.count("*").alias("n_users_total")))
    )
    return counts.select(
        "n_users_total",
        (
            (F.col("n_train") + F.col("n_test") == F.col("n_users_total"))
            & (F.col("n_test") >= 0.15 * F.col("n_users_total"))
            & (F.col("n_test") <= 0.45 * F.col("n_users_total"))
        ).alias("split_ok"),
        (F.col("acc") >= 0.5).alias("acc_ok"),
    )


def label_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Class distribution of the derived training fixture — the
    SQL-checkable half of the ML path (the tree itself is rows-only).

    This dashboard panel reads a narrowed scan (one job);
    :func:`user_activity_features` does not, because the seeded
    ``randomSplit`` of its holdout consumers samples each partition
    with its own seed, so their split follows the features'
    partitioning.
    """
    return (
        _activity_profile(load_narrow(spark, sf_dir, "events"))
        .groupBy("label")
        .agg(F.count("*").alias("n_users"))
    )


N_FOLDS = 3


def kfold_eval_checked(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M4 — deterministic k-fold cross-validation with a bound-
    assertion twin: fold assignment is md5(user_id) % k (the
    ``fixed_k_sample`` permutation trick, NOT randomSplit), so the
    folds themselves are SQL-exact — the oracle verifies every fold's
    size and label mix, and each fold's holdout-accuracy flag rides
    along under the same >= 0.5 soundness bound as ``m3`` (majority
    prior stays above half on this fixture).

    k models train sequentially on the driver (k small); each fold's
    train set is the complement — the standard CV loop, with the fold
    hash making every engine and every rerun agree on membership.
    """
    data = user_activity_features(spark, sf_dir).withColumn(
        "fold",
        F.conv(F.substring(F.md5(F.col("user_id").cast("string")), 1, 8), 16, 10)
        .cast("bigint")
        % N_FOLDS,
    )
    data = data.localCheckpoint()  # k reuses; avoid recomputing features
    outs = []
    for k in range(N_FOLDS):
        train = data.filter(F.col("fold") != k)
        test = data.filter(F.col("fold") == k)
        model = train_decision_tree(train)
        scored = model.transform(test)
        outs.append(
            scored.agg(
                F.lit(k).cast("bigint").alias("fold"),
                F.count("*").cast("bigint").alias("n_users"),
                F.sum("label").cast("bigint").alias("n_pos"),
                (
                    F.avg((F.col("prediction") == F.col("label")).cast("double"))
                    >= 0.5
                ).alias("acc_ok"),
            )
        )
    res = outs[0]
    for o in outs[1:]:
        res = res.unionAll(o)
    return res


LOGREG_LR = 0.5
LOGREG_ITERS = 3


def logreg_gd_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user (x1, x2, y) for the SQL-exact logistic regression:
    engagement features from view/click events ONLY, label = the
    m-family's bot definition (error ratio > LABEL_ERROR_RATIO) —
    features never see the error events the label is built from."""
    events = load_table(spark, sf_dir, "events")
    return events.groupBy("user_id").agg(
        F.log1p(
            F.sum(F.col("event_type").isin("view", "click").cast("long"))
        ).alias("x1"),
        F.log1p(
            F.sum(
                F.when(
                    F.col("event_type").isin("view", "click"), F.col("value")
                ).otherwise(0.0)
            )
        ).alias("x2"),
        (
            F.sum((F.col("event_type") == "error").cast("long"))
            / F.count("*")
            > LABEL_ERROR_RATIO
        ).cast("double").alias("y"),
    )


def logreg_gd_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M5 — logistic regression trained by THREE unrolled batch
    gradient-descent steps, entirely in Catalyst: w starts at 0, each
    step aggregates the full gradient ∇ = Σ x·(y − σ(w·x))/n in one
    partial-aggregable pass and broadcasts the 1-row updated weights
    onto the next pass. The whole recurrence composes LAZILY into a
    single plan — three sequential scans of the user-grain feature
    table, zero driver-side loops (same shape as ``trade_pagerank``;
    cache the feature table when it doesn't fit the scan budget).

    Unlike the MLlib tree (``m1``, rows-only), every arithmetic step
    here is plain SQL, so the DuckDB twin replays the identical
    unrolled recurrence and the final weights hash-match — an
    ITERATIVE ML TRAINER under the exact-correctness gate. Output:
    weights (rounded 1e-4), n, and integer train-set confusion counts
    at the 0.5 threshold.
    """
    # Materialize the user-grain feature table once (optimization r11,
    # guide §5 caching): the unrolled GD recurrence references ``u``
    # in every step's lineage, so the events scan + user aggregate ran
    # LOGREG_ITERS+1 times — and the steps are strictly sequential, so
    # a checkpoint here loses no task-slot parallelism. One fact scan.
    u = logreg_gd_features(spark, sf_dir).localCheckpoint()
    lr = F.lit(LOGREG_LR)

    def sigmoid(z):
        return 1.0 / (1.0 + F.exp(-z))

    # w = (bias, w1, w2) as a 1-row DataFrame, updated per unrolled step
    w = spark.range(1).select(
        F.lit(0.0).alias("wb"), F.lit(0.0).alias("w1"), F.lit(0.0).alias("w2")
    )
    for _ in range(LOGREG_ITERS):
        z = F.col("wb") + F.col("w1") * F.col("x1") + F.col("w2") * F.col("x2")
        resid = F.col("y") - sigmoid(z)
        w = (
            u.crossJoin(F.broadcast(w))
            .agg(
                (F.first("wb") + lr * F.avg(resid)).alias("wb"),
                (F.first("w1") + lr * F.avg(resid * F.col("x1"))).alias("w1"),
                (F.first("w2") + lr * F.avg(resid * F.col("x2"))).alias("w2"),
            )
        )
    z = F.col("wb") + F.col("w1") * F.col("x1") + F.col("w2") * F.col("x2")
    pred = (sigmoid(z) >= 0.5).cast("long")
    return (
        u.crossJoin(F.broadcast(w))
        .agg(
            F.count("*").cast("bigint").alias("n_users"),
            round2(F.first("wb"), 4).alias("w_bias"),
            round2(F.first("w1"), 4).alias("w_x1"),
            round2(F.first("w2"), 4).alias("w_x2"),
            F.sum((pred * F.col("y")).cast("long")).cast("bigint").alias("tp"),
            F.sum((pred * (1 - F.col("y"))).cast("long")).cast("bigint").alias("fp"),
            F.sum(((1 - pred) * F.col("y")).cast("long")).cast("bigint").alias("fn"),
            F.sum(((1 - pred) * (1 - F.col("y"))).cast("long")).cast("bigint").alias("tn"),
        )
    )


KMEANS_K = 3
KMEANS_ITERS = 3


def kmeans_lloyd_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M7 — k-means (Lloyd) over the leak-free (x1, x2) engagement
    features: KMEANS_ITERS unrolled assign→update rounds, entirely in
    Catalyst, the third trainer under the exact-correctness gate
    (after m5 GD and m6 NB). Initialization is deterministic — the
    feature vectors of the KMEANS_K smallest user_ids — so both
    engines start identically; each round cross-joins the broadcast
    1-row centroid state onto the user-grain table, assigns by
    explicit least-index argmin (ties to the lowest cluster, the same
    CASE structure the oracle replays), and re-averages per cluster
    with a conditional aggregate that stays ONE row wide (empty
    cluster keeps its previous centroid via coalesce). The whole
    recurrence composes lazily into one plan: K·ITERS conditional
    aggregates over KMEANS_ITERS + 1 scans of the user-grain table,
    zero driver loops — the same aggregate-then-iterate shape as
    ``trade_pagerank``/``m5`` (reference has no clustering at all;
    the analytics mandate is SURVEY.md §2.10's "beyond reference"
    family).

    Output: n_users, per-cluster sizes, final centroids (rounded
    1e-4), and total inertia (rounded 1e-2) — all hash-checked
    against the DuckDB replay of the identical unrolled recurrence.
    """
    from pyspark.sql import Window

    k = KMEANS_K
    # Same materialization as m5 (optimization r11): the KMEANS_ITERS+1
    # sequential scans of the user-grain feature table collapse to one
    # events pass + KB-scale re-reads.
    u = (
        logreg_gd_features(spark, sf_dir)
        .select("user_id", "x1", "x2")
        .localCheckpoint()
    )
    # deterministic init: k smallest user_ids, pivoted to one row
    # (k-row sort + window — bounded, not a corpus sort: limit(k)
    # plans as TakeOrderedAndProject)
    seeds = (
        u.orderBy("user_id")
        .limit(k)
        .withColumn("rn", F.row_number().over(Window.orderBy("user_id")))
    )
    c = seeds.agg(
        *[
            F.max(F.when(F.col("rn") == i + 1, F.col(f))).alias(
                f"c{'x' if f == 'x1' else 'y'}{i}"
            )
            for i in range(k)
            for f in ("x1", "x2")
        ]
    )

    def dists():
        return [
            (F.col("x1") - F.col(f"cx{i}")) * (F.col("x1") - F.col(f"cx{i}"))
            + (F.col("x2") - F.col(f"cy{i}")) * (F.col("x2") - F.col(f"cy{i}"))
            for i in range(k)
        ]

    def assign(d):
        # least-index argmin, k=3: ties go to the lowest cluster —
        # mirrors the oracle's CASE verbatim
        return (
            F.when((d[0] <= d[1]) & (d[0] <= d[2]), 0)
            .when(d[1] <= d[2], 1)
            .otherwise(2)
        )

    for _ in range(KMEANS_ITERS):
        d = dists()
        joined = u.crossJoin(F.broadcast(c)).withColumn("cl", assign(d))
        c = joined.agg(
            *[
                expr
                for i in range(k)
                for expr in (
                    F.coalesce(
                        F.avg(F.when(F.col("cl") == i, F.col("x1"))),
                        F.first(f"cx{i}"),
                    ).alias(f"cx{i}"),
                    F.coalesce(
                        F.avg(F.when(F.col("cl") == i, F.col("x2"))),
                        F.first(f"cy{i}"),
                    ).alias(f"cy{i}"),
                )
            ]
        )
    d = dists()
    final = (
        u.crossJoin(F.broadcast(c))
        .withColumn("cl", assign(d))
        .withColumn("best", F.least(*d))
    )
    return final.agg(
        F.count("*").cast("bigint").alias("n_users"),
        *[
            F.sum((F.col("cl") == i).cast("long")).cast("bigint").alias(f"n_c{i}")
            for i in range(k)
        ],
        *[
            expr
            for i in range(k)
            for expr in (
                round2(F.first(f"cx{i}"), 4).alias(f"cx{i}"),
                round2(F.first(f"cy{i}"), 4).alias(f"cy{i}"),
            )
        ],
        round2(F.sum("best"), 2).alias("inertia"),
    )


NB_VAR_EPS = 1e-6


def gaussian_nb_train_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M6 — Gaussian Naive Bayes on the same leak-free feature pair
    as ``m5_logreg_gd``: per-class feature means/variances + class
    priors from ONE grouped aggregate, then a broadcast scoring pass
    computing the class log-posteriors row-side. The second trainer
    under the exact-correctness gate — unlike GD there is no
    iteration at all: training IS a partial-aggregable aggregate, the
    canonical "ML as a GROUP BY" shape that needs no driver loop at
    any scale.

    Scoring compares ln P(c) − Σ_f [ln σ_cf + (x_f−μ_cf)²/(2σ_cf²)]
    across the two classes (shared constants dropped). Output: per
    class the learned parameters (rounded 1e-4) and integer confusion
    counts at the argmax decision — both hash-checked against the
    replayed SQL.
    """
    u = logreg_gd_features(spark, sf_dir)
    # variance smoothing (sklearn's var_smoothing idea, fixed eps):
    # a singleton class has var_samp = NULL and a constant feature has
    # 0 — both poison the log-likelihood; floor at NB_VAR_EPS on BOTH
    # engines
    smooth = lambda c: F.greatest(F.coalesce(c, F.lit(0.0)), F.lit(NB_VAR_EPS))
    params = u.groupBy("y").agg(
        F.count("*").alias("n"),
        F.avg("x1").alias("m1"),
        smooth(F.var_samp("x1")).alias("v1"),
        F.avg("x2").alias("m2"),
        smooth(F.var_samp("x2")).alias("v2"),
    )
    pos = F.col("y") == 1.0
    p = params.agg(
        F.sum("n").alias("n_all"),
        F.max(F.when(pos, F.col("n"))).alias("n_p"),
        F.max(F.when(pos, F.col("m1"))).alias("m1_p"),
        F.max(F.when(pos, F.col("v1"))).alias("v1_p"),
        F.max(F.when(pos, F.col("m2"))).alias("m2_p"),
        F.max(F.when(pos, F.col("v2"))).alias("v2_p"),
        F.max(F.when(~pos, F.col("n"))).alias("n_n"),
        F.max(F.when(~pos, F.col("m1"))).alias("m1_n"),
        F.max(F.when(~pos, F.col("v1"))).alias("v1_n"),
        F.max(F.when(~pos, F.col("m2"))).alias("m2_n"),
        F.max(F.when(~pos, F.col("v2"))).alias("v2_n"),
    )

    def loglik(prior_n, m1, v1, m2, v2):
        return (
            F.log(F.col(prior_n) / F.col("n_all"))
            - 0.5 * F.log(F.col(v1))
            - (F.col("x1") - F.col(m1)) * (F.col("x1") - F.col(m1))
            / (2 * F.col(v1))
            - 0.5 * F.log(F.col(v2))
            - (F.col("x2") - F.col(m2)) * (F.col("x2") - F.col(m2))
            / (2 * F.col(v2))
        )

    ll_p = loglik("n_p", "m1_p", "v1_p", "m2_p", "v2_p")
    ll_n = loglik("n_n", "m1_n", "v1_n", "m2_n", "v2_n")
    pred = (ll_p > ll_n).cast("long")
    scored = u.crossJoin(F.broadcast(p))
    return scored.agg(
        F.count("*").cast("bigint").alias("n_users"),
        round2(F.first("m1_p"), 4).alias("mean_x1_bot"),
        round2(F.first("v1_p"), 4).alias("var_x1_bot"),
        round2(F.first("m1_n"), 4).alias("mean_x1_ok"),
        round2(F.first("v1_n"), 4).alias("var_x1_ok"),
        F.sum((pred * F.col("y")).cast("long")).cast("bigint").alias("tp"),
        F.sum((pred * (1 - F.col("y"))).cast("long")).cast("bigint").alias("fp"),
        F.sum(((1 - pred) * F.col("y")).cast("long")).cast("bigint").alias("fn"),
        F.sum(((1 - pred) * (1 - F.col("y"))).cast("long")).cast("bigint").alias("tn"),
    )


# --- M8: ridge regression by closed-form normal equations ------------

RIDGE_LAMBDA = 0.001
RIDGE_PROBE_QTY = 25.0
RIDGE_PROBE_DISC = 0.05

# Cramer's rule on the symmetric 3x3 normal matrix A = X'X/n + λI over
# (1, x1, x2) with right side b = X'y/n. The SAME formula strings are
# evaluated by Spark (F.expr) and interpolated into the DuckDB oracle
# (queries_ml.py), so there is no hand-transcription seam between the
# two engines — both compute bit-identical arithmetic from their own
# (summation-order-differing) averages, and the final 1e-4 rounding
# absorbs the ulp-level divergence exactly as in m5/m6/m7.
_L = f"{RIDGE_LAMBDA!r}"
RIDGE_DET = (
    f"(1+{_L})*((s11+{_L})*(s22+{_L}) - s12*s12)"
    f" - m1*(m1*(s22+{_L}) - s12*m2) + m2*(m1*s12 - (s11+{_L})*m2)"
)
RIDGE_DET0 = (
    f"my*((s11+{_L})*(s22+{_L}) - s12*s12)"
    f" - m1*(s1y*(s22+{_L}) - s12*s2y) + m2*(s1y*s12 - (s11+{_L})*s2y)"
)
RIDGE_DET1 = (
    f"(1+{_L})*(s1y*(s22+{_L}) - s12*s2y)"
    f" - my*(m1*(s22+{_L}) - s12*m2) + m2*(m1*s2y - s1y*m2)"
)
RIDGE_DET2 = (
    f"(1+{_L})*((s11+{_L})*s2y - s1y*s12)"
    f" - m1*(m1*s2y - s1y*m2) + my*(m1*s12 - (s11+{_L})*m2)"
)


def ridge_normal_eq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M8 — ridge linear regression fit in ONE aggregate pass: the
    normal matrix needs only nine algebraic moments of
    (l_quantity, l_discount, l_extendedprice), all partial-aggregable
    map-side, then Cramer's rule solves the regularized 3x3 system in
    1-row column arithmetic. The whole trainer is a single scan with
    one partial-agg combine — no iteration, no shuffle of data rows,
    no driver math — the canonical "ML as an aggregate" shape that
    survives any scale the scan survives.

    λ is added to the full diagonal (intercept included) — a
    simplification over the don't-penalize-intercept convention,
    stated here because the oracle replays the identical system.
    Output: n_rows, coefficients (rounded 1e-4), and the predicted
    price at a fixed probe point (rounded 1e-2), all hash-checked
    against the DuckDB twin that interpolates the same formula
    strings (reference scope note: the reference's only model is the
    MLlib decision tree, ConsumerESFinal.scala:61-67; regression is
    north-star surface).
    """
    li = load_table(spark, sf_dir, "lineitem")
    q, d, y = F.col("l_quantity"), F.col("l_discount"), F.col("l_extendedprice")
    m = li.agg(
        F.count("*").cast("bigint").alias("n_rows"),
        F.avg(q).alias("m1"),
        F.avg(d).alias("m2"),
        F.avg(y).alias("my"),
        F.avg(q * q).alias("s11"),
        F.avg(q * d).alias("s12"),
        F.avg(d * d).alias("s22"),
        F.avg(q * y).alias("s1y"),
        F.avg(d * y).alias("s2y"),
    )
    solved = m.select(
        "n_rows",
        (F.expr(RIDGE_DET0) / F.expr(RIDGE_DET)).alias("b0"),
        (F.expr(RIDGE_DET1) / F.expr(RIDGE_DET)).alias("b1"),
        (F.expr(RIDGE_DET2) / F.expr(RIDGE_DET)).alias("b2"),
    )
    return solved.select(
        "n_rows",
        round2("b0", 4).alias("b_intercept"),
        round2("b1", 4).alias("b_quantity"),
        round2("b2", 4).alias("b_discount"),
        round2(
            F.col("b0")
            + F.col("b1") * F.lit(RIDGE_PROBE_QTY)
            + F.col("b2") * F.lit(RIDGE_PROBE_DISC),
            2,
        ).alias("pred_probe_price"),
    )


# --- K-fold target encoding -------------------------------------------

TE_FOLDS = 5
TE_SMOOTH = 10.0


def target_encode_kfold(spark: SparkSession, sf_dir: str) -> DataFrame:
    """m9 — leakage-safe K-fold target encoding of the customer market
    segment against a binary "above-mean order value" label: each
    row's encoding uses the label mean of its category computed on the
    OTHER folds only, smoothed toward the out-of-fold global prior
    (enc = (S_out + m*prior) / (N_out + m), m = TE_SMOOTH). The
    standard trick for feeding high-cardinality categoricals to
    gradient models without target leakage — a first-class
    training-data-prep operator.

    Fold assignment is the shared deterministic md5 bucket
    (``text.md5_bucket``), so membership is stable across runs and
    engines — no randomSplit reshuffle, same property as the corpus
    hash split.

    Scale shape: one fact-dim equi-join, one 1-row global-mean
    broadcast to define the label, then ONE grouped aggregate to
    (segment, fold) grain; all K-fold complement arithmetic
    (S_all - S_fold, N_all - N_fold, the global prior) runs on that
    segments*K-row frame via windows — metadata scale. The naive
    per-fold union-of-K-trainings plan (K passes over facts) is
    exactly what this shape avoids.

    Determinism: counts/sums of integer labels are exact; the only
    float math is the final smoothed ratio, rounded at 1e-6.
    """
    from .text import md5_bucket

    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    j = orders.join(cust, orders.o_custkey == cust.c_custkey).select(
        F.col("c_mktsegment").alias("segment"),
        "o_orderkey",
        "o_totalprice",
    )
    gm = j.agg(F.avg("o_totalprice").alias("gm"))
    lab = j.crossJoin(F.broadcast(gm)).select(
        "segment",
        (F.col("o_totalprice") > F.col("gm")).cast("bigint").alias("y"),
        md5_bucket("o_orderkey", TE_FOLDS).alias("fold"),
    )
    per = lab.groupBy("segment", "fold").agg(
        F.count("*").alias("n_fold"), F.sum("y").alias("s_fold")
    )
    from pyspark.sql import Window

    w_seg = Window.partitionBy("segment")
    w_fld = Window.partitionBy("fold")
    w_all = Window.partitionBy()
    t = (
        per.withColumn("n_seg", F.sum("n_fold").over(w_seg))
        .withColumn("s_seg", F.sum("s_fold").over(w_seg))
        .withColumn("n_f", F.sum("n_fold").over(w_fld))
        .withColumn("s_f", F.sum("s_fold").over(w_fld))
        .withColumn("n_tot", F.sum("n_fold").over(w_all))
        .withColumn("s_tot", F.sum("s_fold").over(w_all))
    )
    # prior excludes the ENTIRE fold (all segments' rows in it), not
    # just this segment's slice — the leakage-free definition
    prior = (F.col("s_tot") - F.col("s_f")) / (F.col("n_tot") - F.col("n_f"))
    enc = (
        (F.col("s_seg") - F.col("s_fold")) + F.lit(TE_SMOOTH) * prior
    ) / ((F.col("n_seg") - F.col("n_fold")) + F.lit(TE_SMOOTH))
    return t.select(
        "segment",
        "fold",
        F.col("n_fold").alias("n_in_fold"),
        (F.col("n_seg") - F.col("n_fold")).alias("n_out_fold"),
        round2(prior, 6).alias("prior_oof"),
        round2(enc, 6).alias("enc"),
    )


# --- split-conformal prediction intervals -------------------------------

CONF_ALPHA = 0.1
CONF_TRAIN_PCT = 70  # md5 bucket < 70 -> train
CONF_CAL_PCT = 85  # 70..84 -> calibration, >= 85 -> test
CONF_RES_BUCKET = 1000.0  # cents-rounded |residual| prefix-sum bucket


def conformal_interval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """m10 — split-conformal prediction intervals (Papadopoulos 2002 /
    Vovk) around the m8 ridge price model: rows hash-split into
    train / calibration / test; the ridge fit (SAME Cramer formula
    strings as ``ridge_normal_eq``, trained on the train split only)
    predicts price; q_hat is the ceil((n_cal+1)(1-alpha))-th smallest
    calibration |residual|; the released interval pred ± q_hat then
    carries the distribution-free >= 1-alpha finite-sample coverage
    guarantee, audited here on the held-out test split. THE
    model-agnostic uncertainty wrapper — the operator any prediction
    service needs before shipping intervals.

    Scale shape: the trainer is one partial-aggregable moment pass
    over train rows; the calibration order statistic is EXACT without
    any global sort — the same two-phase bucketed prefix sum as
    ``gini_topshare_revenue`` over cents-rounded residual values; the
    coverage audit is one aggregate over test rows with the 1-row
    (coefficients, q_hat) broadcast. Three fact passes total, no
    single-partition stage.

    Determinism: the splits are the shared md5 gate; residuals are
    round2-ed to cents BEFORE the order statistic, so ulp noise in the
    fitted coefficients cannot reorder the calibration ranking; the
    selected q_hat is a cents-exact value on both engines.
    """
    li = load_table(spark, sf_dir, "lineitem")
    q, d, y = F.col("l_quantity"), F.col("l_discount"), F.col("l_extendedprice")
    key = F.concat_ws("-", F.col("l_orderkey"), F.col("l_linenumber"))
    bucket = (
        F.conv(F.substring(F.md5(key), 1, 8), 16, 10).cast("bigint") % 100
    )
    rows = li.select(
        q.alias("x1"), d.alias("x2"), y.alias("y"), bucket.alias("bkt")
    )
    m = rows.filter(F.col("bkt") < CONF_TRAIN_PCT).agg(
        F.count("*").cast("bigint").alias("n_train"),
        F.avg("x1").alias("m1"),
        F.avg("x2").alias("m2"),
        F.avg("y").alias("my"),
        F.avg(F.col("x1") * F.col("x1")).alias("s11"),
        F.avg(F.col("x1") * F.col("x2")).alias("s12"),
        F.avg(F.col("x2") * F.col("x2")).alias("s22"),
        F.avg(F.col("x1") * F.col("y")).alias("s1y"),
        F.avg(F.col("x2") * F.col("y")).alias("s2y"),
    )
    coef = m.select(
        "n_train",
        (F.expr(RIDGE_DET0) / F.expr(RIDGE_DET)).alias("b0"),
        (F.expr(RIDGE_DET1) / F.expr(RIDGE_DET)).alias("b1"),
        (F.expr(RIDGE_DET2) / F.expr(RIDGE_DET)).alias("b2"),
    )
    resid = round2(
        F.abs(
            F.col("y")
            - (
                F.col("b0")
                + F.col("b1") * F.col("x1")
                + F.col("b2") * F.col("x2")
            )
        ),
        2,
    )
    cal = (
        rows.filter(
            (F.col("bkt") >= CONF_TRAIN_PCT) & (F.col("bkt") < CONF_CAL_PCT)
        )
        .crossJoin(F.broadcast(coef))
        .select(resid.alias("r"))
    )
    per_value = cal.groupBy("r").agg(F.count("*").alias("cnt"))
    pv = per_value.withColumn("bu", F.floor(F.col("r") / CONF_RES_BUCKET))
    w_local = Window.partitionBy("bu").orderBy("r").rowsBetween(
        Window.unboundedPreceding, -1
    )
    local = pv.select(
        "bu",
        "r",
        "cnt",
        F.coalesce(F.sum("cnt").over(w_local), F.lit(0)).alias("lc"),
    )
    w_prior = Window.orderBy("bu").rowsBetween(Window.unboundedPreceding, -1)
    offsets = (
        pv.groupBy("bu")
        .agg(F.sum("cnt").alias("bn"))
        .select(
            "bu",
            F.coalesce(F.sum("bn").over(w_prior), F.lit(0)).alias("oc"),
        )
    )
    cum = local.join(F.broadcast(offsets), "bu").select(
        "r", "cnt", (F.col("lc") + F.col("oc")).alias("cn_excl")
    )
    ncal = per_value.agg(F.sum("cnt").cast("bigint").alias("n_cal"))
    qhat = (
        cum.crossJoin(F.broadcast(ncal))
        .withColumn(
            "k",
            F.ceil((F.col("n_cal") + 1) * F.lit(1.0 - CONF_ALPHA)).cast(
                "bigint"
            ),
        )
        .filter(
            (F.col("cn_excl") < F.col("k"))
            & (F.col("cn_excl") + F.col("cnt") >= F.col("k"))
        )
        .select("n_cal", "k", F.col("r").alias("q_hat"))
    )
    test = (
        rows.filter(F.col("bkt") >= CONF_CAL_PCT)
        .crossJoin(F.broadcast(coef))
        .crossJoin(F.broadcast(qhat))
        .select(
            "n_train",
            "n_cal",
            "k",
            "q_hat",
            (resid <= F.col("q_hat")).cast("bigint").alias("cov"),
        )
    )
    return test.groupBy("n_train", "n_cal", "k", "q_hat").agg(
        F.count("*").cast("bigint").alias("n_test"),
        round2(F.avg("cov"), 6).alias("coverage"),
    ).select(
        "n_train",
        "n_cal",
        "n_test",
        "k",
        round2("q_hat", 2).alias("q_hat"),
        "coverage",
        F.lit(CONF_ALPHA).alias("alpha"),
    )


# --- ROC-AUC for the logistic classifier --------------------------------

AUC_Z_BUCKET = 0.25  # rounded-score prefix-sum bucket width


def logreg_auc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """m11 — exact ROC-AUC of the m5 logistic scores via the
    Mann-Whitney rank-sum identity AUC = (R_pos - n1(n1+1)/2)/(n1*n0)
    with tie-corrected midranks. The threshold-free companion to m5's
    0.5-threshold confusion counts — the metric that actually ranks
    classifiers — plus the accuracy-equivalent Gini index 2*AUC-1.

    AUC is invariant under monotone transforms, so ranking happens on
    the LINEAR score z = wb + w1*x1 + w2*x2 (no sigmoid), rounded at
    1e-6 on both engines BEFORE ranking so float ulps cannot reorder
    near-ties. Midranks come from the same two-phase bucketed prefix
    sum as ``mann_whitney``/``spearman`` — value-grain, no
    single-partition window over users.

    The weight recurrence is m5's exact unrolled plan (same 1-row
    broadcasts); the DuckDB twin replays it with the identical i1-i3
    CTEs and the identical rank arithmetic.
    """
    # Materialize the user-grain feature table once (optimization r11,
    # guide §5 caching): the unrolled GD recurrence references ``u``
    # in every step's lineage, so the events scan + user aggregate ran
    # LOGREG_ITERS+1 times — and the steps are strictly sequential, so
    # a checkpoint here loses no task-slot parallelism. One fact scan.
    u = logreg_gd_features(spark, sf_dir).localCheckpoint()
    lr = F.lit(LOGREG_LR)

    def sigmoid(z):
        return 1.0 / (1.0 + F.exp(-z))

    w = spark.range(1).select(
        F.lit(0.0).alias("wb"), F.lit(0.0).alias("w1"), F.lit(0.0).alias("w2")
    )
    for _ in range(LOGREG_ITERS):
        z = F.col("wb") + F.col("w1") * F.col("x1") + F.col("w2") * F.col("x2")
        resid = F.col("y") - sigmoid(z)
        w = u.crossJoin(F.broadcast(w)).agg(
            (F.first("wb") + lr * F.avg(resid)).alias("wb"),
            (F.first("w1") + lr * F.avg(resid * F.col("x1"))).alias("w1"),
            (F.first("w2") + lr * F.avg(resid * F.col("x2"))).alias("w2"),
        )
    z = F.col("wb") + F.col("w1") * F.col("x1") + F.col("w2") * F.col("x2")
    scored = u.crossJoin(F.broadcast(w)).select(
        round2(z, 6).alias("z"), F.col("y").cast("double").alias("y")
    )
    per_value = scored.groupBy("z").agg(
        F.count("*").alias("cnt"), F.sum("y").alias("pos")
    )
    pv = per_value.withColumn("bu", F.floor(F.col("z") / AUC_Z_BUCKET))
    w_local = Window.partitionBy("bu").orderBy("z").rowsBetween(
        Window.unboundedPreceding, -1
    )
    local = pv.select(
        "bu",
        "z",
        "cnt",
        "pos",
        F.coalesce(F.sum("cnt").over(w_local), F.lit(0)).alias("lc"),
    )
    w_prior = Window.orderBy("bu").rowsBetween(Window.unboundedPreceding, -1)
    offsets = (
        pv.groupBy("bu")
        .agg(F.sum("cnt").alias("bn"))
        .select(
            "bu", F.coalesce(F.sum("bn").over(w_prior), F.lit(0)).alias("oc")
        )
    )
    cum = local.join(F.broadcast(offsets), "bu").select(
        "cnt", "pos", (F.col("lc") + F.col("oc")).alias("below")
    )
    # sum over positives of midrank = below + (cnt + 1)/2
    agg = cum.agg(
        F.sum(
            F.col("pos") * (F.col("below") + (F.col("cnt") + 1) / F.lit(2.0))
        ).alias("rankpos"),
        F.sum("pos").alias("n1"),
        F.sum("cnt").alias("n"),
    )
    return agg.select(
        F.col("n1").cast("bigint").alias("n_pos"),
        (F.col("n") - F.col("n1")).cast("bigint").alias("n_neg"),
        round2(
            (F.col("rankpos") - F.col("n1") * (F.col("n1") + 1) / F.lit(2.0))
            / (F.col("n1") * (F.col("n") - F.col("n1"))),
            6,
        ).alias("auc"),
        round2(
            F.lit(2.0)
            * (F.col("rankpos") - F.col("n1") * (F.col("n1") + 1) / F.lit(2.0))
            / (F.col("n1") * (F.col("n") - F.col("n1")))
            - F.lit(1.0),
            6,
        ).alias("gini_index"),
    )


# --- AdaBoost with decision stumps ---------------------------------------

ADA_THRESHOLDS = tuple(x / 2.0 for x in range(1, 16))  # 0.5 .. 7.5
ADA_EPS = 1e-6  # error clamp inside the alpha log


def _ada_cands(spark: SparkSession) -> DataFrame:
    """The 60-candidate stump grid (feature x threshold x polarity)
    with a deterministic candidate id — bounded metadata, broadcast."""
    rows = []
    cid = 0
    for f in (1, 2):
        for t in ADA_THRESHOLDS:
            for p in (1, -1):
                cid += 1
                rows.append((cid, f, float(t), p))
    return spark.createDataFrame(
        rows, "cand_id INT, f INT, t DOUBLE, p INT"
    )


def adaboost_stumps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """m12 — AdaBoost.M1 (Freund & Schapire 1997) with TWO decision
    stumps over the leak-free engagement features, entirely in
    Catalyst and hash-exact against the DuckDB replay — the boosting
    member of the exact-trainer family (m5 GD, m6 NB, m7 k-means,
    m8 ridge). Round 1 scores every stump in the fixed
    feature x threshold x polarity grid under uniform weights
    (error = plain mismatch rate — exact rationals); round 2
    reweights by exp(-alpha*y*h1), renormalizes, rescores the grid,
    and the output row carries both chosen stumps, their alphas, and
    the 2-stump ensemble's training accuracy.

    Execution shape: each round is ONE pass over the user-grain
    feature table exploded by the 60-candidate broadcast grid
    (per-candidate partial aggregation — the level-wise histogram
    trick tree learners use), then a 1-row argmin broadcast into the
    next round. No driver loops; the recurrence composes lazily like
    m5/m7.

    Determinism: round-1 errors are exact counts/n; round-2 errors
    are rounded at 1e-9 BEFORE the (error, cand_id) argmin; the alpha
    log is clamped identically on both engines; the final ensemble
    vote uses >= 0 so a zero margin breaks identically.
    """
    u = logreg_gd_features(spark, sf_dir).select(
        "x1", "x2", (2 * F.col("y") - 1).cast("double").alias("s")
    )
    cands = F.broadcast(_ada_cands(spark))

    def h(f, t, p, x1="x1", x2="x2"):
        fv = F.when(F.col(f) == 1, F.col(x1)).otherwise(F.col(x2))
        return F.when(fv > F.col(t), F.col(p).cast("double")).otherwise(
            -F.col(p).cast("double")
        )

    def clamp(e):
        return F.greatest(F.least(e, F.lit(1 - ADA_EPS)), F.lit(ADA_EPS))

    def alpha(e):
        return 0.5 * F.log((1 - clamp(e)) / clamp(e))

    r1 = (
        u.crossJoin(cands)
        .groupBy("cand_id", "f", "t", "p")
        .agg(
            F.avg(
                (h("f", "t", "p") != F.col("s")).cast("double")
            ).alias("err")
        )
    )
    best1 = (
        r1.orderBy(F.round("err", 9), F.asc("cand_id"))
        .limit(1)
        .select(
            F.col("cand_id").alias("c1"),
            F.col("f").alias("f1"),
            F.col("t").alias("t1"),
            F.col("p").alias("p1"),
            F.col("err").alias("e1"),
            alpha(F.col("err")).alias("a1"),
        )
    )
    wts = u.crossJoin(F.broadcast(best1)).withColumn(
        "uw",
        F.exp(-F.col("a1") * F.col("s") * h("f1", "t1", "p1")),
    )
    z = wts.agg(F.sum("uw").alias("z"))
    w2 = wts.crossJoin(F.broadcast(z)).withColumn(
        "w", F.col("uw") / F.col("z")
    )
    r2 = (
        w2.crossJoin(cands)
        .groupBy("cand_id", "f", "t", "p")
        .agg(
            F.sum(
                F.col("w") * (h("f", "t", "p") != F.col("s")).cast("double")
            ).alias("err")
        )
    )
    best2 = (
        r2.orderBy(F.round("err", 9), F.asc("cand_id"))
        .limit(1)
        .select(
            F.col("cand_id").alias("c2"),
            F.col("f").alias("f2"),
            F.col("t").alias("t2"),
            F.col("p").alias("p2"),
            F.col("err").alias("e2"),
            alpha(F.col("err")).alias("a2"),
        )
    )
    scored = u.crossJoin(F.broadcast(best1)).crossJoin(F.broadcast(best2))
    margin = F.col("a1") * h("f1", "t1", "p1") + F.col("a2") * h(
        "f2", "t2", "p2"
    )
    vote = F.when(margin >= 0, F.lit(1.0)).otherwise(F.lit(-1.0))
    return scored.groupBy(
        "f1", "t1", "p1", "f2", "t2", "p2"
    ).agg(
        F.count("*").cast("bigint").alias("n_users"),
        round2(F.first("e1"), 6).alias("err1"),
        round2(F.first("a1"), 6).alias("alpha1"),
        round2(F.first("e2"), 6).alias("err2"),
        round2(F.first("a2"), 6).alias("alpha2"),
        round2(F.avg((vote == F.col("s")).cast("double")), 6).alias(
            "train_acc"
        ),
    ).select(
        "n_users",
        F.col("f1").cast("bigint").alias("f1"),
        round2("t1", 2).alias("t1"),
        F.col("p1").cast("bigint").alias("p1"),
        "err1",
        "alpha1",
        F.col("f2").cast("bigint").alias("f2"),
        round2("t2", 2).alias("t2"),
        F.col("p2").cast("bigint").alias("p2"),
        "err2",
        "alpha2",
        "train_acc",
    )


# --- probability calibration ---------------------------------------------

CALIB_BINS = 10


def calibration_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """m13 — reliability diagram + expected calibration error for the
    m5 logistic scores: predictions bucketed into CALIB_BINS
    equal-width probability bins, each bin reporting mean predicted
    probability vs observed positive rate, with the |gap|-weighted
    ECE repeated on every row. The third leg of the classifier eval
    suite (confusion m5, ranking m11, calibration here): a model can
    have great AUC and still lie about its confidence — ECE is what
    says whether 0.8 means 80%.

    Scale shape: one scoring pass (m5's exact unrolled weights via
    the same 1-row broadcasts), a CALIB_BINS-row grouped aggregate,
    and windows over those rows for the ECE — metadata scale after
    the scan.

    Determinism: the predicted probability is rounded at 1e-6 BEFORE
    binning (the importance-weights discipline) so summation-order
    ulps cannot flip a bin; everything after is exact counts and
    <=10-term sums rounded at output.
    """
    # Materialize the user-grain feature table once (optimization r11,
    # guide §5 caching): the unrolled GD recurrence references ``u``
    # in every step's lineage, so the events scan + user aggregate ran
    # LOGREG_ITERS+1 times — and the steps are strictly sequential, so
    # a checkpoint here loses no task-slot parallelism. One fact scan.
    u = logreg_gd_features(spark, sf_dir).localCheckpoint()
    lr = F.lit(LOGREG_LR)

    def sigmoid(z):
        return 1.0 / (1.0 + F.exp(-z))

    w = spark.range(1).select(
        F.lit(0.0).alias("wb"), F.lit(0.0).alias("w1"), F.lit(0.0).alias("w2")
    )
    for _ in range(LOGREG_ITERS):
        z = F.col("wb") + F.col("w1") * F.col("x1") + F.col("w2") * F.col("x2")
        resid = F.col("y") - sigmoid(z)
        w = u.crossJoin(F.broadcast(w)).agg(
            (F.first("wb") + lr * F.avg(resid)).alias("wb"),
            (F.first("w1") + lr * F.avg(resid * F.col("x1"))).alias("w1"),
            (F.first("w2") + lr * F.avg(resid * F.col("x2"))).alias("w2"),
        )
    z = F.col("wb") + F.col("w1") * F.col("x1") + F.col("w2") * F.col("x2")
    scored = u.crossJoin(F.broadcast(w)).select(
        round2(sigmoid(z), 6).alias("prob"),
        F.col("y").cast("double").alias("y"),
    )
    binned = scored.withColumn(
        "bin",
        F.least(
            F.floor(F.col("prob") * CALIB_BINS),
            F.lit(CALIB_BINS - 1),
        ).cast("bigint"),
    )
    g = binned.groupBy("bin").agg(
        F.count("*").alias("n"),
        F.avg("prob").alias("mean_prob_raw"),
        F.avg("y").alias("pos_rate_raw"),
    )
    win = Window.partitionBy()
    gap = F.abs(F.col("mean_prob_raw") - F.col("pos_rate_raw"))
    return g.withColumn("n_total", F.sum("n").over(win)).select(
        "bin",
        F.col("n").cast("bigint").alias("n"),
        round2("mean_prob_raw", 6).alias("mean_prob"),
        round2("pos_rate_raw", 6).alias("pos_rate"),
        round2(gap, 6).alias("calib_gap"),
        round2(
            F.sum(gap * F.col("n") / F.col("n_total")).over(win), 6
        ).alias("ece"),
    )


def cohens_kappa(spark: SparkSession, sf_dir: str) -> DataFrame:
    """m14 — Cohen's kappa between the m5 logistic predictions (0.5
    threshold) and the true bot label: chance-corrected agreement
    kappa = (p_o - p_e) / (1 - p_e), with p_e from the marginal rates.
    On an imbalanced label raw accuracy flatters any
    majority-class-ish model — kappa is the honest agreement number,
    closing the eval suite (confusion m5 / ranking m11 / calibration
    m13 / chance-corrected agreement here).

    Scale shape: the m5 scoring pass, then ONE aggregate producing
    the four confusion cells; kappa is 1-row arithmetic.
    """
    # Materialize the user-grain feature table once (optimization r11,
    # guide §5 caching): the unrolled GD recurrence references ``u``
    # in every step's lineage, so the events scan + user aggregate ran
    # LOGREG_ITERS+1 times — and the steps are strictly sequential, so
    # a checkpoint here loses no task-slot parallelism. One fact scan.
    u = logreg_gd_features(spark, sf_dir).localCheckpoint()
    lr = F.lit(LOGREG_LR)

    def sigmoid(z):
        return 1.0 / (1.0 + F.exp(-z))

    w = spark.range(1).select(
        F.lit(0.0).alias("wb"), F.lit(0.0).alias("w1"), F.lit(0.0).alias("w2")
    )
    for _ in range(LOGREG_ITERS):
        z = F.col("wb") + F.col("w1") * F.col("x1") + F.col("w2") * F.col("x2")
        resid = F.col("y") - sigmoid(z)
        w = u.crossJoin(F.broadcast(w)).agg(
            (F.first("wb") + lr * F.avg(resid)).alias("wb"),
            (F.first("w1") + lr * F.avg(resid * F.col("x1"))).alias("w1"),
            (F.first("w2") + lr * F.avg(resid * F.col("x2"))).alias("w2"),
        )
    z = F.col("wb") + F.col("w1") * F.col("x1") + F.col("w2") * F.col("x2")
    pred = (sigmoid(z) >= 0.5).cast("long")
    cells = u.crossJoin(F.broadcast(w)).agg(
        F.count("*").alias("n"),
        F.sum((pred * F.col("y")).cast("long")).alias("tp"),
        F.sum((pred * (1 - F.col("y"))).cast("long")).alias("fp"),
        F.sum(((1 - pred) * F.col("y")).cast("long")).alias("fn"),
        F.sum(((1 - pred) * (1 - F.col("y"))).cast("long")).alias("tn"),
    )
    po = (F.col("tp") + F.col("tn")) / F.col("n")
    pe = (
        (F.col("tp") + F.col("fp")) * (F.col("tp") + F.col("fn"))
        + (F.col("fn") + F.col("tn")) * (F.col("fp") + F.col("tn"))
    ) / (F.col("n") * F.col("n"))
    return cells.select(
        F.col("n").cast("bigint").alias("n_users"),
        round2(po, 6).alias("observed_agreement"),
        round2(pe, 6).alias("chance_agreement"),
        round2((po - pe) / (1 - pe), 6).alias("kappa"),
    )
