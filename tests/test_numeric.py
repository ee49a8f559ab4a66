"""Cross-engine rounding: round2 must be bit-identical to DuckDB's
round(double, s) — the invariant every oracle hash match rests on."""

from __future__ import annotations

import duckdb
import numpy as np
import pandas as pd
from pyspark.sql import functions as F

from real_time_big_data_analytics_spark.functions.numeric import round2, round_half_up

# Exact-tie values where Spark's BigDecimal HALF_UP and C-style binary
# rounding disagree, plus sign/magnitude edges.
ADVERSARIAL = [
    0.53875,
    -0.53875,
    2.675,
    -2.675,
    1.005,
    -1.005,
    0.125,
    -0.125,
    1e15 + 0.005,
    -1e15 - 0.005,
    0.0,
    -0.0,
    1e-9,
    -1e-9,
    123456789.555,
]


def test_round2_matches_duckdb_bitwise(spark):
    rng = np.random.default_rng(42)
    vals = ADVERSARIAL + list(rng.uniform(-1e6, 1e6, 5000)) + list(
        rng.uniform(-1, 1, 5000)
    )
    pdf = pd.DataFrame({"x": np.array(vals, dtype="float64")})

    sdf = spark.createDataFrame(pdf)
    got = (
        sdf.select(round2("x").alias("r"))
        .toPandas()["r"]
        .to_numpy()
    )

    con = duckdb.connect()
    con.register("t", pdf)
    want = con.execute("SELECT round(x, 2) AS r FROM t").df()["r"].to_numpy()

    # the driver-side Python twin, pinned to the same DuckDB values
    twin = np.array([round_half_up(float(x), 2) for x in pdf["x"]])

    # bit-identical up to the sign of zero (-0.0 == 0.0 everywhere a
    # result is consumed; normalize with +0.0)
    want_n = want + 0.0
    for name, vals in (("round2", got), ("round_half_up", twin)):
        got_n = vals + 0.0
        assert np.array_equal(
            got_n.view("int64"), want_n.view("int64")
        ), f"{name} mismatches at {np.nonzero(got_n.view('int64') != want_n.view('int64'))[0][:5]}"


def test_round2_scale_param(spark):
    sdf = spark.createDataFrame(pd.DataFrame({"x": [0.123456]}))
    for scale, expect in [(1, 0.1), (3, 0.123), (4, 0.1235)]:
        got = sdf.select(round2("x", scale).alias("r")).collect()[0].r
        assert got == expect


def test_multitouch_credit_conservation(spark, sf_dir):
    """Linear attribution conserves value: summed credits equal the
    total value of credited purchases (to millicent rounding)."""
    from pyspark.sql import functions as F

    from real_time_big_data_analytics_spark.operators.relational import (
        multitouch_attribution,
    )
    from real_time_big_data_analytics_spark.sources.tables import load_table

    rep = multitouch_attribution(spark, sf_dir)
    total_credit = rep.agg(F.sum("credited_revenue")).collect()[0][0]
    purchases = load_table(spark, sf_dir, "events").filter(
        F.col("event_type") == "purchase"
    )
    total_purchases = purchases.agg(F.sum("value")).collect()[0][0]
    n_purch = purchases.count()
    # credited <= all purchase revenue; close to it when most
    # purchases have at least one prior touch in the window
    assert 0 < total_credit <= total_purchases + 0.01
    for r in rep.collect():
        assert 0 < r.n_purchases_credited <= n_purch


def test_value_deciles_equal_depth(spark, sf_dir):
    from real_time_big_data_analytics_spark.operators.relational import (
        value_deciles_by_type,
    )

    rows = value_deciles_by_type(spark, sf_dir).collect()
    by_type = {}
    for r in rows:
        by_type.setdefault(r.event_type, []).append(r)
    for trs in by_type.values():
        assert sorted(r.decile for r in trs) == list(range(1, 11))
        counts = [r.n for r in trs]
        assert max(counts) - min(counts) <= 1  # ntile equi-depth
        ordered = sorted(trs, key=lambda r: r.decile)
        for a, b in zip(ordered, ordered[1:]):
            assert a.hi <= b.hi + 1e-9  # buckets ascend in value


def test_activity_streaks_consistent(spark, sf_dir):
    from pyspark.sql import functions as F

    from real_time_big_data_analytics_spark.operators.relational import (
        activity_streaks,
    )

    rows = activity_streaks(spark, sf_dir).collect()
    assert rows
    days = (
        spark.read.parquet(f"{sf_dir}/events.parquet")
        .select("user_id", F.date_trunc("day", "ts").cast("date").alias("d"))
        .distinct()
        .collect()
    )
    per_user = {}
    for r in days:
        per_user.setdefault(r.user_id, set()).add(r.d)
    for r in rows:
        assert r.n_active_days == len(per_user[r.user_id])
        assert 1 <= r.longest_streak <= r.n_active_days
        # recompute longest run directly
        ds = sorted(per_user[r.user_id])
        best = run = 1
        for a, b in zip(ds, ds[1:]):
            run = run + 1 if (b - a).days == 1 else 1
            best = max(best, run)
        assert r.longest_streak == best


def test_peak_concurrency_matches_direct_sweep(spark, sf_dir):
    from pyspark.sql import functions as F

    from real_time_big_data_analytics_spark.operators.relational import (
        peak_session_concurrency,
        sessionize_events,
    )

    row = peak_session_concurrency(spark, sf_dir).collect()[0]
    assert row.peak_concurrency >= 1
    # direct recomputation: single-sorted sweep on the driver
    from real_time_big_data_analytics_spark.sources.tables import load_table
    from pyspark.sql import Window

    events = load_table(spark, sf_dir, "events")
    by_user = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap_us = F.unix_micros(F.col("ts")) - F.unix_micros(F.lag("ts").over(by_user))
    flagged = events.withColumn(
        "new_session",
        F.when(gap_us.isNull() | (gap_us > 30 * 60 * 1_000_000), 1).otherwise(0),
    ).withColumn(
        "session_id",
        F.sum("new_session").over(by_user.rowsBetween(Window.unboundedPreceding, 0)),
    )
    intervals = flagged.groupBy("user_id", "session_id").agg(
        F.min("ts").alias("s"), F.max("ts").alias("e")
    ).collect()
    import datetime

    deltas = []
    for r in intervals:
        deltas.append((r.s, 1))
        deltas.append((r.e + datetime.timedelta(microseconds=1), -1))
    per_ts = {}
    for t, d in deltas:
        per_ts[t] = per_ts.get(t, 0) + d
    run, best, best_t = 0, -1, None
    for t in sorted(per_ts):
        run += per_ts[t]
        if run > best:
            best, best_t = run, t
    assert row.peak_concurrency == best
    assert row.peak_at == best_t


def test_ewma_matches_pandas_truncated(spark, sf_dir):
    import pandas as pd
    from pyspark.sql import functions as F

    from real_time_big_data_analytics_spark.operators.relational import (
        EWMA_ALPHA,
        EWMA_SPAN_ROWS,
        ewma_daily_value,
    )
    from real_time_big_data_analytics_spark.sources.tables import load_table

    got = {
        (r.user_id, r.day.date()): r.ewma
        for r in ewma_daily_value(spark, sf_dir).collect()
    }
    daily = (
        load_table(spark, sf_dir, "events")
        .groupBy("user_id", F.date_trunc("day", "ts").cast("date").alias("day"))
        .agg(F.sum("value").alias("v"))
        .toPandas()
    )
    decay = 1.0 - EWMA_ALPHA
    n_checked = 0
    for uid, g in daily.groupby("user_id"):
        g = g.sort_values("day")
        vs = list(g.v)
        for t in range(len(vs)):
            lo = max(0, t - (EWMA_SPAN_ROWS - 1))
            num = sum(vs[i] * decay ** (t - i) for i in range(lo, t + 1))
            den = sum(decay ** (t - i) for i in range(lo, t + 1))
            key = (uid, g.day.iloc[t])
            assert abs(got[key] - num / den) < 1e-5, key
            n_checked += 1
        if n_checked > 500:
            break
    assert n_checked > 100


def test_weighted_sample_is_length_biased_and_exact_k(spark, sf_dir):
    from pyspark.sql import functions as F

    from real_time_big_data_analytics_spark.operators.text import (
        weighted_sample_no_replacement,
    )
    from real_time_big_data_analytics_spark.sources.tables import load_table

    sample = weighted_sample_no_replacement(spark, sf_dir, k=100).collect()
    assert len(sample) == 100
    assert len({r.doc_id for r in sample}) == 100
    corpus_mean = (
        load_table(spark, sf_dir, "documents")
        .agg(F.avg("n_chars"))
        .collect()[0][0]
    )
    sample_mean = sum(r.n_chars for r in sample) / len(sample)
    # n_chars-weighted selection must skew the sample long
    assert sample_mean > corpus_mean
    # determinism across runs
    again = weighted_sample_no_replacement(spark, sf_dir, k=100).collect()
    assert sorted(r.doc_id for r in again) == sorted(r.doc_id for r in sample)


def test_rolling_distinct_users_matches_direct(spark, sf_dir):
    import datetime

    from pyspark.sql import functions as F

    from real_time_big_data_analytics_spark.operators.relational import (
        ROLLING_DISTINCT_DAYS,
        rolling_distinct_users,
    )
    from real_time_big_data_analytics_spark.sources.tables import load_table

    got = {
        r.win_day.date(): r.n_users
        for r in rolling_distinct_users(spark, sf_dir).collect()
    }
    days = (
        load_table(spark, sf_dir, "events")
        .select("user_id", F.date_trunc("day", "ts").cast("date").alias("day"))
        .distinct()
        .collect()
    )
    activity = {}
    for r in days:
        activity.setdefault(r.day, set()).add(r.user_id)
    present = sorted(activity)
    want = {}
    for d in present:
        users = set()
        for back in range(ROLLING_DISTINCT_DAYS):
            users |= activity.get(d - datetime.timedelta(days=back), set())
        want[d] = len(users)
    assert got == want


def test_lateness_profile_matches_single_sort(spark, sf_dir):
    from real_time_big_data_analytics_spark.operators.relational import (
        watermark_lateness_profile,
    )

    row = watermark_lateness_profile(spark, sf_dir).collect()[0]
    events = sorted(
        (r.event_id, r.ts)
        for r in spark.read.parquet(f"{sf_dir}/events.parquet")
        .select("event_id", "ts")
        .collect()
    )
    seen, n_late, mx = None, 0, 0.0
    lats = []
    for _, ts in events:
        lat = max((seen - ts).total_seconds(), 0.0) if seen else 0.0
        lats.append(lat)
        if lat > 0:
            n_late += 1
        mx = max(mx, lat)
        seen = ts if seen is None else max(seen, ts)
    assert row.n_events == len(events)
    assert row.n_late == n_late
    assert abs(row.max_lateness_s - round(mx, 3)) < 1e-9
    assert 0 <= row.p50_lateness_s <= row.p95_lateness_s <= row.max_lateness_s
    assert row.recommended_delay_s >= 0


def test_ols_trend_matches_numpy(spark, sf_dir):
    import numpy as np
    from pyspark.sql import functions as F

    from real_time_big_data_analytics_spark.operators.relational import (
        TREND_ORIGIN,
        ols_trend_by_type,
    )
    from real_time_big_data_analytics_spark.sources.tables import load_table

    got = {r.event_type: r for r in ols_trend_by_type(spark, sf_dir).collect()}
    daily = (
        load_table(spark, sf_dir, "events")
        .groupBy("event_type", F.date_trunc("day", "ts").cast("date").alias("day"))
        .agg(F.sum("value").alias("y"))
        .withColumn("x", F.datediff("day", F.lit(TREND_ORIGIN)).cast("double"))
        .toPandas()
    )
    for et, g in daily.groupby("event_type"):
        slope, intercept = np.polyfit(g.x, g.y, 1)
        assert abs(got[et].slope - slope) < 1e-3, et
        assert abs(got[et].intercept - intercept) < 1e-2, et
        assert 0 <= got[et].r2 <= 1


def test_chi2_matches_brute_force(spark, sf_dir):
    from real_time_big_data_analytics_spark.operators.relational import (
        chi2_lang_source,
    )

    row = chi2_lang_source(spark, sf_dir).collect()[0]
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").collect()
    from collections import Counter

    cells = Counter((d.lang, d.source) for d in docs)
    langs = sorted({d.lang for d in docs})
    sources = sorted({d.source for d in docs})
    n = len(docs)
    rt = {l: sum(v for (l2, _), v in cells.items() if l2 == l) for l in langs}
    ct = {s: sum(v for (_, s2), v in cells.items() if s2 == s) for s in sources}
    chi2 = sum(
        (cells.get((l, s), 0) - rt[l] * ct[s] / n) ** 2 / (rt[l] * ct[s] / n)
        for l in langs
        for s in sources
    )
    assert abs(row.chi2 - chi2) < 1e-4
    assert row.dof == (len(langs) - 1) * (len(sources) - 1)
    assert row.n_obs == n


def test_benford_digits_partition_the_orders(spark, sf_dir):
    from real_time_big_data_analytics_spark.operators.relational import (
        benford_price_audit,
    )

    rows = benford_price_audit(spark, sf_dir).collect()
    assert {r.digit for r in rows} <= set(range(1, 10))
    n = spark.read.parquet(f"{sf_dir}/orders.parquet").count()
    assert sum(r.n for r in rows) == n
    total_ppm = sum(r.observed_ppm for r in rows)
    assert 999_990 <= total_ppm <= 1_000_000  # floor loses < 1 ppm per digit


def test_ks_statistic_matches_brute_force(spark, sf_dir):
    from real_time_big_data_analytics_spark.operators.relational import (
        ks_test_chars,
    )

    row = ks_test_chars(spark, sf_dir).collect()[0]
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").collect()
    en = sorted(d.n_chars for d in docs if d.lang == "en")
    de = sorted(d.n_chars for d in docs if d.lang == "de")
    assert (row.n_en, row.n_de) == (len(en), len(de))
    import bisect

    best, best_v = -1, None
    for v in sorted(set(en) | set(de)):
        num = abs(
            bisect.bisect_right(en, v) * len(de)
            - bisect.bisect_right(de, v) * len(en)
        )
        if num > best:
            best, best_v = num, v
    assert row.at_value == best_v
    assert row.d_ppm == best * 1_000_000 // (len(en) * len(de))

def test_mann_whitney_matches_brute_force(spark, sf_dir):
    from real_time_big_data_analytics_spark.operators.relational import (
        mann_whitney_chars,
    )

    row = mann_whitney_chars(spark, sf_dir).collect()[0]
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").collect()
    en = sorted(d.n_chars for d in docs if d.lang == "en")
    de = sorted(d.n_chars for d in docs if d.lang == "de")
    pooled = sorted(en + de)
    # doubled midrank of each value: 2*(# strictly below) + ties + 1
    from collections import Counter

    cnt = Counter(pooled)
    below, rank2 = 0, {}
    for v in sorted(cnt):
        rank2[v] = 2 * below + cnt[v] + 1
        below += cnt[v]
    r2_en = sum(rank2[v] for v in en)
    u2 = r2_en - len(en) * (len(en) + 1)
    assert row.n_en == len(en) and row.n_de == len(de)
    assert row.u2_en == u2
    # AUC ppm == floor((U/2) / (n1*n2) * 1e6); U/(n1*n2) in [0, 1]
    assert 0 <= row.auc_ppm <= 1_000_000
    assert row.auc_ppm == u2 * 500_000 // (len(en) * len(de))


def test_welch_ttest_matches_numpy(spark, sf_dir):
    import numpy as np

    from real_time_big_data_analytics_spark.operators.relational import (
        welch_ttest_value,
    )

    row = welch_ttest_value(spark, sf_dir).collect()[0]
    ev = spark.read.parquet(f"{sf_dir}/events.parquet").collect()
    a = np.array([e.value for e in ev if e.event_type == "click"])
    b = np.array([e.value for e in ev if e.event_type == "purchase"])
    va, vb = a.var(ddof=1) / len(a), b.var(ddof=1) / len(b)
    t = (a.mean() - b.mean()) / np.sqrt(va + vb)
    dof = (va + vb) ** 2 / (va**2 / (len(a) - 1) + vb**2 / (len(b) - 1))
    assert row.n_click == len(a) and row.n_purchase == len(b)
    assert abs(row.t_stat - t) < 1e-3
    assert abs(row.dof - dof) < 0.05
    assert abs(row.mean_diff - (a.mean() - b.mean())) < 1e-3


def test_km_survival_matches_brute_force(spark, sf_dir):
    from collections import Counter

    from real_time_big_data_analytics_spark.operators.relational import (
        km_survival_users,
    )

    rows = km_survival_users(spark, sf_dir).collect()
    ev = spark.read.parquet(f"{sf_dir}/events.parquet").collect()
    per_user = {}
    for e in ev:
        d = e.ts.date()
        lo, hi = per_user.get(e.user_id, (d, d))
        per_user[e.user_id] = (min(lo, d), max(hi, d))
    last_day = max(hi for _, hi in per_user.values())
    exits = Counter()
    deaths = Counter()
    for lo, hi in per_user.values():
        t = (hi - lo).days
        exits[t] += 1
        if hi < last_day:
            deaths[t] += 1
    n_risk, s, expect = len(per_user), 1.0, {}
    for t in sorted(exits):
        if deaths[t] > 0:
            s *= 1 - deaths[t] / n_risk
            expect[t] = (n_risk, deaths[t], s)
        n_risk -= exits[t]
    assert {r.t_days for r in rows} == set(expect)
    for r in rows:
        n, d, s = expect[r.t_days]
        assert r.n_risk == n and r.n_events == d
        assert abs(r.survival - s) < 1e-5
        assert 0.0 <= r.survival <= 1.0
    # survival is non-increasing in t
    surv = [r.survival for r in sorted(rows, key=lambda r: r.t_days)]
    assert all(a >= b for a, b in zip(surv, surv[1:]))

def test_bootstrap_weights_are_poisson_like(spark, sf_dir):
    from real_time_big_data_analytics_spark.operators.relational import (
        BOOT_B,
        bootstrap_mean_orders,
    )

    row = bootstrap_mean_orders(spark, sf_dir).collect()[0]
    assert row.n_replicates == BOOT_B
    assert row.rep_min <= row.point_mean <= row.rep_max
    # bootstrap SE should be in the ballpark of sd/sqrt(n)
    import numpy as np

    prices = np.array(
        [r.o_totalprice for r in spark.read.parquet(f"{sf_dir}/orders.parquet").collect()]
    )
    se_classic = prices.std(ddof=1) / np.sqrt(len(prices))
    assert 0.4 * se_classic < row.se_boot < 2.5 * se_classic
    assert row.n == len(prices)


def test_bootstrap_weight_mean_is_one(spark, sf_dir):
    """The deterministic ppm-CDF weights must average ~Poisson(1)."""
    import numpy as np

    from real_time_big_data_analytics_spark.operators.relational import BOOT_CDF_PPM

    u = np.arange(0, 1_000_000, 7)  # uniform grid over ppm space
    w = sum((u >= c).astype(int) for c in BOOT_CDF_PPM)
    assert abs(w.mean() - 1.0) < 0.01
    assert abs((w == 0).mean() - np.exp(-1)) < 0.01


def test_cuped_reduces_variance(spark, sf_dir):
    from real_time_big_data_analytics_spark.operators.relational import (
        cuped_adjusted_diff,
    )

    row = cuped_adjusted_diff(spark, sf_dir).collect()[0]
    assert row.n_treat > 0 and row.n_control > 0
    # pre-period behavior predicts post-period in this synthetic data
    # weakly at worst; theta-adjustment must never INCREASE variance
    assert 0.0 <= row.var_reduction <= 1.0
    ev = spark.read.parquet(f"{sf_dir}/events.parquet").count()
    assert row.n_treat + row.n_control <= ev


def test_acf_matches_numpy(spark, sf_dir):
    import numpy as np
    import pandas as pd

    from real_time_big_data_analytics_spark.operators.relational import (
        acf_daily_value,
    )

    got = {r.lag: r for r in acf_daily_value(spark, sf_dir).collect()}
    ev = spark.read.parquet(f"{sf_dir}/events.parquet").toPandas()
    daily = (
        ev.assign(day=ev.ts.dt.floor("D"))
        .groupby("day")["value"]
        .sum()
        .sort_index()
    )
    # contiguous daily series in the synthetic data: verify lag-1
    y = daily.to_numpy()
    r1 = np.corrcoef(y[1:], y[:-1])[0, 1]
    assert abs(got[1].acf - r1) < 1e-3
    assert got[1].n_pairs == len(y) - 1
    assert set(got) == set(range(1, 8))

def test_time_decay_mta_brute_force(spark, sf_dir):
    """Replay the half-life-bucketed decay credit in plain Python."""
    from collections import defaultdict

    from real_time_big_data_analytics_spark.operators.relational import (
        MTA_BUCKETS,
        MTA_HALF_LIFE_US,
        multitouch_time_decay,
    )

    got = {r.touch_type: r for r in multitouch_time_decay(spark, sf_dir).collect()}
    ev = spark.read.parquet(f"{sf_dir}/events.parquet").collect()
    by_user = defaultdict(list)
    for e in ev:
        us = e.ts.timestamp() * 1_000_000
        by_user[e.user_id].append((int(round(us)), e.event_type, e.value))
    credits = defaultdict(float)
    hits = defaultdict(int)
    types = ("click", "view", "signup")
    for evs in by_user.values():
        evs.sort()
        for t_us, et, val in evs:
            if et != "purchase":
                continue
            cents = int(val * 100 + 0.5)
            w = dict.fromkeys(types, 0)
            for s_us, s_et, _ in evs:
                if s_et not in w:
                    continue
                dt = t_us - s_us
                if 1 <= dt <= MTA_BUCKETS * MTA_HALF_LIFE_US:
                    w[s_et] += 8 >> ((dt - 1) // MTA_HALF_LIFE_US)
            tot = sum(w.values())
            if tot == 0:
                continue
            for t in types:
                credits[t] += round(cents * w[t] * 1000.0 / tot)
                hits[t] += 1 if w[t] > 0 else 0
    for t in types:
        assert got[t].n_purchases_credited == hits[t], t
        assert abs(got[t].credited_revenue - round(credits[t] / 100_000.0, 2)) < 0.011, t

def test_rfm_segments_partition_users(spark, sf_dir):
    from real_time_big_data_analytics_spark.operators.relational import (
        rfm_segments,
    )

    rows = rfm_segments(spark, sf_dir).collect()
    buyers = (
        spark.read.parquet(f"{sf_dir}/events.parquet")
        .filter("event_type = 'purchase'")
        .select("user_id")
        .distinct()
        .count()
    )
    assert sum(r.n_users for r in rows) == buyers
    for r in rows:
        digits = [r.segment // 100, r.segment // 10 % 10, r.segment % 10]
        assert all(1 <= d <= 5 for d in digits), r.segment
    # each quintile of each dimension holds ~1/5 of the users
    from collections import Counter

    for place in (100, 10, 1):
        per_q = Counter()
        for r in rows:
            per_q[r.segment // place % 10] += r.n_users
        assert set(per_q) == {1, 2, 3, 4, 5}
        assert max(per_q.values()) - min(per_q.values()) <= buyers // 5 + 1


def test_fdr_bh_matches_stdlib_reference(spark, sf_dir):
    """p-values must agree with the stdlib's exact normal CDF within
    the A&S 7.1.26 error bound, and the BH step-up adjustment must
    equal an independent pure-Python reimplementation."""
    from statistics import NormalDist

    from real_time_big_data_analytics_spark.operators import relational
    from real_time_big_data_analytics_spark.sources.tables import load_table

    rows = sorted(
        relational.fdr_bh_nations(spark, sf_dir).collect(),
        key=lambda r: (r.p_value, r.c_nationkey),
    )
    assert rows

    cust = (
        load_table(spark, sf_dir, "customer")
        .select("c_nationkey", "c_acctbal")
        .toPandas()
    )
    ma, sa = cust.c_acctbal.mean(), cust.c_acctbal.std(ddof=1)
    nd = NormalDist()
    raw = []
    for r in rows:
        grp = cust[cust.c_nationkey == r.c_nationkey].c_acctbal
        z = (grp.mean() - ma) / (sa / len(grp) ** 0.5)
        p_exact = 2 * (1 - nd.cdf(abs(z)))
        assert abs(r.z_stat - z) < 1e-3
        assert abs(r.p_value - p_exact) < 2e-6  # 1.5e-7 approx + 1e-6 rounding
        raw.append(r.p_value)

    # independent BH: step-up reverse running min of m*p/i, capped at 1
    m = len(raw)
    adj = [min(1.0, m * p / (i + 1)) for i, p in enumerate(raw)]
    for i in range(m - 2, -1, -1):
        adj[i] = min(adj[i], adj[i + 1])
    for r, a in zip(rows, adj):
        assert abs(r.p_bh - a) < 5e-6
        assert r.reject_fdr == (r.p_bh <= relational.FDR_Q)

    # monotone in rank by construction
    assert all(x.p_bh <= y.p_bh for x, y in zip(rows, rows[1:]))


def test_cusum_changepoint_matches_pandas_replay(spark, sf_dir):
    """The in-engine CUSUM argmax and split means must equal a direct
    pandas replay of S_t = cumsum(x - mean)."""
    from real_time_big_data_analytics_spark.operators import relational
    from real_time_big_data_analytics_spark.sources.tables import load_table

    got = relational.cusum_changepoint(spark, sf_dir).first()

    ev = load_table(spark, sf_dir, "events").select("ts", "value").toPandas()
    daily = ev.groupby(ev.ts.dt.floor("D"))["value"].sum().sort_index()
    s = (daily - daily.mean()).cumsum()
    cp = s.abs().idxmax()  # pandas idxmax ties to first occurrence
    assert got.n_days == len(daily)
    assert got.changepoint_day == cp.to_pydatetime()
    assert abs(got.cusum_max - abs(s[cp])) < 0.01
    before = daily[daily.index <= cp].mean()
    after = daily[daily.index > cp]
    assert abs(got.mean_before - before) < 0.01
    if len(after):
        assert abs(got.mean_after - after.mean()) < 0.01


def test_seasonal_decompose_matches_pandas_replay(spark, sf_dir):
    """Seasonal indices must equal a direct pandas replay (7-day
    centered MA, per-dow detrended means, zero-sum centering)."""
    from real_time_big_data_analytics_spark.operators import relational
    from real_time_big_data_analytics_spark.sources.tables import load_table

    got = {
        r.dow_idx: r
        for r in relational.seasonal_decompose_dow(spark, sf_dir).collect()
    }

    ev = load_table(spark, sf_dir, "events").select("ts", "value").toPandas()
    daily = ev.groupby(ev.ts.dt.floor("D"))["value"].sum().sort_index()
    trend = daily.rolling(7, center=True, min_periods=1).mean()
    det = daily - trend
    dow = (daily.index - __import__("pandas").Timestamp("1970-01-05")).days % 7
    md = det.groupby(dow).mean()
    centered = md - md.mean()
    assert set(got) == set(md.index)
    assert abs(sum(r.seasonal_idx for r in got.values())) < 1e-3  # zero-sum
    for k in md.index:
        assert abs(got[k].seasonal_raw - md[k]) < 0.01
        assert abs(got[k].seasonal_idx - centered[k]) < 0.01


def test_spearman_matches_pandas(spark, sf_dir):
    """The two-phase midrank Spearman must equal pandas' spearman corr
    (average-rank ties) on the same per-user table."""
    from real_time_big_data_analytics_spark.operators import relational
    from real_time_big_data_analytics_spark.sources.tables import load_table

    got = relational.spearman_user_activity(spark, sf_dir).first()

    ev = load_table(spark, sf_dir, "events").select("user_id", "value").toPandas()
    per = ev.groupby("user_id")["value"].agg(["count", "sum"])
    per["sum"] = per["sum"].round(2)
    assert got.n_users == len(per)
    # spearman = pearson of average ranks (pandas' spearman path needs
    # scipy, absent here — rank manually, same tie convention)
    rx = per["count"].rank(method="average")
    ry = per["sum"].rank(method="average")
    assert abs(got.spearman_rho - rx.corr(ry, method="pearson")) < 1e-3
    assert abs(got.pearson_r - per["count"].corr(per["sum"], method="pearson")) < 1e-3


def test_holt_linear_matches_pandas_replay(spark, sf_dir):
    """The in-engine Holt recurrence must equal a direct pandas replay
    (same init, same update, cents-rounded daily input), and each
    one-step forecast must equal the prior level + trend."""
    from real_time_big_data_analytics_spark.operators import relational
    from real_time_big_data_analytics_spark.sources.tables import load_table

    rows = sorted(
        relational.holt_linear_daily(spark, sf_dir).collect(),
        key=lambda r: r.day,
    )
    ev = load_table(spark, sf_dir, "events").select("ts", "value").toPandas()
    daily = ev.groupby(ev.ts.dt.floor("D"))["value"].sum().round(2).sort_index()
    a, b = relational.HOLT_ALPHA, relational.HOLT_BETA
    x = daily.to_list()
    l, tr = x[1], x[1] - x[0]
    expect = []
    for t in range(2, len(x)):
        fitted = l + tr
        l_new = a * x[t] + (1 - a) * (l + tr)
        tr = b * (l_new - l) + (1 - b) * tr
        l = l_new
        expect.append((daily.index[t], x[t], l, tr, fitted))
    assert len(rows) == len(expect) == len(x) - 2
    for r, (day, xv, lv, tv, fv) in zip(rows, expect):
        assert r.day == day.to_pydatetime()
        assert abs(r.x - xv) < 1e-9
        assert abs(r.level - lv) < 1e-3
        assert abs(r.trend - tv) < 1e-3
        assert abs(r.fitted - fv) < 1e-3
        assert abs(r.resid - (xv - fv)) < 2e-3
    # forecast chaining: fitted_t == level_{t-1} + trend_{t-1}
    for prev, cur in zip(rows, rows[1:]):
        assert abs(cur.fitted - (prev.level + prev.trend)) < 2e-4


def test_woe_iv_matches_pandas_replay(spark, sf_dir):
    """WOE/IV must equal an independent pandas replay, and the IV
    identity sum(iv_term) == iv_total must hold on the output."""
    import math

    from real_time_big_data_analytics_spark.operators import relational
    from real_time_big_data_analytics_spark.sources.tables import load_table

    rows = relational.woe_iv_segment(spark, sf_dir).collect()
    orders = load_table(spark, sf_dir, "orders").select(
        "o_custkey", "o_orderpriority"
    ).toPandas()
    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment"
    ).toPandas()
    j = orders.merge(cust, left_on="o_custkey", right_on="c_custkey")
    j["ev"] = j.o_orderpriority.isin(["1-URGENT", "2-HIGH"])
    te, tn = int(j.ev.sum()), int((~j.ev).sum())
    iv_total = 0.0
    by_seg = {}
    for seg, grp in j.groupby("c_mktsegment"):
        e, n = int(grp.ev.sum()), int((~grp.ev).sum())
        woe = math.log((e / te) / (n / tn))
        by_seg[seg] = (len(grp), e, n, woe, (e / te - n / tn) * woe)
        iv_total += by_seg[seg][4]
    assert len(rows) == len(by_seg)
    for r in rows:
        n_orders, e, n, woe, iv = by_seg[r.segment]
        assert (r.n_orders, r.n_events, r.n_nonevents) == (n_orders, e, n)
        assert abs(r.woe - woe) < 1e-5
        assert abs(r.iv_term - iv) < 1e-5
        assert abs(r.iv_total - iv_total) < 1e-5
    assert abs(sum(r.iv_term for r in rows) - rows[0].iv_total) < 1e-4


def test_ab_srm_audit_matches_scipy_free_replay(spark, sf_dir):
    """Arm counts must equal a hashlib replay; chi2/p must match exact
    math.erfc within the A&S polynomial's 1.5e-7 error + rounding."""
    import hashlib
    import math

    from real_time_big_data_analytics_spark.operators import relational
    from real_time_big_data_analytics_spark.sources.tables import load_table

    rows = relational.ab_srm_audit(spark, sf_dir).collect()
    users = (
        load_table(spark, sf_dir, "events")
        .select("user_id")
        .distinct()
        .toPandas()["user_id"]
    )
    n = {"A": 0, "B": 0}
    for u in users:
        b = int(hashlib.md5(str(u).encode()).hexdigest()[:8], 16) % 2
        n["A" if b == 0 else "B"] += 1
    total = n["A"] + n["B"]
    exp = total / 2
    chi2 = sum((n[a] - exp) ** 2 / exp for a in n)
    p = math.erfc(math.sqrt(chi2) / math.sqrt(2))
    assert len(rows) == 2
    for r in rows:
        assert r.n_users == n[r.arm]
        assert r.n_total == total
        assert abs(r.expected - exp) < 1e-6
        assert abs(r.chi2 - chi2) < 1e-4
        assert abs(r.p_value - p) < 2e-6
        assert r.srm_detected == (r.p_value < relational.SRM_ALPHA)


def test_dp_noisy_counts_mechanism_properties(spark, sf_dir):
    """The Laplace mechanism must match a hashlib/math replay, and the
    inverse-CDF transform must be correctly calibrated: |noise| =
    (s/eps)*|ln(1-2|u-0.5|)| and the u-to-noise mapping monotone."""
    import hashlib
    import math

    from real_time_big_data_analytics_spark.operators import relational
    from real_time_big_data_analytics_spark.sources.tables import load_table

    rows = relational.dp_noisy_event_counts(spark, sf_dir).collect()
    counts = (
        load_table(spark, sf_dir, "events")
        .groupBy("event_type")
        .count()
        .toPandas()
        .set_index("event_type")["count"]
        .to_dict()
    )
    scale = relational.DP_SENSITIVITY / relational.DP_EPSILON
    B = relational.DP_SEED_BUCKETS
    assert len(rows) == len(counts)
    for r in rows:
        u = (int(hashlib.md5(r.event_type.encode()).hexdigest()[:8], 16) % B + 0.5) / B
        c = u - 0.5
        noise = -scale * math.copysign(1.0, c) * math.log(1.0 - 2.0 * abs(c))
        assert r.n_true == counts[r.event_type]
        assert abs(r.noise - noise) < 1e-5
        assert abs(r.n_noisy - (r.n_true + noise)) < 2e-5
        assert r.epsilon == relational.DP_EPSILON
        # Laplace quantile sanity: u near 0.5 -> small noise; the
        # median absolute noise of Laplace(b) is b*ln(2)
        assert abs(r.noise) == abs(r.noise)  # not NaN
        assert not math.isinf(r.noise)


def test_gini_topshare_matches_numpy_replay(spark, sf_dir):
    """Gini and top-p% shares must equal a direct numpy replay on the
    sorted per-customer revenues (exact k-richest cut), and obey the
    structural bounds 0 <= G < 1, share monotone in p."""
    import math

    import numpy as np

    from real_time_big_data_analytics_spark.operators import relational
    from real_time_big_data_analytics_spark.sources.tables import load_table

    rows = {
        r.top_pct: r
        for r in relational.gini_topshare_revenue(spark, sf_dir).collect()
    }
    rev = (
        load_table(spark, sf_dir, "orders")
        .groupBy("o_custkey")
        .sum("o_totalprice")
        .toPandas()["sum(o_totalprice)"]
        .round(2)
        .to_numpy()
    )
    x = np.sort(rev)
    n, X = len(x), x.sum()
    gini = 2 * np.sum(x * np.arange(1, n + 1)) / (n * X) - (n + 1) / n
    assert set(rows) == set(relational.GINI_SHARES)
    prev_share = 0.0
    for p in sorted(rows):
        r = rows[p]
        k = math.ceil(p * n / 100)
        share = x[n - k:].sum() / X
        assert r.n_customers == k
        assert abs(r.cutoff_revenue - x[n - k]) < 0.015
        assert abs(r.revenue_share - share) < 1e-5
        assert abs(r.gini - gini) < 1e-5
        assert 0.0 <= r.gini < 1.0
        assert r.revenue_share >= prev_share
        prev_share = r.revenue_share


def test_copurchase_topk_matches_pandas_replay(spark, sf_dir):
    """Top-k co-purchase recommendations must equal a pandas replay
    (same distinct-basket pairing, same cosine, same total order)."""
    from collections import Counter, defaultdict

    from real_time_big_data_analytics_spark.operators import relational
    from real_time_big_data_analytics_spark.sources.tables import load_table

    rows = relational.copurchase_topk(spark, sf_dir).collect()
    li = (
        load_table(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_partkey")
        .distinct()
        .toPandas()
    )
    baskets = defaultdict(set)
    for o, p in zip(li.l_orderkey, li.l_partkey):
        baskets[o].add(p)
    n = Counter()
    co = Counter()
    for parts in baskets.values():
        ps = sorted(parts)
        for p in ps:
            n[p] += 1
        for i, x in enumerate(ps):
            for y in ps[i + 1:]:
                co[(x, y)] += 1
    sym = defaultdict(list)
    for (x, y), c in co.items():
        cos = c / (n[x] * n[y]) ** 0.5
        sym[x].append((-cos, y, c))
        sym[y].append((-cos, x, c))
    expect = {}
    for p, cands in sym.items():
        for rk, (negcos, q, c) in enumerate(sorted(cands)[: relational.REC_TOPK], 1):
            expect[(p, rk)] = (q, c, -negcos)
    got = {(r.part_a, r.rk): r for r in rows}
    assert set(got) == set(expect)
    for k, (q, c, cos) in expect.items():
        r = got[k]
        assert r.part_b == q
        assert r.c_ab == c
        assert (r.n_a, r.n_b) == (n[r.part_a], n[q])
        assert abs(r.cosine - cos) < 1e-5


def test_forecast_backtest_matches_replay(spark, sf_dir):
    """Backtest metrics must equal a direct replay over the engine's
    own Holt output, and satisfy the metric identities."""
    from real_time_big_data_analytics_spark.operators import relational

    r = relational.forecast_backtest(spark, sf_dir).first()
    rows = sorted(
        relational.holt_linear_daily(spark, sf_dir).collect(),
        key=lambda x: x.day,
    )
    ev = [
        (cur.x, cur.fitted, prev.x) for prev, cur in zip(rows, rows[1:])
    ]
    n = len(ev)
    mae_h = sum(abs(x - f) for x, f, _ in ev) / n
    mae_n = sum(abs(x - p) for x, _, p in ev) / n
    smape = sum(2 * abs(x - f) / (abs(x) + abs(f)) for x, f, _ in ev) / n
    beats = sum(1 for x, f, p in ev if abs(x - f) < abs(x - p)) / n
    assert r.n_days == n == len(rows) - 1
    assert abs(r.mae_holt - mae_h) < 1e-4
    assert abs(r.mae_naive - mae_n) < 1e-4
    assert abs(r.mase - mae_h / mae_n) < 1e-5
    assert abs(r.smape_holt - smape) < 1e-5
    assert abs(r.share_beats_naive - beats) < 1e-5
    assert 0.0 <= r.share_beats_naive <= 1.0
    assert 0.0 <= r.smape_holt <= 2.0


def test_mutual_information_matches_python_replay(spark, sf_dir):
    """MI / NMI must equal a direct contingency-table replay, and obey
    the information inequalities 0 <= MI <= min(H_a, H_b), NMI in
    [0, 1]."""
    import math
    from collections import Counter

    from real_time_big_data_analytics_spark.operators import relational
    from real_time_big_data_analytics_spark.sources.tables import load_table

    rows = relational.mutual_information(spark, sf_dir).collect()
    orders = load_table(spark, sf_dir, "orders").select(
        "o_custkey", "o_orderpriority"
    ).toPandas()
    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment"
    ).toPandas()
    j = orders.merge(cust, left_on="o_custkey", right_on="c_custkey")
    n_ab = Counter(zip(j.c_mktsegment, j.o_orderpriority))
    n = sum(n_ab.values())
    n_a, n_b = Counter(), Counter()
    for (a, b), c in n_ab.items():
        n_a[a] += c
        n_b[b] += c
    mi = sum(
        (c / n) * math.log(c * n / (n_a[a] * n_b[b]))
        for (a, b), c in n_ab.items()
    )
    h_a = -sum((c / n) * math.log(c / n) for c in n_a.values())
    h_b = -sum((c / n) * math.log(c / n) for c in n_b.values())
    nmi = mi / math.sqrt(h_a * h_b)
    assert len(rows) == len(n_ab)
    for r in rows:
        c = n_ab[(r.a, r.b)]
        assert r.n_ab == c
        assert abs(r.lift - c * n / (n_a[r.a] * n_b[r.b])) < 1e-5
        assert abs(r.mi_total - mi) < 1e-5
        assert abs(r.nmi - nmi) < 1e-5
    assert -1e-9 <= mi <= min(h_a, h_b) + 1e-9
    assert 0.0 <= rows[0].nmi <= 1.0


def test_conversion_lag_matches_pandas_replay(spark, sf_dir):
    """Lag buckets must equal a pandas replay (first signup, first
    purchase at-or-after it), with consistent totals."""
    from real_time_big_data_analytics_spark.operators import relational
    from real_time_big_data_analytics_spark.sources.tables import load_table

    rows = relational.conversion_lag(spark, sf_dir).collect()
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "event_type", "ts"
    ).toPandas()
    s = ev[ev.event_type == "signup"].groupby("user_id").ts.min()
    lags = {}
    for uid, s_ts in s.items():
        p = ev[
            (ev.event_type == "purchase")
            & (ev.user_id == uid)
            & (ev.ts >= s_ts)
        ].ts.min()
        if p is not None and p == p:  # not NaT
            lags[uid] = int((p - s_ts).total_seconds() // 86400)
    from collections import Counter

    hist = Counter(lags.values())
    got = {r.lag_days: r for r in rows}
    assert set(got) == set(hist)
    for d, r in got.items():
        assert r.n_converted == hist[d]
        assert r.total_converted == len(lags)
        assert r.n_signups == len(s)
        assert abs(r.conversion_rate - len(lags) / len(s)) < 1e-5


def test_cohort_ltv_triangle_matches_pandas_replay(spark, sf_dir):
    """LTV cells must equal a pandas replay, and cumulative revenue
    must be non-decreasing within each cohort."""
    from real_time_big_data_analytics_spark.operators import relational
    from real_time_big_data_analytics_spark.sources.tables import load_table

    rows = relational.cohort_ltv_triangle(spark, sf_dir).collect()
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "event_type", "ts", "value"
    ).toPandas()
    s = ev[ev.event_type == "signup"].groupby("user_id").ts.min()
    cohort = (s.astype("int64") // 10**9 // 604800).rename("cw")
    p = ev[ev.event_type == "purchase"].merge(
        s.rename("s_ts"), left_on="user_id", right_index=True
    )
    p = p[p.ts >= p.s_ts]
    p["cw"] = (p.s_ts.astype("int64") // 10**9 // 604800)
    p["ws"] = (
        (p.ts.astype("int64") - p.s_ts.astype("int64")) // 10**9 // 604800
    )
    cells = p.groupby(["cw", "ws"]).value.sum().round(2)
    sizes = cohort.value_counts()
    got = {(r.cohort_week, r.weeks_since): r for r in rows}
    assert set(got) == set(cells.index)
    by_cohort = {}
    for (cw, ws), rev in sorted(cells.items()):
        r = got[(cw, ws)]
        assert abs(r.week_revenue - rev) < 0.02
        assert r.n_users == sizes[cw]
        by_cohort.setdefault(cw, []).append((ws, r.cum_revenue, r.cum_ltv_per_user))
    for cw, seq in by_cohort.items():
        seq.sort()
        cums = [c for _, c, _ in seq]
        assert cums == sorted(cums)  # non-decreasing
        for ws, c, ltv in seq:
            assert abs(ltv - c / sizes[cw]) < 1e-4


def test_holt_anomaly_days_matches_replay(spark, sf_dir):
    """Robust z must equal a numpy replay over the engine's own Holt
    residuals (same MAD scaling), with flags consistent."""
    import numpy as np

    from real_time_big_data_analytics_spark.operators import relational

    rows = sorted(
        relational.holt_anomaly_days(spark, sf_dir).collect(),
        key=lambda r: r.day,
    )
    resid = np.array([r.resid for r in rows])
    med = np.median(resid)
    mad = np.median(np.abs(resid - med))
    for r in rows:
        z = (r.resid - med) / (relational.MAD_SIGMA * mad)
        assert abs(r.robust_z - z) < 1e-3
        assert r.is_anomaly == (abs(z) > relational.ANOM_K_MAD) or abs(
            abs(z) - relational.ANOM_K_MAD
        ) < 1e-3
    # robust gate: the flagged fraction must be small (it is a gate,
    # not a majority classifier)
    frac = sum(r.is_anomaly for r in rows) / len(rows)
    assert frac <= 0.2


def test_dau_mau_stickiness_matches_pandas_replay(spark, sf_dir):
    """DAU/MAU per day must equal a direct pandas replay of the
    trailing-28-day distinct count, with stickiness in (0, 1]."""
    from real_time_big_data_analytics_spark.operators import relational
    from real_time_big_data_analytics_spark.sources.tables import load_table

    rows = {
        r.day.date(): r
        for r in relational.dau_mau_stickiness(spark, sf_dir).collect()
    }
    ev = load_table(spark, sf_dir, "events").select("user_id", "ts").toPandas()
    ev["day"] = ev.ts.dt.floor("D").dt.date
    pairs = ev[["user_id", "day"]].drop_duplicates()
    import datetime

    present = sorted(pairs.day.unique())
    assert set(rows) == set(present)
    for d in present:
        dau = pairs[pairs.day == d].user_id.nunique()
        lo = d - datetime.timedelta(days=relational.MAU_WINDOW_DAYS - 1)
        mau = pairs[(pairs.day >= lo) & (pairs.day <= d)].user_id.nunique()
        r = rows[d]
        assert (r.dau, r.mau) == (dau, mau)
        assert abs(r.stickiness - dau / mau) < 1e-5
        assert 0.0 < r.stickiness <= 1.0


def test_theil_decomposition_identity_and_replay(spark, sf_dir):
    """Theil contributions must equal a numpy replay and the additive
    identity must hold: T_within + T_between == direct total Theil."""
    import numpy as np

    from real_time_big_data_analytics_spark.operators import relational
    from real_time_big_data_analytics_spark.sources.tables import load_table

    rows = {
        r.segment: r
        for r in relational.theil_decomposition(spark, sf_dir).collect()
    }
    orders = load_table(spark, sf_dir, "orders").select(
        "o_custkey", "o_totalprice"
    ).toPandas()
    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment"
    ).toPandas()
    per = (
        orders.groupby("o_custkey").o_totalprice.sum().round(2).rename("x")
    ).reset_index().merge(cust, left_on="o_custkey", right_on="c_custkey")
    x = per.x.to_numpy()
    X, n = x.sum(), len(x)
    mu = X / n
    t_total_direct = float(np.sum((x / X) * np.log(x / mu)))
    t_w = t_b = 0.0
    for seg, grp in per.groupby("c_mktsegment"):
        xg = grp.x.to_numpy()
        mug = xg.mean()
        tg = float(np.sum((xg / xg.sum()) * np.log(xg / mug)))
        sg = xg.sum() / X
        r = rows[seg]
        assert r.n_customers == len(xg)
        assert abs(r.revenue_share - sg) < 1e-5
        assert abs(r.theil_within_group - tg) < 1e-5
        assert abs(r.within_contribution - sg * tg) < 1e-5
        assert abs(r.between_contribution - sg * np.log(mug / mu)) < 1e-5
        t_w += sg * tg
        t_b += sg * np.log(mug / mu)
    any_r = next(iter(rows.values()))
    assert abs(any_r.t_within - t_w) < 1e-5
    assert abs(any_r.t_between - t_b) < 1e-5
    assert abs(any_r.t_total - t_total_direct) < 1e-5  # additivity
    assert any_r.t_total >= 0


def test_brown_forsythe_matches_scipy_free_replay(spark, sf_dir):
    """The W statistic must equal a numpy replay of the median-based
    Levene ANOVA (same lower-median convention), and the chi-square
    approximation must satisfy its closed form."""
    import math

    import numpy as np

    from real_time_big_data_analytics_spark.operators import relational
    from real_time_big_data_analytics_spark.sources.tables import load_table

    rows = {
        r.event_type: r
        for r in relational.brown_forsythe_value(spark, sf_dir).collect()
    }
    ev = load_table(spark, sf_dir, "events").select(
        "event_type", "value"
    ).toPandas()
    ev["v"] = ev.value.round(2)
    groups = {}
    for g, grp in ev.groupby("event_type"):
        xs = np.sort(grp.v.to_numpy())
        med = xs[math.ceil(len(xs) / 2) - 1]  # lower median
        groups[g] = np.abs(grp.v.to_numpy() - med)
    N = sum(len(z) for z in groups.values())
    k = len(groups)
    zbar = sum(z.sum() for z in groups.values()) / N
    between = sum(len(z) * (z.mean() - zbar) ** 2 for z in groups.values())
    within = sum(((z - z.mean()) ** 2).sum() for z in groups.values())
    W = (N - k) / (k - 1) * between / within
    y = (k - 1) * W
    p = math.exp(-y / 2) * (1 + y / 2)
    for g, z in groups.items():
        r = rows[g]
        assert r.n == len(z)
        assert abs(r.mean_abs_dev - z.mean()) < 1e-5
        assert abs(r.bf_statistic - W) < 1e-4
        assert (r.df1, r.df2) == (k - 1, N - k)
        assert abs(r.p_approx - p) < 1e-5
        assert 0.0 <= r.p_approx <= 1.0


def test_new_vs_returning_matches_pandas_replay(spark, sf_dir):
    """Daily new/returning splits must equal a pandas replay; total
    acquired must converge to the distinct user count."""
    from real_time_big_data_analytics_spark.operators import relational
    from real_time_big_data_analytics_spark.sources.tables import load_table

    rows = sorted(
        relational.new_vs_returning(spark, sf_dir).collect(),
        key=lambda r: r.day,
    )
    ev = load_table(spark, sf_dir, "events").select("user_id", "ts").toPandas()
    ev["day"] = ev.ts.dt.floor("D")
    pairs = ev[["user_id", "day"]].drop_duplicates()
    first = pairs.groupby("user_id").day.min()
    acquired = 0
    for r in rows:
        d = r.day
        dg = pairs[pairs.day == d]
        new = sum(first[u] == d for u in dg.user_id)
        assert r.new_users == new
        assert r.returning_users == len(dg) - new
        assert r.dau == len(dg)
        acquired += new
        assert r.acquired_to_date == acquired
        assert abs(r.new_share - new / len(dg)) < 1e-5
    assert rows[-1].acquired_to_date == pairs.user_id.nunique()


def test_periodogram_matches_numpy_replay(spark, sf_dir):
    """Per-period power must equal a numpy Goertzel replay, and the
    weekly line must dominate the 5- and 10-day candidates (the
    events fixture carries day-of-week structure)."""
    import numpy as np

    from real_time_big_data_analytics_spark.operators import relational
    from real_time_big_data_analytics_spark.sources.tables import load_table

    rows = {
        r.period: r
        for r in relational.periodogram_power(spark, sf_dir).collect()
    }
    ev = load_table(spark, sf_dir, "events").select("ts", "value").toPandas()
    daily = ev.groupby(ev.ts.dt.floor("D"))["value"].sum().round(2).sort_index()
    xc = daily.to_numpy() - daily.mean()
    t = np.arange(len(xc), dtype=float)
    ss = float((xc**2).sum())
    for p in relational.PGRAM_PERIODS:
        ang = relational.PGRAM_TWO_PI * t / p
        c = float((xc * np.cos(ang)).sum())
        s = float((xc * np.sin(ang)).sum())
        power = (c * c + s * s) / len(xc)
        r = rows[p]
        assert r.n_days == len(xc)
        assert abs(r.power - power) < max(1e-3, abs(power) * 1e-6)
        assert abs(r.variance_share - power / ss) < 1e-5
        assert 0.0 <= r.variance_share <= 1.0 + 1e-9
    # no dominance assertion: which line wins is a property of the
    # synthetic fixture (30 days at test SF shows no weekly cycle),
    # not of the operator — the numpy replay above is the contract


def test_partial_correlation_matches_numpy_replay(spark, sf_dir):
    """All four coefficients must equal a numpy replay, with the
    partial bounded in [-1, 1] and (here) smaller in magnitude than
    the raw r_xy once tenure is controlled."""
    import numpy as np

    from real_time_big_data_analytics_spark.operators import relational
    from real_time_big_data_analytics_spark.sources.tables import load_table

    r = relational.partial_correlation(spark, sf_dir).first()
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "ts", "value"
    ).toPandas()
    ev["day"] = ev.ts.dt.floor("D")
    g = ev.groupby("user_id").agg(
        x=("value", "size"), y=("value", "sum"), z=("day", "nunique")
    ).astype(float)
    c = np.corrcoef(g.to_numpy().T)
    rxy, rxz, ryz = c[0, 1], c[0, 2], c[1, 2]
    partial = (rxy - rxz * ryz) / np.sqrt((1 - rxz**2) * (1 - ryz**2))
    assert r.n_users == len(g)
    assert abs(r.r_xy - rxy) < 1e-5
    assert abs(r.r_xz - rxz) < 1e-5
    assert abs(r.r_yz - ryz) < 1e-5
    assert abs(r.r_xy_given_z - partial) < 1e-5
    assert -1.0 <= r.r_xy_given_z <= 1.0
    # no |partial| <= |raw| assertion: with opposite-sign r_xz/r_yz
    # the control variable SUPPRESSES the association and the partial
    # legitimately exceeds the raw coefficient (observed here)


def test_max_drawdown_matches_numpy_replay(spark, sf_dir):
    """Drawdown, peak and trough must equal a numpy replay on the
    cents-rounded cumulative series."""
    import numpy as np

    from real_time_big_data_analytics_spark.operators import relational
    from real_time_big_data_analytics_spark.sources.tables import load_table

    r = relational.max_drawdown(spark, sf_dir).first()
    ev = load_table(spark, sf_dir, "events").select("ts", "value").toPandas()
    daily = ev.groupby(ev.ts.dt.floor("D"))["value"].sum().round(2).sort_index()
    cum = daily.cumsum().to_numpy()
    peak = np.maximum.accumulate(cum)
    dd = np.round(peak - cum, 2)
    ti = int(np.argmax(dd))  # first maximal trough
    pi = int(np.argmax(cum == peak[ti]))  # first day attaining that peak
    assert r.trough_day == daily.index[ti].to_pydatetime()
    assert r.peak_day == daily.index[pi].to_pydatetime()
    assert abs(r.max_drawdown - dd[ti]) < 0.02
    assert abs(r.peak_cum - peak[ti]) < 0.02
    assert abs(r.trough_cum - cum[ti]) < 0.02
    assert abs(r.drawdown_frac - dd[ti] / peak[ti]) < 1e-5
    assert r.max_drawdown >= 0
