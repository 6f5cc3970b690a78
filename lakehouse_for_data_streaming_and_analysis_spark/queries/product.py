"""Product-analytics operators over the event stream: ordered funnel
conversion, weekly retention cohorts, robust dispersion (median
absolute deviation), and a chi-square independence scan.

These are the dashboard-adjacent aggregations the reference's BI
layer computes downstream of the lakehouse (Superset slices over the
fact table — reference `data/dashboard/*.json`); here they are
engine-native operators with DuckDB oracles.

Determinism rules follow the repo conventions: event order is the
total (epoch-second, event_id) order shared with the oracle, gates
compare integers or pre-rounded values, medians are the exact
interpolated definition both engines implement.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from ..catalog import load_table
from . import registry

QUERIES, ORACLES, q = registry.module()


@q(
    "funnel_view_click_purchase",
    """WITH ev AS (
         SELECT user_id, event_type,
                CAST(FLOOR(epoch(ts)) AS BIGINT) AS s
         FROM events),
       t0 AS (SELECT user_id, MIN(s) AS s0 FROM ev
              WHERE event_type = 'view' GROUP BY 1),
       t1 AS (SELECT ev.user_id, MIN(s) AS s1
              FROM ev JOIN t0 ON ev.user_id = t0.user_id
              WHERE event_type = 'click' AND s > s0 GROUP BY 1),
       t2 AS (SELECT ev.user_id, MIN(s) AS s2
              FROM ev JOIN t1 ON ev.user_id = t1.user_id
              WHERE event_type = 'purchase' AND s > s1 GROUP BY 1)
       SELECT (SELECT COUNT(*) FROM t0) AS n_view,
              (SELECT COUNT(*) FROM t1) AS n_click,
              (SELECT COUNT(*) FROM t2) AS n_purchase,
              (SELECT ROUND(AVG(s2 - s0), 2) FROM t2
                JOIN t0 ON t2.user_id = t0.user_id) AS avg_seconds_to_convert""",
)
def funnel_view_click_purchase(spark, sf_dir):
    """Ordered funnel: users who viewed, then clicked strictly after
    their first view, then purchased strictly after that first
    qualifying click — the classic product-analytics operator that a
    plain GROUP BY cannot express (each step's clock starts at the
    previous step's completion).

    Implemented as a per-user sorted-array fold: one shuffle to user
    grain, then the step timestamps come from a single left-to-right
    aggregate() over the (second, event_id)-sorted events — at 100 TB
    the alternative 3-stage self-join chain would shuffle the fact
    three times; this ships each user's events once. The oracle IS
    that join chain (min-after-min), so the fold is cross-validated
    against an independent formulation of the same semantics."""
    ev = load_table(spark, sf_dir, "events")
    step = ev.filter(
        F.col("event_type").isin("view", "click", "purchase")
    ).select(
        "user_id",
        F.unix_timestamp("ts").alias("s"),
        "event_id",
        "event_type",
    )
    per_user = step.groupBy("user_id").agg(
        F.array_sort(F.collect_list(F.struct("s", "event_id", "event_type"))).alias(
            "evs"
        )
    )
    init = F.struct(
        F.lit(None).cast("long").alias("s0"),
        F.lit(None).cast("long").alias("s1"),
        F.lit(None).cast("long").alias("s2"),
    )

    def _step(acc, e):
        s0 = F.when(
            acc["s0"].isNull() & (e["event_type"] == "view"), e["s"]
        ).otherwise(acc["s0"])
        s1 = F.when(
            acc["s1"].isNull()
            & acc["s0"].isNotNull()
            & (e["event_type"] == "click")
            & (e["s"] > acc["s0"]),
            e["s"],
        ).otherwise(acc["s1"])
        s2 = F.when(
            acc["s2"].isNull()
            & acc["s1"].isNotNull()
            & (e["event_type"] == "purchase")
            & (e["s"] > acc["s1"]),
            e["s"],
        ).otherwise(acc["s2"])
        return F.struct(s0.alias("s0"), s1.alias("s1"), s2.alias("s2"))

    folded = per_user.select(F.aggregate("evs", init, _step).alias("f"))
    return folded.agg(
        F.count("f.s0").alias("n_view"),
        F.count("f.s1").alias("n_click"),
        F.count("f.s2").alias("n_purchase"),
        F.round(F.avg(F.col("f.s2") - F.col("f.s0")), 2).alias(
            "avg_seconds_to_convert"
        ),
    )


@q(
    "retention_cohorts",
    """WITH firsts AS (
         SELECT user_id,
                MIN(CAST(date_trunc('week', CAST(ts AS DATE)) AS DATE)) AS cohort
         FROM events GROUP BY 1),
       activity AS (
         SELECT DISTINCT user_id,
                CAST(date_trunc('week', CAST(ts AS DATE)) AS DATE) AS w
         FROM events)
       SELECT strftime(f.cohort, '%Y-%m-%d') AS cohort,
              CAST((a.w - f.cohort) / 7 AS BIGINT) AS week_offset,
              COUNT(*) AS active_users
       FROM firsts f JOIN activity a ON f.user_id = a.user_id
       GROUP BY 1, 2""",
)
def retention_cohorts(spark, sf_dir):
    """Weekly retention triangle: users bucketed by first-seen ISO
    week (cohort), counted in every later week they were active,
    keyed by week offset (both engines truncate weeks to Monday).
    Two user-grain aggregates (first week; distinct active weeks)
    joined at user grain — the join and both groupBys share one
    partitioning, and the output is |cohorts| x |offsets| rows.
    All-integer."""
    ev = load_table(spark, sf_dir, "events")
    w = F.to_date(F.date_trunc("week", F.to_date("ts")))
    firsts = ev.groupBy("user_id").agg(F.min(w).alias("cohort"))
    activity = ev.select("user_id", w.alias("w")).distinct()
    j = firsts.join(activity, "user_id")
    offset = (F.datediff("w", "cohort") / 7).cast("long")
    return j.groupBy(
        F.date_format("cohort", "yyyy-MM-dd").alias("cohort"),
        offset.alias("week_offset"),
    ).agg(F.count(F.lit(1)).alias("active_users"))


@q(
    "mad_by_type",
    """WITH med AS (
         SELECT event_type, median(value) AS med
         FROM events GROUP BY 1),
       dev AS (
         SELECT e.event_type, ABS(e.value - m.med) AS adev, m.med
         FROM events e JOIN med m ON e.event_type = m.event_type)
       SELECT event_type,
              ROUND(ANY_VALUE(med), 4) AS median_value,
              ROUND(median(adev), 4) AS mad
       FROM dev GROUP BY 1""",
)
def mad_by_type(spark, sf_dir):
    """Median absolute deviation per series — the robust dispersion
    measure (insensitive to the outliers that inflate stddev). Two
    median passes: per-type median, broadcast back onto the stream,
    then the median of absolute deviations. Both engines use the
    exact interpolated median, and the deviation |v - med| is the
    same subtraction of the same two doubles, so the second median's
    input multiset is identical."""
    ev = load_table(spark, sf_dir, "events")
    med = ev.groupBy("event_type").agg(F.median("value").alias("med"))
    dev = ev.join(F.broadcast(med), "event_type").select(
        "event_type", "med", F.abs(F.col("value") - F.col("med")).alias("adev")
    )
    return dev.groupBy("event_type").agg(
        F.round(F.any_value("med"), 4).alias("median_value"),
        F.round(F.median("adev"), 4).alias("mad"),
    )


@q(
    "chi_square_type_dow",
    """WITH obs AS (
         SELECT event_type, dayofweek(ts) AS dow, COUNT(*) AS o
         FROM events GROUP BY 1, 2),
       tot AS (
         SELECT event_type, dow, o,
                SUM(o) OVER (PARTITION BY event_type) AS row_tot,
                SUM(o) OVER (PARTITION BY dow) AS col_tot,
                SUM(o) OVER () AS n
         FROM obs)
       SELECT CAST(SUM(o) AS BIGINT) AS n_events,
              COUNT(*) AS n_cells,
              ROUND(SUM((o - row_tot * col_tot / CAST(n AS DOUBLE))
                        * (o - row_tot * col_tot / CAST(n AS DOUBLE))
                        / (row_tot * col_tot / CAST(n AS DOUBLE))), 4)
                AS chi_square
       FROM tot""",
)
def chi_square_type_dow(spark, sf_dir):
    """Chi-square independence statistic for event-type x day-of-week
    — the screening test for 'does traffic mix shift by weekday'.
    One shuffle to the contingency cells (|types| x 7 rows), expected
    counts from three window sums over those few rows, one scalar
    out. The expected-count expression is written identically on both
    engines so the only float divergence is sub-round-off."""
    ev = load_table(spark, sf_dir, "events")
    obs = ev.groupBy("event_type", F.dayofweek("ts").alias("dow")).agg(
        F.count(F.lit(1)).alias("o")
    )
    wr = Window.partitionBy("event_type")
    wc = Window.partitionBy("dow")
    wa = Window.partitionBy()
    tot = obs.select(
        "o",
        F.sum("o").over(wr).alias("row_tot"),
        F.sum("o").over(wc).alias("col_tot"),
        F.sum("o").over(wa).alias("n"),
    )
    e = F.col("row_tot") * F.col("col_tot") / F.col("n").cast("double")
    return tot.agg(
        F.sum("o").cast("long").alias("n_events"),
        F.count(F.lit(1)).alias("n_cells"),
        F.round(F.sum((F.col("o") - e) * (F.col("o") - e) / e), 4).alias(
            "chi_square"
        ),
    )


@q(
    "triangle_count_handoff_graph",
    """WITH raw AS (
         SELECT user_id AS src,
                LEAD(user_id) OVER (PARTITION BY event_type
                    ORDER BY CAST(FLOOR(epoch(ts)) AS BIGINT), event_id) AS dst
         FROM events),
       e AS (
         SELECT DISTINCT LEAST(src, dst) AS a, GREATEST(src, dst) AS b
         FROM raw WHERE dst IS NOT NULL AND dst <> src)
       SELECT COUNT(*) AS n_triangles,
              (SELECT COUNT(*) FROM e) AS n_edges
       FROM e e1
       JOIN e e2 ON e1.b = e2.a
       JOIN e e3 ON e3.a = e1.a AND e3.b = e2.b""",
)
def triangle_count_handoff_graph(spark, sf_dir):
    """Global triangle count over the undirected user hand-off graph
    — the clustering-structure metric (community cohesion) computed
    the distributed way: orient every edge low-id -> high-id, then
    count paths a<b<c where (a,b),(b,c),(a,c) all exist via two
    equi-joins. The orientation makes each triangle count exactly
    once and bounds the join fan-out by the lower-id endpoint's
    degree (the standard skew guard for power-law graphs). Distinct
    edge set keeps the joins on integer pairs; all-integer output."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("event_type").orderBy(
        F.unix_timestamp("ts"), "event_id"
    )
    raw = ev.select(
        F.col("user_id").alias("src"), F.lead("user_id").over(w).alias("dst")
    ).filter(F.col("dst").isNotNull() & (F.col("dst") != F.col("src")))
    e = raw.select(
        F.least("src", "dst").alias("a"), F.greatest("src", "dst").alias("b")
    ).distinct()
    e1 = e.alias("e1")
    e2 = e.select(F.col("a").alias("b2a"), F.col("b").alias("b2b"))
    e3 = e.select(F.col("a").alias("b3a"), F.col("b").alias("b3b"))
    tri = (
        e1.join(e2, F.col("e1.b") == F.col("b2a"))
        .join(e3, (F.col("b3a") == F.col("e1.a")) & (F.col("b3b") == F.col("b2b")))
    )
    return tri.agg(F.count(F.lit(1)).alias("n_triangles")).crossJoin(
        F.broadcast(e.agg(F.count(F.lit(1)).alias("n_edges")))
    )


@q(
    "seasonal_residual_anomalies",
    """WITH daily AS (
         SELECT event_type, CAST(ts AS DATE) AS d,
                dayofweek(CAST(ts AS TIMESTAMP)) AS dow,
                ROUND(SUM(value), 4) AS v
         FROM events GROUP BY 1, 2, 3),
       base AS (
         SELECT event_type, dow,
                AVG(v) AS mu, stddev_samp(v) AS sigma
         FROM daily GROUP BY 1, 2)
       SELECT daily.event_type, d,
              ROUND((v - mu) / sigma, 4) AS resid_z
       FROM daily JOIN base ON daily.event_type = base.event_type
                          AND daily.dow = base.dow
       WHERE sigma > 0
         AND ABS(ROUND((v - mu) / sigma, 4)) > 1.2""",
)
def seasonal_residual_anomalies(spark, sf_dir):
    """Seasonality-aware anomaly days: daily totals compared against
    that series' *day-of-week* baseline (mean/std per (type, dow)),
    not the global mean — a Monday spike is judged against Mondays.
    The refinement over zscore_anomaly_days: weekly-seasonal traffic
    stops tripping the alarm. Baselines are |types| x 7 rows,
    broadcast back; the gate compares the rounded z on both engines
    so no boundary flips. Threshold 1.2: with a one-month fixture a
    (type, dow) cell holds ~4 samples and |z| is capped at
    (n-1)/sqrt(n) ≈ 1.5, so a production-style 3-sigma gate would be
    vacuous here."""
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type",
        F.to_date("ts").alias("d"),
        F.dayofweek("ts").alias("dow"),
    ).agg(F.round(F.sum("value"), 4).alias("v"))
    base = daily.groupBy("event_type", "dow").agg(
        F.avg("v").alias("mu"), F.stddev_samp("v").alias("sigma")
    )
    z = F.round((F.col("v") - F.col("mu")) / F.col("sigma"), 4)
    return (
        daily.join(F.broadcast(base), ["event_type", "dow"])
        .filter(F.col("sigma") > 0)
        .select("event_type", "d", z.alias("resid_z"))
        .filter(F.abs(F.col("resid_z")) > 1.2)
    )


@q(
    "cumulative_distinct_users_by_type",
    """WITH du AS (
         SELECT DISTINCT event_type, CAST(ts AS DATE) AS d, user_id
         FROM events)
       SELECT DISTINCT event_type, d,
              COUNT(DISTINCT user_id) OVER (
                PARTITION BY event_type ORDER BY d
                RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                AS cum_users
       FROM du""",
)
def cumulative_distinct_users_by_type(spark, sf_dir):
    """Cumulative distinct-user curve per series — Spark has no
    COUNT(DISTINCT) window, so the engine rewrites it with the
    first-appearance identity: a user's first active day is the only
    day they increment the curve, so cum_users(d) = running sum of
    first-appearance counts. Three bounded aggregates instead of a
    per-row distinct-set window state (which holds every user id seen
    so far PER ROW at 100 TB). The oracle runs DuckDB's *native*
    distinct window over a RANGE frame, cross-validating the rewrite
    against an independent implementation, same-day peers included."""
    ev = load_table(spark, sf_dir, "events")
    du = ev.select(
        "event_type", F.to_date("ts").alias("d"), "user_id"
    ).distinct()
    firsts = du.groupBy("event_type", "user_id").agg(F.min("d").alias("fd"))
    newby = firsts.groupBy("event_type", F.col("fd").alias("d")).agg(
        F.count(F.lit(1)).alias("new_users")
    )
    days = du.select("event_type", "d").distinct()
    j = days.join(newby, ["event_type", "d"], "left").select(
        "event_type", "d", F.coalesce("new_users", F.lit(0)).alias("new_users")
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("d")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return j.select(
        "event_type", "d", F.sum("new_users").over(w).alias("cum_users")
    )


@q(
    "longest_event_streak_per_user",
    """WITH seq AS (
         SELECT user_id, event_type, ts, event_id,
                ROW_NUMBER() OVER (PARTITION BY user_id
                                   ORDER BY ts, event_id) AS rn,
                ROW_NUMBER() OVER (PARTITION BY user_id, event_type
                                   ORDER BY ts, event_id) AS rn_type
         FROM events),
       islands AS (
         SELECT user_id, event_type, rn - rn_type AS grp, COUNT(*) AS streak
         FROM seq GROUP BY 1, 2, 3),
       best AS (
         SELECT user_id, event_type, streak,
                ROW_NUMBER() OVER (PARTITION BY user_id
                                   ORDER BY streak DESC, event_type ASC) AS rk
         FROM islands)
       SELECT user_id, event_type AS streak_type,
              CAST(streak AS INTEGER) AS max_streak
       FROM best WHERE rk = 1""",
)
def longest_event_streak_per_user(spark, sf_dir):
    """Longest same-type run in each user's event sequence — computed
    as ONE map-side array fold over the time-sorted per-user event
    list (aggregate() carrying (current_type, current_run, best_type,
    best_run) state), against the classic two-window gaps-and-islands
    SQL as the oracle. The fold replaces three window passes + two
    aggregations with one user-grain shuffle; tie on streak length
    resolves to the lexicographically first type in both
    formulations. The array state is O(events-per-user) — the scale
    guard is the same per-user bound sessionization already assumes."""
    ev = load_table(spark, sf_dir, "events")
    seq = ev.groupBy("user_id").agg(
        F.array_sort(
            F.collect_list(F.struct("ts", "event_id", "event_type"))
        ).alias("evs")
    )
    types = F.transform(F.col("evs"), lambda s: s.event_type)
    # fold state: (cur_type, cur_run, best_type, best_run)
    init = F.struct(
        F.lit("").alias("ct"),
        F.lit(0).alias("cr"),
        F.lit("").alias("bt"),
        F.lit(0).alias("br"),
    )

    def step(acc, t):
        cr = F.when(t == acc.ct, acc.cr + 1).otherwise(F.lit(1))
        better = (cr > acc.br) | ((cr == acc.br) & (t < acc.bt))
        return F.struct(
            t.alias("ct"),
            cr.alias("cr"),
            F.when(better, t).otherwise(acc.bt).alias("bt"),
            F.when(better, cr).otherwise(acc.br).alias("br"),
        )

    folded = seq.select(
        "user_id", F.aggregate(types, init, step).alias("st")
    )
    return folded.select(
        "user_id",
        F.col("st.bt").alias("streak_type"),
        F.col("st.br").alias("max_streak"),
    )


@q(
    "time_to_conversion_stats",
    """WITH firsts AS (
         SELECT user_id,
                MIN(CASE WHEN event_type = 'view' THEN ts END) AS first_view,
                MIN(CASE WHEN event_type = 'purchase' THEN ts END)
                  AS first_purchase
         FROM events GROUP BY 1),
       converted AS (
         SELECT user_id,
                CAST(FLOOR(epoch(first_purchase)) AS BIGINT)
                - CAST(FLOOR(epoch(first_view)) AS BIGINT) AS secs
         FROM firsts
         WHERE first_view IS NOT NULL AND first_purchase IS NOT NULL
           AND first_purchase > first_view)
       SELECT COUNT(*) AS n_converted,
              ROUND(AVG(secs), 4) AS mean_secs,
              ROUND(quantile_cont(secs, 0.5), 4) AS median_secs,
              ROUND(quantile_cont(secs, 0.9), 4) AS p90_secs,
              MIN(secs) AS min_secs,
              MAX(secs) AS max_secs
       FROM converted""",
)
def time_to_conversion_stats(spark, sf_dir):
    """Milestone timing — seconds from a user's FIRST view to their
    FIRST subsequent purchase, summarized with exact percentiles.
    The milestone extraction is conditional MIN aggregation (no
    window, no self-join): one user-grain shuffle, then a 1-row
    statistics aggregate. The funnel's companion metric: how LONG
    conversion takes, not just whether it happens."""
    ev = load_table(spark, sf_dir, "events")
    firsts = ev.groupBy("user_id").agg(
        F.min(F.when(F.col("event_type") == "view", F.col("ts"))).alias(
            "first_view"
        ),
        F.min(F.when(F.col("event_type") == "purchase", F.col("ts"))).alias(
            "first_purchase"
        ),
    )
    secs = (
        F.unix_micros(F.col("first_purchase").cast("timestamp")) / 1_000_000
    ).cast("bigint") - (
        F.unix_micros(F.col("first_view").cast("timestamp")) / 1_000_000
    ).cast("bigint")
    converted = firsts.filter(
        F.col("first_view").isNotNull()
        & F.col("first_purchase").isNotNull()
        & (F.col("first_purchase") > F.col("first_view"))
    ).select(secs.alias("secs"))
    return converted.agg(
        F.count(F.lit(1)).alias("n_converted"),
        F.round(F.avg("secs"), 4).alias("mean_secs"),
        F.round(F.expr("percentile(secs, 0.5)"), 4).alias("median_secs"),
        F.round(F.expr("percentile(secs, 0.9)"), 4).alias("p90_secs"),
        F.min("secs").alias("min_secs"),
        F.max("secs").alias("max_secs"),
    )


@q(
    "user_activity_gini",
    """WITH counts AS (
         SELECT user_id, COUNT(*) AS n FROM events GROUP BY 1),
       ranked AS (
         SELECT n,
                ROW_NUMBER() OVER (ORDER BY n ASC, user_id ASC) AS i
         FROM counts),
       agg AS (
         SELECT COUNT(*) AS k,
                SUM(n) AS total,
                SUM(CAST(i AS DOUBLE) * n) AS weighted
         FROM ranked)
       SELECT k AS n_users, CAST(total AS BIGINT) AS n_events,
              ROUND(2.0 * weighted / (k * total) - (k + 1.0) / k, 6) AS gini
       FROM agg""",
)
def user_activity_gini(spark, sf_dir):
    """Gini coefficient of per-user activity — the concentration
    metric behind 'do a few power users dominate the stream?' (and,
    at 100 TB, a direct predictor of shuffle-key skew: high Gini on
    the join key means salting will pay). Computed by the sorted-rank
    identity G = 2·Σ(i·x_i)/(k·Σx) − (k+1)/k: one key-grain count,
    one global-order rank over the (small) per-user aggregate, one
    scalar aggregate."""
    ev = load_table(spark, sf_dir, "events")
    counts = ev.groupBy("user_id").agg(F.count(F.lit(1)).alias("n"))
    ranked = counts.select(
        "n",
        F.row_number()
        # bounded-grain: user grain after groupBy; Gini needs a global
        # rank — 100 TB path = Lorenz from binned activity histogram
        .over(Window.orderBy(F.asc("n"), F.asc("user_id")))
        .alias("i"),
    )
    agg = ranked.agg(
        F.count(F.lit(1)).alias("k"),
        F.sum("n").alias("total"),
        F.sum(F.col("i").cast("double") * F.col("n")).alias("weighted"),
    )
    return agg.select(
        F.col("k").alias("n_users"),
        F.col("total").alias("n_events"),
        F.round(
            2.0 * F.col("weighted") / (F.col("k") * F.col("total"))
            - (F.col("k") + 1.0) / F.col("k"),
            6,
        ).alias("gini"),
    )


@q(
    "top_event_trigrams",
    """WITH seq AS (
         SELECT user_id, event_type AS a,
                LEAD(event_type, 1) OVER w AS b,
                LEAD(event_type, 2) OVER w AS c
         FROM events
         WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id))
       SELECT a, b, c, COUNT(*) AS n_paths
       FROM seq WHERE b IS NOT NULL AND c IS NOT NULL
       GROUP BY 1, 2, 3
       ORDER BY n_paths DESC, a ASC, b ASC, c ASC
       LIMIT 15""",
)
def top_event_trigrams(spark, sf_dir):
    """Sequence mining one order up from the transition matrix: the
    15 most common 3-step behavioral paths per user timeline (two
    lead windows sharing one user partitioning + one trigram-grain
    aggregate). The jump from bigrams to trigrams is where funnels
    reveal DETOURS (view→click→view vs view→click→purchase) that
    pairwise transitions cannot distinguish."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        F.col("event_type").alias("a"),
        F.lead("event_type", 1).over(w).alias("b"),
        F.lead("event_type", 2).over(w).alias("c"),
    ).filter(F.col("b").isNotNull() & F.col("c").isNotNull())
    return (
        seq.groupBy("a", "b", "c")
        .agg(F.count(F.lit(1)).alias("n_paths"))
        .orderBy(F.desc("n_paths"), F.asc("a"), F.asc("b"), F.asc("c"))
        .limit(15)
    )


@q(
    "ks_two_sample",
    """WITH vals AS (
         SELECT value,
                CASE WHEN event_type = 'click' THEN 1 ELSE 0 END AS g1,
                CASE WHEN event_type = 'view' THEN 1 ELSE 0 END AS g2
         FROM events WHERE event_type IN ('click', 'view')),
       per_val AS (
         SELECT value, SUM(g1) AS k1, SUM(g2) AS k2
         FROM vals GROUP BY 1),
       tot AS (SELECT SUM(k1) AS n1, SUM(k2) AS n2 FROM per_val),
       cum AS (
         SELECT SUM(k1) OVER (ORDER BY value
                              ROWS BETWEEN UNBOUNDED PRECEDING
                              AND CURRENT ROW) AS c1,
                SUM(k2) OVER (ORDER BY value
                              ROWS BETWEEN UNBOUNDED PRECEDING
                              AND CURRENT ROW) AS c2
         FROM per_val),
       d AS (
         SELECT MAX(ABS(c1 * (SELECT n2 FROM tot)
                        - c2 * (SELECT n1 FROM tot))) AS d_num
         FROM cum)
       SELECT CAST(n1 AS BIGINT) AS n1,
              CAST(n2 AS BIGINT) AS n2,
              CAST(d_num AS BIGINT) AS d_num,
              ROUND(CAST(d_num AS DOUBLE) / (n1 * n2), 6) AS ks_d,
              CAST(CASE WHEN 1000000 * CAST(d_num AS HUGEINT) * d_num
                          > 1844164 * CAST(n1 + n2 AS HUGEINT) * n1 * n2
                        THEN 1 ELSE 0 END AS INT) AS reject_05
       FROM d CROSS JOIN tot""",
)
def ks_two_sample(spark, sf_dir):
    """Two-sample Kolmogorov-Smirnov test (click vs view value
    distributions): D = max |F1 - F2| over the pooled support,
    computed ENTIRELY in integers — per-value group counts, one
    cumulative window, and the sup as max |c1*n2 - c2*n1| — so both
    engines agree exactly; the only doubles are cosmetic. The 5%
    decision (critical value 1.358*sqrt((n1+n2)/(n1*n2))) is
    cross-squared into integer arithmetic (1e6*D_num^2 vs
    1844164*(n1+n2)*n1*n2, HUGEINT/DECIMAL(38,0)), so even the reject
    flag cannot flip on an ulp. The cumulative window is a global
    order over DISTINCT values — bounded by value cardinality; at
    100 TB, pre-bin values (the test on binned data is the standard
    large-n variant) or range-partition the prefix sums."""
    ev = load_table(spark, sf_dir, "events").filter(
        F.col("event_type").isin("click", "view")
    )
    per_val = ev.groupBy("value").agg(
        F.sum(
            F.when(F.col("event_type") == "click", 1).otherwise(0)
        ).alias("k1"),
        F.sum(
            F.when(F.col("event_type") == "view", 1).otherwise(0)
        ).alias("k2"),
    )
    tot = per_val.agg(
        F.sum("k1").alias("n1"), F.sum("k2").alias("n2")
    )
    # bounded-grain: distinct-value grain after groupBy
    w = Window.orderBy("value").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    cum = per_val.select(
        F.sum("k1").over(w).alias("c1"), F.sum("k2").over(w).alias("c2")
    )
    d = (
        cum.join(F.broadcast(tot))
        .select(
            F.abs(
                F.col("c1") * F.col("n2") - F.col("c2") * F.col("n1")
            ).alias("dn")
        )
        .agg(F.max("dn").alias("d_num"))
    )
    dec = "decimal(38,0)"
    return (
        d.join(F.broadcast(tot))
        .select(
            F.col("n1").cast("long").alias("n1"),
            F.col("n2").cast("long").alias("n2"),
            F.col("d_num").cast("long").alias("d_num"),
            F.round(
                F.col("d_num").cast("double") / (F.col("n1") * F.col("n2")),
                6,
            ).alias("ks_d"),
            (
                F.lit(1000000).cast(dec)
                * F.col("d_num").cast(dec)
                * F.col("d_num").cast(dec)
                > F.lit(1844164).cast(dec)
                * (F.col("n1") + F.col("n2")).cast(dec)
                * F.col("n1").cast(dec)
                * F.col("n2").cast(dec)
            )
            .cast("int")
            .alias("reject_05"),
        )
    )


@q(
    "mann_whitney_u",
    """WITH vals AS (
         SELECT value,
                CASE WHEN event_type = 'click' THEN 1 ELSE 0 END AS g1,
                CASE WHEN event_type = 'view' THEN 1 ELSE 0 END AS g2
         FROM events WHERE event_type IN ('click', 'view')),
       per_val AS (
         SELECT value, SUM(g1) AS k1, SUM(g2) AS k2,
                SUM(g1) + SUM(g2) AS c
         FROM vals GROUP BY 1),
       ranked AS (
         SELECT k1, c,
                COALESCE(SUM(c) OVER (ORDER BY value
                                      ROWS BETWEEN UNBOUNDED PRECEDING
                                      AND 1 PRECEDING), 0) AS prior
         FROM per_val),
       tot AS (SELECT SUM(k1) AS n1, SUM(k2) AS n2
               FROM per_val),
       rsum AS (
         -- doubled rank sum of group 1 with average ranks for ties:
         -- tie block starting after `prior` of size c contributes
         -- k1 * (2*(prior+1) + c - 1) — all integers
         SELECT SUM(k1 * (2 * (prior + 1) + c - 1)) AS r1_x2
         FROM ranked)
       SELECT CAST(n1 AS BIGINT) AS n1,
              CAST(n2 AS BIGINT) AS n2,
              CAST(r1_x2 AS BIGINT) AS r1_x2,
              CAST(r1_x2 - n1 * (n1 + 1) AS BIGINT) AS u1_x2,
              ROUND((CAST(r1_x2 - n1 * (n1 + 1) AS DOUBLE) / 2
                     - n1 * n2 / 2.0)
                    / SQRT(n1 * n2 * (n1 + n2 + 1) / 12.0), 4) AS z,
              CAST(CASE WHEN 30000
                          * CAST(r1_x2 - n1 * (n1 + 1) - n1 * n2 AS HUGEINT)
                          * (r1_x2 - n1 * (n1 + 1) - n1 * n2)
                          > 38416 * CAST(n1 AS HUGEINT) * n2 * (n1 + n2 + 1)
                        THEN 1 ELSE 0 END AS INT) AS reject_05
       FROM rsum CROSS JOIN tot""",
)
def mann_whitney_u(spark, sf_dir):
    """Mann-Whitney U rank-sum test (click vs view): average-rank tie
    handling carried in DOUBLED integer ranks (a tie block after
    ``prior`` pooled rows of size c contributes k1*(2*(prior+1)+c-1)
    to 2*R1), so the statistic is exact in both engines; z is the
    normal approximation (no tie-variance correction, documented) and
    the 5% decision is cross-squared into HUGEINT/DECIMAL(38,0)
    integers: 30000*(2U1 - n1*n2)^2 > 38416*n1*n2*(n1+n2+1). Same
    distinct-value cumulative-window topology as ks_two_sample."""
    ev = load_table(spark, sf_dir, "events").filter(
        F.col("event_type").isin("click", "view")
    )
    per_val = ev.groupBy("value").agg(
        F.sum(
            F.when(F.col("event_type") == "click", 1).otherwise(0)
        ).alias("k1"),
        F.sum(
            F.when(F.col("event_type") == "view", 1).otherwise(0)
        ).alias("k2"),
    ).withColumn("c", F.col("k1") + F.col("k2"))
    # bounded-grain: distinct-value grain after groupBy
    w = Window.orderBy("value").rowsBetween(
        Window.unboundedPreceding, -1
    )
    ranked = per_val.select(
        "k1",
        "c",
        F.coalesce(F.sum("c").over(w), F.lit(0)).alias("prior"),
    )
    tot = per_val.agg(
        F.sum("k1").alias("n1"), F.sum("k2").alias("n2")
    )
    rsum = ranked.agg(
        F.sum(
            F.col("k1") * (2 * (F.col("prior") + 1) + F.col("c") - 1)
        ).alias("r1_x2")
    )
    dec = "decimal(38,0)"
    u1_x2 = F.col("r1_x2") - F.col("n1") * (F.col("n1") + 1)
    diff_x2 = u1_x2 - F.col("n1") * F.col("n2")
    return (
        rsum.join(F.broadcast(tot))
        .select(
            F.col("n1").cast("long").alias("n1"),
            F.col("n2").cast("long").alias("n2"),
            F.col("r1_x2").cast("long").alias("r1_x2"),
            u1_x2.cast("long").alias("u1_x2"),
            F.round(
                (u1_x2.cast("double") / 2
                 - F.col("n1") * F.col("n2") / 2.0)
                / F.sqrt(
                    F.col("n1") * F.col("n2")
                    * (F.col("n1") + F.col("n2") + 1) / 12.0
                ),
                4,
            ).alias("z"),
            (
                F.lit(30000).cast(dec) * diff_x2.cast(dec) * diff_x2.cast(dec)
                > F.lit(38416).cast(dec)
                * F.col("n1").cast(dec)
                * F.col("n2").cast(dec)
                * (F.col("n1") + F.col("n2") + 1).cast(dec)
            )
            .cast("int")
            .alias("reject_05"),
        )
    )


@q(
    "adamic_adar_link_prediction",
    """WITH raw AS (
         SELECT user_id AS src,
                LEAD(user_id) OVER (PARTITION BY event_type
                    ORDER BY CAST(FLOOR(epoch(ts)) AS BIGINT), event_id) AS dst
         FROM events),
       e AS (
         SELECT DISTINCT LEAST(src, dst) AS a, GREATEST(src, dst) AS b
         FROM raw WHERE dst IS NOT NULL AND dst <> src),
       adj AS (
         SELECT a AS u, b AS w FROM e
         UNION ALL
         SELECT b AS u, a AS w FROM e),
       deg AS (SELECT w, COUNT(*) AS d FROM adj GROUP BY 1),
       centers AS (SELECT w, d FROM deg WHERE d BETWEEN 2 AND 50),
       wedges AS (
         SELECT x.u AS u, y.u AS v, c.d
         FROM adj x
         JOIN centers c ON x.w = c.w
         JOIN adj y ON y.w = c.w AND x.u < y.u),
       scored AS (
         SELECT u, v,
                ROUND(SUM(1.0 / ln(CAST(d AS DOUBLE))), 6) AS aa_score,
                CAST(COUNT(*) AS BIGINT) AS n_common
         FROM wedges GROUP BY 1, 2),
       nonedge AS (
         SELECT s.* FROM scored s
         LEFT JOIN e ON e.a = s.u AND e.b = s.v
         WHERE e.a IS NULL)
       SELECT u, v, aa_score, n_common FROM nonedge
       ORDER BY aa_score DESC, u, v LIMIT 20""",
)
def adamic_adar_link_prediction(spark, sf_dir):
    """Adamic-Adar link prediction over the user hand-off graph: for
    every NON-edge (u,v) sharing at least one neighbor, score
    sum(1/ln(deg(w))) over the common neighbors w — rare shared
    contacts weigh more than hubs — and rank the top 20 predicted
    links. The wedge enumeration fans out from each CENTER w via two
    equi-joins on w, with hub centers (deg > 50) excluded: that caps
    the per-center fan-out at deg^2 <= 2500 (the standard power-law
    skew guard; hubs contribute ~1/ln(d) ~ 0 anyway), which is what
    keeps the join linear-ish at 100 TB instead of quadratic in the
    hottest key. Non-edges via LEFT anti semantics on the oriented
    distinct edge set; score rounded before the deterministic
    (score desc, u, v) ranking."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("event_type").orderBy(
        F.unix_timestamp("ts"), "event_id"
    )
    raw = ev.select(
        F.col("user_id").alias("src"), F.lead("user_id").over(w).alias("dst")
    ).filter(F.col("dst").isNotNull() & (F.col("dst") != F.col("src")))
    e = raw.select(
        F.least("src", "dst").alias("a"), F.greatest("src", "dst").alias("b")
    ).distinct()
    adj = e.select(F.col("a").alias("u"), F.col("b").alias("w")).unionAll(
        e.select(F.col("b").alias("u"), F.col("a").alias("w"))
    )
    deg = adj.groupBy("w").agg(F.count(F.lit(1)).alias("d"))
    centers = deg.filter((F.col("d") >= 2) & (F.col("d") <= 50))
    x = adj.alias("x")
    y = adj.select(F.col("u").alias("v"), F.col("w").alias("w2"))
    wedges = (
        x.join(centers, "w")
        .join(y, (F.col("w2") == F.col("w")) & (F.col("x.u") < F.col("v")))
        .select(F.col("x.u").alias("u"), "v", "d")
    )
    scored = wedges.groupBy("u", "v").agg(
        F.round(F.sum(1.0 / F.log(F.col("d").cast("double"))), 6).alias(
            "aa_score"
        ),
        F.count(F.lit(1)).cast("long").alias("n_common"),
    )
    nonedge = scored.join(
        e,
        (F.col("a") == F.col("u")) & (F.col("b") == F.col("v")),
        "left_anti",
    )
    return nonedge.orderBy(F.desc("aa_score"), "u", "v").limit(20)


@q(
    "kaplan_meier_conversion",
    """WITH horizon AS (SELECT MAX(ts) AS h FROM events),
       first_view AS (
         SELECT user_id, MIN(ts) AS t0 FROM events
         WHERE event_type = 'view' GROUP BY 1),
       first_buy AS (
         SELECT f.user_id, MIN(e.ts) AS tp
         FROM first_view f JOIN events e
           ON e.user_id = f.user_id AND e.event_type = 'purchase'
          AND e.ts > f.t0
         GROUP BY 1),
       spells AS (
         SELECT f.user_id,
                CAST(FLOOR((epoch_us(COALESCE(b.tp, horizon.h))
                            - epoch_us(f.t0)) / 3600e6) AS BIGINT)
                  AS dur_h,
                CASE WHEN b.tp IS NULL THEN 0 ELSE 1 END AS ev
         FROM first_view f
         LEFT JOIN first_buy b ON f.user_id = b.user_id
         CROSS JOIN horizon),
       times AS (
         SELECT dur_h AS t, CAST(SUM(ev) AS BIGINT) AS d
         FROM spells GROUP BY 1 HAVING SUM(ev) > 0),
       risk AS (
         SELECT t.t, t.d,
                (SELECT CAST(COUNT(*) AS BIGINT) FROM spells s
                 WHERE s.dur_h >= t.t) AS n_risk
         FROM times t),
       km AS (
         SELECT t, d, n_risk,
                ROUND(EXP(SUM(LN(1.0 - d / CAST(n_risk AS DOUBLE)))
                      OVER (ORDER BY t
                            ROWS UNBOUNDED PRECEDING)), 6) AS s_t
         FROM risk WHERE d < n_risk)
       SELECT CAST(t AS BIGINT) AS hours_since_first_view,
              n_risk, d AS n_converted, s_t AS survival
       FROM km ORDER BY t LIMIT 20""",
)
def kaplan_meier_conversion(spark, sf_dir):
    """Kaplan-Meier view→purchase conversion curve WITH right
    censoring — the estimator time_to_conversion_stats cannot give:
    users who never purchase are not dropped (that biases conversion
    fast) but CENSORED at the observation horizon, contributing to
    the at-risk set until their last observed hour. S(t) accumulates
    as exp(running sum of ln(1 - d/n)) over the ordered event hours —
    a prefix sum of logs of exact integer ratios, the
    cross-engine-stable form of the product-limit. The at-risk counts
    are a threshold self-aggregation over the hour-grain spell table
    (hours x users pairs, calendar-bounded). First 20 event hours
    emitted."""
    ev = load_table(spark, sf_dir, "events")
    horizon = ev.agg(F.max("ts").alias("h"))
    first_view = (
        ev.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts").alias("t0"))
    )
    buys = ev.filter(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("bu"), F.col("ts").alias("bts")
    )
    first_buy = (
        first_view.join(
            buys,
            (F.col("bu") == F.col("user_id"))
            & (F.col("bts") > F.col("t0")),
        )
        .groupBy("user_id")
        .agg(F.min("bts").alias("tp"))
    )
    spells = (
        first_view.join(first_buy, "user_id", "left")
        .crossJoin(F.broadcast(horizon))
        .select(
            "user_id",
            F.floor(
                (
                    F.unix_micros(F.coalesce("tp", "h"))
                    - F.unix_micros("t0")
                )
                / 3600e6
            )
            .cast("long")
            .alias("dur_h"),
            F.when(F.col("tp").isNull(), 0).otherwise(1).alias("ev"),
        )
    )
    times = (
        spells.groupBy(F.col("dur_h").alias("t"))
        .agg(F.sum("ev").cast("long").alias("d"))
        .filter(F.col("d") > 0)
    )
    risk = times.join(
        spells.select("dur_h"),
        F.col("dur_h") >= F.col("t"),
    ).groupBy("t", "d").agg(
        F.count(F.lit(1)).cast("long").alias("n_risk")
    )
    # bounded-grain: threshold-grid grain (few dozen t values)
    w = Window.orderBy("t").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    km = risk.filter(F.col("d") < F.col("n_risk")).select(
        "t",
        "d",
        "n_risk",
        F.round(
            F.exp(
                F.sum(
                    F.log(1.0 - F.col("d") / F.col("n_risk").cast("double"))
                ).over(w)
            ),
            6,
        ).alias("s_t"),
    )
    return (
        km.select(
            F.col("t").cast("long").alias("hours_since_first_view"),
            "n_risk",
            F.col("d").alias("n_converted"),
            F.col("s_t").alias("survival"),
        )
        .orderBy("hours_since_first_view")
        .limit(20)
    )


@q(
    "ab_proportion_ztest",
    """WITH cohort AS (
         SELECT user_id, user_id % 2 AS arm,
                MAX(CASE WHEN event_type = 'purchase' AND value >= 200
                         THEN 1 ELSE 0 END) AS converted
         FROM events GROUP BY 1, 2),
       agg AS (
         SELECT CAST(SUM(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS DOUBLE)
                  AS n0,
                CAST(SUM(CASE WHEN arm = 0 THEN converted ELSE 0 END)
                     AS DOUBLE) AS c0,
                CAST(SUM(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS DOUBLE)
                  AS n1,
                CAST(SUM(CASE WHEN arm = 1 THEN converted ELSE 0 END)
                     AS DOUBLE) AS c1
         FROM cohort)
       SELECT CAST(n0 AS BIGINT) AS n_control,
              CAST(c0 AS BIGINT) AS conv_control,
              CAST(n1 AS BIGINT) AS n_treatment,
              CAST(c1 AS BIGINT) AS conv_treatment,
              ROUND(c0 / n0, 6) AS p_control,
              ROUND(c1 / n1, 6) AS p_treatment,
              CASE WHEN c0 + c1 > 0 AND c0 + c1 < n0 + n1 THEN
                ROUND((c1 / n1 - c0 / n0)
                      / SQRT(((c0 + c1) / (n0 + n1))
                             * (1 - (c0 + c1) / (n0 + n1))
                             * (1 / n0 + 1 / n1)), 4)
              END AS z_stat
       FROM agg WHERE n0 > 0 AND n1 > 0""",
)
def ab_proportion_ztest(spark, sf_dir):
    """Two-proportion pooled z-test between the even/odd user-id
    arms' HIGH-VALUE purchase conversion (a purchase with value >=
    200 — the plain any-purchase flag saturates to 100% on this
    fixture, where the pooled variance and the test degenerate; the
    degenerate all-or-nothing case emits NULL z on both engines).
    Conversion flags and arm counts are exact integers; the
    pooled-variance z is one closed form over a 4-number aggregate,
    so the whole test is a map-side-combined groupBy plus arithmetic
    — nothing about it changes at 100 TB."""
    ev = load_table(spark, sf_dir, "events")
    cohort = ev.groupBy(
        "user_id", (F.col("user_id") % 2).alias("arm")
    ).agg(
        F.max(
            F.when(
                (F.col("event_type") == "purchase")
                & (F.col("value") >= 200),
                1,
            ).otherwise(0)
        ).alias("converted")
    )
    agg = cohort.agg(
        F.sum(F.when(F.col("arm") == 0, 1).otherwise(0))
        .cast("double")
        .alias("n0"),
        F.sum(F.when(F.col("arm") == 0, F.col("converted")).otherwise(0))
        .cast("double")
        .alias("c0"),
        F.sum(F.when(F.col("arm") == 1, 1).otherwise(0))
        .cast("double")
        .alias("n1"),
        F.sum(F.when(F.col("arm") == 1, F.col("converted")).otherwise(0))
        .cast("double")
        .alias("c1"),
    )
    n0, c0, n1, c1 = (F.col(x) for x in ("n0", "c0", "n1", "c1"))
    pp = (c0 + c1) / (n0 + n1)
    return agg.filter((n0 > 0) & (n1 > 0)).select(
        n0.cast("long").alias("n_control"),
        c0.cast("long").alias("conv_control"),
        n1.cast("long").alias("n_treatment"),
        c1.cast("long").alias("conv_treatment"),
        F.round(c0 / n0, 6).alias("p_control"),
        F.round(c1 / n1, 6).alias("p_treatment"),
        F.when(
            (c0 + c1 > 0) & (c0 + c1 < n0 + n1),
            F.round(
                (c1 / n1 - c0 / n0)
                / F.sqrt(pp * (1 - pp) * (1 / n0 + 1 / n1)),
                4,
            ),
        ).alias("z_stat"),
    )


@q(
    "degree_powerlaw_fit",
    """WITH raw AS (
         SELECT user_id AS src,
                LEAD(user_id) OVER (PARTITION BY event_type
                    ORDER BY CAST(FLOOR(epoch(ts)) AS BIGINT), event_id) AS dst
         FROM events),
       e AS (
         SELECT DISTINCT LEAST(src, dst) AS a, GREATEST(src, dst) AS b
         FROM raw WHERE dst IS NOT NULL AND dst <> src),
       adj AS (
         SELECT a AS u FROM e UNION ALL SELECT b AS u FROM e),
       deg AS (SELECT u, CAST(COUNT(*) AS BIGINT) AS d FROM adj
               GROUP BY 1),
       hist AS (SELECT d, CAST(COUNT(*) AS BIGINT) AS n_nodes
                FROM deg GROUP BY 1),
       ranked AS (
         SELECT d, n_nodes,
                SUM(n_nodes) OVER (ORDER BY d DESC) AS n_geq
         FROM hist)
       SELECT CAST(d AS BIGINT) AS degree, n_nodes,
              CAST(n_geq AS BIGINT) AS n_nodes_geq,
              ROUND(REGR_SLOPE(LN(CAST(n_geq AS DOUBLE)),
                               LN(CAST(d AS DOUBLE))) OVER (), 4)
                AS ccdf_loglog_slope
       FROM ranked ORDER BY degree""",
)
def degree_powerlaw_fit(spark, sf_dir):
    """Degree distribution of the user hand-off graph with a
    power-law probe: the complementary CDF (nodes with degree >= d)
    against d on log-log axes, and its regression slope (a straight
    CCDF with slope -(alpha-1) is the scale-free signature; a steep
    convex drop means the graph is skew-safe for the equi-join
    algorithms upstream — the same question the Adamic-Adar hub cap
    answers by fiat). The CCDF is one descending cumulative window
    over the degree histogram; the slope is a window aggregate over
    the same tiny table."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("event_type").orderBy(
        F.unix_timestamp("ts"), "event_id"
    )
    raw = ev.select(
        F.col("user_id").alias("src"), F.lead("user_id").over(w).alias("dst")
    ).filter(F.col("dst").isNotNull() & (F.col("dst") != F.col("src")))
    e = raw.select(
        F.least("src", "dst").alias("a"), F.greatest("src", "dst").alias("b")
    ).distinct()
    adj = e.select(F.col("a").alias("u")).unionAll(
        e.select(F.col("b").alias("u"))
    )
    deg = adj.groupBy("u").agg(F.count(F.lit(1)).cast("long").alias("d"))
    hist = deg.groupBy("d").agg(
        F.count(F.lit(1)).cast("long").alias("n_nodes")
    )
    # bounded-grain: distinct-degree grain (degree histogram rows)
    wd = Window.orderBy(F.desc("d")).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    ranked = hist.withColumn("n_geq", F.sum("n_nodes").over(wd))
    wall = Window.partitionBy()
    return ranked.select(
        F.col("d").alias("degree"),
        "n_nodes",
        F.col("n_geq").cast("long").alias("n_nodes_geq"),
        F.round(
            F.regr_slope(
                F.ln(F.col("n_geq").cast("double")),
                F.ln(F.col("d").cast("double")),
            ).over(wall),
            4,
        ).alias("ccdf_loglog_slope"),
    ).orderBy("degree")


# ----------------------------------------------- round-8 graph metrics


@q(
    "degree_assortativity_handoff",
    """WITH raw AS (
         SELECT user_id AS src,
                LEAD(user_id) OVER (PARTITION BY event_type
                    ORDER BY CAST(FLOOR(epoch(ts)) AS BIGINT), event_id) AS dst
         FROM events),
       e AS (
         SELECT DISTINCT LEAST(src, dst) AS a, GREATEST(src, dst) AS b
         FROM raw WHERE dst IS NOT NULL AND dst <> src),
       deg AS (
         SELECT v, CAST(COUNT(*) AS DOUBLE) AS d
         FROM (SELECT a AS v FROM e UNION ALL SELECT b FROM e)
         GROUP BY 1),
       ends AS (
         SELECT da.d AS dx, db.d AS dy FROM e
         JOIN deg da ON e.a = da.v JOIN deg db ON e.b = db.v),
       sym AS (
         SELECT dx, dy FROM ends UNION ALL SELECT dy, dx FROM ends)
       SELECT CAST(COUNT(*) / 2 AS BIGINT) AS n_edges,
              ROUND((AVG(dx * dy) - AVG(dx) * AVG(dy))
                    / NULLIF(STDDEV_POP(dx) * STDDEV_POP(dy), 0), 4)
                AS assortativity,
              ROUND(AVG(dx), 4) AS mean_end_degree
       FROM sym""",
)
def degree_assortativity_handoff(spark, sf_dir):
    """Degree assortativity of the user hand-off graph: the Pearson
    correlation of endpoint degrees over the SYMMETRIZED edge list
    (each undirected edge contributes both orientations — Newman's
    definition; correlating one arbitrary orientation biases r).
    Positive = hubs link hubs (social nets), negative = hub-and-spoke
    (the degree_powerlaw_fit companion that says how the heavy tail
    WIRES). Two broadcast-sized joins of the degree table onto the
    edge list; exact-integer degrees into a closed-form CORR."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("event_type").orderBy(
        F.unix_timestamp("ts"), "event_id"
    )
    raw = ev.select(
        F.col("user_id").alias("src"),
        F.lead("user_id").over(w).alias("dst"),
    ).filter(F.col("dst").isNotNull() & (F.col("dst") != F.col("src")))
    e = raw.select(
        F.least("src", "dst").alias("a"), F.greatest("src", "dst").alias("b")
    ).distinct()
    deg = (
        e.select(F.col("a").alias("v"))
        .unionByName(e.select(F.col("b").alias("v")))
        .groupBy("v")
        .agg(F.count(F.lit(1)).cast("double").alias("d"))
    )
    ends = (
        e.join(deg.withColumnRenamed("v", "a").withColumnRenamed("d", "dx"), "a")
        .join(deg.withColumnRenamed("v", "b").withColumnRenamed("d", "dy"), "b")
        .select("dx", "dy")
    )
    sym = ends.unionByName(ends.select(F.col("dy").alias("dx"), F.col("dx").alias("dy")))
    # explicit null-safe Pearson: ANSI-mode corr() raises
    # DIVIDE_BY_ZERO on a zero-variance side (tiny graphs), where
    # NULL is the honest answer — and the identical spelled-out
    # formula keeps both engines on the same expression
    r = (
        F.avg(F.col("dx") * F.col("dy")) - F.avg("dx") * F.avg("dy")
    ) / F.nullif(
        F.stddev_pop("dx") * F.stddev_pop("dy"), F.lit(0.0)
    )
    return sym.agg(
        (F.count(F.lit(1)) / 2).cast("long").alias("n_edges"),
        F.round(r, 4).alias("assortativity"),
        F.round(F.avg("dx"), 4).alias("mean_end_degree"),
    )


@q(
    "rich_club_coefficient",
    """WITH raw AS (
         SELECT user_id AS src,
                LEAD(user_id) OVER (PARTITION BY event_type
                    ORDER BY CAST(FLOOR(epoch(ts)) AS BIGINT), event_id) AS dst
         FROM events),
       e AS (
         SELECT DISTINCT LEAST(src, dst) AS a, GREATEST(src, dst) AS b
         FROM raw WHERE dst IS NOT NULL AND dst <> src),
       deg AS (
         SELECT v, COUNT(*) AS d
         FROM (SELECT a AS v FROM e UNION ALL SELECT b FROM e)
         GROUP BY 1),
       ks AS (SELECT UNNEST([5, 10, 20]) AS k),
       club AS (
         SELECT k.k, CAST(COUNT(*) AS BIGINT) AS n_club
         FROM deg CROSS JOIN ks k WHERE deg.d > k.k GROUP BY 1),
       club_edges AS (
         SELECT k.k, CAST(COUNT(*) AS BIGINT) AS e_club
         FROM e JOIN deg da ON e.a = da.v
                JOIN deg db ON e.b = db.v
         CROSS JOIN ks k
         WHERE da.d > k.k AND db.d > k.k
         GROUP BY 1)
       SELECT c.k, c.n_club,
              COALESCE(ce.e_club, 0) AS e_club,
              ROUND(2.0 * COALESCE(ce.e_club, 0)
                    / NULLIF(c.n_club * (c.n_club - 1), 0), 6)
                AS rich_club_phi
       FROM club c LEFT JOIN club_edges ce ON c.k = ce.k""",
)
def rich_club_coefficient(spark, sf_dir):
    """Rich-club coefficient φ(k) = 2·E_club/(n_club·(n_club−1)) for
    degree thresholds k ∈ {5, 10, 20}: do the highest-degree users
    form a densely interlinked core? Degrees join onto the edge list
    (broadcast-sized), the threshold grid is a 3-row constant cross
    join (sanctioned scalar-BNLJ), and φ is a ratio of exact
    integers — closed form, no iteration, unlike the peel-based
    k-core which is fixpoint-dependent."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("event_type").orderBy(
        F.unix_timestamp("ts"), "event_id"
    )
    raw = ev.select(
        F.col("user_id").alias("src"),
        F.lead("user_id").over(w).alias("dst"),
    ).filter(F.col("dst").isNotNull() & (F.col("dst") != F.col("src")))
    e = raw.select(
        F.least("src", "dst").alias("a"), F.greatest("src", "dst").alias("b")
    ).distinct()
    deg = (
        e.select(F.col("a").alias("v"))
        .unionByName(e.select(F.col("b").alias("v")))
        .groupBy("v")
        .agg(F.count(F.lit(1)).alias("d"))
    )
    ks = spark.createDataFrame([(5,), (10,), (20,)], "k int")
    club = (
        deg.crossJoin(F.broadcast(ks))
        .filter(F.col("d") > F.col("k"))
        .groupBy("k")
        .agg(F.count(F.lit(1)).cast("long").alias("n_club"))
    )
    club_edges = (
        e.join(
            deg.withColumnRenamed("v", "a").withColumnRenamed("d", "da"), "a"
        )
        .join(
            deg.withColumnRenamed("v", "b").withColumnRenamed("d", "db"), "b"
        )
        .crossJoin(F.broadcast(ks))
        .filter((F.col("da") > F.col("k")) & (F.col("db") > F.col("k")))
        .groupBy("k")
        .agg(F.count(F.lit(1)).cast("long").alias("e_club"))
    )
    return club.join(club_edges, "k", "left").select(
        "k",
        "n_club",
        F.coalesce("e_club", F.lit(0)).alias("e_club"),
        F.round(
            2.0
            * F.coalesce("e_club", F.lit(0))
            / F.nullif(
                (F.col("n_club") * (F.col("n_club") - 1)).cast("double"),
                F.lit(0.0),
            ),
            6,
        ).alias("rich_club_phi"),
    )
