"""Window-function and aggregate-surface extensions: distribution
windows (ntile / cume_dist / percent_rank), positional windows
(first / last / nth value), value-RANGE frames, native session
windows, sliding distinct-user actives (DAU/WAU/MAU), inter-event
gaps, and the bivariate aggregate suite (corr / covar / regr_*),
boolean aggregates, and accuracy-gated approximate quantiles.

The reference's window surface (SURVEY §2.7 W1-W5: last-per-day,
rolling, lag, pct_change) covers ordering windows; this module closes
the remaining ANSI window/aggregate families a warehouse user expects
from the same engine, each as a first-class oracle-backed query.

Scale story (100 TB): every window partitions on a natural key
(event_type, user_id) so state is bounded per key; DAU/WAU/MAU uses
the explode-contribution pattern — each (user, day) activity row
fans out to the ≤30 window days it supports, then a distinct count
per day — replacing the self-join-per-day formulation whose shuffle
is O(days x corpus). Aggregate-only queries are single
map-side-combined folds. All DuckDB-oracle-backed.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..catalog import load_table
from ..functions import exact
from . import registry

QUERIES, ORACLES, q = registry.module()


@q(
    "ntile_value_bands",
    """WITH r AS (
         SELECT event_type, value,
                ntile(10) OVER (PARTITION BY event_type
                                ORDER BY value, event_id) AS band,
                cume_dist() OVER (PARTITION BY event_type
                                  ORDER BY value) AS cd,
                percent_rank() OVER (PARTITION BY event_type
                                     ORDER BY value) AS pr
         FROM events)
       SELECT event_type, CAST(band AS INT) AS band,
              CAST(COUNT(*) AS BIGINT) AS n_events,
              CAST((2 * CAST(SUM(CAST(value AS DECIMAL(18,2))) * 100 AS BIGINT)
                      * 10000 + COUNT(*)) // (2 * COUNT(*)) AS DOUBLE)
                / 1000000 AS avg_value,
              ROUND(MAX(cd), 6) AS max_cume_dist,
              ROUND(MAX(pr), 6) AS max_percent_rank
       FROM r GROUP BY 1, 2""",
)
def ntile_value_bands(spark, sf_dir):
    """Decile bands per event type via the three ANSI distribution
    windows — ntile(10) (event_id tie-break for determinism),
    cume_dist, percent_rank — folded to one row per (type, band).
    One hash partition per event type; the window state is a sort
    within the partition, no cross-key traffic."""
    ev = load_table(spark, sf_dir, "events")
    by_type = Window.partitionBy("event_type")
    r = ev.select(
        "event_type",
        "value",
        F.ntile(10).over(by_type.orderBy("value", "event_id")).alias("band"),
        F.cume_dist().over(by_type.orderBy("value")).alias("cd"),
        F.percent_rank().over(by_type.orderBy("value")).alias("pr"),
    )
    return r.groupBy("event_type", F.col("band").cast("int").alias("band")).agg(
        F.count(F.lit(1)).cast("long").alias("n_events"),
        exact.mean_6dp().alias("avg_value"),
        F.round(F.max("cd"), 6).alias("max_cume_dist"),
        F.round(F.max("pr"), 6).alias("max_percent_rank"),
    )


@q(
    "first_last_nth_window",
    """WITH w AS (
         SELECT user_id, CAST(ts AS DATE) AS day,
                first_value(event_type) OVER uw AS first_type,
                last_value(event_type) OVER uw AS last_type,
                nth_value(value, 2) OVER uw AS second_value,
                ROW_NUMBER() OVER (PARTITION BY user_id, CAST(ts AS DATE)
                                   ORDER BY ts, event_id) AS rn
         FROM events
         WINDOW uw AS (PARTITION BY user_id, CAST(ts AS DATE)
                       ORDER BY ts, event_id
                       ROWS BETWEEN UNBOUNDED PRECEDING
                                AND UNBOUNDED FOLLOWING))
       SELECT first_type, last_type,
              CAST(COUNT(*) AS BIGINT) AS n_user_days,
              ROUND(AVG(second_value), 6) AS avg_second_value,
              CAST(SUM(CASE WHEN second_value IS NULL
                            THEN 1 ELSE 0 END) AS BIGINT)
                AS single_event_days
       FROM w WHERE rn = 1 GROUP BY 1, 2""",
)
def first_last_nth_window(spark, sf_dir):
    """Positional windows over each user-day: first_value /
    last_value / nth_value(2) under an explicit unbounded ROWS frame
    (the default frame would truncate last_value at the current row —
    the classic ANSI footgun), folded to transition counts between
    opening and closing event types. Single-event days surface as
    NULL nth_value, counted explicitly."""
    ev = load_table(spark, sf_dir, "events").withColumn(
        "day", F.col("ts").cast("date")
    )
    uw = (
        Window.partitionBy("user_id", "day")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    )
    rn = Window.partitionBy("user_id", "day").orderBy("ts", "event_id")
    w = ev.select(
        "user_id",
        "day",
        F.first("event_type").over(uw).alias("first_type"),
        F.last("event_type").over(uw).alias("last_type"),
        F.nth_value("value", 2).over(uw).alias("second_value"),
        F.row_number().over(rn).alias("rn"),
    ).filter(F.col("rn") == 1)
    return w.groupBy("first_type", "last_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_user_days"),
        F.round(F.avg("second_value"), 6).alias("avg_second_value"),
        F.sum(F.when(F.col("second_value").isNull(), 1).otherwise(0))
        .cast("long")
        .alias("single_event_days"),
    )


@q(
    "value_range_window_sum",
    """WITH r AS (
         SELECT event_type, value,
                SUM(CAST(value AS DECIMAL(18,2)))
                  OVER (PARTITION BY event_type ORDER BY value
                        RANGE BETWEEN 50.0 PRECEDING
                                  AND CURRENT ROW) AS near_sum,
                COUNT(*) OVER (PARTITION BY event_type ORDER BY value
                               RANGE BETWEEN 50.0 PRECEDING
                                         AND CURRENT ROW) AS near_n
         FROM events)
       SELECT event_type,
              CAST(COUNT(*) AS BIGINT) AS n_events,
              CAST(ROUND(SUM(near_sum), 2) AS DOUBLE) AS sum_near_sums,
              CAST((2 * CAST(SUM(near_n) AS HUGEINT) * 1000000 + COUNT(*))
                   // (2 * COUNT(*)) AS DOUBLE) / 1000000 AS avg_near_count
       FROM r GROUP BY event_type""",
)
def value_range_window_sum(spark, sf_dir):
    """Value-based RANGE frame (not time, not rows): for every event,
    the sum and count of same-type events whose value lies within 50
    units BELOW it — a density estimate along the value axis,
    expressed as one ANSI RANGE window instead of a self-join
    (O(n log n) sort per key vs O(n^2) pairs). The time-axis
    equivalent is time_range_rolling_avg; this pins the numeric-offset
    frame, which Spark evaluates with the same sliding mechanism."""
    ev = load_table(spark, sf_dir, "events")
    # the DataFrame WindowSpec.rangeBetween only takes integral
    # offsets; a FLOAT-valued RANGE frame is still first-class in the
    # SQL window grammar, so express the frame there — same Catalyst
    # SpecifiedWindowFrame(RangeFrame) either way
    frame = (
        "OVER (PARTITION BY event_type ORDER BY value "
        "RANGE BETWEEN 50.0 PRECEDING AND CURRENT ROW)"
    )
    r = ev.select(
        "event_type",
        "value",
        # DECIMAL accumulation: the float window-sum-of-sums grows
        # ~n^2 per decade (93x at sf0.01 -> lint sf1-extrapolation
        # flagged 2.9e13 demand); exact decimal is order-independent
        F.expr(f"sum(cast(value as decimal(18,2))) {frame}").alias("near_sum"),
        F.expr(f"count(*) {frame}").alias("near_n"),
    )
    return r.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_events"),
        F.round(F.sum("near_sum"), 2).cast("double").alias("sum_near_sums"),
        # integer half-up at 6dp (DECISIONS 50): AVG of integer counts
        # is a k/n rational that can sit on a 6dp rounding tie;
        # DECIMAL(38,0) carrier because 2*sum(near_n)*1e6 can pass 2^63
        F.expr(
            "CAST((2 * CAST(sum(near_n) AS DECIMAL(38,0)) * 1000000"
            " + count(*)) DIV (2 * count(*)) AS DOUBLE) / 1000000"
        ).alias("avg_near_count"),
    )


@q(
    "session_window_batch",
    """WITH g AS (
         SELECT user_id, ts,
                CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id
                                             ORDER BY ts, event_id)
                          > INTERVAL 12 HOUR
                          OR lag(ts) OVER (PARTITION BY user_id
                                           ORDER BY ts, event_id) IS NULL
                     THEN 1 ELSE 0 END AS new_s
         FROM events),
       s AS (SELECT user_id, ts,
                    SUM(new_s) OVER (PARTITION BY user_id
                                     ORDER BY ts
                                     ROWS UNBOUNDED PRECEDING) AS sid
             FROM g),
       sess AS (SELECT user_id, sid, COUNT(*) AS n_events,
                       epoch(MAX(ts) - MIN(ts)) + 43200.0 AS dur_s
                FROM s GROUP BY 1, 2)
       SELECT user_id,
              CAST(COUNT(*) AS BIGINT) AS n_sessions,
              CAST(SUM(n_events) AS BIGINT) AS n_events,
              ROUND(AVG(dur_s), 1) AS avg_session_secs
       FROM sess GROUP BY user_id""",
)
def session_window_batch(spark, sf_dir):
    """Native session windows in batch: F.session_window(ts, '12
    hours') merges each user's events into gap-bounded sessions
    (window end = last event + gap, so duration = span + gap — the
    oracle mirrors that contract via gaps-and-islands). Session
    windowing is Spark's built-in replacement for the lag/cumsum
    island dance (sessionize_user_events pins that form); the
    built-in also powers the STREAMING session aggregation, so batch
    and stream share semantics. State is per (user, session) — at
    100 TB the aggregation shuffles once on user_id."""
    ev = load_table(spark, sf_dir, "events")
    sess = ev.groupBy(
        "user_id", F.session_window("ts", "12 hours").alias("sw")
    ).agg(F.count(F.lit(1)).alias("n_events"))
    dur = F.col("sw.end").cast("double") - F.col("sw.start").cast("double")
    per_sess = sess.select("user_id", "n_events", dur.alias("dur_s"))
    return per_sess.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_sessions"),
        F.sum("n_events").cast("long").alias("n_events"),
        F.round(F.avg("dur_s"), 1).alias("avg_session_secs"),
    )


@q(
    "dau_wau_mau",
    """WITH act AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS day
                    FROM events),
       days AS (SELECT DISTINCT day FROM act)
       SELECT d.day,
              (SELECT COUNT(DISTINCT a.user_id) FROM act a
                WHERE a.day = d.day) AS dau,
              (SELECT COUNT(DISTINCT a.user_id) FROM act a
                WHERE a.day BETWEEN d.day - 6 AND d.day) AS wau,
              (SELECT COUNT(DISTINCT a.user_id) FROM act a
                WHERE a.day BETWEEN d.day - 29 AND d.day) AS mau
       FROM days d""",
)
def dau_wau_mau(spark, sf_dir):
    """Daily / weekly / monthly active users per calendar day via the
    explode-contribution pattern: each distinct (user, day) activity
    row fans out to the ≤7 (resp. ≤30) later window-days it supports,
    then one distinct count per day. The naive formulation — a
    self-join or correlated subquery per day (what the DuckDB oracle
    runs, fine at oracle scale) — shuffles O(days x activity) at
    100 TB; the explode ships each activity row a constant number of
    times and keeps the heavy distinct on the (day, user) key."""
    ev = load_table(spark, sf_dir, "events")
    act = ev.select(
        "user_id", F.col("ts").cast("date").alias("day")
    ).distinct()
    days = act.select("day").distinct()
    dau = act.groupBy("day").agg(F.countDistinct("user_id").alias("dau"))

    def _windowed(n_days: int, name: str) -> DataFrame:
        fan = act.select(
            "user_id",
            F.explode(
                F.sequence(
                    F.col("day"), F.date_add(F.col("day"), n_days - 1)
                )
            ).alias("day"),
        )
        return fan.groupBy("day").agg(
            F.countDistinct("user_id").alias(name)
        )

    return (
        days.join(dau, "day")
        .join(_windowed(7, "wau"), "day")
        .join(_windowed(30, "mau"), "day")
        .select("day", "dau", "wau", "mau")
    )


@q(
    "inter_event_gap_quantiles",
    """WITH g AS (
         SELECT event_type,
                epoch(ts - lag(ts) OVER (PARTITION BY user_id
                                         ORDER BY ts, event_id)) AS gap_s
         FROM events),
       f AS (SELECT event_type, gap_s FROM g WHERE gap_s IS NOT NULL)
       SELECT event_type,
              CAST(COUNT(*) AS BIGINT) AS n_gaps,
              ROUND(quantile_cont(gap_s, 0.5), 3) AS median_gap_s,
              ROUND(quantile_cont(gap_s, 0.9), 3) AS p90_gap_s,
              ROUND(AVG(gap_s), 3) AS avg_gap_s
       FROM f GROUP BY event_type""",
)
def inter_event_gap_quantiles(spark, sf_dir):
    """Inter-event arrival gaps per user (lag over the user timeline),
    summarized by the ARRIVING event's type: exact interpolated median
    and p90 plus the mean. Exact percentile is the correctness
    yardstick; production at 100 TB swaps approx_percentile into the
    same plan (pinned separately by approx_quantile_accuracy_gate).
    One window sort per user partition, then a type-keyed fold."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    g = ev.select(
        "event_type",
        (
            F.col("ts").cast("double") - F.lag(F.col("ts")).over(w).cast("double")
        ).alias("gap_s"),
    ).filter(F.col("gap_s").isNotNull())
    return g.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_gaps"),
        F.round(F.percentile("gap_s", F.lit(0.5)), 3).alias("median_gap_s"),
        F.round(F.percentile("gap_s", F.lit(0.9)), 3).alias("p90_gap_s"),
        F.round(F.avg("gap_s"), 3).alias("avg_gap_s"),
    )


@q(
    "corr_covar_matrix",
    """SELECT l_returnflag,
              CAST(COUNT(*) AS BIGINT) AS n_rows,
              ROUND(corr(l_extendedprice, l_quantity), 6) AS price_qty_corr,
              ROUND(covar_samp(l_extendedprice, l_quantity), 4)
                AS price_qty_covar_samp,
              ROUND(covar_pop(l_extendedprice, l_discount), 6)
                AS price_disc_covar_pop,
              ROUND(stddev_samp(l_extendedprice), 4) AS price_stddev
       FROM lineitem GROUP BY l_returnflag""",
)
def corr_covar_matrix(spark, sf_dir):
    """Bivariate dependence aggregates per return flag: Pearson
    correlation, sample and population covariance, sample stddev —
    the feature-screening pass before fitting anything. All four are
    single-pass JVM aggregates with map-side partials (Welford-style
    merge), no second scan, no shuffle beyond the group key."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        F.round(F.corr("l_extendedprice", "l_quantity"), 6).alias(
            "price_qty_corr"
        ),
        F.round(F.covar_samp("l_extendedprice", "l_quantity"), 4).alias(
            "price_qty_covar_samp"
        ),
        F.round(F.covar_pop("l_extendedprice", "l_discount"), 6).alias(
            "price_disc_covar_pop"
        ),
        F.round(F.stddev_samp("l_extendedprice"), 4).alias("price_stddev"),
    )


@q(
    "regr_diagnostics_full",
    """SELECT l_returnflag,
              CAST(regr_count(l_extendedprice, l_quantity) AS BIGINT)
                AS n_pairs,
              ROUND(regr_slope(l_extendedprice, l_quantity), 6) AS slope,
              ROUND(regr_intercept(l_extendedprice, l_quantity), 4)
                AS intercept,
              ROUND(regr_r2(l_extendedprice, l_quantity), 6) AS r2,
              ROUND(regr_avgx(l_extendedprice, l_quantity), 6) AS avg_qty,
              ROUND(regr_avgy(l_extendedprice, l_quantity), 4) AS avg_price
       FROM lineitem GROUP BY l_returnflag""",
)
def regr_diagnostics_full(spark, sf_dir):
    """The full ANSI linear-regression aggregate family per group:
    slope, intercept, R^2, count, and both means of price-on-quantity
    — the one-pass OLS diagnostics (regr_value_trend pins the
    two-column slope on a time axis; this pins the complete six-
    aggregate suite). Single scan, map-side partial moments."""
    li = load_table(spark, sf_dir, "lineitem")
    y, x = F.col("l_extendedprice"), F.col("l_quantity")
    return li.groupBy("l_returnflag").agg(
        F.regr_count(y, x).cast("long").alias("n_pairs"),
        F.round(F.regr_slope(y, x), 6).alias("slope"),
        F.round(F.regr_intercept(y, x), 4).alias("intercept"),
        F.round(F.regr_r2(y, x), 6).alias("r2"),
        F.round(F.regr_avgx(y, x), 6).alias("avg_qty"),
        F.round(F.regr_avgy(y, x), 4).alias("avg_price"),
    )


@q(
    "boolean_aggregate_gates",
    """SELECT o_orderpriority,
              CAST(COUNT(*) AS BIGINT) AS n_orders,
              CAST(COUNT(*) FILTER (WHERE o_totalprice > 150000)
                   AS BIGINT) AS n_large,
              ROUND(COUNT(*) FILTER (WHERE o_totalprice > 150000)
                    / CAST(COUNT(*) AS DOUBLE), 6) AS large_share,
              bool_and(o_totalprice > 0) AS all_positive,
              bool_or(o_orderstatus = 'P') AS any_pending
       FROM orders GROUP BY o_orderpriority""",
)
def boolean_aggregate_gates(spark, sf_dir):
    """Boolean aggregate surface per priority class: count_if (the
    FILTER-clause aggregate), bool_and / bool_or — the data-quality
    gate primitives ('every price positive', 'any order pending').
    One fold with map-side combine; the booleans short-circuit in the
    partial aggregate."""
    od = load_table(spark, sf_dir, "orders")
    big = F.col("o_totalprice") > 150000
    return od.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).cast("long").alias("n_orders"),
        F.count_if(big).cast("long").alias("n_large"),
        F.round(
            F.count_if(big) / F.count(F.lit(1)).cast("double"), 6
        ).alias("large_share"),
        F.bool_and(F.col("o_totalprice") > 0).alias("all_positive"),
        F.bool_or(F.col("o_orderstatus") == "P").alias("any_pending"),
    )


@q(
    "approx_quantile_accuracy_gate",
    """SELECT event_type,
              ROUND(quantile_cont(value, 0.5), 6) AS exact_p50,
              ROUND(quantile_cont(value, 0.99), 6) AS exact_p99,
              TRUE AS approx_p50_ok,
              TRUE AS approx_p99_ok
       FROM events GROUP BY event_type""",
)
def approx_quantile_accuracy_gate(spark, sf_dir):
    """Exact interpolated quantiles per event type, plus a live
    accuracy gate on approx_percentile at accuracy=10000: the approx
    answer must land inside a RANK band of the exact distribution —
    p50 within [exact p45, exact p55], p99 within [exact p98, max]
    (the oracle pins both gates literally TRUE, so a sketch
    regression fails the hash). A rank band, not a relative-error
    band: approx_percentile returns an actual sample (no
    interpolation), so at small group counts it legitimately sits a
    whole order-statistic gap from the interpolated exact value while
    still being rank-correct — and the sketch's rank-error contract
    (1/accuracy) is what the band checks at any scale. At 100 TB the
    exact percentile's per-key sort gives way to this mergeable
    sketch; this query is the standing proof the swap stays in
    tolerance."""
    ev = load_table(spark, sf_dir, "events")
    r = ev.groupBy("event_type").agg(
        F.percentile("value", F.lit(0.45)).alias("ep45"),
        F.percentile("value", F.lit(0.5)).alias("ep50"),
        F.percentile("value", F.lit(0.55)).alias("ep55"),
        F.percentile("value", F.lit(0.98)).alias("ep98"),
        F.percentile("value", F.lit(0.99)).alias("ep99"),
        F.max("value").alias("emax"),
        F.approx_percentile("value", F.lit(0.5), F.lit(10000)).alias("ap50"),
        F.approx_percentile("value", F.lit(0.99), F.lit(10000)).alias("ap99"),
    )
    return r.select(
        "event_type",
        F.round("ep50", 6).alias("exact_p50"),
        F.round("ep99", 6).alias("exact_p99"),
        F.col("ap50").between(F.col("ep45"), F.col("ep55")).alias(
            "approx_p50_ok"
        ),
        F.col("ap99").between(F.col("ep98"), F.col("emax")).alias(
            "approx_p99_ok"
        ),
    )


@q(
    "histogram_equi_depth_bands",
    """WITH r AS (
         SELECT event_type, value,
                ntile(8) OVER (PARTITION BY event_type
                               ORDER BY value, event_id) AS bucket
         FROM events)
       SELECT event_type, CAST(bucket AS INT) AS bucket,
              CAST(COUNT(*) AS BIGINT) AS n_events,
              ROUND(MIN(value), 6) AS lo,
              ROUND(MAX(value), 6) AS hi,
              ROUND(MAX(value) - MIN(value), 6) AS bucket_width
       FROM r GROUP BY 1, 2""",
)
def histogram_equi_depth_bands(spark, sf_dir):
    """Equi-DEPTH histogram per event type: 8 buckets of equal row
    count whose boundaries adapt to the data (the optimizer-statistics
    histogram), complementing histogram_fixed_buckets' equi-WIDTH
    form. Variable widths over skewed values are the point: narrow
    buckets where mass concentrates. One per-type sort (ntile),
    then a fold per bucket."""
    ev = load_table(spark, sf_dir, "events")
    r = ev.select(
        "event_type",
        "value",
        F.ntile(8)
        .over(Window.partitionBy("event_type").orderBy("value", "event_id"))
        .alias("bucket"),
    )
    return r.groupBy(
        "event_type", F.col("bucket").cast("int").alias("bucket")
    ).agg(
        F.count(F.lit(1)).cast("long").alias("n_events"),
        F.round(F.min("value"), 6).alias("lo"),
        F.round(F.max("value"), 6).alias("hi"),
        F.round(F.max("value") - F.min("value"), 6).alias("bucket_width"),
    )


@q(
    "pivot_dow_multi_agg",
    """SELECT event_type,
              CAST(COUNT(*) FILTER (WHERE dayofweek(ts) IN (0, 6))
                   AS BIGINT) AS weekend_n,
              CAST((2 * CAST(SUM(CAST(value AS DECIMAL(18,2)))
                               FILTER (WHERE dayofweek(ts) IN (0, 6))
                             * 100 AS BIGINT) * 10000
                    + COUNT(*) FILTER (WHERE dayofweek(ts) IN (0, 6)))
                   // (2 * COUNT(*) FILTER (WHERE dayofweek(ts) IN (0, 6)))
                   AS DOUBLE) / 1000000 AS weekend_avg,
              CAST(COUNT(*) FILTER (WHERE dayofweek(ts) NOT IN (0, 6))
                   AS BIGINT) AS weekday_n,
              CAST((2 * CAST(SUM(CAST(value AS DECIMAL(18,2)))
                               FILTER (WHERE dayofweek(ts) NOT IN (0, 6))
                             * 100 AS BIGINT) * 10000
                    + COUNT(*) FILTER (WHERE dayofweek(ts) NOT IN (0, 6)))
                   // (2 * COUNT(*) FILTER (WHERE dayofweek(ts) NOT IN (0, 6)))
                   AS DOUBLE) / 1000000 AS weekday_avg
       FROM events GROUP BY event_type""",
)
def pivot_dow_multi_agg(spark, sf_dir):
    """Multi-aggregate pivot: weekend/weekday columns each carrying
    BOTH a count and a mean — Spark's pivot() with a list of
    aggregates (pivot_priority_by_year pins the single-agg form).
    The pivot is a map-side conditional aggregation: one scan, one
    shuffle on the group key, no join of per-slice subqueries.
    DuckDB's dayofweek is 0=Sunday..6=Saturday; Spark's weekday() is
    0=Monday..6=Sunday, so the Spark side classifies via weekday >= 5
    — same weekend set, each engine in its own calendar convention."""
    ev = load_table(spark, sf_dir, "events")
    cls = F.when(F.weekday("ts") >= 5, "weekend").otherwise("weekday")
    p = (
        ev.withColumn("dow", cls)
        .groupBy("event_type")
        .pivot("dow", ["weekend", "weekday"])
        .agg(
            F.count(F.lit(1)).alias("n"),
            exact.mean_6dp().alias("avg"),
        )
    )
    return p.select(
        "event_type",
        F.col("weekend_n").cast("long").alias("weekend_n"),
        F.col("weekend_avg"),
        F.col("weekday_n").cast("long").alias("weekday_n"),
        F.col("weekday_avg"),
    )


@q(
    "grouping_id_rollup_audit",
    """SELECT COALESCE(event_type, 'ALL') AS event_type,
              COALESCE(CAST(CAST(ts AS DATE) AS VARCHAR), 'ALL') AS day,
              CAST(GROUPING(event_type) AS INT) AS g_type,
              CAST(GROUPING(CAST(ts AS DATE)) AS INT) AS g_day,
              CAST(GROUPING(event_type) * 2
                   + GROUPING(CAST(ts AS DATE)) AS BIGINT) AS gid,
              CAST(COUNT(*) AS BIGINT) AS n_events
       FROM events
       GROUP BY GROUPING SETS ((event_type, CAST(ts AS DATE)),
                               (event_type), ())""",
)
def grouping_id_rollup_audit(spark, sf_dir):
    """GROUPING SETS with the grouping() / grouping_id() metadata
    functions — the columns that let a client distinguish a real NULL
    key from a rollup subtotal row (grouping_sets_year_priority pins
    the aggregation itself; this pins the provenance surface).
    grouping_id's bit order follows the GROUP BY column order on both
    engines; Spark computes the sets in one pass with a grouping-set
    expand, not one scan per set."""
    ev = load_table(spark, sf_dir, "events").withColumn(
        "day_d", F.col("ts").cast("date")
    )
    g = ev.groupBy("event_type", "day_d").agg(F.count(F.lit(1)).alias("n"))
    out = (
        ev.cube("event_type", "day_d")
        .agg(
            F.grouping("event_type").cast("int").alias("g_type"),
            F.grouping("day_d").cast("int").alias("g_day"),
            F.grouping_id().cast("long").alias("gid"),
            F.count(F.lit(1)).cast("long").alias("n_events"),
        )
        # cube emits the (day-only) set too; GROUPING SETS ((a,b),(a),())
        # is the cube minus it — filter on the metadata columns
        .filter(~((F.col("g_type") == 1) & (F.col("g_day") == 0)))
    )
    del g
    return out.select(
        F.coalesce(F.col("event_type"), F.lit("ALL")).alias("event_type"),
        F.coalesce(F.col("day_d").cast("string"), F.lit("ALL")).alias("day"),
        "g_type",
        "g_day",
        "gid",
        "n_events",
    )


@q(
    "user_inactive_day_spans",
    """WITH act AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS day
                    FROM events),
       spans AS (
         SELECT user_id,
                date_diff('day', day,
                          LEAD(day) OVER (PARTITION BY user_id
                                          ORDER BY day)) - 1 AS gap_days
         FROM act),
       g AS (SELECT user_id, gap_days FROM spans
             WHERE gap_days IS NOT NULL)
       SELECT user_id,
              CAST(COUNT(*) AS BIGINT) AS n_transitions,
              CAST(SUM(CASE WHEN gap_days > 0 THEN 1 ELSE 0 END)
                   AS BIGINT) AS n_gaps,
              CAST(MAX(gap_days) AS BIGINT) AS longest_gap_days,
              CAST(SUM(gap_days) AS BIGINT) AS total_inactive_days
       FROM g GROUP BY user_id""",
)
def user_inactive_day_spans(spark, sf_dir):
    """Inactivity spans per user from the activity calendar: distinct
    active days, lead() to the next active day, gap = days strictly
    between — churn-risk features (longest dark span, total dark
    days) without materializing the full calendar. The distinct
    (user, day) set is the only shuffle; the lead window rides the
    same user partitioning. Contrast with gap_fill_forward_daily,
    which MATERIALIZES the missing days; here they are only counted."""
    ev = load_table(spark, sf_dir, "events")
    act = ev.select(
        "user_id", F.col("ts").cast("date").alias("day")
    ).distinct()
    w = Window.partitionBy("user_id").orderBy("day")
    spans = act.select(
        "user_id",
        (F.datediff(F.lead("day").over(w), F.col("day")) - 1).alias(
            "gap_days"
        ),
    ).filter(F.col("gap_days").isNotNull())
    return spans.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_transitions"),
        F.sum(F.when(F.col("gap_days") > 0, 1).otherwise(0))
        .cast("long")
        .alias("n_gaps"),
        F.max("gap_days").cast("long").alias("longest_gap_days"),
        F.sum("gap_days").cast("long").alias("total_inactive_days"),
    )


@q(
    "weekday_hour_heatmap",
    """SELECT CAST(dayofweek(ts) AS INT) AS dow,
              CAST(hour(ts) AS INT) AS hour_of_day,
              CAST(COUNT(*) AS BIGINT) AS n_events,
              CAST((2 * CAST(SUM(CAST(value AS DECIMAL(18,2))) * 100 AS BIGINT)
                      * 10000 + COUNT(*)) // (2 * COUNT(*)) AS DOUBLE)
                / 1000000 AS avg_value
       FROM events GROUP BY 1, 2""",
)
def weekday_hour_heatmap(spark, sf_dir):
    """Activity heatmap: events and mean value per (day-of-week,
    hour-of-day) cell — the seasonality fingerprint behind capacity
    planning and anomaly baselines. Calendar convention is
    reconciled per engine: DuckDB's dayofweek is 0=Sunday..6, Spark's
    dayofweek is 1=Sunday..7, so the Spark side emits dayofweek-1 —
    the same cell labels from each engine's own calendar. One
    map-side fold onto 168 keys."""
    ev = load_table(spark, sf_dir, "events")
    return ev.groupBy(
        (F.dayofweek("ts") - 1).cast("int").alias("dow"),
        F.hour("ts").cast("int").alias("hour_of_day"),
    ).agg(
        F.count(F.lit(1)).cast("long").alias("n_events"),
        exact.mean_6dp().alias("avg_value"),
    )
