"""Market/time-series operators over the tick-shaped `events` table
and the `lineitem` fact: time-weighted average price (TWAP),
volume-weighted average price (VWAP), running-peak max drawdown,
EWMA smoothing, and z-score anomaly days.

These extend the reference's finance-notebook surface (returns /
rolling stats / model fits — SURVEY §2.12-2.13, implemented in
queries/analytics.py) with the standard streaming-finance aggregates
the notebooks compute ad hoc in pandas (reference
`data/notebooks/Jupiter Notebook/*.ipynb` resample/ewm/cummax usage).

All DuckDB-oracle-backed. Determinism rules:
- every window has a total order (`ts, event_id` tiebreak) shared
  verbatim with the oracle;
- monetary sums go through DECIMAL(18,2) (exact, order-insensitive);
- double aggregates are rounded at a stage boundary *before* any
  sequential computation consumes them, so folds see bit-identical
  inputs on both engines;
- the EWMA fold is a left-to-right `aggregate()` / `list_reduce` over
  an explicitly sorted array — same IEEE op sequence in both engines,
  not an order-undefined SUM.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from ..catalog import load_table
from ..functions import exact
from . import registry

QUERIES, ORACLES, q = registry.module()


@q(
    "twap_daily",
    """WITH ordered AS (
         SELECT event_type, CAST(ts AS DATE) AS d, value,
                CAST(FLOOR(epoch(ts)) AS BIGINT) AS s,
                LEAD(CAST(FLOOR(epoch(ts)) AS BIGINT))
                  OVER (PARTITION BY event_type, CAST(ts AS DATE)
                        ORDER BY CAST(FLOOR(epoch(ts)) AS BIGINT), event_id)
                  AS s_next
         FROM events)
       SELECT event_type, d,
              COUNT(s_next) AS n_intervals,
              CAST(SUM(s_next - s) AS BIGINT) AS span_s,
              ROUND(SUM(value * (s_next - s)) / SUM(s_next - s), 4) AS twap
       FROM ordered WHERE s_next IS NOT NULL
       GROUP BY 1, 2
       HAVING SUM(s_next - s) > 0""",
)
def twap_daily(spark, sf_dir):
    """Time-weighted average price per (type, day): each tick's value
    is weighted by its holding time (seconds until the next tick in
    the same partition). Unlike a plain AVG this is sampling-rate
    independent — a burst of quotes at one price doesn't drag the
    mean. One window + one groupBy, both on the same
    (event_type, day) key, so the second shuffle is partial-agg'd
    over already-co-located rows. Zero-length days (all ticks in one
    second) are dropped by the HAVING in both engines."""
    ev = load_table(spark, sf_dir, "events")
    s = F.unix_timestamp("ts")
    d = F.to_date("ts").alias("d")
    w = Window.partitionBy("event_type", "d").orderBy("s", "event_id")
    base = ev.select("event_type", d, "event_id", "value", s.alias("s"))
    stepped = base.withColumn("s_next", F.lead("s").over(w)).filter(
        F.col("s_next").isNotNull()
    )
    dt = F.col("s_next") - F.col("s")
    return (
        stepped.groupBy("event_type", "d")
        .agg(
            F.count("s_next").alias("n_intervals"),
            F.sum(dt).alias("span_s"),
            F.round(F.sum(F.col("value") * dt) / F.sum(dt), 4).alias("twap"),
        )
        .filter(F.col("span_s") > 0)
    )


@q(
    "vwap_returnflag_month",
    """SELECT l_returnflag,
              strftime(date_trunc('month', l_shipdate), '%Y-%m') AS ym,
              CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS volume,
              ROUND(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
                    / CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE),
                    4) AS vwap
       FROM lineitem
       GROUP BY 1, 2""",
)
def vwap_returnflag_month(spark, sf_dir):
    """Volume-weighted average price per (returnflag, ship-month):
    SUM(price)/SUM(qty) with both sums in DECIMAL(18,2), so the ratio
    is computed over exact numerators — order-insensitive, no float
    accumulation drift at any scale. Single shuffle, map-side partial
    decimal sums."""
    li = load_table(spark, sf_dir, "lineitem")
    dec = "decimal(18,2)"
    vol = F.sum(F.col("l_quantity").cast(dec)).cast("double")
    rev = F.sum(F.col("l_extendedprice").cast(dec)).cast("double")
    return li.groupBy(
        "l_returnflag",
        F.date_format(F.date_trunc("month", "l_shipdate"), "yyyy-MM").alias("ym"),
    ).agg(vol.alias("volume"), F.round(rev / vol, 4).alias("vwap"))


@q(
    "max_drawdown_by_type",
    """WITH runpeak AS (
         SELECT event_type, value,
                MAX(value) OVER (PARTITION BY event_type
                                 ORDER BY CAST(FLOOR(epoch(ts)) AS BIGINT), event_id
                                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                  AS peak
         FROM events)
       SELECT event_type,
              ROUND(MAX(peak - value), 4) AS max_drawdown,
              ROUND(MAX(CASE WHEN peak > 0 THEN (peak - value) / peak
                             ELSE 0 END), 6) AS max_drawdown_frac
       FROM runpeak GROUP BY 1""",
)
def max_drawdown_by_type(spark, sf_dir):
    """Classic running-peak max drawdown per series: cumulative MAX
    over the (ts, event_id)-total-ordered prefix, then the largest
    peak-to-trough drop, absolute and fractional. Every per-row value
    is an identical pure function of an identical prefix set on both
    engines (max/subtract/divide — no accumulation), so this is
    fp-exact before the final cosmetic rounds. One sort-shuffle per
    series partition; at 100 TB the per-key state is a single running
    max, which is exactly what a streaming fold would keep."""
    ev = load_table(spark, sf_dir, "events")
    w = (
        Window.partitionBy("event_type")
        .orderBy(F.unix_timestamp("ts"), "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    peak = F.max("value").over(w)
    dd = ev.select(
        "event_type",
        "value",
        peak.alias("peak"),
    )
    frac = F.when(
        F.col("peak") > 0, (F.col("peak") - F.col("value")) / F.col("peak")
    ).otherwise(F.lit(0.0))
    return dd.groupBy("event_type").agg(
        F.round(F.max(F.col("peak") - F.col("value")), 4).alias("max_drawdown"),
        F.round(F.max(frac), 6).alias("max_drawdown_frac"),
    )


@q(
    "ewma_daily_value",
    """WITH daily AS (
         SELECT event_type, CAST(ts AS DATE) AS d,
                CAST((2 * CAST(SUM(CAST(value AS DECIMAL(18,2))) * 100 AS BIGINT)
                      * 10000 + COUNT(*)) // (2 * COUNT(*)) AS DOUBLE)
                / 1000000 AS v
         FROM events GROUP BY 1, 2),
       series AS (
         SELECT event_type,
                list_transform(list(v ORDER BY d), x -> CAST(x AS DOUBLE)) AS vs,
                COUNT(*) AS n_days
         FROM daily GROUP BY 1)
       SELECT event_type, n_days,
              ROUND(list_reduce(vs,
                    (acc, x) -> acc * CAST(0.8 AS DOUBLE)
                                + x * CAST(0.2 AS DOUBLE)), 6) AS ewma
       FROM series""",
)
def ewma_daily_value(spark, sf_dir):
    """EWMA (alpha=0.2) of the daily mean value per series — the
    distributed version of pandas `.ewm(alpha=.2).mean().iloc[-1]`
    (adjust=False). The daily means are rounded at the stage boundary
    so the fold consumes bit-identical inputs, then the smoothing is a
    *sequential left fold* over the date-sorted array (`aggregate()`
    here, `list_reduce` in the oracle) — both engines execute the same
    IEEE op sequence, unlike an order-undefined SUM of weighted terms.
    The collect_list per series is bounded by days-per-series (a few
    hundred doubles), not row count, so the pattern holds at 100 TB of
    ticks."""
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy("event_type", F.to_date("ts").alias("d")).agg(
        exact.mean_6dp().alias("v")
    )
    series = daily.groupBy("event_type").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("d", "v"))), lambda s: s["v"]
        ).alias("vs"),
        F.count(F.lit(1)).alias("n_days"),
    )
    fold = F.aggregate(
        F.slice(F.col("vs"), 2, F.greatest(F.size("vs") - 1, F.lit(0))),
        F.element_at(F.col("vs"), 1),
        lambda acc, x: acc * F.lit(0.8) + x * F.lit(0.2),
    )
    return series.select(
        "event_type", "n_days", F.round(fold, 6).alias("ewma")
    )


@q(
    "zscore_anomaly_days",
    """WITH daily AS (
         SELECT event_type, CAST(ts AS DATE) AS d,
                ROUND(SUM(value), 4) AS daily_sum
         FROM events GROUP BY 1, 2),
       stats AS (
         SELECT event_type,
                AVG(daily_sum) AS mu,
                stddev_samp(daily_sum) AS sigma
         FROM daily GROUP BY 1)
       SELECT daily.event_type, d,
              ROUND((daily_sum - mu) / sigma, 4) AS z
       FROM daily JOIN stats ON daily.event_type = stats.event_type
       WHERE sigma > 0
         AND ABS(ROUND((daily_sum - mu) / sigma, 4)) > 2""",
)
def zscore_anomaly_days(spark, sf_dir):
    """Anomalous-volume days: per-series daily totals, z-scored
    against that series' own mean/stddev, keeping |z| > 2. The daily
    sums are rounded at the stage boundary; the >2 gate compares the
    *rounded* z on both engines so no IEEE boundary can flip a row in
    one engine only. Plan: one shuffle to daily grain, a tiny
    per-series stats aggregate broadcast back onto the daily rows —
    the fact stream is aggregated once and never re-shuffled."""
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy("event_type", F.to_date("ts").alias("d")).agg(
        F.round(F.sum("value"), 4).alias("daily_sum")
    )
    stats = daily.groupBy("event_type").agg(
        F.avg("daily_sum").alias("mu"),
        F.stddev_samp("daily_sum").alias("sigma"),
    )
    z = F.round((F.col("daily_sum") - F.col("mu")) / F.col("sigma"), 4)
    return (
        daily.join(F.broadcast(stats), "event_type")
        .filter(F.col("sigma") > 0)
        .select("event_type", "d", z.alias("z"))
        .filter(F.abs(F.col("z")) > 2)
    )


@q(
    "pit_feature_join",
    """WITH feats AS (
         SELECT user_id,
                CAST(CAST(ts AS DATE) AS TIMESTAMP) + INTERVAL 1 DAY AS avail,
                COUNT(*) AS f_cnt,
                ROUND(SUM(value), 4) AS f_sum
         FROM events GROUP BY 1, 2),
       labels AS (SELECT event_id, user_id, ts FROM events
                  WHERE event_id % 97 = 0)
       SELECT event_id, labels.user_id AS user_id,
              strftime(ts, '%Y-%m-%d %H:%M:%S') AS label_ts,
              CASE WHEN avail IS NULL THEN NULL
                   WHEN CAST(FLOOR(epoch(ts)) AS BIGINT)
                        - CAST(FLOOR(epoch(avail)) AS BIGINT) > 259200
                   THEN NULL ELSE f_cnt END AS f_cnt,
              CASE WHEN avail IS NULL THEN NULL
                   WHEN CAST(FLOOR(epoch(ts)) AS BIGINT)
                        - CAST(FLOOR(epoch(avail)) AS BIGINT) > 259200
                   THEN NULL ELSE f_sum END AS f_sum,
              CASE WHEN avail IS NULL THEN NULL
                   ELSE CAST(FLOOR(epoch(ts)) AS BIGINT)
                        - CAST(FLOOR(epoch(avail)) AS BIGINT) > 259200
                   END AS is_stale
       FROM labels
       ASOF LEFT JOIN feats
         ON labels.user_id = feats.user_id AND labels.ts >= feats.avail""",
)
def pit_feature_join(spark, sf_dir):
    """Point-in-time-correct feature join — the feature-store pattern
    for leakage-free training data: daily per-user feature snapshots
    become *available* at the following midnight, every label row
    picks the latest feature available at-or-before its own event
    time (never same-day data = no target leakage), and features
    staler than 3 days are nulled with an is_stale audit flag.

    Composed from the engine's as-of join (operators/joins.asof_join
    — union + one ordered window pass per user; no range re-scan).
    The oracle is DuckDB's *native* ASOF LEFT JOIN, so the
    composition is cross-validated against an independent as-of
    implementation, tie semantics included. Staleness compares whole
    epoch seconds — integer, boundary-safe."""
    from ..operators import joins

    ev = load_table(spark, sf_dir, "events")
    feats = ev.groupBy(
        "user_id",
        (F.to_date("ts").cast("timestamp") + F.expr("INTERVAL 1 DAY")).alias(
            "avail"
        ),
    ).agg(
        F.count(F.lit(1)).alias("f_cnt"),
        F.round(F.sum("value"), 4).alias("f_sum"),
    )
    labels = ev.filter(F.col("event_id") % 97 == 0).select(
        "event_id", "user_id", "ts"
    )
    j = joins.asof_join(
        labels,
        feats.withColumn("avail_t", F.col("avail")),
        on=["user_id"],
        left_time="ts",
        right_time="avail",
        right_vals=["f_cnt", "f_sum", "avail_t"],
    )
    age = F.unix_timestamp("ts") - F.unix_timestamp("avail_t")
    stale = F.when(F.col("avail_t").isNull(), F.lit(None).cast("boolean")).otherwise(
        age > 259200
    )
    fresh = ~F.coalesce(stale, F.lit(True))
    return j.select(
        "event_id",
        "user_id",
        F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("label_ts"),
        F.when(fresh, F.col("f_cnt")).alias("f_cnt"),
        F.when(fresh, F.col("f_sum")).alias("f_sum"),
        stale.alias("is_stale"),
    )


@q(
    "realized_vol_monthly",
    """WITH r AS (
         SELECT event_type,
                strftime(date_trunc('month', ts), '%Y-%m') AS ym,
                ln(value / LAG(value) OVER (PARTITION BY event_type
                     ORDER BY CAST(FLOOR(epoch(ts)) AS BIGINT), event_id)) AS ret
         FROM events WHERE value > 0)
       SELECT event_type, ym,
              COUNT(ret) AS n_returns,
              ROUND(sqrt(SUM(ret * ret)), 4) AS realized_vol
       FROM r WHERE ret IS NOT NULL
       GROUP BY 1, 2""",
)
def realized_vol_monthly(spark, sf_dir):
    """Realized volatility per (series, month): sqrt of the sum of
    squared log tick-returns — the standard high-frequency vol
    estimator (sum of squares converges to integrated variance as
    sampling density grows). Returns are computed over the
    (ts, event_id)-total-ordered series with one window pass; the
    month rollup reuses rows already partitioned by series. Matches
    the (type, month) grain shuffle-for-shuffle with daily_ohlcv."""
    ev = load_table(spark, sf_dir, "events").filter(F.col("value") > 0)
    w = Window.partitionBy("event_type").orderBy(F.unix_timestamp("ts"), "event_id")
    ret = F.log(F.col("value") / F.lag("value").over(w))
    r = ev.select(
        "event_type",
        F.date_format(F.date_trunc("month", "ts"), "yyyy-MM").alias("ym"),
        ret.alias("ret"),
    ).filter(F.col("ret").isNotNull())
    return r.groupBy("event_type", "ym").agg(
        F.count("ret").alias("n_returns"),
        F.round(F.sqrt(F.sum(F.col("ret") * F.col("ret"))), 4).alias(
            "realized_vol"
        ),
    )


@q(
    "beta_vs_market",
    """WITH daily AS (
         SELECT event_type, CAST(ts AS DATE) AS d, CAST((2 * CAST(SUM(CAST(value AS DECIMAL(18,2))) * 100 AS BIGINT)
                      * 10000 + COUNT(*)) // (2 * COUNT(*)) AS DOUBLE)
                / 1000000 AS v
         FROM events GROUP BY 1, 2),
       dr AS (
         SELECT event_type, d,
                ln(v / LAG(v) OVER (PARTITION BY event_type ORDER BY d)) AS r
         FROM daily),
       mkt AS (SELECT d, AVG(r) AS m FROM dr WHERE r IS NOT NULL GROUP BY 1),
       j AS (SELECT dr.event_type, dr.r, mkt.m
             FROM dr JOIN mkt ON dr.d = mkt.d WHERE dr.r IS NOT NULL)
       SELECT event_type,
              COUNT(*) AS n_days,
              ROUND(covar_samp(r, m) / var_samp(m), 4) AS beta,
              ROUND(corr(r, m), 4) AS correlation
       FROM j GROUP BY 1""",
)
def beta_vs_market(spark, sf_dir):
    """Per-series market beta: regression slope of the series' daily
    log returns against an equal-weight cross-series index return —
    covar/var in one JVM aggregate pass (no model fit, no Python).
    Daily means are rounded at the stage boundary so both engines
    derive returns from identical inputs; the tiny per-day market
    index broadcasts back onto the return stream."""
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy("event_type", F.to_date("ts").alias("d")).agg(
        exact.mean_6dp().alias("v")
    )
    w = Window.partitionBy("event_type").orderBy("d")
    dr = daily.select(
        "event_type", "d", F.log(F.col("v") / F.lag("v").over(w)).alias("r")
    ).filter(F.col("r").isNotNull())
    mkt = dr.groupBy("d").agg(F.avg("r").alias("m"))
    j = dr.join(F.broadcast(mkt), "d")
    return j.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_days"),
        F.round(F.covar_samp("r", "m") / F.var_samp("m"), 4).alias("beta"),
        F.round(F.corr("r", "m"), 4).alias("correlation"),
    )


@q(
    "bollinger_band_breakouts",
    """WITH daily AS (
         SELECT event_type, d, close FROM (
           SELECT event_type, CAST(ts AS DATE) AS d,
                  ROUND(value, 4) AS close,
                  ROW_NUMBER() OVER (PARTITION BY event_type, CAST(ts AS DATE)
                                     ORDER BY ts DESC, event_id DESC) AS rn
           FROM events) WHERE rn = 1),
       bands AS (
         SELECT event_type, d, close,
                COUNT(*) OVER w AS n_win,
                ROUND(AVG(close) OVER w, 4) AS ma20,
                ROUND(stddev_samp(close) OVER w, 4) AS sd20
         FROM daily
         WINDOW w AS (PARTITION BY event_type ORDER BY d
                      ROWS BETWEEN 19 PRECEDING AND CURRENT ROW))
       SELECT event_type, d, close, ma20, sd20,
              ROUND(ma20 + 2 * sd20, 4) AS upper_band,
              ROUND(ma20 - 2 * sd20, 4) AS lower_band,
              CASE WHEN close > ROUND(ma20 + 2 * sd20, 4) THEN 'above'
                   WHEN close < ROUND(ma20 - 2 * sd20, 4) THEN 'below'
                   ELSE 'inside' END AS breakout
       FROM bands WHERE n_win = 20""",
)
def bollinger_band_breakouts(spark, sf_dir):
    """Bollinger bands over per-series daily closes (last tick of the
    day by (ts, event_id)): 20-day rolling mean/stddev, ±2σ bands,
    breakout classification. Closes round at the stage boundary so
    both engines feed identical doubles into the rolling stats; band
    comparisons use the *rounded* bands so no IEEE edge flips a label
    in one engine. Plan: one shuffle to daily grain (row_number and
    the rolling frame share the per-series hash partitioning)."""
    ev = load_table(spark, sf_dir, "events")
    wday = Window.partitionBy("event_type", F.to_date("ts")).orderBy(
        F.desc("ts"), F.desc("event_id")
    )
    daily = (
        ev.withColumn("rn", F.row_number().over(wday))
        .filter(F.col("rn") == 1)
        .select(
            "event_type",
            F.to_date("ts").alias("d"),
            F.round("value", 4).alias("close"),
        )
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("d")
        .rowsBetween(-19, Window.currentRow)
    )
    bands = daily.select(
        "event_type",
        "d",
        "close",
        F.count(F.lit(1)).over(w).alias("n_win"),
        F.round(F.avg("close").over(w), 4).alias("ma20"),
        F.round(F.stddev_samp("close").over(w), 4).alias("sd20"),
    ).filter(F.col("n_win") == 20)
    upper = F.round(F.col("ma20") + 2 * F.col("sd20"), 4)
    lower = F.round(F.col("ma20") - 2 * F.col("sd20"), 4)
    return bands.select(
        "event_type",
        "d",
        "close",
        "ma20",
        "sd20",
        upper.alias("upper_band"),
        lower.alias("lower_band"),
        F.when(F.col("close") > upper, "above")
        .when(F.col("close") < lower, "below")
        .otherwise("inside")
        .alias("breakout"),
    )


@q(
    "rsi_14day",
    """WITH daily AS (
         SELECT event_type, d, close FROM (
           SELECT event_type, CAST(ts AS DATE) AS d,
                  ROUND(value, 4) AS close,
                  ROW_NUMBER() OVER (PARTITION BY event_type, CAST(ts AS DATE)
                                     ORDER BY ts DESC, event_id DESC) AS rn
           FROM events) WHERE rn = 1),
       deltas AS (
         SELECT event_type, d,
                ROUND(close - LAG(close) OVER (PARTITION BY event_type
                                               ORDER BY d), 4) AS delta
         FROM daily),
       gains AS (
         SELECT event_type, d,
                COUNT(delta) OVER w AS n_win,
                ROUND(AVG(GREATEST(delta, 0)) OVER w, 6) AS avg_gain,
                ROUND(AVG(GREATEST(-delta, 0)) OVER w, 6) AS avg_loss
         FROM deltas WHERE delta IS NOT NULL
         WINDOW w AS (PARTITION BY event_type ORDER BY d
                      ROWS BETWEEN 13 PRECEDING AND CURRENT ROW))
       SELECT event_type, d, avg_gain, avg_loss,
              CASE WHEN avg_loss = 0 THEN 100.0
                   ELSE ROUND(100.0 - 100.0 / (1.0 + avg_gain / avg_loss), 4)
              END AS rsi
       FROM gains WHERE n_win = 14""",
)
def rsi_14day(spark, sf_dir):
    """14-day RSI (simple-average Cutler variant — SQL-expressible,
    unlike Wilder's recursive smoothing which would need the EWMA
    fold): per-series daily closes, up/down move split, 14-row
    rolling averages, RSI = 100 − 100/(1+RS) with the avg_loss=0 →
    100 convention. Deltas and averages round at stage boundaries.
    Same single per-series shuffle as the Bollinger plan."""
    ev = load_table(spark, sf_dir, "events")
    wday = Window.partitionBy("event_type", F.to_date("ts")).orderBy(
        F.desc("ts"), F.desc("event_id")
    )
    daily = (
        ev.withColumn("rn", F.row_number().over(wday))
        .filter(F.col("rn") == 1)
        .select(
            "event_type",
            F.to_date("ts").alias("d"),
            F.round("value", 4).alias("close"),
        )
    )
    wlag = Window.partitionBy("event_type").orderBy("d")
    deltas = daily.select(
        "event_type",
        "d",
        F.round(F.col("close") - F.lag("close").over(wlag), 4).alias("delta"),
    ).filter(F.col("delta").isNotNull())
    w = (
        Window.partitionBy("event_type")
        .orderBy("d")
        .rowsBetween(-13, Window.currentRow)
    )
    gains = deltas.select(
        "event_type",
        "d",
        F.count("delta").over(w).alias("n_win"),
        F.round(F.avg(F.greatest(F.col("delta"), F.lit(0))).over(w), 6).alias(
            "avg_gain"
        ),
        F.round(F.avg(F.greatest(-F.col("delta"), F.lit(0))).over(w), 6).alias(
            "avg_loss"
        ),
    ).filter(F.col("n_win") == 14)
    rsi = F.when(F.col("avg_loss") == 0, F.lit(100.0)).otherwise(
        F.round(100.0 - 100.0 / (1.0 + F.col("avg_gain") / F.col("avg_loss")), 4)
    )
    return gains.select("event_type", "d", "avg_gain", "avg_loss", rsi.alias("rsi"))


@q(
    "cascading_time_rollup",
    """SELECT event_type,
              CAST(CAST(ts AS DATE) AS TIMESTAMP) AS day,
              COUNT(*) AS n_events,
              CAST(ROUND(SUM(CAST(value AS DECIMAL(18,4))), 2) AS DOUBLE)
                AS total_value,
              CAST(MAX(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS max_value
       FROM events GROUP BY 1, 2""",
)
def cascading_time_rollup(spark, sf_dir):
    """Continuous-aggregate cascade (hypertable rollup): raw ticks →
    1-minute grain → 1-hour grain → 1-day grain, each level
    aggregating ONLY the level below. count/sum/max are algebraic, so
    the cascade is exactly lossless — the oracle aggregates the raw
    table straight to days and must hash-match. At 100 TB this is the
    incremental-maintenance pattern: the minute layer absorbs the
    stream, coarser layers re-aggregate thousands of rows, never the
    raw ticks; per-level decimal sums make the cascade
    order-insensitive."""
    ev = load_table(spark, sf_dir, "events")
    minute = ev.groupBy(
        "event_type", F.date_trunc("minute", "ts").alias("g")
    ).agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum(F.col("value").cast("decimal(18,4)")).alias("sum_value"),
        F.max(F.col("value").cast("decimal(18,4)")).alias("max_value"),
    )
    hour = minute.groupBy(
        "event_type", F.date_trunc("hour", "g").alias("g")
    ).agg(
        F.sum("n_events").alias("n_events"),
        F.sum("sum_value").alias("sum_value"),
        F.max("max_value").alias("max_value"),
    )
    day = hour.groupBy(
        "event_type", F.date_trunc("day", "g").alias("day")
    ).agg(
        F.sum("n_events").alias("n_events"),
        F.round(F.sum("sum_value"), 2).cast("double").alias("total_value"),
        F.max("max_value").cast("double").alias("max_value"),
    )
    return day


@q(
    "yoy_revenue_growth",
    """WITH yearly AS (
         SELECT n.n_name AS nation,
                CAST(EXTRACT(YEAR FROM o.o_orderdate) AS INT) AS o_year,
                CAST(ROUND(SUM(CAST(l.l_extendedprice * (1 - l.l_discount)
                                    AS DECIMAL(18,4))), 2) AS DOUBLE) AS revenue
         FROM lineitem l
         JOIN orders o ON l.l_orderkey = o.o_orderkey
         JOIN customer c ON o.o_custkey = c.c_custkey
         JOIN nation n ON c.c_nationkey = n.n_nationkey
         GROUP BY 1, 2)
       SELECT nation, o_year, revenue,
              LAG(revenue) OVER (PARTITION BY nation ORDER BY o_year)
                AS prev_revenue,
              ROUND((revenue - LAG(revenue) OVER (PARTITION BY nation
                                                  ORDER BY o_year))
                    / LAG(revenue) OVER (PARTITION BY nation ORDER BY o_year)
                    * 100, 4) AS growth_pct
       FROM yearly""",
)
def yoy_revenue_growth(spark, sf_dir):
    """Year-over-year growth — the window-over-aggregate shape (TPC-DS
    store-growth family): star join to (nation, year) grain, then lag
    within each nation's yearly series. The window input is 25
    nations × 7 years, so the lag partitioning is free after the
    aggregate shuffle; decimal revenue rounds before the ratio so both
    engines divide identical doubles."""
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    yearly = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy(
            F.col("n_name").alias("nation"),
            F.year("o_orderdate").cast("int").alias("o_year"),
        )
        .agg(
            F.round(
                F.sum(
                    (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(
                        "decimal(18,4)"
                    )
                ),
                2,
            )
            .cast("double")
            .alias("revenue")
        )
    )
    w = Window.partitionBy("nation").orderBy("o_year")
    prev = F.lag("revenue").over(w)
    return yearly.select(
        "nation",
        "o_year",
        "revenue",
        prev.alias("prev_revenue"),
        F.round((F.col("revenue") - prev) / prev * 100, 4).alias("growth_pct"),
    )


# z-normalized ramp query pattern of length 8: ((j+1) - 4.5) / sqrt(6),
# rounded to 6 so Spark literals and oracle SQL text are identical.
_SHAPE_M = 8
_SHAPE_Q = [round(((j + 1) - 4.5) / 2.449489742783178, 6) for j in range(_SHAPE_M)]
_SHAPE_Q_VALUES = ", ".join(f"({j}, {v})" for j, v in enumerate(_SHAPE_Q))


@q(
    "ts_shape_match_topk",
    f"""WITH daily AS (
         SELECT event_type, d, close,
                ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY d) AS rn
         FROM (
           SELECT event_type, d, close FROM (
             SELECT event_type, CAST(ts AS DATE) AS d,
                    ROUND(value, 4) AS close,
                    ROW_NUMBER() OVER (PARTITION BY event_type, CAST(ts AS DATE)
                                       ORDER BY ts DESC, event_id DESC) AS rnd
             FROM events) WHERE rnd = 1)),
       win AS (
         SELECT a.event_type, a.d AS start_d, b.rn - a.rn AS j, b.close
         FROM daily a JOIN daily b
           ON a.event_type = b.event_type AND b.rn BETWEEN a.rn AND a.rn + {_SHAPE_M - 1}),
       stats AS (
         SELECT event_type, start_d, COUNT(*) AS n,
                ROUND(AVG(close), 6) AS mu,
                ROUND(stddev_samp(close), 6) AS sd
         FROM win GROUP BY 1, 2),
       q(j, qz) AS (VALUES {_SHAPE_Q_VALUES}),
       dist AS (
         SELECT w.event_type, w.start_d,
                ROUND(SUM(ROUND(POWER((w.close - s.mu) / s.sd - q.qz, 2), 6)), 4)
                  AS dist2
         FROM win w
         JOIN stats s ON w.event_type = s.event_type AND w.start_d = s.start_d
         JOIN q ON w.j = q.j
         WHERE s.n = {_SHAPE_M} AND s.sd > 0
         GROUP BY 1, 2)
       SELECT event_type, start_d, dist2
       FROM dist ORDER BY dist2 ASC, event_type ASC, start_d ASC
       LIMIT 10""",
)
def ts_shape_match_topk(spark, sf_dir):
    """Subsequence shape search (the distributed z-normalized
    similarity scan of 'Time Series Similarity Search for Streaming
    Data in Distributed Systems', EDBT 2019): find the 10 daily-close
    subsequences of length 8 closest to a ramp (steady up-trend)
    pattern under z-normalized Euclidean distance. Spark: each
    series' closes carry their own 8-row forward frame
    (collect_list + avg/stddev over the same window partitioning —
    one per-series shuffle total), z-normalization and the distance
    fold are JVM array lambdas against the inlined pattern literals.
    The oracle reformulates the sliding window as a rn-band
    self-join. Per-term rounding before the fold keeps the two
    engines' sums bit-comparable. At 100 TB: the pattern is O(m)
    driver state; candidate windows never leave their series
    partition — the topology of a distributed matrix-profile scan."""
    ev = load_table(spark, sf_dir, "events")
    wday = Window.partitionBy("event_type", F.to_date("ts")).orderBy(
        F.desc("ts"), F.desc("event_id")
    )
    daily = (
        ev.withColumn("rnd", F.row_number().over(wday))
        .filter(F.col("rnd") == 1)
        .select(
            "event_type",
            F.to_date("ts").alias("d"),
            F.round("value", 4).alias("close"),
        )
    )
    frame = (
        Window.partitionBy("event_type").orderBy("d").rowsBetween(0, _SHAPE_M - 1)
    )
    seqs = daily.select(
        "event_type",
        F.col("d").alias("start_d"),
        F.collect_list("close").over(frame).alias("arr"),
        F.round(F.avg("close").over(frame), 6).alias("mu"),
        F.round(F.stddev_samp("close").over(frame), 6).alias("sd"),
    ).filter((F.size("arr") == _SHAPE_M) & (F.col("sd") > 0))
    qlit = F.array(*[F.lit(v) for v in _SHAPE_Q])
    zarr = F.transform(
        F.col("arr"), lambda x: (x - F.col("mu")) / F.col("sd")
    )
    dist2 = F.round(
        F.aggregate(
            F.zip_with(zarr, qlit, lambda a, b: F.round((a - b) * (a - b), 6)),
            F.lit(0.0),
            lambda acc, x: acc + x,
        ),
        4,
    )
    return (
        seqs.select("event_type", "start_d", dist2.alias("dist2"))
        .orderBy(F.asc("dist2"), F.asc("event_type"), F.asc("start_d"))
        .limit(10)
    )


@q(
    "monthly_revenue_moving_avg",
    """WITH monthly AS (
         SELECT n.n_name AS nation,
                CAST(date_trunc('month', o.o_orderdate) AS TIMESTAMP) AS month,
                CAST(ROUND(SUM(CAST(l.l_extendedprice * (1 - l.l_discount)
                                    AS DECIMAL(18,4))), 2) AS DOUBLE) AS revenue
         FROM lineitem l
         JOIN orders o ON l.l_orderkey = o.o_orderkey
         JOIN customer c ON o.o_custkey = c.c_custkey
         JOIN nation n ON c.c_nationkey = n.n_nationkey
         GROUP BY 1, 2)
       SELECT nation, month, revenue,
              COUNT(*) OVER w AS n_window,
              ROUND(AVG(revenue) OVER w, 4) AS revenue_mavg3
       FROM monthly
       WINDOW w AS (PARTITION BY nation ORDER BY month
                    ROWS BETWEEN 2 PRECEDING AND CURRENT ROW)""",
)
def monthly_revenue_moving_avg(spark, sf_dir):
    """Smoothed trend reporting: 3-month moving average of each
    nation's monthly revenue — the frame-over-aggregate composition
    (dashboard 'price with MA' A8 generalized from time grains to a
    star-join aggregate). The window partitioning (nation) is a
    prefix of the aggregate grouping (nation, month): AQE reuses the
    exchange, so smoothing is free after the rollup."""
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    monthly = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy(
            F.col("n_name").alias("nation"),
            F.date_trunc("month", "o_orderdate").alias("month"),
        )
        .agg(
            F.round(
                F.sum(
                    (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(
                        "decimal(18,4)"
                    )
                ),
                2,
            )
            .cast("double")
            .alias("revenue")
        )
    )
    w = (
        Window.partitionBy("nation")
        .orderBy("month")
        .rowsBetween(-2, Window.currentRow)
    )
    return monthly.select(
        "nation",
        "month",
        "revenue",
        F.count(F.lit(1)).over(w).alias("n_window"),
        F.round(F.avg("revenue").over(w), 4).alias("revenue_mavg3"),
    )


@q(
    "rolling_median_value",
    """WITH daily AS (
         SELECT event_type, CAST(ts AS DATE) AS d,
                ROUND(SUM(value), 4) AS daily_sum
         FROM events GROUP BY 1, 2)
       SELECT event_type, d, daily_sum,
              COUNT(*) OVER w AS n_win,
              ROUND(quantile_cont(daily_sum, 0.5) OVER w, 4) AS rolling_median
       FROM daily
       WINDOW w AS (PARTITION BY event_type ORDER BY d
                    ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)""",
)
def rolling_median_value(spark, sf_dir):
    """Rolling exact median (7-day) of per-series daily totals — an
    ordered-set aggregate used as a window function, the robust
    alternative to the rolling mean for spiky streams. Spark's
    percentile() and DuckDB's quantile_cont share linear
    interpolation, so values hash-match after rounding. Same
    two-exchange topology as the other rolling plans (daily grain +
    per-series frames)."""
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy("event_type", F.to_date("ts").alias("d")).agg(
        F.round(F.sum("value"), 4).alias("daily_sum")
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("d")
        .rowsBetween(-6, Window.currentRow)
    )
    return daily.select(
        "event_type",
        "d",
        "daily_sum",
        F.count(F.lit(1)).over(w).alias("n_win"),
        F.round(F.expr("percentile(daily_sum, 0.5)").over(w), 4).alias(
            "rolling_median"
        ),
    )


@q(
    "winsorized_value_stats",
    """WITH bounds AS (
         SELECT event_type,
                quantile_cont(value, 0.05) AS p05,
                quantile_cont(value, 0.95) AS p95
         FROM events GROUP BY 1),
       clipped AS (
         SELECT e.event_type,
                e.value,
                LEAST(GREATEST(e.value, b.p05), b.p95) AS wvalue
         FROM events e JOIN bounds b ON e.event_type = b.event_type)
       SELECT event_type,
              COUNT(*) AS n,
              CAST((2 * CAST(SUM(CAST(value AS DECIMAL(18,2))) * 100 AS BIGINT)
                      * 10000 + COUNT(*)) // (2 * COUNT(*)) AS DOUBLE)
                / 1000000 AS raw_mean,
              ROUND(AVG(wvalue), 6) AS winsorized_mean,
              ROUND(stddev_samp(value), 4) AS raw_std,
              ROUND(stddev_samp(wvalue), 4) AS winsorized_std
       FROM clipped GROUP BY 1""",
)
def winsorized_value_stats(spark, sf_dir):
    """Winsorized robust statistics: per-series p05/p95 bounds (exact
    interpolated percentiles, tiny aggregate broadcast back) clip the
    tails before mean/stddev — the outlier-resistant summary a
    monitoring pipeline prefers over raw moments. One scan feeds both
    the bounds aggregate and the clipped re-aggregation; the fact
    side never shuffles for the bounds join."""
    ev = load_table(spark, sf_dir, "events")
    bounds = ev.groupBy("event_type").agg(
        F.expr("percentile(value, 0.05)").alias("p05"),
        F.expr("percentile(value, 0.95)").alias("p95"),
    )
    clipped = ev.join(F.broadcast(bounds), "event_type").select(
        "event_type",
        "value",
        F.least(F.greatest(F.col("value"), F.col("p05")), F.col("p95")).alias(
            "wvalue"
        ),
    )
    return clipped.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        exact.mean_6dp().alias("raw_mean"),
        F.round(F.avg("wvalue"), 6).alias("winsorized_mean"),
        F.round(F.stddev_samp("value"), 4).alias("raw_std"),
        F.round(F.stddev_samp("wvalue"), 4).alias("winsorized_std"),
    )


@q(
    "open_order_backlog",
    """WITH opened AS (
         SELECT CAST(o_orderdate AS DATE) AS d, COUNT(*) AS n_opened
         FROM orders GROUP BY 1),
       closed_by_day AS (
         SELECT d, COUNT(*) AS n_closed
         FROM (SELECT CAST(MAX(l_shipdate) AS DATE) AS d
               FROM lineitem GROUP BY l_orderkey)
         GROUP BY 1),
       deltas AS (
         SELECT COALESCE(o.d, c.d) AS d,
                COALESCE(o.n_opened, 0) AS n_opened,
                COALESCE(c.n_closed, 0) AS n_closed
         FROM opened o FULL OUTER JOIN closed_by_day c ON o.d = c.d)
       SELECT d, n_opened, n_closed,
              CAST(SUM(n_opened - n_closed) OVER (ORDER BY d
                                                  ROWS UNBOUNDED PRECEDING)
                   AS BIGINT) AS backlog
       FROM deltas""",
)
def open_order_backlog(spark, sf_dir):
    """Open-order backlog over time by sweep-line aggregation: +1 on
    each order's open date, −1 on its completion (last shipment), net
    per day, cumulative sum = how many orders were in flight on each
    date. This answers the interval-overlap question ('how many open
    at time T, for every T') with two grain aggregates + one
    cumulative window over the DATE-grain rows — never the
    order×date range join that naive formulations use (at 100 TB:
    |dates| rows in the window vs |orders|×|days| join output). The
    unpartitioned window runs over ~2.5k date rows — constant in data
    size."""
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    opened = o.groupBy(F.to_date("o_orderdate").alias("d")).agg(
        F.count(F.lit(1)).alias("n_opened")
    )
    closed = (
        li.groupBy("l_orderkey")
        .agg(F.to_date(F.max("l_shipdate")).alias("d"))
        .groupBy("d")
        .agg(F.count(F.lit(1)).alias("n_closed"))
    )
    deltas = (
        opened.join(closed, "d", "full_outer")
        .select(
            "d",
            F.coalesce("n_opened", F.lit(0)).alias("n_opened"),
            F.coalesce("n_closed", F.lit(0)).alias("n_closed"),
        )
    )
    # bounded-grain: day grain after groupBy (rows = distinct days)
    w = Window.orderBy("d").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return deltas.select(
        "d",
        "n_opened",
        "n_closed",
        F.sum(F.col("n_opened") - F.col("n_closed")).over(w).alias("backlog"),
    )


@q(
    "holt_linear_forecast",
    """WITH RECURSIVE daily AS (
         SELECT event_type, CAST(ts AS DATE) AS d,
                CAST((2 * CAST(SUM(CAST(value AS DECIMAL(18,2))) * 100 AS BIGINT)
                      * 10000 + COUNT(*)) // (2 * COUNT(*)) AS DOUBLE)
                / 1000000 AS v
         FROM events GROUP BY 1, 2),
       series AS (
         SELECT event_type,
                list_transform(list(v ORDER BY d), x -> CAST(x AS DOUBLE)) AS vs,
                COUNT(*) AS n_days
         FROM daily GROUP BY 1),
       steps AS (
         SELECT event_type, n_days, vs, 2 AS t,
                vs[2] AS l, vs[2] - vs[1] AS b
         FROM series WHERE n_days >= 3
         UNION ALL
         SELECT event_type, n_days, vs, t + 1,
                vs[t + 1] * CAST(0.5 AS DOUBLE)
                  + (l + b) * CAST(0.5 AS DOUBLE),
                (vs[t + 1] * CAST(0.5 AS DOUBLE)
                  + (l + b) * CAST(0.5 AS DOUBLE) - l) * CAST(0.25 AS DOUBLE)
                  + b * CAST(0.75 AS DOUBLE)
         FROM steps WHERE t < n_days)
       SELECT event_type, n_days,
              ROUND(l, 6) AS level,
              ROUND(b, 6) AS trend,
              ROUND(l + 3 * b, 6) AS forecast_3
       FROM steps WHERE t = n_days""",
)
def holt_linear_forecast(spark, sf_dir):
    """Holt linear-trend (double) exponential smoothing per series —
    the forecasting-family extension of the X-suite (alpha=0.5,
    beta=0.25; Hyndman-style init l2=v2, b2=v2-v1, recurrence from the
    third observation). Like ewma_daily_value, the smoothing is a
    SEQUENTIAL left fold over the date-sorted daily array, executed as
    the same IEEE op sequence in both engines (aggregate() with a
    struct state here, list_reduce over struct elements in DuckDB) —
    exact-binary smoothing constants (0.5/0.25) keep every step a
    clean scaling. The collect_list per series is bounded by
    days-per-series, not tick count, so the pattern holds at 100 TB."""
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy("event_type", F.to_date("ts").alias("d")).agg(
        exact.mean_6dp().alias("v")
    )
    series = daily.groupBy("event_type").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("d", "v"))), lambda s: s["v"]
        ).alias("vs"),
        F.count(F.lit(1)).alias("n_days"),
    ).filter(F.col("n_days") >= 3)

    v = F.col("vs")
    init = F.struct(
        F.element_at(v, 2).alias("l"),
        (F.element_at(v, 2) - F.element_at(v, 1)).alias("b"),
    )

    def step(acc, x):
        new_l = x * F.lit(0.5) + (acc["l"] + acc["b"]) * F.lit(0.5)
        return F.struct(
            new_l.alias("l"),
            (
                (new_l - acc["l"]) * F.lit(0.25) + acc["b"] * F.lit(0.75)
            ).alias("b"),
        )

    st = F.aggregate(
        F.slice(v, 3, F.greatest(F.size(v) - 2, F.lit(0))), init, step
    )
    return series.select(
        "event_type",
        "n_days",
        F.round(st["l"], 6).alias("level"),
        F.round(st["b"], 6).alias("trend"),
        F.round(st["l"] + F.lit(3) * st["b"], 6).alias("forecast_3"),
    )


@q(
    "holt_winters_seasonal",
    """WITH RECURSIVE daily AS (
         SELECT event_type, CAST(ts AS DATE) AS d,
                CAST((2 * CAST(SUM(CAST(value AS DECIMAL(18,2))) * 100 AS BIGINT)
                      * 10000 + COUNT(*)) // (2 * COUNT(*)) AS DOUBLE)
                / 1000000 AS v
         FROM events GROUP BY 1, 2),
       series AS (
         SELECT event_type,
                list_transform(list(v ORDER BY d), x -> CAST(x AS DOUBLE)) AS vs,
                COUNT(*) AS n_days
         FROM daily GROUP BY 1),
       seeded AS (
         SELECT *,
                list_reduce(vs[1:7], (a, x) -> a + x) / 7 AS m1,
                list_reduce(vs[8:14], (a, x) -> a + x) / 7 AS m2
         FROM series WHERE n_days >= 14),
       steps AS (
         SELECT event_type, n_days, vs, 7 AS t,
                m1 AS l, (m2 - m1) / 7 AS b,
                list_transform(vs[1:7], x -> x - m1) AS s
         FROM seeded
         UNION ALL
         SELECT event_type, n_days, vs, t + 1,
                (vs[t + 1] - s[1]) * CAST(0.5 AS DOUBLE)
                  + (l + b) * CAST(0.5 AS DOUBLE),
                ((vs[t + 1] - s[1]) * CAST(0.5 AS DOUBLE)
                  + (l + b) * CAST(0.5 AS DOUBLE) - l) * CAST(0.25 AS DOUBLE)
                  + b * CAST(0.75 AS DOUBLE),
                s[2:] || [(vs[t + 1]
                           - ((vs[t + 1] - s[1]) * CAST(0.5 AS DOUBLE)
                              + (l + b) * CAST(0.5 AS DOUBLE)))
                            * CAST(0.25 AS DOUBLE)
                          + s[1] * CAST(0.75 AS DOUBLE)]
         FROM steps WHERE t < n_days)
       SELECT event_type, n_days,
              ROUND(l, 6) AS level,
              ROUND(b, 6) AS trend,
              ROUND(s[3], 6) AS season_3,
              ROUND(l + 3 * b + s[3], 6) AS forecast_3
       FROM steps WHERE t = n_days""",
)
def holt_winters_seasonal(spark, sf_dir, period: int = 7):
    """Holt-Winters additive triple smoothing (alpha=0.5, beta=0.25,
    gamma=0.25; weekly season P=7; classical init: level = first-week
    mean, trend = week-over-week mean difference / P, seasonals =
    first-week deviations). State is (level, trend, rolling P-vector
    of seasonals) folded sequentially over the date-sorted daily
    array — a JVM struct+array fold here, the identical recurrence
    unrolled as a recursive CTE in DuckDB (same list-state mechanics:
    drop the consumed seasonal, append the refreshed one). h-step
    forecast = level + h*trend + seasonal[h]. Exact-binary smoothing
    constants; state size is P+2 doubles per series regardless of
    tick count."""
    P = period
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy("event_type", F.to_date("ts").alias("d")).agg(
        exact.mean_6dp().alias("v")
    )
    series = daily.groupBy("event_type").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("d", "v"))), lambda s: s["v"]
        ).alias("vs"),
        F.count(F.lit(1)).alias("n_days"),
    ).filter(F.col("n_days") >= 2 * P)

    v = F.col("vs")

    def lsum(sl):
        return F.aggregate(sl, F.lit(0.0), lambda a, x: a + x)

    m1 = lsum(F.slice(v, 1, P)) / P
    m2 = lsum(F.slice(v, P + 1, P)) / P
    init = F.struct(
        m1.alias("l"),
        ((m2 - m1) / P).alias("b"),
        F.transform(F.slice(v, 1, P), lambda x: x - m1).alias("s"),
    )

    def step(acc, x):
        sp = F.element_at(acc["s"], 1)
        nl = (x - sp) * F.lit(0.5) + (acc["l"] + acc["b"]) * F.lit(0.5)
        nb = (nl - acc["l"]) * F.lit(0.25) + acc["b"] * F.lit(0.75)
        ns = (x - nl) * F.lit(0.25) + sp * F.lit(0.75)
        return F.struct(
            nl.alias("l"),
            nb.alias("b"),
            F.concat(F.slice(acc["s"], 2, P - 1), F.array(ns)).alias("s"),
        )

    st = F.aggregate(
        F.slice(v, P + 1, F.greatest(F.size(v) - P, F.lit(0))), init, step
    )
    return series.select(
        "event_type",
        "n_days",
        F.round(st["l"], 6).alias("level"),
        F.round(st["b"], 6).alias("trend"),
        F.round(F.element_at(st["s"], 3), 6).alias("season_3"),
        F.round(
            st["l"] + F.lit(3) * st["b"] + F.element_at(st["s"], 3), 6
        ).alias("forecast_3"),
    )


@q(
    "kalman_local_level",
    """WITH RECURSIVE daily AS (
         SELECT event_type, CAST(ts AS DATE) AS d,
                CAST((2 * CAST(SUM(CAST(value AS DECIMAL(18,2))) * 100 AS BIGINT)
                      * 10000 + COUNT(*)) // (2 * COUNT(*)) AS DOUBLE)
                / 1000000 AS v
         FROM events GROUP BY 1, 2),
       series AS (
         SELECT event_type,
                list_transform(list(v ORDER BY d), x -> CAST(x AS DOUBLE)) AS vs,
                COUNT(*) AS n_days
         FROM daily GROUP BY 1),
       steps AS (
         SELECT event_type, n_days, vs, 1 AS t,
                vs[1] AS x, CAST(4 AS DOUBLE) AS p,
                CAST(0 AS DOUBLE) AS k
         FROM series WHERE n_days >= 2
         UNION ALL
         SELECT event_type, n_days, vs, t + 1,
                x + ((p + CAST(1 AS DOUBLE))
                     / (p + CAST(1 AS DOUBLE) + CAST(4 AS DOUBLE)))
                    * (vs[t + 1] - x),
                (CAST(1 AS DOUBLE)
                 - (p + CAST(1 AS DOUBLE))
                   / (p + CAST(1 AS DOUBLE) + CAST(4 AS DOUBLE)))
                * (p + CAST(1 AS DOUBLE)),
                (p + CAST(1 AS DOUBLE))
                  / (p + CAST(1 AS DOUBLE) + CAST(4 AS DOUBLE))
         FROM steps WHERE t < n_days)
       SELECT event_type, n_days,
              ROUND(x, 6) AS level,
              ROUND(k, 6) AS gain,
              ROUND(p, 6) AS variance
       FROM steps WHERE t = n_days""",
)
def kalman_local_level(spark, sf_dir):
    """Kalman filter for the local-level (random-walk + noise) state
    space model, process variance q=1, observation variance r=4,
    init x1=v1 / P1=r: per step P_pred = P + q, K = P_pred/(P_pred+r),
    x += K(v - x), P = (1-K)P_pred. The filter is a sequential scalar
    fold over the date-sorted daily series — a JVM struct fold here,
    the identical recurrence unrolled as a recursive CTE in DuckDB
    (same IEEE op order, incl. the division). The gain converges to
    the steady-state Riccati solution, so `gain` doubles as a
    convergence check. Per-series state is 2 doubles — streamable."""
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy("event_type", F.to_date("ts").alias("d")).agg(
        exact.mean_6dp().alias("v")
    )
    series = daily.groupBy("event_type").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("d", "v"))), lambda s: s["v"]
        ).alias("vs"),
        F.count(F.lit(1)).alias("n_days"),
    ).filter(F.col("n_days") >= 2)

    v = F.col("vs")
    q, r = F.lit(1.0), F.lit(4.0)
    init = F.struct(
        F.element_at(v, 1).alias("x"),
        F.lit(4.0).alias("p"),
        F.lit(0.0).alias("k"),
    )

    def step(acc, obs):
        p_pred = acc["p"] + q
        k = p_pred / (p_pred + r)
        return F.struct(
            (acc["x"] + k * (obs - acc["x"])).alias("x"),
            ((F.lit(1.0) - k) * p_pred).alias("p"),
            k.alias("k"),
        )

    st = F.aggregate(
        F.slice(v, 2, F.greatest(F.size(v) - 1, F.lit(0))), init, step
    )
    return series.select(
        "event_type",
        "n_days",
        F.round(st["x"], 6).alias("level"),
        F.round(st["k"], 6).alias("gain"),
        F.round(st["p"], 6).alias("variance"),
    )


@q(
    "cusum_changepoints",
    """WITH RECURSIVE daily AS (
         SELECT event_type, CAST(ts AS DATE) AS d,
                ROUND(CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE)
                      / COUNT(*), 6) AS v
         FROM events GROUP BY 1, 2),
       series AS (
         SELECT event_type,
                list_transform(list(v ORDER BY d), x -> CAST(x AS DOUBLE)) AS vs,
                COUNT(*) AS n_days
         FROM daily GROUP BY 1),
       seeded AS (
         SELECT *, list_reduce(vs[1:7], (a, x) -> a + x) / 7 AS mu0
         FROM series WHERE n_days >= 8),
       steps AS (
         SELECT event_type, n_days, vs, mu0, 7 AS t,
                CAST(0 AS DOUBLE) AS sp, CAST(0 AS DOUBLE) AS sn,
                CAST(0 AS DOUBLE) AS max_sp, CAST(0 AS DOUBLE) AS max_sn,
                0 AS alarm_t
         FROM seeded
         UNION ALL
         SELECT event_type, n_days, vs, mu0, t + 1,
                GREATEST(CAST(0 AS DOUBLE),
                         sp + (vs[t + 1] - mu0 - CAST(1 AS DOUBLE))),
                GREATEST(CAST(0 AS DOUBLE),
                         sn - (vs[t + 1] - mu0 + CAST(1 AS DOUBLE))),
                GREATEST(max_sp,
                         GREATEST(CAST(0 AS DOUBLE),
                                  sp + (vs[t + 1] - mu0 - CAST(1 AS DOUBLE)))),
                GREATEST(max_sn,
                         GREATEST(CAST(0 AS DOUBLE),
                                  sn - (vs[t + 1] - mu0 + CAST(1 AS DOUBLE)))),
                CASE WHEN alarm_t > 0 THEN alarm_t
                     WHEN GREATEST(CAST(0 AS DOUBLE),
                                   sp + (vs[t + 1] - mu0 - CAST(1 AS DOUBLE)))
                            > CAST(8 AS DOUBLE)
                       OR GREATEST(CAST(0 AS DOUBLE),
                                   sn - (vs[t + 1] - mu0 + CAST(1 AS DOUBLE)))
                            > CAST(8 AS DOUBLE)
                     THEN t + 1 ELSE 0 END
         FROM steps WHERE t < n_days)
       SELECT event_type, n_days, ROUND(mu0, 6) AS mu0,
              ROUND(max_sp, 6) AS max_cusum_pos,
              ROUND(max_sn, 6) AS max_cusum_neg,
              alarm_t
       FROM steps WHERE t = n_days""",
)
def cusum_changepoints(spark, sf_dir):
    """Two-sided CUSUM changepoint monitor (Page's test): baseline
    mu0 = first-week mean, slack k=1, threshold h=8 (units of the
    daily mean). S+ accumulates upward drift, S- downward; `alarm_t`
    is the 1-based day index of the FIRST threshold crossing (0 =
    in control) — the sequential-monitoring semantics a streaming
    deployment would run, here as the same fold/recursive-CTE pair as
    the other sequential operators. Monitoring starts after the
    baseline week, state is 4 doubles + a flag per series.

    The daily mean goes through an EXACT decimal numerator (sum as
    DECIMAL, one double division) rather than ROUND(AVG(..)): CUSUM
    accumulates deviations undiscounted, so a single cross-engine
    rounding-boundary flip in one day's mean would drift the sums
    past the output rounding — the discounted folds (EWMA / Holt /
    Kalman) forgive that, a pure sum does not."""
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy("event_type", F.to_date("ts").alias("d")).agg(
        F.round(
            F.sum(F.col("value").cast("decimal(18,4)")).cast("double")
            / F.count(F.lit(1)),
            6,
        ).alias("v")
    )
    series = daily.groupBy("event_type").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("d", "v"))), lambda s: s["v"]
        ).alias("vs"),
        F.count(F.lit(1)).alias("n_days"),
    ).filter(F.col("n_days") >= 8)

    v = F.col("vs")
    mu0 = F.aggregate(
        F.slice(v, 1, 7), F.lit(0.0), lambda a, x: a + x
    ) / F.lit(7)
    # "__mu0", NOT "mu0": the output column below is ROUND(mu0) AS mu0,
    # and if the inner column shares that name, projection collapsing
    # re-binds the fold's by-name reference to the ROUNDED value —
    # observed as a 2.86e-7-per-step drift (23 steps -> 6e-6) vs the
    # Python replay and the DuckDB oracle, which agree with the
    # unrounded baseline. Distinct names make the binding unambiguous.
    series = series.withColumn("__mu0", mu0)
    k, h = F.lit(1.0), F.lit(8.0)
    init = F.struct(
        F.lit(0.0).alias("sp"),
        F.lit(0.0).alias("sn"),
        F.lit(0.0).alias("max_sp"),
        F.lit(0.0).alias("max_sn"),
        F.lit(7).alias("t"),
        F.lit(0).alias("alarm_t"),
    )

    def step(acc, obs):
        sp = F.greatest(F.lit(0.0), acc["sp"] + (obs - F.col("__mu0") - k))
        sn = F.greatest(F.lit(0.0), acc["sn"] - (obs - F.col("__mu0") + k))
        t = acc["t"] + 1
        alarm = F.when(acc["alarm_t"] > 0, acc["alarm_t"]).otherwise(
            F.when((sp > h) | (sn > h), t).otherwise(F.lit(0))
        )
        return F.struct(
            sp.alias("sp"),
            sn.alias("sn"),
            F.greatest(acc["max_sp"], sp).alias("max_sp"),
            F.greatest(acc["max_sn"], sn).alias("max_sn"),
            t.alias("t"),
            alarm.alias("alarm_t"),
        )

    st = F.aggregate(
        F.slice(v, 8, F.greatest(F.size(v) - 7, F.lit(0))), init, step
    )
    return series.select(
        "event_type",
        "n_days",
        F.round("__mu0", 6).alias("mu0"),
        F.round(st["max_sp"], 6).alias("max_cusum_pos"),
        F.round(st["max_sn"], 6).alias("max_cusum_neg"),
        st["alarm_t"].alias("alarm_t"),
    )


@q(
    "resample_ffill_daily",
    """WITH daily0 AS (
         SELECT event_type, CAST(ts AS DATE) AS d, value,
                ROW_NUMBER() OVER (
                  PARTITION BY event_type, CAST(ts AS DATE)
                  ORDER BY CAST(FLOOR(epoch(ts)) AS BIGINT) DESC,
                           event_id DESC) AS rn
         FROM events),
       daily AS (
         SELECT event_type, d, ROUND(value, 4) AS close
         FROM daily0 WHERE rn = 1 AND dayofmonth(d) % 3 != 0),
       bounds AS (SELECT event_type, MIN(d) AS lo, MAX(d) AS hi
                  FROM daily GROUP BY 1),
       spine AS (
         SELECT event_type,
                CAST(unnest(generate_series(CAST(lo AS TIMESTAMP),
                                            CAST(hi AS TIMESTAMP),
                                            INTERVAL 1 DAY)) AS DATE) AS d
         FROM bounds),
       joined AS (
         SELECT s.event_type, s.d, daily.close,
                CASE WHEN daily.close IS NULL THEN 1 ELSE 0 END AS was_gap
         FROM spine s
         LEFT JOIN daily ON daily.event_type = s.event_type
                        AND daily.d = s.d)
       SELECT event_type, d,
              LAST_VALUE(close IGNORE NULLS) OVER (
                PARTITION BY event_type ORDER BY d
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS close,
              was_gap
       FROM joined""",
)
def resample_ffill_daily(spark, sf_dir):
    """Calendar resampling with forward fill — pandas
    ``resample('D').last().ffill()`` as a distributed plan: last tick
    per (series, day) via one max_by aggregate, a per-series day spine
    generated in-engine (sequence/explode between that series' min and
    max day), a left join marking the gaps, and
    last(ignorenulls) over the date-ordered window carrying the prior
    close forward. Gaps are synthesized deterministically (every
    day-of-month divisible by 3 is dropped) so the fill path is
    actually exercised. Per-series state is one row — the pattern
    holds for any series count at any scale."""
    ev = load_table(spark, sf_dir, "events")
    daily = (
        ev.groupBy("event_type", F.to_date("ts").alias("d"))
        .agg(
            F.round(
                F.max_by(
                    "value",
                    F.struct(F.unix_timestamp("ts"), F.col("event_id")),
                ),
                4,
            ).alias("close")
        )
        .filter(F.dayofmonth("d") % 3 != 0)
    )
    spine = (
        daily.groupBy("event_type")
        .agg(F.min("d").alias("lo"), F.max("d").alias("hi"))
        .select(
            "event_type",
            F.explode(
                F.sequence(F.col("lo"), F.col("hi"))
            ).alias("d"),
        )
    )
    joined = spine.join(daily, ["event_type", "d"], "left").select(
        "event_type",
        "d",
        "close",
        F.when(F.col("close").isNull(), 1).otherwise(0).alias("was_gap"),
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("d")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return joined.select(
        "event_type",
        "d",
        F.last("close", ignorenulls=True).over(w).alias("close"),
        "was_gap",
    )


_DAILY_OHLCV_SQL = """
         SELECT b.event_type, b.d, b.high, b.low, c.close, b.volume
         FROM (SELECT event_type, CAST(ts AS DATE) AS d,
                      ROUND(MAX(value), 4) AS high,
                      ROUND(MIN(value), 4) AS low,
                      COUNT(*) AS volume
               FROM events GROUP BY 1, 2) b
         JOIN (SELECT event_type, d, close FROM (
                 SELECT event_type, CAST(ts AS DATE) AS d,
                        ROUND(value, 4) AS close,
                        ROW_NUMBER() OVER (
                          PARTITION BY event_type, CAST(ts AS DATE)
                          ORDER BY ts DESC, event_id DESC) AS rn
                 FROM events) WHERE rn = 1) c
           ON b.event_type = c.event_type AND b.d = c.d"""


def _daily_ohlcv(ev):
    """Per-series daily OHLCV bar from the tick stream: high/low/close
    (+ tick count as volume), closes picked by latest (ts, event_id).
    Rounded at the stage boundary so both engines feed identical
    doubles downstream (house convention, see bollinger/rsi)."""
    wday = Window.partitionBy("event_type", F.to_date("ts")).orderBy(
        F.desc("ts"), F.desc("event_id")
    )
    return (
        ev.withColumn("rn", F.row_number().over(wday))
        .withColumn("d", F.to_date("ts"))
        .groupBy("event_type", "d")
        .agg(
            F.round(F.max("value"), 4).alias("high"),
            F.round(F.min("value"), 4).alias("low"),
            F.round(
                F.max(F.when(F.col("rn") == 1, F.col("value"))), 4
            ).alias("close"),
            F.count(F.lit(1)).alias("volume"),
        )
    )


@q(
    "stochastic_oscillator_14d",
    f"""WITH daily AS ({_DAILY_OHLCV_SQL}),
       k AS (
         SELECT event_type, d, close,
                COUNT(*) OVER w AS n_win,
                MIN(low) OVER w AS low14,
                MAX(high) OVER w AS high14
         FROM daily
         WINDOW w AS (PARTITION BY event_type ORDER BY d
                      ROWS BETWEEN 13 PRECEDING AND CURRENT ROW)),
       pk AS (
         SELECT event_type, d,
                ROUND(100.0 * (close - low14) / (high14 - low14), 4)
                  AS pct_k
         FROM k WHERE n_win = 14 AND high14 > low14)
       SELECT event_type, d, pct_k,
              CAST((2 * SUM(k4) OVER w3 + COUNT(*) OVER w3)
                   // (2 * COUNT(*) OVER w3) AS DOUBLE) / 10000 AS pct_d
       FROM (SELECT event_type, d, pct_k,
                    CAST(ROUND(pct_k * 10000, 0) AS BIGINT) AS k4
             FROM pk)
       WINDOW w3 AS (PARTITION BY event_type ORDER BY d
                     ROWS BETWEEN 2 PRECEDING AND CURRENT ROW)""",
)
def stochastic_oscillator_14d(spark, sf_dir):
    """Stochastic oscillator over per-series daily bars: %K locates
    the close within the 14-day high-low channel, %D is its 3-day
    moving average — the bounded momentum indicator beside RSI
    (Cutler) and Bollinger in the reference's charting notebooks'
    genre. %K rounds before the %D average so both engines smooth
    identical inputs. One shuffle to daily grain; the channel and
    smoothing windows share the per-series partitioning."""
    ev = load_table(spark, sf_dir, "events")
    daily = _daily_ohlcv(ev)
    w14 = (
        Window.partitionBy("event_type")
        .orderBy("d")
        .rowsBetween(-13, Window.currentRow)
    )
    k = daily.select(
        "event_type",
        "d",
        "close",
        F.count(F.lit(1)).over(w14).alias("n_win"),
        F.min("low").over(w14).alias("low14"),
        F.max("high").over(w14).alias("high14"),
    ).filter((F.col("n_win") == 14) & (F.col("high14") > F.col("low14")))
    pk = k.select(
        "event_type",
        "d",
        F.round(
            100.0
            * (F.col("close") - F.col("low14"))
            / (F.col("high14") - F.col("low14")),
            4,
        ).alias("pct_k"),
    )
    w3 = (
        Window.partitionBy("event_type")
        .orderBy("d")
        .rowsBetween(-2, Window.currentRow)
    )
    # %D via integer half-up at 4 dp (DECISIONS §50): averaging three
    # 4dp-rounded doubles under double-ROUND hits representation ties
    # (caught by the sf1 sim — 39.2871/3 flipped the last digit)
    k4 = F.round(F.col("pct_k") * 10000, 0).cast("long")
    s4 = F.sum(k4).over(w3)
    n3 = F.count(F.lit(1)).over(w3)
    # floor is exact here: fractional parts of the quotient are
    # multiples of 1/(2*n3) >= 1/6, far above double rounding error
    pct_d = F.floor((2 * s4 + n3) / (2 * n3)).cast("double") / 10000
    return pk.select("event_type", "d", "pct_k", pct_d.alias("pct_d"))


@q(
    "atr_14day",
    f"""WITH daily AS ({_DAILY_OHLCV_SQL}),
       tr AS (
         SELECT event_type, d,
                ROUND(GREATEST(
                  high - low,
                  ABS(high - LAG(close) OVER w),
                  ABS(low - LAG(close) OVER w)), 4) AS true_range
         FROM daily
         WINDOW w AS (PARTITION BY event_type ORDER BY d)),
       f AS (SELECT event_type, d, true_range FROM tr
             WHERE true_range IS NOT NULL)
       SELECT event_type, d, true_range,
              ROUND(AVG(true_range) OVER (PARTITION BY event_type
                                          ORDER BY d
                                          ROWS BETWEEN 13 PRECEDING
                                                   AND CURRENT ROW), 4)
                AS atr14,
              COUNT(*) OVER (PARTITION BY event_type ORDER BY d
                             ROWS BETWEEN 13 PRECEDING AND CURRENT ROW)
                AS n_win
       FROM f QUALIFY n_win = 14""",
)
def atr_14day(spark, sf_dir):
    """14-day Average True Range (simple-average variant, like the
    Cutler RSI — Wilder's recursive smoothing is an EWMA fold, not a
    window): true range spans today's bar against yesterday's close,
    catching gap moves the high-low span alone misses. True range
    rounds before the rolling average. Same one-shuffle daily-grain
    plan as the other indicator queries."""
    ev = load_table(spark, sf_dir, "events")
    daily = _daily_ohlcv(ev)
    wlag = Window.partitionBy("event_type").orderBy("d")
    tr = daily.select(
        "event_type",
        "d",
        F.round(
            F.greatest(
                F.col("high") - F.col("low"),
                F.abs(F.col("high") - F.lag("close").over(wlag)),
                F.abs(F.col("low") - F.lag("close").over(wlag)),
            ),
            4,
        ).alias("true_range"),
    ).filter(F.col("true_range").isNotNull())
    w14 = (
        Window.partitionBy("event_type")
        .orderBy("d")
        .rowsBetween(-13, Window.currentRow)
    )
    out = tr.select(
        "event_type",
        "d",
        "true_range",
        F.round(F.avg("true_range").over(w14), 4).alias("atr14"),
        F.count(F.lit(1)).over(w14).alias("n_win"),
    )
    return out.filter(F.col("n_win") == 14)


@q(
    "on_balance_volume",
    f"""WITH daily AS ({_DAILY_OHLCV_SQL}),
       dirn AS (
         SELECT event_type, d, volume,
                CASE WHEN close > LAG(close) OVER w THEN 1
                     WHEN close < LAG(close) OVER w THEN -1
                     ELSE 0 END AS sgn
         FROM daily
         WINDOW w AS (PARTITION BY event_type ORDER BY d))
       SELECT event_type, d,
              CAST(SUM(sgn * volume) OVER (PARTITION BY event_type
                                           ORDER BY d
                                           ROWS UNBOUNDED PRECEDING)
                   AS BIGINT) AS obv
       FROM dirn""",
)
def on_balance_volume(spark, sf_dir):
    """On-balance volume: the running sum of daily tick volume signed
    by the close-to-close direction — volume-flow confirmation for
    the price indicators. Integer arithmetic end-to-end (sign x
    count), so the cumulative fold is exactly order-stable on both
    engines; the first day's NULL lag contributes sign 0, matching
    the CASE's ELSE arm."""
    ev = load_table(spark, sf_dir, "events")
    daily = _daily_ohlcv(ev)
    wlag = Window.partitionBy("event_type").orderBy("d")
    sgn = (
        F.when(F.col("close") > F.lag("close").over(wlag), 1)
        .when(F.col("close") < F.lag("close").over(wlag), -1)
        .otherwise(0)
    )
    dirn = daily.select("event_type", "d", "volume", sgn.alias("sgn"))
    wcum = (
        Window.partitionBy("event_type")
        .orderBy("d")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return dirn.select(
        "event_type",
        "d",
        F.sum(F.col("sgn") * F.col("volume"))
        .over(wcum)
        .cast("long")
        .alias("obv"),
    )


# double literals pinned via Python repr so Spark and DuckDB parse the
# identical bits (Spark SQL would fold e.g. 1.0/0.25 as DECIMAL math)
_PI = "3.141592653589793"
_LN2 = "0.6931471805599453"
_SQRT252 = "15.874507866387544"


@q(
    "theil_sen_daily_trend",
    """WITH daily AS (
         SELECT event_type,
                CAST(CAST(ts AS DATE) - DATE '1970-01-01' AS BIGINT) AS t,
                CAST((2 * CAST(SUM(CAST(value AS DECIMAL(18,2))) * 100 AS BIGINT)
                      * 10000 + COUNT(*)) // (2 * COUNT(*)) AS DOUBLE)
                / 1000000 AS v
         FROM events GROUP BY 1, 2),
       slopes AS (
         SELECT a.event_type,
                (b.v - a.v) / (b.t - a.t) AS s
         FROM daily a JOIN daily b
           ON a.event_type = b.event_type AND a.t < b.t),
       ranked AS (
         SELECT event_type, s,
                ROW_NUMBER() OVER (PARTITION BY event_type
                                   ORDER BY s) AS rn,
                COUNT(*) OVER (PARTITION BY event_type) AS n
         FROM slopes)
       SELECT event_type,
              CAST(MAX(n) AS BIGINT) AS n_pairs,
              ROUND(AVG(s), 8) AS theil_sen_slope
       FROM ranked
       WHERE rn IN (CAST((n + 1) / 2 AS BIGINT),
                    CAST((n + 2) / 2 AS BIGINT))
       GROUP BY event_type""",
)
def theil_sen_daily_trend(spark, sf_dir):
    """Theil-Sen robust trend per series: the MEDIAN of all pairwise
    slopes of the daily mean — the estimator that shrugs off the
    outlier days an OLS slope chases. Daily means are rounded at the
    stage boundary (bit-identical pair inputs on both engines); the
    median is the deterministic two-middle-ranks average, not an
    engine-specific quantile. Scale shape: the O(days²) pair join is
    over the DAILY aggregate (~hundreds of rows per key), never the
    raw ticks — at 100 TB the cost stays the first groupBy."""
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type", F.datediff(F.to_date("ts"), F.lit("1970-01-01")).alias("t")
    ).agg(exact.mean_6dp().alias("v"))
    a, b = daily.alias("a"), daily.alias("b")
    slopes = a.join(
        b,
        (F.col("a.event_type") == F.col("b.event_type"))
        & (F.col("a.t") < F.col("b.t")),
    ).select(
        F.col("a.event_type").alias("event_type"),
        ((F.col("b.v") - F.col("a.v")) / (F.col("b.t") - F.col("a.t"))).alias(
            "s"
        ),
    )
    wr = Window.partitionBy("event_type").orderBy("s")
    wn = Window.partitionBy("event_type")
    ranked = slopes.select(
        "event_type",
        "s",
        F.row_number().over(wr).alias("rn"),
        F.count(F.lit(1)).over(wn).alias("n"),
    )
    mid = ranked.filter(
        (F.col("rn") == ((F.col("n") + 1) / 2).cast("long"))
        | (F.col("rn") == ((F.col("n") + 2) / 2).cast("long"))
    )
    return mid.groupBy("event_type").agg(
        F.max("n").cast("long").alias("n_pairs"),
        F.round(F.avg("s"), 8).alias("theil_sen_slope"),
    )


@q(
    "dft_top_periods",
    f"""WITH daily AS (
         SELECT event_type,
                CAST(CAST(ts AS DATE) - DATE '1970-01-01' AS BIGINT) AS t,
                CAST(COUNT(*) AS DOUBLE) AS c
         FROM events GROUP BY 1, 2),
       centered AS (
         SELECT event_type,
                t - MIN(t) OVER (PARTITION BY event_type) AS t,
                ROUND(c - AVG(c) OVER (PARTITION BY event_type), 6) AS c
         FROM daily),
       grid AS (SELECT UNNEST(range(2, 31)) AS p),
       terms AS (
         SELECT d.event_type, g.p,
                SUM(d.c * COS(2 * {_PI} * d.t / g.p)) AS re,
                SUM(d.c * SIN(2 * {_PI} * d.t / g.p)) AS im
         FROM centered d CROSS JOIN grid g
         GROUP BY d.event_type, g.p),
       pw AS (
         SELECT event_type, p,
                ROUND(LN(re * re + im * im + 1e-12), 6) AS log_power
         FROM terms),
       top AS (
         SELECT event_type, p, log_power,
                ROW_NUMBER() OVER (PARTITION BY event_type
                                   ORDER BY log_power DESC, p) AS rk
         FROM pw)
       SELECT event_type, CAST(rk AS INT) AS rank,
              CAST(p AS BIGINT) AS period_days, log_power
       FROM top WHERE rk <= 3""",
)
def dft_top_periods(spark, sf_dir):
    """Dominant seasonality detection via a direct DFT probe: the
    mean-centered daily count series per type, projected onto 29
    candidate periods (2..30 days) — log-power per period, top-3
    ranked (rounded before ranking; ties break on the shorter
    period). A Goertzel-style two-accumulator sum per (key, period):
    one daily aggregate then a 29x fan-out of a ~hundreds-row table —
    no FFT library, no driver loop, constant state per key at any
    corpus size."""
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type",
        F.datediff(F.to_date("ts"), F.lit("1970-01-01")).alias("t"),
    ).agg(F.count(F.lit(1)).cast("double").alias("c"))
    wk = Window.partitionBy("event_type")
    centered = daily.select(
        "event_type",
        (F.col("t") - F.min("t").over(wk)).alias("t"),
        F.round(F.col("c") - F.avg("c").over(wk), 6).alias("c"),
    )
    grid = spark.range(2, 31).select(F.col("id").alias("p"))
    pi2 = F.lit(2.0) * F.lit(float(_PI))
    terms = (
        centered.crossJoin(F.broadcast(grid))
        .groupBy("event_type", "p")
        .agg(
            F.sum(F.col("c") * F.cos(pi2 * F.col("t") / F.col("p"))).alias(
                "re"
            ),
            F.sum(F.col("c") * F.sin(pi2 * F.col("t") / F.col("p"))).alias(
                "im"
            ),
        )
    )
    pw = terms.select(
        "event_type",
        "p",
        F.round(
            F.log(
                F.col("re") * F.col("re")
                + F.col("im") * F.col("im")
                + F.lit(1e-12)
            ),
            6,
        ).alias("log_power"),
    )
    wrk = Window.partitionBy("event_type").orderBy(
        F.desc("log_power"), "p"
    )
    return (
        pw.select(
            "event_type",
            F.row_number().over(wrk).alias("rank"),
            F.col("p").alias("period_days"),
            "log_power",
        )
        .filter(F.col("rank") <= 3)
        .select(
            "event_type",
            F.col("rank").cast("int").alias("rank"),
            "period_days",
            "log_power",
        )
    )


@q(
    "parkinson_garman_klass_vol",
    f"""WITH daily AS (
         SELECT event_type, CAST(ts AS DATE) AS d,
                ROUND(ARG_MIN(value, PRINTF('%020d|%020d',
                                            EPOCH_US(ts), event_id)), 6)
                  AS o,
                ROUND(MAX(value), 6) AS h,
                ROUND(MIN(value), 6) AS l,
                ROUND(ARG_MAX(value, PRINTF('%020d|%020d',
                                            EPOCH_US(ts), event_id)), 6)
                  AS c
         FROM events GROUP BY 1, 2),
       ok AS (SELECT * FROM daily
              WHERE l > 0 AND o > 0 AND h >= l),
       terms AS (
         SELECT event_type, STRFTIME(d, '%Y-%m') AS month,
                LN(h / l) * LN(h / l) AS hl2,
                LN(c / o) * LN(c / o) AS co2
         FROM ok)
       SELECT event_type, month,
              CAST(COUNT(*) AS BIGINT) AS n_days,
              ROUND(SQRT(AVG(hl2) / (4 * {_LN2})), 6) AS parkinson_vol,
              ROUND(SQRT(AVG(0.5 * hl2 - (2 * {_LN2} - 1) * co2)), 6)
                AS garman_klass_vol
       FROM terms GROUP BY 1, 2""",
)
def parkinson_garman_klass_vol(spark, sf_dir):
    """Range-based daily volatility estimators, monthly per series:
    Parkinson (high/low range) and Garman-Klass (range + open/close) —
    the OHLC estimators that extract ~5x more information per day than
    close-to-close returns. OHLC come from one grouped pass (min_by /
    max_by on the (ts, event_id) total order for open/close), rounded
    at the stage boundary; the estimator arithmetic is then identical
    IEEE on both engines. Per-key state: 4 doubles per day — a
    streaming-foldable shape."""
    ev = load_table(spark, sf_dir, "events")
    # padded string key: identical lexicographic == numeric order on
    # both engines (DuckDB arg_min/arg_max lack struct ordering keys)
    key = F.format_string(
        "%020d|%020d", F.unix_micros("ts"), F.col("event_id")
    )
    daily = ev.groupBy(
        "event_type", F.to_date("ts").alias("d")
    ).agg(
        F.round(F.min_by("value", key), 6).alias("o"),
        F.round(F.max("value"), 6).alias("h"),
        F.round(F.min("value"), 6).alias("l"),
        F.round(F.max_by("value", key), 6).alias("c"),
    )
    ok = daily.filter(
        (F.col("l") > 0) & (F.col("o") > 0) & (F.col("h") >= F.col("l"))
    )
    ln2 = F.lit(float(_LN2))
    hl2 = F.log(F.col("h") / F.col("l")) * F.log(F.col("h") / F.col("l"))
    co2 = F.log(F.col("c") / F.col("o")) * F.log(F.col("c") / F.col("o"))
    terms = ok.select(
        "event_type",
        F.date_format("d", "yyyy-MM").alias("month"),
        hl2.alias("hl2"),
        co2.alias("co2"),
    )
    return terms.groupBy("event_type", "month").agg(
        F.count(F.lit(1)).cast("long").alias("n_days"),
        F.round(F.sqrt(F.avg("hl2") / (F.lit(4.0) * ln2)), 6).alias(
            "parkinson_vol"
        ),
        F.round(
            F.sqrt(
                F.avg(
                    F.lit(0.5) * F.col("hl2")
                    - (F.lit(2.0) * ln2 - F.lit(1.0)) * F.col("co2")
                )
            ),
            6,
        ).alias("garman_klass_vol"),
    )


@q(
    "sharpe_sortino_by_type",
    f"""WITH daily AS (
         SELECT event_type, CAST(ts AS DATE) AS d,
                CAST((2 * CAST(SUM(CAST(value AS DECIMAL(18,2))) * 100 AS BIGINT)
                      * 10000 + COUNT(*)) // (2 * COUNT(*)) AS DOUBLE)
                / 1000000 AS v
         FROM events GROUP BY 1, 2),
       rets AS (
         SELECT event_type,
                ROUND(v / LAG(v) OVER (PARTITION BY event_type
                                       ORDER BY d) - 1, 8) AS r
         FROM daily),
       ok AS (SELECT event_type, r FROM rets WHERE r IS NOT NULL)
       SELECT event_type,
              CAST(COUNT(*) AS BIGINT) AS n_days,
              ROUND(AVG(r), 8) AS mean_daily_ret,
              ROUND(STDDEV_SAMP(r), 8) AS vol_daily,
              ROUND(AVG(r) / STDDEV_SAMP(r) * {_SQRT252}, 6)
                AS sharpe_annual,
              ROUND(AVG(r) / SQRT(SUM(CASE WHEN r < 0 THEN r * r
                                            ELSE 0 END)
                                  / (COUNT(*) - 1)) * {_SQRT252}, 6)
                AS sortino_annual
       FROM ok GROUP BY event_type""",
)
def sharpe_sortino_by_type(spark, sf_dir):
    """Annualized Sharpe and Sortino ratios per series from daily
    simple returns of the rounded daily mean (rf = 0). Sortino's
    denominator is the DOWNSIDE semi-deviation (negative returns only,
    same n-1 normalization) — the risk measure that doesn't punish
    upside. Daily means and returns round at stage boundaries; the
    ratio arithmetic is then identical IEEE both engines. One grouped
    pass over the daily table; constant per-key state."""
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type", F.to_date("ts").alias("d")
    ).agg(exact.mean_6dp().alias("v"))
    wl = Window.partitionBy("event_type").orderBy("d")
    rets = daily.select(
        "event_type",
        F.round(F.col("v") / F.lag("v").over(wl) - 1, 8).alias("r"),
    ).filter(F.col("r").isNotNull())
    sq252 = F.lit(float(_SQRT252))
    downside = F.sqrt(
        F.sum(
            F.when(F.col("r") < 0, F.col("r") * F.col("r")).otherwise(0.0)
        )
        / (F.count(F.lit(1)) - 1)
    )
    return rets.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_days"),
        F.round(F.avg("r"), 8).alias("mean_daily_ret"),
        F.round(F.stddev_samp("r"), 8).alias("vol_daily"),
        F.round(F.avg("r") / F.stddev_samp("r") * sq252, 6).alias(
            "sharpe_annual"
        ),
        F.round(F.avg("r") / downside * sq252, 6).alias("sortino_annual"),
    )


@q(
    "roll_spread_estimator",
    """WITH daily AS (
         SELECT event_type, CAST(ts AS DATE) AS d,
                CAST((2 * CAST(SUM(CAST(value AS DECIMAL(18,2))) * 100 AS BIGINT)
                      * 10000 + COUNT(*)) // (2 * COUNT(*)) AS DOUBLE)
                / 1000000 AS v
         FROM events GROUP BY 1, 2),
       diffs AS (
         SELECT event_type, d,
                v - LAG(v) OVER (PARTITION BY event_type ORDER BY d) AS dp
         FROM daily),
       lagged AS (
         SELECT event_type, d, dp,
                LAG(dp) OVER (PARTITION BY event_type ORDER BY d) AS dp_prev
         FROM diffs WHERE dp IS NOT NULL)
       SELECT event_type,
              CAST(COUNT(dp_prev) AS BIGINT) AS n_pairs,
              ROUND(COVAR_POP(dp, dp_prev), 6) AS autocov,
              CASE WHEN COVAR_POP(dp, dp_prev) < 0
                   THEN ROUND(2 * SQRT(-COVAR_POP(dp, dp_prev)), 6)
              END AS roll_spread
       FROM lagged WHERE dp_prev IS NOT NULL
       GROUP BY 1""",
)
def roll_spread_estimator(spark, sf_dir):
    """Roll (1984) effective-spread estimator per series: spread =
    2*sqrt(-cov(Δp_t, Δp_{t-1})) from the first-order autocovariance
    of daily price changes — bid-ask bounce makes successive changes
    negatively correlated, and the magnitude prices the implicit
    spread. Emitted as NULL when the autocovariance is non-negative
    (the estimator is undefined there — trending series), exactly as
    the oracle's CASE does. Daily means are rounded at the stage
    boundary; two stacked lag windows share one (event_type, d) sort.
    Cite: reference finance notebooks compute returns/rolling stats
    (Garch_v1.ipynb); this extends the same daily-grain surface."""
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy("event_type", F.to_date("ts").alias("d")).agg(
        exact.mean_6dp().alias("v")
    )
    w = Window.partitionBy("event_type").orderBy("d")
    diffs = daily.withColumn(
        "dp", F.col("v") - F.lag("v").over(w)
    ).filter(F.col("dp").isNotNull())
    lagged = diffs.withColumn("dp_prev", F.lag("dp").over(w)).filter(
        F.col("dp_prev").isNotNull()
    )
    cov = F.covar_pop("dp", "dp_prev")
    return lagged.groupBy("event_type").agg(
        F.count("dp_prev").cast("long").alias("n_pairs"),
        F.round(cov, 6).alias("autocov"),
        F.when(cov < 0, F.round(2 * F.sqrt(-cov), 6)).alias(
            "roll_spread"
        ),
    )


@q(
    "variance_ratio_test",
    """WITH daily AS (
         SELECT event_type, CAST(ts AS DATE) AS d,
                CAST((2 * CAST(SUM(CAST(value AS DECIMAL(18,2))) * 100 AS BIGINT)
                      * 10000 + COUNT(*)) // (2 * COUNT(*)) AS DOUBLE)
                / 1000000 AS v
         FROM events GROUP BY 1, 2),
       rets AS (
         SELECT event_type, d,
                ROUND(v - LAG(v) OVER (PARTITION BY event_type ORDER BY d),
                      6) AS r
         FROM daily),
       base AS (SELECT * FROM rets WHERE r IS NOT NULL),
       qsum AS (
         SELECT event_type, d, r,
                ROUND(SUM(r) OVER (PARTITION BY event_type ORDER BY d
                      ROWS BETWEEN 4 PRECEDING AND CURRENT ROW), 6) AS rq,
                ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY d) AS i
         FROM base),
       stats AS (
         SELECT event_type,
                VAR_POP(r) AS v1,
                VAR_POP(CASE WHEN i >= 5 THEN rq END) AS vq,
                CAST(COUNT(*) AS BIGINT) AS n_rets
         FROM qsum GROUP BY 1)
       SELECT event_type, n_rets,
              ROUND(vq / (5 * v1), 4) AS vr5,
              ROUND((vq / (5 * v1) - 1)
                    * SQRT(n_rets / (2.0 * 9 * 4 / 15.0)), 4) AS z_stat
       FROM stats WHERE v1 > 0""",
)
def variance_ratio_test(spark, sf_dir):
    """Lo-MacKinlay variance-ratio test VR(q=5) per series: under a
    random walk the variance of overlapping 5-day increments is 5x
    the 1-day variance, so VR~1; VR<1 flags mean reversion, VR>1
    momentum. z is the homoskedastic test statistic
    (VR-1)*sqrt(n/(2(2q-1)(q-1)/(3q))). Daily increments and their
    5-day sliding sums are ROUNDED at stage boundaries so the
    population variances consume bit-identical inputs in both
    engines; one sort serves the lag, the sliding sum, and the row
    index."""
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy("event_type", F.to_date("ts").alias("d")).agg(
        exact.mean_6dp().alias("v")
    )
    w = Window.partitionBy("event_type").orderBy("d")
    rets = daily.withColumn(
        "r", F.round(F.col("v") - F.lag("v").over(w), 6)
    ).filter(F.col("r").isNotNull())
    qsum = rets.select(
        "event_type",
        "r",
        F.round(F.sum("r").over(w.rowsBetween(-4, 0)), 6).alias("rq"),
        F.row_number().over(w).alias("i"),
    )
    stats = qsum.groupBy("event_type").agg(
        F.var_pop("r").alias("v1"),
        F.var_pop(F.when(F.col("i") >= 5, F.col("rq"))).alias("vq"),
        F.count(F.lit(1)).cast("long").alias("n_rets"),
    )
    vr = F.col("vq") / (F.lit(5) * F.col("v1"))
    denom = F.sqrt(F.col("n_rets") / F.lit(2.0 * 9 * 4 / 15.0))
    return stats.filter(F.col("v1") > 0).select(
        "event_type",
        "n_rets",
        F.round(vr, 4).alias("vr5"),
        F.round((vr - 1) * denom, 4).alias("z_stat"),
    )


@q(
    "spearman_kendall_daily",
    """WITH daily AS (
         SELECT event_type, CAST(ts AS DATE) AS d,
                CAST((2 * CAST(SUM(CAST(value AS DECIMAL(18,2))) * 100 AS BIGINT)
                      * 10000 + COUNT(*)) // (2 * COUNT(*)) AS DOUBLE)
                / 1000000 AS x,
                CAST(COUNT(*) AS DOUBLE) AS y
         FROM events GROUP BY 1, 2),
       ranked AS (
         SELECT event_type, x, y,
                RANK() OVER (PARTITION BY event_type ORDER BY x)
                  + (COUNT(*) OVER (PARTITION BY event_type, x) - 1) / 2.0
                  AS rx,
                RANK() OVER (PARTITION BY event_type ORDER BY y)
                  + (COUNT(*) OVER (PARTITION BY event_type, y) - 1) / 2.0
                  AS ry
         FROM daily),
       spear AS (
         SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_days,
                ROUND(CORR(rx, ry), 4) AS spearman_rho
         FROM ranked GROUP BY 1),
       pairs AS (
         SELECT a.event_type,
                SIGN(a.x - b.x) * SIGN(a.y - b.y) AS c
         FROM daily a JOIN daily b
           ON a.event_type = b.event_type AND a.d < b.d),
       kt AS (
         SELECT event_type,
                CAST(SUM(CASE WHEN c > 0 THEN 1 ELSE 0 END) AS DOUBLE) AS nc,
                CAST(SUM(CASE WHEN c < 0 THEN 1 ELSE 0 END) AS DOUBLE) AS nd,
                CAST(COUNT(*) AS DOUBLE) AS n0
         FROM pairs GROUP BY 1),
       tx AS (
         SELECT event_type, SUM(cnt * (cnt - 1)) / 2.0 AS n1
         FROM (SELECT event_type, x, COUNT(*) AS cnt
               FROM daily GROUP BY 1, 2) GROUP BY 1),
       ty AS (
         SELECT event_type, SUM(cnt * (cnt - 1)) / 2.0 AS n2
         FROM (SELECT event_type, y, COUNT(*) AS cnt
               FROM daily GROUP BY 1, 2) GROUP BY 1)
       SELECT s.event_type, s.n_days, s.spearman_rho,
              ROUND((k.nc - k.nd)
                    / SQRT((k.n0 - t1.n1) * (k.n0 - t2.n2)), 4)
                AS kendall_tau_b
       FROM spear s
       JOIN kt k ON s.event_type = k.event_type
       JOIN tx t1 ON s.event_type = t1.event_type
       JOIN ty t2 ON s.event_type = t2.event_type""",
)
def spearman_kendall_daily(spark, sf_dir):
    """Rank correlations between daily price level and daily activity
    (tick count) per series: Spearman rho as Pearson over AVERAGE
    ranks (the tie-correct form — RANK() + (ties-1)/2), Kendall
    tau-b from the full concordant/discordant pair census with tie
    corrections in both margins. The pair join is an EQUI-join on
    event_type (days-per-series squared pairs — bounded by the
    calendar, never by tick volume, so it holds at 100 TB of ticks);
    ranks, signs, and counts are integers in doubles, so both engines
    agree bit-exactly before the final rounding."""
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy("event_type", F.to_date("ts").alias("d")).agg(
        exact.mean_6dp().alias("x"),
        F.count(F.lit(1)).cast("double").alias("y"),
    )
    rx = F.rank().over(
        Window.partitionBy("event_type").orderBy("x")
    ) + (
        F.count(F.lit(1)).over(Window.partitionBy("event_type", "x")) - 1
    ) / 2.0
    ry = F.rank().over(
        Window.partitionBy("event_type").orderBy("y")
    ) + (
        F.count(F.lit(1)).over(Window.partitionBy("event_type", "y")) - 1
    ) / 2.0
    ranked = daily.select(
        "event_type", rx.alias("rx"), ry.alias("ry")
    )
    spear = ranked.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_days"),
        F.round(F.corr("rx", "ry"), 4).alias("spearman_rho"),
    )
    a = daily.alias("a")
    b = daily.alias("b")
    pairs = a.join(
        b,
        (F.col("a.event_type") == F.col("b.event_type"))
        & (F.col("a.d") < F.col("b.d")),
    ).select(
        F.col("a.event_type").alias("event_type"),
        (
            F.signum(F.col("a.x") - F.col("b.x"))
            * F.signum(F.col("a.y") - F.col("b.y"))
        ).alias("c"),
    )
    kt = pairs.groupBy("event_type").agg(
        F.sum(F.when(F.col("c") > 0, 1).otherwise(0))
        .cast("double")
        .alias("nc"),
        F.sum(F.when(F.col("c") < 0, 1).otherwise(0))
        .cast("double")
        .alias("nd"),
        F.count(F.lit(1)).cast("double").alias("n0"),
    )
    tx = (
        daily.groupBy("event_type", "x")
        .count()
        .groupBy("event_type")
        .agg((F.sum(F.col("count") * (F.col("count") - 1)) / 2.0).alias("n1"))
    )
    ty = (
        daily.groupBy("event_type", "y")
        .count()
        .groupBy("event_type")
        .agg((F.sum(F.col("count") * (F.col("count") - 1)) / 2.0).alias("n2"))
    )
    tau = F.round(
        (F.col("nc") - F.col("nd"))
        / F.sqrt((F.col("n0") - F.col("n1")) * (F.col("n0") - F.col("n2"))),
        4,
    )
    return (
        spear.join(kt, "event_type")
        .join(tx, "event_type")
        .join(ty, "event_type")
        .select(
            "event_type", "n_days", "spearman_rho",
            tau.alias("kendall_tau_b"),
        )
    )


@q(
    "hurst_exponent_rs",
    """WITH daily AS (
         SELECT event_type, CAST(ts AS DATE) AS d,
                CAST((2 * CAST(SUM(CAST(value AS DECIMAL(18,2))) * 100 AS BIGINT)
                      * 10000 + COUNT(*)) // (2 * COUNT(*)) AS DOUBLE)
                / 1000000 AS v
         FROM events GROUP BY 1, 2),
       rn AS (
         SELECT event_type, d, v,
                ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY d) - 1
                  AS i
         FROM daily),
       blocks AS (
         SELECT r.event_type, s.scale, r.d, r.v,
                CAST(FLOOR(r.i / s.scale) AS BIGINT) AS blk
         FROM rn r CROSS JOIN (SELECT UNNEST([5, 10, 15]) AS scale) s),
       fullb AS (
         SELECT * FROM (
           SELECT event_type, scale, blk, d, v,
                  COUNT(*) OVER (PARTITION BY event_type, scale, blk)
                    AS blk_n
           FROM blocks)
         WHERE blk_n = scale),
       devs AS (
         SELECT event_type, scale, blk, d, v,
                v - AVG(v) OVER (PARTITION BY event_type, scale, blk)
                  AS dev
         FROM fullb),
       cums AS (
         SELECT event_type, scale, blk, v,
                ROUND(SUM(dev) OVER (PARTITION BY event_type, scale, blk
                      ORDER BY d
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
                      6) AS cum
         FROM devs),
       rs AS (
         SELECT event_type, scale, blk,
                CAST(ROUND((MAX(cum) - MIN(cum)) * 1000000, 0) AS BIGINT)
                  AS r6,
                CAST(ROUND(STDDEV_POP(v) * 10000, 0) AS BIGINT) AS s4
         FROM cums GROUP BY 1, 2, 3),
       q AS (
         SELECT event_type, scale,
                (2 * r6 * 10000 + s4) // (2 * s4) AS q6
         FROM rs WHERE s4 > 0),
       mrs AS (
         SELECT event_type, scale,
                CAST((2 * SUM(q6) + COUNT(*)) // (2 * COUNT(*)) AS DOUBLE)
                  / 1000000 AS mean_rs,
                CAST(COUNT(*) AS BIGINT) AS n_blocks
         FROM q GROUP BY 1, 2)
       SELECT event_type,
              ROUND(REGR_SLOPE(LN(mean_rs), LN(CAST(scale AS DOUBLE))), 4)
                AS hurst,
              MAX(CASE WHEN scale = 5 THEN mean_rs END) AS rs_5,
              MAX(CASE WHEN scale = 10 THEN mean_rs END) AS rs_10,
              MAX(CASE WHEN scale = 15 THEN mean_rs END) AS rs_15
       FROM mrs GROUP BY 1""",
)
def hurst_exponent_rs(spark, sf_dir):
    """Hurst exponent by rescaled-range (R/S) analysis per series:
    the daily series splits into full blocks of 5/10/15 days; each
    block's R (range of the cumulative deviations from the block
    mean) over S (block stddev) averages into mean-R/S per scale, and
    the Hurst exponent is the log-log slope across scales (0.5 =
    random walk, >0.5 persistent, <0.5 mean-reverting). The scale
    grid is a 3-row constant cross join (the sanctioned scalar-BNLJ
    pattern); blocks/cumsums are window functions over one
    (type, scale, blk) partitioning; cumulative sums and block
    stddevs are rounded at stage boundaries so the ratio consumes
    bit-identical inputs in both engines."""
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy("event_type", F.to_date("ts").alias("d")).agg(
        exact.mean_6dp().alias("v")
    )
    rn = daily.withColumn(
        "i",
        F.row_number().over(
            Window.partitionBy("event_type").orderBy("d")
        )
        - 1,
    )
    scales = spark.createDataFrame([(5,), (10,), (15,)], "scale int")
    blocks = rn.crossJoin(F.broadcast(scales)).withColumn(
        "blk", F.floor(F.col("i") / F.col("scale"))
    )
    wb = Window.partitionBy("event_type", "scale", "blk")
    fullb = blocks.withColumn("blk_n", F.count(F.lit(1)).over(wb)).filter(
        F.col("blk_n") == F.col("scale")
    )
    devs = fullb.withColumn("dev", F.col("v") - F.avg("v").over(wb))
    cums = devs.withColumn(
        "cum",
        F.round(
            F.sum("dev").over(
                wb.orderBy("d").rowsBetween(
                    Window.unboundedPreceding, Window.currentRow
                )
            ),
            6,
        ),
    )
    # per-block R/S and its mean as INTEGER half-ups (DECISIONS 50):
    # the r10 sf1 sim caught ROUND(AVG(r/s), 6) flipping its last
    # digit — an unordered float average near a half boundary that the
    # engines' accumulation orders break differently. r is already on
    # the 1e-6 grid (diff of 6dp cums) and s on the 1e-4 grid, so both
    # recover as exact BIGINTs and the whole chain stays in integer
    # space until the final double division.
    rs = cums.groupBy("event_type", "scale", "blk").agg(
        F.round((F.max("cum") - F.min("cum")) * 1000000, 0)
        .cast("long")
        .alias("r6"),
        F.round(F.stddev_pop("v") * 10000, 0).cast("long").alias("s4"),
    )
    mrs = (
        rs.filter(F.col("s4") > 0)
        .withColumn("q6", F.expr("(2 * r6 * 10000 + s4) DIV (2 * s4)"))
        .groupBy("event_type", "scale")
        .agg(
            (
                F.expr("(2 * sum(q6) + count(*)) DIV (2 * count(*))").cast(
                    "double"
                )
                / 1000000
            ).alias("mean_rs"),
            F.count(F.lit(1)).cast("long").alias("n_blocks"),
        )
    )
    return mrs.groupBy("event_type").agg(
        F.round(
            F.regr_slope(
                F.ln("mean_rs"), F.ln(F.col("scale").cast("double"))
            ),
            4,
        ).alias("hurst"),
        F.max(F.when(F.col("scale") == 5, F.col("mean_rs"))).alias("rs_5"),
        F.max(F.when(F.col("scale") == 10, F.col("mean_rs"))).alias("rs_10"),
        F.max(F.when(F.col("scale") == 15, F.col("mean_rs"))).alias("rs_15"),
    )


@q(
    "macd_crossover_days",
    """WITH RECURSIVE daily AS (
         SELECT event_type, CAST(ts AS DATE) AS d,
                CAST((2 * CAST(SUM(CAST(value AS DECIMAL(18,2))) * 100 AS BIGINT)
                      * 10000 + COUNT(*)) // (2 * COUNT(*)) AS DOUBLE)
                / 1000000 AS v
         FROM events GROUP BY 1, 2),
       series AS (
         SELECT event_type,
                list_transform(list(v ORDER BY d), x -> CAST(x AS DOUBLE))
                  AS vs,
                CAST(COUNT(*) AS BIGINT) AS n_days
         FROM daily GROUP BY 1),
       steps AS (
         SELECT event_type, n_days, vs, 1 AS t,
                vs[1] AS ef, vs[1] AS es,
                CAST(0 AS DOUBLE) AS sig,
                0 AS prev_sign, 0 AS crossings
         FROM series WHERE n_days >= 2
         UNION ALL
         SELECT event_type, n_days, vs, t + 1,
                vs[t + 1] * (CAST(2 AS DOUBLE) / 7)
                  + ef * (1 - CAST(2 AS DOUBLE) / 7),
                vs[t + 1] * (CAST(2 AS DOUBLE) / 14)
                  + es * (1 - CAST(2 AS DOUBLE) / 14),
                (vs[t + 1] * (CAST(2 AS DOUBLE) / 7)
                   + ef * (1 - CAST(2 AS DOUBLE) / 7)
                 - vs[t + 1] * (CAST(2 AS DOUBLE) / 14)
                   - es * (1 - CAST(2 AS DOUBLE) / 14))
                  * (CAST(2 AS DOUBLE) / 6)
                  + sig * (1 - CAST(2 AS DOUBLE) / 6),
                CASE WHEN
                  (vs[t + 1] * (CAST(2 AS DOUBLE) / 7)
                     + ef * (1 - CAST(2 AS DOUBLE) / 7)
                   - vs[t + 1] * (CAST(2 AS DOUBLE) / 14)
                     - es * (1 - CAST(2 AS DOUBLE) / 14))
                  - ((vs[t + 1] * (CAST(2 AS DOUBLE) / 7)
                        + ef * (1 - CAST(2 AS DOUBLE) / 7)
                      - vs[t + 1] * (CAST(2 AS DOUBLE) / 14)
                        - es * (1 - CAST(2 AS DOUBLE) / 14))
                       * (CAST(2 AS DOUBLE) / 6)
                     + sig * (1 - CAST(2 AS DOUBLE) / 6)) > 0 THEN 1
                  WHEN
                  (vs[t + 1] * (CAST(2 AS DOUBLE) / 7)
                     + ef * (1 - CAST(2 AS DOUBLE) / 7)
                   - vs[t + 1] * (CAST(2 AS DOUBLE) / 14)
                     - es * (1 - CAST(2 AS DOUBLE) / 14))
                  - ((vs[t + 1] * (CAST(2 AS DOUBLE) / 7)
                        + ef * (1 - CAST(2 AS DOUBLE) / 7)
                      - vs[t + 1] * (CAST(2 AS DOUBLE) / 14)
                        - es * (1 - CAST(2 AS DOUBLE) / 14))
                       * (CAST(2 AS DOUBLE) / 6)
                     + sig * (1 - CAST(2 AS DOUBLE) / 6)) < 0 THEN -1
                  ELSE 0 END,
                crossings + CASE WHEN
                  prev_sign <> 0
                  AND (CASE WHEN
                    (vs[t + 1] * (CAST(2 AS DOUBLE) / 7)
                       + ef * (1 - CAST(2 AS DOUBLE) / 7)
                     - vs[t + 1] * (CAST(2 AS DOUBLE) / 14)
                       - es * (1 - CAST(2 AS DOUBLE) / 14))
                    - ((vs[t + 1] * (CAST(2 AS DOUBLE) / 7)
                          + ef * (1 - CAST(2 AS DOUBLE) / 7)
                        - vs[t + 1] * (CAST(2 AS DOUBLE) / 14)
                          - es * (1 - CAST(2 AS DOUBLE) / 14))
                         * (CAST(2 AS DOUBLE) / 6)
                       + sig * (1 - CAST(2 AS DOUBLE) / 6)) > 0 THEN 1
                    WHEN
                    (vs[t + 1] * (CAST(2 AS DOUBLE) / 7)
                       + ef * (1 - CAST(2 AS DOUBLE) / 7)
                     - vs[t + 1] * (CAST(2 AS DOUBLE) / 14)
                       - es * (1 - CAST(2 AS DOUBLE) / 14))
                    - ((vs[t + 1] * (CAST(2 AS DOUBLE) / 7)
                          + ef * (1 - CAST(2 AS DOUBLE) / 7)
                        - vs[t + 1] * (CAST(2 AS DOUBLE) / 14)
                          - es * (1 - CAST(2 AS DOUBLE) / 14))
                         * (CAST(2 AS DOUBLE) / 6)
                       + sig * (1 - CAST(2 AS DOUBLE) / 6)) < 0 THEN -1
                    ELSE 0 END) <> 0
                  AND (CASE WHEN
                    (vs[t + 1] * (CAST(2 AS DOUBLE) / 7)
                       + ef * (1 - CAST(2 AS DOUBLE) / 7)
                     - vs[t + 1] * (CAST(2 AS DOUBLE) / 14)
                       - es * (1 - CAST(2 AS DOUBLE) / 14))
                    - ((vs[t + 1] * (CAST(2 AS DOUBLE) / 7)
                          + ef * (1 - CAST(2 AS DOUBLE) / 7)
                        - vs[t + 1] * (CAST(2 AS DOUBLE) / 14)
                          - es * (1 - CAST(2 AS DOUBLE) / 14))
                         * (CAST(2 AS DOUBLE) / 6)
                       + sig * (1 - CAST(2 AS DOUBLE) / 6)) > 0 THEN 1
                    WHEN
                    (vs[t + 1] * (CAST(2 AS DOUBLE) / 7)
                       + ef * (1 - CAST(2 AS DOUBLE) / 7)
                     - vs[t + 1] * (CAST(2 AS DOUBLE) / 14)
                       - es * (1 - CAST(2 AS DOUBLE) / 14))
                    - ((vs[t + 1] * (CAST(2 AS DOUBLE) / 7)
                          + ef * (1 - CAST(2 AS DOUBLE) / 7)
                        - vs[t + 1] * (CAST(2 AS DOUBLE) / 14)
                          - es * (1 - CAST(2 AS DOUBLE) / 14))
                         * (CAST(2 AS DOUBLE) / 6)
                       + sig * (1 - CAST(2 AS DOUBLE) / 6)) < 0 THEN -1
                    ELSE 0 END) <> prev_sign
                  THEN 1 ELSE 0 END
         FROM steps WHERE t < n_days)
       SELECT event_type, n_days,
              ROUND(ef - es, 6) AS macd,
              ROUND(sig, 6) AS signal,
              CAST(crossings AS BIGINT) AS n_crossings
       FROM steps WHERE t = n_days""",
)
def macd_crossover_days(spark, sf_dir):
    """MACD (EMA6 - EMA13, signal EMA5 — spans scaled to the 30-day
    daily series) with signal-line crossover counting, as one
    SEQUENTIAL left fold per series over the date-sorted daily means:
    the fold state is (ema_fast, ema_slow, signal, prev_sign,
    crossings) carried through aggregate() here and a recursive CTE
    in DuckDB — the same IEEE op sequence step for step, so the
    results agree bit-exactly before rounding. Crossings count sign
    FLIPS of (macd - signal), ignoring the zero state. The per-series
    array is bounded by days-per-series, not tick count."""
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy("event_type", F.to_date("ts").alias("d")).agg(
        exact.mean_6dp().alias("v")
    )
    series = daily.groupBy("event_type").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("d", "v"))),
            lambda s: s["v"],
        ).alias("vs"),
        F.count(F.lit(1)).cast("long").alias("n_days"),
    ).filter(F.col("n_days") >= 2)
    af, as_, ag = 2.0 / 7, 2.0 / 14, 2.0 / 6
    zero = F.struct(
        F.element_at(F.col("vs"), 1).alias("ef"),
        F.element_at(F.col("vs"), 1).alias("es"),
        F.lit(0.0).alias("sig"),
        F.lit(0).alias("prev_sign"),
        F.lit(0).alias("crossings"),
    )

    def step(acc, x):
        ef = x * F.lit(af) + acc["ef"] * F.lit(1 - af)
        es = x * F.lit(as_) + acc["es"] * F.lit(1 - as_)
        macd = ef - es
        sig = macd * F.lit(ag) + acc["sig"] * F.lit(1 - ag)
        diff = macd - sig
        sign = (
            F.when(diff > 0, F.lit(1))
            .when(diff < 0, F.lit(-1))
            .otherwise(F.lit(0))
        )
        crossed = (
            (acc["prev_sign"] != 0)
            & (sign != 0)
            & (sign != acc["prev_sign"])
        )
        return F.struct(
            ef.alias("ef"),
            es.alias("es"),
            sig.alias("sig"),
            sign.alias("prev_sign"),
            (acc["crossings"] + F.when(crossed, 1).otherwise(0)).alias(
                "crossings"
            ),
        )

    fold = F.aggregate(
        F.slice(F.col("vs"), 2, F.greatest(F.size("vs") - 1, F.lit(0))),
        zero,
        step,
    )
    return series.select(
        "event_type",
        "n_days",
        F.round(fold["ef"] - fold["es"], 6).alias("macd"),
        F.round(fold["sig"], 6).alias("signal"),
        fold["crossings"].cast("long").alias("n_crossings"),
    )


@q(
    "newey_west_tstat",
    """WITH daily AS (
         SELECT event_type, CAST(ts AS DATE) AS d,
                CAST((2 * CAST(SUM(CAST(value AS DECIMAL(18,2))) * 100 AS BIGINT)
                      * 10000 + COUNT(*)) // (2 * COUNT(*)) AS DOUBLE)
                / 1000000 AS v
         FROM events GROUP BY 1, 2),
       rets AS (
         SELECT event_type, d,
                ROUND(v - LAG(v) OVER (PARTITION BY event_type ORDER BY d),
                      6) AS r
         FROM daily),
       base AS (SELECT * FROM rets WHERE r IS NOT NULL),
       mu AS (SELECT event_type, ROUND(AVG(r), 8) AS m,
                     CAST(COUNT(*) AS BIGINT) AS n
              FROM base GROUP BY 1),
       c AS (SELECT b.event_type, b.d, b.r - mu.m AS c, mu.m, mu.n
             FROM base b JOIN mu ON b.event_type = mu.event_type),
       lagged AS (
         SELECT event_type, m, n, c,
                LAG(c, 1) OVER w AS c1, LAG(c, 2) OVER w AS c2,
                LAG(c, 3) OVER w AS c3, LAG(c, 4) OVER w AS c4,
                LAG(c, 5) OVER w AS c5
         FROM c WINDOW w AS (PARTITION BY event_type ORDER BY d)),
       gam AS (
         SELECT event_type, MAX(m) AS m, MAX(n) AS n,
                ROUND(SUM(c * c) / MAX(n), 8) AS g0,
                ROUND(SUM(c * c1) / MAX(n), 8) AS g1,
                ROUND(SUM(c * c2) / MAX(n), 8) AS g2,
                ROUND(SUM(c * c3) / MAX(n), 8) AS g3,
                ROUND(SUM(c * c4) / MAX(n), 8) AS g4,
                ROUND(SUM(c * c5) / MAX(n), 8) AS g5
         FROM lagged GROUP BY 1)
       SELECT event_type, n AS n_rets, ROUND(m, 6) AS mean_ret,
              ROUND(SQRT((g0 + 2 * ((1 - 1/6.0) * g1 + (1 - 2/6.0) * g2
                          + (1 - 3/6.0) * g3 + (1 - 4/6.0) * g4
                          + (1 - 5/6.0) * g5)) / n), 6) AS nw_se,
              ROUND(m / SQRT((g0 + 2 * ((1 - 1/6.0) * g1
                          + (1 - 2/6.0) * g2 + (1 - 3/6.0) * g3
                          + (1 - 4/6.0) * g4 + (1 - 5/6.0) * g5)) / n),
                    4) AS t_stat
       FROM gam WHERE g0 > 0""",
)
def newey_west_tstat(spark, sf_dir):
    """HAC-robust mean test: is the daily change's mean zero once
    serial correlation is priced in? Newey-West long-run variance
    with Bartlett weights at L=5 (gamma_0 + 2*sum (1-l/6) gamma_l),
    t = mean / sqrt(S/n) — the plain t-test's SE is wrong under
    autocorrelated increments, and NW is the standard repair. The
    autocovariances are five stacked LAGs over ONE per-key sort;
    means and every gamma are rounded at stage boundaries so both
    engines feed the same doubles into the closed form."""
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy("event_type", F.to_date("ts").alias("d")).agg(
        exact.mean_6dp().alias("v")
    )
    w = Window.partitionBy("event_type").orderBy("d")
    base = daily.withColumn(
        "r", F.round(F.col("v") - F.lag("v").over(w), 6)
    ).filter(F.col("r").isNotNull())
    mu = base.groupBy("event_type").agg(
        F.round(F.avg("r"), 8).alias("m"),
        F.count(F.lit(1)).cast("long").alias("n"),
    )
    c = base.join(mu, "event_type").select(
        "event_type", "d", (F.col("r") - F.col("m")).alias("c"), "m", "n"
    )
    lagged = c.select(
        "event_type",
        "m",
        "n",
        "c",
        *[F.lag("c", i).over(w).alias(f"c{i}") for i in range(1, 6)],
    )
    gam = lagged.groupBy("event_type").agg(
        F.max("m").alias("m"),
        F.max("n").alias("n"),
        F.round(F.sum(F.col("c") * F.col("c")) / F.max("n"), 8).alias("g0"),
        *[
            F.round(
                F.sum(F.col("c") * F.col(f"c{i}")) / F.max("n"), 8
            ).alias(f"g{i}")
            for i in range(1, 6)
        ],
    )
    s_lr = F.col("g0") + 2 * sum(
        (1 - i / 6.0) * F.col(f"g{i}") for i in range(1, 6)
    )
    se = F.sqrt(s_lr / F.col("n"))
    return gam.filter(F.col("g0") > 0).select(
        "event_type",
        F.col("n").alias("n_rets"),
        F.round("m", 6).alias("mean_ret"),
        F.round(se, 6).alias("nw_se"),
        F.round(F.col("m") / se, 4).alias("t_stat"),
    )


@q(
    "runs_test_randomness",
    """WITH daily AS (
         SELECT event_type, CAST(ts AS DATE) AS d,
                CAST((2 * CAST(SUM(CAST(value AS DECIMAL(18,2))) * 100 AS BIGINT)
                      * 10000 + COUNT(*)) // (2 * COUNT(*)) AS DOUBLE)
                / 1000000 AS v
         FROM events GROUP BY 1, 2),
       rets AS (
         SELECT event_type, d,
                SIGN(ROUND(v - LAG(v) OVER (PARTITION BY event_type
                                            ORDER BY d), 6)) AS s
         FROM daily),
       base AS (SELECT * FROM rets WHERE s IS NOT NULL AND s <> 0),
       flagged AS (
         SELECT event_type, s,
                CASE WHEN LAG(s) OVER (PARTITION BY event_type ORDER BY d)
                          IS DISTINCT FROM s THEN 1 ELSE 0 END AS new_run
         FROM base),
       agg AS (
         SELECT event_type,
                CAST(SUM(CASE WHEN s > 0 THEN 1 ELSE 0 END) AS DOUBLE)
                  AS n1,
                CAST(SUM(CASE WHEN s < 0 THEN 1 ELSE 0 END) AS DOUBLE)
                  AS n2,
                CAST(SUM(new_run) AS BIGINT) AS runs
         FROM flagged GROUP BY 1)
       SELECT event_type,
              CAST(n1 AS BIGINT) AS n_up, CAST(n2 AS BIGINT) AS n_down,
              runs,
              ROUND(1 + 2 * n1 * n2 / (n1 + n2), 4) AS expected_runs,
              ROUND((runs - (1 + 2 * n1 * n2 / (n1 + n2)))
                    / SQRT(2 * n1 * n2 * (2 * n1 * n2 - n1 - n2)
                           / ((n1 + n2) * (n1 + n2) * (n1 + n2 - 1))),
                    4) AS z_stat
       FROM agg WHERE n1 > 0 AND n2 > 0 AND n1 + n2 > 1""",
)
def runs_test_randomness(spark, sf_dir):
    """Wald-Wolfowitz runs test on the daily up/down sequence: too
    FEW runs = trending, too MANY = mean-reverting, z against the
    exact run-count moments under exchangeability. Counts are
    integers end to end (the one place FP can't wobble), so the only
    rounding is on the final statistics. One sort serves the return
    lag and the run-boundary lag."""
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy("event_type", F.to_date("ts").alias("d")).agg(
        exact.mean_6dp().alias("v")
    )
    w = Window.partitionBy("event_type").orderBy("d")
    base = daily.select(
        "event_type",
        "d",
        F.signum(
            F.round(F.col("v") - F.lag("v").over(w), 6)
        ).alias("s"),
    ).filter(F.col("s").isNotNull() & (F.col("s") != 0))
    flagged = base.withColumn(
        "new_run",
        F.when(
            ~F.lag("s").over(w).eqNullSafe(F.col("s")), 1
        ).otherwise(0),
    )
    agg = flagged.groupBy("event_type").agg(
        F.sum(F.when(F.col("s") > 0, 1).otherwise(0))
        .cast("double")
        .alias("n1"),
        F.sum(F.when(F.col("s") < 0, 1).otherwise(0))
        .cast("double")
        .alias("n2"),
        F.sum("new_run").cast("long").alias("runs"),
    )
    n1, n2 = F.col("n1"), F.col("n2")
    e_runs = 1 + 2 * n1 * n2 / (n1 + n2)
    var = (
        2 * n1 * n2 * (2 * n1 * n2 - n1 - n2)
        / ((n1 + n2) * (n1 + n2) * (n1 + n2 - 1))
    )
    return agg.filter(
        (n1 > 0) & (n2 > 0) & (n1 + n2 > 1)
    ).select(
        "event_type",
        n1.cast("long").alias("n_up"),
        n2.cast("long").alias("n_down"),
        "runs",
        F.round(e_runs, 4).alias("expected_runs"),
        F.round((F.col("runs") - e_runs) / F.sqrt(var), 4).alias("z_stat"),
    )


@q(
    "dow_seasonality_strength",
    """WITH daily AS (
         SELECT event_type, CAST(ts AS DATE) AS d,
                dayofweek(CAST(ts AS TIMESTAMP)) AS dow,
                CAST(SUM(CAST(value AS DECIMAL(18, 6))) AS DOUBLE) AS v
         FROM events GROUP BY 1, 2, 3),
       centered AS (
         SELECT event_type, d, v,
                v - AVG(v) OVER (PARTITION BY event_type, dow) AS resid
         FROM daily),
       agg AS (
         SELECT event_type,
                CAST(COUNT(*) AS BIGINT) AS n_days,
                ROUND(VAR_POP(v), 2) AS var_total,
                ROUND(VAR_POP(resid), 2) AS var_resid
         FROM centered GROUP BY 1)
       SELECT event_type, n_days, var_total, var_resid,
              ROUND(GREATEST(0, 1 - var_resid / var_total), 4)
                AS seasonality_strength
       FROM agg WHERE var_total > 0""",
)
def dow_seasonality_strength(spark, sf_dir):
    """Day-of-week seasonality strength per series — the STL-style
    variance-explained statistic max(0, 1 - Var(deseasonalized)/
    Var(total)) with the weekday means as the seasonal component: ~0
    means the weekly cycle carries no signal, →1 means the weekday
    alone predicts the day's volume. The dow key only GROUPS (never
    emitted), so each engine's weekday numbering convention is
    irrelevant — same-weekday days land in the same group either
    way. One window over (type, dow) + one aggregate. The daily sums
    accumulate in DECIMAL(18,6) (exact, order-independent — the
    o_totalprice audit pattern) and the 10^6-magnitude variances are
    emitted at 2 dp, so no output column demands more significant
    digits than float64 summation-order determinism guarantees
    cross-engine (the r7 hash-red was ROUND(VAR_POP, 6) on a ~3e6
    variance — 13 significant digits)."""
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type",
        F.to_date("ts").alias("d"),
        F.dayofweek("ts").alias("dow"),
    ).agg(
        F.sum(F.col("value").cast("decimal(18,6)"))
        .cast("double")
        .alias("v")
    )
    centered = daily.withColumn(
        "resid",
        F.col("v")
        - F.avg("v").over(Window.partitionBy("event_type", "dow")),
    )
    agg = centered.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_days"),
        F.round(F.var_pop("v"), 2).alias("var_total"),
        F.round(F.var_pop("resid"), 2).alias("var_resid"),
    )
    return agg.filter(F.col("var_total") > 0).select(
        "event_type",
        "n_days",
        "var_total",
        "var_resid",
        F.round(
            F.greatest(
                F.lit(0.0), 1 - F.col("var_resid") / F.col("var_total")
            ),
            4,
        ).alias("seasonality_strength"),
    )


@q(
    "cross_correlation_lead_lag",
    """WITH daily AS (
         SELECT CAST(ts AS DATE) AS d,
                ROUND(SUM(CASE WHEN event_type IN ('click', 'view')
                               THEN 1 ELSE 0 END) * 1.0, 4) AS x,
                ROUND(SUM(CASE WHEN event_type = 'purchase'
                               THEN 1 ELSE 0 END) * 1.0, 4) AS y
         FROM events GROUP BY 1),
       lags AS (SELECT UNNEST([-3, -2, -1, 0, 1, 2, 3]) AS lag),
       shifted AS (
         SELECT l.lag, a.d, a.x, b.y
         FROM daily a
         CROSS JOIN lags l
         JOIN daily b ON b.d = a.d + CAST(l.lag AS INT)),
       ccf AS (
         SELECT lag, CAST(COUNT(*) AS BIGINT) AS n_pairs,
                ROUND(CORR(x, y), 4) AS r
         FROM shifted GROUP BY 1)
       SELECT lag AS lag_days, n_pairs, r AS cross_corr,
              ROUND(MAX(ABS(r)) OVER () , 4) = ROUND(ABS(r), 4)
                AS is_peak
       FROM ccf ORDER BY lag""",
)
def cross_correlation_lead_lag(spark, sf_dir):
    """Cross-correlation function between daily traffic (clicks +
    views) and daily purchases at lags -3..+3 days — the lead-lag
    probe behind 'does engagement predict conversion, and by how many
    days?'. Each lag is an equi-join of the daily table against its
    date-shifted self (calendar-bounded rows x a 7-row constant lag
    grid), CORR per lag, and the peak flagged. Counts are exact
    integers into the correlation; rounding only at emission."""
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(F.to_date("ts").alias("d")).agg(
        F.round(
            F.sum(
                F.when(
                    F.col("event_type").isin("click", "view"), 1
                ).otherwise(0)
            ).cast("double"),
            4,
        ).alias("x"),
        F.round(
            F.sum(
                F.when(F.col("event_type") == "purchase", 1).otherwise(0)
            ).cast("double"),
            4,
        ).alias("y"),
    )
    lags = spark.createDataFrame(
        [(-3,), (-2,), (-1,), (0,), (1,), (2,), (3,)], "lag int"
    )
    a = daily.select("d", "x")
    b = daily.select(F.col("d").alias("d2"), "y")
    shifted = (
        a.crossJoin(F.broadcast(lags))
        .join(b, F.expr("d2 = date_add(d, lag)"))
        .select("lag", "x", "y")
    )
    ccf = shifted.groupBy("lag").agg(
        F.count(F.lit(1)).cast("long").alias("n_pairs"),
        F.round(F.corr("x", "y"), 4).alias("r"),
    )
    w = Window.partitionBy()
    return ccf.select(
        F.col("lag").alias("lag_days"),
        "n_pairs",
        F.col("r").alias("cross_corr"),
        (
            F.round(F.max(F.abs("r")).over(w), 4)
            == F.round(F.abs("r"), 4)
        ).alias("is_peak"),
    ).orderBy("lag_days")


# ------------------------------------------------ round-8 finance block
# Microstructure and risk statistics over the event stream's daily
# grain — the measures a market-data lakehouse computes beside the
# reference's GARCH/ARIMA notebooks (test5/test6.ipynb): illiquidity
# (Amihud), price impact (Kyle's lambda), downside risk (semivariance,
# ulcer index, Cornish-Fisher VaR), and two distribution-shape tests
# (turning points, intraday-uniformity KS). Daily series are
# DECIMAL-pinned at the stage boundary throughout (the round-8
# convention after the dow_seasonality hash-red).

_DAILY_PX_SQL = """
         SELECT event_type, CAST(ts AS DATE) AS d,
                ROUND(CAST(SUM(CAST(value AS DECIMAL(18, 6))) AS DOUBLE)
                      / COUNT(*), 6) AS p,
                CAST(COUNT(*) AS BIGINT) AS vol
         FROM events GROUP BY 1, 2
"""


def _daily_px(spark, sf_dir):
    ev = load_table(spark, sf_dir, "events")
    return ev.groupBy("event_type", F.to_date("ts").alias("d")).agg(
        F.round(
            F.sum(F.col("value").cast("decimal(18,6)")).cast("double")
            / F.count(F.lit(1)),
            6,
        ).alias("p"),
        F.count(F.lit(1)).cast("long").alias("vol"),
    )


@q(
    "amihud_illiquidity",
    f"""WITH daily AS ({_DAILY_PX_SQL}),
       ret AS (
         SELECT event_type, STRFTIME(d, '%Y-%m') AS month, vol,
                p / LAG(p) OVER (PARTITION BY event_type ORDER BY d) - 1
                  AS r
         FROM daily)
       SELECT event_type, month,
              CAST(COUNT(*) AS BIGINT) AS n_days,
              ROUND(1e6 * AVG(ABS(r) / vol), 4) AS amihud_x1e6
       FROM ret WHERE r IS NOT NULL GROUP BY 1, 2""",
)
def amihud_illiquidity(spark, sf_dir):
    """Amihud illiquidity ratio per (series, month): the monthly mean
    of |daily return| / daily volume (×10⁶ for readable magnitude) —
    price movement per unit of flow, THE standard illiquidity proxy.
    Date-grain aggregate → lag window → month aggregate; per-key
    state is one scalar per day."""
    daily = _daily_px(spark, sf_dir)
    w = Window.partitionBy("event_type").orderBy("d")
    ret = daily.select(
        "event_type",
        F.date_format("d", "yyyy-MM").alias("month"),
        "vol",
        (F.col("p") / F.lag("p").over(w) - 1).alias("r"),
    ).filter(F.col("r").isNotNull())
    return ret.groupBy("event_type", "month").agg(
        F.count(F.lit(1)).cast("long").alias("n_days"),
        F.round(1e6 * F.avg(F.abs("r") / F.col("vol")), 4).alias(
            "amihud_x1e6"
        ),
    )


@q(
    "kyle_lambda_price_impact",
    f"""WITH daily AS ({_DAILY_PX_SQL}),
       ret AS (
         SELECT event_type,
                p - LAG(p) OVER (PARTITION BY event_type ORDER BY d)
                  AS dp,
                vol
         FROM daily),
       signed AS (
         SELECT event_type, dp,
                SIGN(dp) * vol AS sv
         FROM ret WHERE dp IS NOT NULL)
       SELECT event_type,
              CAST(COUNT(*) AS BIGINT) AS n_days,
              ROUND(1e6 * REGR_SLOPE(dp, sv), 4) AS kyle_lambda_x1e6,
              ROUND(REGR_R2(dp, sv), 4) AS r2
       FROM signed GROUP BY 1""",
)
def kyle_lambda_price_impact(spark, sf_dir):
    """Kyle's lambda — price impact per unit of signed flow — as the
    least-squares slope of daily price change on signed volume
    (sign(Δp)·volume, the standard tick-rule proxy at daily grain).
    REGR_SLOPE/REGR_R2 are identical closed forms on both engines
    over exact (decimal-pinned Δp, integer volume) inputs."""
    daily = _daily_px(spark, sf_dir)
    w = Window.partitionBy("event_type").orderBy("d")
    ret = daily.select(
        "event_type",
        (F.col("p") - F.lag("p").over(w)).alias("dp"),
        "vol",
    ).filter(F.col("dp").isNotNull())
    signed = ret.select(
        "event_type",
        "dp",
        (F.signum("dp") * F.col("vol")).alias("sv"),
    )
    return signed.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_days"),
        F.round(1e6 * F.regr_slope("dp", "sv"), 4).alias(
            "kyle_lambda_x1e6"
        ),
        F.round(F.regr_r2("dp", "sv"), 4).alias("r2"),
    )


@q(
    "realized_semivariance_updown",
    f"""WITH daily AS ({_DAILY_PX_SQL}),
       ret AS (
         SELECT event_type, STRFTIME(d, '%Y-%m') AS month,
                ROUND(p / LAG(p) OVER (PARTITION BY event_type ORDER BY d)
                      - 1, 6) AS r
         FROM daily)
       SELECT event_type, month,
              CAST(COUNT(*) AS BIGINT) AS n_days,
              ROUND(SUM(CASE WHEN r > 0 THEN r * r ELSE 0 END), 6)
                AS rs_up,
              ROUND(SUM(CASE WHEN r < 0 THEN r * r ELSE 0 END), 6)
                AS rs_down,
              ROUND(SUM(CASE WHEN r > 0 THEN r * r ELSE 0 END)
                    - SUM(CASE WHEN r < 0 THEN r * r ELSE 0 END), 6)
                AS signed_jump_gap
       FROM ret WHERE r IS NOT NULL GROUP BY 1, 2""",
)
def realized_semivariance_updown(spark, sf_dir):
    """Realized semivariance per (series, month): the up-move and
    down-move halves of realized variance (Barndorff-Nielsen's RS⁺/
    RS⁻) and their gap — the asymmetry measure separating good from
    bad volatility that plain realized_vol_monthly cannot see.
    Returns are rounded at the stage boundary, so the semivariance
    sums consume identical inputs on both engines."""
    daily = _daily_px(spark, sf_dir)
    w = Window.partitionBy("event_type").orderBy("d")
    ret = daily.select(
        "event_type",
        F.date_format("d", "yyyy-MM").alias("month"),
        F.round(F.col("p") / F.lag("p").over(w) - 1, 6).alias("r"),
    ).filter(F.col("r").isNotNull())
    up = F.sum(F.when(F.col("r") > 0, F.col("r") * F.col("r")).otherwise(0.0))
    dn = F.sum(F.when(F.col("r") < 0, F.col("r") * F.col("r")).otherwise(0.0))
    return ret.groupBy("event_type", "month").agg(
        F.count(F.lit(1)).cast("long").alias("n_days"),
        F.round(up, 6).alias("rs_up"),
        F.round(dn, 6).alias("rs_down"),
        F.round(up - dn, 6).alias("signed_jump_gap"),
    )


@q(
    "drawdown_duration_ulcer",
    f"""WITH daily AS ({_DAILY_PX_SQL}),
       peaked AS (
         SELECT event_type, d, p,
                MAX(p) OVER (PARTITION BY event_type ORDER BY d
                             ROWS BETWEEN UNBOUNDED PRECEDING
                             AND CURRENT ROW) AS peak
         FROM daily),
       flagged AS (
         SELECT event_type, d,
                100.0 * (peak - p) / peak AS dd_pct,
                CASE WHEN p < peak THEN 1 ELSE 0 END AS uw,
                CAST(ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY d)
                     AS BIGINT) AS rn
         FROM peaked),
       isl AS (
         SELECT event_type, dd_pct, uw,
                rn - CAST(SUM(uw) OVER (PARTITION BY event_type ORDER BY rn
                                        ROWS BETWEEN UNBOUNDED PRECEDING
                                        AND CURRENT ROW) AS BIGINT) AS grp
         FROM flagged),
       runs AS (
         SELECT event_type, grp, COUNT(*) AS run_len
         FROM isl WHERE uw = 1 GROUP BY 1, 2)
       SELECT f.event_type,
              CAST(MAX(r.longest) AS BIGINT) AS max_underwater_days,
              ROUND(SQRT(AVG(f.dd_pct * f.dd_pct)), 4) AS ulcer_index,
              ROUND(100.0 * SUM(f.uw) / COUNT(*), 4) AS pct_days_underwater
       FROM isl f
       LEFT JOIN (SELECT event_type, MAX(run_len) AS longest
                  FROM runs GROUP BY 1) r
         ON f.event_type = r.event_type
       GROUP BY 1""",
)
def drawdown_duration_ulcer(spark, sf_dir):
    """Drawdown persistence per series: the longest consecutive
    underwater spell (days below the running peak, gaps-islands on
    the flag), the ulcer index √(mean dd%²) — the drawdown-weighted
    risk measure — and the underwater-day share.
    max_drawdown_by_type measures DEPTH; this measures DURATION and
    area. Running peak + one islands pass; per-key state is a
    running max and a run counter (streaming-foldable)."""
    daily = _daily_px(spark, sf_dir)
    wpeak = (
        Window.partitionBy("event_type")
        .orderBy("d")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    peaked = daily.select(
        "event_type",
        "d",
        "p",
        F.max("p").over(wpeak).alias("peak"),
    )
    flagged = peaked.select(
        "event_type",
        "d",
        (100.0 * (F.col("peak") - F.col("p")) / F.col("peak")).alias(
            "dd_pct"
        ),
        F.when(F.col("p") < F.col("peak"), 1).otherwise(0).alias("uw"),
        F.row_number()
        .over(Window.partitionBy("event_type").orderBy("d"))
        .cast("long")
        .alias("rn"),
    )
    isl = flagged.select(
        "event_type",
        "dd_pct",
        "uw",
        (
            F.col("rn")
            - F.sum("uw")
            .over(
                Window.partitionBy("event_type")
                .orderBy("rn")
                .rowsBetween(Window.unboundedPreceding, Window.currentRow)
            )
            .cast("long")
        ).alias("grp"),
    )
    runs = (
        isl.filter(F.col("uw") == 1)
        .groupBy("event_type", "grp")
        .agg(F.count(F.lit(1)).alias("run_len"))
        .groupBy("event_type")
        .agg(F.max("run_len").alias("longest"))
    )
    return (
        isl.join(runs, "event_type", "left")
        .groupBy("event_type")
        .agg(
            F.max("longest").cast("long").alias("max_underwater_days"),
            F.round(
                F.sqrt(F.avg(F.col("dd_pct") * F.col("dd_pct"))), 4
            ).alias("ulcer_index"),
            F.round(100.0 * F.sum("uw") / F.count(F.lit(1)), 4).alias(
                "pct_days_underwater"
            ),
        )
    )


@q(
    "trend_seasonal_residual_split",
    f"""WITH daily AS (
         SELECT event_type, CAST(ts AS DATE) AS d,
                dayofweek(CAST(ts AS TIMESTAMP)) AS dow,
                CAST(SUM(CAST(value AS DECIMAL(18, 6))) AS DOUBLE) AS y
         FROM events GROUP BY 1, 2, 3),
       ma AS (
         SELECT event_type, d, dow, y,
                CASE WHEN COUNT(*) OVER w7 = 7
                     THEN ROUND(AVG(y) OVER w7, 6) END AS trend
         FROM daily
         WINDOW w7 AS (PARTITION BY event_type ORDER BY d
                       ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)),
       det AS (
         SELECT event_type, dow, y - trend AS detr
         FROM ma WHERE trend IS NOT NULL),
       seas AS (
         SELECT event_type, dow, detr,
                AVG(detr) OVER (PARTITION BY event_type, dow) AS s
         FROM det),
       comp AS (
         SELECT event_type, detr, s, detr - s AS resid
         FROM seas)
       SELECT event_type,
              CAST(COUNT(*) AS BIGINT) AS n_days,
              ROUND(VAR_POP(detr), 2) AS var_detrended,
              ROUND(VAR_POP(resid), 2) AS var_residual,
              ROUND(GREATEST(0, 1 - VAR_POP(resid)
                                 / NULLIF(VAR_POP(detr), 0)), 4)
                AS seasonal_strength,
              ROUND(VAR_POP(s), 2) AS var_seasonal_component
       FROM comp GROUP BY 1""",
)
def trend_seasonal_residual_split(spark, sf_dir):
    """Classical additive decomposition per series: a centered 7-day
    moving average estimates trend (full windows only), weekday means
    of the detrended series estimate the seasonal component, and the
    leftover is residual. Emits the variance split and the
    trend-adjusted seasonal strength — the STL-style diagnostic that
    dow_seasonality_strength approximates WITHOUT detrending. Daily
    sums are decimal-pinned and the MA is rounded at the stage
    boundary; variances of ~10⁶ magnitude emit at 2 dp (round-
    precision lint budget)."""
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type",
        F.to_date("ts").alias("d"),
        F.dayofweek("ts").alias("dow"),
    ).agg(
        F.sum(F.col("value").cast("decimal(18,6)")).cast("double").alias("y")
    )
    w7 = (
        Window.partitionBy("event_type")
        .orderBy("d")
        .rowsBetween(-3, 3)
    )
    ma = daily.select(
        "event_type",
        "dow",
        "y",
        F.when(
            F.count(F.lit(1)).over(w7) == 7, F.round(F.avg("y").over(w7), 6)
        ).alias("trend"),
    )
    det = ma.filter(F.col("trend").isNotNull()).select(
        "event_type", "dow", (F.col("y") - F.col("trend")).alias("detr")
    )
    seas = det.select(
        "event_type",
        "detr",
        F.avg("detr")
        .over(Window.partitionBy("event_type", "dow"))
        .alias("s"),
    )
    comp = seas.select(
        "event_type", "detr", "s", (F.col("detr") - F.col("s")).alias("resid")
    )
    return comp.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_days"),
        F.round(F.var_pop("detr"), 2).alias("var_detrended"),
        F.round(F.var_pop("resid"), 2).alias("var_residual"),
        F.round(
            F.greatest(
                F.lit(0.0),
                1
                - F.var_pop("resid")
                / F.nullif(F.var_pop("detr"), F.lit(0.0)),
            ),
            4,
        ).alias("seasonal_strength"),
        F.round(F.var_pop("s"), 2).alias("var_seasonal_component"),
    )


@q(
    "turning_points_randomness",
    f"""WITH daily AS (
         SELECT event_type, CAST(ts AS DATE) AS d,
                CAST(SUM(CAST(value AS DECIMAL(18, 6))) AS DOUBLE) AS y
         FROM events GROUP BY 1, 2),
       tri AS (
         SELECT event_type,
                LAG(y) OVER w AS y0, y AS y1, LEAD(y) OVER w AS y2
         FROM daily WINDOW w AS (PARTITION BY event_type ORDER BY d)),
       tp AS (
         SELECT event_type,
                CAST(SUM(CASE WHEN (y1 > y0 AND y1 > y2)
                                OR (y1 < y0 AND y1 < y2)
                              THEN 1 ELSE 0 END) AS BIGINT) AS t,
                CAST(COUNT(*) + 2 AS BIGINT) AS n
         FROM tri WHERE y0 IS NOT NULL AND y2 IS NOT NULL
         GROUP BY 1)
       SELECT event_type, n, t,
              ROUND(2.0 * (n - 2) / 3.0, 4) AS expected_t,
              ROUND((t - 2.0 * (n - 2) / 3.0)
                    / SQRT((16.0 * n - 29) / 90.0), 4) AS z_stat
       FROM tp""",
)
def turning_points_randomness(spark, sf_dir):
    """Turning-points test for randomness per series: count local
    extrema T in the daily sequence (strict peak or trough among 3
    consecutive days); under i.i.d. randomness E[T] = 2(n−2)/3 and
    Var[T] = (16n−29)/90, so z = (T−E)/√Var flags trending or
    oscillating structure. Complements runs_test_randomness (sign
    runs) with a shape-based count. All counts are exact integers on
    decimal-pinned daily sums; strict inequalities make ties count as
    neither (documented)."""
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy("event_type", F.to_date("ts").alias("d")).agg(
        F.sum(F.col("value").cast("decimal(18,6)")).cast("double").alias("y")
    )
    w = Window.partitionBy("event_type").orderBy("d")
    tri = daily.select(
        "event_type",
        F.lag("y").over(w).alias("y0"),
        F.col("y").alias("y1"),
        F.lead("y").over(w).alias("y2"),
    ).filter(F.col("y0").isNotNull() & F.col("y2").isNotNull())
    is_tp = (
        ((F.col("y1") > F.col("y0")) & (F.col("y1") > F.col("y2")))
        | ((F.col("y1") < F.col("y0")) & (F.col("y1") < F.col("y2")))
    ).cast("int")
    tp = tri.groupBy("event_type").agg(
        F.sum(is_tp).cast("long").alias("t"),
        (F.count(F.lit(1)) + 2).cast("long").alias("n"),
    )
    e_t = 2.0 * (F.col("n") - 2) / 3.0
    return tp.select(
        "event_type",
        "n",
        "t",
        F.round(e_t, 4).alias("expected_t"),
        F.round(
            (F.col("t") - e_t) / F.sqrt((16.0 * F.col("n") - 29) / 90.0), 4
        ).alias("z_stat"),
    )


@q(
    "ks_uniformity_intraday",
    """WITH secs AS (
         SELECT event_type,
                CAST(FLOOR(epoch(ts)) AS BIGINT) % 86400 AS s
         FROM events),
       per_s AS (
         SELECT event_type, s, COUNT(*) AS c FROM secs GROUP BY 1, 2),
       cum AS (
         SELECT event_type, s, c,
                SUM(c) OVER (PARTITION BY event_type ORDER BY s
                             ROWS BETWEEN UNBOUNDED PRECEDING
                             AND CURRENT ROW) AS cu,
                SUM(c) OVER (PARTITION BY event_type) AS n
         FROM per_s),
       d AS (
         SELECT event_type, MAX(n) AS n,
                MAX(GREATEST(
                  ABS(CAST(cu AS DOUBLE) / n - (s + 1) / 86400.0),
                  ABS(CAST(cu - c AS DOUBLE) / n - s / 86400.0)))
                  AS ks_d
         FROM cum GROUP BY 1)
       SELECT event_type, CAST(n AS BIGINT) AS n,
              ROUND(ks_d, 6) AS ks_d,
              ROUND(ks_d * SQRT(n), 4) AS ks_stat_scaled,
              CAST(CASE WHEN ks_d * SQRT(n) > 1.358 THEN 1 ELSE 0
                   END AS INT) AS reject_uniform_05
       FROM d""",
)
def ks_uniformity_intraday(spark, sf_dir):
    """One-sample Kolmogorov-Smirnov test of intraday arrival
    uniformity per series: D = sup|F̂(s) − s/86400| over the
    second-of-day marginal, evaluated at both step edges of the
    empirical CDF (the exact sup for a step-vs-continuous compare).
    √n·D vs 1.358 is the 5 % decision. Complements ks_two_sample
    (two-sample) with the one-sample-vs-theoretical form; all CDF
    inputs are exact integers so both engines compute the identical
    double."""
    ev = load_table(spark, sf_dir, "events")
    secs = ev.select(
        "event_type",
        (F.unix_timestamp("ts") % 86400).alias("s"),
    )
    per_s = secs.groupBy("event_type", "s").agg(
        F.count(F.lit(1)).alias("c")
    )
    wcum = (
        Window.partitionBy("event_type")
        .orderBy("s")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = per_s.select(
        "event_type",
        "s",
        "c",
        F.sum("c").over(wcum).alias("cu"),
        F.sum("c").over(Window.partitionBy("event_type")).alias("n"),
    )
    d_hi = F.abs(
        F.col("cu").cast("double") / F.col("n")
        - (F.col("s") + 1) / 86400.0
    )
    d_lo = F.abs(
        (F.col("cu") - F.col("c")).cast("double") / F.col("n")
        - F.col("s") / 86400.0
    )
    d = cum.groupBy("event_type").agg(
        F.max("n").alias("n"),
        F.max(F.greatest(d_hi, d_lo)).alias("ks_d"),
    )
    return d.select(
        "event_type",
        F.col("n").cast("long").alias("n"),
        F.round("ks_d", 6).alias("ks_d"),
        F.round(F.col("ks_d") * F.sqrt(F.col("n")), 4).alias(
            "ks_stat_scaled"
        ),
        (F.col("ks_d") * F.sqrt(F.col("n")) > 1.358)
        .cast("int")
        .alias("reject_uniform_05"),
    )


@q(
    "cornish_fisher_var",
    """SELECT event_type,
              CAST(COUNT(*) AS BIGINT) AS n,
              ROUND(AVG(value), 4) AS mean_v,
              ROUND(stddev_samp(value), 4) AS sd_v,
              ROUND(1.6449 + (1.6449 * 1.6449 - 1)
                      * (skewness(value) * (COUNT(value) - 2)
                         / sqrt(COUNT(value) * (COUNT(value) - 1.0))) / 6.0
                    + (POW(1.6449, 3) - 3 * 1.6449)
                      * kurtosis_pop(value) / 24.0
                    - (2 * POW(1.6449, 3) - 5 * 1.6449)
                      * POW(skewness(value) * (COUNT(value) - 2)
                            / sqrt(COUNT(value) * (COUNT(value) - 1.0)), 2)
                      / 36.0, 4) AS z_cf_95,
              ROUND(AVG(value) + stddev_samp(value)
                    * (1.6449 + (1.6449 * 1.6449 - 1)
                         * (skewness(value) * (COUNT(value) - 2)
                            / sqrt(COUNT(value) * (COUNT(value) - 1.0))) / 6.0
                       + (POW(1.6449, 3) - 3 * 1.6449)
                         * kurtosis_pop(value) / 24.0
                       - (2 * POW(1.6449, 3) - 5 * 1.6449)
                         * POW(skewness(value) * (COUNT(value) - 2)
                               / sqrt(COUNT(value) * (COUNT(value) - 1.0)), 2)
                         / 36.0), 4) AS var_95_cf,
              ROUND(AVG(value) + 1.6449 * stddev_samp(value), 4)
                AS var_95_normal
       FROM events GROUP BY 1""",
)
def cornish_fisher_var(spark, sf_dir):
    """Cornish-Fisher modified Value-at-Risk per series: the 95 %
    upper-tail quantile estimate μ + σ·z_cf where z_cf corrects the
    normal z = 1.6449 for skewness and excess kurtosis (the
    third-order CF expansion). Emitted beside the normal-assumption
    VaR so the moment correction is visible — on this right-skewed
    value distribution the gap is the whole point. Single-pass moment
    aggregates; the skewness definitional bridge matches
    stats_moments_by_type."""
    ev = load_table(spark, sf_dir, "events")
    z = 1.6449
    g1 = F.skewness("value")
    g2 = F.kurtosis("value")
    zcf = (
        F.lit(z)
        + (z * z - 1) * g1 / 6.0
        + (z**3 - 3 * z) * g2 / 24.0
        - (2 * z**3 - 5 * z) * F.pow(g1, 2) / 36.0
    )
    return ev.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.round(F.avg("value"), 4).alias("mean_v"),
        F.round(F.stddev_samp("value"), 4).alias("sd_v"),
        F.round(zcf, 4).alias("z_cf_95"),
        F.round(F.avg("value") + F.stddev_samp("value") * zcf, 4).alias(
            "var_95_cf"
        ),
        F.round(F.avg("value") + z * F.stddev_samp("value"), 4).alias(
            "var_95_normal"
        ),
    )
