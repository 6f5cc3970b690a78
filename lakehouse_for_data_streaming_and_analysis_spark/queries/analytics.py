"""Analytics-layer queries (SURVEY.md §2.13): deterministic time-series
features with DuckDB oracles, plus grouped-map model fits (rows-only —
model fits are not SQL-expressible, the driver's weaker check applies).

Series fixture: hourly average of events.value per event_type — the
rebuild's stand-in for the reference's daily OHLCV close series
(reference: Sourcecode/spark/udf.py:85-99, Garch_v1.ipynb cell 1).
Decimal-sum/COUNT keeps the hourly mean order-independent so Spark and
DuckDB agree bit-for-bit after ROUND.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..analytics import cv, metrics, timeseries
from ..catalog import load_table
from . import registry

QUERIES, ORACLES, q = registry.module()


# Shared hourly series: one row per (event_type, hour).
HOURLY_SQL = """
  SELECT event_type,
         strftime(date_trunc('hour', CAST(ts AS TIMESTAMP)), '%Y-%m-%d %H:00') AS ds,
         ROUND(CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*), 6) AS y
  FROM events GROUP BY 1, 2
"""


def hourly_series(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return ev.groupBy(
        "event_type",
        F.date_format(F.date_trunc("hour", "ts"), "yyyy-MM-dd HH:00").alias("ds"),
    ).agg(
        F.round(
            F.sum(F.col("value").cast("decimal(18,2)")).cast("double")
            / F.count(F.lit(1)),
            6,
        ).alias("y")
    )


# ------------------------------------------------------- oracle-backed features

@q(
    "acf_by_lag",
    f"""WITH hourly AS ({HOURLY_SQL}),
       lagged AS (
         SELECT event_type, y,
                LAG(y, 1) OVER (PARTITION BY event_type ORDER BY ds) AS y1,
                LAG(y, 2) OVER (PARTITION BY event_type ORDER BY ds) AS y2,
                LAG(y, 3) OVER (PARTITION BY event_type ORDER BY ds) AS y3
         FROM hourly)
       SELECT event_type,
              ROUND(CORR(y, y1), 4) AS acf_1,
              ROUND(CORR(y, y2), 4) AS acf_2,
              ROUND(CORR(y, y3), 4) AS acf_3
       FROM lagged GROUP BY event_type""",
)
def acf_by_lag(spark, sf_dir):
    """X4 (ACF): per-series autocorrelation at lags 1..3 as corr(y,
    lag_k(y)) — a window + one hash aggregate, no pandas
    (Garch_v1.ipynb cell 13's correlogram, computed in-engine)."""
    h = hourly_series(spark, sf_dir)
    w = Window.partitionBy("event_type").orderBy("ds")
    lagged = h.select(
        "event_type",
        "y",
        F.lag("y", 1).over(w).alias("y1"),
        F.lag("y", 2).over(w).alias("y2"),
        F.lag("y", 3).over(w).alias("y3"),
    )
    return lagged.groupBy("event_type").agg(
        F.round(F.corr("y", "y1"), 4).alias("acf_1"),
        F.round(F.corr("y", "y2"), 4).alias("acf_2"),
        F.round(F.corr("y", "y3"), 4).alias("acf_3"),
    )


@q(
    "arch_lm_test",
    f"""WITH hourly AS ({HOURLY_SQL}),
       ret AS (
         SELECT event_type, ds,
                y / LAG(y) OVER (PARTITION BY event_type ORDER BY ds) - 1 AS r
         FROM hourly),
       cen AS (
         SELECT event_type, ds,
                r - AVG(r) OVER (PARTITION BY event_type) AS e
         FROM ret WHERE r IS NOT NULL),
       lagged AS (
         SELECT event_type, e * e AS e2,
                LAG(e * e) OVER (PARTITION BY event_type ORDER BY ds) AS e2l
         FROM cen)
       SELECT event_type,
              CAST(regr_count(e2, e2l) AS BIGINT) AS n,
              ROUND(regr_count(e2, e2l) * regr_r2(e2, e2l), 4) AS lm_stat,
              ROUND(regr_count(e2, e2l) * regr_r2(e2, e2l), 4) > 3.841
                AS arch_effect_5pct
       FROM lagged GROUP BY 1""",
)
def arch_lm_test(spark, sf_dir):
    """X4 (ARCH-LM, het_arch): Engle's Lagrange-multiplier test for
    conditional heteroskedasticity at one lag — regress squared
    demeaned returns on their own lag; LM = n·R² is chi²(1) under the
    no-ARCH null (5% critical value 3.841). Entirely in-engine: the
    single-regressor form makes R² a regr_r2 aggregate, so the test
    that statsmodels runs driver-side (test5.ipynb cell 4) becomes a
    window + one hash aggregate per series, hash-checked against the
    identical DuckDB expression. The 5% flag compares the ROUNDED
    statistic so no cross-engine ulp can flip it (DECISIONS.md §8)."""
    h = hourly_series(spark, sf_dir)
    w = Window.partitionBy("event_type").orderBy("ds")
    wp = Window.partitionBy("event_type")
    ret = h.select(
        "event_type", "ds", (F.col("y") / F.lag("y").over(w) - 1).alias("r")
    )
    cen = ret.filter(F.col("r").isNotNull()).select(
        "event_type", "ds", (F.col("r") - F.avg("r").over(wp)).alias("e")
    )
    e2 = (F.col("e") * F.col("e")).alias("e2")
    lagged = cen.select(
        "event_type",
        e2,
        F.lag(F.col("e") * F.col("e")).over(w).alias("e2l"),
    )
    lm = F.round(F.regr_count("e2", "e2l") * F.regr_r2("e2", "e2l"), 4)
    return lagged.groupBy("event_type").agg(
        F.regr_count("e2", "e2l").cast("bigint").alias("n"),
        lm.alias("lm_stat"),
        (lm > 3.841).alias("arch_effect_5pct"),
    )


@q(
    "dickey_fuller_tstat",
    f"""WITH hourly AS ({HOURLY_SQL}),
       reg AS (
         SELECT event_type,
                y - LAG(y) OVER (PARTITION BY event_type ORDER BY ds) AS dy,
                LAG(y) OVER (PARTITION BY event_type ORDER BY ds) AS ylag
         FROM hourly),
       fit AS (
         SELECT event_type,
                REGR_SLOPE(dy, ylag) AS slope,
                CAST(REGR_COUNT(dy, ylag) AS BIGINT) AS n,
                REGR_SXX(dy, ylag) AS sxx,
                REGR_SYY(dy, ylag) AS syy
         FROM reg WHERE dy IS NOT NULL GROUP BY event_type)
       SELECT event_type, n,
              ROUND(slope / SQRT(((syy - slope * slope * sxx) / (n - 2)) / sxx), 4)
                AS df_tstat
       FROM fit""",
)
def dickey_fuller_tstat(spark, sf_dir):
    """X3 (non-augmented case): Dickey-Fuller t-statistic of the unit-
    root coefficient, dy = a + b*y_lag, computed entirely with regr_*
    aggregates — the simple-regression special case of adf_by_group
    below, SQL-expressible so it gets a hash-matched oracle."""
    h = hourly_series(spark, sf_dir)
    w = Window.partitionBy("event_type").orderBy("ds")
    reg = h.select(
        "event_type",
        (F.col("y") - F.lag("y").over(w)).alias("dy"),
        F.lag("y").over(w).alias("ylag"),
    ).filter(F.col("dy").isNotNull())
    fit = reg.groupBy("event_type").agg(
        F.regr_slope("dy", "ylag").alias("slope"),
        F.regr_count("dy", "ylag").alias("n"),
        F.regr_sxx("dy", "ylag").alias("sxx"),
        F.regr_syy("dy", "ylag").alias("syy"),
    )
    slope, n, sxx, syy = F.col("slope"), F.col("n"), F.col("sxx"), F.col("syy")
    se = F.sqrt(((syy - slope * slope * sxx) / (n - 2)) / sxx)
    return fit.select("event_type", "n", F.round(slope / se, 4).alias("df_tstat"))


@q(
    "forecast_eval_metrics",
    f"""WITH hourly AS ({HOURLY_SQL}),
       pred AS (
         SELECT event_type, y,
                LAG(y) OVER (PARTITION BY event_type ORDER BY ds) AS yhat
         FROM hourly)
       SELECT event_type,
              ROUND(AVG(ABS(y - yhat)), 6) AS mae,
              ROUND(SQRT(AVG((y - yhat) * (y - yhat))), 6) AS rmse,
              ROUND(AVG(ABS((y - yhat) / NULLIF(y, 0))), 6) AS mape,
              ROUND(AVG(ABS(y - yhat) / NULLIF((ABS(y) + ABS(yhat)) / 2, 0)), 6)
                AS smape
       FROM pred WHERE yhat IS NOT NULL GROUP BY event_type""",
)
def forecast_eval_metrics(spark, sf_dir):
    """X9: mae/rmse/mape/smape of a naive lag-1 forecast against
    actuals (the Garch_v1 cell 49 evaluate() contract as aggregate
    expressions over a prediction/actual join)."""
    h = hourly_series(spark, sf_dir)
    w = Window.partitionBy("event_type").orderBy("ds")
    pred = h.select(
        "event_type", "y", F.lag("y").over(w).alias("yhat")
    ).filter(F.col("yhat").isNotNull())
    return pred.groupBy("event_type").agg(
        F.round(metrics.mae("y", "yhat"), 6).alias("mae"),
        F.round(metrics.rmse("y", "yhat"), 6).alias("rmse"),
        F.round(metrics.mape("y", "yhat"), 6).alias("mape"),
        F.round(metrics.smape("y", "yhat"), 6).alias("smape"),
    )


@q(
    "rolling_origin_cv",
    f"""WITH hourly AS ({HOURLY_SQL}),
       rn AS (
         SELECT event_type, ds, y,
                ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY ds) AS _rn,
                COUNT(*) OVER (PARTITION BY event_type) AS _n
         FROM hourly),
       folds AS (
         SELECT rn.*, f.fold,
                _n - 24 - (3 - 1 - f.fold) * 24 AS cutoff
         FROM rn CROSS JOIN (SELECT UNNEST([0, 1, 2]) AS fold) f),
       roles AS (
         SELECT event_type, fold, ds,
                CASE WHEN _rn <= cutoff THEN 'train'
                     WHEN _rn <= cutoff + 24 THEN 'test' END AS role
         FROM folds)
       SELECT event_type, fold, role, COUNT(*) AS n_rows,
              MIN(ds) AS first_ds, MAX(ds) AS last_ds
       FROM roles WHERE role IS NOT NULL
       GROUP BY event_type, fold, role""",
)
def rolling_origin_cv(spark, sf_dir):
    """X7: rolling-origin CV split assignment (h=24, step=24,
    n_windows=3 — StatsForecast.cross_validation's windowing,
    Garch_v1 cells 21-26) summarized per (series, fold, role)."""
    h = hourly_series(spark, sf_dir)
    assigned = cv.rolling_origin_assign(
        h, "ds", ["event_type"], horizon=24, step_size=24, n_windows=3
    )
    return assigned.groupBy("event_type", "fold", "role").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.min("ds").alias("first_ds"),
        F.max("ds").alias("last_ds"),
    )


@q(
    "price_reconstruction",
    """WITH h AS (
         SELECT event_type,
                strftime(date_trunc('hour', CAST(ts AS TIMESTAMP)),
                         '%Y-%m-%d %H:00') AS ds,
                (2 * CAST(SUM(CAST(value AS DECIMAL(18,2))) * 100 AS BIGINT)
                   * 10000 + COUNT(*)) // (2 * COUNT(*)) AS y6
         FROM events GROUP BY 1, 2),
       l AS (
         SELECT event_type, ds,
                LAG(y6, 1) OVER (PARTITION BY event_type ORDER BY ds) AS a,
                LAG(y6, 2) OVER (PARTITION BY event_type ORDER BY ds) AS b
         FROM h)
       SELECT event_type, ds,
              CAST((2 * a * a + b) // (2 * b) AS DOUBLE) / 1000000 AS y_recon
       FROM l WHERE a IS NOT NULL AND b IS NOT NULL""",
)
def price_reconstruction(spark, sf_dir):
    """X10: reconstruct the level series from lagged returns —
    close * (1 + resid.shift(1)) (test6.ipynb cell 7).

    Algebraically lag(y) * (1 + (lag(y)/lag2(y) - 1)) = lag(y)^2/lag2(y);
    the naive double chain multiplies three rounded doubles and flipped
    its last 6dp digit between engines at sf1 magnitudes
    (SIM_r09_sf1: 44.592802 vs 44.592804). DECISIONS 50 rework: carry
    the hourly mean as an exact integer of 1e-6 units (half-up of
    cents*1e4/n from the exact DECIMAL sum), then one exact integer
    half-up division for the whole chain. y <= max(value) ~ 5e2 is
    scale-free (it's an average), so 2*a*a <= ~5e17 fits BIGINT at any
    sf; the numerator exceeds 2^53, hence true integral division (DIV),
    not the float-floor idiom."""
    ev = load_table(spark, sf_dir, "events")
    h = (
        ev.groupBy(
            "event_type",
            F.date_format(F.date_trunc("hour", "ts"), "yyyy-MM-dd HH:00").alias("ds"),
        )
        .agg(
            (F.sum(F.col("value").cast("decimal(18,2)")) * 100)
            .cast("long")
            .alias("c"),
            F.count(F.lit(1)).alias("n"),
        )
        # stage-1 quotient <= ~7e10 << 2^53: float-floor is exact here
        # (same argument as the stochastic %D fix), but keep the whole
        # chain in DIV for uniformity with the oracle's //
        .select(
            "event_type",
            "ds",
            F.expr("(2 * c * 10000 + n) DIV (2 * n)").alias("y6"),
        )
    )
    w = Window.partitionBy("event_type").orderBy("ds")
    l = h.select(
        "event_type",
        "ds",
        F.lag("y6", 1).over(w).alias("a"),
        F.lag("y6", 2).over(w).alias("b"),
    )
    return l.filter(F.col("a").isNotNull() & F.col("b").isNotNull()).select(
        "event_type",
        "ds",
        (F.expr("(2 * a * a + b) DIV (2 * b)").cast("double") / 1000000).alias(
            "y_recon"
        ),
    )


# --------------------------------------------------- grouped-map model fits
# Not SQL-expressible (iterative fits) — no oracle entry; the driver
# records the weaker rows-only check, per the contract.

def _adf_oracle(crit: float = -2.86) -> str:
    """Augmented DF at max_lag=1 as closed-form SQL: the regression
    dy_t = a + b·y_{t-1} + g·dy_{t-1} is a 2-regressor-plus-intercept
    OLS, so t(b) comes from the centered normal equations
    (b1 = (S1y·S22 − S2y·S12)/det, Var(b1) = σ²·S22/det) — the same
    numbers numpy's lstsq produces to ~1e-12, far inside ROUND(·, 6).
    COVAR_POP·n supplies the centered cross-sums."""
    return f"""WITH hourly AS ({HOURLY_SQL}),
       d1 AS (
         SELECT event_type, ds,
                y - LAG(y) OVER w AS dy,
                LAG(y) OVER w AS ylag
         FROM hourly WINDOW w AS (PARTITION BY event_type ORDER BY ds)),
       d2 AS (
         SELECT event_type, dy, ylag,
                LAG(dy) OVER (PARTITION BY event_type ORDER BY ds) AS dylag
         FROM d1),
       r AS (SELECT * FROM d2
             WHERE dy IS NOT NULL AND ylag IS NOT NULL
                   AND dylag IS NOT NULL),
       s AS (
         SELECT event_type,
                CAST(COUNT(*) AS DOUBLE) AS n,
                COVAR_POP(ylag, ylag) * COUNT(*) AS s11,
                COVAR_POP(dylag, dylag) * COUNT(*) AS s22,
                COVAR_POP(ylag, dylag) * COUNT(*) AS s12,
                COVAR_POP(ylag, dy) * COUNT(*) AS s1y,
                COVAR_POP(dylag, dy) * COUNT(*) AS s2y,
                COVAR_POP(dy, dy) * COUNT(*) AS syy
         FROM r GROUP BY 1),
       b AS (
         SELECT *,
                (s1y * s22 - s2y * s12) / (s11 * s22 - s12 * s12) AS b1,
                (s11 * s2y - s12 * s1y) / (s11 * s22 - s12 * s12) AS b2
         FROM s),
       f AS (
         SELECT event_type, n, b1,
                (syy - b1 * s1y - b2 * s2y) / GREATEST(n - 3, 1) AS sigma2,
                s22 / (s11 * s22 - s12 * s12) AS v1
         FROM b)
       SELECT event_type,
              CAST(n AS INT) AS n_obs,
              ROUND(b1 / sqrt(sigma2 * v1), 6) AS adf_stat,
              CAST(1 AS INT) AS max_lag,
              b1 / sqrt(sigma2 * v1) < {crit!r} AS stationary_5pct
       FROM f"""


@q("adf_stationarity", _adf_oracle())
def adf_stationarity(spark, sf_dir):
    """X3: augmented Dickey-Fuller per series via applyInPandas. At
    max_lag=1 the OLS t-stat has a closed SQL form (_adf_oracle), so
    the grouped-map numpy fit is hash-checked, not just rows-only."""
    return timeseries.adf_by_group(
        hourly_series(spark, sf_dir), ["event_type"], "ds", "y", max_lag=1
    )


def _ljung_box_oracle(lags: int = 10, crit: float = 18.307) -> str:
    """Ljung-Box/Box-Pierce as one DuckDB query: the portmanteau
    statistics are plain arithmetic on the lag-k autocovariance sums
    (Q = n(n+2)·Σ (s_k/d)²/(n-k), Q* = n·Σ (s_k/d)²), so the grouped-
    map numpy fit has an exact SQL mirror — LAG windows for the
    products, one aggregate per series, the same term order as
    analytics/timeseries.ljung_box_and_box_pierce. Agreement lands far
    inside ROUND(·, 6) (summation-order noise ~1e-14)."""
    lag_cols = ",\n                  ".join(
        f"LAG(e, {k}) OVER w AS e{k}" for k in range(1, lags + 1)
    )
    sums = ",\n               ".join(
        f"SUM(e * e{k}) AS s{k}" for k in range(1, lags + 1)
    )
    q_terms = " + ".join(
        f"(s{k}/d)*(s{k}/d)/(n - {k})" for k in range(1, lags + 1)
    )
    bp_terms = " + ".join(f"(s{k}/d)*(s{k}/d)" for k in range(1, lags + 1))
    return f"""WITH hourly AS ({HOURLY_SQL}),
       ret AS (
         SELECT event_type, ds,
                (y / LAG(y) OVER (PARTITION BY event_type ORDER BY ds) - 1)
                * 100 AS r
         FROM hourly),
       cen AS (
         SELECT event_type, ds,
                r - AVG(r) OVER (PARTITION BY event_type) AS e
         FROM ret WHERE r IS NOT NULL),
       lagged AS (
         SELECT event_type, e,
                  {lag_cols}
         FROM cen WINDOW w AS (PARTITION BY event_type ORDER BY ds)),
       agg AS (
         SELECT event_type, CAST(COUNT(*) AS DOUBLE) AS n, SUM(e * e) AS d,
               {sums}
         FROM lagged GROUP BY 1)
       SELECT event_type,
              CAST(n AS INT) AS n_obs,
              ROUND(n * (n + 2) * ({q_terms}), 6) AS lb_stat,
              ROUND(n * ({bp_terms}), 6) AS bp_stat,
              CAST({lags} AS INT) AS lags,
              n * (n + 2) * ({q_terms}) > {crit!r}
                  AS reject_whitenoise_5pct
       FROM agg"""


@q("ljung_box_whitenoise", _ljung_box_oracle())
def ljung_box_whitenoise(spark, sf_dir):
    """X4: Ljung-Box Q (+ Box-Pierce) on hourly pct-returns per series
    — grouped-map numpy fit, oracle-mirrored in SQL
    (_ljung_box_oracle)."""
    h = hourly_series(spark, sf_dir)
    w = Window.partitionBy("event_type").orderBy("ds")
    rets = (
        h.withColumn("r", (F.col("y") / F.lag("y").over(w) - 1) * 100)
        .filter(F.col("r").isNotNull())
    )
    return timeseries.ljung_box_by_group(rets, ["event_type"], "ds", "r", lags=10)


def _pacf_oracle(nlags: int = 3) -> str:
    """Durbin-Levinson PACF unrolled to closed form for lags 1..3:
    phi11 = a1; phi22 = (a2 - a1²)/(1 - a1²), phi21 = phi11 - phi22·phi11;
    phi33 = (a3 - (phi21·a2 + phi22·a1)) / (1 - (phi21·a1 + phi22·a2)).
    The sample ACF terms come from LAG-window sums over the centered
    series — exactly the dot products the numpy recursion consumes, in
    the same addition order."""
    assert nlags == 3, "oracle unrolled for nlags=3"
    return f"""WITH hourly AS ({HOURLY_SQL}),
       cen AS (
         SELECT event_type, ds,
                y - AVG(y) OVER (PARTITION BY event_type) AS e
         FROM hourly),
       lagged AS (
         SELECT event_type, e,
                LAG(e, 1) OVER w AS e1,
                LAG(e, 2) OVER w AS e2,
                LAG(e, 3) OVER w AS e3
         FROM cen WINDOW w AS (PARTITION BY event_type ORDER BY ds)),
       acf AS (
         SELECT event_type, CAST(COUNT(*) AS INT) AS n_obs,
                SUM(e * e1) / SUM(e * e) AS a1,
                SUM(e * e2) / SUM(e * e) AS a2,
                SUM(e * e3) / SUM(e * e) AS a3
         FROM lagged GROUP BY 1),
       k2 AS (
         SELECT *,
                (a2 - a1 * a1) / (1 - a1 * a1) AS phi22
         FROM acf),
       k2b AS (SELECT *, a1 - phi22 * a1 AS phi21 FROM k2),
       k3 AS (
         SELECT *,
                (a3 - (phi21 * a2 + phi22 * a1))
                / (1 - (phi21 * a1 + phi22 * a2)) AS phi33
         FROM k2b)
       SELECT event_type, n_obs,
              ROUND(a1, 6) AS pacf_1,
              ROUND(phi22, 6) AS pacf_2,
              ROUND(phi33, 6) AS pacf_3
       FROM k3"""


@q("pacf_by_lag", _pacf_oracle())
def pacf_by_lag(spark, sf_dir):
    """X4 (PACF): per-series partial autocorrelations at lags 1..3 via
    Durbin-Levinson (the AR-order-identification correlogram,
    Garch_v1.ipynb cell 13). The 3-lag recursion unrolls to closed
    form, so the oracle recomputes it in SQL (_pacf_oracle); also
    pinned against a numpy lstsq AR-fit reference in
    tests/test_analytics.py."""
    return timeseries.pacf_by_group(
        hourly_series(spark, sf_dir), ["event_type"], "ds", "y", nlags=3
    )


def _ar_forecast_oracle(horizon: int = 5) -> str:
    """AR(2) + prediction intervals in closed SQL form: the OLS fit is
    the same centered 2-regressor solve as _adf_oracle (x1=lag1,
    x2=lag2, intercept recovered from the means), the recursive
    forecast and the psi-weight error stds unroll across the 5 steps
    as lateral column aliases, and z80/z95 are embedded at repr
    precision. numpy-lstsq agreement ~1e-12, inside ROUND(·, 6)."""
    from ..analytics.timeseries import Z

    z80, z95 = repr(Z[80]), repr(Z[95])
    fc = ["b0 + p1 * y1 + p2 * y2 AS fc1",
          "b0 + p1 * fc1 + p2 * y1 AS fc2"]
    for h in range(3, horizon + 1):
        fc.append(f"b0 + p1 * fc{h - 1} + p2 * fc{h - 2} AS fc{h}")
    psi = ["p1 AS psi1", "p1 * psi1 + p2 AS psi2"]
    for j in range(3, horizon):
        psi.append(f"p1 * psi{j - 1} + p2 * psi{j - 2} AS psi{j}")
    cums = ["1.0"]
    for j in range(1, horizon):
        cums.append(cums[-1] + f" + psi{j} * psi{j}")
    errs = [f"sigma * sqrt({c}) AS err{h + 1}" for h, c in enumerate(cums)]
    case = lambda tpl: " ".join(  # noqa: E731
        f"WHEN {h} THEN {tpl.format(h=h)}" for h in range(1, horizon + 1)
    )
    sep = ",\n                "
    fc_sql, psi_sql, err_sql = sep.join(fc), sep.join(psi), sep.join(errs)
    return f"""WITH hourly AS ({HOURLY_SQL}),
       d AS (
         SELECT event_type, ds, y,
                LAG(y, 1) OVER w AS x1,
                LAG(y, 2) OVER w AS x2
         FROM hourly WINDOW w AS (PARTITION BY event_type ORDER BY ds)),
       r AS (SELECT * FROM d WHERE x2 IS NOT NULL),
       s AS (
         SELECT event_type,
                CAST(COUNT(*) AS DOUBLE) AS n,
                AVG(y) AS my, AVG(x1) AS m1, AVG(x2) AS m2,
                COVAR_POP(x1, x1) * COUNT(*) AS s11,
                COVAR_POP(x2, x2) * COUNT(*) AS s22,
                COVAR_POP(x1, x2) * COUNT(*) AS s12,
                COVAR_POP(x1, y) * COUNT(*) AS s1y,
                COVAR_POP(x2, y) * COUNT(*) AS s2y,
                COVAR_POP(y, y) * COUNT(*) AS syy
         FROM r GROUP BY 1),
       tail AS (
         SELECT event_type,
                MAX(CASE WHEN rn = 1 THEN y END) AS y1,
                MAX(CASE WHEN rn = 2 THEN y END) AS y2
         FROM (SELECT event_type, y,
                      ROW_NUMBER() OVER (PARTITION BY event_type
                                         ORDER BY ds DESC) AS rn
               FROM hourly)
         WHERE rn <= 2 GROUP BY 1),
       params AS (
         SELECT s.event_type, t.y1, t.y2,
                (s1y * s22 - s2y * s12) / (s11 * s22 - s12 * s12) AS p1,
                (s11 * s2y - s12 * s1y) / (s11 * s22 - s12 * s12) AS p2,
                my - p1 * m1 - p2 * m2 AS b0,
                sqrt((syy - p1 * s1y - p2 * s2y)
                     / GREATEST(n - 3, 1)) AS sigma
         FROM s JOIN tail t USING (event_type)),
       calc AS (
         SELECT event_type,
                {fc_sql},
                {psi_sql},
                {err_sql}
         FROM params)
       SELECT event_type,
              CAST(st.step AS INT) AS step,
              ROUND(CASE st.step {case("fc{h}")} END, 6) AS yhat,
              ROUND(CASE st.step {case(f"fc{{h}} - {z80} * err{{h}}")} END, 6)
                  AS lo_80,
              ROUND(CASE st.step {case(f"fc{{h}} + {z80} * err{{h}}")} END, 6)
                  AS hi_80,
              ROUND(CASE st.step {case(f"fc{{h}} - {z95} * err{{h}}")} END, 6)
                  AS lo_95,
              ROUND(CASE st.step {case(f"fc{{h}} + {z95} * err{{h}}")} END, 6)
                  AS hi_95
       FROM calc CROSS JOIN
            (SELECT unnest(range(1, {horizon + 1})) AS step) st"""


@q("ar_forecast_intervals", _ar_forecast_oracle())
def ar_forecast_intervals(spark, sf_dir):
    """X5/X8: AR(2) 5-step forecast with 80/95% prediction intervals.
    The fit+recursion has a closed SQL form (_ar_forecast_oracle), so
    the grouped-map numpy fit is hash-checked."""
    return timeseries.ar_forecast_by_group(
        hourly_series(spark, sf_dir), ["event_type"], "ds", "y", p=2, horizon=5
    )


# oracle=lambda: the fixture-bound oracle is defined further down
@q("garch_volatility", oracle=lambda: _garch_oracle())
def garch_volatility(spark, sf_dir):
    """X6: GARCH(1,1) volatility fit on hourly pct-returns."""
    h = hourly_series(spark, sf_dir)
    w = Window.partitionBy("event_type").orderBy("ds")
    rets = (
        h.withColumn("r", (F.col("y") / F.lag("y").over(w) - 1) * 100)
        .filter(F.col("r").isNotNull())
    )
    return timeseries.garch_by_group(rets, ["event_type"], "ds", "r")


@q(
    "cv_fold_rmse",
    f"""WITH hourly AS ({HOURLY_SQL}),
       rn AS (
         SELECT event_type, ds, y,
                ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY ds) AS _rn,
                COUNT(*) OVER (PARTITION BY event_type) AS _n,
                LAG(y) OVER (PARTITION BY event_type ORDER BY ds) AS yhat
         FROM hourly),
       folds AS (
         SELECT rn.*, f.fold,
                _n - 24 - (3 - 1 - f.fold) * 24 AS cutoff
         FROM rn CROSS JOIN (SELECT UNNEST([0, 1, 2]) AS fold) f),
       scored AS (
         SELECT event_type, fold,
                SQRT(AVG((y - yhat) * (y - yhat))) AS fold_rmse
         FROM folds
         WHERE _rn > cutoff AND _rn <= cutoff + 24 AND yhat IS NOT NULL
         GROUP BY event_type, fold)
       SELECT event_type,
              ROUND(AVG(fold_rmse), 6) AS mean_rmse,
              CAST(COUNT(*) AS INT) AS n_folds
       FROM scored GROUP BY event_type""",
)
def cv_fold_rmse(spark, sf_dir):
    """X7 (scoring): per-fold naive-forecast RMSE on each rolling-origin
    test window, then the per-series mean across folds — the
    groupby(['unique_id','cutoff']).apply(rmse).groupby('unique_id')
    .mean() contract of Garch_v1 cell 26, as pure aggregates."""
    h = hourly_series(spark, sf_dir)
    w = Window.partitionBy("event_type").orderBy("ds")
    with_pred = h.withColumn("yhat", F.lag("y").over(w))
    assigned = cv.rolling_origin_assign(
        with_pred, "ds", ["event_type"], horizon=24, step_size=24, n_windows=3
    )
    scored = (
        assigned.filter((F.col("role") == "test") & F.col("yhat").isNotNull())
        .groupBy("event_type", "fold")
        .agg(F.sqrt(F.avg(F.pow(F.col("y") - F.col("yhat"), 2))).alias("fold_rmse"))
    )
    return scored.groupBy("event_type").agg(
        F.round(F.avg("fold_rmse"), 6).alias("mean_rmse"),
        F.count(F.lit(1)).cast("int").alias("n_folds"),
    )


@q("arima_order_search", oracle=lambda: _arima_order_oracle())
def arima_order_search(spark, sf_dir):
    """X5: per-series auto-ARIMA (p, d, q) selection — d by repeated
    unit-root tests, (p, q) by an AIC grid over Hannan-Rissanen
    least-squares fits (reference: garch_model_v4.ipynb cell 6
    auto_arima). Deterministic, so rows are stable across runs."""
    return timeseries.arima_order_by_group(
        hourly_series(spark, sf_dir), ["event_type"], "ds", "y",
        p_max=3, q_max=2, d_max=2,
    )


@q("garch_order_grid", oracle=lambda: _garch_order_oracle())
def garch_order_grid(spark, sf_dir):
    """X6: per-series GARCH(p, q) order chosen by AIC across
    {(1,1),(1,2),(2,1),(2,2)} (reference: test5.ipynb cell 10's
    AIC/BIC grid), on hourly pct-returns."""
    h = hourly_series(spark, sf_dir)
    w = Window.partitionBy("event_type").orderBy("ds")
    rets = (
        h.withColumn("r", (F.col("y") / F.lag("y").over(w) - 1) * 100)
        .filter(F.col("r").isNotNull())
    )
    return timeseries.garch_order_by_group(rets, ["event_type"], "ds", "r")


@q("arima_garch_residual_fit", oracle=lambda: _residual_garch_oracle())
def arima_garch_residual_fit(spark, sf_dir):
    """X6: two-stage ARIMA-GARCH — AR(2) mean model per series, then
    GARCH(1,1) on the AR residuals with the 1-step conditional sigma
    (test6.ipynb cells 0-1). Rows-only; component recovery is pinned
    in tests/test_analytics.py on synthetic AR+GARCH data."""
    return timeseries.arima_garch_residual_by_group(
        hourly_series(spark, sf_dir), ["event_type"], "ds", "y", p=2
    )


def _walk_forward_oracle(n_test: int = 48) -> str:
    """The walk-forward loop collapsed to one SQL pass: every step's
    AR(2) refit over the expanding history y[:t] is the same centered
    2-regressor solve as _ar_forecast_oracle, and its five centered
    cross-sums at step t are just the cumulative sums of the per-row
    regression terms evaluated one row earlier (ROWS ... 1 PRECEDING).
    Non-regression rows (the first two of each series, where lag-2 is
    NULL) contribute zeroed terms so the running sums skip them. The
    48 per-step forecasts then reduce to mae/rmse/mape exactly as the
    numpy loop does (lstsq-vs-normal-equations noise ~1e-12, far
    inside ROUND(·, 6)); mape skips y=0 rows like the loop's guard."""
    return f"""WITH hourly AS ({HOURLY_SQL}),
       seq AS (
         SELECT event_type, ds, y,
                ROW_NUMBER() OVER w AS rn,
                COUNT(*) OVER (PARTITION BY event_type) AS n,
                LAG(y, 1) OVER w AS x1,
                LAG(y, 2) OVER w AS x2
         FROM hourly WINDOW w AS (PARTITION BY event_type ORDER BY ds)),
       terms AS (
         SELECT *,
                CASE WHEN x2 IS NULL THEN 0 ELSE 1 END AS c,
                CASE WHEN x2 IS NULL THEN 0 ELSE x1 END AS t1,
                CASE WHEN x2 IS NULL THEN 0 ELSE x2 END AS t2,
                CASE WHEN x2 IS NULL THEN 0 ELSE y END AS ty
         FROM seq),
       cums AS (
         SELECT event_type, ds, rn, n, y, x1, x2,
                SUM(c) OVER cw AS m,
                SUM(t1) OVER cw AS sx1,
                SUM(t2) OVER cw AS sx2,
                SUM(ty) OVER cw AS sy,
                SUM(t1 * t1) OVER cw AS sx11,
                SUM(t2 * t2) OVER cw AS sx22,
                SUM(t1 * t2) OVER cw AS sx12,
                SUM(t1 * ty) OVER cw AS sx1y,
                SUM(t2 * ty) OVER cw AS sx2y
         FROM terms
         WINDOW cw AS (PARTITION BY event_type ORDER BY ds
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)),
       fit AS (
         SELECT event_type, y, x1, x2,
                sx11 - sx1 * sx1 / m AS s11,
                sx22 - sx2 * sx2 / m AS s22,
                sx12 - sx1 * sx2 / m AS s12,
                sx1y - sx1 * sy / m AS s1y,
                sx2y - sx2 * sy / m AS s2y,
                sx1 / m AS m1, sx2 / m AS m2, sy / m AS my
         FROM cums
         WHERE rn > GREATEST(4, n - {n_test})),
       pred AS (
         SELECT event_type, y,
                my - b1 * m1 - b2 * m2 + b1 * x1 + b2 * x2 AS fc
         FROM (SELECT *,
                      (s1y * s22 - s2y * s12)
                      / (s11 * s22 - s12 * s12) AS b1,
                      (s11 * s2y - s12 * s1y)
                      / (s11 * s22 - s12 * s12) AS b2
               FROM fit)),
       err AS (SELECT event_type, y, y - fc AS e FROM pred)
       SELECT event_type,
              CAST(COUNT(*) AS INT) AS n_test,
              ROUND(AVG(ABS(e)), 6) AS mae,
              ROUND(SQRT(AVG(e * e)), 6) AS rmse,
              ROUND(AVG(CASE WHEN y <> 0 THEN ABS(e / y) END), 6) AS mape
       FROM err GROUP BY 1"""


@q("ar_walk_forward_eval", _walk_forward_oracle())
def ar_walk_forward_eval(spark, sf_dir):
    """X5: iterative 1-step refit evaluation (garch_model_v4 cell 6's
    walk-forward loop) — AR(2) refit at every step over the last 48
    hours per series; per-series mae/rmse/mape. Every refit is a
    closed-form expanding-prefix OLS, so the whole loop has an exact
    one-pass SQL mirror (_walk_forward_oracle) and the grouped-map
    numpy walk is hash-checked."""
    return timeseries.walk_forward_eval_by_group(
        hourly_series(spark, sf_dir), ["event_type"], "ds", "y", p=2, n_test=48
    )


@q(
    "daily_ohlcv",
    """WITH t AS (
         SELECT event_type,
                strftime(date_trunc('day', CAST(ts AS TIMESTAMP)), '%Y-%m-%d') AS d,
                CAST(ts AS TIMESTAMP) AS tts, event_id, value
         FROM events),
       w AS (
         SELECT *,
                FIRST_VALUE(value) OVER (PARTITION BY event_type, d
                                         ORDER BY tts, event_id) AS o,
                FIRST_VALUE(value) OVER (PARTITION BY event_type, d
                                         ORDER BY tts DESC, event_id DESC) AS c
         FROM t)
       SELECT event_type, d,
              MIN(o) AS open,
              MAX(value) AS high,
              MIN(value) AS low,
              MIN(c) AS close,
              ROUND(CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE), 6) AS volume,
              COUNT(*) AS n_ticks
       FROM w GROUP BY 1, 2""",
)
def daily_ohlcv(spark, sf_dir):
    """S4/udf.py:85-99 parity: the daily OHLCV frame the reference
    fetches from yfinance, derived in-engine from the tick stream —
    open/close via min_by/max_by on the (ts, event_id) composite (the
    id breaks equal-timestamp ties deterministically), one hash
    aggregate, no window."""
    ev = load_table(spark, sf_dir, "events")
    order = F.struct("ts", "event_id")
    return ev.groupBy(
        "event_type",
        F.date_format(F.date_trunc("day", "ts"), "yyyy-MM-dd").alias("d"),
    ).agg(
        F.min_by("value", order).alias("open"),
        F.max("value").alias("high"),
        F.min("value").alias("low"),
        F.max_by("value", order).alias("close"),
        F.round(F.sum(F.col("value").cast("decimal(18,2)")).cast("double"), 6).alias(
            "volume"
        ),
        F.count(F.lit(1)).alias("n_ticks"),
    )


# --- Fixture-literal oracles for the optimizer-loop fits -------------
#
# The ARIMA/GARCH grid searches are optimizer loops SQL cannot run, so
# their fitted parameters are recomputed at oracle-build time by
# INDEPENDENT reimplementations (hand-written loops below, kept
# deliberately separate from analytics/timeseries.py — a bug there
# would not reproduce here) over per-series arrays pulled from the
# fixture with the same HOURLY_SQL the green feature oracles already
# certify, then embedded as VALUES literals. The SQL re-derives
# event_type and n_obs from the fixture and joins the literals, so a
# fixture swap or series-derivation bug still fails the hash. Each
# builder returns None without the fixture (rows-only fallback).


def _fixture_series(sf_dir: str, returns: bool):
    """Per-series (event_type, ordered array) from the fixture via
    DuckDB — hourly levels, or pct-returns when ``returns``."""
    import os

    if not os.path.exists(os.path.join(sf_dir, "events.parquet")):
        return None
    import duckdb

    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW events AS SELECT * FROM "
        f"read_parquet('{os.path.join(sf_dir, 'events.parquet')}')"
    )
    if returns:
        sql = f"""WITH hourly AS ({HOURLY_SQL}),
           ret AS (
             SELECT event_type, ds,
                    (y / LAG(y) OVER (PARTITION BY event_type ORDER BY ds)
                     - 1) * 100 AS r
             FROM hourly)
           SELECT event_type, list(r ORDER BY ds) FROM ret
           WHERE r IS NOT NULL GROUP BY 1 ORDER BY 1"""
    else:
        sql = f"""WITH hourly AS ({HOURLY_SQL})
           SELECT event_type, list(y ORDER BY ds) FROM hourly
           GROUP BY 1 ORDER BY 1"""
    series = con.execute(sql).fetchall()
    con.close()
    return series


def _indep_garch11(r):
    """Independent GARCH(1,1) grid QMLE (plain-Python filter loop vs
    the vectorized recursion in timeseries.garch11_fit). Returns
    (omega, alpha, beta, loglik, next_sigma)."""
    import math

    import numpy as np

    rc = np.asarray(r, dtype=float)
    rc = rc - rc.mean()
    var = float(rc.var()) or 1e-12
    best = None  # (ll, omega, a, b, h_last)
    for ai in range(2, 31, 2):
        a = ai / 100.0
        for bi in range(50, 97, 2):
            b = bi / 100.0
            if a + b >= 0.999:
                continue
            omega = var * (1.0 - a - b)
            h = var
            ll = -0.5 * (math.log(2 * math.pi * h) + rc[0] ** 2 / h)
            for t in range(1, len(rc)):
                h = omega + a * rc[t - 1] ** 2 + b * h
                ll += -0.5 * (math.log(2 * math.pi * h) + rc[t] ** 2 / h)
            if best is None or ll > best[0]:
                best = (ll, omega, a, b, h)
    ll, omega, a, b, h = best
    nxt = math.sqrt(omega + a * rc[-1] ** 2 + b * h)
    return omega, a, b, ll, nxt


_N_OBS_RET_SQL = f"""WITH hourly AS ({HOURLY_SQL}),
       ret AS (
         SELECT event_type,
                (y / LAG(y) OVER (PARTITION BY event_type ORDER BY ds)
                 - 1) * 100 AS r
         FROM hourly),
       n AS (SELECT event_type, CAST(COUNT(*) AS INT) AS n_obs
             FROM ret WHERE r IS NOT NULL GROUP BY 1)"""

_N_OBS_LVL_SQL = f"""WITH hourly AS ({HOURLY_SQL}),
       n AS (SELECT event_type, CAST(COUNT(*) AS INT) AS n_obs
             FROM hourly GROUP BY 1)"""


def _sim_sf_dir() -> str:
    import os

    return os.environ.get("SPARK_GRAFT_SIM_SF_DIR", "/root/testdata/sf0.01")


def _garch_oracle() -> str | None:
    """X6 GARCH(1,1) fit: independent grid QMLE literals + SQL-derived
    n_obs (see block comment above)."""
    series = _fixture_series(_sim_sf_dir(), returns=True)
    if series is None:
        return None
    rows = []
    for et, r in series:
        omega, a, b, ll, nxt = _indep_garch11(r)
        rows.append(
            f"('{et}', {round(omega, 8)!r}, {round(a, 4)!r}, "
            f"{round(b, 4)!r}, {round(ll, 4)!r}, {round(nxt, 6)!r})"
        )
    vals = ",\n              ".join(rows)
    return f"""{_N_OBS_RET_SQL},
       p AS (SELECT * FROM (VALUES {vals})
             AS t(event_type, omega, alpha, beta, loglik, next_sigma))
       SELECT n.event_type, n.n_obs,
              CAST(omega AS DOUBLE) AS omega,
              CAST(alpha AS DOUBLE) AS alpha,
              CAST(beta AS DOUBLE) AS beta,
              CAST(loglik AS DOUBLE) AS loglik,
              CAST(next_sigma AS DOUBLE) AS next_sigma
       FROM n JOIN p USING (event_type)"""


def _ar2_normal_eq(y):
    """AR(2)+intercept by centered normal equations (the same closed
    form the green _ar_forecast_oracle uses in SQL) — independent of
    timeseries._ols's lstsq. Returns (b0, phi1, phi2, resid list)."""
    n = len(y)
    rows = [(y[i], y[i - 1], y[i - 2]) for i in range(2, n)]
    m = len(rows)
    my = sum(r[0] for r in rows) / m
    m1 = sum(r[1] for r in rows) / m
    m2 = sum(r[2] for r in rows) / m
    s11 = sum((r[1] - m1) ** 2 for r in rows)
    s22 = sum((r[2] - m2) ** 2 for r in rows)
    s12 = sum((r[1] - m1) * (r[2] - m2) for r in rows)
    s1y = sum((r[1] - m1) * (r[0] - my) for r in rows)
    s2y = sum((r[2] - m2) * (r[0] - my) for r in rows)
    det = s11 * s22 - s12 * s12
    p1 = (s1y * s22 - s2y * s12) / det
    p2 = (s11 * s2y - s12 * s1y) / det
    b0 = my - p1 * m1 - p2 * m2
    resid = [r[0] - (b0 + p1 * r[1] + p2 * r[2]) for r in rows]
    return b0, p1, p2, resid


def _residual_garch_oracle() -> str | None:
    """X6 two-stage ARIMA-GARCH: AR(2) by independent normal-equation
    solve, then the independent GARCH(1,1) grid on the residuals."""
    series = _fixture_series(_sim_sf_dir(), returns=False)
    if series is None:
        return None
    rows = []
    for et, y in series:
        b0, p1, p2, resid = _ar2_normal_eq([float(v) for v in y])
        mu = sum(resid) / len(resid)
        rvar = sum((e - mu) ** 2 for e in resid) / len(resid)
        omega, a, b, _ll, nxt = _indep_garch11(resid)
        rows.append(
            f"('{et}', {round(b0, 6)!r}, {round(p1, 6)!r}, "
            f"{round(p2, 6)!r}, {round(rvar, 8)!r}, {round(omega, 8)!r}, "
            f"{round(a, 4)!r}, {round(b, 4)!r}, {round(nxt, 6)!r})"
        )
    vals = ",\n              ".join(rows)
    return f"""{_N_OBS_LVL_SQL},
       p AS (SELECT * FROM (VALUES {vals})
             AS t(event_type, ar_intercept, ar_phi_1, ar_phi_2,
                  resid_var, omega, alpha, beta, next_sigma))
       SELECT n.event_type, n.n_obs,
              CAST(ar_intercept AS DOUBLE) AS ar_intercept,
              CAST(ar_phi_1 AS DOUBLE) AS ar_phi_1,
              CAST(ar_phi_2 AS DOUBLE) AS ar_phi_2,
              CAST(resid_var AS DOUBLE) AS resid_var,
              CAST(omega AS DOUBLE) AS omega,
              CAST(alpha AS DOUBLE) AS alpha,
              CAST(beta AS DOUBLE) AS beta,
              CAST(next_sigma AS DOUBLE) AS next_sigma
       FROM n JOIN p USING (event_type)"""


def _indep_garch_pq(r, p, q):
    """Independent GARCH(p, q) grid QMLE (scalar recursion per combo,
    vs timeseries.garch_pq_fit's grid-vectorized buffers). Returns
    (loglik, k) of the best combo."""
    import math
    from itertools import product as _product

    import numpy as np

    alpha_choices = (0.02, 0.05, 0.08, 0.10, 0.13, 0.17, 0.22)
    beta_choices = (0.20, 0.35, 0.50, 0.65, 0.75, 0.82, 0.88, 0.93)
    rc = np.asarray(r, dtype=float)
    rc = rc - rc.mean()
    var = float(rc.var()) or 1e-12
    r2 = [float(v) * float(v) for v in rc]
    n = len(r2)
    best_ll = None
    for A in _product(alpha_choices, repeat=p):
        for B in _product(beta_choices, repeat=q):
            if sum(A) + sum(B) >= 0.999:
                continue
            omega = var * (1.0 - sum(A) - sum(B))
            hist = [var] * q  # h_{t-1}, h_{t-2}, ... newest first
            ll = 0.0
            for t in range(n):
                if t == 0:
                    h = var
                else:
                    h = omega
                    for i in range(p):
                        h += A[i] * (r2[t - 1 - i] if t - 1 - i >= 0 else var)
                    for j in range(q):
                        h += B[j] * hist[j]
                ll += -0.5 * (math.log(2 * math.pi * h) + r2[t] / h)
                if q:
                    hist = [h] + hist[:-1]
            if best_ll is None or ll > best_ll:
                best_ll = ll
    return best_ll, p + q + 1


def _garch_order_oracle() -> str | None:
    """X6 GARCH(p, q) order selection: AIC = 2k - 2*loglik over the
    {(1,1),(1,2),(2,1),(2,2)} candidates, each fit by the independent
    per-combo grid; ties toward smaller (p+q, p) as in the operator."""
    series = _fixture_series(_sim_sf_dir(), returns=True)
    if series is None:
        return None
    rows = []
    for et, r in series:
        best = None  # (aic, p, q, ll)
        for p, q in ((1, 1), (1, 2), (2, 1), (2, 2)):
            ll, k = _indep_garch_pq(r, p, q)
            if ll is None:
                continue
            aic = 2.0 * k - 2.0 * ll
            if best is None or (round(aic, 10), p + q, p) < (
                round(best[0], 10), best[1] + best[2], best[1],
            ):
                best = (aic, p, q, ll)
        aic, p, q, ll = best
        rows.append(
            f"('{et}', {p}, {q}, {round(aic, 4)!r}, {round(ll, 4)!r})"
        )
    vals = ",\n              ".join(rows)
    return f"""{_N_OBS_RET_SQL},
       p AS (SELECT * FROM (VALUES {vals})
             AS t(event_type, p, q, aic, loglik))
       SELECT n.event_type, n.n_obs,
              CAST(p AS INT) AS p, CAST(q AS INT) AS q,
              CAST(aic AS DOUBLE) AS aic,
              CAST(loglik AS DOUBLE) AS loglik
       FROM n JOIN p USING (event_type)"""


def _gauss_inverse(M):
    """Gauss-Jordan inverse of a small symmetric matrix (lists of
    lists) with partial pivoting — the independent stand-in for
    numpy's lstsq/pinv in the literal-oracle replays."""
    k = len(M)
    a = [row[:] + [1.0 if i == j else 0.0 for j in range(k)]
         for i, row in enumerate(M)]
    for col in range(k):
        piv = max(range(col, k), key=lambda r: abs(a[r][col]))
        a[col], a[piv] = a[piv], a[col]
        d = a[col][col]
        a[col] = [v / d for v in a[col]]
        for r in range(k):
            if r != col and a[r][col] != 0.0:
                f = a[r][col]
                a[r] = [v - f * w for v, w in zip(a[r], a[col])]
    return [row[k:] for row in a]


def _indep_ols(X, y):
    """OLS via normal equations + Gauss-Jordan: returns (beta, resid,
    xtx_inv diagonal)."""
    k = len(X[0])
    xtx = [[sum(r[i] * r[j] for r in X) for j in range(k)] for i in range(k)]
    xty = [sum(r[i] * v for r, v in zip(X, y)) for i in range(k)]
    inv = _gauss_inverse(xtx)
    beta = [sum(inv[i][j] * xty[j] for j in range(k)) for i in range(k)]
    resid = [v - sum(b * x for b, x in zip(beta, r)) for r, v in zip(X, y)]
    return beta, resid, [inv[i][i] for i in range(k)]


def _indep_adf_t(y, max_lag: int = 1):
    """Constant-only augmented DF t-stat, mirroring timeseries.adf_stat
    with the independent solver."""
    import math

    dy = [y[i + 1] - y[i] for i in range(len(y) - 1)]
    k = max_lag
    rows = len(dy) - k
    X = [
        [1.0, y[k + t]] + [dy[k + t - i] for i in range(1, k + 1)]
        for t in range(rows)
    ]
    yy = dy[k:]
    beta, resid, diag = _indep_ols(X, yy)
    dof = max(rows - len(X[0]), 1)
    sigma2 = sum(e * e for e in resid) / dof
    se1 = math.sqrt(max(diag[1] * sigma2, 0.0))
    return (beta[1] / se1 if se1 > 0 else float("nan")), rows


def _indep_arima_search(y, p_max=3, q_max=2, d_max=2):
    """Mirror of timeseries.arima_order_search (choose_d by repeated
    ADF + Hannan-Rissanen AIC grid) on the independent solver."""
    import math

    # d selection
    d_sel = d_max
    for d in range(d_max + 1):
        w = y[:]
        for _ in range(d):
            w = [w[i + 1] - w[i] for i in range(len(w) - 1)]
        if len(w) < 1 + 8:
            break
        t, _ = _indep_adf_t(w, 1)
        if math.isfinite(t) and t < -2.86:
            d_sel = d
            break
    else:
        d_sel = d_max
    d = d_sel
    w = y[:]
    for _ in range(d):
        w = [w[i + 1] - w[i] for i in range(len(w) - 1)]

    def hr_fit(w, p, q):
        n = len(w)
        if q == 0:
            if p == 0:
                mu = sum(w) / n
                resid = [v - mu for v in w]
                return sum(e * e for e in resid) / max(n, 1), n
            X = [[1.0] + [w[t - i - 1] for i in range(p)]
                 for t in range(p, n)]
            _, resid, _ = _indep_ols(X, w[p:])
            return sum(e * e for e in resid) / max(len(resid), 1), len(resid)
        m = min(max(2 * (p + q), 4), max(n // 4, p + q + 1))
        Xm = [[1.0] + [w[t - i - 1] for i in range(m)] for t in range(m, n)]
        bm, rm, _ = _indep_ols(Xm, w[m:])
        e = [0.0] * m + rm
        t0 = m + max(p, q)
        X = [
            [1.0]
            + [w[t - i - 1] for i in range(p)]
            + [e[t - j - 1] for j in range(q)]
            for t in range(t0, n)
        ]
        _, resid, _ = _indep_ols(X, w[t0:])
        return sum(ee * ee for ee in resid) / max(len(resid), 1), len(resid)

    best = None  # (aic, p, q, sigma2)
    for p in range(p_max + 1):
        for q in range(q_max + 1):
            if len(w) < (p + q) * 4 + 12:
                continue
            try:
                sigma2, n_eff = hr_fit(w, p, q)
            except ZeroDivisionError:
                continue
            if not math.isfinite(sigma2) or sigma2 <= 0:
                continue
            aic = n_eff * math.log(sigma2) + 2.0 * (p + q + 1)
            if best is None or (round(aic, 10), p + q, p) < (
                round(best[0], 10), best[1] + best[2], best[1],
            ):
                best = (aic, p, q, sigma2)
    if best is None:
        return 0, d, 0, None, None
    return best[1], d, best[2], best[0], best[3]


def _arima_order_oracle() -> str | None:
    """X5 auto-ARIMA order selection: unit-root d + Hannan-Rissanen
    AIC grid recomputed by the independent solver, literal-joined to
    the SQL-derived series counts."""
    series = _fixture_series(_sim_sf_dir(), returns=False)
    if series is None:
        return None
    rows = []
    for et, y in series:
        p, d, q, aic, sigma2 = _indep_arima_search([float(v) for v in y])
        aic_s = "NULL" if aic is None else repr(round(aic, 4))
        s2_s = "NULL" if sigma2 is None else repr(round(sigma2, 8))
        rows.append(f"('{et}', {p}, {d}, {q}, {aic_s}, {s2_s})")
    vals = ",\n              ".join(rows)
    return f"""{_N_OBS_LVL_SQL},
       p AS (SELECT * FROM (VALUES {vals})
             AS t(event_type, p, d, q, aic, sigma2))
       SELECT n.event_type, n.n_obs,
              CAST(p AS INT) AS p, CAST(d AS INT) AS d, CAST(q AS INT) AS q,
              CAST(aic AS DOUBLE) AS aic,
              CAST(sigma2 AS DOUBLE) AS sigma2
       FROM n JOIN p USING (event_type)"""
