"""Hypothesis-testing and robust-inference operators (round 8).

Extends the statistical-test surface the reference's notebooks use for
model validation (Ljung-Box / ARCH-LM / ADF in `Jupiter Notebook/
test5.ipynb`, `Garch_v1.ipynb` cells 7-15) to the canonical
distribution-comparison and inference tests a monitoring pipeline
runs over the same lakehouse: normality (Jarque-Bera), k-sample
location (Kruskal-Wallis), variance homogeneity (Brown-Forsythe),
association strength (Cramér's V), outlier screening (max studentized
deviate), serial correlation (Durbin-Watson), and a DISTRIBUTED
bootstrap (Poisson resampling — the one-pass bootstrap used at scale,
where classic with-replacement resampling is a shuffle per replicate).

Determinism rules (repo conventions): rank statistics are carried in
exact integers with average-rank ties via the doubled-rank identity
(same topology as ``mann_whitney_u``); decision flags compare
statistics that both engines derive from identical integers through
identically-written expressions; float outputs are rounded
magnitude-aware (tools/lint_round_precision.py budget).
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from ..catalog import load_table
from . import registry

QUERIES, ORACLES, q = registry.module()


@q(
    "jarque_bera_normality",
    """SELECT event_type,
              CAST(COUNT(*) AS BIGINT) AS n,
              ROUND(skewness(value) * (COUNT(value) - 2)
                    / sqrt(COUNT(value) * (COUNT(value) - 1.0)), 4) AS g1,
              ROUND(kurtosis_pop(value), 4) AS g2,
              ROUND(COUNT(*) / 6.0
                    * (POW(skewness(value) * (COUNT(value) - 2)
                           / sqrt(COUNT(value) * (COUNT(value) - 1.0)), 2)
                       + POW(kurtosis_pop(value), 2) / 4.0), 2) AS jb,
              CAST(CASE WHEN COUNT(*) / 6.0
                    * (POW(skewness(value) * (COUNT(value) - 2)
                           / sqrt(COUNT(value) * (COUNT(value) - 1.0)), 2)
                       + POW(kurtosis_pop(value), 2) / 4.0) > 5.991
                   THEN 1 ELSE 0 END AS INT) AS reject_normal_05
       FROM events GROUP BY 1""",
)
def jarque_bera_normality(spark, sf_dir):
    """Jarque-Bera normality test per series: JB = n/6·(g1² + g2²/4)
    on population skewness g1 and EXCESS kurtosis g2, vs the χ²(2) 5 %
    critical value 5.991. Single-pass JVM moment aggregates (the same
    definitional bridge stats_moments_by_type pins: Spark's
    skewness/kurtosis are the population forms, DuckDB's sample
    skewness converts by (n-2)/√(n(n-1))). The value distribution is
    a right-skewed positive mix, so JB lands orders of magnitude past
    the boundary — the flag cannot flip on an ulp."""
    ev = load_table(spark, sf_dir, "events")
    g1 = F.skewness("value")
    g2 = F.kurtosis("value")
    n = F.count(F.lit(1))
    jb = n / 6.0 * (F.pow(g1, 2) + F.pow(g2, 2) / 4.0)
    return ev.groupBy("event_type").agg(
        n.cast("long").alias("n"),
        F.round(g1, 4).alias("g1"),
        F.round(g2, 4).alias("g2"),
        F.round(jb, 2).alias("jb"),
        (jb > 5.991).cast("int").alias("reject_normal_05"),
    )


@q(
    "kruskal_wallis_value_by_type",
    """WITH per_val AS (
         SELECT value, event_type, COUNT(*) AS k
         FROM events GROUP BY 1, 2),
       pooled AS (
         SELECT value, SUM(k) AS c FROM per_val GROUP BY 1),
       ranked AS (
         SELECT value, c,
                COALESCE(SUM(c) OVER (ORDER BY value
                                      ROWS BETWEEN UNBOUNDED PRECEDING
                                      AND 1 PRECEDING), 0) AS prior
         FROM pooled),
       grp AS (
         -- doubled rank sum per group with average-rank ties:
         -- a tie block after `prior` rows of size c contributes
         -- k * (2*(prior+1) + c - 1) to 2*R_g  (all integers)
         SELECT p.event_type,
                SUM(p.k) AS n_g,
                SUM(p.k * (2 * (r.prior + 1) + r.c - 1)) AS r2_g
         FROM per_val p JOIN ranked r ON p.value = r.value
         GROUP BY 1),
       ties AS (
         SELECT SUM(CAST(c AS HUGEINT) * c * c - c) AS tie_cubes
         FROM pooled),
       tot AS (SELECT SUM(n_g) AS n FROM grp),
       h AS (
         SELECT (12.0 / (n * (n + 1.0)))
                  * SUM(CAST(r2_g AS DOUBLE) * r2_g / (4.0 * n_g))
                  - 3.0 * (n + 1.0) AS h_raw,
                1.0 - CAST(tie_cubes AS DOUBLE)
                      / (CAST(n AS DOUBLE) * n * n - n) AS c_tie,
                CAST(n AS BIGINT) AS n,
                CAST(COUNT(*) AS INT) AS k_groups
         FROM grp CROSS JOIN tot CROSS JOIN ties
         GROUP BY n, tie_cubes)
       SELECT n, k_groups,
              ROUND(h_raw, 4) AS h,
              ROUND(h_raw / c_tie, 4) AS h_tie_corrected,
              CAST(CASE WHEN h_raw / c_tie > 9.4877 THEN 1 ELSE 0
                   END AS INT) AS reject_05
       FROM h""",
)
def kruskal_wallis_value_by_type(spark, sf_dir):
    """Kruskal-Wallis k-sample rank test — 'do the five event types
    draw value from the same distribution?' Rank sums are carried in
    exact DOUBLED integers with average-rank ties (the mann_whitney_u
    identity generalized to k groups), the tie correction
    C = 1 − Σ(t³−t)/(N³−N) in exact integers, and H only becomes a
    double in the final identically-written expression — so the flag
    vs χ²(4)'s 9.4877 agrees across engines. The pooled cumulative
    window runs over DISTINCT values (bounded by value cardinality;
    pre-bin at 100 TB, as for ks_two_sample)."""
    ev = load_table(spark, sf_dir, "events")
    per_val = ev.groupBy("value", "event_type").agg(
        F.count(F.lit(1)).alias("k")
    )
    pooled = per_val.groupBy("value").agg(F.sum("k").alias("c"))
    # bounded-grain: distinct-value grain after groupBy (pre-binned at
    # 100 TB per the docstring), not event rows
    w = Window.orderBy("value").rowsBetween(Window.unboundedPreceding, -1)
    ranked = pooled.select(
        "value", "c", F.coalesce(F.sum("c").over(w), F.lit(0)).alias("prior")
    )
    grp = (
        per_val.join(ranked, "value")
        .groupBy("event_type")
        .agg(
            F.sum("k").alias("n_g"),
            F.sum(
                F.col("k") * (2 * (F.col("prior") + 1) + F.col("c") - 1)
            ).alias("r2_g"),
        )
    )
    dec = "decimal(38,0)"
    ties = pooled.agg(
        F.sum(
            F.col("c").cast(dec) * F.col("c") * F.col("c") - F.col("c")
        ).alias("tie_cubes")
    )
    tot = grp.agg(F.sum("n_g").alias("n"))
    h = (
        grp.join(F.broadcast(tot))
        .join(F.broadcast(ties))
        .groupBy("n", "tie_cubes")
        .agg(
            (
                (12.0 / (F.col("n") * (F.col("n") + 1.0)))
                * F.sum(
                    F.col("r2_g").cast("double")
                    * F.col("r2_g")
                    / (4.0 * F.col("n_g"))
                )
                - 3.0 * (F.col("n") + 1.0)
            ).alias("h_raw"),
            F.count(F.lit(1)).cast("int").alias("k_groups"),
        )
        .withColumn(
            "c_tie",
            1.0
            - F.col("tie_cubes").cast("double")
            / (
                F.col("n").cast("double") * F.col("n") * F.col("n")
                - F.col("n")
            ),
        )
    )
    return h.select(
        F.col("n").cast("long").alias("n"),
        "k_groups",
        F.round("h_raw", 4).alias("h"),
        F.round(F.col("h_raw") / F.col("c_tie"), 4).alias("h_tie_corrected"),
        (F.col("h_raw") / F.col("c_tie") > 9.4877)
        .cast("int")
        .alias("reject_05"),
    )


@q(
    "brown_forsythe_variance_test",
    """WITH med AS (
         SELECT event_type, quantile_cont(value, 0.5) AS med
         FROM events GROUP BY 1),
       z AS (
         SELECT e.event_type, ABS(e.value - m.med) AS z
         FROM events e JOIN med m ON e.event_type = m.event_type),
       g AS (
         SELECT event_type, COUNT(*) AS n_g, AVG(z) AS zbar_g,
                SUM(z * z) AS zsq_g, SUM(z) AS zsum_g
         FROM z GROUP BY 1),
       tot AS (
         SELECT SUM(n_g) AS n, CAST(COUNT(*) AS INT) AS k,
                SUM(zsum_g) / SUM(n_g) AS zbar
         FROM g),
       w AS (
         SELECT n, k,
                (n - k) * SUM(n_g * (zbar_g - zbar) * (zbar_g - zbar))
                  / ((k - 1) * SUM(zsq_g - n_g * zbar_g * zbar_g)) AS w_stat
         FROM g CROSS JOIN tot GROUP BY n, k)
       SELECT CAST(n AS BIGINT) AS n, k,
              ROUND(w_stat, 4) AS w_stat,
              CAST(CASE WHEN w_stat > 2.372 THEN 1 ELSE 0 END AS INT)
                AS reject_equal_var_05
       FROM w""",
)
def brown_forsythe_variance_test(spark, sf_dir):
    """Brown-Forsythe test (Levene with group MEDIANS — the
    robust-to-skew form) for variance homogeneity across event types:
    W = ((N−k)/(k−1)) · Σn_g(z̄_g − z̄)² / ΣΣ(z − z̄_g)² on
    z = |value − median_g|, vs F(4, ∞)'s 5 % value 2.372. Medians are
    exact interpolated selections (no summation → no cross-engine
    order hazard); the within-group sum of squares uses the
    Σz² − n·z̄² identity so both engines fold the same three
    aggregates. Two scans (medians broadcast back), no row explosion."""
    ev = load_table(spark, sf_dir, "events")
    med = ev.groupBy("event_type").agg(
        F.expr("percentile(value, 0.5)").alias("med")
    )
    z = ev.join(F.broadcast(med), "event_type").select(
        "event_type", F.abs(F.col("value") - F.col("med")).alias("z")
    )
    g = z.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_g"),
        F.avg("z").alias("zbar_g"),
        F.sum(F.col("z") * F.col("z")).alias("zsq_g"),
        F.sum("z").alias("zsum_g"),
    )
    tot = g.agg(
        F.sum("n_g").alias("n"),
        F.count(F.lit(1)).cast("int").alias("k"),
        (F.sum("zsum_g") / F.sum("n_g")).alias("zbar"),
    )
    w = (
        g.join(F.broadcast(tot))
        .groupBy("n", "k")
        .agg(
            (
                (F.col("n") - F.col("k"))
                * F.sum(
                    F.col("n_g")
                    * (F.col("zbar_g") - F.col("zbar"))
                    * (F.col("zbar_g") - F.col("zbar"))
                )
                / (
                    (F.col("k") - 1)
                    * F.sum(
                        F.col("zsq_g")
                        - F.col("n_g") * F.col("zbar_g") * F.col("zbar_g")
                    )
                )
            ).alias("w_stat")
        )
    )
    return w.select(
        F.col("n").cast("long").alias("n"),
        "k",
        F.round("w_stat", 4).alias("w_stat"),
        (F.col("w_stat") > 2.372).cast("int").alias("reject_equal_var_05"),
    )


_CRAMER_DIMS_SQL = """
         SELECT 'type_x_dow' AS dims, event_type AS a,
                CAST(dayofweek(ts) AS VARCHAR) AS b FROM events
         UNION ALL
         SELECT 'type_x_hour6', event_type,
                CAST(CAST(FLOOR(hour(ts) / 6) AS INT) AS VARCHAR) FROM events
         UNION ALL
         SELECT 'dow_x_hour6', CAST(dayofweek(ts) AS VARCHAR),
                CAST(CAST(FLOOR(hour(ts) / 6) AS INT) AS VARCHAR) FROM events
"""


@q(
    "cramers_v_matrix",
    f"""WITH pairs AS ({_CRAMER_DIMS_SQL}),
       obs AS (SELECT dims, a, b, COUNT(*) AS o FROM pairs GROUP BY 1, 2, 3),
       tot AS (
         SELECT dims, a, b, o,
                SUM(o) OVER (PARTITION BY dims, a) AS row_tot,
                SUM(o) OVER (PARTITION BY dims, b) AS col_tot,
                SUM(o) OVER (PARTITION BY dims) AS n
         FROM obs),
       chi AS (
         SELECT dims,
                SUM((o - row_tot * col_tot / CAST(n AS DOUBLE))
                    * (o - row_tot * col_tot / CAST(n AS DOUBLE))
                    / (row_tot * col_tot / CAST(n AS DOUBLE))) AS chi2,
                MAX(n) AS n,
                COUNT(DISTINCT a) AS r,
                COUNT(DISTINCT b) AS c
         FROM tot GROUP BY 1)
       SELECT dims,
              CAST(n AS BIGINT) AS n,
              CAST((r - 1) * (c - 1) AS INT) AS df,
              ROUND(chi2, 4) AS chi2,
              ROUND(SQRT(chi2 / (n * (LEAST(r, c) - 1.0))), 4)
                AS cramers_v
       FROM chi""",
)
def cramers_v_matrix(spark, sf_dir):
    """Association-strength matrix: Cramér's V = √(χ²/(N·(min(r,c)−1)))
    for three dimension pairs of the event stream (type×dow,
    type×6h-block, dow×6h-block) — the normalized effect size the
    single chi_square_type_dow statistic lacks, comparable across
    tables of different shape. One union scan to contingency cells,
    window sums over the few cells, 3 rows out. The hour/dow
    derivations group only (never emitted raw), so engine weekday
    conventions cannot leak into values."""
    ev = load_table(spark, sf_dir, "events")

    def dims(tag, a, b):
        return ev.select(
            F.lit(tag).alias("dims"),
            a.cast("string").alias("a"),
            b.cast("string").alias("b"),
        )

    pairs = (
        dims("type_x_dow", F.col("event_type"), F.dayofweek("ts"))
        .unionByName(
            dims(
                "type_x_hour6",
                F.col("event_type"),
                (F.hour("ts") / 6).cast("int"),
            )
        )
        .unionByName(
            dims(
                "dow_x_hour6",
                F.dayofweek("ts"),
                (F.hour("ts") / 6).cast("int"),
            )
        )
    )
    obs = pairs.groupBy("dims", "a", "b").agg(F.count(F.lit(1)).alias("o"))
    wr = Window.partitionBy("dims", "a")
    wc = Window.partitionBy("dims", "b")
    wd = Window.partitionBy("dims")
    e = F.col("row_tot") * F.col("col_tot") / F.col("n").cast("double")
    tot = obs.select(
        "dims",
        "a",
        "b",
        "o",
        F.sum("o").over(wr).alias("row_tot"),
        F.sum("o").over(wc).alias("col_tot"),
        F.sum("o").over(wd).alias("n"),
    )
    chi = tot.groupBy("dims").agg(
        F.sum((F.col("o") - e) * (F.col("o") - e) / e).alias("chi2"),
        F.max("n").alias("n"),
        F.countDistinct("a").alias("r"),
        F.countDistinct("b").alias("c"),
    )
    return chi.select(
        "dims",
        F.col("n").cast("long").alias("n"),
        ((F.col("r") - 1) * (F.col("c") - 1)).cast("int").alias("df"),
        F.round("chi2", 4).alias("chi2"),
        F.round(
            F.sqrt(
                F.col("chi2") / (F.col("n") * (F.least("r", "c") - F.lit(1.0)))
            ),
            4,
        ).alias("cramers_v"),
    )


@q(
    "grubbs_max_deviate",
    """SELECT event_type,
              CAST(COUNT(*) AS BIGINT) AS n,
              ROUND(MAX(ABS(value - avg_v)) / sd_v, 4) AS g_stat,
              CAST(SUM(CASE WHEN ABS(value - avg_v) > 3 * sd_v
                            THEN 1 ELSE 0 END) AS BIGINT) AS n_beyond_3sd,
              ROUND(100.0 * SUM(CASE WHEN ABS(value - avg_v) > 3 * sd_v
                                     THEN 1 ELSE 0 END) / COUNT(*), 4)
                AS pct_beyond_3sd
       FROM (SELECT event_type, value,
                    AVG(value) OVER (PARTITION BY event_type) AS avg_v,
                    stddev_samp(value) OVER (PARTITION BY event_type) AS sd_v
             FROM events)
       GROUP BY event_type, sd_v""",
)
def grubbs_max_deviate(spark, sf_dir):
    """Outlier screening per series: the max studentized deviate
    G = max|x−x̄|/s (Grubbs' statistic) plus the 3σ exceedance count
    and share — the triage report before any fit. One window pass for
    the group moments (broadcast-sized per partition), one aggregate;
    never a sort. The z-threshold count is integer; G rounds at 4 dp
    on a ~5-magnitude statistic."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("event_type")
    z = ev.select(
        "event_type",
        "value",
        F.avg("value").over(w).alias("avg_v"),
        F.stddev_samp("value").over(w).alias("sd_v"),
    )
    return z.groupBy("event_type", "sd_v").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.round(
            F.max(F.abs(F.col("value") - F.col("avg_v"))) / F.col("sd_v"), 4
        ).alias("g_stat"),
        F.sum(
            (F.abs(F.col("value") - F.col("avg_v")) > 3 * F.col("sd_v"))
            .cast("int")
        )
        .cast("long")
        .alias("n_beyond_3sd"),
        F.round(
            100.0
            * F.sum(
                (F.abs(F.col("value") - F.col("avg_v")) > 3 * F.col("sd_v"))
                .cast("int")
            )
            / F.count(F.lit(1)),
            4,
        ).alias("pct_beyond_3sd"),
    ).drop("sd_v")


@q(
    "durbin_watson_daily",
    """WITH daily AS (
         SELECT event_type, CAST(ts AS DATE) AS d,
                CAST(SUM(CAST(value AS DECIMAL(18, 6))) AS DOUBLE) AS y
         FROM events GROUP BY 1, 2),
       idx AS (
         SELECT event_type, y,
                CAST(ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY d)
                     AS DOUBLE) AS i
         FROM daily),
       fit AS (
         SELECT event_type,
                REGR_SLOPE(y, i) AS b, REGR_INTERCEPT(y, i) AS a
         FROM idx GROUP BY 1),
       resid AS (
         SELECT x.event_type,
                x.y - (f.a + f.b * x.i) AS e,
                LAG(x.y - (f.a + f.b * x.i))
                  OVER (PARTITION BY x.event_type ORDER BY x.i) AS e1
         FROM idx x JOIN fit f ON x.event_type = f.event_type)
       SELECT event_type,
              CAST(COUNT(*) AS BIGINT) AS n_days,
              ROUND(SUM(CASE WHEN e1 IS NULL THEN 0
                             ELSE (e - e1) * (e - e1) END)
                    / SUM(e * e), 4) AS dw,
              CAST(CASE WHEN SUM(CASE WHEN e1 IS NULL THEN 0
                                      ELSE (e - e1) * (e - e1) END)
                             / SUM(e * e) < 1.5 THEN 1 ELSE 0 END AS INT)
                AS positive_autocorr_flag
       FROM resid GROUP BY 1""",
)
def durbin_watson_daily(spark, sf_dir):
    """Durbin-Watson serial-correlation statistic on detrended daily
    volume per series: residuals from the least-squares line (regr
    slope/intercept — identical closed forms both engines), then
    DW = Σ(e_t − e_{t−1})²/Σe_t² (≈2 none, <1.5 flagged positive).
    Daily sums accumulate in DECIMAL (order-independent) before any
    float math — the dow_seasonality lesson applied from the start;
    DW itself is scale-free at 4 dp."""
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy("event_type", F.to_date("ts").alias("d")).agg(
        F.sum(F.col("value").cast("decimal(18,6)")).cast("double").alias("y")
    )
    wrow = Window.partitionBy("event_type").orderBy("d")
    idx = daily.select(
        "event_type",
        "y",
        F.row_number().over(wrow).cast("double").alias("i"),
    )
    fit = idx.groupBy("event_type").agg(
        F.regr_slope("y", "i").alias("b"),
        F.regr_intercept("y", "i").alias("a"),
    )
    wlag = Window.partitionBy("event_type").orderBy("i")
    e = F.col("y") - (F.col("a") + F.col("b") * F.col("i"))
    resid = idx.join(fit, "event_type").select(
        "event_type",
        e.alias("e"),
        F.lag(e).over(wlag).alias("e1"),
    )
    num = F.sum(
        F.when(F.col("e1").isNull(), 0.0).otherwise(
            (F.col("e") - F.col("e1")) * (F.col("e") - F.col("e1"))
        )
    )
    den = F.sum(F.col("e") * F.col("e"))
    return resid.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_days"),
        F.round(num / den, 4).alias("dw"),
        (num / den < 1.5).cast("int").alias("positive_autocorr_flag"),
    )


# Poisson(1) inverse-CDF thresholds scaled to 1e6 (cumulative pmf:
# e^-1 * {1, 2, 2.5, 2.6667, 2.7083, 2.7167}).
_POIS = (367879, 735759, 919699, 981012, 996340, 999406)
_B = 40  # bootstrap replicates


def _pois_w_sql(u: str) -> str:
    return (
        f"CASE WHEN {u} < {_POIS[0]} THEN 0 WHEN {u} < {_POIS[1]} THEN 1 "
        f"WHEN {u} < {_POIS[2]} THEN 2 WHEN {u} < {_POIS[3]} THEN 3 "
        f"WHEN {u} < {_POIS[4]} THEN 4 WHEN {u} < {_POIS[5]} THEN 5 "
        "ELSE 6 END"
    )


@q(
    "poisson_bootstrap_mean_ci",
    f"""WITH reps AS (SELECT UNNEST(RANGE({_B})) AS b),
       weighted AS (
         SELECT e.event_type, r.b,
                {_pois_w_sql("('0x' || substr(md5(CAST(e.event_id AS VARCHAR) || ':' || CAST(r.b AS VARCHAR)), 1, 6))::BIGINT % 1000000")} AS w,
                e.value
         FROM events e CROSS JOIN reps r),
       rep_means AS (
         SELECT event_type, b, SUM(w * value) / SUM(w) AS m
         FROM weighted GROUP BY 1, 2 HAVING SUM(w) > 0),
       ci AS (
         SELECT event_type,
                quantile_disc(m, 0.025) AS lo,
                quantile_disc(m, 0.975) AS hi,
                CAST(COUNT(*) AS INT) AS n_reps
         FROM rep_means GROUP BY 1),
       pt AS (SELECT event_type, AVG(value) AS mean_v,
                     CAST(COUNT(*) AS BIGINT) AS n
              FROM events GROUP BY 1)
       SELECT p.event_type, p.n, ROUND(p.mean_v, 4) AS mean_v,
              ROUND(c.lo, 4) AS boot_lo_95,
              ROUND(c.hi, 4) AS boot_hi_95,
              ROUND((c.hi - c.lo) / 2, 4) AS half_width,
              c.n_reps
       FROM pt p JOIN ci c ON p.event_type = c.event_type""",
)
def poisson_bootstrap_mean_ci(spark, sf_dir):
    """Distributed bootstrap CI for the per-series mean via POISSON
    resampling: each (row, replicate) draws a deterministic
    Poisson(1) weight from an md5-derived uniform (inverse-CDF on 6
    integer thresholds), so all 40 replicates compute in ONE pass
    with no resample shuffle — the standard bootstrap-at-scale
    construction (classic with-replacement resampling is a shuffle
    per replicate; Poisson weights approximate multinomial counts
    with independent draws). The 95 % interval is the 2.5/97.5
    rank-quantile of the 40 replicate means. Deterministic: the
    weights are pure hash functions reproduced exactly by the
    oracle."""
    ev = load_table(spark, sf_dir, "events")
    # r10 OPT (guide §2.5 input skew): the fixture is one single-row-
    # group parquet file, so the x40-replicate explode + 4M md5 draws
    # all ran in ONE scan task (measured 4.2 s at sf0.1, ~whole query).
    # fanout round-robins the compact pre-explode rows across cores;
    # the point-estimate branch keeps the bare scan (its avg touches
    # every row once — no CPU amplification to parallelize).
    ev_boot = load_table(spark, sf_dir, "events", fanout=True)
    reps = spark.range(_B).select(F.col("id").alias("b"))
    u = (
        F.conv(
            F.substring(
                F.md5(
                    F.concat(
                        F.col("event_id").cast("string"),
                        F.lit(":"),
                        F.col("b").cast("string"),
                    )
                ),
                1,
                6,
            ),
            16,
            10,
        ).cast("long")
        % 1000000
    )
    w = (
        F.when(u < _POIS[0], 0)
        .when(u < _POIS[1], 1)
        .when(u < _POIS[2], 2)
        .when(u < _POIS[3], 3)
        .when(u < _POIS[4], 4)
        .when(u < _POIS[5], 5)
        .otherwise(6)
    )
    weighted = ev_boot.crossJoin(F.broadcast(reps)).select(
        "event_type", "b", w.alias("w"), "value"
    )
    rep_means = (
        weighted.groupBy("event_type", "b")
        .agg(
            (F.sum(F.col("w") * F.col("value")) / F.sum("w")).alias("m"),
            F.sum("w").alias("sw"),
        )
        .filter(F.col("sw") > 0)
    )
    ci = rep_means.groupBy("event_type").agg(
        F.expr("percentile_disc(0.025) WITHIN GROUP (ORDER BY m)").alias("lo"),
        F.expr("percentile_disc(0.975) WITHIN GROUP (ORDER BY m)").alias("hi"),
        F.count(F.lit(1)).cast("int").alias("n_reps"),
    )
    pt = ev.groupBy("event_type").agg(
        F.avg("value").alias("mean_v"), F.count(F.lit(1)).cast("long").alias("n")
    )
    return pt.join(ci, "event_type").select(
        "event_type",
        "n",
        F.round("mean_v", 4).alias("mean_v"),
        F.round("lo", 4).alias("boot_lo_95"),
        F.round("hi", 4).alias("boot_hi_95"),
        F.round((F.col("hi") - F.col("lo")) / 2, 4).alias("half_width"),
        "n_reps",
    )


@q(
    "partial_correlation_daily",
    """WITH daily AS (
         SELECT CAST(ts AS DATE) AS d,
                CAST(SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
                     AS DOUBLE) AS x,
                CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                     AS DOUBLE) AS y,
                CAST(SUM(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END)
                     AS DOUBLE) AS z
         FROM events GROUP BY 1),
       r AS (
         SELECT CORR(x, y) AS rxy, CORR(x, z) AS rxz, CORR(y, z) AS ryz,
                CAST(COUNT(*) AS BIGINT) AS n_days
         FROM daily)
       SELECT n_days,
              ROUND(rxy, 4) AS r_click_purchase,
              ROUND(rxz, 4) AS r_click_view,
              ROUND(ryz, 4) AS r_purchase_view,
              ROUND((rxy - rxz * ryz)
                    / SQRT((1 - rxz * rxz) * (1 - ryz * ryz)), 4)
                AS partial_r_given_view
       FROM r""",
)
def partial_correlation_daily(spark, sf_dir):
    """First-order partial correlation: does daily click volume
    correlate with purchase volume AFTER controlling for overall
    traffic (views)? r_xy.z = (r_xy − r_xz·r_yz)/√((1−r_xz²)(1−r_yz²))
    over integer daily counts — the raw correlations are dominated by
    the shared traffic driver; the partial form is the honest signal.
    One date-grain aggregate, one row out, all corr inputs exact
    integers."""
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(F.to_date("ts").alias("d")).agg(
        F.sum((F.col("event_type") == "click").cast("int"))
        .cast("double")
        .alias("x"),
        F.sum((F.col("event_type") == "purchase").cast("int"))
        .cast("double")
        .alias("y"),
        F.sum((F.col("event_type") == "view").cast("int"))
        .cast("double")
        .alias("z"),
    )
    r = daily.agg(
        F.corr("x", "y").alias("rxy"),
        F.corr("x", "z").alias("rxz"),
        F.corr("y", "z").alias("ryz"),
        F.count(F.lit(1)).cast("long").alias("n_days"),
    )
    return r.select(
        "n_days",
        F.round("rxy", 4).alias("r_click_purchase"),
        F.round("rxz", 4).alias("r_click_view"),
        F.round("ryz", 4).alias("r_purchase_view"),
        F.round(
            (F.col("rxy") - F.col("rxz") * F.col("ryz"))
            / F.sqrt(
                (1 - F.col("rxz") * F.col("rxz"))
                * (1 - F.col("ryz") * F.col("ryz"))
            ),
            4,
        ).alias("partial_r_given_view"),
    )
