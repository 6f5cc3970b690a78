"""Mergeable-sketch quantile twins for the exact sort-heavy family.

The registry's exact quantile/median/MAD queries
(``exact_quantiles_by_type``, ``rolling_median_value``,
``inter_event_gap_quantiles``, ``mad_by_type``) are correct but pay a
per-key SORT; at 100 TB the scale path is a mergeable sketch. This
module adds DDSketch-style twins: a relative-error-bounded quantile
sketch whose state is a tiny (key, log-bucket) count table —
map-side combinable, mergeable across partitions/days, and O(log
range / log gamma) rows per key instead of O(rows).

Why DDSketch (and not t-digest/KLL/GK): its bucket function is a PURE
expression — ``ceil(ln(x) / ln(gamma))`` — so the sketch is exactly
reproducible by any engine, row-order independent, and therefore
ORACLE-CHECKABLE: DuckDB recomputes the identical sketch and the
identical estimates, and the driver hash-compares them. t-digest and
KLL depend on compaction order / randomness and cannot be pinned this
way. The relative-error contract is the textbook one: with gamma =
(1+a)/(1-a), every value in a bucket is within relative error ``a``
of the bucket's geometric midpoint 2*gamma^i/(gamma+1).

Each query also carries a live ACCURACY GATE (the oracle pins it
TRUE): the sketch estimate must sit within alpha of the exact
rank-quantile (the r-th smallest value at r = ceil(q*n), computed by
the expensive sort the sketch replaces) — the standing proof the
swap stays in tolerance, mirroring approx_quantile_accuracy_gate.

Scale story (100 TB): one narrow scan → map-side partial counts of
(key, bucket) → a shuffle whose width is the BUCKET table (hundreds
of rows per key), then window arithmetic over that tiny table. The
exact-rank verification side is test-scale-only scaffolding.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from ..catalog import load_table
from . import registry

QUERIES, ORACLES, q = registry.module()


# alpha = 0.01 -> gamma = (1+a)/(1-a) = 101/99, pinned as an explicit
# DOUBLE literal: Spark SQL would parse 101.0/99.0 as DECIMAL division
# (different rounding), DuckDB as double — the repr of the Python
# double is the one constant both engines parse to the same bits.
# Since r8 the bucket algebra itself lives in operators/sketches.py
# (the unified exact/approx operator API); these queries consume the
# SAME expressions so the driver rows pin the operator's math.
from ..operators.sketches import ALPHA as _ALPHA  # noqa: E402
from ..operators.sketches import GAMMA as _GAMMA  # noqa: E402
from ..operators.sketches import dd_bucket as _dd_bucket  # noqa: E402
from ..operators.sketches import dd_estimate as _dd_estimate  # noqa: E402

_GAMMA_SQL = repr(_GAMMA)


def _dd_quantiles(df, key_cols, value_col, qs, with_exact=True):
    """(key, q) -> DDSketch quantile estimate + (with_exact) the exact
    rank r and rank-quantile x_r it must approximate. The sketch path
    is the grouped bucket-count table; the exact path (row_number
    sort) is the verification scaffold the sketch replaces at scale.

    r11 OPT (guide §1.2 / §2.4): the r10 form built one
    filter→groupBy branch PER quantile and unioned them — every
    branch re-derived the whole scan→bucket→groupBy→window subtree
    (inter_event_gap paid the per-user LAG shuffle 3x for its 3
    quantiles). All picks now come from ONE aggregate over ONE sketch
    table — min(when(cum >= r, b)) per quantile is exactly the old
    filter+min — melted back to (key, q) rows with stack(). Estimates
    and ranks are value-identical (same doubles through the same
    bucket algebra; oracle-verified at three SFs). ``with_exact=False``
    skips the sort scaffold for callers that discard x_r (mad's
    pass-1 median) — the emitted columns for those callers are
    unchanged."""
    pos = df.filter(F.col(value_col) > 0)
    sk = (
        pos.withColumn("__b", _dd_bucket(F.col(value_col)))
        .groupBy(*key_cols, "__b")
        .agg(F.count(F.lit(1)).alias("__c"))
    )
    wcum = (
        Window.partitionBy(*key_cols)
        .orderBy("__b")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wall = Window.partitionBy(*key_cols)
    sk = sk.withColumn("__cum", F.sum("__c").over(wcum)).withColumn(
        "__n", F.sum("__c").over(wall)
    )
    aggs = [F.max("__n").alias("__n")]
    for tag, qq in qs:
        r = F.ceil(F.lit(qq) * F.col("__n")).cast("long")
        aggs.append(
            F.min(F.when(F.col("__cum") >= r, F.col("__b"))).alias(
                f"__pb_{tag}"
            )
        )
        aggs.append(F.max(r).alias(f"__r_{tag}"))
    pk = sk.groupBy(*key_cols).agg(*aggs)
    melt = ", ".join(f"'{tag}', __pb_{tag}, __r_{tag}" for tag, _ in qs)
    picks = pk.select(
        *key_cols,
        "__n",
        F.expr(f"stack({len(qs)}, {melt}) as (__q, __pb, __r)"),
    ).select(
        *key_cols,
        "__n",
        "__q",
        _dd_estimate(F.col("__pb")).alias("__est"),
        "__r",
    )
    if not with_exact:
        return picks
    # exact rank-quantile x_r (the sorted path the sketch replaces)
    wr = Window.partitionBy(*key_cols).orderBy(value_col)
    ranked = pos.select(
        *key_cols,
        F.col(value_col).alias("__v"),
        F.row_number().over(wr).alias("__rn"),
    )
    j = (
        picks.join(ranked, on=list(key_cols), how="inner")
        if key_cols
        else picks.crossJoin(ranked)
    )
    return (
        j.filter(F.col("__rn") == F.col("__r"))
        .select(
            *key_cols,
            "__n",
            "__q",
            "__est",
            F.col("__v").alias("__exact_rank_value"),
        )
    )


@q(
    "ddsketch_quantiles_gate",
    f"""WITH pos AS (SELECT event_type AS k, value AS v FROM events
                     WHERE value > 0),
  b AS (SELECT k, CAST(CEIL(LN(v)/LN({_GAMMA_SQL})) AS BIGINT) AS bkt
        FROM pos),
  s AS (SELECT k, bkt, COUNT(*) AS c FROM b GROUP BY k, bkt),
  cum AS (SELECT k, bkt, c,
                 SUM(c) OVER (PARTITION BY k ORDER BY bkt
                              ROWS UNBOUNDED PRECEDING) AS cumc,
                 SUM(c) OVER (PARTITION BY k) AS n
          FROM s),
  pick AS (SELECT k,
                  MIN(CASE WHEN cumc >= CEIL(0.5 * n) THEN bkt END) AS b50,
                  MIN(CASE WHEN cumc >= CEIL(0.99 * n) THEN bkt END) AS b99,
                  ANY_VALUE(n) AS n
           FROM cum GROUP BY k)
  SELECT k AS event_type,
         CAST(n AS BIGINT) AS n_values,
         ROUND(2.0 * POW({_GAMMA_SQL}, b50) / ({_GAMMA_SQL} + 1.0), 6)
           AS dd_p50,
         ROUND(2.0 * POW({_GAMMA_SQL}, b99) / ({_GAMMA_SQL} + 1.0), 6)
           AS dd_p99,
         TRUE AS p50_within_alpha,
         TRUE AS p99_within_alpha
  FROM pick""",
)
def ddsketch_quantiles_gate(spark, sf_dir):
    """DDSketch p50/p99 per event type: the mergeable
    relative-error-bounded twin of ``exact_quantiles_by_type``. The
    sketch state is a (event_type, log-bucket) count table — map-side
    combined, mergeable across partitions and days, hundreds of rows
    per key regardless of input size — replacing the per-key sort of
    the exact path. The gates assert the DDSketch contract live:
    |estimate - x_r| <= alpha * x_r against the exact rank-quantile
    x_r (r = ceil(q*n)), oracle-pinned TRUE. The ESTIMATES themselves
    are oracle-recomputed bit-for-bit (the bucket function is a pure
    expression — the reason DDSketch is the pinnable choice over
    t-digest/KLL, whose compaction order no second engine can
    replay)."""
    ev = load_table(spark, sf_dir, "events").select("event_type", "value")
    got = _dd_quantiles(
        ev, ["event_type"], "value", [("p50", 0.5), ("p99", 0.99)]
    )
    # r11 OPT: n_values is the sketch's own per-key total (__n), so
    # the separate count-scan of events drops out; value-identical by
    # construction (both are COUNT of value > 0 rows per key).
    wide = got.groupBy("event_type").pivot(
        "__q", ["p50", "p99"]
    ).agg(
        F.first("__est").alias("est"),
        F.first("__exact_rank_value").alias("xr"),
        F.first("__n").alias("n"),
    )
    tol = F.lit(_ALPHA) * (F.lit(1.0) + F.lit(1e-9))
    return wide.select(
        "event_type",
        F.coalesce("p50_n", F.lit(0)).cast("long").alias("n_values"),
        F.round("p50_est", 6).alias("dd_p50"),
        F.round("p99_est", 6).alias("dd_p99"),
        (
            F.abs(F.col("p50_est") - F.col("p50_xr"))
            <= tol * F.col("p50_xr")
        ).alias("p50_within_alpha"),
        (
            F.abs(F.col("p99_est") - F.col("p99_xr"))
            <= tol * F.col("p99_xr")
        ).alias("p99_within_alpha"),
    )


@q(
    "inter_event_gap_sketch_quantiles",
    f"""WITH g AS (
    SELECT EPOCH(ts) - LAG(EPOCH(ts)) OVER (PARTITION BY user_id
                                            ORDER BY ts, event_id) AS v
    FROM events),
  pos AS (SELECT v FROM g WHERE v > 0),
  b AS (SELECT CAST(CEIL(LN(v)/LN({_GAMMA_SQL})) AS BIGINT) AS bkt
        FROM pos),
  s AS (SELECT bkt, COUNT(*) AS c FROM b GROUP BY bkt),
  cum AS (SELECT bkt, c,
                 SUM(c) OVER (ORDER BY bkt ROWS UNBOUNDED PRECEDING)
                   AS cumc,
                 SUM(c) OVER () AS n
          FROM s),
  pick AS (SELECT
             MIN(CASE WHEN cumc >= CEIL(0.5 * n) THEN bkt END) AS b50,
             MIN(CASE WHEN cumc >= CEIL(0.95 * n) THEN bkt END) AS b95,
             MIN(CASE WHEN cumc >= CEIL(0.99 * n) THEN bkt END) AS b99,
             ANY_VALUE(n) AS n
           FROM cum)
  SELECT CAST(COALESCE(n, 0) AS BIGINT) AS n_gaps,
         ROUND(2.0 * POW({_GAMMA_SQL}, b50) / ({_GAMMA_SQL} + 1.0), 6)
           AS dd_p50_sec,
         ROUND(2.0 * POW({_GAMMA_SQL}, b95) / ({_GAMMA_SQL} + 1.0), 6)
           AS dd_p95_sec,
         ROUND(2.0 * POW({_GAMMA_SQL}, b99) / ({_GAMMA_SQL} + 1.0), 6)
           AS dd_p99_sec,
         TRUE AS p50_within_alpha,
         TRUE AS p95_within_alpha,
         TRUE AS p99_within_alpha
  FROM pick""",
)
def inter_event_gap_sketch_quantiles(spark, sf_dir):
    """Global inter-event-gap quantiles via DDSketch: the mergeable
    twin of ``inter_event_gap_quantiles``. Gap derivation keeps the
    per-user LAG window (state bounded per user); the GLOBAL quantile
    then needs no global sort — per-partition bucket counts merge
    into one tiny bucket table. Gates pin the alpha contract against
    the exact rank-quantiles; estimates oracle-recomputed exactly."""
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "event_id", "ts"
    )
    wu = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gaps = ev.select(
        (
            F.col("ts").cast("double")
            - F.lag(F.col("ts").cast("double")).over(wu)
        ).alias("gap")
    ).filter(F.col("gap") > 0)
    got = _dd_quantiles(
        gaps, [], "gap", [("p50", 0.5), ("p95", 0.95), ("p99", 0.99)]
    )
    # r11 OPT: n_gaps comes from the sketch's __n — the separate
    # count-pass over the LAG window (a full shuffle+sort of events)
    # drops out; value-identical (both count gap > 0 rows).
    wide = got.groupBy().pivot("__q", ["p50", "p95", "p99"]).agg(
        F.first("__est").alias("est"),
        F.first("__exact_rank_value").alias("xr"),
        F.first("__n").alias("n"),
    )
    tol = F.lit(_ALPHA) * (F.lit(1.0) + F.lit(1e-9))

    def gate(tag):
        return (
            F.abs(F.col(f"{tag}_est") - F.col(f"{tag}_xr"))
            <= tol * F.col(f"{tag}_xr")
        ).alias(f"{tag}_within_alpha")

    return wide.select(
        F.coalesce("p50_n", F.lit(0)).cast("long").alias("n_gaps"),
        F.round("p50_est", 6).alias("dd_p50_sec"),
        F.round("p95_est", 6).alias("dd_p95_sec"),
        F.round("p99_est", 6).alias("dd_p99_sec"),
        gate("p50"),
        gate("p95"),
        gate("p99"),
    )


@q(
    "mad_ddsketch_by_type",
    f"""WITH pos AS (SELECT event_type AS k, value AS v FROM events
                     WHERE value > 0),
  b AS (SELECT k, CAST(CEIL(LN(v)/LN({_GAMMA_SQL})) AS BIGINT) AS bkt
        FROM pos),
  s AS (SELECT k, bkt, COUNT(*) AS c FROM b GROUP BY k, bkt),
  cum AS (SELECT k, bkt, c,
                 SUM(c) OVER (PARTITION BY k ORDER BY bkt
                              ROWS UNBOUNDED PRECEDING) AS cumc,
                 SUM(c) OVER (PARTITION BY k) AS n
          FROM s),
  med AS (SELECT k,
                 2.0 * POW({_GAMMA_SQL},
                   MIN(CASE WHEN cumc >= CEIL(0.5 * n) THEN bkt END))
                   / ({_GAMMA_SQL} + 1.0) AS m
          FROM cum GROUP BY k),
  dev AS (SELECT pos.k AS k, ABS(pos.v - med.m) AS v
          FROM pos JOIN med ON pos.k = med.k
          WHERE ABS(pos.v - med.m) > 0),
  b2 AS (SELECT k, CAST(CEIL(LN(v)/LN({_GAMMA_SQL})) AS BIGINT) AS bkt
         FROM dev),
  s2 AS (SELECT k, bkt, COUNT(*) AS c FROM b2 GROUP BY k, bkt),
  cum2 AS (SELECT k, bkt, c,
                  SUM(c) OVER (PARTITION BY k ORDER BY bkt
                               ROWS UNBOUNDED PRECEDING) AS cumc,
                  SUM(c) OVER (PARTITION BY k) AS n
           FROM s2),
  mad AS (SELECT k,
                 2.0 * POW({_GAMMA_SQL},
                   MIN(CASE WHEN cumc >= CEIL(0.5 * n) THEN bkt END))
                   / ({_GAMMA_SQL} + 1.0) AS md
          FROM cum2 GROUP BY k)
  SELECT med.k AS event_type,
         ROUND(med.m, 6) AS median_est,
         ROUND(mad.md, 6) AS mad_est,
         TRUE AS mad_within_alpha
  FROM med JOIN mad ON med.k = mad.k""",
)
def mad_ddsketch_by_type(spark, sf_dir):
    """Two-pass sketch MAD per event type: the mergeable twin of
    ``mad_by_type``. Pass 1 sketches the median; pass 2 sketches the
    absolute deviations AROUND THE SKETCH CENTER — keeping the center
    fixed is what preserves the alpha contract for the second pass
    (deviations around a different center have no bound). Both passes
    are (key, bucket) count tables; no sort anywhere on the scale
    path. The gate pins pass-2's contract against the exact
    rank-median of the same deviations; both estimates
    oracle-recomputed exactly."""
    ev = (
        load_table(spark, sf_dir, "events")
        .select("event_type", "value")
        .filter(F.col("value") > 0)
    )
    # r11 OPT: pass-1 discards the exact-rank scaffold (x_r gates only
    # pass 2), so skip its full per-key sort+join (with_exact=False —
    # emitted median values unchanged); localCheckpoint the 5-row
    # median table so the dev pass and the final join don't each
    # recompute the pass-1 sketch subtree (eager=False: materializes
    # inside the first consuming job, no extra action).
    med = (
        _dd_quantiles(
            ev, ["event_type"], "value", [("p50", 0.5)], with_exact=False
        )
        .select("event_type", F.col("__est").alias("median_est"))
        .localCheckpoint(eager=False)
    )
    dev = (
        ev.join(F.broadcast(med), "event_type")
        .select(
            "event_type",
            F.abs(F.col("value") - F.col("median_est")).alias("dev"),
        )
        .filter(F.col("dev") > 0)
    )
    mad = _dd_quantiles(dev, ["event_type"], "dev", [("p50", 0.5)])
    tol = F.lit(_ALPHA) * (F.lit(1.0) + F.lit(1e-9))
    return (
        med.join(mad, "event_type")
        .select(
            "event_type",
            F.round("median_est", 6).alias("median_est"),
            F.round("__est", 6).alias("mad_est"),
            (
                F.abs(F.col("__est") - F.col("__exact_rank_value"))
                <= tol * F.col("__exact_rank_value")
            ).alias("mad_within_alpha"),
        )
    )


# Count-Min parameters: d=3 md5-derived hash rows, w=1024 buckets.
# Like the DDSketch family above, the hashes are PURE expressions
# (md5 of "row:key"), so the sketch is row-order independent and both
# engines build the identical cell table — the property that makes a
# probabilistic structure oracle-checkable.
_CM_D = 3
_CM_W = 1024


@q(
    "countmin_heavy_hitters_gate",
    f"""WITH cells AS (
         SELECT r.i,
                ('0x' || substr(md5(CAST(r.i AS VARCHAR) || ':'
                                    || CAST(user_id AS VARCHAR)), 1, 6))::INT
                  % {_CM_W} AS bucket,
                CAST(COUNT(*) AS BIGINT) AS c
         FROM events CROSS JOIN (SELECT UNNEST([0, 1, 2]) AS i) r
         GROUP BY 1, 2),
       total AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM events),
       exact AS (
         SELECT user_id, CAST(COUNT(*) AS BIGINT) AS exact_cnt
         FROM events GROUP BY 1
         ORDER BY exact_cnt DESC, user_id LIMIT 10),
       probes AS (
         SELECT e.user_id, e.exact_cnt, r.i,
                ('0x' || substr(md5(CAST(r.i AS VARCHAR) || ':'
                                    || CAST(e.user_id AS VARCHAR)), 1, 6))::INT
                  % {_CM_W} AS bucket
         FROM exact e CROSS JOIN (SELECT UNNEST([0, 1, 2]) AS i) r),
       est AS (
         SELECT p.user_id, p.exact_cnt,
                MIN(c.c) AS cm_est
         FROM probes p JOIN cells c ON p.i = c.i AND p.bucket = c.bucket
         GROUP BY 1, 2)
       SELECT e.user_id, e.exact_cnt, e.cm_est,
              CAST(e.cm_est - e.exact_cnt AS BIGINT) AS overcount,
              e.cm_est >= e.exact_cnt AS never_undercounts,
              CAST(e.cm_est - e.exact_cnt AS DOUBLE)
                <= 3.0 * t.n / {_CM_W} AS within_error_bound
       FROM est e CROSS JOIN total t""",
)
def countmin_heavy_hitters_gate(spark, sf_dir):
    """Count-Min sketch heavy-hitter estimation with a live accuracy
    gate: a d=3 x w=1024 cell table (md5-derived row hashes) built in
    ONE map-side-combinable groupBy; each exact-top-10 user's
    estimate is the MIN over its d cells. The structural guarantee —
    CM never undercounts — and the error contract — overcount within
    3N/w of truth — are both emitted as booleans the oracle pins TRUE
    (DuckDB rebuilds the identical sketch). 100 TB story: the shuffle
    is the 3x1024 CELL TABLE regardless of row count (vs the exact
    twin token_heavy_hitters' full key exchange); sketches from
    disjoint partitions/days MERGE by cell-wise addition."""
    ev = load_table(spark, sf_dir, "events")
    rows = F.explode(F.array(F.lit(0), F.lit(1), F.lit(2))).alias("i")

    def bucket(i_col, key_col):
        return F.pmod(
            F.conv(
                F.substring(
                    F.md5(
                        F.concat(
                            i_col.cast("string"),
                            F.lit(":"),
                            key_col.cast("string"),
                        )
                    ),
                    1,
                    6,
                ),
                16,
                10,
            ).cast("int"),
            F.lit(_CM_W),
        )

    cells = (
        ev.select("user_id", rows)
        .select("i", bucket(F.col("i"), F.col("user_id")).alias("bucket"))
        .groupBy("i", "bucket")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
    )
    total = ev.agg(F.count(F.lit(1)).cast("long").alias("n"))
    exact = (
        ev.groupBy("user_id")
        .agg(F.count(F.lit(1)).cast("long").alias("exact_cnt"))
        .orderBy(F.desc("exact_cnt"), "user_id")
        .limit(10)
    )
    probes = exact.select("user_id", "exact_cnt", rows).select(
        "user_id",
        "exact_cnt",
        "i",
        bucket(F.col("i"), F.col("user_id")).alias("bucket"),
    )
    est = (
        probes.join(F.broadcast(cells), ["i", "bucket"])
        .groupBy("user_id", "exact_cnt")
        .agg(F.min("c").alias("cm_est"))
    )
    return est.crossJoin(F.broadcast(total)).select(
        "user_id",
        "exact_cnt",
        "cm_est",
        (F.col("cm_est") - F.col("exact_cnt")).cast("long").alias("overcount"),
        (F.col("cm_est") >= F.col("exact_cnt")).alias("never_undercounts"),
        (
            (F.col("cm_est") - F.col("exact_cnt")).cast("double")
            <= 3.0 * F.col("n") / _CM_W
        ).alias("within_error_bound"),
    )


# HLL parameters shared with datapipe.sketch_cardinalities — the
# daily-merge query below must build the IDENTICAL registers so the
# merged estimate is comparable to the one-shot estimate.
from .datapipe import _HLL_M, _HLL_NUMER  # noqa: E402


@q(
    "hll_daily_union_users",
    f"""WITH h AS (
         SELECT event_type, CAST(ts AS DATE) AS d,
                ('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 2))::INT
                  AS bucket,
                ltrim(substr(md5(CAST(user_id AS VARCHAR)), 3, 13), '0')
                  AS sig
         FROM events),
       r AS (SELECT event_type, d, bucket,
                    CASE WHEN length(sig) = 0 THEN 53
                         ELSE 4 * (13 - length(sig))
                              + CASE WHEN substr(sig, 1, 1) = '1' THEN 3
                                     WHEN substr(sig, 1, 1) IN ('2', '3')
                                       THEN 2
                                     WHEN substr(sig, 1, 1)
                                       IN ('4', '5', '6', '7') THEN 1
                                     ELSE 0 END + 1 END AS rank
             FROM h),
       daily AS (
         SELECT event_type, d, bucket, MAX(rank) AS m_j
         FROM r GROUP BY 1, 2, 3),
       merged AS (
         SELECT event_type, bucket, MAX(m_j) AS m_j
         FROM daily GROUP BY 1, 2),
       direct AS (
         SELECT event_type, bucket, MAX(rank) AS m_j
         FROM r GROUP BY 1, 2),
       est_m AS (
         SELECT event_type, CAST(COUNT(*) AS INT) AS n_hit,
                SUM((1::BIGINT << (53 - m_j))) AS s_hit
         FROM merged GROUP BY 1),
       est_d AS (
         SELECT event_type, CAST(COUNT(*) AS INT) AS n_hit,
                SUM((1::BIGINT << (53 - m_j))) AS s_hit
         FROM direct GROUP BY 1),
       ex AS (
         SELECT event_type,
                CAST(COUNT(DISTINCT user_id) AS BIGINT) AS exact_users
         FROM events GROUP BY 1),
       days AS (
         SELECT event_type,
                CAST(COUNT(DISTINCT CAST(ts AS DATE)) AS BIGINT) AS n_days
         FROM events GROUP BY 1),
       f AS (
         SELECT m.event_type,
                ROUND(CAST({_HLL_NUMER!r} AS DOUBLE)
                      / CAST(m.s_hit
                             + CAST({_HLL_M} - m.n_hit AS BIGINT) * {2**53}
                             AS DOUBLE), 2) AS merged_est,
                ROUND(CAST({_HLL_NUMER!r} AS DOUBLE)
                      / CAST(dd.s_hit
                             + CAST({_HLL_M} - dd.n_hit AS BIGINT) * {2**53}
                             AS DOUBLE), 2) AS direct_est
         FROM est_m m JOIN est_d dd ON m.event_type = dd.event_type)
       SELECT f.event_type, days.n_days, ex.exact_users,
              f.merged_est,
              f.merged_est = f.direct_est AS merge_lossless,
              ABS(f.merged_est - ex.exact_users)
                / CAST(ex.exact_users AS DOUBLE) <= 0.15
                AS within_rel_error
       FROM f
       JOIN ex ON f.event_type = ex.event_type
       JOIN days ON f.event_type = days.event_type""",
)
def hll_daily_union_users(spark, sf_dir):
    """The MERGEABILITY axis of the HLL path (the property 100 TB
    pipelines actually buy): per-(event_type, DAY) register tables
    built independently — the shape a daily ingest job would persist —
    then UNION-merged by register-wise MAX across days. The merged
    estimate must equal the one-shot whole-month estimate EXACTLY
    (``merge_lossless``, oracle-pinned TRUE — sketch-of-union =
    union-of-sketches is what makes incremental maintenance sound),
    and sit within 15% of the exact distinct count
    (``within_rel_error``, pinned TRUE — m=256 gives ~6.5% standard
    error). Register algebra identical to sketch_cardinalities, so
    DuckDB reproduces every bit."""
    ev = load_table(spark, sf_dir, "events")
    h = F.md5(F.col("user_id").cast("string"))
    sig = F.expr(
        "trim(LEADING '0' FROM substring(md5(cast(user_id as string)), 3, 13))"
    )
    d1 = F.substring(sig, 1, 1)
    rank = F.when(F.length(sig) == 0, F.lit(53)).otherwise(
        4 * (13 - F.length(sig))
        + F.when(d1 == "1", 3)
        .when(d1.isin("2", "3"), 2)
        .when(d1.isin("4", "5", "6", "7"), 1)
        .otherwise(0)
        + 1
    )
    r = ev.select(
        "event_type",
        F.to_date("ts").alias("d"),
        F.conv(F.substring(h, 1, 2), 16, 10).cast("int").alias("bucket"),
        rank.alias("rank"),
    )
    daily = r.groupBy("event_type", "d", "bucket").agg(
        F.max("rank").alias("m_j")
    )
    merged = daily.groupBy("event_type", "bucket").agg(
        F.max("m_j").alias("m_j")
    )
    direct = r.groupBy("event_type", "bucket").agg(
        F.max("rank").alias("m_j")
    )

    def estimate(regs):
        agg = regs.groupBy("event_type").agg(
            F.count(F.lit(1)).cast("int").alias("n_hit"),
            F.sum(
                F.expr("shiftleft(cast(1 as bigint), 53 - m_j)")
            ).alias("s_hit"),
        )
        denom = (
            F.col("s_hit")
            + (F.lit(_HLL_M) - F.col("n_hit")).cast("long") * F.lit(2**53)
        ).cast("double")
        return agg.select(
            "event_type",
            F.round(F.lit(_HLL_NUMER) / denom, 2).alias("est"),
        )

    est_m = estimate(merged).withColumnRenamed("est", "merged_est")
    est_d = estimate(direct).withColumnRenamed("est", "direct_est")
    ex = ev.groupBy("event_type").agg(
        F.count_distinct("user_id").cast("long").alias("exact_users")
    )
    days = ev.groupBy("event_type").agg(
        F.count_distinct(F.to_date("ts")).cast("long").alias("n_days")
    )
    return (
        est_m.join(est_d, "event_type")
        .join(ex, "event_type")
        .join(days, "event_type")
        .select(
            "event_type",
            "n_days",
            "exact_users",
            "merged_est",
            (F.col("merged_est") == F.col("direct_est")).alias(
                "merge_lossless"
            ),
            (
                F.abs(F.col("merged_est") - F.col("exact_users"))
                / F.col("exact_users").cast("double")
                <= 0.15
            ).alias("within_rel_error"),
        )
    )


@q(
    "sketch_operator_swap_gate",
    f"""WITH pos AS (SELECT event_type AS k, value AS v FROM events
                     WHERE value > 0),
  qs AS (SELECT CAST(unnest([0.5, 0.9, 0.99]) AS DOUBLE) AS q),
  per_v AS (SELECT k, v, COUNT(*) AS c FROM pos GROUP BY 1, 2),
  cumv AS (SELECT k, v, SUM(c) OVER (PARTITION BY k ORDER BY v
                                     ROWS UNBOUNDED PRECEDING) AS cum,
                  SUM(c) OVER (PARTITION BY k) AS n
           FROM per_v),
  exact AS (SELECT k, qs.q,
                   MIN(CASE WHEN cum >= CEIL(qs.q * n) THEN v END) AS ex
            FROM cumv CROSS JOIN qs GROUP BY 1, 2),
  b AS (SELECT k, CAST(CEIL(LN(v)/LN({_GAMMA_SQL})) AS BIGINT) AS bkt
        FROM pos),
  s AS (SELECT k, bkt, COUNT(*) AS c FROM b GROUP BY 1, 2),
  cumb AS (SELECT k, bkt,
                  SUM(c) OVER (PARTITION BY k ORDER BY bkt
                               ROWS UNBOUNDED PRECEDING) AS cumc,
                  SUM(c) OVER (PARTITION BY k) AS n
           FROM s),
  pick AS (SELECT k, qs.q,
                  MIN(CASE WHEN cumc >= CEIL(qs.q * n) THEN bkt END) AS pb
           FROM cumb CROSS JOIN qs GROUP BY 1, 2)
  SELECT e.k AS event_type, e.q,
         ROUND(e.ex, 6) AS exact_value,
         ROUND(2.0 * POW({_GAMMA_SQL}, p.pb) / ({_GAMMA_SQL} + 1.0), 6)
           AS sketch_value,
         CAST(ABS(2.0 * POW({_GAMMA_SQL}, p.pb) / ({_GAMMA_SQL} + 1.0)
                  - e.ex)
              <= {_ALPHA!r} * (1 + 1e-9) * e.ex AS BOOLEAN)
           AS within_alpha
  FROM exact e JOIN pick p ON e.k = p.k AND e.q = p.q""",
)
def sketch_operator_swap_gate(spark, sf_dir):
    """The one-line-swap contract of the UNIFIED sketch operator
    (operators/sketches.py, VERDICT r7 ask #6) made driver-visible:
    the SAME ``quantiles(df, keys, col, qs, exact=)`` call runs in
    both modes, the two results join on their identical output
    schema, and every estimate must sit within the DDSketch α of its
    exact rank-quantile twin — the accuracy gate that makes swapping
    exact→sketch at 100 TB a parameter change instead of a rewrite.
    Both modes use rank (percentile_disc) semantics, the quantity
    the sketch guarantee actually bounds."""
    from ..operators import sketches as sk

    ev = load_table(spark, sf_dir, "events").select("event_type", "value")
    qs = [0.5, 0.9, 0.99]
    exact = sk.quantiles(ev, ["event_type"], "value", qs, exact=True)
    approx = sk.quantiles(ev, ["event_type"], "value", qs, exact=False)
    tol = F.lit(_ALPHA) * (F.lit(1.0) + F.lit(1e-9))
    return (
        exact.withColumnRenamed("value", "ex")
        .join(
            approx.withColumnRenamed("value", "est"), ["event_type", "q"]
        )
        .select(
            "event_type",
            "q",
            F.round("ex", 6).alias("exact_value"),
            F.round("est", 6).alias("sketch_value"),
            (F.abs(F.col("est") - F.col("ex")) <= tol * F.col("ex")).alias(
                "within_alpha"
            ),
        )
    )
