"""Advanced analytics breadth: per-group linear regression, time-range
window frames, fixed-bucket histograms, gap-filling (date spine +
forward fill), INTERSECT, scalar-subquery rewrites, blocked fuzzy
matching, per-dimension vector profiles, value-window suites, and
boolean/conditional aggregates.

All queries here are DuckDB-oracle-backed. Shared determinism rules:

- Monetary sums go through DECIMAL(18,2) before the double conversion
  (exact, order-insensitive).
- Epoch seconds are floored to whole BIGINT seconds on both engines
  (Spark `unix_timestamp` floors; the oracle uses FLOOR(epoch(ts))).
- Float aggregates (avg/stddev/regression moments) are ROUND()ed on
  both sides; bucket arithmetic uses identical IEEE double expressions
  so bucket assignment matches bit-for-bit.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from ..catalog import load_table, load_tables
from . import registry

QUERIES, ORACLES, q = registry.module()


@q(
    "regr_value_trend",
    """SELECT event_type,
              CAST(regr_count(value, xs) AS BIGINT) AS n,
              ROUND(regr_slope(value, xs) * 86400, 6) AS slope_per_day,
              ROUND(regr_intercept(value, xs), 2) AS intercept,
              ROUND(regr_r2(value, xs), 6) AS r2
       FROM (SELECT event_type, value,
                    CAST(FLOOR(epoch(ts)) AS BIGINT) AS xs
             FROM events)
       GROUP BY 1""",
)
def regr_value_trend(spark, sf_dir):
    """Per-group ordinary-least-squares trend line entirely in JVM
    aggregates (regr_slope/intercept/r2) — the distributed replacement
    for a driver-side sklearn fit. Single shuffle on the group key;
    slope reported per-day so the rounding scale is meaningful."""
    ev = load_table(spark, sf_dir, "events")
    xs = F.unix_timestamp("ts").alias("xs")
    base = ev.select("event_type", "value", xs)
    return base.groupBy("event_type").agg(
        F.regr_count("value", "xs").alias("n"),
        F.round(F.regr_slope("value", "xs") * 86400, 6).alias("slope_per_day"),
        F.round(F.regr_intercept("value", "xs"), 2).alias("intercept"),
        F.round(F.regr_r2("value", "xs"), 6).alias("r2"),
    )


@q(
    "time_range_rolling_avg",
    """SELECT event_id, event_type,
              CAST((2 * s6 + n * 100) // (2 * n * 100) AS DOUBLE) / 10000
                AS roll_avg,
              n AS roll_n
       FROM (SELECT event_id, event_type,
                    CAST(SUM(CAST(value AS DECIMAL(18,6))) OVER w * 1000000
                         AS BIGINT) AS s6,
                    COUNT(*) OVER w AS n
             FROM events
             WINDOW w AS (PARTITION BY event_type
                          ORDER BY CAST(FLOOR(epoch(ts)) AS BIGINT)
                          RANGE BETWEEN 600 PRECEDING AND CURRENT ROW))""",
)
def time_range_rolling_avg(spark, sf_dir):
    """Trailing 10-minute average per event type using a RANGE frame
    keyed on event-time seconds — unlike a ROWS frame this is
    data-density independent (the frame is a time interval, not a row
    count), and peer rows at the same timestamp share one frame, so
    the result is deterministic under shuffle reordering."""
    ev = load_table(spark, sf_dir, "events")
    w = (
        Window.partitionBy("event_type")
        .orderBy(F.unix_timestamp("ts"))
        .rangeBetween(-600, 0)
    )
    # decimal window SUM + INTEGER half-up at 4 dp (DECISIONS §50):
    # plain avg-of-doubles accumulates in frame order (Spark sliding
    # frame vs DuckDB segment tree), and even exact sums hit
    # representation ties under double-ROUND — the sf1 sim caught
    # both once frames held 10x the rows
    s6 = (
        F.sum(F.col("value").cast("decimal(18,6)")).over(w) * 1_000_000
    ).cast("long")
    n = F.count(F.lit(1)).over(w)
    return ev.select(
        "event_id",
        "event_type",
        s6.alias("s6"),
        n.alias("n"),
    ).select(
        "event_id",
        "event_type",
        (
            F.expr("CAST((2 * s6 + n * 100) div (2 * n * 100) AS DOUBLE)")
            / 10000
        ).alias("roll_avg"),
        F.col("n").alias("roll_n"),
    )


@q(
    "histogram_fixed_buckets",
    """WITH b AS (SELECT min(value) AS lo, max(value) AS hi FROM events)
       SELECT bucket,
              ROUND(lo + bucket * (hi - lo) / 20, 4) AS bucket_lo,
              n
       FROM (SELECT LEAST(CAST(FLOOR((value - lo) / ((hi - lo) / 20)) AS BIGINT),
                          19) AS bucket,
                    lo, hi, COUNT(*) AS n
             FROM events, b GROUP BY 1, 2, 3)""",
)
def histogram_fixed_buckets(spark, sf_dir):
    """Equi-width 20-bucket histogram as two passes: a 1-row bounds
    aggregate broadcast back over the scan, then a groupBy on the
    computed bucket. Bucket arithmetic is the identical IEEE double
    expression on both engines so assignment matches exactly; the max
    value clamps into the last bucket."""
    ev = load_table(spark, sf_dir, "events")
    b = ev.agg(F.min("value").alias("lo"), F.max("value").alias("hi"))
    j = ev.crossJoin(F.broadcast(b))
    bucket = F.least(
        F.floor((F.col("value") - F.col("lo")) / ((F.col("hi") - F.col("lo")) / 20)),
        F.lit(19),
    ).alias("bucket")
    return (
        j.groupBy(bucket, "lo", "hi")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(
            "bucket",
            F.round(
                F.col("lo") + F.col("bucket") * (F.col("hi") - F.col("lo")) / 20, 4
            ).alias("bucket_lo"),
            "n",
        )
    )


@q(
    "gap_fill_forward_daily",
    """WITH f AS (SELECT * FROM events WHERE value > 250),
       daily AS (SELECT event_type, CAST(ts AS DATE) AS d,
                        ROUND(arg_max(value, event_id), 4) AS v
                 FROM f GROUP BY 1, 2),
       b AS (SELECT min(d) AS lo, max(d) AS hi FROM daily),
       spine AS (SELECT t.event_type, s.d
                 FROM (SELECT DISTINCT event_type FROM daily) t,
                      (SELECT unnest(generate_series(lo, hi, INTERVAL 1 DAY))::DATE AS d
                       FROM b) s),
       j AS (SELECT spine.event_type, spine.d, daily.v
             FROM spine LEFT JOIN daily
               ON spine.event_type = daily.event_type AND spine.d = daily.d)
       SELECT event_type, d,
              last_value(v IGNORE NULLS)
                OVER (PARTITION BY event_type ORDER BY d
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS filled,
              (v IS NULL) AS is_gap
       FROM j""",
)
def gap_fill_forward_daily(spark, sf_dir):
    """Gap-filled daily series: a generated date spine cross-joined
    with the observed group keys, left-joined to the sparse daily
    aggregate, then forward-filled with last(ignorenulls) over an
    unbounded-preceding frame. The spine is built from explode(
    sequence(...)) — rows are generated distributed, never on the
    driver. Daily value keyed on the unique event_id (max_by) so the
    pre-fill aggregate is tie-free."""
    ev = load_table(spark, sf_dir, "events")
    daily = (
        ev.filter(F.col("value") > 250)
        .groupBy("event_type", F.to_date("ts").alias("d"))
        .agg(F.round(F.max_by("value", "event_id"), 4).alias("v"))
    )
    bounds = daily.agg(F.min("d").alias("lo"), F.max("d").alias("hi"))
    spine = (
        daily.select("event_type")
        .distinct()
        .crossJoin(
            F.broadcast(bounds).select(
                F.explode(F.sequence("lo", "hi")).alias("d")
            )
        )
    )
    j = spine.join(daily, ["event_type", "d"], "left")
    w = (
        Window.partitionBy("event_type")
        .orderBy("d")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return j.select(
        "event_type",
        "d",
        F.last("v", ignorenulls=True).over(w).alias("filled"),
        F.col("v").isNull().alias("is_gap"),
    )


@q(
    "intersect_repeat_customers",
    """SELECT o_custkey FROM orders WHERE year(o_orderdate) = 1995
       INTERSECT
       SELECT o_custkey FROM orders WHERE year(o_orderdate) = 1996""",
)
def intersect_repeat_customers(spark, sf_dir):
    """Customers active in both 1995 and 1996 via INTERSECT (distinct
    set semantics). Catalyst plans this as a left-semi aggregate —
    one shuffle per side on the key, no row explosion."""
    o = load_table(spark, sf_dir, "orders")
    y95 = o.filter(F.year("o_orderdate") == 1995).select("o_custkey")
    y96 = o.filter(F.year("o_orderdate") == 1996).select("o_custkey")
    return y95.intersect(y96)


@q(
    "customers_above_nation_avg",
    """WITH na AS (SELECT c_nationkey,
                          CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE)
                            / COUNT(*) AS nat_avg
                   FROM customer GROUP BY 1)
       SELECT c_custkey, c.c_nationkey, c_acctbal, nat_avg
       FROM customer c JOIN na ON c.c_nationkey = na.c_nationkey
       WHERE c_acctbal > nat_avg""",
)
def customers_above_nation_avg(spark, sf_dir):
    """Scalar correlated subquery ("above my group's average")
    decorrelated into a tiny per-nation aggregate broadcast back to
    the fact side — one scan-side shuffle total instead of a
    per-row subquery. The comparison average is computed from an
    exact DECIMAL sum so the > boundary is order-insensitive; it is
    emitted UNROUNDED because the double is bit-identical on both
    engines while ROUND() tie-breaking (half-up vs half-away) is
    not."""
    c = load_table(spark, sf_dir, "customer")
    na = c.groupBy("c_nationkey").agg(
        (
            F.sum(F.col("c_acctbal").cast("decimal(18,2)")).cast("double")
            / F.count(F.lit(1))
        ).alias("nat_avg")
    )
    return (
        c.join(F.broadcast(na), "c_nationkey")
        .filter(F.col("c_acctbal") > F.col("nat_avg"))
        .select("c_custkey", "c_nationkey", "c_acctbal", "nat_avg")
    )


@q(
    "fuzzy_part_pairs",
    """SELECT a.p_partkey AS part_a, b.p_partkey AS part_b,
              CAST(levenshtein(a.p_name, b.p_name) AS INTEGER) AS dist
       FROM part a JOIN part b
         ON a.p_brand = b.p_brand AND a.p_size = b.p_size
        AND a.p_partkey < b.p_partkey
       WHERE levenshtein(a.p_name, b.p_name) <= 12""",
)
def fuzzy_part_pairs(spark, sf_dir):
    """Blocked fuzzy matching: candidate pairs restricted to the same
    (brand, size) block via an equi shuffle join, then the quadratic
    levenshtein only inside each small block — the standard
    record-linkage shape that keeps edit-distance dedup from going
    O(n^2) over the whole table."""
    p = load_table(spark, sf_dir, "part").select(
        "p_partkey", "p_brand", "p_size", "p_name"
    )
    a = p.alias("a")
    b = p.alias("b")
    dist = F.levenshtein(F.col("a.p_name"), F.col("b.p_name"))
    return (
        a.join(
            b,
            (F.col("a.p_brand") == F.col("b.p_brand"))
            & (F.col("a.p_size") == F.col("b.p_size"))
            & (F.col("a.p_partkey") < F.col("b.p_partkey")),
        )
        .filter(dist <= 12)
        .select(
            F.col("a.p_partkey").alias("part_a"),
            F.col("b.p_partkey").alias("part_b"),
            dist.alias("dist"),
        )
    )


@q(
    "vector_dim_profile",
    """SELECT CAST(dim AS INTEGER) AS dim, COUNT(*) AS n,
              ROUND(avg(val), 4) AS mean,
              ROUND(stddev_samp(val), 4) AS sd,
              ROUND(min(val), 4) AS vmin,
              ROUND(max(val), 4) AS vmax
       FROM (SELECT generate_subscripts(embedding, 1) AS dim,
                    unnest(embedding) AS val
             FROM embeddings)
       GROUP BY 1""",
)
def vector_dim_profile(spark, sf_dir):
    """Per-dimension distribution profile of the embedding space
    (feature-drift monitoring): posexplode to (dim, value) rows, one
    groupBy on the 64 dimension keys. At scale the explode is
    map-side only and the shuffle carries 64 partial-agg rows per
    task, not the exploded data."""
    e = load_table(spark, sf_dir, "embeddings")
    flat = e.select(F.posexplode("embedding").alias("pos", "val"))
    return (
        flat.groupBy((F.col("pos") + 1).alias("dim"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.avg("val"), 4).alias("mean"),
            F.round(F.stddev_samp("val"), 4).alias("sd"),
            F.round(F.min("val"), 4).alias("vmin"),
            F.round(F.max("val"), 4).alias("vmax"),
        )
    )


@q(
    "order_value_window_suite",
    """SELECT o_custkey, o_orderkey,
              first_value(o_totalprice) OVER w AS first_price,
              last_value(o_totalprice) OVER w AS last_price,
              nth_value(o_totalprice, 2) OVER w AS second_price
       FROM orders
       WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderkey
                    ROWS BETWEEN UNBOUNDED PRECEDING
                             AND UNBOUNDED FOLLOWING)""",
)
def order_value_window_suite(spark, sf_dir):
    """first/last/nth value navigation over an explicit full-partition
    frame — the frame is stated (not the default to-current-row) so
    last_value means the partition's last row, and the order key is
    the unique o_orderkey so every navigation target is tie-free."""
    o = load_table(spark, sf_dir, "orders")
    w = (
        Window.partitionBy("o_custkey")
        .orderBy("o_orderkey")
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    )
    return o.select(
        "o_custkey",
        "o_orderkey",
        F.first("o_totalprice").over(w).alias("first_price"),
        F.last("o_totalprice").over(w).alias("last_price"),
        F.nth_value("o_totalprice", 2).over(w).alias("second_price"),
    )


@q(
    "nation_balance_flags",
    """SELECT c_nationkey,
              COUNT(*) AS n,
              CAST(count_if(c_acctbal < 0) AS BIGINT) AS n_neg,
              bool_and(c_acctbal > -1000) AS all_above_floor,
              bool_or(c_acctbal < 0) AS any_neg,
              ROUND(median(c_acctbal), 4) AS med
       FROM customer GROUP BY 1""",
)
def nation_balance_flags(spark, sf_dir):
    """Conditional and boolean aggregates (count_if / bool_and /
    bool_or) plus exact interpolated median, one JVM pass per
    nation."""
    c = load_table(spark, sf_dir, "customer")
    return c.groupBy("c_nationkey").agg(
        F.count(F.lit(1)).alias("n"),
        F.count_if(F.col("c_acctbal") < 0).alias("n_neg"),
        F.bool_and(F.col("c_acctbal") > -1000).alias("all_above_floor"),
        F.bool_or(F.col("c_acctbal") < 0).alias("any_neg"),
        F.round(F.median("c_acctbal"), 4).alias("med"),
    )


@q(
    "running_distinct_users",
    """WITH firsts AS (
         SELECT user_id, MIN(CAST(ts AS DATE)) AS d FROM events GROUP BY 1),
       newby AS (SELECT d, COUNT(*) AS new_users FROM firsts GROUP BY 1)
       SELECT d, new_users,
              CAST(SUM(new_users) OVER (ORDER BY d
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                AS BIGINT) AS cum_distinct_users
       FROM newby""",
)
def running_distinct_users(spark, sf_dir):
    """Cumulative distinct-user curve by day via the first-appearance
    trick: min(day) per user, count firsts per day, running sum.
    A naive per-prefix COUNT(DISTINCT) is quadratic and unshardable;
    this is two ordinary shuffles (user grain, then day grain) and
    the only window runs over day-grain rows — a few hundred rows
    regardless of event count, so the single-partition window is a
    constant, not a scale hazard. All-integer → fp-exact."""
    ev = load_table(spark, sf_dir, "events")
    firsts = ev.groupBy("user_id").agg(F.min(F.to_date("ts")).alias("d"))
    newby = firsts.groupBy("d").agg(F.count(F.lit(1)).alias("new_users"))
    # bounded-grain: day grain after groupBy (rows = distinct days)
    w = Window.orderBy("d").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return newby.select(
        "d",
        "new_users",
        F.sum("new_users").over(w).alias("cum_distinct_users"),
    )


@q(
    "revenue_share_of_region",
    """WITH nat AS (
         SELECT r.r_name AS region, n.n_name AS nation,
                ROUND(SUM(l.l_extendedprice * (1 - l.l_discount)), 2) AS rev
         FROM lineitem l
         JOIN orders o ON l.l_orderkey = o.o_orderkey
         JOIN customer c ON o.o_custkey = c.c_custkey
         JOIN nation n ON c.c_nationkey = n.n_nationkey
         JOIN region r ON n.n_regionkey = r.r_regionkey
         GROUP BY 1, 2)
       SELECT region, nation,
              rev AS revenue,
              ROUND(rev / SUM(rev) OVER (PARTITION BY region), 6)
                AS region_share
       FROM nat""",
)
def revenue_share_of_region(spark, sf_dir):
    """Share-of-total window over a star-join aggregate: each nation's
    revenue as a fraction of its region's. The fact stream shuffles
    once (to nation grain, dims broadcast); the PARTITION BY window
    then runs over 25 pre-aggregated rows. Revenue is rounded at the
    stage boundary (cents, ~13 orders above double error at this
    magnitude), so the share's numerator and denominator see
    identical inputs on both engines before the rounded division."""
    t = load_tables(spark, sf_dir)
    li, o, c, n, r = (
        t["lineitem"],
        t["orders"],
        t["customer"],
        t["nation"],
        t["region"],
    )
    rev = F.round(
        F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
    )
    nat = (
        li.join(o, li["l_orderkey"] == o["o_orderkey"])
        .join(F.broadcast(c), o["o_custkey"] == c["c_custkey"])
        .join(F.broadcast(n), c["c_nationkey"] == n["n_nationkey"])
        .join(F.broadcast(r), n["n_regionkey"] == r["r_regionkey"])
        .groupBy(F.col("r_name").alias("region"), F.col("n_name").alias("nation"))
        .agg(rev.alias("rev"))
    )
    w = Window.partitionBy("region")
    return nat.select(
        "region",
        "nation",
        F.col("rev").alias("revenue"),
        F.round(F.col("rev") / F.sum("rev").over(w), 6).alias("region_share"),
    )


@q(
    "modal_event_type_per_user",
    """SELECT user_id, event_type AS modal_type, n
       FROM (SELECT user_id, event_type, COUNT(*) AS n,
                    ROW_NUMBER() OVER (PARTITION BY user_id
                                       ORDER BY COUNT(*) DESC, event_type)
                      AS rn
             FROM events GROUP BY 1, 2)
       WHERE rn = 1""",
)
def modal_event_type_per_user(spark, sf_dir):
    """Per-user modal category — mode() with a *defined* tie-break
    (count desc, then type asc), because both engines' built-in
    mode() pick ties arbitrarily and would never hash-match. One
    shuffle to (user, type) counts; the ranking window re-uses the
    user partitioning. All-integer."""
    ev = load_table(spark, sf_dir, "events")
    cnt = ev.groupBy("user_id", "event_type").agg(F.count(F.lit(1)).alias("n"))
    w = Window.partitionBy("user_id").orderBy(F.desc("n"), F.asc("event_type"))
    return (
        cnt.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("user_id", F.col("event_type").alias("modal_type"), "n")
    )


@q(
    "incremental_agg_merge",
    """SELECT l_returnflag,
              COUNT(*) AS n,
              CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
                AS total_price,
              MIN(l_quantity) AS min_qty,
              MAX(l_quantity) AS max_qty,
              ROUND(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
                    / COUNT(*), 4) AS avg_price
       FROM lineitem GROUP BY 1""",
)
def incremental_agg_merge(spark, sf_dir):
    """Incremental aggregate maintenance: the table is split into a
    'base' snapshot (shipdate < 1997) and a 'delta' batch, each
    reduced to mergeable partial states (count, decimal sum, min,
    max), and the states are merged — count+count, sum+sum, min(min),
    max(max), avg re-derived from merged sum/count. The oracle is the
    *full recompute*, so a hash-match proves the merge is lossless —
    the algebraic property that lets a 100 TB nightly aggregate
    absorb a daily delta without rescanning history. Each partial agg
    is one map-side-combined shuffle over its slice; the merge
    itself shuffles only 2×|groups| state rows."""
    li = load_table(spark, sf_dir, "lineitem")
    cut = F.lit("1997-01-01").cast("timestamp")

    def partial(df):
        return df.groupBy("l_returnflag").agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("l_extendedprice").cast("decimal(18,2)")).alias("s"),
            F.min("l_quantity").alias("mn"),
            F.max("l_quantity").alias("mx"),
        )

    states = partial(li.filter(F.col("l_shipdate") < cut)).unionByName(
        partial(li.filter(F.col("l_shipdate") >= cut))
    )
    merged = states.groupBy("l_returnflag").agg(
        F.sum("n").alias("n"),
        F.sum("s").alias("s"),
        F.min("mn").alias("min_qty"),
        F.max("mx").alias("max_qty"),
    )
    return merged.select(
        "l_returnflag",
        "n",
        F.col("s").cast("double").alias("total_price"),
        "min_qty",
        "max_qty",
        F.round(F.col("s").cast("double") / F.col("n"), 4).alias("avg_price"),
    )


@q(
    "aggnav_priority_rollup",
    """SELECT o_orderpriority,
              COUNT(*) AS n_orders,
              CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(18,2))), 2)
                   AS DOUBLE) AS total_value,
              ROUND(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
                    / COUNT(*), 4) AS avg_value,
              MAX(o_totalprice) AS max_value
       FROM orders GROUP BY 1""",
)
def aggnav_priority_rollup(spark, sf_dir):
    """Aggregate navigation (plans/aggnav.py): the query asks for
    priority-grain measures; the navigator answers it from a
    registered (priority, year) summary — COUNT re-sums, SUM re-sums,
    MAX re-maxes, AVG re-derives as SUM÷COUNT — never touching fact
    rows. The oracle is the *direct fact-table aggregate*, so a
    hash-match proves the rewrite is lossless (the algebraic
    re-aggregation contract). At 100 TB the summary is a materialized
    table a scheduler refreshes; here it is built in-flight, which
    keeps the same plan shape (fact scanned once at summary grain,
    then a 5-row rollup)."""
    from ..plans import aggnav

    o = load_table(spark, sf_dir, "orders")
    # DECIMAL accumulation through the summary (lint sf1-extrapolation:
    # the float partial-sum chain reaches ~6e12 demand at sf1): the
    # partial states and their re-aggregation stay exact, so the
    # navigator's answer is order-independent at any scale
    fact = o.withColumn(
        "o_totalprice", F.col("o_totalprice").cast("decimal(18,2)")
    )
    summary = aggnav.build_summary(
        "orders_by_priority_year",
        fact.withColumn("yr", F.year("o_orderdate")),
        ["o_orderpriority", "yr"],
        [("sum", "o_totalprice"), ("max", "o_totalprice")],
    )
    out, used = aggnav.plan_aggregate(
        o,
        ["o_orderpriority"],
        [
            aggnav.Measure("count", "", "n_orders"),
            aggnav.Measure("sum", "o_totalprice", "total_value"),
            aggnav.Measure("avg", "o_totalprice", "avg_value"),
            aggnav.Measure("max", "o_totalprice", "max_value"),
        ],
        [summary],
    )
    assert used == "orders_by_priority_year"
    return out.select(
        "o_orderpriority",
        "n_orders",
        F.round("total_value", 2).cast("double").alias("total_value"),
        F.round("avg_value", 4).alias("avg_value"),
        F.col("max_value").cast("double").alias("max_value"),
    )


@q(
    "schema_evolution_union",
    """WITH gen1 AS (
         SELECT event_id, user_id, event_type, value
         FROM events WHERE event_id % 2 = 0),
       gen2 AS (
         SELECT event_id, user_id, event_type, value, props,
                UPPER(event_type) AS channel
         FROM events WHERE event_id % 2 = 1),
       unified AS (
         SELECT * FROM gen1 UNION ALL BY NAME SELECT * FROM gen2)
       SELECT event_type,
              COUNT(*) AS n_rows,
              COUNT(props) AS n_with_props,
              COUNT(channel) AS n_with_channel,
              CAST(ROUND(SUM(CAST(value AS DECIMAL(18,4))), 2) AS DOUBLE)
                AS total_value
       FROM unified GROUP BY event_type""",
)
def schema_evolution_union(spark, sf_dir):
    """Schema-drift unification: an old-generation extract (no props
    column) and a new-generation extract (adds a channel column) are
    combined with unionByName(allowMissingColumns=True) — missing
    columns null-fill per row's generation, the lakehouse
    schema-evolution contract (Delta mergeSchema semantics expressed
    at the DataFrame layer). The audit counts how many rows carry
    each evolved column. Oracle: DuckDB's UNION ALL BY NAME."""
    ev = load_table(spark, sf_dir, "events")
    gen1 = ev.filter(F.col("event_id") % 2 == 0).select(
        "event_id", "user_id", "event_type", "value"
    )
    gen2 = ev.filter(F.col("event_id") % 2 == 1).select(
        "event_id",
        "user_id",
        "event_type",
        "value",
        "props",
        F.upper("event_type").alias("channel"),
    )
    unified = gen1.unionByName(gen2, allowMissingColumns=True)
    return unified.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.count("props").alias("n_with_props"),
        F.count("channel").alias("n_with_channel"),
        F.round(F.sum(F.col("value").cast("decimal(18,4)")), 2)
        .cast("double")
        .alias("total_value"),
    )


@q(
    "semi_additive_month_end_balance",
    """WITH bal AS (
         SELECT user_id, date_trunc('month', ts) AS m, ts, event_id,
                SUM(value) OVER (PARTITION BY user_id
                                 ORDER BY ts, event_id) AS run_bal
         FROM events),
       eom AS (
         SELECT user_id, m,
                CAST(ROUND(run_bal, 4) AS DECIMAL(18,4)) AS eom_bal,
                ROW_NUMBER() OVER (PARTITION BY user_id, m
                                   ORDER BY ts DESC, event_id DESC) AS rn
         FROM bal),
       last_in_month AS (SELECT user_id, m, eom_bal FROM eom WHERE rn = 1),
       months AS (SELECT DISTINCT m FROM last_in_month),
       users AS (SELECT DISTINCT user_id FROM last_in_month),
       spine AS (SELECT u.user_id, mo.m FROM users u CROSS JOIN months mo),
       filled AS (
         SELECT s.user_id, s.m,
                last_value(l.eom_bal IGNORE NULLS) OVER (
                  PARTITION BY s.user_id ORDER BY s.m) AS bal
         FROM spine s LEFT JOIN last_in_month l
           ON s.user_id = l.user_id AND s.m = l.m)
       SELECT CAST(m AS TIMESTAMP) AS month,
              COUNT(bal) AS n_accounts,
              CAST(ROUND(SUM(bal), 2) AS DOUBLE) AS total_balance
       FROM filled GROUP BY 1""",
)
def semi_additive_month_end_balance(spark, sf_dir):
    """Semi-additive measure — the balance-style fact that sums across
    ACCOUNTS but not across TIME: treat event values as account
    movements, take each user's month-END running balance, carry it
    forward through inactive months (spine × last-ignorenulls
    forward fill), then total per month. The running sum is an
    ordered sequential window (identical IEEE order both engines),
    rounded then decimal-cast so the cross-account total is exact.
    Plan: one user-partition window chain + a tiny months-spine
    broadcast cross join + one month rollup — the user partitioning
    is reused across the running-sum, dedup, and fill windows."""
    ev = load_table(spark, sf_dir, "events")
    wrun = Window.partitionBy("user_id").orderBy("ts", "event_id")
    bal = ev.select(
        "user_id",
        F.date_trunc("month", "ts").alias("m"),
        "ts",
        "event_id",
        F.sum("value").over(wrun).alias("run_bal"),
    )
    wlast = Window.partitionBy("user_id", "m").orderBy(
        F.desc("ts"), F.desc("event_id")
    )
    last_in_month = (
        bal.withColumn("rn", F.row_number().over(wlast))
        .filter(F.col("rn") == 1)
        .select(
            "user_id",
            "m",
            F.round("run_bal", 4).cast("decimal(18,4)").alias("eom_bal"),
        )
    )
    months = last_in_month.select("m").distinct()
    users = last_in_month.select("user_id").distinct()
    spine = users.join(F.broadcast(months))
    wfill = (
        Window.partitionBy("user_id")
        .orderBy("m")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    filled = (
        spine.join(last_in_month, ["user_id", "m"], "left")
        .withColumn("bal", F.last("eom_bal", ignorenulls=True).over(wfill))
    )
    return filled.groupBy(F.col("m").alias("month")).agg(
        F.count("bal").alias("n_accounts"),
        F.round(F.sum("bal"), 2).cast("double").alias("total_balance"),
    )


@q(
    "customer_rfm_segments",
    """WITH per_cust AS (
         SELECT o_custkey,
                MAX(o_orderdate) AS last_order,
                COUNT(*) AS frequency,
                CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(18,2))), 2) AS DOUBLE)
                  AS monetary
         FROM orders GROUP BY 1),
       scored AS (
         SELECT o_custkey,
                NTILE(4) OVER (ORDER BY last_order ASC, o_custkey ASC) AS r_score,
                NTILE(4) OVER (ORDER BY frequency ASC, o_custkey ASC) AS f_score,
                NTILE(4) OVER (ORDER BY monetary ASC, o_custkey ASC) AS m_score
         FROM per_cust)
       SELECT CAST(r_score AS INTEGER) AS r_score,
              CAST(f_score AS INTEGER) AS f_score,
              CAST(m_score AS INTEGER) AS m_score,
              CONCAT(r_score, '-', f_score, '-', m_score) AS segment,
              COUNT(*) AS n_customers
       FROM scored GROUP BY 1, 2, 3, 4""",
)
def customer_rfm_segments(spark, sf_dir):
    """RFM segmentation — recency/frequency/monetary quartiles per
    customer, counted per 4x4x4 segment cell. Ties break on custkey
    so NTILE assignment is identical across engines. The quartile
    windows are global-order over the customer-grain AGGREGATE (not
    raw orders) — at 100 TB that input is |customers| rows, and the
    scale path is percentile-threshold bucketing instead of NTILE if
    even that single-partition sort bites."""
    o = load_table(spark, sf_dir, "orders")
    per_cust = o.groupBy("o_custkey").agg(
        F.max("o_orderdate").alias("last_order"),
        F.count(F.lit(1)).alias("frequency"),
        F.round(F.sum(F.col("o_totalprice").cast("decimal(18,2)")), 2)
        .cast("double")
        .alias("monetary"),
    )
    scored = per_cust.select(
        "o_custkey",
        F.ntile(4)
        # bounded-grain: customer grain after groupBy; RFM quartiles
        # need global ranks — 100 TB path is approx-quantile cut points
        .over(Window.orderBy(F.asc("last_order"), F.asc("o_custkey")))
        .alias("r_score"),
        F.ntile(4)
        # bounded-grain: customer grain (same as r_score above)
        .over(Window.orderBy(F.asc("frequency"), F.asc("o_custkey")))
        .alias("f_score"),
        F.ntile(4)
        # bounded-grain: customer grain (same as r_score above)
        .over(Window.orderBy(F.asc("monetary"), F.asc("o_custkey")))
        .alias("m_score"),
    )
    return scored.groupBy("r_score", "f_score", "m_score").agg(
        F.concat_ws("-", "r_score", "f_score", "m_score").alias("segment"),
        F.count(F.lit(1)).alias("n_customers"),
    ).select("r_score", "f_score", "m_score", "segment", "n_customers")


@q(
    "event_type_transition_matrix",
    """WITH seq AS (
         SELECT user_id, event_type,
                LEAD(event_type) OVER (PARTITION BY user_id
                                       ORDER BY ts, event_id) AS next_type
         FROM events)
       SELECT event_type AS from_type, next_type AS to_type,
              COUNT(*) AS n_transitions,
              ROUND(CAST(COUNT(*) AS DOUBLE) /
                    SUM(COUNT(*)) OVER (PARTITION BY event_type), 6)
                AS transition_prob
       FROM seq WHERE next_type IS NOT NULL
       GROUP BY 1, 2""",
)
def event_type_transition_matrix(spark, sf_dir):
    """First-order behavioral transition matrix: for each user's
    time-ordered event sequence, count (current -> next) event-type
    pairs and normalize per source state — the Markov-chain estimate
    behind next-action prediction and funnel-leak analysis. One
    user-partition lead window + one pair-grain aggregate + a
    25-row normalization window."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        "event_type", F.lead("event_type").over(w).alias("next_type")
    ).filter(F.col("next_type").isNotNull())
    counts = seq.groupBy(
        F.col("event_type").alias("from_type"), F.col("next_type").alias("to_type")
    ).agg(F.count(F.lit(1)).alias("n_transitions"))
    wnorm = Window.partitionBy("from_type")
    return counts.select(
        "from_type",
        "to_type",
        "n_transitions",
        F.round(
            F.col("n_transitions").cast("double")
            / F.sum("n_transitions").over(wnorm),
            6,
        ).alias("transition_prob"),
    )


@q(
    "brand_basket_affinity",
    """WITH ob AS (
         SELECT DISTINCT l.l_orderkey, p.p_brand
         FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey),
       n AS (SELECT CAST(COUNT(DISTINCT l_orderkey) AS DOUBLE) AS n_orders
             FROM ob),
       per_brand AS (
         SELECT p_brand, COUNT(*) AS n_brand FROM ob GROUP BY 1),
       pairs AS (
         SELECT a.p_brand AS brand_a, b.p_brand AS brand_b,
                COUNT(*) AS n_both
         FROM ob a JOIN ob b
           ON a.l_orderkey = b.l_orderkey AND a.p_brand < b.p_brand
         GROUP BY 1, 2)
       SELECT pr.brand_a, pr.brand_b, pr.n_both,
              ROUND((pr.n_both / n.n_orders)
                    / ((pa.n_brand / n.n_orders) * (pb.n_brand / n.n_orders)),
                    4) AS lift
       FROM pairs pr
       JOIN per_brand pa ON pr.brand_a = pa.p_brand
       JOIN per_brand pb ON pr.brand_b = pb.p_brand
       CROSS JOIN n
       WHERE pr.n_both >= 20
       ORDER BY lift DESC, brand_a ASC, brand_b ASC
       LIMIT 20""",
)
def brand_basket_affinity(spark, sf_dir):
    """Market-basket affinity: brand pairs that co-occur in the same
    order more than independence predicts (lift > 1), min-support 20.
    The fact stream shuffles once per consumer, to order grain:
    collect_set builds each order's deduped brand basket directly (no
    separate (order, brand)-grain distinct pass), and pairs are
    generated inside the row by array combination — the pair fan-out
    is bounded by brands-per-order (market-basket's standard guard)
    with no second fact-sized self-join. (A measured dead end, kept
    as a note: folding n/per-brand/pairs into one tagged multi-grain
    explode halves the shuffles but TRIPLES the shuffled rows — the
    lookup-row fan-out costs more than the extra map-side scans it
    saves.) At 100 TB the same plan is co-partitioned order-grain
    shuffles; skew guard = cap on basket size."""
    li = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part")
    baskets = (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .groupBy("l_orderkey")
        .agg(F.sort_array(F.collect_set("p_brand")).alias("__bs"))
    )
    n = baskets.agg(F.count(F.lit(1)).cast("double").alias("n_orders"))
    per_brand = (
        baskets.select(F.explode("__bs").alias("p_brand"))
        .groupBy("p_brand")
        .agg(F.count(F.lit(1)).alias("n_brand"))
    )
    pairs = (
        baskets.select(
            F.explode(
                F.expr(
                    "flatten(transform(__bs, (x, i) -> "
                    "transform(slice(__bs, i + 2, size(__bs)), "
                    "y -> struct(x AS brand_a, y AS brand_b))))"
                )
            ).alias("__pr")
        )
        .select("__pr.brand_a", "__pr.brand_b")
        .groupBy("brand_a", "brand_b")
        .agg(F.count(F.lit(1)).alias("n_both"))
        .filter(F.col("n_both") >= 20)
    )
    pa = per_brand.select(
        F.col("p_brand").alias("ba"), F.col("n_brand").alias("n_a")
    )
    pb = per_brand.select(
        F.col("p_brand").alias("bb"), F.col("n_brand").alias("n_b")
    )
    lift = F.round(
        (F.col("n_both") / F.col("n_orders"))
        / ((F.col("n_a") / F.col("n_orders")) * (F.col("n_b") / F.col("n_orders"))),
        4,
    )
    return (
        pairs.join(F.broadcast(pa), F.col("brand_a") == F.col("ba"))
        .join(F.broadcast(pb), F.col("brand_b") == F.col("bb"))
        .join(F.broadcast(n))
        .select("brand_a", "brand_b", "n_both", lift.alias("lift"))
        .orderBy(F.desc("lift"), F.asc("brand_a"), F.asc("brand_b"))
        .limit(20)
    )
