"""Batch relational query inventory (SURVEY.md §2.3-§2.9) with DuckDB
oracles.

Determinism rules used throughout (the driver hash-compares values):
  - money sums go through DECIMAL(18,2) so the result is exact and
    order-independent in both engines (double sums are partition-order
    dependent in Spark);
  - averages are exact-decimal-sum / count, cast to double, rounded;
  - any LIMIT carries a full deterministic ORDER BY with tiebreakers;
  - raw doubles (unaggregated) pass through untouched — byte-identical
    from the same parquet;
  - timestamps formatted to strings wherever a grain function is used.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from ..catalog import load_table, load_tables
from ..dims import generators
from ..functions import datetime_fns, finance, hashing
from ..operators import aggregates, joins, sets, windows
from . import registry

QUERIES, ORACLES, q = registry.module()


# ---------------------------------------------------------------- P: scans/filters

@q(
    "pruned_scan_projection",
    """SELECT l_orderkey, l_linenumber, l_extendedprice, l_shipdate
       FROM lineitem WHERE l_shipdate < TIMESTAMP '1996-01-01'""",
)
def pruned_scan_projection(spark, sf_dir):
    """P4/column pruning: filter+project reach the parquet scan
    (verified via explain: PushedFilters + 4-column ReadSchema)."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.filter(F.col("l_shipdate") < "1996-01-01").select(
        "l_orderkey", "l_linenumber", "l_extendedprice", "l_shipdate"
    )


@q(
    "conjunctive_filter",
    """SELECT event_id, user_id, value, CAST(ts AS TIMESTAMP) AS ts
       FROM events WHERE event_type = 'purchase' AND value > 100""",
)
def conjunctive_filter(spark, sf_dir):
    """P5: (a == x) & (b > y) conjunctive predicate (udf.py:37 shape)."""
    ev = load_table(spark, sf_dir, "events")
    return ev.filter(
        (F.col("event_type") == "purchase") & (F.col("value") > 100)
    ).select("event_id", "user_id", "value", "ts")


@q(
    "null_default_coalesce",
    """SELECT c.c_custkey,
              ROUND(CAST(COALESCE(SUM(CAST(o.o_totalprice AS DECIMAL(18,2))), 0)
                         AS DOUBLE), 2) AS total_spend,
              COUNT(o.o_orderkey) AS n_orders
       FROM customer c LEFT JOIN orders o ON c.c_custkey = o.o_custkey
       GROUP BY c.c_custkey""",
)
def null_default_coalesce(spark, sf_dir):
    """P9 + §2.9 null defaulting (utils.py:27-31 coalesce semantics).

    Decimal arithmetic internally (order-insensitive sums); DOUBLE+ROUND
    on the output so the driver's typed hash sees the same representation
    both engines produce — the `_REV` convention green in 46 queries.
    """
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    return (
        c.join(o, c.c_custkey == o.o_custkey, "left")
        .groupBy("c_custkey")
        .agg(
            F.round(
                F.coalesce(
                    F.sum(F.col("o_totalprice").cast("decimal(18,2)")),
                    F.lit(0).cast("decimal(18,2)"),
                ).cast("double"),
                2,
            ).alias("total_spend"),
            F.count("o_orderkey").alias("n_orders"),
        )
    )


@q(
    "json_extract_group",
    """SELECT CAST(json_extract_string(props, '$.k') AS INT) AS k,
              COUNT(*) AS n,
              ROUND(CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE), 2)
                  AS total_value
       FROM events GROUP BY 1""",
)
def json_extract_group(spark, sf_dir):
    """P2/S6 analog: JSON field extraction then aggregate
    (code.ipynb delta-log stats pattern -> get_json_object).
    Output ROUND-to-DOUBLE per the proven `_REV` hash convention."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.select(
            F.get_json_object("props", "$.k").cast("int").alias("k"), "value"
        )
        .groupBy("k")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(
                F.sum(F.col("value").cast("decimal(18,2)")).cast("double"), 2
            ).alias("total_value"),
        )
    )


@q(
    "case_bucketing",
    """SELECT event_type,
              CASE WHEN value < 50 THEN 'low' WHEN value < 150 THEN 'mid' ELSE 'high' END AS bucket,
              COUNT(*) AS n
       FROM events GROUP BY 1, 2""",
)
def case_bucketing(spark, sf_dir):
    """Semantic-layer adhoc CASE metric (Superset sqlExpression shape)."""
    ev = load_table(spark, sf_dir, "events")
    bucket = (
        F.when(F.col("value") < 50, "low")
        .when(F.col("value") < 150, "mid")
        .otherwise("high")
        .alias("bucket")
    )
    return ev.groupBy("event_type", bucket).agg(F.count(F.lit(1)).alias("n"))


# ---------------------------------------------------------------- J: joins

@q(
    "broadcast_left_enrich",
    """SELECT l.l_orderkey, l.l_linenumber, l.l_suppkey, s.s_name, s.s_acctbal
       FROM lineitem l LEFT JOIN supplier s ON l.l_suppkey = s.s_suppkey""",
)
def broadcast_left_enrich(spark, sf_dir):
    """J1: big-side-preserving broadcast left join
    (streaming_pipeline.py:33 + etl.py:58 stream-static enrich)."""
    li = load_table(spark, sf_dir, "lineitem")
    s = load_table(spark, sf_dir, "supplier")
    return joins.broadcast_enrich(
        li, s, li.l_suppkey == s.s_suppkey, "left"
    ).select("l_orderkey", "l_linenumber", "l_suppkey", "s_name", "s_acctbal")


@q(
    "left_anti_new_rows",
    """SELECT c_custkey, c_name FROM customer
       WHERE c_custkey NOT IN (SELECT o_custkey FROM orders WHERE o_totalprice > 400000)""",
)
def left_anti_new_rows(spark, sf_dir):
    """J2: left-anti detection of rows absent from target
    (populate_dim.py:84-88 new-coin detection)."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    return joins.new_rows(
        c.select("c_custkey", "c_name"),
        o.filter(F.col("o_totalprice") > 400000).selectExpr("o_custkey AS c_custkey"),
        ["c_custkey"],
    )


@q(
    "two_key_left_merge",
    """SELECT o.o_orderkey, o.o_totalprice, q.qty
       FROM orders o
       LEFT JOIN (SELECT l_orderkey,
                         ROUND(CAST(SUM(CAST(l_quantity AS DECIMAL(18,2)))
                                    AS DOUBLE), 2) AS qty
                  FROM lineitem GROUP BY l_orderkey) q
         ON o.o_orderkey = q.l_orderkey
       WHERE o.o_totalprice > 300000""",
)
def two_key_left_merge(spark, sf_dir):
    """J7: actuals-left-join-predictions merge shape (Garch_v1 cell 49).
    Output ROUND-to-DOUBLE per the proven `_REV` hash convention."""
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    qty = li.groupBy("l_orderkey").agg(
        F.round(
            F.sum(F.col("l_quantity").cast("decimal(18,2)")).cast("double"), 2
        ).alias("qty")
    )
    return (
        o.filter(F.col("o_totalprice") > 300000)
        .join(qty, o.o_orderkey == qty.l_orderkey, "left")
        .select("o_orderkey", "o_totalprice", "qty")
    )


@q(
    "full_outer_concat",
    """SELECT COALESCE(a.cust, b.cust) AS cust, a.n_early, b.n_late
       FROM (SELECT o_custkey AS cust, COUNT(*) AS n_early FROM orders
             WHERE o_orderdate < TIMESTAMP '1998-01-01' GROUP BY 1) a
       FULL OUTER JOIN
            (SELECT o_custkey AS cust, COUNT(*) AS n_late FROM orders
             WHERE o_orderdate >= TIMESTAMP '1998-01-01' GROUP BY 1) b
       ON a.cust = b.cust""",
)
def full_outer_concat(spark, sf_dir):
    """J8: index-aligned outer concat (pd.concat axis=1) as full outer join."""
    o = load_table(spark, sf_dir, "orders")
    a = (
        o.filter(F.col("o_orderdate") < "1998-01-01")
        .groupBy(F.col("o_custkey").alias("cust_a"))
        .agg(F.count(F.lit(1)).alias("n_early"))
    )
    b = (
        o.filter(F.col("o_orderdate") >= "1998-01-01")
        .groupBy(F.col("o_custkey").alias("cust_b"))
        .agg(F.count(F.lit(1)).alias("n_late"))
    )
    return a.join(b, a.cust_a == b.cust_b, "outer").select(
        F.coalesce("cust_a", "cust_b").alias("cust"), "n_early", "n_late"
    )


@q(
    "asof_join_last_price",
    """WITH daily AS (
         SELECT date_trunc('day', o_orderdate) AS d,
                MAX(o_totalprice) AS day_max
         FROM orders GROUP BY 1)
       SELECT l.l_orderkey, l.l_linenumber,
              strftime(l.l_shipdate, '%Y-%m-%d') AS ship_day,
              d.day_max AS last_day_max
       FROM (SELECT * FROM lineitem WHERE l_orderkey < 100) l
       ASOF LEFT JOIN daily d ON l.l_shipdate >= d.d""",
)
def asof_join_last_price(spark, sf_dir):
    """As-of join: idiomatic replacement for the reference's
    window+collect 'last price of previous day' (udf.py:16-46); each
    lineitem picks the latest daily order-price max at-or-before its
    ship date."""
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem").filter(F.col("l_orderkey") < 100)
    daily = o.groupBy(F.date_trunc("day", "o_orderdate").alias("d")).agg(
        F.max("o_totalprice").alias("day_max")
    )
    # single-series as-of: constant key on both sides
    enriched = joins.asof_join(
        li.withColumn("__k", F.lit(1)),
        daily.withColumn("__k", F.lit(1)).withColumnRenamed("day_max", "last_day_max"),
        on=["__k"],
        left_time="l_shipdate",
        right_time="d",
        right_vals=["last_day_max"],
    )
    return enriched.select(
        "l_orderkey",
        "l_linenumber",
        F.date_format("l_shipdate", "yyyy-MM-dd").alias("ship_day"),
        "last_day_max",
    )


# ---------------------------------------------------------------- A: aggregates

@q(
    "grouped_max_topn",
    """SELECT p_brand, MAX(p_retailprice) AS max_price
       FROM part GROUP BY p_brand
       ORDER BY max_price DESC, p_brand ASC LIMIT 10""",
)
def grouped_max_topn(spark, sf_dir):
    """A6/O4: grouped MAX + ORDER BY DESC + LIMIT
    (dashboard JSON:151 'Top trading volume')."""
    p = load_table(spark, sf_dir, "part")
    return aggregates.grouped_topn(
        p, ["p_brand"], F.max("p_retailprice"), "max_price", 10
    )


@q(
    "global_sum_filtered",
    """SELECT ROUND(CAST(SUM(CAST(s_acctbal AS DECIMAL(18,2))) AS DOUBLE), 2)
                  AS total_balance,
              COUNT(*) AS n_suppliers
       FROM supplier WHERE s_acctbal > 0""",
)
def global_sum_filtered(spark, sf_dir):
    """A7: global SUM with filter (dashboard JSON:175 'Total volume').
    Output ROUND-to-DOUBLE per the proven `_REV` hash convention."""
    s = load_table(spark, sf_dir, "supplier")
    return s.filter(F.col("s_acctbal") > 0).agg(
        F.round(
            F.sum(F.col("s_acctbal").cast("decimal(18,2)")).cast("double"), 2
        ).alias("total_balance"),
        F.count(F.lit(1)).alias("n_suppliers"),
    )


@q(
    "count_distinct_metrics",
    """SELECT COUNT(DISTINCT o_custkey) AS n_customers,
              COUNT(*) AS n_orders,
              COUNT(DISTINCT o_orderpriority) AS n_priorities
       FROM orders""",
)
def count_distinct_metrics(spark, sf_dir):
    """A3/A4: COUNT(*) + COUNT(DISTINCT) (dashboard JSON:1211)."""
    o = load_table(spark, sf_dir, "orders")
    return o.agg(
        F.countDistinct("o_custkey").alias("n_customers"),
        F.count(F.lit(1)).alias("n_orders"),
        F.countDistinct("o_orderpriority").alias("n_priorities"),
    )


@q(
    "time_grained_series",
    """SELECT strftime(date_trunc('day', CAST(ts AS TIMESTAMP)), '%Y-%m-%d') AS grain,
              MAX(value) AS max_value,
              ROUND(CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*), 6) AS avg_value,
              COUNT(*) AS n
       FROM events GROUP BY 1""",
)
def time_grained_series(spark, sf_dir):
    """A8: per-grain MAX + AVG series (dashboard JSON:55,67)."""
    ev = load_table(spark, sf_dir, "events")
    return aggregates.time_grained_series(
        ev,
        "ts",
        "day",
        [
            F.max("value").alias("max_value"),
            F.round(
                F.sum(F.col("value").cast("decimal(18,2)")).cast("double")
                / F.count(F.lit(1)),
                6,
            ).alias("avg_value"),
            F.count(F.lit(1)).alias("n"),
        ],
    )


@q(
    "tumbling_window_agg",
    """SELECT strftime(time_bucket(INTERVAL '1 minute', CAST(ts AS TIMESTAMP)), '%Y-%m-%d %H:%M') AS window_start,
              ROUND(CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*), 6) AS avg_value,
              MAX_BY(value, event_id) AS last_value,
              COUNT(*) AS n
       FROM events GROUP BY 1""",
)
def tumbling_window_agg(spark, sf_dir):
    """A1 batch analog: 1-minute tumbling window avg + last
    (etl.py:34-41; `last` made deterministic via max_by on event_id)."""
    ev = load_table(spark, sf_dir, "events")
    out = aggregates.tumbling_window_agg(
        ev,
        "ts",
        "1 minute",
        [
            F.round(
                F.sum(F.col("value").cast("decimal(18,2)")).cast("double")
                / F.count(F.lit(1)),
                6,
            ).alias("avg_value"),
            F.max_by("value", "event_id").alias("last_value"),
            F.count(F.lit(1)).alias("n"),
        ],
    )
    return out.select(
        F.date_format(F.col("window.start"), "yyyy-MM-dd HH:mm").alias("window_start"),
        "avg_value",
        "last_value",
        "n",
    )


# ---------------------------------------------------------------- W: window functions

@q(
    "last_per_day",
    """SELECT strftime(d, '%Y-%m-%d') AS day, event_id, value FROM (
         SELECT date_trunc('day', CAST(ts AS TIMESTAMP)) AS d, event_id, value,
                ROW_NUMBER() OVER (PARTITION BY date_trunc('day', CAST(ts AS TIMESTAMP))
                                   ORDER BY CAST(ts AS TIMESTAMP) DESC, event_id DESC) AS rn
         FROM events) WHERE rn = 1""",
)
def last_per_day(spark, sf_dir):
    """W1: last tick per day via row_number over desc order
    (udf.py:27-46 get_last_price_previous_day)."""
    ev = load_table(spark, sf_dir, "events")
    ev = ev.withColumn("d", F.date_trunc("day", "ts"))
    out = windows.last_per_group(ev, ["d"], ["ts", "event_id"])
    return out.select(
        F.date_format("d", "yyyy-MM-dd").alias("day"), "event_id", "value"
    )


@q(
    "surrogate_keys_global",
    """SELECT ROW_NUMBER() OVER (ORDER BY n_name) AS surrogate_key,
              n_nationkey, n_name FROM nation""",
)
def surrogate_keys_global(spark, sf_dir):
    """W2: consecutive surrogate keys by global order
    (populate_dim.py:91-94). Dim-sized input only; the distributed
    variant is exercised in tests."""
    n = load_table(spark, sf_dir, "nation")
    return windows.surrogate_keys(n.select("n_nationkey", "n_name"), ["n_name"]).select(
        "surrogate_key", "n_nationkey", "n_name"
    )


@q(
    "rolling_stats",
    """WITH daily AS (
         SELECT strftime(date_trunc('day', o_orderdate), '%Y-%m-%d') AS day,
                CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
         FROM orders GROUP BY 1)
       SELECT day, ROUND(r_mean, 2) AS r7_mean, ROUND(r_std, 2) AS r7_std FROM (
         SELECT day,
                AVG(revenue) OVER w AS r_mean,
                STDDEV_SAMP(revenue) OVER w AS r_std,
                ROW_NUMBER() OVER (ORDER BY day) AS rn
         FROM daily
         WINDOW w AS (ORDER BY day ROWS BETWEEN 6 PRECEDING AND CURRENT ROW))
       WHERE rn >= 7""",
)
def rolling_stats(spark, sf_dir):
    """W3/X2: trailing 7-day rolling mean/std over a daily series
    (Garch_v1 cell 13 rolling(21), garch_model_v4 cell 4 rolling(12));
    only full windows emitted."""
    o = load_table(spark, sf_dir, "orders")
    daily = o.groupBy(
        F.date_format(F.date_trunc("day", "o_orderdate"), "yyyy-MM-dd").alias("day")
    ).agg(F.sum(F.col("o_totalprice").cast("decimal(18,2)")).cast("double").alias("revenue"))
    # bounded-grain: day grain after groupBy (rows = distinct days)
    w = Window.orderBy("day")
    out = daily.select(
        "day",
        finance.rolling_mean("revenue", w, 7).alias("r_mean"),
        finance.rolling_std("revenue", w, 7).alias("r_std"),
        F.row_number().over(w).alias("rn"),
    ).filter(F.col("rn") >= 7)
    # rounded to 2: stddev accumulation algorithms differ between
    # engines at ~1e-8 absolute on 1e7-magnitude sums
    return out.select(
        "day",
        F.round("r_mean", 2).alias("r7_mean"),
        F.round("r_std", 2).alias("r7_std"),
    )


@q(
    "lag_returns",
    """WITH daily AS (
         SELECT strftime(date_trunc('day', o_orderdate), '%Y-%m-%d') AS day,
                MAX(o_totalprice) AS close
         FROM orders GROUP BY 1)
       SELECT day, close,
              ROUND((close / LAG(close, 1) OVER (ORDER BY day) - 1) * 100, 6) AS pct_return,
              ROUND(LN(close / LAG(close, 1) OVER (ORDER BY day)), 6) AS log_return,
              ROUND(close - LAG(close, 1) OVER (ORDER BY day), 6) AS diff_1
       FROM daily""",
)
def lag_returns(spark, sf_dir):
    """W4/W5/X1: lag-based % return, log return, differencing
    (Garch_v1 cell 9, test5 cell 2, garch_model_v4 cell 4)."""
    o = load_table(spark, sf_dir, "orders")
    daily = o.groupBy(
        F.date_format(F.date_trunc("day", "o_orderdate"), "yyyy-MM-dd").alias("day")
    ).agg(F.max("o_totalprice").alias("close"))
    # bounded-grain: day grain after groupBy (rows = distinct days)
    w = Window.orderBy("day")
    return daily.select(
        "day",
        "close",
        F.round(finance.pct_return("close", w), 6).alias("pct_return"),
        F.round(finance.log_return("close", w), 6).alias("log_return"),
        F.round(finance.difference("close", w), 6).alias("diff_1"),
    )


# ---------------------------------------------------------------- O: sorts / limits

@q(
    "orderby_limit_topk",
    """SELECT o_orderkey, o_totalprice FROM orders
       ORDER BY o_totalprice DESC, o_orderkey ASC LIMIT 20""",
)
def orderby_limit_topk(spark, sf_dir):
    """O2/O3/O4: top-k as sort+limit (TakeOrderedAndProject at scale)."""
    o = load_table(spark, sf_dir, "orders")
    return (
        o.orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
        .select("o_orderkey", "o_totalprice")
        .limit(20)
    )


# ---------------------------------------------------------------- U: set ops

@q(
    "union_all_series",
    """SELECT 'R' AS flag, strftime(date_trunc('month', l_shipdate), '%Y-%m') AS month, COUNT(*) AS n
       FROM lineitem WHERE l_returnflag = 'R' GROUP BY 2
       UNION ALL
       SELECT 'A' AS flag, strftime(date_trunc('month', l_shipdate), '%Y-%m') AS month, COUNT(*) AS n
       FROM lineitem WHERE l_returnflag = 'A' GROUP BY 2""",
)
def union_all_series(spark, sf_dir):
    """U1: vertical concat of two homogeneous frames (pd.concat axis=0,
    Garch_v1 cells 40,45)."""
    li = load_table(spark, sf_dir, "lineitem")

    def monthly(flag):
        return (
            li.filter(F.col("l_returnflag") == flag)
            .groupBy(
                F.date_format(F.date_trunc("month", "l_shipdate"), "yyyy-MM").alias(
                    "month"
                )
            )
            .agg(F.count(F.lit(1)).alias("n"))
            .select(F.lit(flag).alias("flag"), "month", "n")
        )

    return sets.union_all(monthly("R"), monthly("A"))


@q(
    "except_all_keys",
    """SELECT o_custkey FROM orders WHERE o_orderdate < TIMESTAMP '1998-01-01'
       EXCEPT ALL
       SELECT o_custkey FROM orders WHERE o_orderdate >= TIMESTAMP '1998-01-01'""",
)
def except_all_keys(spark, sf_dir):
    """U2: multiset difference (exceptAll; reference uses left-anti J2)."""
    o = load_table(spark, sf_dir, "orders")
    a = o.filter(F.col("o_orderdate") < "1998-01-01").select("o_custkey")
    b = o.filter(F.col("o_orderdate") >= "1998-01-01").select("o_custkey")
    return sets.difference_all(a, b)


# ---------------------------------------------------------------- scalar functions

@q(
    "scd2_hash_projection",
    """SELECT n_nationkey AS coin_id, n_name AS name,
              sha256(concat_ws('~', CAST(n_nationkey AS VARCHAR), n_name)) AS hash,
              lpad(CAST(n_nationkey AS VARCHAR), 6, '0') AS padded_id
       FROM nation""",
)
def scd2_hash_projection(spark, sf_dir):
    """§2.9: concat_ws + sha2-256 change-detection hash + lpad
    (populate_dim.py:116; TimeDelay.ipynb zfill)."""
    n = load_table(spark, sf_dir, "nation")
    return n.select(
        F.col("n_nationkey").alias("coin_id"),
        F.col("n_name").alias("name"),
        hashing.row_hash([F.col("n_nationkey").cast("string"), F.col("n_name")]).alias(
            "hash"
        ),
        datetime_fns.zero_pad_time_id("n_nationkey").alias("padded_id"),
    )


@q(
    "date_id_arithmetic",
    """SELECT o_orderkey,
              CAST(year(o_orderdate)*10000 + month(o_orderdate)*100 + day(o_orderdate) AS INT) AS date_id,
              CAST(strftime(o_orderdate, '%H%M%S') AS INT) AS time_id,
              CAST(isodow(o_orderdate) AS INT) AS iso_dow,
              strftime(o_orderdate, '%H:%M:%S') AS created_at
       FROM orders WHERE o_orderkey < 1000""",
)
def date_id_arithmetic(spark, sf_dir):
    """§2.9 date rows: date_id (udf.py:49-50), time_id (etl.py:57),
    created_at (etl.py:61)."""
    o = load_table(spark, sf_dir, "orders").filter(F.col("o_orderkey") < 1000)
    return o.select(
        "o_orderkey",
        datetime_fns.date_id("o_orderdate").alias("date_id"),
        datetime_fns.time_id("o_orderdate").alias("time_id"),
        (F.weekday("o_orderdate") + 1).cast("int").alias("iso_dow"),
        datetime_fns.created_at("o_orderdate").alias("created_at"),
    )


@q(
    "market_cap_arithmetic",
    """SELECT p_partkey,
              ROUND(p_retailprice * p_size, 2) AS notional,
              ROUND(p_retailprice / NULLIF(p_size, 0), 6) AS price_per_unit,
              ROUND((p_retailprice - 1000) / 1000 * 100, 6) AS change_pct
       FROM part""",
)
def market_cap_arithmetic(spark, sf_dir):
    """§2.9 math rows: market_cap = price*supply, change_percent =
    (price-last)/last (etl.py:59-60), guarded ratio (dashboard gauges)."""
    p = load_table(spark, sf_dir, "part")
    return p.select(
        "p_partkey",
        F.round(F.col("p_retailprice") * F.col("p_size"), 2).alias("notional"),
        F.round(
            F.col("p_retailprice") / F.nullif(F.col("p_size"), F.lit(0)), 6
        ).alias("price_per_unit"),
        F.round((F.col("p_retailprice") - 1000) / 1000 * 100, 6).alias("change_pct"),
    )


# ---------------------------------------------------------------- dims generators

@q("dim_date_generate", generators.DIM_DATE_ORACLE)
def dim_date_generate(spark, sf_dir):
    """M2: dimdate generator (populate_dim.py:33-59) — 4018 rows."""
    return generators.dim_date(spark)


@q("dim_time_generate", generators.DIM_TIME_ORACLE)
def dim_time_generate(spark, sf_dir):
    """M2: dimtime generator (populate_dim.py:11-31) — 86 400 rows."""
    return generators.dim_time(spark)


@q(
    "local_supplier_volume",
    """SELECT n.n_name AS nation,
              ROUND(SUM(l.l_extendedprice * (1 - l.l_discount)), 2) AS revenue,
              COUNT(*) AS n_lineitems
       FROM lineitem l
       JOIN orders o   ON l.l_orderkey = o.o_orderkey
       JOIN customer c ON o.o_custkey = c.c_custkey
       JOIN supplier s ON l.l_suppkey = s.s_suppkey
       JOIN nation n   ON s.s_nationkey = n.n_nationkey
       WHERE c.c_nationkey = s.s_nationkey
         AND year(o.o_orderdate) = 1995
       GROUP BY 1""",
)
def local_supplier_volume(spark, sf_dir):
    """TPC-H Q5 shape: revenue from *local* commerce — lineitems where
    the supplier and the ordering customer share a nation — per
    nation, one year. Exercises a 5-way join where one predicate
    links two different dimension branches (c_nationkey =
    s_nationkey): the fact stream joins orders by shuffle-or-
    broadcast, every true dim broadcasts, and the cross-branch
    equality applies as a post-join filter — no extra shuffle. The
    year predicate pushes into the orders scan."""
    t = load_tables(spark, sf_dir)
    li, o, c, s, n = (
        t["lineitem"],
        t["orders"],
        t["customer"],
        t["supplier"],
        t["nation"],
    )
    j = (
        li.join(
            o.filter(F.year("o_orderdate") == 1995).select(
                "o_orderkey", "o_custkey"
            ),
            li["l_orderkey"] == F.col("o_orderkey"),
        )
        .join(
            F.broadcast(c.select("c_custkey", "c_nationkey")),
            F.col("o_custkey") == F.col("c_custkey"),
        )
        .join(
            F.broadcast(s.select("s_suppkey", "s_nationkey")),
            li["l_suppkey"] == F.col("s_suppkey"),
        )
        .join(F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey"))
        .filter(F.col("c_nationkey") == F.col("s_nationkey"))
    )
    return j.groupBy(F.col("n_name").alias("nation")).agg(
        F.round(
            F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
        ).alias("revenue"),
        F.count(F.lit(1)).alias("n_lineitems"),
    )


@q(
    "supplier_revenue_share_filter",
    """WITH sup AS (
         SELECT s.s_suppkey, s.s_name,
                ROUND(SUM(l.l_extendedprice * (1 - l.l_discount)), 2) AS rev
         FROM lineitem l JOIN supplier s ON l.l_suppkey = s.s_suppkey
         GROUP BY 1, 2),
       w AS (SELECT s_suppkey, s_name, rev,
                    ROUND(SUM(rev) OVER (), 2) AS total,
                    COUNT(*) OVER () AS n_sup
             FROM sup)
       SELECT s_suppkey, s_name, rev,
              ROUND(rev / total, 6) AS share
       FROM w WHERE rev * n_sup > total""",
)
def supplier_revenue_share_filter(spark, sf_dir):
    """TPC-H Q11 shape: suppliers with above-average revenue share.
    The global total and supplier count come from an unpartitioned
    window over the already-reduced per-supplier rows — ONE pass, no
    self-join, so the fact table is scanned exactly once (a CTE
    formulation would plan two scans; Spark only deduplicates them at
    runtime via exchange reuse). The single-partition window holds
    |suppliers| rows, grain-bounded regardless of fact size. The
    significance gate is the cross-multiplication rev * n_sup >
    total — self-scaling at any SF and boundary-safe."""
    t = load_tables(spark, sf_dir)
    li, s = t["lineitem"], t["supplier"]
    sup = (
        li.join(
            F.broadcast(s.select("s_suppkey", "s_name")),
            li["l_suppkey"] == F.col("s_suppkey"),
        )
        .groupBy("s_suppkey", "s_name")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("rev")
        )
    )
    from pyspark.sql import Window

    w = Window.partitionBy()
    withtot = sup.select(
        "s_suppkey",
        "s_name",
        "rev",
        F.round(F.sum("rev").over(w), 2).alias("total"),
        F.count(F.lit(1)).over(w).alias("n_sup"),
    )
    return (
        withtot.filter(F.col("rev") * F.col("n_sup") > F.col("total"))
        .select(
            "s_suppkey",
            "s_name",
            "rev",
            F.round(F.col("rev") / F.col("total"), 6).alias("share"),
        )
    )


@q(
    "topk_parts_per_nation",
    """WITH ranked AS (
         SELECT n.n_name AS nation, l.l_partkey,
                CAST(ROUND(SUM(CAST(l.l_extendedprice * (1 - l.l_discount)
                                    AS DECIMAL(18,4))), 2) AS DOUBLE) AS revenue,
                ROW_NUMBER() OVER (
                  PARTITION BY n.n_name
                  ORDER BY ROUND(SUM(CAST(l.l_extendedprice * (1 - l.l_discount)
                                          AS DECIMAL(18,4))), 2) DESC,
                           l.l_partkey ASC) AS rk
         FROM lineitem l
         JOIN supplier s ON l.l_suppkey = s.s_suppkey
         JOIN nation n ON s.s_nationkey = n.n_nationkey
         GROUP BY 1, 2)
       SELECT nation, l_partkey, revenue, CAST(rk AS INTEGER) AS rk
       FROM ranked WHERE rk <= 3""",
)
def topk_parts_per_nation(spark, sf_dir):
    """Top-k per group — the shape global top-N (O4) cannot express:
    the 3 highest-revenue parts within EVERY supplier nation. Rank
    over the (nation, part) aggregate with a deterministic
    (revenue DESC, partkey ASC) order; the rank's partitioning is a
    subset of the aggregate's grouping keys, so with AQE the window
    reuses the aggregate's exchange. At scale rk<=3 prunes via
    WindowGroupLimit push-down (top-k per partition before the final
    sort) rather than materializing full rankings."""
    li = load_table(spark, sf_dir, "lineitem")
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    per_part = (
        li.join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey"))
        .groupBy(F.col("n_name").alias("nation"), "l_partkey")
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
    w = Window.partitionBy("nation").orderBy(
        F.desc("revenue"), F.asc("l_partkey")
    )
    return (
        per_part.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 3)
        .select("nation", "l_partkey", "revenue", "rk")
    )


@q(
    "props_map_profile",
    """SELECT prop_key,
              COUNT(*) AS n_events,
              COUNT(DISTINCT user_id) AS n_users
       FROM (SELECT unnest(json_keys(props)) AS prop_key, user_id
             FROM events)
       GROUP BY 1""",
)
def props_map_profile(spark, sf_dir):
    """Semi-structured profile: parse the JSON props payload into a
    typed MAP<STRING,STRING>, explode its keys (the generator path),
    and count usage per property key. This is the schema-on-read
    bridge the reference's from_json+select('data.*') pattern implies
    for *open* payloads where the struct fields are not known ahead
    (reference: Sourcecode/spark/etl.py:16-22 hardcodes them). One
    Generate + one (tiny) key-grain shuffle; distinct users resolve
    inside the same aggregate."""
    ev = load_table(spark, sf_dir, "events")
    m = F.from_json("props", "map<string,string>")
    return (
        ev.select("user_id", F.explode(F.map_keys(m)).alias("prop_key"))
        .groupBy("prop_key")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.count_distinct("user_id").alias("n_users"),
        )
    )


@q(
    "customer_order_timeline",
    """SELECT o_custkey, o_orderkey,
              CAST(o_orderdate AS TIMESTAMP) AS o_orderdate,
              CAST(LEAD(o_orderdate) OVER w AS TIMESTAMP) AS next_order_date,
              CAST(DATEDIFF('day', o_orderdate, LEAD(o_orderdate) OVER w)
                   AS INTEGER) AS gap_days,
              FIRST_VALUE(o_totalprice) OVER wf AS first_order_value,
              NTH_VALUE(o_totalprice, 2) OVER wf AS second_order_value,
              LAST_VALUE(o_totalprice) OVER wf AS latest_order_value
       FROM orders
       WINDOW w AS (PARTITION BY o_custkey
                    ORDER BY o_orderdate, o_orderkey),
              wf AS (PARTITION BY o_custkey
                     ORDER BY o_orderdate, o_orderkey
                     ROWS BETWEEN UNBOUNDED PRECEDING
                              AND UNBOUNDED FOLLOWING)""",
)
def customer_order_timeline(spark, sf_dir):
    """Per-customer order timeline — the remaining value-window
    functions in one pass: lead (next order + gap days), first_value /
    nth_value(2) / last_value over the full-partition frame. All
    windows share ONE (custkey) partitioning so the plan is a single
    exchange + sort; the full frame is explicit in both engines
    (default frames differ for last_value/nth_value)."""
    o = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    wf = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    nxt = F.lead("o_orderdate").over(w)
    return o.select(
        "o_custkey",
        "o_orderkey",
        "o_orderdate",
        nxt.alias("next_order_date"),
        F.datediff(nxt, F.col("o_orderdate")).alias("gap_days"),
        F.first("o_totalprice").over(wf).alias("first_order_value"),
        F.nth_value("o_totalprice", 2).over(wf).alias("second_order_value"),
        F.last("o_totalprice").over(wf).alias("latest_order_value"),
    )


@q(
    "priority_status_stringagg",
    """SELECT o_orderpriority,
              COUNT(*) AS n_orders,
              string_agg(DISTINCT o_orderstatus, ',' ORDER BY o_orderstatus)
                AS statuses,
              COUNT(DISTINCT o_orderstatus) AS n_statuses
       FROM orders GROUP BY 1""",
)
def priority_status_stringagg(spark, sf_dir):
    """String aggregation with deterministic ordering: the distinct
    status set per priority rendered as a sorted CSV. Spark composes
    it from collect_set → array_sort → array_join (JVM-side, no
    listagg primitive needed); DuckDB uses ordered string_agg
    DISTINCT — two independent formulations of the same contract."""
    o = load_table(spark, sf_dir, "orders")
    return o.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.array_join(F.array_sort(F.collect_set("o_orderstatus")), ",").alias(
            "statuses"
        ),
        F.count_distinct("o_orderstatus").alias("n_statuses"),
    )


# One engine-portable ANSI SQL text: runs verbatim on Spark SQL (over
# register_views) AND on DuckDB as its own oracle — the Trino-user
# migration path (SURVEY §1.4: "Trino SQL layer -> spark.sql() over
# registered tables") proven by construction.
_PORTABLE_STAR_SQL = """
    SELECT n_name AS nation,
           CAST(EXTRACT(YEAR FROM o_orderdate) AS INT) AS o_year,
           CAST(ROUND(SUM(CAST(l_extendedprice * (1 - l_discount)
                               AS DECIMAL(18,4))), 2) AS DOUBLE) AS revenue,
           COUNT(*) AS n_lines
    FROM lineitem
    JOIN orders ON l_orderkey = o_orderkey
    JOIN customer ON o_custkey = c_custkey
    JOIN nation ON c_nationkey = n_nationkey
    GROUP BY n_name, o_year
"""


@q("sql_interface_star_pricing", _PORTABLE_STAR_SQL)
def sql_interface_star_pricing(spark, sf_dir):
    """The SQL entry path: register the catalog views and execute the
    SAME ANSI text DuckDB runs as the oracle — zero translation. A
    Trino user's star query ports by re-pointing the connection;
    Catalyst still plans broadcast dim joins + partial aggregation
    from the SQL exactly as from the DataFrame API."""
    from ..catalog import register_views

    register_views(spark, sf_dir)
    return spark.sql(_PORTABLE_STAR_SQL)


@q(
    "tz_localized_fact_keys",
    """WITH localized AS (
         SELECT (ts AT TIME ZONE 'UTC') AT TIME ZONE 'Asia/Ho_Chi_Minh'
                  AS local_ts,
                value
         FROM events)
       SELECT CAST(strftime(local_ts, '%Y%m%d') AS INT) AS date_id,
              COUNT(*) AS n_rows,
              MIN(CAST(strftime(local_ts, '%H%M%S') AS INT)) AS first_time_id,
              MAX(CAST(strftime(local_ts, '%H%M%S') AS INT)) AS last_time_id,
              CAST(ROUND(SUM(CAST(value AS DECIMAL(18,4))), 2) AS DOUBLE)
                AS total_value
       FROM localized GROUP BY 1""",
)
def tz_localized_fact_keys(spark, sf_dir):
    """The reference's fact-key derivation, timezone included: event
    time is localized to Asia/Ho_Chi_Minh and turned into the star
    schema's integer surrogate keys — date_id = yyyyMMdd, time_id =
    HHmmss (reference: Sourcecode/spark/etl.py:25,57 and udf.py:49-50;
    SURVEY §7.3 flags the tz/calendar interplay as a hard part). A UTC
    tick at 20:00 lands on the NEXT local calendar day (+7) — exactly
    what this oracle cross-checks via DuckDB's AT TIME ZONE chain.
    Map-side projection + one date-grain aggregate."""
    ev = load_table(spark, sf_dir, "events")
    local = F.from_utc_timestamp("ts", "Asia/Ho_Chi_Minh")
    return (
        ev.select(
            F.date_format(local, "yyyyMMdd").cast("int").alias("date_id"),
            F.date_format(local, "HHmmss").cast("int").alias("time_id"),
            "value",
        )
        .groupBy("date_id")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.min("time_id").alias("first_time_id"),
            F.max("time_id").alias("last_time_id"),
            F.round(F.sum(F.col("value").cast("decimal(18,4)")), 2)
            .cast("double")
            .alias("total_value"),
        )
    )


@q(
    "malformed_json_audit",
    """WITH raw AS (
         SELECT event_type,
                CASE WHEN event_id % 37 = 0 THEN '{corrupt' ELSE props END
                  AS payload
         FROM events)
       SELECT event_type,
              COUNT(*) AS n_rows,
              CAST(SUM(CASE WHEN json_valid(payload) THEN 1 ELSE 0 END)
                   AS BIGINT) AS n_valid,
              CAST(SUM(CASE WHEN json_valid(payload) THEN 0 ELSE 1 END)
                   AS BIGINT) AS n_corrupt,
              ROUND(CAST(SUM(CASE WHEN json_valid(payload) THEN 0 ELSE 1 END)
                         AS DOUBLE) / COUNT(*), 6) AS corrupt_rate
       FROM raw GROUP BY 1""",
)
def malformed_json_audit(spark, sf_dir):
    """Bad-record accounting on the JSON ingest path: a deterministic
    3%-ish slice of payloads is corrupted, then parsed PERMISSIVE-style
    — from_json returns NULL on unparseable input instead of failing
    the job (the semantics a streaming bronze layer needs: quarantine
    counts, never a poison-pill crash; the reference's hardcoded
    from_json at etl.py:21 would silently null the same way). The
    oracle counts the identical rows via json_valid. Map-side CASE +
    parse + one small rollup."""
    ev = load_table(spark, sf_dir, "events")
    payload = F.when(
        F.col("event_id") % 37 == 0, F.lit("{corrupt")
    ).otherwise(F.col("props"))
    parsed = F.from_json(payload, "map<string,string>")
    ok = parsed.isNotNull()
    return (
        ev.select("event_type", ok.alias("ok"))
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum(F.when(F.col("ok"), 1).otherwise(0)).alias("n_valid"),
            F.sum(F.when(F.col("ok"), 0).otherwise(1)).alias("n_corrupt"),
            F.round(
                F.sum(F.when(F.col("ok"), 0).otherwise(1)).cast("double")
                / F.count(F.lit(1)),
                6,
            ).alias("corrupt_rate"),
        )
    )


@q(
    "null_semantics_audit",
    """WITH d AS (
         SELECT CASE WHEN event_id % 2 = 0
                     THEN json_extract_string(props, '$.k') END AS a,
                CASE WHEN event_id % 3 = 0
                     THEN json_extract_string(props, '$.k') END AS b
         FROM events)
       SELECT COUNT(*) AS n_rows,
              COUNT(a) AS a_not_null,
              COUNT(b) AS b_not_null,
              CAST(SUM(CASE WHEN a = b THEN 1 ELSE 0 END)
                   AS BIGINT) AS eq_matches,
              CAST(SUM(CASE WHEN a IS NOT DISTINCT FROM b THEN 1 ELSE 0 END)
                   AS BIGINT) AS null_safe_matches,
              CAST(SUM(CASE WHEN a IS DISTINCT FROM b THEN 1 ELSE 0 END)
                   AS BIGINT) AS distinct_pairs
       FROM d""",
)
def null_semantics_audit(spark, sf_dir):
    """Three-valued-logic rigor: plain equality (NULL = NULL is
    UNKNOWN, never counted) vs null-safe equality (<=> counts
    NULL<=>NULL) vs IS DISTINCT FROM, over columns that are NULL on
    disjoint deterministic slices. The delta between eq_matches and
    null_safe_matches is exactly the both-null row count — the
    invariant every join-key-hygiene audit relies on before choosing
    <=> join conditions. Map-only + one 1-row aggregate."""
    ev = load_table(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k")
    a = F.when(F.col("event_id") % 2 == 0, k)
    b = F.when(F.col("event_id") % 3 == 0, k)
    d = ev.select(a.alias("a"), b.alias("b"))
    return d.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.count("a").alias("a_not_null"),
        F.count("b").alias("b_not_null"),
        F.sum(F.when(F.col("a") == F.col("b"), 1).otherwise(0)).alias(
            "eq_matches"
        ),
        F.sum(F.when(F.col("a").eqNullSafe(F.col("b")), 1).otherwise(0)).alias(
            "null_safe_matches"
        ),
        F.sum(F.when(~F.col("a").eqNullSafe(F.col("b")), 1).otherwise(0)).alias(
            "distinct_pairs"
        ),
    )


@q(
    "order_lifecycle_snapshot",
    """SELECT o.o_orderkey,
              CAST(o.o_orderdate AS TIMESTAMP) AS o_orderdate,
              CAST(MIN(l.l_shipdate) AS TIMESTAMP) AS first_ship,
              CAST(MAX(l.l_shipdate) AS TIMESTAMP) AS last_ship,
              CAST(DATEDIFF('day', o.o_orderdate, MIN(l.l_shipdate))
                   AS INTEGER) AS days_to_first_ship,
              CAST(DATEDIFF('day', MIN(l.l_shipdate), MAX(l.l_shipdate))
                   AS INTEGER) AS ship_span_days,
              COUNT(*) AS n_lines,
              CAST(SUM(CASE WHEN l.l_returnflag = 'R' THEN 1 ELSE 0 END)
                   AS BIGINT) AS n_returned
       FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
       WHERE o.o_orderdate >= TIMESTAMP '2000-01-01'
       GROUP BY o.o_orderkey, o.o_orderdate""",
)
def order_lifecycle_snapshot(spark, sf_dir):
    """Accumulating-snapshot fact (the third Kimball fact style beside
    transaction facts and the periodic/semi-additive snapshot): one
    row per order carrying its lifecycle milestones — order date,
    first/last shipment, lag-to-first-ship, shipment span, line and
    return counts. Milestone columns are plain MIN/MAX over the
    orderkey grain, so the snapshot rebuilds incrementally by
    re-aggregating only orders with new lines."""
    o = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") >= "2000-01-01"
    )
    li = load_table(spark, sf_dir, "lineitem")
    j = li.join(o, li.l_orderkey == o.o_orderkey)
    return j.groupBy("o_orderkey", "o_orderdate").agg(
        F.min("l_shipdate").alias("first_ship"),
        F.max("l_shipdate").alias("last_ship"),
        F.datediff(F.min("l_shipdate"), F.col("o_orderdate")).alias(
            "days_to_first_ship"
        ),
        F.datediff(F.max("l_shipdate"), F.min("l_shipdate")).alias(
            "ship_span_days"
        ),
        F.count(F.lit(1)).alias("n_lines"),
        F.sum(F.when(F.col("l_returnflag") == "R", 1).otherwise(0)).alias(
            "n_returned"
        ),
    ).select(
        "o_orderkey",
        "o_orderdate",
        "first_ship",
        "last_ship",
        "days_to_first_ship",
        "ship_span_days",
        "n_lines",
        "n_returned",
    )


@q(
    "skyline_customers_2d",
    """WITH per_cust AS (
         SELECT c_custkey, c_nationkey,
                CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(18,2))), 2)
                     AS DOUBLE) AS spend,
                CAST(COUNT(*) AS BIGINT) AS n_orders
         FROM customer JOIN orders ON o_custkey = c_custkey
         GROUP BY 1, 2),
       ranked AS (
         SELECT *,
                MAX(n_orders) OVER (
                  PARTITION BY c_nationkey
                  ORDER BY spend DESC, c_custkey
                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                  AS best_prev_orders
         FROM per_cust)
       SELECT c_nationkey, c_custkey, spend, n_orders
       FROM ranked
       WHERE best_prev_orders IS NULL OR n_orders > best_prev_orders
       ORDER BY c_nationkey, spend DESC, c_custkey""",
)
def skyline_customers_2d(spark, sf_dir):
    """SKYLINE (Pareto-optimal set) of customers per nation over
    (total spend, order count): a customer survives iff no other
    customer in the nation beats it on BOTH axes. The classic
    operator relational engines lack — and the naive NOT EXISTS
    formulation is a quadratic nested loop. The 2D trick makes it ONE
    WINDOW: sort by spend descending, keep a row iff its order count
    exceeds the running max of everything richer (ties on spend
    resolved by the same key order on both engines). Linear after
    the sort, no self-join at any scale."""
    customer = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    per_cust = (
        customer.join(
            orders, orders["o_custkey"] == customer["c_custkey"]
        )
        .groupBy("c_custkey", "c_nationkey")
        .agg(
            F.round(
                F.sum(F.col("o_totalprice").cast("decimal(18,2)")), 2
            )
            .cast("double")
            .alias("spend"),
            F.count(F.lit(1)).cast("long").alias("n_orders"),
        )
    )
    w = (
        Window.partitionBy("c_nationkey")
        .orderBy(F.desc("spend"), "c_custkey")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    ranked = per_cust.withColumn(
        "best_prev_orders", F.max("n_orders").over(w)
    )
    return (
        ranked.filter(
            F.col("best_prev_orders").isNull()
            | (F.col("n_orders") > F.col("best_prev_orders"))
        )
        .select("c_nationkey", "c_custkey", "spend", "n_orders")
        .orderBy("c_nationkey", F.desc("spend"), "c_custkey")
    )


@q(
    "abc_pareto_classification",
    """WITH rev AS (
         SELECT p_brand,
                CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(18,2))),
                           2) AS DOUBLE) AS revenue
         FROM lineitem JOIN part ON l_partkey = p_partkey
         GROUP BY 1),
       cum AS (
         SELECT p_brand, revenue,
                SUM(revenue) OVER (ORDER BY revenue DESC, p_brand)
                  / SUM(revenue) OVER () AS cum_share
         FROM rev)
       SELECT p_brand, revenue,
              ROUND(cum_share, 6) AS cum_revenue_share,
              CASE WHEN cum_share <= 0.8 THEN 'A'
                   WHEN cum_share <= 0.95 THEN 'B'
                   ELSE 'C' END AS abc_class
       FROM cum ORDER BY revenue DESC, p_brand""",
)
def abc_pareto_classification(spark, sf_dir):
    """ABC / Pareto classification of brands by revenue: rank by
    revenue, classify by CUMULATIVE share (A carries the first 80%,
    B to 95%, C the tail) — the inventory-management workhorse.
    Revenue goes through DECIMAL (exact, order-insensitive); the
    cumulative share divides two window sums over the same
    deterministic (revenue desc, brand) order, so the class
    boundary is identical in both engines. One join + one groupBy +
    one window over the brand-sized aggregate."""
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    rev = (
        li.join(part, li["l_partkey"] == part["p_partkey"])
        .groupBy("p_brand")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice").cast("decimal(18,2)")), 2
            )
            .cast("double")
            .alias("revenue")
        )
    )
    # bounded-grain: brand grain after groupBy (enum-sized dim)
    w = Window.orderBy(F.desc("revenue"), "p_brand").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    wall = Window.partitionBy()
    cum = rev.withColumn(
        "cum_share",
        F.sum("revenue").over(w) / F.sum("revenue").over(wall),
    )
    return cum.select(
        "p_brand",
        "revenue",
        F.round("cum_share", 6).alias("cum_revenue_share"),
        F.when(F.col("cum_share") <= 0.8, "A")
        .when(F.col("cum_share") <= 0.95, "B")
        .otherwise("C")
        .alias("abc_class"),
    ).orderBy(F.desc("revenue"), "p_brand")


@q(
    "lorenz_curve_deciles",
    """WITH spend AS (
         SELECT o_custkey,
                CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(18,2))), 2)
                     AS DOUBLE) AS s
         FROM orders GROUP BY 1),
       deciled AS (
         SELECT s, NTILE(10) OVER (ORDER BY s, o_custkey) AS decile
         FROM spend),
       agg AS (
         SELECT decile,
                CAST(COUNT(*) AS BIGINT) AS n_customers,
                CAST(ROUND(SUM(CAST(s AS DECIMAL(18,2))), 2) AS DOUBLE)
                  AS decile_spend
         FROM deciled GROUP BY 1)
       SELECT CAST(decile AS INT) AS decile, n_customers, decile_spend,
              ROUND(SUM(decile_spend) OVER (ORDER BY decile)
                    / SUM(decile_spend) OVER (), 6)
                AS cum_spend_share,
              ROUND(SUM(n_customers) OVER (ORDER BY decile)
                    / CAST(SUM(n_customers) OVER () AS DOUBLE), 6)
                AS cum_pop_share
       FROM agg ORDER BY decile""",
)
def lorenz_curve_deciles(spark, sf_dir):
    """Lorenz curve of customer spend by population decile — the
    curve behind the Gini the registry already computes
    (user_activity_gini): cumulative spend share vs cumulative
    population share at each decile, the table a revenue-concentration
    dashboard plots. Deciles by deterministic (spend, custkey) NTILE;
    per-decile sums through DECIMAL; the two cumulative shares are
    window sums over the 10-row aggregate."""
    orders = load_table(spark, sf_dir, "orders")
    spend = orders.groupBy("o_custkey").agg(
        F.round(F.sum(F.col("o_totalprice").cast("decimal(18,2)")), 2)
        .cast("double")
        .alias("s")
    )
    deciled = spend.withColumn(
        # bounded-grain: customer grain after groupBy; global deciles —
        # 100 TB path = approxQuantile cut points + broadcast range join
        "decile", F.ntile(10).over(Window.orderBy("s", "o_custkey"))
    )
    agg = deciled.groupBy("decile").agg(
        F.count(F.lit(1)).cast("long").alias("n_customers"),
        F.round(F.sum(F.col("s").cast("decimal(18,2)")), 2)
        .cast("double")
        .alias("decile_spend"),
    )
    # bounded-grain: decile grain (10 rows)
    wc = Window.orderBy("decile").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    wall = Window.partitionBy()
    return agg.select(
        F.col("decile").cast("int").alias("decile"),
        "n_customers",
        "decile_spend",
        F.round(
            F.sum("decile_spend").over(wc)
            / F.sum("decile_spend").over(wall),
            6,
        ).alias("cum_spend_share"),
        F.round(
            F.sum("n_customers").over(wc)
            / F.sum("n_customers").over(wall).cast("double"),
            6,
        ).alias("cum_pop_share"),
    ).orderBy("decile")
