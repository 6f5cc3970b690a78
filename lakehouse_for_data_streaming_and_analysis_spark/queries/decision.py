"""Classic decision-support query shapes (TPC-H Q1-Q22 adapted to the
fixture star schema) with DuckDB oracles.

The reference's interactive layer runs star-join analytics through
Trino/Superset (reference: data/Superset Dashboard/20240618_101644.json:329,1140
— 4-way star joins, grouped MAX, top-N); this module widens that
surface to the full canon of warehouse query shapes a Trino user would
also run: correlated scalar subqueries, EXISTS / NOT EXISTS semi- and
anti-joins, disjunctive multi-column predicates, outer-join
distributions, conditional (CASE-guarded) aggregation, group-HAVING
gates, and max-over-aggregate selection.

Spark-first notes (100 TB design):
  - every money aggregate goes through per-row DECIMAL casts so the
    sum is exact and partition-order independent; final scalars are
    rounded then cast to double (same decimal->double conversion in
    both engines);
  - correlated subqueries are written as their decorrelated forms
    (aggregate + join) in the DataFrame API — the form Catalyst itself
    rewrites to, and the only form that scales (no per-row re-scan);
    each oracle keeps the *correlated* SQL so the two formulations
    cross-validate;
  - dimension sides (region/nation/part/supplier) are broadcast —
    lineitem/orders never shuffle for a dim join; the only exchanges
    are for fact-fact joins (orderkey) and final aggregations;
  - disjunctive predicates (Q19 shape) stay a single scan: the OR of
    conjunctions is pushed to the parquet reader as one row-group
    filter, not three scans unioned.

Adaptations forced by the fixture schema (no partsupp table, no
l_commitdate/l_receiptdate/l_shipmode, synthetic p_name/p_type):
"late" = l_shipdate > o_orderdate + 60 days; supply cost is proxied by
0.8 * p_retailprice; Q2's min-cost supplier uses the min average unit
price observed in lineitem.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from ..catalog import load_table
from . import registry

QUERIES, ORACLES, q = registry.module()


# Per-row exact-money terms (decimal before the sum: order-independent).
_REV = "CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))"
_CHARGE = "CAST(l_extendedprice * (1 - l_discount) * (1 + l_tax) AS DECIMAL(18,6))"


def _rev() -> F.Column:
    return (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(
        "decimal(18,4)"
    )


# ---------------------------------------------------------------- Q1

@q(
    "pricing_summary_report",
    f"""SELECT l_returnflag, l_linestatus,
              CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
              CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(18,2))), 2) AS DOUBLE) AS sum_base_price,
              CAST(ROUND(SUM({_REV}), 2) AS DOUBLE) AS sum_disc_price,
              CAST(ROUND(SUM({_CHARGE}), 2) AS DOUBLE) AS sum_charge,
              ROUND(CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*), 6) AS avg_qty,
              ROUND(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*), 6) AS avg_price,
              ROUND(CAST(SUM(CAST(l_discount AS DECIMAL(18,6))) AS DOUBLE) / COUNT(*), 6) AS avg_disc,
              COUNT(*) AS count_order
       FROM lineitem
       WHERE l_shipdate <= TIMESTAMP '2001-09-01'
       GROUP BY l_returnflag, l_linestatus""",
)
def pricing_summary_report(spark, sf_dir):
    """Q1 shape: full-scan multi-aggregate pricing summary. One scan,
    map-side partial aggregation into a 4-group hash agg — the
    canonical whole-stage-codegen pipeline; at 100 TB this is
    scan-bound with a 1-row-per-partition shuffle."""
    li = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") <= "2001-09-01"
    )
    cnt = F.count(F.lit(1))
    return li.groupBy("l_returnflag", "l_linestatus").agg(
        F.sum(F.col("l_quantity").cast("decimal(18,2)")).cast("double").alias("sum_qty"),
        F.round(F.sum(F.col("l_extendedprice").cast("decimal(18,2)")), 2)
        .cast("double")
        .alias("sum_base_price"),
        F.round(F.sum(F.expr(_REV)), 2).cast("double").alias("sum_disc_price"),
        F.round(F.sum(F.expr(_CHARGE)), 2).cast("double").alias("sum_charge"),
        F.round(
            F.sum(F.col("l_quantity").cast("decimal(18,2)")).cast("double") / cnt, 6
        ).alias("avg_qty"),
        F.round(
            F.sum(F.col("l_extendedprice").cast("decimal(18,2)")).cast("double") / cnt,
            6,
        ).alias("avg_price"),
        F.round(
            F.sum(F.col("l_discount").cast("decimal(18,6)")).cast("double") / cnt, 6
        ).alias("avg_disc"),
        cnt.alias("count_order"),
    )


# ---------------------------------------------------------------- Q3

@q(
    "shipping_priority_topk",
    f"""SELECT l.l_orderkey,
              CAST(ROUND(SUM({_REV}), 2) AS DOUBLE) AS revenue,
              CAST(o.o_orderdate AS TIMESTAMP) AS o_orderdate,
              o.o_orderpriority
       FROM customer c
       JOIN orders o ON c.c_custkey = o.o_custkey
       JOIN lineitem l ON o.o_orderkey = l.l_orderkey
       WHERE c.c_mktsegment = 'BUILDING'
         AND o.o_orderdate < TIMESTAMP '1999-06-30'
         AND l.l_shipdate > TIMESTAMP '1999-06-30'
       GROUP BY l.l_orderkey, o.o_orderdate, o.o_orderpriority
       ORDER BY revenue DESC, o_orderdate ASC, l_orderkey ASC
       LIMIT 10""",
)
def shipping_priority_topk(spark, sf_dir):
    """Q3 shape: unshipped-revenue top-N. Customer filter reduces the
    build side before the orderkey join; the segment predicate is
    pushed to the customer scan, and the date predicates to each fact
    scan, so the join inputs are pre-pruned row groups."""
    c = load_table(spark, sf_dir, "customer").filter(
        F.col("c_mktsegment") == "BUILDING"
    )
    o = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < "1999-06-30"
    )
    li = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > "1999-06-30"
    )
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(F.round(F.sum(_rev()), 2).cast("double").alias("revenue"))
        .select("l_orderkey", "revenue", "o_orderdate", "o_orderpriority")
        .orderBy(F.desc("revenue"), F.asc("o_orderdate"), F.asc("l_orderkey"))
        .limit(10)
    )


# ---------------------------------------------------------------- Q4

@q(
    "order_priority_exists",
    """SELECT o_orderpriority, COUNT(*) AS order_count
       FROM orders o
       WHERE o.o_orderdate >= TIMESTAMP '1998-01-01'
         AND o.o_orderdate < TIMESTAMP '1999-01-01'
         AND EXISTS (
           SELECT 1 FROM lineitem l
           WHERE l.l_orderkey = o.o_orderkey
             AND l.l_shipdate > o.o_orderdate + INTERVAL 60 DAY)
       GROUP BY o_orderpriority""",
)
def order_priority_exists(spark, sf_dir):
    """Q4 shape: EXISTS-guarded priority counts ("late" = shipped >60
    days after order). Spark: left-semi join on orderkey with the
    non-equi lateness condition in the join predicate — the
    decorrelated plan Catalyst produces for EXISTS; counts stay
    distinct-free because semi join emits each order at most once."""
    o = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= "1998-01-01") & (F.col("o_orderdate") < "1999-01-01")
    )
    li = load_table(spark, sf_dir, "lineitem")
    late = o.join(
        li,
        (o.o_orderkey == li.l_orderkey)
        & (li.l_shipdate > F.col("o_orderdate") + F.expr("INTERVAL 60 DAYS")),
        "left_semi",
    )
    return late.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("order_count")
    )


# ---------------------------------------------------------------- Q7

@q(
    "nation_pair_volume",
    f"""SELECT sn.n_name AS supp_nation, cn.n_name AS cust_nation,
              CAST(EXTRACT(YEAR FROM l.l_shipdate) AS INT) AS l_year,
              CAST(ROUND(SUM({_REV}), 2) AS DOUBLE) AS volume
       FROM lineitem l
       JOIN orders o ON l.l_orderkey = o.o_orderkey
       JOIN supplier s ON l.l_suppkey = s.s_suppkey
       JOIN customer c ON o.o_custkey = c.c_custkey
       JOIN nation sn ON s.s_nationkey = sn.n_nationkey
       JOIN nation cn ON c.c_nationkey = cn.n_nationkey
       WHERE ((sn.n_name = 'NATION_1' AND cn.n_name = 'NATION_2')
           OR (sn.n_name = 'NATION_2' AND cn.n_name = 'NATION_1'))
         AND l.l_shipdate BETWEEN TIMESTAMP '1996-01-01' AND TIMESTAMP '1997-12-31'
       GROUP BY sn.n_name, cn.n_name, l_year""",
)
def nation_pair_volume(spark, sf_dir):
    """Q7 shape: bilateral trade volume between two nations by year.
    The symmetric pair filter is applied after broadcast nation joins;
    all four dim joins broadcast, so the plan is one lineitem scan +
    one orders shuffle join + final 4-group agg."""
    li = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate").between("1996-01-01", "1997-12-31")
    )
    o = load_table(spark, sf_dir, "orders")
    s = load_table(spark, sf_dir, "supplier")
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    sn = n.select(
        F.col("n_nationkey").alias("sn_key"), F.col("n_name").alias("supp_nation")
    )
    cn = n.select(
        F.col("n_nationkey").alias("cn_key"), F.col("n_name").alias("cust_nation")
    )
    pair = (F.col("supp_nation") == "NATION_1") & (
        F.col("cust_nation") == "NATION_2"
    ) | (F.col("supp_nation") == "NATION_2") & (F.col("cust_nation") == "NATION_1")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(sn), F.col("s_nationkey") == F.col("sn_key"))
        .join(F.broadcast(cn), F.col("c_nationkey") == F.col("cn_key"))
        .filter(pair)
        .groupBy(
            "supp_nation",
            "cust_nation",
            F.year("l_shipdate").cast("int").alias("l_year"),
        )
        .agg(F.round(F.sum(_rev()), 2).cast("double").alias("volume"))
    )


# ---------------------------------------------------------------- Q8

@q(
    "market_share_yearly",
    f"""WITH volumes AS (
         SELECT CAST(EXTRACT(YEAR FROM o.o_orderdate) AS INT) AS o_year,
                {_REV} AS volume,
                sn.n_name AS supp_nation
         FROM lineitem l
         JOIN part p ON l.l_partkey = p.p_partkey
         JOIN orders o ON l.l_orderkey = o.o_orderkey
         JOIN customer c ON o.o_custkey = c.c_custkey
         JOIN nation cn ON c.c_nationkey = cn.n_nationkey
         JOIN region r ON cn.n_regionkey = r.r_regionkey
         JOIN supplier s ON l.l_suppkey = s.s_suppkey
         JOIN nation sn ON s.s_nationkey = sn.n_nationkey
         WHERE r.r_name = 'ASIA' AND p.p_type = 'STANDARD')
       SELECT o_year,
              ROUND(CAST(SUM(CASE WHEN supp_nation = 'NATION_2' THEN volume
                                  ELSE CAST(0 AS DECIMAL(18,4)) END) AS DOUBLE)
                    / CAST(SUM(volume) AS DOUBLE), 6) AS mkt_share
       FROM volumes GROUP BY o_year""",
)
def market_share_yearly(spark, sf_dir):
    """Q8 shape: one nation's share of STANDARD-part revenue sold into
    ASIA customers, by order year. Conditional aggregation — numerator
    is a CASE-guarded sum over the same rows, so share needs ONE scan
    and one agg, never two branches joined."""
    li = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part").filter(F.col("p_type") == "STANDARD")
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    cn = n.select(
        F.col("n_nationkey").alias("cn_key"), F.col("n_regionkey").alias("cn_region")
    )
    sn = n.select(
        F.col("n_nationkey").alias("sn_key"), F.col("n_name").alias("supp_nation")
    )
    vol = (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(cn), F.col("c_nationkey") == F.col("cn_key"))
        .join(F.broadcast(r), F.col("cn_region") == F.col("r_regionkey"))
        .join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .join(F.broadcast(sn), F.col("s_nationkey") == F.col("sn_key"))
        .select(
            F.year("o_orderdate").cast("int").alias("o_year"),
            _rev().alias("volume"),
            "supp_nation",
        )
    )
    zero = F.lit(0).cast("decimal(18,4)")
    return vol.groupBy("o_year").agg(
        F.round(
            F.sum(
                F.when(F.col("supp_nation") == "NATION_2", F.col("volume")).otherwise(
                    zero
                )
            ).cast("double")
            / F.sum("volume").cast("double"),
            6,
        ).alias("mkt_share")
    )


# ---------------------------------------------------------------- Q9

@q(
    "product_type_profit",
    """SELECT n.n_name AS nation,
              CAST(EXTRACT(YEAR FROM o.o_orderdate) AS INT) AS o_year,
              CAST(ROUND(SUM(CAST(l.l_extendedprice * (1 - l.l_discount)
                                  - 0.8 * p.p_retailprice * l.l_quantity
                                  AS DECIMAL(18,4))), 2) AS DOUBLE) AS sum_profit
       FROM lineitem l
       JOIN part p ON l.l_partkey = p.p_partkey
       JOIN supplier s ON l.l_suppkey = s.s_suppkey
       JOIN nation n ON s.s_nationkey = n.n_nationkey
       JOIN orders o ON l.l_orderkey = o.o_orderkey
       WHERE p.p_name LIKE '%widget%'
       GROUP BY nation, o_year""",
)
def product_type_profit(spark, sf_dir):
    """Q9 shape: profit (revenue minus proxied supply cost
    0.8*p_retailprice*qty) for one product family by supplier nation
    and year. The LIKE filter prunes part before its broadcast, so the
    selective dim drives lineitem reduction."""
    li = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part").filter(F.col("p_name").like("%widget%"))
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    o = load_table(spark, sf_dir, "orders")
    profit = (
        F.col("l_extendedprice") * (1 - F.col("l_discount"))
        - 0.8 * F.col("p_retailprice") * F.col("l_quantity")
    ).cast("decimal(18,4)")
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey"))
        .join(o, li.l_orderkey == o.o_orderkey)
        .groupBy(
            F.col("n_name").alias("nation"),
            F.year("o_orderdate").cast("int").alias("o_year"),
        )
        .agg(F.round(F.sum(profit), 2).cast("double").alias("sum_profit"))
    )


# ---------------------------------------------------------------- Q10

@q(
    "returned_items_topk",
    f"""SELECT c.c_custkey, c.c_name,
              CAST(ROUND(SUM({_REV}), 2) AS DOUBLE) AS revenue,
              c.c_acctbal, n.n_name AS nation
       FROM customer c
       JOIN orders o ON c.c_custkey = o.o_custkey
       JOIN lineitem l ON o.o_orderkey = l.l_orderkey
       JOIN nation n ON c.c_nationkey = n.n_nationkey
       WHERE l.l_returnflag = 'R'
         AND o.o_orderdate >= TIMESTAMP '1999-01-01'
         AND o.o_orderdate < TIMESTAMP '2000-01-01'
       GROUP BY c.c_custkey, c.c_name, c.c_acctbal, nation
       ORDER BY revenue DESC, c_custkey ASC
       LIMIT 20""",
)
def returned_items_topk(spark, sf_dir):
    """Q10 shape: top-20 customers by returned-item revenue in a year.
    Return-flag and date filters push to the fact scans; the customer
    grain carries payload columns through the aggregate (grouped on
    key + functionally-dependent attributes)."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= "1999-01-01") & (F.col("o_orderdate") < "2000-01-01")
    )
    li = load_table(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    n = load_table(spark, sf_dir, "nation")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("c_custkey", "c_name", "c_acctbal", F.col("n_name").alias("nation"))
        .agg(F.round(F.sum(_rev()), 2).cast("double").alias("revenue"))
        .select("c_custkey", "c_name", "revenue", "c_acctbal", "nation")
        .orderBy(F.desc("revenue"), F.asc("c_custkey"))
        .limit(20)
    )


# ---------------------------------------------------------------- Q12

@q(
    "late_shipment_priority_counts",
    """SELECT l.l_linestatus,
              CAST(SUM(CASE WHEN o.o_orderpriority IN ('1-URGENT', '2-HIGH')
                            THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
              CAST(SUM(CASE WHEN o.o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                            THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
       FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
       WHERE l.l_shipdate > o.o_orderdate + INTERVAL 60 DAY
         AND l.l_shipdate >= TIMESTAMP '1997-01-01'
         AND l.l_shipdate < TIMESTAMP '1998-01-01'
       GROUP BY l.l_linestatus""",
)
def late_shipment_priority_counts(spark, sf_dir):
    """Q12 shape: among late shipments (>60 days after order), how
    many carried high vs low order priority, per line status.
    Conditional counts — both tallies in one agg over one join."""
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= "1997-01-01") & (F.col("l_shipdate") < "1998-01-01")
    )
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .filter(li.l_shipdate > F.col("o_orderdate") + F.expr("INTERVAL 60 DAYS"))
        .groupBy("l_linestatus")
        .agg(
            F.sum(F.when(high, 1).otherwise(0)).alias("high_line_count"),
            F.sum(F.when(~high, 1).otherwise(0)).alias("low_line_count"),
        )
    )


# ---------------------------------------------------------------- Q13

@q(
    "customer_order_distribution",
    """WITH c_orders AS (
         SELECT c.c_custkey, COUNT(o.o_orderkey) AS c_count
         FROM customer c
         LEFT JOIN orders o ON c.c_custkey = o.o_custkey
                            AND o.o_orderpriority <> '1-URGENT'
         GROUP BY c.c_custkey)
       SELECT c_count, COUNT(*) AS custdist
       FROM c_orders GROUP BY c_count""",
)
def customer_order_distribution(spark, sf_dir):
    """Q13 shape: distribution of per-customer order counts with the
    filter inside the LEFT JOIN condition (customers with zero
    qualifying orders must appear with c_count=0 — the classic
    outer-join-vs-where trap). Double aggregation: customer grain,
    then count-of-counts."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    joined = c.join(
        o,
        (c.c_custkey == o.o_custkey) & (o.o_orderpriority != "1-URGENT"),
        "left",
    )
    per_cust = joined.groupBy("c_custkey").agg(
        F.count("o_orderkey").alias("c_count")
    )
    return per_cust.groupBy("c_count").agg(F.count(F.lit(1)).alias("custdist"))


# ---------------------------------------------------------------- Q14

@q(
    "promo_revenue_share",
    f"""SELECT ROUND(100.0 * CAST(SUM(CASE WHEN p.p_type = 'PROMO' THEN {_REV}
                                      ELSE CAST(0 AS DECIMAL(18,4)) END) AS DOUBLE)
                   / CAST(SUM({_REV}) AS DOUBLE), 6) AS promo_revenue_pct
       FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
       WHERE l.l_shipdate >= TIMESTAMP '1998-03-01'
         AND l.l_shipdate < TIMESTAMP '1998-04-01'""",
)
def promo_revenue_share(spark, sf_dir):
    """Q14 shape: promotional revenue percentage for one month.
    CASE-guarded numerator over the same joined rows — one broadcast
    join, one global agg, one output row."""
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= "1998-03-01") & (F.col("l_shipdate") < "1998-04-01")
    )
    p = load_table(spark, sf_dir, "part")
    zero = F.lit(0).cast("decimal(18,4)")
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .agg(
            F.round(
                100.0
                * F.sum(
                    F.when(F.col("p_type") == "PROMO", _rev()).otherwise(zero)
                ).cast("double")
                / F.sum(_rev()).cast("double"),
                6,
            ).alias("promo_revenue_pct")
        )
    )


# ---------------------------------------------------------------- Q15

@q(
    "top_supplier_by_revenue",
    f"""WITH revenue AS (
         SELECT l_suppkey AS supplier_no,
                CAST(ROUND(SUM({_REV}), 2) AS DOUBLE) AS total_revenue
         FROM lineitem
         WHERE l_shipdate >= TIMESTAMP '1999-01-01'
           AND l_shipdate < TIMESTAMP '1999-04-01'
         GROUP BY l_suppkey)
       SELECT s.s_suppkey, s.s_name, r.total_revenue
       FROM supplier s JOIN revenue r ON s.s_suppkey = r.supplier_no
       WHERE r.total_revenue = (SELECT MAX(total_revenue) FROM revenue)
       ORDER BY s_suppkey""",
)
def top_supplier_by_revenue(spark, sf_dir):
    """Q15 shape: supplier(s) achieving the max quarterly revenue —
    max-over-aggregate selection. Spark: the scalar max is a 1-row
    aggregate of the supplier-grain rows, broadcast back as a join
    filter — never an unpartitioned rank window, which would
    single-partition-sort millions of supplier rows at scale. Ties
    all qualify, matching the scalar-subquery oracle."""
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= "1999-01-01") & (F.col("l_shipdate") < "1999-04-01")
    )
    s = load_table(spark, sf_dir, "supplier")
    rev = li.groupBy(F.col("l_suppkey").alias("supplier_no")).agg(
        F.round(F.sum(_rev()), 2).cast("double").alias("total_revenue")
    )
    max_rev = rev.agg(F.max("total_revenue").alias("max_revenue"))
    best = rev.join(F.broadcast(max_rev)).filter(
        F.col("total_revenue") == F.col("max_revenue")
    )
    return (
        best.join(F.broadcast(s), F.col("supplier_no") == s.s_suppkey)
        .select("s_suppkey", "s_name", "total_revenue")
        .orderBy("s_suppkey")
    )


# ---------------------------------------------------------------- Q17

@q(
    "small_lot_revenue",
    """WITH pq AS (
         SELECT l_partkey,
                SUM(CAST(l_quantity AS DECIMAL(18,2))) AS sum_qty,
                COUNT(*) AS cnt
         FROM lineitem GROUP BY 1)
       SELECT CAST(ROUND(SUM(CAST(l.l_extendedprice AS DECIMAL(18,2))), 2) AS DOUBLE)
                / 7.0 AS avg_yearly
       FROM lineitem l
       JOIN part p ON p.p_partkey = l.l_partkey
       JOIN pq ON pq.l_partkey = l.l_partkey
       WHERE p.p_brand = 'Brand#1'
         AND CAST(l.l_quantity AS DECIMAL(18,2)) * 5 * pq.cnt < pq.sum_qty""",
)
def small_lot_revenue(spark, sf_dir):
    """Q17 shape: revenue from small-lot orders (quantity below 20% of
    the part's average). The correlated scalar subquery is
    decorrelated into a per-part aggregate joined back — one extra
    partkey-grain agg instead of a per-row re-scan; the filtered brand
    side broadcasts into both. The 20%-of-average gate is evaluated as
    the cross-multiplied DECIMAL inequality qty * 5 * cnt < sum_qty —
    exact in both engines, so no float-average ulp at a boundary row
    can flip membership in one engine only (DECISIONS.md §8)."""
    li = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part").filter(F.col("p_brand") == "Brand#1")
    branded = li.join(F.broadcast(p), li.l_partkey == p.p_partkey).select(
        "l_partkey", "l_quantity", "l_extendedprice"
    )
    part_q = (
        li.join(F.broadcast(p.select("p_partkey")), li.l_partkey == F.col("p_partkey"))
        .groupBy("l_partkey")
        .agg(
            F.sum(F.col("l_quantity").cast("decimal(18,2)")).alias("sum_qty"),
            F.count(F.lit(1)).alias("cnt"),
        )
        .withColumnRenamed("l_partkey", "avg_partkey")
    )
    return (
        branded.join(
            F.broadcast(part_q), branded.l_partkey == F.col("avg_partkey")
        )
        .filter(
            F.col("l_quantity").cast("decimal(18,2)") * 5 * F.col("cnt")
            < F.col("sum_qty")
        )
        .agg(
            (
                F.round(F.sum(F.col("l_extendedprice").cast("decimal(18,2)")), 2).cast(
                    "double"
                )
                / 7.0
            ).alias("avg_yearly")
        )
    )


# ---------------------------------------------------------------- Q18

@q(
    "large_volume_customers",
    """SELECT c.c_name, c.c_custkey, o.o_orderkey,
              CAST(o.o_orderdate AS TIMESTAMP) AS o_orderdate,
              o.o_totalprice,
              CAST(SUM(CAST(l.l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS total_qty
       FROM customer c
       JOIN orders o ON c.c_custkey = o.o_custkey
       JOIN lineitem l ON o.o_orderkey = l.l_orderkey
       WHERE o.o_orderkey IN (
         SELECT l_orderkey FROM lineitem
         GROUP BY l_orderkey
         HAVING SUM(l_quantity) > 180)
       GROUP BY c_name, c_custkey, o.o_orderkey, o.o_orderdate, o.o_totalprice
       ORDER BY o_totalprice DESC, o_orderdate ASC, o_orderkey ASC
       LIMIT 100""",
)
def large_volume_customers(spark, sf_dir):
    """Q18 shape: customers holding very large orders — IN over a
    grouped HAVING subquery. Spark: the qualifying-order set is a
    semi join against the orderkey-grain aggregate (same grain as the
    outer group-by, so the two aggregations share one shuffle
    partitioning under AQE)."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum("l_quantity").alias("q"))
        .filter(F.col("q") > 180)
        .select("l_orderkey")
    )
    return (
        li.join(big.withColumnRenamed("l_orderkey", "big_key"),
                F.col("l_orderkey") == F.col("big_key"), "left_semi")
        .join(o, F.col("l_orderkey") == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .groupBy("c_name", "c_custkey", "o_orderkey", "o_orderdate", "o_totalprice")
        .agg(
            F.sum(F.col("l_quantity").cast("decimal(18,2)"))
            .cast("double")
            .alias("total_qty")
        )
        .orderBy(F.desc("o_totalprice"), F.asc("o_orderdate"), F.asc("o_orderkey"))
        .limit(100)
    )


# ---------------------------------------------------------------- Q19

@q(
    "disjunctive_band_revenue",
    f"""SELECT CAST(ROUND(SUM({_REV}), 2) AS DOUBLE) AS revenue
       FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
       WHERE (p.p_brand = 'Brand#1' AND p.p_size BETWEEN 1 AND 10
              AND l.l_quantity BETWEEN 1 AND 15)
          OR (p.p_brand = 'Brand#2' AND p.p_size BETWEEN 1 AND 20
              AND l.l_quantity BETWEEN 10 AND 25)
          OR (p.p_brand = 'Brand#3' AND p.p_size BETWEEN 1 AND 30
              AND l.l_quantity BETWEEN 20 AND 35)""",
)
def disjunctive_band_revenue(spark, sf_dir):
    """Q19 shape: OR of brand/size/quantity conjunction bands. Stays
    ONE scan + one broadcast join: the disjunction is a single join
    filter (quantity bounds alone push to the lineitem scan as
    l_quantity BETWEEN 1 AND 35), never three unioned branches."""
    li = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part")

    def band(brand, max_size, qlo, qhi):
        return (
            (F.col("p_brand") == brand)
            & F.col("p_size").between(1, max_size)
            & F.col("l_quantity").between(qlo, qhi)
        )

    cond = (
        band("Brand#1", 10, 1, 15)
        | band("Brand#2", 20, 10, 25)
        | band("Brand#3", 30, 20, 35)
    )
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .filter(cond)
        .agg(F.round(F.sum(_rev()), 2).cast("double").alias("revenue"))
    )


# ---------------------------------------------------------------- Q21

@q(
    "sole_late_supplier_ranking",
    """SELECT s.s_name, COUNT(*) AS numwait
       FROM supplier s
       JOIN lineitem l1 ON s.s_suppkey = l1.l_suppkey
       JOIN orders o ON o.o_orderkey = l1.l_orderkey
       WHERE o.o_orderstatus = 'F'
         AND l1.l_shipdate > o.o_orderdate + INTERVAL 60 DAY
         AND EXISTS (
           SELECT 1 FROM lineitem l2
           WHERE l2.l_orderkey = l1.l_orderkey
             AND l2.l_suppkey <> l1.l_suppkey)
         AND NOT EXISTS (
           SELECT 1 FROM lineitem l3
           WHERE l3.l_orderkey = l1.l_orderkey
             AND l3.l_suppkey <> l1.l_suppkey
             AND l3.l_shipdate > o.o_orderdate + INTERVAL 60 DAY)
       GROUP BY s.s_name
       ORDER BY numwait DESC, s_name ASC
       LIMIT 20""",
)
def sole_late_supplier_ranking(spark, sf_dir):
    """Q21 shape: suppliers who were the SOLE late shipper on
    multi-supplier finished orders. The EXISTS / NOT EXISTS pair is
    computed as one orderkey-grain aggregate (distinct suppliers vs
    distinct late suppliers per order) joined back to the late rows —
    two fact passes total instead of two correlated re-scans per row."""
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders").filter(F.col("o_orderstatus") == "F")
    s = load_table(spark, sf_dir, "supplier")
    late_flag = F.col("l_shipdate") > F.col("o_orderdate") + F.expr(
        "INTERVAL 60 DAYS"
    )
    lo = li.join(o, li.l_orderkey == o.o_orderkey).select(
        "l_orderkey", "l_suppkey", late_flag.alias("is_late")
    )
    per_order = lo.groupBy("l_orderkey").agg(
        F.count_distinct("l_suppkey").alias("n_supp"),
        F.count_distinct(F.when(F.col("is_late"), F.col("l_suppkey"))).alias(
            "n_late_supp"
        ),
    )
    sole = per_order.filter((F.col("n_supp") > 1) & (F.col("n_late_supp") == 1))
    return (
        lo.filter(F.col("is_late"))
        .join(
            sole.withColumnRenamed("l_orderkey", "sole_key"),
            F.col("l_orderkey") == F.col("sole_key"),
            "left_semi",
        )
        .join(F.broadcast(s), F.col("l_suppkey") == s.s_suppkey)
        .groupBy("s_name")
        .agg(F.count(F.lit(1)).alias("numwait"))
        .orderBy(F.desc("numwait"), F.asc("s_name"))
        .limit(20)
    )


# ---------------------------------------------------------------- Q22

@q(
    "dormant_customer_balances",
    """SELECT SUBSTR(c.c_name, LENGTH(c.c_name), 1) AS cust_digit,
              COUNT(*) AS numcust,
              CAST(ROUND(SUM(CAST(c.c_acctbal AS DECIMAL(18,2))), 2) AS DOUBLE)
                AS totacctbal
       FROM customer c
       CROSS JOIN (SELECT SUM(CAST(c2.c_acctbal AS DECIMAL(18,6))) AS sum_bal,
                          COUNT(*) AS cnt
                   FROM customer c2 WHERE c2.c_acctbal > 0.0) st
       WHERE CAST(c.c_acctbal AS DECIMAL(18,6)) * st.cnt > st.sum_bal
         AND NOT EXISTS (
           SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
       GROUP BY cust_digit""",
)
def dormant_customer_balances(spark, sf_dir):
    """Q22 shape: well-funded customers who never ordered — scalar
    subquery (global positive-balance aggregate, broadcast as a 1-row
    cross join) + NOT EXISTS (left-anti join on custkey), grouped by a
    derived code (last digit of the customer name). The above-average
    gate is the cross-multiplied DECIMAL inequality bal * cnt >
    sum_bal — exact in both engines, no float-average boundary ulp
    (DECISIONS.md §8)."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    bal_stats = (
        c.filter(F.col("c_acctbal") > 0.0)
        .agg(
            F.sum(F.col("c_acctbal").cast("decimal(18,6)")).alias("sum_bal"),
            F.count(F.lit(1)).alias("cnt"),
        )
    )
    rich = c.join(F.broadcast(bal_stats)).filter(
        F.col("c_acctbal").cast("decimal(18,6)") * F.col("cnt")
        > F.col("sum_bal")
    )
    dormant = rich.join(o, rich.c_custkey == o.o_custkey, "left_anti")
    digit = F.substring(
        F.col("c_name"), F.length("c_name").cast("int"), 1
    ).alias("cust_digit")
    return dormant.groupBy(digit).agg(
        F.count(F.lit(1)).alias("numcust"),
        F.round(F.sum(F.col("c_acctbal").cast("decimal(18,2)")), 2)
        .cast("double")
        .alias("totacctbal"),
    )


# ---------------------------------------------------------------- Q2 (adapted)

@q(
    "min_price_supplier_per_part",
    """WITH sums AS (
         SELECT l_partkey, l_suppkey,
                CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) * 100
                     AS BIGINT) AS ip,
                CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) * 100
                     AS BIGINT) AS iq
         FROM lineitem GROUP BY l_partkey, l_suppkey),
       unit AS (
         SELECT l_partkey, l_suppkey,
                CAST((2 * ip * 10000 + iq) // (2 * iq) AS DOUBLE) / 10000
                  AS unit_price
         FROM sums)
       SELECT p.p_partkey, p.p_brand, s.s_name, u.unit_price
       FROM unit u
       JOIN part p ON u.l_partkey = p.p_partkey
       JOIN supplier s ON u.l_suppkey = s.s_suppkey
       WHERE p.p_size = 10
         AND u.unit_price = (
           SELECT MIN(u2.unit_price) FROM unit u2
           WHERE u2.l_partkey = u.l_partkey)
       ORDER BY p_partkey ASC, s_name ASC""",
)
def min_price_supplier_per_part(spark, sf_dir):
    """Q2 shape (adapted — no partsupp table): for each size-10 part,
    the supplier(s) offering the lowest observed unit price. The
    correlated MIN subquery is a rank-over-partition on the
    (part, supplier) aggregate — one window over partkey instead of a
    per-row rescan of the aggregate."""
    li = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part").filter(F.col("p_size") == 10)
    s = load_table(spark, sf_dir, "supplier")
    # The correlated MIN only compares within a partkey, so the
    # selective part filter commutes below the aggregate: broadcast-semi
    # the filtered dim into lineitem FIRST (agg input shrinks by the dim
    # selectivity — the difference between shuffling 100 TB and 5 TB).
    li = li.join(
        F.broadcast(p.select("p_partkey")),
        li.l_partkey == F.col("p_partkey"),
        "left_semi",
    )
    # exact half-up at 4 dp in INTEGER space (sf1 sim finding: the
    # double division landed on a representation tie and the two
    # engines' ROUND broke it differently — DECISIONS §50 pattern):
    # price/qty = ip/iq with both sums exact integer hundredths, so
    # round4(ip/iq) = (2*ip*10^4 + iq) div (2*iq), engine-identical.
    unit = (
        li.groupBy("l_partkey", "l_suppkey")
        .agg(
            (F.sum(F.col("l_extendedprice").cast("decimal(18,2)")) * 100)
            .cast("long")
            .alias("ip"),
            (F.sum(F.col("l_quantity").cast("decimal(18,2)")) * 100)
            .cast("long")
            .alias("iq"),
        )
        .select(
            "l_partkey",
            "l_suppkey",
            (
                F.expr("CAST((2 * ip * 10000 + iq) div (2 * iq) AS DOUBLE)")
                / 10000
            ).alias("unit_price"),
        )
    )
    w = Window.partitionBy("l_partkey").orderBy("unit_price")
    cheapest = unit.withColumn("rk", F.rank().over(w)).filter(F.col("rk") == 1)
    return (
        cheapest.join(F.broadcast(p), F.col("l_partkey") == p.p_partkey)
        .join(F.broadcast(s), F.col("l_suppkey") == s.s_suppkey)
        .select("p_partkey", "p_brand", "s_name", "unit_price")
        .orderBy(F.asc("p_partkey"), F.asc("s_name"))
    )


# ---------------------------------------------------------------- Q6

@q(
    "forecast_revenue_change",
    """SELECT CAST(ROUND(SUM(CAST(l_extendedprice * l_discount
                               AS DECIMAL(18,4))), 2) AS DOUBLE)
                AS revenue_increase
       FROM lineitem
       WHERE l_shipdate >= TIMESTAMP '1998-01-01'
         AND l_shipdate < TIMESTAMP '1999-01-01'
         AND l_discount BETWEEN 0.05 AND 0.07
         AND l_quantity < 24""",
)
def forecast_revenue_change(spark, sf_dir):
    """Q6 shape: what-if revenue from discount elimination — a pure
    scan-aggregate whose three range predicates ALL reach the parquet
    reader (pinned by test_q6_pushes_all_three_predicates); at 100 TB
    this is the row-group-skipping showcase: date/discount/quantity
    min-max stats prune most of the table before decode."""
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.filter(
            (F.col("l_shipdate") >= "1998-01-01")
            & (F.col("l_shipdate") < "1999-01-01")
            & F.col("l_discount").between(0.05, 0.07)
            & (F.col("l_quantity") < 24)
        )
        .agg(
            F.round(
                F.sum(
                    (F.col("l_extendedprice") * F.col("l_discount")).cast(
                        "decimal(18,4)"
                    )
                ),
                2,
            )
            .cast("double")
            .alias("revenue_increase")
        )
    )


# ---------------------------------------------------------------- Q20

@q(
    "promotion_part_suppliers",
    """SELECT s.s_name, n.n_name AS nation
       FROM supplier s
       JOIN nation n ON s.s_nationkey = n.n_nationkey
       WHERE s.s_suppkey IN (
         SELECT l_suppkey FROM lineitem
         WHERE l_partkey IN (
           SELECT p_partkey FROM part WHERE p_type = 'PROMO')
           AND l_shipdate >= TIMESTAMP '1999-01-01'
           AND l_shipdate < TIMESTAMP '2000-01-01'
         GROUP BY l_suppkey, l_partkey
         HAVING SUM(l_quantity) > 50)
       ORDER BY s_name""",
)
def promotion_part_suppliers(spark, sf_dir):
    """Q20 shape: suppliers who moved real volume of PROMO parts in a
    year — nested IN subqueries. Spark: the inner IN is a broadcast
    semi join of the filtered part keys into lineitem BEFORE the
    (supplier, part) aggregate; the outer IN is a semi join of the
    HAVING-filtered aggregate into supplier. Two semi joins, one
    fact-side aggregate, no distinct-materialization of either key
    set."""
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= "1999-01-01") & (F.col("l_shipdate") < "2000-01-01")
    )
    p = load_table(spark, sf_dir, "part").filter(F.col("p_type") == "PROMO")
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    promo_li = li.join(
        F.broadcast(p.select("p_partkey")),
        li.l_partkey == F.col("p_partkey"),
        "left_semi",
    )
    movers = (
        promo_li.groupBy("l_suppkey", "l_partkey")
        .agg(F.sum("l_quantity").alias("q"))
        .filter(F.col("q") > 50)
        .select("l_suppkey")
    )
    return (
        s.join(movers, s.s_suppkey == movers.l_suppkey, "left_semi")
        .join(F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey"))
        .select("s_name", F.col("n_name").alias("nation"))
        .orderBy("s_name")
    )


# ------------------------------------------------------- relational division

@q(
    "loyal_customers_division",
    """WITH years AS (
         SELECT DISTINCT CAST(EXTRACT(YEAR FROM o_orderdate) AS INT) AS y
         FROM orders
         WHERE o_orderdate >= TIMESTAMP '1996-01-01'
           AND o_orderdate < TIMESTAMP '2000-01-01'),
       cust_years AS (
         SELECT DISTINCT o_custkey,
                CAST(EXTRACT(YEAR FROM o_orderdate) AS INT) AS y
         FROM orders
         WHERE o_orderdate >= TIMESTAMP '1996-01-01'
           AND o_orderdate < TIMESTAMP '2000-01-01')
       SELECT c.c_custkey, c.c_name, c.c_mktsegment
       FROM customer c
       WHERE NOT EXISTS (
         SELECT 1 FROM years y
         WHERE NOT EXISTS (
           SELECT 1 FROM cust_years cy
           WHERE cy.o_custkey = c.c_custkey AND cy.y = y.y))
         AND EXISTS (SELECT 1 FROM cust_years cy
                     WHERE cy.o_custkey = c.c_custkey)
       ORDER BY c_custkey""",
)
def loyal_customers_division(spark, sf_dir):
    """Relational division (FOR ALL): customers who ordered in EVERY
    year of 1996-1999. The double-NOT-EXISTS of the oracle is the
    textbook formulation; Spark computes the scalable equivalent —
    count of distinct order-years per customer equals the (broadcast,
    1-row) count of required years. One distinct-pair aggregate + one
    customer-grain count, no nested rescans."""
    o = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= "1996-01-01") & (F.col("o_orderdate") < "2000-01-01")
    )
    c = load_table(spark, sf_dir, "customer")
    cy = o.select(
        "o_custkey", F.year("o_orderdate").cast("int").alias("y")
    ).distinct()
    n_years = cy.select("y").distinct().agg(F.count(F.lit(1)).alias("need"))
    per_cust = cy.groupBy("o_custkey").agg(F.count(F.lit(1)).alias("got"))
    loyal = per_cust.join(F.broadcast(n_years)).filter(
        F.col("got") == F.col("need")
    )
    return (
        c.join(loyal, c.c_custkey == loyal.o_custkey, "left_semi")
        .select("c_custkey", "c_name", "c_mktsegment")
        .orderBy("c_custkey")
    )
