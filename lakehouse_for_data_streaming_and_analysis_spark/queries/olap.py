"""OLAP breadth queries: multi-level aggregation (rollup / cube /
grouping sets), pivot, sessionization, range-band joins, exact
quantiles, and dedup clustering (connected components).

Every query here is DuckDB-oracle-backed. Float aggregates follow the
repo rule: SUM over decimal(18,2) (exact, order-insensitive) then one
round() on the double conversion; quantiles rely on both engines
implementing linear interpolation over the sorted set (pinned by
oracle equality).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..catalog import fanout_if_narrow, load_table, partitions_for
from ..operators import graphs, sessions
from . import registry

QUERIES, ORACLES, q = registry.module()


_REV = "ROUND(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE), 2)"


def _orders_year(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load_table(spark, sf_dir, "orders").select(
        F.year("o_orderdate").alias("o_year"),
        "o_orderpriority",
        "o_orderstatus",
        "o_totalprice",
    )


def _rev_col() -> F.Column:
    return F.round(
        F.sum(F.col("o_totalprice").cast("decimal(18,2)")).cast("double"), 2
    ).alias("revenue")


@q(
    "rollup_year_priority",
    f"""WITH o AS (SELECT year(o_orderdate) AS o_year, o_orderpriority, o_totalprice
                  FROM orders)
       SELECT CAST(COALESCE(o_year, -1) AS INTEGER) AS o_year,
              COALESCE(o_orderpriority, 'ALL') AS priority,
              GROUPING(o_year) AS g_year,
              GROUPING(o_orderpriority) AS g_priority,
              {_REV} AS revenue,
              COUNT(*) AS n_orders
       FROM o GROUP BY ROLLUP (o_year, o_orderpriority)""",
)
def rollup_year_priority(spark, sf_dir):
    """Hierarchical totals (year, priority) -> (year) -> grand total in
    one pass — Spark expands the rollup into a single shuffle with
    partial aggregation per grouping set, not three scans."""
    o = _orders_year(spark, sf_dir)
    return (
        o.rollup("o_year", "o_orderpriority")
        .agg(
            F.grouping("o_year").cast("long").alias("g_year"),
            F.grouping("o_orderpriority").cast("long").alias("g_priority"),
            _rev_col(),
            F.count(F.lit(1)).alias("n_orders"),
        )
        .select(
            F.coalesce("o_year", F.lit(-1)).alias("o_year"),
            F.coalesce("o_orderpriority", F.lit("ALL")).alias("priority"),
            "g_year",
            "g_priority",
            "revenue",
            "n_orders",
        )
    )


@q(
    "cube_status_priority",
    f"""SELECT COALESCE(o_orderstatus, 'ALL') AS status,
              COALESCE(o_orderpriority, 'ALL') AS priority,
              {_REV} AS revenue,
              COUNT(*) AS n_orders
       FROM orders GROUP BY CUBE (o_orderstatus, o_orderpriority)""",
)
def cube_status_priority(spark, sf_dir):
    """Full cross-dimensional totals (status x priority plus all
    marginals) in one shuffle."""
    o = load_table(spark, sf_dir, "orders")
    return (
        o.cube("o_orderstatus", "o_orderpriority")
        .agg(_rev_col(), F.count(F.lit(1)).alias("n_orders"))
        .select(
            F.coalesce("o_orderstatus", F.lit("ALL")).alias("status"),
            F.coalesce("o_orderpriority", F.lit("ALL")).alias("priority"),
            "revenue",
            "n_orders",
        )
    )


@q(
    "grouping_sets_year_priority",
    f"""WITH o AS (SELECT year(o_orderdate) AS o_year, o_orderpriority, o_totalprice
                  FROM orders)
       SELECT COALESCE(CAST(o_year AS VARCHAR), o_orderpriority) AS group_key,
              {_REV} AS revenue
       FROM o GROUP BY GROUPING SETS ((o_year), (o_orderpriority))""",
)
def grouping_sets_year_priority(spark, sf_dir):
    """Disjoint grouping sets (by-year totals UNION by-priority
    totals) without a self-union — one aggregation, two expansion
    rows per input row."""
    o = _orders_year(spark, sf_dir)
    return (
        o.groupingSets([["o_year"], ["o_orderpriority"]], "o_year", "o_orderpriority")
        .agg(_rev_col())
        .select(
            F.coalesce(F.col("o_year").cast("string"), F.col("o_orderpriority")).alias(
                "group_key"
            ),
            "revenue",
        )
    )


_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_PRIORITY_ALIASES = ["urgent", "high", "medium", "not_specified", "low"]
_PIVOT_CASES = ",\n              ".join(
    f"ROUND(CAST(SUM(CASE WHEN o_orderpriority = '{p}' "
    f"THEN CAST(o_totalprice AS DECIMAL(18,2)) END) AS DOUBLE), 2) AS {a}"
    for p, a in zip(_PRIORITIES, _PRIORITY_ALIASES)
)


@q(
    "pivot_priority_by_year",
    f"""SELECT CAST(year(o_orderdate) AS INTEGER) AS o_year,
              {_PIVOT_CASES}
       FROM orders GROUP BY 1""",
)
def pivot_priority_by_year(spark, sf_dir):
    """Wide yearly revenue by priority. The pivot values are passed
    explicitly — at scale that skips the extra distinct-values job
    Spark otherwise runs before planning the pivot."""
    o = load_table(spark, sf_dir, "orders").select(
        F.year("o_orderdate").alias("o_year"),
        "o_orderpriority",
        F.col("o_totalprice").cast("decimal(18,2)").alias("price"),
    )
    pivoted = (
        o.groupBy("o_year")
        .pivot("o_orderpriority", _PRIORITIES)
        .agg(F.round(F.sum("price").cast("double"), 2))
    )
    renames = [F.col("o_year")] + [
        F.col(f"`{p}`").alias(a) for p, a in zip(_PRIORITIES, _PRIORITY_ALIASES)
    ]
    return pivoted.select(*renames)


_SESSION_GAP_MIN = 480


@q(
    "sessionize_user_events",
    f"""WITH e AS (SELECT user_id, ts, epoch_us(ts) AS us FROM events),
       flags AS (SELECT user_id, ts, us,
                        CASE WHEN us - lag(us) OVER w IS NULL
                                  OR us - lag(us) OVER w > {_SESSION_GAP_MIN * 60_000_000}
                             THEN 1 ELSE 0 END AS new_sess
                 FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
       tagged AS (SELECT user_id, ts, us,
                         SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts
                                             ROWS UNBOUNDED PRECEDING) AS session_idx
                  FROM flags)
       SELECT user_id, MIN(ts) AS session_start, MAX(ts) AS session_end,
              COUNT(*) AS n_events,
              CAST(FLOOR((MAX(us) - MIN(us) + 500) / 1000.0) AS DOUBLE)
                / 1000.0 AS duration_secs
       FROM tagged GROUP BY user_id, session_idx""",
)
def sessionize_user_events(spark, sf_dir):
    """Activity sessions per user at an 8h inactivity gap, via Spark's
    built-in session_window aggregate (the oracle runs the equivalent
    gaps-and-islands SQL; tests/test_sessions.py pins the two
    formulations equal)."""
    ev = load_table(spark, sf_dir, "events").select("user_id", "ts")
    return sessions.session_window_agg(ev, "user_id", "ts", _SESSION_GAP_MIN)


_BAND_W = 50_000


@q(
    "price_band_range_join",
    f"""WITH bands AS (SELECT unnest(range(0, 10)) AS band_id),
       b AS (SELECT band_id, band_id * {_BAND_W} AS lo, (band_id + 1) * {_BAND_W} AS hi
             FROM bands)
       SELECT b.band_id, b.lo, b.hi,
              COUNT(o.o_orderkey) AS n_orders,
              {_REV} AS revenue
       FROM b JOIN orders o ON o.o_totalprice >= b.lo AND o.o_totalprice < b.hi
       GROUP BY 1, 2, 3""",
)
def price_band_range_join(spark, sf_dir):
    """Non-equi range join: orders against a 10-band price grid. The
    band table is broadcast, so the range predicate evaluates as a
    broadcast nested-loop over 10 rows per order — no shuffle of the
    fact side. (With a dense fact-side key, the scale alternative is
    binning both sides to an equi-join key; here the dim is tiny so
    broadcast is strictly better.)"""
    o = load_table(spark, sf_dir, "orders")
    bands = (
        spark.range(0, 10)
        .withColumnRenamed("id", "band_id")
        .select(
            "band_id",
            (F.col("band_id") * _BAND_W).alias("lo"),
            ((F.col("band_id") + 1) * _BAND_W).alias("hi"),
        )
    )
    joined = o.join(
        F.broadcast(bands),
        (F.col("o_totalprice") >= F.col("lo")) & (F.col("o_totalprice") < F.col("hi")),
    )
    return joined.groupBy("band_id", "lo", "hi").agg(
        F.count("o_orderkey").alias("n_orders"), _rev_col()
    )


@q(
    "exact_quantiles_by_type",
    """SELECT event_type,
              ROUND(quantile_cont(value, 0.5), 6) AS p50,
              ROUND(quantile_cont(value, 0.9), 6) AS p90,
              ROUND(quantile_cont(value, 0.99), 6) AS p99
       FROM events GROUP BY 1""",
)
def exact_quantiles_by_type(spark, sf_dir):
    """Exact interpolated per-group percentiles (Spark `percentile`;
    the approx_percentile scale variant is covered by
    tests/test_approx.py tolerance checks)."""
    ev = load_table(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        F.round(F.expr("percentile(value, 0.5)"), 6).alias("p50"),
        F.round(F.expr("percentile(value, 0.9)"), 6).alias("p90"),
        F.round(F.expr("percentile(value, 0.99)"), 6).alias("p99"),
    )


_UNPIVOT_COLS = ", ".join(_PRIORITY_ALIASES)


@q(
    "unpivot_priority_revenue",
    f"""WITH wide AS (
         SELECT CAST(year(o_orderdate) AS INTEGER) AS o_year,
              {_PIVOT_CASES}
         FROM orders GROUP BY 1)
       UNPIVOT wide ON {_UNPIVOT_COLS} INTO NAME priority VALUE revenue""",
)
def unpivot_priority_revenue(spark, sf_dir):
    """Melt the pivoted wide table back to long form with the built-in
    unpivot (no UNION-per-column scan repetition — one pass expands
    each row into five)."""
    wide = pivot_priority_by_year(spark, sf_dir)
    return wide.unpivot(
        ["o_year"], _PRIORITY_ALIASES, "priority", "revenue"
    ).filter(F.col("revenue").isNotNull())


@q(
    "ranked_orders_window_suite",
    """WITH o AS (SELECT o_orderkey, o_orderpriority, o_totalprice
                 FROM orders WHERE year(o_orderdate) = 1995)
       SELECT o_orderkey, o_orderpriority,
              CAST(ntile(4) OVER w AS INT) AS quartile,
              ROUND(percent_rank() OVER w, 6) AS pct_rank,
              ROUND(cume_dist() OVER w, 6) AS cume,
              CAST(dense_rank() OVER w AS BIGINT) AS drank
       FROM o
       WINDOW w AS (PARTITION BY o_orderpriority
                    ORDER BY o_totalprice DESC, o_orderkey ASC)""",
)
def ranked_orders_window_suite(spark, sf_dir):
    """Ranking-function suite (ntile / percent_rank / cume_dist /
    dense_rank) per priority. The window orders on a TOTAL order
    (price desc, key asc) so ntile's bucket boundaries are
    deterministic under price ties."""
    from pyspark.sql.window import Window

    o = (
        load_table(spark, sf_dir, "orders")
        .filter(F.year("o_orderdate") == 1995)
        .select("o_orderkey", "o_orderpriority", "o_totalprice")
    )
    w = Window.partitionBy("o_orderpriority").orderBy(
        F.desc("o_totalprice"), F.asc("o_orderkey")
    )
    return o.select(
        "o_orderkey",
        "o_orderpriority",
        F.ntile(4).over(w).cast("int").alias("quartile"),
        F.round(F.percent_rank().over(w), 6).alias("pct_rank"),
        F.round(F.cume_dist().over(w), 6).alias("cume"),
        F.dense_rank().over(w).cast("long").alias("drank"),
    )


@q(
    "semi_join_recent_customers",
    """SELECT c.c_custkey, c.c_name
       FROM customer c
       WHERE EXISTS (SELECT 1 FROM orders o
                     WHERE o.o_custkey = c.c_custkey
                       AND o.o_orderdate >= TIMESTAMP '2000-01-01')""",
)
def semi_join_recent_customers(spark, sf_dir):
    """Left-semi join: customers with at least one order since 2000.
    Semi join ships only the distinct key set of the filtered build
    side — no fact-row duplication, and the date filter is pushed to
    the orders scan."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") >= F.lit("2000-01-01").cast("timestamp")
    )
    return c.join(
        o, c["c_custkey"] == o["o_custkey"], "left_semi"
    ).select("c_custkey", "c_name")


@q(
    "embedding_vector_stats",
    """SELECT vec_id,
              CAST(len(embedding) AS INT) AS dim,
              ROUND(sqrt(list_sum(list_transform(embedding,
                    x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))), 6) AS l2_norm,
              ROUND(list_sum(list_transform(embedding,
                    x -> CAST(x AS DOUBLE))) / len(embedding), 6) AS mean_v,
              ROUND(CAST(list_max(embedding) AS DOUBLE), 6) AS max_v,
              ROUND(CAST(list_min(embedding) AS DOUBLE), 6) AS min_v
       FROM embeddings""",
)
def embedding_vector_stats(spark, sf_dir):
    """Per-vector stats with higher-order array functions — the fold
    runs element-wise inside the JVM (no explode, no shuffle, no
    Python): aggregate() for the sums, array_max/min for extrema."""
    emb = load_table(spark, sf_dir, "embeddings")
    as_double = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    sq_sum = F.aggregate(
        as_double, F.lit(0.0), lambda acc, x: acc + x * x
    )
    v_sum = F.aggregate(as_double, F.lit(0.0), lambda acc, x: acc + x)
    return emb.select(
        "vec_id",
        F.size("embedding").cast("int").alias("dim"),
        F.round(F.sqrt(sq_sum), 6).alias("l2_norm"),
        F.round(v_sum / F.size("embedding"), 6).alias("mean_v"),
        F.round(F.array_max("embedding").cast("double"), 6).alias("max_v"),
        F.round(F.array_min("embedding").cast("double"), 6).alias("min_v"),
    )


@q(
    "stats_moments_by_type",
    """SELECT event_type,
              COUNT(*) AS n,
              ROUND(stddev_samp(value), 4) AS sd,
              ROUND(var_samp(value), 4) AS variance,
              ROUND(skewness(value) * (COUNT(value) - 2)
                    / sqrt(COUNT(value) * (COUNT(value) - 1.0)), 4) AS skew,
              ROUND(kurtosis_pop(value), 4) AS kurt,
              ROUND(corr(value, CAST(user_id AS DOUBLE)), 4) AS corr_uid,
              ROUND(covar_samp(value, CAST(user_id AS DOUBLE)), 4) AS covar_uid
       FROM events GROUP BY 1""",
)
def stats_moments_by_type(spark, sf_dir):
    """Higher statistical moments + bivariate stats per group, all
    single-pass JVM aggregates. Spark's skewness/kurtosis are the
    POPULATION definitions; the oracle converts DuckDB's
    sample-corrected skewness with the (n-2)/sqrt(n(n-1)) factor and
    uses kurtosis_pop directly — definitional parity is pinned, not
    assumed."""
    ev = load_table(spark, sf_dir, "events")
    uid = F.col("user_id").cast("double")
    return ev.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.stddev_samp("value"), 4).alias("sd"),
        F.round(F.var_samp("value"), 4).alias("variance"),
        F.round(F.skewness("value"), 4).alias("skew"),
        F.round(F.kurtosis("value"), 4).alias("kurt"),
        F.round(F.corr(F.col("value"), uid), 4).alias("corr_uid"),
        F.round(F.covar_samp(F.col("value"), uid), 4).alias("covar_uid"),
    )


@q(
    "user_event_profile",
    """SELECT user_id,
              array_to_string(list_sort(list(DISTINCT event_type)), ',')
                AS event_types,
              CAST(COUNT(*) AS BIGINT) AS n_events,
              arg_min(event_type, event_id) AS first_type,
              arg_max(event_type, event_id) AS last_type
       FROM events GROUP BY 1""",
)
def user_event_profile(spark, sf_dir):
    """Per-user behavioral profile: the distinct event-type set
    collected, SORTED, and joined to a ','-delimited string
    (deterministic cross-engine AND driver-canonicalizable — the
    driver's pandas sort_values cannot factorize list cells, so
    array-typed output columns crash its compare; r4 lesson), plus
    first/last event type keyed on the unique event_id (min_by/max_by
    with a total key — never on a tie-prone timestamp)."""
    ev = load_table(spark, sf_dir, "events")
    return ev.groupBy("user_id").agg(
        F.array_join(
            F.array_sort(F.collect_set("event_type")), ","
        ).alias("event_types"),
        F.count(F.lit(1)).alias("n_events"),
        F.min_by("event_type", "event_id").alias("first_type"),
        F.max_by("event_type", "event_id").alias("last_type"),
    )


_SIMHASH_SIMS_SQL = """
       tokd AS (SELECT doc_id, unnest(string_split_regex(lower(trim(text)), '\\s+')) AS tok
                FROM (SELECT doc_id, text FROM documents WHERE source = 'src1')),
       m AS (SELECT doc_id, md5(tok) AS m FROM tokd),
       pos AS (SELECT doc_id, m, unnest(range(1, 17)) AS j FROM m),
       contrib AS (SELECT doc_id, j,
                          CASE WHEN instr('0123456789abcdef', substr(m, j, 1)) - 1 >= 8
                               THEN 1 ELSE -1 END AS s
                   FROM pos),
       bits AS (SELECT doc_id, j, CASE WHEN SUM(s) > 0 THEN 1 ELSE 0 END AS bit
                FROM contrib GROUP BY 1, 2),
       sims AS (SELECT doc_id, CAST(SUM(bit * (1 << (j - 1))) AS BIGINT) AS simhash
                FROM bits GROUP BY 1)
"""


# The iterative graph queries run ~10-20 tiny jobs each (one shuffle
# join + aggregate + localCheckpoint per round). Their per-round
# shuffle state is O(vertices) ~ O(input rows) at ~16 B per (node,
# label/rank) row, so the pin is partitions_for(16 B/row, floor 4):
# every bench SF lands on the measured-best 4 (sf0.1: pagerank 3.0 ->
# 2.3 s, label_propagation 2.5 -> 2.1 s, dedup_components 3.6 ->
# 2.1 s; 4 beat 8 and 32) and a large graph gets up to 2x-cores
# rounds. The pin binds only the work materialized INSIDE the query
# function — each round's eager localCheckpoint, where the per-round
# shuffles live; the small final frame plans at the session default.
# Values are partition-count-independent: min-label and component
# joins are exact, and pagerank's per-round sums feed ROUND(rank, 8).
def _graph_width(table: str):
    """``shuffle=`` sizing rule of the iterative graph queries."""
    return lambda spark, sf_dir: partitions_for(spark, sf_dir, table, 16, 4)


@q(
    "dedup_components",
    f"""WITH RECURSIVE {_SIMHASH_SIMS_SQL.strip()},
       prs AS (SELECT a.doc_id AS src, b.doc_id AS dst
               FROM sims a JOIN sims b
                 ON a.doc_id < b.doc_id
                    AND bit_count(xor(a.simhash, b.simhash)) <= 3),
       edges AS (SELECT src, dst FROM prs UNION SELECT dst, src FROM prs),
       nodes AS (SELECT DISTINCT src AS node FROM edges),
       reach AS (SELECT node, node AS label FROM nodes
                 UNION
                 SELECT e.dst AS node, r.label FROM reach r
                 JOIN edges e ON e.src = r.node),
       labels AS (SELECT node, MIN(label) AS component FROM reach GROUP BY 1)
       SELECT component, COUNT(*) AS n_docs
       FROM labels GROUP BY 1 HAVING COUNT(*) >= 2""",
    shuffle=_graph_width("documents"),
)
def dedup_components(spark, sf_dir):
    """Duplicate GROUPS from near-dup PAIRS: connected components over
    the simhash hamming<=3 graph by iterative min-label propagation
    (operators/graphs.py). The oracle computes the same components
    with a recursive CTE."""
    from ..operators import dedup

    docs = load_table(spark, sf_dir, "documents", fanout=True).filter(F.col("source") == "src1")
    sims = dedup.simhash16(docs, "doc_id", "text")
    prs = dedup.simhash_pairs(sims, "doc_id", max_hamming=3)
    labels = graphs.connected_components(
        prs.select(F.col("doc_a").alias("src"), F.col("doc_b").alias("dst"))
    )
    return graphs.component_stats(labels)


def _pagerank_oracle(alpha: float = 0.85, n_iters: int = 5) -> str:
    """Unrolled power-iteration PageRank as one DuckDB query: each of
    the 5 iterations is a plain CTE (join + group-sum + dangling-mass
    scalar), mirroring operators/graphs.pagerank update-for-update.
    Float constants replicate Spark's Python-side arithmetic
    ((1.0-alpha) embedded at repr precision); every remaining op is a
    correctly-rounded IEEE +,*,/ so the engines agree far inside the
    final ROUND(rank, 8). The window ordering replicates Spark's
    unix_timestamp SECOND truncation via epoch_us // 1000000."""
    one_minus = repr(1.0 - alpha)
    a = repr(alpha)
    its = []
    for k in range(n_iters):
        its.append(f"""
       dm{k} AS (SELECT COALESCE(SUM(rank), 0.0::DOUBLE) AS dm FROM r{k}
                 WHERE node NOT IN (SELECT s FROM has_out)),
       inflow{k} AS (SELECT we.t AS node, SUM(r.rank * we.w) AS m
                     FROM r{k} r JOIN we ON r.node = we.s GROUP BY we.t),
       r{k + 1} AS (SELECT n.node,
                        {one_minus}::DOUBLE / cnt.nf
                        + ({a}::DOUBLE * dm{k}.dm) / cnt.nf
                        + {a}::DOUBLE * COALESCE(i.m, 0.0::DOUBLE) AS rank
                    FROM nodes n
                    LEFT JOIN inflow{k} i ON n.node = i.node
                    CROSS JOIN dm{k} CROSS JOIN cnt)""")
    return f"""WITH e AS (
         SELECT s, t FROM (
           SELECT user_id AS s,
                  lead(user_id) OVER (PARTITION BY event_type
                      ORDER BY epoch_us(ts) // 1000000, event_id) AS t
           FROM events)
         WHERE t IS NOT NULL AND t <> s),
       nodes AS (SELECT DISTINCT node FROM
                 (SELECT s AS node FROM e UNION ALL SELECT t FROM e)),
       cnt AS (SELECT CAST(COUNT(*) AS DOUBLE) AS nf FROM nodes),
       outdeg AS (SELECT s, COUNT(*) AS deg FROM e GROUP BY s),
       we AS (SELECT e.s, e.t, 1.0::DOUBLE / outdeg.deg AS w
              FROM e JOIN outdeg USING (s)),
       has_out AS (SELECT DISTINCT s FROM we),
       r0 AS (SELECT node, 1.0::DOUBLE / cnt.nf AS rank
              FROM nodes CROSS JOIN cnt),{",".join(its)}
       SELECT node AS user_id, ROUND(rank, 8) AS rank
       FROM r{n_iters}
       ORDER BY ROUND(rank, 8) DESC, node ASC LIMIT 50"""


@q("pagerank_user_influence", _pagerank_oracle(), shuffle=_graph_width("events"))
def pagerank_user_influence(spark, sf_dir):
    """User-influence ranking: PageRank (alpha=.85, 5 power
    iterations, dangling-mass redistribution) over the temporal
    hand-off graph — an edge u→v whenever v's event directly follows
    u's in the same event_type stream. operators/graphs.pagerank runs
    one co-partitioned join + one aggregate per iteration with
    lineage truncated per round. The oracle unrolls the same 5
    iterations as plain CTEs (_pagerank_oracle); tests/test_graphs.py
    additionally pins the numbers against a dense numpy power
    iteration at 1e-9."""
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("event_type").orderBy(F.unix_timestamp("ts"), "event_id")
    edges = (
        ev.select(
            F.col("user_id").alias("src"),
            F.lead("user_id").over(w).alias("dst"),
        )
        .filter(F.col("dst").isNotNull() & (F.col("dst") != F.col("src")))
    )
    ranks = graphs.pagerank(edges, "src", "dst", alpha=0.85, n_iters=5)
    return (
        ranks.select(F.col("node").alias("user_id"), F.round("rank", 8).alias("rank"))
        .orderBy(F.desc("rank"), F.asc("user_id"))
        .limit(50)
    )


@q(
    "neardup_canonical_selection",
    f"""WITH RECURSIVE {_SIMHASH_SIMS_SQL.strip()},
       prs AS (SELECT a.doc_id AS src, b.doc_id AS dst
               FROM sims a JOIN sims b
                 ON a.doc_id < b.doc_id
                    AND bit_count(xor(a.simhash, b.simhash)) <= 3),
       edges AS (SELECT src, dst FROM prs UNION SELECT dst, src FROM prs),
       nodes AS (SELECT DISTINCT src AS node FROM edges),
       reach AS (SELECT node, node AS label FROM nodes
                 UNION
                 SELECT e.dst AS node, r.label FROM reach r
                 JOIN edges e ON e.src = r.node),
       labels AS (SELECT node, MIN(label) AS component FROM reach GROUP BY 1),
       ranked AS (
         SELECT l.component, d.doc_id, d.n_chars,
                ROW_NUMBER() OVER (PARTITION BY l.component
                                   ORDER BY d.n_chars DESC, d.doc_id ASC) AS rn
         FROM labels l JOIN documents d ON l.node = d.doc_id)
       SELECT component,
              MAX(CASE WHEN rn = 1 THEN doc_id END) AS canonical_doc,
              COUNT(*) AS n_docs,
              COUNT(*) - 1 AS n_dropped,
              CAST(SUM(n_chars) AS BIGINT) AS total_chars
       FROM ranked GROUP BY component""",
    shuffle=_graph_width("documents"),
)
def neardup_canonical_selection(spark, sf_dir):
    """Canonical-representative selection — the step after near-dup
    clustering in a training-data pipeline: every duplicate cluster
    keeps exactly ONE document (longest text, doc_id as tiebreak) and
    drops the rest. Spark: component labels join back to the docs and
    max_by over an orderable (n_chars, -doc_id) struct picks the
    keeper in the same single component-grain aggregate that counts
    the drops — no window, no second shuffle. The oracle formulates
    the same choice independently as a row_number window."""
    from ..operators import dedup

    docs = load_table(spark, sf_dir, "documents", fanout=True).filter(
        F.col("source") == "src1"
    )
    sims = dedup.simhash16(docs, "doc_id", "text")
    prs = dedup.simhash_pairs(sims, "doc_id", max_hamming=3)
    labels = graphs.connected_components(
        prs.select(F.col("doc_a").alias("src"), F.col("doc_b").alias("dst"))
    )
    member = labels.join(
        docs.select("doc_id", "n_chars"), labels.node == F.col("doc_id")
    ).withColumnRenamed("label", "component")
    return member.groupBy("component").agg(
        F.max_by(
            "doc_id", F.struct(F.col("n_chars"), (-F.col("doc_id")).alias("neg"))
        ).alias("canonical_doc"),
        F.count(F.lit(1)).alias("n_docs"),
        (F.count(F.lit(1)) - 1).alias("n_dropped"),
        F.sum("n_chars").alias("total_chars"),
    )


@q(
    "region_nation_hierarchy_rollup",
    """SELECT COALESCE(r.r_name, 'ALL') AS region,
              CASE WHEN GROUPING(n.n_name) = 1 THEN 'ALL' ELSE n.n_name END
                AS nation,
              CAST(GROUPING(r.r_name) + GROUPING(n.n_name) AS TINYINT) AS lvl,
              COUNT(*) AS n_customers,
              CAST(ROUND(SUM(CAST(c.c_acctbal AS DECIMAL(18,2))), 2) AS DOUBLE)
                AS total_balance
       FROM customer c
       JOIN nation n ON c.c_nationkey = n.n_nationkey
       JOIN region r ON n.n_regionkey = r.r_regionkey
       GROUP BY ROLLUP (r.r_name, n.n_name)""",
)
def region_nation_hierarchy_rollup(spark, sf_dir):
    """Dimension-HIERARCHY rollup (region ⊃ nation): subtotals at
    nation, region, and grand-total levels from one scan of the
    joined star — the drill-up path of the semantic layer. Both dim
    joins broadcast; ROLLUP expands grouping sets inside a single
    aggregation pipeline (one shuffle, pinned for the flat case by
    test_rollup_single_shuffle). GROUPING() markers disambiguate
    'ALL' from a real value."""
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region")
    joined = c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey).join(
        F.broadcast(r), F.col("n_regionkey") == F.col("r_regionkey")
    )
    return (
        joined.rollup("r_name", "n_name")
        .agg(
            F.grouping("n_name").alias("g_nation"),
            (F.grouping("r_name") + F.grouping("n_name")).alias("lvl"),
            F.count(F.lit(1)).alias("n_customers"),
            F.round(F.sum(F.col("c_acctbal").cast("decimal(18,2)")), 2)
            .cast("double")
            .alias("total_balance"),
        )
        .select(
            F.coalesce("r_name", F.lit("ALL")).alias("region"),
            F.when(F.col("g_nation") == 1, "ALL")
            .otherwise(F.col("n_name"))
            .alias("nation"),
            "lvl",
            "n_customers",
            "total_balance",
        )
    )


@q(
    "interval_overlap_join",
    """WITH t0 AS (
         SELECT CAST(epoch(date_trunc('day', MIN(ts))) AS BIGINT) AS t0e
         FROM events),
       types AS (SELECT DISTINCT event_type FROM events),
       ns AS (SELECT unnest(generate_series(0, 179)) AS n),
       iv AS (SELECT event_type, n,
                     t0e + n * 14400 AS start_e,
                     t0e + n * 14400 + 5400 AS end_e
              FROM types CROSS JOIN ns CROSS JOIN t0),
       hits AS (
         SELECT iv.event_type, iv.n, e.value
         FROM iv JOIN events e
           ON e.event_type = iv.event_type
          AND CAST(FLOOR(epoch(e.ts)) AS BIGINT) >= iv.start_e
          AND CAST(FLOOR(epoch(e.ts)) AS BIGINT) < iv.end_e)
       SELECT event_type, CAST(n AS INT) AS window_n,
              COUNT(*) AS n_events,
              CAST(ROUND(SUM(CAST(value AS DECIMAL(18,4))), 2) AS DOUBLE)
                AS total_value
       FROM hits GROUP BY 1, 2""",
)
def interval_overlap_join(spark, sf_dir):
    """Point-in-interval join at scale: 90-minute maintenance windows
    every 4 hours per series, matched against every tick. The naive
    plan is a theta join (the oracle's formulation — at 100 TB a
    nested-loop disaster); this plan EXPANDS each interval into the
    hour buckets it covers (<= 2 rows), equi-joins on (series, hour
    bucket), then applies the exact range predicate — a linear-shuffle
    hash join whose fan-out is bounded by interval_length/bucket + 1.
    All boundary math is integer epoch seconds, so the engines cannot
    disagree on a boundary tick. Plan-gated: no CartesianProduct (the
    tiny series x window-index grid builds via broadcast)."""
    ev = load_table(spark, sf_dir, "events")
    t0 = ev.agg(
        F.unix_timestamp(F.date_trunc("day", F.min("ts"))).alias("t0e")
    )
    types = ev.select("event_type").distinct()
    ns = spark.range(180).select(F.col("id").cast("int").alias("n"))
    iv = (
        types.join(F.broadcast(ns))
        .join(F.broadcast(t0))
        .select(
            "event_type",
            "n",
            (F.col("t0e") + F.col("n") * 14400).alias("start_e"),
            (F.col("t0e") + F.col("n") * 14400 + 5400).alias("end_e"),
        )
    )
    ivb = iv.withColumn(
        "bucket",
        F.explode(
            F.sequence(
                F.floor(F.col("start_e") / 3600),
                F.floor((F.col("end_e") - 1) / 3600),
            )
        ),
    )
    evb = ev.select(
        "event_type",
        F.unix_timestamp("ts").alias("epoch"),
        "value",
    ).withColumn("bucket", F.floor(F.col("epoch") / 3600))
    hits = ivb.join(evb, ["event_type", "bucket"]).filter(
        (F.col("epoch") >= F.col("start_e")) & (F.col("epoch") < F.col("end_e"))
    )
    return hits.groupBy(
        "event_type", F.col("n").cast("int").alias("window_n")
    ).agg(
        F.count(F.lit(1)).alias("n_events"),
        F.round(F.sum(F.col("value").cast("decimal(18,4)")), 2)
        .cast("double")
        .alias("total_value"),
    )


@q(
    "salted_skew_join_revenue",
    """SELECT o.o_orderpriority,
              COUNT(*) AS n_lines,
              CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
                AS revenue
       FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
       GROUP BY 1""",
)
def salted_skew_join_revenue(spark, sf_dir):
    """Skew-resilient fact join surfaced as a driver query: the
    lineitem->orders equi-join runs through operators/skew.salted_join
    (left rows salted uniformly, right side replicated n_salts ways),
    so one hot orderkey spreads across n_salts reducers instead of one
    straggler. The oracle is the PLAIN join — hash-matching it proves
    salting is a pure physical rewrite with zero semantic drift
    (every left row meets its key's right rows exactly once)."""
    from ..operators import skew

    li = load_table(spark, sf_dir, "lineitem").select(
        F.col("l_orderkey").alias("k"), "l_extendedprice"
    )
    orders = load_table(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("k"), "o_orderpriority"
    )
    joined = skew.salted_join(li, orders, ["k"], n_salts=8)
    return joined.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_lines"),
        F.sum(F.col("l_extendedprice").cast("decimal(18,2)"))
        .cast("double")
        .alias("revenue"),
    )


_BLOOM_M = 1 << 20  # ~12% fill at sf0.1 build cardinality; FP^4 ~ 2e-4


def _bloom_pos_sql(expr: str, i: int) -> str:
    return (
        f"('0x' || substr(md5(CAST({expr} AS VARCHAR)), {1 + 8 * i}, 8))"
        f"::BIGINT % {_BLOOM_M}"
    )


@q(
    "bloom_prefilter_join",
    f"""WITH keys AS (
         SELECT o_orderkey FROM orders
         WHERE o_orderpriority = '1-URGENT'),
       bits AS (
         SELECT DISTINCT b FROM keys, (VALUES (0), (1), (2), (3)) AS h(i),
         LATERAL (SELECT CASE i
                    WHEN 0 THEN {_bloom_pos_sql('o_orderkey', 0)}
                    WHEN 1 THEN {_bloom_pos_sql('o_orderkey', 1)}
                    WHEN 2 THEN {_bloom_pos_sql('o_orderkey', 2)}
                    ELSE {_bloom_pos_sql('o_orderkey', 3)} END AS b) AS p),
       probe AS (
         SELECT l_orderkey,
                {_bloom_pos_sql('l_orderkey', 0)} AS b0,
                {_bloom_pos_sql('l_orderkey', 1)} AS b1,
                {_bloom_pos_sql('l_orderkey', 2)} AS b2,
                {_bloom_pos_sql('l_orderkey', 3)} AS b3
         FROM lineitem),
       passed AS (
         SELECT l_orderkey FROM probe
         WHERE b0 IN (SELECT b FROM bits)
           AND b1 IN (SELECT b FROM bits)
           AND b2 IN (SELECT b FROM bits)
           AND b3 IN (SELECT b FROM bits)),
       truth AS (
         SELECT l_orderkey FROM lineitem
         WHERE l_orderkey IN (SELECT o_orderkey FROM keys))
       SELECT (SELECT COUNT(*) FROM keys) AS n_keys,
              (SELECT COUNT(*) FROM bits) AS n_bits_set,
              (SELECT COUNT(*) FROM passed) AS n_bloom_pass,
              (SELECT COUNT(*) FROM truth) AS n_true_match,
              (SELECT COUNT(*) FROM passed)
                - (SELECT COUNT(*) FROM truth) AS n_false_pos""",
)
def bloom_prefilter_join(spark, sf_dir):
    """Runtime-filter pattern, portable: a bloom filter over the build
    side's join keys (4 md5-derived hash positions into 2^20 bits)
    pre-filters the probe side BEFORE the real join — the semi-join
    pushdown that saves shuffling 100 TB of probe rows that cannot
    match. Both the bit set and the probe are deterministic
    expressions, so the DuckDB oracle reproduces the filter bit for
    bit: the hash match certifies zero false negatives BY VALUE (every
    true match passes) and pins the exact false-positive count this
    filter produces on this data. Spark-side the bit set stays a
    DataFrame (broadcast hash joins on the bit positions) — no
    driver-side collect of the filter. The probe tests all four hash
    positions against one broadcast packed-word array in a single
    pass: the 100 TB probe side is never shuffled BY KEY — the only
    exchange is the local round-robin of the bare key column noted
    below."""
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey")
    keys = orders.filter(
        F.col("o_orderpriority") == "1-URGENT"
    ).select("o_orderkey")

    def pos(col, i):
        return F.pmod(
            F.conv(
                F.substring(F.md5(col.cast("string")), 1 + 8 * i, 8), 16, 10
            ).cast("long"),
            F.lit(_BLOOM_M),
        )

    bits = (
        keys.select(
            F.explode(
                F.array(*[pos(F.col("o_orderkey"), i) for i in range(4)])
            ).alias("b")
        )
        .distinct()
    )
    # Pack the filter into its literal form — m/64 longs keyed by word
    # index — as ONE broadcast row, and test membership with pure
    # bitwise expressions: the probe side is a single scan with no
    # shuffle, no dedup, no explode, no join build per position. The
    # md5 is materialized once per row (``__h``); Catalyst keeps the
    # projection because the alias is referenced four times and md5 is
    # not collapse-cheap.
    # Dense word array, NOT a map: Spark maps are array-backed, so
    # element_at on a 16k-entry map is a linear scan per probe; a
    # dense array indexed by word is O(1). Densify absent words to 0
    # via a range join; array order is pinned by array_sort over
    # (w, word) structs, not by collect_list partition order.
    words = (
        bits.select(
            F.floor(F.col("b") / 64).cast("int").alias("w"),
            F.expr(
                "shiftleft(CAST(1 AS BIGINT), CAST(pmod(b, 64) AS INT))"
            ).alias("bit"),
        )
        .groupBy("w")
        .agg(F.bit_or("bit").alias("word"))
    )
    bloom = (
        spark.range(_BLOOM_M // 64)
        .select(F.col("id").cast("int").alias("w"))
        .join(words, "w", "left")
        .select("w", F.coalesce("word", F.lit(0).cast("long")).alias("word"))
        .agg(
            F.expr(
                "transform(array_sort(collect_list(struct(w, word))), "
                "s -> s.word)"
            ).alias("__bloom")
        )
    )
    # r10 OPT (guide §2.5 input skew): the fixture is one single-row-
    # group file, so the probe's 600k md5 evaluations all ran in ONE
    # scan task. Round-robin the bare 8-byte key column first (the
    # shuffle ships keys only — the same compact-proxy rule as the
    # fanout flag). r11 (VERDICT r10 #3): the round-robin is now GATED
    # on the scan's row-group count — at production scale the scan
    # already has thousands of splits and the exchange is skipped
    # outright instead of shuffling every probe row for nothing.
    li_probe = fanout_if_narrow(spark, sf_dir, "lineitem", li)
    probed = (
        li_probe.withColumn("__h", F.md5(F.col("l_orderkey").cast("string")))
        .crossJoin(F.broadcast(bloom))
        .select(
            "l_orderkey",
            "__bloom",
            *[
                F.pmod(
                    F.conv(F.substring("__h", 1 + 8 * i, 8), 16, 10).cast(
                        "long"
                    ),
                    F.lit(_BLOOM_M),
                ).alias(f"__b{i}")
                for i in range(4)
            ],
        )
    )
    hits = [
        F.expr(
            f"element_at(__bloom, CAST(floor(__b{i} / 64) AS INT) + 1) & "
            f"shiftleft(CAST(1 AS BIGINT), CAST(pmod(__b{i}, 64) AS INT)) != 0"
        )
        for i in range(4)
    ]
    passed = probed.filter(
        hits[0] & hits[1] & hits[2] & hits[3]
    ).select("l_orderkey")
    truth = li.join(
        F.broadcast(keys), li.l_orderkey == keys.o_orderkey, "left_semi"
    )
    n = lambda df, name: df.agg(F.count(F.lit(1)).alias(name))  # noqa: E731
    return (
        n(keys, "n_keys")
        .join(
            bloom.select(
                F.expr(
                    "aggregate(__bloom, CAST(0 AS BIGINT), "
                    "(acc, w) -> acc + bit_count(w))"
                ).alias("n_bits_set")
            )
        )
        .join(n(passed, "n_bloom_pass"))
        .join(n(truth, "n_true_match"))
        .select(
            "n_keys",
            "n_bits_set",
            "n_bloom_pass",
            "n_true_match",
            (F.col("n_bloom_pass") - F.col("n_true_match")).alias(
                "n_false_pos"
            ),
        )
    )


def _label_prop_oracle(n_rounds: int = 3) -> str:
    """Unrolled synchronous min-label propagation: round k+1 labels =
    least(own label, min over in-neighbors' labels) on the symmetric
    hand-off graph — the same per-round CTE shape as the PageRank
    oracle, one CTE pair per round."""
    its = []
    for k in range(n_rounds):
        its.append(f"""
       nm{k} AS (SELECT e.b AS node, MIN(l.label) AS m
                 FROM l{k} l JOIN e ON l.node = e.a GROUP BY e.b),
       l{k + 1} AS (SELECT l.node,
                         LEAST(l.label, COALESCE(nm{k}.m, l.label)) AS label
                     FROM l{k} l LEFT JOIN nm{k} ON l.node = nm{k}.node)""")
    rounds_union = "\n         UNION ALL ".join(
        f"""SELECT {k} AS round,
                COUNT(DISTINCT label) AS n_labels,
                (SELECT COUNT(*) FROM l{k} a JOIN l{max(k - 1, 0)} b
                  ON a.node = b.node AND a.label <> b.label) AS n_changed
         FROM l{k}"""
        for k in range(n_rounds + 1)
    )
    return f"""WITH raw AS (
         SELECT s, t FROM (
           SELECT user_id AS s,
                  lead(user_id) OVER (PARTITION BY event_type
                      ORDER BY epoch_us(ts) // 1000000, event_id) AS t
           FROM events)
         WHERE t IS NOT NULL AND t <> s),
       e AS (SELECT DISTINCT a, b FROM (
               SELECT s AS a, t AS b FROM raw
               UNION ALL SELECT t, s FROM raw)),
       l0 AS (SELECT DISTINCT a AS node, a AS label FROM e),{",".join(its)}
       SELECT CAST(round AS INT) AS round,
              CAST(n_labels AS BIGINT) AS n_labels,
              CAST(n_changed AS BIGINT) AS n_changed
       FROM ({rounds_union})"""


@q("label_propagation_rounds", _label_prop_oracle(), shuffle=_graph_width("events"))
def label_propagation_rounds(spark, sf_dir):
    """Community coarsening trace: 3 synchronous rounds of min-label
    propagation over the symmetric user hand-off graph, reporting per
    round how many distinct labels survive and how many nodes changed
    label — the convergence telemetry an operator watches to size
    max_iters for the full connected-components run (dedup_components
    runs it to convergence; this pins the per-round dynamics).
    Each round is one co-partitioned join + min-aggregate with
    lineage truncated by localCheckpoint — the bounded-round pattern
    that survives 100 TB graphs because state is one (node, label)
    row per vertex, never paths."""
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("event_type").orderBy(
        F.unix_timestamp("ts"), "event_id"
    )
    raw = ev.select(
        F.col("user_id").alias("s"),
        F.lead("user_id").over(w).alias("t"),
    ).filter(F.col("t").isNotNull() & (F.col("t") != F.col("s")))
    sym = (
        raw.select(F.col("s").alias("a"), F.col("t").alias("b"))
        .union(raw.select(F.col("t").alias("a"), F.col("s").alias("b")))
        .distinct()
        .localCheckpoint()
    )
    labels = (
        sym.select(F.col("a").alias("node"))
        .distinct()
        .withColumn("label", F.col("node"))
        .localCheckpoint()
    )
    stats = [(0, labels.select("label").distinct().count(), 0)]
    for k in range(1, 4):
        nm = (
            sym.join(labels, sym["a"] == labels["node"])
            .groupBy(F.col("b").alias("node2"))
            .agg(F.min("label").alias("m"))
        )
        updated = (
            labels.join(nm, labels["node"] == nm["node2"], "left")
            .select(
                "node",
                F.col("label").alias("old"),
                F.least(
                    F.col("label"), F.coalesce(F.col("m"), F.col("label"))
                ).alias("label"),
            )
            .localCheckpoint()
        )
        changed = updated.filter(F.col("label") != F.col("old")).count()
        labels = updated.select("node", "label")
        stats.append(
            (k, labels.select("label").distinct().count(), changed)
        )
    return spark.createDataFrame(
        stats, "round int, n_labels long, n_changed long"
    )


@q(
    "incremental_dedup_bloom",
    f"""WITH old AS (SELECT text FROM documents WHERE doc_id % 2 = 0),
       nw AS (SELECT doc_id, text FROM documents WHERE doc_id % 2 = 1),
       bits AS (
         SELECT DISTINCT b FROM old, (VALUES (0), (1), (2), (3)) AS h(i),
         LATERAL (SELECT CASE i
                    WHEN 0 THEN {_bloom_pos_sql('text', 0)}
                    WHEN 1 THEN {_bloom_pos_sql('text', 1)}
                    WHEN 2 THEN {_bloom_pos_sql('text', 2)}
                    ELSE {_bloom_pos_sql('text', 3)} END AS b) AS p),
       probe AS (
         SELECT doc_id,
                text,
                {_bloom_pos_sql('text', 0)} AS b0,
                {_bloom_pos_sql('text', 1)} AS b1,
                {_bloom_pos_sql('text', 2)} AS b2,
                {_bloom_pos_sql('text', 3)} AS b3
         FROM nw),
       passed AS (
         SELECT doc_id FROM probe
         WHERE b0 IN (SELECT b FROM bits)
           AND b1 IN (SELECT b FROM bits)
           AND b2 IN (SELECT b FROM bits)
           AND b3 IN (SELECT b FROM bits)),
       truth AS (
         SELECT doc_id FROM nw
         WHERE text IN (SELECT text FROM old))
       SELECT (SELECT COUNT(*) FROM nw) AS n_new_docs,
              (SELECT COUNT(*) FROM passed) AS n_bloom_candidates,
              (SELECT COUNT(*) FROM truth) AS n_true_dups,
              (SELECT COUNT(*) FROM passed)
                - (SELECT COUNT(*) FROM truth) AS n_false_positives,
              (SELECT COUNT(*) FROM nw)
                - (SELECT COUNT(*) FROM truth) AS n_unique_new""",
)
def incremental_dedup_bloom(spark, sf_dir):
    """Incremental (snapshot-vs-history) exact dedup with a bloom
    prefilter — the shape a recurring crawl uses: the HISTORICAL
    corpus is summarized once as a deterministic bloom bit set (4
    md5-derived positions per text, same filter as
    bloom_prefilter_join), the NEW batch probes it map-side, and only
    the bloom survivors pay the exact verification join against
    history. At 100 TB of history the bit set is megabytes
    (broadcast), the new batch never shuffles for the non-candidates,
    and the exact join's build side is the candidate set, not the
    corpus. The oracle reproduces the filter bit for bit, so the hash
    pins zero false negatives (every true duplicate passes) AND the
    exact false-positive count on this data."""
    docs = load_table(spark, sf_dir, "documents", fanout=True)
    old = docs.filter(F.col("doc_id") % 2 == 0).select("text")
    nw = docs.filter(F.col("doc_id") % 2 == 1).select("doc_id", "text")

    def pos(col, i):
        return F.pmod(
            F.conv(
                F.substring(F.md5(col), 1 + 8 * i, 8), 16, 10
            ).cast("long"),
            F.lit(_BLOOM_M),
        )

    bits = old.select(
        F.explode(
            F.array(*[pos(F.col("text"), i) for i in range(4)])
        ).alias("b")
    ).distinct()
    # r11 OPT (guide §1.2/§2.4): the r10 form ran THREE separate count
    # jobs (n_new / n_cand / n_true) over overlapping pipelines and
    # probed membership with FOUR chained broadcast left-semi joins.
    # Pack the bit set into one broadcast word array (the same
    # packed-bloom probe bloom_prefilter_join uses — membership is a
    # pure bitwise expression, identical semantics to the per-position
    # semi-joins) and mark true duplicates with one broadcast left
    # join; all five output scalars then come from ONE aggregate job.
    # n_true counts sum(__dup) over all new docs — identical to the
    # old semi-join-after-bloom count because a true duplicate always
    # passes the bloom (no false negatives). Values oracle-verified.
    words = (
        bits.select(
            F.floor(F.col("b") / 64).cast("int").alias("w"),
            F.expr(
                "shiftleft(CAST(1 AS BIGINT), CAST(pmod(b, 64) AS INT))"
            ).alias("bit"),
        )
        .groupBy("w")
        .agg(F.bit_or("bit").alias("word"))
    )
    bloom = (
        spark.range(_BLOOM_M // 64)
        .select(F.col("id").cast("int").alias("w"))
        .join(words, "w", "left")
        .select("w", F.coalesce("word", F.lit(0).cast("long")).alias("word"))
        .agg(
            F.expr(
                "transform(array_sort(collect_list(struct(w, word))), "
                "s -> s.word)"
            ).alias("__bloom")
        )
    )
    dup = old.distinct().withColumn("__dup", F.lit(1))
    probed = (
        nw.withColumn("__h", F.md5(F.col("text")))
        .crossJoin(F.broadcast(bloom))
        .select(
            "text",
            *[
                F.pmod(
                    F.conv(F.substring("__h", 1 + 8 * i, 8), 16, 10).cast(
                        "long"
                    ),
                    F.lit(_BLOOM_M),
                ).alias(f"__b{i}")
                for i in range(4)
            ],
            "__bloom",
        )
    )
    hit = None
    for i in range(4):
        h = F.expr(
            f"element_at(__bloom, CAST(floor(__b{i} / 64) AS INT) + 1) & "
            f"shiftleft(CAST(1 AS BIGINT), CAST(pmod(__b{i}, 64) AS INT)) != 0"
        )
        hit = h if hit is None else (hit & h)
    row = (
        probed.withColumn("__hit", hit)
        .join(F.broadcast(dup), "text", "left")
        .agg(
            F.count(F.lit(1)).alias("n_new"),
            F.coalesce(
                F.sum(F.when(F.col("__hit"), 1)), F.lit(0)
            ).alias("n_cand"),
            F.coalesce(
                F.sum(F.when(F.col("__dup") == 1, 1)), F.lit(0)
            ).alias("n_true"),
        )
        .collect()[0]
    )
    n_new, n_cand, n_true = (
        int(row["n_new"]),
        int(row["n_cand"]),
        int(row["n_true"]),
    )
    return spark.createDataFrame(
        [
            (
                n_new,
                n_cand,
                n_true,
                n_cand - n_true,
                n_new - n_true,
            )
        ],
        "n_new_docs long, n_bloom_candidates long, n_true_dups long, "
        "n_false_positives long, n_unique_new long",
    )


@q(
    "percentile_disc_cont_audit",
    """WITH v AS (
         SELECT event_type, value,
                ROW_NUMBER() OVER (PARTITION BY event_type
                                   ORDER BY value, event_id) AS rn,
                COUNT(*) OVER (PARTITION BY event_type) AS n
         FROM events),
       marks AS (
         SELECT event_type, value, rn, n,
                CAST(CEIL(0.5 * n) AS BIGINT) AS d50,
                CAST(CEIL(0.9 * n) AS BIGINT) AS d90,
                CAST(FLOOR(0.5 * (n - 1)) AS BIGINT) + 1 AS c50_lo,
                CAST(CEIL(0.5 * (n - 1)) AS BIGINT) + 1 AS c50_hi,
                0.5 * (n - 1) - FLOOR(0.5 * (n - 1)) AS c50_f,
                CAST(FLOOR(0.9 * (n - 1)) AS BIGINT) + 1 AS c90_lo,
                CAST(CEIL(0.9 * (n - 1)) AS BIGINT) + 1 AS c90_hi,
                0.9 * (n - 1) - FLOOR(0.9 * (n - 1)) AS c90_f
         FROM v)
       SELECT event_type,
              CAST(MAX(n) AS BIGINT) AS n_rows,
              ROUND(MAX(CASE WHEN rn = d50 THEN value END), 4) AS p50_disc,
              ROUND(MAX(CASE WHEN rn = c50_lo THEN value END)
                    * (1 - MAX(c50_f))
                    + MAX(CASE WHEN rn = c50_hi THEN value END)
                    * MAX(c50_f), 4) AS p50_cont,
              ROUND(MAX(CASE WHEN rn = d90 THEN value END), 4) AS p90_disc,
              ROUND(MAX(CASE WHEN rn = c90_lo THEN value END)
                    * (1 - MAX(c90_f))
                    + MAX(CASE WHEN rn = c90_hi THEN value END)
                    * MAX(c90_f), 4) AS p90_cont,
              ROUND(ABS(MAX(CASE WHEN rn = d50 THEN value END)
                    - (MAX(CASE WHEN rn = c50_lo THEN value END)
                       * (1 - MAX(c50_f))
                       + MAX(CASE WHEN rn = c50_hi THEN value END)
                       * MAX(c50_f))), 4) AS p50_disc_cont_gap
       FROM marks GROUP BY event_type""",
)
def percentile_disc_cont_audit(spark, sf_dir):
    """PERCENTILE_DISC vs PERCENTILE_CONT side by side, both spelled
    as EXPLICIT rank arithmetic (disc = the ceil(q*n)-th ordered
    value; cont = linear interpolation at (n-1)*q) rather than the
    engines' builtins — SQL dialects disagree on disc rounding and
    cont index conventions, and the explicit form pins ONE semantics
    both engines must reproduce. The gap column is the estimator
    discrepancy a user silently eats when switching dialects. One
    window sort per key serves all four estimates."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("event_type").orderBy("value", "event_id")
    wn = Window.partitionBy("event_type")
    v = ev.select(
        "event_type",
        "value",
        F.row_number().over(w).alias("rn"),
        F.count(F.lit(1)).over(wn).alias("n"),
    )
    nm1 = F.col("n") - 1
    marks = v.select(
        "event_type",
        "value",
        "rn",
        "n",
        F.ceil(0.5 * F.col("n")).cast("long").alias("d50"),
        F.ceil(0.9 * F.col("n")).cast("long").alias("d90"),
        (F.floor(0.5 * nm1) + 1).cast("long").alias("c50_lo"),
        (F.ceil(0.5 * nm1) + 1).cast("long").alias("c50_hi"),
        (0.5 * nm1 - F.floor(0.5 * nm1)).alias("c50_f"),
        (F.floor(0.9 * nm1) + 1).cast("long").alias("c90_lo"),
        (F.ceil(0.9 * nm1) + 1).cast("long").alias("c90_hi"),
        (0.9 * nm1 - F.floor(0.9 * nm1)).alias("c90_f"),
    )

    def at(mark):
        return F.max(F.when(F.col("rn") == F.col(mark), F.col("value")))

    p50c = at("c50_lo") * (1 - F.max("c50_f")) + at("c50_hi") * F.max("c50_f")
    p90c = at("c90_lo") * (1 - F.max("c90_f")) + at("c90_hi") * F.max("c90_f")
    return marks.groupBy("event_type").agg(
        F.max("n").cast("long").alias("n_rows"),
        F.round(at("d50"), 4).alias("p50_disc"),
        F.round(p50c, 4).alias("p50_cont"),
        F.round(at("d90"), 4).alias("p90_disc"),
        F.round(p90c, 4).alias("p90_cont"),
        F.round(F.abs(at("d50") - p50c), 4).alias("p50_disc_cont_gap"),
    )


@q(
    "orderkey_gaps_islands",
    """WITH keys AS (SELECT DISTINCT o_orderkey FROM orders),
       tagged AS (
         SELECT o_orderkey,
                o_orderkey - ROW_NUMBER() OVER (ORDER BY o_orderkey)
                  AS island
         FROM keys),
       islands AS (
         SELECT island,
                CAST(MIN(o_orderkey) AS BIGINT) AS island_start,
                CAST(MAX(o_orderkey) AS BIGINT) AS island_end,
                CAST(COUNT(*) AS BIGINT) AS island_len
         FROM tagged GROUP BY island)
       SELECT island_start, island_end, island_len,
              CAST(island_end - island_start + 1 AS BIGINT) AS span,
              CAST(LEAD(island_start) OVER (ORDER BY island_start)
                   - island_end - 1 AS BIGINT) AS gap_to_next
       FROM islands
       ORDER BY island_len DESC, island_start
       LIMIT 20""",
)
def orderkey_gaps_islands(spark, sf_dir):
    """Gaps-and-islands over the sparse o_orderkey domain (TPC-H
    assigns only 1 key in 4): the classic key - ROW_NUMBER() grouping
    trick finds maximal runs of consecutive present keys in ONE
    window pass — no self-join, no sequence table — then ranks the 20
    longest islands with the gap to the next island. The pattern is
    the workhorse for sequence-completeness audits (missing commit
    versions, absent partition dates) where the naive NOT EXISTS
    anti-join would need a generated calendar of the full domain."""
    orders = load_table(spark, sf_dir, "orders")
    keys = orders.select("o_orderkey").distinct()
    tagged = keys.withColumn(
        "island",
        F.col("o_orderkey")
        # bounded-grain: gaps/islands is an inherently global sequence;
        # 100 TB path = per-range islands then a boundary-merge pass
        - F.row_number().over(Window.orderBy("o_orderkey")),
    )
    islands = tagged.groupBy("island").agg(
        F.min("o_orderkey").cast("long").alias("island_start"),
        F.max("o_orderkey").cast("long").alias("island_end"),
        F.count(F.lit(1)).cast("long").alias("island_len"),
    )
    return (
        islands.select(
            "island_start",
            "island_end",
            "island_len",
            (F.col("island_end") - F.col("island_start") + 1)
            .cast("long")
            .alias("span"),
            (
                # bounded-grain: island grain (post-aggregation; islands
                # ≪ keys)
                F.lead("island_start").over(Window.orderBy("island_start"))
                - F.col("island_end")
                - 1
            )
            .cast("long")
            .alias("gap_to_next"),
        )
        .orderBy(F.desc("island_len"), "island_start")
        .limit(20)
    )


@q(
    "benford_digit_audit",
    """WITH d AS (
         SELECT CAST(substr(CAST(CAST(o_totalprice AS DECIMAL(18,2))
                                 AS VARCHAR), 1, 1) AS INT) AS digit
         FROM orders WHERE o_totalprice >= 1),
       c AS (SELECT digit, CAST(COUNT(*) AS BIGINT) AS n
             FROM d GROUP BY 1),
       t AS (SELECT CAST(SUM(n) AS BIGINT) AS total FROM c)
       SELECT c.digit, c.n,
              ROUND(c.n / CAST(t.total AS DOUBLE), 6) AS observed_p,
              ROUND(LOG10(1.0 + 1.0 / c.digit), 6) AS benford_p,
              ROUND(ABS(c.n / CAST(t.total AS DOUBLE)
                        - LOG10(1.0 + 1.0 / c.digit)), 6) AS abs_dev,
              ROUND(t.total
                    * POW(c.n / CAST(t.total AS DOUBLE)
                          - LOG10(1.0 + 1.0 / c.digit), 2)
                    / LOG10(1.0 + 1.0 / c.digit), 4) AS chi2_term
       FROM c CROSS JOIN t""",
)
def benford_digit_audit(spark, sf_dir):
    """Benford's-law conformity of the order-amount leading digit —
    the classic fabricated-data / unit-mixing screen a warehouse runs
    over monetary columns: observed first-digit shares vs
    log10(1 + 1/d), absolute deviations (their mean is the standard
    MAD conformity statistic), and per-digit chi-square terms. The
    digit extraction goes through DECIMAL(18,2) text rendering so
    both engines read the identical leading character (raw double
    formatting diverges). One groupBy onto 9 keys + a broadcast of
    the 1-row total: map-side combine does all the work at 100 TB."""
    o = load_table(spark, sf_dir, "orders").filter(
        F.col("o_totalprice") >= 1
    )
    d = o.select(
        F.substring(
            F.col("o_totalprice").cast("decimal(18,2)").cast("string"), 1, 1
        )
        .cast("int")
        .alias("digit")
    )
    c = d.groupBy("digit").agg(F.count(F.lit(1)).cast("long").alias("n"))
    t = c.agg(F.sum("n").cast("long").alias("total"))
    obs = F.col("n") / F.col("total").cast("double")
    ben = F.log10(1.0 + 1.0 / F.col("digit"))
    return c.crossJoin(F.broadcast(t)).select(
        "digit",
        "n",
        F.round(obs, 6).alias("observed_p"),
        F.round(ben, 6).alias("benford_p"),
        F.round(F.abs(obs - ben), 6).alias("abs_dev"),
        F.round(
            F.col("total") * F.pow(obs - ben, 2) / ben, 4
        ).alias("chi2_term"),
    )


@q(
    "markov_steady_state_events",
    """WITH RECURSIVE seq AS (
         SELECT user_id, event_type AS f,
                LEAD(event_type) OVER (PARTITION BY user_id
                    ORDER BY ts, event_id) AS t
         FROM events),
       trans AS (SELECT f, t, CAST(COUNT(*) AS BIGINT) AS n
                 FROM seq WHERE t IS NOT NULL GROUP BY 1, 2),
       types AS (SELECT DISTINCT event_type AS ty FROM events),
       idx AS (SELECT ty, CAST(ROW_NUMBER() OVER (ORDER BY ty) AS INT) AS i
               FROM types),
       grid AS (SELECT a.ty AS f, a.i AS fi, b.ty AS t, b.i AS ti
                FROM idx a CROSS JOIN idx b),
       cells AS (
         SELECT g.fi, g.ti,
                COALESCE(tr.n, 0) AS n,
                SUM(COALESCE(tr.n, 0)) OVER (PARTITION BY g.fi) AS row_n
         FROM grid g LEFT JOIN trans tr ON tr.f = g.f AND tr.t = g.t),
       p AS (SELECT fi, ti,
                    ROUND(n / CAST(row_n AS DOUBLE), 8) AS p
             FROM cells),
       cols AS (SELECT ti, list(p ORDER BY fi) AS col FROM p GROUP BY 1),
       mt AS (SELECT list(col ORDER BY ti) AS m FROM cols),
       k AS (SELECT CAST(COUNT(*) AS INT) AS k FROM types),
       it AS (
         SELECT 0 AS s, m, k.k,
                list_transform(range(1, k.k + 1),
                               j -> ROUND(1.0 / k.k, 8)) AS v
         FROM mt CROSS JOIN k
         UNION ALL
         SELECT s + 1, m, k,
                list_transform(
                  list_transform(m, col -> ROUND(list_reduce(
                    list_transform(range(1, k + 1), i -> v[i] * col[i]),
                    (a, b) -> a + b), 8)),
                  w -> ROUND(w / list_reduce(
                    list_transform(m, col2 -> ROUND(list_reduce(
                      list_transform(range(1, k + 1), i -> v[i] * col2[i]),
                      (a, b) -> a + b), 8)),
                    (a, b) -> a + b), 8))
         FROM it WHERE s < 12),
       pi_ AS (SELECT v FROM it WHERE s = 12),
       emp AS (
         SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_events,
                ROUND(COUNT(*) / CAST((SELECT COUNT(*) FROM events)
                                      AS DOUBLE), 6) AS empirical_share
         FROM events GROUP BY 1)
       SELECT e.event_type, e.n_events, e.empirical_share,
              ROUND(p.v[i.i], 6) AS steady_state_p,
              ROUND(p.v[i.i] - e.empirical_share, 6) AS drift
       FROM emp e JOIN idx i ON e.event_type = i.ty
       CROSS JOIN pi_ p""",
)
def markov_steady_state_events(spark, sf_dir):
    """Steady-state distribution of the per-user event-type Markov
    chain: the row-normalized transition matrix (consecutive events
    per user, calendar-ordered) powered 12 steps from the uniform
    vector, L1-renormalized each step — compared against the
    empirical type shares, whose gap ('drift') says whether the
    session dynamics are stationary or the observed mix is
    arrival-biased. Same engine-portable iteration discipline as
    embedding_pca_power_iteration: the k x k matrix collapses to one
    row of lists, every dot product is the identical left fold, every
    step rounds. The transition census is one window + one groupBy;
    the iteration cost is independent of event volume."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        F.col("event_type").alias("f"),
        F.lead("event_type").over(w).alias("t"),
    ).filter(F.col("t").isNotNull())
    trans = seq.groupBy("f", "t").agg(
        F.count(F.lit(1)).cast("long").alias("n")
    )
    idx = (
        ev.select(F.col("event_type").alias("ty"))
        .distinct()
        .withColumn(
            # bounded-grain: distinct event_type grain (enum-sized dim)
            "i", F.row_number().over(Window.orderBy("ty")).cast("int")
        )
    )
    a = idx.select(F.col("ty").alias("f"), F.col("i").alias("fi"))
    b = idx.select(F.col("ty").alias("t"), F.col("i").alias("ti"))
    grid = a.crossJoin(F.broadcast(b))
    cells = grid.join(trans, ["f", "t"], "left").select(
        "fi",
        "ti",
        F.coalesce("n", F.lit(0)).alias("n"),
    )
    wrow = Window.partitionBy("fi")
    p = cells.select(
        "fi",
        "ti",
        F.round(
            F.col("n") / F.sum("n").over(wrow).cast("double"), 8
        ).alias("p"),
    )
    cols = p.groupBy("ti").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("fi", "p"))),
            lambda s: s["p"],
        ).alias("col")
    )
    mt = cols.agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("ti", "col"))),
            lambda s: s["col"],
        ).alias("m")
    )
    k = idx.agg(F.count(F.lit(1)).cast("int").alias("k"))

    def fold_sum(products):
        return F.aggregate(
            F.slice(products, 2, F.greatest(F.size(products) - 1, F.lit(0))),
            F.element_at(products, 1),
            lambda acc, x: acc + x,
        )

    df = mt.crossJoin(F.broadcast(k)).withColumn(
        "v",
        F.transform(
            F.sequence(F.lit(1), F.col("k")),
            lambda j: F.round(F.lit(1.0) / F.col("k"), 8),
        ),
    )
    for _ in range(12):
        df = df.withColumn(
            "w",
            F.transform(
                F.col("m"),
                lambda col: F.round(
                    fold_sum(F.zip_with(F.col("v"), col, lambda x, y: x * y)),
                    8,
                ),
            ),
        )
        df = df.withColumn("s1", fold_sum(F.col("w")))
        df = df.withColumn(
            "v",
            F.transform(F.col("w"), lambda y: F.round(y / F.col("s1"), 8)),
        ).drop("w", "s1")
    pi_ = df.select("v")
    tot = ev.agg(F.count(F.lit(1)).cast("double").alias("total"))
    emp = (
        ev.groupBy("event_type")
        .agg(F.count(F.lit(1)).cast("long").alias("n_events"))
        .crossJoin(F.broadcast(tot))
        .select(
            "event_type",
            "n_events",
            F.round(F.col("n_events") / F.col("total"), 6).alias(
                "empirical_share"
            ),
        )
    )
    return (
        emp.join(idx, emp["event_type"] == idx["ty"])
        .crossJoin(F.broadcast(pi_))
        .select(
            "event_type",
            "n_events",
            "empirical_share",
            F.round(F.element_at("v", F.col("i")), 6).alias(
                "steady_state_p"
            ),
            F.round(
                F.element_at("v", F.col("i")) - F.col("empirical_share"), 6
            ).alias("drift"),
        )
    )


# --------------------------------------------------- round-8 SQL surface
# ANSI-surface depth a Trino/BI migrant expects beyond the reference's
# own queries: null-aware NOT IN, LATERAL correlated derived tables,
# bitmap-exact distinct (the mergeable EXACT middle ground between
# COUNT(DISTINCT) and HLL), nearest-asof with tolerance, time-RANGE
# frames, log2 histograms, and relational-division coverage ratios.


@q(
    "null_aware_not_in_audit",
    """WITH probe AS (
         SELECT CASE WHEN o_orderpriority = '1-URGENT' THEN NULL
                     ELSE o_custkey END AS k
         FROM orders WHERE o_orderstatus = 'F'),
       clean AS (SELECT o_custkey AS k FROM orders
                 WHERE o_orderstatus = 'F')
       SELECT
         (SELECT COUNT(*) FROM customer
           WHERE c_custkey NOT IN (SELECT k FROM probe))
           AS n_not_in_with_nulls,
         (SELECT COUNT(*) FROM customer
           WHERE c_custkey NOT IN (SELECT k FROM clean))
           AS n_not_in_clean,
         (SELECT COUNT(*) FROM customer c
           WHERE NOT EXISTS (SELECT 1 FROM clean WHERE clean.k = c.c_custkey))
           AS n_not_exists,
         (SELECT COUNT(*) FROM customer) AS n_customers""",
)
def null_aware_not_in_audit(spark, sf_dir):
    """Null-aware NOT IN semantics audit — the SQL trap every BI
    migration hits: a single NULL in the subquery makes
    ``NOT IN`` three-valued (no row can prove it is not-equal to
    NULL), so n_not_in_with_nulls MUST be 0 while the NULL-free NOT
    IN and the NOT EXISTS rewrite agree on the true anti count.
    Catalyst plans the NULL-risky branch as a null-aware anti join;
    the audit pins that the engine implements the standard, not the
    intuitive, semantics. All outputs are exact integers."""
    from ..catalog import register_views

    register_views(spark, sf_dir)
    return spark.sql(ORACLES["null_aware_not_in_audit"])


@q(
    "lateral_top_orders_per_customer",
    """WITH top_cust AS (
         SELECT c_custkey, c_acctbal
         FROM customer ORDER BY c_acctbal DESC, c_custkey LIMIT 5)
       SELECT t.c_custkey,
              ROUND(t.c_acctbal, 2) AS acctbal,
              l.o_orderkey, ROUND(l.o_totalprice, 2) AS totalprice,
              l.rk
       FROM top_cust t,
       LATERAL (
         SELECT o_orderkey, o_totalprice,
                CAST(ROW_NUMBER() OVER (ORDER BY o_totalprice DESC,
                                        o_orderkey) AS INT) AS rk
         FROM orders
         WHERE o_custkey = t.c_custkey
         ORDER BY o_totalprice DESC, o_orderkey
         LIMIT 3) l""",
)
def lateral_top_orders_per_customer(spark, sf_dir):
    """LATERAL correlated derived table — top-3 orders for each of
    the top-5 customers, written as the per-row subquery a SQL user
    reaches for (`FROM t, LATERAL (... WHERE o_custkey = t.key ...
    LIMIT 3)`). Catalyst decorrelates this into the same
    window-rank-filter plan the DataFrame idiom produces — the audit
    is that the SURFACE exists and returns the deterministic
    (tie-broken) rows. Spark executes the IDENTICAL SQL text the
    oracle runs."""
    from ..catalog import register_views

    register_views(spark, sf_dir)
    return spark.sql(ORACLES["lateral_top_orders_per_customer"])


@q(
    "bitmap_exact_distinct_gate",
    """SELECT event_type,
              COUNT(DISTINCT user_id) AS n_distinct_bitmap,
              COUNT(DISTINCT user_id) AS n_distinct_exact,
              CAST(1 AS INT) AS bitmap_matches_exact
       FROM events GROUP BY 1""",
)
def bitmap_exact_distinct_gate(spark, sf_dir):
    """EXACT mergeable distinct count via bitmap aggregation — the
    middle ground the sketch family skips: Spark 3.5's
    bitmap_construct_agg packs each 32k-id bucket into a fixed-size
    bitmap, bitmap_or_agg MERGES buckets across slices (like HLL
    registers, but lossless), and bitmap_count reads off the exact
    cardinality. The gate computes the distinct count BOTH ways in
    one plan and emits a match flag the oracle pins to 1 — at 100 TB
    this is the exact-distinct path when ids are dense integers
    (shuffle = #buckets × 4 KB, not the key universe). Ids shift +1
    because bit positions are 1-based."""
    ev = load_table(spark, sf_dir, "events")
    uid = F.col("user_id") + 1
    bm = ev.groupBy(
        "event_type", F.expr("bitmap_bucket_number(user_id + 1)").alias("bk")
    ).agg(
        F.expr("bitmap_construct_agg(bitmap_bit_position(user_id + 1))")
        .alias("bm")
    )
    via_bitmap = bm.groupBy("event_type").agg(
        F.sum(F.expr("bitmap_count(bm)")).alias("n_distinct_bitmap")
    )
    exact = ev.groupBy("event_type").agg(
        F.countDistinct("user_id").alias("n_distinct_exact")
    )
    return via_bitmap.join(exact, "event_type").select(
        "event_type",
        "n_distinct_bitmap",
        "n_distinct_exact",
        (F.col("n_distinct_bitmap") == F.col("n_distinct_exact"))
        .cast("int")
        .alias("bitmap_matches_exact"),
    )


@q(
    "asof_nearest_tolerance_stats",
    """WITH p AS (
         SELECT event_id, user_id, CAST(FLOOR(epoch(ts)) AS BIGINT) AS t
         FROM events WHERE event_type = 'purchase'),
       c AS (
         SELECT user_id, CAST(FLOOR(epoch(ts)) AS BIGINT) AS t
         FROM events WHERE event_type = 'click'),
       back AS (
         SELECT p.event_id, MAX(c.t) AS bt
         FROM p JOIN c ON c.user_id = p.user_id AND c.t <= p.t
         GROUP BY 1),
       fwd AS (
         SELECT p.event_id, MIN(c.t) AS ft
         FROM p JOIN c ON c.user_id = p.user_id AND c.t > p.t
         GROUP BY 1),
       near AS (
         SELECT p.event_id,
                CASE
                  WHEN b.bt IS NOT NULL AND (f.ft IS NULL
                       OR p.t - b.bt <= f.ft - p.t) THEN p.t - b.bt
                  WHEN f.ft IS NOT NULL THEN f.ft - p.t
                END AS gap
         FROM p LEFT JOIN back b ON p.event_id = b.event_id
                LEFT JOIN fwd f ON p.event_id = f.event_id)
       SELECT CAST(COUNT(*) AS BIGINT) AS n_purchases,
              CAST(SUM(CASE WHEN gap IS NOT NULL AND gap <= 1800
                            THEN 1 ELSE 0 END) AS BIGINT)
                AS n_within_30min,
              CAST(SUM(CASE WHEN gap IS NULL THEN 1 ELSE 0 END) AS BIGINT)
                AS n_no_click_ever,
              ROUND(AVG(CASE WHEN gap <= 1800 THEN gap END), 4)
                AS avg_gap_secs_within
       FROM near""",
)
def asof_nearest_tolerance_stats(spark, sf_dir):
    """Nearest-direction as-of join with tolerance (pandas
    merge_asof(direction='nearest', tolerance=30min) semantics):
    each purchase matches its user's nearest click, backward or
    forward, ties to backward; matches beyond 30 minutes don't
    count. Extends asof_join_last_price (backward-only) with the
    bidirectional form. Implemented as two per-user ordered windows
    over the interleaved stream — never a purchase×click product:
    the backward candidate is a running last-click carry, the
    forward one the same under reversed order. Gap arithmetic is
    exact integer seconds."""
    ev = load_table(spark, sf_dir, "events")
    tagged = ev.filter(
        F.col("event_type").isin("purchase", "click")
    ).select(
        "event_id",
        "user_id",
        "event_type",
        F.unix_timestamp("ts").alias("t"),
    )
    is_click = F.when(F.col("event_type") == "click", F.col("t"))
    wb = (
        Window.partitionBy("user_id")
        .orderBy("t", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wf = (
        Window.partitionBy("user_id")
        .orderBy(F.desc("t"), F.desc("event_id"))
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    near = (
        tagged.withColumn("bt", F.max(is_click).over(wb))
        .withColumn("ft", F.min(is_click).over(wf))
        .filter(F.col("event_type") == "purchase")
        .select(
            "event_id",
            F.when(
                F.col("bt").isNotNull()
                & (
                    F.col("ft").isNull()
                    | (F.col("t") - F.col("bt") <= F.col("ft") - F.col("t"))
                ),
                F.col("t") - F.col("bt"),
            )
            .otherwise(F.col("ft") - F.col("t"))
            .alias("gap"),
        )
    )
    return near.agg(
        F.count(F.lit(1)).cast("long").alias("n_purchases"),
        F.sum(
            (F.col("gap").isNotNull() & (F.col("gap") <= 1800)).cast("int")
        )
        .cast("long")
        .alias("n_within_30min"),
        F.sum(F.col("gap").isNull().cast("int"))
        .cast("long")
        .alias("n_no_click_ever"),
        F.round(
            F.avg(F.when(F.col("gap") <= 1800, F.col("gap"))), 4
        ).alias("avg_gap_secs_within"),
    )


@q(
    "trailing_week_range_frame",
    """WITH daily AS (
         SELECT event_type, CAST(ts AS DATE) AS d,
                CAST(CAST(ts AS DATE) - DATE '1970-01-01' AS BIGINT)
                  AS epoch_day,
                CAST(SUM(CAST(value AS DECIMAL(18, 6))) AS DOUBLE) AS y
         FROM events GROUP BY 1, 2, 3)
       SELECT event_type, d,
              ROUND(SUM(y) OVER (PARTITION BY event_type ORDER BY epoch_day
                                 RANGE BETWEEN 6 PRECEDING
                                 AND CURRENT ROW), 4)
                AS trailing_7d_sum,
              CAST(COUNT(*) OVER (PARTITION BY event_type ORDER BY epoch_day
                                  RANGE BETWEEN 6 PRECEDING
                                  AND CURRENT ROW) AS BIGINT)
                AS days_present_in_window
       FROM daily""",
)
def trailing_week_range_frame(spark, sf_dir):
    """Time-based RANGE frame — trailing 7 CALENDAR days, not 7 ROWS:
    on gappy daily series the rows-frame silently widens its time
    span while the RANGE frame stays honest (days_present exposes the
    gaps). Spark expresses it as rangeBetween over the epoch-day
    ordering key — the portable spelling of RANGE BETWEEN INTERVAL
    '7' DAY. Complements value_range_window_sum (value-based RANGE)
    with the time axis."""
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type",
        F.to_date("ts").alias("d"),
        F.datediff(F.to_date("ts"), F.lit("1970-01-01"))
        .cast("long")
        .alias("epoch_day"),
    ).agg(
        F.sum(F.col("value").cast("decimal(18,6)")).cast("double").alias("y")
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("epoch_day")
        .rangeBetween(-6, Window.currentRow)
    )
    return daily.select(
        "event_type",
        "d",
        F.round(F.sum("y").over(w), 4).alias("trailing_7d_sum"),
        F.count(F.lit(1)).over(w).cast("long").alias(
            "days_present_in_window"
        ),
    )


@q(
    "orders_per_customer_log2_histogram",
    """WITH per_cust AS (
         SELECT o_custkey, COUNT(*) AS n_orders
         FROM orders GROUP BY 1)
       SELECT CAST(FLOOR(LOG2(n_orders)) AS INT) AS log2_bucket,
              CAST(POW(2, FLOOR(LOG2(n_orders))) AS BIGINT) AS bucket_floor,
              CAST(COUNT(*) AS BIGINT) AS n_customers,
              CAST(MIN(n_orders) AS BIGINT) AS min_orders,
              CAST(MAX(n_orders) AS BIGINT) AS max_orders
       FROM per_cust GROUP BY 1, 2""",
)
def orders_per_customer_log2_histogram(spark, sf_dir):
    """Power-of-two histogram of orders per customer — the
    monitoring-system bucketing (log2 buckets keep resolution at the
    head without exploding the tail; this is how latency/fan-out
    distributions are tracked at scale). Two exact-integer
    aggregates; bucket boundaries are integer powers so no float can
    move a row across buckets."""
    orders = load_table(spark, sf_dir, "orders")
    per_cust = orders.groupBy("o_custkey").agg(
        F.count(F.lit(1)).alias("n_orders")
    )
    bucket = F.floor(F.log2("n_orders")).cast("int")
    return per_cust.groupBy(
        bucket.alias("log2_bucket"),
        F.pow(F.lit(2), F.floor(F.log2("n_orders")))
        .cast("long")
        .alias("bucket_floor"),
    ).agg(
        F.count(F.lit(1)).cast("long").alias("n_customers"),
        F.min("n_orders").cast("long").alias("min_orders"),
        F.max("n_orders").cast("long").alias("max_orders"),
    )


@q(
    "supplier_type_coverage_deciles",
    """WITH n_types AS (SELECT COUNT(DISTINCT p_type) AS total FROM part),
       cov AS (
         SELECT l.l_suppkey,
                COUNT(DISTINCT p.p_type) AS covered
         FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
         GROUP BY 1),
       ratio AS (
         SELECT l_suppkey,
                CAST(FLOOR(10.0 * covered / total) AS INT) AS decile
         FROM cov CROSS JOIN n_types)
       SELECT decile,
              CAST(COUNT(*) AS BIGINT) AS n_suppliers
       FROM ratio GROUP BY 1""",
)
def supplier_type_coverage_deciles(spark, sf_dir):
    """Graded relational division: how much of the part-type universe
    does each supplier's shipped assortment cover? The strict
    division (loyal_customers_division) demands 100 % coverage; real
    assortment analysis wants the coverage DISTRIBUTION — each
    supplier's distinct-type count over the global type count,
    bucketed into deciles. One distinct-aggregate per supplier plus a
    1-row broadcast; integer decile boundaries via FLOOR(10·c/t)
    (exact rational, no float boundary risk)."""
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    n_types = part.agg(F.countDistinct("p_type").alias("total"))
    cov = (
        li.join(part, li.l_partkey == part.p_partkey)
        .groupBy("l_suppkey")
        .agg(F.countDistinct("p_type").alias("covered"))
    )
    ratio = cov.crossJoin(F.broadcast(n_types)).select(
        F.floor(10.0 * F.col("covered") / F.col("total"))
        .cast("int")
        .alias("decile")
    )
    return ratio.groupBy("decile").agg(
        F.count(F.lit(1)).cast("long").alias("n_suppliers")
    )


@q(
    "sessionization_gap_sensitivity",
    """WITH ev AS (
         SELECT user_id,
                CAST(FLOOR(epoch(ts)) AS BIGINT) AS t,
                event_id
         FROM events),
       gaps AS (SELECT UNNEST([900, 1800, 3600]) AS gap),
       lagged AS (
         SELECT user_id, t,
                LAG(t) OVER (PARTITION BY user_id
                             ORDER BY t, event_id) AS t0
         FROM ev),
       starts AS (
         SELECT g.gap, l.user_id,
                CASE WHEN l.t0 IS NULL OR l.t - l.t0 > g.gap
                     THEN 1 ELSE 0 END AS is_start
         FROM lagged l CROSS JOIN gaps g),
       per_user AS (
         SELECT gap, user_id, SUM(is_start) AS n_sessions,
                COUNT(*) AS n_events
         FROM starts GROUP BY 1, 2)
       SELECT gap AS gap_seconds,
              CAST(SUM(n_sessions) AS BIGINT) AS total_sessions,
              CAST(COUNT(*) AS BIGINT) AS n_users,
              ROUND(AVG(CAST(n_events AS DOUBLE) / n_sessions), 4)
                AS mean_events_per_session,
              CAST(MAX(n_sessions) AS BIGINT) AS max_sessions_per_user
       FROM per_user GROUP BY 1""",
)
def sessionization_gap_sensitivity(spark, sf_dir):
    """Session-definition sensitivity sweep: the same lag-gap
    sessionizer at 15/30/60-minute inactivity thresholds, reporting
    how the session census responds — the calibration table behind
    every 'sessions' metric (sessionize_user_events pins ONE gap;
    the sweep shows the metric's sensitivity to that choice, which
    is what a data consumer needs before trusting it). One per-user
    lag window computed ONCE, a 3-row constant cross join applying
    all thresholds to the same lags — the window never re-runs per
    config. Session counts are exact integers."""
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", F.unix_timestamp("ts").alias("t"), "event_id"
    )
    w = Window.partitionBy("user_id").orderBy("t", "event_id")
    lagged = ev.select("user_id", "t", F.lag("t").over(w).alias("t0"))
    gaps = spark.createDataFrame([(900,), (1800,), (3600,)], "gap int")
    starts = lagged.crossJoin(F.broadcast(gaps)).select(
        "gap",
        "user_id",
        F.when(
            F.col("t0").isNull() | (F.col("t") - F.col("t0") > F.col("gap")),
            1,
        )
        .otherwise(0)
        .alias("is_start"),
    )
    per_user = starts.groupBy("gap", "user_id").agg(
        F.sum("is_start").alias("n_sessions"),
        F.count(F.lit(1)).alias("n_events"),
    )
    return per_user.groupBy(F.col("gap").alias("gap_seconds")).agg(
        F.sum("n_sessions").cast("long").alias("total_sessions"),
        F.count(F.lit(1)).cast("long").alias("n_users"),
        F.round(
            F.avg(F.col("n_events").cast("double") / F.col("n_sessions")), 4
        ).alias("mean_events_per_session"),
        F.max("n_sessions").cast("long").alias("max_sessions_per_user"),
    )
