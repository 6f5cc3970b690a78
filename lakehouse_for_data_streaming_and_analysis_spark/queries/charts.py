"""M6: the reference dashboard's 14 slices as chart-builder queries,
each with an auto-generated DuckDB oracle (SURVEY.md §2 A4-A8, P7,
§7.1 M6).

Slice specs transcribed from the Superset export (reference:
data/Superset Dashboard/20240618_101644.json; slice names kept).
Fixture mapping: the tick stream is ``events`` (ts → timestamp,
value → price, event_type → coin), and the SCD-2 coin dimension is
derived deterministically from ``nation`` (symbol/supply/maxsupply/
volume24h/is_current) — the same stand-in the SCD-2 queries use.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import load_table
from ..semantic.charts import ChartQuery, Metric
from . import registry

QUERIES, ORACLES, q = registry.module()

# Deterministic coin-dim stand-in (reference dimcoin columns:
# Sourcecode/spark/populate_dim.py:112-129).
COINDIM_SQL = """(
  SELECT n_nationkey AS coin_id,
         'C' || CAST(n_nationkey AS VARCHAR) AS symbol,
         n_name AS name,
         n_nationkey * 1000.0 + 500 AS supply,
         (n_nationkey * 1000.0 + 500) * 2 AS maxsupply,
         CAST((n_nationkey * 7919) % 1000 AS DOUBLE) * 1.5 AS volume24h,
         CASE WHEN n_nationkey % 5 <> 0 THEN 'Y' ELSE 'N' END AS is_current
  FROM nation) dimcoin"""


def coin_dim(spark: SparkSession, sf_dir: str) -> DataFrame:
    n = load_table(spark, sf_dir, "nation")
    supply = F.col("n_nationkey") * 1000.0 + 500
    return n.select(
        F.col("n_nationkey").alias("coin_id"),
        F.concat(F.lit("C"), F.col("n_nationkey").cast("string")).alias("symbol"),
        F.col("n_name").alias("name"),
        supply.alias("supply"),
        (supply * 2).alias("maxsupply"),
        (((F.col("n_nationkey") * 7919) % 1000).cast("double") * 1.5).alias(
            "volume24h"
        ),
        F.when(F.col("n_nationkey") % 5 != 0, F.lit("Y"))
        .otherwise(F.lit("N"))
        .alias("is_current"),
    )


# (name, spec, dataset): dataset 'events' or 'dimcoin'
SLICES: list[tuple[str, ChartQuery, str]] = [
    # "Change percent": MAX(change_percent) GROUP BY name, grain P1D
    (
        "chart_change_percent",
        ChartQuery(
            metrics=(Metric("MAX(change_percent_last_day)", "MAX", "value", round_to=6),),
            groupby=("event_type",),
            time_col="ts",
            time_grain="P1D",
            limit=1000,
        ),
        "events",
    ),
    # "Bitcoin real-time price" / "Ethereum realtime": dual MAX metric,
    # grain PT1S, limit 10 (PT1M here: PT1S × limit 10 is vacuous on a
    # 30-day fixture; the grain path is identical)
    (
        "chart_realtime_price",
        ChartQuery(
            metrics=(
                Metric("Price", "MAX", "value", round_to=6),
                Metric("Average price", "AVG", "value", round_to=6),
            ),
            time_col="ts",
            time_grain="PT1M",
        ),
        "events",
    ),
    # "BTC price with MA" / "Ethereum Price with MA": MAX + AVG per P1D
    (
        "chart_price_with_ma",
        ChartQuery(
            metrics=(
                Metric("Daily Price", "MAX", "value", round_to=6),
                Metric("Average Price", "AVG", "value", round_to=6),
            ),
            time_col="ts",
            time_grain="P1D",
            limit=10000,
        ),
        "events",
    ),
    # "Highest price and trend" / "ETH Daily ...": big-number MAX per P1D
    (
        "chart_big_number_trend",
        ChartQuery(
            metrics=(Metric("MAX(price)", "MAX", "value", round_to=6),),
            time_col="ts",
            time_grain="P1D",
        ),
        "events",
    ),
    # "All Coin" word cloud: MAX(volume24h) by name, limit 100
    (
        "chart_all_coin_cloud",
        ChartQuery(
            metrics=(Metric("MAX(volume24h)", "MAX", "volume24h", round_to=6),),
            groupby=("name",),
            order_desc_by="MAX(volume24h)",
            limit=100,
        ),
        "dimcoin",
    ),
    # "Top trading volume": MAX(volume24h) by symbol, is_current='Y',
    # top 10 desc
    (
        "chart_top_trading_volume",
        ChartQuery(
            metrics=(Metric("MAX(volume24h)", "MAX", "volume24h", round_to=6),),
            groupby=("symbol",),
            filters=(("is_current", "Y"),),
            order_desc_by="MAX(volume24h)",
            limit=10,
        ),
        "dimcoin",
    ),
    # "BTC supply" / "eth supply" gauges: SQL-expression metric over
    # equality-filtered current row
    (
        "chart_supply_gauge",
        ChartQuery(
            metrics=(
                Metric(
                    "supply/maxsupply",
                    sql="ROUND(MAX(supply/maxsupply), 6)",
                ),
            ),
            groupby=("symbol",),
            filters=(("is_current", "Y"),),
            # the Superset slice is LIMIT without ORDER BY (arbitrary
            # row); pinned here so the oracle hash is deterministic
            order_desc_by="supply/maxsupply",
            limit=10,
        ),
        "dimcoin",
    ),
    # "Total volume trading in day": SUM(volume24h) over current coins
    (
        "chart_total_volume_day",
        ChartQuery(
            metrics=(Metric("SUM(volume24h)", "SUM", "volume24h", round_to=6),),
            filters=(("is_current", "Y"),),
        ),
        "dimcoin",
    ),
    # "Total streaming coins" / "Streaming coins number": COUNT DISTINCT
    (
        "chart_streaming_coins",
        ChartQuery(
            metrics=(Metric("MAX(number)", "COUNT_DISTINCT", "event_type"),),
        ),
        "events",
    ),
    # "Streaming Coin reporting" table: per-day per-coin row counts
    (
        "chart_coin_reporting",
        ChartQuery(
            metrics=(Metric("COUNT(*)", "COUNT"),),
            groupby=("event_type",),
            time_col="ts",
            time_grain="P1D",
            limit=1000,
        ),
        "events",
    ),
    # The dashboard's per-coin twin slices (dashboard JSON:31,67,115,127)
    # are the SAME chart spec as their BTC counterparts plus a Superset
    # adhoc coin filter — materialized distinctly so all 14 slices have
    # a 1:1 query (the filter exercises the P7 equality-filter path
    # through the chart builder; fixture coin stand-in: event_type).
    # "Ethereum realtime" = "Bitcoin real-time price" + coin filter
    (
        "chart_realtime_price_eth",
        ChartQuery(
            metrics=(
                Metric("Price", "MAX", "value", round_to=6),
                Metric("Average price", "AVG", "value", round_to=6),
            ),
            filters=(("event_type", "click"),),
            time_col="ts",
            time_grain="PT1M",
        ),
        "events",
    ),
    # "Ethereum Price with MA" = "BTC price with MA" + coin filter
    (
        "chart_price_with_ma_eth",
        ChartQuery(
            metrics=(
                Metric("Daily Price", "MAX", "value", round_to=6),
                Metric("Average Price", "AVG", "value", round_to=6),
            ),
            filters=(("event_type", "click"),),
            time_col="ts",
            time_grain="P1D",
            limit=10000,
        ),
        "events",
    ),
    # "ETH Daily Highest price and trend" = "Highest price and trend"
    # + coin filter
    (
        "chart_big_number_trend_eth",
        ChartQuery(
            metrics=(Metric("MAX(price)", "MAX", "value", round_to=6),),
            filters=(("event_type", "click"),),
            time_col="ts",
            time_grain="P1D",
        ),
        "events",
    ),
    # "eth supply" = "BTC supply" gauge pinned to one symbol
    (
        "chart_supply_gauge_eth",
        ChartQuery(
            metrics=(
                Metric(
                    "supply/maxsupply",
                    sql="ROUND(MAX(supply/maxsupply), 6)",
                ),
            ),
            groupby=("symbol",),
            filters=(("is_current", "Y"), ("symbol", "C2")),
            order_desc_by="supply/maxsupply",
            limit=10,
        ),
        "dimcoin",
    ),
]


def _mk_query(spec: ChartQuery, dataset: str):
    def run(spark: SparkSession, sf_dir: str) -> DataFrame:
        if dataset == "events":
            df = load_table(spark, sf_dir, "events")
        else:
            df = coin_dim(spark, sf_dir)
        return spec.to_df(df)

    return run


for _name, _spec, _dataset in SLICES:
    q(_name, _spec.to_sql("events" if _dataset == "events" else COINDIM_SQL))(
        _mk_query(_spec, _dataset)
    )


# Two-level lifecycle (SURVEY.md §3.3): Superset wraps the slice's
# outer aggregate AROUND the virtual-dataset star-join SQL (dashboard
# JSON:329 — inner 4-way join + GROUP BY, outer re-aggregation per
# time grain). Same composition here: the outer layer is a ChartQuery
# applied to the inner star DataFrame / SQL.

_INNER_STAR_SQL = """(
  SELECT n.n_name AS name,
         CAST(date_trunc('day', o.o_orderdate) AS TIMESTAMP) AS day,
         SUM(l.l_extendedprice * (1 - l.l_discount)) AS revenue
  FROM lineitem l
  JOIN orders o ON l.l_orderkey = o.o_orderkey
  JOIN customer c ON o.o_custkey = c.c_custkey
  JOIN nation n ON c.c_nationkey = n.n_nationkey
  GROUP BY 1, 2) v"""

_TWO_LEVEL_SPEC = ChartQuery(
    metrics=(Metric("MAX(revenue)", "MAX", "revenue", round_to=4),),
    groupby=("name",),
    time_col="day",
    time_grain="P1M",
    # slice row_limit 1000 binds (25 names x ~84 months); ordered so
    # the retained subset is deterministic on both engines
    order_desc_by="MAX(revenue)",
    limit=1000,
)


def _inner_star(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(n, c.c_nationkey == n.n_nationkey)
        .groupBy(
            F.col("n_name").alias("name"),
            F.date_trunc("day", "o_orderdate").alias("day"),
        )
        .agg(
            F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias(
                "revenue"
            )
        )
    )


@q("chart_two_level_reagg", _TWO_LEVEL_SPEC.to_sql(_INNER_STAR_SQL))
def chart_two_level_reagg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§3.3 entry point 3, faithfully: outer per-grain MAX re-aggregation
    wrapped around the inner star-join virtual dataset — one spec
    compiled onto the inner DataFrame."""
    return _TWO_LEVEL_SPEC.to_df(_inner_star(spark, sf_dir))
