"""M4 observability: the reference's pipeline-latency analytics as
oracle-backed queries (SURVEY.md §2.1 S6, §2.13 X11, §6 baseline).

The reference measures end-to-end latency as (commit wall-clock − min
event time per commit) over _delta_log JSON stats (reference:
Jupiter Notebook/TimeDelay.ipynb cells 0-3, code.ipynb cells 5-11).
The live-streaming equivalent runs in maintenance.commitlog against a
real micro-batch run (tests/test_streaming.py); here the same two
report shapes are computed over a *deterministic* commit log derived
from events — one commit per 1-minute bucket, committed 2 s after its
last event — so the driver can hash-match them.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..catalog import load_table
from . import registry

QUERIES, ORACLES, q = registry.module()


# Synthetic commit log: version = epoch minute, commit = max event + 2 s
COMMITLOG_SQL = """
  SELECT CAST(FLOOR(epoch(CAST(ts AS TIMESTAMP)) / 60) AS BIGINT) AS version,
         COUNT(*) AS num_records,
         MIN(epoch(CAST(ts AS TIMESTAMP))) AS min_event_unix,
         MAX(epoch(CAST(ts AS TIMESTAMP))) + 2 AS commit_unix
  FROM events GROUP BY 1
"""


def _commit_log(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    unix = F.unix_micros("ts") / 1e6  # fractional epoch seconds, like epoch()
    return ev.groupBy(
        F.floor(unix / 60).cast("long").alias("version")
    ).agg(
        F.count(F.lit(1)).alias("num_records"),
        F.min(unix).alias("min_event_unix"),
        (F.max(unix) + 2).alias("commit_unix"),
    )


@q(
    "commit_latency_summary",
    f"""WITH log AS ({COMMITLOG_SQL}),
       delays AS (
         SELECT commit_unix - min_event_unix AS delay_sec FROM log)
       SELECT ROUND(quantile_cont(delay_sec, 0.5), 4) AS median_delay,
              ROUND(AVG(delay_sec), 4) AS mean_delay,
              ROUND(quantile_cont(delay_sec, 0.9), 4) AS p90_delay,
              ROUND(MIN(delay_sec), 4) AS min_delay,
              ROUND(MAX(delay_sec), 4) AS max_delay,
              COUNT(*) AS n_commits
       FROM delays""",
)
def commit_latency_summary(spark, sf_dir):
    """X11: the §6 latency statistics (median/mean/p90/min/max) over
    per-commit delay = commit time − min event time
    (TimeDelay.ipynb cell 2's summary)."""
    log = _commit_log(spark, sf_dir)
    delay = (F.col("commit_unix") - F.col("min_event_unix")).alias("delay_sec")
    return log.select(delay).agg(
        F.round(F.expr("percentile(delay_sec, 0.5)"), 4).alias("median_delay"),
        F.round(F.avg("delay_sec"), 4).alias("mean_delay"),
        F.round(F.expr("percentile(delay_sec, 0.9)"), 4).alias("p90_delay"),
        F.round(F.min("delay_sec"), 4).alias("min_delay"),
        F.round(F.max("delay_sec"), 4).alias("max_delay"),
        F.count(F.lit(1)).alias("n_commits"),
    )


@q(
    "commit_cadence_gaps",
    f"""WITH log AS ({COMMITLOG_SQL}),
       gaps AS (
         SELECT version,
                commit_unix - LAG(commit_unix) OVER (ORDER BY version) AS gap_sec
         FROM log)
       SELECT COUNT(*) AS n_gaps,
              ROUND(AVG(gap_sec), 4) AS mean_gap,
              ROUND(MIN(gap_sec), 4) AS min_gap,
              ROUND(MAX(gap_sec), 4) AS max_gap
       FROM gaps WHERE gap_sec IS NOT NULL""",
)
def commit_cadence_gaps(spark, sf_dir):
    """X11 (cadence): wall-clock gap between consecutive commits
    (code.ipynb cell 8's time_gap average)."""
    log = _commit_log(spark, sf_dir)
    # bounded-grain: commit-log grain (one row per table version;
    # retention-bounded, ~thousands)
    w = Window.orderBy("version")
    gaps = log.select(
        "version",
        (F.col("commit_unix") - F.lag("commit_unix").over(w)).alias("gap_sec"),
    ).filter(F.col("gap_sec").isNotNull())
    return gaps.agg(
        F.count(F.lit(1)).alias("n_gaps"),
        F.round(F.avg("gap_sec"), 4).alias("mean_gap"),
        F.round(F.min("gap_sec"), 4).alias("min_gap"),
        F.round(F.max("gap_sec"), 4).alias("max_gap"),
    )


@q(
    "table_freshness_report",
    """WITH per_table AS (
         SELECT 'events' AS table_name, COUNT(*) AS n_rows,
                CAST(MAX(ts) AS TIMESTAMP) AS max_event_time
         FROM events
         UNION ALL
         SELECT 'orders', COUNT(*), CAST(MAX(o_orderdate) AS TIMESTAMP)
         FROM orders
         UNION ALL
         SELECT 'lineitem', COUNT(*), CAST(MAX(l_shipdate) AS TIMESTAMP)
         FROM lineitem),
       anchor AS (SELECT MAX(max_event_time) AS newest FROM per_table)
       SELECT p.table_name, p.n_rows, p.max_event_time,
              CAST(FLOOR(epoch(a.newest)) AS BIGINT)
              - CAST(FLOOR(epoch(p.max_event_time)) AS BIGINT)
                AS staleness_secs
       FROM per_table p CROSS JOIN anchor a""",
)
def table_freshness_report(spark, sf_dir):
    """Freshness SLO report: per-table newest event time and its lag
    behind the freshest table in the lakehouse — the check a
    medallion pipeline runs before promoting bronze->silver (a stale
    upstream means the join would silently under-count). Each branch
    is a 1-row scan-aggregate; the anchor is a 1-row cross join.
    Wall-clock-free (anchored to data, not now()) so the report is
    deterministic and testable."""
    ev = load_table(spark, sf_dir, "events")
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    per_table = (
        ev.agg(
            F.lit("events").alias("table_name"),
            F.count(F.lit(1)).alias("n_rows"),
            F.max("ts").cast("timestamp").alias("max_event_time"),
        )
        .unionByName(
            o.agg(
                F.lit("orders").alias("table_name"),
                F.count(F.lit(1)).alias("n_rows"),
                F.max("o_orderdate").cast("timestamp").alias("max_event_time"),
            )
        )
        .unionByName(
            li.agg(
                F.lit("lineitem").alias("table_name"),
                F.count(F.lit(1)).alias("n_rows"),
                F.max("l_shipdate").cast("timestamp").alias("max_event_time"),
            )
        )
    )
    anchor = per_table.agg(F.max("max_event_time").alias("newest"))
    secs = (F.unix_micros(F.col("newest")) / 1_000_000).cast("bigint") - (
        F.unix_micros(F.col("max_event_time")) / 1_000_000
    ).cast("bigint")
    return per_table.join(F.broadcast(anchor)).select(
        "table_name", "n_rows", "max_event_time", secs.alias("staleness_secs")
    )


# Evolved-payload fixture for schema-drift detection, derived
# deterministically from events (the driver fixture's props payload
# never drifts, so the drift is seeded — same construction in both
# engines). Batch = event_id % 5, each batch one drift mode vs the
# declared payload schema {k: BIGINT}:
#   0 original  {"k": <int>}
#   1 new keys  {"k": <int>, "sess": "s<id>", "ver": 2}
#   2 type conflict  {"k": "v<int>"} (k becomes a string)
#   3 null-rate shift  {"k": null} for every user_id % 3 = 0
#   4 dropped key  {}
_DRIFT_PAYLOAD_SQL = """
  SELECT CAST(event_id % 5 AS INT) AS batch,
         user_id,
         CASE event_id % 5
           WHEN 0 THEN '{"k": ' || CAST(user_id % 97 AS VARCHAR) || '}'
           WHEN 1 THEN '{"k": ' || CAST(user_id % 97 AS VARCHAR)
                    || ', "sess": "s' || CAST(user_id % 100 AS VARCHAR)
                    || '", "ver": 2}'
           WHEN 2 THEN '{"k": "v' || CAST(user_id % 97 AS VARCHAR) || '"}'
           WHEN 3 THEN CASE WHEN user_id % 3 = 0 THEN '{"k": null}'
                            ELSE '{"k": ' || CAST(user_id % 97 AS VARCHAR)
                                 || '}' END
           ELSE '{}'
         END AS payload
  FROM events"""


@q(
    "schema_drift_audit",
    f"""WITH ev AS ({_DRIFT_PAYLOAD_SQL}),
       par AS (SELECT batch, payload,
                      json_keys(payload) AS ks,
                      list_contains(json_keys(payload), 'k') AS has_k,
                      json_extract_string(payload, '$.k') AS kval
               FROM ev),
       keyrows AS (SELECT DISTINCT batch, UNNEST(ks) AS kname FROM par),
       newkeys AS (SELECT batch,
                          array_to_string(
                            list_sort(list(kname) FILTER (kname <> 'k')),
                            ',') AS new_keys
                   FROM keyrows GROUP BY batch)
       SELECT p.batch,
              COUNT(*) AS n_events,
              COALESCE(MAX(nk.new_keys), '') AS new_keys,
              CAST(SUM(CASE WHEN len(list_filter(ks, x -> x <> 'k')) > 0
                            THEN 1 ELSE 0 END) AS BIGINT)
                AS n_new_key_events,
              CAST(SUM(CASE WHEN has_k AND kval IS NOT NULL
                                 AND TRY_CAST(kval AS BIGINT) IS NULL
                            THEN 1 ELSE 0 END) AS BIGINT)
                AS n_type_conflicts,
              CAST((2 * SUM(CASE WHEN NOT has_k OR kval IS NULL
                                 THEN 1 ELSE 0 END) * 10000 + COUNT(*))
                   // (2 * COUNT(*)) AS DOUBLE) / 10000 AS k_null_rate
       FROM par p LEFT JOIN newkeys nk ON nk.batch = p.batch
       GROUP BY p.batch ORDER BY p.batch""",
)
def schema_drift_audit(spark, sf_dir):
    """Open-schema drift audit (VERDICT r8 ask #6): per ingestion
    batch, the divergence between the payloads actually arriving and
    the DECLARED payload schema ({k: BIGINT}, the fixed-StructType
    surface of the reference's from_json chain,
    Sourcecode/spark/etl.py:16-19) — undeclared keys (names + affected
    events), declared-key type conflicts (present, non-null, fails the
    declared cast), and the declared key's null/missing rate. The
    drifted payloads are seeded deterministically from events (batch =
    event_id % 5, one drift mode each — see _DRIFT_PAYLOAD_SQL).

    Scale shape: schema-on-read via one from_json to MAP (no Python),
    metrics fold into ONE batch-grain aggregate; the key-name census
    explodes keys but aggregates at (batch, key) grain — bounded by
    payload vocabulary, not event count. The streaming twin
    (sources/streams.parse_with_quarantine, test-pinned) routes these
    same three drift classes into a quarantine column instead of
    failing the query."""
    ev = load_table(spark, sf_dir, "events")
    uid = F.col("user_id")
    kjson = F.concat(F.lit('{"k": '), (uid % 97).cast("string"), F.lit("}"))
    payload = (
        F.when(F.col("event_id") % 5 == 0, kjson)
        .when(
            F.col("event_id") % 5 == 1,
            F.concat(
                F.lit('{"k": '),
                (uid % 97).cast("string"),
                F.lit(', "sess": "s'),
                (uid % 100).cast("string"),
                F.lit('", "ver": 2}'),
            ),
        )
        .when(
            F.col("event_id") % 5 == 2,
            F.concat(F.lit('{"k": "v'), (uid % 97).cast("string"), F.lit('"}')),
        )
        .when(
            F.col("event_id") % 5 == 3,
            F.when(uid % 3 == 0, F.lit('{"k": null}')).otherwise(kjson),
        )
        .otherwise(F.lit("{}"))
    )
    m = F.from_json(payload, "map<string,string>")
    par = ev.select(
        (F.col("event_id") % 5).cast("int").alias("batch"),
        F.map_keys(m).alias("ks"),
        F.map_contains_key(m, "k").alias("has_k"),
        F.element_at(m, F.lit("k")).alias("kval"),
    )
    newkeys = (
        par.select("batch", F.explode("ks").alias("kname"))
        .filter(F.col("kname") != "k")
        .distinct()
        .groupBy("batch")
        .agg(
            F.array_join(F.array_sort(F.collect_set("kname")), ",").alias(
                "new_keys"
            )
        )
    )
    undeclared = F.size(F.filter("ks", lambda x: x != F.lit("k")))
    metrics = par.groupBy("batch").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum((undeclared > 0).cast("long")).alias("n_new_key_events"),
        F.sum(
            (
                F.col("has_k")
                & F.col("kval").isNotNull()
                & F.expr("try_cast(kval as bigint)").isNull()
            ).cast("long")
        ).alias("n_type_conflicts"),
        # k/n rate via INTEGER half-up at 4dp (DECISIONS 50, ADVICE r9):
        # ROUND(AVG(..), 4) on a ratio of exact integers is the same
        # representation-tie pattern the lag_secs fix removed; the
        # numerator stays < 2^53 so the float floor is exact
        (
            F.floor(
                (
                    2
                    * F.sum(
                        (~F.col("has_k") | F.col("kval").isNull()).cast(
                            "long"
                        )
                    )
                    * 10000
                    + F.count(F.lit(1))
                )
                / (2 * F.count(F.lit(1)))
            ).cast("double")
            / 10000
        ).alias("k_null_rate"),
    )
    return (
        metrics.join(newkeys, "batch", "left")
        .select(
            "batch",
            "n_events",
            F.coalesce("new_keys", F.lit("")).alias("new_keys"),
            "n_new_key_events",
            "n_type_conflicts",
            "k_null_rate",
        )
        .orderBy("batch")
    )
