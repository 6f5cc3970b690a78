"""Pipeline-layer queries: SCD-2 dimension merges, Structured-Streaming
runs checked against batch oracles, typed REST and custom-source ingest
(SURVEY.md §2.1 S7, §2.4 J2-J4, §2.10), and the Delta lifecycle audits.

Each streaming query drains a real micro-batched StreamingQuery
(file-replay source, availableNow trigger) into a memory sink through
``_await_drain``; its final state must equal the batch aggregate DuckDB
computes over the same rows — streaming/batch unification as a
correctness gate.

The lifecycle audits (``deltalog_*``, ``cdf_stream_consume``,
``cdf_incremental_view_maintenance``, ``streaming_state_audit``)
re-express the reference's after-the-fact transaction-log measurements
as queries. They share one contract:

- Each call builds its tables in its own ``_scratch_dir``, collects its
  few result rows eagerly and removes the dir before it returns, so
  concurrent calls never share a table and nothing is left behind. The
  returned frame is a local relation of those rows.
- Each table state is checked with ``_price_stats``: the row count plus
  a decimal-exact price sum, which is order independent and so hashes
  the same on every engine. The oracle recomputes every state
  relationally.
- Each write the protocol must refuse is probed with ``_raises`` and
  reported as a boolean flag that the oracle pins literally TRUE.
- They register with ``shuffle=2``. A few thousand rows per table make
  an audit ~10 small Spark jobs, so 32 shuffle partitions per join or
  aggregate are pure scheduling overhead (the same sizing as the
  streaming runs, and the knob a real deployment sets to cluster width).
"""

from __future__ import annotations

import os
import shutil
import uuid
from contextlib import contextmanager

from pyspark.sql import functions as F

from ..catalog import load_table
from ..delta import DeltaishTable, roaring
from ..delta import log as dlog
from ..delta.log import ConcurrentCommitError
from ..dims import scd2
from ..sources import batch as batch_sources
from . import registry

QUERIES, ORACLES, q = registry.module()


_SCD2_HASH = (
    "sha256(concat_ws('~', CAST(coin_id AS VARCHAR), name, CAST(supply AS VARCHAR)))"
)


@contextmanager
def _atomic_build(replay_dir: str):
    """r11 (ADVICE r10 #4): with committer v2 + no _SUCCESS markers, a
    write straight into the final replay dir can leave partial task
    output visible after a mid-job crash — and the builders' dir-non-
    empty guard would then serve a half-built replay forever. Build
    into a tmp sibling and atomically rename (the pattern
    _ensure_ticks_capture already uses), so the final dir existing IS
    the completion marker. os.rename onto an EMPTY dir succeeds, so an
    empty dir left by an older non-atomic build is replaced."""
    tmp = f"{replay_dir}.tmp-{uuid.uuid4().hex}"
    os.makedirs(tmp, exist_ok=True)
    try:
        yield tmp
        try:
            os.rename(tmp, replay_dir)
        except OSError:
            # lost a build race: another process renamed first — its
            # completed dir wins, this build is discarded
            if not _replay_ready(replay_dir):
                raise
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


@contextmanager
def _scratch_dir(sf_dir: str, tag: str):
    """A fresh ``<tag>-<uuid>`` path under the deltalog scratch root for
    one audit call; removed when the block exits, however it exits."""
    path = os.path.join(
        _replay_dir(sf_dir, "deltalog"), f"{tag}-{uuid.uuid4().hex}"
    )
    try:
        yield path
    finally:
        shutil.rmtree(path, ignore_errors=True)


def _price_stats(col: str = "o_totalprice"):
    """The audits' value check as two aggregate columns: the row count
    (``n_rows``) and the decimal-exact sum of ``col`` (``total_price``)."""
    return (
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        F.round(F.sum(F.col(col).cast("decimal(18,2)")), 2)
        .cast("double")
        .alias("total_price"),
    )


def _raises(exc, fn, *args, **kwargs) -> bool:
    """Whether ``fn(*args, **kwargs)`` raises ``exc``: the probe of a
    write the protocol must refuse."""
    try:
        fn(*args, **kwargs)
    except exc:
        return True
    return False


def _await_drain(handle, what: str) -> None:
    """The one memory-sink drain rule: wait up to 300 s for the
    availableNow run to finish. On a timeout, stop the query (it would
    otherwise keep running and hold its sink name) and raise, since a
    partial memory table would silently fail the oracle."""
    if not handle.awaitTermination(300):
        handle.stop()
        raise TimeoutError(f"{what} did not drain within 300 s")


def _replay_ready(replay_dir: str) -> bool:
    """The one "replay already built" check: the dir exists and is
    non-empty (the atomic rename makes a non-empty dir a complete one)."""
    return os.path.isdir(replay_dir) and bool(os.listdir(replay_dir))


def _replay_dir(sf_dir: str, tag: str) -> str:
    """Scratch dir for a file-replay stream. Root comes from
    $SPARK_GRAFT_SCRATCH or <repo>/.scratch derived from this module's
    path (never a hardcoded checkout location); the name is keyed on
    the source fixture's (size, mtime) fingerprint so a regenerated
    fixture can never serve a stale cached replay."""
    repo_root = os.path.dirname(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    )
    scratch = os.environ.get(
        "SPARK_GRAFT_SCRATCH", os.path.join(repo_root, ".scratch")
    )
    sf_tag = os.path.basename(os.path.normpath(sf_dir)).replace(".", "_")
    st = os.stat(os.path.join(sf_dir, "events.parquet"))
    return os.path.join(
        scratch, f"{tag}_replay_{sf_tag}_{st.st_size}_{int(st.st_mtime)}"
    )


def _ensure_bronze_replay(spark, sf_dir: str) -> str:
    ev = load_table(spark, sf_dir, "events")
    replay_dir = _replay_dir(sf_dir, "bronze")
    if not _replay_ready(replay_dir):
        with _atomic_build(replay_dir) as tmp:
            # 4 part files -> micro-batches (order irrelevant: complete
            # mode, no watermark)
            ev.repartition(4).write.mode("overwrite").parquet(tmp)
    return replay_dir


def _pin_replay_mtimes(replay_dir: str, ts_col: str = "ts") -> None:
    """FileStreamSource replays files in modification-time order with
    path tie-breaks; files landed in one job (or milliseconds apart)
    can tie, and the UUID part names then RANDOMIZE replay order —
    silently breaking any replay whose exactness premise is ascending
    event time (r8 post-mortem: a crash-injection control run lost 4
    stream-stream matches to exactly this). Re-stamp mtimes in
    min-event-time order with 2 s spacing so replay order IS event
    order, deterministically."""
    import pyarrow.parquet as pq

    files = [
        os.path.join(replay_dir, f)
        for f in os.listdir(replay_dir)
        if f.endswith(".parquet") and not f.startswith("_")
    ]
    keyed = sorted(
        (
            min(pq.read_table(f, columns=[ts_col]).column(ts_col).to_pylist()),
            f,
        )
        for f in files
    )
    base = int(os.path.getmtime(keyed[0][1]))
    for i, (_, f) in enumerate(keyed):
        os.utime(f, (base + 2 * i, base + 2 * i))


def _ensure_attr_replay(spark, sf_dir: str) -> str:
    ev = load_table(spark, sf_dir, "events")
    replay_dir = _replay_dir(sf_dir, "attr")
    if not _replay_ready(replay_dir):
        with _atomic_build(replay_dir) as tmp:
            # 2 non-overlapping time-range files -> 2 in-order
            # micro-batches
            ev.repartitionByRange(2, "ts").sortWithinPartitions(
                "ts"
            ).write.mode("overwrite").parquet(tmp)
            _pin_replay_mtimes(tmp)
    return replay_dir


def _ensure_dedup_replay(spark, sf_dir: str) -> str:
    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type", "value"
    )
    replay_dir = _replay_dir(sf_dir, "dedup")
    if not _replay_ready(replay_dir):
        with _atomic_build(replay_dir) as tmp:
            dup = ev.filter(F.col("event_id") % 11 == 0)
            # originals in files 0-2, redeliveries land in a separate
            # file via a second write -> the duplicate arrives in a
            # LATER batch
            ev.repartition(3).write.mode("overwrite").parquet(tmp)
            dup.repartition(1).write.mode("append").parquet(tmp)
    return replay_dir


def ensure_replay_dirs(spark, sf_dir: str) -> None:
    """Pre-build every streaming-replay fixture dir. Benchmark warmup
    hook: replay-dir creation is one-time fixture setup (like the
    parquet fixtures themselves), not part of any query's cost, so
    bench.py calls this before the timed loop."""
    _ensure_bronze_replay(spark, sf_dir)
    _ensure_attr_replay(spark, sf_dir)
    _ensure_dedup_replay(spark, sf_dir)
    _ensure_outer_attr_replay(spark, sf_dir)


@q(
    "scd2_dimension_evolution",
    f"""WITH snap1 AS (SELECT n_nationkey AS coin_id, n_name AS name,
                             CAST(n_nationkey * 1000.0 AS DOUBLE) AS supply FROM nation),
       c1 AS (SELECT *, {_SCD2_HASH} AS hash FROM snap1),
       d1 AS (SELECT ROW_NUMBER() OVER (ORDER BY coin_id, hash) AS surrogate_key,
                     coin_id, name, supply, hash,
                     DATE '2024-01-01' AS start_date,
                     DATE '9999-12-31' AS end_date, 'Y' AS is_current
              FROM c1),
       snap2 AS (SELECT coin_id, name,
                        CASE WHEN coin_id BETWEEN 1 AND 5 THEN supply + 1
                             ELSE supply END AS supply
                 FROM snap1),
       c2 AS (SELECT *, {_SCD2_HASH} AS hash FROM snap2),
       expired AS (SELECT surrogate_key, coin_id, name, supply, hash, start_date,
                          DATE '2024-02-01' AS end_date, 'N' AS is_current
                   FROM d1
                   WHERE EXISTS (SELECT 1 FROM c2
                                 WHERE c2.coin_id = d1.coin_id AND c2.hash <> d1.hash)),
       unchanged AS (SELECT d1.* FROM d1
                     WHERE NOT EXISTS (SELECT 1 FROM expired e
                                       WHERE e.coin_id = d1.coin_id)),
       newrows AS (SELECT (SELECT MAX(surrogate_key) FROM d1)
                            + ROW_NUMBER() OVER (ORDER BY coin_id, hash) AS surrogate_key,
                          coin_id, name, supply, hash,
                          DATE '2024-02-01' AS start_date,
                          DATE '9999-12-31' AS end_date, 'Y' AS is_current
                   FROM c2
                   WHERE NOT EXISTS (SELECT 1 FROM d1
                                     WHERE d1.coin_id = c2.coin_id AND d1.hash = c2.hash))
       SELECT * FROM expired
       UNION ALL SELECT * FROM unchanged
       UNION ALL SELECT * FROM newrows""",
)
def scd2_dimension_evolution(spark, sf_dir):
    """Full SCD-2 lifecycle (J2/J3/J4): seed from snapshot 1, apply a
    perturbed snapshot 2 -> expired rows + re-keyed new versions
    (populate_dim.py:131-171 choreography as pure DataFrame algebra)."""
    n = load_table(spark, sf_dir, "nation")
    snap1 = n.select(
        F.col("n_nationkey").alias("coin_id"),
        F.col("n_name").alias("name"),
        (F.col("n_nationkey") * 1000.0).alias("supply"),
    )
    c1 = scd2.hash_candidates(snap1, "coin_id", ["coin_id", "name", "supply"])
    d1 = scd2.empty_dim(c1, "2024-01-01")
    snap2 = snap1.withColumn(
        "supply",
        F.when(F.col("coin_id").between(1, 5), F.col("supply") + 1).otherwise(
            F.col("supply")
        ),
    )
    c2 = scd2.hash_candidates(snap2, "coin_id", ["coin_id", "name", "supply"])
    return scd2.scd2_apply(d1, c2, "coin_id", "2024-02-01")


@q(
    "streaming_bronze_final_state",
    """SELECT strftime(time_bucket(INTERVAL '1 minute', CAST(ts AS TIMESTAMP)), '%Y-%m-%d %H:%M') AS window_start,
              ROUND(CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*), 6) AS avg_value,
              MAX_BY(value, event_id) AS last_value,
              COUNT(*) AS n
       FROM events GROUP BY 1""",
)
def streaming_bronze_final_state(spark, sf_dir):
    """A1/T3/T8 as a *real streaming run*: events replayed through a
    file-source micro-batch stream, 1-minute tumbling window agg in
    complete mode, availableNow trigger; the final state must equal
    the batch aggregate (streaming/batch unification)."""
    ev = load_table(spark, sf_dir, "events")
    sf_tag = os.path.basename(os.path.normpath(sf_dir)).replace(".", "_")
    replay_dir = _ensure_bronze_replay(spark, sf_dir)

    stream = (
        spark.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", 2)  # 4 files -> 2 micro-batches:
        # still a real cross-batch state merge, half the trigger overhead
        .parquet(replay_dir)
    )
    agg = (
        stream.groupBy(F.window("ts", "1 minute").alias("win"))
        .agg(
            F.round(
                F.sum(F.col("value").cast("decimal(18,2)")).cast("double")
                / F.count(F.lit(1)),
                6,
            ).alias("avg_value"),
            F.max_by("value", "event_id").alias("last_value"),
            F.count(F.lit(1)).alias("n"),
        )
    )
    tbl = f"bronze_final_state_{sf_tag}"
    with registry.pinned_shuffle(spark):
        q_handle = (
            agg.writeStream.outputMode("complete")
            .format("memory")
            .queryName(tbl)
            .trigger(availableNow=True)
            .start()
        )
        _await_drain(q_handle, "streaming_bronze_final_state")
    return spark.table(tbl).select(
        F.date_format(F.col("win.start"), "yyyy-MM-dd HH:mm").alias("window_start"),
        "avg_value",
        "last_value",
        "n",
    )


@q(
    "stream_stream_attribution_join",
    """SELECT p.event_id AS purchase_id, c.event_id AS click_id, p.user_id,
              p.ts AS purchase_ts, c.ts AS click_ts,
              CAST((epoch_us(p.ts) - epoch_us(c.ts) + 500) // 1000 AS DOUBLE)
                / 1000 AS lag_secs
       FROM events p JOIN events c
         ON p.user_id = c.user_id
        AND p.event_type = 'purchase'
        AND c.event_type IN ('click', 'view')
        AND c.ts BETWEEN p.ts - INTERVAL 4 HOUR AND p.ts""",
)
def stream_stream_attribution_join(spark, sf_dir):
    """T-coverage extension: a real stream-stream event-time interval
    join (purchase attribution: each purchase joined to the same
    user's clicks/views in the preceding 4 hours), run as a
    micro-batched StreamingQuery and checked against the batch join.

    Exactness argument: replay files are range-partitioned on ts (so
    micro-batch 2's earliest event >= micro-batch 1's latest), and the
    8h watermark delay exceeds the 4h join interval — no state needed
    for a future match is ever evicted, so the streamed result equals
    the batch inner join row-for-row."""
    ev = load_table(spark, sf_dir, "events")
    sf_tag = os.path.basename(os.path.normpath(sf_dir)).replace(".", "_")
    replay_dir = _ensure_attr_replay(spark, sf_dir)

    stream = (
        spark.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(replay_dir)
    )
    clicks = (
        stream.filter(F.col("event_type").isin("click", "view"))
        .select(
            F.col("event_id").alias("click_id"),
            F.col("user_id").alias("c_user"),
            F.col("ts").alias("click_ts"),
        )
        .withWatermark("click_ts", "8 hours")
    )
    purchases = (
        stream.filter(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("purchase_id"),
            F.col("user_id").alias("user_id"),
            F.col("ts").alias("purchase_ts"),
        )
        .withWatermark("purchase_ts", "8 hours")
    )
    joined = purchases.join(
        clicks,
        (F.col("user_id") == F.col("c_user"))
        & (F.col("click_ts") >= F.col("purchase_ts") - F.expr("INTERVAL 4 HOURS"))
        & (F.col("click_ts") <= F.col("purchase_ts")),
    )
    tbl = f"attribution_join_{sf_tag}"
    with registry.pinned_shuffle(spark):
        handle = (
            joined.writeStream.outputMode("append")
            .format("memory")
            .queryName(tbl)
            .trigger(availableNow=True)
            .start()
        )
        _await_drain(handle, "stream_stream_attribution_join")
    return spark.table(tbl).select(
        "purchase_id",
        "click_id",
        "user_id",
        "purchase_ts",
        "click_ts",
        # ms-rounded lag via INTEGER half-up (DECISIONS 50), not
        # ROUND(us/1e6,3): a us diff ending in exactly 500 is a
        # representation tie double-ROUND breaks differently across
        # engines (sessionize_user_events flipped at sf1). Diff >= 0 by
        # the join bound, so +500 floor-div is half-up; numerator
        # <= 4h+500us << 2^53, the float floor is exact.
        (
            F.floor(
                (F.unix_micros("purchase_ts") - F.unix_micros("click_ts") + 500)
                / 1000
            ).cast("double")
            / 1000.0
        ).alias("lag_secs"),
    )


def _ensure_outer_attr_replay(spark, sf_dir: str) -> str:
    """Time-ordered replay for the OUTER stream-stream join, plus TWO
    trailing sentinel files (far-future events): sentinel batch K
    advances the watermark past every real event, and the batch after
    it applies that watermark — evicting join state and EMITTING the
    unmatched-left NULL rows. Without the second trailing batch the
    final watermark is computed but never applied, and availableNow
    would end with the outer rows still buffered (the classic
    stream-stream outer-join flush gotcha)."""
    ev = load_table(spark, sf_dir, "events")
    # v2: consolidated per-day sentinel files (see below). The tag
    # bump busts scratch dirs cached under the old 6-file layout —
    # the cache key is the fixture fingerprint, not the builder logic.
    replay_dir = _replay_dir(sf_dir, "outerattr3")
    if _replay_ready(replay_dir):
        return replay_dir
    with _atomic_build(replay_dir) as tmp:
        ev.repartitionByRange(2, "ts").sortWithinPartitions("ts").write.mode(
            "overwrite"
        ).parquet(tmp)
        # each sentinel file carries BOTH a click and a purchase row:
        # the join's effective watermark is the MIN across the two
        # input branches, and rows advance only the branch whose
        # filter they pass
        # r10 OPT (guide §1.2): each day's click+purchase sentinels now
        # land in ONE file instead of two, halving the sentinel
        # micro-batch count (6 -> 4 total batches per drain at
        # maxFilesPerTrigger=1). Watermark semantics are unchanged —
        # the join watermark is the MIN across the two branches, so a
        # single batch carrying both rows advances both branches at
        # once exactly as the two single-row batches did, and the
        # advance/apply two-day structure is preserved. Output
        # re-verified row-identical vs the batch join.
        # r10 OPT (measured, guide §1): Spark's micro-batch engine runs
        # an automatic no-data batch under availableNow whenever the
        # last data batch advanced the watermark and a stateful
        # operator holds state (observed via StreamingQueryListener:
        # a final rows=0 batch ALWAYS followed the second sentinel
        # day). That engine-provided batch is the "apply" step, so one
        # sentinel day suffices: day-400 advances both branch
        # watermarks past every real event, the automatic final batch
        # applies them and flushes the outer rows. Output verified
        # row-identical to the batch join at sf0.001/0.01/0.1 (the
        # two-day form survives in git history if a Spark upgrade ever
        # drops the automatic final batch — the sim would catch it).
        for days in (400,):  # advance; the auto no-data batch applies
            sentinel = None
            for etype, eid in (("click", -1), ("purchase", -2)):
                one = ev.limit(1).select(
                    F.lit(eid).alias("event_id"),
                    (F.col("ts") + F.expr(f"INTERVAL {days} DAYS")).alias(
                        "ts"
                    ),
                    F.lit(-1).alias("user_id"),
                    F.lit(etype).alias("event_type"),
                    F.lit(0.0).alias("value"),
                    F.lit(None).cast("string").alias("props"),
                )
                sentinel = one if sentinel is None else sentinel.union(one)
            sentinel.select(
                [F.col(c).cast(dict(ev.dtypes)[c]) for c in ev.columns]
            ).repartition(1).write.mode("append").parquet(tmp)
        _pin_replay_mtimes(tmp)
    return replay_dir


@q(
    "stream_stream_outer_attribution",
    """WITH p AS (SELECT event_id, user_id, ts FROM events
                  WHERE event_type = 'purchase'),
       c AS (SELECT event_id, user_id, ts FROM events
             WHERE event_type IN ('click', 'view'))
       SELECT p.event_id AS purchase_id, c.event_id AS click_id,
              p.user_id, p.ts AS purchase_ts, c.ts AS click_ts,
              CAST((epoch_us(p.ts) - epoch_us(c.ts) + 500) // 1000 AS DOUBLE)
                / 1000 AS lag_secs
       FROM p LEFT JOIN c
         ON p.user_id = c.user_id
        AND c.ts BETWEEN p.ts - INTERVAL 4 HOUR AND p.ts""",
)
def stream_stream_outer_attribution(spark, sf_dir):
    """Stream-stream LEFT OUTER interval join — the semantics the
    inner attribution join (stream_stream_attribution_join) cannot
    give: purchases with NO preceding click/view in 4 hours must
    STILL emit, with NULL click columns, once the watermark proves no
    match can arrive. The replay appends two far-future sentinel
    batches so the final watermark both advances AND gets applied
    (outer rows flush in the batch AFTER the one that moved the
    watermark — availableNow without that trailing batch would end
    with them silently buffered). The streamed rows must equal the
    batch LEFT JOIN row-for-row, NULLs included — state eviction
    emitted every unmatched left row exactly once, none early. At
    100 TB the same watermark bounds the buffered state to the join
    interval per key."""
    ev = load_table(spark, sf_dir, "events")
    sf_tag = os.path.basename(os.path.normpath(sf_dir)).replace(".", "_")
    replay_dir = _ensure_outer_attr_replay(spark, sf_dir)

    stream = (
        spark.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(replay_dir)
    )
    clicks = (
        stream.filter(F.col("event_type").isin("click", "view"))
        .select(
            F.col("event_id").alias("click_id"),
            F.col("user_id").alias("c_user"),
            F.col("ts").alias("click_ts"),
        )
        .withWatermark("click_ts", "8 hours")
    )
    purchases = (
        stream.filter(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("purchase_id"),
            F.col("user_id").alias("user_id"),
            F.col("ts").alias("purchase_ts"),
        )
        .withWatermark("purchase_ts", "8 hours")
    )
    joined = purchases.join(
        clicks,
        (F.col("user_id") == F.col("c_user"))
        & (F.col("click_ts") >= F.col("purchase_ts") - F.expr("INTERVAL 4 HOURS"))
        & (F.col("click_ts") <= F.col("purchase_ts")),
        "left_outer",
    )
    tbl = f"outer_attribution_{sf_tag}"
    with registry.pinned_shuffle(spark):
        handle = (
            joined.writeStream.outputMode("append")
            .format("memory")
            .queryName(tbl)
            .trigger(availableNow=True)
            .start()
        )
        _await_drain(handle, "stream_stream_outer_attribution")
    # r11 (ADVICE r10 #1): the buffered outer rows flush in the
    # engine's automatic no-data batch (pinned on in session.py). If a
    # Spark upgrade ever stopped running it, unmatched purchases would
    # silently vanish — fail loudly instead: the fixture always has
    # purchases with no click in window, so at least one NULL-click
    # row must be present (memory sink, ~ms to probe).
    assert (
        spark.table(tbl).filter(F.col("click_id").isNull()).limit(1).count()
        == 1
    ), "outer join flushed no null-side rows — no-data batch missing?"
    return (
        spark.table(tbl)
        .filter(F.col("purchase_id") >= 0)  # drop the sentinel rows
        .select(
            "purchase_id",
            "click_id",
            "user_id",
            "purchase_ts",
            "click_ts",
            # integer half-up ms rounding (DECISIONS 50); NULL click
            # side propagates NULL lag_secs as before
            (
                F.floor(
                    (
                        F.unix_micros("purchase_ts")
                        - F.unix_micros("click_ts")
                        + 500
                    )
                    / 1000
                ).cast("double")
                / 1000.0
            ).alias("lag_secs"),
        )
    )


@q(
    "stream_stream_full_outer_attribution",
    """WITH p AS (SELECT event_id, user_id, ts FROM events
                  WHERE event_type = 'purchase'),
       c AS (SELECT event_id, user_id, ts FROM events
             WHERE event_type IN ('click', 'view'))
       SELECT p.event_id AS purchase_id, c.event_id AS click_id,
              COALESCE(p.user_id, c.user_id) AS user_id,
              p.ts AS purchase_ts, c.ts AS click_ts,
              CAST((epoch_us(p.ts) - epoch_us(c.ts) + 500) // 1000 AS DOUBLE)
                / 1000 AS lag_secs
       FROM p FULL JOIN c
         ON p.user_id = c.user_id
        AND c.ts BETWEEN p.ts - INTERVAL 4 HOUR AND p.ts""",
)
def stream_stream_full_outer_attribution(spark, sf_dir):
    """Stream-stream FULL OUTER interval join — both dangling sides
    emit: purchases with no preceding click/view in 4 hours (NULL
    click columns) AND clicks/views that never converted (NULL
    purchase columns), each exactly once, once the watermark proves
    no match can arrive. Same two-sentinel replay as the left-outer
    run (`_ensure_outer_attr_replay`): the first trailing batch
    advances BOTH branch watermarks past every real event, the
    second applies them — full-outer state eviction flushes
    unmatched rows from BOTH join buffers in that batch. The
    streamed result must equal the batch FULL JOIN row-for-row,
    NULLs included. At 100 TB the watermark bounds both state
    stores to the 4-hour interval per key — the full-outer join is
    the one shape where BOTH sides' buffers matter."""
    ev = load_table(spark, sf_dir, "events")
    sf_tag = os.path.basename(os.path.normpath(sf_dir)).replace(".", "_")
    replay_dir = _ensure_outer_attr_replay(spark, sf_dir)

    stream = (
        spark.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(replay_dir)
    )
    clicks = (
        stream.filter(F.col("event_type").isin("click", "view"))
        .select(
            F.col("event_id").alias("click_id"),
            F.col("user_id").alias("c_user"),
            F.col("ts").alias("click_ts"),
        )
        .withWatermark("click_ts", "8 hours")
    )
    purchases = (
        stream.filter(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("purchase_id"),
            F.col("user_id").alias("p_user"),
            F.col("ts").alias("purchase_ts"),
        )
        .withWatermark("purchase_ts", "8 hours")
    )
    joined = purchases.join(
        clicks,
        (F.col("p_user") == F.col("c_user"))
        & (
            F.col("click_ts")
            >= F.col("purchase_ts") - F.expr("INTERVAL 4 HOURS")
        )
        & (F.col("click_ts") <= F.col("purchase_ts")),
        "full_outer",
    )
    tbl = f"full_outer_attribution_{sf_tag}"
    with registry.pinned_shuffle(spark):
        handle = (
            joined.writeStream.outputMode("append")
            .format("memory")
            .queryName(tbl)
            .trigger(availableNow=True)
            .start()
        )
        _await_drain(handle, "stream_stream_full_outer_attribution")
    # r11 (ADVICE r10 #1): same loud-failure invariant as the left-
    # outer drain — the no-data batch must have flushed dangling rows.
    assert (
        spark.table(tbl).filter(F.col("click_id").isNull()).limit(1).count()
        == 1
    ), "full-outer join flushed no null-side rows — no-data batch missing?"
    return (
        spark.table(tbl)
        # drop sentinel rows on EITHER side (negative synthetic ids)
        .filter(
            (F.coalesce(F.col("purchase_id"), F.lit(0)) >= 0)
            & (F.coalesce(F.col("click_id"), F.lit(0)) >= 0)
        )
        .select(
            "purchase_id",
            "click_id",
            F.coalesce(F.col("p_user"), F.col("c_user")).alias("user_id"),
            "purchase_ts",
            "click_ts",
            # integer half-up ms rounding (DECISIONS 50); either
            # dangling side propagates NULL lag_secs as before
            (
                F.floor(
                    (
                        F.unix_micros("purchase_ts")
                        - F.unix_micros("click_ts")
                        + 500
                    )
                    / 1000
                ).cast("double")
                / 1000.0
            ).alias("lag_secs"),
        )
    )


_REST_ROWS = [
    {"symbol": "BTC", "name": "bitcoin", "supply": "19000000.5", "maxSupply": "21000000", "volume24h": "123.25"},
    {"symbol": "ETH", "name": "ethereum", "supply": "120000000", "maxSupply": None, "volume24h": "456.5"},
    {"symbol": "ADA", "name": "cardano", "supply": None, "maxSupply": "45000000000", "volume24h": None},
    {"symbol": "SOL", "name": "solana", "supply": "440000000", "maxSupply": None, "volume24h": "789"},
]


@q(
    "rest_ingest_typed",
    """SELECT symbol, name,
              COALESCE(CAST(supply AS DOUBLE), 0.0) AS supply,
              COALESCE(CAST(maxSupply AS DOUBLE), 99000000000.0) AS maxSupply,
              COALESCE(CAST(volume24h AS DOUBLE), 0.0) AS volume24h
       FROM (VALUES
         ('BTC', 'bitcoin', '19000000.5', '21000000', '123.25'),
         ('ETH', 'ethereum', '120000000', NULL, '456.5'),
         ('ADA', 'cardano', NULL, '45000000000', NULL),
         ('SOL', 'solana', '440000000', NULL, '789')
       ) AS t(symbol, name, supply, maxSupply, volume24h)""",
)
def rest_ingest_typed(spark, sf_dir):
    """S7: REST payload -> typed frame with explicit casts + null
    defaulting (utils.py:8-32: maxSupply default, volume 0). The
    fetcher is injected — here a deterministic fixture."""
    df = batch_sources.rest_ingest(
        spark,
        fetch=lambda: _REST_ROWS,
        casts={"supply": "double", "maxSupply": "double", "volume24h": "double"},
        null_defaults={"supply": 0.0, "maxSupply": 99000000000.0, "volume24h": 0.0},
    )
    return df.select("symbol", "name", "supply", "maxSupply", "volume24h")


@q(
    "cdc_apply_profile",
    """WITH snap AS (SELECT * FROM orders WHERE o_orderkey % 10 < 8),
       chg AS (
         SELECT o_orderkey, o_custkey, o_orderstatus,
                o_totalprice + 1000 AS o_totalprice, o_orderdate,
                o_orderpriority, 'U' AS op, 1 AS seq
         FROM orders WHERE o_orderkey % 10 IN (6, 7)
         UNION ALL
         SELECT o_orderkey, o_custkey, o_orderstatus,
                o_totalprice + 2000, o_orderdate,
                o_orderpriority, 'U', 2
         FROM orders WHERE o_orderkey % 10 = 7
         UNION ALL
         SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
                o_orderdate, o_orderpriority, 'I', 1
         FROM orders WHERE o_orderkey % 10 IN (8, 9)
         UNION ALL
         SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
                o_orderdate, o_orderpriority, 'D', 3
         FROM orders WHERE o_orderkey % 100 < 5),
       latest AS (
         SELECT * FROM (
           SELECT *, ROW_NUMBER() OVER (PARTITION BY o_orderkey
                                        ORDER BY seq DESC) AS rn
           FROM chg) WHERE rn = 1),
       final AS (
         SELECT s.* FROM snap s
         LEFT JOIN latest l ON s.o_orderkey = l.o_orderkey
         WHERE l.o_orderkey IS NULL
         UNION ALL
         SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
                o_orderdate, o_orderpriority
         FROM latest WHERE op != 'D')
       SELECT o_orderpriority,
              COUNT(*) AS n_orders,
              CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(18,2))), 2)
                   AS DOUBLE) AS total_value,
              CAST(SUM(o_orderkey) AS BIGINT) AS key_checksum
       FROM final GROUP BY 1""",
)
def cdc_apply_profile(spark, sf_dir):
    """CDC MERGE (operators/cdc.cdc_apply): a Debezium-shaped I/U/D
    batch — inserts of unseen keys, an update, a higher-seq second
    update for the same keys (latest-wins), and deletes — applied to
    an 80% snapshot of orders. Output is the post-merge per-priority
    profile with a key checksum and a DECIMAL value total, so a
    single resurrected delete, lost insert, or stale update flips the
    hash. The oracle recomputes the merge with an independent
    window+anti-join formulation."""
    from ..operators import cdc

    o = load_table(spark, sf_dir, "orders")
    k = F.col("o_orderkey")
    snap = o.filter(k % 10 < 8)

    def tagged(df, op, seq, price=None):
        out = df
        if price is not None:
            out = out.withColumn("o_totalprice", F.col("o_totalprice") + price)
        return out.withColumn("op", F.lit(op)).withColumn("seq", F.lit(seq))

    changes = (
        tagged(o.filter((k % 10).isin(6, 7)), "U", 1, 1000)
        .unionByName(tagged(o.filter(k % 10 == 7), "U", 2, 2000))
        .unionByName(tagged(o.filter((k % 10).isin(8, 9)), "I", 1))
        .unionByName(tagged(o.filter(k % 100 < 5), "D", 3))
    )
    final = cdc.cdc_apply(snap, changes, keys=["o_orderkey"])
    return final.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.round(F.sum(F.col("o_totalprice").cast("decimal(18,2)")), 2)
        .cast("double")
        .alias("total_value"),
        F.sum("o_orderkey").alias("key_checksum"),
    )


@q(
    "dq_constraint_report",
    """SELECT 'completeness(o_custkey)' AS constraint_name,
              ROUND(AVG(CASE WHEN o_custkey IS NOT NULL THEN 1.0 ELSE 0.0 END), 6) AS metric,
              CAST(1.0 AS DOUBLE) AS threshold,
              ROUND(AVG(CASE WHEN o_custkey IS NOT NULL THEN 1.0 ELSE 0.0 END), 6) >= 1.0 AS passed
       FROM orders
       UNION ALL
       SELECT 'uniqueness(o_orderkey)',
              ROUND(CAST(COUNT(DISTINCT o_orderkey) AS DOUBLE) / COUNT(o_orderkey), 6),
              CAST(1.0 AS DOUBLE),
              ROUND(CAST(COUNT(DISTINCT o_orderkey) AS DOUBLE) / COUNT(o_orderkey), 6) >= 1.0
       FROM orders
       UNION ALL
       SELECT 'in_set(o_orderstatus)',
              ROUND(AVG(CASE WHEN o_orderstatus IN ('O','F','P') THEN 1.0 ELSE 0.0 END), 6),
              CAST(1.0 AS DOUBLE),
              ROUND(AVG(CASE WHEN o_orderstatus IN ('O','F','P') THEN 1.0 ELSE 0.0 END), 6) >= 1.0
       FROM orders
       UNION ALL
       SELECT 'non_negative(o_totalprice)',
              ROUND(AVG(CASE WHEN o_totalprice >= 0 THEN 1.0 ELSE 0.0 END), 6),
              CAST(1.0 AS DOUBLE),
              ROUND(AVG(CASE WHEN o_totalprice >= 0 THEN 1.0 ELSE 0.0 END), 6) >= 1.0
       FROM orders
       UNION ALL
       SELECT 'bounds(o_totalprice)',
              ROUND(AVG(CASE WHEN o_totalprice BETWEEN 1000 AND 300000 THEN 1.0 ELSE 0.0 END), 6),
              CAST(0.9 AS DOUBLE),
              ROUND(AVG(CASE WHEN o_totalprice BETWEEN 1000 AND 300000 THEN 1.0 ELSE 0.0 END), 6) >= 0.9
       FROM orders
       UNION ALL
       SELECT 'ref(l_orderkey->o_orderkey)',
              ROUND(AVG(CASE WHEN o.o_orderkey IS NOT NULL THEN 1.0 ELSE 0.0 END), 6),
              CAST(1.0 AS DOUBLE),
              COUNT(CASE WHEN o.o_orderkey IS NULL THEN 1 END) = 0
       FROM lineitem l LEFT JOIN (SELECT DISTINCT o_orderkey FROM orders) o
         ON l.l_orderkey = o.o_orderkey""",
)
def dq_constraint_report(spark, sf_dir):
    """Declarative data-quality gate (operators/quality.py): five
    constraints over orders — completeness, key uniqueness, domain
    membership, non-negativity, a 90%-bounds band — compiled into ONE
    aggregate pass (one scan, one 1-row shuffle regardless of
    constraint count), plus lineitem->orders referential integrity as
    a broadcast probe of the distinct parent keys. This is the
    bronze->silver promotion gate of a medallion pipeline; the oracle
    recomputes every metric independently."""
    from ..operators import quality as dq

    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    checks = [
        dq.completeness("o_custkey"),
        dq.uniqueness("o_orderkey"),
        dq.in_set("o_orderstatus", ("O", "F", "P")),
        dq.non_negative("o_totalprice"),
        dq.bounds("o_totalprice", 1000, 300000, min_frac=0.9),
    ]
    report = dq.run_checks(o, checks)
    ri = dq.referential_integrity(li, "l_orderkey", o, "o_orderkey")
    return report.unionByName(ri)


@q(
    "hot_key_diagnosis",
    """WITH counts AS (
         SELECT user_id, COUNT(*) AS n
         FROM events GROUP BY 1),
       stats AS (
         SELECT CAST(SUM(n) AS DOUBLE) AS total,
                CAST(SUM(n) AS DOUBLE) / COUNT(*) AS mean_n
         FROM counts)
       SELECT c.user_id, c.n,
              ROUND(c.n / s.total, 6) AS share,
              ROUND(c.n / s.mean_n, 4) AS skew_factor
       FROM counts c CROSS JOIN stats s
       ORDER BY c.n DESC, c.user_id ASC
       LIMIT 20""",
)
def hot_key_diagnosis(spark, sf_dir):
    """Shuffle-skew pre-flight (operators/skew.top_hot_keys made
    driver-visible): the 20 heaviest join/agg keys with their share
    of total rows and skew factor vs the mean key. At 100 TB this is
    the query you run BEFORE the big join — a skew_factor in the
    hundreds says salt this key or rely on AQE skew splitting
    (tests/test_scale.py pins both mitigations). One key-grain
    aggregate + a 1-row stats broadcast."""
    ev = load_table(spark, sf_dir, "events")
    counts = ev.groupBy("user_id").agg(F.count(F.lit(1)).alias("n"))
    stats = counts.agg(
        F.sum("n").cast("double").alias("total"),
        (F.sum("n").cast("double") / F.count(F.lit(1))).alias("mean_n"),
    )
    return (
        counts.join(F.broadcast(stats))
        .select(
            "user_id",
            "n",
            F.round(F.col("n") / F.col("total"), 6).alias("share"),
            F.round(F.col("n") / F.col("mean_n"), 4).alias("skew_factor"),
        )
        .orderBy(F.desc("n"), F.asc("user_id"))
        .limit(20)
    )


@q(
    "scd2_as_of_snapshot",
    f"""
    WITH dim AS ({ORACLES["scd2_dimension_evolution"]})
    SELECT DATE '2024-01-15' AS as_of, surrogate_key, coin_id, name, supply
    FROM dim WHERE start_date <= DATE '2024-01-15'
             AND DATE '2024-01-15' < end_date
    UNION ALL
    SELECT DATE '2024-02-15', surrogate_key, coin_id, name, supply
    FROM dim WHERE start_date <= DATE '2024-02-15'
             AND DATE '2024-02-15' < end_date
""",
)
def scd2_as_of_snapshot(spark, sf_dir):
    """Temporal dimension read — the query SCD-2 exists to answer:
    the dimension AS OF a date, reconstructed from validity intervals
    (start_date <= T < end_date). Snapshot at 2024-01-15 returns
    every v1 row (pre-second-load); at 2024-02-15 the perturbed rows'
    v2 versions replace them. The interval predicate is a plain
    filter over the dim scan — at 100 TB, time travel costs one
    pruned scan, not a log replay."""
    from ..dims import scd2

    n = load_table(spark, sf_dir, "nation")
    snap1 = n.select(
        F.col("n_nationkey").alias("coin_id"),
        F.col("n_name").alias("name"),
        (F.col("n_nationkey") * 1000.0).alias("supply"),
    )
    c1 = scd2.hash_candidates(snap1, "coin_id", ["coin_id", "name", "supply"])
    d1 = scd2.empty_dim(c1, "2024-01-01")
    snap2 = snap1.withColumn(
        "supply",
        F.when(F.col("coin_id").between(1, 5), F.col("supply") + 1).otherwise(
            F.col("supply")
        ),
    )
    c2 = scd2.hash_candidates(snap2, "coin_id", ["coin_id", "name", "supply"])
    dim = scd2.scd2_apply(d1, c2, "coin_id", "2024-02-01")

    def snap(as_of: str):
        t = F.lit(as_of).cast("date")
        return dim.filter(
            (F.col("start_date") <= t) & (t < F.col("end_date"))
        ).select(
            t.alias("as_of"), "surrogate_key", "coin_id", "name", "supply"
        )

    return snap("2024-01-15").unionByName(snap("2024-02-15"))


@q(
    "streaming_dedup_final_state",
    """WITH dup_stream AS (
         SELECT event_id, user_id, event_type, value FROM events
         UNION ALL
         SELECT event_id, user_id, event_type, value FROM events
         WHERE event_id % 11 = 0)
       SELECT event_type,
              COUNT(*) AS n_rows,
              COUNT(DISTINCT event_id) AS n_distinct_ids,
              CAST(ROUND(SUM(CAST(value AS DECIMAL(18,4))), 2) AS DOUBLE)
                AS total_value
       FROM (SELECT DISTINCT event_id, user_id, event_type, value
             FROM dup_stream)
       GROUP BY 1""",
)
def streaming_dedup_final_state(spark, sf_dir):
    """T10 as a *real streaming run*: a replayed stream with ~9%
    injected redeliveries (every 11th event appears twice, in
    DIFFERENT micro-batch files) passes through streaming
    dropDuplicates keyed on event_id — state carries seen-keys across
    batches, so the cross-batch duplicate is suppressed exactly once.
    Final landed counts equal the batch DISTINCT oracle, n_rows ==
    n_distinct_ids proving zero survivors. At 100 TB the key state is
    what a watermark bounds (dropDuplicatesWithinWatermark,
    tests/test_streaming.py); here the corpus is finite so full-key
    state is exact."""
    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type", "value"
    )
    sf_tag = os.path.basename(os.path.normpath(sf_dir)).replace(".", "_")
    replay_dir = _ensure_dedup_replay(spark, sf_dir)

    stream = (
        spark.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", 2)
        .parquet(replay_dir)
    )
    deduped = stream.dropDuplicates(["event_id"])
    # streaming aggs forbid COUNT(DISTINCT); post-dedup a plain count
    # of event_id IS the distinct count — and the oracle computes the
    # true DISTINCT independently, so the hash-match verifies exactly
    # that no duplicate survived.
    agg = deduped.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.count("event_id").alias("n_distinct_ids"),
        F.round(F.sum(F.col("value").cast("decimal(18,4)")), 2)
        .cast("double")
        .alias("total_value"),
    )
    tbl = f"dedup_final_state_{sf_tag}"
    with registry.pinned_shuffle(spark):
        q_handle = (
            agg.writeStream.outputMode("complete")
            .format("memory")
            .queryName(tbl)
            .trigger(availableNow=True)
            .start()
        )
        _await_drain(q_handle, "streaming_dedup_final_state")
    return spark.table(tbl)


@q(
    "streaming_session_final_state",
    """WITH g AS (
         SELECT user_id, ts,
                CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id
                                             ORDER BY ts, event_id)
                          > INTERVAL 12 HOUR
                          OR lag(ts) OVER (PARTITION BY user_id
                                           ORDER BY ts, event_id) IS NULL
                     THEN 1 ELSE 0 END AS new_s
         FROM events),
       s AS (SELECT user_id, ts,
                    SUM(new_s) OVER (PARTITION BY user_id
                                     ORDER BY ts
                                     ROWS UNBOUNDED PRECEDING) AS sid
             FROM g),
       sess AS (SELECT user_id, sid, COUNT(*) AS n_events,
                       epoch(MAX(ts) - MIN(ts)) + 43200.0 AS dur_s
                FROM s GROUP BY 1, 2)
       SELECT user_id,
              CAST(COUNT(*) AS BIGINT) AS n_sessions,
              CAST(SUM(n_events) AS BIGINT) AS n_events,
              ROUND(AVG(dur_s), 1) AS avg_session_secs
       FROM sess GROUP BY user_id""",
)
def streaming_session_final_state(spark, sf_dir):
    """Native SESSION WINDOWS under a real StreamingQuery (T1-family
    extension): the replayed event stream aggregates
    groupBy(user_id, session_window(ts, '12 hours')) across
    micro-batches — the stateful operator MERGES sessions as later
    batches bridge gaps, the semantics that make session windows a
    streaming-native primitive rather than a gaps-and-islands batch
    trick. Complete mode (no watermark: the finite replay must not
    drop late rows); the drained per-session memory table rolls up to
    per-user session counts/durations in batch, and must hash-match
    the lag/cumsum islands oracle — the same contract
    session_window_batch pins for the batch evaluator, now proven for
    the incremental state machine. State is per (user, open session),
    bounded by the gap at 100 TB with a watermark evicting closed
    sessions."""
    ev = load_table(spark, sf_dir, "events")
    sf_tag = os.path.basename(os.path.normpath(sf_dir)).replace(".", "_")
    replay_dir = _ensure_bronze_replay(spark, sf_dir)

    stream = (
        spark.readStream.schema(ev.schema)
        # r10 OPT: 2 files per trigger (4 -> 2 micro-batches). Complete
        # mode re-emits the WHOLE session state every batch, so halving
        # the batch count halves the sink traffic and state-store
        # ceremony while still exercising the cross-batch session-merge
        # semantics this query pins (batch 2 bridges gaps opened by
        # batch 1). Final state — and the returned rollup — is batch-
        # boundary-independent in complete mode; value-verified.
        .option("maxFilesPerTrigger", 2)
        .parquet(replay_dir)
    )
    sess = stream.groupBy(
        "user_id", F.session_window("ts", "12 hours").alias("sw")
    ).agg(F.count(F.lit(1)).alias("n_events"))
    tbl = f"session_final_state_{sf_tag}"
    with registry.pinned_shuffle(spark):
        q_handle = (
            sess.writeStream.outputMode("complete")
            .format("memory")
            .queryName(tbl)
            .trigger(availableNow=True)
            .start()
        )
        _await_drain(q_handle, "streaming_session_final_state")
    per_sess = spark.table(tbl).select(
        "user_id",
        "n_events",
        (
            F.col("sw.end").cast("double") - F.col("sw.start").cast("double")
        ).alias("dur_s"),
    )
    return per_sess.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_sessions"),
        F.sum("n_events").cast("long").alias("n_events"),
        F.round(F.avg("dur_s"), 1).alias("avg_session_secs"),
    )


@q(
    "deltalog_snapshot_audit",
    """WITH base AS (SELECT o_orderkey, o_totalprice FROM orders),
       v0 AS (SELECT * FROM base WHERE o_orderkey % 3 = 0),
       v1 AS (SELECT * FROM base WHERE o_orderkey % 3 <= 1),
       src AS (SELECT o_orderkey, o_totalprice * 2 AS o_totalprice
               FROM base WHERE o_orderkey % 5 = 0),
       v2 AS (SELECT * FROM v1
              WHERE o_orderkey NOT IN (SELECT o_orderkey FROM src)
              UNION ALL SELECT * FROM src),
       stats AS (
         SELECT 0 AS version, COUNT(*) AS n_rows,
                SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS tp FROM v0
         UNION ALL
         SELECT 1, COUNT(*), SUM(CAST(o_totalprice AS DECIMAL(18,2))) FROM v1
         UNION ALL
         SELECT 2, COUNT(*), SUM(CAST(o_totalprice AS DECIMAL(18,2))) FROM v2)
       SELECT CAST(version AS INT) AS version,
              CAST(n_rows AS BIGINT) AS n_rows,
              CAST(ROUND(tp, 2) AS DOUBLE) AS total_price
       FROM stats""",
    shuffle=2,
)
def deltalog_snapshot_audit(spark, sf_dir):
    """End-to-end audit of the Deltaish transaction log
    (lakehouse_for_data_streaming_and_analysis_spark/delta): build a real table from the orders
    fixture — v0 CREATE (keys ≡0 mod 3, range-partitioned files), v1
    APPEND (keys ≡1 mod 3), v2 MERGE upsert (double the price of every
    key ≡0 mod 5: updates for loaded keys, inserts for the rest) — then
    read each version back BY TIME TRAVEL through the committed log and
    aggregate it. The oracle recomputes all three version states
    relationally, so the hash match certifies the log's snapshot
    isolation: every version's add/remove replay reproduces exactly the
    relational state at that commit. Decimal-exact sums (order
    independent) keep the hash portable."""
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_totalprice"
    )
    with _scratch_dir(sf_dir, "tbl") as table_dir:
        t = DeltaishTable.create(
            spark,
            table_dir,
            orders.filter(F.col("o_orderkey") % 3 == 0).repartitionByRange(
                4, "o_orderkey"
            ),
        )
        t.append(orders.filter(F.col("o_orderkey") % 3 == 1))
        t.merge(
            orders.filter(F.col("o_orderkey") % 5 == 0).withColumn(
                "o_totalprice", F.col("o_totalprice") * 2
            ),
            ["o_orderkey"],
        )
        # r10 OPT (guide §1.2): the three per-version aggregates used to
        # be three sequential collect() jobs; a union collects all
        # three in ONE job (the branches scan disjoint snapshots and
        # run concurrently). Same 9 scalars, same row order (each
        # branch emits exactly one row, union preserves child order).
        per_version = [
            t.read(version=v)
            .agg(*_price_stats())
            .select(
                F.lit(v).cast("int").alias("version"),
                "n_rows",
                "total_price",
            )
            for v in (0, 1, 2)
        ]
        unioned = per_version[0]
        for frame in per_version[1:]:
            unioned = unioned.union(frame)
        rows = unioned.collect()
    return spark.createDataFrame(
        rows, "version int, n_rows long, total_price double"
    )


def _ensure_ticks_capture(sf_dir: str) -> str:
    """Deterministic ndjson tick capture derived from the events
    fixture (first 2000 events by event_id, 4 shards), in the
    reference's wire format. Built Spark-free (pyarrow) so BOTH the
    query and the call-time oracle can ensure it exists regardless of
    which side the driver runs first; concurrent builders are safe via
    build-to-tmp + atomic rename."""
    import json as _json

    target = _replay_dir(sf_dir, "pydsticks")
    if _replay_ready(target):
        return target
    import pyarrow.parquet as pq

    tbl = pq.read_table(
        os.path.join(sf_dir, "events.parquet"),
        columns=["event_id", "ts", "value"],
    )
    rows = sorted(
        zip(
            tbl.column("event_id").to_pylist(),
            tbl.column("ts").to_pylist(),
            tbl.column("value").to_pylist(),
        )
    )[:2000]
    tmp = f"{target}-tmp-{uuid.uuid4().hex}"
    os.makedirs(tmp)
    shard_sz = -(-len(rows) // 4)
    for s in range(4):
        chunk = rows[s * shard_sz : (s + 1) * shard_sz]
        if not chunk:
            break
        with open(os.path.join(tmp, f"{s:03d}.jsonl"), "w") as f:
            for _eid, ts, v in chunk:
                f.write(
                    _json.dumps(
                        {
                            "BTC": str(round(float(v), 2)),
                            "timestamp": int(ts.timestamp()) if hasattr(ts, "timestamp") else int(ts),
                        }
                    )
                    + "\n"
                )
    try:
        os.rename(tmp, target)
    except OSError:
        shutil.rmtree(tmp, ignore_errors=True)  # lost the race: use theirs
    return target


def _pyds_oracle() -> str | None:
    """Call-time oracle for the custom Python DataSource ingest: DuckDB
    reads the SAME ndjson capture with read_json and re-derives the
    per-minute OHLC-count rollup independently."""
    sf_dir = os.environ.get(
        "SPARK_GRAFT_SIM_SF_DIR", "/root/testdata/sf0.01"
    )
    if not os.path.exists(os.path.join(sf_dir, "events.parquet")):
        return None
    cap = _ensure_ticks_capture(sf_dir)
    return f"""WITH t AS (
         SELECT CAST(BTC AS DOUBLE) AS price,
                to_timestamp(CAST("timestamp" AS BIGINT)) AS ts
         FROM read_json('{cap}/*.jsonl',
                        format='newline_delimited',
                        columns={{'BTC': 'VARCHAR', 'timestamp': 'DOUBLE'}}))
       SELECT strftime(date_trunc('minute', ts), '%Y-%m-%d %H:%M') AS minute,
              COUNT(*) AS n_ticks,
              ROUND(CAST(SUM(CAST(price AS DECIMAL(18,2))) AS DOUBLE), 2)
                AS volume,
              MIN(price) AS low,
              MAX(price) AS high
       FROM t GROUP BY 1"""


@q("pyds_tick_ingest", oracle=_pyds_oracle)
def pyds_tick_ingest(spark, sf_dir):
    """S1/S7/S8 as a FIRST-CLASS Spark source: ingest the reference's
    tick wire format through the registered Spark 4 Python DataSource
    (sources/pyds.py, format "ticks" — one input partition per capture
    shard), then the per-minute rollup. The oracle reads the identical
    ndjson bytes with DuckDB's read_json and re-derives the rollup, so
    the hash match certifies the custom source's partition planning
    and wire parsing end to end — not just the aggregate."""
    from ..sources import pyds

    pyds.register(spark)
    cap = _ensure_ticks_capture(sf_dir)
    df = spark.read.format("ticks").option("path", cap).load()
    return df.groupBy(
        F.date_format(F.date_trunc("minute", "ts"), "yyyy-MM-dd HH:mm").alias(
            "minute"
        )
    ).agg(
        F.count(F.lit(1)).alias("n_ticks"),
        F.round(
            F.sum(F.col("price").cast("decimal(18,2)")).cast("double"), 2
        ).alias("volume"),
        F.min("price").alias("low"),
        F.max("price").alias("high"),
    )


@q(
    "streaming_state_audit",
    """SELECT event_type,
              strftime(time_bucket(INTERVAL '1 hour', CAST(ts AS TIMESTAMP)),
                       '%Y-%m-%d %H:00') AS window_start,
              ROUND(CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE), 2)
                AS sum_value,
              COUNT(*) AS n
       FROM events GROUP BY 1, 2""",
)
def streaming_state_audit(spark, sf_dir):
    """The state store AS the query result: run a real micro-batched
    windowed aggregation over the replayed events stream (no
    watermark, so nothing evicts), then read the checkpoint's STATE
    STORE back as a DataFrame (maintenance/state.py) and project its
    physical rows. The oracle recomputes the same (event_type, hour)
    aggregate relationally — a hash match proves the state store's
    contents are exactly the aggregate state, i.e. state persistence
    and cross-batch merge are lossless. The aggregate buffer keeps the
    operator's PHYSICAL schema (sum buffer + isEmpty + count), so the
    projection introspects field names rather than assuming aliases
    (key.window, value.sum/isEmpty/count — query aliases do not
    survive into the buffer)."""
    from ..maintenance import state as mstate

    ev = load_table(spark, sf_dir, "events")
    replay_dir = _ensure_bronze_replay(spark, sf_dir)
    sf_tag = os.path.basename(os.path.normpath(sf_dir)).replace(".", "_")
    tbl = f"state_audit_{sf_tag}_{uuid.uuid4().hex[:8]}"
    with _scratch_dir(sf_dir, "stateaudit") as ck:
        try:
            with registry.pinned_shuffle(spark):
                q_handle = (
                    spark.readStream.schema(ev.schema)
                    .option("maxFilesPerTrigger", 2)
                    .parquet(replay_dir)
                    .groupBy(
                        "event_type", F.window("ts", "1 hour").alias("win")
                    )
                    .agg(
                        F.sum(
                            F.col("value").cast("decimal(18,2)")
                        ).alias("sv"),
                        F.count(F.lit(1)).alias("n"),
                    )
                    .writeStream.outputMode("update")
                    .format("memory")
                    .queryName(tbl)
                    .option("checkpointLocation", ck)
                    .trigger(availableNow=True)
                    .start()
                )
                _await_drain(q_handle, "streaming_state_audit")
            st = mstate.state_store(spark, ck)
            vcols = st.select("value.*").columns
            rows = (
                st.select(
                    F.col("key.event_type").alias("event_type"),
                    F.date_format(
                        F.col("key.window.start"), "yyyy-MM-dd HH:00"
                    ).alias("window_start"),
                    F.round(
                        F.col(f"value.{vcols[0]}").cast("double"), 2
                    ).alias("sum_value"),
                    F.col(f"value.{vcols[-1]}").cast("long").alias("n"),
                )
                .collect()
            )
        finally:
            spark.catalog.dropTempView(tbl)
    return spark.createDataFrame(
        rows,
        "event_type string, window_start string, sum_value double, n long",
    )


@q(
    "deltalog_cdf_merge_feed",
    """WITH tgt AS (SELECT o_orderkey, o_totalprice FROM orders
                    WHERE o_orderkey % 3 = 0),
       src AS (SELECT o_orderkey, o_totalprice * 2 AS o_totalprice
               FROM orders WHERE o_orderkey % 5 = 0),
       pre AS (SELECT t.o_orderkey, t.o_totalprice FROM tgt t
               JOIN src s ON t.o_orderkey = s.o_orderkey),
       post AS (SELECT s.o_orderkey, s.o_totalprice FROM src s
                JOIN tgt t ON t.o_orderkey = s.o_orderkey),
       ins AS (SELECT s.o_orderkey, s.o_totalprice FROM src s
               WHERE s.o_orderkey NOT IN (SELECT o_orderkey FROM tgt)),
       u AS (
         SELECT 'update_preimage' AS change_type, COUNT(*) AS n_rows,
                SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS tp FROM pre
         UNION ALL
         SELECT 'update_postimage', COUNT(*),
                SUM(CAST(o_totalprice AS DECIMAL(18,2))) FROM post
         UNION ALL
         SELECT 'insert', COUNT(*),
                SUM(CAST(o_totalprice AS DECIMAL(18,2))) FROM ins)
       SELECT change_type, CAST(n_rows AS BIGINT) AS n_rows,
              CAST(ROUND(tp, 2) AS DOUBLE) AS total_price
       FROM u""",
    shuffle=2,
)
def deltalog_cdf_merge_feed(spark, sf_dir):
    """Change Data Feed end-to-end (Delta's AddCDCFile surface,
    delta/table.py read_change_feed): build a transaction-logged
    table from the orders fixture (v0 CREATE keys ≡0 mod 3), enable
    delta.enableChangeDataFeed (v1), MERGE a doubled-price source of
    keys ≡0 mod 5 (v2 — updates where the key was loaded, inserts
    elsewhere), then read the feed over (v1, v2] and aggregate per
    _change_type. The oracle recomputes the three change classes
    relationally — preimages carry the OLD price, postimages and
    inserts the doubled one — so the hash match certifies that the
    cdc files record exactly the row-level delta of the MERGE, the
    contract an incremental downstream consumer depends on."""
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_totalprice"
    )
    with _scratch_dir(sf_dir, "cdf") as table_dir:
        t = DeltaishTable.create(
            spark, table_dir, orders.filter(F.col("o_orderkey") % 3 == 0)
        )
        v1 = t.enable_change_data_feed()
        v2 = t.merge(
            orders.filter(F.col("o_orderkey") % 5 == 0).withColumn(
                "o_totalprice", F.col("o_totalprice") * 2
            ),
            ["o_orderkey"],
        )
        rows = (
            t.read_change_feed(v1, v2)
            .groupBy(F.col("_change_type").alias("change_type"))
            .agg(*_price_stats())
            .collect()
        )
    return spark.createDataFrame(
        rows, "change_type string, n_rows long, total_price double"
    )


@q(
    "deltalog_clone_divergence",
    """WITH base AS (SELECT o_orderkey, o_totalprice FROM orders),
       source_now AS (SELECT * FROM base WHERE o_orderkey % 4 IN (0, 2)),
       clone_now AS (SELECT * FROM base WHERE o_orderkey % 4 IN (0, 1)),
       u AS (
         SELECT 'source' AS entity, COUNT(*) AS n_rows,
                SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS tp
         FROM source_now
         UNION ALL
         SELECT 'clone', COUNT(*),
                SUM(CAST(o_totalprice AS DECIMAL(18,2))) FROM clone_now)
       SELECT entity, CAST(n_rows AS BIGINT) AS n_rows,
              CAST(ROUND(tp, 2) AS DOUBLE) AS total_price
       FROM u""",
    shuffle=2,
)
def deltalog_clone_divergence(spark, sf_dir):
    """SHALLOW CLONE divergence audit (delta/table.py shallow_clone):
    create a table of orders keys ≡0 mod 4, zero-copy clone it (the
    clone's v0 references the source's data files by absolute path —
    the 100 TB dev/test-snapshot pattern), then diverge both sides:
    append keys ≡1 to the CLONE and keys ≡2 to the SOURCE. The final
    aggregate per entity must show each side holding base+its own
    append only — the oracle recomputes both states relationally, so
    the hash match certifies write isolation: post-clone writes never
    leak across the metadata-only copy in either direction."""
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_totalprice"
    )
    with _scratch_dir(sf_dir, "clone") as root:
        src = DeltaishTable.create(
            spark,
            os.path.join(root, "src"),
            orders.filter(F.col("o_orderkey") % 4 == 0),
        )
        clone = src.shallow_clone(os.path.join(root, "clone"))
        clone.append(orders.filter(F.col("o_orderkey") % 4 == 1))
        src.append(orders.filter(F.col("o_orderkey") % 4 == 2))
        rows = []
        for entity, tbl in (("source", src), ("clone", clone)):
            rows.extend(
                tbl.read()
                .agg(*_price_stats())
                .select(
                    F.lit(entity).alias("entity"), "n_rows", "total_price"
                )
                .collect()
            )
    return spark.createDataFrame(
        rows, "entity string, n_rows long, total_price double"
    )


@q(
    "deltalog_identity_generated",
    """WITH v0 AS (SELECT o_orderkey, o_orderdate, o_totalprice
                   FROM orders WHERE o_orderkey % 4 = 0),
       v1 AS (SELECT o_orderkey, o_orderdate, o_totalprice
              FROM orders WHERE o_orderkey % 4 = 1),
       allr AS (SELECT * FROM v0 UNION ALL SELECT * FROM v1),
       g AS (SELECT CAST(1000 AS BIGINT) AS min_rid,
                    CAST(1000 + 2 * (COUNT(*) - 1) AS BIGINT) AS max_rid,
                    CAST(COUNT(*) AS BIGINT) AS n_rid
             FROM allr)
       SELECT CAST(EXTRACT(year FROM o_orderdate) AS INT) AS o_year,
              CAST(COUNT(*) AS BIGINT) AS n_rows,
              CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(18,2))), 2)
                   AS DOUBLE) AS total_price,
              g.min_rid, g.max_rid, g.n_rid
       FROM allr CROSS JOIN g
       GROUP BY 1, g.min_rid, g.max_rid, g.n_rid""",
    shuffle=2,
)
def deltalog_identity_generated(spark, sf_dir):
    """GENERATED ALWAYS AS + IDENTITY columns end-to-end
    (delta/table.py create/_apply_generated/_apply_identity): create
    a table from orders keys ≡0 mod 4 declaring o_year GENERATED
    ALWAYS AS year(o_orderdate) and rid GENERATED ALWAYS AS IDENTITY
    (START 1000 STEP 2), append keys ≡1 (both columns engine-
    computed), and read back a per-year aggregate over the GENERATED
    column joined with the global identity stats. The oracle derives
    o_year relationally and predicts min/max/distinct rid from the
    row counts alone — valid because the assignment is dense per
    commit and the append continues from the committed high-water
    mark, the protocol contract (delta.identity.highWaterMark) that
    makes concurrent appends conflict instead of double-assigning."""
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderdate", "o_totalprice"
    )
    with _scratch_dir(sf_dir, "idgen") as table_dir:
        t = DeltaishTable.create(
            spark,
            table_dir,
            orders.filter(F.col("o_orderkey") % 4 == 0),
            generated_columns={"o_year": "year(o_orderdate)"},
            identity_columns={"rid": (1000, 2)},
        )
        t.append(orders.filter(F.col("o_orderkey") % 4 == 1))
        full = t.read()
        g = full.agg(
            F.min("rid").cast("long").alias("min_rid"),
            F.max("rid").cast("long").alias("max_rid"),
            F.countDistinct("rid").cast("long").alias("n_rid"),
        )
        rows = (
            full.groupBy(F.col("o_year").cast("int").alias("o_year"))
            .agg(*_price_stats())
            .crossJoin(F.broadcast(g))
            .collect()
        )
    return spark.createDataFrame(
        rows,
        "o_year int, n_rows long, total_price double, "
        "min_rid long, max_rid long, n_rid long",
    )


@q(
    "cdf_stream_consume",
    """WITH tgt AS (SELECT o_orderkey, o_totalprice FROM orders
                    WHERE o_orderkey % 3 = 0),
       src AS (SELECT o_orderkey, o_totalprice * 2 AS o_totalprice
               FROM orders WHERE o_orderkey % 5 = 0),
       upd AS (SELECT t.o_orderkey, t.o_totalprice AS old_p,
                      s.o_totalprice AS new_p
               FROM tgt t JOIN src s ON t.o_orderkey = s.o_orderkey),
       ins AS (SELECT s.o_orderkey, s.o_totalprice FROM src s
               WHERE s.o_orderkey NOT IN (SELECT o_orderkey FROM tgt)),
       u AS (
         SELECT 'insert' AS change_type,
                COUNT(*) AS n_rows,
                SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS tp
         FROM (SELECT o_orderkey, o_totalprice FROM tgt
               UNION ALL SELECT o_orderkey, o_totalprice FROM ins)
         UNION ALL
         SELECT 'update_preimage', COUNT(*),
                SUM(CAST(old_p AS DECIMAL(18,2))) FROM upd
         UNION ALL
         SELECT 'update_postimage', COUNT(*),
                SUM(CAST(new_p AS DECIMAL(18,2))) FROM upd)
       SELECT change_type, CAST(n_rows AS BIGINT) AS n_rows,
              CAST(ROUND(tp, 2) AS DOUBLE) AS total_price
       FROM u""",
    shuffle=2,
)
def cdf_stream_consume(spark, sf_dir):
    """The change feed consumed AS A STREAM (sources/cdf_stream.py —
    Delta's streaming readChangeFeed): build a CDF-enabled table (v0
    CREATE keys ≡0 mod 3, v1 enable, v2 MERGE doubling keys ≡0 mod
    5), then run a real micro-batched StreamingQuery over
    format("deltaish_cdf") from startingVersion 0 and aggregate every
    change row it delivers per _change_type. v0's files synthesize as
    inserts, the MERGE arrives from its cdc files as pre/post images
    plus source-only inserts; the oracle recomputes all of it
    relationally, so the hash match certifies the stream delivered
    exactly the row-level history — the incremental-consumer contract."""
    from ..sources import cdf_stream

    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_totalprice"
    )
    with _scratch_dir(sf_dir, "cdfstream") as root:
        t = DeltaishTable.create(
            spark,
            os.path.join(root, "t"),
            orders.filter(F.col("o_orderkey") % 3 == 0),
        )
        t.enable_change_data_feed()
        t.merge(
            orders.filter(F.col("o_orderkey") % 5 == 0).withColumn(
                "o_totalprice", F.col("o_totalprice") * 2
            ),
            ["o_orderkey"],
        )
        cdf_stream.register(spark)
        # r11 OPT (guide §1.2 / VERDICT r10 #10): the r10 form wrote
        # EVERY change row to a parquet sink and re-read the files to
        # aggregate — one write job (+ commit) and one scan that exist
        # only to move rows between two jobs of the same query. The
        # 3-group aggregate now runs INSIDE the StreamingQuery
        # (complete mode, memory sink): the CDF source still delivers
        # every change row through the micro-batch engine, the state
        # is 3 groups (memory sink holds 3 rows — scale-safe, unlike a
        # memory sink of the raw feed), and the parquet round-trip
        # drops out. Same aggregation expressions, same 3 output rows
        # (oracle-verified); pinned_shuffle keeps the tiny aggregate
        # from opening 32 state stores.
        tbl = f"cdf_consume_{uuid.uuid4().hex[:12]}"
        try:
            with registry.pinned_shuffle(spark):
                q_handle = (
                    spark.readStream.format("deltaish_cdf")
                    .option("path", t.path)
                    .load()
                    .groupBy(F.col("_change_type").alias("change_type"))
                    .agg(*_price_stats())
                    .writeStream.outputMode("complete")
                    .format("memory")
                    .queryName(tbl)
                    .option("checkpointLocation", os.path.join(root, "ck"))
                    .trigger(availableNow=True)
                    .start()
                )
                _await_drain(q_handle, "cdf_stream_consume")
            rows = spark.table(tbl).collect()
        finally:
            spark.catalog.dropTempView(tbl)
    return spark.createDataFrame(
        rows, "change_type string, n_rows long, total_price double"
    )


@q(
    "cdf_incremental_view_maintenance",
    """WITH tgt AS (SELECT o_orderkey, o_custkey, o_totalprice
                    FROM orders WHERE o_orderkey % 3 = 0),
       src AS (SELECT o_orderkey, o_custkey,
                      o_totalprice * 2 AS o_totalprice
               FROM orders WHERE o_orderkey % 5 = 0),
       final AS (SELECT * FROM tgt
                 WHERE o_orderkey NOT IN (SELECT o_orderkey FROM src)
                 UNION ALL SELECT * FROM src),
       agg AS (SELECT o_custkey % 10 AS cust_bucket,
                      COUNT(*) AS n_orders,
                      SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS tp
               FROM final GROUP BY 1)
       SELECT CAST(cust_bucket AS BIGINT) AS cust_bucket,
              CAST(n_orders AS BIGINT) AS n_orders,
              CAST(ROUND(tp, 2) AS DOUBLE) AS total_price
       FROM agg""",
    shuffle=2,
)
def cdf_incremental_view_maintenance(spark, sf_dir):
    """Incremental view maintenance from the change feed — the reason
    CDF exists: a downstream per-bucket aggregate is maintained by
    FOLDING each commit's row-level delta instead of rescanning the
    table. The materialized view starts from v0's snapshot aggregate;
    the MERGE's feed rows then update it with the classic IVM algebra
    (insert/update_postimage contribute +1/+value,
    delete/update_preimage contribute -1/-value), all in one
    signed-weight aggregation over read_change_feed — no UDFs, two
    shuffles total (feed grouping + the merge of two grouped sets).
    The oracle aggregates the FINAL relational state directly, so the
    hash match certifies delta-folding ≡ recompute — at 100 TB the
    view maintenance cost is proportional to the day's changes, not
    the table."""
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    with _scratch_dir(sf_dir, "ivm") as table_dir:
        t = DeltaishTable.create(
            spark, table_dir, orders.filter(F.col("o_orderkey") % 3 == 0)
        )
        v1 = t.enable_change_data_feed()
        v2 = t.merge(
            orders.filter(F.col("o_orderkey") % 5 == 0).withColumn(
                "o_totalprice", F.col("o_totalprice") * 2
            ),
            ["o_orderkey"],
        )
        bucket = (F.col("o_custkey") % 10).cast("long").alias("cust_bucket")
        base = (
            t.read(version=0)
            .groupBy(bucket)
            .agg(
                F.count(F.lit(1)).cast("long").alias("n_orders"),
                F.sum(F.col("o_totalprice").cast("decimal(18,2)")).alias(
                    "tp"
                ),
            )
        )
        w = F.when(
            F.col("_change_type").isin("insert", "update_postimage"), 1
        ).otherwise(-1)
        delta = (
            t.read_change_feed(v1, v2)
            .withColumn("__w", w)
            .groupBy(bucket)
            .agg(
                F.sum("__w").cast("long").alias("n_orders"),
                F.sum(
                    F.col("__w")
                    * F.col("o_totalprice").cast("decimal(18,2)")
                ).alias("tp"),
            )
        )
        rows = (
            base.unionByName(delta)
            .groupBy("cust_bucket")
            .agg(
                F.sum("n_orders").cast("long").alias("n_orders"),
                F.round(F.sum("tp"), 2).cast("double").alias("total_price"),
            )
            .filter(F.col("n_orders") > 0)
            .collect()
        )
    return spark.createDataFrame(
        rows, "cust_bucket long, n_orders long, total_price double"
    )


@q(
    "deltalog_mor_delete_audit",
    """WITH v0 AS (SELECT o_orderkey, o_totalprice FROM orders
                   WHERE o_orderkey % 2 = 0),
       v1 AS (SELECT * FROM v0 WHERE o_orderkey % 10 <> 0),
       u AS (
         SELECT 0 AS version, COUNT(*) AS n_rows,
                SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS tp FROM v0
         UNION ALL
         SELECT 1, COUNT(*),
                SUM(CAST(o_totalprice AS DECIMAL(18,2))) FROM v1)
       SELECT CAST(version AS INT) AS version,
              CAST(n_rows AS BIGINT) AS n_rows,
              CAST(ROUND(tp, 2) AS DOUBLE) AS total_price
       FROM u""",
    shuffle=2,
)
def deltalog_mor_delete_audit(spark, sf_dir):
    """Merge-on-read DELETE end-to-end (delta/table.py delete(mode=
    "merge_on_read") + delta/roaring.py): create a table of orders
    keys ≡0 mod 2, then delete keys ≡0 mod 10 by writing DELETION
    VECTORS — roaring bitmaps of dead row positions, zero data bytes
    rewritten (the protocol's deletionVectors reader feature; at
    100 TB this is how deleting 0.1% of a table costs kilobytes).
    The audit reads BOTH versions back through the committed log:
    v1's scan anti-joins the DV positions out, v0's time travel
    ignores DVs committed later. The oracle recomputes both states
    relationally, so the hash match certifies the bitmap round-trip
    (serialize → CRC-framed DV file → strict decode → scan filter)
    drops exactly the deleted rows — no resurrection, no overreach."""
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_totalprice"
    )
    with _scratch_dir(sf_dir, "mor") as table_dir:
        t = DeltaishTable.create(
            spark,
            table_dir,
            orders.filter(F.col("o_orderkey") % 2 == 0).repartitionByRange(
                4, "o_orderkey"
            ),
        )
        t.delete(F.col("o_orderkey") % 10 == 0, mode="merge_on_read")
        rows = []
        for v in (0, 1):
            rows.extend(
                t.read(version=v)
                .agg(*_price_stats())
                .select(
                    F.lit(v).cast("int").alias("version"),
                    "n_rows",
                    "total_price",
                )
                .collect()
            )
    return spark.createDataFrame(
        rows, "version int, n_rows long, total_price double"
    )


@q(
    "deltalog_update_audit",
    """WITH base AS (SELECT o_orderkey, o_orderdate, o_totalprice
                     FROM orders WHERE o_orderkey % 2 = 0),
       upd AS (SELECT o_orderkey,
                      CASE WHEN o_orderkey % 6 = 0
                           THEN CAST(o_orderdate + INTERVAL 400 DAY AS DATE)
                           ELSE o_orderdate END AS o_orderdate,
                      CASE WHEN o_orderkey % 6 = 0
                           THEN o_totalprice * 2
                           ELSE o_totalprice END AS o_totalprice
               FROM base)
       SELECT CAST(EXTRACT(year FROM o_orderdate) AS INT) AS o_year,
              CAST(COUNT(*) AS BIGINT) AS n_rows,
              CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(18,2))), 2)
                   AS DOUBLE) AS total_price
       FROM upd GROUP BY 1""",
    shuffle=2,
)
def deltalog_update_audit(spark, sf_dir):
    """Row-level UPDATE end-to-end (delta/table.py update): create a
    table of orders keys ≡0 mod 2 with o_year GENERATED ALWAYS AS
    year(o_orderdate), then UPDATE keys ≡0 mod 6 — shift the date
    +400 days and double the price in one file-pruned copy-on-write
    commit. The read-back aggregates by the GENERATED column, which
    the engine must have RECOMPUTED from the updated dates (Delta's
    generated-column contract); the oracle applies the same UPDATE
    relationally and groups by the recomputed year, so the hash match
    certifies both the row rewrite and the generation recompute."""
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderdate", "o_totalprice"
    )
    with _scratch_dir(sf_dir, "upd") as table_dir:
        t = DeltaishTable.create(
            spark,
            table_dir,
            orders.filter(F.col("o_orderkey") % 2 == 0).repartitionByRange(
                4, "o_orderkey"
            ),
            generated_columns={"o_year": "year(o_orderdate)"},
        )
        t.update(
            F.col("o_orderkey") % 6 == 0,
            {
                "o_orderdate": F.expr("date_add(o_orderdate, 400)"),
                "o_totalprice": F.col("o_totalprice") * 2,
            },
        )
        rows = (
            t.read()
            .groupBy(F.col("o_year").cast("int").alias("o_year"))
            .agg(*_price_stats())
            .collect()
        )
    return spark.createDataFrame(
        rows, "o_year int, n_rows long, total_price double"
    )


@q(
    "deltalog_skipping_audit",
    """WITH base AS (SELECT o_orderkey, o_totalprice FROM orders),
       hi AS (SELECT MAX(o_orderkey) - 400 AS cut FROM base),
       v1 AS (SELECT * FROM base WHERE NOT o_orderkey <= 400),
       v2 AS (SELECT o_orderkey,
                     CASE WHEN o_orderkey > (SELECT cut FROM hi)
                          THEN o_totalprice * 2
                          ELSE o_totalprice END AS o_totalprice
              FROM v1),
       u AS (
         SELECT 'after_delete' AS stage, COUNT(*) AS n_rows,
                SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS tp FROM v1
         UNION ALL
         SELECT 'after_update', COUNT(*),
                SUM(CAST(o_totalprice AS DECIMAL(18,2))) FROM v2)
       SELECT stage, CAST(n_rows AS BIGINT) AS n_rows,
              CAST(ROUND(tp, 2) AS DOUBLE) AS total_price,
              TRUE AS pruned_scan
       FROM u""",
    shuffle=2,
)
def deltalog_skipping_audit(spark, sf_dir):
    """Predicate data skipping on the row-level write paths
    (delta/table.py files_matching_predicate, r5): create a
    range-partitioned table over ALL orders, copy-on-write DELETE the
    low 400-key band, then merge-on-read UPDATE (halve the price of)
    the high 400-key band. Both writes must find their touched files
    from the LOG'S STATS, not a full-table scan — the audit asserts
    the candidate set was a strict subset of the live files
    (``pruned_scan``; the oracle pins it literally TRUE) and
    value-checks both table states relationally, so the hash match
    certifies pruning never dropped a file it needed (DELETE removed
    exactly the band; the DV-backed UPDATE doubled exactly the band)."""
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_totalprice"
    )
    with _scratch_dir(sf_dir, "skip") as table_dir:
        t = DeltaishTable.create(
            spark,
            table_dir,
            orders.repartitionByRange(8, "o_orderkey").sortWithinPartitions(
                "o_orderkey"
            ),
        )
        max_key = int(
            t.read().agg(F.max("o_orderkey")).collect()[0][0]
        )
        del_pred = "o_orderkey <= 400"
        upd_pred = f"o_orderkey > {max_key - 400}"
        snap0 = t._snapshot()
        pruned = len(t.files_matching_predicate(del_pred, snap=snap0)) < len(
            snap0.files
        )
        t.delete(del_pred)
        snap1 = t._snapshot()
        pruned = pruned and len(
            t.files_matching_predicate(upd_pred, snap=snap1)
        ) < len(snap1.files)
        rows = [("after_delete", *t.read().agg(*_price_stats()).collect()[0])]
        t.update(
            upd_pred,
            {"o_totalprice": F.col("o_totalprice") * 2},
            mode="merge_on_read",
        )
        rows.append(("after_update", *t.read().agg(*_price_stats()).collect()[0]))
    return spark.createDataFrame(
        [(*r, pruned) for r in rows],
        "stage string, n_rows long, total_price double, pruned_scan boolean",
    )


@q(
    "deltalog_replace_where_audit",
    """WITH base AS (SELECT o_orderkey, o_orderstatus, o_totalprice
                     FROM orders),
       region AS (SELECT * FROM base WHERE o_orderkey <= 400),
       repl AS (SELECT o_orderkey, 'R' AS o_orderstatus,
                       o_totalprice + 1000 AS o_totalprice
                FROM region WHERE o_orderkey % 2 = 0),
       final AS (SELECT * FROM base WHERE o_orderkey > 400
                 UNION ALL SELECT * FROM repl),
       u AS (
         SELECT 'final' AS kind, o_orderstatus AS label,
                COUNT(*) AS n,
                SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS tp
         FROM final GROUP BY 2
         UNION ALL
         SELECT 'cdf', 'delete', COUNT(*),
                SUM(CAST(o_totalprice AS DECIMAL(18,2))) FROM region
         UNION ALL
         SELECT 'cdf', 'insert', COUNT(*),
                SUM(CAST(o_totalprice AS DECIMAL(18,2))) FROM repl)
       SELECT kind, label, CAST(n AS BIGINT) AS n_rows,
              CAST(ROUND(tp, 2) AS DOUBLE) AS total_price
       FROM u""",
    shuffle=2,
)
def deltalog_replace_where_audit(spark, sf_dir):
    """INSERT OVERWRITE ... replaceWhere end-to-end (delta/table.py
    overwrite_where, r5): build a table over all orders, then replace
    EXACTLY the o_orderkey <= 400 region — its even keys come back
    with status 'R' and price +1000, its odd keys disappear — in one
    selective-overwrite commit (candidates from log-stats skipping;
    delta-spark's partition-reload pattern). The audit reads the final
    state grouped by status AND the commit's change feed (region rows
    as deletes, replacement rows as inserts); the oracle recomputes
    both relationally, so the hash match certifies the region boundary
    (no row outside o_orderkey<=400 was touched), the replacement
    contents, and the CDF attribution."""
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    with _scratch_dir(sf_dir, "rw") as table_dir:
        t = DeltaishTable.create(
            spark,
            table_dir,
            orders.repartitionByRange(8, "o_orderkey").sortWithinPartitions(
                "o_orderkey"
            ),
        )
        t.enable_change_data_feed()
        v0 = t.version
        repl = (
            t.read()
            .filter((F.col("o_orderkey") <= 400) & (F.col("o_orderkey") % 2 == 0))
            .select(
                "o_orderkey",
                F.lit("R").alias("o_orderstatus"),
                (F.col("o_totalprice") + 1000).alias("o_totalprice"),
            )
        )
        t.overwrite_where(repl, "o_orderkey <= 400")
        final = (
            t.read()
            .groupBy(F.col("o_orderstatus").alias("label"))
            .agg(*_price_stats())
            .select(F.lit("final").alias("kind"), "label", "n_rows", "total_price")
        )
        cdf = (
            t.read_change_feed(v0, t.version)
            .groupBy(F.col("_change_type").alias("label"))
            .agg(*_price_stats())
            .select(F.lit("cdf").alias("kind"), "label", "n_rows", "total_price")
        )
        rows = final.unionByName(cdf).collect()
    return spark.createDataFrame(
        rows, "kind string, label string, n_rows long, total_price double"
    )


@q(
    "deltalog_dynamic_overwrite_audit",
    """WITH base AS (SELECT o_orderkey, o_orderstatus, o_totalprice
                     FROM orders),
       repl AS (SELECT o_orderkey, o_orderstatus,
                       o_totalprice + 1 AS o_totalprice
                FROM base WHERE o_orderstatus = 'F'
                ORDER BY o_orderkey LIMIT 100),
       final AS (SELECT * FROM base WHERE o_orderstatus <> 'F'
                 UNION ALL SELECT * FROM repl)
       SELECT o_orderstatus,
              CAST(COUNT(*) AS BIGINT) AS n_rows,
              CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(18,2))), 2)
                   AS DOUBLE) AS total_price,
              TRUE AS untouched_intact
       FROM final GROUP BY 1""",
    shuffle=2,
)
def deltalog_dynamic_overwrite_audit(spark, sf_dir):
    """Dynamic partition overwrite end-to-end (delta/table.py
    overwrite_partitions, r5): build an o_orderstatus-partitioned
    table over all orders, then overwrite ONLY the 'F' partition with
    its 100 lowest-key rows (price +1) — Spark's
    partitionOverwriteMode=dynamic through the transaction log. The
    audit groups the final state by status AND asserts the other
    partitions' FILE SETS are byte-identical before/after
    (``untouched_intact``; the oracle pins it literally TRUE), so the
    hash match certifies the replaced-partition derivation touched
    exactly one partition."""
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    with _scratch_dir(sf_dir, "dyn") as table_dir:
        t = DeltaishTable.create(
            spark, table_dir, orders, partition_by=("o_orderstatus",)
        )
        before = {
            p
            for p, a in t._snapshot().files.items()
            if a["partitionValues"]["o_orderstatus"] != "F"
        }
        repl = (
            t.read()
            .filter(F.col("o_orderstatus") == "F")
            .orderBy("o_orderkey")
            .limit(100)
            .withColumn("o_totalprice", F.col("o_totalprice") + 1)
        )
        t.overwrite_partitions(repl)
        after = {
            p
            for p, a in t._snapshot().files.items()
            if a["partitionValues"]["o_orderstatus"] != "F"
        }
        intact = before == after
        rows = (
            t.read()
            .groupBy("o_orderstatus")
            .agg(*_price_stats())
            .withColumn("untouched_intact", F.lit(intact))
            .collect()
        )
    return spark.createDataFrame(
        rows,
        "o_orderstatus string, n_rows long, total_price double, "
        "untouched_intact boolean",
    )


@q(
    "deltalog_merge_matrix_audit",
    """WITH tgt AS (SELECT o_orderkey AS k, o_totalprice AS praw,
                           CAST(o_totalprice AS DECIMAL(18,2)) AS p
                    FROM orders WHERE o_orderkey % 3 = 0),
       src AS (SELECT o_orderkey AS k, o_totalprice * 2 AS praw,
                      CAST(o_totalprice * 2 AS DECIMAL(18,2)) AS p
               FROM orders WHERE o_orderkey % 4 = 0),
       m AS (SELECT t.k, t.praw AS tpraw, t.p AS tp, s.p AS sp
             FROM tgt t JOIN src s ON t.k = s.k),
       tonly AS (SELECT k, praw, p FROM tgt WHERE k % 4 <> 0),
       sonly AS (SELECT k, p FROM src WHERE k % 3 <> 0),
       cdf AS (
         SELECT 'delete' AS kind, tp AS p FROM m WHERE tpraw < 50000
         UNION ALL
         SELECT 'delete', p FROM tonly WHERE praw < 20000
         UNION ALL
         SELECT 'update_preimage', tp FROM m WHERE tpraw >= 50000
         UNION ALL
         SELECT 'update_postimage', sp FROM m WHERE tpraw >= 50000
         UNION ALL
         SELECT 'insert', p FROM sonly),
       fin AS (
         SELECT sp AS p FROM m WHERE tpraw >= 50000
         UNION ALL
         SELECT p FROM tonly WHERE praw >= 20000
         UNION ALL
         SELECT p FROM sonly)
       SELECT kind, CAST(COUNT(*) AS BIGINT) AS n_rows,
              CAST(ROUND(SUM(p), 2) AS DOUBLE) AS total_price
       FROM cdf GROUP BY kind
       UNION ALL
       SELECT 'final', CAST(COUNT(*) AS BIGINT),
              CAST(ROUND(SUM(p), 2) AS DOUBLE) FROM fin""",
    shuffle=2,
)
def deltalog_merge_matrix_audit(spark, sf_dir):
    """Full-matrix MERGE INTO end-to-end (delta/table.py merge_into):
    create a CDF-enabled table of orders keys ≡0 mod 3, then MERGE a
    source of keys ≡0 mod 4 at doubled price with one clause of every
    Delta class — whenMatched DELETE (t.price < 50k) then an
    unconditional whenMatched UPDATE, whenNotMatched INSERT *, and a
    whenNotMatchedBySource DELETE (t.price < 20k) that reaches rows
    the source never named. The audit reads BOTH artifacts of the one
    commit: the change feed grouped by _change_type (every clause
    must attribute its rows — update pre/postimages, deletes,
    inserts) and the final table state; the oracle recomputes the
    whole clause matrix relationally, so the hash match certifies
    first-match-wins ordering, bySource scope, and the converged
    pass-through of unnamed rows in one check. File selection only
    rewrites files owning a modified row (the merge() 100 TB story),
    which the final-state sum would expose if it dropped or
    duplicated a pass-through row. Reference parity: the reference's MERGE
    usage is the SCD upsert corner (Sourcecode/AutomateTable.py);
    this covers the full delta-spark clause surface idiomatically."""
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_totalprice"
    )
    with _scratch_dir(sf_dir, "mrg") as table_dir:
        t = DeltaishTable.create(
            spark,
            table_dir,
            orders.filter(F.col("o_orderkey") % 3 == 0).repartitionByRange(
                4, "o_orderkey"
            ),
        )
        t.enable_change_data_feed()
        source = orders.filter(F.col("o_orderkey") % 4 == 0).withColumn(
            "o_totalprice", F.col("o_totalprice") * 2
        )
        v = t.merge_into(
            source,
            ["o_orderkey"],
            when_matched=[
                {
                    "action": "delete",
                    "condition": "t.o_totalprice < 50000",
                },
                {
                    "action": "update",
                    "set": {"o_totalprice": F.col("s.o_totalprice")},
                },
            ],
            when_not_matched=[{"action": "insert_all"}],
            when_not_matched_by_source=[
                {"action": "delete", "condition": "t.o_totalprice < 20000"}
            ],
        )
        feed = t.read_change_feed(v - 1, v)  # (v_from, v_to] range
        parts = [
            (k, feed.filter(F.col("_change_type") == k))
            for k in ("delete", "update_preimage", "update_postimage", "insert")
        ] + [("final", t.read())]
        rows = [(k, *df.agg(*_price_stats()).collect()[0]) for k, df in parts]
    return spark.createDataFrame(
        rows, "kind string, n_rows long, total_price double"
    )


@q(
    "deltalog_column_mapping_audit",
    """WITH even AS (SELECT o_orderkey,
                            CAST(o_totalprice AS DECIMAL(18,2)) AS price,
                            CAST(NULL AS VARCHAR) AS o_orderstatus
                     FROM orders WHERE o_orderkey % 2 = 0),
       odd AS (SELECT o_orderkey,
                      CAST(o_totalprice * 3 AS DECIMAL(18,2)),
                      CAST(NULL AS VARCHAR)
               FROM orders WHERE o_orderkey % 2 = 1),
       readd AS (SELECT o_orderkey,
                        CAST(o_totalprice AS DECIMAL(18,2)), 'X'
                 FROM orders WHERE o_orderkey % 100 = 0),
       allr AS (SELECT * FROM even UNION ALL SELECT * FROM odd
                UNION ALL SELECT * FROM readd)
       SELECT CAST(o_orderkey % 5 AS INT) AS bucket,
              CAST(COUNT(*) AS BIGINT) AS n_rows,
              CAST(ROUND(SUM(price), 2) AS DOUBLE) AS total_price,
              CAST(COUNT(o_orderstatus) AS BIGINT) AS n_status
       FROM allr GROUP BY 1""",
    shuffle=2,
)
def deltalog_column_mapping_audit(spark, sf_dir):
    """Column-mapping DDL end-to-end (delta/table.py
    enable_column_mapping / rename_column / drop_column): create a
    table of even order keys, upgrade it to name-mode mapping, RENAME
    o_totalprice TO price, DROP o_orderstatus — both metadata-only
    commits (zero files rewritten; on a 100 TB table each is one log
    entry) — then append odd keys at tripled price under the NEW
    logical name and re-add o_orderstatus via schema evolution with
    value 'X' for keys ≡0 mod 100. The re-added column mints a fresh
    physical uuid, so the audit's n_status column certifies the
    protocol's safety property end-to-end: the dropped column's bytes
    (still present in the v0 files) must NOT resurface — only the
    re-added 'X' rows may count. price values flowing through the
    rename certify that the physical column identity survived both
    the rename and the physicalized append. The oracle rebuilds the
    final state relationally from the source table. Reference parity: the
    reference evolves its Delta tables through delta-spark
    (spark/delta_manager.py, AutomateTable.py); this is that
    feature's mapping-mode half, re-expressed on the from-spec log."""
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    with _scratch_dir(sf_dir, "cmap") as table_dir:
        t = DeltaishTable.create(
            spark,
            table_dir,
            orders.filter(F.col("o_orderkey") % 2 == 0).repartitionByRange(
                4, "o_orderkey"
            ),
        )
        t.enable_column_mapping()
        t.rename_column("o_totalprice", "price")
        t.drop_column("o_orderstatus")
        t.append(
            orders.filter(F.col("o_orderkey") % 2 == 1).select(
                "o_orderkey",
                (F.col("o_totalprice") * 3).alias("price"),
            )
        )
        t.append(
            orders.filter(F.col("o_orderkey") % 100 == 0).select(
                "o_orderkey",
                F.col("o_totalprice").alias("price"),
                F.lit("X").alias("o_orderstatus"),
            ),
            merge_schema=True,
        )
        rows = (
            t.read()
            .groupBy((F.col("o_orderkey") % 5).cast("int").alias("bucket"))
            .agg(
                *_price_stats("price"),
                F.count(F.col("o_orderstatus")).cast("long").alias("n_status"),
            )
            .collect()
        )
    return spark.createDataFrame(
        rows, "bucket int, n_rows long, total_price double, n_status long"
    )


@q(
    "deltalog_row_tracking_audit",
    """WITH base AS (SELECT o_orderkey, o_totalprice FROM orders
                     WHERE o_orderkey % 2 = 0),
       extra AS (SELECT o_orderkey, o_totalprice FROM orders
                 WHERE o_orderkey % 2 = 1),
       final AS (
         SELECT o_orderkey,
                CASE WHEN o_orderkey % 6 = 0 THEN o_totalprice * 2
                     ELSE o_totalprice END AS price,
                CASE WHEN o_orderkey % 6 = 0 THEN 2 ELSE 1 END AS rcv
         FROM base WHERE o_orderkey % 10 <> 0
         UNION ALL
         SELECT o_orderkey, o_totalprice, 3 FROM extra
         WHERE o_orderkey % 10 <> 0)
       SELECT CAST(rcv AS BIGINT) AS row_commit_version,
              CAST(COUNT(*) AS BIGINT) AS n_rows,
              CAST(COUNT(*) AS BIGINT) AS n_distinct_ids,
              CAST(ROUND(SUM(CAST(price AS DECIMAL(18,2))), 2)
                   AS DOUBLE) AS total_price
       FROM final GROUP BY 1""",
    shuffle=2,
)
def deltalog_row_tracking_audit(spark, sf_dir):
    """Row tracking end-to-end (delta/table.py enable_row_tracking /
    read_with_row_ids): create a table of even order keys, enable row
    tracking (backfill, v1), UPDATE keys ≡0 mod 6 at doubled price
    (v2), append the odd keys (v3), DELETE keys ≡0 mod 10 (v4), then
    OPTIMIZE (v5 — a full rewrite that must move nothing). The audit
    groups the final snapshot BY ``_row_commit_version``: backfilled
    untouched rows must still say v1, only the genuinely updated
    rows v2, appended rows v3 — i.e. the delete and the compaction
    bumped nobody — and ``n_distinct_ids`` equals the row count, the
    uniqueness half of the contract. Id VALUES are
    partition-layout-dependent, so the audit pins the
    layout-independent invariants (version attribution + uniqueness
    + survivor payloads); the oracle rebuilds them relationally.
    Scale story: ids allocate per-commit from the domain HWM (no
    global sort), preservation is per-file materialized columns —
    both O(rows rewritten), never O(table)."""
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_totalprice"
    )
    with _scratch_dir(sf_dir, "rowtrack") as table_dir:
        t = DeltaishTable.create(
            spark,
            table_dir,
            orders.filter(F.col("o_orderkey") % 2 == 0).repartitionByRange(
                4, "o_orderkey"
            ),
        )
        v_en = t.enable_row_tracking()
        v_upd = t.update(
            F.col("o_orderkey") % 6 == 0,
            {"o_totalprice": F.col("o_totalprice") * 2},
        )
        v_app = t.append(
            orders.filter(F.col("o_orderkey") % 2 == 1)
        )
        t.delete(F.col("o_orderkey") % 10 == 0)
        t.optimize(target_bytes=1 << 30)
        vmap = {v_en: 1, v_upd: 2, v_app: 3}
        mapping = F.create_map(
            *[F.lit(x) for kv in vmap.items() for x in kv]
        )
        n_rows, total_price = _price_stats()
        rows = (
            t.read_with_row_ids()
            .groupBy(
                mapping[F.col("_row_commit_version")]
                .cast("long")
                .alias("row_commit_version")
            )
            .agg(
                n_rows,
                F.count_distinct("_row_id").cast("long").alias("n_distinct_ids"),
                total_price,
            )
            .collect()
        )
    return spark.createDataFrame(
        rows,
        "row_commit_version long, n_rows long, n_distinct_ids long, "
        "total_price double",
    )


@q(
    "deltalog_time_travel_audit",
    """WITH base AS (SELECT o_orderkey, o_totalprice FROM orders),
       app AS (SELECT o_orderkey, o_totalprice + 0.5 AS o_totalprice
               FROM base WHERE o_orderkey <= 400),
       v1 AS (SELECT * FROM base UNION ALL SELECT * FROM app),
       v2 AS (SELECT * FROM v1 WHERE NOT (o_orderkey <= 200)),
       v3 AS (SELECT o_orderkey,
                     CASE WHEN o_orderkey % 100 = 0
                          THEN o_totalprice + 7 ELSE o_totalprice END
                       AS o_totalprice
              FROM v2),
       u AS (
         SELECT 'v0' AS stage, COUNT(*) AS n,
                SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS tp FROM base
         UNION ALL SELECT 'v1', COUNT(*),
                SUM(CAST(o_totalprice AS DECIMAL(18,2))) FROM v1
         UNION ALL SELECT 'v2', COUNT(*),
                SUM(CAST(o_totalprice AS DECIMAL(18,2))) FROM v2
         UNION ALL SELECT 'v3', COUNT(*),
                SUM(CAST(o_totalprice AS DECIMAL(18,2))) FROM v3)
       SELECT stage, CAST(n AS BIGINT) AS n_rows,
              CAST(ROUND(tp, 2) AS DOUBLE) AS total_price,
              TRUE AS ts_travel_ok
       FROM u""",
    shuffle=2,
)
def deltalog_time_travel_audit(spark, sf_dir):
    """Time travel by VERSION and by TIMESTAMP (delta/table.py read /
    read_as_of_timestamp): four commits — create, append (low keys,
    price +0.5), copy-on-write DELETE (keys <= 200), UPDATE (+7 on
    every 100th key) — then every historical version is re-read and
    value-checked against its relationally-recomputed state, so the
    hash certifies snapshot isolation (no commit leaked into an
    earlier version's read). The timestamp axis re-reads v1 by its
    commitInfo timestamp and must see exactly the v1 aggregate
    (``ts_travel_ok``; oracle pins TRUE). Version reads are pure log
    replay — no data is copied to serve history."""
    import time as _time

    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_totalprice"
    )
    with _scratch_dir(sf_dir, "tt") as table_dir:
        t = DeltaishTable.create(
            spark,
            table_dir,
            orders.repartitionByRange(8, "o_orderkey").sortWithinPartitions(
                "o_orderkey"
            ),
        )
        t.append(
            t.read()
            .filter(F.col("o_orderkey") <= 400)
            .withColumn("o_totalprice", F.col("o_totalprice") + 0.5)
        )
        v1 = t.version
        ts_v1 = [h for h in t.history() if h["version"] == v1][0][
            "timestamp"
        ]
        _time.sleep(0.02)  # commitInfo has millisecond grain
        t.delete("o_orderkey <= 200")
        t.update(
            "o_orderkey % 100 = 0",
            {"o_totalprice": F.col("o_totalprice") + 7},
        )
        reads = [
            (stage, t.read(v))
            for v, stage in ((0, "v0"), (v1, "v1"), (v1 + 1, "v2"), (v1 + 2, "v3"))
        ] + [("v1", t.read_as_of_timestamp(ts_v1))]
        rows = [(st, *df.agg(*_price_stats()).collect()[0]) for st, df in reads]
        by_ts = rows.pop()
        ok = by_ts[1:] == rows[1][1:]
    return spark.createDataFrame(
        [(*r, ok) for r in rows],
        "stage string, n_rows long, total_price double, ts_travel_ok boolean",
    )


@q(
    "deltalog_restore_audit",
    """WITH base AS (SELECT o_orderkey, o_totalprice FROM orders),
       app AS (SELECT o_orderkey, o_totalprice + 0.5 AS o_totalprice
               FROM base WHERE o_orderkey <= 400),
       v1 AS (SELECT * FROM base UNION ALL SELECT * FROM app),
       v2 AS (SELECT * FROM v1 WHERE NOT (o_orderkey <= 200)),
       u AS (
         SELECT 'pre_restore' AS stage, COUNT(*) AS n,
                SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS tp FROM v2
         UNION ALL SELECT 'restored', COUNT(*),
                SUM(CAST(o_totalprice AS DECIMAL(18,2))) FROM v1
         UNION ALL SELECT 'time_travel_v2', COUNT(*),
                SUM(CAST(o_totalprice AS DECIMAL(18,2))) FROM v2)
       SELECT stage, CAST(n AS BIGINT) AS n_rows,
              CAST(ROUND(tp, 2) AS DOUBLE) AS total_price,
              TRUE AS history_preserved
       FROM u""",
    shuffle=2,
)
def deltalog_restore_audit(spark, sf_dir):
    """RESTORE TABLE ... TO VERSION AS OF (delta/table.py restore):
    create -> append -> DELETE, then restore to the pre-delete
    version. The restored state must equal v1 EXACTLY (the oracle
    recomputes it relationally), restore must be a NEW commit — the
    deleted-over v2 stays time-travelable afterwards (re-read and
    value-checked) and the version count grows to four
    (``history_preserved``; oracle pins TRUE) — undo without history
    rewrite, exactly Delta's contract. File-level diff only: restore
    re-adds v1's file pointers, no data is rewritten."""
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_totalprice"
    )
    with _scratch_dir(sf_dir, "rst") as table_dir:
        t = DeltaishTable.create(
            spark,
            table_dir,
            orders.repartitionByRange(8, "o_orderkey").sortWithinPartitions(
                "o_orderkey"
            ),
        )
        t.append(
            t.read()
            .filter(F.col("o_orderkey") <= 400)
            .withColumn("o_totalprice", F.col("o_totalprice") + 0.5)
        )
        v1 = t.version
        t.delete("o_orderkey <= 200")
        v2 = t.version
        rows = [("pre_restore", *t.read().agg(*_price_stats()).collect()[0])]
        t.restore(v1)
        rows.append(("restored", *t.read().agg(*_price_stats()).collect()[0]))
        rows.append(
            ("time_travel_v2", *t.read(v2).agg(*_price_stats()).collect()[0])
        )
        preserved = t.version == v2 + 1 and len(t.history()) == v2 + 2
    return spark.createDataFrame(
        [(*r, preserved) for r in rows],
        "stage string, n_rows long, total_price double, "
        "history_preserved boolean",
    )


@q(
    "deltalog_checkpoint_audit",
    """WITH base AS (SELECT o_orderkey, o_totalprice FROM orders
                     WHERE o_orderkey <= 2000),
       slices AS (SELECT o_orderkey, o_totalprice + 1 AS o_totalprice
                  FROM base WHERE o_orderkey > 0 AND o_orderkey <= 300),
       late AS (SELECT o_orderkey, o_totalprice + 2 AS o_totalprice
                FROM base WHERE o_orderkey <= 50
                UNION ALL
                SELECT o_orderkey, o_totalprice + 2 AS o_totalprice
                FROM base WHERE o_orderkey <= 50),
       cp AS (SELECT * FROM base UNION ALL SELECT * FROM slices),
       fin AS (SELECT * FROM cp UNION ALL SELECT * FROM late),
       u AS (
         SELECT 'at_checkpoint' AS stage, COUNT(*) AS n,
                SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS tp FROM cp
         UNION ALL SELECT 'final', COUNT(*),
                SUM(CAST(o_totalprice AS DECIMAL(18,2))) FROM fin)
       SELECT stage, CAST(n AS BIGINT) AS n_rows,
              CAST(ROUND(tp, 2) AS DOUBLE) AS total_price,
              TRUE AS resumed_from_checkpoint
       FROM u""",
    shuffle=2,
)
def deltalog_checkpoint_audit(spark, sf_dir):
    """Parquet log checkpoints (delta/log.py write_checkpoint /
    read_checkpoint / _last_checkpoint): create + 3 appends, force a
    checkpoint, then 2 more appends. The snapshot AT the checkpoint
    version and the final snapshot are both value-checked against
    relational recomputation, and ``resumed_from_checkpoint`` pins
    that (a) ``_last_checkpoint`` points at the forced version, (b)
    the checkpoint file alone reproduces the live-file set of a full
    replay — the property that makes a 1e5-commit log load O(tail),
    not O(history), on a 100 TB table's driver."""
    orders = (
        load_table(spark, sf_dir, "orders")
        .select("o_orderkey", "o_totalprice")
        .filter(F.col("o_orderkey") <= 2000)
    )
    with _scratch_dir(sf_dir, "cp") as table_dir:
        t = DeltaishTable.create(spark, table_dir, orders)
        for cut in (100, 200, 300):
            t.append(
                orders.filter(
                    (F.col("o_orderkey") > cut - 100)
                    & (F.col("o_orderkey") <= cut)
                ).withColumn("o_totalprice", F.col("o_totalprice") + 1)
            )
        cp_version = dlog.write_checkpoint(table_dir)
        for _ in range(2):
            t.append(
                orders.filter(F.col("o_orderkey") <= 50).withColumn(
                    "o_totalprice", F.col("o_totalprice") + 2
                )
            )
        rows = [
            ("at_checkpoint", *t.read(cp_version).agg(*_price_stats()).collect()[0]),
            ("final", *t.read().agg(*_price_stats()).collect()[0]),
        ]
        cp_snap = dlog.read_checkpoint(table_dir, cp_version)
        full_snap = t._snapshot(cp_version)
        resumed = (
            dlog.last_checkpoint_version(table_dir) == cp_version
            and set(cp_snap.files) == set(full_snap.files)
        )
    return spark.createDataFrame(
        [(*r, resumed) for r in rows],
        "stage string, n_rows long, total_price double, "
        "resumed_from_checkpoint boolean",
    )


@q(
    "deltalog_vacuum_audit",
    """WITH base AS (SELECT o_orderkey, o_totalprice FROM orders),
       kept AS (SELECT o_orderkey, o_totalprice + 3 AS o_totalprice
                FROM base WHERE o_orderkey > 200),
       u AS (
         SELECT 'before_vacuum' AS stage, COUNT(*) AS n,
                SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS tp FROM kept
         UNION ALL SELECT 'after_vacuum', COUNT(*),
                SUM(CAST(o_totalprice AS DECIMAL(18,2))) FROM kept)
       SELECT stage, CAST(n AS BIGINT) AS n_rows,
              CAST(ROUND(tp, 2) AS DOUBLE) AS total_price,
              CAST(8 AS BIGINT) AS n_files_vacuumed,
              TRUE AS dry_run_matched,
              TRUE AS old_version_unreadable
       FROM u""",
    shuffle=2,
)
def deltalog_vacuum_audit(spark, sf_dir):
    """VACUUM end-to-end (delta/table.py vacuum): create an 8-file
    table, overwrite it (tombstoning all 8), then (a) DRY RUN lists
    exactly the 8 tombstoned files without deleting anything, (b) the
    real vacuum (retention 0, explicit retentionDurationCheck
    override) deletes exactly that list, (c) the live state reads
    identically before and after (value-checked relationally), and
    (d) time travel to the pre-overwrite version now fails — Delta's
    documented trade-off, pinned as ``old_version_unreadable``. The
    oracle pins the file count and both flags literally, so the hash
    certifies vacuum touched exactly the tombstone set."""
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_totalprice"
    )
    with _scratch_dir(sf_dir, "vac") as table_dir:
        t = DeltaishTable.create(
            spark,
            table_dir,
            orders.repartitionByRange(8, "o_orderkey").sortWithinPartitions(
                "o_orderkey"
            ),
        )
        t.overwrite(
            orders.filter(F.col("o_orderkey") > 200).withColumn(
                "o_totalprice", F.col("o_totalprice") + 3
            )
        )
        rows = [("before_vacuum", *t.read().agg(*_price_stats()).collect()[0])]
        dry = sorted(
            t.vacuum(
                retention_hours=0.0, enforce_retention=False, dry_run=True
            )
        )
        survived_dry = all(
            os.path.exists(os.path.join(table_dir, p)) for p in dry
        )
        real = sorted(
            t.vacuum(retention_hours=0.0, enforce_retention=False)
        )
        gone = not any(
            os.path.exists(os.path.join(table_dir, p)) for p in real
        )
        rows.append(("after_vacuum", *t.read().agg(*_price_stats()).collect()[0]))
        unreadable = _raises(Exception, lambda: t.read(0).count())
        n_vac = len(real)
        matched = dry == real and survived_dry and gone
    return spark.createDataFrame(
        [(*r, n_vac, matched, unreadable) for r in rows],
        "stage string, n_rows long, total_price double, "
        "n_files_vacuumed long, dry_run_matched boolean, "
        "old_version_unreadable boolean",
    )


@q(
    "deltalog_schema_evolution_audit",
    """WITH base AS (SELECT o_orderkey, o_totalprice FROM orders),
       evo AS (SELECT o_orderkey, o_totalprice + 0.5 AS o_totalprice,
                      o_orderstatus
               FROM orders WHERE o_orderkey <= 400),
       fin AS (SELECT o_orderkey, o_totalprice,
                      CAST(NULL AS VARCHAR) AS o_orderstatus FROM base
               UNION ALL SELECT * FROM evo)
       SELECT COALESCE(o_orderstatus, '(pre-evolution)') AS status,
              CAST(COUNT(*) AS BIGINT) AS n_rows,
              CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(18,2))), 2)
                   AS DOUBLE) AS total_price,
              TRUE AS strict_append_refused
       FROM fin GROUP BY 1""",
    shuffle=2,
)
def deltalog_schema_evolution_audit(spark, sf_dir):
    """Schema evolution through the transaction log (delta/table.py
    _enforce_or_evolve): a widened frame (new o_orderstatus column)
    is first REFUSED by the default strict append — Delta's schema
    enforcement, pinned as ``strict_append_refused`` — then lands
    via merge_schema=True, committing evolved metaData in the same
    commit as the adds. Pre-evolution files are re-read under the
    evolved schema with the new column as NULL (no rewrite — the
    whole point: evolving a 100 TB table is one metadata action).
    Final state grouped by the evolved column is recomputed
    relationally by the oracle."""
    orders = load_table(spark, sf_dir, "orders")
    base = orders.select("o_orderkey", "o_totalprice")
    evo = orders.filter(F.col("o_orderkey") <= 400).select(
        "o_orderkey",
        (F.col("o_totalprice") + 0.5).alias("o_totalprice"),
        "o_orderstatus",
    )
    with _scratch_dir(sf_dir, "evo") as table_dir:
        t = DeltaishTable.create(spark, table_dir, base)
        refused = _raises(Exception, t.append, evo)
        t.append(evo, merge_schema=True)
        rows = (
            t.read()
            .groupBy(
                F.coalesce(F.col("o_orderstatus"), F.lit("(pre-evolution)"))
                .alias("status")
            )
            .agg(*_price_stats())
            .collect()
        )
    return spark.createDataFrame(
        [(*r, refused) for r in rows],
        "status string, n_rows long, total_price double, "
        "strict_append_refused boolean",
    )


@q(
    "deltalog_check_constraint_audit",
    """WITH base AS (SELECT o_orderkey, o_totalprice FROM orders
                     WHERE o_totalprice > 900),
       good AS (SELECT o_orderkey + 1000000 AS o_orderkey,
                       o_totalprice + 0.25 AS o_totalprice
                FROM base WHERE o_orderkey <= 400),
       fin AS (SELECT * FROM base UNION ALL SELECT * FROM good)
       SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
              CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(18,2))), 2)
                   AS DOUBLE) AS total_price,
              TRUE AS violating_write_refused,
              TRUE AS violating_constraint_refused
       FROM fin""",
    shuffle=2,
)
def deltalog_check_constraint_audit(spark, sf_dir):
    """CHECK constraints through the log (delta/table.py
    add_check_constraint / _enforce_checks): constrain
    o_totalprice > 900 on a conforming table, then (a) an append
    carrying a violating row REFUSES atomically — nothing of the
    batch lands — and (b) adding a second constraint the EXISTING
    data already violates also refuses (Delta validates history
    before accepting a constraint). A conforming append lands
    normally. Both refusals are pinned as oracle-TRUE flags; the
    final state is recomputed relationally, certifying the refused
    batch left no partial rows."""
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_totalprice"
    )
    base = orders.filter(F.col("o_totalprice") > 900)
    with _scratch_dir(sf_dir, "chk") as table_dir:
        t = DeltaishTable.create(spark, table_dir, base)
        t.add_check_constraint("price_floor", "o_totalprice > 900")
        bad = spark.createDataFrame(
            [(999_999_999, 1.0)], "o_orderkey long, o_totalprice double"
        )
        write_refused = _raises(Exception, t.append, bad)
        constraint_refused = _raises(
            Exception, t.add_check_constraint, "impossible", "o_totalprice > 1e12"
        )
        t.append(
            base.filter(F.col("o_orderkey") <= 400).select(
                (F.col("o_orderkey") + 1_000_000).alias("o_orderkey"),
                (F.col("o_totalprice") + 0.25).alias("o_totalprice"),
            )
        )
        row = t.read().agg(*_price_stats()).collect()[0]
    return spark.createDataFrame(
        [(*row, write_refused, constraint_refused)],
        "n_rows long, total_price double, violating_write_refused boolean, "
        "violating_constraint_refused boolean",
    )


@q(
    "deltalog_zorder_audit",
    """WITH base AS (SELECT o_orderkey, o_custkey, o_totalprice
                     FROM orders)
       SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
              CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(18,2))), 2)
                   AS DOUBLE) AS total_price,
              TRUE AS state_invariant,
              TRUE AS both_dims_selective
       FROM base""",
    shuffle=2,
)
def deltalog_zorder_audit(spark, sf_dir):
    """Z-ORDER end-to-end (delta/table.py zorder_by): a table laid
    out by o_orderkey ranges — where an o_custkey band predicate
    matches EVERY file — is re-clustered on (o_custkey, o_orderkey)
    via the Morton-curve rewrite. The audit pins (a) the table state
    is byte-identical before/after (dataChange=false compaction
    contract; oracle recomputes the aggregate relationally) and (b)
    AFTER z-ordering, log-stats skipping prunes files for BOTH a
    custkey band and an orderkey band (``both_dims_selective``) —
    the multi-dimension selectivity that a single-column sort cannot
    give and the reason Z-ORDER exists for 100 TB range scans."""
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    with _scratch_dir(sf_dir, "zo") as table_dir:
        t = DeltaishTable.create(
            spark,
            table_dir,
            orders.repartitionByRange(8, "o_orderkey").sortWithinPartitions(
                "o_orderkey"
            ),
        )
        snap0 = t._snapshot()
        ck = t.read().agg(F.max("o_custkey"), F.max("o_orderkey")).collect()[0]
        ck_band = f"o_custkey <= {int(ck[0]) // 10}"
        ok_band = f"o_orderkey <= {int(ck[1]) // 10}"
        before_ck = len(t.files_matching_predicate(ck_band, snap=snap0))
        t.zorder_by(["o_custkey", "o_orderkey"], n_files=8)
        snap1 = t._snapshot()
        after_ck = len(t.files_matching_predicate(ck_band, snap=snap1))
        after_ok = len(t.files_matching_predicate(ok_band, snap=snap1))
        selective = (
            before_ck == len(snap0.files)  # orderkey layout: ck matches all
            and after_ck < len(snap1.files)
            and after_ok < len(snap1.files)
        )
        row = t.read().agg(*_price_stats()).collect()[0]
        invariant = row["n_rows"] == snap0_rows(snap0)
    return spark.createDataFrame(
        [(*row, invariant, selective)],
        "n_rows long, total_price double, state_invariant boolean, "
        "both_dims_selective boolean",
    )


def snap0_rows(snap) -> int:
    """Total numRecords of a snapshot's live files (log stats only)."""
    import json as _json

    total = 0
    for a in snap.files.values():
        s = a.get("stats")
        if isinstance(s, str):
            s = _json.loads(s)
        total += int((s or {}).get("numRecords") or 0)
    return total


@q(
    "deltalog_log_cleanup_audit",
    """WITH base AS (SELECT o_orderkey, o_totalprice FROM orders
                     WHERE o_orderkey <= 2000),
       s1 AS (SELECT o_orderkey, o_totalprice + 1 AS o_totalprice
              FROM base WHERE o_orderkey <= 100),
       s2 AS (SELECT o_orderkey, o_totalprice + 2 AS o_totalprice
              FROM base WHERE o_orderkey <= 100),
       s3 AS (SELECT o_orderkey, o_totalprice + 3 AS o_totalprice
              FROM base WHERE o_orderkey <= 100),
       post AS (SELECT o_orderkey, o_totalprice + 4 AS o_totalprice
                FROM base WHERE o_orderkey <= 100),
       fin AS (SELECT * FROM base UNION ALL SELECT * FROM s1
               UNION ALL SELECT * FROM s2 UNION ALL SELECT * FROM s3
               UNION ALL SELECT * FROM post)
       SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
              CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(18,2))), 2)
                   AS DOUBLE) AS total_price,
              CAST(3 AS BIGINT) AS n_log_files_removed,
              TRUE AS surviving_log_contiguous,
              TRUE AS cleaned_history_raises
       FROM fin""",
    shuffle=2,
)
def deltalog_log_cleanup_audit(spark, sf_dir):
    """Log metadata cleanup end-to-end (delta/log.py
    cleanup_metadata, the logRetentionDuration maintenance op):
    create + 3 appends, checkpoint at the head, one post-checkpoint
    append, then expire the pre-checkpoint commits. The audit pins
    (a) exactly the 3 below-checkpoint JSONs go (count oracle-pinned),
    (b) the surviving log is the contiguous [checkpoint..head] range,
    (c) the LIVE state is value-identical after cleanup (relational
    recompute — the checkpoint alone must carry the state), and (d)
    time travel into the cleaned range raises the specific
    metadata-cleanup error rather than replaying a truncated log.
    This is the _delta_log-side VACUUM: a 1e5-commit streaming
    table's log stays O(checkpoint interval + retention)."""
    orders = (
        load_table(spark, sf_dir, "orders")
        .select("o_orderkey", "o_totalprice")
        .filter(F.col("o_orderkey") <= 2000)
    )
    slice_df = orders.filter(F.col("o_orderkey") <= 100)
    with _scratch_dir(sf_dir, "lc") as table_dir:
        t = DeltaishTable.create(spark, table_dir, orders)
        for bump in (1, 2, 3):
            t.append(
                slice_df.withColumn(
                    "o_totalprice", F.col("o_totalprice") + bump
                )
            )
        cp = dlog.write_checkpoint(table_dir)
        t.append(
            slice_df.withColumn("o_totalprice", F.col("o_totalprice") + 4)
        )
        # count the removed COMMIT JSONs (the pinned contract: exactly
        # the 3 below-checkpoint commits); since r7 each deleted JSON
        # also takes its shadow .crc VERSION_CHECKSUM with it, which
        # the .json filter keeps out of the pinned count
        removed = [
            f
            for f in dlog.cleanup_metadata(table_dir, retention_hours=0.0)
            if f.endswith(".json")
        ]
        contiguous = dlog.list_versions(table_dir) == [cp, cp + 1]
        raises = _raises(ValueError, lambda: t.read(cp - 1).count())
        row = t.read().agg(*_price_stats()).collect()[0]
    return spark.createDataFrame(
        [(*row, len(removed), contiguous, raises)],
        "n_rows long, total_price double, n_log_files_removed long, "
        "surviving_log_contiguous boolean, cleaned_history_raises boolean",
    )


@q(
    "deltalog_merge_evolution_audit",
    """WITH base AS (SELECT o_orderkey, o_totalprice FROM orders),
       src AS (SELECT o_orderkey,
                      o_totalprice + 10 AS o_totalprice,
                      CASE WHEN o_orderkey % 2 = 0 THEN 'even'
                           ELSE 'odd' END AS parity
               FROM base WHERE o_orderkey <= 400
               UNION ALL
               SELECT o_orderkey + 1000000, 5.0, 'new'
               FROM base WHERE o_orderkey <= 50),
       matched AS (SELECT b.o_orderkey, s.o_totalprice, s.parity
                   FROM base b JOIN src s ON b.o_orderkey = s.o_orderkey),
       untouched AS (SELECT o_orderkey, o_totalprice,
                            CAST(NULL AS VARCHAR) AS parity
                     FROM base
                     WHERE o_orderkey NOT IN
                           (SELECT o_orderkey FROM src)),
       inserted AS (SELECT s.o_orderkey, s.o_totalprice, s.parity
                    FROM src s
                    WHERE s.o_orderkey NOT IN
                          (SELECT o_orderkey FROM base)),
       fin AS (SELECT * FROM matched UNION ALL SELECT * FROM untouched
               UNION ALL SELECT * FROM inserted)
       SELECT COALESCE(parity, '(pre-merge)') AS parity,
              CAST(COUNT(*) AS BIGINT) AS n_rows,
              CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(18,2))), 2)
                   AS DOUBLE) AS total_price
       FROM fin GROUP BY 1""",
    shuffle=2,
)
def deltalog_merge_evolution_audit(spark, sf_dir):
    """MERGE ... WITH SCHEMA EVOLUTION end-to-end (delta/table.py
    merge_into(schema_evolution=True)): the source carries a column
    the target lacks (`parity`); one merge commit updates the matched
    band (price +10, parity set), inserts brand-new keys, AND evolves
    the schema — untouched pre-merge rows read the new column as
    NULL. The oracle recomputes the matched/untouched/inserted
    partition of the final state relationally, so the hash certifies
    both the clause routing and that evolution rewrote ONLY the files
    owning modified rows (pre-merge files serve NULLs through the
    evolved schema, no rewrite)."""
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_totalprice"
    )
    src = (
        orders.filter(F.col("o_orderkey") <= 400)
        .select(
            "o_orderkey",
            (F.col("o_totalprice") + 10).alias("o_totalprice"),
            F.when(F.col("o_orderkey") % 2 == 0, "even")
            .otherwise("odd")
            .alias("parity"),
        )
        .unionByName(
            orders.filter(F.col("o_orderkey") <= 50).select(
                (F.col("o_orderkey") + 1_000_000).alias("o_orderkey"),
                F.lit(5.0).alias("o_totalprice"),
                F.lit("new").alias("parity"),
            )
        )
    )
    with _scratch_dir(sf_dir, "me") as table_dir:
        t = DeltaishTable.create(
            spark,
            table_dir,
            orders.repartitionByRange(8, "o_orderkey").sortWithinPartitions(
                "o_orderkey"
            ),
        )
        t.merge_into(
            src,
            ["o_orderkey"],
            when_matched=[{"action": "update_all"}],
            when_not_matched=[{"action": "insert_all"}],
            schema_evolution=True,
        )
        rows = (
            t.read()
            .groupBy(
                F.coalesce(F.col("parity"), F.lit("(pre-merge)")).alias(
                    "parity"
                )
            )
            .agg(*_price_stats())
            .collect()
        )
    return spark.createDataFrame(
        rows, "parity string, n_rows long, total_price double"
    )


@q(
    "deltalog_column_defaults_audit",
    """WITH base AS (SELECT o_orderkey, o_totalprice,
                            CAST(NULL AS VARCHAR) AS status
                     FROM orders),
       defaulted AS (SELECT o_orderkey, o_totalprice + 1 AS o_totalprice,
                            'pending' AS status
                     FROM orders WHERE o_orderkey <= 300),
       explicit AS (SELECT o_orderkey, o_totalprice + 2 AS o_totalprice,
                           CAST(NULL AS VARCHAR) AS status
                    FROM orders WHERE o_orderkey <= 100),
       fin AS (SELECT * FROM base UNION ALL SELECT * FROM defaulted
               UNION ALL SELECT * FROM explicit)
       SELECT COALESCE(status, '(null)') AS status,
              CAST(COUNT(*) AS BIGINT) AS n_rows,
              CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(18,2))), 2)
                   AS DOUBLE) AS total_price,
              TRUE AS feature_listed_v7
       FROM fin GROUP BY 1""",
    shuffle=2,
)
def deltalog_column_defaults_audit(spark, sf_dir):
    """Column DEFAULTs end-to-end (delta/table.py set_column_default,
    the spec's allowColumnDefaults writer feature): rows written
    BEFORE the default keep NULL (write-time, never backfill), an
    append OMITTING the column gets the default evaluated, an append
    that explicitly provides NULL stays NULL (SQL DEFAULT semantics),
    and the enabling commit upgrades to writer v7 with the feature
    LISTED (``feature_listed_v7``; oracle pins TRUE) so external
    writers that don't implement defaults refuse. Final state
    recomputed relationally."""
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_totalprice"
    )
    with _scratch_dir(sf_dir, "cd") as table_dir:
        t = DeltaishTable.create(
            spark,
            table_dir,
            orders.withColumn("status", F.lit(None).cast("string")),
        )
        t.set_column_default("status", "'pending'")
        t.append(
            orders.filter(F.col("o_orderkey") <= 300).select(
                "o_orderkey",
                (F.col("o_totalprice") + 1).alias("o_totalprice"),
            )
        )
        t.append(
            orders.filter(F.col("o_orderkey") <= 100).select(
                "o_orderkey",
                (F.col("o_totalprice") + 2).alias("o_totalprice"),
                F.lit(None).cast("string").alias("status"),
            )
        )
        proto = t._snapshot().protocol
        listed = proto.get("minWriterVersion") == 7 and (
            "allowColumnDefaults" in (proto.get("writerFeatures") or [])
        )
        rows = (
            t.read()
            .groupBy(
                F.coalesce(F.col("status"), F.lit("(null)")).alias("status")
            )
            .agg(*_price_stats())
            .collect()
        )
    return spark.createDataFrame(
        [(*r, listed) for r in rows],
        "status string, n_rows long, total_price double, "
        "feature_listed_v7 boolean",
    )


@q(
    "deltalog_fsck_audit",
    """WITH base AS (SELECT o_orderkey, o_totalprice,
                            CASE WHEN o_orderkey <= 400 THEN 'lo'
                                 ELSE 'hi' END AS band
                     FROM orders),
       kept AS (SELECT * FROM base WHERE band = 'hi')
       SELECT CAST((SELECT COUNT(*) FROM base) AS BIGINT)
                AS n_rows_before,
              CAST((SELECT COUNT(*) FROM kept) AS BIGINT)
                AS n_rows_after,
              CAST(ROUND((SELECT SUM(CAST(o_totalprice AS DECIMAL(18,2)))
                          FROM kept), 2) AS DOUBLE) AS total_price_after,
              TRUE AS read_failed_before_repair,
              TRUE AS dry_run_reported_only""",
    shuffle=2,
)
def deltalog_fsck_audit(spark, sf_dir):
    """FSCK REPAIR TABLE end-to-end (delta/table.py fsck): a
    band-partitioned table loses its entire 'lo' partition to an
    out-of-band rm -rf; reads throw (pinned as a TRUE flag), DRY RUN
    reports the losses without committing, and the repair drops
    exactly the missing adds in one remove-only commit — the final
    state must equal the 'hi' band relationally (the oracle
    recomputes it), proving the repair neither dropped a surviving
    file nor kept a ghost."""
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_totalprice",
        F.when(F.col("o_orderkey") <= 400, "lo")
        .otherwise("hi")
        .alias("band"),
    )
    with _scratch_dir(sf_dir, "fsck") as table_dir:
        t = DeltaishTable.create(
            spark, table_dir, orders, partition_by=("band",)
        )
        n_before = t.read().count()
        v0 = t.version
        shutil.rmtree(os.path.join(table_dir, "band=lo"))
        read_failed = _raises(Exception, lambda: t.read().count())
        dry = t.fsck(dry_run=True)
        dry_only = bool(dry) and t.version == v0
        repaired = t.fsck()
        dry_only = dry_only and sorted(repaired) == sorted(dry)
        row = (
            t.read()
            .agg(
                F.count(F.lit(1)).cast("long").alias("n_after"),
                F.round(
                    F.sum(F.col("o_totalprice").cast("decimal(18,2)")), 2
                )
                .cast("double")
                .alias("tp_after"),
            )
            .collect()[0]
        )
    return spark.createDataFrame(
        [(n_before, row["n_after"], row["tp_after"], read_failed, dry_only)],
        "n_rows_before long, n_rows_after long, total_price_after double, "
        "read_failed_before_repair boolean, dry_run_reported_only boolean",
    )


@q(
    "deltalog_multipart_checkpoint_audit",
    """WITH base AS (SELECT o_orderkey, o_totalprice FROM orders
                     WHERE o_orderkey <= 2000),
       s1 AS (SELECT o_orderkey, o_totalprice + 1 AS o_totalprice
              FROM base WHERE o_orderkey <= 100),
       s2 AS (SELECT o_orderkey, o_totalprice + 2 AS o_totalprice
              FROM base WHERE o_orderkey <= 100),
       fin AS (SELECT * FROM base UNION ALL SELECT * FROM s1
               UNION ALL SELECT * FROM s2)
       SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
              CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(18,2))), 2)
                   AS DOUBLE) AS total_price,
              CAST(3 AS BIGINT) AS n_parts,
              TRUE AS parts_carry_state,
              TRUE AS incomplete_set_refuses
       FROM fin""",
    shuffle=2,
)
def deltalog_multipart_checkpoint_audit(spark, sf_dir):
    """Multi-part classic checkpoints end-to-end (delta/log.py
    write_checkpoint(parts=N)): a 3-part checkpoint (round-robin
    action split — the most adversarial distribution the spec
    permits) plus metadata cleanup leaves the part set as the ONLY
    carrier of pre-checkpoint state; the final read must equal the
    relational recompute (``parts_carry_state``), and deleting one
    part makes resolution REFUSE with the incomplete-set error while
    `_last_checkpoint` degrades to None rather than serving partial
    state (``incomplete_set_refuses``; both oracle-pinned TRUE)."""
    orders = (
        load_table(spark, sf_dir, "orders")
        .select("o_orderkey", "o_totalprice")
        .filter(F.col("o_orderkey") <= 2000)
    )
    slice_df = orders.filter(F.col("o_orderkey") <= 100)
    with _scratch_dir(sf_dir, "mp") as table_dir:
        t = DeltaishTable.create(spark, table_dir, orders)
        for bump in (1, 2):
            t.append(
                slice_df.withColumn(
                    "o_totalprice", F.col("o_totalprice") + bump
                )
            )
        cp = dlog.write_checkpoint(table_dir, parts=3)
        paths = dlog.checkpoint_part_paths(table_dir, cp)
        dlog.cleanup_metadata(table_dir, retention_hours=0.0)
        fresh = DeltaishTable(spark, table_dir)
        row = fresh.read().agg(*_price_stats()).collect()[0]
        carried = len(paths) == 3 and dlog.list_versions(table_dir) == [cp]
        os.remove(paths[1])
        try:
            dlog.checkpoint_part_paths(table_dir, cp)
            refuses = False
        except ValueError:
            refuses = (
                dlog.last_checkpoint_version(table_dir) is None
            )
    return spark.createDataFrame(
        [(*row, len(paths), carried, refuses)],
        "n_rows long, total_price double, n_parts long, "
        "parts_carry_state boolean, incomplete_set_refuses boolean",
    )


@q(
    "deltalog_v2_checkpoint_audit",
    """WITH base AS (SELECT o_orderkey, o_totalprice FROM orders
                     WHERE o_orderkey <= 2000),
       s1 AS (SELECT o_orderkey, o_totalprice + 1 AS o_totalprice
              FROM base WHERE o_orderkey <= 100),
       s2 AS (SELECT o_orderkey, o_totalprice + 2 AS o_totalprice
              FROM base WHERE o_orderkey <= 100),
       fin AS (SELECT * FROM base UNION ALL SELECT * FROM s1
               UNION ALL SELECT * FROM s2)
       SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
              CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(18,2))), 2)
                   AS DOUBLE) AS total_price,
              CAST(2 AS BIGINT) AS n_sidecars,
              TRUE AS manifest_carries_state,
              TRUE AS torn_sidecar_degrades
       FROM fin""",
    shuffle=2,
)
def deltalog_v2_checkpoint_audit(spark, sf_dir):
    """v2Checkpoint table feature end-to-end (delta/log.py
    write_checkpoint_v2, delta/table.py enable_v2_checkpoints): the
    UUID-named manifest + 2 sidecar files, after log cleanup, are the
    ONLY carrier of pre-checkpoint state — the fresh read must equal
    the relational recompute (``manifest_carries_state``) — and
    deleting one sidecar makes `_last_checkpoint` resolution degrade
    to None while the end-to-end read REFUSES (the cleaned JSONs
    cannot cover the gap) rather than serving partial state
    (``torn_sidecar_degrades``; both oracle-pinned TRUE). The
    manifest/sidecar indirection is the 100 TB feature: checkpoint
    planning parallelizes over sidecars instead of one giant parquet."""
    orders = (
        load_table(spark, sf_dir, "orders")
        .select("o_orderkey", "o_totalprice")
        .filter(F.col("o_orderkey") <= 2000)
    )
    slice_df = orders.filter(F.col("o_orderkey") <= 100)
    with _scratch_dir(sf_dir, "v2cp") as table_dir:
        t = DeltaishTable.create(spark, table_dir, orders)
        for bump in (1, 2):
            t.append(
                slice_df.withColumn(
                    "o_totalprice", F.col("o_totalprice") + bump
                )
            )
        t.enable_v2_checkpoints()
        cp = t.checkpoint_v2(sidecars=2)
        manifest = dlog.v2_checkpoint_manifest(table_dir, cp)
        sidecars = dlog._manifest_sidecars(manifest)
        dlog.cleanup_metadata(table_dir, retention_hours=0.0)
        fresh = DeltaishTable(spark, table_dir)
        row = fresh.read().agg(*_price_stats()).collect()[0]
        carried = (
            len(sidecars) == 2
            and dlog.list_versions(table_dir) == [cp]
            and dlog.last_checkpoint_version(table_dir) == cp
        )
        os.remove(
            os.path.join(dlog.sidecar_dir(table_dir), sidecars[0]["path"])
        )
        degrades = dlog.last_checkpoint_version(table_dir) is None
        try:
            DeltaishTable(spark, table_dir).read().count()
            degrades = False
        except (ValueError, FileNotFoundError):
            pass
    return spark.createDataFrame(
        [(*row, len(sidecars), carried, degrades)],
        "n_rows long, total_price double, n_sidecars long, "
        "manifest_carries_state boolean, torn_sidecar_degrades boolean",
    )


@q(
    "deltalog_occ_conflict_audit",
    """WITH base AS (SELECT o_orderkey, o_totalprice FROM orders
                     WHERE o_orderkey <= 500),
       s1 AS (SELECT o_orderkey + 1000000 AS o_orderkey, o_totalprice
              FROM base WHERE o_orderkey <= 40),
       s2 AS (SELECT o_orderkey + 2000000 AS o_orderkey, o_totalprice
              FROM base WHERE o_orderkey <= 40),
       fin AS (SELECT * FROM base UNION ALL SELECT * FROM s1
               UNION ALL SELECT * FROM s2)
       SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
              CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(18,2))), 2)
                   AS DOUBLE) AS total_price,
              TRUE AS append_retries_past_append,
              TRUE AS rewrite_refuses_stale_read,
              TRUE AS metadata_change_blocks_append
       FROM fin""",
    shuffle=2,
)
def deltalog_occ_conflict_audit(spark, sf_dir):
    """Optimistic-concurrency semantics end-to-end (delta/table.py
    _commit_next — previously pytest-only, now driver-visible): a
    writer whose version was TAKEN by a concurrent append must
    blind-retry and land both appends
    (``append_retries_past_append``); a REWRITE computed against a
    stale snapshot must refuse with ConcurrentCommitError instead of
    silently dropping the concurrent rows
    (``rewrite_refuses_stale_read`` — Delta's
    ConcurrentAppendException split); and an append validated against
    pre-ALTER metadata must refuse past a concurrent ADD CONSTRAINT
    (``metadata_change_blocks_append`` — MetadataChangedException),
    because its rows were never checked against the new invariant.
    All three pinned TRUE; the final table equals the relational
    recompute."""
    orders = (
        load_table(spark, sf_dir, "orders")
        .select("o_orderkey", "o_totalprice")
        .filter(F.col("o_orderkey") <= 500)
    )
    s = orders.filter(F.col("o_orderkey") <= 40)
    with _scratch_dir(sf_dir, "occ") as table_dir:
        n_base = orders.count()
        n_s = s.count()
        t = DeltaishTable.create(spark, table_dir, orders)
        # (1) append vs concurrent append: steal t's next version
        v = t.version
        dlog.write_commit(
            table_dir,
            v + 1,
            [dlog.commit_info("CONCURRENT NOOP", source="rival")],
        )
        t.append(
            s.withColumn("o_orderkey", F.col("o_orderkey") + 1000000)
        )
        append_ok = (
            t.version == v + 2 and t.read().count() == n_base + n_s
        )

        # (2) rewrite vs stale read snapshot: hand _commit_next a
        # read_version older than a data commit
        stale = t.version
        t.append(
            s.withColumn("o_orderkey", F.col("o_orderkey") + 2000000)
        )
        rewrite_refuses = _raises(
            ConcurrentCommitError,
            t._commit_next,
            [dlog.commit_info("FAKE REWRITE")],
            read_version=stale,
        )

        # (3) append blocked by concurrent metadata change
        stale2 = t.version
        t.add_check_constraint("price_pos", "o_totalprice > 0")
        md_blocks = _raises(
            ConcurrentCommitError,
            t._commit_next,
            [dlog.commit_info("LATE APPEND")],
            retry_append=True,
            read_version=stale2,
        )
        row = t.read().agg(*_price_stats()).collect()[0]
    return spark.createDataFrame(
        [(*row, append_ok, rewrite_refuses, md_blocks)],
        "n_rows long, total_price double, append_retries_past_append "
        "boolean, rewrite_refuses_stale_read boolean, "
        "metadata_change_blocks_append boolean",
    )


@q(
    "deltalog_compaction_audit",
    """WITH base AS (SELECT o_orderkey, o_totalprice FROM orders
                     WHERE o_orderkey <= 400),
       fin AS (SELECT * FROM base)
       SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
              CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(18,2))), 2)
                   AS DOUBLE) AS total_price,
              TRUE AS file_count_reduced,
              TRUE AS compaction_not_data_change,
              TRUE AS time_travel_preserved
       FROM fin""",
    shuffle=2,
)
def deltalog_compaction_audit(spark, sf_dir):
    """OPTIMIZE bin-packing end-to-end: eight 50-row appends leave a
    fragmented table; OPTIMIZE must shrink the live-file count
    (``file_count_reduced``), commit its rewrite with
    dataChange=false on every action (``compaction_not_data_change`` —
    the flag that lets a downstream stream skip the rewrite instead
    of reprocessing it), and leave every PRE-compaction version
    readable (``time_travel_preserved``). The small-file problem is
    THE steady-state failure of streaming lakehouses (the reference
    compacts on a schedule, AutomateTable.py) — this pins the repair."""
    orders = (
        load_table(spark, sf_dir, "orders")
        .select("o_orderkey", "o_totalprice")
        .filter(F.col("o_orderkey") <= 400)
    )
    with _scratch_dir(sf_dir, "opt") as table_dir:
        t = None
        for i in range(0, 8):
            chunk = orders.filter(
                F.col("o_orderkey") % 8 == i
            ).coalesce(1)
            if t is None:
                t = DeltaishTable.create(spark, table_dir, chunk)
            else:
                t.append(chunk)
        pre_files = len(t._snapshot().files)
        pre_version = t.version
        pre_count = t.read().count()
        t.optimize()
        post_files = len(t._snapshot().files)
        reduced = post_files < pre_files and pre_files >= 8
        actions = dlog.read_commit(table_dir, t.version)
        ndc = all(
            not a[k].get("dataChange", True)
            for a in actions
            for k in ("add", "remove")
            if k in a
        )
        tt = t.read(pre_version).count() == pre_count
        row = t.read().agg(*_price_stats()).collect()[0]
    return spark.createDataFrame(
        [(*row, reduced, ndc, tt)],
        "n_rows long, total_price double, file_count_reduced boolean, "
        "compaction_not_data_change boolean, time_travel_preserved boolean",
    )


@q(
    "deltalog_type_widening_audit",
    """WITH narrow AS (SELECT o_orderkey,
                              CAST(o_custkey AS INTEGER) AS prio
                       FROM orders WHERE o_orderkey <= 1000),
       wide AS (SELECT o_orderkey + 2000000 AS o_orderkey,
                       CAST(o_orderkey + 4398046511104 AS BIGINT) AS prio
                FROM orders WHERE o_orderkey <= 50),
       fin AS (SELECT * FROM narrow UNION ALL SELECT * FROM wide)
       SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
              CAST(SUM(prio) AS BIGINT) AS prio_sum,
              TRUE AS widen_metadata_only,
              TRUE AS narrow_files_upcast,
              TRUE AS narrowing_refuses
       FROM fin""",
    shuffle=2,
)
def deltalog_type_widening_audit(spark, sf_dir):
    """typeWidening table feature end-to-end (delta/table.py
    widen_column_type): ALTER COLUMN int→long is a METADATA-ONLY
    commit — zero files rewritten (``widen_metadata_only``), the
    change journaled in the field's delta.typeChanges and the
    feature in both protocol lists — after which the ORIGINAL int32
    parquet pages scan correctly under the widened schema alongside
    new beyond-int32 rows (``narrow_files_upcast``: the final
    aggregate equals the relational recompute), while a narrowing
    ALTER refuses (``narrowing_refuses``; all oracle-pinned TRUE).
    At 100 TB this is the difference between an O(1) commit and a
    full-table rewrite."""
    narrow = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderkey") <= 1000)
        .select(
            "o_orderkey",
            F.col("o_custkey").cast("int").alias("prio"),
        )
    )
    wide = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderkey") <= 50)
        .select(
            (F.col("o_orderkey") + 2000000).alias("o_orderkey"),
            (F.col("o_orderkey") + F.lit(4398046511104).cast("long"))
            .cast("long")
            .alias("prio"),
        )
    )
    with _scratch_dir(sf_dir, "tw") as table_dir:
        t = DeltaishTable.create(spark, table_dir, narrow)
        files_before = set(t._snapshot().files)
        t.widen_column_type("prio", "long")
        metadata_only = set(t._snapshot().files) == files_before
        t.append(wide)
        narrowing_refuses = _raises(
            ValueError, t.widen_column_type, "prio", "integer"
        )
        upcast = t.read().schema["prio"].dataType.typeName() == "long"
        row = (
            t.read()
            .agg(
                F.count(F.lit(1)).cast("long").alias("n_rows"),
                F.sum("prio").cast("long").alias("prio_sum"),
            )
            .collect()[0]
        )
    return spark.createDataFrame(
        [(*row, metadata_only, upcast, narrowing_refuses)],
        "n_rows long, prio_sum long, widen_metadata_only boolean, "
        "narrow_files_upcast boolean, narrowing_refuses boolean",
    )


@q(
    "deltalog_vacuum_lite_audit",
    """WITH fin AS (SELECT o_orderkey, o_totalprice FROM orders
                    WHERE o_orderkey <= 300)
       SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
              CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(18,2))), 2)
                   AS DOUBLE) AS total_price,
              TRUE AS lite_keeps_orphan,
              TRUE AS full_removes_aged_orphan,
              TRUE AS fresh_orphan_protected
       FROM fin""",
    shuffle=2,
)
def deltalog_vacuum_lite_audit(spark, sf_dir):
    """VACUUM LITE vs FULL (delta/table.py vacuum(mode=...)): LITE
    derives deletions from the LOG alone — no directory listing, the
    form whose cost is O(log) not O(objects) and the only sane one on
    a 100 TB table — so a planted orphan (failed-writer debris no log
    action references) survives it (``lite_keeps_orphan``); FULL
    walks the directory and removes the orphan once aged past
    retention (``full_removes_aged_orphan``) while an orphan INSIDE
    the retention window survives even FULL
    (``fresh_orphan_protected``; all oracle-pinned TRUE). The final
    read equals the relational recompute throughout."""
    import time as _time

    orders = (
        load_table(spark, sf_dir, "orders")
        .select("o_orderkey", "o_totalprice")
        .filter(F.col("o_orderkey") <= 2000)
    )
    fin = orders.filter(F.col("o_orderkey") <= 300)
    with _scratch_dir(sf_dir, "vac") as table_dir:
        t = DeltaishTable.create(spark, table_dir, orders)
        t.overwrite(fin)  # tombstones the original files
        old_orphan = os.path.join(table_dir, "part-zombie-old.parquet")
        new_orphan = os.path.join(table_dir, "part-zombie-new.parquet")
        for p in (old_orphan, new_orphan):
            with open(p, "wb") as f:
                f.write(b"PAR1junkPAR1")
        past = _time.time() - 9 * 24 * 3600
        os.utime(old_orphan, (past, past))
        t.vacuum(retention_hours=0.0, enforce_retention=False, mode="lite")
        lite_keeps = os.path.exists(old_orphan) and os.path.exists(
            new_orphan
        )
        full = t.vacuum(retention_hours=168.0, mode="full")
        full_removes = (
            "part-zombie-old.parquet" in full
            and not os.path.exists(old_orphan)
        )
        fresh_protected = os.path.exists(new_orphan)
        row = t.read().agg(*_price_stats()).collect()[0]
    return spark.createDataFrame(
        [(*row, lite_keeps, full_removes, fresh_protected)],
        "n_rows long, total_price double, lite_keeps_orphan boolean, "
        "full_removes_aged_orphan boolean, fresh_orphan_protected boolean",
    )


@q(
    "deltalog_checksum_audit",
    """WITH base AS (SELECT o_orderkey, o_totalprice FROM orders
                     WHERE o_orderkey <= 2000),
       s1 AS (SELECT o_orderkey + 1000000 AS o_orderkey,
                     o_totalprice + 1 AS o_totalprice
              FROM base WHERE o_orderkey <= 150),
       merged AS (SELECT * FROM base UNION ALL SELECT * FROM s1),
       fin AS (SELECT * FROM merged WHERE o_orderkey % 7 <> 0)
       SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
              CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(18,2))), 2)
                   AS DOUBLE) AS total_price,
              TRUE AS all_versions_checksummed,
              TRUE AS validates_after_rewrite,
              TRUE AS tamper_refuses
       FROM fin""",
    shuffle=2,
)
def deltalog_checksum_audit(spark, sf_dir):
    """VERSION_CHECKSUM (.crc) files end-to-end (delta/log.py
    write_version_checksum / validate_version_checksum): every commit
    — create, append, and a MOR-free DELETE rewrite — stamps a .crc
    whose live-set summary a replay-recompute confirms at EVERY
    version (``all_versions_checksummed``/``validates_after_rewrite``),
    and a tampered summary REFUSES loudly instead of serving a state
    the log disagrees with (``tamper_refuses``; all oracle-pinned
    TRUE). The .crc is written INCREMENTALLY from the commit's own
    actions (O(actions), not O(log)) — the property that keeps it free
    at a 1e5-commit streaming table."""
    import json

    orders = (
        load_table(spark, sf_dir, "orders")
        .select("o_orderkey", "o_totalprice")
        .filter(F.col("o_orderkey") <= 2000)
    )
    with _scratch_dir(sf_dir, "crc") as table_dir:
        t = DeltaishTable.create(spark, table_dir, orders)
        t.append(
            orders.filter(F.col("o_orderkey") <= 150)
            .withColumn("o_orderkey", F.col("o_orderkey") + 1000000)
            .withColumn("o_totalprice", F.col("o_totalprice") + 1)
        )
        t.delete(F.col("o_orderkey") % 7 == 0)
        all_ok = all(
            os.path.exists(dlog.checksum_file(table_dir, v))
            and dlog.validate_version_checksum(table_dir, v) is True
            for v in range(t.version + 1)
        )
        validates = t.verify_checksum() is True
        crc_path = dlog.checksum_file(table_dir, t.version)
        with open(crc_path) as f:
            crc = json.loads(f.read())
        crc["tableSizeBytes"] += 13
        with open(crc_path, "w") as f:
            f.write(json.dumps(crc))
        tamper_refuses = _raises(ValueError, t.verify_checksum)
        row = t.read().agg(*_price_stats()).collect()[0]
    return spark.createDataFrame(
        [(*row, all_ok, validates, tamper_refuses)],
        "n_rows long, total_price double, all_versions_checksummed boolean, "
        "validates_after_rewrite boolean, tamper_refuses boolean",
    )


@q(
    "deltalog_stats_columns_audit",
    """WITH base AS (SELECT o_orderkey, o_totalprice, o_orderstatus
                     FROM orders WHERE o_orderkey <= 2000),
       extra AS (SELECT o_orderkey + 1000000 AS o_orderkey,
                        o_totalprice + 1 AS o_totalprice, o_orderstatus
                 FROM base WHERE o_orderkey <= 200),
       fin AS (SELECT * FROM base UNION ALL SELECT * FROM extra)
       SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
              CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(18,2))), 2)
                   AS DOUBLE) AS total_price,
              TRUE AS stats_truncated_to_prefix,
              TRUE AS indexed_col_prunes,
              TRUE AS unindexed_col_keeps_all
       FROM fin""",
    shuffle=2,
)
def deltalog_stats_columns_audit(spark, sf_dir):
    """delta.dataSkippingNumIndexedCols end-to-end (delta/table.py
    _stats_indexed_set + file_footer_stats): with the property set to
    1, files written afterwards carry min/max/nullCount for ONLY the
    first schema column (``stats_truncated_to_prefix`` — the knob that
    bounds add-action width on 1000-column tables); a predicate on the
    indexed column still prunes to exactly the matching files
    (``indexed_col_prunes``), while a predicate on a column PAST the
    indexed prefix conservatively keeps every truncated file
    (``unindexed_col_keeps_all`` — skipping soundness needs no reader
    change). Final state recomputed relationally."""
    import json as _json

    base = (
        load_table(spark, sf_dir, "orders")
        .select("o_orderkey", "o_totalprice", "o_orderstatus")
        .filter(F.col("o_orderkey") <= 2000)
    )
    extra = base.filter(F.col("o_orderkey") <= 200).select(
        (F.col("o_orderkey") + 1000000).alias("o_orderkey"),
        (F.col("o_totalprice") + 1).alias("o_totalprice"),
        "o_orderstatus",
    )
    with _scratch_dir(sf_dir, "sc") as table_dir:
        t = DeltaishTable.create(spark, table_dir, base)
        t.set_table_properties({"delta.dataSkippingNumIndexedCols": "1"})
        t.append(extra)
        snap = t._snapshot()
        stats = {
            p: _json.loads(a["stats"]) for p, a in snap.files.items()
        }
        new_files = {
            p
            for p, s in stats.items()
            if (s["minValues"].get("o_orderkey") or 0) >= 1000000
        }
        truncated = bool(new_files) and all(
            set(stats[p]["minValues"]) == {"o_orderkey"}
            and set(stats[p]["nullCount"]) == {"o_orderkey"}
            for p in new_files
        )
        cand_idx = set(
            t.files_matching_predicate("o_orderkey >= 1000000")
        )
        prunes = cand_idx == new_files and len(cand_idx) < len(
            snap.files
        )
        cand_unidx = set(
            t.files_matching_predicate("o_totalprice < -1")
        )
        keeps = new_files <= cand_unidx
        row = t.read().agg(*_price_stats()).collect()[0]
    return spark.createDataFrame(
        [(*row, truncated, prunes, keeps)],
        "n_rows long, total_price double, "
        "stats_truncated_to_prefix boolean, indexed_col_prunes boolean, "
        "unindexed_col_keeps_all boolean",
    )


@q(
    "deltalog_domain_metadata_audit",
    """WITH base AS (SELECT o_orderkey, o_totalprice FROM orders
                     WHERE o_orderkey <= 300),
       fin AS (SELECT * FROM base UNION ALL
               SELECT * FROM base WHERE o_orderkey < 10)
       SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
              CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(18,2))), 2)
                   AS DOUBLE) AS total_price,
              TRUE AS last_writer_wins,
              TRUE AS tombstone_removes,
              TRUE AS survives_checkpoint_and_cleanup,
              TRUE AS reserved_domains_refused
       FROM fin""",
    shuffle=2,
)
def deltalog_domain_metadata_audit(spark, sf_dir):
    """domainMetadata actions end-to-end (spec: named metadata
    domains; delta/table.py set/remove_domain_metadata): a domain
    overwritten in a later commit must replay LAST-WRITER-WINS; a
    removed=true tombstone must drop it; a surviving domain must ride
    the parquet CHECKPOINT past log cleanup (the only artifact that
    carries it once early commits are deleted); and delta.*-reserved
    names must refuse (they belong to protocol features — row
    tracking and liquid clustering store their state in exactly this
    mechanism). The final table equals the relational recompute."""
    orders = (
        load_table(spark, sf_dir, "orders")
        .select("o_orderkey", "o_totalprice")
        .filter(F.col("o_orderkey") <= 300)
    )
    with _scratch_dir(sf_dir, "dm") as table_dir:
        t = DeltaishTable.create(spark, table_dir, orders)
        t.set_domain_metadata("app.pipeline", '{"owner":"etl","v":1}')
        t.set_domain_metadata("app.pipeline", '{"owner":"etl","v":2}')
        t.set_domain_metadata("app.tmp", '{"scratch":true}')
        lww = t.domain_metadata("app.pipeline") == '{"owner":"etl","v":2}'
        t.remove_domain_metadata("app.tmp")
        tombstoned = t.domain_metadata("app.tmp") is None
        # checkpoint carries the domain; cleanup deletes the commits
        dlog.write_checkpoint(table_dir)
        t.append(orders.filter(F.col("o_orderkey") < 10))
        t.cleanup_metadata(retention_hours=0)
        t2 = DeltaishTable(spark, table_dir)
        survives = (
            t2.domain_metadata("app.pipeline") == '{"owner":"etl","v":2}'
            and t2.domain_metadata("app.tmp") is None
        )
        reserved_refused = _raises(
            ValueError, t2.set_domain_metadata, "delta.rowTracking", "{}"
        )
        row = t2.read().agg(*_price_stats()).collect()[0]
    return spark.createDataFrame(
        [(*row, lww, tombstoned, survives, reserved_refused)],
        "n_rows long, total_price double, last_writer_wins boolean, "
        "tombstone_removes boolean, survives_checkpoint_and_cleanup "
        "boolean, reserved_domains_refused boolean",
    )


@q(
    "deltalog_protocol_conflict_audit",
    """WITH base AS (SELECT o_orderkey, o_totalprice FROM orders
                     WHERE o_orderkey <= 300)
       SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
              CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(18,2))), 2)
                   AS DOUBLE) AS total_price,
              TRUE AS loser_refused,
              TRUE AS winner_features_intact,
              TRUE AS rerun_carries_both,
              TRUE AS append_blocked_past_protocol_change
       FROM base""",
    shuffle=2,
)
def deltalog_protocol_conflict_audit(spark, sf_dir):
    """ProtocolChangedException semantics end-to-end (the round-8
    OCC fix, delta/table.py _commit_next): two feature-enables racing
    from one snapshot — the loser must REFUSE (``loser_refused``)
    instead of clobbering the winner's feature list
    (``winner_features_intact``); rerun on the fresh snapshot carries
    BOTH features (``rerun_carries_both``); and an append whose
    writer-protocol validation predates an intervening protocol
    commit refuses too (``append_blocked_past_protocol_change``).
    Table data never changes."""
    orders = (
        load_table(spark, sf_dir, "orders")
        .select("o_orderkey", "o_totalprice")
        .filter(F.col("o_orderkey") <= 300)
    )
    with _scratch_dir(sf_dir, "pc") as table_dir:
        t = DeltaishTable.create(spark, table_dir, orders)
        stale = DeltaishTable(spark, table_dir)
        stale_v = stale.version  # force its snapshot read
        # rival lands its upgrade first
        t.enable_vacuum_protocol_check()
        # loser computed from the stale snapshot
        loser_refused = _raises(
            ConcurrentCommitError,
            stale._commit_next,
            [
                {
                    "protocol": {
                        "minReaderVersion": 3,
                        "minWriterVersion": 7,
                        "readerFeatures": ["v2Checkpoint"],
                        "writerFeatures": ["v2Checkpoint"],
                    }
                },
                dlog.commit_info("RIVAL UPGRADE"),
            ],
            read_version=stale_v,
        )
        proto = t._snapshot().protocol
        winner_intact = "vacuumProtocolCheck" in (
            proto.get("writerFeatures") or []
        )
        t.enable_v2_checkpoints()  # rerun on the fresh snapshot
        proto = t._snapshot().protocol
        both = {"vacuumProtocolCheck", "v2Checkpoint"} <= set(
            proto.get("writerFeatures") or []
        )
        # append validated against the pre-upgrade protocol refuses
        pre = t.version
        t.enable_in_commit_timestamps()
        append_blocked = _raises(
            ConcurrentCommitError,
            t._commit_next,
            [dlog.commit_info("LATE APPEND")],
            retry_append=True,
            read_version=pre,
        )
        row = t.read().agg(*_price_stats()).collect()[0]
    return spark.createDataFrame(
        [(*row, loser_refused, winner_intact, both, append_blocked)],
        "n_rows long, total_price double, loser_refused boolean, "
        "winner_features_intact boolean, rerun_carries_both boolean, "
        "append_blocked_past_protocol_change boolean",
    )


@q(
    "deltalog_inline_dv_audit",
    """WITH base AS (SELECT o_orderkey, o_totalprice FROM orders
                     WHERE o_orderkey <= 300),
       kept AS (SELECT * FROM base WHERE o_orderkey % 3 <> 0)
       SELECT CAST(COUNT(*) AS BIGINT) AS n_rows_after_dv,
              CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(18,2))), 2)
                   AS DOUBLE) AS total_price_after_dv,
              TRUE AS inline_dv_applied,
              TRUE AS purge_materializes,
              TRUE AS corrupt_inline_refused
       FROM kept""",
    shuffle=2,
)
def deltalog_inline_dv_audit(spark, sf_dir):
    """INLINE deletion vectors (storageType 'i' — the spec's
    small-DV form real writers emit for tiny masks, base85 payload in
    the descriptor itself, no sidecar file): a foreign-style commit
    re-adds the table's files with handwritten inline DVs masking
    every o_orderkey % 3 = 0 row; the scan must drop exactly those
    rows (``inline_dv_applied``), purge() must materialize the DVs
    into plain files with identical rows (``purge_materializes``),
    and a corrupted inline payload (sizeInBytes > decoded length)
    must refuse loudly (``corrupt_inline_refused``) — the
    strict-decode-or-refuse contract. The writer's own MOR path emits
    'u' files (deltalog_mor_delete_audit); this pins the read side of
    the OTHER spec encoding end-to-end."""
    orders = (
        load_table(spark, sf_dir, "orders")
        .select("o_orderkey", "o_totalprice")
        .filter(F.col("o_orderkey") <= 300)
    )
    with _scratch_dir(sf_dir, "idv") as table_dir:
        t = DeltaishTable.create(spark, table_dir, orders)
        snap = t._snapshot()
        # handwrite inline DVs: per file, the positions of rows with
        # o_orderkey % 3 == 0 in the file's own row order
        proto = t._protocol_for(snap.protocol, {"deletionVectors"})
        actions = [{"protocol": proto}] if proto else []
        import pyarrow.parquet as pq

        for rel, add in snap.files.items():
            tbl = pq.read_table(os.path.join(table_dir, rel))
            keys = tbl.column("o_orderkey").to_pylist()
            dead = [i for i, k in enumerate(keys) if k % 3 == 0]
            if not dead:
                continue
            data = roaring.serialize_rbm_array(dead)
            new_add = dict(add)
            new_add["deletionVector"] = {
                "storageType": "i",
                "pathOrInlineDv": roaring.b85_encode(
                    data + b"\x00" * (-len(data) % 4)
                ),
                "offset": 0,
                "sizeInBytes": len(data),
                "cardinality": len(dead),
            }
            new_add["dataChange"] = True
            actions.append({"remove": t._tombstone(rel)})
            actions.append({"add": new_add})
        actions.append(dlog.commit_info("FOREIGN INLINE DV DELETE"))
        t._commit_next(actions, read_version=snap.version)

        # r10 OPT (guide §1.2/§5): the three counts collapse into one
        # aggregate job, and the before/after key-list equality runs
        # DISTRIBUTED (count match + empty exceptAll — equal-cardinality
        # multisets with an empty difference are equal) instead of
        # collecting and sorting two full key lists on the driver.
        # 5 jobs + 2 driver key-list transfers -> 3 jobs; booleans
        # unchanged.
        got = t.read()
        expected = orders.filter(F.col("o_orderkey") % 3 != 0)
        gstats = got.agg(
            F.count(F.lit(1)).alias("n"),
            F.count(F.when(F.col("o_orderkey") % 3 == 0, 1)).alias("n_dead"),
        ).collect()[0]
        applied = (
            gstats["n"] == expected.count() and gstats["n_dead"] == 0
        )
        before_keys = got.select("o_orderkey")
        # r11 (ADVICE r10 #3): before_keys is a LAZY plan over the
        # pre-purge snapshot's part files, executed (diff.count())
        # only after purge() rewrites the table. That is correct
        # because purge only TOMBSTONES superseded files (vacuum is a
        # separate, never-called-here op) — pin that assumption with a
        # driver-side existence check so a future vacuum-on-purge
        # turns this audit red instead of silently reading nothing.
        pre_purge_files = list(t._snapshot().files.keys())
        t.purge()  # materialize DVs into rewritten files
        snap2 = t._snapshot()
        assert all(
            os.path.exists(os.path.join(table_dir, rel))
            for rel in pre_purge_files
        ), "purge physically deleted superseded files; before_keys is stale"
        no_dvs = not any(
            a.get("deletionVector") for a in snap2.files.values()
        )
        after_keys = t.read().select("o_orderkey")
        diff = before_keys.exceptAll(after_keys)
        purged_ok = no_dvs and (
            after_keys.count() == gstats["n"] and diff.count() == 0
        )

        # corrupt inline payload: sizeInBytes beyond decoded length
        bad = dict(next(iter(snap2.files.values())))
        bad["deletionVector"] = {
            "storageType": "i",
            "pathOrInlineDv": roaring.b85_encode(b"\x00" * 8),
            "offset": 0,
            "sizeInBytes": 99,
            "cardinality": 1,
        }
        corrupt_refused = _raises(
            ValueError, t.dv_positions, bad["deletionVector"]
        )
        row = t.read().agg(*_price_stats()).collect()[0]
    return spark.createDataFrame(
        [(*row, applied, purged_ok, corrupt_refused)],
        "n_rows_after_dv long, total_price_after_dv double, "
        "inline_dv_applied boolean, purge_materializes boolean, "
        "corrupt_inline_refused boolean",
    )
