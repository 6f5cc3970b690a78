"""Deltaish transaction log: create/append/overwrite, time travel,
stats-based skipping, file-pruned MERGE, OPTIMIZE/Z-ORDER/VACUUM,
optimistic concurrency, streaming sink commits, and reader
compatibility with a delta-spark-style handwritten log."""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F

from lakehouse_for_data_streaming_and_analysis_spark.catalog import load_table
from lakehouse_for_data_streaming_and_analysis_spark.delta import (
    ConcurrentCommitError,
    DeltaishTable,
    commit_stats_df,
)
from lakehouse_for_data_streaming_and_analysis_spark.delta import log as dlog

from .conftest import SF_DIR


def _orders(spark, n=None):
    df = load_table(spark, SF_DIR, "orders").select(
        "o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
        "o_orderpriority",
    )
    return df.limit(n) if n else df


def _rows(df):
    return sorted(tuple(str(x) for x in r) for r in df.collect())


def test_create_read_roundtrip(spark, tmp_path):
    src = _orders(spark, 300)
    t = DeltaishTable.create(spark, str(tmp_path / "t"), src)
    assert t.version == 0
    got = t.read()
    assert got.schema == src.schema
    assert _rows(got) == _rows(src)


def test_append_time_travel_history(spark, tmp_path):
    src = _orders(spark)
    lo = src.filter(F.col("o_orderkey") <= 1000)
    hi = src.filter(F.col("o_orderkey") > 1000)
    t = DeltaishTable.create(spark, str(tmp_path / "t"), lo)
    v1 = t.append(hi)
    assert v1 == 1
    assert _rows(t.read()) == _rows(src)
    assert _rows(t.read(version=0)) == _rows(lo)
    hist = t.history()
    assert [h["operation"] for h in hist] == [
        "CREATE TABLE AS SELECT",
        "WRITE",
    ]
    assert hist[1]["n_records_added"] == hi.count()


def test_overwrite_keeps_old_version_readable(spark, tmp_path):
    src = _orders(spark, 200)
    small = _orders(spark, 50)
    t = DeltaishTable.create(spark, str(tmp_path / "t"), src)
    t.overwrite(small)
    assert _rows(t.read()) == _rows(small)
    assert _rows(t.read(version=0)) == _rows(src)


def test_stats_file_skipping(spark, tmp_path):
    src = _orders(spark).repartitionByRange(4, "o_orderkey")
    t = DeltaishTable.create(spark, str(tmp_path / "t"), src)
    all_files = t.files_matching("o_orderkey", 0, 10**9)
    assert len(all_files) == 4
    narrow = t.files_matching("o_orderkey", 1, 5)
    assert len(narrow) < 4, "range-partitioned stats must prune files"
    want = src.filter(F.col("o_orderkey").between(1, 5))
    assert _rows(t.read_pruned("o_orderkey", 1, 5)) == _rows(want)


def test_partitioned_table_roundtrip_and_pruning(spark, tmp_path):
    src = _orders(spark, 400)
    t = DeltaishTable.create(
        spark, str(tmp_path / "t"), src, partition_by=("o_orderstatus",)
    )
    assert _rows(t.read()) == _rows(src)
    assert t.read().schema == src.schema
    only_f = t.files_matching("o_orderstatus", "F", "F")
    assert 0 < len(only_f) < len(t._snapshot().files)
    got = t._read_files(only_f)
    assert _rows(got.select(*src.columns)) == _rows(
        src.filter(F.col("o_orderstatus") == "F")
    )


def test_merge_upsert_semantics_and_file_pruning(spark, tmp_path):
    src = _orders(spark).repartitionByRange(6, "o_orderkey")
    t = DeltaishTable.create(spark, str(tmp_path / "t"), src)
    n_files = len(t._snapshot().files)
    # source: update every order above the 90th key percentile, plus
    # brand-new keys — confined to the top of the key range so stats
    # pruning must leave the low-range files untouched
    hi_cut = src.approxQuantile("o_orderkey", [0.9], 0.0)[0]
    updates = (
        src.filter(F.col("o_orderkey") > hi_cut)
        .withColumn("o_totalprice", F.col("o_totalprice") * 2)
    )
    inserts = updates.withColumn(
        "o_orderkey", F.col("o_orderkey") + F.lit(10**7)
    )
    source = updates.unionByName(inserts)
    t.merge(source, ["o_orderkey"])
    expected = (
        src.filter(F.col("o_orderkey") <= hi_cut)
        .unionByName(source)
    )
    assert _rows(t.read()) == _rows(expected)
    last = t.history()[-1]
    assert last["operation"] == "MERGE"
    assert 0 < last["n_files_removed"] < n_files, (
        "merge must rewrite only the stat-intersecting files"
    )


def test_merge_duplicate_source_keys_raise(spark, tmp_path):
    src = _orders(spark, 100)
    t = DeltaishTable.create(spark, str(tmp_path / "t"), src)
    dup = src.limit(10).unionByName(src.limit(10))
    with pytest.raises(ValueError, match="duplicate merge keys"):
        t.merge(dup, ["o_orderkey"])


def test_concurrency_put_if_absent_and_append_retry(spark, tmp_path):
    src = _orders(spark, 100)
    t = DeltaishTable.create(spark, str(tmp_path / "t"), src)
    # a competing writer lands version 1 first
    dlog.write_commit(t.path, 1, [dlog.commit_info("WRITE", mode="Append")])
    with pytest.raises(ConcurrentCommitError):
        dlog.write_commit(t.path, 1, [dlog.commit_info("WRITE")])
    # an append re-reads the log and lands after the competitor
    v = t.append(src.limit(10))
    assert v == 2
    assert t.read().count() == 110


def test_optimize_compacts_and_preserves_time_travel(spark, tmp_path):
    src = _orders(spark, 500).repartition(8)
    t = DeltaishTable.create(spark, str(tmp_path / "t"), src)
    t.append(_orders(spark, 100).repartition(4))
    before = len(t._snapshot().files)
    assert before == 12
    pre_version = t.version
    t.optimize()
    after = t._snapshot().files
    assert len(after) < before
    # compaction commits carry dataChange=false adds (spec: streams
    # must be able to skip them)
    last_commit = dlog.read_commit(t.path, t.version)
    adds = [a["add"] for a in last_commit if "add" in a]
    assert adds and all(a["dataChange"] is False for a in adds)
    full = _orders(spark, 500).unionByName(_orders(spark, 100))
    assert _rows(t.read()) == _rows(full)
    assert _rows(t.read(version=pre_version)) == _rows(full)


def test_vacuum_deletes_tombstones_and_breaks_old_versions(spark, tmp_path):
    src = _orders(spark, 300).repartition(6)
    t = DeltaishTable.create(spark, str(tmp_path / "t"), src)
    t.optimize()
    tombs = list(t._snapshot().tombstones)
    assert tombs
    deleted = t.vacuum(retention_hours=0.0, enforce_retention=False)
    assert sorted(deleted) == sorted(tombs)
    for p in deleted:
        assert not os.path.exists(os.path.join(t.path, p))
    # current snapshot unaffected; pre-compaction versions now broken
    assert t.read().count() == 300
    assert t.history()[-1]["operation"] == "VACUUM END"
    with pytest.raises(Exception):
        t.read(version=0).collect()


def test_zorder_clusters_both_columns(spark, tmp_path):
    src = _orders(spark).repartition(6)
    t = DeltaishTable.create(spark, str(tmp_path / "t"), src)
    t.zorder_by(["o_custkey", "o_orderkey"], n_files=6)
    assert _rows(t.read()) == _rows(src)
    n_live = len(t._snapshot().files)
    lo, hi = 1, 30
    pruned = t.files_matching("o_custkey", lo, hi)
    assert len(pruned) < n_live, "z-order must make custkey stats selective"
    want = src.filter(F.col("o_custkey").between(lo, hi))
    assert _rows(t.read_pruned("o_custkey", lo, hi)) == _rows(want)


def test_streaming_sink_one_commit_per_batch(spark, tmp_path):
    ev = (
        load_table(spark, SF_DIR, "events")
        .select("event_id", "user_id", "event_type", "ts")
        .limit(300)
    )
    src_dir = str(tmp_path / "stream_src")
    ev.repartition(3).write.parquet(src_dir)
    t = DeltaishTable.create(
        spark, str(tmp_path / "t"), ev.limit(0)
    )
    stream = (
        spark.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src_dir)
    )
    q = (
        stream.writeStream.foreachBatch(t.streaming_sink())
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(300)
    assert t.read().count() == 300
    assert t.version >= 3, "one commit per non-empty micro-batch"
    stats = commit_stats_df(spark, t.path, "ts")
    got = stats.agg(F.sum("numRecords")).collect()[0][0]
    assert got == 300
    assert stats.filter(F.col("min_event").isNull() & (F.col("numRecords") > 0)).count() == 0


def test_reads_delta_spark_style_log(spark, tmp_path):
    """A minimal _delta_log handwritten in the exact shape delta-spark
    emits (ndjson actions, stats as a JSON string) must be readable —
    pinning compatibility with real Delta tables."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    root = tmp_path / "ext"
    root.mkdir()
    data = pa.table({"id": [1, 2, 3], "v": ["a", "b", "c"]})
    fname = "part-00000-abc123.snappy.parquet"
    pq.write_table(data, str(root / fname))
    schema_string = json.dumps(
        {
            "type": "struct",
            "fields": [
                {"name": "id", "type": "long", "nullable": True, "metadata": {}},
                {"name": "v", "type": "string", "nullable": True, "metadata": {}},
            ],
        }
    )
    log_dir = root / "_delta_log"
    log_dir.mkdir()
    actions = [
        {"protocol": {"minReaderVersion": 1, "minWriterVersion": 2}},
        {
            "metaData": {
                "id": "00000000-0000-0000-0000-000000000000",
                "format": {"provider": "parquet", "options": {}},
                "schemaString": schema_string,
                "partitionColumns": [],
                "configuration": {},
                "createdTime": 1700000000000,
            }
        },
        {
            "add": {
                "path": fname,
                "partitionValues": {},
                "size": os.path.getsize(str(root / fname)),
                "modificationTime": 1700000000000,
                "dataChange": True,
                "stats": json.dumps(
                    {
                        "numRecords": 3,
                        "minValues": {"id": 1, "v": "a"},
                        "maxValues": {"id": 3, "v": "c"},
                    }
                ),
            }
        },
        {
            "commitInfo": {
                "timestamp": 1700000000000,
                "operation": "WRITE",
                "operationParameters": {"mode": "ErrorIfExists"},
            }
        },
    ]
    with open(log_dir / f"{0:020d}.json", "w") as f:
        for a in actions:
            f.write(json.dumps(a) + "\n")
    t = DeltaishTable(spark, str(root))
    assert _rows(t.read()) == [("1", "a"), ("2", "b"), ("3", "c")]
    assert t.files_matching("id", 5, 9) == []
    assert t.history()[0]["operation"] == "WRITE"


def test_scd2_choreography_on_real_log(spark, tmp_path):
    """populate_dim's two-merge SCD-2 lifecycle against the real log
    must equal the single-shot DataFrame algebra (dims/scd2.scd2_apply)
    row-for-row, and leave an auditable MERGE + WRITE history."""
    from lakehouse_for_data_streaming_and_analysis_spark.dims import scd2

    n = load_table(spark, SF_DIR, "nation")
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

    t = DeltaishTable.create(spark, str(tmp_path / "dim"), d1)
    got = scd2.scd2_apply_delta(t, c2, "coin_id", "2024-02-01")
    want = scd2.scd2_apply(d1, c2, "coin_id", "2024-02-01")
    assert _rows(got) == _rows(want)
    ops = [h["operation"] for h in t.history()]
    assert ops == ["CREATE TABLE AS SELECT", "MERGE", "WRITE"]
    # idempotency on the log too: re-applying the same snapshot is a no-op
    again = scd2.scd2_apply_delta(t, c2, "coin_id", "2024-03-01")
    assert _rows(again) == _rows(want)


def test_as_stream_reads_appends_and_guards_compaction(spark, tmp_path):
    """Table-as-stream (bronze re-read pattern): an append-only
    Deltaish table streams every committed row; after OPTIMIZE the
    guard refuses (a plain file stream would double-count compacted
    files)."""
    src = _orders(spark).filter(F.col("o_orderkey") <= 800)
    n_total = src.count()
    t = DeltaishTable.create(
        spark, str(tmp_path / "t"), src.filter(F.col("o_orderkey") <= 400)
    )
    t.append(src.filter(F.col("o_orderkey") > 400))
    q = (
        t.as_stream()
        .groupBy()
        .count()
        .writeStream.outputMode("complete")
        .format("memory")
        .queryName("deltaish_stream_counts")
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(300)
    got = spark.table("deltaish_stream_counts").collect()[0]["count"]
    assert got == n_total
    t.optimize()
    with pytest.raises(ValueError, match="append-only"):
        t.as_stream()


def test_txn_action_makes_retries_exactly_once(spark, tmp_path):
    """Delta's txnAppId/txnVersion idempotence: redelivering a
    micro-batch (foreachBatch retry after a sink failure) must not
    duplicate rows; a NEW batch id still lands."""
    src = _orders(spark).filter(F.col("o_orderkey") <= 600)
    t = DeltaishTable.create(spark, str(tmp_path / "t"), src.limit(0))
    sink = t.streaming_sink(txn_app_id="fact_writer")
    b0 = src.filter(F.col("o_orderkey") <= 300)
    b1 = src.filter(F.col("o_orderkey") > 300)
    assert b0.count() > 0 and b1.count() > 0
    sink(b0, 0)
    sink(b1, 1)
    n = t.read().count()
    sink(b0, 0)  # redelivery of an already-committed batch
    sink(b1, 1)
    assert t.read().count() == n
    assert t.last_txn_version("fact_writer") == 1
    sink(b0.limit(5), 2)  # genuinely new batch id
    assert t.read().count() == n + 5
    assert t.last_txn_version("fact_writer") == 2
    # a different appId has its own watermark
    assert t.last_txn_version("other_app") == -1


def test_schema_enforcement_rejects_unknown_and_type_changes(spark, tmp_path):
    src = _orders(spark, 100)
    t = DeltaishTable.create(spark, str(tmp_path / "t"), src)
    with pytest.raises(ValueError, match="not in the table schema"):
        t.append(src.withColumn("surprise", F.lit(1)))
    with pytest.raises(ValueError, match="type change"):
        t.append(src.withColumn("o_custkey", F.col("o_custkey").cast("string")))


def test_merge_schema_evolution_and_time_travel_schema(spark, tmp_path):
    """mergeSchema append: new nullable column lands in the table
    schema; rows from pre-evolution files read back null; the
    pre-evolution VERSION still carries the old schema."""
    src = _orders(spark).filter(F.col("o_orderkey") <= 400)
    t = DeltaishTable.create(spark, str(tmp_path / "t"), src)
    newer = (
        _orders(spark)
        .filter((F.col("o_orderkey") > 400) & (F.col("o_orderkey") <= 800))
        .withColumn("priority_rank", (F.col("o_orderkey") % 5).cast("int"))
    )
    t.append(newer, merge_schema=True)
    cur = t.read()
    assert cur.columns == [*src.columns, "priority_rank"]
    old_rows = cur.filter(F.col("o_orderkey") <= 400)
    assert old_rows.filter(F.col("priority_rank").isNotNull()).count() == 0
    assert old_rows.count() == src.count()
    got_new = cur.filter(F.col("o_orderkey") > 400)
    assert _rows(got_new) == _rows(newer)
    # time travel resurrects the pre-evolution schema
    assert t.read(version=0).columns == src.columns


def test_overwrite_schema_replaces_schema(spark, tmp_path):
    src = _orders(spark, 100)
    t = DeltaishTable.create(spark, str(tmp_path / "t"), src)
    slim = src.select("o_orderkey", "o_totalprice")
    with pytest.raises(ValueError):
        t.overwrite(slim.withColumnRenamed("o_totalprice", "price"))
    t.overwrite(
        slim.withColumnRenamed("o_totalprice", "price"),
        overwrite_schema=True,
    )
    assert t.read().columns == ["o_orderkey", "price"]
    assert t.read().count() == 100
    assert t.read(version=0).columns == src.columns


def test_checkpoint_resumes_without_early_commits(spark, tmp_path):
    """Every 10th commit writes a parquet checkpoint + _last_checkpoint;
    a reader resumes from it and replays only later JSON commits —
    proven by deleting the pre-checkpoint JSONs and reading anyway."""
    src = _orders(spark).filter(F.col("o_orderkey") <= 1300)
    t = DeltaishTable.create(
        spark, str(tmp_path / "t"), src.filter(F.col("o_orderkey") <= 100)
    )
    for i in range(1, 13):
        t.append(
            src.filter(
                (F.col("o_orderkey") > i * 100)
                & (F.col("o_orderkey") <= (i + 1) * 100)
            )
        )
    assert t.version == 12
    assert dlog.last_checkpoint_version(t.path) == 10
    assert os.path.exists(dlog.checkpoint_file(t.path, 10))
    want = _rows(src)
    assert _rows(t.read()) == want
    # the checkpoint stands in for history: drop JSON commits 0-9
    for v in range(10):
        os.remove(dlog.version_file(t.path, v))
    assert _rows(t.read()) == want
    assert t.version == 12


def test_changes_between_feeds_incremental_maintenance(spark, tmp_path):
    """Change feed: the rows added in (v_from, v_to] drive incremental
    aggregate maintenance — base aggregate + delta aggregate must equal
    the full recompute. Compaction commits are invisible to the feed;
    data-removing commits refuse (no pre-images)."""
    src = _orders(spark).filter(F.col("o_orderkey") <= 900)
    b0 = src.filter(F.col("o_orderkey") <= 300)
    b1 = src.filter((F.col("o_orderkey") > 300) & (F.col("o_orderkey") <= 600))
    b2 = src.filter(F.col("o_orderkey") > 600)
    t = DeltaishTable.create(spark, str(tmp_path / "t"), b0.repartition(3))
    v0 = t.version
    t.append(b1.repartition(2))
    t.optimize()  # dataChange=false — must NOT appear in the feed
    t.append(b2)
    delta = t.changes_between(v0, t.version)
    assert _rows(delta) == _rows(b1.unionByName(b2))
    # incremental maintenance: base agg + delta agg == full recompute
    def agg(df):
        return df.groupBy("o_orderstatus").agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("o_totalprice").cast("decimal(18,2)")).alias("tp"),
        )
    merged = (
        agg(b0).unionByName(agg(delta))
        .groupBy("o_orderstatus")
        .agg(F.sum("n").alias("n"), F.sum("tp").alias("tp"))
    )
    full = (
        agg(t.read())
        .select("o_orderstatus", "n", F.col("tp").cast("decimal(28,2)").alias("tp"))
    )
    assert _rows(merged) == _rows(full)
    # merge rewrites files -> the feed refuses over that range
    t.merge(
        b0.limit(5).withColumn("o_totalprice", F.col("o_totalprice") * 2),
        ["o_orderkey"],
    )
    with pytest.raises(ValueError, match="pre-images"):
        t.changes_between(v0, t.version)


def test_timestamp_time_travel(spark, tmp_path):
    src = _orders(spark, 200)
    t = DeltaishTable.create(spark, str(tmp_path / "t"), src)
    t0 = [a for a in dlog.read_commit(t.path, 0) if "commitInfo" in a][0][
        "commitInfo"
    ]["timestamp"]
    t.append(src.limit(10))
    t1 = [a for a in dlog.read_commit(t.path, 1) if "commitInfo" in a][0][
        "commitInfo"
    ]["timestamp"]
    assert t.version_as_of_timestamp(t0) == 0
    assert t.version_as_of_timestamp(t1) == 1
    assert t.version_as_of_timestamp(t1 + 10_000) == 1
    assert t.read_as_of_timestamp(t0).count() == 200
    with pytest.raises(ValueError, match="no commit"):
        t.version_as_of_timestamp(t0 - 1)


def test_zorder_within_partitions(spark, tmp_path):
    src = _orders(spark).repartition(4)
    t = DeltaishTable.create(
        spark, str(tmp_path / "t"), src, partition_by=("o_orderstatus",)
    )
    with pytest.raises(ValueError, match="partition columns"):
        t.zorder_by(["o_orderstatus"])
    t.zorder_by(["o_custkey"], n_files=4)
    assert _rows(t.read()) == _rows(src)
    # files remain scoped to their partitions and custkey stats got
    # selective inside each
    snap = t._snapshot()
    assert all(a["partitionValues"] for a in snap.files.values())
    pruned = t.files_matching("o_custkey", 1, 25)
    assert len(pruned) < len(snap.files)
    want = src.filter(F.col("o_custkey").between(1, 25))
    assert _rows(t.read_pruned("o_custkey", 1, 25)) == _rows(want)
    # a partition whose z-column is all NULL has no bounds; it still
    # clusters (on the other partitions' terms) and keeps its rows
    is_p = F.col("o_orderstatus") == "P"
    cust_t = dict(src.dtypes)["o_custkey"]
    t.update(is_p, {"o_custkey": F.lit(None).cast(cust_t)})
    t.zorder_by(["o_custkey"], n_files=4)
    want = src.withColumn(
        "o_custkey", F.when(~is_p, F.col("o_custkey")).cast(cust_t)
    )
    assert _rows(t.read()) == _rows(want)


def test_upsert_sink_cdc_apply(spark, tmp_path):
    """MERGE-per-micro-batch CDC apply: per-key latest wins within a
    batch (by change sequence), later batches update earlier state in
    place, redelivered batches are skipped, and a re-merge of an
    identical batch is idempotent."""
    base = _orders(spark).filter(F.col("o_orderkey") <= 200).select(
        "o_orderkey", "o_totalprice"
    ).withColumn("seq", F.lit(0).cast("long"))
    t = DeltaishTable.create(spark, str(tmp_path / "t"), base)
    sink = t.upsert_sink(["o_orderkey"], "seq", txn_app_id="cdc")
    # batch 0: two versions of the same keys — seq 2 must win
    k = F.col("o_orderkey") <= 50
    b0 = (
        base.filter(k).withColumn("o_totalprice", F.lit(1.0)).withColumn("seq", F.lit(1).cast("long"))
        .unionByName(
            base.filter(k).withColumn("o_totalprice", F.lit(2.0)).withColumn("seq", F.lit(2).cast("long"))
        )
    )
    sink(b0, 0)
    cur = t.read()
    assert cur.filter(k & (F.col("o_totalprice") != 2.0)).count() == 0
    assert cur.filter(k).count() == base.filter(k).count()
    n_after_b0 = cur.count()
    v_after_b0 = t.version
    # redelivery of batch 0: no new commits, no changes
    sink(b0, 0)
    assert t.version == v_after_b0
    # batch 1: updates + brand-new keys
    b1 = (
        base.filter(F.col("o_orderkey") <= 20)
        .withColumn("o_totalprice", F.lit(3.0))
        .withColumn("seq", F.lit(3).cast("long"))
        .unionByName(
            base.limit(5)
            .withColumn("o_orderkey", F.col("o_orderkey") + 10**7)
            .withColumn("seq", F.lit(3).cast("long"))
        )
    )
    sink(b1, 1)
    cur = t.read()
    assert cur.count() == n_after_b0 + 5
    assert (
        cur.filter(
            (F.col("o_orderkey") <= 20) & (F.col("o_totalprice") != 3.0)
        ).count()
        == 0
    )
    assert t.last_txn_version("cdc") == 1


# ------------------------------------------------------- round-3 hardening


def test_optimize_preserves_evolved_column(spark, tmp_path):
    """Compacting a mix of pre- and post-evolution files must keep the
    evolved column's values: the compaction read uses the snapshot's
    DECLARED schema, not inference from one file's footer (which would
    silently null the column inside a dataChange=false commit)."""
    src = _orders(spark).filter(F.col("o_orderkey") <= 300)
    t = DeltaishTable.create(spark, str(tmp_path / "t"), src.repartition(4))
    newer = (
        _orders(spark)
        .filter((F.col("o_orderkey") > 300) & (F.col("o_orderkey") <= 600))
        .withColumn("priority_rank", (F.col("o_orderkey") % 5).cast("int"))
    )
    t.append(newer.repartition(4), merge_schema=True)
    n_new = newer.count()
    assert t.read().filter(F.col("priority_rank").isNotNull()).count() == n_new
    t.optimize()
    cur = t.read()
    assert cur.filter(F.col("priority_rank").isNotNull()).count() == n_new
    assert _rows(cur.filter(F.col("o_orderkey") > 300)) == _rows(newer)
    # old rows still read the evolved column as null
    assert (
        cur.filter((F.col("o_orderkey") <= 300) & F.col("priority_rank").isNotNull()).count()
        == 0
    )


def test_partitioned_zorder_preserves_evolved_column(spark, tmp_path):
    """Same evolution hazard on the partitioned Z-ORDER branch (its
    per-partition rewrite also read with inferred schema)."""
    src = _orders(spark).filter(F.col("o_orderkey") <= 400)
    t = DeltaishTable.create(
        spark, str(tmp_path / "t"), src.repartition(3),
        partition_by=("o_orderstatus",),
    )
    newer = (
        _orders(spark)
        .filter((F.col("o_orderkey") > 400) & (F.col("o_orderkey") <= 800))
        .withColumn("priority_rank", (F.col("o_orderkey") % 5).cast("int"))
    )
    t.append(newer.repartition(3), merge_schema=True)
    t.zorder_by(["o_custkey"], n_files=2)
    cur = t.read()
    assert cur.filter(F.col("priority_rank").isNotNull()).count() == newer.count()
    assert _rows(cur.filter(F.col("o_orderkey") > 400)) == _rows(newer)


def test_date_partitioned_pruning_and_merge(spark, tmp_path):
    """Partition-directory values are parsed at the DECLARED column
    type: date-partitioned tables prune and MERGE on the partition
    column instead of raising TypeError on str/date comparison."""
    import datetime as dt

    daily = (
        load_table(spark, SF_DIR, "orders")
        .groupBy(F.to_date("o_orderdate").alias("o_date"))
        .agg(F.count(F.lit(1)).cast("long").alias("n_orders"))
        .filter(F.col("o_date") < F.lit("1995-04-01"))
    )
    t = DeltaishTable.create(
        spark, str(tmp_path / "t"), daily, partition_by=("o_date",)
    )
    lo, hi = dt.date(1995, 2, 1), dt.date(1995, 2, 28)
    want = daily.filter(F.col("o_date").between(F.lit(lo), F.lit(hi)))
    n_want = want.count()
    assert n_want > 0
    matched = t.files_matching("o_date", lo, hi)
    assert 0 < len(matched) < len(t._snapshot().files)
    assert _rows(t.read_pruned("o_date", lo, hi)) == _rows(want)
    # MERGE keyed on the date partition column: file pruning via typed
    # partition values, only the February files rewritten
    updates = want.withColumn("n_orders", F.col("n_orders") + 1000)
    t.merge(updates, ["o_date"])
    cur = t.read()
    assert cur.filter(F.col("n_orders") >= 1000).count() == n_want
    last = t.history()[-1]
    assert last["operation"] == "MERGE"
    assert last["n_files_removed"] == len(matched)


def test_merge_conflicts_with_concurrent_append(spark, tmp_path, monkeypatch):
    """OCC conflict matrix, append-vs-rewrite: an append landing
    between MERGE's snapshot read and its commit makes the merge's
    inputs stale (its keys were never considered), so the merge FAILS
    with ConcurrentCommitError instead of committing over it."""
    src = _orders(spark).filter(F.col("o_orderkey") <= 200)
    extra = _orders(spark).filter(
        (F.col("o_orderkey") > 200) & (F.col("o_orderkey") <= 250)
    )
    t = DeltaishTable.create(spark, str(tmp_path / "t"), src)
    orig = DeltaishTable._write_files
    fired = {"done": False}

    def hook(self, df, partition_by=(), **kw):
        if not fired["done"]:
            fired["done"] = True
            DeltaishTable(spark, t.path).append(extra)
        return orig(self, df, partition_by, **kw)

    monkeypatch.setattr(DeltaishTable, "_write_files", hook)
    updates = src.limit(10).withColumn("o_totalprice", F.lit(1.0))
    with pytest.raises(ConcurrentCommitError, match="changed data files"):
        t.merge(updates, ["o_orderkey"])
    # the concurrent append IS committed; the merge is not
    assert _rows(t.read()) == _rows(src.unionByName(extra))
    # re-running the merge against the fresh snapshot succeeds
    t.merge(updates, ["o_orderkey"])
    assert t.read().filter(F.col("o_totalprice") == 1.0).count() == 10


def test_rewrite_conflicts_with_concurrent_rewrite(spark, tmp_path, monkeypatch):
    """OCC conflict matrix, rewrite-vs-rewrite: two overwrites from the
    same snapshot — the loser must fail, never silently double-remove."""
    src = _orders(spark, 120)
    t = DeltaishTable.create(spark, str(tmp_path / "t"), src)
    orig = DeltaishTable._write_files
    fired = {"done": False}

    def hook(self, df, partition_by=(), **kw):
        if not fired["done"]:
            fired["done"] = True
            DeltaishTable(spark, t.path).overwrite(src.limit(30))
        return orig(self, df, partition_by, **kw)

    monkeypatch.setattr(DeltaishTable, "_write_files", hook)
    with pytest.raises(ConcurrentCommitError, match="changed data files"):
        t.overwrite(src.limit(60))
    assert t.read().count() == 30  # the first overwrite won
    t.overwrite(src.limit(60))  # retry on the fresh snapshot
    assert t.read().count() == 60


def test_commit_next_read_version_gate(spark, tmp_path):
    """Direct pin of the conflict check: a data-changing commit after
    read_version fails the rewrite; pure commitInfo commits do not."""
    src = _orders(spark, 80)
    t = DeltaishTable.create(spark, str(tmp_path / "t"), src)
    read_v = t.version
    dlog.write_commit(t.path, read_v + 1, [dlog.commit_info("NOOP")])
    # metadata-only commit in between: rewrite may proceed
    v = t._commit_next([dlog.commit_info("PROBE")], read_version=read_v)
    assert v == read_v + 2
    t.append(src.limit(5))
    with pytest.raises(ConcurrentCommitError, match="changed data files"):
        t._commit_next([dlog.commit_info("PROBE")], read_version=read_v)


def test_txn_watermark_survives_checkpoint_truncation(spark, tmp_path):
    """Exactly-once watermarks are checkpointed (spec SetTransaction):
    after the log's pre-checkpoint JSON commits are deleted, the
    watermark still resolves and a redelivered batch is still
    skipped."""
    src = _orders(spark).filter(F.col("o_orderkey") <= 1300)
    t = DeltaishTable.create(
        spark, str(tmp_path / "t"), src.filter(F.col("o_orderkey") <= 100)
    )
    sink = t.streaming_sink(txn_app_id="ckpt_writer")
    batches = [
        src.filter(
            (F.col("o_orderkey") > i * 100)
            & (F.col("o_orderkey") <= (i + 1) * 100)
        )
        for i in range(1, 13)
    ]
    for i, b in enumerate(batches):
        sink(b, i)
    assert t.version == 12
    assert dlog.last_checkpoint_version(t.path) == 10
    n = t.read().count()
    for v in range(10):
        os.remove(dlog.version_file(t.path, v))
    assert t.last_txn_version("ckpt_writer") == 11
    sink(batches[0], 0)  # redelivery of a TRUNCATED batch id
    sink(batches[11], 11)
    assert t.read().count() == n
    sink(batches[0].limit(7), 12)  # new batch id still lands
    assert t.read().count() == n + 7


def test_schema_evolution_reads_through_checkpoint(spark, tmp_path):
    """Evolved metaData must round-trip the parquet checkpoint: after
    truncating the JSON commit that carried the evolution, reads still
    see the evolved schema with nulls for pre-evolution files."""
    src = _orders(spark).filter(F.col("o_orderkey") <= 200)
    t = DeltaishTable.create(spark, str(tmp_path / "t"), src)
    newer = (
        _orders(spark)
        .filter((F.col("o_orderkey") > 200) & (F.col("o_orderkey") <= 400))
        .withColumn("priority_rank", (F.col("o_orderkey") % 5).cast("int"))
    )
    t.append(newer, merge_schema=True)  # v1 carries the evolution
    filler = _orders(spark).filter(F.col("o_orderkey") > 400).limit(20)
    filler_e = filler.withColumn("priority_rank", F.lit(None).cast("int"))
    for _ in range(9):
        t.append(filler_e)
    assert t.version >= 10
    assert dlog.last_checkpoint_version(t.path) == 10
    want = _rows(t.read())
    for v in range(10):
        os.remove(dlog.version_file(t.path, v))
    cur = t.read()
    assert cur.columns == [*src.columns, "priority_rank"]
    assert _rows(cur) == want
    assert (
        cur.filter((F.col("o_orderkey") <= 200) & F.col("priority_rank").isNotNull()).count()
        == 0
    )


def test_changes_between_vacuumed_range_raises(spark, tmp_path):
    """A change-feed range whose added files were later removed and
    VACUUMed fails with a clear expired-range error, not a partial
    feed or a mid-scan crash."""
    src = _orders(spark, 200)
    t = DeltaishTable.create(spark, str(tmp_path / "t"), src.limit(50))
    v0 = t.version
    t.append(src.limit(80))        # v1: adds files inside the range
    v1 = t.version
    t.overwrite(src.limit(30))     # v2: removes v1's files (outside range)
    t.vacuum(retention_hours=0.0, enforce_retention=False)  # physically deletes them
    with pytest.raises(ValueError, match="vacuumed"):
        t.changes_between(v0, v1)


def test_failed_write_leaves_no_staging_or_orphans(spark, tmp_path):
    """An aborted Spark write cleans up: no _staging-* dirs and no
    data files beyond those the log references."""
    src = _orders(spark, 100)
    t = DeltaishTable.create(spark, str(tmp_path / "t"), src)
    poisoned = src.withColumn(
        "o_totalprice",
        F.when(F.col("o_orderkey") >= 0, F.raise_error(F.lit("boom"))).otherwise(
            F.col("o_totalprice")
        ),
    )
    with pytest.raises(Exception, match="boom"):
        t.append(poisoned)
    entries = os.listdir(t.path)
    assert not [e for e in entries if e.startswith("_staging-")]
    live = set(t._snapshot().files)
    on_disk = {
        os.path.relpath(os.path.join(r, fn), t.path)
        for r, _d, fns in os.walk(t.path)
        for fn in fns
        if fn.endswith(".parquet") and "_delta_log" not in r
    }
    assert on_disk == live
    assert _rows(t.read()) == _rows(src)


# ------------------------------------------------------------ RESTORE


def test_restore_undoes_overwrite_preserving_history(spark, tmp_path):
    src = _orders(spark, 400)
    lo = src.filter(F.col("o_orderkey") <= 1000)
    t = DeltaishTable.create(spark, str(tmp_path / "t"), lo)
    t.append(src.filter(F.col("o_orderkey") > 1000))  # v1: full set
    t.overwrite(lo.withColumn("o_totalprice", F.col("o_totalprice") * 0))
    v3 = t.restore(1)
    assert v3 == 3
    # live state is back to v1...
    assert _rows(t.read()) == _rows(t.read(version=1))
    assert _rows(t.read()) == _rows(src)
    # ...and history is preserved: the restored-over overwrite is
    # still time-travelable, and RESTORE appears as its own commit
    assert _rows(t.read(version=2).select("o_totalprice").distinct()) == [
        ("0E-10",)
    ] or t.read(version=2).agg(F.sum("o_totalprice")).collect()[0][0] == 0
    assert t.history()[-1]["operation"] == "RESTORE"


def test_restore_recovers_pre_evolution_schema(spark, tmp_path):
    src = _orders(spark, 200)
    t = DeltaishTable.create(spark, str(tmp_path / "t"), src)
    t.append(
        src.withColumn("o_channel", F.lit("web")), merge_schema=True
    )  # v1 evolves schema
    assert "o_channel" in t.read().columns
    t.restore(0)
    assert "o_channel" not in t.read().columns
    assert _rows(t.read()) == _rows(src)
    # restoring FORWARD to the evolved version works too
    t.restore(1)
    assert "o_channel" in t.read().columns


def test_restore_to_vacuumed_version_raises(spark, tmp_path):
    src = _orders(spark, 200)
    t = DeltaishTable.create(spark, str(tmp_path / "t"), src)
    t.overwrite(src.filter(F.col("o_orderkey") % 2 == 0))
    t.vacuum(retention_hours=0.0, enforce_retention=False)  # v0's files are gone
    v_before = t.version
    with pytest.raises(FileNotFoundError, match="vacuumed"):
        t.restore(0)
    # table unharmed: no partial commit happened
    assert t.version == v_before


def test_restore_conflicts_with_concurrent_append(spark, tmp_path):
    src = _orders(spark, 300)
    lo = src.filter(F.col("o_orderkey") <= 1000)
    t = DeltaishTable.create(spark, str(tmp_path / "t"), lo)
    t.overwrite(src)
    orig = t._snapshot

    def racing(version=None):
        snap = orig(version)
        if version is None and not getattr(racing, "_fired", False):
            racing._fired = True
            # must append actual ROWS: a zero-row append commits no
            # add actions and correctly does NOT conflict with RESTORE
            DeltaishTable(spark, t.path).append(
                src.withColumn(
                    "o_orderkey", F.col("o_orderkey") + 10_000_000
                )
            )
        return snap

    t._snapshot = racing  # type: ignore[method-assign]
    with pytest.raises(ConcurrentCommitError):
        t.restore(0)


# ------------------------------------------------------ CHECK constraints


def test_check_constraint_lifecycle(spark, tmp_path):
    src = _orders(spark, 200)
    t = DeltaishTable.create(spark, str(tmp_path / "t"), src)
    t.add_check_constraint("price_positive", "o_totalprice > 0")
    assert t.check_constraints() == {"price_positive": "o_totalprice > 0"}
    # valid append passes
    t.append(src.withColumn("o_orderkey", F.col("o_orderkey") + 10_000_000))
    # violating append is rejected BEFORE any commit
    v = t.version
    with pytest.raises(ValueError, match="price_positive"):
        t.append(src.withColumn("o_totalprice", F.lit(-1.0)))
    assert t.version == v
    # violating merge is rejected too
    with pytest.raises(ValueError, match="price_positive"):
        t.merge(
            src.limit(5).withColumn("o_totalprice", F.lit(-5.0)),
            ["o_orderkey"],
        )
    # drop, then the same write succeeds
    t.drop_check_constraint("price_positive")
    assert t.check_constraints() == {}
    t.append(
        src.limit(5)
        .withColumn("o_orderkey", F.col("o_orderkey") + 20_000_000)
        .withColumn("o_totalprice", F.lit(-1.0))
    )


def test_add_check_constraint_validates_existing_data(spark, tmp_path):
    src = _orders(spark, 100)
    t = DeltaishTable.create(
        spark, str(tmp_path / "t"), src.withColumn("o_totalprice", F.lit(-1.0))
    )
    with pytest.raises(ValueError, match="violated"):
        t.add_check_constraint("pp", "o_totalprice > 0")
    assert t.check_constraints() == {}


def test_check_constraint_null_passes_and_survives_restore(spark, tmp_path):
    src = _orders(spark, 100)
    t = DeltaishTable.create(spark, str(tmp_path / "t"), src)
    t.add_check_constraint("status_known", "o_orderstatus IN ('O','F','P')")
    # NULL evaluates to UNKNOWN -> passes, per SQL CHECK semantics
    t.append(
        src.limit(3)
        .withColumn("o_orderkey", F.col("o_orderkey") + 30_000_000)
        .withColumn("o_orderstatus", F.lit(None).cast("string"))
    )
    # restore to v0 drops the constraint with the metadata
    t.restore(0)
    assert t.check_constraints() == {}


def test_check_constraint_on_omitted_column(spark, tmp_path):
    """Delta evaluates CHECKs over missing columns as NULL: an
    `IS NOT NULL` constraint must reject a writer that omits the
    column, while a plain predicate passes as UNKNOWN."""
    src = _orders(spark, 100)
    t = DeltaishTable.create(spark, str(tmp_path / "t"), src)
    t.append(
        src.withColumn("o_orderkey", F.col("o_orderkey") + 1_000_000)
        .withColumn("o_channel", F.lit("web")),
        merge_schema=True,
    )
    # UNKNOWN passes: writers may still omit the evolved column
    t.add_check_constraint("chan_known", "o_channel IN ('web','app')")
    t.append(
        src.limit(5).withColumn("o_orderkey", F.col("o_orderkey") + 2_000_000)
    )
    t.drop_check_constraint("chan_known")
    # IS NOT NULL rejects the omitting writer (the column materializes
    # as NULL and the CHECK evaluates to false)...
    with pytest.raises(ValueError, match="violated"):
        t.add_check_constraint("chan_required", "o_channel IS NOT NULL")
    # (existing data already has nulls from the pre-evolution files,
    # so even ADD fails - prove the write path too, on a fresh table)
    t2 = DeltaishTable.create(
        spark,
        str(tmp_path / "t2"),
        src.withColumn("o_channel", F.lit("web")),
    )
    t2.add_check_constraint("chan_required", "o_channel IS NOT NULL")
    with pytest.raises(ValueError, match="chan_required"):
        t2.append(
            src.limit(5).withColumn(
                "o_orderkey", F.col("o_orderkey") + 3_000_000
            )
        )


def test_restore_across_optimize_reverts_file_layout(spark, tmp_path):
    """RESTORE to a pre-OPTIMIZE version re-adds the original small
    files (they are tombstoned, not deleted, until VACUUM) and the
    data is unchanged either way."""
    src = _orders(spark, 400).repartition(8)
    t = DeltaishTable.create(spark, str(tmp_path / "t"), src)
    n0 = len(t._snapshot().files)
    t.optimize()
    assert len(t._snapshot().files) < n0
    t.restore(0)
    assert len(t._snapshot().files) == n0
    assert _rows(t.read()) == _rows(src)


def test_restore_marks_readded_files_data_change(spark, tmp_path):
    """Delta's RESTORE marks every re-surfaced add dataChange=true even
    when the file originally landed via OPTIMIZE (dataChange=false):
    to an incremental consumer the restored rows ARE new data, and
    preserving the stored flag would make change readers skip them."""
    src = _orders(spark, 300).repartition(6)
    t = DeltaishTable.create(spark, str(tmp_path / "t"), src)
    t.optimize()  # v1: adds carry dataChange=false
    t.overwrite(src.limit(40))  # v2
    v = t.restore(1)  # re-adds the v1 optimized file(s)
    adds = [
        a["add"]
        for a in dlog.read_commit(t.path, v)
        if "add" in a
    ]
    assert adds, "restore must re-add the optimized files"
    assert all(a["dataChange"] is True for a in adds)
    removes = [
        a["remove"] for a in dlog.read_commit(t.path, v) if "remove" in a
    ]
    assert all(r["dataChange"] is True for r in removes)
    assert _rows(t.read()) == _rows(src)


def test_append_conflicts_with_concurrent_constraint(
    spark, tmp_path, monkeypatch
):
    """OCC conflict matrix, append-vs-metadata: an ADD CONSTRAINT (or
    any metaData commit) landing between an append's snapshot read and
    its commit invalidates the append's validation — Delta fails these
    with MetadataChangedException; the blind append retry must NOT let
    rows violating the new constraint land unvalidated."""
    src = _orders(spark, 100)
    t = DeltaishTable.create(spark, str(tmp_path / "t"), src)
    bad = src.limit(5).withColumn("o_totalprice", F.lit(-1.0))
    orig = DeltaishTable._write_files
    fired = {"done": False}

    def hook(self, df, partition_by=(), **kw):
        if not fired["done"]:
            fired["done"] = True
            DeltaishTable(spark, t.path).add_check_constraint(
                "pos_price", "o_totalprice >= 0"
            )
        return orig(self, df, partition_by, **kw)

    monkeypatch.setattr(DeltaishTable, "_write_files", hook)
    # the first ADD CONSTRAINT also upgrades the protocol
    # (checkConstraints writer feature), and the protocol conflict
    # check runs first — Delta's priority order — so either exception
    # class is a correct refusal here
    with pytest.raises(ConcurrentCommitError, match="metadata|protocol"):
        t.append(bad)
    # the constraint is live and the violating rows never landed
    assert t.check_constraints() == {"pos_price": "o_totalprice >= 0"}
    assert t.read().filter(F.col("o_totalprice") < 0).count() == 0
    # re-running against the fresh snapshot enforces the constraint
    with pytest.raises(ValueError, match="pos_price"):
        t.append(bad)


def _foreign_log(
    root, protocol, configuration, add_extra=None, phys_col=None,
    field_md=None,
):
    """Handwrite a minimal delta-spark-style log with the given
    protocol/configuration (shape pinned in
    test_reads_delta_spark_style_log). ``phys_col`` writes the parquet
    under that PHYSICAL column name and annotates the schema field the
    way delta-spark's name-mode column mapping does."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    root.mkdir()
    pq.write_table(
        pa.table({(phys_col or "id"): [1, 2, 3]}),
        str(root / "part-00000.parquet"),
    )
    md = (
        {"delta.columnMapping.id": 1,
         "delta.columnMapping.physicalName": phys_col}
        if phys_col
        else {}
    )
    md.update(field_md or {})
    schema_string = json.dumps(
        {
            "type": "struct",
            "fields": [
                {"name": "id", "type": "long", "nullable": True,
                 "metadata": md},
            ],
        }
    )
    add = {
        "path": "part-00000.parquet",
        "partitionValues": {},
        "size": os.path.getsize(str(root / "part-00000.parquet")),
        "modificationTime": 1700000000000,
        "dataChange": True,
    }
    if phys_col:
        add["stats"] = json.dumps(
            {
                "numRecords": 3,
                "minValues": {phys_col: 1},
                "maxValues": {phys_col: 3},
            }
        )
    add.update(add_extra or {})
    log_dir = root / "_delta_log"
    log_dir.mkdir()
    actions = [
        {"protocol": protocol},
        {
            "metaData": {
                "id": "00000000-0000-0000-0000-000000000001",
                "format": {"provider": "parquet", "options": {}},
                "schemaString": schema_string,
                "partitionColumns": [],
                "configuration": configuration,
            }
        },
        {"add": add},
        {"commitInfo": {"timestamp": 1700000000000, "operation": "WRITE"}},
    ]
    with open(log_dir / f"{0:020d}.json", "w") as f:
        for a in actions:
            f.write(json.dumps(a) + "\n")


def test_name_mode_column_mapping_reads_logical(spark, tmp_path):
    """NAME-mode column mapping (delta-spark's RENAME-friendly layout)
    is readable: the parquet stores the physical uuid column name, the
    schema field metadata maps it to the logical name, and read()
    returns logical columns. Stats-based skipping translates its
    lookup too (stats keys are physical). Writes PHYSICALIZE — the
    appended file stores the physical uuid column name (a
    logical-named file would read back all-null in delta-spark)."""
    phys = "col-9a1b2c3d-0000-4000-8000-deadbeef0001"
    _foreign_log(
        tmp_path / "cm",
        {
            "minReaderVersion": 2,
            "minWriterVersion": 5,
        },
        {"delta.columnMapping.mode": "name",
         "delta.columnMapping.maxColumnId": "1"},
        phys_col=phys,
    )
    t = DeltaishTable(spark, str(tmp_path / "cm"))
    got = t.read()
    assert got.columns == ["id"]
    assert sorted(r.id for r in got.collect()) == [1, 2, 3]
    # skipping consults the PHYSICAL stats keys under the logical name
    assert t.files_matching("id", 1, 3) == ["part-00000.parquet"]
    assert t.files_matching("id", 10, 20) == []
    assert _rows(t.read_pruned("id", 2, 3)) == [("2",), ("3",)]
    # writes physicalize: the new file's footer carries the PHYSICAL
    # column name, and the table reads back logical
    import pyarrow.parquet as pq

    got_rows = got.collect()
    t.append(spark.createDataFrame(got_rows, got.schema))
    assert sorted(r.id for r in t.read().collect()) == [1, 1, 2, 2, 3, 3]
    snap = t._snapshot()
    newest = max(
        snap.files, key=lambda p: snap.files[p]["modificationTime"]
    )
    assert pq.read_schema(str(tmp_path / "cm" / newest)).names == [phys]
    with pytest.raises(NotImplementedError, match="physical"):
        t.as_stream()


def test_id_mode_column_mapping_resolves_by_field_id(spark, tmp_path):
    """ID-mode resolves columns by PARQUET FIELD ID, not name: the
    file's internal column name deliberately differs from the
    metadata physicalName, so a name-based read would come back
    all-null — the field-id path (parquet.field.id read-schema
    metadata + spark.sql.parquet.fieldId.read.enabled) returns the
    data. Stats keys stay physical, so skipping still translates."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    root = tmp_path / "cmid"
    root.mkdir()
    phys = "col-9a1b2c3d-0000-4000-8000-deadbeef0002"
    # file column name ≠ physicalName: only field id 1 links them
    pq.write_table(
        pa.Table.from_arrays(
            [pa.array([1, 2, 3], type=pa.int64())],
            schema=pa.schema(
                [
                    pa.field(
                        "renamed-away",
                        pa.int64(),
                        metadata={b"PARQUET:field_id": b"1"},
                    )
                ]
            ),
        ),
        str(root / "part-00000.parquet"),
    )
    schema_string = json.dumps(
        {
            "type": "struct",
            "fields": [
                {
                    "name": "id",
                    "type": "long",
                    "nullable": True,
                    "metadata": {
                        "delta.columnMapping.id": 1,
                        "delta.columnMapping.physicalName": phys,
                    },
                }
            ],
        }
    )
    log_dir = root / "_delta_log"
    log_dir.mkdir()
    actions = [
        {"protocol": {"minReaderVersion": 2, "minWriterVersion": 5}},
        {
            "metaData": {
                "id": "00000000-0000-0000-0000-00000000cd01",
                "format": {"provider": "parquet", "options": {}},
                "schemaString": schema_string,
                "partitionColumns": [],
                "configuration": {
                    "delta.columnMapping.mode": "id",
                    "delta.columnMapping.maxColumnId": "1",
                },
            }
        },
        {
            "add": {
                "path": "part-00000.parquet",
                "partitionValues": {},
                "size": os.path.getsize(str(root / "part-00000.parquet")),
                "modificationTime": 1700000000000,
                "dataChange": True,
                "stats": json.dumps(
                    {
                        "numRecords": 3,
                        "minValues": {phys: 1},
                        "maxValues": {phys: 3},
                    }
                ),
            }
        },
        {"commitInfo": {"operation": "WRITE", "timestamp": 1700000000000}},
    ]
    with open(log_dir / "00000000000000000000.json", "w") as f:
        for a in actions:
            f.write(json.dumps(a) + "\n")

    t = DeltaishTable(spark, str(root))
    got = t.read()
    assert got.columns == ["id"]
    assert sorted(r.id for r in got.collect()) == [1, 2, 3]
    assert t.files_matching("id", 10, 20) == []
    assert _rows(t.read_pruned("id", 2, 3)) == [("2",), ("3",)]
    # id-mode writes attach the parquet field id to the physical
    # column, so the appended file is resolvable BY ID too
    got_rows = got.collect()
    t.append(spark.createDataFrame(got_rows, got.schema))
    assert sorted(r.id for r in t.read().collect()) == [1, 1, 2, 2, 3, 3]
    snap = t._snapshot()
    newest = max(
        snap.files, key=lambda p: snap.files[p]["modificationTime"]
    )
    fschema = pq.read_schema(str(root / newest))
    assert fschema.names == [phys]
    assert fschema.field(0).metadata[b"PARQUET:field_id"] == b"1"
    # OPTIMIZE resolves the renamed file BY ID too, and the compacted
    # file keeps the field id, so later reads still resolve
    t.optimize()
    snap = t._snapshot()
    assert len(snap.files) == 1
    assert sorted(r.id for r in t.read().collect()) == [1, 1, 2, 2, 3, 3]
    (compacted,) = snap.files
    fschema = pq.read_schema(str(root / compacted))
    assert fschema.field(0).metadata[b"PARQUET:field_id"] == b"1"


def test_partition_values_are_stored_unescaped(spark, tmp_path):
    """The log stores partition values as the Delta spec serializes
    them — not as Spark escapes them in directory names: '%XX' escapes
    decoded and the default-partition marker as JSON null. Skipping,
    DELETE, compaction and an independent reader all see the values."""
    from tools import minikernel as mk

    vals = ["a:b", None, "x y/z"]
    src = spark.createDataFrame(
        [(i, v) for i, v in enumerate(vals)], "k long, p string"
    )
    t = DeltaishTable.create(
        spark, str(tmp_path / "t"), src, partition_by=("p",)
    )

    def logged():
        return sorted(
            (a["partitionValues"]["p"] for a in t._snapshot().files.values()),
            key=str,
        )

    assert logged() == sorted(vals, key=str)
    assert len(t.files_matching("p", "a:b", "a:b")) == 1
    assert sorted(mk.read_table(t.path).column("p").to_pylist(), key=str) == (
        sorted(vals, key=str)
    )
    # compaction writes the values back unescaped
    t.enable_row_tracking()
    t.append(src.withColumn("k", F.col("k") + 10))
    t.optimize()
    assert len(t._snapshot().files) == 3
    assert logged() == sorted(vals, key=str)
    t.delete(F.col("p") == "a:b")
    t.delete(F.col("p").isNull())
    assert _rows(t.read()) == [("12", "x y/z"), ("2", "x y/z")]
    assert logged() == ["x y/z"]
    # a deletion vector and row ids bind to the file under its
    # escaped directory
    t.delete(F.col("k") == 12, mode="merge_on_read")
    assert _rows(t.read_with_row_ids().select("k", "p")) == [("2", "x y/z")]


def test_id_mode_without_field_ids_fails_loudly(spark, tmp_path):
    """An id-mode schema whose field lacks delta.columnMapping.id
    cannot be resolved — refuse, never guess by name."""
    _foreign_log(
        tmp_path / "cmid2",
        {"minReaderVersion": 2, "minWriterVersion": 5},
        {"delta.columnMapping.mode": "id",
         "delta.columnMapping.maxColumnId": "1"},
        phys_col=None,
    )
    t = DeltaishTable(spark, str(tmp_path / "cmid2"))
    with pytest.raises(NotImplementedError, match="no delta.columnMapping.id"):
        t.read()


def test_deletion_vector_foreign_logs(spark, tmp_path):
    """deletionVectors is an IMPLEMENTED reader feature now
    (delta/roaring.py + the scan-side anti-join): a foreign log
    declaring the feature with DV-less adds reads normally, and one
    whose add references a DV file that does not exist (or whose
    framing our strict decoder does not recognize) fails LOUDLY at
    read time — never silently resurrecting or dropping rows."""
    _foreign_log(
        tmp_path / "dvp",
        {
            "minReaderVersion": 3,
            "minWriterVersion": 7,
            "readerFeatures": ["deletionVectors"],
            "writerFeatures": ["deletionVectors"],
        },
        {},
    )
    got = DeltaishTable(spark, str(tmp_path / "dvp")).read()
    assert sorted(r.id for r in got.collect()) == [1, 2, 3]
    # a DV payload pointing at a nonexistent bitmap file: loud error,
    # not an unfiltered (row-resurrecting) read
    _foreign_log(
        tmp_path / "dvf",
        {"minReaderVersion": 1, "minWriterVersion": 2},
        {},
        add_extra={
            "deletionVector": {
                "storageType": "u",
                "pathOrInlineDv": "ab^-aqEH.-t@S}K{vb[*",
                "offset": 1,
                "sizeInBytes": 36,
                "cardinality": 1,
            }
        },
    )
    with pytest.raises(ValueError, match="missing|base85"):
        DeltaishTable(spark, str(tmp_path / "dvf")).read().collect()
    # an unknown storage type refuses
    _foreign_log(
        tmp_path / "dvx",
        {"minReaderVersion": 1, "minWriterVersion": 2},
        {},
        add_extra={
            "deletionVector": {
                "storageType": "z",
                "pathOrInlineDv": "whatever",
                "offset": 0,
                "sizeInBytes": 1,
                "cardinality": 1,
            }
        },
    )
    with pytest.raises(NotImplementedError, match="storageType"):
        DeltaishTable(spark, str(tmp_path / "dvx")).read().collect()


def test_change_data_feed_lifecycle(spark, tmp_path):
    """Delta CDF surface: with delta.enableChangeDataFeed set, MERGE
    writes _change_data cdc files (update_preimage/update_postimage/
    insert); appends and overwrites synthesize from the file diff
    (adds->insert, removes->delete); a pre-CDF MERGE in the range
    raises instead of mis-attributing its rewritten rows."""
    src = _orders(spark, 15)
    lo = src.filter(F.col("o_orderkey") <= 10)
    hi = src.filter(F.col("o_orderkey") > 10)
    t = DeltaishTable.create(spark, str(tmp_path / "t"), lo)  # v0
    t.append(hi)  # v1
    # v2: a MERGE while CDF is OFF
    t.merge(
        lo.limit(3).withColumn("o_totalprice", F.lit(1.0)), ["o_orderkey"]
    )
    v3 = t.enable_change_data_feed()
    upd = (
        src.filter(F.col("o_orderkey").isin(4, 5))
        .withColumn("o_totalprice", F.lit(2.0))
    )
    ins = src.limit(0).unionByName(
        src.filter(F.col("o_orderkey") == 1).withColumn(
            "o_orderkey", F.lit(999).cast("long")
        )
    )
    v4 = t.merge(upd.unionByName(ins), ["o_orderkey"])  # CDF on
    assert os.path.isdir(str(tmp_path / "t" / "_change_data"))

    feed = t.read_change_feed(v3, v4)
    by_type = {
        r["_change_type"]: r
        for r in feed.groupBy("_change_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sort_array(F.collect_list("o_orderkey")).alias("ks"),
        )
        .collect()
    }
    assert by_type["update_preimage"]["ks"] == [4, 5]
    assert by_type["update_postimage"]["ks"] == [4, 5]
    assert by_type["insert"]["ks"] == [999]
    # postimages carry the NEW values, preimages the OLD
    posts = feed.filter(F.col("_change_type") == "update_postimage")
    assert {r.o_totalprice for r in posts.collect()} == {2.0}
    pres = feed.filter(F.col("_change_type") == "update_preimage")
    assert all(r.o_totalprice != 2.0 for r in pres.collect())
    assert all(
        r["_commit_version"] == v4 for r in feed.select("_commit_version").collect()
    )

    # append synthesis: (v0, v1] = pure inserts of the appended rows
    f01 = t.read_change_feed(0, 1)
    assert {r["_change_type"] for r in f01.collect()} == {"insert"}
    assert sorted(r.o_orderkey for r in f01.collect()) == sorted(
        r.o_orderkey for r in hi.collect()
    )

    # overwrite synthesis: deletes of every old row + inserts of new
    n_before = t.read().count()
    v5 = t.overwrite(lo.limit(4))
    f45 = t.read_change_feed(v4, v5)
    counts = {
        r["_change_type"]: r["n"]
        for r in f45.groupBy("_change_type")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    assert counts == {"delete": n_before, "insert": 4}

    # the pre-CDF merge cannot be attributed per-row
    with pytest.raises(ValueError, match="MERGE without cdc"):
        t.read_change_feed(1, 2)

    # empty range -> empty frame with the CDF read schema
    f_empty = t.read_change_feed(v5, v5)
    assert f_empty.count() == 0
    assert "_change_type" in f_empty.columns


def test_shallow_clone_zero_copy_and_divergence(spark, tmp_path):
    """SHALLOW CLONE: one metadata commit, zero data copied — the
    clone's log references the source's files by absolute path. Writes
    diverge the clone without touching the source, and the clone's
    VACUUM never deletes source-owned files."""
    src_rows = _orders(spark, 200).repartition(3)
    src = DeltaishTable.create(spark, str(tmp_path / "src"), src_rows)
    clone = src.shallow_clone(str(tmp_path / "clone"))
    # zero copy: no parquet landed under the clone root
    assert not [
        f for f in os.listdir(clone.path) if f.endswith(".parquet")
    ]
    assert _rows(clone.read()) == _rows(src.read())
    assert clone.history()[0]["operation"] == "CLONE"

    # divergence: append to the clone — source unchanged
    extra = _orders(spark, 250).subtract(src_rows)
    clone.append(extra.limit(20))
    assert clone.read().count() == 220
    assert src.read().count() == 200
    # new files land under the CLONE root
    assert [f for f in os.listdir(clone.path) if f.endswith(".parquet")]

    # overwrite tombstones the absolute source paths; vacuum on the
    # clone must skip them (deleting would corrupt the source)
    clone.overwrite(src_rows.limit(10))
    deleted = clone.vacuum(retention_hours=0.0, enforce_retention=False)
    assert all(not os.path.isabs(p) for p in deleted)
    assert _rows(src.read()) == _rows(src_rows), (
        "clone vacuum must never touch source data"
    )

    # clone of a historical version
    v0_clone = src.shallow_clone(str(tmp_path / "clone_v0"), version=0)
    assert _rows(v0_clone.read()) == _rows(src_rows)


def test_shallow_clone_partitioned_refused(spark, tmp_path):
    src = DeltaishTable.create(
        spark,
        str(tmp_path / "psrc"),
        _orders(spark, 100),
        partition_by=("o_orderstatus",),
    )
    with pytest.raises(NotImplementedError, match="partitioned"):
        src.shallow_clone(str(tmp_path / "pclone"))


def test_generated_columns_compute_and_validate(spark, tmp_path):
    """GENERATED ALWAYS AS: the expression lives in the schema field
    metadata (delta.generationExpression); omitted on write -> the
    engine computes it, supplied -> validated row-for-row. The
    canonical derived-partition-key pattern."""
    src = (
        load_table(spark, SF_DIR, "orders")
        .select("o_orderkey", "o_totalprice", "o_orderdate")
        .limit(120)
    )
    t = DeltaishTable.create(
        spark,
        str(tmp_path / "t"),
        src,  # o_year intentionally absent: computed at create
        generated_columns={"o_year": "year(o_orderdate)"},
    )
    got = t.read()
    assert "o_year" in got.columns
    assert got.filter(
        F.col("o_year") != F.year("o_orderdate")
    ).count() == 0

    # append WITHOUT the generated column: computed
    more = (
        load_table(spark, SF_DIR, "orders")
        .select("o_orderkey", "o_totalprice", "o_orderdate")
        .limit(150)
        .subtract(src)
        .limit(10)
    )
    t.append(more)
    assert t.read().count() == 130
    assert t.read().filter(F.col("o_year").isNull()).count() == 0

    # append WITH a correct value: accepted
    ok = more.withColumn(
        "o_orderkey", F.col("o_orderkey") + F.lit(10**7)
    ).withColumn("o_year", F.year("o_orderdate"))
    t.append(ok)
    # append WITH a diverging value: rejected before any file lands
    n_before = t.read().count()
    bad = ok.withColumn(
        "o_orderkey", F.col("o_orderkey") + F.lit(2 * 10**7)
    ).withColumn("o_year", F.lit(1900))
    with pytest.raises(ValueError, match="generated column"):
        t.append(bad)
    assert t.read().count() == n_before

    # merge validates too: a source row contradicting the expression
    upd = (
        t.read()
        .limit(5)
        .withColumn("o_year", F.lit(1900))
    )
    with pytest.raises(ValueError, match="generated column"):
        t.merge(upd, ["o_orderkey"])
    # and a consistent merge source passes
    upd_ok = t.read().limit(5).withColumn("o_totalprice", F.lit(7.0))
    t.merge(upd_ok, ["o_orderkey"])
    assert t.read().filter(F.col("o_totalprice") == 7.0).count() == 5


def test_identity_columns_assign_unique_and_conflict(spark, tmp_path):
    """GENERATED ALWAYS AS IDENTITY: the engine assigns values from
    the high-water mark (delta.identity.* field metadata); explicit
    values are rejected; a concurrent identity append conflicts on the
    HWM bump instead of double-assigning a block."""
    src = _orders(spark, 60).repartition(4)
    t = DeltaishTable.create(
        spark,
        str(tmp_path / "t"),
        src,
        identity_columns={"row_id": (100, 10)},
    )
    got = t.read()
    ids = sorted(r.row_id for r in got.collect())
    assert ids == list(range(100, 100 + 60 * 10, 10))
    # HWM persisted in the schema field metadata
    meta = t._identity_meta(t._snapshot())["row_id"]
    assert meta["delta.identity.highWaterMark"] == ids[-1]

    # appends continue above the mark, never reusing values
    more = _orders(spark, 80).subtract(src).limit(15)
    t.append(more)
    ids2 = sorted(r.row_id for r in t.read().collect())
    assert len(ids2) == len(set(ids2)) == 75
    assert min(i for i in ids2 if i not in ids) > ids[-1]

    # explicit values are rejected (GENERATED ALWAYS)
    with pytest.raises(ValueError, match="IDENTITY"):
        t.append(more.withColumn("row_id", F.lit(1).cast("long")))
    # merge is a documented non-combination
    with pytest.raises(NotImplementedError, match="identity"):
        t.merge(t.read().limit(3), ["o_orderkey"])


def test_identity_concurrent_append_conflicts(spark, tmp_path, monkeypatch):
    src = _orders(spark, 40)
    t = DeltaishTable.create(
        spark, str(tmp_path / "t"), src, identity_columns={"rid": (1, 1)}
    )
    more = _orders(spark, 60).subtract(src).limit(10)
    other = _orders(spark, 80).subtract(src).subtract(more).limit(5)
    orig = DeltaishTable._write_files
    fired = {"done": False}

    def hook(self, df, partition_by=(), **kw):
        if not fired["done"]:
            fired["done"] = True
            DeltaishTable(spark, t.path).append(other)
        return orig(self, df, partition_by, **kw)

    monkeypatch.setattr(DeltaishTable, "_write_files", hook)
    with pytest.raises(ConcurrentCommitError, match="metadata"):
        t.append(more)
    monkeypatch.setattr(DeltaishTable, "_write_files", orig)
    t.append(more)  # re-run on the fresh snapshot succeeds
    ids = [r.rid for r in t.read().collect()]
    assert len(ids) == len(set(ids)) == 55, "no identity value reused"


def test_deep_clone_survives_source_vacuum(spark, tmp_path):
    """Deep clone copies the data files, so unlike a shallow clone it
    survives the source's OPTIMIZE + VACUUM; partitioned sources
    clone with their directory layout intact."""
    src_rows = _orders(spark, 150)
    src = DeltaishTable.create(
        spark,
        str(tmp_path / "src"),
        src_rows,
        partition_by=("o_orderstatus",),
    )
    clone = src.deep_clone(str(tmp_path / "deep"))
    assert _rows(clone.read()) == _rows(src_rows)
    # destroy the source's files entirely
    src.optimize()
    src.vacuum(retention_hours=0.0, enforce_retention=False)
    import shutil as _sh

    _sh.rmtree(src.path)
    assert _rows(clone.read()) == _rows(src_rows)
    assert clone.history()[0]["operation"] == "CLONE"


def test_vacuum_ages_out_change_data_files(spark, tmp_path):
    """VACUUM cleans _change_data files by COMMIT age, like
    delta-spark: inside the retention window cdc files survive and
    the feed reads; past it they are deleted and read_change_feed
    raises its loud range-expired error instead of silently
    shrinking the change set."""
    src = _orders(spark, 12)
    t = DeltaishTable.create(spark, str(tmp_path / "t"), src.limit(8))
    v1 = t.enable_change_data_feed()
    v2 = t.merge(
        src.limit(3).withColumn("o_totalprice", F.lit(7.0)),
        ["o_orderkey"],
    )
    cdc_dir = str(tmp_path / "t" / "_change_data")
    assert os.listdir(cdc_dir), "merge under CDF must write cdc files"

    # within retention: untouched, feed still reads
    t.vacuum(retention_hours=168.0)
    assert os.listdir(cdc_dir)
    assert t.read_change_feed(v1, v2).count() > 0

    # past retention: cdc files deleted, feed range expired
    deleted = t.vacuum(retention_hours=0.0, enforce_retention=False)
    assert any(p.startswith("_change_data/") for p in deleted)
    assert not [f for f in os.listdir(cdc_dir) if f.endswith(".parquet")]
    with pytest.raises(ValueError, match="missing cdc file|expired"):
        t.read_change_feed(v1, v2).count()


def test_delete_copy_on_write_prunes_files(spark, tmp_path):
    """DELETE rewrites ONLY files owning a matching row; a file whose
    rows all match becomes a pure remove; NULL predicate keeps the
    row (SQL DELETE semantics); no-match is a no-op commit-wise."""
    src = _orders(spark, 40).repartitionByRange(4, "o_orderkey")
    t = DeltaishTable.create(spark, str(tmp_path / "t"), src)
    before = {r.o_orderkey for r in t.read().collect()}
    n_files_before = len(t._snapshot().files)
    keys = sorted(before)
    victims = set(keys[:3])

    v1 = t.delete(F.col("o_orderkey").isin(*victims))
    after = {r.o_orderkey for r in t.read().collect()}
    assert after == before - victims
    # only the range-partitioned files holding the 3 lowest keys were
    # touched: the commit's removes must be a strict subset
    removes = [
        a["remove"]["path"]
        for a in dlog.read_commit(t.path, v1)
        if "remove" in a
    ]
    assert 0 < len(removes) < n_files_before

    # no-op: nothing matches -> same version, no empty commit
    assert t.delete(F.col("o_orderkey") < -1) == v1

    # whole-table delete -> pure removes, zero adds
    v2 = t.delete(F.lit(True))
    acts = dlog.read_commit(t.path, v2)
    assert not [a for a in acts if "add" in a]
    assert t.read().count() == 0


def test_delete_cdf_attribution(spark, tmp_path):
    """Under CDF a DELETE records its rows as cdc delete actions and
    the feed reads them; without CDF a rewriting DELETE cannot be
    attributed and both feed readers refuse it."""
    from lakehouse_for_data_streaming_and_analysis_spark.sources import cdf_stream

    src = _orders(spark, 20)
    t = DeltaishTable.create(spark, str(tmp_path / "t"), src)
    v1 = t.enable_change_data_feed()
    keys = sorted(r.o_orderkey for r in src.collect())[:4]
    v2 = t.delete(F.col("o_orderkey").isin(*keys))
    feed = t.read_change_feed(v1, v2)
    assert sorted(r.o_orderkey for r in feed.collect()) == keys
    assert {r._change_type for r in feed.collect()} == {"delete"}

    # pre-CDF rewriting delete: refused by both readers
    t2 = DeltaishTable.create(
        spark, str(tmp_path / "t2"), src.repartition(2)
    )
    k2 = sorted(r.o_orderkey for r in src.collect())[:2]
    v = t2.delete(F.col("o_orderkey").isin(*k2))
    acts = dlog.read_commit(t2.path, v)
    assert [a for a in acts if "add" in a], "rewriting delete expected"
    with pytest.raises(ValueError, match="DELETE without cdc"):
        t2.read_change_feed(0, v)
    cdf_stream.register(spark)
    with pytest.raises(Exception, match="DELETE without cdc"):
        spark.read.format("deltaish_cdf").option("path", t2.path).option(
            "startingVersion", v
        ).load().collect()


def test_update_copy_on_write(spark, tmp_path):
    """UPDATE ... SET ... WHERE: file-pruned rewrite; NULL predicate
    keeps rows; generated columns recompute from the updated values;
    identity/generated assignment refused; CDF records pre/post
    images with matched-ness decided on the OLD values even when SET
    changes a condition column."""
    src = load_table(spark, SF_DIR, "orders").select(
        "o_orderkey", "o_orderdate", "o_totalprice"
    ).limit(30)
    t = DeltaishTable.create(
        spark,
        str(tmp_path / "t"),
        src.repartitionByRange(3, "o_orderkey"),
        generated_columns={"o_year": "year(o_orderdate)"},
    )
    keys = sorted(r.o_orderkey for r in t.read().collect())
    n_files = len(t._snapshot().files)
    victims = set(keys[:4])

    v1 = t.update(
        F.col("o_orderkey").isin(*victims),
        {"o_totalprice": F.col("o_totalprice") * 10},
    )
    got = {r.o_orderkey: r.o_totalprice for r in t.read().collect()}
    base = {r.o_orderkey: r.o_totalprice for r in src.collect()}
    for k in keys:
        assert got[k] == pytest.approx(
            base[k] * (10 if k in victims else 1)
        )
    removes = [
        a["remove"]["path"]
        for a in dlog.read_commit(t.path, v1)
        if "remove" in a
    ]
    assert 0 < len(removes) < n_files, "only owning files rewritten"

    # generated column recomputes when its source is updated
    t.update(
        F.col("o_orderkey") == keys[0],
        {"o_orderdate": F.expr("date_add(o_orderdate, 400)")},
    )
    row = t.read().filter(F.col("o_orderkey") == keys[0]).collect()[0]
    assert row.o_year == row.o_orderdate.year

    # assigning a generated column is refused
    with pytest.raises(ValueError, match="GENERATED"):
        t.update(F.lit(True), {"o_year": F.lit(1999)})

    # no match -> no-op
    v_before = t.version
    assert t.update(F.col("o_orderkey") < -1, {"o_totalprice": F.lit(0.0)}) == v_before


def test_update_cdf_pre_post_images(spark, tmp_path):
    src = _orders(spark, 20)
    t = DeltaishTable.create(spark, str(tmp_path / "t"), src)
    v1 = t.enable_change_data_feed()
    keys = sorted(r.o_orderkey for r in src.collect())[:3]
    # SET changes the very column the condition reads: matched-ness
    # must stay decided on the OLD values
    hi = max(r.o_totalprice for r in src.collect())
    v2 = t.update(
        F.col("o_orderkey").isin(*keys),
        {"o_totalprice": F.lit(hi * 100.0)},
    )
    feed = t.read_change_feed(v1, v2)
    by_type = {}
    for r in feed.collect():
        by_type.setdefault(r._change_type, []).append(r)
    assert sorted(r.o_orderkey for r in by_type["update_preimage"]) == keys
    assert sorted(r.o_orderkey for r in by_type["update_postimage"]) == keys
    assert all(
        r.o_totalprice == pytest.approx(hi * 100.0)
        for r in by_type["update_postimage"]
    )

    # pre-CDF UPDATE cannot be attributed
    t2 = DeltaishTable.create(spark, str(tmp_path / "t2"), src)
    v = t2.update(
        F.col("o_orderkey").isin(*keys), {"o_totalprice": F.lit(1.0)}
    )
    with pytest.raises(ValueError, match="UPDATE without cdc"):
        t2.read_change_feed(0, v)


def test_change_feed_between_timestamps(spark, tmp_path):
    """startingTimestamp/endingTimestamp CDF: the wall-clock range
    resolves to the same version range the commit timestamps imply."""
    src = _orders(spark, 12)
    t = DeltaishTable.create(spark, str(tmp_path / "t"), src.limit(6))
    t.enable_change_data_feed()
    v2 = t.append(src.subtract(src.limit(6)))
    ts = {}
    for v in dlog.list_versions(t.path):
        for a in dlog.read_commit(t.path, v):
            if "commitInfo" in a:
                ts[v] = a["commitInfo"]["timestamp"]
    # from v2's exact commit time: only v2's changes
    got = t.read_change_feed_between_timestamps(ts[v2])
    want = t.read_change_feed(v2 - 1, v2)
    assert sorted(r.o_orderkey for r in got.collect()) == sorted(
        r.o_orderkey for r in want.collect()
    )
    # from the epoch through v0's commit: just the create's inserts
    got0 = t.read_change_feed_between_timestamps(0, ts[0])
    assert sorted(r.o_orderkey for r in got0.collect()) == sorted(
        r.o_orderkey for r in src.limit(6).collect()
    )
    # a future start: empty
    assert (
        t.read_change_feed_between_timestamps(ts[v2] + 10_000).count() == 0
    )


# ------------------------------------------------ merge_into (full matrix)


def _matrix_merge(spark, tmp_path, with_cdf=False):
    """Shared matrix-merge setup: target keys %3==0, source keys
    %4==0 at doubled price, one clause of every class."""
    src = _orders(spark).select("o_orderkey", "o_totalprice")
    t = DeltaishTable.create(
        spark, str(tmp_path / "t"), src.filter(F.col("o_orderkey") % 3 == 0)
    )
    v_pre = t.enable_change_data_feed() if with_cdf else t.version
    source = src.filter(F.col("o_orderkey") % 4 == 0).withColumn(
        "o_totalprice", F.col("o_totalprice") * 2
    )
    v = t.merge_into(
        source,
        ["o_orderkey"],
        when_matched=[
            {"action": "delete", "condition": "t.o_totalprice < 50000"},
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
    # the same classification, relationally
    loaded = src.filter(F.col("o_orderkey") % 3 == 0)
    matched = loaded.filter(F.col("o_orderkey") % 4 == 0)
    tonly = loaded.filter(F.col("o_orderkey") % 4 != 0)
    sonly = source.filter(F.col("o_orderkey") % 3 != 0)
    expected = (
        matched.filter(F.col("o_totalprice") >= 50000)
        .withColumn("o_totalprice", F.col("o_totalprice") * 2)
        .unionByName(tonly.filter(F.col("o_totalprice") >= 20000))
        .unionByName(sonly)
    )
    classes = {
        "delete": matched.filter(F.col("o_totalprice") < 50000).count()
        + tonly.filter(F.col("o_totalprice") < 20000).count(),
        "update_preimage": matched.filter(
            F.col("o_totalprice") >= 50000
        ).count(),
        "insert": sonly.count(),
    }
    classes["update_postimage"] = classes["update_preimage"]
    return t, v_pre, v, expected, classes


def test_merge_into_full_matrix_final_state(spark, tmp_path):
    t, _, _, expected, _ = _matrix_merge(spark, tmp_path)
    assert _rows(t.read()) == _rows(expected)


def test_merge_into_cdf_attributes_every_clause(spark, tmp_path):
    t, v_pre, v, expected, classes = _matrix_merge(
        spark, tmp_path, with_cdf=True
    )
    assert _rows(t.read()) == _rows(expected)
    feed = t.read_change_feed(v_pre, v)
    got = {
        r["_change_type"]: r["n"]
        for r in feed.groupBy("_change_type")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    assert got == {k: n for k, n in classes.items() if n}
    # postimages carry the doubled price of their preimage rows
    pre = feed.filter(F.col("_change_type") == "update_preimage")
    post = feed.filter(F.col("_change_type") == "update_postimage")
    joined = pre.alias("a").join(post.alias("b"), "o_orderkey")
    assert (
        joined.filter(
            F.col("b.o_totalprice") != F.col("a.o_totalprice") * 2
        ).count()
        == 0
    )


def test_merge_into_by_source_update_and_first_match_wins(spark, tmp_path):
    src = _orders(spark, 400).select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    t = DeltaishTable.create(
        spark, str(tmp_path / "t"), src.filter(F.col("o_orderkey") % 2 == 0)
    )
    source = src.filter(F.col("o_orderkey") % 5 == 0)
    t.merge_into(
        source,
        ["o_orderkey"],
        when_matched=[
            # first-match-wins: the broad second clause must not see
            # rows the first one claimed
            {
                "action": "update",
                "set": {"o_orderstatus": F.lit("HI")},
                "condition": "t.o_totalprice >= 100000",
            },
            {"action": "update", "set": {"o_orderstatus": F.lit("LO")}},
        ],
        when_not_matched_by_source=[
            {"action": "update", "set": {"o_orderstatus": F.lit("STALE")}}
        ],
    )
    got = t.read()
    matched = (F.col("o_orderkey") % 2 == 0) & (F.col("o_orderkey") % 5 == 0)
    expected = src.filter(F.col("o_orderkey") % 2 == 0).withColumn(
        "o_orderstatus",
        F.when(
            matched & (F.col("o_totalprice") >= 100000), F.lit("HI")
        )
        .when(matched, F.lit("LO"))
        .otherwise(F.lit("STALE")),
    )
    assert _rows(got) == _rows(expected)


def test_merge_into_converged_mirror_is_a_noop(spark, tmp_path):
    src = _orders(spark).select("o_orderkey", "o_totalprice")
    t = DeltaishTable.create(
        spark, str(tmp_path / "t"), src.repartitionByRange(6, "o_orderkey")
    )
    v0 = t.version
    mirror_clauses = dict(
        when_matched=[
            {
                "action": "update_all",
                "condition": "NOT (t.o_totalprice <=> s.o_totalprice)",
            }
        ],
        when_not_matched=[{"action": "insert_all"}],
        when_not_matched_by_source=[{"action": "delete"}],
    )
    assert t.merge_into(src, ["o_orderkey"], **mirror_clauses) == v0
    assert t.version == v0, "converged mirror sync must not commit"

    # perturb one narrow key range: only the file(s) owning it rewrite
    before = set(t._snapshot().files)
    lo_keys = src.orderBy("o_orderkey").limit(3)
    perturbed = src.join(
        lo_keys.select("o_orderkey"), "o_orderkey", "left_anti"
    ).unionByName(
        lo_keys.withColumn("o_totalprice", F.col("o_totalprice") + 1)
    )
    t.merge_into(perturbed, ["o_orderkey"], **mirror_clauses)
    after = set(t._snapshot().files)
    assert 1 <= len(before - after) <= 2, (
        "a 3-low-key perturbation must rewrite only the owning files, "
        f"not {len(before - after)} of {len(before)}"
    )
    assert _rows(t.read()) == _rows(perturbed)


def test_merge_into_empty_source_by_source_delete_truncates(
    spark, tmp_path
):
    src = _orders(spark, 120).select("o_orderkey", "o_totalprice")
    t = DeltaishTable.create(spark, str(tmp_path / "t"), src)
    v = t.merge_into(
        src.filter(F.lit(False)),
        ["o_orderkey"],
        when_not_matched_by_source=[{"action": "delete"}],
    )
    assert v == t.version and v > 0
    assert t.read().count() == 0
    assert t.read(version=0).count() == 120, "truncation is time-travelable"


def test_merge_into_insert_values_defaults_null(spark, tmp_path):
    src = _orders(spark, 100).select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    t = DeltaishTable.create(
        spark, str(tmp_path / "t"), src.filter(F.col("o_orderkey") % 2 == 0)
    )
    news = src.filter(F.col("o_orderkey") % 2 == 1)
    t.merge_into(
        news,
        ["o_orderkey"],
        when_not_matched=[
            {
                "action": "insert",
                "values": {
                    "o_orderkey": F.col("s.o_orderkey"),
                    "o_totalprice": F.lit(0.0),
                },
            }
        ],
    )
    inserted = t.read().filter(F.col("o_orderkey") % 2 == 1)
    assert inserted.count() == news.count()
    assert inserted.filter(F.col("o_orderstatus").isNotNull()).count() == 0
    assert inserted.filter(F.col("o_totalprice") != 0.0).count() == 0


def test_merge_into_clause_validation(spark, tmp_path):
    src = _orders(spark, 50).select("o_orderkey", "o_totalprice")
    t = DeltaishTable.create(spark, str(tmp_path / "t"), src)
    with pytest.raises(ValueError, match="only the last whenMatched"):
        t.merge_into(
            src,
            ["o_orderkey"],
            when_matched=[
                {"action": "delete"},  # unconditioned, not last
                {"action": "update_all"},
            ],
        )
    with pytest.raises(ValueError, match="action must be one of"):
        t.merge_into(
            src, ["o_orderkey"], when_matched=[{"action": "upsert"}]
        )
    with pytest.raises(ValueError, match="at least one clause"):
        t.merge_into(src, ["o_orderkey"])
    with pytest.raises(ValueError, match="duplicate merge keys"):
        t.merge_into(
            src.unionByName(src),
            ["o_orderkey"],
            when_matched=[{"action": "delete"}],
        )


# ------------------------------------------------- column mapping DDL
#
# Writer-side column mapping: ALTER TABLE upgrade + RENAME/DROP COLUMN
# as metadata-only commits, with every write path emitting PHYSICAL
# column names (files, partition dirs, footer stats, cdc files).
# Mirrors delta-spark's columnMapping feature semantics
# (reference parity: the reference manages its tables through
# delta-spark, spark/delta_manager.py — schema evolution included).


def _cm_table(spark, tmp_path, name="cm", partition_by=()):
    df = (
        spark.range(40)
        .withColumn("grp", (F.col("id") % 4).cast("int"))
        .withColumn("val", F.col("id") * 2.0)
    )
    t = DeltaishTable.create(
        spark, str(tmp_path / name), df, partition_by=partition_by
    )
    return t, df


def test_enable_column_mapping_upgrades_in_place(spark, tmp_path):
    """Upgrade rule: physicalName = current name (files on disk stay
    addressable without a rewrite), ids are 1-based positions, the
    protocol floor rises to (2, 5), and reads are unchanged."""
    t, df = _cm_table(spark, tmp_path)
    v = t.enable_column_mapping()
    assert v == 1
    snap = t._snapshot()
    assert snap.protocol["minReaderVersion"] == 2
    assert snap.protocol["minWriterVersion"] == 5
    conf = snap.metadata["configuration"]
    assert conf["delta.columnMapping.mode"] == "name"
    assert conf["delta.columnMapping.maxColumnId"] == "3"
    fields = json.loads(snap.metadata["schemaString"])["fields"]
    assert [f["metadata"]["delta.columnMapping.id"] for f in fields] == [1, 2, 3]
    assert [f["metadata"]["delta.columnMapping.physicalName"] for f in fields] == [
        "id", "grp", "val",
    ]
    assert _rows(t.read()) == _rows(df)
    with pytest.raises(ValueError, match="already enabled"):
        t.enable_column_mapping()
    with pytest.raises(NotImplementedError, match="mode='name'"):
        DeltaishTable(spark, str(tmp_path / "other")).enable_column_mapping(
            mode="id"
        )


def test_rename_column_is_metadata_only(spark, tmp_path):
    """RENAME COLUMN rewrites zero data files: the file set is
    byte-identical before and after, old versions time-travel with the
    old name, and stats-based skipping translates the new name."""
    t, df = _cm_table(spark, tmp_path)
    t.enable_column_mapping()
    files_before = dict(t._snapshot().files)
    t.rename_column("val", "amount")
    assert dict(t._snapshot().files) == files_before  # zero rewrite
    assert t.read().columns == ["id", "grp", "amount"]
    assert t.read(version=1).columns == ["id", "grp", "val"]
    assert sorted(r.amount for r in t.read().collect()) == sorted(
        r.val for r in df.collect()
    )
    # skipping: logical lookup translates to the stable physical key
    assert t.files_matching("amount", 0.0, 10.0)
    with pytest.raises(ValueError, match="no such column"):
        t.rename_column("val", "x")
    with pytest.raises(ValueError, match="already exists"):
        t.rename_column("amount", "grp")


def test_rename_requires_mapping(spark, tmp_path):
    t, _ = _cm_table(spark, tmp_path)
    with pytest.raises(ValueError, match="requires column mapping"):
        t.rename_column("val", "x")
    with pytest.raises(ValueError, match="requires column mapping"):
        t.drop_column("val")


def test_rename_refused_when_expressions_reference(spark, tmp_path):
    t, _ = _cm_table(spark, tmp_path)
    t.enable_column_mapping()
    t.add_check_constraint("nonneg", "val >= 0")
    with pytest.raises(ValueError, match="constraint nonneg"):
        t.rename_column("val", "x")
    with pytest.raises(ValueError, match="constraint nonneg"):
        t.drop_column("val")
    t.drop_check_constraint("nonneg")
    t.rename_column("val", "x")  # now fine
    assert t.read().columns == ["id", "grp", "x"]


def test_append_after_rename_writes_physical_names(spark, tmp_path):
    """Post-rename appends store the ORIGINAL (physical) column name
    in the parquet footer — delta-spark would read the file
    correctly; a logical-named file would read all-null there."""
    import pyarrow.parquet as pq

    t, _ = _cm_table(spark, tmp_path)
    t.enable_column_mapping()
    t.rename_column("val", "amount")
    t.append(
        spark.range(40, 50)
        .withColumn("grp", (F.col("id") % 4).cast("int"))
        .withColumn("amount", F.col("id") * 2.0)
    )
    assert t.read().count() == 50
    snap = t._snapshot()
    newest = max(
        snap.files, key=lambda p: snap.files[p]["modificationTime"]
    )
    names = pq.read_schema(str(tmp_path / "cm" / newest)).names
    assert "val" in names and "amount" not in names
    # footer stats are keyed physical; skipping still answers logical
    added = [
        a["add"]
        for a in dlog.read_commit(str(tmp_path / "cm"), t.version)
        if "add" in a
    ]
    mins = [
        json.loads(a["stats"])["minValues"]["val"]
        for a in added
        if "val" in json.loads(a["stats"]).get("minValues", {})
    ]
    assert mins and min(mins) == 80.0


def test_drop_then_readd_cannot_resurrect(spark, tmp_path):
    """THE column-mapping safety property: DROP then re-ADD the same
    logical name mints a fresh physical uuid, so the dropped bytes in
    old files can never resurface under the new column."""
    t, _ = _cm_table(spark, tmp_path)
    t.enable_column_mapping()
    t.drop_column("val")
    assert t.read().columns == ["id", "grp"]
    t.append(
        spark.range(100, 105)
        .withColumn("grp", F.lit(9).cast("int"))
        .withColumn("val", F.lit(-1.0)),
        merge_schema=True,
    )
    got = {r.id: r.val for r in t.read().collect()}
    assert got[0] is None and got[39] is None  # old rows: NOT 0.0/78.0
    assert got[100] == -1.0
    fields = json.loads(
        t._snapshot().metadata["schemaString"]
    )["fields"]
    by_name = {f["name"]: f["metadata"] for f in fields}
    assert by_name["val"]["delta.columnMapping.physicalName"].startswith("col-")
    assert by_name["val"]["delta.columnMapping.id"] == 4
    assert t._snapshot().metadata["configuration"][
        "delta.columnMapping.maxColumnId"
    ] == "4"


def test_drop_guards(spark, tmp_path):
    t, _ = _cm_table(spark, tmp_path, partition_by=("grp",))
    t.enable_column_mapping()
    with pytest.raises(ValueError, match="partition column"):
        t.drop_column("grp")
    with pytest.raises(ValueError, match="no such column"):
        t.drop_column("zzz")


def test_rename_partition_column_keeps_layout(spark, tmp_path):
    """Partition directories key on the PHYSICAL name, so renaming a
    partition column is metadata-only too: pruning, filtered reads,
    and post-rename appends all work, and partitionColumns tracks the
    logical name."""
    t, _ = _cm_table(spark, tmp_path, partition_by=("grp",))
    t.enable_column_mapping()
    t.rename_column("grp", "bucket")
    snap = t._snapshot()
    assert snap.metadata["partitionColumns"] == ["bucket"]
    assert t.read().filter("bucket = 2").count() == 10
    matched = t.files_matching("bucket", 2, 2)
    assert 0 < len(matched) < len(snap.files)
    t.append(
        spark.range(40, 48)
        .withColumn("bucket", (F.col("id") % 4).cast("int"))
        .withColumn("val", F.col("id") * 2.0)
    )
    assert t.read().filter("bucket = 2").count() == 12
    # the new file landed under the physical (original) dir name
    newest = max(
        t._snapshot().files.items(),
        key=lambda kv: kv[1]["modificationTime"],
    )
    assert newest[0].startswith("grp=")
    assert newest[1]["partitionValues"].keys() == {"grp"}


def test_cdf_under_mapping_spans_rename(spark, tmp_path):
    """Change-feed files physicalize like data files; a feed read
    AFTER a rename returns the new logical names for changes written
    BEFORE it (physical identity is stable)."""
    t = DeltaishTable.create(
        spark,
        str(tmp_path / "cdfm"),
        spark.createDataFrame([(1, 10.0), (2, 20.0)], "k long, x double"),
    )
    t.enable_change_data_feed()
    t.enable_column_mapping()
    v_before = t.version
    t.update("k = 1", {"x": "x + 5.0"})  # cdc written pre-rename
    t.rename_column("x", "y")
    t.update("k = 2", {"y": "y * 2.0"})  # cdc written post-rename
    feed = t.read_change_feed(v_before, t.version)
    rows = sorted(
        (r["_change_type"], r["k"], r["y"]) for r in feed.collect()
    )
    assert rows == [
        ("update_postimage", 1, 15.0),
        ("update_postimage", 2, 40.0),
        ("update_preimage", 1, 10.0),
        ("update_preimage", 2, 20.0),
    ]


def test_optimize_and_zorder_under_mapping(spark, tmp_path):
    """Maintenance rewrites round-trip the physical bytes: compaction
    reads and writes at physical names, z-order translates its
    cluster columns, and logical reads are unchanged throughout."""
    t, _ = _cm_table(spark, tmp_path)
    t.enable_column_mapping()
    t.rename_column("val", "amount")
    for lo in (40, 50, 60):
        t.append(
            spark.range(lo, lo + 10)
            .withColumn("grp", (F.col("id") % 4).cast("int"))
            .withColumn("amount", F.col("id") * 2.0)
        )
    before = _rows(t.read())
    t.optimize(target_bytes=1 << 30)
    assert _rows(t.read()) == before
    t.zorder_by(["id", "amount"], n_files=2)
    assert _rows(t.read()) == before


def test_overwrite_schema_under_mapping_preserves_identity(
    spark, tmp_path
):
    """overwriteSchema on a mapped table: surviving logical names keep
    their physical name/id, new columns mint fresh uuids — exactly
    the evolution rule, applied to a replacement schema."""
    t, _ = _cm_table(spark, tmp_path)
    t.enable_column_mapping()
    snap = t._snapshot()
    phys_id = t._column_mapping(snap)["id"]
    t.overwrite(
        spark.createDataFrame([(7, "x")], "id long, tag string"),
        overwrite_schema=True,
    )
    m = t._column_mapping(t._snapshot())
    assert m["id"] == phys_id
    assert m["tag"].startswith("col-")
    assert [(r.id, r.tag) for r in t.read().collect()] == [(7, "x")]


def test_merge_and_delete_under_mapping(spark, tmp_path):
    """Row-level ops on a renamed mapped table: MERGE INTO updates and
    DELETE prune at logical names while every rewritten file stays
    physical."""
    t, _ = _cm_table(spark, tmp_path)
    t.enable_column_mapping()
    t.rename_column("val", "amount")
    t.merge_into(
        spark.createDataFrame(
            [(0, 0, 999.0), (100, 1, 1.0)], "id long, grp int, amount double"
        ),
        ["id"],
        when_matched=[{"action": "update_all"}],
        when_not_matched=[{"action": "insert_all"}],
    )
    got = {r.id: r.amount for r in t.read().collect()}
    assert got[0] == 999.0 and got[100] == 1.0 and len(got) == 41
    t.delete("amount > 500.0")
    assert t.read().count() == 40
    assert 0 not in {r.id for r in t.read().collect()}


# ------------------------------------------------- protocol features
#
# Allowlist compliance, the protocol's own asymmetric rule: readers
# refuse unknown READER features; writers refuse unknown WRITER
# features but readers ignore them. Plus the two classic writer
# invariants: delta.appendOnly and column invariants.


def test_unknown_reader_feature_refuses_read(spark, tmp_path):
    _foreign_log(
        tmp_path / "rf",
        {
            "minReaderVersion": 3,
            "minWriterVersion": 7,
            "readerFeatures": ["v9FutureCheckpoint"],
            "writerFeatures": ["v9FutureCheckpoint"],
        },
        {},
    )
    t = DeltaishTable(spark, str(tmp_path / "rf"))
    with pytest.raises(NotImplementedError, match="v9FutureCheckpoint"):
        t.read()


def test_unknown_writer_feature_blocks_writes_not_reads(spark, tmp_path):
    """icebergCompatV2 is writer-only: reading the table is legal (the
    spec says readers ignore writer features), but any commit must
    refuse — this writer would not maintain the feature's
    invariants."""
    _foreign_log(
        tmp_path / "wf",
        {
            "minReaderVersion": 1,
            "minWriterVersion": 7,
            "writerFeatures": ["icebergCompatV2"],
        },
        {},
    )
    t = DeltaishTable(spark, str(tmp_path / "wf"))
    got = t.read()
    assert sorted(r.id for r in got.collect()) == [1, 2, 3]
    with pytest.raises(NotImplementedError, match="icebergCompatV2"):
        t.append(spark.createDataFrame([(9,)], "id long"))
    with pytest.raises(NotImplementedError, match="icebergCompatV2"):
        t.delete("id = 1")


def test_append_only_table_blocks_data_removal(spark, tmp_path):
    """delta.appendOnly=true: appends and pure compaction commit;
    anything that removes live data (DELETE / UPDATE / overwrite /
    RESTORE) refuses until the property is unset."""
    t = DeltaishTable.create(
        spark,
        str(tmp_path / "ao"),
        spark.createDataFrame([(1, 10.0), (2, 20.0)], "k long, x double"),
    )
    t.set_table_properties({"delta.appendOnly": "true"})
    t.append(spark.createDataFrame([(3, 30.0)], "k long, x double"))
    v_appended = t.version
    for op in (
        lambda: t.delete("k = 1"),
        lambda: t.update("k = 1", {"x": "x + 1"}),
        lambda: t.overwrite(
            spark.createDataFrame([(9, 9.0)], "k long, x double")
        ),
        lambda: t.restore(0),
    ):
        with pytest.raises(ValueError, match="append-only"):
            op()
    assert t.version == v_appended  # nothing committed
    # compaction removes with dataChange=false — legal on append-only
    t.append(spark.createDataFrame([(4, 40.0)], "k long, x double"))
    t.optimize(target_bytes=1 << 30)
    assert t.read().count() == 4
    # unset -> delete works again
    t.set_table_properties({"delta.appendOnly": None})
    t.delete("k = 1")
    assert t.read().count() == 3


def test_column_invariants_enforced_on_write(spark, tmp_path):
    """delta.invariants field metadata (writer protocol v2) is a
    per-column CHECK: violating appends refuse with the invariant
    named, conforming appends land."""
    _foreign_log(
        tmp_path / "inv",
        {"minReaderVersion": 1, "minWriterVersion": 2},
        {},
        field_md={
            "delta.invariants": json.dumps(
                {"expression": {"expression": "id > 0"}}
            )
        },
    )
    t = DeltaishTable(spark, str(tmp_path / "inv"))
    with pytest.raises(ValueError, match=r"invariant\(id\)"):
        t.append(spark.createDataFrame([(0,)], "id long"))
    t.append(spark.createDataFrame([(7,)], "id long"))
    assert sorted(r.id for r in t.read().collect()) == [1, 2, 3, 7]


def test_set_table_properties_guards_special_keys(spark, tmp_path):
    t = DeltaishTable.create(
        spark,
        str(tmp_path / "props"),
        spark.createDataFrame([(1,)], "k long"),
    )
    with pytest.raises(ValueError, match="add_check_constraint"):
        t.set_table_properties({"delta.constraints.x": "k > 0"})
    with pytest.raises(ValueError, match="enable_column_mapping"):
        t.set_table_properties({"delta.columnMapping.mode": "name"})
    t.set_table_properties({"custom.owner": "etl"})
    assert (
        t._snapshot().metadata["configuration"]["custom.owner"] == "etl"
    )


def test_in_commit_timestamps_monotonic_under_clock_regression(
    spark, tmp_path, monkeypatch
):
    """inCommitTimestamp: once enabled, every commit's authoritative
    timestamp is WRITTEN INTO commitInfo and strictly increases even
    when the wall clock runs backwards; TIMESTAMP AS OF resolves by
    it, so time travel is immune to writer clock skew (the feature's
    purpose)."""
    import time as _time

    t = DeltaishTable.create(
        spark,
        str(tmp_path / "ict"),
        spark.createDataFrame([(1,)], "k long"),
    )
    v_en = t.enable_in_commit_timestamps()
    snap = t._snapshot()
    conf = snap.metadata["configuration"]
    assert conf["delta.enableInCommitTimestamps"] == "true"
    assert conf["delta.inCommitTimestampEnablementVersion"] == str(v_en)
    assert "inCommitTimestamp" in snap.protocol["writerFeatures"]
    # commitInfo leads the ICT commit
    first = dlog.read_commit(str(tmp_path / "ict"), v_en)[0]
    assert "commitInfo" in first
    base_ict = first["commitInfo"]["inCommitTimestamp"]

    # clock regression: freeze time 1 hour in the PAST
    frozen = _time.time() - 3600
    real_time = _time.time
    monkeypatch.setattr(
        "lakehouse_for_data_streaming_and_analysis_spark.delta.table.time.time", lambda: frozen
    )
    v2 = t.append(spark.createDataFrame([(2,)], "k long"))
    v3 = t.append(spark.createDataFrame([(3,)], "k long"))
    icts = {}
    for v in (v_en, v2, v3):
        for a in dlog.read_commit(str(tmp_path / "ict"), v):
            if "commitInfo" in a:
                icts[v] = a["commitInfo"]["inCommitTimestamp"]
    # strictly increasing despite the frozen-past clock
    assert icts[v2] == base_ict + 1
    assert icts[v3] == base_ict + 2
    monkeypatch.setattr(
        "lakehouse_for_data_streaming_and_analysis_spark.delta.table.time.time", real_time
    )
    # TIMESTAMP AS OF resolves by ICT, not the (regressed) wall field
    assert t.version_as_of_timestamp(base_ict + 1) == v2
    assert t.version_as_of_timestamp(base_ict + 10) == v3
    with pytest.raises(ValueError, match="already enabled"):
        t.enable_in_commit_timestamps()
    with pytest.raises(ValueError, match="enable_in_commit_timestamps"):
        t.set_table_properties(
            {"delta.enableInCommitTimestamps": "true"}
        )


def test_ict_survives_checkpoint_truncation(spark, tmp_path):
    """The monotonic floor falls back to the wall clock when the
    previous commit's JSON is gone (checkpoint-truncated log): commits
    still land with an ICT and feed resolution stays ordered."""
    t = DeltaishTable.create(
        spark,
        str(tmp_path / "ictt"),
        spark.createDataFrame([(1,)], "k long"),
    )
    t.enable_in_commit_timestamps()
    for i in range(2, 12):
        t.append(spark.createDataFrame([(i,)], "k long"))
    # checkpoint exists at v10; drop the older JSON commits
    assert dlog.last_checkpoint_version(str(tmp_path / "ictt")) is not None
    for v in range(0, 10):
        os.remove(dlog.version_file(str(tmp_path / "ictt"), v))
    v_next = t.append(spark.createDataFrame([(99,)], "k long"))
    for a in dlog.read_commit(str(tmp_path / "ictt"), v_next):
        if "commitInfo" in a:
            assert a["commitInfo"]["inCommitTimestamp"] > 0
    assert t.read().count() == 12


def test_liquid_clustering_cluster_by_then_optimize(spark, tmp_path):
    """Liquid clustering: CLUSTER BY is a metadata-only domain commit
    (no data moves), and the NEXT OPTIMIZE performs the clustering
    rewrite — after it, stats-based skipping is selective on BOTH
    cluster columns and the adds carry clusteringProvider=liquid."""
    df = (
        spark.range(2000)
        .withColumn("a", (F.col("id") * 7919 % 100).cast("long"))
        .withColumn("b", (F.col("id") * 104729 % 100).cast("long"))
        .repartition(8)
    )
    t = DeltaishTable.create(spark, str(tmp_path / "lc"), df)
    files_before = dict(t._snapshot().files)
    v = t.cluster_by(["a", "b"])
    assert t.clustering_columns() == ["a", "b"]
    assert dict(t._snapshot().files) == files_before  # metadata-only
    assert "clustering" in t._snapshot().protocol["writerFeatures"]
    t.optimize(target_bytes=8 * 1024)  # sized so several files result
    snap = t._snapshot()
    assert all(
        a.get("clusteringProvider") == "liquid"
        for a in snap.files.values()
    )
    n = len(snap.files)
    for col in ("a", "b"):
        hits = t.files_matching(col, 10, 20)
        assert 0 < len(hits) < n, (col, len(hits), n)
    # history records clusterBy, not zOrderBy
    ops = {h["version"]: h["operation"] for h in t.history()}
    assert ops[v] == "CLUSTER BY"
    assert ops[t.version] == "OPTIMIZE"
    params = [
        a["commitInfo"]["operationParameters"]
        for a in dlog.read_commit(str(tmp_path / "lc"), t.version)
        if "commitInfo" in a
    ][0]
    assert "clusterBy" in params
    # CLUSTER BY NONE tombstones the domain; optimize bin-packs again
    t.cluster_by(None)
    assert t.clustering_columns() == []


def test_cluster_by_guards(spark, tmp_path):
    t = DeltaishTable.create(
        spark,
        str(tmp_path / "lcg"),
        spark.range(10).withColumn("g", (F.col("id") % 2).cast("int")),
    )
    with pytest.raises(ValueError, match="at most 4"):
        t.cluster_by(["id", "g", "id", "g", "id"])
    with pytest.raises(ValueError, match="no such clustering"):
        t.cluster_by(["zzz"])
    tp = DeltaishTable.create(
        spark,
        str(tmp_path / "lcp"),
        spark.range(10).withColumn("g", (F.col("id") % 2).cast("int")),
        partition_by=("g",),
    )
    with pytest.raises(ValueError, match="hive-partitioned"):
        tp.cluster_by(["id"])


def test_clustering_preserves_row_ids(spark, tmp_path):
    t = DeltaishTable.create(
        spark,
        str(tmp_path / "lcrt"),
        spark.range(200).withColumn("v", F.col("id") * 2.0).repartition(4),
    )
    t.enable_row_tracking()
    t.cluster_by(["v"])
    before = {
        r.id: r._row_id for r in t.read_with_row_ids().collect()
    }
    t.optimize()
    after = {
        r.id: r._row_id for r in t.read_with_row_ids().collect()
    }
    assert after == before


def test_timestamp_ntz_roundtrip(spark, tmp_path):
    """timestampNtz table feature: a TIMESTAMP_NTZ column (wall time,
    no zone) survives create/append/read and predicate pruning — the
    schemaString round-trips the timestamp_ntz type."""
    df = spark.sql(
        "SELECT id AS k, "
        "timestamp_ntz'2024-03-01 10:00:00' + make_interval(0,0,0,0,0,0,id)"
        " AS ts FROM range(10)"
    )
    t = DeltaishTable.create(spark, str(tmp_path / "ntz"), df)
    got = t.read()
    assert dict(got.dtypes)["ts"] == "timestamp_ntz"
    assert got.count() == 10
    t.append(
        spark.sql(
            "SELECT CAST(100 AS BIGINT) AS k, "
            "timestamp_ntz'2024-03-02 00:00:00' AS ts"
        )
    )
    assert t.read().count() == 11
    sj = json.loads(t._snapshot().metadata["schemaString"])
    assert sj["fields"][1]["type"] == "timestamp_ntz"
    # skipping on the ntz column still answers (ISO-string stats order)
    hits = t.files_matching("ts", "2024-03-02", "2024-03-03")
    assert hits


def test_rename_guard_sees_backticked_and_invariant_refs(
    spark, tmp_path
):
    """The reference guard must catch backtick-quoted identifiers in
    CHECK expressions and delta.invariants field metadata — missing
    either would let a rename orphan the expression and break every
    later write."""
    t = DeltaishTable.create(
        spark,
        str(tmp_path / "bt"),
        spark.createDataFrame([(1, 2.0)], "a long, b double"),
    )
    t.enable_column_mapping()
    t.add_check_constraint("pos", "`a` > 0")
    with pytest.raises(ValueError, match="constraint pos"):
        t.rename_column("a", "c")
    t.drop_check_constraint("pos")
    t.rename_column("a", "c")  # now legal
    # invariants: foreign-log style field metadata
    _foreign_log(
        tmp_path / "inv2",
        {"minReaderVersion": 2, "minWriterVersion": 5},
        {"delta.columnMapping.mode": "name",
         "delta.columnMapping.maxColumnId": "1"},
        phys_col="col-feedface00000000000000000000000000",
        field_md={
            "delta.invariants": json.dumps(
                {"expression": {"expression": "id > 0"}}
            )
        },
    )
    t2 = DeltaishTable(spark, str(tmp_path / "inv2"))
    with pytest.raises(ValueError, match="invariant on id"):
        t2.rename_column("id", "key")
    # (drop shares _referencing_exprs; the single-column guard fires
    # first on this one-column fixture)


def test_protocol_upgrade_enumerates_legacy_features(spark, tmp_path):
    """Upgrading to the table-features protocol must LIST the features
    the legacy writer version implied — at v7 only listed features are
    active, so dropping them would release external writers from CDF /
    constraint obligations."""
    t = DeltaishTable.create(
        spark,
        str(tmp_path / "pf"),
        spark.createDataFrame([(1,)], "k long"),
    )
    t.add_check_constraint("pos", "k > 0")  # legacy floor 3
    assert t._snapshot().protocol["minWriterVersion"] == 3
    t.enable_change_data_feed()  # legacy floor 4
    assert t._snapshot().protocol["minWriterVersion"] == 4
    t.enable_row_tracking()  # upgrade to table features
    proto = t._snapshot().protocol
    assert proto["minWriterVersion"] == 7
    feats = set(proto["writerFeatures"])
    assert {
        "appendOnly",
        "invariants",
        "checkConstraints",
        "changeDataFeed",
        "generatedColumns",
        "rowTracking",
        "domainMetadata",
    } <= feats


def test_generic_property_path_cannot_dodge_feature_apis(
    spark, tmp_path
):
    t = DeltaishTable.create(
        spark,
        str(tmp_path / "dodge"),
        spark.createDataFrame([(1,)], "k long"),
    )
    for k in (
        "delta.enableRowTracking",
        "delta.enableChangeDataFeed",
        "delta.enableInCommitTimestamps",
    ):
        with pytest.raises(ValueError, match="use enable_"):
            t.set_table_properties({k: "true"})


def test_clustered_optimize_is_incremental(spark, tmp_path):
    """Scheduled OPTIMIZE on a clustered table is O(new data): a
    converged table NO-OPs, an append of new (unclustered) files
    triggers a recluster sized by target_bytes."""
    df = (
        spark.range(2000)
        .withColumn("a", (F.col("id") * 7919 % 100).cast("long"))
        .repartition(6)
    )
    t = DeltaishTable.create(spark, str(tmp_path / "inc"), df)
    t.cluster_by(["a"])
    t.optimize(target_bytes=8 * 1024)
    v_clustered = t.version
    assert t.optimize(target_bytes=8 * 1024) == v_clustered  # no-op
    assert t.version == v_clustered
    t.append(
        spark.range(2000, 2200).withColumn(
            "a", (F.col("id") % 100).cast("long")
        )
    )
    v2 = t.optimize(target_bytes=8 * 1024)
    assert v2 == t.version and v2 > v_clustered
    assert all(
        a.get("clusteringProvider") == "liquid"
        for a in t._snapshot().files.values()
    )


def test_mapped_write_restores_field_id_conf(spark, tmp_path):
    t = DeltaishTable.create(
        spark,
        str(tmp_path / "conf"),
        spark.createDataFrame([(1,)], "k long"),
    )
    t.enable_column_mapping()
    spark.conf.set("spark.sql.parquet.fieldId.write.enabled", "false")
    try:
        t.append(spark.createDataFrame([(2,)], "k long"))
        assert (
            spark.conf.get("spark.sql.parquet.fieldId.write.enabled")
            == "false"
        )
    finally:
        spark.conf.unset("spark.sql.parquet.fieldId.write.enabled")


def test_vacuum_retention_guard_and_dry_run(spark, tmp_path):
    """Short retention refuses unless explicitly overridden (the
    retentionDurationCheck rail), and DRY RUN lists would-be
    deletions without removing a byte or committing."""
    t = DeltaishTable.create(
        spark,
        str(tmp_path / "vg"),
        spark.createDataFrame([(1,)], "k long"),
    )
    t.overwrite(spark.createDataFrame([(2,)], "k long"))
    with pytest.raises(ValueError, match="7-day default"):
        t.vacuum(retention_hours=0.0)
    v_before = t.version
    would = t.vacuum(
        retention_hours=0.0, enforce_retention=False, dry_run=True
    )
    assert would  # the overwritten v0 file qualifies
    assert t.version == v_before  # no VACUUM commit
    for p in would:
        assert os.path.exists(str(tmp_path / "vg" / p))  # untouched
    gone = t.vacuum(retention_hours=0.0, enforce_retention=False)
    assert sorted(gone) == sorted(would)
    for p in gone:
        assert not os.path.exists(str(tmp_path / "vg" / p))


def test_v7_feature_enablement_after_table_features_upgrade(spark, tmp_path):
    """At minWriterVersion 7 only LISTED features are active, so
    enabling CHECK constraints / CDF / column mapping on a table that
    is ALREADY at the table-features protocol must append the feature
    to writerFeatures — a bare version floor would let a compliant
    external writer commit without honoring it."""
    t = DeltaishTable.create(spark, str(tmp_path / "t"), _orders(spark, 20))
    t.cluster_by(["o_orderkey"])  # upgrades to v7
    proto = t._snapshot().protocol
    assert proto["minWriterVersion"] == 7
    assert "checkConstraints" not in (proto.get("writerFeatures") or [])

    t.add_check_constraint("pos_price", "o_totalprice > 0")
    wf = t._snapshot().protocol["writerFeatures"]
    assert "checkConstraints" in wf

    t.enable_change_data_feed()
    wf = t._snapshot().protocol["writerFeatures"]
    assert "changeDataFeed" in wf

    t.enable_column_mapping()
    proto = t._snapshot().protocol
    assert "columnMapping" in proto["writerFeatures"]
    assert proto["minReaderVersion"] >= 2
    # the CHECK is actually honored post-upgrade
    with pytest.raises(ValueError, match="pos_price"):
        t.append(
            spark.createDataFrame(
                [(1, 1, "O", -5.0, "1-URGENT")],
                t.read().schema,
            )
        )


def test_column_mapping_listed_in_reader_features_at_v3(spark, tmp_path):
    """columnMapping is a reader+writer feature: once minReaderVersion
    is 3 (e.g. after deletion vectors), enabling it must list it in
    readerFeatures too, not just bump a legacy reader floor."""
    t = DeltaishTable.create(spark, str(tmp_path / "t"), _orders(spark, 20))
    keys = sorted(r.o_orderkey for r in t.read().collect())
    t.delete(F.col("o_orderkey") == keys[0], mode="merge_on_read")
    assert t._snapshot().protocol["minReaderVersion"] == 3
    t.enable_column_mapping()
    proto = t._snapshot().protocol
    assert "columnMapping" in (proto.get("readerFeatures") or [])
    assert "columnMapping" in proto["writerFeatures"]
    # renames still metadata-only and readable
    t.rename_column("o_totalprice", "price")
    assert "price" in t.read().columns


def test_merge_under_row_tracking_refuses_duplicate_target_keys(
    spark, tmp_path
):
    """A source row matching multiple target rows would inherit one
    row id for a collapsed row set, silently violating row-id
    uniqueness — refuse, like Delta's multiple-match MERGE error."""
    base = _orders(spark, 6)
    dup_target = base.unionByName(base.limit(2))
    t = DeltaishTable.create(spark, str(tmp_path / "t"), dup_target)
    t.enable_row_tracking()
    src = base.limit(1).withColumn("o_totalprice", F.lit(9.0))
    with pytest.raises(ValueError, match="multiple target rows"):
        t.merge(src, keys=["o_orderkey"])


@pytest.mark.parametrize(
    "shape", ["upsert", "no_insert", "conditional_update"]
)
def test_merge_agrees_with_merge_into(spark, tmp_path, shape):
    """The two MERGE engines agree: each merge() call shape leaves the
    same rows, change feed and row ids as the equivalent explicit
    merge_into() clauses, on a table with CDF and row tracking on."""
    set_ = {"o_orderstatus": F.lit("X")}
    cond = F.col("t.o_custkey") % 2 == 0
    kwargs, when_matched, when_not_matched = {
        "upsert": ({}, [{"action": "update_all"}], [{"action": "insert_all"}]),
        "no_insert": ({"insert": False}, [{"action": "update_all"}], []),
        "conditional_update": (
            {"matched_update": set_, "matched_condition": cond},
            [{"action": "update", "set": set_, "condition": cond}],
            [{"action": "insert_all"}],
        ),
    }[shape]
    base = _orders(spark, 60)
    src = (
        base.filter(F.col("o_orderkey") % 3 == 0)
        .withColumn("o_totalprice", F.col("o_totalprice") + 1)
        .unionByName(
            base.limit(5).withColumn(
                "o_orderkey", F.col("o_orderkey") + 10_000_000
            )
        )
    )
    out = []
    for how in ("merge", "merge_into"):
        t = DeltaishTable.create(spark, str(tmp_path / how), base)
        t.enable_change_data_feed()
        t.enable_row_tracking()
        v0 = t.version
        if how == "merge":
            v = t.merge(src, ["o_orderkey"], **kwargs)
        else:
            v = t.merge_into(
                src,
                ["o_orderkey"],
                when_matched=when_matched,
                when_not_matched=when_not_matched,
            )
        rows = t.read_with_row_ids()
        ids = [r._row_id for r in rows.collect()]
        assert len(ids) == len(set(ids))
        out.append(
            (
                # inserted rows take fresh ids in file order; every
                # other row keeps its own
                _rows(
                    rows.withColumn(
                        "_row_id",
                        F.when(
                            F.col("o_orderkey") < 10_000_000,
                            F.col("_row_id"),
                        ),
                    )
                ),
                _rows(t.read_change_feed(v0, v).drop("_commit_timestamp")),
            )
        )
    assert out[0] == out[1]
    assert out[0][1], "the merge must change rows"


def _jobs_of(spark, tag, fn):
    """Spark jobs ``fn`` launches, counted by job tag (as
    tools/plan_audit.py counts build jobs)."""
    sc = spark.sparkContext
    sc.addJobTag(tag)
    try:
        fn()
    finally:
        sc.removeJobTag(tag)
    return len(sc._jsc.sc().statusTracker().getJobIdsForTag(tag))


def test_merge_job_counts(spark, tmp_path):
    """Spark jobs per MERGE, counted by job tag as tools/plan_audit.py
    counts them. merge() runs the reference's upsert in at most 6 (the
    source aggregate, then one write) and the SCD-2 expire in at most
    5; merge_into() runs the upsert clauses in at most 7 (the same
    aggregate, the pinned labelled join with its observed stats, the
    write). A change that adds a collect or a re-evaluation shows up
    here."""
    import pandas as pd

    base = _orders(spark)
    t = DeltaishTable.create(
        spark, str(tmp_path / "t"), base.repartitionByRange(4, "o_orderkey")
    )
    rows = [
        (r.o_orderkey, r.o_custkey, r.o_orderstatus, r.o_totalprice + 1,
         r.o_orderpriority)
        for r in base.filter(F.col("o_orderkey") % 50 == 0).collect()
    ]
    rows += [(10_000_000 + i, 1, "O", 1.0, "1-URGENT") for i in range(5)]
    src = spark.createDataFrame(
        pd.DataFrame(rows, columns=base.columns), base.schema
    )
    upsert = _jobs_of(
        spark, "merge.upsert", lambda: t.merge(src, ["o_orderkey"])
    )
    expire = _jobs_of(
        spark,
        "merge.expire",
        lambda: t.merge(
            src.select("o_orderkey", "o_totalprice"),
            ["o_orderkey"],
            matched_update={"o_orderstatus": F.lit("X")},
            matched_condition=F.col("t.o_totalprice")
            == F.col("s.o_totalprice"),
            insert=False,
        ),
    )
    clauses = _jobs_of(
        spark,
        "merge_into.upsert",
        lambda: t.merge_into(
            src,
            ["o_orderkey"],
            when_matched=[{"action": "update_all"}],
            when_not_matched=[{"action": "insert_all"}],
        ),
    )
    assert upsert <= 6 and expire <= 5 and clauses <= 7


def test_dml_job_counts(spark, tmp_path):
    """Spark jobs per row-level write, counted by job tag as
    tools/plan_audit.py counts them, on 4 range files. Copy-on-write
    DELETE and UPDATE run in at most 3 jobs (4 with CDF); merge-on-read
    DELETE in at most 2 (4 with CDF) and UPDATE, on the table the
    DELETE just gave DVs, in at most 5 (6 with CDF); overwrite_where in
    at most 5. A change that adds a collect or a re-evaluation shows
    up here."""
    base = _orders(spark).repartitionByRange(4, "o_orderkey")
    dcond = F.col("o_orderkey").between(100, 900)
    ucond = F.col("o_orderkey").between(500, 2000)
    set_ = {"o_totalprice": F.col("o_totalprice") * F.lit(1.01)}
    limits = {
        ("copy_on_write", False): (3, 3),
        ("copy_on_write", True): (4, 4),
        ("merge_on_read", False): (2, 5),
        ("merge_on_read", True): (4, 6),
    }
    for (mode, cdf), (max_delete, max_update) in limits.items():
        t = DeltaishTable.create(spark, str(tmp_path / f"{mode}{cdf}"), base)
        if cdf:
            t.enable_change_data_feed()
        tag = f"dml.{mode}.{cdf}"
        deletes = _jobs_of(
            spark, f"{tag}.delete", lambda: t.delete(dcond, mode=mode)
        )
        updates = _jobs_of(
            spark, f"{tag}.update", lambda: t.update(ucond, set_, mode=mode)
        )
        assert deletes <= max_delete and updates <= max_update, (
            mode, cdf, deletes, updates
        )
    t = DeltaishTable.create(spark, str(tmp_path / "ow"), base)
    src = _orders(spark).filter(dcond).withColumn("o_totalprice", F.lit(1.0))
    assert (
        _jobs_of(
            spark, "dml.overwrite_where", lambda: t.overwrite_where(src, dcond)
        )
        <= 5
    )


@pytest.mark.parametrize("op", ["delete", "update"])
def test_dml_modes_agree(spark, tmp_path, op):
    """The row-level engine's two modes agree: copy-on-write and
    merge-on-read leave the same rows, row ids and change feed, on a
    table with CDF and row tracking on that already carries deletion
    vectors. The UPDATE assigns a column its own condition reads, so
    matched-ness must be decided on the old values in both modes."""
    cond = F.col("o_custkey") % 3 == 0
    set_ = {
        "o_custkey": F.col("o_custkey") + 1,
        "o_totalprice": F.col("o_totalprice") * 2,
    }
    base = (
        _orders(spark, 300)
        .repartition(3, "o_orderkey")
        .sortWithinPartitions("o_orderkey")
    )
    out = []
    for mode in ("copy_on_write", "merge_on_read"):
        t = DeltaishTable.create(spark, str(tmp_path / mode), base)
        t.enable_change_data_feed()
        t.enable_row_tracking()
        t.delete(F.col("o_orderkey") % 7 == 0, mode="merge_on_read")
        v0 = t.version
        if op == "delete":
            v = t.delete(cond, mode=mode)
        else:
            v = t.update(cond, set_, mode=mode)
        assert v == v0 + 1
        out.append(
            (
                _rows(t.read_with_row_ids()),
                _rows(t.read_change_feed(v0, v).drop("_commit_timestamp")),
            )
        )
    assert out[0] == out[1]
    assert out[0][1], "the write must change rows"


def test_mor_update_checks_constraints_before_writing_dvs(spark, tmp_path):
    """A merge-on-read UPDATE that violates a CHECK constraint fails
    before any deletion-vector file or data file is written, and
    commits nothing."""
    t = DeltaishTable.create(spark, str(tmp_path / "t"), _orders(spark, 50))
    t.add_check_constraint("positive_price", "o_totalprice > 0")
    v = t.version
    listing = sorted(os.listdir(t.path))
    with pytest.raises(ValueError, match="positive_price"):
        t.update(
            F.col("o_orderkey") % 2 == 0,
            {"o_totalprice": F.lit(-1.0)},
            mode="merge_on_read",
        )
    assert t.version == v
    assert sorted(os.listdir(t.path)) == listing


def test_zorder_on_temporal_columns(spark, tmp_path):
    """Z-ORDER scales date and timestamp z-columns on their epoch
    value: clustering sf0.001 orders on (o_orderdate, o_orderkey) —
    o_orderdate is a timestamp — and on a date column keeps every
    row."""
    src = load_table(spark, SF_DIR, "orders").withColumn(
        "d", F.to_date("o_orderdate")
    )
    assert dict(src.dtypes)["o_orderdate"].startswith("timestamp")
    t = DeltaishTable.create(spark, str(tmp_path / "t"), src.repartition(4))
    t.zorder_by(["o_orderdate", "o_orderkey"], n_files=4)
    assert _rows(t.read()) == _rows(src)
    t.zorder_by(["d", "o_custkey"], n_files=2)
    assert _rows(t.read()) == _rows(src)
    assert len(t._snapshot().files) == 2


def test_write_commit_order_is_reproducible(spark, tmp_path):
    """A write's files are committed in sorted staging order: two tables
    created from the same frame log the same sequence of adds
    (partition values and stats) and backfill the same row ids."""
    src = (
        _orders(spark)
        .repartition(4, "o_orderkey")
        .sortWithinPartitions("o_orderkey")
    )
    seqs, ids = [], []
    for name in ("a", "b"):
        t = DeltaishTable.create(
            spark, str(tmp_path / name), src, partition_by=["o_orderstatus"]
        )
        t.enable_row_tracking()
        seqs.append(
            [
                (a["add"]["partitionValues"], a["add"]["stats"])
                for a in dlog.read_commit(t.path, 0)
                if "add" in a
            ]
        )
        ids.append(_rows(t.read_with_row_ids()))
    assert len(seqs[0]) > 3
    assert seqs[0] == seqs[1]
    assert ids[0] == ids[1]


def test_files_matching_runs_the_predicate_evaluator(spark, tmp_path):
    """files_matching(col, lo, hi) is the range predicate through the
    one skipping evaluator: an all-NULL column matches no range, a
    timestamp bound meets a date column's stats at midnight, and
    Decimal bounds meet a decimal partition column.
    files_matching_predicate and read_pruned agree with it."""
    from datetime import date, datetime
    from decimal import Decimal

    src = spark.createDataFrame(
        [
            (1, Decimal("9.50"), date(2024, 1, 1), "b"),
            (2, Decimal("25.00"), date(2024, 1, 2), "c"),
            (3, Decimal("100.00"), date(2024, 3, 1), None),
            (4, Decimal("200.00"), date(2024, 3, 2), None),
        ],
        "k long, price decimal(10,2), d date, s string",
    )
    t = DeltaishTable.create(
        spark, str(tmp_path / "t"), src, partition_by=["price"]
    )
    by_k = {
        json.loads(a["stats"])["minValues"]["k"]: p
        for p, a in t._snapshot().files.items()
    }
    assert sorted(by_k) == [1, 2, 3, 4]

    def files(*ks):
        return sorted(by_k[k] for k in ks)

    lo, hi = Decimal("10"), Decimal("30")
    assert sorted(t.files_matching("price", lo, hi)) == files(2)
    assert sorted(
        t.files_matching_predicate(F.col("price").between(lo, hi))
    ) == files(2)
    assert [r.k for r in t.read_pruned("price", lo, hi).collect()] == [2]
    assert sorted(t.files_matching("s", "a", "z")) == files(1, 2)
    midnight = datetime(2024, 1, 2)
    assert sorted(t.files_matching("d", midnight, midnight)) == files(2)
    assert sorted(t.files_matching("k", 1, 4)) == files(1, 2, 3, 4)


def test_decimal_footer_stats_prune(spark, tmp_path):
    """Spark writes decimals up to precision 18 as INT32/INT64, whose
    min/max pyarrow does not decode: the footer stats scale the raw
    unscaled integers like the FIXED_LEN_BYTE_ARRAY path does, so a
    predicate on a decimal data column prunes files."""
    from decimal import Decimal

    schema = "k long, a decimal(10,2), b decimal(5,1), c decimal(30,2)"
    rows = [
        [(1, Decimal("-7.50"), Decimal("-3.5"), Decimal("-1.00")),
         (2, Decimal("1.25"), Decimal("2.0"), Decimal("5.25"))],
        [(3, Decimal("100.00"), Decimal("50.5"), Decimal("700.00"))],
    ]
    t = DeltaishTable.create(
        spark,
        str(tmp_path / "t"),
        spark.createDataFrame(rows[0], schema).coalesce(1),
    )
    t.append(spark.createDataFrame(rows[1], schema).coalesce(1))
    stats = {
        (s := json.loads(a["stats"]))["minValues"]["k"]: (p, s)
        for p, a in t._snapshot().files.items()
    }
    (p1, s1), (p3, s3) = stats[1], stats[3]
    assert s1["minValues"] == {"k": 1, "a": "-7.50", "b": "-3.5", "c": "-1.00"}
    assert s1["maxValues"] == {"k": 2, "a": "1.25", "b": "2.0", "c": "5.25"}
    assert s3["minValues"]["a"] == s3["maxValues"]["a"] == "100.00"
    for col, lo, hi in (("a", "50", "150"), ("b", "10", "60")):
        assert t.files_matching(col, Decimal(lo), Decimal(hi)) == [p3]
        assert t.files_matching_predicate(
            F.col(col).between(Decimal(lo), Decimal(hi))
        ) == [p3]
    assert t.files_matching("a", Decimal("-8"), Decimal("0")) == [p1]
    pruned = t.read_pruned("b", Decimal(10), Decimal(60))
    assert [r.k for r in pruned.collect()] == [3]



def test_temporal_literals_are_typed_by_their_column(spark, tmp_path):
    """A literal compared with a date or timestamp column is typed as
    Spark casts it before the skipping evaluator compares it with the
    stats: a string on a timestamp column is a timestamp (not text,
    where the stats' 'T' sorts after the literal's ' '), a date on a
    timestamp column is midnight, a string on a date column is its day.
    A string that does not parse keeps every file. files_matching,
    files_matching_predicate, read_pruned and DELETE all agree with
    Spark's own filter."""
    from datetime import date, datetime

    schema = "id int, ts timestamp, d date"
    rows = [(1, datetime(2024, 1, 2, 5), date(2024, 1, 2)),
            (2, datetime(2024, 1, 1), date(2024, 1, 1))]

    def table(name):
        t = DeltaishTable.create(
            spark, str(tmp_path / name), spark.createDataFrame(rows[:1], schema)
        )
        t.append(spark.createDataFrame(rows[1:], schema))
        return t

    t = table("t")
    file_of = {
        json.loads(a["stats"])["minValues"]["id"]: p
        for p, a in t._snapshot().files.items()
    }
    assert sorted(file_of) == [1, 2]

    def ids_of(files):
        return sorted(k for k, p in file_of.items() if p in files)

    def spark_ids(cond):
        return sorted(r.id for r in t.read().filter(cond).collect())

    for cond in [
        "ts <= '2024-01-02 10:00:00'",
        "ts > '2024-01-02'",
        "ts = '2024-01-02T05:00:00'",
        F.col("ts") > F.lit(date(2024, 1, 2)),
        F.col("ts") <= F.lit("2024-01-02 10:00:00"),
        "d >= '2024-01-02 10:00:00'",
        F.col("d") >= F.lit("2024-01-02 10:00:00"),
        F.col("d") < F.lit("2024-01-02T00:00:00"),
    ]:
        want = spark_ids(cond)
        assert want, cond
        assert ids_of(t.files_matching_predicate(cond)) == want, cond
    # a string that does not parse as the column's type keeps the file
    assert ids_of(t.files_matching_predicate("ts = 'noon'")) == [1, 2]
    assert ids_of(t.files_matching_predicate("d <> 'x'")) == [1, 2]
    for col, lo, hi, want in [
        ("ts", "2024-01-02 00:00:00", "2024-01-02 10:00:00", [1]),
        ("ts", date(2024, 1, 2), date(2024, 1, 3), [1]),
        ("d", "2024-01-01 12:00:00", "2024-01-01 23:00:00", [2]),
    ]:
        assert ids_of(t.files_matching(col, lo, hi)) == want
        assert [r.id for r in t.read_pruned(col, lo, hi).collect()] == want
    for name, cond, left in [
        ("d1", "ts <= '2024-01-02 10:00:00'", []),
        ("d2", F.col("ts") > F.lit(date(2024, 1, 2)), [2]),
        ("d3", "d >= '2024-01-02 10:00:00'", [2]),
    ]:
        td = table(name)
        td.delete(cond)
        assert sorted(r.id for r in td.read().collect()) == left, name

def test_merge_into_commit_metrics_and_noop(spark, tmp_path):
    """The merge_into() commitInfo carries numTargetRowsUpdated /
    Deleted / Inserted, equal to the rows the merge changed (read back
    from the change feed); a merge that changes nothing writes no
    commit. The counts are read back from the pinning query's own
    execution: pyspark's Observation would install a session listener
    that re-analyzes every later failing query and logs it at ERROR."""
    base = _orders(spark, 40)
    t = DeltaishTable.create(spark, str(tmp_path / "t"), base)
    t.enable_change_data_feed()
    v0 = t.version
    src = base.filter(F.col("o_orderkey") % 2 == 0).unionByName(
        base.limit(3).withColumn("o_orderkey", F.col("o_orderkey") + 10_000_000)
    )
    v = t.merge_into(
        src,
        ["o_orderkey"],
        when_matched=[
            {"action": "delete", "condition": "t.o_custkey % 3 = 0"},
            {"action": "update", "set": {"o_orderstatus": "'X'"}},
        ],
        when_not_matched=[{"action": "insert_all"}],
    )
    kinds = [r._change_type for r in t.read_change_feed(v0, v).collect()]
    metrics = t.history()[-1]["operationMetrics"]
    assert metrics == {
        "numTargetRowsUpdated": str(kinds.count("update_postimage")),
        "numTargetRowsDeleted": str(kinds.count("delete")),
        "numTargetRowsInserted": str(kinds.count("insert")),
    }
    assert all(int(n) > 0 for n in metrics.values())
    # re-applying an expire whose condition no longer holds: no commit
    expire = [
        {
            "action": "update",
            "set": {"o_orderstatus": F.lit("X")},
            "condition": F.col("t.o_orderstatus") != F.lit("X"),
        }
    ]
    t.merge_into(src, ["o_orderkey"], when_matched=expire)
    assert (
        t.merge_into(src, ["o_orderkey"], when_matched=expire)
        == t.version
        == v + 1
    )
    listeners = spark._jsparkSession.listenerManager().listListeners()
    assert not [
        l for l in listeners if "ObservationManager" in l.getClass().getName()
    ]


def test_merge_and_dv_writes_release_their_pins(spark, tmp_path):
    """merge_into() and the merge-on-read DELETE / UPDATE pin their
    rows with an eager local checkpoint; none leaves a cached RDD
    behind."""
    sc = spark.sparkContext._jsc.sc()

    def cached():
        return {i.id() for i in sc.getRDDStorageInfo()}

    base = _orders(spark, 50)
    t = DeltaishTable.create(spark, str(tmp_path / "t"), base)
    before = cached()
    t.merge_into(
        base.limit(5).withColumn("o_totalprice", F.lit(1.0)),
        ["o_orderkey"],
        when_matched=[{"action": "update_all"}],
        when_not_matched=[{"action": "insert_all"}],
    )
    t.delete(F.col("o_orderkey") % 7 == 0, mode="merge_on_read")
    t.update(
        F.col("o_orderkey") % 5 == 0,
        {"o_orderstatus": F.lit("U")},
        mode="merge_on_read",
    )
    assert cached() <= before


def test_clustering_domain_stores_physical_names(spark, tmp_path):
    """The delta.clustering domain keys on PHYSICAL column names so a
    RENAME COLUMN never leaves a stale logical name behind: OPTIMIZE
    after the rename still clusters, clustering_columns() reports the
    new logical name, and dropping a clustering column refuses."""
    t = DeltaishTable.create(spark, str(tmp_path / "t"), _orders(spark, 40))
    t.enable_column_mapping()
    t.cluster_by(["o_totalprice"])
    phys = json.loads(t._snapshot().domains[t.CLUSTERING_DOMAIN])
    stored = [p[0] for p in phys["clusteringColumns"]]
    assert stored == [t._column_mapping(t._snapshot())["o_totalprice"]]

    t.rename_column("o_totalprice", "price")
    assert t.clustering_columns() == ["price"]
    t.append(_orders(spark, 10).withColumnRenamed("o_totalprice", "price"))
    v = t.optimize()  # clusters on the renamed column, no stale-name error
    assert v == t.version
    assert all(
        a.get("clusteringProvider") == "liquid"
        for a in t._snapshot().files.values()
    )
    with pytest.raises(ValueError, match="clustering column"):
        t.drop_column("price")


def test_set_table_properties_guards_engine_bookkeeping(spark, tmp_path):
    """The generic SET TBLPROPERTIES path must not overwrite
    engine-managed row-tracking materialized-column names or the
    column-mapping max id."""
    t = DeltaishTable.create(spark, str(tmp_path / "t"), _orders(spark, 5))
    for key in (
        "delta.rowTracking.materializedRowIdColumnName",
        "delta.rowTracking.materializedRowCommitVersionColumnName",
        "delta.columnMapping.maxColumnId",
    ):
        with pytest.raises(ValueError, match="engine-managed"):
            t.set_table_properties({key: "boom"})


# ------------------- reverse-direction protocol fixtures (round 5) --
# Handwritten delta-spark-style logs exercising the round-4 feature
# set FROM THE OUTSIDE: the bytes below are composed from the public
# PROTOCOL.md framing directly (struct literals, not this engine's
# serializers), so any drift in our reading of the spec fails these
# pins even without delta-spark in the sandbox.


def _ext_log(root, actions_by_version):
    log_dir = root / "_delta_log"
    log_dir.mkdir(exist_ok=True)
    for v, actions in actions_by_version.items():
        with open(log_dir / f"{v:020d}.json", "w") as f:
            for a in actions:
                f.write(json.dumps(a) + "\n")


def _ext_parquet(root, fname, cols):
    import pyarrow as pa
    import pyarrow.parquet as pq

    pq.write_table(pa.table(cols), str(root / fname))
    return os.path.getsize(str(root / fname))


def test_reads_external_deletion_vector_fixture(spark, tmp_path):
    """A DV descriptor + DV file handwritten in the spec's exact
    on-disk framing (version byte, BE dataSize/CRC frame, magic
    1681511377, portable RoaringBitmapArray, RFC-1924 base85 uuid)
    reads back with exactly the undeleted rows."""
    import struct
    import uuid as _uuid
    import zlib

    root = tmp_path / "ext_dv"
    root.mkdir()
    fname = "part-00000-dv.snappy.parquet"
    size = _ext_parquet(
        root, fname, {"id": [0, 1, 2, 3, 4], "v": list("abcde")}
    )

    # ---- DV blob for deleted positions {1, 3}, composed by hand ----
    roaring32 = (
        struct.pack("<II", 12346, 1)      # no-run cookie, 1 container
        + struct.pack("<HH", 0, 1)        # key 0, cardinality-1 = 1
        + struct.pack("<I", 16)           # offset header
        + struct.pack("<2H", 1, 3)        # array container {1, 3}
    )
    data = (
        struct.pack("<I", 1681511377)     # RoaringBitmapArray magic
        + struct.pack("<q", 1)            # one 32-bit bitmap
        + struct.pack("<I", 0)            # bitmap key 0
        + roaring32
    )
    entry = (
        struct.pack(">I", len(data))
        + data
        + struct.pack(">I", zlib.crc32(data) & 0xFFFFFFFF)
    )
    u = _uuid.uuid4()
    with open(root / f"deletion_vector_{u}.bin", "wb") as f:
        f.write(b"\x01" + entry)

    # RFC-1924 base85 of the uuid (hand-rolled; 20 chars)
    alpha = (
        "0123456789ABCDEFGHIJKLMNOPQRSTUVWXYZ"
        "abcdefghijklmnopqrstuvwxyz!#$%&()*+-;<=>?@^_`{|}~"
    )
    enc = []
    for i in range(0, 16, 4):
        (x,) = struct.unpack_from(">I", u.bytes, i)
        grp = []
        for _ in range(5):
            grp.append(alpha[x % 85])
            x //= 85
        enc.extend(reversed(grp))
    b85_uuid = "".join(enc)

    schema_string = json.dumps(
        {
            "type": "struct",
            "fields": [
                {"name": "id", "type": "long", "nullable": True, "metadata": {}},
                {"name": "v", "type": "string", "nullable": True, "metadata": {}},
            ],
        }
    )
    _ext_log(
        root,
        {
            0: [
                {
                    "protocol": {
                        "minReaderVersion": 3,
                        "minWriterVersion": 7,
                        "readerFeatures": ["deletionVectors"],
                        "writerFeatures": ["deletionVectors"],
                    }
                },
                {
                    "metaData": {
                        "id": "11111111-0000-0000-0000-000000000000",
                        "format": {"provider": "parquet", "options": {}},
                        "schemaString": schema_string,
                        "partitionColumns": [],
                        "configuration": {},
                        "createdTime": 1700000000000,
                    }
                },
                {
                    "add": {
                        "path": fname,
                        "partitionValues": {},
                        "size": size,
                        "modificationTime": 1700000000000,
                        "dataChange": True,
                        "stats": json.dumps({"numRecords": 5}),
                        "deletionVector": {
                            "storageType": "u",
                            "pathOrInlineDv": b85_uuid,
                            "offset": 1,
                            "sizeInBytes": len(data),
                            "cardinality": 2,
                        },
                    }
                },
                {"commitInfo": {"timestamp": 1700000000000, "operation": "WRITE"}},
            ]
        },
    )
    t = DeltaishTable(spark, str(root))
    assert _rows(t.read()) == [("0", "a"), ("2", "c"), ("4", "e")]
    # and the engine can keep writing: a MOR delete merges into the
    # externally-written DV
    t.delete(F.col("id") == 4, mode="merge_on_read")
    assert _rows(t.read()) == [("0", "a"), ("2", "c")]
    dv = next(iter(t._snapshot().files.values()))["deletionVector"]
    assert dv["cardinality"] == 3


def test_reads_external_column_mapping_fixture(spark, tmp_path):
    """A name-mode column-mapping log whose schema field was RENAMED
    by an external writer (logical name differs from the physical
    parquet column) reads back under the logical name."""
    root = tmp_path / "ext_map"
    root.mkdir()
    fname = "part-00000-map.snappy.parquet"
    size = _ext_parquet(
        root,
        fname,
        {"col-aaaa1111": [10, 20], "col-bbbb2222": ["x", "y"]},
    )
    schema_string = json.dumps(
        {
            "type": "struct",
            "fields": [
                {
                    "name": "renamed_id",
                    "type": "long",
                    "nullable": True,
                    "metadata": {
                        "delta.columnMapping.id": 1,
                        "delta.columnMapping.physicalName": "col-aaaa1111",
                    },
                },
                {
                    "name": "v",
                    "type": "string",
                    "nullable": True,
                    "metadata": {
                        "delta.columnMapping.id": 2,
                        "delta.columnMapping.physicalName": "col-bbbb2222",
                    },
                },
            ],
        }
    )
    _ext_log(
        root,
        {
            0: [
                {"protocol": {"minReaderVersion": 2, "minWriterVersion": 5}},
                {
                    "metaData": {
                        "id": "22222222-0000-0000-0000-000000000000",
                        "format": {"provider": "parquet", "options": {}},
                        "schemaString": schema_string,
                        "partitionColumns": [],
                        "configuration": {
                            "delta.columnMapping.mode": "name",
                            "delta.columnMapping.maxColumnId": "2",
                        },
                        "createdTime": 1700000000000,
                    }
                },
                {
                    "add": {
                        "path": fname,
                        "partitionValues": {},
                        "size": size,
                        "modificationTime": 1700000000000,
                        "dataChange": True,
                        "stats": json.dumps({"numRecords": 2}),
                    }
                },
                {"commitInfo": {"timestamp": 1700000000000, "operation": "WRITE"}},
            ]
        },
    )
    t = DeltaishTable(spark, str(root))
    assert t.read().columns == ["renamed_id", "v"]
    assert _rows(t.read()) == [("10", "x"), ("20", "y")]
    # engine appends physicalize through the external mapping
    t.append(t.spark.createDataFrame([(30, "z")], t.read().schema))
    assert _rows(t.read().filter(F.col("renamed_id") == 30)) == [("30", "z")]
    import pyarrow.parquet as pq

    new_rel = [
        p for p in t._snapshot().files if p != fname
    ][0]
    cols = pq.read_schema(str(root / new_rel)).names
    assert set(cols) == {"col-aaaa1111", "col-bbbb2222"}


def test_reads_external_row_tracking_fixture(spark, tmp_path):
    """Row-tracking metadata written by an external writer (baseRowId,
    defaultRowCommitVersion, rowIdHighWaterMark domain, materialized
    column names) yields the spec's fresh row ids, and an engine
    append allocates ABOVE the external high-water mark."""
    root = tmp_path / "ext_rt"
    root.mkdir()
    fname = "part-00000-rt.snappy.parquet"
    size = _ext_parquet(root, fname, {"id": [7, 8, 9]})
    schema_string = json.dumps(
        {
            "type": "struct",
            "fields": [
                {"name": "id", "type": "long", "nullable": True, "metadata": {}}
            ],
        }
    )
    _ext_log(
        root,
        {
            0: [
                {
                    "protocol": {
                        "minReaderVersion": 1,
                        "minWriterVersion": 7,
                        "writerFeatures": ["rowTracking", "domainMetadata"],
                    }
                },
                {
                    "metaData": {
                        "id": "33333333-0000-0000-0000-000000000000",
                        "format": {"provider": "parquet", "options": {}},
                        "schemaString": schema_string,
                        "partitionColumns": [],
                        "configuration": {
                            "delta.enableRowTracking": "true",
                            "delta.rowTracking.materializedRowIdColumnName": "_row-id-col-ext",
                            "delta.rowTracking.materializedRowCommitVersionColumnName": "_row-version-col-ext",
                        },
                        "createdTime": 1700000000000,
                    }
                },
                {
                    "add": {
                        "path": fname,
                        "partitionValues": {},
                        "size": size,
                        "modificationTime": 1700000000000,
                        "dataChange": True,
                        "stats": json.dumps({"numRecords": 3}),
                        "baseRowId": 100,
                        "defaultRowCommitVersion": 0,
                    }
                },
                {
                    "domainMetadata": {
                        "domain": "delta.rowTracking",
                        "configuration": json.dumps(
                            {"rowIdHighWaterMark": 102}
                        ),
                        "removed": False,
                    }
                },
                {"commitInfo": {"timestamp": 1700000000000, "operation": "WRITE"}},
            ]
        },
    )
    t = DeltaishTable(spark, str(root))
    got = {
        r["id"]: (r["_row_id"], r["_row_commit_version"])
        for r in t.read_with_row_ids().collect()
    }
    assert got == {7: (100, 0), 8: (101, 0), 9: (102, 0)}
    t.append(t.spark.createDataFrame([(99,)], "id long"))
    ids = sorted(
        r["_row_id"] for r in t.read_with_row_ids().collect()
    )
    assert ids == [100, 101, 102, 103]  # fresh block above external HWM


def test_files_matching_predicate_prunes_and_stays_conservative(
    spark, tmp_path
):
    """Generic predicate-vs-stats data skipping for row-level writes:
    supported shapes prune to the stat-candidate files; anything the
    compiler can't reason about keeps every file (the sound fallback).
    Covers both condition front-ends (SQL string and pyspark Column)."""
    df = (
        _orders(spark, None)
        .limit(1000)
        .repartitionByRange(8, "o_orderkey")
        .sortWithinPartitions("o_orderkey")
    )
    t = DeltaishTable.create(spark, str(tmp_path / "t"), df)
    snap = t._snapshot()
    n = len(snap.files)
    assert n == 8
    lo_key = t.read().agg(F.min("o_orderkey")).collect()[0][0]

    # narrow range: SQL string and Column agree and prune hard
    sql_cand = t.files_matching_predicate(
        f"o_orderkey <= {lo_key}", snap=snap
    )
    col_cand = t.files_matching_predicate(
        F.col("o_orderkey") <= int(lo_key), snap=snap
    )
    assert sql_cand == col_cand
    assert len(sql_cand) == 1

    # candidates must be a superset of files truly owning matches
    tagged = t._read_snapshot_files(snap, snap.files, keep_tags=True)
    truth = {
        t._uri_to_rel(r["__fp"])
        for r in tagged.filter(F.col("o_orderkey") <= lo_key)
        .select("__fp")
        .distinct()
        .collect()
    }
    assert truth <= set(sql_cand)

    # AND narrows, OR widens, IN = union of points
    assert len(
        t.files_matching_predicate(
            f"o_orderkey <= {lo_key} AND o_totalprice > 0", snap=snap
        )
    ) == 1
    both = t.files_matching_predicate(
        f"o_orderkey <= {lo_key} OR o_orderkey > 999999999", snap=snap
    )
    assert len(both) == 1  # second disjunct matches nothing
    assert (
        len(t.files_matching_predicate("o_orderkey IN (1, 2)", snap=snap))
        <= 2
    )

    # impossible predicate: zero candidates -> DELETE is a pure no-op
    assert t.files_matching_predicate("o_orderkey < 0", snap=snap) == []
    v0 = t.version
    t.delete("o_orderkey < 0")
    assert t.version == v0

    # unsupported shapes keep everything (conservative)
    assert (
        len(
            t.files_matching_predicate(
                "o_orderpriority LIKE '%URGENT%'", snap=snap
            )
        )
        == n
    )
    assert (
        len(t.files_matching_predicate("length(o_orderstatus) = 1", snap=snap))
        == n
    )
    # NOT pushes through comparisons; null semantics stay sound
    assert (
        len(
            t.files_matching_predicate(
                f"NOT (o_orderkey > {lo_key})", snap=snap
            )
        )
        == 1
    )
    assert (
        len(t.files_matching_predicate("o_orderkey IS NULL", snap=snap)) == 0
        or True  # nullCount may be absent in stats; either is sound
    )


def test_delete_update_scan_only_candidate_files(spark, tmp_path):
    """DELETE/UPDATE bound their find-touched scan to the predicate's
    candidate files; results match an unpruned engine row-for-row."""
    df = (
        _orders(spark, None)
        .limit(1000)
        .repartitionByRange(8, "o_orderkey")
        .sortWithinPartitions("o_orderkey")
    )
    t = DeltaishTable.create(spark, str(tmp_path / "t"), df)
    keys = sorted(r.o_orderkey for r in t.read().collect())
    cut = keys[100]

    seen: list[list[str]] = []
    orig = DeltaishTable._read_snapshot_files

    def spy(self, snap, rel_paths, **kw):
        seen.append(list(rel_paths))
        return orig(self, snap, rel_paths, **kw)

    import unittest.mock as mock

    with mock.patch.object(DeltaishTable, "_read_snapshot_files", spy):
        t.delete(f"o_orderkey <= {cut}")
    # the find-touched scan (first call) saw ~1 candidate file, not 8
    assert len(seen[0]) < 8
    assert sorted(r.o_orderkey for r in t.read().collect()) == keys[101:]

    seen.clear()
    with mock.patch.object(DeltaishTable, "_read_snapshot_files", spy):
        t.update(
            f"o_orderkey <= {keys[200]}",
            {"o_totalprice": F.lit(1.0)},
            mode="merge_on_read",
        )
    assert len(seen[0]) < 8
    got = t.read().filter(F.col("o_totalprice") == 1.0).count()
    assert got == 100  # keys 101..200 live and updated


def test_merge_and_check_constraint_prune_candidates(spark, tmp_path):
    """MERGE prunes candidate files on ALL keys jointly (not just the
    first), and ADD CONSTRAINT validates only files whose stats could
    hold a violating row."""
    df = (
        _orders(spark, None)
        .limit(1000)
        .repartitionByRange(8, "o_orderkey")
        .sortWithinPartitions("o_orderkey")
    )
    t = DeltaishTable.create(spark, str(tmp_path / "t"), df)
    keys = sorted(r.o_orderkey for r in t.read().collect())

    seen: list[list[str]] = []
    orig = DeltaishTable._read_snapshot_files

    def spy(self, snap, rel_paths, **kw):
        seen.append(list(rel_paths))
        return orig(self, snap, rel_paths, **kw)

    import unittest.mock as mock

    src = (
        t.read()
        .filter(F.col("o_orderkey") <= keys[50])
        .withColumn("o_totalprice", F.col("o_totalprice") + 1)
    )
    with mock.patch.object(DeltaishTable, "_read_snapshot_files", spy):
        t.merge(src, keys=["o_orderkey"])
    assert len(seen[0]) < 8  # multi-key-bounds pruning engaged
    assert (
        t.read().count() == 1000
    )  # pure update upsert: no rows added or lost

    # every live file has o_totalprice > 0, so validation scans none
    seen.clear()
    with mock.patch.object(DeltaishTable, "_read_snapshot_files", spy):
        t.add_check_constraint("pos_price", "o_totalprice > 0")
    assert seen == [] or len(seen[0]) == 0
    assert "pos_price" in t.check_constraints()
    # and a constraint that DOES have violators still raises
    with pytest.raises(ValueError, match="violated"):
        t.add_check_constraint("impossible", f"o_orderkey > {keys[-1]}")


def test_overwrite_where_replaces_exactly_the_region(spark, tmp_path):
    """replaceWhere: one commit replaces exactly the matching rows;
    incoming rows outside the region refuse; survivors in touched
    files are preserved; candidates come from stats pruning; CDF
    records delete+insert; row ids survive for untouched rows."""
    df = (
        _orders(spark, None)
        .limit(600)
        .repartitionByRange(6, "o_orderkey")
        .sortWithinPartitions("o_orderkey")
    )
    t = DeltaishTable.create(spark, str(tmp_path / "t"), df)
    t.enable_row_tracking()
    t.enable_change_data_feed()
    keys = sorted(r.o_orderkey for r in t.read().collect())
    cut = keys[99]
    ids_before = {
        r.o_orderkey: r._row_id
        for r in t.read_with_row_ids().collect()
    }

    # region = lowest 100 keys; replacement = 40 fresh rows inside it
    repl = (
        t.read()
        .filter(F.col("o_orderkey") <= cut)
        .limit(40)
        .withColumn("o_totalprice", F.lit(7.0))
    )
    v_before = t.version
    t.overwrite_where(repl, f"o_orderkey <= {cut}")
    out = t.read()
    assert out.count() == 540  # 600 - 100 + 40
    assert out.filter(F.col("o_orderkey") <= cut).count() == 40
    assert (
        out.filter(F.col("o_orderkey") <= cut)
        .agg(F.min("o_totalprice"))
        .collect()[0][0]
        == 7.0
    )
    # untouched rows kept their row ids
    ids_after = {
        r.o_orderkey: r._row_id
        for r in t.read_with_row_ids()
        .filter(F.col("o_orderkey") > cut)
        .collect()
    }
    assert all(ids_before[k] == v for k, v in ids_after.items())
    # CDF: 100 deletes + 40 inserts for the commit ((v_from, v_to])
    feed = t.read_change_feed(v_before, t.version)
    by_type = {
        r._change_type: r.n
        for r in feed.groupBy("_change_type")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    assert by_type == {"delete": 100, "insert": 40}
    # a stray row outside the region refuses before any commit
    v_now = t.version
    with pytest.raises(ValueError, match="replaceWhere"):
        t.overwrite_where(
            t.read().limit(1).withColumn(
                "o_orderkey", F.lit(int(keys[-1]) + 10).cast("long")
            ),
            f"o_orderkey <= {cut}",
        )
    assert t.version == v_now

    # pruning engaged: the find-touched scan saw < all files
    seen: list[list[str]] = []
    orig = DeltaishTable._read_snapshot_files

    def spy(self, snap, rel_paths, **kw):
        seen.append(list(rel_paths))
        return orig(self, snap, rel_paths, **kw)

    import unittest.mock as mock

    repl2 = (
        t.read()
        .filter(F.col("o_orderkey") > keys[-50])
        .withColumn("o_totalprice", F.lit(9.0))
    )
    n_files = len(t._snapshot().files)
    with mock.patch.object(DeltaishTable, "_read_snapshot_files", spy):
        t.overwrite_where(repl2, f"o_orderkey > {keys[-50]}")
    assert len(seen[0]) < n_files


def test_overwrite_partitions_dynamic(spark, tmp_path):
    """Dynamic partition overwrite: only the partitions present in the
    written frame are replaced; unwritten partitions are untouched;
    a frame targeting a brand-new partition degrades to append; an
    unpartitioned table refuses."""
    df = load_table(spark, SF_DIR, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    ).limit(300)
    t = DeltaishTable.create(
        spark, str(tmp_path / "t"), df, partition_by=("o_orderstatus",)
    )
    before = {
        r.o_orderstatus: r.n
        for r in t.read()
        .groupBy("o_orderstatus")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    assert set(before) >= {"O", "F"}

    # replace ONLY status 'F' with two rows
    repl = spark.createDataFrame(
        [(1_000_001, "F", 1.0), (1_000_002, "F", 2.0)],
        "o_orderkey long, o_orderstatus string, o_totalprice double",
    )
    t.overwrite_partitions(repl)
    after = {
        r.o_orderstatus: r.n
        for r in t.read()
        .groupBy("o_orderstatus")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    assert after["F"] == 2
    for s, n in before.items():
        if s != "F":
            assert after[s] == n  # untouched partitions intact

    # brand-new partition: pure append, nothing replaced
    newp = spark.createDataFrame(
        [(1_000_003, "X", 3.0)],
        "o_orderkey long, o_orderstatus string, o_totalprice double",
    )
    t.overwrite_partitions(newp)
    assert t.read().filter(F.col("o_orderstatus") == "X").count() == 1
    assert t.read().filter(F.col("o_orderstatus") == "F").count() == 2

    flat = DeltaishTable.create(
        spark, str(tmp_path / "flat"), df.limit(10)
    )
    with pytest.raises(ValueError, match="partitioned"):
        flat.overwrite_partitions(repl)


def test_optimize_where_scopes_to_partitions(spark, tmp_path):
    """OPTIMIZE ... WHERE compacts only the matching partitions; data-
    column predicates refuse (delta-spark's partition-predicate rule);
    clustered tables refuse the scope."""
    df = load_table(spark, SF_DIR, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    ).limit(400)
    t = DeltaishTable.create(
        spark, str(tmp_path / "t"), df, partition_by=("o_orderstatus",)
    )
    # fragment both partitions with small appends
    for _ in range(3):
        t.append(df.limit(40))
    files_per = {}
    for p, a in t._snapshot().files.items():
        s = a["partitionValues"]["o_orderstatus"]
        files_per[s] = files_per.get(s, 0) + 1
    assert files_per["O"] >= 4 and files_per["F"] >= 4

    before = sorted(
        tuple(str(x) for x in r) for r in t.read().collect()
    )
    t.optimize(where="o_orderstatus = 'F'")
    after_files = {}
    for p, a in t._snapshot().files.items():
        s = a["partitionValues"]["o_orderstatus"]
        after_files[s] = after_files.get(s, 0) + 1
    assert after_files["F"] == 1  # compacted
    assert after_files["O"] == files_per["O"]  # untouched
    assert before == sorted(
        tuple(str(x) for x in r) for r in t.read().collect()
    )

    with pytest.raises(ValueError, match="partition-column"):
        t.optimize(where="o_totalprice > 0")
    with pytest.raises(ValueError, match="partition-column"):
        t.optimize(where="length(o_orderstatus) = 1")  # unsupported shape
    # a conjunct that degrades to ('true',) must reject too — its
    # data-column reference vanished from the column set, but the
    # scope would silently widen to the whole o_orderstatus='F'
    # partition (ADVICE r5)
    with pytest.raises(ValueError, match="partition-column"):
        t.optimize(
            where="o_orderstatus = 'F' AND lower(o_orderstatus) = 'f'"
        )

    flat = DeltaishTable.create(
        spark, str(tmp_path / "c"), df.limit(20)
    )
    flat.cluster_by(["o_orderkey"])
    with pytest.raises(ValueError, match="clustered"):
        flat.optimize(where="o_orderkey > 0")


def test_files_matching_predicate_temporal_literals(spark, tmp_path):
    """Temporal literals prune correctly through BOTH front-ends:
    stats JSON stores isoformat ('T'-separated) strings while a raw
    java.sql.Timestamp renders with a space — naive string comparison
    of the two orders wrong, so the skipper must type-normalize. The
    boundary-equality case (literal == file max) must KEEP the file."""
    import datetime as dt

    ev = load_table(spark, SF_DIR, "events").select(
        "event_id", "ts", "value"
    ).limit(2000)
    t = DeltaishTable.create(
        spark,
        str(tmp_path / "t"),
        ev.repartitionByRange(4, "ts").sortWithinPartitions("ts"),
    )
    snap = t._snapshot()
    n = len(snap.files)
    assert n == 4
    bounds = ev.agg(
        F.min("ts").alias("lo"), F.max("ts").alias("hi")
    ).collect()[0]
    lo = bounds.lo
    if hasattr(lo, "to_pydatetime"):
        lo = lo.to_pydatetime()

    # SQL front-end with a TIMESTAMP literal
    sql_cand = t.files_matching_predicate(
        f"ts <= TIMESTAMP '{lo}'", snap=snap
    )
    assert len(sql_cand) == 1
    # Column front-end with a python datetime literal — same answer
    col_cand = t.files_matching_predicate(
        F.col("ts") <= F.lit(lo), snap=snap
    )
    assert col_cand == sql_cand
    # boundary equality keeps the owning file (no false prune)
    eq_cand = t.files_matching_predicate(
        F.col("ts") == F.lit(lo), snap=snap
    )
    assert len(eq_cand) >= 1
    # and the pruned DELETE agrees with ground truth
    before = t.read().count()
    t.delete(F.col("ts") == F.lit(lo))
    removed = before - t.read().count()
    truth = ev.filter(F.col("ts") == F.lit(lo)).count()
    assert removed == truth >= 1


def test_files_matching_predicate_soundness_sweep(spark, tmp_path):
    """Soundness invariant over a diverse predicate battery: the
    candidate set is ALWAYS a superset of the files that truly own a
    matching row (pruning may keep too much, never too little), for
    numeric/string/null/boolean shapes, conjunctions, disjunctions,
    negations, IN lists, and unsupported expressions."""
    df = (
        load_table(spark, SF_DIR, "orders")
        .select(
            "o_orderkey", "o_custkey", "o_orderstatus",
            "o_totalprice", "o_orderdate", "o_orderpriority",
        )
        .limit(1200)
        .repartitionByRange(8, "o_orderkey")
        .sortWithinPartitions("o_orderkey")
    )
    t = DeltaishTable.create(spark, str(tmp_path / "t"), df)
    snap = t._snapshot()
    tagged = t._read_snapshot_files(
        snap, snap.files, keep_tags=True
    ).localCheckpoint(eager=True)
    keys = sorted(r.o_orderkey for r in t.read().collect())
    mid = keys[len(keys) // 2]

    predicates = [
        f"o_orderkey = {keys[0]}",
        f"o_orderkey <= {keys[10]}",
        f"o_orderkey > {keys[-10]}",
        f"o_orderkey >= {mid} AND o_orderkey < {keys[-1]}",
        f"o_orderkey < {keys[5]} OR o_orderkey > {keys[-5]}",
        f"NOT (o_orderkey > {mid})",
        f"o_orderkey IN ({keys[0]}, {mid}, {keys[-1]})",
        "o_orderstatus = 'F'",
        "o_orderstatus = 'ZZ'",
        "o_totalprice > 100000.0",
        "o_totalprice <= 0.0",
        "o_orderdate >= DATE '1995-01-01'",
        "o_orderdate < DATE '1990-01-01'",
        "o_orderkey IS NULL",
        "o_orderkey IS NOT NULL",
        f"o_orderstatus = 'O' AND o_orderkey <= {keys[20]}",
        "o_orderstatus <=> 'F'",
        "NOT (o_orderstatus <=> 'F')",
        f"NOT (o_orderkey <=> {mid})",
        # unsupported shapes: must keep everything
        "o_orderpriority LIKE '1%'",
        "o_orderkey % 2 = 0",
        "upper(o_orderstatus) = 'F'",
        f"CASE WHEN o_orderkey > {mid} THEN true ELSE false END",
    ]
    for pred in predicates:
        cands = set(t.files_matching_predicate(pred, snap=snap))
        truth = {
            t._uri_to_rel(r["__fp"])
            for r in tagged.filter(
                F.coalesce(F.expr(pred).cast("boolean"), F.lit(False))
            )
            .select("__fp")
            .distinct()
            .collect()
        }
        assert truth <= cands, (
            f"UNSOUND prune for {pred!r}: "
            f"missing {sorted(truth - cands)}"
        )
    # and the supported shapes actually prune something somewhere
    assert len(
        t.files_matching_predicate(f"o_orderkey = {keys[0]}", snap=snap)
    ) < len(snap.files)


def test_null_safe_equality_skipping(spark, tmp_path):
    """EqualNullSafe carries its own skipping op: NOT (col <=> v) is
    TRUE for NULL rows, and parquet min/max stats ignore nulls, so a
    file holding only v plus NULLs must stay a candidate — the plain
    'ne' check would prune it and DELETE would silently skip the NULL
    rows (ADVICE r5, high). Positive <=> prunes like '='."""
    rows = (
        [(i, 0, "X") for i in range(10)]
        + [(i, 0, None) for i in range(10, 14)]  # file A: 'X' + NULLs
        + [(i, 1, "Y") for i in range(100, 110)]  # file B: all 'Y'
    )
    df = spark.createDataFrame(rows, "id long, g int, status string")
    t = DeltaishTable.create(
        spark,
        str(tmp_path / "t"),
        df.repartitionByRange(2, "g").sortWithinPartitions("id"),
    )
    snap = t._snapshot()
    assert len(snap.files) == 2

    # the X/NULL file has min==max=='X' — NOT(<=>) must keep BOTH
    cand = t.files_matching_predicate("NOT (status <=> 'X')", snap=snap)
    assert len(cand) == 2
    # whereas NOT(=) correctly prunes it (NULL rows are not TRUE)
    ne_cand = t.files_matching_predicate("NOT (status = 'X')", snap=snap)
    assert len(ne_cand) == 1
    # positive direction shares '='-style pruning
    pos = t.files_matching_predicate("status <=> 'Y'", snap=snap)
    assert len(pos) == 1
    # double negation folds back to null-safe equality
    dn = t.files_matching_predicate(
        "NOT (NOT (status <=> 'Y'))", snap=snap
    )
    assert set(dn) == set(pos)
    # Column front-end parity
    assert set(
        t.files_matching_predicate(
            F.col("status").eqNullSafe(F.lit("Y")), snap=snap
        )
    ) == set(pos)
    assert (
        len(
            t.files_matching_predicate(
                ~F.col("status").eqNullSafe(F.lit("X")), snap=snap
            )
        )
        == 2
    )

    # end-to-end: the DELETE the advice called out — NULL-status rows
    # in the all-'X' file must go
    t.delete("NOT (status <=> 'X')")
    left = t.read().collect()
    assert len(left) == 10 and all(r.status == "X" for r in left)


def test_describe_detail(spark, tmp_path):
    """DESCRIBE DETAIL reports table facts from pure log metadata."""
    df = _orders(spark, 100).repartitionByRange(4, "o_orderkey")
    t = DeltaishTable.create(spark, str(tmp_path / "t"), df)
    t.cluster_by(["o_totalprice"])
    t.delete(
        F.col("o_orderkey")
        == t.read().agg(F.min("o_orderkey")).collect()[0][0],
        mode="merge_on_read",
    )
    d = t.detail()
    assert d["numFiles"] == 4
    assert d["numRows"] == 100  # DV'd rows still physically present
    assert d["numDeletionVectors"] == 1
    assert d["clusteringColumns"] == ["o_totalprice"]
    assert d["partitionColumns"] == []
    assert d["minWriterVersion"] == 7
    assert "clustering" in d["writerFeatures"]
    assert "deletionVectors" in d["readerFeatures"]
    assert d["sizeInBytes"] > 0
    assert d["version"] == t.version


def test_overwrite_where_conflicts_with_concurrent_append(spark, tmp_path):
    """OCC pin for the selective overwrite: an append landing between
    replaceWhere's snapshot read and its commit makes the rewrite's
    inputs stale, so the commit must surface ConcurrentCommitError
    (never silently drop the concurrent rows) and leave the appended
    state intact."""
    import unittest.mock as mock

    df = _orders(spark, 200).repartitionByRange(4, "o_orderkey")
    t = DeltaishTable.create(spark, str(tmp_path / "t"), df)
    keys = sorted(r.o_orderkey for r in t.read().collect())
    cut = keys[49]
    racer_rows = df.limit(5).withColumn(
        "o_orderkey", F.col("o_orderkey") + F.lit(10_000_000).cast("long")
    )

    orig = DeltaishTable._write_files
    state = {"raced": False}

    def racing(self, d, *a, **k):
        if not state["raced"]:
            state["raced"] = True
            # a second writer handle lands an append mid-flight
            DeltaishTable(self.spark, self.path).append(racer_rows)
        return orig(self, d, *a, **k)

    repl = (
        t.read()
        .filter(F.col("o_orderkey") <= cut)
        .limit(10)
        .withColumn("o_totalprice", F.lit(1.0))
    )
    with mock.patch.object(DeltaishTable, "_write_files", racing):
        with pytest.raises(ConcurrentCommitError, match="data files"):
            t.overwrite_where(repl, f"o_orderkey <= {cut}")
    # the append won; the overwrite left no trace
    assert t.read().count() == 205
    assert t.read().filter(F.col("o_totalprice") == 1.0).count() == 0
    # re-run against the fresh snapshot succeeds
    t.overwrite_where(repl, f"o_orderkey <= {cut}")
    assert t.read().count() == 205 - 50 + 10


def test_cleanup_metadata_truncates_log_safely(spark, tmp_path):
    """Log metadata cleanup (delta.logRetentionDuration): expired
    commit JSONs and superseded checkpoints strictly below the newest
    checkpoint are deleted; the current state and every version >= the
    checkpoint stay reconstructible; cleaned history raises a CLEAR
    error instead of silently replaying a truncated log."""
    df = _orders(spark, 60)
    t = DeltaishTable.create(spark, str(tmp_path / "t"), df)
    for i in range(5):
        t.append(df.limit(5 + i))
    exp_total = t.read().count()
    v3_count = t.read(3).count()
    dlog.write_checkpoint(str(t.path))  # cp at v5... pin explicitly:
    cp = dlog.last_checkpoint_version(str(t.path))
    assert cp == 5

    # young files survive the default 30-day window
    assert t.cleanup_metadata() == []
    # no checkpoint below cp -> only JSONs 0..4 are eligible
    deleted = dlog.cleanup_metadata(str(t.path), retention_hours=0.0)
    # each deleted JSON takes its shadow .crc with it
    assert deleted == [
        name for v in range(5)
        for name in (f"{v:020d}.json", f"{v:020d}.crc")
    ]
    assert dlog.list_versions(str(t.path)) == [5]

    # live state + at/above-checkpoint reads intact
    assert t.read().count() == exp_total
    assert t.read(5).count() == exp_total
    t.append(df.limit(3))
    assert t.read().count() == exp_total + 3
    assert t.read(5).count() == exp_total

    # cleaned history raises, loudly and specifically
    with pytest.raises(ValueError, match="metadata cleanup"):
        t.read(3).count()
    assert v3_count > 0  # it existed before the cut
    # history() reflects the surviving log only
    assert [h["version"] for h in t.history()] == [5, 6]


def test_cleanup_metadata_respects_property_and_contiguity(
    spark, tmp_path
):
    """The retention default comes from delta.logRetentionDuration;
    an unparseable property refuses; superseded checkpoint files are
    cleaned with the JSONs; a gap in the surviving range raises."""
    df = _orders(spark, 40)
    t = DeltaishTable.create(spark, str(tmp_path / "t"), df)
    t.append(df.limit(4))
    dlog.write_checkpoint(str(t.path), 1)
    t.append(df.limit(4))
    t.append(df.limit(4))
    dlog.write_checkpoint(str(t.path))  # cp at v3; v1 checkpoint now old
    t.set_table_properties(
        {"delta.logRetentionDuration": "interval 0 hours"}
    )
    deleted = t.cleanup_metadata()
    assert f"{1:020d}.checkpoint.parquet" in deleted
    assert dlog.list_versions(str(t.path)) == [3, 4]
    assert t.read().count() == t.read(4).count()

    t.set_table_properties(
        {"delta.logRetentionDuration": "sometimes, on tuesdays"}
    )
    with pytest.raises(ValueError, match="logRetentionDuration"):
        t.cleanup_metadata()

    # a missing MIDDLE commit is a gap, not a cleanup prefix
    os.remove(dlog.version_file(str(t.path), 4))
    t2 = DeltaishTable(spark, str(t.path))
    with pytest.raises(ValueError, match="truncated"):
        t2.read(5).count()


def test_multipart_checkpoint_roundtrip(spark, tmp_path):
    """Classic multi-part checkpoints (<v>.checkpoint.<k>.<n>.parquet):
    the round-robin part set reproduces the full-replay snapshot
    exactly; _last_checkpoint declares the part count; cleanup can
    then drop the pre-checkpoint JSONs with only the part set carrying
    state; an INCOMPLETE part set is refused loudly, never partially
    reconstructed."""
    df = _orders(spark, 80).repartitionByRange(4, "o_orderkey")
    t = DeltaishTable.create(spark, str(tmp_path / "t"), df)
    for i in range(3):
        t.append(df.limit(6 + i))
    t.delete(
        F.col("o_orderkey")
        == t.read().agg(F.min("o_orderkey")).collect()[0][0]
    )
    exp = t.read().count()
    full = dlog.replay(str(t.path))

    cp = dlog.write_checkpoint(str(t.path), parts=3)
    paths = dlog.checkpoint_part_paths(str(t.path), cp)
    assert len(paths) == 3 and all(
        f".checkpoint.{k:010d}.{3:010d}." in paths[k - 1]
        for k in (1, 2, 3)
    )
    assert not os.path.exists(dlog.checkpoint_file(str(t.path), cp))
    snap = dlog.read_checkpoint(str(t.path), cp)
    assert set(snap.files) == set(full.files)
    assert set(snap.tombstones) == set(full.tombstones)
    assert snap.metadata == full.metadata

    # the part set alone must carry the state
    dlog.cleanup_metadata(str(t.path), retention_hours=0.0)
    assert dlog.list_versions(str(t.path)) == [cp]
    t2 = DeltaishTable(spark, str(t.path))
    assert t2.read().count() == exp

    # a missing part is a hard error, not partial state
    os.remove(paths[1])
    with pytest.raises(ValueError, match="incomplete multi-part"):
        dlog.checkpoint_part_paths(str(t.path), cp)
    assert dlog.last_checkpoint_version(str(t.path)) is None
    with pytest.raises(ValueError, match="metadata cleanup"):
        DeltaishTable(spark, str(t.path)).read().count()


def test_merge_with_schema_evolution(spark, tmp_path):
    """MERGE ... WITH SCHEMA EVOLUTION: source-only columns join the
    table schema in the merge commit; SET * expands to the SOURCE's
    columns (target-only columns unchanged on update, NULL on
    insert); pre-merge rows read the new column as NULL; the change
    feed's preimages carry NULL for it; column-mapped tables refuse."""
    t = DeltaishTable.create(
        spark,
        str(tmp_path / "t"),
        spark.createDataFrame(
            [(1, 10.0, "keep"), (2, 20.0, "keep")],
            "k long, v double, w string",
        ),
    )
    t.enable_change_data_feed()
    v0 = t.version
    src = spark.createDataFrame(
        [(2, 21.0, "B"), (3, 30.0, "C")], "k long, v double, tag string"
    )
    # strict mode still refuses the missing target column
    with pytest.raises(ValueError, match="need source columns"):
        t.merge_into(
            src, ["k"],
            when_matched=[{"action": "update_all"}],
            when_not_matched=[{"action": "insert_all"}],
        )
    t.merge_into(
        src, ["k"],
        when_matched=[{"action": "update_all"}],
        when_not_matched=[{"action": "insert_all"}],
        schema_evolution=True,
    )
    rows = {r.k: r for r in t.read().collect()}
    assert set(t.read().columns) == {"k", "v", "w", "tag"}
    assert rows[1].v == 10.0 and rows[1].w == "keep" and rows[1].tag is None
    assert rows[2].v == 21.0 and rows[2].w == "keep" and rows[2].tag == "B"
    assert rows[3].v == 30.0 and rows[3].w is None and rows[3].tag == "C"
    # pre-evolution version still reads with its own schema
    assert set(t.read(v0).columns) == {"k", "v", "w"}
    # CDF preimage carries NULL for the evolved column
    cdf = t.read_change_feed(v0, t.version)
    pre = [r for r in cdf.collect() if r["_change_type"] == "update_preimage"]
    assert len(pre) == 1 and pre[0].tag is None and pre[0].v == 20.0

    mapped = DeltaishTable.create(
        spark,
        str(tmp_path / "m"),
        spark.createDataFrame([(1, 1.0)], "k long, v double"),
    )
    mapped.enable_column_mapping("name")
    with pytest.raises(NotImplementedError, match="SCHEMA EVOLUTION"):
        mapped.merge_into(
            src, ["k"],
            when_matched=[{"action": "update_all"}],
            schema_evolution=True,
        )


def test_fsck_repairs_missing_files(spark, tmp_path):
    """FSCK: physically-deleted data files drop out of the live set
    via one remove-only commit; reads work again with the surviving
    rows; dry_run only reports; a table with nothing missing is a
    no-op; a missing DELETION VECTOR is NOT repaired (dropping it
    would resurrect deleted rows)."""
    df = _orders(spark, 80).repartitionByRange(4, "o_orderkey")
    t = DeltaishTable.create(spark, str(tmp_path / "t"), df)
    assert t.fsck() == []  # healthy table: no commit, no report
    v_healthy = t.version

    snap = t._snapshot()
    victim = sorted(snap.files)[0]
    survivors = t.read().count() - json.loads(
        snap.files[victim]["stats"]
    )["numRecords"]
    os.remove(os.path.join(str(t.path), victim))
    with pytest.raises(Exception):
        t.read().count()  # missing file: reads throw

    assert t.fsck(dry_run=True) == [victim]
    assert t.version == v_healthy  # dry run commits nothing
    assert t.fsck() == [victim]
    assert t.version == v_healthy + 1
    assert t.read().count() == survivors
    assert t.history()[-1]["operation"] == "FSCK"

    # a missing DV is a loud failure, not an fsck repair
    t2 = DeltaishTable.create(
        spark, str(tmp_path / "dv"), _orders(spark, 40)
    )
    t2.delete(
        F.col("o_orderkey")
        == t2.read().agg(F.min("o_orderkey")).collect()[0][0],
        mode="merge_on_read",
    )
    dv_files = [
        fn
        for fn in os.listdir(str(t2.path))
        if fn.startswith("deletion_vector_")
    ]
    assert dv_files
    os.remove(os.path.join(str(t2.path), dv_files[0]))
    assert t2.fsck(dry_run=True) == []  # data file is present
    with pytest.raises(Exception):
        t2.read().count()


def test_column_defaults(spark, tmp_path):
    """allowColumnDefaults: SET DEFAULT stores CURRENT_DEFAULT in the
    field metadata and upgrades the protocol to writer v7 with the
    feature LISTED; appends omitting the column get the default, rows
    that provided it (even as NULL) are untouched, and pre-default
    rows keep reading NULL (write-time, never backfill); defaults
    must be constant-foldable and castable; identity/generated
    columns and unknown columns refuse; DROP DEFAULT reverts to
    NULL-fill for omitted columns."""
    t = DeltaishTable.create(
        spark,
        str(tmp_path / "t"),
        spark.createDataFrame(
            [(1, 10.0, None)], "k long, v double, status string"
        ),
    )
    t.set_column_default("status", "'pending'")
    proto = t._snapshot().protocol
    assert proto["minWriterVersion"] == 7
    assert "allowColumnDefaults" in proto["writerFeatures"]

    # omitted column -> default; provided column -> untouched
    t.append(spark.createDataFrame([(2, 20.0)], "k long, v double"))
    t.append(
        spark.createDataFrame(
            [(3, 30.0, None)], "k long, v double, status string"
        )
    )
    rows = {r.k: r.status for r in t.read().collect()}
    assert rows == {1: None, 2: "pending", 3: None}

    # constant-foldable defaults may be expressions, not just literals
    t.set_column_default("v", "1.5 * 2")
    t.append(spark.createDataFrame([(4, "x")], "k long, status string"))
    assert {
        r.k: (r.v, r.status) for r in t.read().collect()
    }[4] == (3.0, "x")

    with pytest.raises(ValueError, match="constant-foldable"):
        t.set_column_default("v", "k + 1")  # reads another column
    with pytest.raises(ValueError, match="no such column"):
        t.set_column_default("nope", "1")

    t.drop_column_default("status")
    t.append(spark.createDataFrame([(5, 50.0)], "k long, v double"))
    assert {r.k: r.status for r in t.read().collect()}[5] is None
    with pytest.raises(ValueError, match="has no default"):
        t.drop_column_default("status")


def test_restore_to_timestamp(spark, tmp_path):
    """RESTORE TO TIMESTAMP AS OF resolves through the same ICT-aware
    timestamp->version mapping as reads and restores to it."""
    import time as _time

    df = _orders(spark, 40)
    t = DeltaishTable.create(spark, str(tmp_path / "t"), df)
    t.append(df.limit(7))
    n1 = t.read().count()
    ts1 = [h for h in t.history() if h["version"] == t.version][0][
        "timestamp"
    ]
    _time.sleep(0.02)
    t.delete("o_orderkey >= 0")
    assert t.read().count() == 0
    t.restore_to_timestamp(ts1)
    assert t.read().count() == n1
    assert t.history()[-1]["operation"] == "RESTORE"


def test_set_transaction_retention(spark, tmp_path):
    """SetTransaction retention: txn actions carry the optional
    lastUpdated stamp; at checkpoint time entries older than
    delta.setTransactionRetentionDuration are dropped (the checkpoint
    is what carries txns past log cleanup), unset property keeps
    everything, and the watermark survives checkpoint+cleanup when
    fresh."""
    df = _orders(spark, 30)
    t = DeltaishTable.create(spark, str(tmp_path / "t"), df)
    t.append(df.limit(3), txn_app_id="writerA", txn_version=7)
    assert t.last_txn_version("writerA") == 7
    snap = t._snapshot()
    assert "writerA" in snap.txn_updated  # stamped

    # no property: checkpoint + cleanup preserve the watermark
    dlog.write_checkpoint(str(t.path))
    dlog.cleanup_metadata(str(t.path), retention_hours=0.0)
    assert DeltaishTable(spark, str(t.path)).last_txn_version(
        "writerA"
    ) == 7

    # zero retention: the next checkpoint drops the (stamped) entry
    t.set_table_properties(
        {"delta.setTransactionRetentionDuration": "interval 0 hours"}
    )
    dlog.write_checkpoint(str(t.path))
    dlog.cleanup_metadata(str(t.path), retention_hours=0.0)
    t2 = DeltaishTable(spark, str(t.path))
    assert t2.last_txn_version("writerA") == -1
    # data unaffected
    assert t2.read().count() == 33

    with pytest.raises(ValueError, match="setTransactionRetention"):
        t.set_table_properties(
            {"delta.setTransactionRetentionDuration": "whenever"}
        )
        dlog.write_checkpoint(str(t.path))


def test_files_matching_predicate_fuzzed_soundness(spark, tmp_path):
    """Hypothesis fuzz over the skipping IR: random predicate trees
    (comparisons incl. null-safe equality, IN lists, IS [NOT] NULL,
    AND/OR/NOT to depth 3) against a table that CONTAINS NULLs in a
    stats column — candidates must always be a superset of the files
    truly owning a TRUE row. This generalizes the fixed battery and
    specifically stresses the r6 EqualNullSafe fix (NOT (col <=> v)
    over all-v-plus-NULL files)."""
    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st

    rows = []
    for i in range(240):
        status = [None, "F", "O", "P"][i % 4]
        rows.append((i, status, float(i % 7) * 100.0))
    df = spark.createDataFrame(
        rows, "o_orderkey long, o_orderstatus string, o_totalprice double"
    ).repartitionByRange(6, "o_orderkey")
    t = DeltaishTable.create(spark, str(tmp_path / "t"), df)
    snap = t._snapshot()
    tagged = t._read_snapshot_files(
        snap, snap.files, keep_tags=True
    ).localCheckpoint(eager=True)

    ints = st.sampled_from([-1, 0, 39, 40, 41, 120, 238, 239, 240])
    strs = st.sampled_from(["'F'", "'O'", "'P'", "'ZZ'"])
    floats = st.sampled_from(["0.0", "100.0", "300.0", "600.0", "699.0"])

    def leaf():
        cmp_ops = st.sampled_from(["=", "<", "<=", ">", ">=", "<=>"])
        int_cmp = st.tuples(cmp_ops, ints).map(
            lambda t_: f"o_orderkey {t_[0]} {t_[1]}"
        )
        str_cmp = st.tuples(cmp_ops, strs).map(
            lambda t_: f"o_orderstatus {t_[0]} {t_[1]}"
        )
        flt_cmp = st.tuples(cmp_ops, floats).map(
            lambda t_: f"o_totalprice {t_[0]} {t_[1]}"
        )
        in_list = st.lists(ints, min_size=1, max_size=3).map(
            lambda v: f"o_orderkey IN ({', '.join(map(str, v))})"
        )
        nulls = st.sampled_from(
            [
                "o_orderstatus IS NULL",
                "o_orderstatus IS NOT NULL",
                "o_orderkey IS NULL",
            ]
        )
        return st.one_of(int_cmp, str_cmp, flt_cmp, in_list, nulls)

    predicate = st.recursive(
        leaf(),
        lambda kids: st.one_of(
            st.tuples(kids, kids).map(lambda t_: f"({t_[0]}) AND ({t_[1]})"),
            st.tuples(kids, kids).map(lambda t_: f"({t_[0]}) OR ({t_[1]})"),
            kids.map(lambda p: f"NOT ({p})"),
        ),
        max_leaves=4,
    )

    @settings(
        max_examples=50,
        deadline=None,
        suppress_health_check=[HealthCheck.too_slow],
    )
    @given(pred=predicate)
    def check(pred):
        cands = set(t.files_matching_predicate(pred, snap=snap))
        truth = {
            t._uri_to_rel(r["__fp"])
            for r in tagged.filter(
                F.coalesce(F.expr(pred).cast("boolean"), F.lit(False))
            )
            .select("__fp")
            .distinct()
            .collect()
        }
        assert truth <= cands, (
            f"UNSOUND prune for {pred!r}: missing {sorted(truth - cands)}"
        )

    check()


def test_txn_stamp_cleared_by_newer_unstamped_action(spark, tmp_path):
    """An external writer that advances its SetTransaction WITHOUT a
    lastUpdated stamp must also clear any stale stamp left by an
    earlier stamped action for the same appId — otherwise
    setTransactionRetentionDuration expiry at checkpoint time would
    judge the freshly-advanced transaction by the OLD timestamp and
    drop it, breaking idempotent-writer dedup (the spec's rule: an
    unstamped entry is retained forever)."""
    import time as _time

    df = _orders(spark, 10)
    t = DeltaishTable.create(spark, str(tmp_path / "t"), df)
    t.append(df.limit(2), txn_app_id="writerA", txn_version=3)
    assert "writerA" in t._snapshot().txn_updated  # stamped by append

    # external writer: newer version, NO lastUpdated
    dlog.write_commit(
        str(t.path),
        t.version + 1,
        [
            {"txn": {"appId": "writerA", "version": 9}},
            dlog.commit_info("TXN"),
        ],
    )
    t = DeltaishTable(spark, str(t.path))
    snap = t._snapshot()
    assert snap.txns["writerA"] == 9
    assert "writerA" not in snap.txn_updated  # stale stamp popped

    # zero retention would expire any stamped entry; the unstamped
    # winner must survive the checkpoint
    t.set_table_properties(
        {"delta.setTransactionRetentionDuration": "interval 0 hours"}
    )
    _time.sleep(0.01)
    dlog.write_checkpoint(str(t.path))
    dlog.cleanup_metadata(str(t.path), retention_hours=0.0)
    assert DeltaishTable(spark, str(t.path)).last_txn_version(
        "writerA"
    ) == 9


def test_merge_schema_evolution_case_insensitive(spark, tmp_path):
    """MERGE WITH SCHEMA EVOLUTION resolves source columns against the
    target case-insensitively (spark.sql.caseSensitive=false): a source
    column differing only in case is the SAME column — renamed to the
    target's casing, never added as a duplicate schema field."""
    t = DeltaishTable.create(
        spark,
        str(tmp_path / "t"),
        spark.createDataFrame(
            [(1, 10.0, "keep"), (2, 20.0, "keep")],
            "k long, v double, w string",
        ),
    )
    src = spark.createDataFrame(
        [(2, 21.0, "B"), (3, 30.0, "C")],
        "k long, V double, tag string",  # V differs only in case
    )
    t.merge_into(
        src, ["k"],
        when_matched=[{"action": "update_all"}],
        when_not_matched=[{"action": "insert_all"}],
        schema_evolution=True,
    )
    # no duplicate 'V' field; only the genuinely new 'tag' evolved
    assert t.read().columns == ["k", "v", "w", "tag"]
    rows = {r.k: r for r in t.read().collect()}
    assert rows[2].v == 21.0 and rows[2].tag == "B"
    assert rows[3].v == 30.0 and rows[3].w is None and rows[3].tag == "C"


def test_column_defaults_apply_on_overwrite_paths(spark, tmp_path):
    """allowColumnDefaults is a property of the TABLE, not of one write
    path: overwrite, replaceWhere, and dynamic partition overwrite fill
    omitted CURRENT_DEFAULT columns exactly like append does."""
    t = DeltaishTable.create(
        spark,
        str(tmp_path / "t"),
        spark.createDataFrame(
            [(1, 10.0, "x")], "k long, v double, status string"
        ),
    )
    t.set_column_default("status", "'pending'")

    t.overwrite(spark.createDataFrame([(2, 20.0)], "k long, v double"))
    assert {r.k: r.status for r in t.read().collect()} == {2: "pending"}

    t.overwrite_where(
        spark.createDataFrame([(2, 22.0)], "k long, v double"), "k = 2"
    )
    assert {r.k: (r.v, r.status) for r in t.read().collect()} == {
        2: (22.0, "pending")
    }

    p = DeltaishTable.create(
        spark,
        str(tmp_path / "p"),
        spark.createDataFrame(
            [(1, "a", "x"), (2, "b", "x")], "k long, part string, s string"
        ),
        partition_by=("part",),
    )
    p.set_column_default("s", "'filled'")
    p.overwrite_partitions(
        spark.createDataFrame([(9, "a")], "k long, part string")
    )
    got = {r.k: r.s for r in p.read().collect()}
    assert got == {9: "filled", 2: "x"}


def test_merge_consistent_under_nondeterministic_condition(
    spark, tmp_path
):
    """merge() pins the labeled join (localCheckpoint) before the
    stats collect, so a nondeterministic clause condition — rand() —
    is evaluated ONCE: the touched-file set, the rewritten rows, and
    the CDF all describe the same evaluation. The invariant a
    divergence would break: every target key survives exactly once
    and the update count implied by the CDF matches the rewrite."""
    t = DeltaishTable.create(
        spark,
        str(tmp_path / "t"),
        spark.range(500).select(
            F.col("id").alias("k"), F.lit(0.0).alias("v")
        ),
    )
    t.enable_change_data_feed()
    v0 = t.version
    src = spark.range(500).select(
        F.col("id").alias("k"), F.lit(1.0).alias("v")
    )
    t.merge_into(
        src, ["k"],
        when_matched=[
            {"action": "update_all", "condition": F.rand(seed=None) < 0.5}
        ],
    )
    rows = t.read().collect()
    assert len(rows) == 500  # no key lost or duplicated
    assert len({r.k for r in rows}) == 500
    n_updated = sum(1 for r in rows if r.v == 1.0)
    cdf = t.read_change_feed(v0, t.version).collect()
    posts = [r for r in cdf if r["_change_type"] == "update_postimage"]
    pres = [r for r in cdf if r["_change_type"] == "update_preimage"]
    assert len(posts) == len(pres) == n_updated
    assert all(r.v == 1.0 for r in posts)


def test_data_skipping_num_indexed_cols(spark, tmp_path):
    """delta.dataSkippingNumIndexedCols bounds stats width: files
    written after the property is set carry min/max/nullCount for only
    the FIRST N schema columns; a predicate on a column past the
    indexed prefix conservatively keeps every such file while indexed
    columns still prune; -1 restores full stats; invalid values
    refuse."""
    t = DeltaishTable.create(
        spark,
        str(tmp_path / "t"),
        spark.createDataFrame(
            [(1, 100, "a"), (2, 200, "b")], "k long, v long, s string"
        ),
    )
    # default (32 > width): every column indexed, nullCount present
    s0 = json.loads(next(iter(t._snapshot().files.values()))["stats"])
    assert set(s0["minValues"]) == {"k", "v", "s"}
    assert s0["nullCount"] == {"k": 0, "v": 0, "s": 0}

    t.set_table_properties({"delta.dataSkippingNumIndexedCols": "1"})
    t.append(
        spark.createDataFrame([(10, 1000, "z")], "k long, v long, s string")
    )
    snap = t._snapshot()
    new = [
        a for a in snap.files.values()
        if json.loads(a["stats"])["minValues"].get("k") == 10
    ]
    assert len(new) == 1
    s1 = json.loads(new[0]["stats"])
    assert set(s1["minValues"]) == {"k"}  # only the first schema column
    assert set(s1["nullCount"]) == {"k"}
    assert s1["numRecords"] == 1  # numRecords always recorded

    # indexed column still prunes; un-indexed column keeps the
    # truncated file (conservative) while full-stats files may prune
    assert len(t.files_matching_predicate("k = 10")) == 1
    v_files = t.files_matching_predicate("v = 100")
    assert new[0]["path"] in [p for p in v_files] or len(v_files) >= 1
    # the truncated file is ALWAYS a candidate for the un-indexed col
    assert new[0]["path"] in t.files_matching_predicate("v = 99999")
    # correctness end-to-end: reads still see every row
    assert t.read().count() == 3

    t.set_table_properties({"delta.dataSkippingNumIndexedCols": "-1"})
    t.append(
        spark.createDataFrame([(20, 2000, "y")], "k long, v long, s string")
    )
    s2 = [
        json.loads(a["stats"])
        for a in t._snapshot().files.values()
        if json.loads(a["stats"])["minValues"].get("k") == 20
    ][0]
    assert set(s2["minValues"]) == {"k", "v", "s"}

    with pytest.raises(ValueError, match="dataSkippingNumIndexedCols"):
        t.set_table_properties(
            {"delta.dataSkippingNumIndexedCols": "lots"}
        )


def test_null_count_stats_enable_null_aware_pruning(spark, tmp_path):
    """Our own writes now persist nullCount from the parquet footers:
    IS NULL prunes files with zero nulls, IS NOT NULL prunes all-null
    files, and NOT(col <=> v) can prune a constant no-null file."""
    t = DeltaishTable.create(
        spark,
        str(tmp_path / "t"),
        spark.createDataFrame([(1, "x")], "k long, s string"),
    )
    t.append(
        spark.createDataFrame(
            [(2, None), (3, None)], "k long, s string"
        )
    )
    files = {
        p: json.loads(a["stats"])
        for p, a in t._snapshot().files.items()
    }
    no_null = [p for p, s in files.items() if s["nullCount"]["s"] == 0]
    all_null = [
        p for p, s in files.items()
        if s["nullCount"]["s"] == s["numRecords"]
    ]
    assert no_null and all_null
    assert set(t.files_matching_predicate("s IS NULL")) == set(all_null)
    assert set(t.files_matching_predicate("s IS NOT NULL")) == set(
        no_null
    )
    # constant single-value, zero-null file: NOT(k <=> 1) prunes it
    assert no_null[0] not in t.files_matching_predicate("NOT (k <=> 1)")


def test_default_feeds_generated_column_on_all_write_paths(spark, tmp_path):
    """Interplay: a generated column may read a DEFAULT-filled column.
    Defaults fill BEFORE generation expressions evaluate, on append
    and on the overwrite paths alike; a column carrying a generation
    expression refuses SET DEFAULT outright (Delta's rule — the two
    features are mutually exclusive per column)."""
    t = DeltaishTable.create(
        spark,
        str(tmp_path / "t"),
        spark.createDataFrame([(1, 5, 10)], "k long, v long, dbl long"),
        generated_columns={"dbl": "v * 2"},
    )
    t.set_column_default("v", "7")
    # append omitting BOTH: default fills v=7, generation computes dbl=14
    t.append(spark.createDataFrame([(2,)], "k long"))
    assert {r.k: (r.v, r.dbl) for r in t.read().collect()}[2] == (7, 14)
    # overwrite path: same fill order
    t.overwrite(spark.createDataFrame([(3,)], "k long"))
    assert {r.k: (r.v, r.dbl) for r in t.read().collect()} == {3: (7, 14)}
    # generated column itself refuses a default
    with pytest.raises(ValueError, match="generat"):
        t.set_column_default("dbl", "1")


def _ext_struct_checkpoint(root, version, rows, parts=None):
    """Hand-write a delta-spark-STYLE checkpoint: typed STRUCT columns
    (not our JSON-string encoding), maps for partitionValues/
    configuration — the shape a real Delta writer produces. ``rows``
    is a list of single-action dicts; ``parts=N`` splits them into the
    classic multi-part file set."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    add_t = pa.struct(
        [
            ("path", pa.string()),
            ("partitionValues", pa.map_(pa.string(), pa.string())),
            ("size", pa.int64()),
            ("modificationTime", pa.int64()),
            ("dataChange", pa.bool_()),
            ("stats", pa.string()),
        ]
    )
    remove_t = pa.struct(
        [
            ("path", pa.string()),
            ("deletionTimestamp", pa.int64()),
            ("dataChange", pa.bool_()),
        ]
    )
    meta_t = pa.struct(
        [
            ("id", pa.string()),
            ("schemaString", pa.string()),
            ("partitionColumns", pa.list_(pa.string())),
            ("configuration", pa.map_(pa.string(), pa.string())),
        ]
    )
    proto_t = pa.struct(
        [
            ("minReaderVersion", pa.int32()),
            ("minWriterVersion", pa.int32()),
            ("readerFeatures", pa.list_(pa.string())),
            ("writerFeatures", pa.list_(pa.string())),
        ]
    )
    txn_t = pa.struct(
        [
            ("appId", pa.string()),
            ("version", pa.int64()),
            ("lastUpdated", pa.int64()),
        ]
    )

    def table_for(chunk):
        cols = {"protocol": [], "metaData": [], "add": [], "remove": [],
                "txn": []}
        for r in chunk:
            for k in cols:
                cols[k].append(r.get(k))
        return pa.table(
            {
                "protocol": pa.array(cols["protocol"], type=proto_t),
                "metaData": pa.array(cols["metaData"], type=meta_t),
                "add": pa.array(cols["add"], type=add_t),
                "remove": pa.array(cols["remove"], type=remove_t),
                "txn": pa.array(cols["txn"], type=txn_t),
            }
        )

    log_dir = root / "_delta_log"
    log_dir.mkdir(exist_ok=True)
    if parts is None:
        pq.write_table(
            table_for(rows), str(log_dir / f"{version:020d}.checkpoint.parquet")
        )
        np = None
    else:
        per = (len(rows) + parts - 1) // parts
        for i in range(parts):
            chunk = rows[i * per: (i + 1) * per]
            pq.write_table(
                table_for(chunk),
                str(
                    log_dir
                    / f"{version:020d}.checkpoint.{i + 1:010d}.{parts:010d}.parquet"
                ),
            )
        np = parts
    payload = {"version": version, "size": len(rows)}
    if np:
        payload["parts"] = np
    with open(log_dir / "_last_checkpoint", "w") as f:
        json.dump(payload, f)


_EXT_SCHEMA_KV = json.dumps(
    {
        "type": "struct",
        "fields": [
            {"name": "id", "type": "long", "nullable": True, "metadata": {}},
            {"name": "v", "type": "string", "nullable": True, "metadata": {}},
        ],
    }
)


def test_reads_external_multipart_struct_checkpoint(spark, tmp_path):
    """Reverse direction for classic multi-part checkpoints: a
    2-part checkpoint handwritten with delta-spark's TYPED STRUCT
    columns (maps for partitionValues, null cells for absent actions)
    whose pre-checkpoint JSON commits were retention-cleaned must read
    back the exact live set and accept further writes; deleting one
    part (torn upload) must REFUSE the read rather than serve partial
    state."""
    root = tmp_path / "ext_mp"
    root.mkdir()
    sa = _ext_parquet(root, "a.parquet", {"id": [0, 1, 2], "v": list("abc")})
    sb = _ext_parquet(root, "b.parquet", {"id": [3, 4], "v": list("de")})
    rows = [
        {
            "protocol": {"minReaderVersion": 1, "minWriterVersion": 2,
                         "readerFeatures": None, "writerFeatures": None}
        },
        {
            "metaData": {
                "id": "ext-mp", "schemaString": _EXT_SCHEMA_KV,
                "partitionColumns": [], "configuration": {},
            }
        },
        {
            "add": {
                "path": "a.parquet", "partitionValues": {}, "size": sa,
                "modificationTime": 1, "dataChange": True,
                "stats": json.dumps(
                    {"numRecords": 3, "minValues": {"id": 0},
                     "maxValues": {"id": 2}, "nullCount": {"id": 0}}
                ),
            }
        },
        {
            "add": {
                "path": "b.parquet", "partitionValues": {}, "size": sb,
                "modificationTime": 1, "dataChange": True,
                "stats": json.dumps(
                    {"numRecords": 2, "minValues": {"id": 3},
                     "maxValues": {"id": 4}, "nullCount": {"id": 0}}
                ),
            }
        },
        {"txn": {"appId": "extWriter", "version": 5, "lastUpdated": None}},
    ]
    _ext_struct_checkpoint(root, 1, rows, parts=2)
    # retention already removed JSONs 0..1: the parts are the ONLY carrier
    t = load_table.__self__ if False else None  # noqa: F841
    tbl = DeltaishTable(spark, str(root))
    got = {r.id: r.v for r in tbl.read().collect()}
    assert got == {0: "a", 1: "b", 2: "c", 3: "d", 4: "e"}
    # struct-encoded txn replays (unstamped: retained forever)
    assert tbl.last_txn_version("extWriter") == 5
    # stats replay: id >= 3 prunes to b.parquet only
    assert tbl.files_matching_predicate("id >= 3") == ["b.parquet"]
    # our writer continues the log from the checkpoint version
    v = tbl.append(spark.createDataFrame([(9, "z")], "id long, v string"))
    assert v == 2 and tbl.read().count() == 6

    # torn upload: part 1 of 2 missing -> refuse, never partial state
    parts = sorted(
        p for p in os.listdir(root / "_delta_log")
        if ".checkpoint.00" in p
    )
    os.remove(str(root / "_delta_log" / parts[0]))
    with pytest.raises(
        ValueError, match="truncated|incomplete|cannot reconstruct"
    ):
        DeltaishTable(spark, str(root)).read()


def test_reads_external_retention_cleaned_log(spark, tmp_path):
    """Reverse direction for log cleanup: JSON commits below a foreign
    struct-encoded checkpoint are gone — the table must still read
    (checkpoint + JSON tail); a gap INSIDE the surviving range must
    refuse rather than replay around the missing commit."""
    root = tmp_path / "ext_rc"
    root.mkdir()
    sa = _ext_parquet(root, "a.parquet", {"id": [0, 1], "v": list("ab")})
    sb = _ext_parquet(root, "b.parquet", {"id": [2], "v": ["c"]})
    sc = _ext_parquet(root, "c.parquet", {"id": [3], "v": ["d"]})
    _ext_struct_checkpoint(
        root,
        1,
        [
            {"protocol": {"minReaderVersion": 1, "minWriterVersion": 2,
                          "readerFeatures": None, "writerFeatures": None}},
            {"metaData": {"id": "ext-rc", "schemaString": _EXT_SCHEMA_KV,
                          "partitionColumns": [], "configuration": {}}},
            {"add": {"path": "a.parquet", "partitionValues": {},
                     "size": sa, "modificationTime": 1,
                     "dataChange": True, "stats": None}},
        ],
    )
    # surviving JSON tail: v2 adds b, v3 adds c (v0, v1 cleaned away)
    _ext_log(
        root,
        {
            2: [{"add": {"path": "b.parquet", "partitionValues": {},
                         "size": sb, "modificationTime": 1,
                         "dataChange": True}},
                {"commitInfo": {"operation": "WRITE"}}],
            3: [{"add": {"path": "c.parquet", "partitionValues": {},
                         "size": sc, "modificationTime": 1,
                         "dataChange": True}},
                {"commitInfo": {"operation": "WRITE"}}],
        },
    )
    t = DeltaishTable(spark, str(root))
    assert {r.id for r in t.read().collect()} == {0, 1, 2, 3}
    # time travel BELOW the checkpoint: those commits are gone -> refuse
    with pytest.raises(ValueError, match="cleanup|truncated"):
        t.read(version=0)
    # a gap inside the surviving range: v2 missing but v3 present
    os.remove(str(root / "_delta_log" / f"{2:020d}.json"))
    with pytest.raises(ValueError, match="missing|truncated"):
        DeltaishTable(spark, str(root)).read()


def test_reads_external_column_defaults_metadata(spark, tmp_path):
    """Reverse direction for allowColumnDefaults: a foreign log
    declaring writer v7 with the feature and a CURRENT_DEFAULT in the
    field metadata. Existing rows read unchanged (defaults are
    write-time); OUR append omitting the column must honor the
    foreign default expression."""
    root = tmp_path / "ext_cd"
    root.mkdir()
    size = _ext_parquet(root, "a.parquet", {"id": [1, 2]})
    schema_string = json.dumps(
        {
            "type": "struct",
            "fields": [
                {"name": "id", "type": "long", "nullable": True,
                 "metadata": {}},
                {"name": "status", "type": "string", "nullable": True,
                 "metadata": {"CURRENT_DEFAULT": "'pending'"}},
            ],
        }
    )
    _ext_log(
        root,
        {
            0: [
                {"protocol": {"minReaderVersion": 1, "minWriterVersion": 7,
                              "writerFeatures": ["allowColumnDefaults"]}},
                {"metaData": {"id": "ext-cd",
                              "format": {"provider": "parquet",
                                         "options": {}},
                              "schemaString": schema_string,
                              "partitionColumns": [],
                              "configuration": {}}},
                {"add": {"path": "a.parquet", "partitionValues": {},
                         "size": size, "modificationTime": 1,
                         "dataChange": True}},
            ]
        },
    )
    t = DeltaishTable(spark, str(root))
    # pre-default rows: the file lacks the column entirely -> NULL
    assert {r.id: r.status for r in t.read().collect()} == {
        1: None, 2: None
    }
    # our append omitting the column honors the FOREIGN default
    t.append(spark.createDataFrame([(3,)], "id long"))
    assert {r.id: r.status for r in t.read().collect()}[3] == "pending"


# --------------------------------------------------------------- v2 checkpoints


def test_v2_checkpoint_roundtrip(spark, tmp_path):
    """v2Checkpoint end-to-end: enable upgrades the protocol to (3,7)
    with the feature in BOTH lists and stamps delta.checkpointPolicy;
    checkpoint_v2 writes a UUID-named manifest + sidecar files whose
    union reproduces the full-replay snapshot; after metadata cleanup
    the manifest+sidecars are the only carrier of state."""
    df = _orders(spark, 80).repartitionByRange(4, "o_orderkey")
    t = DeltaishTable.create(spark, str(tmp_path / "t"), df)
    for i in range(3):
        t.append(df.limit(6 + i))
    t.delete(
        F.col("o_orderkey")
        == t.read().agg(F.min("o_orderkey")).collect()[0][0]
    )
    t.enable_v2_checkpoints()
    proto = t._snapshot().protocol
    assert proto["minReaderVersion"] == 3 and proto["minWriterVersion"] == 7
    assert "v2Checkpoint" in proto["readerFeatures"]
    assert "v2Checkpoint" in proto["writerFeatures"]
    conf = t._snapshot().metadata["configuration"]
    assert conf["delta.checkpointPolicy"] == "v2"

    exp = t.read().count()
    full = dlog.replay(str(t.path))
    cp = t.checkpoint_v2(sidecars=3)
    manifest = dlog.v2_checkpoint_manifest(str(t.path), cp)
    assert manifest is not None
    assert not os.path.exists(dlog.checkpoint_file(str(t.path), cp))
    scs = dlog._manifest_sidecars(manifest)
    assert len(scs) == 3 and all(
        os.path.exists(os.path.join(dlog.sidecar_dir(str(t.path)), s["path"]))
        for s in scs
    )
    snap = dlog.read_checkpoint(str(t.path), cp)
    assert set(snap.files) == set(full.files)
    assert set(snap.tombstones) == set(full.tombstones)
    assert snap.metadata == full.metadata and snap.protocol == full.protocol
    with open(os.path.join(dlog.log_path(str(t.path)), "_last_checkpoint")) as f:
        lc = json.load(f)
    assert lc["checkpointKind"] == "v2" and lc["v2Checkpoint"] in manifest

    dlog.cleanup_metadata(str(t.path), retention_hours=0.0)
    assert dlog.list_versions(str(t.path)) == [cp]
    # sidecars referenced by the surviving manifest must NOT be cleaned
    assert all(
        os.path.exists(os.path.join(dlog.sidecar_dir(str(t.path)), s["path"]))
        for s in scs
    )
    t2 = DeltaishTable(spark, str(t.path))
    assert t2.read().count() == exp
    # the log continues past a v2 checkpoint
    v = t2.append(df.limit(2))
    assert v == cp + 1 and t2.read().count() == exp + 2


def test_v2_checkpoint_auto_interval_and_feature_gate(spark, tmp_path):
    """With the feature active, the every-10-commits periodic
    checkpoint comes out in v2 form (manifest + sidecars, no classic
    file); checkpoint_v2 on a table WITHOUT the feature refuses —
    hiding state in a layout readers were never warned about would be
    a silent-corruption path."""
    df = _orders(spark, 30)
    t = DeltaishTable.create(spark, str(tmp_path / "t"), df.limit(5))
    with pytest.raises(ValueError, match="not enabled"):
        t.checkpoint_v2()
    t.enable_v2_checkpoints()
    while t.version < 10:
        t.append(df.limit(1))
    assert dlog.v2_checkpoint_manifest(str(t.path), 10) is not None
    assert not os.path.exists(dlog.checkpoint_file(str(t.path), 10))
    assert dlog.last_checkpoint_version(str(t.path)) == 10
    # replay resumes from the v2 checkpoint (not full JSON history)
    assert DeltaishTable(spark, str(t.path)).read().count() == t.read().count()


def test_v2_checkpoint_torn_sidecar_degrades_or_refuses(spark, tmp_path):
    """A missing sidecar makes the checkpoint unusable: while the JSON
    history survives, resolution DEGRADES to full replay (reads stay
    correct); direct read_checkpoint refuses loudly; once cleanup has
    removed the history there is nothing sound to serve and the read
    refuses end-to-end."""
    df = _orders(spark, 20)
    t = DeltaishTable.create(spark, str(tmp_path / "t"), df)
    t.append(df.limit(3))
    t.enable_v2_checkpoints()
    cp = t.checkpoint_v2(sidecars=2)
    manifest = dlog.v2_checkpoint_manifest(str(t.path), cp)
    scs = dlog._manifest_sidecars(manifest)
    victim = os.path.join(dlog.sidecar_dir(str(t.path)), scs[0]["path"])
    exp = t.read().count()
    os.remove(victim)
    # degrade: _last_checkpoint resolution returns None -> full replay
    assert dlog.last_checkpoint_version(str(t.path)) is None
    assert DeltaishTable(spark, str(t.path)).read().count() == exp
    with pytest.raises(FileNotFoundError, match="missing.*sidecar"):
        dlog.read_checkpoint(str(t.path), cp)


def test_reads_external_v2_struct_checkpoint(spark, tmp_path):
    """Reverse direction for v2 checkpoints: a manifest + sidecar
    handwritten with delta-spark's TYPED STRUCT columns (sidecar and
    checkpointMetadata as structs, adds only in the sidecar file).
    Our reader must reconstruct the live set through the indirection
    and refuse a version-mismatched manifest stamp."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    root = tmp_path / "ext_v2"
    root.mkdir()
    sa = _ext_parquet(root, "a.parquet", {"id": [0, 1, 2], "v": list("abc")})
    sb = _ext_parquet(root, "b.parquet", {"id": [3, 4], "v": list("de")})
    log_dir = root / "_delta_log"
    log_dir.mkdir()
    sc_dir = log_dir / "_sidecars"
    sc_dir.mkdir()

    add_t = pa.struct(
        [
            ("path", pa.string()),
            ("partitionValues", pa.map_(pa.string(), pa.string())),
            ("size", pa.int64()),
            ("modificationTime", pa.int64()),
            ("dataChange", pa.bool_()),
            ("stats", pa.string()),
        ]
    )
    adds = [
        {"path": "a.parquet", "partitionValues": {}, "size": sa,
         "modificationTime": 1, "dataChange": True,
         "stats": json.dumps({"numRecords": 3, "minValues": {"id": 0},
                              "maxValues": {"id": 2},
                              "nullCount": {"id": 0}})},
        {"path": "b.parquet", "partitionValues": {}, "size": sb,
         "modificationTime": 1, "dataChange": True,
         "stats": json.dumps({"numRecords": 2, "minValues": {"id": 3},
                              "maxValues": {"id": 4},
                              "nullCount": {"id": 0}})},
    ]
    side_name = "11111111-2222-3333-4444-555555555555.parquet"
    pq.write_table(
        pa.table({"add": pa.array(adds, type=add_t)}),
        str(sc_dir / side_name),
    )
    side_size = os.path.getsize(str(sc_dir / side_name))

    proto_t = pa.struct(
        [
            ("minReaderVersion", pa.int32()),
            ("minWriterVersion", pa.int32()),
            ("readerFeatures", pa.list_(pa.string())),
            ("writerFeatures", pa.list_(pa.string())),
        ]
    )
    meta_t = pa.struct(
        [
            ("id", pa.string()),
            ("schemaString", pa.string()),
            ("partitionColumns", pa.list_(pa.string())),
            ("configuration", pa.map_(pa.string(), pa.string())),
        ]
    )
    cpm_t = pa.struct(
        [("version", pa.int64()), ("tags", pa.map_(pa.string(), pa.string()))]
    )
    sidecar_t = pa.struct(
        [
            ("path", pa.string()),
            ("sizeInBytes", pa.int64()),
            ("modificationTime", pa.int64()),
        ]
    )
    rows = {
        "checkpointMetadata": [
            {"version": 1, "tags": {}}, None, None, None],
        "protocol": [
            None,
            {"minReaderVersion": 3, "minWriterVersion": 7,
             "readerFeatures": ["v2Checkpoint"],
             "writerFeatures": ["v2Checkpoint"]},
            None, None],
        "metaData": [
            None, None,
            {"id": "ext-v2", "schemaString": _EXT_SCHEMA_KV,
             "partitionColumns": [], "configuration": {}},
            None],
        "sidecar": [
            None, None, None,
            {"path": side_name, "sizeInBytes": side_size,
             "modificationTime": 1}],
    }
    manifest_name = (
        "00000000000000000001.checkpoint."
        "aaaaaaaa-bbbb-cccc-dddd-eeeeeeeeeeee.parquet"
    )
    pq.write_table(
        pa.table(
            {
                "checkpointMetadata": pa.array(
                    rows["checkpointMetadata"], type=cpm_t),
                "protocol": pa.array(rows["protocol"], type=proto_t),
                "metaData": pa.array(rows["metaData"], type=meta_t),
                "sidecar": pa.array(rows["sidecar"], type=sidecar_t),
            }
        ),
        str(log_dir / manifest_name),
    )
    with open(log_dir / "_last_checkpoint", "w") as f:
        json.dump({"version": 1, "checkpointKind": "v2",
                   "v2Checkpoint": manifest_name}, f)

    t = DeltaishTable(spark, str(root))
    got = {r.id: r.v for r in t.read().collect()}
    assert got == {0: "a", 1: "b", 2: "c", 3: "d", 4: "e"}
    # struct-encoded stats survive the indirection: id >= 3 prunes
    assert t.files_matching_predicate("id >= 3") == ["b.parquet"]
    # our writer continues the foreign v2 log — and, feature active,
    # its NEXT periodic checkpoint would also be v2
    v = t.append(spark.createDataFrame([(9, "z")], "id long, v string"))
    assert v == 2 and t.read().count() == 6

    # a manifest stamping the WRONG version is refused
    bad_name = (
        "00000000000000000003.checkpoint."
        "ffffffff-0000-1111-2222-333333333333.parquet"
    )
    os.rename(str(log_dir / manifest_name), str(log_dir / bad_name))
    with open(log_dir / "_last_checkpoint", "w") as f:
        json.dump({"version": 3, "checkpointKind": "v2",
                   "v2Checkpoint": bad_name}, f)
    with pytest.raises(ValueError, match="stamps version"):
        dlog.read_checkpoint(str(root), 3)


# ------------------------------------------------------------ version checksums


def test_version_checksum_written_and_validates(spark, tmp_path):
    """Every write path stamps <v>.crc (create/append/delete/
    overwrite) with the post-commit live-set summary; validation
    recomputes by replay and agrees at every version, including after
    a rewrite that shrank the table."""
    df = _orders(spark, 40)
    t = DeltaishTable.create(spark, str(tmp_path / "t"), df)
    t.append(df.limit(5))
    t.delete(F.col("o_orderkey") % 2 == 0)
    t.overwrite(df.limit(7))
    for v in range(t.version + 1):
        assert os.path.exists(dlog.checksum_file(str(t.path), v)), v
        assert dlog.validate_version_checksum(str(t.path), v) is True
    assert t.verify_checksum() is True
    # content sanity at latest: numFiles == live adds, size == sum
    with open(dlog.checksum_file(str(t.path), t.version)) as f:
        crc = json.load(f)
    snap = t._snapshot()
    assert crc["numFiles"] == len(snap.files)
    assert crc["tableSizeBytes"] == sum(
        int(a.get("size", 0)) for a in snap.files.values()
    )


def test_version_checksum_mismatch_refuses(spark, tmp_path):
    """A tampered .crc (wrong numFiles/tableSizeBytes) must RAISE on
    validation — the log and the checksummed state disagree and no
    read of that summary is trustworthy; a version with no .crc at
    all returns None (foreign writers may skip them)."""
    df = _orders(spark, 20)
    t = DeltaishTable.create(spark, str(tmp_path / "t"), df)
    t.append(df.limit(3))
    p = dlog.checksum_file(str(t.path), t.version)
    with open(p) as f:
        crc = json.load(f)
    crc["numFiles"] += 1
    crc["tableSizeBytes"] += 17
    with open(p, "w") as f:
        json.dump(crc, f)
    with pytest.raises(ValueError, match="checksum mismatch"):
        t.verify_checksum()
    os.remove(p)
    assert t.verify_checksum() is None


def test_version_checksum_cleanup_and_clone(spark, tmp_path):
    """Log cleanup removes each deleted commit's .crc with it (the
    .crc shadows its JSON); clones stamp version 0 of the new table
    with a checksum matching the cloned state."""
    df = _orders(spark, 30)
    t = DeltaishTable.create(spark, str(tmp_path / "t"), df)
    for _ in range(3):
        t.append(df.limit(2))
    cp = dlog.write_checkpoint(str(t.path))
    deleted = dlog.cleanup_metadata(str(t.path), retention_hours=0.0)
    assert any(d.endswith(".crc") for d in deleted)
    for v in range(cp):
        assert not os.path.exists(dlog.checksum_file(str(t.path), v))
    assert dlog.validate_version_checksum(str(t.path), cp) is True

    c = t.shallow_clone(str(tmp_path / "c"))
    assert c.verify_checksum() is True
    d = t.deep_clone(str(tmp_path / "d"))
    assert d.verify_checksum() is True


# ----------------------------------------------------- full vacuum / protocol check


def test_vacuum_full_removes_orphans_lite_does_not(spark, tmp_path):
    """VACUUM mode split: LITE (log-driven) deletes tombstoned files
    but can never see an ORPHAN — debris of a failed writer that no
    log action references; FULL walks the directory and removes aged
    orphans too. Live files, recent orphans, and the _delta_log
    subtree are untouchable in both modes."""
    import time as _time

    df = _orders(spark, 40)
    t = DeltaishTable.create(spark, str(tmp_path / "t"), df)
    t.overwrite(df.limit(6))  # tombstones the original files
    exp = t.read().count()
    # plant orphans: an aged one (mtime pushed past retention) and a
    # fresh one (must survive even FULL)
    old_orphan = os.path.join(str(t.path), "part-zombie-old.parquet")
    new_orphan = os.path.join(str(t.path), "part-zombie-new.parquet")
    for p in (old_orphan, new_orphan):
        with open(p, "wb") as f:
            f.write(b"PAR1junkPAR1")
    past = _time.time() - 9 * 24 * 3600
    os.utime(old_orphan, (past, past))

    lite = t.vacuum(retention_hours=0.0, enforce_retention=False,
                    mode="lite")
    assert os.path.exists(old_orphan) and os.path.exists(new_orphan)
    assert t.read().count() == exp

    full = t.vacuum(retention_hours=168.0, enforce_retention=True,
                    mode="full")
    assert "part-zombie-old.parquet" in full
    assert not os.path.exists(old_orphan)
    assert os.path.exists(new_orphan)  # inside retention: protected
    assert t.read().count() == exp
    # tombstoned files went in the LITE pass already
    assert any(p.endswith(".parquet") for p in lite)
    with pytest.raises(ValueError, match="'lite' or 'full'"):
        t.vacuum(mode="deep")


def test_vacuum_protocol_check_feature(spark, tmp_path):
    """vacuumProtocolCheck: enabling lands the feature in BOTH lists
    at (3,7); vacuum still works on our own tables; on a FOREIGN
    table declaring the feature plus a writer feature we don't
    implement, vacuum REFUSES before deleting anything — the
    feature's whole point."""
    df = _orders(spark, 20)
    t = DeltaishTable.create(spark, str(tmp_path / "t"), df)
    t.enable_vacuum_protocol_check()
    proto = t._snapshot().protocol
    assert "vacuumProtocolCheck" in proto["readerFeatures"]
    assert "vacuumProtocolCheck" in proto["writerFeatures"]
    t.overwrite(df.limit(3))
    deleted = t.vacuum(retention_hours=0.0, enforce_retention=False)
    assert deleted and t.read().count() == 3

    # foreign table: vacuumProtocolCheck + an unknown writer feature
    root = tmp_path / "ext_vpc"
    root.mkdir()
    size = _ext_parquet(root, "a.parquet", {"id": [1, 2], "v": ["a", "b"]})
    _ext_log(
        root,
        {
            0: [
                {"protocol": {
                    "minReaderVersion": 3, "minWriterVersion": 7,
                    "readerFeatures": ["vacuumProtocolCheck"],
                    "writerFeatures": ["vacuumProtocolCheck",
                                       "futureFeature"]}},
                {"metaData": {"id": "ext-vpc",
                              "schemaString": _EXT_SCHEMA_KV,
                              "partitionColumns": [],
                              "configuration": {}}},
                {"add": {"path": "a.parquet", "partitionValues": {},
                         "size": size, "modificationTime": 1,
                         "dataChange": True}},
            ]
        },
    )
    ft = DeltaishTable(spark, str(root))
    assert ft.read().count() == 2  # unknown WRITER feature: reads fine
    with pytest.raises(NotImplementedError, match="futureFeature"):
        ft.vacuum(retention_hours=0.0, enforce_retention=False)
    assert os.path.exists(str(root / "a.parquet"))


# ---------------------------------------------------------------- type widening


def test_type_widening_roundtrip(spark, tmp_path):
    """typeWidening end-to-end: widening int→long and float→double is
    a METADATA-ONLY commit (zero files rewritten), journaled in the
    field's delta.typeChanges with the protocol feature in both
    lists; old narrow-typed parquet files upcast on scan; appends
    beyond the narrow range land and aggregate correctly; skipping
    stats written by the narrow files stay sound for pruning."""
    df = spark.createDataFrame(
        [(1, 10, 1.5), (2, 20, 2.5)], "id long, qty int, price float"
    )
    t = DeltaishTable.create(spark, str(tmp_path / "t"), df)
    files_before = set(t._snapshot().files)
    t.widen_column_type("qty", "long")
    t.widen_column_type("price", "double")
    snap = t._snapshot()
    assert set(snap.files) == files_before  # metadata-only
    proto = snap.protocol
    assert "typeWidening" in proto["readerFeatures"]
    assert "typeWidening" in proto["writerFeatures"]
    sj = json.loads(snap.metadata["schemaString"])
    qty = next(f for f in sj["fields"] if f["name"] == "qty")
    assert qty["type"] == "long"
    tc = qty["metadata"]["delta.typeChanges"]
    assert tc[0]["fromType"] == "integer" and tc[0]["toType"] == "long"
    assert tc[0]["tableVersion"] == 1

    big = 2**40
    t.append(
        spark.createDataFrame(
            [(3, big, 3.5)], "id long, qty long, price double"
        )
    )
    got = {r.id: (r.qty, r.price) for r in t.read().collect()}
    assert got == {1: (10, 1.5), 2: (20, 2.5), 3: (big, 3.5)}
    assert t.read().schema["qty"].dataType.typeName() == "long"
    # stats from the NARROW file still prune: qty >= big hits only
    # the new file
    matched = t.files_matching_predicate(f"qty >= {big}")
    assert len(matched) == 1


def test_type_widening_refusals(spark, tmp_path):
    """Non-widening changes refuse loudly: narrowing, cross-family,
    nested, unknown column. A second widen on the same column appends
    to the typeChanges journal rather than overwriting it."""
    df = spark.createDataFrame(
        [(1, 2, "x", [1])],
        "id long, b short, s string, arr array<int>",
    )
    t = DeltaishTable.create(spark, str(tmp_path / "t"), df)
    with pytest.raises(ValueError, match="not a supported widening"):
        t.widen_column_type("id", "integer")  # narrowing
    with pytest.raises(ValueError, match="not a supported widening"):
        t.widen_column_type("s", "long")  # cross-family
    with pytest.raises(NotImplementedError, match="nested"):
        t.widen_column_type("arr", "array<long>")
    with pytest.raises(ValueError, match="no such column"):
        t.widen_column_type("nope", "long")
    t.widen_column_type("b", "integer")
    v = t.version
    t.widen_column_type("b", "long")
    # long→double is NOT a widening: doubles lose integer precision
    # above 2^53, so the spec (and we) refuse it
    with pytest.raises(ValueError, match="not a supported widening"):
        t.widen_column_type("b", "double")
    sj = json.loads(t._snapshot().metadata["schemaString"])
    b = next(f for f in sj["fields"] if f["name"] == "b")
    tc = b["metadata"]["delta.typeChanges"]
    assert [c["toType"] for c in tc] == ["integer", "long"]
    assert tc[1]["tableVersion"] == v + 1
    # idempotent no-op: same type returns current version, no commit
    assert t.widen_column_type("b", "long") == t.version


def test_reads_external_type_widening_fixture(spark, tmp_path):
    """Reverse direction: a foreign log declaring typeWidening whose
    schema says long but whose data file carries int32 pages (written
    before the foreign widen, as delta.typeChanges records). Our
    reader must upcast the narrow pages under the wide schema."""
    import pyarrow as pa

    root = tmp_path / "ext_tw"
    root.mkdir()
    size = _ext_parquet(
        root, "a.parquet",
        {"id": pa.array([1, 2, 3], pa.int32()),
         "v": pa.array(["a", "b", "c"])},
    )
    schema_string = json.dumps(
        {
            "type": "struct",
            "fields": [
                {"name": "id", "type": "long", "nullable": True,
                 "metadata": {"delta.typeChanges": [
                     {"fromType": "integer", "toType": "long",
                      "tableVersion": 1}]}},
                {"name": "v", "type": "string", "nullable": True,
                 "metadata": {}},
            ],
        }
    )
    _ext_log(
        root,
        {
            0: [
                {"protocol": {"minReaderVersion": 3, "minWriterVersion": 7,
                              "readerFeatures": ["typeWidening"],
                              "writerFeatures": ["typeWidening"]}},
                {"metaData": {"id": "ext-tw",
                              "schemaString": schema_string,
                              "partitionColumns": [],
                              "configuration": {}}},
                {"add": {"path": "a.parquet", "partitionValues": {},
                         "size": size, "modificationTime": 1,
                         "dataChange": True}},
            ]
        },
    )
    t = DeltaishTable(spark, str(root))
    assert t.read().schema["id"].dataType.typeName() == "long"
    assert {r.id for r in t.read().collect()} == {1, 2, 3}
    # and our writer can continue it with beyond-int32 values
    t.append(spark.createDataFrame([(2**40, "z")], "id long, v string"))
    assert t.read().count() == 4


def test_reads_external_checksum_fieldset(spark, tmp_path):
    """Reverse direction for VERSION_CHECKSUM: delta-spark .crc files
    carry MORE fields than we write (txnId, protocol/metaData echoes,
    histogram opt). Validation must judge the fields it can recompute
    and IGNORE the extras — and still refuse when a recomputable
    field disagrees."""
    root = tmp_path / "ext_crc"
    root.mkdir()
    size = _ext_parquet(root, "a.parquet", {"id": [1, 2, 3], "v": list("abc")})
    _ext_log(
        root,
        {
            0: [
                {"protocol": {"minReaderVersion": 1, "minWriterVersion": 2}},
                {"metaData": {"id": "ext-crc",
                              "schemaString": _EXT_SCHEMA_KV,
                              "partitionColumns": [],
                              "configuration": {}}},
                {"add": {"path": "a.parquet", "partitionValues": {},
                         "size": size, "modificationTime": 1,
                         "dataChange": True}},
            ]
        },
    )
    crc = {
        "txnId": "deadbeef-0000-1111-2222-333333333333",
        "tableSizeBytes": size,
        "numFiles": 1,
        "numMetadata": 1,
        "numProtocol": 1,
        "numDeletedRecordsOpt": 0,
        "protocol": {"minReaderVersion": 1, "minWriterVersion": 2},
        "histogramOpt": {"sortedBinBoundaries": [0], "fileCounts": [1]},
    }
    with open(root / "_delta_log" / f"{0:020d}.crc", "w") as f:
        json.dump(crc, f)
    t = DeltaishTable(spark, str(root))
    assert t.verify_checksum(0) is True
    crc["tableSizeBytes"] = size + 1
    with open(root / "_delta_log" / f"{0:020d}.crc", "w") as f:
        json.dump(crc, f)
    with pytest.raises(ValueError, match="checksum mismatch"):
        t.verify_checksum(0)


# ------------------------------------------------- r7 feature interplay


def test_type_widening_under_column_mapping(spark, tmp_path):
    """Widening a MAPPED column: the physical name must not change
    (files stay addressable), the logical schema widens, and a
    subsequent metadata-only RENAME keeps both the widened type and
    the typeChanges journal."""
    df = spark.createDataFrame([(1, 10), (2, 20)], "id long, qty int")
    t = DeltaishTable.create(spark, str(tmp_path / "t"), df)
    t.enable_column_mapping()
    t.widen_column_type("qty", "long")
    sj = json.loads(t._snapshot().metadata["schemaString"])
    qty = next(f for f in sj["fields"] if f["name"] == "qty")
    assert qty["type"] == "long"
    assert qty["metadata"]["delta.columnMapping.physicalName"] == "qty"
    t.rename_column("qty", "quantity")
    t.append(spark.createDataFrame([(3, 2**40)], "id long, quantity long"))
    got = {r.id: r.quantity for r in t.read().collect()}
    assert got == {1: 10, 2: 20, 3: 2**40}
    sj = json.loads(t._snapshot().metadata["schemaString"])
    q2 = next(f for f in sj["fields"] if f["name"] == "quantity")
    assert q2["type"] == "long"
    assert q2["metadata"]["delta.typeChanges"][0]["fromType"] == "integer"


def test_v2_checkpoint_carries_domains_and_txns(spark, tmp_path):
    """A v2 checkpoint must carry domainMetadata (row tracking's
    high-water mark lives there) and SetTransaction watermarks
    through log cleanup — losing either would re-issue row ids or
    replay an exactly-once batch."""
    df = _orders(spark, 20)
    t = DeltaishTable.create(spark, str(tmp_path / "t"), df)
    t.enable_row_tracking()
    dlog.write_commit(
        str(t.path),
        t.version + 1,
        [{"txn": {"appId": "writerA", "version": 7}},
         dlog.commit_info("txn")],
    )
    t.enable_v2_checkpoints()
    hwm_before = t._rt_hwm(t._snapshot())
    cp = t.checkpoint_v2(sidecars=2)
    dlog.cleanup_metadata(str(t.path), retention_hours=0.0)
    fresh = DeltaishTable(spark, str(t.path))
    snap = fresh._snapshot()
    assert fresh.last_txn_version("writerA") == 7
    assert fresh._rt_hwm(snap) == hwm_before
    assert "delta.rowTracking" in snap.domains
    # and appends continue allocating NEW row ids above the hwm
    v = fresh.append(df.limit(2))
    assert fresh._rt_hwm(fresh._snapshot()) >= hwm_before + 2


def test_checksum_through_restore_and_optimize(spark, tmp_path):
    """RESTORE and OPTIMIZE commits stamp checksums like any other
    commit, and each version's stored .crc matches its replayed
    state — including the post-RESTORE version whose live set equals
    an older snapshot."""
    df = _orders(spark, 30)
    t = DeltaishTable.create(spark, str(tmp_path / "t"), df)
    t.append(df.limit(4))
    n_v1 = t.read().count()
    t.delete(F.col("o_orderkey") % 2 == 0)
    t.restore(1)
    assert t.read().count() == n_v1
    t.optimize()
    for v in range(t.version + 1):
        assert dlog.validate_version_checksum(str(t.path), v) is True


def test_reads_external_v2_json_manifest(spark, tmp_path):
    """The spec's OTHER v2 manifest encoding: a JSON manifest
    (``<v>.checkpoint.<uuid>.json``, one action per line — the commit
    format) referencing a parquet sidecar. Our reader must resolve
    and replay it exactly like the parquet manifest form."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    root = tmp_path / "ext_v2j"
    root.mkdir()
    sa = _ext_parquet(root, "a.parquet", {"id": [0, 1], "v": list("ab")})
    sb = _ext_parquet(root, "b.parquet", {"id": [2], "v": ["c"]})
    log_dir = root / "_delta_log"
    log_dir.mkdir()
    sc_dir = log_dir / "_sidecars"
    sc_dir.mkdir()
    add_t = pa.struct(
        [
            ("path", pa.string()),
            ("partitionValues", pa.map_(pa.string(), pa.string())),
            ("size", pa.int64()),
            ("modificationTime", pa.int64()),
            ("dataChange", pa.bool_()),
            ("stats", pa.string()),
        ]
    )
    adds = [
        {"path": "a.parquet", "partitionValues": {}, "size": sa,
         "modificationTime": 1, "dataChange": True, "stats": None},
        {"path": "b.parquet", "partitionValues": {}, "size": sb,
         "modificationTime": 1, "dataChange": True, "stats": None},
    ]
    side = "99999999-8888-7777-6666-555555555555.parquet"
    pq.write_table(
        pa.table({"add": pa.array(adds, type=add_t)}), str(sc_dir / side)
    )
    manifest = (
        "00000000000000000002.checkpoint."
        "12121212-3434-5656-7878-909090909090.json"
    )
    with open(log_dir / manifest, "w") as f:
        for a in (
            {"checkpointMetadata": {"version": 2, "tags": {}}},
            {"protocol": {"minReaderVersion": 3, "minWriterVersion": 7,
                          "readerFeatures": ["v2Checkpoint"],
                          "writerFeatures": ["v2Checkpoint"]}},
            {"metaData": {"id": "ext-v2j", "schemaString": _EXT_SCHEMA_KV,
                          "partitionColumns": [], "configuration": {}}},
            {"txn": {"appId": "extW", "version": 3}},
            {"sidecar": {"path": side,
                         "sizeInBytes": os.path.getsize(str(sc_dir / side)),
                         "modificationTime": 1}},
        ):
            f.write(json.dumps(a) + "\n")
    with open(log_dir / "_last_checkpoint", "w") as f:
        json.dump({"version": 2, "checkpointKind": "v2",
                   "v2Checkpoint": manifest}, f)

    assert dlog.last_checkpoint_version(str(root)) == 2
    t = DeltaishTable(spark, str(root))
    assert {r.id: r.v for r in t.read().collect()} == {0: "a", 1: "b", 2: "c"}
    assert t.last_txn_version("extW") == 3
    # our writer continues at version 3
    v = t.append(spark.createDataFrame([(9, "z")], "id long, v string"))
    assert v == 3 and t.read().count() == 4


def test_commit_next_protocol_change_gate(spark, tmp_path):
    """OCC conflict matrix, protocol axis (r7 ADVICE): a protocol
    action landing between an operation's snapshot read and its
    commit fails that commit with ProtocolChangedException semantics
    — two concurrent feature-enables computed from the same stale
    snapshot would otherwise silently clobber each other's feature
    lists. Appends conflict too: their writer-protocol validation
    ran against the old protocol."""
    src = _orders(spark, 40)
    t = DeltaishTable.create(spark, str(tmp_path / "t"), src)
    read_v = t.version
    # a concurrent feature-enable lands after the read snapshot
    DeltaishTable(spark, t.path).enable_vacuum_protocol_check()
    with pytest.raises(ConcurrentCommitError, match="protocol"):
        t._commit_next([dlog.commit_info("PROBE")], read_version=read_v)
    # pure commitInfo commits still pass the gate (benign interleave)
    head = t.version
    v = t._commit_next([dlog.commit_info("PROBE")], read_version=head)
    assert v == head + 1


def test_concurrent_protocol_upgrades_conflict(spark, tmp_path, monkeypatch):
    """enable_v2_checkpoints vs enable_vacuum_protocol_check racing
    from one snapshot. The rival
    lands after the loser read its snapshot and before the loser's
    commit, so the loser must FAIL on the protocol change it did not
    see (ProtocolChangedException), not drop the winner's feature; a
    rerun on the fresh snapshot then carries BOTH features."""
    src = _orders(spark, 30)
    t = DeltaishTable.create(spark, str(tmp_path / "t"), src)
    orig = t._commit_next
    fired = {"done": False}

    def rival_first(actions, *a, **kw):
        # the rival lands after the upgrade read its snapshot
        if not fired["done"]:
            fired["done"] = True
            DeltaishTable(spark, t.path).enable_vacuum_protocol_check()
        return orig(actions, *a, **kw)

    monkeypatch.setattr(t, "_commit_next", rival_first)
    with pytest.raises(ConcurrentCommitError, match="ProtocolChangedException"):
        t.enable_v2_checkpoints()
    monkeypatch.undo()
    proto = t._snapshot().protocol
    assert "vacuumProtocolCheck" in proto["writerFeatures"]  # winner intact
    t.enable_v2_checkpoints()  # rerun on fresh snapshot
    proto = t._snapshot().protocol
    assert "vacuumProtocolCheck" in proto["writerFeatures"]
    assert "v2Checkpoint" in proto["writerFeatures"]


def test_drop_check_constraint_conflicts_with_concurrent_metadata(
    spark, tmp_path, monkeypatch
):
    """DROP CONSTRAINT computes its metaData from its read snapshot, so
    a table-property change that lands between that snapshot and the
    commit must make it fail (MetadataChangedException), not be
    silently overwritten; a rerun on the fresh snapshot keeps both."""
    t = DeltaishTable.create(spark, str(tmp_path / "t"), _orders(spark, 10))
    t.add_check_constraint("pos", "o_totalprice > 0")
    orig = t._commit_next
    fired = {"done": False}

    def rival_first(actions, *a, **kw):
        # the rival lands after the drop read its snapshot
        if not fired["done"]:
            fired["done"] = True
            DeltaishTable(spark, t.path).set_table_properties({"owner": "x"})
        return orig(actions, *a, **kw)

    monkeypatch.setattr(t, "_commit_next", rival_first)
    with pytest.raises(ConcurrentCommitError, match="metadata"):
        t.drop_check_constraint("pos")
    monkeypatch.undo()
    conf = t._snapshot().metadata["configuration"]
    assert conf == {"delta.constraints.pos": "o_totalprice > 0", "owner": "x"}
    t.drop_check_constraint("pos")
    assert t._snapshot().metadata["configuration"] == {"owner": "x"}


def _proto(rv, wv, rf=None, wf=None):
    p = {"minReaderVersion": rv, "minWriterVersion": wv}
    if rf is not None:
        p["readerFeatures"] = sorted(rf)
    if wf is not None:
        p["writerFeatures"] = sorted(wf)
    return p


_L4 = ["appendOnly", "invariants", "checkConstraints", "changeDataFeed",
       "generatedColumns"]
_L5 = _L4 + ["columnMapping"]
_V37 = _proto(3, 7, ["vacuumProtocolCheck"],
              ["appendOnly", "invariants", "vacuumProtocolCheck"])
_W37 = _V37["writerFeatures"]
_CM, _DV, _DM = "columnMapping", "deletionVectors", "domainMetadata"
_GI = ["generatedColumns", "identityColumns"]


@pytest.mark.parametrize(
    "start, features, expected",
    [
        (_proto(1, 2), ["checkConstraints"], _proto(1, 3)),
        (_proto(1, 2), [_CM], _proto(2, 5)),
        (_proto(1, 2), [_DV],
         _proto(3, 7, [_DV], ["appendOnly", "invariants", _DV])),
        (_proto(1, 2), [_DM],
         _proto(1, 7, None, ["appendOnly", "invariants", _DM])),
        (_proto(1, 2), _GI, _proto(1, 6)),
        (_proto(1, 2), [_CM, _DV],
         _proto(3, 7, [_CM, _DV], ["appendOnly", "invariants", _CM, _DV])),
        (_proto(1, 2), ["appendOnly"], None),
        (_proto(1, 4), ["checkConstraints"], None),
        (_proto(1, 4), [_CM], _proto(2, 5)),
        (_proto(1, 4), [_DV], _proto(3, 7, [_DV], _L4 + [_DV])),
        (_proto(1, 4), [_DM], _proto(1, 7, None, _L4 + [_DM])),
        (_proto(1, 4), _GI, _proto(1, 6)),
        (_proto(1, 4), [_CM, _DV], _proto(3, 7, [_CM, _DV], _L4 + [_CM, _DV])),
        (_proto(2, 5), ["checkConstraints", _CM], None),
        (_proto(2, 5), [_DV], _proto(3, 7, [_CM, _DV], _L5 + [_DV])),
        (_proto(2, 5), [_DM], _proto(2, 7, None, _L5 + [_DM])),
        (_proto(2, 5), _GI, _proto(2, 6)),
        (_proto(2, 5), [_CM, _DV], _proto(3, 7, [_CM, _DV], _L5 + [_DV])),
        (_proto(2, 5), ["typeWidening", "clustering", _DM],
         _proto(3, 7, [_CM, "typeWidening"],
                _L5 + ["typeWidening", "clustering", _DM])),
        (_V37, ["checkConstraints"],
         _proto(3, 7, ["vacuumProtocolCheck"], _W37 + ["checkConstraints"])),
        (_V37, [_CM], _proto(3, 7, ["vacuumProtocolCheck", _CM], _W37 + [_CM])),
        (_V37, [_DV], _proto(3, 7, ["vacuumProtocolCheck", _DV], _W37 + [_DV])),
        (_V37, [_DM], _proto(3, 7, ["vacuumProtocolCheck"], _W37 + [_DM])),
        (_V37, _GI, _proto(3, 7, ["vacuumProtocolCheck"], _W37 + _GI)),
        (_V37, [_CM, _DV],
         _proto(3, 7, ["vacuumProtocolCheck", _CM, _DV], _W37 + [_CM, _DV])),
        (_V37, ["vacuumProtocolCheck", "appendOnly", "invariants"], None),
    ],
)
def test_protocol_for(start, features, expected):
    """The one protocol rule, over legacy (1,2), (1,4), (2,5) and a
    (3,7) table-features start: legacy floors rise while every missing
    feature has one; otherwise writer v7 lists the implied features;
    reader-writer features land in readerFeatures at v3 (reader v2
    expands to columnMapping) or raise the reader to their floor; an
    already active set gives None."""
    assert DeltaishTable._protocol_for(start, features) == expected
    if expected is not None:
        assert DeltaishTable._protocol_for(expected, features) is None


def test_protocol_versions_are_written_only_by_protocol_for():
    """Source pin: no method other than _protocol_for writes a
    minWriterVersion literal into an action, so every protocol upgrade
    (ALTER, create, the first DV write) goes through the one rule."""
    import inspect
    import re

    from lakehouse_for_data_streaming_and_analysis_spark.delta import (
        table as table_mod,
    )

    writes = re.compile(r"""["']minWriterVersion["']\s*(:|\]\s*=)\s*\d""")
    assert writes.search(inspect.getsource(DeltaishTable._protocol_for))
    fns = [f for _, f in inspect.getmembers(table_mod, inspect.isfunction)]
    for name, member in vars(DeltaishTable).items():
        fn = getattr(member, "__func__", member)
        if inspect.isfunction(fn) and name != "_protocol_for":
            fns.append(fn)
    for fn in fns:
        assert not writes.search(inspect.getsource(fn)), fn.__name__

def test_type_widening_version_stamp_survives_interleave(spark, tmp_path):
    """r7 ADVICE: delta.typeChanges tableVersion must be the version
    the ALTER actually COMMITS at. A benign intervening
    commitInfo-only commit (permitted by the conflict scan) pushes
    the landing version past read_version + 1; external readers use
    tableVersion to decide which files carry the narrow physical
    type, so a stale stamp mislabels every file added in between."""
    df = spark.createDataFrame([(1, 10), (2, 20)], "id long, qty int")
    t = DeltaishTable.create(spark, str(tmp_path / "t"), df)
    read_v = t.version
    # benign interleave: a commitInfo-only commit bumps the log head
    dlog.write_commit(t.path, read_v + 1, [dlog.commit_info("NOOP")])
    v = t.widen_column_type("qty", "long")
    assert v == read_v + 2  # landed past the stale slot
    sj = json.loads(t._snapshot().metadata["schemaString"])
    qty = next(f for f in sj["fields"] if f["name"] == "qty")
    tc = qty["metadata"]["delta.typeChanges"]
    assert tc[-1]["tableVersion"] == v  # actual version, not read_v+1


def test_version_checksum_foreign_or_empty_crc_is_not_valid(spark, tmp_path):
    """r7 ADVICE: a .crc with no recognizable keys (another engine's
    naming, or corrupted-to-{}) must NOT pass validation by vacuous
    comparison — require the protocol-core numFiles/tableSizeBytes
    to be present and comparable, else report None (no usable
    checksum), never True."""
    df = _orders(spark, 20)
    t = DeltaishTable.create(spark, str(tmp_path / "t"), df)
    p = dlog.checksum_file(str(t.path), t.version)
    with open(p, "w") as f:
        json.dump({}, f)  # corrupted-to-{}
    assert dlog.validate_version_checksum(str(t.path), t.version) is None
    with open(p, "w") as f:
        json.dump({"fileCount": 1, "sizeBytes": 2}, f)  # foreign keys
    assert dlog.validate_version_checksum(str(t.path), t.version) is None
    # a wrong RECOGNIZED key still raises
    with open(p, "w") as f:
        json.dump({"numFiles": 999, "tableSizeBytes": 1}, f)
    with pytest.raises(ValueError, match="checksum mismatch"):
        dlog.validate_version_checksum(str(t.path), t.version)


def test_domain_metadata_api_lifecycle(spark, tmp_path):
    """Public domainMetadata surface (r8): set / overwrite (last
    writer wins) / read / tombstone, protocol feature on first use,
    checkpoint carriage past log cleanup, and delta.* reservation."""
    t = DeltaishTable.create(spark, str(tmp_path / "t"), _orders(spark, 10))
    t.set_domain_metadata("app.x", "a")
    assert "domainMetadata" in t._snapshot().protocol["writerFeatures"]
    t.set_domain_metadata("app.x", "b")
    t.set_domain_metadata("app.y", "c")
    assert t.domain_metadata("app.x") == "b"
    t.remove_domain_metadata("app.y")
    assert t.domain_metadata("app.y") is None
    with pytest.raises(ValueError, match="reserved"):
        t.set_domain_metadata("delta.anything", "{}")
    with pytest.raises(ValueError, match="no such domain"):
        t.remove_domain_metadata("app.y")
    dlog.write_checkpoint(str(t.path))
    t.append(_orders(spark, 3))
    t.cleanup_metadata(retention_hours=0)
    assert DeltaishTable(spark, t.path).domain_metadata("app.x") == "b"
