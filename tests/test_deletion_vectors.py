"""Deletion vectors (delta/roaring.py + merge-on-read DELETE):
codec round-trips with strict validation, MOR deletes that write
bitmaps instead of data, purge materialization, CDF attribution,
vacuum aging, and maintenance rewrites that keep deleted rows
deleted."""

from __future__ import annotations

import json
import os
import struct
import uuid

import pytest
from pyspark.sql import functions as F

from lakehouse_for_data_streaming_and_analysis_spark.catalog import load_table
from lakehouse_for_data_streaming_and_analysis_spark.delta import DeltaishTable
from lakehouse_for_data_streaming_and_analysis_spark.delta import log as dlog
from lakehouse_for_data_streaming_and_analysis_spark.delta import roaring as R

from .conftest import SF_DIR


def _orders(spark, n=None):
    df = load_table(spark, SF_DIR, "orders").select(
        "o_orderkey", "o_totalprice"
    )
    return df.limit(n) if n else df


# ------------------------------------------------------------- codec


def test_roaring_round_trips_and_validation():
    import random

    random.seed(7)
    cases = [
        [],
        [0],
        [1, 2, 3],
        list(range(5000)),  # bitmap container
        [2**16 * 3 + 5, 2**16 * 3 + 9],  # high 16-bit key
        random.sample(range(200000), 9000),
        [2**32 + 7, 2**33 + 1, 5],  # 64-bit keys
    ]
    for c in cases:
        assert R.deserialize_rbm_array(R.serialize_rbm_array(c)) == sorted(
            set(c)
        )
    entry, size = R.pack_dv_entry([1, 5, 9])
    assert R.unpack_dv_entry(entry, 0, size) == [1, 5, 9]
    bad = bytearray(entry)
    bad[-1] ^= 0xFF
    with pytest.raises(ValueError, match="checksum"):
        R.unpack_dv_entry(bytes(bad), 0, size)
    with pytest.raises(ValueError, match="dataSize"):
        R.unpack_dv_entry(entry, 0, size + 1)
    # run containers (delta-spark may emit them) decode correctly
    s = struct.pack("<I", 12347)  # 1 container, run cookie
    s += bytes([1])
    s += struct.pack("<HH", 0, 6 - 1)
    s += struct.pack("<H", 2) + struct.pack("<HH", 3, 4)
    s += struct.pack("<HH", 10, 0)
    vals, used = R.deserialize32(s)
    assert vals == [3, 4, 5, 6, 7, 10] and used == len(s)
    # unknown cookie refuses
    with pytest.raises(ValueError, match="cookie"):
        R.deserialize32(struct.pack("<II", 999, 1))
    for n in (4, 16, 32):
        b = os.urandom(n)
        assert R.b85_decode(R.b85_encode(b)) == b


# ------------------------------------------------- merge-on-read path


def test_mor_delete_writes_bitmaps_not_data(spark, tmp_path):
    src = _orders(spark, 40).repartitionByRange(4, "o_orderkey")
    t = DeltaishTable.create(spark, str(tmp_path / "t"), src)
    keys = sorted(r.o_orderkey for r in t.read().collect())
    data_files_before = sorted(t._snapshot().files)
    victims = set(keys[:5])

    v1 = t.delete(
        F.col("o_orderkey").isin(*victims), mode="merge_on_read"
    )
    # read excludes the victims
    assert sorted(r.o_orderkey for r in t.read().collect()) == keys[5:]
    # the DATA file set is unchanged — only bitmaps were written
    snap = t._snapshot()
    assert sorted(snap.files) == data_files_before
    dvs = {p: a["deletionVector"] for p, a in snap.files.items()
           if a.get("deletionVector")}
    assert dvs, "expected at least one DV"
    assert sum(d["cardinality"] for d in dvs.values()) == 5
    # protocol upgraded on first DV write
    assert "deletionVectors" in snap.protocol.get("readerFeatures", [])
    # time travel before the delete still sees every row
    assert len(t.read(version=0).collect()) == len(keys)

    # second MOR delete merges into existing DVs
    victims2 = set(keys[5:8])
    t.delete(F.col("o_orderkey").isin(*victims2), mode="merge_on_read")
    assert sorted(r.o_orderkey for r in t.read().collect()) == keys[8:]
    snap2 = t._snapshot()
    total_card = sum(
        a["deletionVector"]["cardinality"]
        for a in snap2.files.values()
        if a.get("deletionVector")
    )
    assert total_card == 8

    # deleting every remaining row of a file -> pure remove, no DV
    t2 = DeltaishTable.create(
        spark, str(tmp_path / "t2"), _orders(spark, 10).coalesce(1)
    )
    v = t2.delete(F.lit(True), mode="merge_on_read")
    acts = dlog.read_commit(t2.path, v)
    assert not [a for a in acts if "add" in a]
    assert t2.read().count() == 0


def test_purge_materializes_dvs(spark, tmp_path):
    src = _orders(spark, 30).repartition(3)
    t = DeltaishTable.create(spark, str(tmp_path / "t"), src)
    keys = sorted(r.o_orderkey for r in t.read().collect())
    t.delete(F.col("o_orderkey").isin(*keys[:4]), mode="merge_on_read")
    live_before = sorted(r.o_orderkey for r in t.read().collect())

    v = t.purge()
    acts = dlog.read_commit(t.path, v)
    assert all(
        not a["add"].get("dataChange", True)
        for a in acts
        if "add" in a
    ), "purge is dataChange=false"
    snap = t._snapshot()
    assert not any(a.get("deletionVector") for a in snap.files.values())
    assert sorted(r.o_orderkey for r in t.read().collect()) == live_before
    # idempotent: nothing left to purge
    assert t.purge() == v


def test_mor_delete_cdf_and_feed_guards(spark, tmp_path):
    from lakehouse_for_data_streaming_and_analysis_spark.sources import cdf_stream

    src = _orders(spark, 20)
    t = DeltaishTable.create(spark, str(tmp_path / "t"), src)
    v1 = t.enable_change_data_feed()
    keys = sorted(r.o_orderkey for r in src.collect())[:3]
    v2 = t.delete(F.col("o_orderkey").isin(*keys), mode="merge_on_read")
    feed = t.read_change_feed(v1, v2)
    assert sorted(r.o_orderkey for r in feed.collect()) == keys
    assert {r._change_type for r in feed.collect()} == {"delete"}
    # the DataSource agrees
    cdf_stream.register(spark)
    got = (
        spark.read.format("deltaish_cdf")
        .option("path", t.path)
        .option("startingVersion", v2)
        .option("endingVersion", v2)
        .load()
    )
    assert sorted(r.o_orderkey for r in got.collect()) == keys

    # overwrite AFTER a MOR delete: the removed file's synthesized
    # delete rows must exclude the DV'd positions (prior-snapshot DV)
    n_live = t.read().count()
    v3 = t.overwrite(src.limit(2))
    f = t.read_change_feed(v2, v3)
    counts = {
        r["_change_type"]: r["n"]
        for r in f.groupBy("_change_type")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    assert counts == {"delete": n_live, "insert": 2}
    got2 = (
        spark.read.format("deltaish_cdf")
        .option("path", t.path)
        .option("startingVersion", v3)
        .option("endingVersion", v3)
        .load()
    )
    counts2 = {
        r["_change_type"]: r["n"]
        for r in got2.groupBy("_change_type")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    assert counts2 == counts

    # without CDF a MOR delete cannot be attributed per-row
    t2 = DeltaishTable.create(spark, str(tmp_path / "t2"), src)
    k = sorted(r.o_orderkey for r in src.collect())[:2]
    v = t2.delete(F.col("o_orderkey").isin(*k), mode="merge_on_read")
    with pytest.raises(ValueError, match="DELETE without cdc"):
        t2.read_change_feed(0, v)


def test_maintenance_guards_and_vacuum(spark, tmp_path):
    src = _orders(spark, 30).repartition(3)
    t = DeltaishTable.create(spark, str(tmp_path / "t"), src)
    keys = sorted(r.o_orderkey for r in t.read().collect())
    t.delete(F.col("o_orderkey").isin(*keys[:3]), mode="merge_on_read")
    live = sorted(r.o_orderkey for r in t.read().collect())

    # optimize skips DV'd files: reading after must still exclude
    t.append(_orders(spark, 5))  # extra small files to compact
    t.optimize(target_bytes=1 << 30)
    after = sorted(r.o_orderkey for r in t.read().collect())
    assert after == sorted(live + [r.o_orderkey for r in _orders(spark, 5).collect()])

    # as_stream refuses (history has removes; DV guard also present)
    with pytest.raises(Exception, match="as_stream"):
        t.as_stream()

    # vacuum ages out DV files once no live add references them
    dv_files = [
        f for f in os.listdir(t.path) if f.startswith("deletion_vector_")
    ]
    assert dv_files
    t.purge()  # DVs no longer referenced by the live snapshot
    t.vacuum(retention_hours=168.0)
    assert [
        f for f in os.listdir(t.path) if f.startswith("deletion_vector_")
    ] == dv_files, "within retention: kept"
    deleted = t.vacuum(retention_hours=0.0, enforce_retention=False)
    assert [
        f for f in os.listdir(t.path) if f.startswith("deletion_vector_")
    ] == []
    assert any(f.startswith("deletion_vector_") for f in deleted)


def test_zorder_drops_dvs_on_both_layouts(spark, tmp_path):
    """Z-ORDER reads THROUGH the DV filter on either layout, so it both
    clusters and materializes: deleted rows stay deleted and the
    rewritten files carry no DV."""
    src = load_table(spark, SF_DIR, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    ).limit(30)
    t = DeltaishTable.create(
        spark, str(tmp_path / "t"), src, partition_by=("o_orderstatus",)
    )
    keys = sorted(r.o_orderkey for r in t.read().collect())
    t.delete(F.col("o_orderkey").isin(*keys[:2]), mode="merge_on_read")
    assert any(a.get("deletionVector") for a in t._snapshot().files.values())
    t.zorder_by(["o_orderkey"])
    assert sorted(r.o_orderkey for r in t.read().collect()) == keys[2:]
    assert not any(
        a.get("deletionVector") for a in t._snapshot().files.values()
    )
    t2 = DeltaishTable.create(
        spark, str(tmp_path / "t2"), _orders(spark, 20)
    )
    k2 = sorted(r.o_orderkey for r in t2.read().collect())
    t2.delete(F.col("o_orderkey").isin(*k2[:2]), mode="merge_on_read")
    t2.zorder_by(["o_orderkey"], n_files=2)
    assert sorted(r.o_orderkey for r in t2.read().collect()) == k2[2:]
    assert not any(
        a.get("deletionVector") for a in t2._snapshot().files.values()
    )


def test_mor_update_writes_only_updated_rows(spark, tmp_path):
    """merge-on-read UPDATE: old positions are DV-masked, ONLY the
    postimage rows land as new files (data written ∝ rows updated);
    reads see the new values exactly once; CDF records pre/post
    pairs; time travel shows the old values."""
    src = _orders(spark, 30).repartitionByRange(3, "o_orderkey")
    t = DeltaishTable.create(spark, str(tmp_path / "t"), src)
    t.enable_change_data_feed()
    base = {r.o_orderkey: r.o_totalprice for r in t.read().collect()}
    keys = sorted(base)
    victims = set(keys[:4])
    files_before = set(t._snapshot().files)

    v = t.update(
        F.col("o_orderkey").isin(*victims),
        {"o_totalprice": F.col("o_totalprice") + 1000000.0},
        mode="merge_on_read",
    )
    got = {r.o_orderkey: r.o_totalprice for r in t.read().collect()}
    assert sorted(got) == keys, "each key exactly once"
    for k in keys:
        expect = base[k] + (1000000.0 if k in victims else 0.0)
        assert got[k] == pytest.approx(expect)
    snap = t._snapshot()
    # old files re-added with DVs; new small file(s) hold postimages
    new_files = set(snap.files) - files_before
    assert new_files, "postimage rows must land in new files"
    masked = [
        p for p, a in snap.files.items() if a.get("deletionVector")
    ]
    assert masked and set(masked) <= files_before
    # time travel: pre-update values
    old = {r.o_orderkey: r.o_totalprice for r in t.read(version=1).collect()}
    assert old == pytest.approx(base)
    # CDF pre/post pairs
    feed = t.read_change_feed(v - 1, v)
    types = {}
    for r in feed.collect():
        types.setdefault(r._change_type, []).append(r.o_orderkey)
    assert sorted(types["update_preimage"]) == sorted(victims)
    assert sorted(types["update_postimage"]) == sorted(victims)


def test_roaring_property_round_trip():
    """Property-based: any uint64 position set round-trips through
    the full DV framing (serialize -> CRC entry -> strict decode)."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    @settings(max_examples=200, deadline=None)
    @given(
        st.lists(
            st.one_of(
                st.integers(min_value=0, max_value=2**16 - 1),
                st.integers(min_value=0, max_value=2**20),
                st.integers(min_value=2**32 - 5, max_value=2**33),
            ),
            max_size=300,
        )
    )
    def check(xs):
        entry, size = R.pack_dv_entry(xs)
        # decode at a nonzero offset, as in a multi-DV file
        padded = b"\x01\x00\x00" + entry
        assert R.unpack_dv_entry(padded, 3, size) == sorted(set(xs))

    check()


def test_foreign_dv_storage_types(spark, tmp_path):
    """A handwritten delta-spark-style log whose DVs use the INLINE
    ('i') and ABSOLUTE-PATH ('p') storage types reads correctly —
    interop beyond our own writer's 'u' layout."""
    import json
    import struct as _struct

    import pyarrow as pa
    import pyarrow.parquet as pq

    from lakehouse_for_data_streaming_and_analysis_spark.delta import roaring

    root = tmp_path / "t"
    root.mkdir()
    pq.write_table(
        pa.table({"id": list(range(10))}),
        str(root / "part-00000.parquet"),
    )
    # inline DV killing positions 0,1; data blob is magic+bitmaps,
    # base85 needs a multiple of 4 — our blobs are 4-aligned already
    blob = roaring.serialize_rbm_array([0, 1])
    assert len(blob) % 4 == 0
    inline = roaring.b85_encode(blob)
    # absolute-path DV file killing position 9 of the same table via a
    # second add? (one add per file) — use a SECOND data file
    pq.write_table(
        pa.table({"id": list(range(100, 110))}),
        str(root / "part-00001.parquet"),
    )
    dv_file = tmp_path / "external_dv.bin"
    entry, size = roaring.pack_dv_entry([9])
    dv_file.write_bytes(b"\x01" + entry)

    schema_string = json.dumps(
        {
            "type": "struct",
            "fields": [
                {"name": "id", "type": "long", "nullable": True,
                 "metadata": {}},
            ],
        }
    )
    actions = [
        {"protocol": {"minReaderVersion": 3, "minWriterVersion": 7,
                      "readerFeatures": ["deletionVectors"],
                      "writerFeatures": ["deletionVectors"]}},
        {"metaData": {"id": "00000000-0000-0000-0000-0000000000dv",
                      "format": {"provider": "parquet", "options": {}},
                      "schemaString": schema_string,
                      "partitionColumns": [], "configuration": {}}},
        {"add": {"path": "part-00000.parquet", "partitionValues": {},
                 "size": 1, "modificationTime": 1700000000000,
                 "dataChange": True,
                 "deletionVector": {"storageType": "i",
                                    "pathOrInlineDv": inline,
                                    "sizeInBytes": len(blob),
                                    "cardinality": 2}}},
        {"add": {"path": "part-00001.parquet", "partitionValues": {},
                 "size": 1, "modificationTime": 1700000000000,
                 "dataChange": True,
                 "deletionVector": {"storageType": "p",
                                    "pathOrInlineDv": str(dv_file),
                                    "offset": 1,
                                    "sizeInBytes": size,
                                    "cardinality": 1}}},
        {"commitInfo": {"operation": "WRITE",
                        "timestamp": 1700000000000}},
    ]
    log_dir = root / "_delta_log"
    log_dir.mkdir()
    with open(log_dir / "00000000000000000000.json", "w") as f:
        for a in actions:
            f.write(json.dumps(a) + "\n")

    got = sorted(
        r.id for r in DeltaishTable(spark, str(root)).read().collect()
    )
    # file 0 loses ids 0,1 (positions 0,1); file 1 loses id 109
    # (position 9)
    assert got == [2, 3, 4, 5, 6, 7, 8, 9] + list(range(100, 109))


def test_checkpoint_preserves_dvs(spark, tmp_path):
    """A parquet checkpoint round-trips deletionVector descriptors
    and the protocol feature flags — replay from the checkpoint must
    not resurrect DV-deleted rows."""
    src = _orders(spark, 20).repartition(2)
    t = DeltaishTable.create(spark, str(tmp_path / "t"), src)
    keys = sorted(r.o_orderkey for r in t.read().collect())
    t.delete(F.col("o_orderkey").isin(*keys[:3]), mode="merge_on_read")
    live = sorted(r.o_orderkey for r in t.read().collect())

    v = dlog.write_checkpoint(t.path)
    snap = dlog.read_checkpoint(t.path, v)
    assert any(a.get("deletionVector") for a in snap.files.values())
    assert "deletionVectors" in snap.protocol.get("readerFeatures", [])
    # a fresh reader (checkpoint + tail replay) still filters
    t2 = DeltaishTable(spark, t.path)
    assert sorted(r.o_orderkey for r in t2.read().collect()) == live


def test_restore_to_dv_version(spark, tmp_path):
    """RESTORE to a version whose files carry deletion vectors:
    the re-added files keep their descriptors, reads re-apply them,
    and a restore whose DV files were vacuumed refuses."""
    src = _orders(spark, 20).repartition(2)
    t = DeltaishTable.create(spark, str(tmp_path / "t"), src)
    keys = sorted(r.o_orderkey for r in t.read().collect())
    v_dv = t.delete(
        F.col("o_orderkey").isin(*keys[:3]), mode="merge_on_read"
    )
    live_at_dv = sorted(r.o_orderkey for r in t.read().collect())
    t.purge()
    t.overwrite(src.limit(2))

    t.restore(v_dv)
    assert sorted(r.o_orderkey for r in t.read().collect()) == live_at_dv
    assert any(
        a.get("deletionVector") for a in t._snapshot().files.values()
    )

    # vacuum the DV file away (purge de-referenced it... but restore
    # re-referenced it; drop the reference first)
    t.purge()
    deleted = t.vacuum(retention_hours=0.0, enforce_retention=False)
    assert any(p.startswith("deletion_vector_") for p in deleted)
    with pytest.raises(FileNotFoundError, match="RESTORE"):
        t.restore(v_dv)


def _dv_entry_bytes(t, dv):
    """The raw on-disk entry a 'u' descriptor points at."""
    path = os.path.join(
        t.path,
        f"deletion_vector_{uuid.UUID(bytes=R.b85_decode(dv['pathOrInlineDv']))}.bin",
    )
    with open(path, "rb") as f:
        f.seek(dv["offset"])
        return f.read(dv["sizeInBytes"] + 8)


_PYTHON_NODES = ("MapInPandas", "FlatMapGroupsInPandas", "EvalPython")


def test_dv_build_is_distributed_no_row_level_collect(
    spark, tmp_path, monkeypatch
):
    """Scale pin: a merge-on-read DELETE builds its bitmaps in one JVM
    aggregate whose collect returns one row per 65,536-row chunk that
    holds a new match or a prior deleted position of a candidate file,
    never the (file, position) pairs; neither the DELETE nor a
    DV-aware read plans a Python-worker node; the DELETE runs at most
    2 Spark jobs, the aggregate's two stages (3 once the files carry
    DVs: the scan then broadcasts them), counted by job tag, and
    decodes the prior DVs once for its scan and its aggregate; and a
    later DELETE unions the prior DVs."""
    sc = spark.sparkContext
    DataFrame = type(spark.range(1))  # the concrete (classic) class
    # two files of 70,000 ids in order: chunks 0 and 1 each, and a
    # row's index is its id minus its file's first id
    t = DeltaishTable.create(
        spark, str(tmp_path / "t"), spark.range(0, 70_000).coalesce(1)
    )
    t.append(spark.range(70_000, 140_000).coalesce(1))
    first_id = {
        p: json.loads(a["stats"])["minValues"]["id"]
        for p, a in t._snapshot().files.items()
    }
    assert sorted(first_id.values()) == [0, 70_000]
    collects = []
    real_collect = DataFrame.collect

    def spy(df):
        rows = real_collect(df)
        collects.append(
            (df.columns, df._jdf.queryExecution().executedPlan().toString(),
             len(rows))
        )
        return rows

    real_read = R.read_descriptors
    decodes = []

    def count_decodes(path, dvs):
        decodes.append(len(dvs))
        return real_read(path, dvs)

    def delete(tag, cond):
        collects.clear()
        decodes.clear()
        sc.addJobTag(tag)
        try:
            with monkeypatch.context() as m:
                m.setattr(DataFrame, "collect", spy)
                m.setattr(R, "read_descriptors", count_decodes)
                t.delete(cond, mode="merge_on_read")
        finally:
            sc.removeJobTag(tag)
        assert len(collects) == 1, [c[0] for c in collects]
        assert len(decodes) <= 1, decodes
        cols, plan, n = collects[0]
        assert "chunk" in cols
        assert not any(x in plan for x in _PYTHON_NODES), plan
        return n, len(sc._jsc.sc().statusTracker().getJobIdsForTag(tag))

    # every 97th row: both chunks of both files
    n, jobs = delete("dv.first", F.col("id") % 97 == 0)
    assert n == 4 and jobs <= 2, (n, jobs)
    # a range in the first file only: stats skip the second file, and
    # the first file's chunk 1 comes back from its prior DV alone
    n, jobs = delete("dv.second", F.col("id").between(10, 20))
    assert n == 2 and jobs <= 3 and decodes == [1], (n, jobs, decodes)
    # stats cannot prune ``id * 2``: both DV'd files are candidates,
    # only the first gains a row, and the second's chunks come back
    # from its prior DV alone and are dropped
    before = t._snapshot().files
    n, jobs = delete("dv.third", F.col("id") * 2 == 10)
    assert n == 4 and jobs <= 3 and decodes == [2], (n, jobs, decodes)
    after = t._snapshot().files
    assert [p for p in after if after[p] != before[p]] == [
        p for p in first_id if first_id[p] == 0
    ]

    read = t.read()
    plan = read._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastExchange" in plan
    assert not any(x in plan for x in _PYTHON_NODES), plan
    dead = {
        i for i in range(140_000) if i % 97 == 0 or 10 <= i <= 20 or i == 5
    }
    assert read.count() == 140_000 - len(dead)
    snap = t._snapshot()
    assert sum(
        a["deletionVector"]["cardinality"] for a in snap.files.values()
    ) == len(dead)
    for p, first in first_id.items():
        dv = snap.files[p]["deletionVector"]
        want = sorted(i - first for i in dead if first <= i < first + 70_000)
        assert t.dv_positions(dv) == want
        assert _dv_entry_bytes(t, dv) == R.pack_dv_entry(want)[0]


# the edges the chunk aggregate must get right: both halves of a
# chunk's bitmap, the array/bitmap container boundary, a bitmap with
# only its upper half set, and positions past 2**32
_EDGE_POSITIONS = (
    [0, 1, 32767, 32768, 65535, 65536]
    + [2 * 65536 + i for i in range(0, 8192, 2)]  # exactly 4096
    + [3 * 65536 + i for i in range(4097)]  # 4097: bitmap
    + [4 * 65536 + 32768 + i for i in range(4097)]  # upper half only
    + [2**32 + 5, 2**32 + 2 * 65536 + 32768, 2**33 + 1]
)


def _jvm_containers(positions):
    """The containers the JVM aggregate hands back: sorted lows up to
    4096 values, else two 4 KiB halves of the chunk's bitmap."""
    chunks = {}
    for p in sorted(set(positions)):
        chunks.setdefault(p >> 16, []).append(p & 0xFFFF)
    out = []
    for c, lows in chunks.items():
        if len(lows) <= 4096:
            payload = struct.pack(f"<{len(lows)}H", *lows)
        else:
            halves = [bytearray(4096), bytearray(4096)]
            for v in lows:
                b = v % 32768  # bitmap_bit_position(v + 1)
                halves[v >= 32768][b >> 3] |= 1 << (b & 7)
            payload = bytes(halves[0] + halves[1])
        out.append((c, len(lows), payload))
    return out


def test_frame_rbm_array_matches_serialize():
    """The container framer gives the bytes serialize_rbm_array gives
    for the same positions, in any chunk order, and refuses a payload
    that does not fit its cardinality."""
    import random

    random.seed(11)
    cases = [
        [],
        _EDGE_POSITIONS,
        random.sample(range(300_000), 9000),
        [2**32 - 1, 2**32, 2**32 + 65535, 2**32 + 65536],
    ]
    for pos in cases:
        chunks = _jvm_containers(pos)
        random.shuffle(chunks)
        assert R.frame_rbm_array(chunks) == R.serialize_rbm_array(pos)
        assert R.frame_entry(R.frame_rbm_array(chunks)) == R.pack_dv_entry(
            pos
        )
    with pytest.raises(ValueError, match="cardinality"):
        R.frame_rbm_array([(0, 3, struct.pack("<2H", 1, 2))])
    with pytest.raises(ValueError, match="cardinality"):
        R.frame_rbm_array([(0, 4097, bytes(4096))])


def test_dv_chunk_aggregate_matches_pack_dv_entry(spark, tmp_path):
    """The JVM chunk aggregate behind every DV write gives entries
    byte-identical to pack_dv_entry(sorted(positions)) at the chunk
    edges and past 2**32 (fed synthetic positions; the file's
    numRecords is raised so no file reads as fully deleted), a second
    write unions the prior DV, and a candidate file whose DV gains no
    new row keeps its DV."""
    import dataclasses

    t = DeltaishTable.create(
        spark, str(tmp_path / "t"), _orders(spark, 20).repartition(2)
    )
    snap = t._snapshot()
    f1, f2 = sorted(snap.files)
    big = json.dumps({"numRecords": 2**40})
    snap = dataclasses.replace(
        snap, files={p: dict(a, stats=big) for p, a in snap.files.items()}
    )

    def mask(snap, by_file):
        rows = [
            (t._file_uri(p), pos) for p, ps in by_file.items() for pos in ps
        ]
        matches = spark.createDataFrame(rows, "__fp string, __ri bigint")
        actions, _ = t._dv_mask_actions(snap, matches, [f1, f2])
        adds = {a["add"]["path"]: a["add"] for a in actions if "add" in a}
        files = dict(snap.files)
        files.update(adds)
        return dataclasses.replace(snap, files=files), adds

    first = _EDGE_POSITIONS[::2]
    snap, adds = mask(snap, {f1: first, f2: [3, 70_000]})
    assert set(adds) == {f1, f2}
    dv = adds[f1]["deletionVector"]
    assert dv["cardinality"] == len(first)
    assert _dv_entry_bytes(t, dv) == R.pack_dv_entry(first)[0]

    # second write: f1 gains the other half, f2 is a candidate whose
    # DV gains nothing and keeps it (no remove, no add)
    snap, adds = mask(snap, {f1: _EDGE_POSITIONS[1::2]})
    assert set(adds) == {f1}
    dv = adds[f1]["deletionVector"]
    assert dv["cardinality"] == len(_EDGE_POSITIONS)
    assert _dv_entry_bytes(t, dv) == R.pack_dv_entry(_EDGE_POSITIONS)[0]
    assert t.dv_positions(dv) == sorted(_EDGE_POSITIONS)


def test_read_descriptors_reads_a_shared_file_once(tmp_path, monkeypatch):
    """Descriptors that share one DV file cost one read of it, and a
    corrupt entry still refuses."""
    import builtins

    e1, s1 = R.pack_dv_entry([1, 2])
    e2, s2 = R.pack_dv_entry([70_000])
    u = uuid.uuid4()
    (tmp_path / f"deletion_vector_{u}.bin").write_bytes(b"\x01" + e1 + e2)
    enc = R.b85_encode(u.bytes)
    dvs = [
        {"storageType": "u", "pathOrInlineDv": enc, "offset": 1,
         "sizeInBytes": s1},
        {"storageType": "u", "pathOrInlineDv": enc, "offset": 1 + len(e1),
         "sizeInBytes": s2},
    ]
    opened = []
    real_open = builtins.open

    def spy(path, *a, **kw):
        opened.append(str(path))
        return real_open(path, *a, **kw)

    monkeypatch.setattr(builtins, "open", spy)
    got = R.read_descriptors(str(tmp_path), dvs)
    assert [a.tolist() for a in got] == [[1, 2], [70_000]]
    assert len(opened) == 1
    monkeypatch.undo()
    with pytest.raises(ValueError, match="dataSize"):
        R.read_descriptor(str(tmp_path), dict(dvs[1], sizeInBytes=s2 + 1))


@pytest.mark.parametrize("start", ["check_and_cdf", "column_mapped"])
def test_first_dv_write_keeps_legacy_implied_features(spark, tmp_path, start):
    """The first deletion-vector write upgrades a legacy protocol to
    (3, 7), and at v7 only LISTED features are active: the upgrade
    must list every feature the legacy versions implied. From (1, 4)
    with a CHECK constraint and the change feed, writerFeatures keeps
    checkConstraints and changeDataFeed (or an external writer would
    stop enforcing the CHECK and writing the feed); from a
    column-mapped (2, 5) table, columnMapping stays in BOTH lists (or
    an external reader would read physical column names)."""
    t = DeltaishTable.create(spark, str(tmp_path / "t"), _orders(spark, 30))
    if start == "check_and_cdf":
        t.add_check_constraint("pos", "o_totalprice > 0")
        t.enable_change_data_feed()
        assert t._snapshot().protocol == {
            "minReaderVersion": 1,
            "minWriterVersion": 4,
        }
    else:
        t.enable_column_mapping()
        t.rename_column("o_totalprice", "price")
        assert t._snapshot().protocol == {
            "minReaderVersion": 2,
            "minWriterVersion": 5,
        }
    keys = sorted(r.o_orderkey for r in t.read().collect())
    t.delete(F.col("o_orderkey") == keys[0], mode="merge_on_read")
    proto = t._snapshot().protocol
    implied = {"appendOnly", "invariants", "checkConstraints",
               "changeDataFeed", "generatedColumns"}
    assert (proto["minReaderVersion"], proto["minWriterVersion"]) == (3, 7)
    if start == "check_and_cdf":
        assert proto["writerFeatures"] == sorted(implied | {"deletionVectors"})
        assert proto["readerFeatures"] == ["deletionVectors"]
        with pytest.raises(ValueError, match="CHECK constraint"):
            t.append(
                _orders(spark, 1).withColumn(
                    "o_totalprice", -F.col("o_totalprice")
                )
            )
    else:
        assert proto["writerFeatures"] == sorted(
            implied | {"columnMapping", "deletionVectors"}
        )
        assert proto["readerFeatures"] == ["columnMapping", "deletionVectors"]
        assert t.read().columns == ["o_orderkey", "price"]
    assert sorted(r.o_orderkey for r in t.read().collect()) == keys[1:]
