"""M1/M3 maintenance on a Deltaish table fragmented like a streaming
sink's output: OPTIMIZE bin-packs without losing rows, Z-ORDER tightens
the per-file stats on every z-column (SURVEY.md §2.11)."""

from __future__ import annotations

import json

from lakehouse_for_data_streaming_and_analysis_spark.catalog import load_table
from lakehouse_for_data_streaming_and_analysis_spark.delta import DeltaishTable

from .conftest import SF_DIR_01


def _table(spark, tmp_path, n_parts=24) -> DeltaishTable:
    li = load_table(spark, SF_DIR_01, "lineitem").select(
        "l_orderkey", "l_partkey", "l_quantity"
    )
    # fragment like a streaming sink would: many small files, random order
    return DeltaishTable.create(
        spark, str(tmp_path / "li"), li.repartition(n_parts)
    )


def _file_stats(t: DeltaishTable) -> list[dict]:
    return [json.loads(a["stats"]) for a in t._snapshot().files.values()]


def test_compact_binpacks_and_preserves_rows(spark, tmp_path):
    t = _table(spark, tmp_path)
    before = t.read().count()
    assert len(t._snapshot().files) == 24
    t.optimize(target_bytes=64 * 1024 * 1024)
    assert len(t._snapshot().files) < 24
    assert t.read().count() == before
    assert sum(s["numRecords"] for s in _file_stats(t)) == before


def test_zorder_tightens_file_stats(spark, tmp_path):
    t = _table(spark, tmp_path)
    cols = ["l_orderkey", "l_partkey"]
    base = _file_stats(t)
    t.zorder_by(cols, n_files=16)
    z = _file_stats(t)

    def med_span(stats, col):
        spans = sorted(
            s["maxValues"][col] - s["minValues"][col] for s in stats
        )
        return spans[len(spans) // 2]

    # randomly-laid-out files each span ~the whole key domain; the
    # TYPICAL z-ordered file must be much narrower on BOTH interleaved
    # columns (median, because the occasional file crossing a major
    # z-curve bit boundary legitimately spans wide)
    for c in cols:
        assert med_span(z, c) < 0.5 * med_span(base, c)
    # still the same rows
    assert t.read().count() == sum(s["numRecords"] for s in base)
