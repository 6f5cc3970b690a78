"""r11 (VERDICT r10 #3): the fanout round-robin must fire only when
the backing parquet scan is effectively serial (fewer row groups than
cores). Single-row-group fixture -> RoundRobinPartitioning present;
many-row-group input -> no repartition node at all."""

from __future__ import annotations

import os

from lakehouse_for_data_streaming_and_analysis_spark.catalog import (
    _scan_row_groups,
    load_table,
    table_rows,
)

from .conftest import SF_DIR


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_fixture_single_row_group_still_fans_out(spark):
    # the driver fixtures are single-row-group files: the gate must
    # keep the round-robin exchange (the r10 measured 7x win)
    path = os.path.join(SF_DIR, "documents.parquet")
    assert _scan_row_groups(path) < spark.sparkContext.defaultParallelism
    df = load_table(spark, SF_DIR, "documents", fanout=True)
    assert "RoundRobinPartitioning" in _plan(df)


def test_wide_scan_skips_fanout(spark, tmp_path):
    par = spark.sparkContext.defaultParallelism
    sf_dir = str(tmp_path)
    dest = os.path.join(sf_dir, "documents.parquet")
    # one row group per part file -> row groups >= parallelism
    src = load_table(spark, SF_DIR, "documents")
    src.repartition(par).write.mode("overwrite").parquet(dest)
    assert _scan_row_groups(dest) >= par
    df = load_table(spark, sf_dir, "documents", fanout=True)
    plan = _plan(df)
    assert "RoundRobinPartitioning" not in plan
    assert "Exchange" not in plan
    # gated and ungated forms read identical rows
    assert df.count() == src.count()


def _pyarrow_footers(path: str) -> tuple[int, int]:
    import pyarrow.parquet as pq

    files = [path]
    if os.path.isdir(path):
        files = [
            os.path.join(root, f)
            for root, _, names in os.walk(path)
            for f in names
            if f.endswith(".parquet")
        ]
    mds = [pq.ParquetFile(f).metadata for f in files]
    return sum(m.num_row_groups for m in mds), sum(m.num_rows for m in mds)


def test_row_group_count_matches_pyarrow(spark, tmp_path):
    import pyarrow.parquet as pq

    nation = load_table(spark, SF_DIR, "nation")

    def check(sf_dir: str) -> None:
        dest = os.path.join(sf_dir, "nation.parquet")
        groups, rows = _pyarrow_footers(dest)
        assert _scan_row_groups(dest) == groups
        assert table_rows(sf_dir, "nation") == rows

    # flat directory of part files
    flat = str(tmp_path / "flat")
    nation.repartition(3).write.parquet(os.path.join(flat, "nation.parquet"))
    check(flat)

    # hive-partitioned nested layout: the data files sit one level down
    nested = str(tmp_path / "nested")
    nation.write.partitionBy("n_regionkey").parquet(
        os.path.join(nested, "nation.parquet")
    )
    assert _pyarrow_footers(os.path.join(nested, "nation.parquet"))[1] == 25
    check(nested)

    # one file rewritten in place: the cached footer must not be served
    single = str(tmp_path / "single")
    os.makedirs(single)
    path = os.path.join(single, "nation.parquet")
    tbl = pq.read_table(os.path.join(SF_DIR, "nation.parquet"))
    pq.write_table(tbl, path, row_group_size=5)
    check(single)
    pq.write_table(tbl.slice(0, 10), path, row_group_size=10)
    assert _pyarrow_footers(path) == (1, 10)
    check(single)
