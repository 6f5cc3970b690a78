"""The ``_ensure_*_replay`` functions treat an EMPTY replay dir as not
built: an older non-atomic build could leave one behind, and serving
it would replay zero rows. The atomic rename replaces an empty dir."""

from __future__ import annotations

import os

import pytest

from lakehouse_for_data_streaming_and_analysis_spark.queries import pipeline

from .conftest import SF_DIR


@pytest.mark.parametrize(
    "tag, build",
    [
        ("bronze", pipeline._ensure_bronze_replay),
        ("attr", pipeline._ensure_attr_replay),
        ("dedup", pipeline._ensure_dedup_replay),
        ("outerattr3", pipeline._ensure_outer_attr_replay),
    ],
)
def test_empty_replay_dir_is_rebuilt(spark, tmp_path, monkeypatch, tag, build):
    monkeypatch.setenv("SPARK_GRAFT_SCRATCH", str(tmp_path))
    replay_dir = pipeline._replay_dir(SF_DIR, tag)
    os.makedirs(replay_dir)
    assert build(spark, SF_DIR) == replay_dir
    parts = [f for f in os.listdir(replay_dir) if f.endswith(".parquet")]
    assert parts, os.listdir(replay_dir)
    # no tmp sibling survives the build
    assert os.listdir(tmp_path) == [os.path.basename(replay_dir)]
