"""Per-call scratch state of the pipeline queries.

The ``_ensure_*_replay`` functions treat an EMPTY replay dir as not
built: an older non-atomic build could leave one behind, and serving
it would replay zero rows. The atomic rename replaces an empty dir.

The lifecycle audits leave nothing behind: ``_scratch_dir`` removes
each call's tables however the call ends, the memory-sink views are
dropped, and a drain that times out stops its query."""

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


def test_scratch_dir_removed_on_return_and_raise(tmp_path, monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_SCRATCH", str(tmp_path))
    root = pipeline._replay_dir(SF_DIR, "deltalog")
    with pipeline._scratch_dir(SF_DIR, "t") as d:
        assert os.path.dirname(d) == root
        os.makedirs(os.path.join(d, "_delta_log"))
    assert not os.path.exists(d)
    with pytest.raises(RuntimeError):
        with pipeline._scratch_dir(SF_DIR, "t") as d2:
            os.makedirs(d2)
            raise RuntimeError("body failed")
    assert d2 != d and not os.path.exists(d2)
    assert os.listdir(root) == []


@pytest.mark.parametrize(
    "name", ["deltalog_schema_evolution_audit", "deltalog_clone_divergence"]
)
def test_audit_leaves_deltalog_root_empty(spark, tmp_path, monkeypatch, name):
    monkeypatch.setenv("SPARK_GRAFT_SCRATCH", str(tmp_path))
    assert pipeline.QUERIES[name](spark, SF_DIR).count() > 0
    assert os.listdir(pipeline._replay_dir(SF_DIR, "deltalog")) == []


def test_state_audit_drops_its_memory_sink_view(spark, tmp_path, monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_SCRATCH", str(tmp_path))

    def views():
        return {
            t.name
            for t in spark.catalog.listTables()
            if t.name.startswith("state_audit_")
        }

    before = views()
    for _ in range(2):
        assert pipeline.streaming_state_audit(spark, SF_DIR).count() > 0
    assert views() == before
    assert os.listdir(pipeline._replay_dir(SF_DIR, "deltalog")) == []


class _StuckQuery:
    stopped = False

    def awaitTermination(self, timeout):
        return False

    def stop(self):
        self.stopped = True


def test_drain_timeout_stops_query_and_raises():
    handle = _StuckQuery()
    with pytest.raises(TimeoutError, match="stuck_drain"):
        pipeline._await_drain(handle, "stuck_drain")
    assert handle.stopped


def test_raises_reports_only_the_named_exception():
    def boom(kind):
        raise kind("refused")

    assert pipeline._raises(ValueError, boom, ValueError)
    assert not pipeline._raises(ValueError, lambda: None)
    with pytest.raises(KeyError):
        pipeline._raises(ValueError, boom, kind=KeyError)
