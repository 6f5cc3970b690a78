"""The one query registry (queries/registry.py): duplicate names
raise, ``shuffle=`` pins and restores the session conf, callable
oracles resolve at ``oracle_sql`` time, and ``catalog.partitions_for``
keeps the widths the graph and classifier queries were measured at."""

from __future__ import annotations

import pytest

import __spark_entry__ as entrymod
from lakehouse_for_data_streaming_and_analysis_spark.catalog import partitions_for
from lakehouse_for_data_streaming_and_analysis_spark.queries import olap, registry

from .conftest import SF_DIR, SF_DIR_01

_KEY = "spark.sql.shuffle.partitions"


def _noop(spark, sf_dir):
    return None


def test_duplicate_name_raises():
    _, _, q = registry.module()
    q("dup_query")(_noop)
    with pytest.raises(ValueError, match="dup_query"):
        q("dup_query")(_noop)


def test_duplicate_across_modules_raises():
    a, b = registry.module(), registry.module()
    a.q("shared_name")(_noop)
    b.q("shared_name")(_noop)
    with pytest.raises(ValueError, match="shared_name"):
        registry.merge((a, b))
    c = registry.module()
    c.q("token_counts")(_noop)
    with pytest.raises(ValueError, match="token_counts"):
        registry.merge((*entrymod.MODULES, c))


def test_shuffle_pin_restored_after_return_and_raise(spark, monkeypatch):
    monkeypatch.delenv("SPARK_GRAFT_STREAM_PARTS", raising=False)
    queries, _, q = registry.module()
    seen = []

    @q("pinned_returns", shuffle=3)
    def returns(spark, sf_dir):
        """Doc kept by the wrapper."""
        seen.append(spark.conf.get(_KEY))

    @q("pinned_raises", shuffle=lambda spark, sf_dir: 5)
    def raises(spark, sf_dir):
        seen.append(spark.conf.get(_KEY))
        raise RuntimeError("boom")

    before = spark.conf.get(_KEY)
    queries["pinned_returns"](spark, SF_DIR)
    assert spark.conf.get(_KEY) == before
    with pytest.raises(RuntimeError):
        queries["pinned_raises"](spark, SF_DIR)
    assert spark.conf.get(_KEY) == before
    assert seen == ["3", "5"]
    # the wrapper keeps the identity tooling reads; the module name
    # still binds the undecorated function
    wrapped = queries["pinned_returns"]
    assert wrapped.__wrapped__ is returns
    assert wrapped.__module__ == returns.__module__
    assert wrapped.__doc__ == "Doc kept by the wrapper."


def test_stream_parts_env_overrides_every_pin(spark, monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_STREAM_PARTS", "7")
    queries, _, q = registry.module()
    seen = []
    q("pinned_env", shuffle=3)(lambda spark, sf_dir: seen.append(spark.conf.get(_KEY)))
    queries["pinned_env"](spark, SF_DIR)
    assert seen == ["7"]


def test_callable_oracle_resolved_or_omitted():
    reg = registry.module()
    reg.q("static", oracle="SELECT 1")(_noop)
    reg.q("deferred", oracle=lambda: "SELECT 2")(_noop)
    reg.q("opted_out", oracle=lambda: None)(_noop)
    assert reg.ORACLES == {"static": "SELECT 1"}
    assert registry.oracle_sql((reg,)) == {"static": "SELECT 1", "deferred": "SELECT 2"}


def test_shuffle_pinned_queries():
    pinned = {n for n, fn in entrymod.queries().items() if hasattr(fn, "__wrapped__")}
    assert len(pinned) == 40
    assert {n for n in pinned if not n.startswith(("deltalog_", "cdf_"))} == {
        "pagerank_user_influence",
        "label_propagation_rounds",
        "dedup_components",
        "neardup_canonical_selection",
    }
    assert entrymod.queries()["pagerank_user_influence"].__wrapped__ is (
        olap.pagerank_user_influence
    )


def test_partitions_for_keeps_measured_widths(spark):
    # graph rounds: ~16 B/row, floor 4; classifier checkpoint: ~48 B/row, floor 1
    assert partitions_for(spark, SF_DIR_01, "events", 16, 4) == 4
    assert partitions_for(spark, SF_DIR_01, "documents", 48, 1) == 1
    # the cap: a huge per-row size saturates at 2x cores
    par = spark.sparkContext.defaultParallelism
    assert partitions_for(spark, SF_DIR_01, "events", 1 << 40, 1) == 2 * par
