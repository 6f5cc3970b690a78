"""Smoke + oracle tests for the driver contract (__spark_entry__)."""

from __future__ import annotations

import pytest

import __spark_entry__ as entrymod

from .util import assert_matches_oracle

QUERY_NAMES = sorted(entrymod.queries().keys())


def test_entry_smoke(spark):
    df = entrymod.entry(spark)
    rows = df.collect()
    assert len(rows) > 0
    assert df.columns == [
        "nation",
        "region",
        "month",
        "revenue",
        "max_order_value",
        "n_lineitems",
    ]


@pytest.fixture(scope="module")
def oracles() -> dict[str, str]:
    # computed once: the fixture-bound oracles refit their models on
    # every oracle_sql() call
    return entrymod.oracle_sql()


@pytest.mark.parametrize("name", QUERY_NAMES)
def test_query_matches_oracle(spark, duck, sf_dir, oracles, name):
    fn = entrymod.queries()[name]
    df = fn(spark, sf_dir)
    if name in oracles:
        assert_matches_oracle(df, duck, oracles[name])
    else:
        assert df.count() >= 0


def test_every_query_has_oracle_or_is_flagged():
    """Every queries() entry should carry an oracle unless explicitly
    non-SQL-expressible (driver then records a weaker rows-only check)."""
    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    missing = sorted(set(qs) - set(oracles))
    allowed_rows_only = set(getattr(entrymod, "ROWS_ONLY", ()))
    assert set(missing) <= allowed_rows_only, missing


def test_queries_md_in_sync(tmp_path):
    """QUERIES.md is generated from the live registry and must not
    drift from it."""
    from lakehouse_for_data_streaming_and_analysis_spark import inventory

    generated = inventory.generate(str(tmp_path / "QUERIES.md"))
    with open("/root/repo/QUERIES.md") as f:
        committed = f.read()
    assert generated == committed, "run python -m lakehouse_for_data_streaming_and_analysis_spark.inventory"


def test_driver_sim_crashes_on_list_typed_outputs():
    """Sim-fidelity pin (r4 lesson): the driver canonicalizes with
    pandas sort_values over RAW columns, which raises on list cells.
    ``tools.driver_sim._frame_key`` must reproduce that crash so
    array/map/struct output columns fail the pre-flight instead of
    burning a driver window slot (``user_event_profile``, r4)."""
    import pandas as pd
    import pytest as _pytest

    from tools.driver_sim import _frame_key

    scalar = pd.DataFrame({"a": [2, 1], "b": ["y", "x"]})
    cols, rows = _frame_key(scalar)
    assert cols == ("a", "b")
    assert rows == sorted(rows)

    listy = pd.DataFrame({"a": [1, 2], "arr": [["x"], ["y", "z"]]})
    with _pytest.raises(TypeError):
        _frame_key(listy)


def test_staleness_rotation_structure():
    """VERDICT r8 ask #1: the rotation tool ranks greens by code churn
    since their most recent green row, and fills spare window slots
    stalest-first after failed + never-checked names. Structural
    properties only (contents shift every round by design): ranking is
    non-increasing in churn, every ranked name is a registry query,
    zero-churn greens never enter the window, and the window caps at
    50 with never-checked names ahead of stale re-verifies."""
    import __spark_entry__ as m
    from tools.rotate_window import WINDOW, compute, staleness

    qs = m.queries()
    scored = staleness(qs)
    assert scored, "no greens scored — artifact or git parsing broke"
    churns = [c for _, c, _ in scored]
    assert churns == sorted(churns, reverse=True)
    assert all(name in qs for name, _, _ in scored)

    import glob

    latest = sorted(glob.glob("CORRECTNESS_r*.json"))[-1]
    _green, window, failed = compute(latest)
    assert len(window) <= WINDOW
    assert not failed, f"failed rows should re-enter the window head: {failed}"
    stale_ranks = {name: churn for name, churn, _ in scored}
    in_window_stale = [n for n in window if n in stale_ranks]
    assert all(stale_ranks[n] > 0 for n in in_window_stale)
    # never-checked names (no green row yet) must precede stale greens
    never = [n for n in window if n not in stale_ranks]
    if never and in_window_stale:
        assert window.index(never[-1]) < window.index(in_window_stale[0])
