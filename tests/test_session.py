"""Session factory: the driver-heap default scales to detected host
RAM (min(24g, half of physical memory), floor 2g) so the suite is
portable off large-memory hosts, and the env override always wins.
A stopped session leaves nothing behind in the catalog's
DataFrame-handle cache."""

from __future__ import annotations

import os
import subprocess
import sys

from lakehouse_for_data_streaming_and_analysis_spark import session

from .conftest import SF_DIR


def _with_phys_gib(monkeypatch, gib: float) -> str:
    page = 4096
    monkeypatch.setattr(
        os,
        "sysconf",
        lambda name: page
        if name == "SC_PAGE_SIZE"
        else int(gib * (1 << 30) / page),
    )
    return session._default_driver_mem()


def test_driver_mem_caps_at_24g_on_large_hosts(monkeypatch):
    assert _with_phys_gib(monkeypatch, 128) == "24g"
    assert _with_phys_gib(monkeypatch, 48) == "24g"


def test_driver_mem_halves_on_small_hosts(monkeypatch):
    assert _with_phys_gib(monkeypatch, 16) == "8g"
    assert _with_phys_gib(monkeypatch, 8) == "4g"


def test_driver_mem_floors_at_2g(monkeypatch):
    assert _with_phys_gib(monkeypatch, 3) == "2g"
    assert _with_phys_gib(monkeypatch, 0.5) == "2g"


def test_driver_mem_fallback_when_undetectable(monkeypatch):
    def boom(name):
        raise OSError("no sysconf")

    monkeypatch.setattr(os, "sysconf", boom)
    assert session._default_driver_mem() == "8g"


def test_env_override_wins(monkeypatch, spark):
    """The live session (conftest) was built through get_spark; its
    driver memory must equal what the factory computed — either the
    env override (if the harness set one) or the RAM-derived default."""
    want = os.environ.get(
        "SPARK_GRAFT_DRIVER_MEM", session._default_driver_mem()
    )
    assert spark.conf.get("spark.driver.memory") == want


def test_df_cache_drops_stopped_sessions():
    """The DataFrame-handle cache must not pin a stopped session. Run in
    a child process: stopping the suite's shared session would break
    every later test."""
    code = (
        "from lakehouse_for_data_streaming_and_analysis_spark import catalog\n"
        "from lakehouse_for_data_streaming_and_analysis_spark.session import get_spark\n"
        "s1 = get_spark('df_cache_a', master='local[1]')\n"
        f"catalog.load_table(s1, {SF_DIR!r}, 'nation')\n"
        "s1.stop()\n"
        "s2 = get_spark('df_cache_b', master='local[1]')\n"
        f"catalog.load_table(s2, {SF_DIR!r}, 'nation')\n"
        "held = {k[0] for k in catalog._DF_CACHE}\n"
        "assert held == {s2}, held\n"
    )
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    proc = subprocess.run(
        [sys.executable, "-c", code],
        cwd=repo,
        capture_output=True,
        text=True,
        timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
