"""The one query registry.

Every ``queries.<module>`` takes its registry from one factory::

    QUERIES, ORACLES, q = registry.module()

    @q("daily_ohlcv", oracle="SELECT ...", shuffle=2)
    def daily_ohlcv(spark, sf_dir): ...

``@q(name, oracle=..., shuffle=...)`` carries a query's policy as data:

- ``oracle``: its DuckDB SQL, or a zero-argument callable for a
  fixture-bound oracle whose literals are derived from the fixture when
  ``oracle_sql`` runs (a callable returning ``None`` is omitted);
- ``shuffle``: ``spark.sql.shuffle.partitions`` pinned while the query
  is built, as an int or a ``(spark, sf_dir) -> int`` sizing rule.

``__spark_entry__`` merges the modules' registries with ``merge`` and
``oracle_sql``. This module holds no ``QUERIES``/``ORACLES`` of its
own: tooling finds the query modules by those names.
"""

from __future__ import annotations

import functools
import os
from collections.abc import Callable, Iterable
from contextlib import contextmanager
from typing import NamedTuple

from pyspark.sql import DataFrame, SparkSession

Query = Callable[[SparkSession, str], DataFrame]


@contextmanager
def pinned_shuffle(spark, n: int | str = 2):
    """Pin shuffle/state partitions for a bench-scale run.
    Stateful operators open one state store per shuffle partition per
    micro-batch; at this volume 32 stores are pure fixed cost. Sized
    up, this is the knob that matches state-partition count to
    executor count. $SPARK_GRAFT_STREAM_PARTS overrides every pin — the
    sweep knob tools/scaling_streams.py uses to show throughput vs
    state-partition count.

    r10 OPT: default 4 -> 2 (measured sweep at sf0.1, steal-bracketed:
    the stream-stream joins open 4 state stores per partition per
    micro-batch, and halving the partitions cut the attribution joins
    ~4.9 -> ~3.5 s with every other drain neutral; parts=1 was worse —
    the data batches lose their remaining parallelism). Production
    sizes this UP with executor count via the env knob; outputs are
    partition-count-independent (append-mode joins/aggregates)."""
    n = os.environ.get("SPARK_GRAFT_STREAM_PARTS", str(n))
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", n)
    try:
        yield
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)


def _pinned(fn: Query, shuffle: int | Callable[[SparkSession, str], int]) -> Query:
    @functools.wraps(fn)
    def wrapped(spark, sf_dir):
        n = shuffle(spark, sf_dir) if callable(shuffle) else shuffle
        with pinned_shuffle(spark, n):
            return fn(spark, sf_dir)

    return wrapped


class Registry(NamedTuple):
    QUERIES: dict[str, Query]
    ORACLES: dict[str, str]
    q: Callable


def module() -> Registry:
    """A fresh registry for one query module. ``q.deferred`` holds the
    callable oracles, which stay out of ``ORACLES`` until resolved."""
    queries: dict[str, Query] = {}
    oracles: dict[str, str] = {}
    deferred: dict[str, Callable[[], str | None]] = {}

    def q(name: str, oracle=None, shuffle=None):
        def deco(fn):
            if name in queries:
                raise ValueError(f"query {name!r} is already registered")
            queries[name] = fn if shuffle is None else _pinned(fn, shuffle)
            if callable(oracle):
                deferred[name] = oracle
            elif oracle is not None:
                oracles[name] = oracle
            return fn

        return deco

    q.deferred = deferred
    return Registry(queries, oracles, q)


def merge(modules: Iterable) -> dict[str, Query]:
    """Every module's ``QUERIES`` in module order; a name registered by
    two modules raises."""
    out: dict[str, Query] = {}
    for m in modules:
        for name, fn in m.QUERIES.items():
            if name in out:
                raise ValueError(f"query {name!r} is registered twice")
            out[name] = fn
    return out


def oracle_sql(modules: Iterable) -> dict[str, str]:
    """Every module's static ``ORACLES`` plus its callable oracles,
    resolved now."""
    out: dict[str, str] = {}
    for m in modules:
        out.update(m.ORACLES)
        for name, fn in m.q.deferred.items():
            sql = fn()
            if sql is not None:
                out[name] = sql
    return out
