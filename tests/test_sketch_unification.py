"""Accuracy gates for the unified sketch operators (VERDICT r7 ask #6).

Each sketch in ``operators/sketches.py`` runs against its ``exact=``
twin on the driver fixture and must meet its PUBLISHED error bound —
the one-line-swap contract: same call, same output schema, bounded
error. Also pins the mergeability algebra (sketch-per-slice then merge
== one-shot sketch, exactly) that makes these the 100 TB path.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from lakehouse_for_data_streaming_and_analysis_spark.catalog import load_table
from lakehouse_for_data_streaming_and_analysis_spark.operators import sketches as sk


@pytest.fixture(scope="module")
def events(spark, sf_dir):
    return load_table(spark, sf_dir, "events")


def _by_key(df, *cols):
    return {
        tuple(r[c] for c in cols[:-1]): r[cols[-1]] for r in df.collect()
    }


def test_quantiles_schema_identical_and_error_bounded(events):
    qs = [0.5, 0.9, 0.99]
    approx = sk.quantiles(events, ["event_type"], "value", qs)
    exact = sk.quantiles(events, ["event_type"], "value", qs, exact=True)
    assert approx.columns == exact.columns == ["event_type", "q", "value"]
    a = _by_key(approx, "event_type", "q", "value")
    e = _by_key(exact, "event_type", "q", "value")
    assert set(a) == set(e) and len(a) == 5 * len(qs)
    for key, est in a.items():
        want = e[key]
        # DDSketch guarantee: within alpha of a value AT THE RANK; vs
        # the interpolated exact percentile allow 2*alpha + the local
        # gap — 2*alpha covers it on this data
        assert abs(est - want) / want <= 2 * sk.ALPHA, (key, est, want)


def test_ddsketch_merge_equals_oneshot(events):
    """Sketch-per-day then merge must equal the one-shot sketch
    EXACTLY (bucket-count addition is associative) — the per-slice →
    union topology that makes the sketch the scale path."""
    d = F.to_date("ts")
    s1 = sk.dd_state(events.filter(F.dayofmonth(d) % 2 == 0), ["event_type"], "value")
    s2 = sk.dd_state(events.filter(F.dayofmonth(d) % 2 == 1), ["event_type"], "value")
    merged = sk.dd_merge(s1, s2)
    oneshot = sk.dd_state(events, ["event_type"], "value")
    assert sorted(map(tuple, merged.collect())) == sorted(
        map(tuple, oneshot.collect())
    )


def test_distinct_count_schema_identical_and_error_bounded(events):
    approx = sk.distinct_count(events, ["event_type"], "user_id")
    exact = sk.distinct_count(events, ["event_type"], "user_id", exact=True)
    assert approx.columns == exact.columns == ["event_type", "est_distinct"]
    a = _by_key(approx, "event_type", "est_distinct")
    e = _by_key(exact, "event_type", "est_distinct")
    assert set(a) == set(e)
    bound = 3 * 1.04 / sk.HLL_M**0.5  # 3 standard errors
    for key, est in a.items():
        assert abs(est - e[key]) / e[key] <= bound, (key, est, e[key])


def test_hll_merge_equals_oneshot(events):
    """Register-max is associative: daily register tables merged must
    estimate IDENTICALLY to the one-shot registers."""
    d = F.to_date("ts")
    s1 = sk.hll_state(events.filter(F.dayofmonth(d) % 2 == 0), ["event_type"], "user_id")
    s2 = sk.hll_state(events.filter(F.dayofmonth(d) % 2 == 1), ["event_type"], "user_id")
    merged = sk.hll_estimate(sk.hll_merge(s1, s2), ["event_type"])
    oneshot = sk.hll_estimate(
        sk.hll_state(events, ["event_type"], "user_id"), ["event_type"]
    )
    assert _by_key(merged, "event_type", "est_distinct") == _by_key(
        oneshot, "event_type", "est_distinct"
    )


def test_heavy_hitters_schema_identical_and_error_bounded(events):
    exact = sk.heavy_hitters(events, "user_id", k=10, exact=True)
    # probe the exact top keys through the sketch: count-min may only
    # OVERcount, by at most 3N/w in the worst row (d=3 rows take min)
    n = events.count()
    est = sk.cm_estimate(
        sk.cm_state(events, "user_id"),
        exact.select("user_id"),
        "user_id",
    )
    assert est.columns == ["user_id", "est_count"]
    truth = _by_key(exact, "user_id", "est_count")
    got = _by_key(est, "user_id", "est_count")
    assert set(got) == set(truth)
    for key, c in got.items():
        assert c >= truth[key], ("undercount", key)
        assert c - truth[key] <= 3 * n / sk.CM_W, ("overcount", key)
    # the default candidate heuristic (per-partition local top-4k)
    # keeps the same schema
    approx = sk.heavy_hitters(events, "user_id", k=10)
    assert approx.columns == exact.columns == ["user_id", "est_count"]


def test_heavy_hitters_default_candidates_recover_true_heavies(events):
    """The fixture's keys are near-uniform — top-10 among ~equal
    counts is not a heavy-hitter problem, and NO bounded-candidate
    scheme can rank near-ties under count-min's overcount. The
    heuristic's contract is about GENUINE heavy hitters (frequency
    ≫ n/#keys), so inject two: ~20 % of rows onto key -1 and ~11 %
    onto key -2 — the default per-partition-top-4k path must surface
    both, in order."""
    from pyspark.sql import functions as F

    skewed = events.withColumn(
        "user_id",
        F.when(F.col("event_id") % 5 == 0, F.lit(-1))
        .when(F.col("event_id") % 7 == 0, F.lit(-2))
        .otherwise(F.col("user_id")),
    )
    top = [r["user_id"] for r in sk.heavy_hitters(skewed, "user_id", k=10).collect()]
    assert top[0] == -1 and top[1] == -2, top


def test_cm_merge_equals_oneshot(events):
    """Cell-wise addition is associative: per-slice CM tables merged
    must equal the one-shot table cell-for-cell."""
    s1 = sk.cm_state(events.filter(F.col("event_id") % 2 == 0), "user_id")
    s2 = sk.cm_state(events.filter(F.col("event_id") % 2 == 1), "user_id")
    merged = sk.cm_merge(s1, s2)
    oneshot = sk.cm_state(events, "user_id")
    assert sorted(map(tuple, merged.collect())) == sorted(
        map(tuple, oneshot.collect())
    )


def test_sketch_counts_are_zero_on_empty_input(spark, events, tmp_path):
    """The sketch queries read their row counts from the sketch's own
    per-key total; on an empty events table the global gap sketch
    reports n_gaps = 0 (not NULL), and the per-type sketch has no
    rows."""
    from lakehouse_for_data_streaming_and_analysis_spark.queries import (
        sketches as qs,
    )

    events.limit(0).write.parquet(str(tmp_path / "events.parquet"))
    gaps = qs.inter_event_gap_sketch_quantiles(spark, str(tmp_path)).collect()
    assert [r.n_gaps for r in gaps] == [0]
    assert qs.ddsketch_quantiles_gate(spark, str(tmp_path)).collect() == []
