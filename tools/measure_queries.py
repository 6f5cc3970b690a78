#!/usr/bin/env python3
"""Targeted per-query wall measurement with steal bracketing.

Usage::

    python tools/measure_queries.py [--sf /root/testdata/sf0.1]
        [--reps 3] name1 name2 ...

Runs each named query ``reps`` times (first run reported separately as
cold), printing per-rep wall seconds plus the /proc/stat steal fraction
observed across the whole measurement — a run bracketed by >5 % steal
is noise, re-run it. Used for the r10 before/after evidence: the same
command is run from the baseline checkout and the optimization
worktree back-to-back on the same host.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

import __spark_entry__ as entrymod  # noqa: E402
from bench import steal_jiffies, warm_up  # noqa: E402
from lakehouse_for_data_streaming_and_analysis_spark.session import get_spark  # noqa: E402


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default="/root/testdata/sf0.1")
    ap.add_argument("--reps", type=int, default=3)
    ap.add_argument("names", nargs="+")
    args = ap.parse_args()

    spark = get_spark("measure")
    spark.sparkContext.setLogLevel("ERROR")
    qs = entrymod.queries()
    warm_up(spark, qs, args.sf)

    out = {}
    s0, t0 = steal_jiffies()
    for name in args.names:
        fn = qs[name]
        walls = []
        for _ in range(args.reps):
            t = time.perf_counter()
            fn(spark, args.sf).count()
            walls.append(round(time.perf_counter() - t, 3))
        out[name] = walls
        print(f"# {name}: {walls}", file=sys.stderr)
    s1, t1 = steal_jiffies()
    print(
        json.dumps(
            {
                "repo": REPO,
                "sf": args.sf,
                "steal_fraction": round((s1 - s0) / max(t1 - t0, 1), 4),
                "walls": out,
            }
        )
    )


if __name__ == "__main__":
    main()
