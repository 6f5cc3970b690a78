#!/usr/bin/env python3
"""Decompose per-query wall time into plan-construction (the Python/
py4j DataFrame build, ``fn(spark, sf_dir)``) vs execution (``count()``:
analysis + optimization + jobs). Evidence base for the r11 fixed-floor
work (VERDICT r10 next-round item #2: ~0.2-0.3 s/query of floor across
~320 sub-second queries ~= 110 s of the 240 s bench total).

Usage::

    python tools/profile_floor.py [--sf /root/testdata/sf0.1] [names...]

With no names, profiles the full registry once (construction and count
timed separately) and prints a JSON summary: totals, the top-30
construction-heavy and floor-heavy queries.
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
    ap.add_argument("names", nargs="*")
    args = ap.parse_args()

    spark = get_spark("profile_floor")
    spark.sparkContext.setLogLevel("ERROR")
    qs = entrymod.queries()
    warm_up(spark, qs, args.sf)

    names = args.names or list(qs)
    rows = {}
    s0, t0 = steal_jiffies()
    for name in names:
        fn = qs[name]
        tc0 = time.perf_counter()
        df = fn(spark, args.sf)
        tc1 = time.perf_counter()
        df.count()
        tc2 = time.perf_counter()
        rows[name] = (round(tc1 - tc0, 4), round(tc2 - tc1, 4))
        print(
            f"# {name}: build={tc1 - tc0:.3f}s count={tc2 - tc1:.3f}s",
            file=sys.stderr,
        )
    s1, t1 = steal_jiffies()
    build_total = sum(b for b, _ in rows.values())
    count_total = sum(c for _, c in rows.values())
    by_build = sorted(rows.items(), key=lambda kv: -kv[1][0])[:30]
    out = {
        "sf": args.sf,
        "n": len(rows),
        "steal_fraction": round((s1 - s0) / max(t1 - t0, 1), 4),
        "build_total_s": round(build_total, 1),
        "count_total_s": round(count_total, 1),
        "top_build": {k: v for k, v in by_build},
        "all": rows,
    }
    with open(os.path.join(REPO, "floor_profile.json"), "w") as f:
        json.dump(out, f, indent=1)
    del out["all"]
    print(json.dumps(out))


if __name__ == "__main__":
    main()
