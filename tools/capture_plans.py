#!/usr/bin/env python3
"""Capture .explain('formatted') output for named queries.

Usage::

    python tools/capture_plans.py before name1 name2 ...
    python tools/capture_plans.py after  name1 name2 ...

Writes ``plans/<round>/<name>_<tag>.txt``, the round from
SPARK_GRAFT_PLAN_ROUND (default r11). Queries that execute work at
build time (streaming drains, in-query table lifecycles) still produce
a plan — it is the plan of the RETURNED frame; for those the round
notes document the lifecycle cost separately.

SPARK_GRAFT_PLAN_SF_DIR picks the fixture (default sf0.1 — the bench
scale, so AQE/broadcast thresholds see bench-sized stats).
"""

from __future__ import annotations

import io
import os
import sys
from contextlib import redirect_stdout

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

import __spark_entry__ as entrymod  # noqa: E402
from lakehouse_for_data_streaming_and_analysis_spark.session import get_spark  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_PLAN_SF_DIR", "/root/testdata/sf0.1")
OUT_DIR = os.path.join(
    REPO, "plans", os.environ.get("SPARK_GRAFT_PLAN_ROUND", "r11")
)


def main() -> None:
    tag = sys.argv[1]
    names = sys.argv[2:]
    assert tag in ("before", "after"), "tag must be before|after"
    os.makedirs(OUT_DIR, exist_ok=True)
    spark = get_spark("plan_capture")
    spark.sparkContext.setLogLevel("ERROR")
    qs = entrymod.queries()
    for name in names:
        fn = qs[name]
        df = fn(spark, SF_DIR)
        buf = io.StringIO()
        with redirect_stdout(buf):
            df.explain("formatted")
        path = os.path.join(OUT_DIR, f"{name}_{tag}.txt")
        with open(path, "w") as f:
            f.write(f"# {name} [{tag}] sf_dir={SF_DIR}\n")
            f.write(buf.getvalue())
        print(f"wrote {path}")


if __name__ == "__main__":
    main()
