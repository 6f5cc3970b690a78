#!/usr/bin/env python3
"""Streaming throughput scaling table: the real-StreamingQuery runs
(bronze window agg, dedup-within-watermark, session windows, the two
stream-stream interval joins) replayed at sf0.001 -> sf0.1 (+ sf1 if
``tools/make_sf.py`` was run), with the metrics a capacity plan needs:

- wall seconds and input events/sec (end-to-end, incl. trigger setup)
- total input rows across micro-batches (from query progress)
- max state-store rows in any batch (bounded-by-watermark evidence)
- mean/max micro-batch commit duration (latency flatness evidence)

A StreamingQueryListener captures every progress event; the queries
themselves are the registry entries, unmodified. A second section
re-runs the inner attribution join at sf0.1 under 1/4/16 shuffle
partitions to show throughput scaling with the state-partition count
(the knob a real deployment sets to cluster width).

Usage::

    python tools/scaling_streams.py            # markdown to stdout
"""

from __future__ import annotations

import json
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from pyspark.sql.streaming import StreamingQueryListener  # noqa: E402

import __spark_entry__ as entrymod  # noqa: E402
from lakehouse_for_data_streaming_and_analysis_spark.session import get_spark  # noqa: E402

STREAM_QUERIES = (
    "streaming_bronze_final_state",
    "streaming_dedup_final_state",
    "streaming_session_final_state",
    "stream_stream_attribution_join",
    "stream_stream_outer_attribution",
    "stream_stream_full_outer_attribution",
)

SCALES = (
    ("sf0.001", "/root/testdata/sf0.001"),
    ("sf0.01", "/root/testdata/sf0.01"),
    ("sf0.1", "/root/testdata/sf0.1"),
    ("sf1", os.path.join(REPO, ".scratch", "sf1")),
)


class _Capture(StreamingQueryListener):
    def __init__(self):
        self.progress: list[dict] = []

    def onQueryStarted(self, event):  # noqa: N802
        pass

    def onQueryProgress(self, event):  # noqa: N802
        try:
            self.progress.append(json.loads(event.progress.json))
        except Exception:  # noqa: BLE001 - metrics only, never fail a run
            pass

    def onQueryIdle(self, event):  # noqa: N802
        pass

    def onQueryTerminated(self, event):  # noqa: N802
        pass


def _summarize(progress: list[dict]) -> dict:
    rows = sum(int(p.get("numInputRows") or 0) for p in progress)
    batch_ms = [
        int((p.get("durationMs") or {}).get("triggerExecution") or 0)
        for p in progress
    ]
    state_rows = [
        int(s.get("numRowsTotal") or 0)
        for p in progress
        for s in (p.get("stateOperators") or [])
    ]
    return {
        "n_batches": len(progress),
        "input_rows": rows,
        "max_state_rows": max(state_rows) if state_rows else 0,
        "mean_batch_ms": (
            round(sum(batch_ms) / len(batch_ms)) if batch_ms else 0
        ),
        "max_batch_ms": max(batch_ms) if batch_ms else 0,
    }


def main() -> None:
    spark = get_spark("scaling_streams")
    spark.sparkContext.setLogLevel("ERROR")
    cap = _Capture()
    spark.streams.addListener(cap)
    qs = entrymod.queries()
    scales = [(n, d) for n, d in SCALES if os.path.isdir(d)]

    from lakehouse_for_data_streaming_and_analysis_spark.queries.pipeline import (
        ensure_replay_dirs,
    )

    for _, sf_dir in scales:
        ensure_replay_dirs(spark, sf_dir)
    # warm JVM/codegen once at the smallest scale (not timed)
    for name in STREAM_QUERIES:
        qs[name](spark, scales[0][1]).count()

    out: list[dict] = []
    print("## Streaming throughput scaling\n")
    print(
        "| query | scale | wall s | events/s | batches | "
        "max state rows | mean batch ms | max batch ms |"
    )
    print("|---|---|---|---|---|---|---|---|")
    for sf_name, sf_dir in scales:
        for name in STREAM_QUERIES:
            cap.progress.clear()
            t0 = time.monotonic()
            qs[name](spark, sf_dir).count()
            wall = time.monotonic() - t0
            s = _summarize(cap.progress)
            eps = round(s["input_rows"] / wall) if wall > 0 else 0
            print(
                f"| {name} | {sf_name} | {wall:.2f} | {eps} | "
                f"{s['n_batches']} | {s['max_state_rows']} | "
                f"{s['mean_batch_ms']} | {s['max_batch_ms']} |"
            )
            out.append({"query": name, "sf": sf_name, "wall": wall, **s})

    # throughput vs state-partition count: the inner attribution join
    # re-run at the largest available scale under 1/4/16 partitions
    sf_name, sf_dir = scales[-1]
    print("\n## Stream-stream join: shuffle/state partitions sweep "
          f"({sf_name})\n")
    print("| partitions | wall s | events/s | max state rows |")
    print("|---|---|---|---|")
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    name = "stream_stream_attribution_join"
    for parts in ("1", "4", "16"):
        spark.conf.set("spark.sql.shuffle.partitions", parts)
        # the query pins its own shuffle conf (registry.pinned_shuffle);
        # sweep by overriding the pin target via env knob instead
        os.environ["SPARK_GRAFT_STREAM_PARTS"] = parts
        cap.progress.clear()
        t0 = time.monotonic()
        qs[name](spark, sf_dir).count()
        wall = time.monotonic() - t0
        s = _summarize(cap.progress)
        eps = round(s["input_rows"] / wall) if wall > 0 else 0
        print(
            f"| {parts} | {wall:.2f} | {eps} | {s['max_state_rows']} |"
        )
        out.append(
            {"query": f"{name}@parts={parts}", "sf": sf_name,
             "wall": wall, **s}
        )
    os.environ.pop("SPARK_GRAFT_STREAM_PARTS", None)
    spark.conf.set("spark.sql.shuffle.partitions", prev)
    with open("/tmp/scaling_streams.json", "w") as f:
        json.dump(out, f, indent=1)
    print("\n(written /tmp/scaling_streams.json)")


if __name__ == "__main__":
    main()
