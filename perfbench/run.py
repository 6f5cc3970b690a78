#!/usr/bin/env python3
"""Lakehouse engine benchmark.

    python3 perfbench/run.py --workload {registry,table_dml} \
        --seed N --seconds S --trace {0,1}

Run from the repository root. One run:

1. builds a fresh run directory under ``.perfbench/work`` and points
   Spark local dirs, the engine scratch, temp files, checkpoints and
   tables at it, and generates the seeded fixture there;
2. sets up ``SETUP_REPS`` times (session start, the workload's tables,
   a warm-up scan) and reports the median as ``setup_s``;
3. warms the workload up untimed (first-use costs), then measures it
   for ``--seconds`` (the end-to-end metrics); with ``--trace 1`` it
   measures twice — traced, then untraced — and reports the traced
   phase's per-layer metrics plus ``trace.overhead_ratio``;
4. checks the outputs outside the timed loop;
5. writes a run record (host facts, steal, every sample, spans) to
   ``.perfbench/records`` and prints the result as the last stdout
   line: ``{"correct", "attempted", "failed", "metrics"}``.

See perfbench/README.md for what each workload and metric means.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import common  # noqa: E402
from tracing import EXEC_KEYS  # noqa: E402

WORKLOADS = ("registry", "table_dml")
SETUP_REPS = 3
END_TO_END = {
    "setup_s": "s",
    "latency_p50_s": "s",
    "ops_per_s": "1/s",
    "live_heap_mb": "MB",
}

# registry modules with a query in registry.SAMPLE
QUERY_MODULES = (
    "analytics datapipe decision lmstats olap pipeline product relational"
    " sketches timeseries windowlab"
).split()
# per-layer metric -> unit; a layer a workload does not exercise reports 0
PER_LAYER = {
    "session.start_s": "s",
    "session.cold_start_s": "s",
    "warmup_s": "s",
    "catalog.load_calls": "count",
    "catalog.load_s": "s",
    "queries.build_s": "s",
    "queries.build_jobs": "count",
    "queries.build_tasks": "count",
    **{f"queries.{m}.total_s": "s" for m in QUERY_MODULES},
    "plans.total_s": "s",
    "queries.count_pruned": "count",
    "catalyst.analysis_ms": "ms",
    "catalyst.optimization_ms": "ms",
    "catalyst.planning_ms": "ms",
    "exec.action_s": "s",
    "peak_rss_mb": "MB",
    **{
        f"exec.{k}": "ms" if k.endswith("_ms") else "B" if k.endswith("bytes") else "count"
        for k in EXEC_KEYS
    },
    "sources.ticks_generated": "count",
    "sources.input_lag_s": "s",
    "streaming.batches": "count",
    "streaming.batch_ms_p50": "ms",
    "streaming.batch_ms_max": "ms",
    "streaming.add_batch_ms_p50": "ms",
    "streaming.query_planning_ms_p50": "ms",
    "streaming.wal_commit_ms_p50": "ms",
    "streaming.rows_per_batch_p50": "count",
    "streaming.state_rows_max": "count",
    "streaming.state_bytes_max": "B",
    "delta.commits": "count",
    "delta.append_s": "s",
    "delta.merge_s": "s",
    "delta.update_s": "s",
    "delta.delete_s": "s",
    "delta.read_s": "s",
    "delta.jobs_per_commit": "count",
    "delta.files_added": "count",
    "delta.files_removed": "count",
    "delta.bytes_added": "B",
    "delta.rows_rewritten_per_row_changed": "ratio",
    "delta.files_scanned_per_read": "count",
    "delta.replay_s": "s",
    "delta.log_bytes": "B",
    "delta.commit_conflicts": "count",
    "dims.scd2_apply_s": "s",
    "maintenance.optimize_s": "s",
    "maintenance.vacuum_s": "s",
    "maintenance.files_compacted": "count",
    "trace.overhead_ratio": "ratio",
    # the slowest one or two kinds: the disk-bound ones on this scale,
    # which host I/O contention moves by more than any bound allows
    "latency_p90_s": "s",
    # workload-level figures; each exists on one workload only, so
    # they cannot be end-to-end metrics every run reports
    "registry_total_s": "s",
    "freshness_p50_s": "s",
    "merge_p50_s": "s",
    "update_p50_s": "s",
    "delete_p50_s": "s",
    "read_p50_s": "s",
    "bytes_written_per_user_byte": "ratio",
    "error_ratio": "ratio",
}


def log(msg: str) -> None:
    print(f"# {msg}", file=sys.stderr, flush=True)


class Ctx:
    """What a workload sees: the session, the run's directories, the
    fixture of the current set-up and the seed."""

    def __init__(self, args, dirs):
        self.seed = args.seed
        self.dirs = dirs
        self.spark = None
        self.fixture = None
        self.fingerprint = None
        self.setup_dir = None


def _stop_jvm() -> None:
    """Shut the py4j gateway and wait for the JVM process to exit."""
    import subprocess

    from py4j.protocol import Py4JError
    from pyspark import SparkContext

    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    try:
        gw.shutdown()
    except Py4JError:  # the JVM is already gone
        pass
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


def setup(ctx: Ctx, wl) -> dict:
    """``SETUP_REPS`` set-ups (session start, the workload's tables,
    its warm-up scan); the last one's state is measured. The first
    also launches the JVM; the median leaves that out, and
    ``session.cold_start_s`` reports it."""
    from lakehouse_for_data_streaming_and_analysis_spark.session import get_spark

    totals, starts = [], []
    prev = None
    for i in range(SETUP_REPS):
        t0 = time.perf_counter()
        if ctx.spark is not None:
            ctx.spark.stop()
        ctx.spark = get_spark("perfbench", extra_conf=common.spark_conf(ctx.dirs))
        ctx.spark.sparkContext.setLogLevel("ERROR")
        starts.append(time.perf_counter() - t0)
        ctx.setup_dir = ctx.dirs.sub(f"setup{i}")
        os.environ["SPARK_GRAFT_SCRATCH"] = os.path.join(ctx.setup_dir, "scratch")
        wl.prepare(ctx)
        totals.append(time.perf_counter() - t0)
        if prev is not None:
            import shutil

            shutil.rmtree(prev, ignore_errors=True)
        prev = ctx.setup_dir
        log(f"setup {i}: {totals[-1]:.2f}s (session {starts[-1]:.2f}s)")
    return {
        "setup_s": statistics.median(totals),
        "setup_all_s": totals,
        "session_start_all_s": starts,
        "session.start_s": statistics.median(starts),
        "session.cold_start_s": starts[0],
    }


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    dirs = common.RunDirs(args.workload, args.seed)
    common.isolate_env(dirs)
    ctx = Ctx(args, dirs)
    try:
        import importlib

        import fixtures

        wl = importlib.import_module(args.workload).Workload()
        steal0, wall0 = common.steal_seconds(), time.perf_counter()
        # the seeded fixture, made once and outside the timed set-up
        ctx.fixture = dirs.sub("fixture")
        ctx.fingerprint = fixtures.generate(ctx.fixture, ctx.seed, common.SF)
        os.environ["SPARK_GRAFT_SF_DIR"] = ctx.fixture
        os.environ["SPARK_GRAFT_SIM_SF_DIR"] = ctx.fixture
        s = setup(ctx, wl)
        jvm = common.jvm_pid()
        from tracing import Tracer

        warm = wl.warm_up(ctx, Tracer(ctx.spark, False))
        log(f"warm-up: {warm['s']:.2f}s")
        if args.trace:
            # the overhead baseline is the untraced phase after the traced
            # one (the JVM still warms a little, so the ratio errs
            # towards more overhead)
            phases = [
                ("traced", Tracer(ctx.spark, True)),
                ("untraced", Tracer(ctx.spark, False)),
            ]
        else:
            phases = [("plain", Tracer(ctx.spark, False))]
        results = {}
        for phase, tracer in phases:
            st0 = common.steal_seconds()
            results[phase] = wl.measure(ctx, args.seconds, tracer)
            results[phase]["steal_s"] = common.steal_seconds() - st0
            log(f"{phase}: {json.dumps(results[phase]['summary'])}")
        peak_rss = common.peak_rss_mb(jvm)
        check = wl.check(ctx)
        live_heap = common.live_heap_mb(ctx.spark)
        runs = [warm, *results.values(), check]
        attempted = sum(r["attempted"] for r in runs)
        failed = sum(r["failed"] for r in runs)
        base = results["untraced" if args.trace else "plain"]
        e2e = {
            "setup_s": s["setup_s"],
            "latency_p50_s": common.pct(base["latencies"], 50),
            "latency_p90_s": common.pct(base["latencies"], 90),
            "ops_per_s": base["ops_per_s"],
            "live_heap_mb": live_heap,
        }
        if args.trace:
            traced = results["traced"]
            layers = wl.layers(ctx, traced, phases[0][1])
            layers["session.start_s"] = s["session.start_s"]
            layers["session.cold_start_s"] = s["session.cold_start_s"]
            layers["warmup_s"] = warm["s"]
            layers["peak_rss_mb"] = peak_rss
            layers["latency_p90_s"] = common.pct(traced["latencies"], 90)
            layers["trace.overhead_ratio"] = (
                traced["primary"] / results["untraced"]["primary"]
            )
            layers["error_ratio"] = failed / max(attempted, 1)
            unknown = set(layers) - set(PER_LAYER)
            if unknown:
                raise KeyError(f"undeclared per-layer metrics: {sorted(unknown)}")
            metrics = {
                k: {"value": float(layers.get(k, 0.0)), "unit": u}
                for k, u in PER_LAYER.items()
            }
        else:
            metrics = {
                k: {"value": float(e2e[k]), "unit": u} for k, u in END_TO_END.items()
            }
        record = {
            "workload": args.workload,
            "argv": sys.argv[1:],
            "host": common.host_facts(args.seed, ctx.spark),
            "fixture_fingerprint": ctx.fingerprint,
            "fixture_sf": common.SF,
            "setup": s,
            "warm_up": warm,
            "steal_s_total": common.steal_seconds() - steal0,
            "wall_s_total": time.perf_counter() - wall0,
            "end_to_end": e2e,
            "peak_rss_mb": peak_rss,
            "phases": results,
            "check": check,
            "spans": [sp for _, t in phases for sp in t.spans],
            "counts": {k: v for _, t in phases for k, v in t.counts.items()},
            "result_metrics": metrics,
        }
        path = common.write_record(dirs.tag, record)
        log(f"record: {os.path.relpath(path, common.ROOT)}")
        for e in [e for r in runs for e in r["errors"]][:10]:
            log(f"error: {e}")
        out = {
            "correct": failed == 0,
            "attempted": int(attempted),
            "failed": int(failed),
            "metrics": metrics,
        }
    finally:
        if ctx.spark is not None:
            try:
                ctx.spark.stop()
            finally:
                _stop_jvm()
        dirs.remove()
    print(json.dumps(out), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
