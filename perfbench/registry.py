"""``registry`` workload: the query registry, timed to full output.

A fixed sample of ``__spark_entry__.queries()`` (``SAMPLE``: the star
plan and one query from each of eleven query modules) runs in passes,
each in an order permuted by the seed. Set-up is followed by
``WARM_PASSES`` warm-up passes (first-use costs: code generation, JIT,
Python workers);
the measured passes then repeat until ``--seconds`` have passed, at
least ``MIN_PASSES`` of them. Each query is timed from the call of the
query function to the last row in pandas (``toPandas()``: every column
is produced, so Catalyst cannot prune it the way it prunes
``count()``); its latency is the median over the measured passes.

Outputs of the last pass are checked afterwards: each query's frame
against its ``oracle_sql()`` DuckDB result, compared with the
order-insensitive canonical form of ``tools/driver_sim.py``.
"""

from __future__ import annotations

import random
import statistics
import sys
import time

from tracing import catalyst_ms, patch_calls

PKG = "lakehouse_for_data_streaming_and_analysis_spark"

# The star plan and one query from each of eleven registry modules: a
# query of typical cost for its module (near its median at sf0.01) that
# exercises the layer the module owns. The sample is fixed so that two
# runs time the same work; README.md says what is left out and why.
SAMPLE = (
    "star_revenue_by_nation_month",  # plans: the star-schema join
    "broadcast_left_enrich",  # relational
    "exact_dedup_groups",  # datapipe: operators/dedup
    "deltalog_schema_evolution_audit",  # pipeline: Delta jobs while building
    "pacf_by_lag",  # analytics: pandas UDF / Arrow workers
    "kalman_local_level",  # timeseries: iterative recurrence
    "triangle_count_handoff_graph",  # product: operators/graphs
    "hll_daily_union_users",  # sketches: operators/sketches
    "ranked_orders_window_suite",  # olap: window functions
    "top_supplier_by_revenue",  # decision: multi-way joins
    "ntile_value_bands",  # windowlab
    "keyword_search_ranked",  # lmstats: functions/text
)
MIN_PASSES = 2
WARM_PASSES = 2

# count() vs full output: "count-pruned" when full output is more than
# 2x and more than 0.2 s slower (the ROADMAP item-1 rule).
PRUNED_RATIO = 2.0
PRUNED_MIN_S = 0.2


def _modules() -> dict[str, str]:
    """query name -> module key (``queries.<module>`` or ``plans``)."""
    import importlib

    import __spark_entry__ as entry

    out = {n: "plans" for n in entry.queries() if n.startswith("star_")}
    for mod in sorted(sys.modules):
        if mod.startswith(f"{PKG}.queries.") and hasattr(sys.modules[mod], "QUERIES"):
            short = mod.rsplit(".", 1)[1]
            for n in importlib.import_module(mod).QUERIES:
                out[n] = f"queries.{short}"
    return out


def _oracles() -> dict[str, str]:
    """DuckDB oracle SQL of the sampled queries. ``oracle_sql()`` also
    derives ten fixture-bound oracles by slow independent refits (none
    of them sampled), so the modules' static ``ORACLES`` are read
    first and ``oracle_sql()`` is the fallback."""
    import __spark_entry__ as entry
    from lakehouse_for_data_streaming_and_analysis_spark.plans import star

    out = {"star_revenue_by_nation_month": star.STAR_REVENUE_ORACLE}
    for mod in list(sys.modules.values()):
        name = getattr(mod, "__name__", "")
        if name.startswith(f"{PKG}.queries.") and isinstance(
            getattr(mod, "ORACLES", None), dict
        ):
            out.update(mod.ORACLES)
    if any(n not in out for n in SAMPLE):
        out = entry.oracle_sql()
    return out


class Workload:
    def prepare(self, ctx) -> None:
        import __spark_entry__ as entry

        from lakehouse_for_data_streaming_and_analysis_spark.catalog import load_table

        # No replay dirs: the sample holds no replay-dir query. The
        # set-up warm-up is one scan + aggregate outside the sample; the
        # sampled queries' first-use costs fall in ``warm_up``.
        self.queries = entry.queries()
        self.module_of = _modules()
        self.passes = 0
        load_table(ctx.spark, ctx.fixture, "lineitem").groupBy(
            "l_returnflag"
        ).count().collect()

    def _run_query(self, ctx, name: str, tracer) -> tuple[float, object]:
        """Build and fully collect one query; returns (seconds, frame)."""
        mod = self.module_of[name]
        op = f"{name}#{self.passes}"
        with tracer.span(f"{mod}.build", f"{op}:build", "queries.build"):
            t0 = time.perf_counter()
            df = self.queries[name](ctx.spark, ctx.fixture)
            build = time.perf_counter() - t0
        with tracer.span("exec.action", f"{op}:action", "exec"):
            t1 = time.perf_counter()
            pdf = df.toPandas()
            action = time.perf_counter() - t1
        if tracer.enabled:
            tracer.add("queries.build_s", build)
            tracer.add("exec.action_s", action)
            tracer.add(f"{mod}.total_s", build + action)
            for k, v in catalyst_ms(df).items():
                tracer.add(f"catalyst.{k}_ms", v)
        return build + action, pdf

    def _pass(self, ctx, tracer, times, errors) -> None:
        """Every sampled query once, in this pass's seeded order."""
        order = list(SAMPLE)
        random.Random(ctx.seed * 7919 + self.passes).shuffle(order)
        for name in order:
            try:
                t, self.frames[name] = self._run_query(ctx, name, tracer)
                times.setdefault(name, []).append(t)
            except Exception as e:  # counted; the pass goes on
                errors.append(f"{name}: {type(e).__name__}: {str(e)[:300]}")
        self.passes += 1

    def warm_up(self, ctx, tracer) -> dict:
        """``WARM_PASSES`` passes that pay the sample's first-use costs
        (the second pass still runs well above the later ones: the
        JIT is still compiling)."""
        self.frames: dict = {}
        times: dict[str, list[float]] = {}
        errors: list[str] = []
        t0 = time.perf_counter()
        for _ in range(WARM_PASSES):
            self._pass(ctx, tracer, times, errors)
        return {
            "s": time.perf_counter() - t0,
            "per_query_s": times,
            "attempted": WARM_PASSES * len(SAMPLE),
            "failed": len(errors),
            "errors": errors,
        }

    def measure(self, ctx, seconds, tracer) -> dict:
        """Passes over the sample until ``seconds`` have passed (at
        least ``MIN_PASSES``). A query's latency is its median over the
        passes."""
        self.frames = {}
        times: dict[str, list[float]] = {}
        errors: list[str] = []
        undo = self._trace_catalog(tracer) if tracer.enabled else None
        n = 0
        t0 = time.perf_counter()
        try:
            while n < MIN_PASSES or time.perf_counter() - t0 < seconds:
                self._pass(ctx, tracer, times, errors)
                n += 1
        finally:
            if undo:
                undo()
        wall = time.perf_counter() - t0
        med = {q: statistics.median(ts) for q, ts in times.items()}
        done = sum(len(ts) for ts in times.values())
        out = {
            "attempted": n * len(SAMPLE),
            "failed": len(errors),
            "errors": errors,
            "passes": n,
            "per_query_s": times,
            "latencies": list(med.values()) or [float("nan")],
            "ops_per_s": done / wall,
            "primary": sum(med.values()),
            "registry_total_s": sum(med.values()),
            "summary": {
                "passes": n,
                "registry_total_s": round(sum(med.values()), 3),
                "wall_s": round(wall, 2),
                "failed": len(errors),
            },
        }
        if tracer.enabled:
            out["count_vs_full"] = cvf = self._count_pass(ctx, med)
            pruned = sorted(n for n, v in cvf.items() if v["pruned"])
            print(f"# count-pruned: {', '.join(pruned) or 'none'}", file=sys.stderr)
        return out

    def _trace_catalog(self, tracer):
        """Count and time every catalog table load the queries make."""
        from lakehouse_for_data_streaming_and_analysis_spark import catalog

        depth = [0]
        load_table = catalog.load_table

        def on_call(orig, *a, **kw):
            depth[0] += 1
            t0 = time.perf_counter()
            try:
                return orig(*a, **kw)
            finally:
                depth[0] -= 1
                if orig is load_table:
                    tracer.add("catalog.load_calls", 1)
                if depth[0] == 0:
                    tracer.add("catalog.load_s", time.perf_counter() - t0)

        mods = [m for k, m in sys.modules.items() if k.startswith(PKG) or k == "__spark_entry__"]
        undo1 = patch_calls(mods, load_table, on_call)
        undo2 = patch_calls(mods, catalog.load_tables, on_call)

        def undo():
            undo2()
            undo1()

        return undo

    def _count_pass(self, ctx, full: dict) -> dict:
        """One untimed-by-the-gate pass with ``count()`` beside the
        full-output time, naming the count-pruned queries."""
        out = {}
        for name in SAMPLE:
            if name not in full:
                continue
            t0 = time.perf_counter()
            self.queries[name](ctx.spark, ctx.fixture).count()
            c = time.perf_counter() - t0
            f = full[name]
            out[name] = {
                "count_s": c,
                "full_s": f,
                "pruned": f > PRUNED_RATIO * c and f - c > PRUNED_MIN_S,
            }
        return out

    def check(self, ctx) -> dict:
        import duckdb

        import __spark_entry__ as entry
        import fixtures
        from tools.driver_sim import _frame_key

        con = duckdb.connect()
        con.execute("SET threads TO 2")
        for t in fixtures.TABLES:
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{ctx.fixture}/{t}.parquet')"
            )
        oracles = _oracles()
        errors = []
        for name, pdf in self.frames.items():
            try:
                odf = con.execute(oracles[name]).fetchdf()
                if _frame_key(pdf) != _frame_key(odf):
                    errors.append(f"{name}: output differs from oracle")
            except Exception as e:
                errors.append(f"{name}: oracle check {type(e).__name__}: {str(e)[:200]}")
        con.close()
        return {"attempted": len(self.frames), "failed": len(errors), "errors": errors}

    def layers(self, ctx, res, tracer) -> dict:
        """The traced phase's counters, per pass; the exec.* and
        catalyst.* sums, module totals and catalog counts are already in
        ``tracer.counts`` under their metric names."""
        out = {k: v / res["passes"] for k, v in tracer.counts.items()}
        out["queries.build_jobs"] = out.pop("queries.build.jobs", 0)
        out["queries.build_tasks"] = out.pop("queries.build.tasks", 0)
        for k in [k for k in out if k.startswith("queries.build.")]:
            del out[k]
        out["registry_total_s"] = res["registry_total_s"]
        out["queries.count_pruned"] = sum(
            v["pruned"] for v in res["count_vs_full"].values()
        )
        return out
