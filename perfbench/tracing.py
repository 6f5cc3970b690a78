"""Spans and Spark counters around the engine's layer calls.

A ``Tracer`` is passed to every workload. Disabled, it only runs the
wrapped call; enabled, it also

* tags the Spark jobs of an operation with a job group
  (``sparkContext.setJobGroup``) and, when the operation ends, sums
  jobs, stages, tasks, task time, GC, input, shuffle and spill bytes
  from ``statusTracker()`` and the status store
  (``statusStore().lastStageAttempt``);
* records one span per call: name, start, end, parent span, op id.

Jobs a span's call starts on another thread (a streaming query's
micro-batches run under the query's own ``runId`` job group) are
added to the span with ``Tracer.attach``.

Spans and counters stay in memory until the run ends; the run record
holds them.
"""

from __future__ import annotations

import contextlib
import time
from collections import defaultdict

EXEC_KEYS = (
    "jobs",
    "stages",
    "tasks",
    "task_run_ms",
    "gc_ms",
    "input_bytes",
    "shuffle_write_bytes",
    "shuffle_read_bytes",
    "spill_bytes",
    "failed_tasks",
)


def group_stats(sc, group: str) -> dict[str, int]:
    """Execution counters of every job launched under ``group``;
    skipped stages (shuffle reuse) are not counted."""
    from py4j.protocol import Py4JJavaError

    st = sc.statusTracker()
    store = sc._jsc.sc().statusStore()
    out = dict.fromkeys(EXEC_KEYS, 0)
    for job in st.getJobIdsForGroup(group):
        info = st.getJobInfo(job)
        if info is None:
            continue
        out["jobs"] += 1
        for stage in info.stageIds:
            try:
                d = store.lastStageAttempt(stage)
            except Py4JJavaError:  # evicted from the store or never submitted
                continue
            if d.status().toString() == "SKIPPED":
                continue
            out["stages"] += 1
            out["tasks"] += d.numCompleteTasks() + d.numFailedTasks()
            out["task_run_ms"] += d.executorRunTime()
            out["gc_ms"] += d.jvmGcTime()
            out["input_bytes"] += d.inputBytes()
            out["shuffle_write_bytes"] += d.shuffleWriteBytes()
            out["shuffle_read_bytes"] += d.shuffleReadBytes()
            out["spill_bytes"] += d.memoryBytesSpilled() + d.diskBytesSpilled()
            out["failed_tasks"] += d.numFailedTasks()
    return out


def catalyst_ms(df) -> dict[str, int]:
    """Analysis/optimization/planning time of ``df``'s own
    QueryExecution (forces the physical plan; call it outside any
    timed window)."""
    qe = df._jdf.queryExecution()
    qe.executedPlan()
    phases = qe.tracker().phases()
    return {
        k: int(phases.apply(k).durationMs()) if phases.contains(k) else 0
        for k in ("analysis", "optimization", "planning")
    }


class Tracer:
    def __init__(self, spark, enabled: bool):
        self.sc = spark.sparkContext
        self.enabled = enabled
        self.spans: list[dict] = []
        self.counts: dict[str, float] = defaultdict(float)
        self._stack: list[tuple[int, str, str, dict]] = []
        self._seq = 0

    @contextlib.contextmanager
    def span(self, name: str, op_id: str, exec_prefix: str):
        """Record one layer call as a span; its Spark jobs run under a
        job group of their own, and their counters are added to
        ``<exec_prefix>.<key>``."""
        if not self.enabled:
            yield
            return
        self._seq += 1
        group = f"pb{self._seq}:{op_id}"
        rec: dict = {"name": name, "op": op_id, "groups": [group]}
        rec.update(
            id=self._seq,
            parent=self._stack[-1][0] if self._stack else None,
        )
        self._stack.append((self._seq, group, name, rec))
        self.sc.setJobGroup(group, name)
        rec["start"] = time.perf_counter()
        try:
            yield
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            if self._stack:
                # later jobs belong to the enclosing span again
                self.sc.setJobGroup(*self._stack[-1][1:3])
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
            rec["exec"] = dict.fromkeys(EXEC_KEYS, 0)
            for g in rec["groups"]:
                for k, v in group_stats(self.sc, g).items():
                    rec["exec"][k] += v
            for k, v in rec["exec"].items():
                self.counts[f"{exec_prefix}.{k}"] += v
            self.spans.append(rec)

    def attach(self, group: str) -> None:
        """Count the jobs of job group ``group`` in the innermost open
        span as well (for jobs started on threads the span does not
        own, e.g. a streaming query's micro-batches)."""
        if self.enabled and self._stack:
            self._stack[-1][3]["groups"].append(group)

    def add(self, key: str, value: float) -> None:
        if self.enabled:
            self.counts[key] += value


def patch_calls(modules, original, on_call):
    """Route every module-level reference to ``original`` through
    ``on_call(original, *args, **kw)``; returns an undo function.
    Used to count and time calls the benchmark does not make itself
    (e.g. the catalog loads inside registry queries)."""

    def wrapper(*args, **kw):
        return on_call(original, *args, **kw)

    touched = []
    for mod in list(modules):
        for attr, val in list(vars(mod).items()):
            if val is original:
                setattr(mod, attr, wrapper)
                touched.append((mod, attr))

    def undo():
        for mod, attr in touched:
            setattr(mod, attr, original)

    return undo
