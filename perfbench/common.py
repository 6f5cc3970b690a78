"""Run scaffolding shared by the workloads: per-run isolation, host
facts, memory peaks, percentiles and the run record."""

from __future__ import annotations

import json
import os
import shutil
import sys
import time

import numpy as np

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
STATE = os.path.join(ROOT, ".perfbench")
CPUS = 4
SF = 0.01


def pct(values, q: float) -> float:
    """Linear-interpolated percentile (``q`` in 0..100)."""
    return float(np.percentile(np.asarray(values, dtype=float), q))


def steal_seconds() -> float:
    """Host-wide CPU steal so far, from the aggregate ``/proc/stat`` line."""
    try:
        with open("/proc/stat") as f:
            steal = int(f.readline().split()[8])
        return steal / os.sysconf("SC_CLK_TCK")
    except (OSError, IndexError, ValueError):
        return 0.0


def _hwm_kb(pid: int | str) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def jvm_pid() -> int | None:
    """The Spark JVM: the ``java`` child of this process."""
    me = str(os.getpid())
    for pid in os.listdir("/proc"):
        if not pid.isdigit():
            continue
        try:
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
            with open(f"/proc/{pid}/comm") as f:
                comm = f.read().strip()
        except OSError:
            continue
        if fields[1] == me and comm == "java":
            return int(pid)
    return None


def peak_rss_mb(jvm: int | None) -> float:
    """Peak resident set of this Python process plus the Spark JVM."""
    kb = _hwm_kb("self") + (_hwm_kb(jvm) if jvm else 0)
    return kb / 1024.0


def live_heap_mb(spark) -> float:
    """JVM heap in use right after a full collection: what the session
    retains (caches, state, job and plan records), free of garbage."""
    import gc

    gc.collect()  # drops py4j handles that pin JVM objects
    jvm = spark.sparkContext._jvm
    rt = jvm.java.lang.Runtime.getRuntime()
    # Memory the session lets go of asynchronously (Spark's
    # ContextCleaner, py4j handle release) can take seconds to become
    # garbage: collect until the figure has held for 1 s.
    seen: list[float] = []
    for _ in range(20):
        jvm.java.lang.System.gc()
        seen.append((rt.totalMemory() - rt.freeMemory()) / 2**20)
        if len(seen) >= 3 and max(seen[-3:]) - min(seen[-3:]) < 1.0:
            break
        time.sleep(0.5)
    return seen[-1]


class RunDirs:
    """A fresh directory tree for one run, inside the checkout.

    Spark local dirs, the engine's scratch (replay dirs), fixtures,
    tables, checkpoints and temp files all live under it, so no run
    inherits state from an earlier one. It is deleted when the run
    ends; the run record is kept under ``.perfbench/records``."""

    def __init__(self, workload: str, seed: int):
        stamp = time.strftime("%Y%m%dT%H%M%S")
        self.tag = f"{stamp}-{workload}-s{seed}-p{os.getpid()}"
        self.root = os.path.join(STATE, "work", self.tag)
        os.makedirs(self.root)
        self.tmp = self.sub("tmp")
        self.local = self.sub("spark-local")

    def sub(self, *parts: str) -> str:
        p = os.path.join(self.root, *parts)
        os.makedirs(p, exist_ok=True)
        return p

    def remove(self) -> None:
        shutil.rmtree(self.root, ignore_errors=True)


def isolate_env(dirs: RunDirs) -> None:
    """Point every engine and Spark location at the run's own tree.
    Must run before pyspark or the engine is imported."""
    os.environ["SPARK_GRAFT_CPUS"] = str(CPUS)
    os.environ["SPARK_LOCAL_DIRS"] = dirs.local
    os.environ["TMPDIR"] = dirs.tmp
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYSPARK_DRIVER_PYTHON"] = sys.executable
    # the engine package, for this process and its Python workers
    sys.path.insert(1, ROOT)
    path = os.environ.get("PYTHONPATH")
    os.environ["PYTHONPATH"] = ROOT + (os.pathsep + path if path else "")
    # py4j/Arrow pick these up at import; stop stray thread pools
    os.environ.setdefault("OMP_NUM_THREADS", "1")


def spark_conf(dirs: RunDirs) -> dict[str, str]:
    return {
        "spark.sql.warehouse.dir": dirs.sub("warehouse"),
        # no hsperfdata file in the system temp dir: the run writes
        # only inside its own tree
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={dirs.tmp}"
        f" -Dderby.system.home={dirs.tmp} -XX:-UsePerfData",
        "spark.local.dir": dirs.local,
        "spark.ui.showConsoleProgress": "false",
    }


def host_facts(seed: int, spark) -> dict:
    import pyspark

    return {
        "seed": seed,
        "nproc": os.cpu_count(),
        "spark_graft_cpus": os.environ.get("SPARK_GRAFT_CPUS"),
        "driver_memory": spark.sparkContext.getConf().get("spark.driver.memory"),
        "pyspark": pyspark.__version__,
        "python": sys.version.split()[0],
    }


def write_record(tag: str, record: dict) -> str:
    out = os.path.join(STATE, "records")
    os.makedirs(out, exist_ok=True)
    path = os.path.join(out, f"{tag}.json")
    with open(path, "w") as f:
        json.dump(record, f, indent=1, default=str)
    return path
