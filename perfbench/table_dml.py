"""``table_dml`` workload: one closed-loop client writing and reading
Deltaish tables.

Two tables are seeded from the fixture at set-up: ``orders`` (range
laid out on ``o_orderkey``) and an SCD-2 coin dimension built from
``nation``; the tick pipeline (``ticks.py``) adds bronze and fact.
One client then runs rounds; a round is every operation kind of
``KINDS`` once, in that order, and the seed draws each operation's
keys and values:

* writes on ``orders``: a CDC MERGE upsert with skewed keys, a
  copy-on-write UPDATE, a deletion-vector DELETE, an append;
* an SCD-2 apply (``dims.scd2.scd2_apply_delta``) on the dimension;
* a tick ingest through bronze and fact (``ticks.py``);
* reads between the writes: full snapshot and ``read_pruned`` key
  range, each timed to a full-output ``noop`` write;
* maintenance: OPTIMIZE and VACUUM (retention 0); checkpoints come
  from the engine's own every-10-commits policy.

One warm-up round follows set-up; the measured rounds then repeat until
``--seconds`` have passed, at least ``MIN_ROUNDS`` of them. A kind's
latency is its median over the measured rounds, and every kind counts
once in the run's percentiles, so no kind weighs more because it was
listed twice. The set of kinds covers the engine's lakehouse write,
read and maintenance operations; it is not a traffic mix measured
anywhere (README.md).

Every operation is applied to an independent pandas model as well; at
the end the tables read by ``DeltaishTable.read()`` and by
``tools/minikernel.read_table`` must both equal the model.
"""

from __future__ import annotations

import io
import json
import os
import random
import time

import numpy as np
import pandas as pd
from pyspark.sql import functions as F

import common
from ticks import TickPipeline

# The operations of one round, in this fixed order whatever the seed;
# the seed draws each operation's keys and values.
KINDS = (
    "merge",
    "read_pruned",
    "update_cow",
    "read_full",
    "delete_dv",
    "append",
    "ingest",
    "scd2",
    "optimize",
    "vacuum",
)
MIN_ROUNDS = 2
TICKS_PER_FILE = 2000
KEY_SLOTS = 16  # > len(KINDS), and a multiple of the 4 seeded files
MERGE_KEYS = 200
KEY_SKEW = 3.0  # existing merge keys ~ n * u**KEY_SKEW: low keys are hot
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
DIM_TRACKED = ("name", "supply")
READS = ("read_full", "read_pruned")


def _parquet_bytes(df: pd.DataFrame) -> int:
    """Size of ``df`` as one snappy parquet file: the bytes of rows the
    client changed, in the unit the data files are measured in."""
    if df.empty:
        return 0
    import pyarrow as pa
    import pyarrow.parquet as pq

    buf = io.BytesIO()
    pq.write_table(pa.Table.from_pandas(df, preserve_index=False), buf)
    return buf.tell()


class Workload:
    def prepare(self, ctx) -> None:
        from lakehouse_for_data_streaming_and_analysis_spark.catalog import load_table

        spark = ctx.spark
        self.orders_src = load_table(spark, ctx.fixture, "orders")
        self._seed_tables(ctx)
        self.n_ops = 0
        self.rounds = 0

    def _seed_tables(self, ctx) -> None:
        from lakehouse_for_data_streaming_and_analysis_spark.delta import DeltaishTable
        from lakehouse_for_data_streaming_and_analysis_spark.dims.scd2 import (
            empty_dim,
            hash_candidates,
        )
        from lakehouse_for_data_streaming_and_analysis_spark.queries.charts import coin_dim

        spark = ctx.spark
        base = os.path.join(ctx.setup_dir, "dml")
        orders = self.orders_src.repartitionByRange(4, "o_orderkey")
        self.coins = coin_dim(spark, ctx.fixture).select("coin_id", "name", "supply")
        dim = empty_dim(
            hash_candidates(self.coins, "coin_id", DIM_TRACKED), "2024-01-01"
        )
        self.ticks = TickPipeline(spark, os.path.join(base, "ticks"), ctx.fixture)
        self.t = {
            "orders": DeltaishTable.create(spark, os.path.join(base, "orders"), orders),
            "dim": DeltaishTable.create(spark, os.path.join(base, "dim"), dim),
        }
        self.orders_schema = self.orders_src.schema

    def _build_model(self, ctx) -> None:
        """The pandas model of the seeded tables: benchmark work, done
        once after the timed set-ups."""
        import pyarrow.parquet as pq

        # the orders model starts from the fixture file, read without Spark
        self.model = {
            "orders": pq.read_table(os.path.join(ctx.fixture, "orders.parquet")).to_pandas(),
            "dim": self.t["dim"].read().toPandas(),
        }
        self.coins_pd = self.coins.toPandas()
        self.max_key = int(self.model["orders"]["o_orderkey"].max())
        self.n_keys = self.max_key + 1

    # ------------------------------------------------------------ ops

    def _orders_rows(self, rng, keys) -> pd.DataFrame:
        n = len(keys)
        day0 = np.datetime64("1995-01-01", "D")
        return pd.DataFrame(
            {
                "o_orderkey": np.asarray(keys, dtype=np.int64),
                "o_custkey": np.array([rng.randrange(1500) for _ in range(n)], dtype=np.int64),
                "o_orderstatus": [rng.choice("FOP") for _ in range(n)],
                "o_totalprice": [round(rng.uniform(1000, 500_000), 2) for _ in range(n)],
                "o_orderdate": (
                    day0 + np.array([rng.randrange(2400) for _ in range(n)])
                ).astype("datetime64[us]"),
                "o_orderpriority": [rng.choice(PRIORITIES) for _ in range(n)],
            }
        )

    def _key_range(self, i: int, width: float) -> tuple[int, int]:
        """The key range of position ``i`` of a round. Each position owns
        a slot of the key space; the seeded table is laid out in four
        key-range files of four slots each. Round ``r`` uses sub-range
        ``r % 4`` of the slot, so the ranges of successive rounds do not
        overlap, and whatever the seed an operation meets the same
        files, deletion vectors and earlier rewrites."""
        size = self.n_keys // KEY_SLOTS
        span = max(1, int(self.n_keys * width))
        lo = i * size + span // 2 + (self.rounds % 4) * (size - span) // 4
        return lo, lo + span

    def _run_op(self, ctx, i: int, kind: str, tracer) -> dict:
        """Run the kind at position ``i`` of a round on the engine
        (timed) and on the model (untimed). Returns its time and what
        the client changed."""
        rng = random.Random(ctx.seed * 100_003 + self.n_ops)
        self.n_ops += 1
        o = self.t["orders"]
        m = self.model
        info: dict = {"kind": kind}
        changed = None
        with tracer.span(f"delta.{kind}", f"{kind}#{self.n_ops}", "exec"):
            if kind in ("merge", "append"):
                if kind == "merge":
                    hot = {int(self.n_keys * rng.random() ** KEY_SKEW) for _ in range(MERGE_KEYS)}
                    keys = sorted(hot) + list(range(self.max_key + 1, self.max_key + 1 + MERGE_KEYS // 8))
                else:
                    keys = list(range(self.max_key + 1, self.max_key + 101))
                changed = self._orders_rows(rng, keys)
                df = ctx.spark.createDataFrame(changed, schema=self.orders_schema)
                t0 = time.perf_counter()
                o.merge(df, ["o_orderkey"]) if kind == "merge" else o.append(df)
                dt = time.perf_counter() - t0
                self.max_key = max(self.max_key, keys[-1])
                keep = m["orders"][~m["orders"]["o_orderkey"].isin(keys)]
                m["orders"] = pd.concat([keep, changed], ignore_index=True)
            elif kind in ("update_cow", "delete_dv"):
                lo, hi = self._key_range(i, 0.01)
                cond = F.col("o_orderkey").between(lo, hi)
                t0 = time.perf_counter()
                if kind == "update_cow":
                    o.update(cond, {"o_totalprice": F.col("o_totalprice") * F.lit(1.01)})
                else:
                    o.delete(cond, mode="merge_on_read")
                dt = time.perf_counter() - t0
                d = m["orders"]
                hit = d["o_orderkey"].between(lo, hi)
                if kind == "update_cow":
                    d.loc[hit, "o_totalprice"] *= 1.01
                changed = d[hit]
                if kind == "delete_dv":
                    m["orders"] = d[~hit].reset_index(drop=True)
            elif kind == "ingest":
                info.update(self.ticks.run(rng, TICKS_PER_FILE, tracer))
                dt = info["s"]
                changed = self.ticks.ticks[-1]
            elif kind == "scd2":
                changed, dt = self._scd2(rng)
            elif kind in READS:
                lo, hi = self._key_range(i, 0.02)
                t0 = time.perf_counter()
                if kind == "read_full":
                    df = o.read()
                else:
                    df = o.read_pruned("o_orderkey", lo, hi)
                df.write.format("noop").mode("overwrite").save()
                dt = time.perf_counter() - t0
                info["files"] = (
                    len(o.files_matching("o_orderkey", lo, hi))
                    if kind == "read_pruned"
                    else o.detail()["numFiles"]
                )
            elif kind == "optimize":
                t0 = time.perf_counter()
                v = o.optimize()
                dt = time.perf_counter() - t0
                info["compacted"] = _removes(o.path, v)
            elif kind == "vacuum":
                t0 = time.perf_counter()
                for t in self.t.values():
                    t.vacuum(retention_hours=0.0, enforce_retention=False)
                dt = time.perf_counter() - t0
            else:
                raise ValueError(kind)
        info["s"] = dt
        if changed is not None:
            info["rows_changed"] = len(changed)
            info["user_bytes"] = _parquet_bytes(changed)
        return info

    def _scd2(self, rng) -> tuple[pd.DataFrame, float]:
        """A snapshot with three coins' supply bumped, applied with
        ``scd2_apply_delta``; the model expires the changed current rows
        and appends their new versions above the max surrogate key."""
        import hashlib

        from lakehouse_for_data_streaming_and_analysis_spark.dims.scd2 import (
            hash_candidates,
            scd2_apply_delta,
        )

        bump = {rng.randrange(25): float(rng.randrange(1, 50)) for _ in range(3)}
        expr = F.col("supply")
        for cid, delta in bump.items():
            expr = F.when(F.col("coin_id") == cid, F.col("supply") + delta).otherwise(expr)
        snap = self.coins.withColumn("supply", expr)
        as_of = str(np.datetime64("2024-01-02") + self.n_ops)
        t0 = time.perf_counter()
        scd2_apply_delta(
            self.t["dim"], hash_candidates(snap, "coin_id", DIM_TRACKED), "coin_id", as_of
        )
        dt = time.perf_counter() - t0
        self.coins = snap
        cand = self.coins_pd
        for cid, delta in bump.items():
            cand.loc[cand["coin_id"] == cid, "supply"] += delta
        cand["hash"] = [
            hashlib.sha256(f"{n}~{float(s)!r}".encode()).hexdigest()
            for n, s in zip(cand["name"], cand["supply"])
        ]
        d = self.model["dim"]
        new_hash = d["coin_id"].map(dict(zip(cand["coin_id"], cand["hash"])))
        expire = d["is_current"].eq("Y") & d["hash"].ne(new_hash)
        new = cand[cand["coin_id"].isin(d.loc[expire, "coin_id"])]
        new = new.sort_values(["coin_id", "hash"]).reset_index(drop=True)
        top = int(d["surrogate_key"].max())
        new.insert(0, "surrogate_key", np.arange(top + 1, top + 1 + len(new), dtype=np.int64))
        as_of_d = pd.Timestamp(as_of).date()
        new["start_date"] = as_of_d
        new["end_date"] = pd.Timestamp("9999-12-31").date()
        new["is_current"] = "Y"
        d.loc[expire, "end_date"] = as_of_d
        d.loc[expire, "is_current"] = "N"
        changed = pd.concat([d[expire], new[d.columns]])
        self.model["dim"] = pd.concat([d, new[d.columns]], ignore_index=True)
        return changed, dt

    # -------------------------------------------------------- measure

    def _round(self, ctx, tracer, done, errors) -> None:
        for i, kind in enumerate(KINDS):
            try:
                done.append(self._run_op(ctx, i, kind, tracer))
            except Exception as e:  # counted; the round goes on
                errors.append(f"{kind}: {type(e).__name__}: {str(e)[:300]}")
                if "ConcurrentCommit" in type(e).__name__:
                    tracer.add("delta.commit_conflicts", 1)
        self.rounds += 1

    def warm_up(self, ctx, tracer) -> dict:
        """One round that pays every kind's first-use costs."""
        self._build_model(ctx)
        errors: list[str] = []
        t0 = time.perf_counter()
        self._round(ctx, tracer, [], errors)
        return {
            "s": time.perf_counter() - t0,
            "attempted": len(KINDS),
            "failed": len(errors),
            "errors": errors,
        }

    def measure(self, ctx, seconds, tracer) -> dict:
        """Rounds until ``seconds`` have passed (at least
        ``MIN_ROUNDS``). A kind's latency is its median over them."""
        # layers() reports on the commits and tick files this phase adds
        self.start_versions = {k: t.version for k, t in self._all_tables().items()}
        self.first_file = self.ticks.files
        done: list[dict] = []
        errors: list[str] = []
        n = 0
        t0 = time.perf_counter()
        while n < MIN_ROUNDS or time.perf_counter() - t0 < seconds:
            self._round(ctx, tracer, done, errors)
            n += 1
        wall = time.perf_counter() - t0
        med = {
            k: common.pct([d["s"] for d in done if d["kind"] == k], 50)
            for k in KINDS
            if any(d["kind"] == k for d in done)
        }
        p50 = lambda *kinds: common.pct(
            [d["s"] for d in done if d["kind"] in kinds] or [np.nan], 50
        )
        return {
            "attempted": n * len(KINDS),
            "failed": len(errors),
            "errors": errors,
            "rounds": n,
            "ops": done,
            "kind_median_s": med,
            "latencies": list(med.values()) or [float("nan")],
            "ops_per_s": len(done) / wall,
            "primary": sum(med.values()),
            "merge_p50_s": p50("merge"),
            "update_p50_s": p50("update_cow"),
            "delete_p50_s": p50("delete_dv"),
            "read_p50_s": p50(*READS),
            "summary": {
                "rounds": n,
                "ops": len(done),
                "wall_s": round(wall, 2),
                "p50": round(common.pct(list(med.values()) or [np.nan], 50), 3),
                "merge_p50": round(p50("merge"), 3),
                "read_p50": round(p50(*READS), 3),
                "failed": len(errors),
            },
        }

    def _all_tables(self) -> dict:
        return {**self.t, "bronze": self.ticks.bronze, "fact": self.ticks.fact}

    # ---------------------------------------------------------- check

    def check(self, ctx) -> dict:
        from tools.minikernel import read_table

        errors, attempted = [], 0
        models = {**self.model, **self.ticks.expected()}
        for name, t in self._all_tables().items():
            want = _canonical(models[name])
            for reader, got in (
                ("DeltaishTable.read", lambda: t.read().toPandas()),
                ("minikernel.read_table", lambda: read_table(t.path).to_pandas()),
            ):
                attempted += 1
                try:
                    # created_at is the fact query's wall clock
                    diff = _differs(_canonical(got().drop(columns="created_at", errors="ignore")), want)
                    if diff:
                        errors.append(f"{name}: {reader} differs from the model: {diff}")
                except Exception as e:
                    errors.append(f"{name}: {reader} {type(e).__name__}: {str(e)[:200]}")
        return {"attempted": attempted, "failed": len(errors), "errors": errors}

    # --------------------------------------------------------- layers

    def layers(self, ctx, res, tracer) -> dict:
        from lakehouse_for_data_streaming_and_analysis_spark.delta import DeltaishTable

        done = res["ops"]
        rounds = res["rounds"]
        # per-kind medians; counts are per round
        med = lambda *kinds: common.pct(
            [d["s"] for d in done if d["kind"] in kinds] or [0.0], 50
        )
        commits, adds, removes, log_bytes = 0, [], 0, 0
        for name, t in self._all_tables().items():
            log = os.path.join(t.path, "_delta_log")
            for f in sorted(os.listdir(log)):
                log_bytes += os.path.getsize(os.path.join(log, f))
                if not (f.endswith(".json") and f[:20].isdigit()):
                    continue
                if int(f[:20]) <= self.start_versions[name]:
                    continue
                commits += 1
                with open(os.path.join(log, f)) as fh:
                    for line in fh:
                        a = json.loads(line)
                        if "add" in a and a["add"].get("dataChange", True):
                            adds.append(a["add"])
                        elif "remove" in a:
                            removes += 1
        rows_added = 0
        for a in adds:
            st = a.get("stats")
            st = json.loads(st) if isinstance(st, str) else (st or {})
            rows_added += int(st.get("numRecords", 0))
        t0 = time.perf_counter()
        for t in self._all_tables().values():
            DeltaishTable(ctx.spark, t.path).version
        replay = time.perf_counter() - t0
        writes = [d for d in done if "rows_changed" in d]
        changed = sum(d["rows_changed"] for d in writes)
        user_bytes = sum(d["user_bytes"] for d in writes)
        reads = [d for d in done if "files" in d]
        c = tracer.counts
        write_jobs = sum(
            s["exec"]["jobs"] for s in tracer.spans if s["name"].split(".")[-1] not in READS
        )
        compacted = sum(d.get("compacted", 0) for d in done)
        ticks = self.ticks.figures(self.first_file)
        for k in ("sources.ticks_generated", "streaming.batches"):
            ticks[k] /= rounds
        return {
            **ticks,
            "merge_p50_s": res["merge_p50_s"],
            "update_p50_s": res["update_p50_s"],
            "delete_p50_s": res["delete_p50_s"],
            "read_p50_s": res["read_p50_s"],
            "bytes_written_per_user_byte": sum(a.get("size", 0) for a in adds)
            / max(user_bytes, 1),
            "delta.commits": commits / rounds,
            "delta.append_s": med("append"),
            "delta.merge_s": med("merge"),
            "delta.update_s": med("update_cow"),
            "delta.delete_s": med("delete_dv"),
            "delta.read_s": med(*READS),
            "delta.jobs_per_commit": write_jobs / max(commits, 1),
            "delta.files_added": len(adds) / rounds,
            "delta.files_removed": removes / rounds,
            "delta.bytes_added": sum(a.get("size", 0) for a in adds) / rounds,
            "delta.rows_rewritten_per_row_changed": rows_added / max(changed, 1),
            "delta.files_scanned_per_read": float(np.mean([d["files"] for d in reads]))
            if reads
            else 0.0,
            "delta.replay_s": replay,
            "delta.log_bytes": log_bytes,
            "delta.commit_conflicts": c.get("delta.commit_conflicts", 0),
            "dims.scd2_apply_s": med("scd2"),
            "maintenance.optimize_s": med("optimize"),
            "maintenance.vacuum_s": med("vacuum"),
            "maintenance.files_compacted": compacted / rounds,
            "exec.action_s": sum(d["s"] for d in done) / rounds,
            **{k: v / rounds for k, v in c.items() if k.startswith("exec.")},
        }


def _canonical(df: pd.DataFrame) -> pd.DataFrame:
    """Columns sorted by name, rows sorted by every column, dates and
    timestamps as ISO strings: row order and physical types (which the
    model and the readers may differ on) stop mattering."""
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if df[c].dtype == object or str(df[c].dtype).startswith("datetime"):
            df[c] = df[c].map(lambda v: None if v is None else str(v)[:19])
    return df.sort_values(list(df.columns), kind="mergesort").reset_index(drop=True)


def _differs(got: pd.DataFrame, want: pd.DataFrame) -> str | None:
    if list(got.columns) != list(want.columns):
        return f"columns {list(got.columns)} vs {list(want.columns)}"
    if len(got) != len(want):
        return f"{len(got)} rows vs {len(want)}"
    for c in got.columns:
        a, b = got[c].to_numpy(), want[c].to_numpy()
        if a.dtype.kind == "f" or b.dtype.kind == "f":
            ok = np.allclose(a.astype(float), b.astype(float), rtol=1e-9, atol=0, equal_nan=True)
        else:
            ok = bool((a == b).all())
        if not ok:
            return f"column {c}"
    return None


def _removes(path: str, version) -> int:
    """``remove`` actions in one commit of a Deltaish table."""
    if not isinstance(version, int):
        return 0
    f = os.path.join(path, "_delta_log", f"{version:020d}.json")
    if not os.path.exists(f):
        return 0
    with open(f) as fh:
        return sum(1 for line in fh if '"remove"' in line)
