"""Tick ingest as one closed-loop operation of ``table_dml``.

The reference's streaming wiring (streaming_pipeline.py), run as an
incremental job per operation:

    client writes one parquet tick file (coin, price, timestamp =
    creation stamp, seq) into a landing dir
      -> sources.streams.file_replay
      -> streaming.bronze.windowed_tick_agg (1-minute window, update mode)
      -> bronze DeltaishTable via streaming_sink(txn_app_id)
      -> bronze.as_stream()
      -> streaming.fact.enrich_fact (broadcast coin dimension)
      -> fact DeltaishTable via streaming_sink(txn_app_id)

Both queries run with ``availableNow`` triggers and keep their
checkpoints, so each operation processes exactly the new file. The
operation is timed from the file landing to the fact query's end.

A pandas model keeps every tick and derives the bronze and fact rows
each operation must add; ``expected()`` returns the final tables.
"""

from __future__ import annotations

import json
import os
import time

import numpy as np
import pandas as pd

COIN_ID = 7
LAST_PRICE = 30_000.0
WINDOW_US = 60_000_000


def as_dict(progress) -> dict:
    """A StreamingQueryProgress (or its dict form) as a plain dict."""
    if hasattr(progress, "json"):
        return json.loads(progress.json)
    return dict(progress)


def iso_s(stamp: str) -> float:
    """Progress-record timestamp (ISO-8601, UTC) as epoch seconds."""
    import datetime as dt

    return dt.datetime.fromisoformat(stamp.replace("Z", "+00:00")).timestamp()


class TickPipeline:
    def __init__(self, spark, base: str, fixture: str):
        from pyspark.sql import functions as F
        from pyspark.sql import types as T

        from lakehouse_for_data_streaming_and_analysis_spark.delta import DeltaishTable
        from lakehouse_for_data_streaming_and_analysis_spark.queries.charts import coin_dim
        from lakehouse_for_data_streaming_and_analysis_spark.streaming.bronze import (
            windowed_tick_agg,
        )

        self.spark = spark
        self.base = base
        self.landing = os.path.join(base, "landing")
        os.makedirs(self.landing)
        self.schema = T.StructType(
            [
                T.StructField("coin", T.StringType()),
                T.StructField("price", T.DoubleType()),
                T.StructField("timestamp", T.TimestampType()),
                T.StructField("seq", T.LongType()),
            ]
        )
        empty = spark.createDataFrame([], self.schema)
        self.bronze = DeltaishTable.create(
            spark,
            os.path.join(base, "bronze"),
            windowed_tick_agg(empty, "price", order_col="seq"),
        )
        dim = coin_dim(spark, fixture).filter(F.col("coin_id") == COIN_ID)
        self.supply, symbol = dim.select("supply", "symbol").first()
        self.dim = dim
        self.join_on = F.col("symbol") == F.lit(symbol)
        self.fact = DeltaishTable.create(
            spark,
            os.path.join(base, "fact"),
            self._enrich(self.bronze.read()).limit(0),
            partition_by=("coin_id",),
        )
        self.ticks: list[pd.DataFrame] = []
        self.bronze_rows: list[dict] = []
        self.files = 0
        self.seq = 0
        self.progress: list[dict] = []
        self.landed: dict[int, float] = {}

    def _enrich(self, bronze_df):
        from lakehouse_for_data_streaming_and_analysis_spark.streaming.fact import (
            enrich_fact,
        )

        return enrich_fact(bronze_df, self.dim, "price", self.join_on, LAST_PRICE)

    def _land(self, rng, n: int) -> float:
        import pyarrow as pa
        import pyarrow.parquet as pq

        prices = 30_000.0 + np.round(
            np.cumsum([rng.randint(-300, 300) for _ in range(n)]) * 0.01, 2
        )
        seq = np.arange(self.seq, self.seq + n, dtype=np.int64)
        stamp = time.time()
        stamp_us = int(stamp * 1_000_000)
        tbl = pa.table(
            {
                "coin": pa.array(["bitcoin"] * n),
                "price": pa.array(prices, pa.float64()),
                "timestamp": pa.array(np.full(n, stamp_us), pa.int64()).cast(
                    pa.timestamp("us", tz="UTC")
                ),
                "seq": pa.array(seq),
            }
        )
        name = f"ticks-{self.files:06d}.parquet"
        tmp = os.path.join(self.landing, "." + name)
        pq.write_table(tbl, tmp)
        os.rename(tmp, os.path.join(self.landing, name))
        self.ticks.append(
            pd.DataFrame({"price": prices, "seq": seq, "stamp_us": stamp_us})
        )
        self.landed[self.files] = stamp
        self.files += 1
        self.seq += n
        return stamp

    def run(self, rng, n: int, tracer) -> dict:
        """Land one file of ``n`` ticks and carry it through bronze and
        fact; returns the operation's timing and rows."""
        from lakehouse_for_data_streaming_and_analysis_spark.sources.streams import (
            file_replay,
        )
        from lakehouse_for_data_streaming_and_analysis_spark.streaming.bronze import (
            windowed_tick_agg,
        )

        self._land(rng, n)
        t0 = time.perf_counter()
        with tracer.span("streaming.bronze", f"bronze#{self.files}", "exec"):
            q = (
                windowed_tick_agg(
                    file_replay(self.spark, self.landing, self.schema, 1000),
                    "price",
                    order_col="seq",
                )
                .writeStream.outputMode("update")
                .foreachBatch(self.bronze.streaming_sink(txn_app_id="bronze"))
                .option("checkpointLocation", os.path.join(self.base, "ckpt_bronze"))
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination()
            tracer.attach(str(q.runId))
        t1 = time.perf_counter()
        with tracer.span("streaming.fact", f"fact#{self.files}", "exec"):
            q2 = (
                self._enrich(self.bronze.as_stream())
                .writeStream.foreachBatch(self.fact.streaming_sink(txn_app_id="fact"))
                .option("checkpointLocation", os.path.join(self.base, "ckpt_fact"))
                .trigger(availableNow=True)
                .start()
            )
            q2.awaitTermination()
            tracer.attach(str(q2.runId))
        t2 = time.perf_counter()
        for query, stage in ((q, "bronze"), (q2, "fact")):
            for p in query.recentProgress:
                d = as_dict(p)
                d["stage"] = stage
                d["file"] = self.files - 1
                self.progress.append(d)
        self._model_step()
        return {"s": t2 - t0, "bronze_s": t1 - t0, "fact_s": t2 - t1, "ticks": n}

    def _model_step(self) -> None:
        """Bronze rows the newest file adds: one per window it touched,
        carrying the window's latest tick (max seq) and running mean."""
        all_ticks = pd.concat(self.ticks, ignore_index=True)
        all_ticks["win"] = all_ticks["stamp_us"] // WINDOW_US
        for win in self.ticks[-1]["stamp_us"].floordiv(WINDOW_US).unique():
            w = all_ticks[all_ticks["win"] == win]
            last = w.loc[w["seq"].idxmax()]
            self.bronze_rows.append(
                {
                    "price": float(last["price"]),
                    "timestamp": pd.Timestamp(int(last["stamp_us"]), unit="us"),
                    "average_1minute": float(w["price"].mean()),
                }
            )

    def expected(self) -> dict[str, pd.DataFrame]:
        import datetime as dt

        bronze = pd.DataFrame(
            self.bronze_rows, columns=["price", "timestamp", "average_1minute"]
        )
        ts = [dt.datetime.fromtimestamp(t.value / 1e9, dt.timezone.utc) for t in bronze["timestamp"]]
        fact = pd.DataFrame(
            {
                "coin_id": COIN_ID,
                "date_id": [int(t.strftime("%Y%m%d")) for t in ts],
                "time_id": [int(t.strftime("%H%M%S")) for t in ts],
                "price": bronze["price"],
                "market_cap": bronze["price"] * self.supply,
                "change_percent_last_day": (bronze["price"] - LAST_PRICE) / LAST_PRICE,
                "average_1minute": bronze["average_1minute"],
            }
        )
        return {"bronze": bronze, "fact": fact}

    def figures(self, first_file: int) -> dict:
        """Per-layer figures of the ingest operations from file
        ``first_file`` on."""
        data = [
            p for p in self.progress if p["numInputRows"] > 0 and p["file"] >= first_file
        ]
        dur = lambda k: [p["durationMs"].get(k, 0) for p in data]
        med = lambda xs: float(np.median(xs)) if xs else 0.0
        lag = [
            iso_s(p["timestamp"]) - self.landed[p["file"]]
            for p in data
            if p["stage"] == "bronze"
        ]
        # freshness: fact commit time minus the landing of the file whose
        # last tick the committed row carries
        fresh = []
        for name in sorted(os.listdir(os.path.join(self.fact.path, "_delta_log"))):
            if not (name.endswith(".json") and name[:20].isdigit()):
                continue
            with open(os.path.join(self.fact.path, "_delta_log", name)) as f:
                acts = [json.loads(line) for line in f if line.strip()]
            if any("txn" in a for a in acts):
                ts = next(a["commitInfo"]["timestamp"] for a in acts if "commitInfo" in a)
                fresh.append(ts / 1000.0)
        # the n-th txn commit of the fact table carries the n-th file
        stamps = [self.landed[f] for f in sorted(self.landed)]
        fresh_s = [c - s for c, s in zip(fresh, stamps)][first_file:]
        state = [op for p in data for op in p.get("stateOperators", [])]
        return {
            "freshness_p50_s": med(fresh_s),
            "sources.ticks_generated": sum(len(t) for t in self.ticks[first_file:]),
            "sources.input_lag_s": med(lag),
            "streaming.batches": len(data),
            "streaming.batch_ms_p50": med(dur("triggerExecution")),
            "streaming.batch_ms_max": max(dur("triggerExecution") or [0]),
            "streaming.add_batch_ms_p50": med(dur("addBatch")),
            "streaming.query_planning_ms_p50": med(dur("queryPlanning")),
            "streaming.wal_commit_ms_p50": med(dur("walCommit")),
            "streaming.rows_per_batch_p50": med([p["numInputRows"] for p in data]),
            "streaming.state_rows_max": max([o.get("numRowsTotal", 0) for o in state] or [0]),
            "streaming.state_bytes_max": max(
                [o.get("memoryUsedBytes", 0) for o in state] or [0]
            ),
        }
