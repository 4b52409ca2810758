"""``stream_ingest``: the warehouse write path, one ingest cycle per run.

The turns are sorted by event time and cut into files of ``FILE_TURNS``
turns.  One run is one incremental ingest cycle against one warehouse that
lives for the whole invocation: the next file lands in the source
directory, a bounded ``run_tier_stream`` (AvailableNow, resuming from the
same checkpoint) MERGEs it into the 1m tier, ``refresh_tier_cascade``
re-aggregates the touched days into the 1h tier, and retention keeps the
last ``KEEP_DAYS`` days of both tiers (``expire_partitions``, ``compact``,
``expire_snapshots``).  It runs no Python kernel: its cost is the MERGE,
partitioned commits, lineage flushes and streaming state.
"""

from __future__ import annotations

import os
import threading
import time

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq
from pyspark.sql.streaming import StreamingQueryListener

import harness as H
from inputs import DAY_US, shaped

# ordinary conversations only: about 48k turns over six days
N_CONVS = 1_200
FILE_TURNS = 1_000
KEEP_DAYS = 1
# untimed cycles before the timed ones: the first cycle in a JVM costs about
# twice a warm one
WARM_CYCLES = 1
TRACED_CYCLES = 1
TABLES = ("tier_1m", "tier_1h")
AGGS = ["n_points", "sum_value", "min_value", "max_value"]
MINUTE_US = 60_000_000
HOUR_US = 3_600_000_000


class ProgressListener(StreamingQueryListener):
    """Per-micro-batch durations (seconds) from the query progress events."""

    def __init__(self) -> None:
        self.batches: list[dict] = []
        self.done = threading.Event()
        self._lock = threading.Lock()

    def onQueryStarted(self, event) -> None:
        pass

    def onQueryProgress(self, event) -> None:
        d = event.progress.durationMs
        with self._lock:
            self.batches.append({k: v / 1000.0 for k, v in d.items()})

    def onQueryIdle(self, event) -> None:
        pass

    def onQueryTerminated(self, event) -> None:
        self.done.set()

    def take(self) -> list[dict]:
        with self._lock:
            out, self.batches = self.batches, []
        return out


def day_key(us: int) -> str:
    return time.strftime("%Y-%m-%d", time.gmtime(us // 1_000_000))


def day_us(day: str) -> int:
    return int(pd.Timestamp(day, tz="UTC").value // 1000)


def tiers(key: np.ndarray, ts_us: np.ndarray, value: np.ndarray) -> dict[str, pd.DataFrame]:
    """The 1m tier (n/sum/min/max per key and minute) and the 1h tier
    cascaded from it, with ``window_start`` in epoch microseconds, sorted."""
    pts = pd.DataFrame({"key": key, "ws": ts_us // MINUTE_US * MINUTE_US, "v": value})
    m = (
        pts.groupby(["key", "ws"], sort=True)["v"]
        .agg(n_points="count", sum_value="sum", min_value="min", max_value="max")
        .reset_index()
    )
    m["n_points"] = m["n_points"].astype(np.int64)
    h = (
        m.assign(ws=m["ws"] // HOUR_US * HOUR_US)
        .groupby(["key", "ws"], sort=True)
        .agg(
            n_points=("n_points", "sum"),
            sum_value=("sum_value", "sum"),
            min_value=("min_value", "min"),
            max_value=("max_value", "max"),
        )
        .reset_index()
    )
    return {"tier_1m": m, "tier_1h": h}


def frame(df) -> pd.DataFrame:
    """A tier DataFrame in the shape :func:`tiers` returns."""
    import pyspark.sql.functions as F

    return (
        df.select("key", F.unix_micros("window_start").alias("ws"), *AGGS)
        .toPandas()
        .sort_values(["key", "ws"])
        .reset_index(drop=True)
    )


def same(got: pd.DataFrame, exp: pd.DataFrame) -> bool:
    return len(got) == len(exp) and all(
        (got[c].to_numpy() == exp[c].to_numpy()).all() for c in ["key", "ws", *AGGS]
    )


def dir_bytes(path: str) -> int:
    total = 0
    for d, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(d, f)) for f in files)
    return total


def data_dirs(wh, table: str) -> int:
    snaps = {s["id"]: s for s in wh.snapshots(table)}
    return sum(len(ds) for ds in snaps[wh.current_snapshot(table)]["parts"].values())


class StreamIngest:
    min_runs = 3

    def __init__(self, ctx) -> None:
        self.ctx = ctx
        self.cycles = 0
        self.n_turns = FILE_TURNS

    def generate_input(self) -> None:
        """Generate the turns, sort them by event time and write them as
        files of FILE_TURNS turns into a staging directory."""
        ctx = self.ctx
        with ctx.span("datagen.generate_transcripts"):
            tbl = shaped(ctx.seed, N_CONVS)
        tbl = tbl.sort_by("ts")
        self.key = tbl.column("conv_id").to_numpy(zero_copy_only=False)
        self.ts = tbl.column("ts").cast(pa.int64()).to_numpy()
        self.value = pc.utf8_length(tbl.column("text")).to_numpy().astype(np.float64)
        self.n_files = tbl.num_rows // FILE_TURNS
        self.staged = ctx.work.sub("staged")
        os.makedirs(self.staged, exist_ok=True)
        for i in range(self.n_files):
            part = tbl.slice(i * FILE_TURNS, FILE_TURNS)
            pq.write_table(part, os.path.join(self.staged, f"part-{i:03d}.parquet"))

    def setup(self) -> None:
        """The source directory, an empty warehouse, then the warm-up
        cycles."""
        from streaming_downsampling_spark.sources.tables import Warehouse

        spark = self.ctx.spark
        self.listener = ProgressListener()
        spark.streams.addListener(self.listener)
        self.root = self.ctx.work.sub("ingest")
        self.src = os.path.join(self.root, "source")
        os.makedirs(self.src)
        self.wh = Warehouse(spark, os.path.join(self.root, "warehouse"))
        clocks = []
        for i in range(WARM_CYCLES):
            clock, ok = self.run_once()
            self.ctx.check(ok, f"warm-up cycle {i}")
            clocks.append(clock)
        H.log(f"warm-up cycles (wall/cpu s): {H.fmt(clocks)}")

    def check_reference(self) -> bool:
        """The reference tiers of the whole input equal batch ``rollup`` and
        ``cascade`` over the staged files."""
        from streaming_downsampling_spark.operators.rollup import (
            cascade,
            rollup,
            with_signal,
        )

        r1m = rollup(with_signal(self.ctx.spark.read.parquet(self.staged)), "1m")
        n = self.n_files * FILE_TURNS
        ref = tiers(self.key[:n], self.ts[:n], self.value[:n])
        return same(frame(r1m), ref["tier_1m"]) and same(frame(cascade(r1m, "1h")), ref["tier_1h"])

    def more(self) -> bool:
        return self.cycles < self.n_files

    def drive(self, wh, log, since_day: str, cutoff: str) -> dict:
        """The timed part of one cycle."""
        from streaming_downsampling_spark.streaming.jobs import (
            refresh_tier_cascade,
            run_tier_stream,
        )

        spark, span = self.ctx.spark, self.ctx.span
        with span("streaming.jobs.run_tier_stream") as s:
            stats = run_tier_stream(
                spark,
                self.src,
                os.path.join(self.root, "checkpoint"),
                wh,
                table="tier_1m",
                tier="1m",
                max_files_per_trigger=1,
                lineage=log,
            )
            s.counts.update(stats)
        with span("streaming.jobs.refresh_tier_cascade") as s:
            self.cascade = refresh_tier_cascade(
                spark, wh, "tier_1m", "tier_1h", to_tier="1h", since_day=since_day, lineage=log
            )
            s.counts.update(self.cascade)
        for t in TABLES:
            wh.expire_partitions(t, before=cutoff)
            wh.compact(t, partition_by="p_day")
            wh.expire_snapshots(t, keep_last=1)
        return stats

    def verify(self, wh, stats: dict, n: int, cutoff: str) -> bool:
        """Both tiers equal the reference tiers of the first ``n`` turns on
        the kept days; the expired days are gone; no row came late."""
        ok = stats["late_rows_dropped"] == 0 and stats["rows_merged"] > 0
        ref = tiers(self.key[:n], self.ts[:n], self.value[:n])
        for t in TABLES:
            exp = ref[t]
            exp = exp[exp["ws"].to_numpy() >= day_us(cutoff)].reset_index(drop=True)
            got = frame(wh.read(t))
            equal = same(got, exp)
            gone = all(k >= cutoff for k in wh.partition_keys(t))
            if not (equal and gone):
                H.log(f"{t}: {len(got)} rows vs {len(exp)} expected, expired gone={gone}")
            ok = ok and equal and gone
        if not ok:
            H.log(f"stream_ingest check failed after {n} turns: {stats}")
        return ok

    def run_once(self, wh=None, lineage_class=None) -> tuple[H.Clock, bool]:
        """One ingest cycle over the next staged file.  ``wh`` and
        ``lineage_class`` replace the warehouse object and the lineage log
        class (the traced run passes timing subclasses)."""
        from streaming_downsampling_spark.plans.lineage import LineageLog

        i = self.cycles
        self.cycles += 1
        name = f"part-{i:03d}.parquet"
        os.link(os.path.join(self.staged, name), os.path.join(self.src, name))
        n = (i + 1) * FILE_TURNS
        # the windows this file can touch start at most a minute before it
        since_day = day_key(int(self.ts[i * FILE_TURNS]) - MINUTE_US)
        cutoff = day_key(int(self.ts[n - 1]) - KEEP_DAYS * DAY_US)
        wh = wh or self.wh
        self.listener.done.clear()
        self.listener.take()
        with H.Clock() as clock:
            self.stats = self.drive(wh, (lineage_class or LineageLog)(wh), since_day, cutoff)
        self.listener.done.wait(timeout=30)
        self.batches = self.listener.take()
        ok = self.verify(wh, self.stats, n, cutoff)
        return clock, ok

    # -- traced run -------------------------------------------------------------
    def traced(self) -> dict:
        """More cycles through thin timing subclasses of ``Warehouse`` and
        ``LineageLog``, passed in through ``run_tier_stream``; then the
        check of the reference tiers against batch ``rollup`` and
        ``cascade``, and the document and embedding catalog leaves."""
        from catalog import DOCUMENT_LEAVES, trace_leaves
        from streaming_downsampling_spark.plans.lineage import LineageLog
        from streaming_downsampling_spark.sources.tables import Warehouse

        span = self.ctx.span
        counts = {"calls": 0, "partitions_touched": 0, "dirs_before": 0, "dirs_after": 0}

        class TimedWarehouse(Warehouse):
            def merge_upsert(self, table, df, keys, partition_by=None):
                with span("sources.tables.Warehouse.merge_upsert"):
                    before = self.snapshots(table)[-1]["parts"] if self.exists(table) else {}
                    snap = super().merge_upsert(table, df, keys, partition_by)
                    after = self.snapshots(table)[-1]["parts"]
                counts["calls"] += 1
                counts["partitions_touched"] += sum(
                    1 for p, ds in after.items() if before.get(p) != ds
                )
                return snap

            def compact(self, table, partition_by=None):
                counts["dirs_before"] += data_dirs(self, table)
                with span("sources.tables.Warehouse.compact"):
                    snap = super().compact(table, partition_by)
                counts["dirs_after"] += data_dirs(self, table)
                return snap

            def expire_partitions(self, table, before):
                with span("sources.tables.Warehouse.expire_partitions"):
                    return super().expire_partitions(table, before)

            def expire_snapshots(self, table, keep_last=2):
                with span("sources.tables.Warehouse.expire_snapshots"):
                    return super().expire_snapshots(table, keep_last)

        class TimedLineage(LineageLog):
            def flush(self, spark):
                with span("plans.lineage.LineageLog.flush"):
                    return super().flush(spark)

        wh = TimedWarehouse(self.ctx.spark, self.wh.root)
        m = {
            "streaming.jobs.run_tier_stream.batches": 0,
            "streaming.jobs.run_tier_stream.rows_merged": 0,
            "streaming.jobs.run_tier_stream.late_rows_dropped": 0,
            "streaming.jobs.refresh_tier_cascade.rows": 0,
        }
        walls, batches = [], []
        for i in range(TRACED_CYCLES):
            if not self.more():
                break
            clock, ok = self.run_once(wh, TimedLineage)
            self.ctx.check(ok, f"traced cycle {i}")
            walls.append(clock.wall)
            batches += self.batches
            for k in ("batches", "rows_merged", "late_rows_dropped"):
                m[f"streaming.jobs.run_tier_stream.{k}"] += self.stats[k]
            m["streaming.jobs.refresh_tier_cascade.rows"] += self.cascade["rows"]
        self.wall = H.median(walls)
        # the retention cost: on-disk bytes of both tier tables
        stored = sum(dir_bytes(os.path.join(self.wh.root, t)) for t in TABLES)
        self.ctx.check(self.check_reference(), "reference tiers against batch rollup and cascade")
        trace_leaves(self.ctx, DOCUMENT_LEAVES)
        data = [b for b in batches if b.get("addBatch", 0.0) > 0]
        m.update(
            {
                "streaming.progress.trigger_s.p50": H.median(
                    [b["triggerExecution"] for b in data]
                ),
                "streaming.progress.add_batch_s.p50": H.median([b["addBatch"] for b in data]),
                "streaming.progress.wal_commit_s.p50": H.median(
                    [b.get("walCommit", 0.0) for b in data]
                ),
                "sources.tables.Warehouse.merge_upsert.calls": counts["calls"],
                "sources.tables.Warehouse.merge_upsert.partitions_touched": counts[
                    "partitions_touched"
                ],
                "sources.tables.Warehouse.data_dirs_before": counts["dirs_before"],
                "sources.tables.Warehouse.data_dirs_after": counts["dirs_after"],
                "sources.tables.Warehouse.stored_mb": stored / 1e6,
            }
        )
        return m

    def traced_wall(self) -> float:
        return self.wall
