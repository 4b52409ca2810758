"""``tier_batch``: the transcript pipeline as one batch job.

One run is the shape of ``bench.transcript_pipeline``: 1m rollup → 1h/1d
cascade, 1h linear gap-fill, and one shared ``prepare_sorted`` feeding both
the model downsampler and the Gorilla encoder, all four branches in ONE
action.  Most of its time is shuffle+sort, the JVM→Python Arrow hop and the
numpy kernels; the warehouse is not used.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

import harness as H
from inputs import shaped

# 608 conversations, one (conversation, day) group each: 8 long ones of
# 2,000 turns (40% of the turns, through the scalar model path) and 600
# ordinary ones of about 40 turns (through the batched path); about 40k turns
N_SHORT = 600
N_LONG = 8
LONG_TURNS = 2_000
# untimed runs after the reference run: the reference run, the first in the
# JVM, costs about twice a warm one, the next about 15% more
WARM_RUNS = 1


def points(tbl: pa.Table) -> pd.DataFrame:
    """The (key, ts_us, value) points the pipeline sees, value = length(text)."""
    return pd.DataFrame(
        {
            "key": tbl.column("conv_id").to_numpy(zero_copy_only=False),
            "ts_us": tbl.column("ts").cast(pa.int64()).to_numpy(),
            "value": pc.utf8_length(tbl.column("text")).to_numpy().astype(np.float64),
        }
    )


def day_groups(pts: pd.DataFrame) -> int:
    """Distinct (conversation, UTC day) groups: one model window each."""
    day = pts["ts_us"].to_numpy() // 86_400_000_000
    return int(pd.DataFrame({"k": pts["key"], "d": day}).drop_duplicates().shape[0])


def sorted_points(df: pd.DataFrame) -> pd.DataFrame:
    out = df[["key", "ts_us", "value"]].copy()
    out["bits"] = out["value"].to_numpy(dtype=np.float64).view(np.int64)
    return out.sort_values(["key", "ts_us", "bits"]).reset_index(drop=True)


def gorilla_round_trips(spark, chunks: pd.DataFrame, expected: pd.DataFrame) -> bool:
    """True when the chunk rows decode through ``decompress_chunks`` (which
    verifies each chunk's checksum) to exactly ``expected``'s points, bit
    for bit."""
    from streaming_downsampling_spark.operators.compress import (
        CHUNK_SCHEMA,
        decompress_chunks,
    )

    try:
        got = decompress_chunks(spark.createDataFrame(chunks, CHUNK_SCHEMA)).toPandas()
    except Exception:
        H.log_failure("gorilla decode")
        return False
    a, b = sorted_points(got), sorted_points(expected)
    same = (
        len(a) == len(b)
        and (a["key"].to_numpy() == b["key"].to_numpy()).all()
        and (a["ts_us"].to_numpy() == b["ts_us"].to_numpy()).all()
        and (a["bits"].to_numpy() == b["bits"].to_numpy()).all()
    )
    if not same:
        H.log(f"gorilla round trip differs: {len(a)} decoded vs {len(b)} points")
    return same


def prepared(df):
    from streaming_downsampling_spark.operators._groupmap import prepare_sorted

    return prepare_sorted(df, "1 day", "conv_id", "ts", "value", "turn_idx")


def chunks(prep):
    from streaming_downsampling_spark.operators._groupmap import apply_sorted
    from streaming_downsampling_spark.operators.compress import (
        CHUNK_SCHEMA,
        encode_frame_fn,
    )

    return apply_sorted(prep, encode_frame_fn(), CHUNK_SCHEMA)


class TierBatch:
    min_runs = 3

    def __init__(self, ctx) -> None:
        self.ctx = ctx
        self.reference: dict | None = None

    # -- set-up ---------------------------------------------------------------
    def generate_input(self) -> None:
        """Generate the turns and write them as parquet."""
        with self.ctx.span("datagen.generate_transcripts"):
            tbl = shaped(self.ctx.seed, N_SHORT, N_LONG, LONG_TURNS)
        self.path = self.ctx.work.sub("transcripts.parquet")
        pq.write_table(tbl, self.path)
        self.points = points(tbl)
        self.n_turns = tbl.num_rows
        self.groups = day_groups(self.points)

    def setup(self) -> None:
        """Load the input into the session's cache, then the reference run:
        it is also the deep check (its Gorilla chunks must round-trip) and
        later runs must reproduce its branch totals.  Then the warm-up."""
        self.df = self.load(self.ctx.spark)
        got, first = self.pipeline(self.df)
        self.ctx.check(self.check(got), "tier_batch reference run")
        self.reference = got
        self.ctx.check(self.verify_chunks(), "gorilla round trip")
        clocks = [first]
        for i in range(WARM_RUNS):
            clock, ok = self.run_once()
            self.ctx.check(ok, f"warm-up run {i}")
            clocks.append(clock)
        H.log(f"reference and warm-up runs (wall/cpu s): {H.fmt(clocks)}")

    def load(self, spark):
        from streaming_downsampling_spark.operators.rollup import with_signal

        cores = spark.sparkContext.defaultParallelism
        df = with_signal(spark.read.parquet(self.path))
        df = df.select("conv_id", "turn_idx", "ts", "value").repartition(2 * cores)
        df = df.persist()
        df.count()
        return df

    def verify_chunks(self) -> bool:
        prep = prepared(self.df).persist()
        try:
            self.chunk_rows = chunks(prep).toPandas()
        finally:
            prep.unpersist()
        if int(self.chunk_rows["enc_bytes"].sum()) != int(self.reference["gorilla_bytes"]):
            H.log("collected chunks disagree with the run's enc_bytes total")
            return False
        return gorilla_round_trips(self.ctx.spark, self.chunk_rows, self.points)

    # -- one run --------------------------------------------------------------
    def pipeline(self, df) -> tuple[dict, H.Clock]:
        import pyspark.sql.functions as F

        from streaming_downsampling_spark.operators._groupmap import apply_sorted
        from streaming_downsampling_spark.operators.downsample import (
            MODEL_SCHEMA,
            model_frame_fn,
        )
        from streaming_downsampling_spark.operators.gapfill import gapfill
        from streaming_downsampling_spark.operators.rollup import cascade, rollup

        with H.Clock() as clock:
            r1m = rollup(df, "1m")
            r1h = cascade(r1m, "1h")
            r1d = cascade(r1h, "1d")
            prep = prepared(df).persist()
            branches = [
                r1d.agg(F.sum("n_points").cast("double").alias("v")).select(
                    F.lit("tier_points").alias("phase"), "v"
                ),
                gapfill(r1h, "1h", method="linear")
                .agg(F.count(F.lit(1)).cast("double").alias("v"))
                .select(F.lit("gapfill_rows").alias("phase"), "v"),
                apply_sorted(prep, model_frame_fn(), MODEL_SCHEMA)
                .agg(F.count(F.lit(1)).cast("double").alias("v"))
                .select(F.lit("model_windows").alias("phase"), "v"),
                chunks(prep)
                .agg(F.sum("enc_bytes").cast("double").alias("v"))
                .select(F.lit("gorilla_bytes").alias("phase"), "v"),
            ]
            summary = branches[0]
            for b in branches[1:]:
                summary = summary.unionByName(b)
            got = {r["phase"]: r["v"] for r in summary.collect()}
        prep.unpersist()
        return got, clock

    def check(self, got: dict) -> bool:
        ok = (
            int(got["tier_points"]) == self.n_turns
            and int(got["model_windows"]) == self.groups
            and got["gorilla_bytes"] > 0
            and got["gapfill_rows"] > 0
        )
        if ok and self.reference is not None:
            ok = all(got[k] == self.reference[k] for k in ("gapfill_rows", "gorilla_bytes"))
        if not ok:
            H.log(
                f"tier_batch check failed: {got} vs turns={self.n_turns} "
                f"groups={self.groups} reference={self.reference}"
            )
        return ok

    def run_once(self) -> tuple[H.Clock, bool]:
        got, clock = self.pipeline(self.df)
        return clock, self.check(got)

    # -- traced run -------------------------------------------------------------
    def traced(self) -> dict:
        """Each layer materialized as its own action, in dependency order,
        then the numpy kernels in this process over the same group values,
        then the time-series catalog leaves."""
        import pyspark.sql.functions as F
        from catalog import EVENT_LEAVES, trace_leaves

        from streaming_downsampling_spark.operators._groupmap import apply_sorted
        from streaming_downsampling_spark.operators.downsample import (
            MODEL_SCHEMA,
            model_frame_fn,
        )
        from streaming_downsampling_spark.operators.gapfill import gapfill
        from streaming_downsampling_spark.operators.rollup import cascade, rollup

        span, check, df, m = self.ctx.span, self.ctx.check, self.df, {}
        layers = []
        with span("operators.rollup.rollup") as s:
            r1m = rollup(df, "1m").persist()
            m["operators.rollup.rollup.rows_out"] = r1m.count()
        layers.append(s)
        with span("operators.rollup.cascade") as s:
            r1h = cascade(r1m, "1h").persist()
            n1h = r1h.count()
            r1d = (
                cascade(r1h, "1d")
                .agg(F.count(F.lit(1)).alias("n"), F.sum("n_points").alias("pts"))
                .first()
            )
            m["operators.rollup.cascade.rows_out"] = n1h + r1d["n"]
        layers.append(s)
        check(int(r1d["pts"]) == self.n_turns, "traced 1d tier points")
        with span("operators.gapfill.gapfill") as s:
            g = (
                gapfill(r1h, "1h", method="linear")
                .agg(
                    F.count(F.lit(1)).alias("n"),
                    F.sum(F.col("filled").cast("long")).alias("f"),
                )
                .first()
            )
            m["operators.gapfill.gapfill.rows_out"] = g["n"]
            m["operators.gapfill.gapfill.filled_frac"] = g["f"] / g["n"]
        layers.append(s)
        check(g["n"] == self.reference["gapfill_rows"], "traced gap-fill rows")
        r1m.unpersist()
        r1h.unpersist()
        with span("operators._groupmap.prepare_sorted") as s:
            prep = prepared(df).persist()
            prep.count()
        layers.append(s)
        with span("operators._groupmap.apply_sorted") as s:
            # an identity frame_fn: the Arrow-transfer floor
            apply_sorted(prep, lambda body: body, prep.schema).write.format("noop").mode(
                "overwrite"
            ).save()
        layers.append(s)
        m["operators._groupmap.apply_sorted.passthrough_s"] = s.end - s.start
        with span("operators.downsample.model_frame_fn") as s:
            r = (
                apply_sorted(prep, model_frame_fn(), MODEL_SCHEMA)
                .agg(
                    F.count(F.lit(1)).alias("g"),
                    F.sum((F.col("n") > 200).cast("long")).alias("long"),
                )
                .first()
            )
            m["operators.downsample.model_frame_fn.groups"] = r["g"]
            m["operators.downsample.model_frame_fn.groups_long"] = r["long"]
        layers.append(s)
        check(r["g"] == self.groups, "traced model windows")
        with span("operators.compress.encode_frame_fn") as s:
            enc = chunks(prep).agg(F.sum("enc_bytes").alias("b")).first()["b"]
            m["operators.compress.encode_frame_fn.enc_mb"] = enc / 1e6
            m["operators.compress.bytes_per_point"] = enc / self.n_turns
        layers.append(s)
        check(enc == self.reference["gorilla_bytes"], "traced enc_bytes")
        self.layer_spans = layers
        frame = prep.select("key", "window_start", "_ts", "_value").toPandas()
        prep.unpersist()
        self.local_kernels(frame)
        trace_leaves(self.ctx, EVENT_LEAVES)
        return m

    def local_kernels(self, frame: pd.DataFrame) -> None:
        """The numpy kernels the grouped operators call, run in this process
        over the same sorted group values."""
        from streaming_downsampling_spark.functions import gorilla as G
        from streaming_downsampling_spark.functions import kernels as K
        from streaming_downsampling_spark.operators._groupmap import group_bounds

        span = self.ctx.span
        bounds, _, _ = group_bounds(frame)
        raw = frame["_value"].to_numpy(dtype=np.float64)
        vals = K.sanitize(raw)
        lengths = np.diff(bounds)
        small = np.flatnonzero(lengths <= 200)
        with span("functions.kernels.model_downsample_batch"):
            for n in np.unique(lengths[small]):
                gs = small[lengths[small] == n]
                X = np.stack([vals[bounds[g] : bounds[g] + n] for g in gs])
                K.model_downsample_batch(X)
        with span("functions.kernels.model_downsample"):
            for g in np.flatnonzero(lengths > 200):
                K.model_downsample(vals[bounds[g] : bounds[g + 1]])
        ts_us = pd.to_datetime(frame["_ts"]).to_numpy(dtype="datetime64[us]").astype(np.int64)
        with span("functions.gorilla.encode_timestamps_batched"):
            G.encode_timestamps_batched(ts_us, bounds)
        with span("functions.gorilla.encode_values_batched"):
            G.encode_values_batched(raw, bounds)
        ts_blobs = [bytes(b) for b in self.chunk_rows["ts_blob"]]
        val_blobs = [bytes(b) for b in self.chunk_rows["val_blob"]]
        with span("functions.gorilla.decode_timestamps_batched"):
            G.decode_timestamps_batched(ts_blobs)
        with span("functions.gorilla.decode_values_batched"):
            G.decode_values_batched(val_blobs)

    def traced_wall(self) -> float:
        return sum(s.end - s.start for s in self.layer_spans)

    def single_core(self, spark) -> float:
        """Wall time of one run on ``spark``, a one-core session in the JVM
        the timed runs warmed."""
        df = self.load(spark)
        got, clock = self.pipeline(df)
        self.ctx.check(self.check(got), "single-core run")
        df.unpersist()
        return clock.wall
