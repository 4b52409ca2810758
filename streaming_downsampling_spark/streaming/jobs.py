"""Structured Streaming tier jobs with watermarks + checkpointed resume.

The reference's Flink job runs with watermarks explicitly disabled and
claims checkpointing it never configures
(/root/reference/core/streaming_pipeline.py:227,214; README.md:48).  Here the
streaming path is first-class:

* file-source ``readStream`` over the transcript parquet directory (on a
  cluster: Kafka or an Iceberg streaming scan — the source is one line),
* ``withWatermark("ts", ...)`` bounds state; late rows beyond the watermark
  are dropped by Spark and surfaced via the ``numRowsDroppedByWatermark``
  progress metric into the metrics table,
* the windowed aggregate is ``operators.rollup.tier_aggregate``, the same
  definition the batch ``rollup``/``cascade`` use,
* ``foreachBatch`` + idempotent warehouse MERGE keyed on (key, window_start)
  → exactly-once at the table level across restarts: the checkpoint replays
  at-least-once, the MERGE makes it converge.  :func:`merge_by_day` is the
  one day-partitioned MERGE sink, shared by the stream, the cascade refresh
  and the ``stream_tier_cascade`` catalog query,
* resume = same ``checkpointLocation`` + the warehouse's current snapshot.

``run_tier_stream`` uses ``Trigger.AvailableNow`` so tests/benches run it as
a bounded job; a production deployment passes ``trigger=processingTime``.

State partitions: a stateful query's partition count is
``spark.sql.shuffle.partitions`` at its first ``start()``, and Spark records
it in the checkpoint's offset log, so it is fixed per checkpoint for good and
every restart restores it.  ``run_tier_stream`` starts a fresh checkpoint
with :data:`TIER_STREAM_PARTITIONS` = 1 (:func:`stream_partitions` scopes the
value to that one ``start()``); checkpoints written before keep the count
they recorded.
"""

from __future__ import annotations

import time
from contextlib import contextmanager

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..operators.rollup import tier_aggregate
from ..plans.lineage import LineageLog
from ..sources.tables import Warehouse

# State partitions of a fresh tier-stream checkpoint (see run_tier_stream)
TIER_STREAM_PARTITIONS = 1


@contextmanager
def stream_partitions(spark: SparkSession, n):
    """Set ``spark.sql.shuffle.partitions`` to ``n`` on ``spark`` for the
    body (a streaming query's ``start()``) and restore it in ``finally``.

    ``start()`` clones the session, so the query keeps ``n`` (and a fresh
    checkpoint records it as its state partition count) while the caller's
    session reads its own value again afterwards."""
    old = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", str(n))
    try:
        yield
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old)


def merge_by_day(warehouse: Warehouse, table: str, df: DataFrame) -> tuple[int, int | None]:
    """The one tier MERGE sink: add the day partition column ``p_day``
    (Iceberg-style days(window_start)), persist, count, and MERGE on
    (key, window_start) partition-scoped — each commit rewrites only the
    days the frame touches, O(batch) not O(table).  A frame with no rows
    commits nothing.  The frame is unpersisted even when the MERGE raises.
    Returns ``(rows, snapshot)``; ``snapshot`` is None when nothing was
    committed."""
    df = df.withColumn("p_day", F.date_format("window_start", "yyyy-MM-dd")).persist()
    try:
        n = df.count()
        if not n:
            return 0, None
        return n, warehouse.merge_upsert(
            table, df, keys=["key", "window_start"], partition_by="p_day"
        )
    finally:
        df.unpersist()


def write_json_feed(df: DataFrame, out_dir: str, files: int = 6) -> None:
    """Producer side of the reference's JSON wire format
    (/root/reference/core/streaming_pipeline.py:57-85,172-192): turns
    serialized as JSON records into time-range-ordered files (the file-queue
    stand-in for Kafka topic partitions; gzip/batching knobs live on the
    writer).  Non-finite doubles sanitize to 0.0 at serialization, the
    serializer's rule."""
    clean = df
    for f_name, dt in [(fld.name, fld.dataType.simpleString()) for fld in df.schema.fields]:
        if dt == "double":
            clean = clean.withColumn(
                f_name,
                F.when(
                    F.isnan(f_name) | (F.abs(f_name) == float("inf")), F.lit(0.0)
                ).otherwise(F.col(f_name)),
            )
    (
        clean.repartitionByRange(files, "ts")
        .write.mode("overwrite")
        .option("timestampFormat", "yyyy-MM-dd'T'HH:mm:ss.SSSSSSXXX")
        .json(out_dir)
    )


def build_stream_source(
    spark: SparkSession,
    source_dir: str,
    source_format: str = "parquet",
    schema=None,
    max_files_per_trigger: int = 4,
    kafka_servers: str = "localhost:9092",
    kafka_topic: str | None = None,
) -> DataFrame:
    """The ONE-LINE source seam the Kafka-transport gap documents: the same
    tier job consumes a parquet directory, the reference's JSON wire format
    (/root/reference/core/streaming_pipeline.py:57-85), or a Kafka topic —
    the downstream watermark/window/MERGE pipeline never changes.

    ``kafka`` builds ``readStream.format("kafka")`` with the topic's value
    bytes deserialized through the SAME JSON schema as the file feed (S7
    semantics).  The connector jar is not present in this sandbox, so the
    kafka branch resolves only on a real deployment; the contract test pins
    that the reader construction reaches Spark's source resolution with the
    right format string and deserialization chain."""
    if source_format == "kafka":
        if schema is None:
            # fail fast at the public seam too — otherwise from_json(None)
            # surfaces as an opaque pyspark TypeError far from the cause
            raise ValueError(
                "build_stream_source(source_format='kafka') needs an "
                "explicit schema: Kafka value bytes carry no schema to "
                "infer from"
            )
        raw = (
            spark.readStream.format("kafka")
            .option("kafka.bootstrap.servers", kafka_servers)
            .option("subscribe", kafka_topic or source_dir)
            .option("startingOffsets", "earliest")
            .load()
        )
        return raw.select(
            F.from_json(
                F.col("value").cast("string"),
                schema,
                {"timestampFormat": "yyyy-MM-dd'T'HH:mm:ss.SSSSSSXXX"},
            ).alias("r")
        ).select("r.*")
    if schema is None:
        # file feeds CAN infer: one batch read of the directory, instead
        # of pyspark's opaque TypeError from readStream.schema(None)
        schema = spark.read.format(source_format).load(source_dir).schema
    reader = spark.readStream.schema(schema).option(
        "maxFilesPerTrigger", max_files_per_trigger
    )
    if source_format == "json":
        return reader.option(
            "timestampFormat", "yyyy-MM-dd'T'HH:mm:ss.SSSSSSXXX"
        ).json(source_dir)
    return reader.parquet(source_dir)


def run_tier_stream(
    spark: SparkSession,
    source_dir: str,
    checkpoint_dir: str,
    warehouse: Warehouse,
    table: str = "rollup_1m_stream",
    tier: str = "1m",
    key_col: str = "conv_id",
    ts_col: str = "ts",
    text_col: str = "text",
    watermark: str = "10 minutes",
    max_files_per_trigger: int = 4,
    schema=None,
    source_format: str = "parquet",
    lineage: LineageLog | None = None,
    kafka_servers: str = "localhost:9092",
    kafka_topic: str | None = None,
) -> dict:
    """Run one bounded (AvailableNow) pass of the tier stream.

    Each micro-batch MERGEs into the warehouse table keyed on
    (key, window_start) — re-running after a kill cannot duplicate windows.
    ``source_format="json"`` consumes the reference's JSON wire format
    (each record deserialized with the stream schema — S7 semantics:
    malformed records parse to nulls instead of crashing the job);
    ``source_format="kafka"`` forwards ``kafka_servers``/``kafka_topic``
    to the source seam and REQUIRES an explicit ``schema`` (there is no
    file feed to infer one from — a Kafka value blob carries no schema).
    Returns run stats.

    The query starts with ``spark.sql.shuffle.partitions`` =
    :data:`TIER_STREAM_PARTITIONS` (1), scoped to its ``start()``; the
    caller's session keeps its own value.  One partition holds the windowed
    state and runs each MERGE shuffle of the sink (Spark turns AQE off in a
    stream's session, so nothing coalesces them).  The cost of a state
    partition is per partition, not per row: each micro-batch commits a
    delta file, a checksum and their ``.crc`` files per partition, and the
    state holds only the windows inside the watermark (about 150 rows after
    a 1,000-turn trigger), so 8 partitions cost about ten times the task
    time of 1.
    The count is recorded in the checkpoint at its first batch and fixed for
    good: a checkpoint created with another count keeps it on every resume.
    A stream whose watermark holds far more state than one task can commit
    per trigger would need a new checkpoint with more partitions, sized on a
    benchmark workload of that shape.
    """
    src = build_stream_source(
        spark,
        source_dir,
        source_format=source_format,
        schema=schema,
        max_files_per_trigger=max_files_per_trigger,
        kafka_servers=kafka_servers,
        kafka_topic=kafka_topic,
    )
    # P4 type coercion: a JSON feed with an inferred string event-time (or a
    # producer that wrote ISO strings) is coerced, not crashed on
    if dict(src.dtypes).get(ts_col) != "timestamp":
        src = src.withColumn(ts_col, F.col(ts_col).cast("timestamp"))
    src = src.withColumn("value", F.length(F.col(text_col)).cast("double"))
    # first/last by turn order need arbitrary per-group state, so the stream
    # carries the algebraic n/sum/min/max (stateful.py keeps first/last)
    agg = tier_aggregate(
        src.withWatermark(ts_col, watermark), tier, first_last=False, key_col=key_col, ts_col=ts_col
    )

    log = lineage or LineageLog(warehouse)
    stats = {"batches": 0, "rows_merged": 0}

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        t0 = time.time()
        n, snap = merge_by_day(warehouse, table, batch_df)
        if n:
            log.record_batch(batch_id, table, "merge", n, n, snap, t0)
        stats["batches"] += 1
        stats["rows_merged"] += n

    with stream_partitions(spark, TIER_STREAM_PARTITIONS):
        q = (
            agg.writeStream.outputMode("update")
            .option("checkpointLocation", checkpoint_dir)
            .trigger(availableNow=True)
            .foreachBatch(sink)
            .start()
        )
    return _finish_stream(spark, q, log, stats)


def _finish_stream(spark, q, log, stats) -> dict:
    q.awaitTermination()
    # surface watermark-dropped rows into metrics.  recentProgress is a
    # ring buffer (spark.sql.streaming.numRecentProgressUpdates, raised to
    # 10k in session.get_spark) — the gauge is exact for any drive within
    # that many micro-batches; longer-lived production streams should
    # accumulate via a StreamingQueryListener instead of this tail sum.
    dropped = 0
    for p in q.recentProgress:
        state = p.get("stateOperators") or []
        for s in state:
            dropped += s.get("numRowsDroppedByWatermark", 0) or 0
    log.gauge("late_rows_dropped", float(dropped))
    log.gauge("batches", float(stats["batches"]))
    log.flush(spark)
    stats["late_rows_dropped"] = dropped
    stats["job_id"] = log.job_id
    return stats


def refresh_tier_cascade(
    spark: SparkSession,
    warehouse: Warehouse,
    src_table: str,
    dst_table: str,
    to_tier: str = "1h",
    since_day: str | None = None,
    lineage: LineageLog | None = None,
) -> dict:
    """Incrementally refresh a coarser continuous-aggregate tier from the
    fine streaming tier table (the 1m→1h→1d cascade as a maintenance job).

    Reads only the fine tier's day partitions >= ``since_day`` (manifest-
    level pruning — no data I/O for old days), re-aggregates the algebraic
    columns (n/sum/min/max compose exactly; avg recomputed from them), and
    MERGEs partition-scoped into the destination.  Exact because coarse
    windows (1h/1d) never span a day boundary: a refreshed day's coarse
    windows depend only on that day's fine rows.  With no fine day to read
    it commits nothing and returns ``rows`` 0 and the destination's current
    snapshot (``None`` if it has none).
    """
    keys = warehouse.partition_keys(src_table)
    selected = [k for k in keys if since_day is None or k >= since_day]
    if not selected:
        # no fine day at or after since_day, or retention expired them all:
        # nothing to aggregate, so no MERGE commit
        return {
            "rows": 0,
            "snapshot": warehouse.current_snapshot(dst_table),
            "partitions_read": 0,
        }
    fine = warehouse.read(src_table, partitions=selected)
    agg = tier_aggregate(fine, to_tier, source="tier", first_last=False)
    t0 = time.time()
    n, snap = merge_by_day(warehouse, dst_table, agg)
    log = lineage or LineageLog(warehouse)
    log.record_batch(-1, dst_table, "cascade_refresh", n, n, snap, t0)
    log.flush(spark)
    return {"rows": n, "snapshot": snap, "partitions_read": len(selected)}
