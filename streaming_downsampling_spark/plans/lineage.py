"""Per-partition lineage and job metrics tables (north-rule requirement).

The reference logs psutil RSS/CPU per element to stdout
(/root/reference/core/streaming_pipeline.py:267-270); here lineage is a
queryable table: one row per (job, batch) with row counts, snapshot ids and
wall times, plus a metrics table with throughput / late-row / skew gauges.
Both live in the same snapshot warehouse as the data tiers, so a resumed job
can see exactly what its predecessor committed.
"""

from __future__ import annotations

import time
import uuid

from pyspark.sql import SparkSession
from pyspark.sql.types import (
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from ..sources.tables import Warehouse

LINEAGE_SCHEMA = StructType(
    [
        StructField("job_id", StringType()),
        StructField("batch_id", LongType()),
        StructField("table", StringType()),
        StructField("op", StringType()),
        StructField("rows_in", LongType()),
        StructField("rows_out", LongType()),
        StructField("snapshot_id", LongType()),
        StructField("started_at", DoubleType()),
        StructField("ended_at", DoubleType()),
    ]
)

METRICS_SCHEMA = StructType(
    [
        StructField("job_id", StringType()),
        StructField("name", StringType()),
        StructField("value", DoubleType()),
        StructField("recorded_at", DoubleType()),
    ]
)


def new_job_id() -> str:
    return uuid.uuid4().hex[:12]


class LineageLog:
    """Collects lineage/metric rows in memory and flushes them as warehouse
    appends: one small parquet commit per table per flush — not per row —
    written from the driver by ``Warehouse.append_rows``, so a flush runs no
    Spark job."""

    def __init__(self, wh: Warehouse, job_id: str | None = None) -> None:
        self.wh = wh
        self.job_id = job_id or new_job_id()
        self._lineage: list[tuple] = []
        self._metrics: list[tuple] = []

    def record_batch(
        self,
        batch_id: int,
        table: str,
        op: str,
        rows_in: int,
        rows_out: int,
        snapshot_id: int,
        started_at: float,
    ) -> None:
        self._lineage.append(
            (
                self.job_id,
                batch_id,
                table,
                op,
                rows_in,
                rows_out,
                snapshot_id,
                started_at,
                time.time(),
            )
        )

    def gauge(self, name: str, value: float) -> None:
        self._metrics.append((self.job_id, name, float(value), time.time()))

    def flush(self, spark: SparkSession) -> None:
        """Commit the pending rows.  ``spark`` is unused: the rows are
        written from the driver."""
        if self._lineage:
            self.wh.append_rows("lineage", self._lineage, LINEAGE_SCHEMA)
            self._lineage = []
        if self._metrics:
            self.wh.append_rows("metrics", self._metrics, METRICS_SCHEMA)
            self._metrics = []
