"""Shared low-overhead grouped-map machinery.

``groupBy(...).applyInPandas`` invokes Python once per group and builds a
pandas DataFrame per group — fine for few large groups, ruinous for millions
of small ones (per-group cost ~ms).  Every windowed kernel in this engine
instead uses:

    repartition(key, window) → sortWithinPartitions(key, window, order)
    → mapInPandas(kernel)

with numpy boundary-splitting inside each Arrow batch and a carry buffer for
groups that straddle batch boundaries.  One shuffle, same semantics,
per-group cost ~µs.  At 10^12 turns the group count is O(10^9); this pattern
is the difference between hours and weeks.

The other fixed cost is per Python TASK, not per row or group.  Before each
task PySpark's ``worker_util.setup_spark_files`` calls
``importlib.invalidate_caches()``; a worker that imported PySpark out of
Spark's ``pyspark.zip`` then re-parses the zip's central directory (1,328
entries) once per cached ``zipimporter`` — about 14 of them, plus the
spark-core jar and py4j — at 0.16–0.24 CPU s per task on a 4-core host with
Spark 4.1.2.  ``get_spark`` sessions start the worker daemon from
:mod:`streaming_downsampling_spark._daemon`, which takes those archives off
the workers' path, so they import the installed PySpark and the re-read is
gone: an identity ``mapInArrow`` over 8 partitions (driver + JVM + workers)
fell from ~2.3 CPU s to ~0.72 CPU s there.  The exchange feeding the
kernels still runs one wave of one task per core
(:func:`_exchange_partitions`), not ``spark.sql.shuffle.partitions`` tasks:
each task still costs a worker round trip and a setup pass.
"""

from __future__ import annotations

from collections.abc import Callable, Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F


def _exchange_partitions(df: DataFrame) -> int:
    """Partition count of the exchange feeding the grouped kernels:
    ``min(spark.sql.shuffle.partitions, defaultParallelism)``.  Every
    partition is one Python task paying the per-task setup in the module
    docstring (small since the daemon module dropped the zip re-read, but
    not zero), so one task per core replaces ``shuffle.partitions`` tasks in
    several waves; a session whose core count reaches ``shuffle.partitions``
    keeps ``shuffle.partitions``."""
    spark = df.sparkSession
    n_max = int(spark.conf.get("spark.sql.shuffle.partitions"))
    return min(n_max, spark.sparkContext.defaultParallelism)


def prepare_sorted(
    df: DataFrame,
    window: str,
    key_col: str,
    ts_col: str,
    value_col: str,
    order_col: str | None,
) -> DataFrame:
    """Shuffle and sort ``df`` for :func:`apply_sorted`.

    The prepared frame has columns ``key`` (string), ``window_start``
    (timestamp), ``_ts``, ``_value`` (double), ``_ord`` (long; a
    monotonically increasing id when ``order_col`` is None), partitioned by
    (key, window_start) and sorted by (key, window_start, _ord, _ts).

    Several kernels over the SAME (key, window) grouping can share ONE
    prepared (persisted) DataFrame — e.g. the transcript pipeline runs the
    model downsampler and the Gorilla encoder over identical day groups;
    sharing the exchange halves the dominant shuffle I/O (Catalyst's
    ReusedExchange does not fire across the two mapInPandas branches —
    verified on the executed plan)."""
    w = F.window(ts_col, window)
    cols = [
        F.col(key_col).cast("string").alias("key"),
        w["start"].alias("window_start"),
        F.col(ts_col).alias("_ts"),
        F.col(value_col).cast("double").alias("_value"),
        (
            F.col(order_col).cast("long") if order_col else F.monotonically_increasing_id()
        ).alias("_ord"),
    ]
    # explicit partition count: a bare repartition(cols) lets AQE coalesce a
    # small shuffle down to one partition, serializing the Python kernel —
    # observed 7.6s → 1.5s on the model kernel at sf0.1 with this fix
    return (
        df.select(*cols)
        .repartition(_exchange_partitions(df), "key", "window_start")
        .sortWithinPartitions("key", "window_start", "_ord", "_ts")
    )


def apply_sorted(
    prepared: DataFrame,
    frame_fn: Callable[[pd.DataFrame], pd.DataFrame],
    schema,
) -> DataFrame:
    """Run ``frame_fn`` over a :func:`prepare_sorted` DataFrame with the
    cross-batch group-carry kernel.

    ``mapInPandas`` ships every column of its input across the Arrow
    boundary — Spark cannot see which ones the Python function reads (guide
    §4.1) — so a kernel that declares ``frame_fn.needed_cols`` gets the
    prepared frame projected down to those columns first (a narrow op:
    partitioning and in-partition order are untouched).  The model kernel
    reads neither ``_ts`` nor ``_ord`` and the chunk encoder skips ``_ord``;
    at 4M rows/branch that keeps tens of MB per branch off the JVM→Python
    hop when several kernels share one persisted prepare_sorted frame."""
    cols = getattr(frame_fn, "needed_cols", None)
    if cols:
        prepared = prepared.select(*cols)

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        # an Arrow batch boundary may split a (key, window_start) group:
        # carry each batch's trailing group into the next batch, so
        # frame_fn only ever sees whole groups
        carry: pd.DataFrame | None = None
        for pdf in batches:
            if carry is not None:
                pdf = pd.concat([carry, pdf], ignore_index=True)
            elif not len(pdf):
                continue
            tail = (pdf["key"] == pdf["key"].iloc[-1]) & (
                pdf["window_start"] == pdf["window_start"].iloc[-1]
            )
            carry = pdf[tail]
            body = pdf[~tail]
            if len(body) and len(out := frame_fn(body)):
                yield out
        if carry is not None and len(out := frame_fn(carry)):
            yield out

    return prepared.mapInPandas(kernel, schema)


def group_bounds(body: pd.DataFrame) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Boundary indices of (key, window_start) runs in a sorted frame.

    Returns (bounds, keys, window_starts) where groups are
    ``body.iloc[bounds[i]:bounds[i+1]]``.
    """
    keys = body["key"].to_numpy()
    ws = body["window_start"].to_numpy()
    n = len(body)
    change = np.flatnonzero((keys[1:] != keys[:-1]) | (ws[1:] != ws[:-1])) + 1
    bounds = np.concatenate([[0], change, [n]])
    return bounds, keys, ws
