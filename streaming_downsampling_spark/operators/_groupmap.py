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

The other fixed cost is per Python TASK, not per row or group: before each
task PySpark's ``worker_util.setup_spark_files`` calls
``importlib.invalidate_caches()``, which re-reads the central directory of
every zip importer on the worker's path (``pyspark.zip`` about 14 times, the
spark-core jar and py4j once each) — 0.16–0.24 CPU s per task on a 4-core
host with Spark 4.1.2.  An identity ``mapInArrow`` over 8 partitions cost
~2.2 CPU s there, against ~0.5 CPU s over one.  So the exchange feeding the
kernels runs one wave of one task per core (:func:`_exchange_partitions`),
not ``spark.sql.shuffle.partitions`` tasks.
"""

from __future__ import annotations

from collections.abc import Callable, Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F


def _exchange_partitions(df: DataFrame) -> int:
    """Partition count of the exchange feeding the grouped kernels:
    ``min(spark.sql.shuffle.partitions, defaultParallelism)``.  Every
    partition is one Python task paying the per-task floor in the module
    docstring, so one task per core replaces ``shuffle.partitions`` tasks in
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
    """The shuffle+sort half of :func:`sorted_group_map`, exposed so several
    kernels over the SAME (key, window) grouping can share ONE prepared
    (persisted) DataFrame — e.g. the tier-maintenance job runs the model
    downsampler and the Gorilla encoder over identical day groups; sharing
    the exchange halves the dominant shuffle I/O (Catalyst's ReusedExchange
    does not fire across the two mapInPandas branches — verified on the
    executed plan)."""
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


def iter_whole_group_frames(
    batches: Iterator[pd.DataFrame],
) -> Iterator[pd.DataFrame]:
    """The cross-batch group-carry walk, shared by the production kernel
    and the skew profiler (so the profiler can never measure a diverged
    copy of this logic): yield frames that contain only WHOLE
    (key, window_start) groups, carrying each batch's trailing group into
    the next batch because an Arrow batch boundary may split a group."""
    carry: pd.DataFrame | None = None
    for pdf in batches:
        if carry is not None and len(carry):
            pdf = pd.concat([carry, pdf], ignore_index=True)
            carry = None
        if not len(pdf):
            continue
        lk = pdf["key"].iloc[-1]
        lw = pdf["window_start"].iloc[-1]
        tail = (pdf["key"] == lk) & (pdf["window_start"] == lw)
        carry = pdf[tail]
        body = pdf[~tail]
        if len(body):
            yield body
    if carry is not None and len(carry):
        yield carry


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
        for body in iter_whole_group_frames(batches):
            out = frame_fn(body)
            if len(out):
                yield out

    return prepared.mapInPandas(kernel, schema)


def sorted_group_map(
    df: DataFrame,
    window: str,
    key_col: str,
    ts_col: str,
    value_col: str,
    order_col: str | None,
    frame_fn: Callable[[pd.DataFrame], pd.DataFrame],
    schema,
) -> DataFrame:
    """Run ``frame_fn`` over sorted frames whose rows never split a
    (key, window) group.

    The prepared frame has columns ``key`` (string), ``window_start``
    (timestamp), ``_ts``, ``_value`` (double), ``_ord`` (long; == row index
    fallback when ``order_col`` is None).  ``frame_fn`` receives a frame
    sorted by (key, window_start, _ord, _ts) containing only whole groups.
    """
    return apply_sorted(
        prepare_sorted(df, window, key_col, ts_col, value_col, order_col),
        frame_fn,
        schema,
    )


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
