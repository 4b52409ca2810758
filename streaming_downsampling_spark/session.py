"""SparkSession factory tuned for the engine.

Local-mode settings mirror what we'd set on a real cluster: AQE on (skew-join
split + partition coalescing), Arrow on for every pandas-UDF exchange, and
shuffle partitions sized to the core count rather than the 200 default.

``spark.sql.shuffle.partitions`` no longer sets the parallelism of the grouped
Python kernels: their exchange (``operators._groupmap.prepare_sorted``) runs
one task per core, with ``shuffle.partitions`` only as a ceiling.

A persisted frame's plan may change its output partitioning
(``spark.sql.optimizer.canChangeCachedPlanOutputPartitioning``, off by
default), so AQE coalesces the shuffle under a cache as it does anywhere
else.  The MERGE path caches tiny frames (``refresh_tier_cascade``'s
aggregate, ``Warehouse.merge_upsert``'s batch); with the setting off, every
stage over them ran ``shuffle.partitions`` tasks, mostly empty.  Frames
persisted after a fixed-count ``repartition(n, ...)`` keep their n
partitions: AQE never coalesces a repartition that names its count.
Streams are unaffected, since Spark runs micro-batches with AQE off.

The Python worker daemon starts from :mod:`streaming_downsampling_spark._daemon`,
so workers import the installed PySpark the driver runs instead of Spark's
``pyspark.zip``, whose re-read before every task cost ~0.19 CPU s.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

_PACKAGE_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def get_spark(
    app_name: str = "streaming-downsampling-spark",
    cpus: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    # Pin BLAS to one thread per Python worker BEFORE the JVM (and hence the
    # worker daemon) starts: Spark already runs one worker per core, and an
    # unpinned OpenBLAS spawns nproc threads per worker on batched matmuls —
    # 32 workers x 32 BLAS threads thrashed the attention kernel 5x slower.
    for var in ("OMP_NUM_THREADS", "OPENBLAS_NUM_THREADS", "MKL_NUM_THREADS"):
        os.environ.setdefault(var, "1")
    if cpus is None:
        cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    if shuffle_partitions is None:
        shuffle_partitions = max(cpus, 8)
    builder = (
        SparkSession.builder.appName(app_name)
        .master(f"local[{cpus}]")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.default.parallelism", str(cpus))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # AQE sizes the shuffles under persisted frames too (module docstring)
        .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # 100k-row Arrow batches: the grouped kernels bucket same-length
        # groups per batch, so bigger batches mean real vectorization
        # (~2500 groups/batch instead of ~250); 100k rows x 5 doubles ≈ 4 MB
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "100000")
        .config("spark.sql.session.timeZone", "UTC")
        # _finish_stream sums numRowsDroppedByWatermark over recentProgress,
        # whose ring buffer defaults to the last 100 entries — a tier drive
        # over >400 source files (maxFilesPerTrigger=4) would silently
        # under-report late_rows_dropped.  10k entries (~KBs each) covers
        # any bounded drive this engine runs; unbounded production streams
        # should export per-batch progress to a listener instead.
        .config("spark.sql.streaming.numRecentProgressUpdates", "10000")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.ui.enabled", "false")
        # cluster-mode equivalent of the env pinning above
        .config("spark.executorEnv.OMP_NUM_THREADS", "1")
        .config("spark.executorEnv.OPENBLAS_NUM_THREADS", "1")
        .config("spark.executorEnv.MKL_NUM_THREADS", "1")
        # workers import the driver's PySpark, not pyspark.zip (_daemon.py);
        # the package root on the workers' path lets the daemon module load
        # whatever the driver's working directory
        .config("spark.python.daemon.module", "streaming_downsampling_spark._daemon")
        .config("spark.executorEnv.PYTHONPATH", _PACKAGE_ROOT)
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
