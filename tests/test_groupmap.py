"""The exchange feeding the grouped kernels: one partition per core, capped by
spark.sql.shuffle.partitions, and the kernels' output does not depend on
that count."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq


def _turns(tmp_path) -> str:
    """~7k turns: 60 conversations over 3 days (batched model path) and two
    400-turn days (scalar path), as a parquet file."""
    rng = np.random.default_rng(3)
    day0 = 1_704_067_200
    conv, ts = [], []
    for c in range(60):
        for d in range(3):
            n = int(rng.integers(5, 60))
            conv += [f"c{c}"] * n
            ts += list(day0 + d * 86_400 + np.sort(rng.integers(0, 86_400, n)))
    for c in range(2):
        conv += [f"long{c}"] * 400
        ts += list(day0 + np.sort(rng.integers(0, 86_400, 400)))
    n = len(conv)
    tbl = pa.table(
        {
            "conv_id": pa.array(conv),
            "turn_idx": pa.array(np.arange(n), pa.int64()),
            "ts": pa.array(np.array(ts, dtype=np.int64) * 10**6, pa.timestamp("us", tz="UTC")),
            "value": pa.array(np.round(rng.normal(300, 120, n), 1)),
        }
    )
    path = str(tmp_path / "turns.parquet")
    pq.write_table(tbl, path)
    return path


def _kernel_rows(prep) -> tuple[pd.DataFrame, pd.DataFrame]:
    from streaming_downsampling_spark.operators._groupmap import apply_sorted
    from streaming_downsampling_spark.operators.compress import (
        CHUNK_SCHEMA,
        encode_frame_fn,
    )
    from streaming_downsampling_spark.operators.downsample import (
        MODEL_SCHEMA,
        model_frame_fn,
    )

    def rows(df) -> pd.DataFrame:
        return df.toPandas().sort_values(["key", "window_start"]).reset_index(drop=True)

    return (
        rows(apply_sorted(prep, model_frame_fn(), MODEL_SCHEMA)),
        rows(apply_sorted(prep, encode_frame_fn(), CHUNK_SCHEMA)),
    )


def test_exchange_one_task_per_core_same_kernel_output(spark, tmp_path):
    """With shuffle.partitions above the core count the exchange gets one
    partition per core; below it, shuffle.partitions.  Model windows and
    Gorilla chunks are identical under both counts."""
    from streaming_downsampling_spark.operators._groupmap import prepare_sorted

    conf = spark.conf
    old_parts = conf.get("spark.sql.shuffle.partitions")
    df = spark.read.parquet(_turns(tmp_path))
    cores = spark.sparkContext.defaultParallelism
    few = max(1, cores // 2)
    assert cores < 16
    try:
        conf.set("spark.sql.shuffle.partitions", "16")
        prep = prepare_sorted(df, "1 day", "conv_id", "ts", "value", "turn_idx")
        assert prep.rdd.getNumPartitions() == cores
        model_cores, chunks_cores = _kernel_rows(prep)
        conf.set("spark.sql.shuffle.partitions", str(few))
        prep = prepare_sorted(df, "1 day", "conv_id", "ts", "value", "turn_idx")
        assert prep.rdd.getNumPartitions() == few
        model_few, chunks_few = _kernel_rows(prep)
    finally:
        conf.set("spark.sql.shuffle.partitions", old_parts)

    assert len(model_cores) == 60 * 3 + 2
    assert (model_cores["n"] > 200).sum() == 2
    assert model_cores[["key", "window_start", "n"]].equals(
        model_few[["key", "window_start", "n"]]
    )
    for col in ("pooled_approx", "detail_values", "detail_indices"):
        for a, b in zip(model_cores[col], model_few[col]):
            assert np.array_equal(np.asarray(a), np.asarray(b)), col
    assert chunks_cores.equals(chunks_few)
    assert all(isinstance(b, (bytes, bytearray)) for b in chunks_cores["ts_blob"])
