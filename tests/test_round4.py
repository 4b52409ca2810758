"""Round-4 regression tests: the round-3 ADVICE fixes and the verdict's
skew-path proof for the model kernel."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F


def test_merge_upsert_boolean_partition(spark, tmp_path):
    """Round-3 ADVICE (medium): the touched-partition set was built with
    Python ``str(value)`` ('True') while manifest keys come from Spark's
    cast-to-string partition dirs ('true'); on a boolean partition column
    the representations diverged, the anti-join was skipped, and a merge
    committed duplicate keys.  The fix collects the touched values through
    Spark's own cast — this test is the exact failing scenario."""
    from streaming_downsampling_spark.sources.tables import Warehouse

    wh = Warehouse(spark, str(tmp_path / "wh_bool"))
    base = spark.createDataFrame(
        [(1, True, 10.0), (2, True, 20.0), (3, False, 30.0)],
        "id long, flag boolean, v double",
    )
    wh.overwrite("bt", base, partition_by="flag")
    upd = spark.createDataFrame(
        [(1, True, 11.0), (4, False, 40.0)], "id long, flag boolean, v double"
    )
    wh.merge_upsert("bt", upd, keys=["id"], partition_by="flag")
    got = {(r["id"], r["flag"]): r["v"] for r in wh.read("bt").collect()}
    assert len(got) == 4, "duplicate keys committed: partition repr mismatch"
    assert got[(1, True)] == 11.0 and got[(4, False)] == 40.0
    assert got[(2, True)] == 20.0 and got[(3, False)] == 30.0


def test_connected_components_rejects_nonpositive_max_iter(spark):
    """Round-3 ADVICE (low): max_iter <= 0 used to surface as a NameError
    from the for/else convergence check instead of a clear error."""
    from streaming_downsampling_spark.operators.dedup import connected_components

    pairs = spark.createDataFrame([(1, 2)], "doc_a long, doc_b long")
    with pytest.raises(ValueError, match="max_iter"):
        connected_components(pairs, max_iter=0)


def test_spread_no_rdd_conversion_on_file_scan(spark, tmp_path):
    """Round-3 verdict #5: spread() must size file-backed scans from plan
    metadata (inputFiles + file sizes), never by converting the plan to an
    RDD.  Patch DataFrame.rdd to explode if touched."""
    import pyspark.sql.dataframe as D

    from streaming_downsampling_spark.operators._spread import spread

    path = str(tmp_path / "narrow.parquet")
    spark.range(500).coalesce(1).write.parquet(path)
    scan = spark.read.parquet(path)
    orig = D.DataFrame.rdd

    def _boom(self):
        raise AssertionError("spread() converted a file-backed plan to RDD")

    D.DataFrame.rdd = property(_boom)
    try:
        out = spread(scan)
    finally:
        D.DataFrame.rdd = orig
    # one tiny file -> fewer estimated splits than parallelism -> repartition
    assert out.rdd.getNumPartitions() == spark.sparkContext.defaultParallelism
    assert out.count() == 500


def test_spread_estimator_matches_spark_packing():
    """The split estimate mirrors FilePartition packing: many small files
    bin-pack into few splits (the old len(files) heuristic would have
    wrongly skipped the repartition)."""
    from streaming_downsampling_spark.operators._spread import _parse_bytes

    assert _parse_bytes("134217728b", 0) == 128 << 20
    assert _parse_bytes("128m", 0) == 128 << 20
    assert _parse_bytes("1g", 0) == 1 << 30
    assert _parse_bytes("garbage", 7) == 7


def test_plot_thinning_keeps_full_span(spark, tmp_path, monkeypatch):
    """Round-3 ADVICE (low): the plot sink used to keep only the EARLIEST
    max_points*4 rows, silently plotting a long series' head.  Now it
    stride-thins distributedly across the whole range; the rasterized xs
    must span the full time range and respect the max_points cap."""
    import streaming_downsampling_spark.sinks.plot as P

    n = 4000
    df = spark.range(n).select(
        F.lit("k").alias("key"),
        (F.lit(1704067200) + F.col("id") * 60).cast("timestamp").alias("ts"),
        (F.col("id") % 17).cast("double").alias("value"),
    )
    captured = {}
    real_render = P.render_series

    def capture(xs, ys, mx, my, **kw):
        captured["xs"] = np.asarray(xs)
        return real_render(xs, ys, mx, my, **kw)

    monkeypatch.setattr(P, "render_series", capture)
    paths = P.plot_downsampled(df, str(tmp_path / "plots"), max_points=100)
    assert len(paths) == 1
    xs = captured["xs"]
    assert len(xs) <= 100
    span = xs[-1] - xs[0]
    assert span >= 0.99 * (n - 1) * 60, "thinning dropped the series tail"


def test_hash_random_indices_properties():
    """The portable seeded sampler: deterministic, sorted, unique, k-capped,
    and key-salted (different groups pick different index sets)."""
    from streaming_downsampling_spark.functions.kernels import hash_random_indices

    a = hash_random_indices(100, 20, group_key="g1")
    b = hash_random_indices(100, 20, group_key="g1")
    c = hash_random_indices(100, 20, group_key="g2")
    assert np.array_equal(a, b)
    assert not np.array_equal(a, c)
    assert len(a) == 20 and len(np.unique(a)) == 20
    assert np.all(np.diff(a) > 0) and a.min() >= 0 and a.max() < 100
    assert len(hash_random_indices(5, 20, group_key="g")) == 5
    assert len(hash_random_indices(0, 20)) == 0


def test_db4_tap_chain_matches_kernel_bitwise(spark):
    """The SQL tap-sum chain behind model_db4_parity must reproduce the
    numpy kernel's db4 coefficients BIT-identically (same literals, same
    left-to-right association) — the property the whole db4 value oracle
    rests on."""
    from streaming_downsampling_spark.functions import wavelets as wv
    from streaming_downsampling_spark.queries import _db4_tap_chain, _db4_taps

    rec_lo, rec_hi = _db4_taps()
    rng = np.random.default_rng(11)
    for n in (1, 2, 5, 66, 200):
        x = rng.normal(100, 50, n)
        cA, cD = wv.dwt(x, "db4")
        df = spark.createDataFrame(
            [([float(v) for v in x], n)], "arr array<double>, nseg long"
        )
        ca_chain = _db4_tap_chain("arr", "nseg", "i", rec_lo, "spark")
        cd_chain = _db4_tap_chain("arr", "nseg", "i", rec_hi, "spark")
        import pyspark.sql.functions as SF

        row = df.select(
            SF.expr(
                f"transform(sequence(0, cast((nseg+7) div 2 as int) - 1),"
                f" i -> {ca_chain})"
            ).alias("ca"),
            SF.expr(
                f"transform(sequence(0, cast((nseg+7) div 2 as int) - 1),"
                f" i -> {cd_chain})"
            ).alias("cd"),
        ).collect()[0]
        assert np.array_equal(np.array(row["ca"]), cA), f"cA mismatch n={n}"
        assert np.array_equal(np.array(row["cd"]), cD), f"cD mismatch n={n}"


def test_model_path_spreads_single_skewed_conversation(spark):
    """SURVEY §4.2 skew claim, end-to-end (round-3 verdict #6): one
    conversation holding 50% of ALL turns must still spread across at least
    half the shuffle partitions, because the model/Gorilla grouping key is
    (conv_id, window) — the window bucket is the built-in salt.  Asserted on
    the actual prepared exchange feeding the kernels (mapInPandas preserves
    these partitions, so the kernel parallelism equals this spread).  The
    bound is taken against the exchange's own partition count, which
    prepare_sorted sizes to the input."""
    from streaming_downsampling_spark.operators._groupmap import prepare_sorted

    n_days = 64
    per_day = 50
    big = spark.range(n_days * per_day).select(
        F.lit("big").alias("conv_id"),
        F.col("id").alias("turn_idx"),
        (F.lit(1704067200) + (F.col("id") % n_days) * 86400 + (F.col("id") / n_days).cast("long") * 60)
        .cast("timestamp")
        .alias("ts"),
        F.rand(7).alias("value"),
    )
    rest = spark.range(n_days * per_day).select(
        F.concat(F.lit("c"), (F.col("id") % 200)).alias("conv_id"),
        F.col("id").alias("turn_idx"),
        (F.lit(1704067200) + (F.col("id") % n_days) * 86400).cast("timestamp").alias("ts"),
        F.rand(8).alias("value"),
    )
    df = big.unionByName(rest)
    prepared = prepare_sorted(df, "1 day", "conv_id", "ts", "value", "turn_idx")
    n_part = prepared.rdd.getNumPartitions()
    spread_parts = (
        prepared.withColumn("pid", F.spark_partition_id())
        .filter(F.col("key") == "big")
        .select("pid")
        .distinct()
        .count()
    )
    assert spread_parts >= n_part // 2, (
        f"skewed conversation landed on {spread_parts}/{n_part} partitions"
    )
