"""Warehouse snapshot semantics + streaming tier job with checkpoint resume."""

import glob
import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from streaming_downsampling_spark.datagen import generate_transcripts
from streaming_downsampling_spark.operators.rollup import rollup, with_signal
from streaming_downsampling_spark.plans.lineage import LineageLog
from streaming_downsampling_spark.sources.tables import Warehouse
from streaming_downsampling_spark.streaming.jobs import run_tier_stream


@pytest.fixture
def wh(spark, tmp_path):
    return Warehouse(spark, str(tmp_path / "warehouse"))


def test_overwrite_append_snapshots(spark, wh):
    df1 = spark.range(5).withColumn("v", F.col("id") * 2)
    df2 = spark.range(5, 8).withColumn("v", F.col("id") * 2)
    s1 = wh.overwrite("t", df1)
    s2 = wh.append("t", df2)
    assert wh.read("t").count() == 8
    # time travel to the first snapshot
    assert wh.read("t", snapshot_id=s1).count() == 5
    snaps = wh.snapshots("t")
    assert [s["id"] for s in snaps] == [s1, s2]
    assert snaps[1]["parent"] == s1


def test_merge_upsert_idempotent(spark, wh):
    base = spark.createDataFrame(
        [("a", 1, 10.0), ("b", 1, 20.0)], ["key", "window_start", "v"]
    )
    wh.overwrite("t", base)
    upd = spark.createDataFrame(
        [("a", 1, 99.0), ("c", 1, 30.0)], ["key", "window_start", "v"]
    )
    wh.merge_upsert("t", upd, keys=["key", "window_start"])
    first = sorted(wh.read("t").collect())
    # replay the same batch — state must not change (exactly-once property)
    wh.merge_upsert("t", upd, keys=["key", "window_start"])
    second = sorted(wh.read("t").collect())
    assert first == second
    vals = {(r["key"]): r["v"] for r in first}
    assert vals == {"a": 99.0, "b": 20.0, "c": 30.0}


def test_expire_snapshots(spark, wh, tmp_path):
    for i in range(4):
        wh.append("t", spark.range(i, i + 1))
    dropped = wh.expire_snapshots("t", keep_last=2)
    assert len(dropped) == 2
    assert wh.read("t").count() == 4  # current snapshot untouched
    with pytest.raises(Exception):
        wh.read("t", snapshot_id=dropped[0]).count()


@pytest.fixture
def stream_source(tmp_path):
    """Transcript parquet split into time-ordered files (simulates arrival)."""
    tbl = generate_transcripts(sf=0.2, seed=7)
    idx = pa.compute.sort_indices(tbl, sort_keys=[("ts", "ascending")])
    tbl = tbl.take(idx)
    src = tmp_path / "stream_src"
    os.makedirs(src)
    n = tbl.num_rows
    step = n // 6 + 1
    for i in range(0, n, step):
        pq.write_table(tbl.slice(i, step), str(src / f"part-{i:06d}.parquet"))
    return str(src), tbl


def test_stream_matches_batch_and_resumes(spark, wh, tmp_path, stream_source):
    src_dir, tbl = stream_source
    ckpt = str(tmp_path / "ckpt")

    # run 1: only the first 3 files exist elsewhere? simpler: run on full dir
    # in two AvailableNow passes with a kill between them — pass 1 processes
    # some batches (maxFilesPerTrigger=2 → 3 batches), we then re-run with the
    # same checkpoint; the second pass must not duplicate anything.
    stats1 = run_tier_stream(
        spark, src_dir, ckpt, wh, table="r1m", tier="1m",
        watermark="3650 days", max_files_per_trigger=2,
    )
    assert stats1["batches"] >= 2
    stats2 = run_tier_stream(
        spark, src_dir, ckpt, wh, table="r1m", tier="1m",
        watermark="3650 days", max_files_per_trigger=2,
    )
    # nothing new to process on resume
    assert stats2["rows_merged"] == 0

    got = (
        wh.read("r1m")
        .select("key", "window_start", "n_points", "sum_value", "min_value", "max_value")
        .orderBy("key", "window_start")
        .toPandas()
    )
    batch_df = with_signal(spark.createDataFrame(tbl.to_pandas()))
    exp = (
        rollup(batch_df, "1m")
        .select("key", "window_start", "n_points", "sum_value", "min_value", "max_value")
        .orderBy("key", "window_start")
        .toPandas()
    )
    import pandas as pd

    pd.testing.assert_frame_equal(got, exp, check_exact=True)

    # lineage rows were recorded
    lin = wh.read("lineage").toPandas()
    assert (lin["table"] == "r1m").any()
    met = wh.read("metrics").toPandas()
    assert "late_rows_dropped" in set(met["name"])


def test_stream_resume_after_new_data(spark, wh, tmp_path, stream_source):
    """Files arriving between runs are picked up exactly once."""
    src_dir, tbl = stream_source
    files = sorted(glob.glob(f"{src_dir}/*.parquet"))
    half_dir = tmp_path / "half_src"
    os.makedirs(half_dir)
    import shutil

    for f in files[:3]:
        shutil.copy(f, half_dir)
    ckpt = str(tmp_path / "ckpt2")
    run_tier_stream(
        spark, str(half_dir), ckpt, wh, table="r1m_b", tier="1m",
        watermark="3650 days",
    )
    for f in files[3:]:
        shutil.copy(f, half_dir)
    run_tier_stream(
        spark, str(half_dir), ckpt, wh, table="r1m_b", tier="1m",
        watermark="3650 days",
    )
    batch_df = with_signal(spark.createDataFrame(tbl.to_pandas()))
    exp_n = rollup(batch_df, "1m").count()
    assert wh.read("r1m_b").count() == exp_n
    total_points = (
        wh.read("r1m_b").agg(F.sum("n_points")).collect()[0][0]
    )
    assert total_points == tbl.num_rows


def _dir_bytes(path):
    total = 0
    for root, _, files in os.walk(path):
        for f in files:
            total += os.path.getsize(os.path.join(root, f))
    return total


def test_partitioned_merge_rewrites_only_touched_partitions(spark, wh):
    """VERDICT item: a merge commit must write O(batch) bytes, not O(table).
    Untouched partitions' data dirs are carried by reference."""
    big = spark.range(20000).select(
        F.col("id").alias("key"),
        (F.col("id") % 2).cast("string").alias("day"),
        (F.col("id") * 1.5).alias("v"),
    )
    wh.overwrite("pt", big, partition_by="day")
    snaps0 = wh.snapshots("pt")[-1]
    assert set(snaps0["parts"]) == {"0", "1"}

    small = spark.createDataFrame(
        [(3, "1", 99.0), (20001, "1", 1.0)], ["key", "day", "v"]
    )
    wh.merge_upsert("pt", small, keys=["key"], partition_by="day")
    snap1 = wh.snapshots("pt")[-1]
    # day "0" dirs are identical references; only day "1" was rewritten
    assert snap1["parts"]["0"] == snaps0["parts"]["0"]
    assert snap1["parts"]["1"] != snaps0["parts"]["1"]
    got = wh.read("pt")
    assert got.count() == 20001
    assert got.filter(F.col("key") == 3).collect()[0]["v"] == 99.0
    # time travel still sees the pre-merge state
    assert wh.read("pt", snapshot_id=snaps0["id"]).count() == 20000


def test_append_is_o_batch(spark, wh):
    """Appends must not rewrite history (lineage-log regression): the new
    snapshot reuses prior dirs and the commit's new files are ~batch-sized."""
    wh.append("log", spark.range(50000).select(F.col("id"), (F.col("id") * 1.0).alias("v")))
    data_root = os.path.join(wh.root, "log", "data")
    before_dirs = set(os.listdir(data_root))
    before_bytes = _dir_bytes(data_root)
    wh.append("log", spark.range(5).select(F.col("id"), (F.col("id") * 1.0).alias("v")))
    new_dirs = set(os.listdir(data_root)) - before_dirs
    new_bytes = _dir_bytes(data_root) - before_bytes
    assert len(new_dirs) == 1
    # 5-row commit writes a few KB of parquet scaffolding, nowhere near the
    # 50k-row table
    assert new_bytes < before_bytes / 5
    assert wh.read("log").count() == 50005


def test_expire_partitions_metadata_only(spark, wh):
    """Tier retention: dropping old days is a metadata commit (no data I/O);
    time travel still reaches them until snapshots expire."""
    df = spark.createDataFrame(
        [(1, "2024-01-01", 1.0), (2, "2024-01-02", 2.0), (3, "2024-01-03", 3.0)],
        ["key", "day", "v"],
    )
    s1 = wh.overwrite("tier", df, partition_by="day")
    data_root = os.path.join(wh.root, "tier", "data")
    before = set(os.listdir(data_root))
    wh.expire_partitions("tier", before="2024-01-03")
    assert set(os.listdir(data_root)) == before  # no data touched
    assert [r["day"] for r in wh.read("tier").collect()] == ["2024-01-03"]
    # time travel still sees the dropped days
    assert wh.read("tier", snapshot_id=s1).count() == 3
    # snapshot expiry reclaims the now-unreferenced dirs
    wh.expire_snapshots("tier", keep_last=1)
    assert len(os.listdir(data_root)) == 1
    assert wh.read("tier").count() == 1


def test_refresh_tier_cascade_matches_batch(spark, wh, tmp_path, stream_source):
    """1m stream table → 1h cascade refresh must equal the batch 1h rollup
    (algebraic composition is exact)."""
    import pandas as pd

    from streaming_downsampling_spark.streaming.jobs import refresh_tier_cascade

    src_dir, tbl = stream_source
    run_tier_stream(
        spark, src_dir, str(tmp_path / "ck3"), wh, table="r1m_c", tier="1m",
        watermark="3650 days",
    )
    out = refresh_tier_cascade(spark, wh, "r1m_c", "r1h_c", to_tier="1h")
    assert out["rows"] > 0 and out["partitions_read"] > 0
    cols = ["key", "window_start", "n_points", "sum_value", "min_value", "max_value"]
    got = wh.read("r1h_c").select(*cols).orderBy("key", "window_start").toPandas()
    batch_df = with_signal(spark.createDataFrame(tbl.to_pandas()))
    exp = (
        rollup(batch_df, "1h")
        .select(*cols)
        .orderBy("key", "window_start")
        .toPandas()
    )
    pd.testing.assert_frame_equal(got, exp, check_exact=True)
    # incremental refresh of a suffix of days is idempotent
    days = wh.partition_keys("r1m_c")
    out2 = refresh_tier_cascade(spark, wh, "r1m_c", "r1h_c", to_tier="1h",
                                since_day=days[len(days) // 2])
    # prunes to the requested suffix (fixture may span a single day)
    assert out2["partitions_read"] == len(days) - len(days) // 2
    got2 = wh.read("r1h_c").select(*cols).orderBy("key", "window_start").toPandas()
    pd.testing.assert_frame_equal(got2, exp, check_exact=True)


def test_json_wire_stream_matches_batch(spark, wh, tmp_path, stream_source):
    """The reference's JSON wire format end-to-end: produce turns as JSON
    files (serializer: non-finite → 0.0), consume with the json streaming
    source, and the resulting tier table must equal the batch rollup."""
    import pandas as pd

    from streaming_downsampling_spark.streaming.jobs import write_json_feed

    src_dir, tbl = stream_source
    batch_df = spark.createDataFrame(tbl.to_pandas())
    feed = str(tmp_path / "json_feed")
    write_json_feed(batch_df, feed, files=5)

    stats = run_tier_stream(
        spark, feed, str(tmp_path / "ckj"), wh, table="r1m_j", tier="1m",
        watermark="3650 days", source_format="json",
    )
    assert stats["rows_merged"] > 0
    cols = ["key", "window_start", "n_points", "sum_value", "min_value", "max_value"]
    got = wh.read("r1m_j").select(*cols).orderBy("key", "window_start").toPandas()
    exp = (
        rollup(with_signal(batch_df), "1m")
        .select(*cols)
        .orderBy("key", "window_start")
        .toPandas()
    )
    pd.testing.assert_frame_equal(got, exp, check_exact=True)


def _rows(wh, table, snap):
    return next(s["rows"] for s in wh.snapshots(table) if s["id"] == snap)


def test_committed_rows_unpartitioned_overwrite_append_compact_empty(spark, wh):
    """A snapshot's ``rows`` is the count of the data its operation wrote."""
    s1 = wh.overwrite("t", spark.range(5).withColumn("v", F.col("id") * 2))
    assert _rows(wh, "t", s1) == wh.read("t", snapshot_id=s1).count() == 5
    batch = spark.range(5, 8).withColumn("v", F.col("id") * 2)
    s2 = wh.append("t", batch)
    assert _rows(wh, "t", s2) == batch.count() == 3
    s3 = wh.compact("t")
    assert _rows(wh, "t", s3) == wh.read("t", snapshot_id=s3).count() == 8
    s4 = wh.append("t", batch.limit(0))
    assert _rows(wh, "t", s4) == 0
    s5 = wh.overwrite("e", batch.limit(0))
    assert _rows(wh, "e", s5) == wh.read("e", snapshot_id=s5).count() == 0


def test_committed_rows_partitioned_merge_compact_default_partition(spark, wh):
    """Partitioned commits count every written partition dir, including the
    ``__HIVE_DEFAULT_PARTITION__`` one that NULL and '' land in."""
    days = ["2024-01-01", "2024-01-02", "2024-01-03"]
    base = spark.range(30).select(
        F.col("id").alias("key"),
        F.concat(F.lit("2024-01-0"), (F.col("id") % 3 + 1).cast("string")).alias("day"),
        (F.col("id") * 1.5).alias("v"),
    )
    s1 = wh.overwrite("pt", base, partition_by="day")
    assert _rows(wh, "pt", s1) == wh.read("pt", snapshot_id=s1).count() == 30
    # touches 2 of 3 days: one replaced key, one new key per touched day
    upd = spark.createDataFrame(
        [(0, days[0], 99.0), (100, days[0], 1.0), (1, days[1], 98.0), (101, days[1], 2.0)],
        "key long, day string, v double",
    )
    s2 = wh.merge_upsert("pt", upd, keys=["key"], partition_by="day")
    touched = wh.read("pt", snapshot_id=s2, partitions=days[:2])
    assert _rows(wh, "pt", s2) == touched.count() == 22
    s3 = wh.compact("pt", partition_by="day")
    assert _rows(wh, "pt", s3) == wh.read("pt", snapshot_id=s3).count() == 32

    s4 = wh.overwrite("pt", upd.limit(0), partition_by="day")
    assert _rows(wh, "pt", s4) == 0 and wh.partition_keys("pt", s4) == []

    nulls = spark.createDataFrame(
        [(1, None, 1.0), (2, "", 2.0), (3, days[0], 3.0)], "key long, day string, v double"
    )
    s5 = wh.overwrite("nd", nulls, partition_by="day")
    assert wh.partition_keys("nd", s5) == [days[0], "None"]
    assert _rows(wh, "nd", s5) == wh.read("nd", snapshot_id=s5).count() == 3
    assert wh.read("nd", snapshot_id=s5, partitions=["None"]).count() == 2


def test_lineage_flush_frames_are_local_and_typed(spark, wh):
    """``LineageLog.flush`` commits the schemas and values the tuple-built
    frames held, from frames that plan as a LocalTableScan with no Python
    task."""
    from conftest import no_python_rdd

    from streaming_downsampling_spark.plans.lineage import LINEAGE_SCHEMA, METRICS_SCHEMA

    frames = {}

    class CapturingWarehouse(Warehouse):
        def append(self, table, df, partition_by=None):
            frames[table] = df
            return super().append(table, df, partition_by=partition_by)

    log = LineageLog(CapturingWarehouse(spark, wh.root), job_id="job1")
    log.record_batch(0, "tier_1m", "merge", 10, 10, 3, 1.5)
    log.record_batch(-1, "tier_1h", "cascade_refresh", 2, 2, 4, 2.5)
    log.gauge("batches", 3)
    log.gauge("late_rows_dropped", 0.5)
    pending = {"lineage": list(log._lineage), "metrics": list(log._metrics)}
    log.flush(spark)
    for table, schema in (("lineage", LINEAGE_SCHEMA), ("metrics", METRICS_SCHEMA)):
        df = frames[table]
        assert "LocalTableScan" in df._jdf.queryExecution().executedPlan().toString()
        assert no_python_rdd(df)
        got = wh.read(table)
        assert got.schema == schema
        expected = spark.createDataFrame(pending[table], schema).collect()
        assert sorted(got.collect()) == sorted(expected)
    gauges = {r["name"]: r["value"] for r in wh.read("metrics").collect()}
    assert gauges["batches"] == 3.0 and isinstance(gauges["batches"], float)
