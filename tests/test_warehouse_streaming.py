"""Warehouse snapshot semantics + streaming tier job with checkpoint resume."""

import glob
import os
import threading
from contextlib import contextmanager

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQueryListener

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


def _tier_rows(spark, days):
    """One 1m fine-tier row per day, in the streaming tier's schema."""
    import datetime as dt

    rows = []
    for i, day in enumerate(days):
        start = dt.datetime.fromisoformat(day).replace(tzinfo=dt.timezone.utc)
        rows.append(
            ("c1", start, start + dt.timedelta(minutes=1), 2, 3.0 + i, 1.0, 2.0, 1.5 + i / 2, day)
        )
    return spark.createDataFrame(
        rows,
        "key string, window_start timestamp, window_end timestamp, n_points long, "
        "sum_value double, min_value double, max_value double, avg_value double, "
        "p_day string",
    )


def test_refresh_tier_cascade_with_nothing_to_refresh(spark, wh):
    """No fine day at or after ``since_day``, or none left after retention:
    the refresh returns 0 rows and commits no MERGE."""
    from streaming_downsampling_spark.streaming.jobs import refresh_tier_cascade

    keys = ["key", "window_start"]
    wh.merge_upsert("t1m", _tier_rows(spark, ["2024-01-01"]), keys=keys, partition_by="p_day")
    out = refresh_tier_cascade(spark, wh, "t1m", "t1h", since_day="2024-01-02")
    assert out == {"rows": 0, "snapshot": None, "partitions_read": 0}
    assert not wh.exists("t1h")

    first = refresh_tier_cascade(spark, wh, "t1m", "t1h")
    assert first["rows"] == 1
    wh.expire_partitions("t1m", before="2024-01-02")
    snaps = wh.snapshots("t1h")
    out = refresh_tier_cascade(spark, wh, "t1m", "t1h")
    assert out == {"rows": 0, "snapshot": first["snapshot"], "partitions_read": 0}
    assert wh.snapshots("t1h") == snaps


def _parquet_files(wh, table, d):
    return [
        f for f in os.listdir(os.path.join(wh.root, table, "data", d)) if f.endswith(".parquet")
    ]


def test_merge_writes_one_file_per_touched_partition(spark, wh):
    """A MERGE of a batch spread over 8 splits into a day holding two
    commits' files writes ONE file per touched partition, carries the
    untouched day by reference, and keeps MERGE semantics."""
    days = ["2024-01-01", "2024-01-02", "2024-01-03"]

    def rows(keys, tag):
        return [(k, days[k % 3], float(k) + tag) for k in keys]

    schema = "key long, day string, v double"
    base = spark.createDataFrame(rows(range(60), 0.0), schema).repartition(4)
    wh.overwrite("pt", base, partition_by="day")
    wh.append("pt", spark.createDataFrame(rows(range(60, 90), 0.0), schema), partition_by="day")
    before = wh.snapshots("pt")[-1]["parts"]
    assert all(len(ds) == 2 for ds in before.values())
    # keys on days 1 and 2 only: half replace stored keys, half are new
    upd = [r for r in rows(range(0, 120, 2), 0.5) if r[1] != days[2]]
    wh.merge_upsert("pt", spark.createDataFrame(upd, schema).repartition(8), ["key"], "day")

    after = wh.snapshots("pt")[-1]["parts"]
    assert after[days[2]] == before[days[2]]
    for day in days[:2]:
        (d,) = after[day]
        assert len(_parquet_files(wh, "pt", d)) == 1, d
    expected = {k: (day, v) for k, day, v in rows(range(90), 0.0)}
    expected.update({k: (day, v) for k, day, v in upd})
    assert {r["key"]: (r["day"], r["v"]) for r in wh.read("pt").collect()} == expected
    assert wh.read("pt").count() == len(expected)


def test_stream_sink_commit_writes_one_file_per_partition(spark, wh, tmp_path, stream_source):
    """The sink's first commit creates the table from the micro-batch frame
    itself, split over the stateful stream's shuffle partitions: still one
    file per partition dir."""
    import shutil

    src_dir, _ = stream_source
    one = tmp_path / "one_src"
    os.makedirs(one)
    shutil.copy(sorted(glob.glob(f"{src_dir}/*.parquet"))[0], one)
    stats = run_tier_stream(
        spark, str(one), str(tmp_path / "ck1"), wh, table="r1m_f", tier="1m",
        watermark="3650 days",
    )
    assert stats["batches"] >= 1 and len(wh.snapshots("r1m_f")) == 1
    dirs = [d for ds in wh.snapshots("r1m_f")[-1]["parts"].values() for d in ds]
    assert dirs and all(len(_parquet_files(wh, "r1m_f", d)) == 1 for d in dirs)


def test_compact_rewrites_only_fragmented_partitions(spark, wh):
    """``compact`` with every partition in one dir runs no Spark job and
    keeps every dir; a fragmented partition is rewritten into one dir while
    the others keep theirs.  Whole-table rewrites stay correct."""
    from conftest import _job_count

    days = ["2024-01-01", "2024-01-02", "2024-01-03"]
    schema = "key long, day string, v double"
    base = spark.createDataFrame([(k, days[k % 3], k * 1.5) for k in range(30)], schema)
    wh.overwrite("pt", base, partition_by="day")
    parts = wh.snapshots("pt")[-1]["parts"]
    assert _job_count(spark, lambda: wh.compact("pt", partition_by="day")) == 0
    snap = wh.snapshots("pt")[-1]
    assert snap["op"] == "compact" and snap["parts"] == parts
    assert snap["rows"] == wh.read("pt").count() == 30

    wh.append("pt", spark.createDataFrame([(30, days[0], 0.5), (31, days[0], 0.25)], schema), "day")
    fragmented = wh.snapshots("pt")[-1]["parts"]
    assert len(fragmented[days[0]]) == 2
    expected = sorted(wh.read("pt").collect())
    s = wh.compact("pt", partition_by="day")
    after = wh.snapshots("pt")[-1]["parts"]
    assert {p: after[p] for p in days[1:]} == {p: parts[p] for p in days[1:]}
    assert len(after[days[0]]) == 1 and after[days[0]] != fragmented[days[0]]
    assert len(_parquet_files(wh, "pt", after[days[0]][0])) == 1
    assert _rows(wh, "pt", s) == 32
    assert sorted(wh.read("pt").collect()) == expected

    # whole-table rewrites: unpartitioned, the NULL/'' partition, and a
    # partition_by other than the recorded column
    wh.overwrite("u", base)
    wh.append("u", base.limit(3))
    s = wh.compact("u")
    assert wh.partition_keys("u") == ["*"] and len(wh.snapshots("u")[-1]["parts"]["*"]) == 1
    assert _rows(wh, "u", s) == wh.read("u").count() == 33

    nulls = spark.createDataFrame([(1, None, 1.0), (2, "", 2.0), (3, days[0], 3.0)], schema)
    wh.overwrite("nd", nulls, partition_by="day")
    wh.append("nd", nulls, partition_by="day")
    s = wh.compact("nd", partition_by="day")
    after = wh.snapshots("nd")[-1]["parts"]
    assert sorted(after) == [days[0], "None"] and all(len(ds) == 1 for ds in after.values())
    assert _rows(wh, "nd", s) == 6
    got = sorted(str(r["day"]) for r in wh.read("nd", partitions=["None"]).collect())
    assert got == ["", "", "None", "None"]

    s = wh.compact("pt", partition_by="key")
    assert wh.snapshots("pt")[-1]["partition_by"] == "key"
    assert wh.partition_keys("pt") == sorted(str(k) for k in range(32))
    assert _rows(wh, "pt", s) == 32
    assert sorted(wh.read("pt").select(*base.columns).collect()) == expected


def test_read_takes_schema_from_manifest(spark, wh):
    """Reads take the schema the manifest records: no Spark job, an added
    column reads as NULL on older partitions, and a type change fails at
    commit."""
    from conftest import _job_count

    def batch(days, cols, v=1.0):
        rows = [
            (f"2024-01-0{d}", f"{d}-{i}", *[v] * (len(cols) - 2)) for d in days for i in range(3)
        ]
        return spark.createDataFrame(rows, ", ".join(cols))

    cols = ["day string", "k string", "v double"]
    wh.overwrite("t", batch([1, 2], cols), partition_by="day")
    wh.merge_upsert("t", batch([2], [*cols, "extra double"], 2.0), ["k"], partition_by="day")
    assert _job_count(spark, lambda: wh.read("t")) == 0
    got = wh.read("t")
    assert got.columns == ["day", "k", "v", "extra"]
    extra = {(r["day"], r["extra"]) for r in got.collect()}
    assert extra == {("2024-01-01", None), ("2024-01-02", 2.0)}

    snaps = wh.snapshots("t")
    for op in (
        lambda: wh.merge_upsert("t", batch([1], [*cols[:2], "v string"], "x"), ["k"], "day"),
        lambda: wh.append("t", batch([3], [*cols[:2], "v string"], "x"), "day"),
    ):
        with pytest.raises(ValueError, match="'v'.*double.*string"):
            op()
    assert wh.snapshots("t") == snaps


class _StateParts(StreamingQueryListener):
    """``numShufflePartitions`` of every stateful operator in each progress
    event, until the query terminates."""

    def __init__(self):
        self.parts: list[int] = []
        self.done = threading.Event()

    def onQueryStarted(self, event):
        pass

    def onQueryProgress(self, event):
        self.parts += [s.numShufflePartitions for s in event.progress.stateOperators]

    def onQueryIdle(self, event):
        pass

    def onQueryTerminated(self, event):
        self.done.set()


@contextmanager
def _state_parts(spark):
    """The state partition counts the queries started in the body report."""
    listener = _StateParts()
    spark.streams.addListener(listener)
    try:
        yield listener.parts
        assert listener.done.wait(60), "no query-terminated event"
    finally:
        spark.streams.removeListener(listener)


def _recorded_parts(ckpt):
    """``spark.sql.shuffle.partitions`` as the checkpoint's newest offset
    file records it (line 2 is the batch metadata, with its ``conf``)."""
    import json

    newest = max(int(f) for f in os.listdir(os.path.join(ckpt, "offsets")) if f.isdigit())
    with open(os.path.join(ckpt, "offsets", str(newest))) as fh:
        return json.loads(fh.read().splitlines()[1])["conf"]["spark.sql.shuffle.partitions"]


def _tier_1m(df):
    return (
        df.select("key", "window_start", "n_points", "sum_value", "min_value", "max_value")
        .orderBy("key", "window_start")
        .toPandas()
    )


def test_fresh_tier_stream_keeps_state_in_one_partition(spark, wh, tmp_path, stream_source, monkeypatch):
    """A fresh checkpoint records one state partition, the progress events
    report one, and the caller's ``spark.sql.shuffle.partitions`` is the
    same afterwards, also when ``start()`` raises."""
    from pyspark.sql.streaming import DataStreamWriter

    src_dir, _ = stream_source
    key = "spark.sql.shuffle.partitions"
    before = spark.conf.get(key)
    assert before != "1"
    ckpt = str(tmp_path / "ck_one")
    with _state_parts(spark) as parts:
        stats = run_tier_stream(
            spark, src_dir, ckpt, wh, table="r1m_one", tier="1m", watermark="3650 days",
            max_files_per_trigger=3,
        )
    assert stats["batches"] >= 2 and stats["rows_merged"] > 0
    assert _recorded_parts(ckpt) == "1"
    assert parts and set(parts) == {1}
    assert spark.conf.get(key) == before

    def boom(self, *a, **k):
        raise RuntimeError("start failed")

    monkeypatch.setattr(DataStreamWriter, "start", boom)
    with pytest.raises(RuntimeError, match="start failed"):
        run_tier_stream(spark, src_dir, str(tmp_path / "ck_raise"), wh, table="r1m_raise")
    assert spark.conf.get(key) == before


def test_resumed_tier_stream_keeps_recorded_partitions(spark, wh, tmp_path, stream_source, monkeypatch):
    """A checkpoint first run with 8 state partitions (as every checkpoint
    written before the one-partition default) resumes with 8, and the tier
    still equals batch ``rollup``."""
    import shutil

    from streaming_downsampling_spark.streaming import jobs

    src_dir, tbl = stream_source
    files = sorted(glob.glob(f"{src_dir}/*.parquet"))
    live = tmp_path / "live_src"
    os.makedirs(live)
    for f in files[:3]:
        shutil.copy(f, live)
    ckpt = str(tmp_path / "ck_eight")
    kw = dict(table="r1m_eight", tier="1m", watermark="3650 days")
    monkeypatch.setattr(jobs, "TIER_STREAM_PARTITIONS", 8, raising=False)
    run_tier_stream(spark, str(live), ckpt, wh, **kw)
    assert _recorded_parts(ckpt) == "8"
    monkeypatch.undo()

    for f in files[3:]:
        shutil.copy(f, live)
    with _state_parts(spark) as parts:
        stats = run_tier_stream(spark, str(live), ckpt, wh, **kw)
    assert stats["rows_merged"] > 0
    assert parts and set(parts) == {8}
    assert _recorded_parts(ckpt) == "8"
    import pandas as pd

    exp = rollup(with_signal(spark.createDataFrame(tbl.to_pandas())), "1m")
    pd.testing.assert_frame_equal(_tier_1m(wh.read("r1m_eight")), _tier_1m(exp), check_exact=True)


def test_tier_stream_late_rows_across_restarts(spark, wh, tmp_path):
    """Watermark semantics across AvailableNow restarts: the no-data
    micro-batch that ends each run advances the watermark, so a row older
    than it in the next run is dropped and its window keeps its count."""
    import datetime as dt

    t0 = dt.datetime(2024, 3, 1, 12, 0, tzinfo=dt.timezone.utc)
    minute = dt.timedelta(minutes=1)
    src = tmp_path / "late_src"
    os.makedirs(src)

    def put(name, minutes):
        ts = [t0 + m * minute for m in minutes]
        pq.write_table(
            pa.table(
                {
                    "conv_id": ["c"] * len(ts),
                    "ts": pa.array(ts, pa.timestamp("us", tz="UTC")),
                    "text": ["x" * (5 + m) for m in minutes],
                }
            ),
            str(src / f"{name}.parquet"),
        )

    ckpt = str(tmp_path / "ck_late")
    got = []
    # the late row sits 25 minutes before the first file's newest row (30)
    for name, minutes in [("a", range(31)), ("b", [5, 31, 32]), ("c", [4, 33])]:
        put(name, minutes)
        stats = run_tier_stream(
            spark, str(src), ckpt, wh, table="r1m_late", tier="1m", watermark="10 minutes"
        )
        got.append((stats["batches"], stats["rows_merged"], stats["late_rows_dropped"]))
    assert got == [(2, 31, 0), (2, 2, 1), (2, 1, 1)]
    n = {r["window_start"]: r["n_points"] for r in wh.read("r1m_late").collect()}
    assert len(n) == 34 and set(n.values()) == {1}
    assert n[(t0 + 5 * minute).replace(tzinfo=None)] == 1
