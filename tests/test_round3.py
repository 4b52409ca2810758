"""Round-3 behaviors: as-of tie determinism, bounded streaming-dedup state,
storage-pool hygiene of the LSH paths, blocked-SimHash recall, connected-
components convergence guard, and O(1)-job partitioned warehouse commits."""

from __future__ import annotations

import datetime as dt
import gc

import pandas as pd
import pytest
from conftest import _job_count
from pyspark.sql import functions as F


# ---------------------------------------------------------------------------
# as-of right-side ties
# ---------------------------------------------------------------------------


def test_asof_dedup_ties_deterministic(spark):
    """Duplicate (key, right_ts) rows: dedup_ties=True keeps the greatest
    right row by lexicographic right_cols order, regardless of input order
    or partitioning."""
    from streaming_downsampling_spark.operators.asof import asof_join

    base = dt.datetime(2024, 1, 1)
    left = spark.createDataFrame(
        pd.DataFrame({"k": ["a"], "lts": [base + dt.timedelta(minutes=5)]})
    )
    rows = [("a", base, 1.0, "x"), ("a", base, 9.0, "y"), ("a", base, 3.0, "z")]
    for perm in (rows, rows[::-1], [rows[1], rows[2], rows[0]]):
        right = spark.createDataFrame(
            pd.DataFrame(perm, columns=["k", "rts", "v", "tag"])
        ).repartition(4)
        out = asof_join(
            left, right, "k", "lts", "rts", ["v", "tag"], dedup_ties=True
        ).collect()
        assert len(out) == 1
        # greatest (v, tag) struct = (9.0, 'y'); both columns from that row
        assert out[0]["v_asof"] == 9.0 and out[0]["tag_asof"] == "y"


def test_asof_without_dedup_still_atomic(spark):
    """Even with undefined tie winners, the matched row is atomic: v and tag
    always come from the SAME right row."""
    from streaming_downsampling_spark.operators.asof import asof_join

    base = dt.datetime(2024, 1, 1)
    left = spark.createDataFrame(
        pd.DataFrame({"k": ["a"], "lts": [base + dt.timedelta(minutes=5)]})
    )
    right = spark.createDataFrame(
        pd.DataFrame(
            [("a", base, 1.0, "one"), ("a", base, 2.0, "two")],
            columns=["k", "rts", "v", "tag"],
        )
    )
    r = asof_join(left, right, "k", "lts", "rts", ["v", "tag"]).collect()[0]
    assert (r["v_asof"], r["tag_asof"]) in {(1.0, "one"), (2.0, "two")}


def test_time_spine_timezone_independent(spark):
    """The spine over NTZ rollups must be identical under any session
    timezone — Kathmandu's +05:45 offset breaks both date_trunc day
    slicing and naive NTZ→TS casting (round-2 ADVICE)."""
    from pyspark.sql import functions as F

    from streaming_downsampling_spark.operators.gapfill import time_spine

    def build(sess):
        base = dt.datetime(2024, 1, 3, 7, 42)
        pdf = pd.DataFrame(
            {
                "key": ["k"] * 2,
                "ts": [base, base + dt.timedelta(days=2, hours=3)],
                "v": [1.0, 2.0],
            }
        )
        df = (
            sess.createDataFrame(pdf)
            .select(
                "key",
                F.col("ts").cast("timestamp_ntz").alias("ts"),
                "v",
            )
            .select(
                "key",
                F.window("ts", "1 hour")["start"].alias("window_start"),
                "v",
            )
        )
        return sorted(
            r["window_start"] for r in time_spine(df, "1h").collect()
        )

    utc_ticks = build(spark)
    ktm = spark.newSession()
    ktm.conf.set("spark.sql.session.timeZone", "Asia/Kathmandu")
    try:
        assert build(ktm) == utc_ticks
        assert len(utc_ticks) == 2 * 24 + 3 + 1
    finally:
        ktm.conf.set("spark.sql.session.timeZone", "UTC")


def test_asof_tolerance_nulls_stale_matches(spark):
    """Matches older than the tolerance become nulls (merge_asof
    semantics); fresh matches are untouched."""
    from streaming_downsampling_spark.operators.asof import asof_join

    base = dt.datetime(2024, 1, 1)
    left = spark.createDataFrame(
        pd.DataFrame(
            {
                "k": ["a", "a"],
                "lts": [
                    base + dt.timedelta(minutes=30),   # fresh match
                    base + dt.timedelta(hours=5),      # stale match
                ],
            }
        )
    )
    right = spark.createDataFrame(
        pd.DataFrame({"k": ["a"], "rts": [base], "v": [7.0]})
    )
    out = {
        r["lts"]: (r["v_asof"], r["rts_asof"])
        for r in asof_join(
            left, right, "k", "lts", "rts", ["v"], tolerance="1 hour"
        ).collect()
    }
    assert out[base + dt.timedelta(minutes=30)] == (7.0, base)
    assert out[base + dt.timedelta(hours=5)] == (None, None)


# ---------------------------------------------------------------------------
# bounded streaming-dedup state
# ---------------------------------------------------------------------------


def test_stream_dedup_state_bounded(spark, tmp_path):
    """dropDuplicatesWithinWatermark expires per-key state once the
    watermark passes event time + delay: streaming three day-apart batches
    through a 1-hour dedup window must leave far fewer state rows than
    total keys (plain dropDuplicates would retain ALL of them)."""
    src = str(tmp_path / "src")
    base = dt.datetime(2024, 1, 1)
    n_per_batch, n_batches = 200, 3
    for b in range(n_batches):
        pdf = pd.DataFrame(
            {
                "event_id": [b * n_per_batch + i for i in range(n_per_batch)],
                "ts": [
                    base + dt.timedelta(days=b, seconds=i)
                    for i in range(n_per_batch)
                ],
            }
        )
        sdf = spark.createDataFrame(pdf).withColumn(
            "ts", F.col("ts").cast("timestamp")
        )
        sdf.coalesce(1).write.mode("append").parquet(src)
    schema = spark.read.parquet(src).schema
    stream = (
        spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(src)
    )
    q = (
        stream.withWatermark("ts", "1 hour")
        .dropDuplicatesWithinWatermark(["event_id"])
        .writeStream.format("memory")
        .queryName("dedup_bounded_mem")
        .outputMode("append")
        .trigger(availableNow=True)
        .option("checkpointLocation", str(tmp_path / "ck"))
        .start()
    )
    assert q.awaitTermination(300)
    total = spark.table("dedup_bounded_mem").count()
    assert total == n_per_batch * n_batches  # no dups in input: all pass
    state_rows = [
        op["numRowsTotal"]
        for p in q.recentProgress
        for op in p["stateOperators"]
        if op["numRowsTotal"] is not None
    ]
    # final batch: only its own ~200 keys live; the two earlier batches'
    # state expired (each batch is 1 day apart, window is 1 hour)
    assert state_rows, "no state metrics reported"
    assert state_rows[-1] <= n_per_batch, state_rows


# ---------------------------------------------------------------------------
# storage-pool hygiene of the LSH/self-join paths
# ---------------------------------------------------------------------------


def test_lsh_paths_leave_storage_pool_clean(spark):
    """lsh_candidates / simhash / embedding-LSH materializations must not
    accumulate in the storage pool once their results are consumed and
    dropped (round-2 leak finding): localCheckpoint blocks are GC-scoped."""
    from streaming_downsampling_spark.operators.dedup import (
        lsh_candidates,
        simhash_near_dups_blocked,
    )

    docs = spark.createDataFrame(
        pd.DataFrame(
            {
                "doc_id": list(range(40)),
                "text": [
                    f"alpha beta gamma delta epsilon zeta {i % 7} common tail words"
                    for i in range(40)
                ],
            }
        )
    )
    out1 = lsh_candidates(docs, num_hashes=8, bands=2).count()
    out2 = simhash_near_dups_blocked(docs, n_blocks=4, max_hamming=3).count()
    assert out1 >= 0 and out2 >= 0
    del out1, out2
    import time

    # ContextCleaner reclaims on JVM GC; a bare System.gc() may not promote
    # the young-gen weak refs, so apply real allocation pressure per poll
    for _ in range(20):
        gc.collect()
        spark.range(2_000_000).selectExpr("sum(id)").collect()
        spark.sparkContext._jvm.System.gc()
        time.sleep(0.5)
        n_cached = spark.sparkContext._jsc.getPersistentRDDs().size()
        if n_cached == 0:
            break
    assert n_cached == 0, f"{n_cached} RDDs still in the storage pool"


# ---------------------------------------------------------------------------
# blocked SimHash: exact bounded recall
# ---------------------------------------------------------------------------


def test_simhash_blocked_recall_exact_vs_bruteforce(spark):
    """Every pair within Hamming distance 3 (brute force over the computed
    fingerprints) must appear in the blocked operator's output — the
    pigeonhole guarantee of the 4-block split."""
    import itertools

    from streaming_downsampling_spark.operators.dedup import (
        simhash,
        simhash_near_dups_blocked,
    )

    texts = {}
    for i in range(30):
        texts[i] = f"quick brown fox {i} jumps over the lazy dog number {i % 5}"
    texts[30] = texts[0]  # exact dup -> hamming 0
    texts[31] = texts[1] + " extra"  # near dup -> small hamming
    docs = spark.createDataFrame(
        pd.DataFrame({"doc_id": list(texts), "text": list(texts.values())})
    )
    fps = {
        r["doc_id"]: r["simhash"] for r in simhash(docs, hash_fn="md5").collect()
    }
    expected = {
        (a, b)
        for a, b in itertools.combinations(sorted(fps), 2)
        if bin(fps[a] ^ fps[b]).count("1") <= 3
    }
    assert any(h == 0 for (a, b) in expected for h in [fps[a] ^ fps[b]])
    got = {
        (r["doc_a"], r["doc_b"])
        for r in simhash_near_dups_blocked(
            docs, n_blocks=4, max_hamming=3, hash_fn="md5"
        ).collect()
    }
    assert expected == got


# ---------------------------------------------------------------------------
# connected components: convergence guard
# ---------------------------------------------------------------------------


def test_star_cc_matches_union_find(spark):
    """Large-star/small-star components equal a Python union-find ground
    truth on a random graph plus a 120-node chain (the O(diameter) killer
    for plain label propagation)."""
    import random

    from streaming_downsampling_spark.operators.dedup import (
        connected_components_star,
    )

    rng = random.Random(7)
    edges = [(rng.randrange(300), rng.randrange(300)) for _ in range(150)]
    edges += [(1000 + i, 1001 + i) for i in range(120)]  # long chain
    edges = [(a, b) for a, b in edges if a != b]
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    def union(a, b):
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)

    for a, b in edges:
        union(a, b)
    truth = {n: find(n) for n in parent}
    # canonicalize: component id = min node in component
    comp_min = {}
    for n, r in truth.items():
        comp_min[r] = min(comp_min.get(r, n), n)
    truth = {n: comp_min[find(n)] for n in parent}

    df = spark.createDataFrame(
        pd.DataFrame(edges, columns=["doc_a", "doc_b"])
    )
    got = {
        r["node"]: r["component"]
        for r in connected_components_star(df).collect()
    }
    assert got == truth


def test_connected_components_raises_when_unconverged(spark):
    from scalar_oracles import connected_components

    chain = spark.createDataFrame(
        pd.DataFrame({"doc_a": list(range(9)), "doc_b": list(range(1, 10))})
    )
    with pytest.raises(RuntimeError, match="did not converge"):
        connected_components(chain, max_iter=2)
    # and with enough rounds the same chain collapses to one component
    labels = connected_components(chain, max_iter=15)
    comps = {r["component"] for r in labels.collect()}
    assert comps == {0}


# ---------------------------------------------------------------------------
# warehouse: O(1) Spark jobs per partitioned commit
# ---------------------------------------------------------------------------


def test_warehouse_schema_evolution_and_compaction(spark, tmp_path):
    """Iceberg-essential maintenance: a merge batch may ADD a column (old
    rows read back as null — add-column evolution), and compaction
    collapses accumulated per-append dirs to one per partition while
    preserving the data."""
    from streaming_downsampling_spark.sources.tables import Warehouse

    wh = Warehouse(spark, str(tmp_path / "wh"))

    def batch(days, cols):
        rows = [
            tuple([f"2024-01-{d:02d}", f"{d}-{i}"] + [float(i)] * (len(cols) - 2))
            for d in days
            for i in range(3)
        ]
        return spark.createDataFrame(pd.DataFrame(rows, columns=cols))

    wh.overwrite("t", batch([1, 2], ["day", "k", "v"]), partition_by="day")
    wh.append("t", batch([1, 2], ["day", "k", "v"]), partition_by="day")
    wh.append("t", batch([3], ["day", "k", "v"]), partition_by="day")
    # schema evolution: the merge batch carries a NEW column `extra`
    wh.merge_upsert(
        "t", batch([2], ["day", "k", "v", "extra"]), ["k"], partition_by="day"
    )
    got = wh.read("t").toPandas()
    assert "extra" in got.columns
    assert got[got.day == "2024-01-02"]["extra"].notna().all()
    assert got[got.day == "2024-01-03"]["extra"].isna().all()
    # day 1 saw overwrite+append: 2 dirs; compaction -> 1 dir per partition
    meta = wh._load_meta("t")
    before = meta["snapshots"][-1]["parts"]
    assert len(before["2024-01-01"]) == 2
    n_before = wh.read("t").count()
    wh.compact("t", partition_by="day")
    after = wh._load_meta("t")["snapshots"][-1]["parts"]
    assert all(len(ds) == 1 for ds in after.values())
    assert wh.read("t").count() == n_before
    # compacted table still carries the evolved schema
    assert "extra" in wh.read("t").columns


def test_partitioned_commit_job_count_constant(spark, tmp_path):
    """A merge touching 10 partition values must run the same number of
    Spark jobs as one touching 2 — the round-2 per-value write loop is gone.
    (Job counts include the distinct() value collect, the single
    partitionBy write, and the count read-back.)"""
    from streaming_downsampling_spark.sources.tables import Warehouse

    wh = Warehouse(spark, str(tmp_path / "wh"))

    def batch(days, tag):
        rows = [
            (f"2024-01-{d:02d}", f"{d}-{i}", float(i) + tag)
            for d in days
            for i in range(5)
        ]
        return spark.createDataFrame(
            pd.DataFrame(rows, columns=["day", "k", "v"])
        )

    wh.overwrite("t", batch(range(1, 12), 0.0), partition_by="day")
    jobs_small = _job_count(
        spark, lambda: wh.merge_upsert("t", batch([1, 2], 1.0), ["k"], "day")
    )
    jobs_large = _job_count(
        spark,
        lambda: wh.merge_upsert("t", batch(range(1, 11), 2.0), ["k"], "day"),
    )
    assert jobs_large <= jobs_small + 1, (jobs_small, jobs_large)
    # correctness: merged values win only in touched partitions
    got = {
        (r["day"], r["k"]): r["v"] for r in wh.read("t").collect()
    }
    assert got[("2024-01-03", "3-1")] == 3.0  # touched by the large merge
    assert got[("2024-01-11", "11-1")] == 1.0  # untouched since overwrite
    # manifest: each commit's partitions live under ONE base dir
    parts = wh._load_meta("t")["snapshots"][-1]["parts"]
    bases = {ds[0].split("/")[0] for p, ds in parts.items() if p <= "2024-01-10"}
    assert len(bases) == 1
