"""Physical-plan regression tests: lock in the plan shapes the engine's
scale claims rest on, so a refactor that silently degrades a plan (nested
loop instead of equi-join, lost filter pushdown, extra shuffles) fails CI
rather than surfacing as a 100x slowdown on a real corpus."""

import pytest

SF = "/root/testdata/sf0.001"


def _plan(df):
    return df._jdf.queryExecution().executedPlan().toString()


@pytest.fixture(scope="module")
def q(spark):
    from streaming_downsampling_spark import queries

    return {name: fn(spark, SF) for name, fn in [
        ("interval_join", queries.QUERIES["interval_join"]),
        ("pricing_summary", queries.QUERIES["pricing_summary"]),
        ("dedup_exact", queries.QUERIES["dedup_exact"]),
        ("top_revenue_orders", queries.QUERIES["top_revenue_orders"]),
    ]}


def test_interval_join_is_equi_join(q):
    """The bin-bucketed range join must plan as a hash equi-join — a
    BroadcastNestedLoopJoin here is the O(N*M) failure mode the binning
    exists to prevent."""
    plan = _plan(q["interval_join"])
    assert "NestedLoop" not in plan
    assert "HashJoin" in plan or "SortMergeJoin" in plan


def test_pricing_filter_pushed_to_scan(q):
    """The shipdate predicate must reach the parquet scan (PushedFilters),
    not evaluate post-scan over all rows."""
    plan = _plan(q["pricing_summary"])
    scan = plan[plan.index("PushedFilters") :][:200]
    assert "l_shipdate" in scan


def test_exact_dedup_is_single_shuffle(q):
    """Exact dedup is one hash-key shuffle: partial agg, exchange, final
    agg.  More than one exchange means the map-side combine was lost."""
    plan = _plan(q["dedup_exact"])
    assert plan.count("Exchange hashpartitioning") == 1


def test_tier_cascade_is_one_shuffle_per_tier(transcripts):
    """rollup → cascade('1h') → cascade('1d') shuffles once per tier: each
    tier is partial agg, exchange, final agg on (key, window).  Three
    exchanges before the run, three shuffle query stages in AQE's final
    plan; a fourth means a tier lost its map-side combine or re-shuffled."""
    from streaming_downsampling_spark.operators.rollup import cascade, rollup

    r1d = cascade(cascade(rollup(transcripts, "1m"), "1h"), "1d")
    assert _plan(r1d).count("Exchange hashpartitioning") == 3
    r1d.collect()
    final = _plan(r1d).split("== Initial Plan ==")[0]
    assert final.count("ShuffleQueryStage") == 3


def test_top_revenue_broadcasts_customer(q):
    """The small customer dimension must broadcast; the big fact join keys
    shuffle.  A shuffle of the dim side would add a pointless stage, a
    broadcast of the fact side would OOM at scale."""
    plan = _plan(q["top_revenue_orders"])
    assert "BroadcastHashJoin" in plan


def test_bucketed_tables_join_without_exchange(spark, tmp_path_factory):
    """Two tables bucketed on the join key must sort-merge-join with ZERO
    Exchange: bucketing is the co-located-join strategy that amortizes one
    write-time shuffle across every subsequent join — at 100 TB the
    difference between re-shuffling the fact table per query and never
    shuffling it again."""
    import pandas as pd
    from pyspark.sql import functions as F

    wh = str(tmp_path_factory.mktemp("bucketed_wh"))
    spark.conf.set("spark.sql.sources.bucketing.enabled", "true")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        a = spark.createDataFrame(
            pd.DataFrame({"k": range(1000), "va": [float(i) for i in range(1000)]})
        )
        b = spark.createDataFrame(
            pd.DataFrame({"k": range(1000), "vb": [float(-i) for i in range(1000)]})
        )
        for name, df in [("bt_a", a), ("bt_b", b)]:
            spark.sql(f"DROP TABLE IF EXISTS {name}")
            # external table path: the session's static warehouse dir can't
            # change, so the bucketed files land in the test's tmp dir
            df.write.bucketBy(8, "k").sortBy("k").option(
                "path", f"{wh}/{name}"
            ).saveAsTable(name)
        joined = (
            spark.table("bt_a")
            .join(spark.table("bt_b"), "k")
            .agg(F.sum(F.col("va") + F.col("vb")).alias("s"))
        )
        assert joined.collect()[0]["s"] == 0.0
        plan = _plan(spark.table("bt_a").join(spark.table("bt_b"), "k"))
        assert "SortMergeJoin" in plan
        assert "Exchange hashpartitioning" not in plan
    finally:
        spark.conf.set(
            "spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024)
        )
        spark.sql("DROP TABLE IF EXISTS bt_a")
        spark.sql("DROP TABLE IF EXISTS bt_b")


def test_bucketed_pair_generators_one_scan_no_join(spark):
    """Every bucketed pair generator (text LSH, simhash single/multi-block,
    embedding hyperplane-LSH) must plan as groupBy-bucket + in-bucket
    expansion: ONE scan of its input, ZERO join nodes.  A self-join
    sneaking back in doubles the hash-pipeline work and re-adds the
    materialization job the round-5 rework removed."""
    from streaming_downsampling_spark.operators import dedup as D
    from streaming_downsampling_spark.operators import similarity as S

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    dim = len(emb.select("embedding").first()[0])

    plans = {
        "lsh_pairs": _plan(D.lsh_candidates(docs, num_hashes=8, bands=4)),
        "lsh_star": _plan(
            D.lsh_candidates(docs, num_hashes=8, bands=4, edge_mode="star")
        ),
        "simhash": _plan(D.simhash_near_dups(docs, prefix_bits=8)),
        "simhash_blocked": _plan(
            D.simhash_near_dups_blocked(docs, n_blocks=4, max_hamming=3)
        ),
        "embedding": _plan(
            S.lsh_near_dup_pairs(emb, dim=dim, n_planes=4, threshold=0.0)
        ),
    }
    for name, plan in plans.items():
        assert plan.count("Scan parquet") == 1, (name, plan)
        assert "Join" not in plan, (name, plan)
