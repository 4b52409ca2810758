"""Round-5 regression tests: the round-4 ADVICE fixes and verdict items."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F


def test_merge_upsert_empty_string_partition(spark, tmp_path):
    """Round-4 ADVICE (medium): Spark's ``partitionBy`` writes BOTH NULL and
    the empty string to ``__HIVE_DEFAULT_PARTITION__`` (manifest key
    'None'), but the touched-value set kept '' as-is — so a batch carrying
    an empty-string partition value skipped the anti-join for that
    partition and committed duplicate keys (the same failure class as the
    round-3 boolean repr miss).  This is that exact scenario."""
    from streaming_downsampling_spark.sources.tables import Warehouse

    wh = Warehouse(spark, str(tmp_path / "wh_empty"))
    base = spark.createDataFrame(
        [(1, "", 10.0), (2, "", 20.0), (3, "a", 30.0), (4, None, 40.0)],
        "id long, part string, v double",
    )
    wh.overwrite("et", base, partition_by="part")
    upd = spark.createDataFrame(
        [(1, "", 11.0), (4, None, 41.0), (5, "a", 50.0)],
        "id long, part string, v double",
    )
    wh.merge_upsert("et", upd, keys=["id"], partition_by="part")
    rows = wh.read("et").collect()
    got = {r["id"]: r["v"] for r in rows}
    assert len(rows) == 5, (
        f"duplicate keys committed: empty-string partition repr mismatch "
        f"({sorted((r['id'], r['v']) for r in rows)})"
    )
    assert got[1] == 11.0 and got[4] == 41.0 and got[5] == 50.0
    assert got[2] == 20.0 and got[3] == 30.0


def test_suite_schemas_match_live_queries(spark):
    """The digest suites' DuckDB oracle builder normalizes columns from the
    hardcoded ``_SUITE_SCHEMAS`` while the Spark side normalizes from the
    live DataFrame schema — if a member query's output drifted, the two
    sides would hash different strings.  Pin them equal."""
    from streaming_downsampling_spark.queries import (
        QUERIES,
        _SUITE_MEMBERS,
        _SUITE_SCHEMAS,
    )

    sf = "/root/testdata/sf0.001"
    members = sorted({m for ms in _SUITE_MEMBERS.values() for m in ms})
    assert set(members) == set(_SUITE_SCHEMAS)
    for m in members:
        live = [
            (f.name, f.dataType.simpleString())
            for f in QUERIES[m](spark, sf).schema.fields
        ]
        assert live == _SUITE_SCHEMAS[m], f"{m}: schema drifted: {live}"


def test_star_cc_keeps_self_pair_only_nodes(spark):
    """connected_components_star promises 'every node appearing in pairs'
    like the propagation variant, but its u != v edge filter used to drop
    a node whose only appearance is a self-pair (x, x)."""
    from scalar_oracles import connected_components

    from streaming_downsampling_spark.operators.dedup import connected_components_star

    pairs = spark.createDataFrame(
        [(1, 2), (7, 7), (3, 3), (2, 3)], "doc_a long, doc_b long"
    )
    got_star = {
        (r["node"], r["component"])
        for r in connected_components_star(pairs).collect()
    }
    got_prop = {
        (r["node"], r["component"])
        for r in connected_components(pairs).collect()
    }
    assert got_star == got_prop == {(1, 1), (2, 1), (3, 1), (7, 7)}


def test_lsh_candidates_rejects_non_dividing_bands(spark):
    """bands that don't divide num_hashes silently ignored the trailing
    signature lanes (hash cost paid, recall never delivered) — now a
    ValueError."""
    from streaming_downsampling_spark.operators.dedup import lsh_candidates

    docs = spark.createDataFrame([(1, "a b c")], "doc_id long, text string")
    with pytest.raises(ValueError, match="must divide num_hashes"):
        lsh_candidates(docs, num_hashes=16, bands=3)


def test_time_spine_non_dividing_step_stays_on_grid(spark):
    """A tier step that does not divide 86400 s (e.g. '7m') must stay on
    the absolute epoch grid across day boundaries: the old per-day slicing
    restarted day-2+ ticks at midnight (a multiple of 86400, not of the
    step), so every real F.window bucket after day 1 missed the spine and
    was replaced by interpolated phantoms."""
    from streaming_downsampling_spark.operators.gapfill import time_spine
    from streaming_downsampling_spark.operators.rollup import tier_seconds

    step = tier_seconds("7m")
    assert 86400 % step != 0
    # two window starts on the 7m epoch grid, ~3 days apart
    s0 = (1704067200 // step) * step  # 2024-01-01-ish, snapped to grid
    s1 = s0 + 600 * step
    df = spark.createDataFrame(
        [("k", s0), ("k", s1)], "key string, sec long"
    ).select("key", F.timestamp_seconds("sec").alias("window_start"))
    ticks = [
        r["t"]
        for r in time_spine(df, "7m")
        .select(F.unix_seconds("window_start").alias("t"))
        .collect()
    ]
    assert len(ticks) == 601
    assert all(t % step == 0 for t in ticks), "off-grid tick emitted"
    assert min(ticks) == s0 and max(ticks) == s1
    assert sorted(set(ticks)) == list(range(s0, s1 + 1, step))


def test_time_spine_step_longer_than_day(spark):
    """A step longer than one day used to build sequence(start, stop<start)
    and throw; now day slices without a grid tick are simply empty."""
    from streaming_downsampling_spark.operators.gapfill import time_spine

    step = 2 * 86400
    s0 = (1704067200 // step) * step
    s1 = s0 + 5 * step
    df = spark.createDataFrame(
        [("k", s0), ("k", s1)], "key string, sec long"
    ).select("key", F.timestamp_seconds("sec").alias("window_start"))
    ticks = sorted(
        r["t"]
        for r in time_spine(df, "2d")
        .select(F.unix_seconds("window_start").alias("t"))
        .collect()
    )
    assert ticks == list(range(s0, s1 + 1, step))


def test_hash_random_indices_gap_statistics():
    """A bare affine rank restricted to i < n is a lattice: by the
    three-distance theorem the gaps between the k selected positions take
    at most 3 distinct values — a jittered-systematic sample that would
    bias the error bench's 'random' baseline toward uniform sampling's
    error profile.  The fmix32 avalanche must restore random-like gap
    dispersion; np.random.choice(1000, 20) yields ~12-17 distinct gaps,
    so require a conservative >= 8 on every tested key."""
    from streaming_downsampling_spark.functions.kernels import (
        hash_random_indices,
    )

    for key in ["g1", "g2", "k|2024-01-01", "x" * 40]:
        idx = hash_random_indices(1000, 20, group_key=key)
        gaps = np.diff(idx)
        assert len(set(gaps.tolist())) >= 8, (
            f"{key}: gaps {sorted(set(gaps.tolist()))} look lattice-like"
        )
    # determinism and the bijection's tie-free selection are unchanged
    a = hash_random_indices(1000, 20, group_key="g1")
    assert np.array_equal(a, hash_random_indices(1000, 20, group_key="g1"))
    assert len(np.unique(a)) == 20


def test_digest_sum_catches_xor_cancellation(spark):
    """The suite digest's bit_xor accumulator alone cannot distinguish two
    multisets whose differing rows have even multiplicity ({A,A,B} vs
    {C,C,B}: the duplicate pair xors to 0 on both sides).  digest2 — the
    modular SUM of the same 60-bit row hashes — must separate exactly that
    pair, and both accumulators must agree on a genuinely equal multiset."""
    from streaming_downsampling_spark.queries import _digest_df

    def digest(rows):
        df = spark.createDataFrame(rows, "doc_id long, n_copies long")
        r = _digest_df(df, "m").collect()[0]
        return r["row_count"], r["digest"], r["digest2"]

    aab = digest([(1, 7), (1, 7), (2, 9)])
    ccb = digest([(3, 5), (3, 5), (2, 9)])
    assert aab[0] == ccb[0] == 3
    assert aab[1] == ccb[1], "precondition: this is the xor-collision pair"
    assert aab[2] != ccb[2], "digest2 must be duplicate-sensitive"
    # equal multisets agree on every accumulator regardless of row order
    again = digest([(2, 9), (1, 7), (1, 7)])
    assert again == aab


def test_digest_nonfinite_parity_spark_vs_duckdb(spark):
    """NULL / NaN / ±Inf doubles must hash to the SAME row strings on both
    digest engines: Java's format_string says 'null'/'NaN'/'Infinity' while
    DuckDB's printf says NULL/'nan'/'inf', so both sides canonicalize these
    explicitly before formatting — this pins the full non-finite matrix."""
    import duckdb

    from streaming_downsampling_spark import queries as q

    rows = [
        (None, 1),
        (float("nan"), 2),
        (float("inf"), 3),
        (float("-inf"), 4),
        (0.0078125, 5),  # dyadic .5-boundary value, exercises the dither
    ]
    sdf = spark.createDataFrame(rows, "v double, k long")
    got = q._digest_df(sdf, "t").collect()[0]

    q._SUITE_SCHEMAS["__nonfinite_t"] = [("v", "double"), ("k", "bigint")]
    try:
        sql = q._sql_digest(
            "__nonfinite_t",
            "SELECT * FROM (VALUES (NULL, CAST(1 AS BIGINT)),"
            " ('nan'::DOUBLE, 2), ('infinity'::DOUBLE, 3),"
            " ('-infinity'::DOUBLE, 4), (0.0078125, 5)) t(v, k)",
        )
        exp = duckdb.sql(sql).fetchall()[0]
    finally:
        del q._SUITE_SCHEMAS["__nonfinite_t"]
    assert (got["row_count"], got["digest"], got["digest2"]) == (
        exp[1],
        exp[2],
        exp[3],
    )


def test_attention_weights_blob_roundtrip(tmp_path):
    """The trained-weight seam (round-4 verdict #7): exporting the frozen
    weights, round-tripping them through np.savez, and feeding them back as
    ``weights=`` must reproduce the exact selection; perturbed weights must
    not."""
    from scalar_oracles import attention_importance

    from streaming_downsampling_spark.functions import kernels as K

    x = np.round(np.sin(np.arange(200) / 7.0) * 10 + np.cos(np.arange(200)), 2)
    blob = K.attention_weights_blob()
    p = str(tmp_path / "attn_weights.npz")
    np.savez(p, **blob)
    loaded = dict(np.load(p))

    base_pooled, base_sel, base_idx = K.model_downsample(x)
    w_pooled, w_sel, w_idx = K.model_downsample(x, weights=loaded)
    np.testing.assert_array_equal(base_idx, w_idx)
    np.testing.assert_array_equal(base_sel, w_sel)
    np.testing.assert_array_equal(base_pooled, w_pooled)
    # batch kernel takes the same seam
    bp, bs, bi = K.model_downsample_batch(x[None, :], weights=loaded)
    np.testing.assert_array_equal(bi[0], base_idx)
    # a genuinely different artifact changes the ranking
    bent = {k: (v * -1.7 + 0.3 if k != "w_in" else v) for k, v in loaded.items()}
    s_base = attention_importance(x)
    s_bent = attention_importance(x, weights=bent)
    assert not np.array_equal(s_base, s_bent)


def test_kafka_source_contract(spark):
    """The claimed one-line Kafka swap (round-4 verdict #9): building the
    tier-stream source with ``source_format='kafka'`` must construct a real
    ``readStream.format('kafka')`` reader — i.e. reach Spark's data-source
    resolution asking for the kafka provider (the connector jar is absent
    in this sandbox, so resolution itself must be the failure point, not
    our plumbing) — while the parquet branch of the same seam yields a
    streaming DataFrame with the caller's schema."""
    from pyspark.sql.types import (
        DoubleType,
        StringType,
        StructField,
        StructType,
        TimestampType,
    )

    from streaming_downsampling_spark.streaming.jobs import build_stream_source

    schema = StructType(
        [
            StructField("conv_id", StringType()),
            StructField("ts", TimestampType()),
            StructField("value", DoubleType()),
        ]
    )
    with pytest.raises(Exception, match="(?i)kafka"):
        build_stream_source(
            spark, "transcripts", source_format="kafka", schema=schema,
            kafka_topic="transcripts",
        )

    import tempfile

    d = tempfile.mkdtemp(prefix="kafka_seam_parquet_")
    spark.createDataFrame([], schema).write.mode("overwrite").parquet(d)
    src = build_stream_source(spark, d, source_format="parquet", schema=schema)
    assert src.isStreaming and src.schema == schema


def test_lsh_star_mode_same_components_and_linear_edges(spark):
    """``edge_mode="star"`` must give IDENTICAL connected components to the
    full pair expansion (everything in a bucket stays connected through the
    bucket minimum) while emitting k-1 edges per bucket instead of
    k(k-1)/2 — including on a pathological hot bucket (many identical
    docs), the shape that kills the quadratic expansion at corpus scale."""
    from scalar_oracles import connected_components

    from streaming_downsampling_spark.operators import dedup as D

    rows = [(i, "the quick brown fox jumps over the lazy dog") for i in range(40)]
    rows += [(100 + i, f"unique document number {i} with words " + " ".join(
        f"w{i}{j}" for j in range(8))) for i in range(10)]
    rows += [(200, "pack my box with five dozen liquor jugs"),
             (201, "pack my box with five dozen liquor jugs")]
    docs = spark.createDataFrame(rows, "doc_id long, text string")

    kw = dict(num_hashes=8, bands=4, hash_fn="md5", distinct=True)
    pairs = D.lsh_candidates(docs, **kw, edge_mode="pairs")
    star = D.lsh_candidates(docs, **kw, edge_mode="star")

    n_pairs, n_star = pairs.count(), star.count()
    # hot bucket: 40 identical docs -> 780 pairs vs 39 star edges
    assert n_star < n_pairs, (n_star, n_pairs)
    assert n_star <= 4 * (40 + 2)  # <= (k-1) per bucket per band

    def comps(edges):
        out = connected_components(edges)
        return {(r["node"], r["component"]) for r in out.collect()}

    assert comps(star) == comps(pairs)

    # star edges always point at the bucket minimum
    assert star.filter(F.col("doc_a") >= F.col("doc_b")).count() == 0


def test_simhash_bucket_pairs_shape(spark):
    """The groupBy-bucket simhash pair expansion must keep the self-join
    contract: doc_a < doc_b, one row per pair, correct Hamming distance."""
    from streaming_downsampling_spark.operators import dedup as D

    rows = [
        (1, "alpha beta gamma delta epsilon zeta"),
        (2, "alpha beta gamma delta epsilon zeta"),
        (3, "alpha beta gamma delta epsilon eta"),
        (4, "totally different words entirely here now"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    out = D.simhash_near_dups(docs, prefix_bits=4, hash_fn="md5").collect()
    assert all(r["doc_a"] < r["doc_b"] for r in out)
    assert len({(r["doc_a"], r["doc_b"]) for r in out}) == len(out)
    ident = {(r["doc_a"], r["doc_b"]): r["hamming"] for r in out}
    assert ident.get((1, 2)) == 0  # identical docs -> identical fingerprints

    blocked = D.simhash_near_dups_blocked(
        docs, n_blocks=4, max_hamming=3, hash_fn="md5"
    ).collect()
    assert all(r["doc_a"] < r["doc_b"] for r in blocked)
    assert len({(r["doc_a"], r["doc_b"]) for r in blocked}) == len(blocked)
    assert {(r["doc_a"], r["doc_b"]) for r in blocked} >= {(1, 2)}


def test_simhash_handles_million_word_document(spark):
    """The 31-bit packed vote slots must fingerprint a document beyond the
    old 2^20-word bound (book-length / concatenated-log docs are real in a
    web corpus) — the earlier 20-bit packing raised there.  The expected
    fingerprint is recomputed independently from per-word md5 vote math."""
    import hashlib

    from streaming_downsampling_spark.operators import dedup as D

    vocab = [f"word{i}" for i in range(32)]
    reps = (1 << 20) // len(vocab) + 7  # > 2^20 words total
    text = " ".join(vocab * reps)
    n_words = len(vocab) * reps
    assert n_words > 1 << 20

    docs = spark.createDataFrame([(1, text)], "doc_id long, text string")
    got = D.simhash(docs, hash_fn="md5").collect()[0]["simhash"]

    votes = [0] * 60
    for w in vocab:
        hv = int(hashlib.md5(f"sh|{w}".encode()).hexdigest()[:15], 16)
        for b in range(60):
            votes[b] += reps if (hv >> b) & 1 else -reps
    expected = sum(1 << b for b in range(60) if votes[b] > 0)
    assert got == expected


def test_run_tier_stream_kafka_requires_schema(spark, tmp_path):
    """source_format='kafka' with schema=None must fail fast with a clear
    error (Kafka value bytes carry no schema), not fall into file-based
    schema inference against a path that is actually a topic name."""
    from streaming_downsampling_spark.sources.tables import Warehouse
    from streaming_downsampling_spark.streaming.jobs import run_tier_stream

    wh = Warehouse(spark, str(tmp_path / "wh"))
    with pytest.raises(ValueError, match="kafka.*schema|schema.*[Kk]afka"):
        run_tier_stream(
            spark,
            "transcripts-topic",
            str(tmp_path / "ckpt"),
            wh,
            source_format="kafka",
        )


def test_model_haar_parity_tiny_groups_empty_pooled(spark, tmp_path):
    """A 2-point (key, day) group under haar has a 1-coefficient cA whose
    factor-2 floor-division pooling is EMPTY; strict ``element_at`` raised
    INVALID_ARRAY_INDEX_IN_ELEMENT_AT on it (hit by the sf0.001 gate, whose
    group sizes go down to 2), while the DuckDB oracle's LEFT JOIN yields
    NULL for exactly those windows.  Pins the ``try_element_at`` fix:
    the query runs, reports n_pooled=0 / NULL endpoints for the tiny
    group, and still hash-matches the oracle on the same data."""
    import duckdb

    from streaming_downsampling_spark.queries import ORACLES, QUERIES

    rows = [
        # one 2-point group (empty pooled under haar)
        (1, "click", 1.0, "2024-01-01 00:10:00"),
        (2, "click", 3.0, "2024-01-01 00:20:00"),
        # one healthy group
        *[
            (10 + i, "view", float(i), f"2024-01-02 00:{i:02d}:00")
            for i in range(8)
        ],
    ]
    ev = spark.createDataFrame(
        rows, "event_id long, event_type string, value double, ts string"
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    ev.write.mode("overwrite").parquet(str(tmp_path / "events.parquet"))

    out = QUERIES["model_haar_parity"](spark, str(tmp_path)).toPandas()
    tiny = out[out["key"] == "click"].iloc[0]
    assert tiny["n"] == 2 and tiny["n_pooled"] == 0
    assert pd.isna(tiny["pooled_first"]) and pd.isna(tiny["pooled_last"])
    healthy = out[out["key"] == "view"].iloc[0]
    assert healthy["n_pooled"] > 0 and not pd.isna(healthy["pooled_first"])

    con = duckdb.connect()
    con.execute(
        "CREATE VIEW events AS SELECT * FROM "
        f"read_parquet('{tmp_path}/events.parquet/*.parquet')"
    )
    oracle = con.execute(ORACLES["model_haar_parity"]).df()
    con.close()
    key = ["key", "window_start"]
    a = out.sort_values(key).reset_index(drop=True)[sorted(out.columns)]
    b = oracle.sort_values(key).reset_index(drop=True)[sorted(oracle.columns)]
    assert list(a.columns) == list(b.columns) and len(a) == len(b)
    for c in a.columns:
        av, bv = a[c].astype(str).tolist(), b[c].astype(str).tolist()
        assert av == bv, f"column {c}: {av} != {bv}"
