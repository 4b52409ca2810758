"""Dedup / similarity / text / multimodal / compress operator tests."""

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F
from scalar_oracles import connected_components

from streaming_downsampling_spark.operators import dedup as D
from streaming_downsampling_spark.operators import similarity as S
from streaming_downsampling_spark.operators import text as T
from streaming_downsampling_spark.operators.compress import (
    compress_chunks,
    decompress_chunks,
)
from streaming_downsampling_spark.operators.multimodal import (
    extract_features,
    frame_sample_plan,
    synth_media,
)


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        (0, "the quick brown fox jumps over the lazy dog"),
        (1, "the quick brown fox jumps over the lazy dog"),  # exact dup of 0
        (2, "the quick brown fox leaps over the lazy dog"),  # near dup
        (3, "el gato y la casa de que la y el"),
        (4, "completely different content about spark and data"),
        (5, "der hund und die katze das ist gut und der"),
    ]
    return spark.createDataFrame(rows, ["doc_id", "text"])


def test_exact_dedup(spark, docs):
    out = D.exact_dedup(docs).orderBy("doc_id").collect()
    ids = [r["doc_id"] for r in out]
    assert 0 in ids and 1 not in ids  # min-id representative kept
    dup_row = [r for r in out if r["doc_id"] == 0][0]
    assert dup_row["n_copies"] == 2


def test_minhash_identical_signatures(spark, docs):
    sig = D.minhash_signatures(docs, num_hashes=8).orderBy("doc_id").collect()
    by_id = {r["doc_id"]: r["signature"] for r in sig}
    assert by_id[0] == by_id[1]  # identical text → identical signature
    # near-dup shares most minhashes
    same = sum(a == b for a, b in zip(by_id[0], by_id[2]))
    assert same >= 3


def test_lsh_candidates_catch_dups(spark, docs):
    pairs = {
        (r["doc_a"], r["doc_b"])
        for r in D.lsh_candidates(docs, num_hashes=8, bands=4).collect()
    }
    assert (0, 1) in pairs


def test_ngram_jaccard(spark, docs):
    cands = D.lsh_candidates(docs, num_hashes=8, bands=8)
    out = D.ngram_jaccard_pairs(docs, cands).collect()
    j = {(r["doc_a"], r["doc_b"]): r["jaccard"] for r in out}
    if (0, 1) in j:
        assert j[(0, 1)] == 1.0


def test_simhash_hamming(spark, docs):
    out = D.simhash(docs).collect()
    by_id = {r["doc_id"]: r["simhash"] for r in out}
    assert by_id[0] == by_id[1]
    ham_near = bin(by_id[0] ^ by_id[2]).count("1")
    ham_far = bin(by_id[0] ^ by_id[4]).count("1")
    assert ham_near < ham_far


@pytest.fixture(scope="module")
def emb(spark):
    rng = np.random.default_rng(42)
    base = rng.normal(size=(20, 16)).astype(np.float32)
    base[1] = base[0] * 2.0  # same direction as 0 → cosine 1
    pdf = pd.DataFrame(
        {"vec_id": np.arange(20, dtype=np.int64), "embedding": [v.tolist() for v in base]}
    )
    return spark.createDataFrame(pdf)


def test_cosine_topk(spark, emb):
    out = S.cosine_topk(emb, emb.filter(F.col("vec_id") == 0), k=3).collect()
    assert out[0]["neighbor_id"] == 1 and out[0]["cos"] == 1.0
    assert [r["rank"] for r in out] == [1, 2, 3]


def test_lsh_ann_finds_colinear(spark, emb):
    out = S.lsh_ann_topk(
        emb, emb.filter(F.col("vec_id") == 0), dim=16, k=3, n_planes=4
    ).collect()
    # colinear vector is in the same bucket for any hyperplane set
    assert any(r["neighbor_id"] == 1 and r["rank"] == 1 for r in out)


def test_token_count_and_quality(spark, docs):
    tc = {r["doc_id"]: r for r in T.token_count(docs).collect()}
    assert tc[0]["n_tokens"] == 9
    q = {r["doc_id"]: r for r in T.quality_score(docs).collect()}
    assert 0.0 <= q[0]["quality"] <= 1.0
    assert q[0]["n_words"] == 9


def test_lang_guess(spark, docs):
    out = {r["doc_id"]: r["lang_guess"] for r in T.lang_guess(docs).collect()}
    assert out[0] == "en"
    assert out[3] == "es"
    assert out[5] == "de"


def test_fingerprint_normalizes_whitespace(spark):
    df = spark.createDataFrame(
        [(0, "Hello  World"), (1, "hello world"), (2, "other")],
        ["doc_id", "text"],
    )
    out = {r["doc_id"]: r["fp_md5"] for r in T.fingerprint(df).collect()}
    assert out[0] == out[1] != out[2]


def test_multimodal_features(spark):
    media = synth_media(spark, n=50)
    feats = extract_features(media, dim=8).collect()
    assert len(feats) == 50
    assert all(len(r["feature"]) == 8 for r in feats)
    # deterministic across runs
    feats2 = extract_features(synth_media(spark, n=50), dim=8).collect()
    a = {r["media_id"]: r["feature"] for r in feats}
    b = {r["media_id"]: r["feature"] for r in feats2}
    assert a == b
    plan = frame_sample_plan(media, every_ms=5000)
    assert plan.count() > 0


def test_compress_roundtrip_bitexact(spark, transcripts):
    chunks = compress_chunks(transcripts, window="1 day")
    pts = decompress_chunks(chunks)
    got = pts.agg(
        F.count(F.lit(1)).alias("n"), F.sum("value").alias("s")
    ).collect()[0]
    exp = transcripts.agg(
        F.count(F.lit(1)).alias("n"), F.sum("value").alias("s")
    ).collect()[0]
    assert got["n"] == exp["n"]
    # exact per-point equality: join decoded points back on (key, ts)
    orig = transcripts.select(
        F.col("conv_id").alias("key"),
        F.unix_micros(F.col("ts").cast("timestamp")).alias("ts_us"),
        "value",
    )
    joined = pts.alias("a").join(
        orig.alias("b"), ["key", "ts_us"], "inner"
    )
    n_match = joined.filter(F.col("a.value") == F.col("b.value")).count()
    assert n_match == exp["n"]
    # compression actually compresses
    ratio = chunks.agg(
        (F.sum("raw_bytes") / F.sum("enc_bytes")).alias("r")
    ).collect()[0]["r"]
    assert ratio > 1.2


def test_connected_components_chain_and_islands(spark):
    """Both components operators must resolve transitive chains (1-2-3-4),
    separate islands, and leave unpaired nodes out of the edge set."""
    import pandas as pd

    pairs = spark.createDataFrame(
        pd.DataFrame(
            {"doc_a": [2, 3, 1, 10], "doc_b": [3, 4, 2, 11]}
        )
    )
    for cc in (connected_components, D.connected_components_star):
        got = {r["node"]: r["component"] for r in cc(pairs).collect()}
        assert got == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10}, cc.__name__


def test_dedup_components_canonical_ids(spark, docs):
    out = D.dedup_components(docs, num_hashes=8, bands=4)
    rows = {r["doc_id"]: r["component_id"] for r in out.collect()}
    # every doc present exactly once, canonical <= doc_id's component members
    assert len(rows) == docs.count()
    assert all(c <= d for d, c in rows.items())
    # known near-dups from the fixture share a component
    cands = {
        (r["doc_a"], r["doc_b"])
        for r in D.lsh_candidates(docs, num_hashes=8, bands=4).collect()
    }
    for a, b in cands:
        assert rows[a] == rows[b]


def test_ivf_assign_one_cell_per_vector(spark, emb):
    asn = S.ivf_assign(emb, dim=16, n_cells=4).collect()
    assert len(asn) == 20  # exactly one row (one cell) per vector
    assert all(0 <= r["cell"] < 4 for r in asn)


def test_ivf_topk_clustered_recall(spark):
    """On data clustered tightly around the IVF centroids themselves,
    nprobe=1 IVF top-k must equal brute-force top-k (neighbors share the
    query's cell), and the colinear pair ranks first with cosine 1."""
    cents = S.centroid_literals(16, 4)
    rng = np.random.default_rng(1)
    vecs = np.repeat(cents, 6, axis=0) + rng.normal(scale=0.02, size=(24, 16))
    vecs[1] = vecs[0] * 3.0  # colinear with 0
    pdf = pd.DataFrame(
        {
            "vec_id": np.arange(24, dtype=np.int64),
            "embedding": [v.astype(np.float32).tolist() for v in vecs],
        }
    )
    df = spark.createDataFrame(pdf)
    q = df.filter(F.col("vec_id") % 6 == 0)  # one query per cluster
    ivf = S.ivf_topk(df, q, dim=16, k=3, n_cells=4, nprobe=1).collect()
    brute = S.cosine_topk(df, q, k=3).collect()
    key = lambda r: (r["query_id"], r["rank"], r["neighbor_id"], r["cos"])  # noqa: E731
    assert sorted(map(key, ivf)) == sorted(map(key, brute))
    first = {r["query_id"]: r for r in ivf if r["rank"] == 1}
    assert first[0]["neighbor_id"] == 1 and first[0]["cos"] == 1.0


def test_affine_constants_pinned():
    """The md5-family affine permutation constants are inlined into BOTH the
    Spark expressions and the generated DuckDB oracle SQL — pin them so a
    refactor can't silently desynchronize the two sides."""
    from streaming_downsampling_spark.operators.dedup import affine_constants

    assert affine_constants(4, 42) == [
        (754442395, 3738195813),
        (641159995, 2450198490),
        (403690955, 689141725),
        (1797718865, 3221915970),
    ]
    for a, b in affine_constants(16, 42):
        assert a % 2 == 1 and 0 < a < 2**31 and 0 <= b < 2**32


def test_spread_is_noop_on_wide_input(spark):
    """spread() fans a 1-partition scan out to default parallelism but must
    NOT add a shuffle when the input already has enough partitions."""
    from streaming_downsampling_spark.operators._spread import spread

    narrow = spark.range(1000).coalesce(1)
    assert spread(narrow).rdd.getNumPartitions() == (
        spark.sparkContext.defaultParallelism
    )
    wide = spark.range(1000).repartition(
        spark.sparkContext.defaultParallelism + 4
    )
    out = spread(wide)
    assert out is wide  # same plan object: no repartition inserted
