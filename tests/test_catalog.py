"""The query catalog's registration and its stream-driven entries.

The registry pin fixes what the external gate and the local oracle gate see:
the order of ``QUERIES`` (the gate samples a prefix of it), the text of every
``ORACLES`` entry, and the digest suites' membership.  The stream-driven
queries replay the events table as a bounded multi-batch stream; a replay
that reorders or drops a batch yields a wrong result, so each is checked
against its DuckDB oracle with the oracle gate's own comparison.
"""

from __future__ import annotations

import hashlib
import importlib.util
import os

import pytest

SF = "/root/testdata/sf0.001"
ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

QUERIES_SHA256 = "df940dc7517d0f8ab7297e64c63bd3bf7b1f166402f59aeb3248d91acd8b757c"

# sha256 of each oracle text, first 16 hex digits
ORACLE_SHA256 = {
    "ann_suite": "6d32c1f938bd3d03",
    "asof_enrich": "db5c251a6b2a0052",
    "asof_tolerance": "ce1c27a72539c40f",
    "brand_revenue": "90df77e4c8d709e2",
    "compaction_roundtrip": "f9bc02c97fadd44c",
    "cosine_topk": "a54e030fdbce8cf7",
    "cumshare_select": "b5c873af3c8b6ab6",
    "customers_per_region": "a73de0ea5510de97",
    "dataset_split": "d5a40f55ba9088a3",
    "dedup_components": "7a64fd83e211d6c5",
    "dedup_components_star": "7a64fd83e211d6c5",
    "dedup_exact": "56912dd7d848e3b9",
    "dedup_suite": "d9babbfcbb1dcd42",
    "distinct_per_window": "5281cf31c9d340dc",
    "embedding_near_dup": "c70017dcbdf9678c",
    "error_bench_sql": "5c2cb215d6c12440",
    "ewma_smooth": "5f51754975b6e6ba",
    "fingerprint": "94025c3164653af3",
    "frame_sample": "7a3a57c58f1ebfe9",
    "gapfill_linear": "9d6afb10f89db278",
    "gapfill_locf": "7fb57d3575b09233",
    "gorilla_roundtrip": "0325ab0c90f0bc04",
    "haar_threshold": "3c7af221ae20952c",
    "interval_join": "e72d01dbaee9e11e",
    "ivf_ann": "db7fcadcfd0c6cab",
    "json_roundtrip": "e2c187ab7c448692",
    "lang_guess": "8a2e8621991c93a4",
    "last_n_buffer": "f2d2213b920c7a9f",
    "lsh_ann": "1f940a25aa727031",
    "lttb_select": "81c7695b9d1ef08b",
    "media_suite": "e45d682601e0cb54",
    "minhash_lsh": "93b40a643b836cb6",
    "minmax_daily": "96c7023cbc23eb86",
    "mixup_augment": "9c926fa41ab31d48",
    "model_attention_parity": "d10b101b487309ee",
    "model_db4_parity": "27c09635ffcdc728",
    "model_haar_parity": "29eea0c6730307d7",
    "moving_stats": "22c5dd33d34cd923",
    "multimodal_features": "7cf919a79d8224b0",
    "neardup_suite": "d50bc3619a99fb7a",
    "ngram_jaccard": "34b298e06ef52915",
    "noise_augment": "643cba4169c39220",
    "percentiles_per_type": "7baf1bcb924e318a",
    "pip_select": "d984dd24c2b26518",
    "pivot_hourly": "5fbcae020824387e",
    "pricing_summary": "357b2f124f765526",
    "props_extract": "ec82b6a193ac2684",
    "random_sample": "2868104e84dc4786",
    "relational_suite": "b285e5ae6d004cff",
    "rollup_15m": "69d8de621a8d5dc8",
    "rollup_1d_cascade": "f721fdabe402d1fc",
    "rollup_1h": "63a7f6812b96b40f",
    "sanitize_agg": "5a64e4083eba0de8",
    "sessionize": "55d15419b32ac851",
    "simhash_nn": "4eba3808dc52181d",
    "simhash_rotate": "1ae627dce6f157a4",
    "stateful_last_n": "f453e665d35a8852",
    "stateful_tier": "f6d1a6e3488dfcd3",
    "stats_per_type": "c2c059156bb6d4c3",
    "stratified_sample": "2ce01dbea3dff965",
    "stream_dedup": "40eb44b96c36f597",
    "stream_rollup_1h": "e763791b243c1dea",
    "stream_sessionize": "61a15534f855d1e4",
    "stream_static_enrich": "a99f48ba375b2f0f",
    "stream_tier_cascade": "9c03af73d274e7bf",
    "supplier_volume": "1a2d8448a9acd70b",
    "text_quality": "b9bb056c0db1dcfe",
    "text_suite": "93600a29915af853",
    "token_count": "c1e023a160a7a839",
    "top_revenue_orders": "75cba156784dea5c",
    "topk_per_type": "6b7d47382c5f5c2c",
    "uniform_sample": "a38a1717c58004ff",
    "zscore_normalize": "4d50cf142bafa2ec",
}

# every catalog query that replays a table as a bounded stream or writes
# through the warehouse, plus json_roundtrip's serde round trip
STREAM_DRIVEN = [
    "stream_sessionize",
    "stateful_tier",
    "stream_rollup_1h",
    "stream_tier_cascade",
    "stateful_last_n",
    "stream_static_enrich",
    "stream_dedup",
    "compaction_roundtrip",
    "json_roundtrip",
]


def _sha256(s: str) -> str:
    return hashlib.sha256(s.encode()).hexdigest()


def test_registry_pinned():
    from streaming_downsampling_spark.queries import (
        ORACLES,
        QUERIES,
        _SUITE_MEMBERS,
        _SUITE_SCHEMAS,
    )

    assert _sha256("\n".join(QUERIES)) == QUERIES_SHA256, list(QUERIES)
    got = {n: _sha256(t)[:16] for n, t in ORACLES.items()}
    differing = sorted(
        n for n in got.keys() | ORACLE_SHA256.keys()
        if got.get(n) != ORACLE_SHA256.get(n)
    )
    assert not differing, f"oracle texts changed: {differing}"
    for suite, members in _SUITE_MEMBERS.items():
        assert suite in QUERIES and suite in ORACLES, suite
        for m in members:
            assert m in QUERIES and m in ORACLES and m in _SUITE_SCHEMAS, (suite, m)


@pytest.fixture(scope="module")
def oracle_gate():
    """DuckDB over the ``SF`` tables, and ``scripts/check_oracles.py``
    loaded from its file for its ``normalize``/``value_hash``."""
    import duckdb

    spec = importlib.util.spec_from_file_location(
        "check_oracles", os.path.join(ROOT, "scripts", "check_oracles.py")
    )
    co = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(co)
    con = duckdb.connect()
    for t in co.TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{SF}/{t}.parquet'")
    yield co, con
    con.close()


@pytest.mark.parametrize("name", STREAM_DRIVEN)
def test_stream_driven_query_matches_oracle(spark, oracle_gate, name):
    from streaming_downsampling_spark.queries import ORACLES, QUERIES

    co, con = oracle_gate
    got = QUERIES[name](spark, SF).toPandas()
    exp = con.sql(ORACLES[name]).fetchdf()
    assert len(got) > 0, name
    assert (len(got), sorted(got.columns)) == (len(exp), sorted(exp.columns))
    assert co.value_hash(co.normalize(got)) == co.value_hash(co.normalize(exp))
