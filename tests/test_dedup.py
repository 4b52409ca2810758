"""Dedup operators on NULL ids and NULL texts."""

from __future__ import annotations

from pyspark.sql import functions as F


def test_null_id_pair_gives_no_component_row(spark):
    """A pair with one NULL id is no edge: neither connected-components
    variant may turn it into a self-pair that labels its other node."""
    from streaming_downsampling_spark.operators.dedup import (
        connected_components,
        connected_components_star,
    )

    pairs = spark.createDataFrame(
        [(1, 2), (5, None), (None, 6), (None, None)], "doc_a long, doc_b long"
    )
    expected = {(1, 1), (2, 1)}
    for cc in (connected_components_star, connected_components):
        got = {(r["node"], r["component"]) for r in cc(pairs).collect()}
        assert got == expected, cc.__name__
    # the distributed path of the star variant, not only its driver union-find
    got = {
        (r["node"], r["component"])
        for r in connected_components_star(pairs, small_graph_max_edges=0).collect()
    }
    assert got == expected


def test_null_text_shares_no_shingle_with_empty_text(spark):
    """A NULL text emits the NULL shingle, an empty text the '' shingle, so
    the two documents never meet on a shingle (and never band together)."""
    from streaming_downsampling_spark.operators.dedup import shingles

    df = spark.createDataFrame([(1, None), (2, ""), (3, "a b c d")], "doc_id long, text string")
    sh = shingles(df)
    got = {r["doc_id"]: r["shingle"] for r in sh.filter(F.col("doc_id") < 3).collect()}
    assert got == {1: None, 2: ""}
    shared = sh.alias("a").join(
        sh.alias("b"),
        (F.col("a.shingle") == F.col("b.shingle")) & (F.col("a.doc_id") < F.col("b.doc_id")),
    )
    assert shared.count() == 0
