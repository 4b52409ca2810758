"""The transcript pipeline job that bench.py and scripts/pipeline_job.py
both run."""

from __future__ import annotations


def test_transcript_pipeline_counts_every_turn(spark, transcripts_tbl):
    """One run at sf0.3 (seed 42): the job's own asserts hold (Σ 1d
    ``n_points`` equals the input, model windows and Gorilla bytes are
    positive) and it reports the generated row count."""
    from streaming_downsampling_spark.pipeline import transcript_pipeline

    n_turns, elapsed = transcript_pipeline(spark, 0.3)
    assert n_turns == transcripts_tbl.num_rows
    assert elapsed > 0
