"""Tests of the benchmark's own helpers.

    python3 -m pytest perfbench -q -p no:cacheprovider

The last test starts a two-core Spark session (about 20 s).
"""

from __future__ import annotations

import json
import os
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.path.insert(0, os.path.dirname(HERE))

import harness as H  # noqa: E402

EVENT_LOG = os.path.join(HERE, "testdata", "eventlog.jsonl")
EVENT_SPANS = os.path.join(HERE, "testdata", "eventlog_spans.json")


def tracer_with(spans: list[tuple[str, float, float, int | None]]) -> H.Tracer:
    tr = H.Tracer("test")
    tr.spans = [H.Span(n, a, b, parent=p, run_id="test") for n, a, b, p in spans]
    return tr


def test_self_time_subtracts_the_union_of_children():
    tr = tracer_with(
        [
            ("root", 0.0, 10.0, None),
            ("a", 1.0, 3.0, 0),
            ("b", 2.0, 5.0, 0),  # overlaps a: counted once
            ("c", 8.0, 12.0, 0),  # runs past its parent: only [8, 10) counts
            ("a.x", 1.5, 2.5, 1),  # a grandchild is not root's child
        ]
    )
    assert tr.self_time(0) == pytest.approx(10.0 - 4.0 - 2.0)
    assert tr.self_time(1) == pytest.approx(1.0)
    assert tr.self_time(2) == pytest.approx(3.0)
    assert tr.self_time(4) == pytest.approx(1.0)


def test_interval_helpers():
    assert H.union([(3, 4), (0, 1), (0.5, 2), (5, 5)]) == [(0, 2), (3, 4)]
    assert H.subtract([(0, 10)], [(2, 3), (2.5, 4), (9, 11)]) == [(0, 2), (4, 9)]
    assert H.length([(0, 1), (0.5, 2)]) == 2


def test_nested_spans_record_parent_and_order():
    tr = H.Tracer("run-1")
    with tr.span("outer"):
        with tr.span("inner") as s:
            s.counts["rows"] = 3
    with tr.span("next"):
        pass
    assert [(s.name, s.parent, s.run_id) for s in tr.spans] == [
        ("outer", None, "run-1"),
        ("inner", 0, "run-1"),
        ("next", None, "run-1"),
    ]
    assert tr.spans[1].counts == {"rows": 3}
    assert tr.self_time(0) <= tr.spans[0].end - tr.spans[0].start


@pytest.mark.parametrize(
    "n,p",
    [(0, None), (19, None), (20, 50.0), (39, 50.0), (40, 75.0), (99, 75.0), (100, 90.0),
     (200, 95.0), (999, 95.0), (1000, 99.0), (10_000, 99.9)],
)
def test_highest_percentile_with_ten_samples_beyond_it(n, p):
    assert H.supported_percentile(n) == p


def test_event_log_parser_and_attribution():
    """A log captured from a two-span run (``eventlog_spans.json`` holds the
    spans and the task counts read off the raw log): span-0 ran one job of
    4 map and 2 reduce tasks, span-1 one job of 2 tasks without a shuffle,
    and one more job of 1 task ran outside any span."""
    ev = H.parse_event_log(EVENT_LOG)
    with open(EVENT_SPANS) as f:
        spans = json.load(f)
    tr = tracer_with(
        [(s["name"], s["start"], s["end"], s["parent"]) for s in spans]
        # a span opened later on another thread, over span-0's jobs: the
        # job group, not the innermost open span, decides their owner
        + [("other-thread", spans[0]["start"] + 1e-3, spans[0]["end"], None)]
    )
    groups = sorted(j["group"] or "" for j in ev.jobs.values())
    assert groups == ["", "span-0", "span-1"]
    assert len(ev.tasks) == sum(s["tasks"] for s in spans) + spans[0]["tasks_outside"]
    stats = H.attribute(tr, ev)
    owned = {i: [t for t in ev.tasks if H.job_span(tr, ev.jobs[t.job]) == i] for i in (0, 1)}
    for i, s in enumerate(spans):
        assert len(owned[i]) == s["tasks"], s["name"]
        assert stats[i].task_s == pytest.approx(sum(t.run_s for t in owned[i]))
        assert stats[i].driver_gap_s <= tr.self_time(i) + 1e-9
    assert stats[0].shuffle_write_mb > 0
    assert stats[0].shuffle_read_mb == pytest.approx(stats[0].shuffle_write_mb, rel=0.5)
    assert stats[1].shuffle_write_mb == 0


@pytest.mark.parametrize("seed", [1, 2])
def test_shaped_input_has_the_same_structure_for_every_seed(seed):
    """Fixed conversation counts, long ones cut to a fixed length, and no
    conversation crossing midnight: one (conversation, day) group each."""
    import numpy as np

    from inputs import DAY_US, conversations, shaped

    tbl = shaped(seed, n_short=50, n_long=2, long_turns=1_500)
    _, counts = conversations(tbl)
    assert len(counts) == 52
    assert sorted(counts)[-2:] == [1_500, 1_500] and max(sorted(counts)[:-2]) < 1_000
    day = tbl.column("ts").cast("int64").to_numpy() // DAY_US
    ids = tbl.column("conv_id").to_numpy(zero_copy_only=False)
    assert len({(k, d) for k, d in zip(ids, day)}) == 52
    assert np.all(np.diff(tbl.column("turn_idx").to_numpy())[ids[1:] == ids[:-1]] == 1)


@pytest.fixture(scope="module")
def spark():
    from streaming_downsampling_spark.session import get_spark

    # the Python workers import the engine from the checkout too
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in [H.ROOT, os.environ.get("PYTHONPATH", "")] if p
    )
    s = get_spark(app_name="perfbench-tests", cpus=2, shuffle_partitions=2)
    s.sparkContext.setLogLevel("ERROR")
    yield s
    s.stop()


def test_a_flipped_byte_in_a_gorilla_blob_is_a_failure(spark, tmp_path):
    """The tier_batch round-trip check passes on the encoder's chunks and
    fails, counting one failed operation, once one byte of one blob flips."""
    import pyarrow.parquet as pq

    from inputs import shaped
    from run import Ctx
    from tier_batch import chunks, gorilla_round_trips, points, prepared

    from streaming_downsampling_spark.operators.rollup import with_signal

    tbl = shaped(seed=7, n_short=10)
    path = str(tmp_path / "t.parquet")
    pq.write_table(tbl, path)
    df = with_signal(spark.read.parquet(path)).select("conv_id", "turn_idx", "ts", "value")
    rows = chunks(prepared(df)).toPandas()
    expected = points(tbl)
    assert gorilla_round_trips(spark, rows, expected)

    blob = bytearray(rows.at[0, "val_blob"])
    blob[len(blob) // 2] ^= 0x01
    rows.at[0, "val_blob"] = bytes(blob)
    ctx = Ctx(work=None, seed=7, cpus=2)
    ctx.check(gorilla_round_trips(spark, rows, expected), "gorilla round trip")
    assert (ctx.attempted, ctx.failed) == (1, 1)


def test_stream_reference_tiers_equal_batch_rollup_and_cascade(spark, tmp_path):
    """The pandas tiers each ingest cycle is checked against are the batch
    ``rollup(df, "1m")`` and its ``cascade`` to 1h."""
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    from inputs import shaped
    from stream_ingest import frame, same, tiers

    from streaming_downsampling_spark.operators.rollup import cascade, rollup, with_signal

    tbl = shaped(seed=3, n_short=20, n_long=1, long_turns=1_000)
    path = str(tmp_path / "t.parquet")
    pq.write_table(tbl, path)
    r1m = rollup(with_signal(spark.read.parquet(path)), "1m")
    ref = tiers(
        tbl.column("conv_id").to_numpy(zero_copy_only=False),
        tbl.column("ts").cast("int64").to_numpy(),
        pc.utf8_length(tbl.column("text")).to_numpy().astype("float64"),
    )
    assert same(frame(r1m), ref["tier_1m"])
    assert same(frame(cascade(r1m, "1h")), ref["tier_1h"])
    assert not same(frame(r1m).iloc[1:].reset_index(drop=True), ref["tier_1m"])
