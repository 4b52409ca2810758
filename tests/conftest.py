from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


@pytest.fixture(scope="session")
def spark():
    from streaming_downsampling_spark.session import get_spark

    s = get_spark(app_name="tests", cpus=8, shuffle_partitions=8)
    s.sparkContext.setLogLevel("ERROR")
    yield s
    s.stop()


@pytest.fixture(scope="session")
def transcripts_tbl():
    from streaming_downsampling_spark.datagen import generate_transcripts

    return generate_transcripts(sf=0.3, seed=42)


@pytest.fixture(scope="session")
def transcripts(spark, transcripts_tbl, tmp_path_factory):
    import pyarrow.parquet as pq

    path = str(tmp_path_factory.mktemp("data") / "transcripts.parquet")
    pq.write_table(transcripts_tbl, path)
    from streaming_downsampling_spark.operators.rollup import with_signal

    return with_signal(spark.read.parquet(path))


def no_python_rdd(df) -> bool:
    """True when ``df``'s physical RDD lineage has no ``PythonRDD``, i.e.
    evaluating it launches no Python worker task."""
    return "PythonRDD" not in df._jdf.queryExecution().toRdd().toDebugString()


def _new_jobs(spark, fn) -> list[int]:
    """Ids of the Spark jobs without a job group that ``fn`` submits.  Takes
    the job ids above the newest one seen before ``fn``, after draining the
    listener bus on both sides: the status store only sees a job once the
    bus has delivered its start event, and it keeps only the last
    ``spark.ui.retainedJobs`` jobs, so a difference of list lengths stops
    counting in a long session."""
    bus = spark.sparkContext._jsc.sc().listenerBus()
    tracker = spark.sparkContext.statusTracker()
    bus.waitUntilEmpty()
    newest = max(tracker.getJobIdsForGroup(None) or [-1])
    fn()
    bus.waitUntilEmpty()
    return [j for j in tracker.getJobIdsForGroup(None) or [] if j > newest]


def _job_count(spark, fn) -> int:
    """Spark jobs without a job group that ``fn`` submits."""
    return len(_new_jobs(spark, fn))


def _task_count(spark, fn) -> list[int]:
    """Tasks completed by each stage of the jobs ``fn`` submits, one entry
    per stage: ``max`` is the widest stage, ``sum`` the total.  A stage
    skipped because it reused a shuffle's output counts 0.  Once the status
    store holds ``spark.ui.retainedStages`` stages it drops skipped stages
    first (their completion time is -1), so a stage it no longer knows ran
    no task."""
    tracker = spark.sparkContext.statusTracker()
    stages = {s for j in _new_jobs(spark, fn) for s in tracker.getJobInfo(j).stageIds}
    infos = [tracker.getStageInfo(s) for s in sorted(stages)]
    return [i.numCompletedTasks if i else 0 for i in infos]
