"""Shared machinery of the benchmark: the work directory, the Spark session,
the closed-loop timer, /proc memory sampling, spans, and the Spark event-log
parser that attributes task metrics to spans.

Nothing here starts a thread, a process or a JVM at import time.
"""

from __future__ import annotations

import json
import math
import os
import shutil
import statistics
import sys
import threading
import time
import traceback
from contextlib import contextmanager
from dataclasses import dataclass, field

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK_ROOT = os.path.join(ROOT, ".perfbench_work")
PERCENTILES = (50.0, 75.0, 90.0, 95.0, 99.0, 99.9)
_T0 = time.perf_counter()


def cpu_count() -> int:
    """Cores this process may run on (what ``nproc`` prints)."""
    return len(os.sched_getaffinity(0))


def median(xs: list[float]) -> float:
    return float(statistics.median(xs))


def supported_percentile(n: int) -> float | None:
    """The highest of :data:`PERCENTILES` with at least ten of ``n``
    samples beyond it (past its nearest rank), or None when even the
    median has fewer."""
    best = None
    for p in PERCENTILES:
        rank = math.ceil(round(p * n / 100.0, 9))
        if n - rank >= 10:
            best = p
    return best


def fmt(clocks: list) -> str:
    return " ".join(f"{c.wall:.2f}/{c.cpu:.2f}" for c in clocks)


def log(msg: str) -> None:
    print(f"[perfbench {time.perf_counter() - _T0:7.2f}s] {msg}", file=sys.stderr, flush=True)


def log_failure(what: str) -> None:
    log(f"FAILED {what}:\n{traceback.format_exc()}")


# -- intervals ----------------------------------------------------------------


def union(intervals: list[tuple[float, float]]) -> list[tuple[float, float]]:
    """Merge overlapping [start, end) intervals into a sorted disjoint list."""
    out: list[list[float]] = []
    for a, b in sorted(i for i in intervals if i[1] > i[0]):
        if out and a <= out[-1][1]:
            out[-1][1] = max(out[-1][1], b)
        else:
            out.append([a, b])
    return [(a, b) for a, b in out]


def subtract(
    base: list[tuple[float, float]], cut: list[tuple[float, float]]
) -> list[tuple[float, float]]:
    """The parts of ``base`` not covered by ``cut``."""
    out = []
    cut = union(cut)
    for a, b in union(base):
        for c, d in cut:
            if d <= a or c >= b:
                continue
            if c > a:
                out.append((a, c))
            a = max(a, d)
            if a >= b:
                break
        if a < b:
            out.append((a, b))
    return out


def length(intervals: list[tuple[float, float]]) -> float:
    return sum(b - a for a, b in union(intervals))


# -- spans --------------------------------------------------------------------


@dataclass
class Span:
    name: str
    start: float
    end: float | None = None
    parent: int | None = None
    run_id: str = ""
    counts: dict = field(default_factory=dict)


class Tracer:
    """Spans kept in memory; written as JSON by :meth:`dump`.

    With a SparkContext, each span tags the jobs it submits with
    ``setJobGroup("span-<index>", name)`` so the event log names the span.
    Spans may open on a second thread (a streaming ``foreachBatch``
    callback) while the main thread waits inside its parent span, so the
    open-span stack is guarded by a lock."""

    def __init__(self, run_id: str, sc=None) -> None:
        self.run_id = run_id
        self.sc = sc
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self._lock = threading.Lock()

    @contextmanager
    def span(self, name: str):
        with self._lock:
            parent = self._stack[-1] if self._stack else None
            idx = len(self.spans)
            s = Span(name, time.time(), parent=parent, run_id=self.run_id)
            self.spans.append(s)
            self._stack.append(idx)
        if self.sc is not None:
            self.sc.setJobGroup(f"span-{idx}", name)
        try:
            yield s
        finally:
            s.end = time.time()
            with self._lock:
                self._stack.remove(idx)
                top = self._stack[-1] if self._stack else None
            if self.sc is not None:
                if top is None:
                    self.sc.setLocalProperty("spark.jobGroup.id", None)
                    self.sc.setLocalProperty("spark.job.description", None)
                else:
                    self.sc.setJobGroup(f"span-{top}", self.spans[top].name)

    def children(self, idx: int) -> list[Span]:
        return [s for s in self.spans if s.parent == idx]

    def self_intervals(self, idx: int) -> list[tuple[float, float]]:
        s = self.spans[idx]
        return subtract(
            [(s.start, s.end)], [(c.start, c.end) for c in self.children(idx)]
        )

    def self_time(self, idx: int) -> float:
        return length(self.self_intervals(idx))

    def dump(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump(
                [
                    {
                        "id": i,
                        "name": s.name,
                        "start": s.start,
                        "end": s.end,
                        "parent": s.parent,
                        "run_id": s.run_id,
                        "self_s": self.self_time(i),
                        "counts": s.counts,
                    }
                    for i, s in enumerate(self.spans)
                ],
                f,
                indent=1,
            )


# -- Spark event log ----------------------------------------------------------


@dataclass
class Task:
    job: int | None
    start: float  # seconds since the epoch
    end: float
    run_s: float
    gc_s: float
    fetch_wait_s: float
    shuffle_write_mb: float
    shuffle_read_mb: float
    py_in_mb: float
    py_run_s: float


@dataclass
class EventLog:
    jobs: dict[int, dict]  # job id -> {"group": str | None, "submit": s}
    tasks: list[Task]


def _acc(task_info: dict, name: str) -> float:
    for a in task_info.get("Accumulables", []):
        if a.get("Name") == name and "Update" in a:
            return float(a["Update"])
    return 0.0


def parse_event_log(path: str) -> EventLog:
    """Jobs (with their job group) and finished tasks from an uncompressed,
    non-rolling Spark event log."""
    jobs: dict[int, dict] = {}
    stage_job: dict[int, int] = {}
    tasks: list[Task] = []
    with open(path) as f:
        for line in f:
            e = json.loads(line)
            kind = e.get("Event")
            if kind == "SparkListenerJobStart":
                jid = e["Job ID"]
                props = e.get("Properties") or {}
                jobs[jid] = {
                    "group": props.get("spark.jobGroup.id"),
                    "submit": e["Submission Time"] / 1000.0,
                }
                for sid in e.get("Stage IDs", []):
                    stage_job[sid] = jid
            elif kind == "SparkListenerTaskEnd":
                info = e["Task Info"]
                m = e.get("Task Metrics") or {}
                rd = m.get("Shuffle Read Metrics") or {}
                wr = m.get("Shuffle Write Metrics") or {}
                tasks.append(
                    Task(
                        job=stage_job.get(e["Stage ID"]),
                        start=info["Launch Time"] / 1000.0,
                        end=info["Finish Time"] / 1000.0,
                        run_s=m.get("Executor Run Time", 0) / 1000.0,
                        gc_s=m.get("JVM GC Time", 0) / 1000.0,
                        fetch_wait_s=rd.get("Fetch Wait Time", 0) / 1000.0,
                        shuffle_write_mb=wr.get("Shuffle Bytes Written", 0) / 1e6,
                        shuffle_read_mb=(
                            rd.get("Remote Bytes Read", 0) + rd.get("Local Bytes Read", 0)
                        )
                        / 1e6,
                        py_in_mb=_acc(info, "data sent to Python workers") / 1e6,
                        py_run_s=_acc(info, "time to run Python workers") / 1000.0,
                    )
                )
    return EventLog(jobs, tasks)


def find_event_log(log_dir: str) -> str:
    """The one finished application log in ``log_dir``."""
    names = [n for n in os.listdir(log_dir) if not n.endswith(".inprogress")]
    if len(names) != 1:
        raise RuntimeError(f"expected one event log in {log_dir}, found {names}")
    return os.path.join(log_dir, names[0])


def job_span(tracer: Tracer, job: dict) -> int | None:
    """The span that submitted ``job``: the span named by its job group when
    the submission falls inside that span, else the innermost span open at
    the submission time (jobs submitted from a thread that carries no
    group, such as a streaming query's own thread)."""
    t = job["submit"]
    g = job.get("group") or ""
    if g.startswith("span-"):
        idx = int(g[len("span-") :])
        if idx < len(tracer.spans):
            s = tracer.spans[idx]
            if s.start <= t <= (s.end or t):
                return idx
    best = None
    for i, s in enumerate(tracer.spans):
        if s.start <= t <= (s.end or t):
            if best is None or s.start >= tracer.spans[best].start:
                best = i
    return best


@dataclass
class SpanStats:
    task_s: float = 0.0
    gc_s: float = 0.0
    fetch_wait_s: float = 0.0
    shuffle_write_mb: float = 0.0
    shuffle_read_mb: float = 0.0
    py_in_mb: float = 0.0
    py_run_s: float = 0.0
    driver_gap_s: float = 0.0


def attribute(tracer: Tracer, ev: EventLog) -> list[SpanStats]:
    """Per-span task metrics (tasks of the jobs a span submitted itself,
    not its children's) and driver gap: the span's self time during which
    no task of any job was running."""
    stats = [SpanStats() for _ in tracer.spans]
    owner = {jid: job_span(tracer, j) for jid, j in ev.jobs.items()}
    for t in ev.tasks:
        idx = owner.get(t.job)
        if idx is None:
            continue
        st = stats[idx]
        st.task_s += t.run_s
        st.gc_s += t.gc_s
        st.fetch_wait_s += t.fetch_wait_s
        st.shuffle_write_mb += t.shuffle_write_mb
        st.shuffle_read_mb += t.shuffle_read_mb
        st.py_in_mb += t.py_in_mb
        st.py_run_s += t.py_run_s
    busy = union([(t.start, t.end) for t in ev.tasks])
    for i, st in enumerate(stats):
        st.driver_gap_s = length(subtract(tracer.self_intervals(i), busy))
    return stats


# -- processes and memory -----------------------------------------------------


def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        # the command name may hold spaces: the ppid follows the last ')'
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(d))
    return kids


def descendants(pid: int) -> list[int]:
    kids = _children_map()
    out, todo = [], [pid]
    while todo:
        p = todo.pop()
        for c in kids.get(p, []):
            out.append(c)
            todo.append(c)
    return out


def alive(pid: int) -> bool:
    """True while ``pid`` runs (a zombie waiting to be reaped has ended)."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def _pss_kb(pid: int) -> int:
    """Proportional set size: resident pages, each shared page split among
    the processes that map it, so forked Python workers are not counted
    twice."""
    try:
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def _is_jvm(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/comm") as f:
            return f.read().strip() == "java"
    except OSError:
        return False


class MemorySampler:
    """Samples the PSS of this process and all its descendants every
    ``period`` seconds while :meth:`sampling` is active.  Keeps the highest
    sum for the JVM and for the Python processes (this process and the
    workers the JVM forks)."""

    def __init__(self, period: float = 0.5) -> None:
        self.period = period
        self.jvm_peak_mb = 0.0
        self.python_peak_mb = 0.0
        self._stop = threading.Event()

    def _sample(self) -> None:
        me = os.getpid()
        jvm = python = 0
        for p in [me, *descendants(me)]:
            if _is_jvm(p):
                jvm += _pss_kb(p)
            else:
                python += _pss_kb(p)
        self.jvm_peak_mb = max(self.jvm_peak_mb, jvm / 1024.0)
        self.python_peak_mb = max(self.python_peak_mb, python / 1024.0)

    def _loop(self) -> None:
        while not self._stop.wait(self.period):
            self._sample()

    @contextmanager
    def sampling(self):
        self._stop.clear()
        self._sample()
        t = threading.Thread(target=self._loop, daemon=True)
        t.start()
        try:
            yield self
        finally:
            self._stop.set()
            t.join(timeout=10)


def cpu_s() -> float:
    """CPU seconds (user + system) used so far by this process and every
    process it started (the JVM and the Python workers), reaped children
    included.  A thread waiting for a core is not charged, so on a shared
    host this moves much less than wall time."""
    total = 0
    for pid in [os.getpid(), *descendants(os.getpid())]:
        try:
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        # utime, stime, cutime, cstime: fields 14-17 of stat(5)
        total += sum(int(x) for x in fields[11:15])
    return total / os.sysconf("SC_CLK_TCK")


class Clock:
    """Wall and CPU (:func:`cpu_s`) seconds of a ``with`` block."""

    def __enter__(self) -> "Clock":
        self.cpu = cpu_s()
        self.wall = time.perf_counter()
        return self

    def __exit__(self, *exc) -> None:
        self.wall = time.perf_counter() - self.wall
        self.cpu = cpu_s() - self.cpu


def steal_s() -> float:
    """CPU seconds the hypervisor gave other guests, summed over this
    host's CPUs since boot (the ``steal`` column of ``/proc/stat``)."""
    with open("/proc/stat") as f:
        fields = f.readline().split()
    return int(fields[8]) / os.sysconf("SC_CLK_TCK")


# -- the closed loop ----------------------------------------------------------


@dataclass
class Loop:
    walls: list[float] = field(default_factory=list)
    cpus: list[float] = field(default_factory=list)
    attempted: int = 0
    failed: int = 0


def closed_loop(run_once, seconds: float, loop: Loop, min_runs: int = 1, more=None) -> Loop:
    """Run ``run_once()`` back to back until ``seconds`` have passed and at
    least ``min_runs`` runs were made, or until ``more()`` turns false.
    ``run_once`` returns ``(clock, ok)``, ``clock`` a :class:`Clock` of the
    timed part; a run that raises or fails its check counts as failed and
    its times are not samples."""
    t_end = time.perf_counter() + seconds
    while more is None or more():
        loop.attempted += 1
        try:
            clock, ok = run_once()
        except Exception:
            log_failure("timed run")
            clock, ok = None, False
        if ok:
            loop.walls.append(clock.wall)
            loop.cpus.append(clock.cpu)
        else:
            loop.failed += 1
        if time.perf_counter() >= t_end and loop.attempted >= min_runs:
            break
    return loop


# -- the work directory and the Spark session ---------------------------------


class Work:
    """A private scratch directory inside the checkout, removed on close."""

    def __init__(self, workload: str) -> None:
        self.path = os.path.join(WORK_ROOT, f"{workload}-{os.getpid()}")
        shutil.rmtree(self.path, ignore_errors=True)
        os.makedirs(self.path)

    def sub(self, *parts: str) -> str:
        p = os.path.join(self.path, *parts)
        os.makedirs(os.path.dirname(p), exist_ok=True)
        return p

    def close(self) -> None:
        shutil.rmtree(self.path, ignore_errors=True)


def configure_env(work: Work) -> None:
    """Keep every file Spark, the JVM and the Python workers write inside
    the checkout, and make the package importable in the workers."""
    tmp = work.sub("tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = work.sub("spark-local")
    os.environ.setdefault("SPARK_DRIVER_MEMORY", "3g")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in [ROOT, os.environ.get("PYTHONPATH", "")] if p
    )


def start_spark(work: Work, cpus: int, event_log: bool = False):
    from streaming_downsampling_spark.session import get_spark

    conf = {
        "spark.local.dir": os.environ["SPARK_LOCAL_DIRS"],
        "spark.sql.warehouse.dir": work.sub("spark-warehouse"),
        # no hsperfdata file under /tmp: the JVM writes inside the checkout
        # only.  C1 only: C2 keeps compiling for minutes, longer than a run
        # lives, and its compile threads took 2-5 CPU s of a 12 CPU s run,
        # shrinking from run to run at a pace set by the host's load; with
        # C1 the runs cost the same from the first warm one on
        "spark.driver.extraJavaOptions": (
            f"-Djava.io.tmpdir={os.environ['TMPDIR']} -XX:-UsePerfData -XX:TieredStopAtLevel=1"
        ),
        "spark.ui.showConsoleProgress": "false",
    }
    if event_log:
        log_dir = work.sub(f"eventlog-{cpus}")
        os.makedirs(log_dir, exist_ok=True)
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
                "spark.eventLog.dir": "file://" + log_dir,
            }
        )
    spark = get_spark(app_name="perfbench", cpus=cpus, extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_jvm() -> None:
    """End the JVM the first session launched and wait for it and every
    process it started (the Python worker daemon and its workers)."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None) if gw is not None else None
    if proc is None:
        return
    kids = descendants(proc.pid)
    try:
        gw.shutdown()
    except Exception:
        log_failure("gateway shutdown")
    # the JVM exits when its stdin closes (PythonGatewayServer)
    if proc.stdin:
        proc.stdin.close()
    try:
        proc.wait(timeout=30)
    except Exception:
        proc.kill()
        proc.wait(timeout=10)
    deadline = time.time() + 20
    for pid in kids:
        while alive(pid) and time.time() < deadline:
            time.sleep(0.05)
        if alive(pid):
            try:
                os.kill(pid, 9)
            except OSError:
                pass
    SparkContext._gateway = None
    SparkContext._jvm = None
