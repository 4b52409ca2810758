"""Benchmark entry point.

    python3 perfbench/run.py --workload tier_batch|stream_ingest \
        --seed N --seconds S --trace 0|1

Run from the root of a checkout.  Each invocation is one fresh process with
its own Spark session on every core this process may use (``nproc``).  It
sets up the workload (input generation, cache fill, untimed warm-up), then
runs it in a closed loop (the next run starts when the previous one has
finished and been verified) for ``--seconds``, and prints one JSON object as
the last line of standard output:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

``attempted``/``failed`` count every verified operation (timed runs,
warm-up runs, deep checks); their ratio is the failure fraction.

``--trace 0`` reports the end-to-end metrics of BENCHMARK.json.  ``--trace
1`` enables the Spark event log, adds one traced pass after the timed loop
and reports the per-layer metrics instead (0 for a layer the workload does
not run).  Spans are also written to ``.perfbench_work/traces/``.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import contextlib  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import sys  # noqa: E402

import harness as H  # noqa: E402

WORKLOADS = ("tier_batch", "stream_ingest")
SPAN_STATS = (
    "task_s", "gc_s", "fetch_wait_s", "driver_gap_s",
    "shuffle_write_mb", "shuffle_read_mb", "py_in_mb", "py_run_s",
)


class Ctx:
    """What a workload needs from the harness: the session, the scratch
    directory, the seed, the check counter and (when tracing) spans."""

    def __init__(self, work: H.Work, seed: int, cpus: int) -> None:
        self.work = work
        self.seed = seed
        self.cpus = cpus
        self.spark = None
        self.tracer: H.Tracer | None = None
        self.attempted = 0
        self.failed = 0

    def check(self, ok: bool, what: str) -> bool:
        self.attempted += 1
        if not ok:
            self.failed += 1
            H.log(f"check failed: {what}")
        return ok

    def span(self, name: str):
        if self.tracer is None:
            return contextlib.nullcontext(H.Span(name, time.time()))
        return self.tracer.span(name)

    @contextlib.contextmanager
    def tracing(self, tracer: H.Tracer | None):
        """Record spans into ``tracer`` (None records nothing) inside the
        block only: warm-up and timed runs leave no spans."""
        self.tracer = tracer
        try:
            yield
        finally:
            self.tracer = None


def make_workload(name: str, ctx: Ctx):
    if name == "tier_batch":
        from tier_batch import TierBatch

        return TierBatch(ctx)
    from stream_ingest import StreamIngest

    return StreamIngest(ctx)


def set_up(ctx: Ctx, wl, tracer: H.Tracer | None) -> float:
    """Input generation, then the workload's load, checks and warm-up.
    Returns the set-up time: process start to now."""
    t0 = time.perf_counter()
    with ctx.tracing(tracer):
        wl.generate_input()
    t1 = time.perf_counter()
    wl.setup()
    H.log(
        f"set-up: session+imports {t0 - T_START:.2f}s, input {t1 - t0:.2f}s, "
        f"load+checks+warm-up {time.perf_counter() - t1:.2f}s"
    )
    return time.perf_counter() - T_START


def span_metrics(tracer: H.Tracer, stats: list[H.SpanStats]) -> dict:
    """``<span name>.s`` (summed self time) and, from the event log,
    ``<span name>.<stat>`` for every span name."""
    out: dict[str, float] = {}
    for i, s in enumerate(tracer.spans):
        out[f"{s.name}.s"] = out.get(f"{s.name}.s", 0.0) + tracer.self_time(i)
        for k in SPAN_STATS:
            key = f"{s.name}.{k}"
            out[key] = out.get(key, 0.0) + getattr(stats[i], k)
    return out


def traced(ctx: Ctx, wl, tracer: H.Tracer, untraced_wall: float) -> dict:
    with ctx.tracing(tracer):
        m = dict(wl.traced())
    traced_wall = wl.traced_wall()
    ctx.spark.stop()  # flushes the event log
    ev = H.parse_event_log(H.find_event_log(ctx.work.sub(f"eventlog-{ctx.cpus}")))
    m.update(span_metrics(tracer, H.attribute(tracer, ev)))
    m.update(
        {
            "trace.untraced_wall_s": untraced_wall,
            "trace.traced_wall_s": traced_wall,
            "trace.overhead_s": traced_wall - untraced_wall,
        }
    )
    if hasattr(wl, "single_core"):
        # the same job on one core: the scaling baseline
        ctx.spark = H.start_spark(ctx.work, 1)
        one = wl.single_core(ctx.spark)
        m["trace.local1_wall_s"] = one
        m["trace.scaling_eff"] = one / (ctx.cpus * untraced_wall)
        ctx.spark.stop()
    tracer.dump(os.path.join(H.WORK_ROOT, "traces", f"{tracer.run_id}.json"))
    return m


def run(args, spec: dict) -> dict:
    work = H.Work(args.workload)
    H.configure_env(work)
    ctx = Ctx(work, args.seed, H.cpu_count())
    loop = H.Loop()
    trace = bool(args.trace)
    try:
        ctx.spark = H.start_spark(work, ctx.cpus, event_log=trace)
        tracer = None
        if trace:
            tracer = H.Tracer(f"{args.workload}-{args.seed}", ctx.spark.sparkContext)
        wl = make_workload(args.workload, ctx)
        setup_s = set_up(ctx, wl, tracer)
        # memory is sampled in traced runs only: reading smaps stalls the JVM
        mem = H.MemorySampler()
        t0, steal0 = time.perf_counter(), H.steal_s()
        with mem.sampling() if trace else contextlib.nullcontext():
            H.closed_loop(wl.run_once, args.seconds, loop, wl.min_runs, getattr(wl, "more", None))
        steal = (H.steal_s() - steal0) / ((time.perf_counter() - t0) * (os.cpu_count() or 1))
        wall_s = H.median(loop.walls) if loop.walls else float("nan")
        cpu_s = H.median(loop.cpus) if loop.cpus else float("nan")
        H.log(
            f"{args.workload} seed={args.seed} cpus={ctx.cpus} turns={wl.n_turns} "
            f"setup={setup_s:.3f}s wall/cpu s per run: "
            f"{' '.join(f'{w:.3f}/{c:.2f}' for w, c in zip(loop.walls, loop.cpus))} "
            f"(host CPU time stolen meanwhile: {steal:.1%}); highest percentile "
            f"with >=10 samples beyond it: {H.supported_percentile(len(loop.walls))}"
        )
        if trace:
            metrics = traced(ctx, wl, tracer, wall_s)
            metrics["trace.untraced_turns_per_s"] = wl.n_turns / wall_s
            metrics["mem.jvm_peak_pss_mb"] = mem.jvm_peak_mb
            metrics["mem.python_peak_pss_mb"] = mem.python_peak_mb
        else:
            metrics = {
                "setup_s": setup_s,
                "cpu_s": cpu_s,
                "turns_per_cpu_s": wl.n_turns / cpu_s,
            }
        names = spec["per_layer" if trace else "end_to_end"]
    finally:
        if ctx.spark is not None:
            with contextlib.suppress(Exception):
                ctx.spark.stop()
        with contextlib.suppress(Exception):
            H.stop_jvm()
        work.close()
    attempted = loop.attempted + ctx.attempted
    failed = loop.failed + ctx.failed
    H.log(f"fail_frac = {failed}/{attempted}")
    return {
        "correct": failed == 0 and bool(loop.walls),
        "attempted": attempted,
        "failed": failed,
        # a layer the workload does not run reads 0
        "metrics": {
            m["name"]: {
                "value": float(metrics.get(m["name"], 0.0) if trace else metrics[m["name"]]),
                "unit": m["unit"],
            }
            for m in names
        },
    }


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=42)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    if not os.path.isdir(os.path.join(H.ROOT, "streaming_downsampling_spark")):
        print(f"perfbench: no engine package under {H.ROOT}", file=sys.stderr)
        return 2
    try:
        import pyspark  # noqa: F401

        import streaming_downsampling_spark  # noqa: F401
    except ImportError as e:
        print(f"perfbench: the engine is not importable here: {e}", file=sys.stderr)
        return 2
    with open(os.path.join(H.ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    result = run(args, spec)
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.path.insert(0, H.ROOT)
    raise SystemExit(main())
