"""Benchmark harness.  Prints ONE JSON line:

    {"metric": "...", "value": <total sec>, "unit": "sec",
     "queries": {...per-query sec...}, "sf": ...,
     "turns_per_sec": ..., "cpus": ...}

Env: SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1),
     SPARK_GRAFT_CPUS (default 32).

Two workloads:
1. headline engine pipeline on the synthetic transcript table (the
   BASELINE.json metric: turns/sec through gap-fill + tiered rollups +
   DWT/attention downsample + Gorilla chunks);
2. the query catalog on the driver's sf-dir tables (per-query seconds).

Reporting: 5 passes in one warm session, each pass = one pipeline run +
one full catalog sweep back-to-back (every pass total is a composite of
contemporaneous measurements); published per-query numbers are MEDIANS (a
real single measurement), "value" is the median of the five real pass
totals, and per-query minima appear only in the secondary
"queries_min"/"total_min" noise-floor columns.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from streaming_downsampling_spark.pipeline import transcript_pipeline  # noqa: E402

HEADLINE = [
    "rollup_1h",
    "rollup_1d_cascade",
    "rollup_15m",
    "gapfill_linear",
    "ewma_smooth",
    "haar_threshold",
    "cumshare_select",
    "gorilla_roundtrip",
    "asof_enrich",
    "asof_tolerance",
    "model_downsample",
    "downsample_error_bench",
    "pricing_summary",
    "top_revenue_orders",
    "dedup_exact",
    "dedup_components_star",
    "minhash_lsh",
    "cosine_topk",
    "token_count",
]


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    sf = float(sf_dir.rstrip("/").rsplit("sf", 1)[-1])

    from streaming_downsampling_spark.queries import QUERIES
    from streaming_downsampling_spark.session import get_spark

    spark = get_spark(app_name="bench", cpus=cpus)
    spark.sparkContext.setLogLevel("ERROR")

    # warm-up: spin up the Python worker pool + Arrow/JIT paths AND reach
    # cache residency at the measured size — one untimed full-size pipeline
    # run plus one untimed catalog pass (this host keeps speeding up over
    # the first 2-3 runs of a workload: THP first-touch, page cache, JIT;
    # documented in BENCH.md).  Steady-state warm-up is reproducible by any
    # external run of this same script; it is NOT the min-of-N floor the
    # round-3 ADVICE flagged — every published number below is a real
    # median measurement.
    tr_sf = max(sf * 200, 1.0)  # transcript SF scaled off the dir SF
    transcript_pipeline(spark, tr_sf)

    # Noise control: this host's run-to-run wall variance is up to ~3x
    # (documented in BENCH.md), so FIVE interleaved passes inside one warm
    # session — a 3-pass median still lands on a noisy pass too often.  The
    # PUBLISHED number for each query is the per-query MEDIAN — a real
    # single measurement an external single-pass run can reproduce — and
    # the headline total is the median of the five REAL pass totals
    # (round-3 ADVICE: a sum of per-query minima is a composite no single
    # run achieved).  Per-query minima are kept as a secondary noise-floor
    # column only.
    passes = 5

    # untimed catalog warm-up pass (same steady-state rationale as above)
    for name in HEADLINE:
        QUERIES[name](spark, sf_dir).write.format("noop").mode(
            "overwrite"
        ).save()

    # Each pass runs the transcript pipeline AND the whole catalog
    # back-to-back, so every published pass total is a composite of
    # CONTEMPORANEOUS measurements (round-4 ADVICE: the old loop ran the
    # five pipeline passes first and paired pipeline run p with catalog
    # pass p measured minutes later).
    per_query: dict[str, list[float]] = {}
    pipe_runs: list[float] = []
    pass_totals: list[float] = []
    for p in range(passes):
        n_turns, elapsed = transcript_pipeline(spark, tr_sf)
        pipe_runs.append(elapsed)
        pass_total = elapsed
        for name in HEADLINE:
            fn = QUERIES[name]
            t0 = time.time()
            df = fn(spark, sf_dir)
            df.write.format("noop").mode("overwrite").save()
            dt = round(time.time() - t0, 3)
            per_query.setdefault(name, []).append(dt)
            pass_total += dt
        pass_totals.append(round(pass_total, 3))

    med = lambda xs: sorted(xs)[len(xs) // 2]  # noqa: E731
    timings = {"transcript_pipeline": round(med(pipe_runs), 3)}
    timings.update({n: med(ts) for n, ts in per_query.items()})
    floors = {"transcript_pipeline": round(min(pipe_runs), 3)}
    floors.update({n: min(ts) for n, ts in per_query.items()})
    elapsed = med(pipe_runs)
    turns_per_sec = n_turns / elapsed if elapsed > 0 else 0.0

    spark.stop()
    print(
        json.dumps(
            {
                "metric": "rollup+downsample pipeline + query catalog wall time",
                "value": med(pass_totals),
                "unit": "sec",
                "queries": timings,
                "queries_min": floors,
                "pass_totals": pass_totals,
                "total_min": round(sum(floors.values()), 3),
                "sf": sf,
                "turns": n_turns,
                "turns_per_sec": round(turns_per_sec, 1),
                "cpus": cpus,
            }
        )
    )


if __name__ == "__main__":
    main()
