"""spark-submit entry point for the transcript pipeline (north-rule run mode).

Submit with the package shipped as --py-files, e.g.:

    python scripts/make_pyfiles_zip.py            # -> dist/sds.zip
    spark-submit --master local[1] --py-files dist/sds.zip \
        scripts/pipeline_job.py --sf 2
    spark-submit --master local[4] --py-files dist/sds.zip \
        scripts/pipeline_job.py --sf 2

On a real cluster the master/deploy-mode flags change; nothing in the job
does.  The job imports ONLY from the shipped package (no repo-root sys.path
games), proving the zip is self-contained.  The job is
:func:`streaming_downsampling_spark.pipeline.transcript_pipeline`, the same
one ``bench.py`` times.  Prints one JSON line with throughput, suitable for
the two-cluster-size scaling comparison.
"""

from __future__ import annotations

import argparse
import json


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", type=float, default=20.0)
    args = ap.parse_args()

    import os

    for var in ("OMP_NUM_THREADS", "OPENBLAS_NUM_THREADS", "MKL_NUM_THREADS"):
        os.environ.setdefault(var, "1")

    from pyspark.sql import SparkSession

    # master/cores come from spark-submit; only tune SQL conf here
    b = SparkSession.builder.appName("sds-pipeline")
    b = b.config("spark.sql.adaptive.enabled", "true")
    b = b.config("spark.sql.execution.arrow.pyspark.enabled", "true")
    b = b.config("spark.sql.session.timeZone", "UTC")
    spark = b.getOrCreate()
    cores = spark.sparkContext.defaultParallelism
    spark.conf.set("spark.sql.shuffle.partitions", str(max(cores, 8)))
    spark.sparkContext.setLogLevel("ERROR")

    from streaming_downsampling_spark.pipeline import transcript_pipeline

    n_turns, elapsed = transcript_pipeline(spark, args.sf)
    print(
        json.dumps(
            {
                "job": "pipeline_job",
                "cores": cores,
                "sf": args.sf,
                "turns": n_turns,
                "sec": round(elapsed, 3),
                "turns_per_sec": round(n_turns / elapsed, 1),
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()
