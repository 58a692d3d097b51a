"""spark-submit entrypoint for the extraction pipeline.

Cluster usage (the package zip comes from tools/make_pyfiles_zip.py):

  spark-submit --master <cluster> \\
      --py-files dist/epstein_browser_spark.zip \\
      jobs/extract_job.py \\
      --input  <transcripts parquet/Iceberg path> \\
      --output <output dir> \\
      --buckets 16384 --partitions 32768 --salt 4 \\
      --snapshot <input snapshot id>

The bucket is the shuffle's own hash (pipeline.bucket_of), so with
--partitions a multiple or divisor of --buckets each task writes whole
buckets: max(buckets, partitions) files per sink (32768 here without
--salt). --salt 4 splits hot conversations across 4 tasks, which trades
that layout for skew: the salted shuffle no longer follows the bucket and
every task may write into every bucket (up to 32768 × 16384 files per
sink). Leave it at 1 unless single conversations straggle.

Local smoke:

  spark-submit --master 'local[8]' --py-files dist/epstein_browser_spark.zip \\
      jobs/extract_job.py --input /tmp/in.parquet --output /tmp/out --buckets 8

The job is resumable: rerunning with the same --output skips buckets whose
manifests are complete (see epstein_browser_spark.pipeline).
"""

from __future__ import annotations

import argparse
import json


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--input", required=True,
                    help="transcripts source: a parquet/Iceberg path or a "
                         "catalog table identifier (e.g. lake.raw.transcripts)")
    ap.add_argument("--input-format", default="auto",
                    choices=["auto", "iceberg", "parquet"],
                    help="source resolution (sources.read_transcripts): "
                         "'iceberg' fails fast with remediation when the "
                         "runtime jar is absent")
    ap.add_argument("--output", required=True)
    ap.add_argument("--buckets", type=int, default=32)
    ap.add_argument("--partitions", type=int, default=None)
    ap.add_argument("--salt", type=int, default=1)
    ap.add_argument("--snapshot", default="unversioned")
    ap.add_argument("--no-resume", action="store_true")
    ap.add_argument(
        "--reprocess", action="store_true",
        help="after extraction, run the E7 re-drive: consume the failures "
             "queue with the aggressive pre-clean and upsert recovered turns",
    )
    args = ap.parse_args()

    from pyspark.sql import SparkSession

    # no session-level overwrite-mode mutation: every sink scopes dynamic
    # partition overwrite per-write (fsutil.write_partition_overwrite)
    spark = SparkSession.builder.appName("epstein_browser_spark.extract").getOrCreate()

    from epstein_browser_spark.pipeline import run_extraction
    from epstein_browser_spark.sources import read_transcripts

    transcripts = read_transcripts(spark, args.input, args.input_format)
    metrics = run_extraction(
        spark,
        transcripts,
        args.output,
        n_buckets=args.buckets,
        salt=args.salt,
        n_partitions=args.partitions,
        resume=not args.no_resume,
        input_snapshot=args.snapshot,
    )
    if args.reprocess:
        from epstein_browser_spark.pipeline import run_reprocessing

        metrics["reprocess"] = run_reprocessing(
            spark, transcripts, args.output, n_buckets=args.buckets
        )
    print(json.dumps(metrics))
    spark.stop()


if __name__ == "__main__":
    main()
