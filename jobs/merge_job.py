"""spark-submit entrypoint for the incremental re-index merge — the
distributed analog of the reference's most-used entry point
(/root/reference/index_images.py main: walk the corpus, diff content
hashes against the index, apply insert/update/delete, skip unchanged).

  spark-submit --master <cluster> \\
      --py-files dist/epstein_browser_spark.zip \\
      jobs/merge_job.py \\
      --target <bucket-partitioned parquet table dir> \\
      --source <new snapshot parquet path> \\
      --key doc_id --hash content_hash --buckets 16384

Only buckets containing a non-skip key are rewritten (dynamic partition
overwrite); unchanged buckets' files are untouched. On an Iceberg
deployment replace this with MERGE INTO — classification semantics are
identical (epstein_browser_spark.merge).
"""

from __future__ import annotations

import argparse
import json


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--target", required=True,
                    help="existing table dir, layout "
                         "bucket=pipeline.bucket_of(key, N)")
    ap.add_argument("--source", required=True,
                    help="parquet path of the new full snapshot")
    ap.add_argument("--key", default="doc_id")
    ap.add_argument("--hash", dest="hash_col", default="content_hash")
    ap.add_argument("--buckets", type=int, required=True)
    args = ap.parse_args()

    from pyspark.sql import SparkSession

    spark = SparkSession.builder.appName("epstein_browser_spark.merge").getOrCreate()

    from epstein_browser_spark.merge import merge_into_bucketed

    source = spark.read.parquet(args.source)
    stats = merge_into_bucketed(
        spark, args.target, source,
        key_col=args.key, hash_col=args.hash_col, n_buckets=args.buckets,
    )
    print(json.dumps(stats))
    spark.stop()


if __name__ == "__main__":
    main()
