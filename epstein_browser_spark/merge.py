"""Content-hash merge semantics (S6/S7/E8): the reference's incremental
re-index diff — skip unchanged / update changed / insert new / delete
missing (/root/reference/index_images.py:344-434) and content-hash
idempotent writes (:194-232) — expressed as one full-outer join.

On a real deployment this is Iceberg ``MERGE INTO`` (WHEN MATCHED AND
hash<>… UPDATE / WHEN NOT MATCHED INSERT / WHEN NOT MATCHED BY SOURCE
DELETE); this module computes the identical classification and new
snapshot with plain DataFrame ops so the semantics are testable without an
Iceberg runtime. The classification join broadcasts whichever side is
small; at scale both sides bucket on the key so the join is shuffle-free
against a bucketed target table.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from epstein_browser_spark import fsutil
from epstein_browser_spark.pipeline import bucket_of

MERGE_ACTIONS = ["insert", "update", "skip", "delete"]


def classify_merge(
    target: DataFrame,
    source: DataFrame,
    key_col: str,
    hash_col: str,
) -> DataFrame:
    """Full-outer join on the key; per row emits ``merge_action``:
    insert (source only), delete (target only), update (hash differs),
    skip (hash equal) — exactly the reference's diff loop semantics."""
    t = target.select(
        F.col(key_col).alias("_k"), F.col(hash_col).alias("_t_hash"),
        F.lit(True).alias("_t_present"),
    )
    s = source.select(
        F.col(key_col).alias("_k"), F.col(hash_col).alias("_s_hash"),
        F.lit(True).alias("_s_present"),
    )
    j = t.join(s, "_k", "full_outer")
    # side presence is detected via indicator flags, NOT hash nullness: a
    # row whose hash column is legitimately null would otherwise be
    # misread as side-absent (a target-only null-hash row classified
    # 'insert' and then dropped by the sink while counted as inserted)
    action = (
        F.when(F.col("_t_present").isNull(), "insert")
        .when(F.col("_s_present").isNull(), "delete")
        .when(~F.col("_t_hash").eqNullSafe(F.col("_s_hash")), "update")
        .otherwise("skip")
    )
    return j.select(F.col("_k").alias(key_col), action.alias("merge_action"))


def merge_snapshot(
    target: DataFrame,
    source: DataFrame,
    key_col: str,
    hash_col: str,
) -> DataFrame:
    """New snapshot after the merge: source rows win on conflict, target
    rows missing from source are dropped (WHEN NOT MATCHED BY SOURCE
    DELETE). Equivalent to ``source`` by construction, but computed via the
    join so tests can assert the classification is consistent."""
    actions = classify_merge(target, source, key_col, hash_col)
    keep_keys = actions.filter(F.col("merge_action") != "delete").select(key_col)
    return source.join(keep_keys, key_col, "left_semi")


# ---------------------------------------------------------------------------
# the REAL merge sink: apply a merge to a stored bucket-partitioned table
# ---------------------------------------------------------------------------

def _rewrite_buckets(
    spark: SparkSession,
    target_dir: str,
    new_rows: DataFrame,
    changed_buckets: list[int],
) -> None:
    """Dynamic-overwrite the changed buckets with ``new_rows`` (which must
    carry a ``bucket`` column restricted to ``changed_buckets``), then drop
    the partition dirs of changed buckets that ended up empty (dynamic
    overwrite only replaces partitions present in the written frame — an
    all-rows-deleted bucket would otherwise keep its stale files;
    cleanup goes through the Hadoop FS layer so hdfs:///s3a:// targets
    behave like local paths).

    ``new_rows``' lineage reads from ``target_dir`` itself (the kept rows of
    changed buckets), so it is materialized with localCheckpoint before the
    overwrite — Spark cannot read and rewrite the same files in one job. On
    a real deployment this staging is the table format's job (Iceberg/Delta
    MERGE snapshots); for parquet-native, checkpoint-then-rewrite keeps the
    changed-bucket working set (not the table) as the memory bound."""
    new_rows = new_rows.localCheckpoint(eager=True)
    fsutil.write_partition_overwrite(new_rows, target_dir)
    spark.catalog.refreshByPath(target_dir)
    written = {
        int(r["bucket"])
        for r in new_rows.select("bucket").distinct().collect()
    }  # bounded by n_buckets — same documented bound as the manifest loop
    for b in changed_buckets:
        if b not in written:
            fsutil.delete(spark, f"{target_dir}/bucket={b}")


def merge_into_bucketed(
    spark: SparkSession,
    target_dir: str,
    source: DataFrame,
    key_col: str,
    hash_col: str,
    n_buckets: int,
) -> dict:
    """S6 as a real sink: apply the reference's incremental re-index diff
    (/root/reference/index_images.py:344-434 — skip unchanged / update
    changed / insert new / delete missing) to a parquet table laid out
    ``bucket=pipeline.bucket_of(key, n_buckets)`` (the layout
    ``run_extraction`` writes), rewriting ONLY the buckets that contain a
    non-skip key. Unchanged buckets' files are not touched
    (asserted by tests on file lists + mtimes). On Iceberg this is
    ``MERGE INTO``; the classification and row-level result are identical.

    Returns per-action counts + buckets_rewritten.
    """
    target = spark.read.parquet(target_dir)
    actions = classify_merge(target, source, key_col, hash_col).withColumn(
        "bucket", bucket_of(key_col, n_buckets)
    ).localCheckpoint(eager=True)
    # ONE pass over the classification join: per-(action, bucket) counts
    # (≤ 4·n_buckets rows) give both the action totals and the changed
    # bucket set — previously the full-outer join executed twice
    cells = actions.groupBy("merge_action", "bucket").count().collect()
    counts: dict = {}
    changed_set: set = set()
    for r in cells:
        counts[r["merge_action"]] = counts.get(r["merge_action"], 0) + int(r["count"])
        if r["merge_action"] != "skip":
            changed_set.add(int(r["bucket"]))
    changed_buckets = sorted(changed_set)
    if changed_buckets:
        # new content of a changed bucket: upserts from SOURCE, but skip
        # keys keep the TARGET row — MERGE INTO's WHEN-MATCHED-AND-EQUAL
        # leaves the target untouched, and a source copy may differ in
        # non-hash columns (metadata, timestamps) even when hashes match
        upsert_keys = actions.filter(
            F.col("merge_action").isin("insert", "update")
        ).select(key_col)
        skip_keys = actions.filter(F.col("merge_action") == "skip").select(
            key_col
        )
        src_b = source.withColumn(
            "bucket", bucket_of(key_col, n_buckets)
        ).filter(F.col("bucket").isin(changed_buckets))
        tgt_b = target.drop("bucket").withColumn(
            "bucket", bucket_of(key_col, n_buckets)
        ).filter(F.col("bucket").isin(changed_buckets))
        new_rows = src_b.join(upsert_keys, key_col, "left_semi").unionByName(
            tgt_b.join(skip_keys, key_col, "left_semi").select(src_b.columns)
        )
        _rewrite_buckets(spark, target_dir, new_rows, changed_buckets)
    return {
        "inserted": counts.get("insert", 0),
        "updated": counts.get("update", 0),
        "deleted": counts.get("delete", 0),
        "skipped": counts.get("skip", 0),
        "buckets_rewritten": len(changed_buckets),
    }


def upsert_into_bucketed(
    spark: SparkSession,
    target_dir: str,
    updates: DataFrame,
    key_cols: list[str],
    bucket_key: str,
    n_buckets: int,
) -> dict:
    """Row-level upsert (WHEN MATCHED UPDATE / WHEN NOT MATCHED INSERT, no
    delete-missing): replaces rows matching ``key_cols`` and appends new
    ones, rewriting only the buckets the update keys hash into. Used by the
    E7 reprocessing re-drive to fold recovered turns back into the data
    table."""
    changed_buckets = sorted(
        int(r["bucket"])
        for r in updates.select(bucket_of(bucket_key, n_buckets).alias("bucket"))
        .distinct()
        .collect()
    )
    if not changed_buckets:
        return {"upserted": 0, "buckets_rewritten": 0, "buckets": []}
    target = spark.read.parquet(target_dir).drop("bucket")
    old_kept = target.withColumn("bucket", bucket_of(bucket_key, n_buckets)).filter(
        F.col("bucket").isin(changed_buckets)
    ).join(updates.select(*key_cols), key_cols, "left_anti")
    new_rows = old_kept.unionByName(
        updates.withColumn("bucket", bucket_of(bucket_key, n_buckets)),
        allowMissingColumns=False,
    )
    n_up = updates.count()
    _rewrite_buckets(spark, target_dir, new_rows, changed_buckets)
    return {"upserted": n_up, "buckets_rewritten": len(changed_buckets),
            "buckets": changed_buckets}


def compact_buckets(
    spark: SparkSession,
    target_dir: str,
    max_files_per_bucket: int = 1,
) -> dict:
    """Small-file compaction for a bucket-partitioned table: every bucket
    whose file count exceeds ``max_files_per_bucket`` is rewritten as
    ONE file (the bucket is the sizing unit — pick n_buckets so a bucket
    is a sane file size; a per-bucket file-count knob would be a lie
    here, since repartition-by-bucket necessarily lands each bucket in a
    single partition); compliant buckets are NOT touched (their
    files and mtimes survive — same partition-scoped contract as the
    merge/upsert sinks). Streaming upserts and repeated increments
    accrete a file per write; without periodic compaction the scan cost
    of the table becomes file-open-bound long before it is byte-bound.
    Driver work is one bounded listing (n_buckets entries), not row data,
    through the Hadoop FS layer (hdfs://s3a://-safe like the other sinks).
    """
    from epstein_browser_spark import fsutil

    fat = []
    for name in sorted(fsutil.list_names(spark, target_dir)):
        if not name.startswith("bucket="):
            continue
        files = [
            f for f in fsutil.list_names(spark, f"{target_dir}/{name}")
            if f.endswith(".parquet")
        ]
        if len(files) > max_files_per_bucket:
            fat.append(int(name[len("bucket="):]))
    if not fat:
        return {"buckets_compacted": 0}
    rows = (
        spark.read.parquet(target_dir)
        .filter(F.col("bucket").isin(fat))
        .repartition(len(fat), "bucket")
        .localCheckpoint(eager=True)  # read fully BEFORE overwriting source
    )
    _rewrite_buckets(spark, target_dir, rows, fat)
    return {"buckets_compacted": len(fat)}
