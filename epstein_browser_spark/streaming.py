"""Structured-Streaming variant of the extraction pipeline.

The reference is entirely batch + cron polling (SURVEY.md §2.10): a mutable
reprocessing queue (/root/reference/process_reprocessing_queue.py:26-63) and
a resumable HTTP poller (/root/reference/helpers/ocr_sync/ocr_sync.py:689-810).
The stream-shaped semantics worth keeping are (a) incremental pickup of new
input, (b) exactly-once-ish resumability, (c) the hourly analytics bucket
(A7). Those map directly onto Structured Streaming:

  readStream (file source over the transcripts directory)
    → the SAME mapInPandas extraction kernel (E-ops are stateless per turn,
      so batch and stream share one code path)
    → writeStream with checkpointLocation (replaces the JSON progress file)

and for analytics: watermarked tumbling windows over event time.

At scale the file source becomes Kafka/Iceberg incremental reads; nothing
else changes — the extraction stage is mode-agnostic.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from epstein_browser_spark.pipeline import (
    TRANSCRIPTS_SCHEMA,
    finish_extracted,
    with_bucket,
)
from epstein_browser_spark.sketches import hll_register_cols
from epstein_browser_spark.udfs import EXTRACT_SCHEMA, extract_map_in_pandas


def read_transcripts_stream(spark: SparkSession, input_dir: str,
                            max_files_per_trigger: int | None = 16
                            ) -> DataFrame:
    """Incremental file-source stream over a directory of transcript
    parquet files (new files picked up per micro-batch). ``None`` leaves
    the trigger size to Spark (no option set)."""
    reader = spark.readStream.schema(TRANSCRIPTS_SCHEMA)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return reader.parquet(input_dir)


def extract_stream(stream_df: DataFrame, n_buckets: int = 32) -> DataFrame:
    """The extraction transform on a streaming DataFrame — same kernel as
    batch (stateless per turn → no watermark/state needed). Streaming
    DataFrames can't repartition-by-column mid-stream the same way, so the
    micro-batch is extracted as-read; bucket assignment still happens for
    layout."""
    df = stream_df.withColumn("ts_us", F.unix_micros("ts")).drop("ts")
    out = df.mapInPandas(extract_map_in_pandas, schema=EXTRACT_SCHEMA)
    # the SAME finisher block as batch extract_transcripts — content_hash
    # etc. cannot drift between the two paths
    return with_bucket(finish_extracted(out), n_buckets)


def start_extraction_stream(
    spark: SparkSession,
    input_dir: str,
    output_dir: str,
    checkpoint_dir: str,
    n_buckets: int = 32,
):
    """writeStream with checkpointing: the streaming replacement for the
    reference's {last_processed_id, processed set} JSON checkpoint
    (/root/reference/helpers/ocr_sync/ocr_sync.py:122-144) — offsets + file
    lists live in the checkpoint, restart resumes exactly."""
    out = extract_stream(read_transcripts_stream(spark, input_dir), n_buckets)
    return (
        out.writeStream.format("parquet")
        # bucket-partitioned like the batch sink: without it the streamed
        # table cannot be bucket-pruned or bucket-rewritten by the
        # maintenance ops (r4 review)
        .partitionBy("bucket")
        .option("path", output_dir)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )


PROGRESS_SCHEMA = (
    "conv_id string, n_turns bigint, n_failed bigint, chars_out bigint, "
    "max_turn_idx int"
)
_PROGRESS_STATE_SCHEMA = (
    "n_turns bigint, n_failed bigint, chars_out bigint, max_turn_idx int"
)


def conversation_progress_stream(extracted_stream: DataFrame) -> DataFrame:
    """Custom STATEFUL streaming operator (``applyInPandasWithState``):
    per-conversation running progress — turns seen, parse failures, chars
    emitted, highest turn index — carried across micro-batches in the
    state store. This is the streaming replacement for the reference's
    mutable per-row status flags and its progress JSON
    (/root/reference/index_images.py:128 in-place UPDATEs;
    /root/reference/helpers/ocr_sync/ocr_sync.py:122-144): state lives in
    the checkpointed store keyed by conv_id, not in overwritten rows, so a
    restart resumes the counters exactly.

    Each micro-batch emits the UPDATED row per touched conversation
    ("update" semantics — the latest row per conv_id is current). Arrow-
    batched like every other Python crossing: the update function receives
    each conversation's rows as pandas frames.
    """
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    def update(key, pdfs, state: GroupState):
        (conv_id,) = key
        n_turns, n_failed, chars_out, max_turn = (
            state.get if state.exists else (0, 0, 0, -1)
        )
        for pdf in pdfs:
            n_turns += len(pdf)
            n_failed += int(pdf["parse_failed"].sum())
            chars_out += int(pdf["clean_text"].fillna("").str.len().sum())
            max_turn = max(max_turn, int(pdf["turn_idx"].max()))
        state.update((n_turns, n_failed, chars_out, max_turn))
        yield pd.DataFrame(
            [
                {
                    "conv_id": conv_id,
                    "n_turns": n_turns,
                    "n_failed": n_failed,
                    "chars_out": chars_out,
                    "max_turn_idx": max_turn,
                }
            ]
        )

    return extracted_stream.select(
        "conv_id", "turn_idx", "parse_failed", "clean_text"
    ).groupBy("conv_id").applyInPandasWithState(
        update,
        outputStructType=PROGRESS_SCHEMA,
        stateStructType=_PROGRESS_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def dedup_stream(extracted_stream: DataFrame,
                 watermark: str = "1 hour") -> DataFrame:
    """Streaming exact dedup: the streaming form of the content-hash
    idempotency contract (/root/reference/index_images.py:194-232 and
    batch q18) via ``dropDuplicatesWithinWatermark`` — the first turn with
    a given content_hash passes, any duplicate arriving within the
    watermark is dropped, and hash state older than the watermark is
    EVICTED from the state store. That eviction is what makes the operator
    viable at 10^12 turns: unbounded `dropDuplicates` state would grow with
    the corpus, while here the store holds only the active watermark
    window (global cross-time dedup stays a batch merge job — see
    merge.py).

    Parse-failed and empty-clean_text turns all share ``md5('')`` — a
    content hash that does not mean "same content" — so they bypass the
    hash dedup entirely (r4 review: keying them would silently drop
    every failed/empty turn after the first per watermark window)."""
    s = extracted_stream.withWatermark("ts", watermark)
    meaningless = (
        F.col("parse_failed")
        | (F.length(F.coalesce("clean_text", F.lit(""))) == 0)
    )
    deduped = s.filter(~meaningless).dropDuplicatesWithinWatermark(
        ["content_hash"]
    )
    return deduped.unionByName(s.filter(meaningless))


def hourly_event_counts_stream(events_stream: DataFrame,
                               watermark: str = "2 hours") -> DataFrame:
    """A7 as a real stream: watermarked tumbling 1-hour window (the batch
    equivalent is q31_hourly_tumbling; late rows beyond the watermark drop)."""
    return (
        events_stream.withWatermark("ts", watermark)
        .groupBy(F.window("ts", "1 hour").alias("w"))
        .agg(F.count("*").alias("n_events"))
        .select(F.col("w.start").alias("window_start"), "n_events")
    )


def hopping_event_counts_stream(events_stream: DataFrame,
                                watermark: str = "4 hours") -> DataFrame:
    """q130's hopping (sliding) window as a real stream: 2-hour windows
    advancing every hour, watermarked so append mode emits a window once
    event time passes its close — the smoothing rate monitor that runs
    forever on an unbounded stream. Same kernel as the batch q130 (the
    parity test pins closed-window equality); each event feeds exactly
    two window states, so the state store holds at most two open windows
    per key-less aggregate plus the watermark lag."""
    return (
        events_stream.withWatermark("ts", watermark)
        .groupBy(F.window("ts", "2 hours", "1 hour").alias("w"))
        .agg(
            F.count("*").alias("n_events"),
            F.approx_count_distinct("user_id").alias("n_users_approx"),
        )
        .select(
            F.col("w.start").alias("w_start"),
            F.col("w.end").alias("w_end"),
            "n_events", "n_users_approx",
        )
    )


def hll_user_registers_stream(events_stream: DataFrame,
                              watermark: str = "4 hours",
                              seed: str = "hll0") -> DataFrame:
    """Streaming distinct-cardinality (the q144 sketch as a stream):
    per (hourly window, event_type), the HyperLogLog REGISTER TABLE —
    groupBy(window, group, register).max(rho) — is the streaming
    aggregate and the sink; the census (a ≤ 256-rows-per-group fold,
    sketches.hll_census) runs at read. Two reasons this is the right
    decomposition: Structured Streaming forbids chained aggregations in
    one query, and register max is EXACTLY the streaming-friendly
    operation — monotone (late rows within the watermark only raise a
    register) and mergeable (two register tables union-max into one), so
    state per key is bounded at ≤ 256 small rows per (window, group)
    regardless of how many distinct users the window sees. The batch
    twin over the same rows produces the identical register table —
    pinned by the stream==batch census parity test. ``seed`` must
    match the batch side's (hll_distinct / hll_merge_registers
    compose only across same-seed tables)."""
    reg, rho = hll_register_cols(F.col("user_id"), seed)
    return (
        events_stream.filter(F.col("user_id").isNotNull())
        .withWatermark("ts", watermark)
        .select("ts", "event_type", reg.alias("reg"), rho.alias("rho"))
        .groupBy(
            F.window("ts", "1 hour").alias("w"), "event_type", "reg"
        )
        .agg(F.max("rho").alias("m"))
        .select(
            F.col("w.start").alias("w_start"), "event_type", "reg", "m"
        )
    )


def session_counts_stream(events_stream: DataFrame,
                          gap: str = "30 minutes",
                          watermark: str = "2 hours") -> DataFrame:
    """q44's sessionization as a real stream: per-user ``session_window``
    with an inactivity gap — Spark's built-in stateful session operator,
    so the state store holds only OPEN sessions and a session is emitted
    (append mode) once the watermark passes its close. This is the form
    that runs forever on an unbounded event stream; the batch q44 runs
    the identical expression, and the parity test pins stream == batch
    on the same input."""
    return (
        events_stream.withWatermark("ts", watermark)
        .groupBy("user_id", F.session_window("ts", gap).alias("w"))
        .agg(F.count("*").alias("n_events"))
        .select(
            "user_id",
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "n_events",
        )
    )


def tool_census_stream(transcripts_stream: DataFrame,
                       error_marker: str = "error:",
                       watermark: str = "2 hours") -> DataFrame:
    """convstats.tool_census as a live stream: per-tool per-hour call and
    error counters over the transcript stream — the tool-health monitor
    of an agent platform (watermarked tumbling window; late tool results
    beyond the watermark drop). Same error semantics as the batch census
    (case-insensitive marker, NULL results count as non-error), so the
    parity test pins stream == the identical batch expression. State is
    bounded by |tools| × open windows, not stream history."""
    calls = transcripts_stream.filter(F.col("role") == "tool")
    is_error = F.coalesce(
        F.lower(F.col("text")).contains(error_marker.lower()),
        F.lit(False),
    )
    return (
        calls.withWatermark("ts", watermark)
        .groupBy(F.window("ts", "1 hour").alias("w"), "tool")
        .agg(
            F.count("*").alias("n_calls"),
            F.sum(is_error.cast("int")).alias("n_errors"),
        )
        .select(F.col("w.start").alias("window_start"),
                "tool", "n_calls", "n_errors")
    )


def attribution_stream(events_stream: DataFrame,
                       attribution_window: str = "1 hour",
                       watermark: str = "2 hours") -> DataFrame:
    """Stream-STREAM join: attribute each purchase to every view by the
    same user within the preceding ``attribution_window`` — the streaming
    form of the q63 range join. Both sides carry watermarks and the join
    condition bounds event-time distance, which is exactly what lets
    Spark EVICT join state: a buffered view older than
    watermark + window can never match a future purchase and is dropped,
    so state stays proportional to the window, not the stream history.
    Without the time-range predicate the state store would grow forever —
    that predicate is the 10^12-event design, not an optimization."""
    views = (
        events_stream.filter(F.col("event_type") == "view")
        .select(F.col("user_id").alias("v_user"),
                F.col("event_id").alias("view_id"),
                F.col("ts").alias("view_ts"))
        .withWatermark("view_ts", watermark)
    )
    purchases = (
        events_stream.filter(F.col("event_type") == "purchase")
        .select(F.col("user_id").alias("p_user"),
                F.col("event_id").alias("purchase_id"),
                F.col("ts").alias("purchase_ts"))
        .withWatermark("purchase_ts", watermark)
    )
    return purchases.join(
        views,
        F.expr(
            f"""p_user = v_user
                AND view_ts <= purchase_ts
                AND view_ts >= purchase_ts - INTERVAL {attribution_window}"""
        ),
        "inner",
    ).select(
        F.col("p_user").alias("user_id"),
        "purchase_id", "purchase_ts", "view_id", "view_ts",
    )


def start_upsert_stream(
    spark: SparkSession,
    input_dir: str,
    target_dir: str,
    checkpoint_dir: str,
    n_buckets: int = 8,
    max_files_per_trigger: int | None = None,
):
    """Stream → TABLE maintenance via ``foreachBatch``: each micro-batch
    of freshly extracted turns is row-level UPSERTED into the bucketed
    data table (merge.upsert_into_bucketed — only the buckets the batch's
    keys hash into are rewritten), instead of blind-appended as new
    files. This is how a streaming ingest keeps the SAME queryable table
    the batch jobs maintain: re-delivered turns (source retries, replays)
    overwrite their previous row by (conv_id, turn_idx) key instead of
    duplicating, and the sink stays exactly-once per key under the
    stream's checkpointed replay — a replayed micro-batch upserts the
    same rows to the same values. The first batch bootstraps the table
    with a plain bucketed write."""
    from epstein_browser_spark import fsutil
    from epstein_browser_spark.merge import upsert_into_bucketed

    def _sink(batch_df, batch_id):
        from pyspark.sql import Window

        # one row per key WITHIN the batch (latest ts, content_hash
        # tiebreak): a source retry can deliver the same (conv_id,
        # turn_idx) twice in one trigger, and upsert_into_bucketed's
        # anti-join removes only TARGET rows — both copies would land
        # (r4 review)
        kw = Window.partitionBy("conv_id", "turn_idx").orderBy(
            F.col("ts").desc(), F.col("content_hash"))
        batch_df = (
            batch_df.withColumn("_kr", F.row_number().over(kw))
            .filter(F.col("_kr") == 1).drop("_kr")
            .localCheckpoint(eager=True)
        )
        if batch_df.isEmpty():
            return
        # bootstrap check through the Hadoop FS layer — a local
        # os.path.exists is always False for hdfs://s3a:// targets, which
        # would turn every batch into a partition OVERWRITE (deleting
        # other conversations' rows in the touched buckets)
        if not fsutil.exists(batch_df.sparkSession, target_dir):
            fsutil.write_partition_overwrite(batch_df, target_dir)
            return
        upsert_into_bucketed(
            batch_df.sparkSession, target_dir,
            batch_df.drop("bucket"),
            key_cols=["conv_id", "turn_idx"],
            bucket_key="conv_id", n_buckets=n_buckets,
        )

    src = read_transcripts_stream(spark, input_dir, max_files_per_trigger)
    out = extract_stream(src, n_buckets)
    return (
        out.writeStream.foreachBatch(_sink)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def start_incremental_curation_stream(
    spark: SparkSession,
    input_dir: str,
    out_dir: str,
    checkpoint_dir: str,
    n_buckets: int = 8,
    near_threshold: float = 0.7,
    max_files_per_trigger: int | None = None,
    snapshot_prefix: str = "stream",
    redact_pii: bool = False,
    bpe_merges: list | None = None,
):
    """CONTINUOUS curation: arriving transcript batches run the full
    incremental-ingest path (curation.run_curation_increment) as they
    land — extract, gate, exact+near dedup against the whole existing
    corpus via the persisted band index, annotate, and commit to
    ``curated_incr/snap=<prefix>-<batch_id>/`` — so the curated training
    table is always as fresh as the last micro-batch (VERDICT r3 item 7).

    Exactly-once per batch BY CONSTRUCTION, twice over: the stream's
    checkpoint replays an unacknowledged micro-batch with the SAME
    batch_id, and the increment op keyed ``snapshot=<prefix>-<batch_id>``
    is snapshot-idempotent — a replay dynamic-overwrites exactly its own
    partitions and its anti-joins exclude its own half-committed output.
    (The resume=True stage marker also short-circuits a replay whose
    previous attempt fully completed.)

    Requires a prior ``run_curation`` base at ``out_dir`` (an EMPTY base
    — zero survivors — is fine; the increment path handles a corpus with
    no features yet). Run ``promote_increments`` periodically to fold the
    accumulated stream snapshots into the base tables; the stream must be
    stopped around the promote (the same quiesce rule as every
    maintenance op)."""
    from epstein_browser_spark.curation import run_curation_increment

    def _sink(batch_df, batch_id: int):
        batch_df = batch_df.localCheckpoint(eager=True)
        if batch_df.isEmpty():
            return
        # redact_pii / bpe_merges pass through: a stream over a redacted
        # (or BPE-budgeted) base must produce increments with the SAME
        # audit and token columns — silently dropping the flags would
        # leak raw PII into curated_incr behind allowMissingColumns
        run_curation_increment(
            batch_df.sparkSession, batch_df, out_dir,
            snapshot=f"{snapshot_prefix}-{batch_id:06d}",
            n_buckets=n_buckets, near_threshold=near_threshold,
            resume=True, redact_pii=redact_pii, bpe_merges=bpe_merges,
        )

    src = read_transcripts_stream(spark, input_dir, max_files_per_trigger)
    return (
        src.writeStream.foreachBatch(_sink)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
