"""Streaming pipeline: incremental pickup, checkpoint resume, and parity
with the batch extraction output."""

import os

import pandas as pd

from epstein_browser_spark.pipeline import bucket_of, extract_transcripts
from epstein_browser_spark.streaming import start_extraction_stream


def test_stream_extraction_matches_batch(spark, corpus_pdf, corpus_sdf, tmp_path):
    in_dir = str(tmp_path / "in")
    out_dir = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    corpus_sdf.repartition(4).write.parquet(in_dir)

    q = start_extraction_stream(spark, in_dir, out_dir, ckpt, n_buckets=4)
    q.awaitTermination(120)

    got = (
        spark.read.parquet(out_dir)
        .select("conv_id", "turn_idx", "clean_text", "quality_score", "content_hash")
        .toPandas()
        .sort_values(["conv_id", "turn_idx"])
        .reset_index(drop=True)
    )
    exp = (
        extract_transcripts(corpus_sdf, n_buckets=4)
        .select("conv_id", "turn_idx", "clean_text", "quality_score", "content_hash")
        .toPandas()
        .sort_values(["conv_id", "turn_idx"])
        .reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(got, exp)


def test_watermarked_hourly_counts(spark, tmp_path):
    """A7 as a stream: watermarked tumbling window aggregates event time;
    append mode only emits windows the watermark has closed."""
    import pandas as pd

    from epstein_browser_spark.streaming import hourly_event_counts_stream

    pdf = pd.DataFrame(
        {
            "event_id": range(6),
            "ts": pd.to_datetime(
                ["2024-01-01 00:10", "2024-01-01 00:50", "2024-01-01 01:20",
                 "2024-01-01 02:05", "2024-01-01 05:00", "2024-01-01 05:01"]
            ),
            "value": [1.0] * 6,
        }
    )
    in_dir = str(tmp_path / "ev")
    spark.createDataFrame(pdf).write.parquet(in_dir)
    stream = (
        spark.readStream.schema("event_id long, ts timestamp, value double")
        .parquet(in_dir)
    )
    out_dir = str(tmp_path / "agg")
    q = (
        hourly_event_counts_stream(stream, watermark="1 hour")
        .writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", str(tmp_path / "ck"))
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = spark.read.parquet(out_dir).toPandas().sort_values("window_start")
    # watermark = max(ts) - 1h = 04:01 → windows 00:00, 01:00, 02:00 closed;
    # the 05:00 window is still open and withheld in append mode
    by_window = dict(zip(got["window_start"].astype(str), got["n_events"]))
    assert by_window.get("2024-01-01 00:00:00") == 2
    assert by_window.get("2024-01-01 01:00:00") == 1
    assert by_window.get("2024-01-01 02:00:00") == 1
    assert "2024-01-01 05:00:00" not in by_window


def test_stream_resume_picks_up_only_new_files(spark, corpus_sdf, tmp_path):
    in_dir = str(tmp_path / "in2")
    out_dir = str(tmp_path / "out2")
    ckpt = str(tmp_path / "ckpt2")
    half1 = corpus_sdf.filter("turn_idx % 2 = 0")
    half2 = corpus_sdf.filter("turn_idx % 2 = 1")
    half1.write.parquet(in_dir)

    q = start_extraction_stream(spark, in_dir, out_dir, ckpt, n_buckets=4)
    q.awaitTermination(120)
    n1 = spark.read.parquet(out_dir).count()
    assert n1 == half1.count()

    # drop in new files; restart from the same checkpoint → only new rows
    half2.write.mode("append").parquet(in_dir)
    q = start_extraction_stream(spark, in_dir, out_dir, ckpt, n_buckets=4)
    q.awaitTermination(120)
    assert spark.read.parquet(out_dir).count() == n1 + half2.count()
    assert os.path.isdir(ckpt)


def test_stream_dedup_within_watermark(spark, tmp_path):
    """Streaming exact dedup: duplicates of a content hash arriving in a
    LATER micro-batch (within the watermark) are dropped; distinct texts
    all pass. maxFilesPerTrigger=1 over two files forces the duplicate to
    arrive in a different micro-batch than the original, so the drop
    really exercises the state store, not intra-batch dedup."""
    import pandas as pd

    from epstein_browser_spark.streaming import (
        dedup_stream,
        extract_stream,
        read_transcripts_stream,
    )

    def mk(conv, texts, t0):
        return pd.DataFrame(
            {
                "conv_id": [conv] * len(texts),
                "turn_idx": pd.array(range(len(texts)), dtype="int32"),
                "role": ["user"] * len(texts),
                "text": texts,
                "tool": pd.array([None] * len(texts), dtype="string"),
                "ts": pd.to_datetime([t0] * len(texts)),
            }
        )

    in_dir = str(tmp_path / "in")
    a = "the first unique document body with plenty of words inside"
    b = "a second distinct document body about something entirely else"
    c = "the third distinct body mentioning flights and manifests today"
    spark.createDataFrame(mk("c1", [a, b], "2024-01-01 00:00")).coalesce(1) \
        .write.parquet(in_dir)
    spark.createDataFrame(mk("c2", [a, c], "2024-01-01 00:10")).coalesce(1) \
        .write.mode("append").parquet(in_dir)

    stream = read_transcripts_stream(spark, in_dir, max_files_per_trigger=1)
    deduped = dedup_stream(extract_stream(stream, n_buckets=2))
    q = (
        deduped.writeStream.format("memory")
        .queryName("dedup_stream_t")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = spark.sql(
        "SELECT conv_id, clean_text FROM dedup_stream_t"
    ).toPandas()
    texts = sorted(got["clean_text"])
    assert texts == sorted([a, b, c])  # duplicate of `a` dropped
    # the surviving copy of `a` is the FIRST arrival (conv c1)
    assert got[got["clean_text"] == a]["conv_id"].iloc[0] == "c1"


def test_stateful_conversation_progress(spark, corpus_pdf, corpus_sdf, tmp_path):
    """applyInPandasWithState (§2.11 custom stateful op): per-conversation
    counters carried across micro-batches must equal the batch groupBy on
    the same corpus — the latest emitted row per conv_id is the final
    state, even though the input arrives over several micro-batches."""
    from pyspark.sql import functions as F

    from epstein_browser_spark.streaming import (
        conversation_progress_stream,
        extract_stream,
        read_transcripts_stream,
    )

    in_dir = str(tmp_path / "in")
    ckpt = str(tmp_path / "ckpt")
    # several input files + maxFilesPerTrigger=1 forces multiple
    # micro-batches, so state genuinely carries across batches
    corpus_sdf.repartition(4).write.parquet(in_dir)

    stream = read_transcripts_stream(spark, in_dir, max_files_per_trigger=1)
    progress = conversation_progress_stream(extract_stream(stream, n_buckets=4))
    q = (
        progress.writeStream.format("memory")
        .queryName("conv_progress")
        .option("checkpointLocation", ckpt)
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    got_all = spark.sql("SELECT * FROM conv_progress").toPandas()
    assert len(got_all) > len(got_all["conv_id"].unique()), \
        "expected multiple update emissions across micro-batches"
    # latest emission per conv = running totals after the whole corpus
    got = (
        got_all.groupby("conv_id").last()
        .reset_index().sort_values("conv_id").reset_index(drop=True)
    )
    exp = (
        extract_transcripts(corpus_sdf, n_buckets=4)
        .groupBy("conv_id")
        .agg(
            F.count("*").alias("n_turns"),
            F.sum(F.when(F.col("parse_failed"), 1).otherwise(0)).alias("n_failed"),
            F.sum(F.length(F.coalesce("clean_text", F.lit("")))).alias("chars_out"),
            F.max("turn_idx").alias("max_turn_idx"),
        )
        .toPandas().sort_values("conv_id").reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(got[exp.columns], exp, check_dtype=False)


def test_stream_sessionization_equals_batch(spark, tmp_path):
    """session_counts_stream (stateful session_window + watermark) over a
    finite file stream must equal the identical batch expression — the
    q44 kernel. Events for two users with gaps straddling the 30-min
    boundary."""
    import pandas as pd

    from epstein_browser_spark.streaming import session_counts_stream

    # user 999 is a far-future SENTINEL: watermarks only advance on seen
    # event time, so without it the single availableNow batch would end
    # with every session still open and append mode would emit nothing
    pdf = pd.DataFrame(
        {
            "user_id": pd.array([1, 1, 1, 1, 2, 2, 999], dtype="int64"),
            "ts": pd.to_datetime([
                "2024-01-01 00:00:00", "2024-01-01 00:10:00",  # session 1
                "2024-01-01 00:41:00", "2024-01-01 00:50:00",  # session 2
                "2024-01-01 00:00:00", "2024-01-01 02:00:00",  # 2 sessions
                "2024-01-01 12:00:00",
            ]),
        }
    )
    in_dir = str(tmp_path / "ev")
    spark.createDataFrame(pdf).coalesce(1).write.parquet(in_dir)
    stream = (
        spark.readStream.schema("user_id bigint, ts timestamp")
        .parquet(in_dir)
    )
    q = (
        session_counts_stream(stream)
        .writeStream.format("memory").queryName("sess_t")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .outputMode("append").trigger(availableNow=True).start()
    )
    q.awaitTermination(120)
    got = spark.sql(
        "SELECT * FROM sess_t WHERE user_id != 999 "
        "ORDER BY user_id, session_start"
    ).toPandas()
    # batch equivalent: identical expression on the static frame (the
    # sentinel's own still-open session excluded on both sides)
    from pyspark.sql import functions as F
    exp = (
        spark.read.parquet(in_dir).filter("user_id != 999")
        .groupBy("user_id", F.session_window("ts", "30 minutes").alias("w"))
        .agg(F.count("*").alias("n_events"))
        .select("user_id", F.col("w.start").alias("session_start"),
                F.col("w.end").alias("session_end"), "n_events")
        .orderBy("user_id", "session_start").toPandas()
    )
    assert got.reset_index(drop=True).equals(exp.reset_index(drop=True))
    # sanity: the gap semantics produced the expected session count
    assert len(got) == 4 and list(got["n_events"]) == [2, 2, 1, 1]


def test_stream_stream_attribution_equals_batch(spark, tmp_path):
    """Watermarked stream-stream join (purchase x preceding views within
    1 h) must equal the identical batch join. Views straddle the window
    boundary: one exactly at the boundary (included), one just outside
    (excluded), one after the purchase (excluded)."""
    import pandas as pd

    from epstein_browser_spark.streaming import attribution_stream

    pdf = pd.DataFrame(
        {
            "event_id": pd.array([1, 2, 3, 4, 5, 6], dtype="int64"),
            "user_id": pd.array([7, 7, 7, 7, 7, 8], dtype="int64"),
            "event_type": ["view", "view", "view", "purchase", "view", "view"],
            "ts": pd.to_datetime([
                "2024-01-01 01:00:00",  # exactly 1h before -> included
                "2024-01-01 00:59:59",  # 1h+1s before -> excluded
                "2024-01-01 01:30:00",  # inside -> included
                "2024-01-01 02:00:00",  # the purchase
                "2024-01-01 02:00:01",  # after -> excluded
                "2024-01-01 01:45:00",  # other user -> excluded
            ]),
        }
    )
    in_dir = str(tmp_path / "ev")
    spark.createDataFrame(pdf).coalesce(1).write.parquet(in_dir)
    stream = (
        spark.readStream
        .schema("event_id bigint, user_id bigint, event_type string, "
                "ts timestamp")
        .parquet(in_dir)
    )
    q = (
        attribution_stream(stream)
        .writeStream.format("memory").queryName("attr_t")
        .option("checkpointLocation", str(tmp_path / "ck"))
        .outputMode("append").trigger(availableNow=True).start()
    )
    q.awaitTermination(120)
    got = spark.sql(
        "SELECT purchase_id, view_id FROM attr_t ORDER BY view_id"
    ).toPandas()
    assert got.values.tolist() == [[4, 1], [4, 3]]


def test_stream_upsert_sink_replaces_by_key(spark, tmp_path):
    """foreachBatch → bucketed upsert: a redelivered (conv_id, turn_idx)
    with changed text REPLACES its row instead of duplicating; new rows
    append; untouched buckets' files are not rewritten."""
    import glob
    import os

    import pandas as pd

    from epstein_browser_spark.streaming import start_upsert_stream

    def mk(rows):
        return pd.DataFrame(
            {
                "conv_id": [r[0] for r in rows],
                "turn_idx": pd.array([r[1] for r in rows], dtype="int32"),
                "role": ["user"] * len(rows),
                "text": [r[2] for r in rows],
                "tool": pd.array([None] * len(rows), dtype="string"),
                "ts": pd.to_datetime(["2024-01-01 00:00:00"] * len(rows)),
            }
        )

    in_dir = str(tmp_path / "in")
    tgt = str(tmp_path / "table")
    ckpt = str(tmp_path / "ck")
    spark.createDataFrame(mk([
        ("conv_a", 0, "the original first turn with plenty of words here"),
        ("conv_a", 1, "the original second turn which will be corrected"),
        ("conv_b", 0, "a completely separate conversation body of text"),
    ])).coalesce(1).write.parquet(in_dir)

    q = start_upsert_stream(spark, in_dir, tgt, ckpt, n_buckets=4)
    q.awaitTermination(120)
    spark.catalog.refreshByPath(tgt)
    t1 = spark.read.parquet(tgt)
    assert t1.count() == 3
    mt_before = {
        f: os.path.getmtime(f)
        for f in glob.glob(f"{tgt}/**/*.parquet", recursive=True)
    }

    # redelivery of (conv_a, 1) with corrected text + a brand-new conv
    spark.createDataFrame(mk([
        ("conv_a", 1, "the corrected second turn replacing the old row"),
        ("conv_c", 0, "an entirely new conversation arriving in batch two"),
    ])).coalesce(1).write.mode("append").parquet(in_dir)
    q = start_upsert_stream(spark, in_dir, tgt, ckpt, n_buckets=4)
    q.awaitTermination(120)
    spark.catalog.refreshByPath(tgt)
    t2 = spark.read.parquet(tgt)
    assert t2.count() == 4  # replaced, not duplicated
    rows = {(r["conv_id"], r["turn_idx"]): r["clean_text"]
            for r in t2.collect()}
    assert rows[("conv_a", 1)].startswith("the corrected second turn")
    assert ("conv_c", 0) in rows
    # only the buckets hit by batch-2 keys were rewritten
    touched = {
        r[0] for r in spark.createDataFrame(
            mk([("conv_a", 1, "x"), ("conv_c", 0, "x")])
        ).select(bucket_of("conv_id", 4)).distinct().collect()
    }
    untouched_files = [
        f for f in mt_before
        if int(f.split("bucket=")[1].split("/")[0]) not in touched
    ]
    assert untouched_files, "test needs at least one untouched bucket"
    for f in untouched_files:
        assert os.path.getmtime(f) == mt_before[f]


def test_stream_incremental_curation_equals_batch(spark, tmp_path):
    """foreachBatch → run_curation_increment: a stream of two transcript
    files curates to EXACTLY the same corpus as two batch increments, and
    the checkpoint resume processes only unseen files on restart
    (snapshot = stream-<batch_id> makes replays idempotent)."""
    import shutil

    from epstein_browser_spark import curation
    from epstein_browser_spark.streaming import (
        start_incremental_curation_stream,
    )
    from epstein_browser_spark.synth import make_transcripts_pdf

    pdf = make_transcripts_pdf(n_convs=24, hot_conv_turns=40)
    third = len(pdf) // 3
    part_a, part_b, part_c = (pdf.iloc[:third], pdf.iloc[third:2 * third],
                              pdf.iloc[2 * third:])

    out_s = str(tmp_path / "stream_out")
    curation.run_curation(spark, spark.createDataFrame(part_a), out_s,
                          n_buckets=4, input_snapshot="s0")
    out_b = str(tmp_path / "batch_out")
    shutil.copytree(out_s, out_b)

    # batch reference: two explicit increments in arrival order
    curation.run_curation_increment(
        spark, spark.createDataFrame(part_b), out_b,
        snapshot="b0", n_buckets=4)
    curation.run_curation_increment(
        spark, spark.createDataFrame(part_c), out_b,
        snapshot="b1", n_buckets=4)

    # stream: file 1 arrives, stream drains; file 2 arrives, stream
    # RESTARTS from its checkpoint and processes only the new file
    in_dir = str(tmp_path / "in")
    ckpt = str(tmp_path / "ck")
    spark.createDataFrame(part_b).coalesce(1).write.parquet(in_dir)
    q = start_incremental_curation_stream(
        spark, in_dir, out_s, ckpt, n_buckets=4, max_files_per_trigger=1)
    q.awaitTermination(300)
    spark.createDataFrame(part_c).coalesce(1).write.mode("append").parquet(
        in_dir)
    q = start_incremental_curation_stream(
        spark, in_dir, out_s, ckpt, n_buckets=4, max_files_per_trigger=1)
    q.awaitTermination(300)

    from epstein_browser_spark import fsutil
    snaps = sorted(n for n in fsutil.list_names(
        spark, f"{out_s}/{curation.CURATED_INCR}") if n.startswith("snap="))
    assert len(snaps) == 2 and all(s.startswith("snap=stream-") for s in snaps)

    got = (curation.read_curated(spark, out_s)
           .orderBy("doc_uid").toPandas().reset_index(drop=True))
    exp = (curation.read_curated(spark, out_b)
           .orderBy("doc_uid").toPandas().reset_index(drop=True))
    cols = sorted(got.columns)
    assert sorted(exp.columns) == cols
    import pandas as pd
    pd.testing.assert_frame_equal(got[cols], exp[cols])


def test_stream_then_promote_then_stream(spark, tmp_path):
    """Maintenance composes with continuous ingest: stream two batches,
    STOP, promote (stream snapshots fold into the base), stream a third
    batch against the rebased corpus — dedup decisions and the final
    corpus match the never-promoted pipeline."""
    import shutil

    from epstein_browser_spark import curation, fsutil
    from epstein_browser_spark.streaming import (
        start_incremental_curation_stream,
    )
    from epstein_browser_spark.synth import make_transcripts_pdf

    pdf = make_transcripts_pdf(n_convs=20, hot_conv_turns=40)
    q = len(pdf) // 4
    base, p1, p2, p3 = (pdf.iloc[:q], pdf.iloc[q:2 * q],
                        pdf.iloc[2 * q:3 * q], pdf.iloc[3 * q:])

    out_a = str(tmp_path / "with_promote")
    curation.run_curation(spark, spark.createDataFrame(base), out_a,
                          n_buckets=4, input_snapshot="s0")
    out_b = str(tmp_path / "no_promote")
    shutil.copytree(out_a, out_b)

    def stream_files(out_dir, in_dir, ckpt, parts):
        for part in parts:
            spark.createDataFrame(part).coalesce(1).write.mode(
                "append").parquet(in_dir)
            qy = start_incremental_curation_stream(
                spark, in_dir, out_dir, ckpt, n_buckets=4,
                max_files_per_trigger=1)
            qy.awaitTermination(300)

    stream_files(out_a, str(tmp_path / "in_a"), str(tmp_path / "ck_a"),
                 [p1, p2])
    stream_files(out_b, str(tmp_path / "in_b"), str(tmp_path / "ck_b"),
                 [p1, p2])

    # promote ONLY pipeline A (stream stopped = quiesced), then continue
    m = curation.promote_increments(spark, out_a)
    assert len(m["promoted_snaps"]) == 2
    assert not fsutil.list_names(
        spark, f"{out_a}/{curation.SCRATCH_INCR}") or all(
        not n.startswith("snap=") for n in fsutil.list_names(
            spark, f"{out_a}/{curation.SCRATCH_INCR}"))

    stream_files(out_a, str(tmp_path / "in_a"), str(tmp_path / "ck_a"),
                 [p3])
    stream_files(out_b, str(tmp_path / "in_b"), str(tmp_path / "ck_b"),
                 [p3])

    import pandas as pd
    got = (curation.read_curated(spark, out_a)
           .orderBy("doc_uid").toPandas().reset_index(drop=True))
    exp = (curation.read_curated(spark, out_b)
           .orderBy("doc_uid").toPandas().reset_index(drop=True))
    cols = sorted(got.columns)
    pd.testing.assert_frame_equal(got[cols], exp[cols])


def test_stream_upsert_dedupes_within_batch(spark, tmp_path):
    """The same (conv_id, turn_idx) delivered TWICE within one trigger
    (two files, maxFilesPerTrigger default) must land once, as the latest
    version (r4 review: the upsert anti-join removes only target rows,
    so in-batch duplicates both inserted)."""
    import pandas as pd

    from epstein_browser_spark.streaming import start_upsert_stream

    def mk(rows, ts):
        return pd.DataFrame({
            "conv_id": [r[0] for r in rows],
            "turn_idx": pd.array([r[1] for r in rows], dtype="int32"),
            "role": ["user"] * len(rows),
            "text": [r[2] for r in rows],
            "tool": pd.array([None] * len(rows), dtype="string"),
            "ts": pd.to_datetime([ts] * len(rows)),
        })

    in_dir = str(tmp_path / "in")
    tgt = str(tmp_path / "table")
    ckpt = str(tmp_path / "ck")
    spark.createDataFrame(mk([
        ("conv_a", 0, "the original first turn with plenty of words here"),
    ], "2024-01-01 00:00:00")).coalesce(1).write.parquet(in_dir)
    spark.createDataFrame(mk([
        ("conv_a", 0, "the corrected retry of the very same first turn"),
    ], "2024-01-01 00:05:00")).coalesce(1).write.mode("append").parquet(
        in_dir)

    q = start_upsert_stream(spark, in_dir, tgt, ckpt, n_buckets=4)
    q.awaitTermination(180)
    spark.catalog.refreshByPath(tgt)
    rows = spark.read.parquet(tgt).collect()
    assert len(rows) == 1
    assert "corrected retry" in rows[0]["clean_text"]


def test_dedup_stream_keeps_failed_and_empty_rows(spark, tmp_path):
    """Parse-failed turns all hash to md5('') — they must pass through
    the streaming dedup untouched instead of collapsing to one row per
    watermark window (r4 review)."""
    import pandas as pd

    from epstein_browser_spark.streaming import (
        dedup_stream,
        extract_stream,
        read_transcripts_stream,
    )

    in_dir = str(tmp_path / "in")
    pdf = pd.DataFrame({
        "conv_id": ["a", "a", "a", "b"],
        "turn_idx": pd.array([0, 1, 2, 0], dtype="int32"),
        "role": ["user"] * 4,
        # two distinct gibberish turns (both fail extraction/empty) and
        # two meaningful identical turns (true duplicates)
        "text": ["x", "zz",
                 "a meaningful sentence about the archived flight records",
                 "a meaningful sentence about the archived flight records"],
        "tool": pd.array([None] * 4, dtype="string"),
        "ts": pd.to_datetime(["2024-01-01 00:00:00"] * 4),
    })
    spark.createDataFrame(pdf).coalesce(1).write.parquet(in_dir)
    out_dir = str(tmp_path / "out")
    q = (
        dedup_stream(extract_stream(
            read_transcripts_stream(spark, in_dir), n_buckets=4))
        .writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", str(tmp_path / "ck"))
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    spark.catalog.refreshByPath(out_dir)
    got = spark.read.parquet(out_dir).select(
        "conv_id", "turn_idx").collect()
    keys = sorted((r["conv_id"], r["turn_idx"]) for r in got)
    # both failed/empty turns kept; the meaningful duplicate collapsed
    assert ("a", 0) in keys and ("a", 1) in keys
    assert len([k for k in keys if k in (("a", 2), ("b", 0))]) == 1


def test_stream_tool_census_equals_batch(spark, tmp_path):
    """tool_census_stream (watermarked hourly tool-health counters) over a
    finite file stream equals the identical batch expression, with the
    batch convstats.tool_census error semantics (case-insensitive marker,
    NULL result = non-error)."""
    import pandas as pd

    from epstein_browser_spark.streaming import tool_census_stream

    # 'zzz' at a far-future ts is the watermark sentinel (see the
    # sessionization test): append mode only emits closed windows
    pdf = pd.DataFrame(
        {
            "conv_id": ["a", "a", "b", "b", "c", "zz"],
            "turn_idx": pd.array([1, 2, 1, 2, 1, 1], dtype="int32"),
            "role": ["tool", "tool", "tool", "user", "tool", "tool"],
            "text": ["ERROR: boom", None, "ok", "error: not a call", "fine",
                     "sentinel"],
            "tool": ["grep", "grep", "web", "ignored", "web", "zzz"],
            "ts": pd.to_datetime([
                "2024-01-01 00:05:00", "2024-01-01 00:15:00",
                "2024-01-01 00:25:00", "2024-01-01 00:35:00",
                "2024-01-01 01:10:00",
                "2024-01-02 00:00:00",
            ]),
        }
    )
    in_dir = str(tmp_path / "tr")
    spark.createDataFrame(pdf).coalesce(1).write.parquet(in_dir)
    stream = (
        spark.readStream
        .schema("conv_id string, turn_idx int, role string, text string, "
                "tool string, ts timestamp")
        .parquet(in_dir)
    )
    q = (
        tool_census_stream(stream)
        .writeStream.format("memory").queryName("toolcensus_t")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .outputMode("append").trigger(availableNow=True).start()
    )
    q.awaitTermination(120)
    got = spark.sql(
        "SELECT * FROM toolcensus_t WHERE tool != 'zzz' "
        "ORDER BY window_start, tool"
    ).toPandas()
    from pyspark.sql import functions as F
    exp = (
        spark.read.parquet(in_dir)
        .filter((F.col("role") == "tool") & (F.col("tool") != "zzz"))
        .groupBy(F.window("ts", "1 hour").alias("w"), "tool")
        .agg(
            F.count("*").alias("n_calls"),
            F.sum(
                F.coalesce(F.lower(F.col("text")).contains("error:"),
                           F.lit(False)).cast("int")
            ).alias("n_errors"),
        )
        .select(F.col("w.start").alias("window_start"), "tool",
                "n_calls", "n_errors")
        .orderBy("window_start", "tool")
        .toPandas()
    )
    pd.testing.assert_frame_equal(got, exp, check_dtype=False)
    # the user-row 'error:' text is NOT a tool result and must not count
    g = got.set_index("tool")
    assert int(g.loc["grep", "n_errors"]) == 1  # ERROR: boom; NULL is clean


def test_hopping_window_stream_matches_batch(spark, tmp_path):
    """q130's 2h/1h hopping window as a stream: every CLOSED window's
    count equals the batch expression on the same input (n_users is
    approx_count_distinct in the stream — exact count-distinct is not
    supported inside streaming aggregations)."""
    import pandas as pd
    from pyspark.sql import functions as F

    from epstein_browser_spark.streaming import hopping_event_counts_stream

    pdf = pd.DataFrame(
        {
            "event_id": range(8),
            "user_id": [1, 2, 1, 3, 2, 1, 2, 3],
            "ts": pd.to_datetime(
                ["2024-01-01 00:10", "2024-01-01 00:50", "2024-01-01 01:20",
                 "2024-01-01 02:05", "2024-01-01 02:59", "2024-01-01 03:30",
                 "2024-01-01 09:00", "2024-01-01 09:01"]
            ),
        }
    )
    in_dir = str(tmp_path / "ev")
    spark.createDataFrame(pdf).write.parquet(in_dir)
    stream = (
        spark.readStream
        .schema("event_id long, user_id long, ts timestamp")
        .parquet(in_dir)
    )
    out_dir = str(tmp_path / "agg")
    q = (
        hopping_event_counts_stream(stream, watermark="1 hour")
        .writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", str(tmp_path / "ck"))
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = spark.read.parquet(out_dir).toPandas()
    stream_counts = dict(zip(got["w_start"].astype(str), got["n_events"]))
    # watermark = 09:01 - 1h = 08:01 → every window ending <= 08:01 is
    # closed; the two 09:00 events' windows (08:00, 09:00 starts) stay open
    assert "2024-01-01 08:00:00" not in stream_counts
    assert "2024-01-01 09:00:00" not in stream_counts
    batch = (
        spark.read.parquet(in_dir)
        .groupBy(F.window("ts", "2 hours", "1 hour").alias("w"))
        .agg(F.count("*").alias("n_events"))
        .select(F.col("w.start").cast("string").alias("w_start"), "n_events")
        .collect()
    )
    for r in batch:
        if r["w_start"] in stream_counts:
            assert stream_counts[r["w_start"]] == r["n_events"]
    # every closed batch window was emitted (ends before the watermark)
    closed = [r["w_start"] for r in batch if r["w_start"] < "2024-01-01 07:00:00"]
    assert closed and all(w in stream_counts for w in closed)


def test_hll_registers_stream_census_matches_batch(spark, tmp_path):
    """Streaming HLL: the streamed register table, folded by
    sketches.hll_census at read, equals the BATCH hll_distinct census
    over the same closed-window rows — including sum_scaled and the
    hll_est double (one IEEE division of identical integers). Late rows
    beyond the watermark would only be dropped, never corrupt a
    register (max is monotone)."""
    import pandas as pd
    from pyspark.sql import functions as F

    from epstein_browser_spark import sketches
    from epstein_browser_spark.streaming import hll_user_registers_stream

    pdf = pd.DataFrame(
        {
            "event_id": range(10),
            "user_id": [1, 2, 3, 1, 2, 4, 5, 1, 6, 7],
            "event_type": ["a", "a", "b", "a", "b",
                           "a", "a", "b", "a", "a"],
            "ts": pd.to_datetime(
                ["2024-01-01 00:05", "2024-01-01 00:15",
                 "2024-01-01 00:25", "2024-01-01 00:35",
                 "2024-01-01 01:05", "2024-01-01 01:10",
                 "2024-01-01 01:20", "2024-01-01 01:30",
                 "2024-01-01 09:00", "2024-01-01 09:01"]
            ),
        }
    )
    in_dir = str(tmp_path / "ev")
    spark.createDataFrame(pdf).write.parquet(in_dir)
    stream = (
        spark.readStream
        .schema("event_id long, user_id long, event_type string, "
                "ts timestamp")
        .parquet(in_dir)
    )
    out_dir = str(tmp_path / "regs")
    q = (
        hll_user_registers_stream(stream, watermark="1 hour")
        .writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", str(tmp_path / "ck"))
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    regs = spark.read.parquet(out_dir)
    got = {
        (str(r["w_start"]), r["event_type"]): (
            r["n_regs_hit"], r["sum_scaled"], r["hll_est"]
        )
        for r in sketches.hll_census(
            regs, ["w_start", "event_type"]
        ).collect()
    }
    # append mode emits only windows the watermark closed: the 09:00
    # events hold the watermark at 08:01, so hours 00 and 01 are out,
    # hour 09 is still open
    assert all(k[0].startswith("2024-01-01 0") for k in got)
    assert not any(k[0].startswith("2024-01-01 09") for k in got)
    batch = spark.createDataFrame(pdf).select(
        F.window("ts", "1 hour").getField("start")
        .cast("string").alias("w_start"),
        "event_type", "user_id",
    ).filter(~F.col("w_start").startswith("2024-01-01 09"))
    exp = {
        (r["w_start"], r["event_type"]): (
            r["n_regs_hit"], r["sum_scaled"], r["hll_est"]
        )
        for r in sketches.hll_distinct(
            batch, ["w_start", "event_type"], "user_id", with_exact=False
        ).collect()
    }
    assert got == exp and len(got) == 4  # hours 00/01 × types a/b
