"""Pipeline-level guarantees: golden equality vs the pure-Python oracle,
invariance across partitionings and salting (FIXTURES.md §5), resume
semantics (idempotent per-bucket recompute), and metrics manifests."""

import glob
import json
import os
import shutil

import pandas as pd
import pytest

from epstein_browser_spark.core import extract_batch
from epstein_browser_spark.core import reference_oracle as ro
from epstein_browser_spark.pipeline import (
    completed_buckets,
    extract_transcripts,
    run_extraction,
)


def _collect_sorted(df):
    pdf = df.select(
        "conv_id", "turn_idx", "clean_text", "quality_score", "quality_reason",
        "parse_failed", "content_hash",
    ).toPandas()
    return pdf.sort_values(["conv_id", "turn_idx"]).reset_index(drop=True)


def test_extraction_matches_oracle_per_turn(spark, corpus_pdf, corpus_sdf):
    """Per-turn text equality under stable (conv_id, turn_idx) ordering —
    the primary correctness contract (BASELINE.json north_rule)."""
    got = _collect_sorted(extract_transcripts(corpus_sdf, n_buckets=8))
    exp_core = extract_batch(corpus_pdf["text"], corpus_pdf["tool"])
    exp = corpus_pdf[["conv_id", "turn_idx"]].copy()
    exp["clean_text"] = exp_core["clean_text"]
    exp = exp.sort_values(["conv_id", "turn_idx"]).reset_index(drop=True)
    assert len(got) == len(exp)
    assert (got["conv_id"] == exp["conv_id"]).all()
    assert (got["turn_idx"].to_numpy() == exp["turn_idx"].to_numpy()).all()
    assert (got["clean_text"] == exp["clean_text"]).all()
    # quality + hash checked against the row-level oracle
    for i in range(0, len(got), 7):  # stride keeps test fast; full text above
        t = got["clean_text"][i]
        s, r = ro.quality_score(t)
        assert int(got["quality_score"][i]) == s
        assert got["quality_reason"][i] == r
        assert got["content_hash"][i] == ro.content_hash(t)


@pytest.mark.parametrize("buckets,salt", [(2, 1), (16, 1), (8, 4)])
def test_partitioning_invariance(spark, corpus_sdf, buckets, salt):
    base = _collect_sorted(extract_transcripts(corpus_sdf, n_buckets=4, salt=1))
    var = _collect_sorted(
        extract_transcripts(corpus_sdf, n_buckets=buckets, salt=salt)
    )
    pd.testing.assert_frame_equal(base, var)


def test_run_and_resume(spark, corpus_sdf, tmp_path):
    out = str(tmp_path / "run1")
    m1 = run_extraction(spark, corpus_sdf, out, n_buckets=6, input_snapshot="s1")
    assert m1["buckets_completed"] > 0 and m1["rows_out"] > 0
    full = _collect_sorted(spark.read.parquet(out + "/data"))

    # simulate a crash: drop K manifests + their data partitions
    dropped = sorted(completed_buckets(out))[:2]
    for b in dropped:
        os.remove(os.path.join(out, "_manifests", f"bucket-{b:05d}.json"))
        shutil.rmtree(os.path.join(out, "data", f"bucket={b}"))

    m2 = run_extraction(spark, corpus_sdf, out, n_buckets=6, input_snapshot="s1")
    # exactly the dropped buckets recomputed
    assert m2["buckets_completed"] == len(dropped)
    assert m2["buckets_skipped"] == m1["buckets_completed"] - len(dropped)
    resumed = _collect_sorted(spark.read.parquet(out + "/data"))
    pd.testing.assert_frame_equal(full, resumed)


def test_rerun_is_noop_when_complete(spark, corpus_sdf, tmp_path):
    out = str(tmp_path / "run2")
    run_extraction(spark, corpus_sdf, out, n_buckets=4)
    m = run_extraction(spark, corpus_sdf, out, n_buckets=4)
    assert m["buckets_completed"] == 0
    assert m["buckets_skipped"] == 4


def test_snapshot_change_invalidates_resume(spark, corpus_sdf, tmp_path):
    """A new input snapshot recomputes everything even with manifests
    present (reference: file-hash change → UPDATE path,
    index_images.py:344-352); the same snapshot is a no-op."""
    out = str(tmp_path / "runsnap")
    m1 = run_extraction(spark, corpus_sdf, out, n_buckets=4, input_snapshot="v1")
    assert m1["buckets_completed"] == 4
    m2 = run_extraction(spark, corpus_sdf, out, n_buckets=4, input_snapshot="v1")
    assert m2["buckets_completed"] == 0 and m2["buckets_skipped"] == 4
    m3 = run_extraction(spark, corpus_sdf, out, n_buckets=4, input_snapshot="v2")
    assert m3["buckets_completed"] == 4 and m3["buckets_skipped"] == 0


def test_manifest_contents(spark, corpus_sdf, tmp_path):
    from epstein_browser_spark.pipeline import BUCKET_FN, read_failures

    out = str(tmp_path / "run3")
    run_extraction(spark, corpus_sdf, out, n_buckets=4, input_snapshot="snapshot-42")
    files = sorted(glob.glob(os.path.join(out, "_manifests", "*.json")))
    assert len(files) == 4
    total_rows = total_low_quality = 0
    for f in files:
        m = json.load(open(f))
        assert m["status"] == "completed"
        assert m["input_snapshot"] == "snapshot-42"
        assert (m["n_buckets"], m["bucket_fn"]) == (4, BUCKET_FN)
        assert m["chars_in"] >= m["chars_out"] >= 0
        assert 0.0 <= m["boilerplate_ratio"] <= 1.0
        assert m["lineage"][0]["source"] == "transcripts"
        total_rows += m["rows_out"]
        total_low_quality += m["low_quality"]
    assert total_rows == spark.read.parquet(out + "/data").count()
    # the per-bucket low_quality counts drive the failures-dir cleanup
    assert total_low_quality == read_failures(spark, out).count() > 0


@pytest.mark.parametrize("n_buckets,n_partitions", [(8, 4), (2, 4)])
def test_bucket_follows_shuffle_partition(spark, corpus_sdf, n_buckets,
                                          n_partitions):
    """The bucket is the partitioner's own hash: when one count divides
    the other, bucket and shuffle partition agree modulo the smaller, so
    with 8 buckets on 4 partitions bucket b lives only in partition b % 4,
    and with 2 buckets each partition holds one bucket. A Spark upgrade
    that changes HashPartitioning's hash fails here instead of silently
    fragmenting every bucketed write."""
    from pyspark.sql import functions as F

    out = extract_transcripts(corpus_sdf, n_buckets=n_buckets,
                              n_partitions=n_partitions)
    pairs = {
        (r["bucket"], r["pid"])
        for r in out.select("bucket", F.spark_partition_id().alias("pid"))
        .distinct().collect()
    }
    assert {b for b, _ in pairs} == set(range(n_buckets))
    assert len({p for _, p in pairs}) == n_partitions
    k = min(n_buckets, n_partitions)
    assert all(b % k == p % k for b, p in pairs), sorted(pairs)


def test_run_writes_one_file_per_bucket(spark, corpus_sdf, tmp_path):
    """With the bucket aligned to the shuffle, every task writes whole
    buckets: one parquet file per data and failures bucket dir, not one
    per (task, bucket)."""
    out = str(tmp_path / "aligned")
    run_extraction(spark, corpus_sdf, out, n_buckets=8, n_partitions=4)
    for sink in ("data", "failures"):
        dirs = glob.glob(os.path.join(out, sink, "bucket=*"))
        assert dirs, sink
        for d in dirs:
            assert len(glob.glob(os.path.join(d, "*.parquet"))) == 1, d


def test_resume_with_other_bucket_count_recomputes(spark, corpus_sdf, tmp_path):
    """A manifest counts as completed only under the same bucket count and
    bucket function: resuming a complete 4-bucket output at 8 buckets must
    recompute everything (not skip buckets 0-3 and duplicate their rows),
    and going back to 4 must drop the 8-bucket run's buckets 4-7."""
    from pyspark.sql import functions as F

    from epstein_browser_spark.pipeline import read_failures

    out = str(tmp_path / "relayout")
    n_in = corpus_sdf.count()
    key = ["conv_id", "turn_idx"]
    m = run_extraction(spark, corpus_sdf, out, n_buckets=4)
    n_fail = read_failures(spark, out).count()
    for n_buckets in (8, 4):
        m = run_extraction(spark, corpus_sdf, out, n_buckets=n_buckets)
        assert m["buckets_skipped"] == 0
        assert m["buckets_completed"] == n_buckets
        for sink, n_rows in (("data", n_in), ("failures", n_fail)):
            spark.catalog.refreshByPath(f"{out}/{sink}")
            got = spark.read.parquet(f"{out}/{sink}")
            assert got.count() == n_rows, (n_buckets, sink)
            assert got.groupBy(*key).count().filter(F.col("count") > 1) \
                .count() == 0, (n_buckets, sink)
            assert {r["bucket"] for r in got.select("bucket").distinct()
                    .collect()} <= set(range(n_buckets)), (n_buckets, sink)
        assert completed_buckets(out, n_buckets=n_buckets) == \
            set(range(n_buckets))
        assert len(glob.glob(os.path.join(out, "_manifests", "*.json"))) \
            == n_buckets


def test_manifest_without_layout_fields_is_not_completed(spark, corpus_sdf,
                                                         tmp_path):
    """A manifest written before the layout fields existed (or under
    another bucket function) does not count: its bucket is recomputed."""
    from epstein_browser_spark import fsutil

    out = str(tmp_path / "legacy")
    run_extraction(spark, corpus_sdf, out, n_buckets=4)
    path = os.path.join(out, "_manifests", "bucket-00002.json")
    m = json.load(open(path))
    del m["n_buckets"], m["bucket_fn"]
    fsutil.write_text(spark, path, json.dumps(m))  # keeps the .crc in step
    assert completed_buckets(out, n_buckets=4) == {0, 1, 3}
    assert completed_buckets(out) == {0, 1, 3}
    res = run_extraction(spark, corpus_sdf, out, n_buckets=4)
    assert (res["buckets_completed"], res["buckets_skipped"]) == (1, 3)
    assert spark.read.parquet(out + "/data").count() == corpus_sdf.count()


def test_manifest_failing_its_checksum_is_recomputed(spark, corpus_sdf,
                                                     tmp_path):
    """A manifest whose bytes disagree with its Hadoop ``.crc`` sidecar
    (rewritten with plain file I/O) is unreadable like a partial one:
    resume recomputes its bucket and rewrites the manifest instead of
    aborting on the checksum error."""
    out = str(tmp_path / "badcrc")
    run_extraction(spark, corpus_sdf, out, n_buckets=4)
    path = os.path.join(out, "_manifests", "bucket-00001.json")
    m = json.load(open(path))
    with open(path, "w") as f:  # the stale .crc stays behind
        json.dump(m, f, indent=2)
    res = run_extraction(spark, corpus_sdf, out, n_buckets=4, resume=True)
    assert (res["buckets_completed"], res["buckets_skipped"]) == (1, 3)
    spark.catalog.refreshByPath(out + "/data")
    assert spark.read.parquet(out + "/data").count() == corpus_sdf.count()
    assert completed_buckets(out, n_buckets=4) == {0, 1, 2, 3}


def test_prebucketed_input_is_shuffle_free(spark, corpus_sdf, tmp_path):
    """Iceberg-layout read path: input already bucketed by conv_id →
    assume_partitioned skips the repartition, the plan has NO Exchange,
    and output equals the shuffled path."""
    import contextlib
    import io

    from epstein_browser_spark.pipeline import with_bucket

    path = str(tmp_path / "bucketed")
    with_bucket(corpus_sdf, 8).write.partitionBy("bucket").parquet(path)
    pre = spark.read.parquet(path).drop("bucket")

    out = extract_transcripts(pre, n_buckets=8, assume_partitioned=True)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        out.select("conv_id", "clean_text").explain("formatted")
    assert "Exchange" not in buf.getvalue()

    got = _collect_sorted(out)
    exp = _collect_sorted(extract_transcripts(corpus_sdf, n_buckets=8))
    pd.testing.assert_frame_equal(got, exp)


def test_grouped_map_matches_flat_path(spark, corpus_sdf):
    """applyInPandas per-conversation extraction == mapInPandas extraction
    on every per-turn column, plus correct group-level conv_turns."""
    from epstein_browser_spark.pipeline import extract_conversations_grouped

    flat = _collect_sorted(extract_transcripts(corpus_sdf, n_buckets=4))
    grouped_df = extract_conversations_grouped(corpus_sdf)
    grouped = _collect_sorted(grouped_df)
    pd.testing.assert_frame_equal(flat, grouped)
    sizes = (
        grouped_df.select("conv_id", "conv_turns").distinct().toPandas()
        .set_index("conv_id")["conv_turns"]
    )
    counts = (
        corpus_sdf.groupBy("conv_id").count().toPandas()
        .set_index("conv_id")["count"]
    )
    for conv, n in counts.items():
        assert sizes[conv] == n


def test_retry_pass_bounded(spark):
    """E6: failed structured parses are retried as plain, capped at 3
    attempts (/root/reference/helpers/error_detection.py:44)."""
    pdf = pd.DataFrame(
        {
            "conv_id": ["c1"] * 3,
            "turn_idx": pd.array([0, 1, 2], dtype="int32"),
            "role": ["user"] * 3,
            # html with no block-worthy content but meaningful raw text →
            # attempt 1 fails, attempt 2 (plain re-parse) recovers it
            "text": [
                "<div><a href='/x'>tiny</a></div> recoverable sentence words here",
                "good plain text that passes quality checks easily",
                "",
            ],
            "tool": pd.array(["html", None, "html"], dtype=object),
            "ts": pd.to_datetime(["2024-01-01"] * 3),
        }
    )
    sdf = spark.createDataFrame(pdf)
    got = (
        extract_transcripts(sdf, n_buckets=1)
        .select("turn_idx", "clean_text", "quality_score", "attempts")
        .toPandas()
        .sort_values("turn_idx")
        .reset_index(drop=True)
    )
    assert int(got["attempts"][0]) >= 2  # retried
    assert int(got["quality_score"][0]) == 100  # recovered via plain re-parse
    assert "recoverable sentence words here" in got["clean_text"][0]
    assert int(got["attempts"][1]) == 1  # clean row untouched
    assert int(got["attempts"][2]) <= 3  # bounded


# ---------------------------------------------------------------------------
# E7 failures queue + re-drive (VERDICT r1 item 4)
# ---------------------------------------------------------------------------

def test_failures_queue_written_with_priority_rule(spark, corpus_sdf, tmp_path):
    from pyspark.sql import functions as F

    from epstein_browser_spark.pipeline import read_failures

    out = str(tmp_path / "e7")
    run_extraction(spark, corpus_sdf, out, n_buckets=6)
    data = spark.read.parquet(out + "/data")
    fails = read_failures(spark, out)
    # exactly the still-low-quality rows, with the reference priority rule
    exp = data.filter(F.col("is_low_quality")).select(
        "conv_id", "turn_idx", "lq_reason",
        F.when(F.col("lq_confidence") > 0.8, 10).otherwise(5).alias("priority"),
    ).toPandas().sort_values(["conv_id", "turn_idx"]).reset_index(drop=True)
    got = fails.select("conv_id", "turn_idx", "lq_reason", "priority") \
        .toPandas().sort_values(["conv_id", "turn_idx"]).reset_index(drop=True)
    assert len(got) > 0  # the synthetic corpus has noise payloads
    pd.testing.assert_frame_equal(got, exp, check_dtype=False)
    assert set(got["priority"].unique()) <= {5, 10}


def test_failures_survive_resume_of_other_buckets(spark, corpus_sdf, tmp_path):
    from epstein_browser_spark.pipeline import read_failures

    out = str(tmp_path / "e7resume")
    run_extraction(spark, corpus_sdf, out, n_buckets=6, input_snapshot="s1")
    before = read_failures(spark, out).toPandas()
    b = sorted(completed_buckets(out))[0]
    os.remove(os.path.join(out, "_manifests", f"bucket-{b:05d}.json"))
    shutil.rmtree(os.path.join(out, "data", f"bucket={b}"))
    run_extraction(spark, corpus_sdf, out, n_buckets=6, input_snapshot="s1")
    after = read_failures(spark, out).toPandas()
    key = ["conv_id", "turn_idx"]
    pd.testing.assert_frame_equal(
        before.sort_values(key).reset_index(drop=True),
        after.sort_values(key).reset_index(drop=True),
        check_dtype=False, check_like=True,
    )


def test_reprocessing_consumes_queue(spark, tmp_path):
    """A turn that fails the classifier raw but passes after the aggressive
    pre-clean is recovered by the re-drive: removed from the queue, updated
    in the data table; hopeless turns stay queued; untouched buckets keep
    their files."""
    from pyspark.sql import functions as F

    from epstein_browser_spark.pipeline import read_failures, run_reprocessing
    from epstein_browser_spark.synth import make_transcripts_pdf

    pdf = make_transcripts_pdf(n_convs=12)
    # recoverable: >50% special chars raw (excessive_special_characters),
    # clean prose once stripped
    recoverable = "@@##$$%%^^&&**@@##$$%%^^&&**@@## the deposition testimony " \
                  "was entered into evidence @@##$$%%^^&&**@@##$$%%^^&&**"
    pdf.loc[0, "text"] = recoverable
    pdf.loc[0, "tool"] = None
    sdf = spark.createDataFrame(pdf)
    out = str(tmp_path / "redrive")
    run_extraction(spark, sdf, out, n_buckets=6)

    key0 = (pdf.loc[0, "conv_id"], int(pdf.loc[0, "turn_idx"]))
    q1 = read_failures(spark, out).toPandas()
    assert key0 in set(zip(q1["conv_id"], q1["turn_idx"]))
    n_q1 = len(q1)

    res = run_reprocessing(spark, sdf, out, n_buckets=6)
    assert res["queued"] == n_q1
    assert res["recovered"] >= 1
    q2 = read_failures(spark, out).toPandas()
    assert key0 not in set(zip(q2["conv_id"], q2["turn_idx"]))
    assert len(q2) == n_q1 - res["recovered"]

    # data table updated with the recovered clean text
    row = (
        spark.read.parquet(out + "/data")
        .filter((F.col("conv_id") == key0[0]) & (F.col("turn_idx") == key0[1]))
        .toPandas()
    )
    assert len(row) == 1
    assert not row["is_low_quality"][0]
    assert "deposition testimony" in row["clean_text"][0]
    assert "@@" not in row["clean_text"][0]

    # idempotent: a second re-drive recovers nothing new
    res2 = run_reprocessing(spark, sdf, out, n_buckets=6)
    assert res2["recovered"] == 0
    assert res2["queued"] == len(q2)
