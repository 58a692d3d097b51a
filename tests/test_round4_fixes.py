"""Round-4 regression tests: ADVICE r3 fixes (emitted-tag n_pii audit,
micro-exact range-join bins, empty-curation guard, LSH band-split
validation) and the observed cap metrics (VERDICT r3 item 3 — the silent
``max_bucket``/``max_block``/prefilter drops become manifest counters)."""

import json

import pandas as pd
import pytest
from pyspark.sql import functions as F

from epstein_browser_spark import curation
from epstein_browser_spark.dedup import (
    CapMetrics,
    minhash_dedup_pairs,
    minhash_features,
    minhash_lsh_candidates,
)
from epstein_browser_spark.joins import range_join_binned
from epstein_browser_spark.pipeline import extract_transcripts


def _transcripts(spark, texts, conv_prefix="c"):
    pdf = pd.DataFrame(
        {
            "conv_id": [f"{conv_prefix}{i}" for i in range(len(texts))],
            "turn_idx": [0] * len(texts),
            "role": ["user"] * len(texts),
            "tool": pd.array([None] * len(texts), dtype="string"),
            "ts": pd.Timestamp("2025-03-01"),
            "text": texts,
        }
    )
    return spark.createDataFrame(pdf)


# ---------------------------------------------------------------------------
# ADVICE 1: curation n_pii must count EMITTED tags (pii_counts contract)
# ---------------------------------------------------------------------------

def test_curation_n_pii_counts_emitted_tags(spark):
    """A phone-shaped local part nested inside an email matches both raw
    patterns but the sequential redaction emits ONE tag — n_pii must say 1
    (what the output contains), not 2 (what the original matched)."""
    df = _transcripts(spark, [
        "please forward the records to 555-123-4567@example.com before "
        "the archival review meeting happens tomorrow afternoon",
    ])
    cur = curation.curate_documents(
        extract_transcripts(df, n_buckets=2), redact_pii=True
    ).toPandas()
    assert len(cur) == 1
    row = cur.iloc[0]
    assert "<EMAIL>" in row["clean_text"]
    assert "<PHONE>" not in row["clean_text"]
    assert row["n_pii"] == 1


# ---------------------------------------------------------------------------
# ADVICE 2: range-join bins from epoch micros with true floor division
# ---------------------------------------------------------------------------

def test_range_join_last_partial_second(spark):
    """A point inside an interval's last PARTIAL second: second-truncated
    binning put the interval's final bin short of the point's bin and
    silently lost the match."""
    intervals = spark.createDataFrame(
        pd.DataFrame({
            "k": ["a"],
            "start": [pd.Timestamp("2025-01-01 00:59:59")],
            "end": [pd.Timestamp("2025-01-01 01:00:00.500")],
        })
    )
    points = spark.createDataFrame(
        pd.DataFrame({
            "k": ["a", "a"],
            "ts": [pd.Timestamp("2025-01-01 01:00:00.200"),   # in last 0.5 s
                   pd.Timestamp("2025-01-01 01:00:00.600")],  # past end
        })
    )
    out = range_join_binned(points, intervals, on=["k"], ts_col="ts",
                            start_col="start", end_col="end",
                            bin_seconds=3600).toPandas()
    assert len(out) == 1
    assert out["ts"][0] == pd.Timestamp("2025-01-01 01:00:00.200")


def test_range_join_negative_epoch_parity(spark):
    """Pre-1970 timestamps: cast('long') truncation rounds toward zero
    (not floor) — binned output must equal the naive range join."""
    iv = pd.DataFrame({
        "k": ["a"] * 3,
        "start": pd.to_datetime(["1969-12-31 22:00:00",
                                 "1969-12-31 23:30:00",
                                 "1969-12-31 23:59:00"]),
        "end": pd.to_datetime(["1969-12-31 23:00:00",
                               "1970-01-01 00:30:00",
                               "1970-01-01 00:01:30"]),
    })
    pts = pd.DataFrame({
        "k": ["a"] * 5,
        "ts": pd.to_datetime(["1969-12-31 22:30:00",
                              "1969-12-31 23:45:00",
                              "1969-12-31 23:59:30",
                              "1970-01-01 00:00:30",
                              "1970-01-01 00:45:00"]),
    })
    intervals, points = spark.createDataFrame(iv), spark.createDataFrame(pts)
    binned = sorted(map(tuple, range_join_binned(
        points, intervals, on=["k"], ts_col="ts",
        start_col="start", end_col="end", bin_seconds=900,
    ).select("k", "ts", "start", "end").collect()))
    naive = sorted(map(tuple, points.join(intervals, "k").filter(
        (F.col("ts") >= F.col("start")) & (F.col("ts") < F.col("end"))
    ).select("k", "ts", "start", "end").collect()))
    assert binned == naive and len(naive) > 0


# ---------------------------------------------------------------------------
# ADVICE 4: non-divisible band split raises instead of silently
# weakening recall
# ---------------------------------------------------------------------------

def test_band_split_divisibility_raises(spark, corpus_sdf):
    docs = corpus_sdf.limit(4)
    with pytest.raises(ValueError, match="not divisible"):
        minhash_dedup_pairs(docs, text_col="text", id_col="conv_id",
                            n_perms=32, n_bands=5)
    sigs = minhash_features(docs, text_col="text", id_col="conv_id",
                            n_perms=16).select("id", "sig")
    with pytest.raises(ValueError, match="not divisible"):
        minhash_lsh_candidates(sigs, n_bands=3, n_perms=16)


# ---------------------------------------------------------------------------
# ADVICE 3: zero-survivor base run must not leave an unreadable table
# ---------------------------------------------------------------------------

def test_empty_base_run_then_increment(spark, tmp_path):
    out = str(tmp_path / "cur")
    junk = _transcripts(spark, ["x", "zz", "!!"], conv_prefix="junk")
    m = curation.run_curation(spark, junk, out, n_buckets=2,
                              input_snapshot="s0")
    assert m["curate"]["n_docs"] == 0
    # the base read must fail CLEANLY (no parquet schema-inference crash)
    with pytest.raises(FileNotFoundError):
        curation.read_curated(spark, out)
    # an increment against the empty base works and becomes readable
    good = _transcripts(spark, [
        "the first archival record describes a scheduled deposition with "
        "several named attendees and a court reporter present",
        "a completely different flight manifest lists the departure and "
        "arrival airports with timestamps for every leg of the trip",
    ], conv_prefix="good")
    mi = curation.run_curation_increment(spark, good, out, snapshot="b1",
                                         n_buckets=2)
    assert mi["curate"]["n_docs"] == 2
    assert curation.read_curated(spark, out).count() == 2


# ---------------------------------------------------------------------------
# VERDICT item 3: cap drops are observed and land in the stage manifest
# ---------------------------------------------------------------------------

def test_megabucket_drop_count_reaches_manifest(spark, tmp_path):
    """Plant a mega-bucket (30 docs sharing a long prefix collide in LSH
    buckets) with max_bucket=2: the dropped bucket/row counts must appear
    in the curate-stage manifest instead of being silently truncated."""
    base = ("the quick brown fox jumps over the lazy dog while the court "
            "clerk files every archival record in the cabinet before ")
    texts = [base + f"reviewing item number {i} at the afternoon session"
             for i in range(30)]
    df = _transcripts(spark, texts)
    out = str(tmp_path / "megabucket")
    m = curation.run_curation(spark, df, out, n_buckets=2, max_bucket=2,
                              input_snapshot="s0")
    caps = m["curate"]["cap_metrics"]
    assert caps["lsh_bucket_cap"]["groups_dropped"] >= 1
    assert caps["lsh_bucket_cap"]["rows_dropped"] > 0
    # ... and the persisted stage manifest says the same thing
    stage = json.loads(
        (tmp_path / "megabucket" / "_stages" / "curate.json").read_text()
    )
    assert stage["cap_metrics"]["lsh_bucket_cap"]["groups_dropped"] >= 1


def test_cap_metrics_direct_operator(spark):
    """CapMetrics on the raw operator: identical texts under distinct ids
    share every band; max_bucket=2 drops all 8 per-band buckets."""
    pdf = pd.DataFrame({
        "doc_id": list(range(5)),
        "text": ["the same exact sentence about archival flight records "
                 "repeated verbatim in every single document"] * 5,
    })
    df = spark.createDataFrame(pdf)
    caps = CapMetrics()
    sigs = minhash_features(df, n_perms=32).select("id", "sig")
    cands = minhash_lsh_candidates(sigs, n_bands=8, max_bucket=2,
                                   n_perms=32, cap_metrics=caps)
    assert cands.count() == 0  # every bucket over-cap -> no candidates
    got = caps.summary()["lsh_bucket_cap"]
    assert got["groups_dropped"] == 8     # one bucket per band
    assert got["rows_dropped"] == 5 * 8   # every (doc, band) row
    assert got["rows_seen"] == 5 * 8
