"""Conversation-mode incremental ingest (VERDICT r4 item 3): redelivered
conversations re-form from old + new turns, re-sign, and SUPERSEDE their
earlier rows; novel conversations dedup against the corpus at
conversation granularity; the increment matches a batch recurate of the
combined raw turns; promote folds the replacement semantics into one
table."""

import json

import pandas as pd
import pytest
from pyspark.sql import functions as F

from epstein_browser_spark import curation, fsutil

BODIES = {
    # long, quality-passing, mutually-distinct turn bodies
    "a": [
        "the first archival record describes a scheduled deposition with "
        "several named attendees and a court reporter present",
        "a second message lists the flight manifest with departure and "
        "arrival airports for every leg of the documented trip",
        "the closing summary confirms the exhibits were entered into the "
        "docket and the session adjourned before the afternoon recess",
    ],
    "b": [
        "an unrelated memo catalogs the storage boxes moved to the annex "
        "with their inventory control numbers and shelf positions",
        "a follow up note requests photographs of each container before "
        "the appellate filing deadline at the end of next month",
    ],
    "c": [
        "quarterly reconciliation of the harbor ledger revealed three "
        "misfiled invoices relating to rope purchases and lantern credit",
        "the audit committee approved the corrected totals and scheduled "
        "a review of the chandlery accounts for the spring session",
    ],
}
A_EXTRA = [
    "a supplemental filing adds two exhibits recovered from the annex "
    "storage boxes with their chain of custody paperwork attached",
    "the final addendum certifies the corrected transcript and closes "
    "the record pending the appellate court's scheduling order",
]
D_NOVEL = [
    "archival weather observations from the lighthouse station were "
    "digitized and cross checked against ship logs from the same weeks",
    "the digitization team noted three gaps in the barometric series "
    "and flagged them for retrieval from the duplicate ledgers",
]


def _rows(conv_id, texts, start_idx=0):
    return [
        {"conv_id": conv_id, "turn_idx": start_idx + i, "role": "user",
         "tool": None, "ts": pd.Timestamp("2025-03-01"), "text": t}
        for i, t in enumerate(texts)
    ]


def _sdf(spark, rows):
    pdf = pd.DataFrame(rows)
    pdf["tool"] = pdf["tool"].astype("string")
    pdf["turn_idx"] = pdf["turn_idx"].astype("int32")
    return spark.createDataFrame(pdf)


def _base_rows():
    return (_rows("a", BODIES["a"]) + _rows("b", BODIES["b"])
            + _rows("c", BODIES["c"]))


def _incr_rows():
    """The increment: a DELTA redelivery of conversation a (new turns
    only), an exact duplicate of conversation b under a new id, and a
    novel conversation d."""
    return (_rows("a", A_EXTRA, start_idx=len(BODIES["a"]))
            + _rows("b_exact", BODIES["b"])
            + _rows("d", D_NOVEL))


@pytest.fixture()
def conv_base(spark, tmp_path):
    out = str(tmp_path / "convbase")
    curation.run_curation(spark, _sdf(spark, _base_rows()), out,
                          n_buckets=2, unit="conversation",
                          input_snapshot="s0")
    return out


def test_conv_increment_matches_batch_recurate(spark, tmp_path, conv_base):
    """THE parity gate: increment(base, delta) == run_curation(base ∪
    delta) at conversation granularity — including the partially
    redelivered conversation a, whose re-formed 5-turn document must be
    identical row-for-row in both paths."""
    out = conv_base
    m = curation.run_curation_increment(
        spark, _sdf(spark, _incr_rows()), out, snapshot="i1", n_buckets=2)
    assert m["curate"]["n_docs"] > 0
    got = curation.read_curated(spark, out)

    out2 = str(tmp_path / "recurate")
    curation.run_curation(
        spark, _sdf(spark, _base_rows() + _incr_rows()), out2,
        n_buckets=2, unit="conversation", input_snapshot="s0")
    want = curation.read_curated(spark, out2)

    cols = ["conv_id", "turn_idx", "clean_text", "content_hash",
            "predicted_lang", "n_tokens", "split"]
    g = got.select(cols).toPandas().sort_values(
        ["conv_id", "turn_idx"]).reset_index(drop=True)
    w = want.select(cols).toPandas().sort_values(
        ["conv_id", "turn_idx"]).reset_index(drop=True)

    # the extended conversation re-formed identically in both paths
    pd.testing.assert_frame_equal(g[g.conv_id == "a"].reset_index(drop=True),
                                  w[w.conv_id == "a"].reset_index(drop=True))
    assert (g.conv_id == "a").sum() == len(BODIES["a"]) + len(A_EXTRA)
    # exact-dup pair {b, b_exact}: both paths keep exactly one copy, and
    # the kept TEXT multiset is identical (conv_id choice may differ —
    # batch keeps the min conv_uid, the increment keeps the stored side)
    assert len({"b", "b_exact"} & set(g.conv_id)) == 1
    assert len({"b", "b_exact"} & set(w.conv_id)) == 1
    assert sorted(g.clean_text) == sorted(w.clean_text)
    # full parity on everything but the dup-pair's label
    g2 = g.drop(columns=["conv_id"]).sort_values(
        ["content_hash", "turn_idx"]).reset_index(drop=True)
    w2 = w.drop(columns=["conv_id"]).sort_values(
        ["content_hash", "turn_idx"]).reset_index(drop=True)
    pd.testing.assert_frame_equal(g2, w2)


def test_conv_increment_replacement_and_idempotence(spark, conv_base):
    out = conv_base
    n_before = curation.read_curated(spark, out).count()
    m1 = curation.run_curation_increment(
        spark, _sdf(spark, _incr_rows()), out, snapshot="i1", n_buckets=2)
    # kept: re-formed a (5 turns) + novel d (2 turns); dropped: b_exact
    assert m1["curate"]["n_docs"] == len(BODIES["a"]) + len(A_EXTRA) + 2
    cur = curation.read_curated(spark, out).toPandas()
    # replacement: conversation a appears ONCE, with all 5 turns
    assert (cur.conv_id == "a").sum() == 5
    assert len(cur) == n_before - len(BODIES["a"]) + 5 + 2
    assert "b_exact" not in set(cur.conv_id)
    assert (cur.conv_id == "d").sum() == 2

    # marker-completed retry is a skip; nothing rewritten
    m2 = curation.run_curation_increment(
        spark, _sdf(spark, _incr_rows()), out, snapshot="i1", n_buckets=2)
    assert m2["curate"].get("skipped") is True

    # PURE redelivery under a NEW snapshot: conv_key unchanged -> 0 docs
    m3 = curation.run_curation_increment(
        spark, _sdf(spark, _rows("a", BODIES["a"] + A_EXTRA)), out,
        snapshot="i2", n_buckets=2)
    assert m3["curate"]["n_docs"] == 0
    assert curation.read_curated(spark, out).count() == len(cur)


def test_conv_increment_chained_extension(spark, conv_base):
    """A second increment extends the SAME conversation again: the
    highest-seq snapshot wins at read time, and the re-formation combines
    the increment-1 replacement (not the stale base rows)."""
    out = conv_base
    curation.run_curation_increment(
        spark, _sdf(spark, _rows("a", A_EXTRA, start_idx=3)), out,
        snapshot="i1", n_buckets=2)
    more = ["a very last remark archives the complete docket and thanks "
            "the clerk for assembling the certified duplicate records"]
    curation.run_curation_increment(
        spark, _sdf(spark, _rows("a", more, start_idx=5)), out,
        snapshot="i2", n_buckets=2)
    cur = curation.read_curated(spark, out).toPandas()
    a_rows = cur[cur.conv_id == "a"].sort_values("turn_idx")
    assert len(a_rows) == 6
    assert list(a_rows.turn_idx) == [0, 1, 2, 3, 4, 5]

    # promote folds the replacement: one base table, conversation a
    # present exactly once with 6 turns, no snap trees, markers cleared
    n_all = len(cur)
    mp = curation.promote_increments(spark, out)
    assert set(mp["promoted_snaps"]) == {"i1", "i2"}
    cur2 = curation.read_curated(spark, out).toPandas()
    assert len(cur2) == n_all
    assert (cur2.conv_id == "a").sum() == 6
    assert not fsutil.exists(spark, f"{out}/{curation.CURATED_INCR}/snap=i1")
    # feature index resolved to ONE row per conversation id
    feats = spark.read.parquet(f"{out}/_scratch/minhash").toPandas()
    assert feats.id.is_unique

    # a post-promote increment still dedups correctly against the
    # folded corpus: full redelivery of the 6-turn a is a no-op
    m = curation.run_curation_increment(
        spark, _sdf(spark, _rows("a", BODIES["a"] + A_EXTRA + more)), out,
        snapshot="i3", n_buckets=2)
    assert m["curate"]["n_docs"] == 0


def test_conv_increment_near_dup_of_corpus_dropped(spark, conv_base):
    """A novel conversation that near-duplicates a stored one (one word
    changed in one turn) is dropped by the band-index probe; the stored
    conversation stays current."""
    out = conv_base
    near = [BODIES["c"][0].replace("three", "four"), BODIES["c"][1]]
    m = curation.run_curation_increment(
        spark, _sdf(spark, _rows("c_near", near)), out,
        snapshot="i1", n_buckets=2)
    assert m["curate"]["n_docs"] == 0
    cur = curation.read_curated(spark, out).toPandas()
    assert "c_near" not in set(cur.conv_id)
    assert (cur.conv_id == "c").sum() == len(BODIES["c"])


def test_conv_increment_half_commit_invisible(spark, conv_base):
    """Rows written by an increment whose stage marker never committed
    are INVISIBLE to readers and to the next increment's re-formation
    (read-committed), and the retry converges."""
    out = conv_base
    m1 = curation.run_curation_increment(
        spark, _sdf(spark, _incr_rows()), out, snapshot="i1", n_buckets=2)
    n_docs = m1["curate"]["n_docs"]
    n_vis = curation.read_curated(spark, out).count()
    # simulate the crash: marker gone, snap rows still on disk
    fsutil.delete(spark, f"{out}/_stages/incr-i1.json", recursive=False)
    assert curation.read_curated(spark, out).toPandas().pipe(
        lambda d: (d.conv_id == "a").sum()) == len(BODIES["a"])  # old a
    # retry recomputes and commits the same state
    m2 = curation.run_curation_increment(
        spark, _sdf(spark, _incr_rows()), out, snapshot="i1", n_buckets=2)
    assert m2["curate"]["n_docs"] == n_docs
    assert curation.read_curated(spark, out).count() == n_vis


def test_increment_record_keys(spark, tmp_path, conv_base):
    """Pins the records both units' increments write and return: the
    ``incr-<snap>.json`` marker (turn markers carry no ``unit`` key — adding
    one would make every stored turn increment recompute on resume), the
    ``incr-<snap>-<split>.json`` manifests, the zero-doc commit's marker,
    and the base-run metrics that perfbench reads."""
    stage_keys = {"stage", "status", "input_snapshot", "n_docs", "splits",
                  "seq", "token_counter", "redact_pii", "near_threshold"}
    manifest_keys = {"split", "snapshot", "n_docs", "n_convs",
                     "total_tokens", "total_chars", "languages"}

    def check(out, snap, m, keys):
        assert set(m) == {"curate", "elapsed_sec"}
        assert set(m["curate"]) == keys
        stages = tmp_path / out / "_stages"
        assert set(json.loads((stages / f"incr-{snap}.json").read_text())) \
            == keys
        manifests = sorted((tmp_path / out / "manifests").glob(
            f"incr-{snap}-*.json"))
        assert [p.name for p in manifests] == [
            f"incr-{snap}-{sp}.json" for sp in sorted(m["curate"]["splits"])]
        for p in manifests:
            assert set(json.loads(p.read_text())) == manifest_keys

    # conversation unit, against the base run
    base = json.loads((tmp_path / "convbase" / "_stages" / "curate.json")
                      .read_text())
    assert {"n_docs", "cap_metrics", "stage_sec"} <= set(base)
    assert set(base["stage_sec"]) == {
        "dedup_pairs_cc", "band_index", "gate_stats_materialize",
        "write_manifests"}
    m = curation.run_curation_increment(
        spark, _sdf(spark, _rows("d", D_NOVEL)), conv_base, snapshot="c1",
        n_buckets=2)
    assert m["curate"]["n_docs"] > 0
    check("convbase", "c1", m, stage_keys | {"unit", "cap_metrics"})

    # turn unit (an output with no base run is turn-mode), then the same
    # batch again under a new snapshot: the zero-doc commit
    out = str(tmp_path / "turn")
    m = curation.run_curation_increment(
        spark, _sdf(spark, _rows("d", D_NOVEL)), out, snapshot="t1",
        n_buckets=2)
    assert m["curate"]["n_docs"] > 0
    check("turn", "t1", m, stage_keys | {"cap_metrics"})
    z = curation.run_curation_increment(
        spark, _sdf(spark, _rows("d", D_NOVEL)), out, snapshot="t2",
        n_buckets=2)
    assert z["curate"]["n_docs"] == 0
    check("turn", "t2", z, stage_keys)
