"""End-to-end training-data curation: the one job a user actually runs.

Composes the operator library into a single resumable pipeline
(VERDICT r2 item 5; reference analog: the chained ingest→extract→index
workflow, /root/reference/index_images.py:588-636):

  extract      run_extraction — vectorized extraction + quality scoring,
               per-bucket manifests, bucket-level resume (pipeline.py)
  curate       quality gate → exact dedup (content_hash groupBy)
               → MinHash+LSH near-dup pairs (disk-backed scratch table)
               → connected-component keep policy (one canonical per
                 cluster)
               → token stats + char-trigram language ID (explode path)
               → deterministic conversation-level train/val/test split
               → curated table partitioned by split
  manifests    per-split JSON: doc/conv/token counts + language histogram

Scale shape (100 TB): every stage is the library's scale form — the
extraction shuffle is the job's only full shuffle; exact dedup is one
hash-groupBy; near-dup is banded LSH with capped buckets and a parquet
scratch table (never all-pairs, never an in-memory gram cache);
the keep policy is pointer-jumping label propagation (O(log diameter)
rounds, scalar-sum convergence); stats and split are single-pass column
expressions. The split is assigned per CONVERSATION, not per turn, so no
conversation leaks across train/val/test.

Stage resumability: each completed stage writes
``<out>/_stages/<stage>.json`` recording the input snapshot; a rerun with
the same snapshot skips the stage entirely (the extract stage additionally
resumes bucket-by-bucket through its own manifests). Idempotent: a second
run performs no writes (pinned by tests on file mtimes).

Doc identity: ``doc_uid = xxhash64(conv_id, turn_idx)`` — the dedup/CC
operators need one orderable numeric id. At 10^12 turns a 64-bit hash
expects rare birthday collisions (~1e4 corpus-wide); swap in a 128-bit
key (two-column hash) or a dense rank there. At this corpus scale the
collision probability is negligible and the id is deterministic across
runs, which stage resume requires.
"""

from __future__ import annotations

import json
import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from epstein_browser_spark import fsutil
from epstein_browser_spark.dedup import (
    dedup_clusters,
    minhash_candidates_between,
    minhash_dedup_pairs,
    minhash_features,
    minhash_lsh_candidates,
    verify_pairs,
)
from epstein_browser_spark.pipeline import run_extraction
from epstein_browser_spark.textstats import (
    SPLIT_NAMES,
    deterministic_split,
    langid_ngram_table,
    token_count,
)

STAGES_DIR = "_stages"


def _stage_path(out_dir: str, stage: str) -> str:
    return f"{out_dir}/{STAGES_DIR}/{stage}.json"


def stage_completed(spark: SparkSession, out_dir: str, stage: str,
                    input_snapshot: str,
                    require: dict | None = None) -> dict | None:
    """The stage's manifest when it completed against this snapshot AND
    with the same semantics-affecting settings. ``require`` extends the
    resume key: a completed marker whose recorded value differs (or is
    absent) does NOT count as completed — re-running a finished job with
    e.g. ``bpe_merges`` newly enabled must recompute, not silently keep
    the whitespace-proxy token counts (r4 review finding)."""
    raw = fsutil.read_text(spark, _stage_path(out_dir, stage))
    if raw is None:
        return None
    try:
        m = json.loads(raw)
    except json.JSONDecodeError:
        return None
    if not (m.get("status") == "completed"
            and m.get("input_snapshot") == input_snapshot):
        return None
    for k, v in (require or {}).items():
        if m.get(k) != v:
            return None
    return m


def _mark_stage(spark: SparkSession, out_dir: str, stage: str,
                input_snapshot: str, extra: dict) -> dict:
    fsutil.mkdirs(spark, f"{out_dir}/{STAGES_DIR}")
    m = {"stage": stage, "status": "completed",
         "input_snapshot": input_snapshot, **extra}
    fsutil.write_text(spark, _stage_path(out_dir, stage), json.dumps(m))
    return m


def curate_documents(
    extracted: DataFrame,
    near_threshold: float = 0.7,
    scratch_dir: str | None = None,
    redact_pii: bool = False,
    cap_metrics=None,
    max_bucket: int = 200,
    unit: str = "turn",
    bpe_merges: list | None = None,
) -> DataFrame:
    """The curation transform (no I/O): extraction output → curated docs.

    Steps: quality gate → exact dedup → near-dup keep policy → stats +
    language ID → conversation-level split → (optional) PII redaction.
    Returns one row per KEPT turn with curation columns appended.

    ``redact_pii=True`` replaces email/SSN/IPv4/phone matches in
    ``clean_text`` with tags and records the per-doc EMITTED-tag count
    (``n_pii`` — same audit contract as redaction.pii_counts). Applied
    AFTER dedup so identity decisions (hashes, shingles) are made on the
    original text; the redacted form is what lands in the training table.

    ``cap_metrics`` (dedup.CapMetrics) observes what the near-dup
    candidate caps dropped (over-cap LSH buckets, prefiltered pairs);
    run_curation threads one through and writes the summary into the
    curate-stage manifest.

    ``unit`` selects the dedup granularity: 'turn' (default) treats each
    turn as a document; 'conversation' runs the SAME exact + near-dup
    keep policy over whole conversations — turns concatenated in
    (turn_idx) order — and keeps or drops conversations atomically.
    Training pipelines need both: per-turn catches copied messages,
    per-conversation catches re-ingested/mirrored dialogs whose
    individual turns are common enough to survive turn-level dedup. In
    conversation mode a turn text repeated across different kept
    conversations is preserved (that repetition is conversational
    context, not corpus duplication)."""
    if unit == "turn":
        exact_kept = _gated_exact_kept(extracted)

        # near-dup keep policy: banded MinHash candidates → exact-jaccard
        # verify → connected components → one canonical doc per cluster
        pairs = minhash_dedup_pairs(
            exact_kept, text_col="clean_text", id_col="doc_uid",
            threshold=near_threshold, scratch_dir=scratch_dir,
            cap_metrics=cap_metrics, max_bucket=max_bucket,
        )
        clusters = dedup_clusters(exact_kept, pairs, id_col="doc_uid")
        canonical = exact_kept.join(
            clusters.filter("is_canonical").select(
                F.col("id").alias("doc_uid")),
            "doc_uid", "left_semi",
        )
    elif unit == "conversation":
        turns = _gated_unique_turns(extracted)
        convs = conversation_docs(turns)
        conv_kept = conversation_exact_kept(convs)
        pairs = minhash_dedup_pairs(
            conv_kept, text_col="conv_text", id_col="conv_uid",
            threshold=near_threshold, scratch_dir=scratch_dir,
            cap_metrics=cap_metrics, max_bucket=max_bucket,
        )
        clusters = dedup_clusters(conv_kept, pairs, id_col="conv_uid")
        kept_convs = conv_kept.join(
            clusters.filter("is_canonical").select(
                F.col("id").alias("conv_uid")),
            "conv_uid", "left_semi",
        ).select("conv_id")
        canonical = turns.join(kept_convs, "conv_id", "left_semi")
    else:
        raise ValueError(f"unknown unit {unit!r} (turn|conversation)")

    return _annotate(canonical, redact_pii, bpe_merges=bpe_merges)


def conversation_docs(turns: DataFrame,
                      text_col: str = "clean_text") -> DataFrame:
    """(conv_uid, conv_id, conv_text, conv_key, n_turns) — one document
    per conversation: gate-passing turns concatenated in (turn_idx) order
    (array_sort on struct(turn_idx, text): deterministic under any
    partitioning). One partial-aggregable groupBy on conv_id. The ONE
    definition of the conversation-concatenation kernel — q75's
    oracle-able twin reuses it rather than re-implementing (a drifted
    copy would silently de-synchronize the documented policy).

    ``conv_key`` is the conversation's EXACT-identity digest: the md5 of
    the '|'-joined per-turn md5 digests. Hashing the joined ``conv_text``
    instead was the r4 ADVICE bug: '\\n' can appear inside a turn, so
    ['a\\nb'] and ['a','b'] produced identical conv_text and exact dedup
    atomically dropped one of two genuinely different conversations.
    Fixed-width hex digests joined by a constant separator are injective
    over turn lists, so conv_key is turn-boundary-safe while conv_text
    keeps the natural newline join for shingling/stats."""
    sorted_turns = F.array_sort(F.collect_list(F.struct("turn_idx", text_col)))
    return (
        turns.groupBy("conv_id")
        .agg(sorted_turns.alias("_turns"), F.count("*").alias("n_turns"))
        .select(
            "conv_id",
            F.concat_ws(
                "\n", F.transform(F.col("_turns"), lambda s: s[text_col])
            ).alias("conv_text"),
            F.md5(
                F.concat_ws(
                    "|",
                    F.transform(F.col("_turns"), lambda s: F.md5(s[text_col])),
                )
            ).alias("conv_key"),
            "n_turns",
            F.xxhash64("conv_id").alias("conv_uid"),
        )
    )


def conversation_exact_kept(convs: DataFrame) -> DataFrame:
    """Exact conversation dedup: keep the min conv_uid per conversation
    identity digest (``conv_key`` — turn-boundary-safe, see
    :func:`conversation_docs`) — the conversation-granularity twin of the
    turn path's content-hash keep rule."""
    from epstein_browser_spark.dedup import keep_min_per_hash

    return keep_min_per_hash(
        convs.withColumn("conv_hash", F.col("conv_key")),
        "conv_hash", "conv_uid",
    )


def _gated_unique_turns(extracted: DataFrame) -> DataFrame:
    """Quality gate + per-turn identity (NO cross-turn content dedup):
    drop low-quality/failed rows, assign
    ``doc_uid = xxhash64(conv_id, turn_idx)``, and collapse rows SHARING
    a doc_uid (a batch can carry the same turn twice — source
    retry/replay inside one delivery). Deterministic pick: lowest
    content_hash (identical copies are interchangeable; a 64-bit uid
    collision between distinct docs keeps exactly one, the documented
    collision posture)."""
    from pyspark.sql import Window

    docs = extracted.filter(
        (~F.col("is_low_quality")) & (~F.col("parse_failed"))
        & (F.col("quality_score") > 0)
    ).withColumn("doc_uid", F.xxhash64("conv_id", "turn_idx"))
    uid_w = Window.partitionBy("doc_uid").orderBy("content_hash")
    return (
        docs.withColumn("_rn", F.row_number().over(uid_w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )


def _gated_exact_kept(extracted: DataFrame) -> DataFrame:
    """Quality gate + doc identity + exact dedup — ONE definition shared
    by the base job and the incremental path (their keys must agree with
    the stored index): :func:`_gated_unique_turns`, then keep the min
    doc_uid per content hash (one shuffle; the reference's content-hash
    idempotency contract, /root/reference/index_images.py:194-232).
    min-uid-per-hash alone would keep every same-uid copy because
    identical uids trivially equal the group min and id_a < id_b pairing
    never pairs equal ids — hence the uid collapse first."""
    from epstein_browser_spark.dedup import keep_min_per_hash

    return keep_min_per_hash(_gated_unique_turns(extracted),
                             "content_hash", "doc_uid")


def _annotate(canonical: DataFrame, redact_pii: bool,
              bpe_merges: list | None = None) -> DataFrame:
    """Shared curation tail: stats + explode-path language ID +
    conversation-level split + optional PII redaction.

    ``bpe_merges`` (a trained merges table, bpe.py) switches ``n_tokens``
    from the whitespace proxy to REAL BPE counts — what the downstream
    packing/mixture budgets actually consume — via the JVM literal-replace
    chain (explode words → chain → per-doc sum, no Python).

    Ordering: redaction runs FIRST (identity decisions already happened
    upstream on the original text), so every stored statistic — language
    ID, n_tokens, n_pii — describes the text the table actually contains;
    counting tokens on the pre-redaction text would overstate the budget
    of PII-heavy documents and desynchronize packing (r4 review)."""
    out = canonical
    if redact_pii:
        from epstein_browser_spark import redaction

        # n_pii audits what was EMITTED (tag count in the redacted output),
        # the same contract as redaction.pii_counts: redaction is
        # sequential and patterns nest (a phone-shaped local part inside
        # an email matches both raw patterns but emits one tag), so
        # counting raw-pattern matches against the original text would
        # claim redactions that are not in the output
        out = out.withColumn(
            "clean_text", redaction.redact(F.col("clean_text"))
        )
        n_pii = None
        for _name, _pat, tag in redaction.REDACTIONS:
            c = F.regexp_count("clean_text", F.lit(tag))
            n_pii = c if n_pii is None else n_pii + c
        out = out.withColumn("n_pii", n_pii)
    lang = langid_ngram_table(out, "clean_text", "doc_uid").select(
        F.col("id").alias("doc_uid"), "predicted_lang"
    )
    out = out.join(lang, "doc_uid", "left")
    if bpe_merges is not None:
        from epstein_browser_spark import bpe

        counts = bpe.doc_bpe_token_counts(
            out, bpe_merges, text_col="clean_text", id_col="doc_uid"
        ).select(F.col("id").alias("doc_uid"),
                 F.col("n_bpe_tokens").alias("n_tokens"))
        out = out.join(counts, "doc_uid", "left").withColumn(
            "n_tokens", F.coalesce("n_tokens", F.lit(0))
        )
    else:
        out = out.withColumn("n_tokens", token_count(F.col("clean_text")))
    return out.withColumn("split", deterministic_split(F.col("conv_id")))


def _write_split_manifests(spark: SparkSession, curated, out_dir: str,
                           base_fields: dict, name_fn,
                           fill_empty: bool = False) -> dict:
    """ONE manifest writer for the base job and increments (their copies
    had drifted — increments lacked total_chars and the language
    histogram, so cross-file aggregation under-counted; r4 review).
    Returns {split: n_docs}. ``curated=None`` means a zero-doc run."""
    split_stats = [] if curated is None else (
        curated.groupBy("split")
        .agg(
            F.count("*").alias("n_docs"),
            F.countDistinct("conv_id").alias("n_convs"),
            F.sum("n_tokens").alias("total_tokens"),
            F.sum("chars_out").alias("total_chars"),
        )
        .collect()
    )
    lang_hist = [] if curated is None else (
        curated.groupBy("split", "predicted_lang").count().collect()
    )
    langs_by_split: dict[str, dict[str, int]] = {}
    for r in lang_hist:
        langs_by_split.setdefault(r["split"], {})[r["predicted_lang"]] = (
            int(r["count"]))
    fsutil.mkdirs(spark, f"{out_dir}/manifests")
    split_counts: dict[str, int] = {}
    for r in split_stats:
        sp = r["split"]
        man = {
            "split": sp, **base_fields,
            "n_docs": int(r["n_docs"]),
            "n_convs": int(r["n_convs"]),
            "total_tokens": int(r["total_tokens"] or 0),
            "total_chars": int(r["total_chars"] or 0),
            "languages": langs_by_split.get(sp, {}),
        }
        fsutil.write_text(spark, f"{out_dir}/manifests/{name_fn(sp)}",
                          json.dumps(man))
        split_counts[sp] = man["n_docs"]
    if fill_empty:
        for sp in SPLIT_NAMES:  # empty splits still get explicit manifests
            if sp not in split_counts:
                fsutil.write_text(
                    spark, f"{out_dir}/manifests/{name_fn(sp)}",
                    json.dumps({"split": sp, **base_fields, "n_docs": 0,
                                "n_convs": 0, "total_tokens": 0,
                                "total_chars": 0, "languages": {}}),
                )
                split_counts[sp] = 0
    return split_counts


def run_curation(
    spark: SparkSession,
    transcripts: DataFrame,
    out_dir: str,
    n_buckets: int = 32,
    salt: int = 1,
    n_partitions: int | None = None,
    near_threshold: float = 0.7,
    redact_pii: bool = False,
    resume: bool = True,
    input_snapshot: str = "unversioned",
    max_bucket: int = 200,
    unit: str = "turn",
    bpe_merges: list | None = None,
) -> dict:
    """Run (or resume) the full curation job; returns run metrics.

    Output layout:
      <out_dir>/extract/...             extraction stage (its own layout)
      <out_dir>/curated_v<N>/split=S/*.parquet   versioned base table
      <out_dir>/_curated_current.json   pointer to the current version
                                        (readers resolve via
                                        curated_table_path/read_curated;
                                        installs write a new version and
                                        flip the pointer — MVCC, so
                                        concurrent readers never lose
                                        their files mid-plan)
      <out_dir>/manifests/split-S.json  per-split counts + lang histogram
      <out_dir>/_stages/<stage>.json    stage-completion manifests
      <out_dir>/_scratch/minhash        near-dup scratch table
    """
    t0 = time.time()
    metrics: dict = {}

    # stage 1: extraction (internally bucket-resumable; cheap no-op rerun)
    done = resume and stage_completed(spark, out_dir, "extract", input_snapshot)
    if done:
        metrics["extract"] = {**done, "skipped": True}
    else:
        ext = run_extraction(
            spark, transcripts, f"{out_dir}/extract", n_buckets=n_buckets,
            salt=salt, n_partitions=n_partitions, resume=resume,
            input_snapshot=input_snapshot,
        )
        metrics["extract"] = ext
        _mark_stage(spark, out_dir, "extract", input_snapshot,
                    {"rows_out": ext["rows_out"]})

    # stage 2: curate + split + manifests. The resume key includes EVERY
    # semantics-affecting setting — a completed marker from a run with
    # different redaction/threshold/granularity/tokenizer must recompute,
    # not silently skip (r4 review: redact_pii newly enabled would have
    # left raw PII in the table behind a "skipped" success)
    token_counter = "bpe" if bpe_merges is not None else "whitespace"
    settings = {"unit": unit, "token_counter": token_counter,
                "redact_pii": redact_pii, "near_threshold": near_threshold,
                "max_bucket": max_bucket}
    done = resume and stage_completed(
        spark, out_dir, "curate", input_snapshot, require=settings,
    )
    if done:
        metrics["curate"] = {**done, "skipped": True}
        metrics["elapsed_sec"] = time.time() - t0
        return metrics

    from epstein_browser_spark.dedup import CapMetrics

    stage_sec = {}
    caps = CapMetrics()
    t1 = time.time()
    # _read_optional: a zero-row input corpus leaves extract/data with
    # only _SUCCESS (schema inference fails) — that is a legitimate
    # zero-doc run, not an error (r4 review)
    extracted = _read_optional(spark, f"{out_dir}/extract/data")
    if extracted is not None:
        curated = curate_documents(
            extracted, near_threshold=near_threshold,
            scratch_dir=f"{out_dir}/_scratch/minhash",
            redact_pii=redact_pii,
            cap_metrics=caps, max_bucket=max_bucket, unit=unit,
            bpe_merges=bpe_merges,
        ).drop("bucket")
        # curate_documents runs the near-dup pairs + connected components
        # eagerly (CC is an iterative collect loop); the rest is lazy
        stage_sec["dedup_pairs_cc"] = round(time.time() - t1, 3)
        t1 = time.time()
        # persist the LSH band index of the scratch features: future
        # incremental batches probe it as a pband-pruned scan instead of
        # re-banding every stored signature (run_curation_increment)
        base_feats = _read_optional(spark, f"{out_dir}/_scratch/minhash")
        if base_feats is not None:
            _write_band_index(base_feats, out_dir, snap="base")
        else:
            # zero features this run: a PREVIOUS run's base band index
            # would otherwise outlive the (truncated) feature table
            fsutil.delete(spark, f"{out_dir}/{BANDS_DIR}/snap=base")
        stage_sec["band_index"] = round(time.time() - t1, 3)
        t1 = time.time()
        # one materialization feeds the write AND the manifest aggregates
        # — without it each consumer recomputes the dedup pipeline
        curated = curated.localCheckpoint(eager=True)
        stage_sec["gate_stats_materialize"] = round(time.time() - t1, 3)
    else:
        curated = None
    t1 = time.time()
    # install the curated table as a NEW VERSION + pointer flip (MVCC,
    # r4 verdict item 4): the curate stage always produces the complete
    # table, a re-run under a new input snapshot must not leave a
    # previous run's partitions behind (the r4 full-swap rationale), and
    # a reader that resolved curated_table_path before this install
    # keeps reading its immutable version directory instead of hitting
    # FileNotFound mid-plan. The zero-survivor run installs the explicit
    # empty state (pointer path=None).
    legacy_live = f"{out_dir}/curated"
    _recover_swap(spark, legacy_live, f"{legacy_live}__old",
                  f"{legacy_live}__tmp")  # pre-versioned layouts only
    new_path = _install_curated_version(
        spark, out_dir,
        curated if curated is not None and not curated.isEmpty() else None,
    )
    if new_path:
        spark.catalog.refreshByPath(new_path)

    # per-split manifests: bounded aggregates (3 splits × |langs|)
    split_counts = _write_split_manifests(
        spark, curated, out_dir, {"input_snapshot": input_snapshot},
        lambda sp: f"split-{sp}.json", fill_empty=True,
    )

    stage_sec["write_manifests"] = round(time.time() - t1, 3)
    n_curated = sum(split_counts.values())
    metrics["curate"] = _mark_stage(
        spark, out_dir, "curate", input_snapshot,
        {"n_docs": n_curated, "splits": split_counts,
         **settings,
         "stage_sec": stage_sec,
         # what the bounded-candidate caps dropped (no silent truncation):
         # the near-dup pipeline executed above, so the observations exist
         "cap_metrics": caps.summary()},
    )
    metrics["elapsed_sec"] = time.time() - t0
    return metrics


# ---------------------------------------------------------------------------
# incremental ingest: curate a NEW transcript batch against the existing
# corpus without re-running dedup over it
# ---------------------------------------------------------------------------

CURATED_INCR = "curated_incr"
SCRATCH_INCR = "_scratch/minhash_incr"
BANDS_DIR = "_scratch/minhash_bands"


def _write_band_index(feats: DataFrame, out_dir: str, snap: str) -> None:
    """Persist the uncapped LSH band index of a feature batch under
    ``_scratch/minhash_bands/snap=<snap>/pband=N/`` — the pruned-probe
    structure future increments scan instead of re-banding every stored
    signature (dedup.band_index).

    The snapshot's whole subtree is DELETED first: the write below is a
    dynamic partition overwrite at (snap, pband) granularity, which only
    replaces the pbands present in the NEW batch — a re-run whose feature
    table populates fewer pbands (base recurate over a changed corpus)
    would otherwise keep the previous run's rows in the untouched pband
    partitions, and those ghost rows inflate probe bucket sizes past
    max_bucket so increments silently drop near-dup candidates (r4
    ADVICE, medium). The delete→write window is crash-consistent at the
    JOB level: the caller's stage marker is written only after this
    returns, so a crash inside the window re-runs the whole stage, and
    increments against a marker-less base are already out of contract."""
    from epstein_browser_spark.dedup import N_BAND_PARTITIONS, band_index

    fsutil.delete(feats.sparkSession, f"{out_dir}/{BANDS_DIR}/snap={snap}")
    fsutil.write_partition_overwrite(
        band_index(feats.select("id", "sig"))
        .withColumn("snap", F.lit(snap))
        # one file per pband partition: writing from the upstream shuffle
        # partitioning emits tasks × pbands tiny files (the bucketed-write
        # trap in ARCHITECTURE.md)
        .repartition(N_BAND_PARTITIONS, "pband"),
        f"{out_dir}/{BANDS_DIR}",
        partition_col=["snap", "pband"],
    )


def _existing_bands(spark: SparkSession, out_dir: str, exclude_snap: str,
                    probe_bands: DataFrame) -> DataFrame | None:
    """The stored band index restricted to the probe's ``pband`` values —
    a bounded IN-list (≤ dedup.N_BAND_PARTITIONS literals) collected from
    the probe batch, so the corpus-side read is a statically
    partition-pruned scan. None when no index exists yet (caller falls
    back to banding the feature table on the fly)."""
    bands = _read_optional(spark, f"{out_dir}/{BANDS_DIR}")
    if bands is None:
        return None
    pbands = sorted(
        r["pband"]
        for r in probe_bands.select("pband").distinct().collect()
    )
    return (
        _snap_str(bands).filter(F.col("snap") != exclude_snap)
        .filter(F.col("pband").isin(pbands))
        .drop("snap", "pband")
    )


def _read_optional(spark: SparkSession, path: str) -> DataFrame | None:
    """A parquet tree, or None when it doesn't exist / holds no data
    files (a run whose gate kept zero docs writes nothing — see
    run_curation's empty guard).

    ONLY absence maps to None: an existing-but-unreadable table (corrupt
    part file, permission error, FS hiccup) re-raises — mapping it to
    None would silently disable the increment path's against-corpus
    dedup and re-admit already-curated documents instead of failing the
    job (r4 review finding)."""
    if not fsutil.exists(spark, path):
        return None
    try:
        return spark.read.parquet(path)
    except Exception as e:
        # the dir exists but holds no data files (_SUCCESS only): schema
        # inference fails — that IS the legitimate "empty table" case
        if "UNABLE_TO_INFER_SCHEMA" in str(e) or "Unable to infer schema" in str(e):
            return None
        raise


def _snap_str(df: DataFrame) -> DataFrame:
    """Partition-type inference reads an all-numeric ``snap=`` tree as
    INT; a string comparison/isin against such a column evaluates to
    NULL and silently drops EVERY row (filter(snap != 'x') on an int
    column keeps nothing) — so every reader of a snap-partitioned tree
    normalizes the column to string first (r4 review)."""
    return df.withColumn("snap", F.col("snap").cast("string"))


def _union_snaps(base: DataFrame | None, parts: DataFrame | None,
                 snap_filter=None) -> DataFrame | None:
    """Turn-mode visibility: ``base`` plus the rows of the snap-partitioned
    ``parts`` that pass ``snap_filter`` (a Column over ``snap``; None keeps
    every snapshot), snap column dropped. None when neither side exists.

    allowMissingColumns: audit columns can differ per run (a base built
    with redact_pii and an increment without, or vice versa) — absent
    columns read as null instead of making the corpus unreadable."""
    if parts is not None:
        if snap_filter is not None:
            parts = _snap_str(parts).filter(snap_filter)
        parts = parts.drop("snap")
    if base is None:
        return parts
    if parts is None:
        return base
    return base.unionByName(parts, allowMissingColumns=True)


def _supersede(parts: DataFrame | None, key: str, seqs: dict[str, int],
               base: DataFrame | None = None) -> DataFrame | None:
    """THE supersession rule of conversation-mode ingest, shared by the
    read-time shadow and the promote folds: a snapshot that delivers a
    ``key`` REPLACES every earlier row of it.

    Among the rows of the snap-partitioned ``parts`` whose snapshot has a
    sequence in ``seqs`` (rows of any other snapshot — a crashed
    increment's half-commit, the caller's own excluded snapshot — are
    invisible), each key's highest-seq snapshot wins with ALL its rows for
    that key (a conversation's turns, an id's band rows); ``base`` rows of
    a key that any such snapshot delivered are hidden. Returns the winners
    plus the surviving base rows, snap column dropped; None when neither
    side has rows.

    Scale shape: ``seqs`` is a literal map (one entry per un-promoted
    snapshot) and the snapshot filter is a static partition prune; the
    winner is a window max over the increment side only, and the shadow is
    an anti-join of the base scan against the DISTINCT winning key set —
    bounded by un-promoted increment volume, hence broadcast. No
    corpus-wide shuffle."""
    if parts is None or not seqs:
        return base
    from pyspark.sql import Window

    seq_of = F.create_map(*[F.lit(v) for kv in sorted(seqs.items())
                            for v in kv])
    parts = (
        _snap_str(parts).filter(F.col("snap").isin(sorted(seqs)))
        .withColumn("_seq", seq_of[F.col("snap")])
        .withColumn("_wseq", F.max("_seq").over(Window.partitionBy(key)))
    )
    latest = parts.filter(F.col("_seq") == F.col("_wseq")).drop(
        "_seq", "_wseq")
    if base is not None:
        base = base.join(F.broadcast(latest.select(key).distinct()), key,
                         "left_anti")
    return _union_snaps(base, latest)


def _read_curated_base(spark: SparkSession, out_dir: str) -> DataFrame | None:
    """The current curated BASE table (pointer-resolved version dir, or
    the legacy unversioned tree), or None when nothing is installed."""
    path = curated_table_path(spark, out_dir)
    return None if path is None else _read_optional(spark, path)


def _base_unit(spark: SparkSession, out_dir: str) -> str:
    """The dedup granularity the base run was curated at ('turn' unless
    the curate stage marker says otherwise)."""
    raw = fsutil.read_text(spark, _stage_path(out_dir, "curate"))
    if raw:
        try:
            return json.loads(raw).get("unit", "turn")
        except json.JSONDecodeError:
            pass
    return "turn"


def _incr_marker_map(spark: SparkSession, out_dir: str) -> dict[str, dict]:
    """snapshot -> marker dict for every COMPLETED incr-<snap> stage."""
    out: dict[str, dict] = {}
    for name in fsutil.list_names(spark, f"{out_dir}/{STAGES_DIR}"):
        if not (name.startswith("incr-") and name.endswith(".json")):
            continue
        raw = fsutil.read_text(spark, f"{out_dir}/{STAGES_DIR}/{name}")
        try:
            m = json.loads(raw) if raw else {}
        except json.JSONDecodeError:
            continue
        if m.get("status") == "completed":
            out[name[len("incr-"):-len(".json")]] = m
    return out


def _marker_seqs(markers: dict[str, dict],
                 exclude_snap: str | None = None) -> dict[str, int]:
    """snapshot -> committed ``seq`` of each completed increment marker
    (the supersession order of :func:`_supersede`)."""
    return {s: int(m.get("seq", 0)) for s, m in markers.items()
            if s != exclude_snap}


def _conv_visible_curated(spark: SparkSession, out_dir: str,
                          exclude_snap: str | None = None,
                          markers: dict[str, dict] | None = None,
                          ) -> DataFrame | None:
    """Shadow-resolved curated rows for a CONVERSATION-mode output.

    Conversation increments REPLACE redelivered conversations (a dialog
    that grew re-concatenates, re-signs, and supersedes its previous
    rows), so visibility is resolved per conversation by
    :func:`_supersede` over the completed markers' seqs (the base is
    sequence 0). Snapshots WITHOUT a completed marker (a crashed
    increment's half-commit) are invisible — conversation-mode reads are
    read-committed."""
    if markers is None:
        markers = _incr_marker_map(spark, out_dir)
    return _supersede(_read_optional(spark, f"{out_dir}/{CURATED_INCR}"),
                      "conv_id", _marker_seqs(markers, exclude_snap),
                      base=_read_curated_base(spark, out_dir))


def _existing_features_latest(spark: SparkSession, out_dir: str,
                              exclude_snap: str,
                              markers: dict[str, dict]) -> DataFrame | None:
    """The corpus near-dup feature index with REPLACEMENTS resolved
    (:func:`_supersede` by feature id): an increment that re-signed a
    conversation supersedes the base (and any lower-seq) feature row for
    that id. Base rows whose id appears in a completed increment snapshot
    are stale ghosts — verifying a candidate against a superseded gram set
    would measure similarity to text the corpus no longer contains."""
    return _supersede(_read_optional(spark, f"{out_dir}/{SCRATCH_INCR}"),
                      "id", _marker_seqs(markers, exclude_snap),
                      base=_read_optional(spark,
                                          f"{out_dir}/_scratch/minhash"))


def read_curated(spark: SparkSession, out_dir: str) -> DataFrame:
    """The full curated table: the base run's current VERSION (resolved
    once through the ``_curated_current`` pointer — immutable after
    resolution, so the returned plan survives a concurrent promote or
    recurate) plus every incremental batch under ``curated_incr/snap=*/``.
    Readers use this — the increments are kept in a sibling partition
    tree so the base table's partition discovery never sees mixed
    depths, and each increment stays an independently re-writable
    (idempotent) unit.

    For a CONVERSATION-mode output the union is shadow-resolved
    (:func:`_conv_visible_curated`): an increment that re-delivered a
    conversation supersedes its earlier rows, and half-committed
    snapshots are invisible."""
    if _base_unit(spark, out_dir) == "conversation":
        vis = _conv_visible_curated(spark, out_dir)
    else:
        vis = _existing_curated(spark, out_dir)
    if vis is None:
        raise FileNotFoundError(
            f"no curated output under {out_dir} (neither a curated base "
            f"version nor a completed increment under {CURATED_INCR}/ is "
            "readable — run run_curation first; a base run that kept zero "
            "docs plus zero increments has no rows to read)"
        )
    return vis


def _existing_curated(spark: SparkSession, out_dir: str,
                      exclude_snap: str | None = None) -> DataFrame | None:
    """Turn-mode curated rows: the base plus every increment snapshot
    except ``exclude_snap`` — what an increment run anti-joins against
    (its own possibly-half-committed prior attempt must not count as
    'existing'). None when nothing has been curated yet (empty base run,
    no prior increments)."""
    return _union_snaps(
        _read_curated_base(spark, out_dir),
        _read_optional(spark, f"{out_dir}/{CURATED_INCR}"),
        None if exclude_snap is None else F.col("snap") != exclude_snap)


def _existing_features(spark: SparkSession, out_dir: str,
                       exclude_snap: str) -> DataFrame | None:
    """The corpus near-dup index: the base scratch table plus prior
    increments' (id, sig, grams) rows — the current snapshot's partition
    is excluded so a retried run never probes against itself. None when
    no features exist yet (empty base run, no prior increments)."""
    return _union_snaps(
        _read_optional(spark, f"{out_dir}/_scratch/minhash"),
        _read_optional(spark, f"{out_dir}/{SCRATCH_INCR}"),
        F.col("snap") != exclude_snap)


def _delete_snapshot_trees(spark: SparkSession, out_dir: str,
                           snapshot: str) -> None:
    """Remove every tree partition a PRIOR run of ``snapshot`` wrote.

    A re-run that converges to ZERO installed docs (settings changed via
    the resume-mismatch path, or the batch is now a pure redelivery)
    must not leave the previous attempt's rows on disk: the fresh marker
    carries a NEW seq, and the marker-seq shadow would make the stale
    rows read-visible — resurrecting rows the run decided not to
    install, under settings that no longer apply (r5 review finding).
    Deletion precedes the marker write: a crash in between leaves the
    OLD marker, and the retry recomputes from scratch. The prior
    attempt's split MANIFESTS go too — stale per-split accounting for
    rows that no longer exist (r5 review finding)."""
    for tree in (CURATED_INCR, SCRATCH_INCR, BANDS_DIR):
        path = f"{out_dir}/{tree}/snap={snapshot}"
        if fsutil.exists(spark, path):
            fsutil.delete(spark, path)
    _clear_stale_splits(spark, out_dir, snapshot, kept_splits=())


def _clear_stale_splits(spark: SparkSession, out_dir: str, snapshot: str,
                        kept_splits) -> None:
    """Remove the snapshot's split partitions and split manifests that a
    PRIOR attempt wrote but the current run did not: the dynamic
    overwrite is keyed on (snap, split), so a re-run whose output lands
    in a different split composition never touches the stale split dir,
    and the fresh marker's seq would make those rows read-visible again
    (r5 review finding — the nonzero-doc twin of _delete_snapshot_trees).
    Runs BEFORE the stage marker commits, so the converged tree is what
    the new seq exposes."""
    kept = set(kept_splits)
    snap_dir = f"{out_dir}/{CURATED_INCR}/snap={snapshot}"
    for name in fsutil.list_names(spark, snap_dir):
        if name.startswith("split=") and name[len("split="):] not in kept:
            fsutil.delete(spark, f"{snap_dir}/{name}")
    # manifest names are incr-<snap>-<split>.json in a FLAT dir, and a
    # '-' may appear inside another snapshot's NAME: prefix-matching
    # alone would let snapshot 'i1' delete 'incr-i1-retry-train.json'
    # (snapshot 'i1-retry', split train). The extracted remainder must
    # be a real split name to be ours (r5 review pass 3).
    for name in fsutil.list_names(spark, f"{out_dir}/manifests"):
        if not (name.startswith(f"incr-{snapshot}-")
                and name.endswith(".json")):
            continue
        sp = name[len(f"incr-{snapshot}-"):-len(".json")]
        if sp in SPLIT_NAMES and sp not in kept:
            fsutil.delete(spark, f"{out_dir}/manifests/{name}",
                          recursive=False)


def run_curation_increment(
    spark: SparkSession,
    transcripts: DataFrame,
    out_dir: str,
    snapshot: str,
    n_buckets: int = 32,
    salt: int = 1,
    n_partitions: int | None = None,
    near_threshold: float = 0.7,
    redact_pii: bool = False,
    resume: bool = True,
    bpe_merges: list | None = None,
    unit: str | None = None,
) -> dict:
    """Curate a NEW batch of transcripts against an existing
    ``run_curation`` output — the incremental-ingest form of the job:
    the increment is extracted, gated, and deduplicated BOTH within
    itself and against the whole existing corpus, but nothing old is
    re-extracted, re-shingled, or re-paired.

    ``unit`` defaults to the BASE run's granularity (its curate-stage
    marker); passing an explicit unit that differs from the base raises
    — probing a conversation-signature index with turn signatures (or
    vice versa) would dedup at the wrong granularity. unit='turn' runs
    the append-only body :func:`_turn_increment`; unit='conversation'
    runs :func:`_conv_increment`, which additionally RE-FORMS redelivered
    conversations (old + new turns), re-signs them, and supersedes their
    earlier rows (VERDICT r4 item 3). Both units share this skeleton:
    resume check → marker seq → extraction → the unit's body (built from
    the shared corpus probe :func:`_corpus_dups` and within-batch keep
    policy :func:`_keep_canonical`) → either the zero-doc commit or the
    tail (annotate → ``curated_incr`` → split manifests → stale-split
    cleanup) → stage marker.

    How the against-corpus dedup stays O(increment): the base run left
    its (id, sig, grams) minhash scratch table on disk; the increment's
    bands PROBE those buckets (`minhash_candidates_between`) — one
    banded join keyed (band, band_hash), corpus-side bucket cap — and
    exact content hashes anti-join against the curated table's
    content_hash column (a pruned single-column scan). New docs
    surviving both gates run the normal within-batch near-dup keep
    policy, get annotated (stats/langid/split/PII), and land in
    ``curated_incr/snap=<snapshot>/split=S/`` via dynamic partition
    overwrite — a retried snapshot rewrites exactly its own partitions,
    so the operation is idempotent and the base table is never touched.
    The increment's features are appended to the index under
    ``_scratch/minhash_incr/snap=<snapshot>/`` so FUTURE increments
    dedup against this one too. Reference analog: the reference's
    incremental content-hash indexing contract
    (/root/reference/index_images.py:194-232), lifted from per-file
    SQLite checks to corpus-scale probing.

    Limitations (documented, not silent): a re-sent (conv_id, turn_idx)
    with CHANGED text is treated as a new doc only if its doc_uid is
    unseen — uid collisions with the existing index are dropped
    (replacement/update flows belong to the merge sinks, merge.py)."""
    t0 = time.time()
    base_unit = _base_unit(spark, out_dir)
    if unit is not None and unit != base_unit:
        # the base's scratch/band index stores features at ONE
        # granularity; probing it with the other unit's signatures would
        # silently dedup against the wrong granularity
        raise NotImplementedError(
            f"unit={unit!r} increment against a unit={base_unit!r} base is "
            "not supported — the increment must match the base granularity "
            "or batch-recurate"
        )
    if snapshot in ("base", "unversioned"):
        # "base" names the full run's index/output partitions — an
        # increment using it would dynamic-overwrite base band-index
        # partitions with increment-only rows AND exclude the whole base
        # index from its own probe (exclude_snap), silently corrupting
        # every future dedup decision
        raise ValueError(
            f"snapshot={snapshot!r} is reserved; pick a batch-unique id"
        )
    stage = f"incr-{snapshot}"
    token_counter = "bpe" if bpe_merges is not None else "whitespace"
    settings = {"token_counter": token_counter,
                "redact_pii": redact_pii,
                "near_threshold": near_threshold}
    if base_unit == "conversation":
        # only conversation markers record the unit: adding the key to
        # turn markers would make every stored turn increment's resume
        # check fail and recompute
        settings["unit"] = base_unit
    done = resume and stage_completed(
        spark, out_dir, stage, snapshot, require=settings,
    )
    if done:
        return {"curate": {**done, "skipped": True},
                "elapsed_sec": time.time() - t0}

    # Seq for the marker (monotone across ALL increments, both units):
    # promote's intent retry excludes a snapshot whose marker seq no
    # longer matches the recorded fold — without a seq on TURN markers
    # that gate compared 0 == 0 and never excluded a re-run (r5 review
    # pass 3). Computed BEFORE the stale-marker deletion so the re-run's
    # seq is strictly newer than its own prior attempt's.
    markers = _incr_marker_map(spark, out_dir)
    seq = max(_marker_seqs(markers).values(), default=0) + 1
    # Once this run decides to recompute, the PRIOR attempt's marker must
    # go: a crash after the stale-split cleanup but before the new marker
    # would otherwise leave a completed-looking marker whose splits field
    # describes rows the cleanup already deleted — and a resume retry
    # would short-circuit on it, making the loss permanent (r5 review
    # pass 3). With no marker, the retry recomputes.
    fsutil.delete(spark, _stage_path(out_dir, stage), recursive=False)
    markers.pop(snapshot, None)

    from epstein_browser_spark.dedup import CapMetrics
    from epstein_browser_spark.pipeline import extract_transcripts

    caps = CapMetrics()
    extracted = extract_transcripts(
        transcripts, n_buckets=n_buckets, salt=salt, n_partitions=n_partitions
    ).localCheckpoint(eager=True)
    if base_unit == "conversation":
        canonical = _conv_increment(spark, extracted, out_dir, snapshot,
                                    markers, near_threshold, caps)
    else:
        canonical = _turn_increment(spark, extracted, out_dir, snapshot,
                                    near_threshold, caps)

    if canonical is None:
        # zero-doc commit (e.g. an entirely-redelivered batch): nothing to
        # write — an empty partitioned parquet dir would crash the
        # read-back on schema inference, and the index gains nothing. A
        # PRIOR attempt's trees (settings-mismatch re-run) are cleared
        # first, or their rows would stay visible under the fresh marker.
        _delete_snapshot_trees(spark, out_dir, snapshot)
        metrics = _mark_stage(spark, out_dir, stage, snapshot,
                              {"n_docs": 0, "splits": {}, "seq": seq,
                               **settings})
        return {"curate": metrics, "elapsed_sec": time.time() - t0}

    out = _annotate(canonical, redact_pii, bpe_merges=bpe_merges).drop(
        "bucket").withColumn("snap", F.lit(snapshot)).localCheckpoint(
        eager=True)
    fsutil.write_partition_overwrite(
        out, f"{out_dir}/{CURATED_INCR}", partition_col=["snap", "split"]
    )
    split_counts = _write_split_manifests(
        spark, out.drop("snap"), out_dir, {"snapshot": snapshot},
        lambda sp: f"incr-{snapshot}-{sp}.json",
    )
    # the dynamic overwrite only touched the splits this run produced —
    # clear any split partition/manifest a PRIOR attempt left behind
    _clear_stale_splits(spark, out_dir, snapshot, split_counts)
    metrics = _mark_stage(spark, out_dir, stage, snapshot,
                          {"n_docs": sum(split_counts.values()),
                           "splits": split_counts, "seq": seq,
                           **settings,
                           "cap_metrics": caps.summary()})
    return {"curate": metrics, "elapsed_sec": time.time() - t0}


def _write_increment_features(feats: DataFrame, out_dir: str,
                              snapshot: str) -> DataFrame:
    """Persist a snapshot's near-dup feature rows under
    ``_scratch/minhash_incr/snap=<snapshot>/`` (the index rows this
    snapshot contributes; a retry overwrites the same partition) plus
    their band index; returns the stored rows, read back."""
    spark = feats.sparkSession
    feats_dir = f"{out_dir}/{SCRATCH_INCR}"
    fsutil.write_partition_overwrite(
        feats.withColumn("snap", F.lit(snapshot)), feats_dir,
        partition_col="snap",
    )
    stored = _snap_str(spark.read.parquet(feats_dir)).filter(
        F.col("snap") == snapshot
    ).drop("snap")
    _write_band_index(stored, out_dir, snap=snapshot)
    return stored


def _corpus_dups(spark: SparkSession, out_dir: str, snapshot: str,
                 feats: DataFrame, probe_bands: DataFrame,
                 old_feats: DataFrame, near_threshold: float, caps,
                 superseded: DataFrame | None = None) -> DataFrame:
    """Ids (column ``id``) of the batch's ``feats`` that near-duplicate a
    stored document: the batch's ``probe_bands`` probe the corpus side —
    the stored band index when one exists (pruned to the probe's pband
    partitions: O(probed buckets) instead of re-banding every stored
    signature), else ``old_feats`` banded on the fly (an output written
    before the index existed) — and the candidates verify on exact gram
    jaccard against ``feats`` ∪ ``old_feats``.

    ``superseded`` (column ``id``): stored ids whose rows the batch
    REPLACES. Their stored features and band rows describe text the corpus
    no longer holds once the batch lands, so they leave the corpus side —
    duplicate feature rows per id would make verify_pairs score a
    candidate against BOTH versions and keep any match (r5 review
    finding)."""
    if superseded is not None:
        old_feats = old_feats.join(superseded, "id", "left_anti")
    corpus_bands = _existing_bands(spark, out_dir, snapshot, probe_bands)
    pairs = minhash_candidates_between(
        probe_bands=probe_bands,  # banded ONCE — reused for pbands + join
        corpus_sigs=(None if corpus_bands is not None
                     else old_feats.select("id", "sig")),
        corpus_bands=corpus_bands,
        cap_metrics=caps,
    )
    if superseded is not None and corpus_bands is not None:
        # the stored band index still holds rows for superseded ids —
        # drop their candidate pairs here rather than letting the
        # (inner) verify feature join eat them silently
        pairs = pairs.join(
            superseded.select(F.col("id").alias("id_corpus")),
            "id_corpus", "left_anti")
    return verify_pairs(
        pairs, feats.unionByName(old_feats.select(feats.columns)),
        near_threshold, n_perms=32, a_col="id_probe", b_col="id_corpus",
        cap_metrics=caps,
    ).select(F.col("id_probe").alias("id")).distinct()


def _keep_canonical(survivors: DataFrame, feats: DataFrame, id_col: str,
                    near_threshold: float, caps) -> DataFrame:
    """The within-batch near-dup keep policy (the batch path, small
    input): banded LSH candidates among the survivors' features → exact
    verify → connected components → the survivor rows that are their
    cluster's canonical."""
    surv_feats = feats.join(
        survivors.select(F.col(id_col).alias("id")), "id", "left_semi"
    )
    within = verify_pairs(
        minhash_lsh_candidates(surv_feats.select("id", "sig"), n_bands=8,
                               n_perms=32, cap_metrics=caps),
        surv_feats, near_threshold, n_perms=32, cap_metrics=caps,
    )
    clusters = dedup_clusters(survivors, within, id_col=id_col)
    return survivors.join(
        clusters.filter("is_canonical").select(F.col("id").alias(id_col)),
        id_col, "left_semi",
    )


def _turn_increment(spark: SparkSession, extracted: DataFrame, out_dir: str,
                    snapshot: str, near_threshold: float,
                    caps) -> DataFrame | None:
    """Turn-granularity increment body (append-only: a doc the corpus
    already holds is skipped, never replaced). Returns the canonical new
    docs, or None when none survive. Writes the features of every
    exact-new doc BEFORE the corpus probe (they are the probe side)."""
    from epstein_browser_spark.dedup import band_index

    # quality gate + exact dedup within the increment: the SAME gate and
    # identity the base job applies (shared helper — drift here would
    # desynchronize the increment's keys from the stored index)
    new0 = _gated_exact_kept(extracted)
    # ...then against the existing corpus. The curated side excludes THIS
    # snapshot's partitions: a retry of a run that crashed after its
    # curated_incr write but before its stage marker must not anti-join
    # against its own half-committed output (it would record 0 docs).
    existing = _existing_curated(spark, out_dir, exclude_snap=snapshot)
    if existing is not None:
        new0 = new0.join(
            existing.select("content_hash"), "content_hash", "left_anti"
        )
    old_feats = _existing_features(spark, out_dir, exclude_snap=snapshot)
    if old_feats is not None:
        new0 = new0.join(
            old_feats.select(F.col("id").alias("doc_uid")),
            "doc_uid", "left_anti",
        )
    new0 = new0.localCheckpoint(eager=True)
    if new0.isEmpty():
        return None

    new_feats = _write_increment_features(
        minhash_features(new0, "clean_text", "doc_uid"), out_dir, snapshot)
    survivors = new0
    if old_feats is not None:
        # (with nothing curated yet — empty base run — there is no corpus
        # to probe: the increment only dedups within itself)
        probe_bands = band_index(new_feats.select("id", "sig")
                                 ).localCheckpoint(eager=True)
        dups = _corpus_dups(spark, out_dir, snapshot, new_feats, probe_bands,
                            old_feats, near_threshold, caps)
        survivors = new0.join(dups.withColumnRenamed("id", "doc_uid"),
                              "doc_uid", "left_anti")
    return _keep_canonical(survivors, new_feats, "doc_uid", near_threshold,
                           caps)


def _conv_increment(spark: SparkSession, extracted: DataFrame, out_dir: str,
                    snapshot: str, markers: dict[str, dict],
                    near_threshold: float, caps) -> DataFrame | None:
    """Conversation-granularity increment body (VERDICT r4 item 3).
    Returns every turn of the conversations to install, or None when none
    is installed.

    Differences from the turn path, forced by the unit: a conversation is
    a MUTABLE document (it grows as turns arrive), so redelivery means
    REPLACEMENT, not skip —

    1. the increment's gated turns are combined with the STORED turns of
       every redelivered conv_id (shadow-resolved view), collapsing
       duplicate (conv_id, turn_idx) deliveries by the batch path's rule
       (min content_hash per doc_uid), so delta and full redelivery both
       re-form the complete conversation exactly as a batch recurate of
       old+new raw turns would;
    2. re-formed conversations whose boundary-safe ``conv_key`` is
       UNCHANGED are dropped (pure redelivery — idempotent no-op);
    3. changed/new conversations run the base job's exact keep rule
       (conversation_exact_kept) within the batch, then probe the band
       index against the corpus — with the batch's own ids SUPERSEDED on
       the corpus side (an extended conversation always near-matches its
       own previous version; that collision is the replacement, not a
       duplicate) and the corpus feature side resolved to each
       conversation's LATEST signature (_existing_features_latest) — then
       the normal within-batch near-dup CC keep policy;
    4. kept conversations land WHOLE (all turns, re-annotated) under
       ``curated_incr/snap=<snapshot>/``, and their feature/band rows
       under the same snapshot; readers and future increments see them
       supersede earlier rows via the marker-seq shadow
       (_conv_visible_curated). The snapshot stays an idempotent
       partition-overwrite unit, and half-commits stay invisible (the
       ``seq`` only exists once the stage marker commits).

    Documented corners (loud, not silent): turns redelivered for a
    conversation that was previously DROPPED as a near-duplicate re-form
    from the increment's turns only (the dropped text was never stored);
    with ``redact_pii`` the stored (redacted) text is the identity basis
    for re-signing, so a batch recurate over raw turns can differ on
    PII-bearing conversations; a re-formed conversation that now
    near-matches a DIFFERENT stored conversation is dropped entirely,
    leaving its previous version current (corpus stability, same as the
    turn path's old-doc-wins rule)."""
    from pyspark.sql import Window

    from epstein_browser_spark.dedup import band_index

    new_turns = _gated_unique_turns(extracted)

    # re-form redelivered conversations: stored turns of affected convs
    # (shadow-resolved, excluding this snapshot's own prior attempt)
    # union the increment's turns, collapsed by the batch path's rule
    existing = _conv_visible_curated(spark, out_dir, exclude_snap=snapshot,
                                     markers=markers)
    old_keys = None
    if existing is not None:
        affected_old = existing.join(
            new_turns.select("conv_id").distinct(), "conv_id", "left_semi"
        ).localCheckpoint(eager=True)
        old_keys = conversation_docs(affected_old).select(
            "conv_id", F.col("conv_key").alias("_old_key"))
        common = [c for c in new_turns.columns if c in affected_old.columns]
        combined = (
            new_turns.select(common).withColumn("_stored", F.lit(0))
            .unionByName(
                affected_old.select(common).withColumn("_stored", F.lit(1))))
    else:
        combined = new_turns.drop("bucket").withColumn("_stored", F.lit(0))
    # collapse duplicate (conv_id, turn_idx) deliveries by the batch
    # path's rule (min content_hash per doc_uid), breaking content_hash
    # TIES toward the STORED copy: with redact_pii the stored (redacted)
    # turn and a raw redelivery of it share doc_uid AND content_hash
    # (the hash is pre-redaction), and an arbitrary winner made conv_key
    # nondeterministic — when the raw copy won, a PURE redelivery was
    # treated as changed and re-installed on every delivery, with grams
    # signed over raw text while the table stores redacted text
    # (r5 review finding). Stored text is the identity basis.
    uid_w = Window.partitionBy("doc_uid").orderBy(
        "content_hash", F.desc("_stored"))
    combined = (
        combined.withColumn("_rn", F.row_number().over(uid_w))
        .filter(F.col("_rn") == 1).drop("_rn", "_stored")
        .localCheckpoint(eager=True)
    )

    convs = conversation_docs(combined)
    if old_keys is not None:
        convs = convs.join(old_keys, "conv_id", "left").filter(
            F.col("_old_key").isNull()            # brand-new conversation
            | (F.col("_old_key") != F.col("conv_key"))  # re-formed/changed
        ).drop("_old_key")
    changed = convs.localCheckpoint(eager=True)
    if changed.isEmpty():
        return None

    # the base job's exact keep rule within the batch of candidates
    conv_kept = conversation_exact_kept(changed)
    cand_feats = minhash_features(
        conv_kept.select("conv_uid", "conv_text"),
        text_col="conv_text", id_col="conv_uid",
    ).localCheckpoint(eager=True)
    probe_bands = band_index(cand_feats.select("id", "sig")).localCheckpoint(
        eager=True)

    # corpus side = stored conversations NOT replaced by this batch (a
    # redelivered conversation's stored signature/grams describe
    # SUPERSEDED text; batch-vs-batch similarity belongs to the
    # within-batch CC pass below, where the keep policy elects a
    # canonical instead of dropping both). stored_feats keeps the
    # unfiltered view for the refinement pass after the keep policy (a
    # replacement that is NOT installed leaves its old text current).
    stored_feats = _existing_features_latest(spark, out_dir,
                                             exclude_snap=snapshot,
                                             markers=markers)
    survivors = conv_kept
    if stored_feats is not None:
        dups = _corpus_dups(spark, out_dir, snapshot, cand_feats,
                            probe_bands, stored_feats, near_threshold, caps,
                            superseded=cand_feats.select("id"))
        survivors = conv_kept.join(dups.withColumnRenamed("id", "conv_uid"),
                                   "conv_uid", "left_anti")

    # Within-batch near-dup keep policy (same as the base conversation
    # run), UNIFIED with the refinement against stored text of
    # replaced-but-not-installed conversations (r5 review finding): a
    # redelivered conversation that is NOT installed leaves its STORED
    # text current, and survivors were only verified against non-batch
    # stored features (the anti-join above) and batch members' NEW text.
    # A refinement drop of a cluster CANONICAL must RE-ELECT among that
    # cluster's members rather than losing them (the policy is "elect a
    # canonical", never "drop both" — r5 review pass 3), so the drop
    # feeds back into the SURVIVOR set and the election reruns. The
    # fixpoint is bounded: survivors strictly shrink on every iteration
    # that continues, and iterations beyond the first only happen when a
    # replacement's stored text actually claimed a survivor (rare — the
    # increment is small and replacements are a fraction of it).
    replaced = None
    if stored_feats is not None:
        replaced = stored_feats.join(
            cand_feats.select("id"), "id", "left_semi"
        ).localCheckpoint(eager=True)
        if replaced.isEmpty():
            replaced = None
    survivors = survivors.localCheckpoint(eager=True)
    while True:
        kept_convs = _keep_canonical(
            survivors, cand_feats, "conv_uid", near_threshold, caps,
        ).select("conv_id", "conv_uid").localCheckpoint(eager=True)
        if replaced is None or kept_convs.isEmpty():
            break
        # stored text still current = replaced ids NOT being installed
        exposed = replaced.join(
            kept_convs.select(F.col("conv_uid").alias("id")),
            "id", "left_anti").localCheckpoint(eager=True)
        if exposed.isEmpty():
            break
        kept_bands = probe_bands.join(
            kept_convs.select(F.col("conv_uid").alias("id")),
            "id", "left_semi")
        cands = minhash_candidates_between(
            probe_bands=kept_bands,
            corpus_sigs=exposed.select("id", "sig"),
            cap_metrics=caps)
        # feature table: exposed ids resolve to their STORED grams (the
        # text the corpus actually holds) — never to the new grams of
        # the replacement that was not installed
        feats2 = cand_feats.join(
            exposed.select("id"), "id", "left_anti"
        ).unionByName(exposed.select(cand_feats.columns))
        drops = verify_pairs(
            cands, feats2, near_threshold, n_perms=32,
            a_col="id_probe", b_col="id_corpus", cap_metrics=caps,
        ).select(F.col("id_probe").alias("conv_uid")).distinct(
        ).localCheckpoint(eager=True)
        if drops.isEmpty():
            break
        survivors = survivors.join(
            drops, "conv_uid", "left_anti").localCheckpoint(eager=True)

    if kept_convs.isEmpty():
        return None
    # features/bands for exactly the INSTALLED conversations (persisting
    # a dropped replacement's signature would desynchronize the index
    # from the text the corpus actually kept)
    _write_increment_features(
        cand_feats.join(kept_convs.select(F.col("conv_uid").alias("id")),
                        "id", "left_semi"),
        out_dir, snapshot)
    # kept conversations land WHOLE: every combined turn, re-annotated
    return combined.join(kept_convs.select("conv_id"), "conv_id",
                         "left_semi")


# ---------------------------------------------------------------------------
# versioned curated table (MVCC install): reader-safe promote/recurate
# ---------------------------------------------------------------------------

CURATED_POINTER = "_curated_current.json"
CURATED_VERSION_PREFIX = "curated_v"


def _read_curated_pointer(spark: SparkSession, out_dir: str) -> dict | None:
    """The current-version pointer, or None (pre-pointer layout / nothing
    installed). Falls back to the ``.tmp`` staging file for the one crash
    window the atomic flip has (old pointer deleted, staged file not yet
    renamed — the staged content IS the committed new state, since the
    version directory is fully written before the flip starts)."""
    for name in (CURATED_POINTER, CURATED_POINTER + ".tmp"):
        raw = fsutil.read_text(spark, f"{out_dir}/{name}")
        if raw is None:
            continue
        try:
            p = json.loads(raw)
        except json.JSONDecodeError:
            continue
        if isinstance(p, dict) and "version" in p:
            return p
    return None


def _write_curated_pointer(spark: SparkSession, out_dir: str,
                           version: int, relpath: str | None,
                           previous: list[str] | None = None) -> None:
    """Atomic pointer flip: stage the new pointer as ``.tmp``, delete the
    old pointer, rename the staged file in. Readers resolving mid-flip
    see either the old pointer, or (in the delete→rename window) the
    staged file via the fallback in :func:`_read_curated_pointer` —
    never a torn write, because rename is atomic on HDFS-like stores and
    the staged file is fully written before the old pointer disappears."""
    ptr = f"{out_dir}/{CURATED_POINTER}"
    tmp = ptr + ".tmp"
    fsutil.write_text(spark, tmp,
                      json.dumps({"version": version, "path": relpath,
                                  "previous": previous or []}))
    fsutil.delete(spark, ptr, recursive=False)
    if not fsutil.rename(spark, tmp, ptr):
        raise IOError(f"pointer flip rename {tmp} -> {ptr} failed")


def curated_table_path(spark: SparkSession, out_dir: str) -> str | None:
    """Absolute path of the CURRENT curated base table — the pointer's
    version directory, the legacy unversioned ``curated/`` tree when no
    pointer exists yet (pre-r5 layouts), or None when nothing is
    installed (zero-doc run / nothing curated). Readers resolve this
    ONCE per job; the resolved directory is immutable thereafter
    (installs write a NEW version directory and flip the pointer), so a
    plan held across a concurrent promote/recurate never hits
    FileNotFound — the r4 verdict's reader-safety requirement."""
    p = _read_curated_pointer(spark, out_dir)
    if p is not None:
        rel = p.get("path")
        return f"{out_dir}/{rel}" if rel else None
    legacy = f"{out_dir}/curated"
    return legacy if fsutil.exists(spark, legacy) else None


def _curated_version_dirs(spark: SparkSession, out_dir: str) -> list[int]:
    out = []
    for name in fsutil.list_names(spark, out_dir):
        if name.startswith(CURATED_VERSION_PREFIX):
            suffix = name[len(CURATED_VERSION_PREFIX):]
            if suffix.isdigit():
                out.append(int(suffix))
    return sorted(out)


def _install_curated_version(spark: SparkSession, out_dir: str,
                             curated: DataFrame | None,
                             keep_versions: int = 2) -> str | None:
    """Install a new curated base table as ``curated_v<N>`` and flip the
    pointer — the MVCC write path shared by run_curation (full rebuild)
    and promote_increments (fold). Prior version directories are
    RETAINED (`keep_versions` newest, counting the one just installed),
    so a reader that resolved :func:`curated_table_path` before the flip
    keeps reading its immutable snapshot; versions older than the
    retention window (plus orphans from installs that crashed before
    their flip) are vacuumed here. ``curated=None`` installs the
    explicit empty state (zero-doc run). Returns the new path (None for
    the empty state)."""
    existing = _curated_version_dirs(spark, out_dir)
    p = _read_curated_pointer(spark, out_dir)
    cur_v = int(p["version"]) if p else 0
    v = max([cur_v] + existing) + 1
    rel = None
    if curated is not None:
        rel = f"{CURATED_VERSION_PREFIX}{v:06d}"
        curated.write.mode("overwrite").partitionBy("split").parquet(
            f"{out_dir}/{rel}")
    # pointer HISTORY is the retention set: orphan dirs from installs
    # that crashed before their flip were never readable through the
    # pointer, so they are vacuumable dead writes, while every retained
    # entry here was current once and may have live readers
    prev: list[str] = []
    if p is not None:
        if p.get("path"):
            prev.append(p["path"])
        prev.extend(p.get("previous", []))
    elif fsutil.exists(spark, f"{out_dir}/curated"):
        prev.append("curated")  # pre-versioned layout: its readers count
    _write_curated_pointer(spark, out_dir, v, rel,
                           previous=prev[:max(keep_versions - 1, 0)])
    vacuum_curated_versions(spark, out_dir, keep=keep_versions)
    return f"{out_dir}/{rel}" if rel else None


def vacuum_curated_versions(spark: SparkSession, out_dir: str,
                            keep: int = 2) -> list[str]:
    """Retention for the versioned curated table: keep the pointer's
    current path plus the first ``keep - 1`` entries of its recorded
    HISTORY (each was current once and may have in-flight readers);
    delete every other version directory — older history, and orphans
    from installs that crashed before their pointer flip (never
    reader-visible) — plus the legacy unversioned ``curated/`` tree when
    it has aged out of the history window. The reader contract this
    enforces: a plan resolved against the then-current version stays
    readable until ``keep - 1`` further installs have completed — the
    expire-snapshots semantics of a table format, without the format."""
    p = _read_curated_pointer(spark, out_dir)
    if p is None:
        return []
    keep_rel = {p["path"]} if p.get("path") else set()
    keep_rel.update(p.get("previous", [])[:max(keep - 1, 0)])
    removed = []
    for v in _curated_version_dirs(spark, out_dir):
        rel = f"{CURATED_VERSION_PREFIX}{v:06d}"
        if rel in keep_rel:
            continue
        fsutil.delete(spark, f"{out_dir}/{rel}")
        removed.append(rel)
    if "curated" not in keep_rel and fsutil.exists(spark, f"{out_dir}/curated"):
        fsutil.delete(spark, f"{out_dir}/curated")
        removed.append("curated")
    return removed


def _recover_swap(spark: SparkSession, live: str, old: str, tmp: str) -> None:
    """Crash recovery for :func:`_swap_dir`: if a prior promote renamed
    the live tree aside but died before installing the new one, put the
    old tree back; stale tmp output is always discarded (it is rebuilt
    from the recovered inputs)."""
    if not fsutil.exists(spark, live) and fsutil.exists(spark, old):
        fsutil.rename(spark, old, live)
    for p in (tmp, old):
        if fsutil.exists(spark, p):
            fsutil.delete(spark, p)


def _swap_dir(spark: SparkSession, live: str, old: str, tmp: str) -> None:
    """Install ``tmp`` as ``live``: live→old, tmp→live, delete old.
    The live tree is renamed ASIDE (never deleted first), so every crash
    window leaves a recoverable state for :func:`_recover_swap`."""
    if fsutil.exists(spark, live):
        if not fsutil.rename(spark, live, old):
            raise IOError(f"rename {live} -> {old} failed")
    if not fsutil.rename(spark, tmp, live):
        raise IOError(f"rename {tmp} -> {live} failed")
    if fsutil.exists(spark, old):
        fsutil.delete(spark, old)


def promote_increments(spark: SparkSession, out_dir: str) -> dict:
    """Fold every incremental snapshot into the base tables — the rebase
    op that keeps incremental ingest O(increment) FOREVER instead of
    letting snapshot partitions accrete (VERDICT r3 item 2: K increments
    made ``_existing_features``/``read_curated`` union a K-snapshot tree
    per run; after promotion each is ONE table again).

    What moves where:

    * ``curated_incr/snap=*`` rows fold into a NEW curated base VERSION
      (``curated_v<N>/split=S``) installed by an atomic pointer flip
      (:func:`_install_curated_version`) — never by delete-first or
      in-place rename, so (a) a crash at any point leaves the previous
      version current, and (b) a READER holding a plan resolved before
      the fold keeps reading its immutable version directory (MVCC;
      r4 verdict item 4 — the old rename-install could FileNotFound a
      concurrent reader). Prior versions are retained per the
      ``vacuum_curated_versions`` window (default: current + previous).
    * ``_scratch/minhash_incr/snap=*`` feature rows fold into the base
      ``_scratch/minhash`` scratch table the same way.
    * the band index is MERGED, not re-banded: every stored (id, band,
      band_hash) row — base and promoted snaps — is relabelled
      ``snap=base`` into a rewritten tree (one columnar copy, no
      re-hashing); the old snap partitions disappear with the swap.
    * promoted snapshots' stage markers are deleted LAST, after every
      tree is folded (``vacuum_snapshots`` semantics: a marker must not
      outlive its data, or a re-sent snapshot id with NEW data would be
      silently skipped).

    Crash-idempotence (r4 review findings): a crash can land between any
    two steps, leaving some trees folded and others not — so (a) ONLY
    snapshots with a COMPLETED stage marker fold (an unmarked tree is a
    crashed increment's half-commit; folding its features would make the
    increment's retry anti-join its own documents away — it is left for
    that retry), (b) a PROMOTE-INTENT marker written before any fold
    durably records the fold set + seq map and, per table, whether its
    fold already installed; each tree's folded partitions are deleted
    only AFTER that table's phase record lands, so a retry never
    recomputes conversation winners from a partially-deleted fold set
    (the r5 rollback finding: surviving lower-seq trees would win again
    and anti-join the already-folded newer version out of base),
    (c) every fold DEDUPLICATES on its natural key (doc_uid / feature
    id / band row), so a retry that re-folds a half-cleaned state
    converges to exactly one copy, and (d) markers clear for snapshots
    folded now OR folded by a crashed promote (n_docs > 0, trees gone)
    — while a ZERO-doc marker with no trees (an entirely-redelivered
    batch) survives as the redelivery short-circuit it is; the intent
    clears last, committing the promote.

    Cost: one columnar rewrite of the curated/feature/band tables —
    O(corpus) bytes like any compaction, amortized over however many
    increments ran since the last promote. Concurrency contract:
    CURATED-TABLE READERS ARE SAFE across a promote (versioned install;
    a plan resolved before the fold reads its retained version until
    ``keep_versions - 1`` further installs land). Concurrent WRITERS
    (increments, recurates, other promotes) must still be quiesced —
    single-writer discipline, like the reference's one-indexer contract
    (/root/reference/app.py:379-433). The feature/band scratch trees are
    still swapped in place: their only readers are those same quiesced
    writers. Reference analog: the reference's single-table re-index,
    /root/reference/index_images.py:344-434.
    """
    t0 = time.time()
    legacy_live = f"{out_dir}/curated"
    feats_live = f"{out_dir}/_scratch/minhash"
    _recover_swap(spark, legacy_live, f"{legacy_live}__old",
                  f"{legacy_live}__tmp")  # pre-versioned layouts only
    _recover_swap(spark, feats_live, f"{feats_live}__old",
                  f"{feats_live}__tmp")
    _recover_swap(spark, f"{out_dir}/{BANDS_DIR}",
                  f"{out_dir}/{BANDS_DIR}__old",
                  f"{out_dir}/{BANDS_DIR}__tmp")

    # BANDS_DIR included: a crash between the scratch-tree cleanup and
    # the band swap must leave the snapshot fold-eligible on retry, or
    # its band partitions would be orphaned while the marker clears
    tree_snaps = {
        name[len("snap="):]
        for tree in (CURATED_INCR, SCRATCH_INCR, BANDS_DIR)
        for name in fsutil.list_names(spark, f"{out_dir}/{tree}")
        if name.startswith("snap=") and name != "snap=base"
    }
    # ONLY snapshots with a COMPLETED incr-<snap> marker fold (r4 review
    # finding): an unmarked tree is a crashed increment's half-commit —
    # folding its features into the unlabeled base would make the
    # increment's own retry anti-join every document against its folded
    # self and permanently commit 0 docs. Unmarked trees are left for
    # the increment retry (which overwrites its own partitions).
    markers = _incr_marker_map(spark, out_dir)
    marker_docs = {s: int(m.get("n_docs", 0)) for s, m in markers.items()}
    marker_seqs = _marker_seqs(markers)
    unit = _base_unit(spark, out_dir)

    # PROMOTE-INTENT protocol (r5 review finding — conversation-mode
    # rollback): replacement folds compute winners-by-seq across the
    # WHOLE fold set, so a retry after a crash mid-way through the
    # per-snapshot tree deletions must not recompute winners from only
    # the SURVIVING trees (a lower-seq redelivery of a conversation
    # would win again and anti-join the already-folded newer version out
    # of base). The intent marker, written BEFORE any fold, durably
    # records (a) the fold set + seq map and (b) which tables' folds
    # have already installed; tree deletion for a table is gated behind
    # its phase record, so a retry either re-folds from ALL trees (phase
    # absent — none deleted yet; re-install converges, base already
    # holding the winners is anti-joined and re-added) or skips straight
    # to deleting leftovers (phase present).
    intent_path = _stage_path(out_dir, "promote-intent")
    intent_raw = fsutil.read_text(spark, intent_path)
    intent = json.loads(intent_raw) if intent_raw else None
    if intent is not None:
        seqs = {s: int(v) for s, v in intent["fold"].items()}
        # A snapshot RE-RUN between the crash and this retry carries a
        # NEWER marker seq than the intent recorded: its trees hold new
        # content the crashed fold never saw — exclude it entirely from
        # this retry (no fold, no tree deletion, no marker clear); it
        # folds on the NEXT promote, and until then its marker-seq
        # shadow correctly supersedes whatever the crashed fold already
        # installed (r5 review finding: the phase-skip deletion loops
        # would otherwise destroy the re-run's trees, and the clear
        # loop its marker, without the content ever reaching base). A
        # MISSING marker means a previous retry already cleared it —
        # markers clear only after every fold — so leftover trees still
        # delete.
        fold = sorted(
            s for s in seqs
            if s not in markers
            or marker_seqs[s] == seqs[s]
        )
        phases = set(intent.get("phases", []))
    else:
        fold = sorted(s for s in marker_docs if s in tree_snaps)
        seqs = {s: marker_seqs[s] for s in fold}
        phases = set()

    def _write_intent():
        fsutil.mkdirs(spark, f"{out_dir}/{STAGES_DIR}")
        fsutil.write_text(spark, intent_path, json.dumps(
            {"fold": seqs, "phases": sorted(phases)}))

    # markers to clear. Under an intent retry: ONLY the retry's own fold
    # set — a marker outside it belongs to an increment that completed
    # (or re-ran) after the crash; clearing it would make its unfolded
    # documents permanently invisible (r5 review finding: clear was
    # computed from CURRENT markers while fold came from the intent).
    # Fresh promote: folded this run, or folded by a crashed pre-intent
    # promote (n_docs > 0 but trees already gone). A ZERO-doc marker
    # with no trees is the redelivery short-circuit for an
    # entirely-redelivered batch — nothing was ever folded, so it stays.
    if intent is not None:
        clear = sorted(s for s in fold if s in markers)
    else:
        clear = sorted(s for s, n in marker_docs.items()
                       if s in tree_snaps or n > 0)
    if not fold and not clear:
        if intent is not None:
            fsutil.delete(spark, intent_path, recursive=False)
        return {"promoted_snaps": [], "elapsed_sec": time.time() - t0}
    if intent is None and fold:
        _write_intent()

    def _tree_snapset(tree: str) -> set[str]:
        return {
            n[len("snap="):]
            for n in fsutil.list_names(spark, f"{out_dir}/{tree}")
            if n.startswith("snap=")
        }

    # fold curated rows: base ∪ the MARKED increments, deduped by doc
    # identity (a retry of a crashed promote sees the already-folded copy
    # AND the not-yet-deleted increment copy — identical rows, keep one),
    # installed as a NEW VERSION + pointer flip (MVCC — a reader that
    # resolved the table before this fold keeps its immutable version
    # directory; r4 verdict item 4); this tree's folded partitions are
    # deleted immediately after so no later crash can double-fold them
    docs_folded = 0
    cur_fold = sorted(_tree_snapset(CURATED_INCR) & set(fold))
    if cur_fold and "curated" not in phases:
        incr_curated = _snap_str(spark.read.parquet(
            f"{out_dir}/{CURATED_INCR}"
        )).filter(F.col("snap").isin(cur_fold))
        base = _read_curated_base(spark, out_dir)
        if unit == "conversation":
            # replacement semantics: the read-time shadow of
            # _conv_visible_curated, materialized once here
            cur_seqs = {s: seqs[s] for s in cur_fold}
            docs_folded = _supersede(incr_curated, "conv_id",
                                     cur_seqs).count()
            merged = _supersede(incr_curated, "conv_id", cur_seqs, base)
        else:
            docs_folded = incr_curated.count()
            merged = _union_snaps(base, incr_curated)
        new_path = _install_curated_version(
            spark, out_dir, merged.dropDuplicates(["doc_uid"]))
        if new_path:
            spark.catalog.refreshByPath(new_path)
        phases.add("curated")
        _write_intent()
    if cur_fold:
        # deletion strictly AFTER the durable phase record: a retry that
        # finds the phase skips the fold and only cleans leftovers
        for s in cur_fold:
            fsutil.delete(spark, f"{out_dir}/{CURATED_INCR}/snap={s}")

    # fold feature rows the same way (dedup by feature id; conversation
    # mode resolves replacements — the latest-seq signature of an id
    # supersedes the base row, which describes superseded text)
    feat_fold = sorted(_tree_snapset(SCRATCH_INCR) & set(fold))
    if feat_fold and "feats" not in phases:
        incr_feats = _snap_str(spark.read.parquet(
            f"{out_dir}/{SCRATCH_INCR}"
        )).filter(F.col("snap").isin(feat_fold))
        base_feats = _read_optional(spark, feats_live)
        if unit == "conversation":
            merged_feats = _supersede(incr_feats, "id",
                                      {s: seqs[s] for s in feat_fold},
                                      base_feats)
        else:
            merged_feats = _union_snaps(base_feats, incr_feats)
        merged_feats = merged_feats.dropDuplicates(["id"])
        merged_feats.write.mode("overwrite").parquet(f"{feats_live}__tmp")
        _swap_dir(spark, feats_live, f"{feats_live}__old",
                  f"{feats_live}__tmp")
        spark.catalog.refreshByPath(feats_live)
        phases.add("feats")
        _write_intent()
    if feat_fold:
        for s in feat_fold:
            fsutil.delete(spark, f"{out_dir}/{SCRATCH_INCR}/snap={s}")

    # merge the band index: relabel the MARKED snapshots' rows (plus the
    # existing base) snap=base — one columnar copy (no re-hashing),
    # deduped (a retry can see a row under both its old snap and the
    # folded base); unmarked snapshots' partitions pass through
    # untouched. Written aside + swapped (rewriting the dir from a plan
    # that reads it is the documented FileNotFound trap, and a
    # checkpoint of the whole band table would not scale)
    from epstein_browser_spark.dedup import N_BAND_PARTITIONS

    bands_live = f"{out_dir}/{BANDS_DIR}"
    band_fold = sorted(_tree_snapset(BANDS_DIR) & set(fold))
    if band_fold:
        bands = _snap_str(spark.read.parquet(bands_live))
        fold_set = set(band_fold) | {"base"}
        band_cols = ["id", "band", "band_hash", "pband"]
        if unit == "conversation":
            # replacement semantics for band rows too: a re-signed
            # conversation's OLD band rows (base, or a lower-seq snap)
            # are stale — verification would reject their candidates
            # against the latest grams anyway, but folding them would
            # accrete dead probe rows forever. Keep, per id, only the
            # winning snapshot's rows; base rows survive for ids no
            # folding snapshot re-signed.
            folded = _supersede(
                bands, "id", {s: seqs[s] for s in band_fold},
                bands.filter(F.col("snap") == "base").select(band_cols))
        else:
            folded = bands.filter(F.col("snap").isin(sorted(fold_set)))
        folded = (
            folded.select(band_cols)
            .dropDuplicates(["id", "band", "band_hash"])
            .withColumn("snap", F.lit("base"))
        )
        passthrough = bands.filter(
            ~F.col("snap").isin(sorted(fold_set))
        ).select("id", "band", "band_hash", "pband", "snap")
        (
            folded.unionByName(passthrough)
            .repartition(N_BAND_PARTITIONS, "pband")
            .write.mode("overwrite").partitionBy("snap", "pband")
            .parquet(f"{bands_live}__tmp")
        )
        _swap_dir(spark, bands_live, f"{bands_live}__old",
                  f"{bands_live}__tmp")
        spark.catalog.refreshByPath(bands_live)

    # every tree folded: clear the promoted snapshots' stage markers
    # (the `clear` set also covers markers whose trees a crashed promote
    # already cleaned)
    for s in clear:
        marker = _stage_path(out_dir, f"incr-{s}")
        if fsutil.exists(spark, marker):
            fsutil.delete(spark, marker, recursive=False)
    # intent last: once it is gone, the promote is fully committed and a
    # fresh promote starts a new fold set from the (now-cleared) markers
    if fsutil.exists(spark, intent_path):
        fsutil.delete(spark, intent_path, recursive=False)

    metrics = {"promoted_snaps": clear, "docs_folded": int(docs_folded),
               "elapsed_sec": time.time() - t0}
    fsutil.mkdirs(spark, f"{out_dir}/{STAGES_DIR}")
    fsutil.write_text(spark, _stage_path(out_dir, "promote-last"),
                      json.dumps({"stage": "promote", "status": "completed",
                                  **{k: v for k, v in metrics.items()
                                     if k != "elapsed_sec"}}))
    return metrics


def vacuum_snapshots(spark: SparkSession, out_dir: str,
                     keep_snaps: list[str]) -> dict:
    """Lifecycle retention for incremental outputs: delete
    ``curated_incr``, ``_scratch/minhash_incr`` and band-index partitions
    of snapshots NOT in ``keep_snaps`` (the base run's partitions are
    always kept). Obsolete snapshots accrete forever otherwise — every
    future increment probes their features and every reader unions their
    rows. Bounded driver work: one directory listing per tree, through
    the Hadoop FS layer (works on hdfs:// and s3a:// like every other
    path op in the repo)."""
    keep = set(keep_snaps) | {"base"}
    removed: dict[str, list[str]] = {}
    for tree in (CURATED_INCR, SCRATCH_INCR, BANDS_DIR):
        root = f"{out_dir}/{tree}"
        gone = []
        # Hadoop-FS listing/delete (fsutil) — out_dir may be hdfs://s3a://
        for name in fsutil.list_names(spark, root):
            if not name.startswith("snap="):
                continue
            snap = name[len("snap="):]
            if snap in keep:
                continue
            fsutil.delete(spark, f"{root}/{name}")
            gone.append(snap)
            # the snapshot's stage marker must go too, or a re-run of
            # that snapshot would be skipped as already-complete
            marker = _stage_path(out_dir, f"incr-{snap}")
            if fsutil.exists(spark, marker):
                fsutil.delete(spark, marker, recursive=False)
        if gone:
            removed[tree] = sorted(set(gone))
    return {"removed": removed}
