"""Deduplication operators for training-data curation, Spark-first.

* exact           — md5 hash-groupBy (one shuffle on the hash)
* ngram_jaccard   — exact n-gram Jaccard over a bounded candidate set
* minhash_lsh     — MinHash signatures + banded LSH bucket join: the scale
                    path (candidate generation is a shuffle on (band, key),
                    never an all-pairs product)
* simhash         — 64-bit SimHash with hamming-ball grouping via band keys

The exact path generalizes the reference's content-hash idempotency dedup
(/root/reference/index_images.py:194-232). Everything is built-in column
expressions (xxhash64 / arrays / bit ops) — no Python UDFs — so the whole
thing stays inside whole-stage codegen.

Scale notes (100 TB): minhash_lsh is the only all-corpus near-dup that
survives 10^9+ docs — its cost is |docs| × n_perms hashing plus one shuffle
per band; the verify join only touches colliding buckets. AQE skew-join
handles hot buckets (e.g. boilerplate-identical docs).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from epstein_browser_spark.session import spread
from epstein_browser_spark.textstats import (
    deterministic_split,
    exploded_shingles,
    shingle_sets,
)


class CapMetrics:
    """Observed counters for the bounded-candidate caps (``max_bucket``,
    ``max_block``, the verify prefilter): what each cap DROPPED, surfaced
    instead of silently truncated.

    The caps exist so candidate generation stays O(corpus) when a
    near-universal shingle or boilerplate text creates a mega-bucket —
    but a dedup run that skipped those buckets must SAY so: on a
    boilerplate-heavy corpus the dropped buckets are exactly where the
    duplicates are. Each capped operator accepts ``cap_metrics=`` and, via
    :meth:`attach`, rides a ``df.observe`` (CollectMetrics) node on the
    pre-filter frame — executor-side aggregates piggybacking the existing
    job, no extra pass, no plan change. After the pipeline's action has
    run (the observe blocks until then), :meth:`collected` returns per-
    attachment counts and :meth:`summary` rolls them up per cap kind —
    curation writes the summary into its stage manifests and bench.py
    prints it.

    An Observation yields the FIRST completed execution's values; every
    instance of the node computes identical aggregates (deterministic
    input), so self-joins over the observed frame and re-executed
    branches are safe.
    """

    def __init__(self) -> None:
        # (kind, Observation, pre-filter frame, aggregate exprs) — the
        # frame + exprs back the empty-plan fallback in _values
        self._slots: list[tuple[str, object, DataFrame, list[Column]]] = []

    def attach(self, df: DataFrame, kind: str, dropped: Column,
               group_size: Column | None = None) -> DataFrame:
        """Observe drop counters on ``df`` (pre-filter): rows dropped,
        rows seen, and — when ``group_size`` gives the row's
        bucket/block size — the number of distinct dropped groups
        (each dropped group of size n contributes n × 1/n = 1 to the
        reciprocal sum, so the count is exact without a distinct)."""
        from pyspark.sql import Observation

        obs = Observation()
        exprs = [
            F.sum(F.when(dropped, 1).otherwise(0)).alias("rows_dropped"),
            F.count(F.lit(1)).alias("rows_seen"),
        ]
        if group_size is not None:
            exprs.append(
                F.round(
                    F.sum(F.when(dropped, F.lit(1.0) / group_size)
                          .otherwise(F.lit(0.0)))
                ).cast("long").alias("groups_dropped")
            )
        self._slots.append((kind, obs, df, exprs))
        return df.observe(obs, *exprs)

    @staticmethod
    def _values(obs, df: DataFrame, exprs: list) -> dict:
        # When the post-cap result is provably/adaptively empty, the
        # optimizer (PropagateEmptyRelation; AQE's runtime variant after
        # an empty shuffle stage) deletes the whole subtree INCLUDING the
        # CollectMetrics node, and the observation completes with a
        # schema-less empty row (on which Observation.get's toPyRow
        # asserts). That is exactly the everything-was-dropped case the
        # metrics exist for — fall back to one explicit aggregate over
        # the retained pre-filter frame (a single extra job, only in the
        # degenerate path). getRow() still blocks until the observed
        # dataset's first action, so call after the pipeline has run.
        jrow = obs._jo.getRow()
        if jrow.size() == 0:
            row = df.agg(*exprs).collect()[0]
            return {k: (int(v) if v is not None else 0)
                    for k, v in row.asDict().items()}
        return {k: (int(v) if v is not None else 0)
                for k, v in obs.get.items()}

    def collected(self) -> dict[str, dict]:
        """{kind#i: counters} for every attachment, in attach order.
        Call AFTER the observed pipeline has executed an action —
        retrieval blocks until the metrics exist."""
        out: dict[str, dict] = {}
        for i, (kind, obs, df, exprs) in enumerate(self._slots):
            out[f"{kind}#{i}"] = self._values(obs, df, exprs)
        return out

    def summary(self) -> dict[str, dict]:
        """Counters summed per cap kind — the manifest/bench form."""
        agg: dict[str, dict] = {}
        for name, vals in self.collected().items():
            kind = name.split("#", 1)[0]
            slot = agg.setdefault(kind, {})
            for k, v in vals.items():
                slot[k] = slot.get(k, 0) + v
        return agg


def keep_min_per_hash(df: DataFrame, hash_col: str, id_col: str) -> DataFrame:
    """THE exact-dedup keep rule, in one place: keep the row with the
    minimum ``id_col`` per ``hash_col`` group (one partial-aggregable
    shuffle + an equi-join back). Shared by the turn- and conversation-
    granularity curation paths — the rule's two hand-rolled copies kept
    having to stay in lockstep by convention (r4 review)."""
    keep = df.groupBy(hash_col).agg(F.min(id_col).alias("_keep_id"))
    return df.join(keep, hash_col).filter(
        F.col(id_col) == F.col("_keep_id")
    ).drop("_keep_id")


def exact_duplicates(df: DataFrame, text_col: str = "text",
                     id_col: str = "doc_id") -> DataFrame:
    """Groups of byte-identical texts: (content_hash, n_docs, keep_id)."""
    return (
        df.select(F.md5(F.col(text_col)).alias("content_hash"), F.col(id_col))
        .groupBy("content_hash")
        .agg(F.count("*").alias("n_docs"), F.min(id_col).alias("keep_id"))
        .filter(F.col("n_docs") > 1)
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    threshold: float = 0.5,
    block_col=None,
    max_block: int = 1000,
    cap_metrics: CapMetrics | None = None,
) -> DataFrame:
    """Exact Jaccard over char n-gram sets for candidate pairs.

    Candidates are blocked on ``block_col`` (default: shared first shingle —
    a cheap deterministic blocking key) so the join is equi, not a cross
    product. Output: (id_a, id_b, jaccard) with id_a < id_b.

    ``max_block`` caps block size (same window-count pattern as the
    minhash path's ``max_bucket``): a corpus-common leading shingle would
    otherwise create one giant block and an O(n²) pair blow-up. Docs in
    over-cap blocks are dropped from candidate generation — pass
    ``cap_metrics`` (:class:`CapMetrics`) to surface the dropped
    doc/block counts and route those docs to the minhash path.
    """
    g = shingle_sets(df, text_col, id_col, n).withColumnRenamed("grams", "_grams")
    block = block_col if block_col is not None else F.element_at(
        F.array_sort("_grams"), 1
    )
    g = g.withColumn("_block", block)
    bw = Window.partitionBy("_block")
    g = g.withColumn("_block_n", F.count("*").over(bw))
    if cap_metrics is not None:
        g = cap_metrics.attach(
            g, "jaccard_block_cap",
            F.col("_block_n") > max_block, F.col("_block_n"),
        )
    g = g.filter(F.col("_block_n") <= max_block).drop("_block_n")
    a = g.select(F.col("id").alias("id_a"), F.col("_grams").alias("_ga"),
                 F.col("_block").alias("_b"))
    b = g.select(F.col("id").alias("id_b"), F.col("_grams").alias("_gb"),
                 F.col("_block").alias("_b"))
    joined = a.join(b, "_b").filter(F.col("id_a") < F.col("id_b"))
    inter = F.size(F.array_intersect("_ga", "_gb")).cast("double")
    union = F.size(F.array_union("_ga", "_gb")).cast("double")
    return (
        joined.select("id_a", "id_b", (inter / union).alias("jaccard"))
        .filter(F.col("jaccard") >= threshold)
    )


def minhash_signatures(df: DataFrame, text_col: str = "text",
                       id_col: str = "doc_id", n_perms: int = 32,
                       n: int = 5) -> DataFrame:
    """(id, sig: array<long>) — MinHash over char n-gram shingles.

    Shape: explode shingles → ONE xxhash64 of the shingle string → n_perms
    re-hashes of that 8-byte base value (xxhash64(h, i) — fixed-width
    input, so each permutation costs a constant ~10ns instead of
    re-scanning the whole shingle string as r1's xxhash64(shingle, i)
    did) → n_perms plain min aggregates → assemble the signature array.
    Flat aggregates stay inside whole-stage codegen with
    map-side partial aggregation (the shuffle carries one n_perms-wide row
    per doc per partition, NOT the exploded shingles). This beats the
    nested higher-order-function formulation by an order of magnitude:
    lambda-based transforms are interpreted, not codegen'd, and
    re-materialize the shingle array per permutation.
    """
    # distinct=False: per-permutation min() is duplicate-insensitive, so
    # the corpus-wide (id, shingle) dedup exchange is pure overhead (see
    # minhash_features)
    ex = exploded_shingles(spread(df), text_col, id_col, n,
                           distinct=False).select(
        "id", F.xxhash64("_sh").alias("_h")
    )
    aggs = [
        F.min(F.xxhash64("_h", F.lit(i))).alias(f"_h{i}")
        for i in range(n_perms)
    ]
    return (
        ex.groupBy("id")
        .agg(*aggs)
        .select("id", F.array(*[f"_h{i}" for i in range(n_perms)]).alias("sig"))
    )


def _check_band_split(n_perms: int, n_bands: int) -> None:
    """Banding slices the signature into n_bands equal windows of
    n_perms // n_bands values; a non-divisible split would silently drop
    the trailing n_perms % n_bands signature values from every band —
    weaker LSH recall with no signal (same validate-early precedent as
    similarity._check_pq_dims)."""
    if n_perms % n_bands != 0:
        raise ValueError(
            f"n_perms={n_perms} is not divisible by n_bands={n_bands}: "
            f"the trailing {n_perms % n_bands} signature values would be "
            "ignored by every band, silently weakening LSH recall"
        )


def _sig_agreement(sa, sb, n_perms: int):
    """Minhash signature-agreement jaccard estimate (matches/n_perms) —
    the ONE definition shared by the join-attached and fused forms."""
    return F.aggregate(
        F.zip_with(sa, sb, lambda x, y: (x == y).cast("int")),
        F.lit(0),
        lambda acc, v: acc + v,
    ) / F.lit(float(n_perms))


def minhash_lsh_candidates(sigs: DataFrame, n_bands: int = 4,
                           max_bucket: int = 200,
                           n_perms: int | None = None,
                           cap_metrics: CapMetrics | None = None,
                           sig_est: bool = False) -> DataFrame:
    """Banded LSH: docs sharing any band hash become candidate pairs.

    Shuffle profile: explode to |docs|×n_bands rows, one shuffle on
    (band, band_hash), pairs emitted per bucket. Output: (id_a, id_b)
    distinct.

    Band width = n_perms/n_bands rows; with the default 32 perms / 4 bands
    a pair of ~0.3-jaccard docs collides with p≈0.3^8 — wide bands are what
    keep bucket sizes bounded on vocabulary-similar corpora. ``max_bucket``
    is a hard cap: buckets larger than it are dropped from candidate
    generation (they are near-universal shingle buckets that would create
    O(n²) pairs; pass ``cap_metrics`` in the calling pipeline to surface
    the dropped counts — see :class:`CapMetrics`).

    ``n_perms``, when the caller knows it, validates the band split
    (:func:`_check_band_split`).

    ``sig_est=True`` (requires ``n_perms``) additionally carries the full
    signatures through the bucket join and emits the signature-agreement
    jaccard estimate as ``_est`` — fused candidate scoring (guide §2.4:
    shuffle fewer TIMES): downstream verification then skips its two
    candidate×signature join exchanges. The estimate is a deterministic
    function of the pair, so `.distinct()` over (id_a, id_b, _est) has
    exactly the candidate-pair cardinality and the candidate SET is
    unchanged.
    """
    if n_perms is not None:
        _check_band_split(n_perms, n_bands)
    if sig_est and n_perms is None:
        raise ValueError("sig_est=True requires n_perms")
    carry = ("sig",) if sig_est else ()
    banded = _banded(sigs, n_bands, max_bucket, cap_metrics, carry=carry)
    a_cols = [F.col("id").alias("id_a"), "band", "band_hash"] + (
        [F.col("sig").alias("_sa")] if sig_est else []
    )
    b_cols = [F.col("id").alias("id_b"), "band", "band_hash"] + (
        [F.col("sig").alias("_sb")] if sig_est else []
    )
    j = (
        banded.select(*a_cols)
        .join(banded.select(*b_cols), ["band", "band_hash"])
        .filter(F.col("id_a") < F.col("id_b"))
    )
    if sig_est:
        return (
            j.select(
                "id_a", "id_b",
                _sig_agreement(F.col("_sa"), F.col("_sb"), n_perms)
                .alias("_est"),
            )
            .distinct()
        )
    return j.select("id_a", "id_b").distinct()


def _banded(sigs: DataFrame, n_bands: int,
            max_bucket: int | None = None,
            cap_metrics: CapMetrics | None = None,
            carry: tuple = ()) -> DataFrame:
    """(id, band, band_hash) — one row per signature band. When
    ``max_bucket`` is given, mega-buckets are dropped via a window count —
    the same (band, band_hash) shuffle key as any downstream bucket join,
    so the partitioning is reused and nothing is broadcast (bucket stats
    scale with the corpus). ``carry`` names extra columns to keep on the
    banded rows (the fused-candidate path carries ``sig``); the stored
    band index (:func:`band_index`) carries nothing, so its layout is
    unchanged."""
    banded = sigs.select(
        "id",
        *carry,
        F.posexplode(
            F.transform(
                F.sequence(F.lit(0), F.lit(n_bands - 1)),
                lambda b: F.xxhash64(
                    F.concat_ws(
                        ",",
                        F.transform(
                            F.slice(
                                "sig",
                                (b * (F.size("sig") / n_bands)).cast("int") + 1,
                                (F.size("sig") / n_bands).cast("int"),
                            ),
                            lambda v: v.cast("string"),
                        ),
                    )
                ),
            )
        ).alias("band", "band_hash"),
    )
    if max_bucket is not None:
        bw = Window.partitionBy("band", "band_hash")
        banded = banded.withColumn("_bucket_n", F.count("*").over(bw))
        if cap_metrics is not None:
            banded = cap_metrics.attach(
                banded, "lsh_bucket_cap",
                F.col("_bucket_n") > max_bucket, F.col("_bucket_n"),
            )
        banded = banded.filter(F.col("_bucket_n") <= max_bucket).drop("_bucket_n")
    return banded


N_BAND_PARTITIONS = 64


def band_index(sigs: DataFrame, n_bands: int = 8,
               n_perms: int | None = None) -> DataFrame:
    """The storable form of the corpus's LSH buckets: UNCAPPED
    (id, band, band_hash, pband) rows, where ``pband`` =
    pmod(band_hash, N_BAND_PARTITIONS) is the physical partition key.
    Written ``PARTITIONED BY (pband)``, a probe batch touches only the
    partitions its own band hashes fall into (a bounded IN-list of ≤64
    literals → static partition pruning), so incremental-ingest cost
    scans O(probed buckets), not O(corpus). The bucket CAP is not baked
    in — it is applied at probe time over current bucket membership, so
    buckets that grow past the cap through later increments are still
    dropped. ``n_perms``, when known, validates the band split."""
    if n_perms is not None:
        _check_band_split(n_perms, n_bands)
    return _banded(sigs, n_bands).withColumn(
        "pband", F.pmod("band_hash", F.lit(N_BAND_PARTITIONS)).cast("int")
    )


def minhash_candidates_between(probe_sigs: DataFrame | None = None,
                               corpus_sigs: DataFrame | None = None,
                               n_bands: int = 8,
                               max_bucket: int = 200,
                               corpus_bands: DataFrame | None = None,
                               probe_bands: DataFrame | None = None,
                               cap_metrics: CapMetrics | None = None
                               ) -> DataFrame:
    """Asymmetric banded LSH: (id_probe, id_corpus) candidate pairs between
    a (small) probe set and the full corpus — the incremental-ingest shape:
    only the increment's bands probe the corpus's buckets, nothing
    corpus×corpus is ever re-paired.

    The corpus side is either ``corpus_sigs`` (banded on the fly) or a
    precomputed ``corpus_bands`` index (:func:`band_index` — the stored
    form; pass it pre-filtered to the probe's ``pband`` values for the
    pruned-scan path). Either way the corpus rows are first semi-joined
    to the probe's bucket keys, THEN the ``max_bucket`` cap is evaluated
    over the union of both sides' membership in those buckets — current
    bucket size, not a stale base-time count."""
    if probe_bands is not None:
        p = probe_bands.select("id", "band", "band_hash")
    else:
        if probe_sigs is None:
            raise ValueError("need probe_sigs or probe_bands")
        p = _banded(probe_sigs, n_bands)
    if corpus_bands is None:
        if corpus_sigs is None:
            raise ValueError("need corpus_sigs or corpus_bands")
        corpus_bands = _banded(corpus_sigs, n_bands)
    keys = p.select("band", "band_hash").distinct()
    c = corpus_bands.select("id", "band", "band_hash").join(
        keys, ["band", "band_hash"], "left_semi"
    )
    u = c.withColumn("_probe", F.lit(0)).unionByName(
        p.withColumn("_probe", F.lit(1))
    )
    bw = Window.partitionBy("band", "band_hash")
    u = u.withColumn("_bucket_n", F.count("*").over(bw))
    if cap_metrics is not None:
        u = cap_metrics.attach(
            u, "probe_bucket_cap",
            F.col("_bucket_n") > max_bucket, F.col("_bucket_n"),
        )
    u = u.filter(F.col("_bucket_n") <= max_bucket).drop("_bucket_n")
    pp = u.filter("_probe = 1").select(
        F.col("id").alias("id_probe"), "band", "band_hash"
    )
    cc = u.filter("_probe = 0").select(
        F.col("id").alias("id_corpus"), "band", "band_hash"
    )
    return (
        pp.join(cc, ["band", "band_hash"])
        .filter(F.col("id_probe") != F.col("id_corpus"))
        .select("id_probe", "id_corpus")
        .distinct()
    )


def verify_pairs(cands: DataFrame, features: DataFrame, threshold: float,
                 n_perms: int, prefilter_margin: float = 0.3,
                 a_col: str = "id_a", b_col: str = "id_b",
                 cap_metrics: CapMetrics | None = None) -> DataFrame:
    """Exact-Jaccard verification of candidate pairs against a
    (id, sig, grams) feature table: signature-agreement prefilter first
    (see minhash_dedup_pairs), gram-set jaccard on the survivors. Returns
    (a_col, b_col, jaccard) for pairs at/above ``threshold``.
    ``cap_metrics`` observes how many candidate pairs the prefilter
    discarded before exact verification."""
    sigs = features.select("id", "sig")
    if prefilter_margin < 1:
        if "_est" in cands.columns:
            # fused path: the candidate generator already scored each
            # pair (minhash_lsh_candidates sig_est=True) — identical
            # estimator, no candidate×signature join exchanges
            scored = cands
        else:
            sa = sigs.select(F.col("id").alias(a_col),
                             F.col("sig").alias("_sa"))
            sb = sigs.select(F.col("id").alias(b_col),
                             F.col("sig").alias("_sb"))
            scored = cands.join(sa, a_col).join(sb, b_col).withColumn(
                "_est", _sig_agreement(F.col("_sa"), F.col("_sb"), n_perms)
            )
        if cap_metrics is not None:
            scored = cap_metrics.attach(
                scored, "verify_prefilter",
                F.col("_est") < F.lit(threshold - prefilter_margin),
            )
        cands = (
            scored.filter(F.col("_est") >= F.lit(threshold - prefilter_margin))
            .select(a_col, b_col)
        )
    elif "_est" in cands.columns:
        cands = cands.select(a_col, b_col)
    grams = features.select("id", "grams")
    ga = grams.select(F.col("id").alias(a_col), F.col("grams").alias("_ga"))
    gb = grams.select(F.col("id").alias(b_col), F.col("grams").alias("_gb"))
    inter = F.size(F.array_intersect("_ga", "_gb")).cast("double")
    union = F.size(F.array_union("_ga", "_gb")).cast("double")
    return (
        cands.join(ga, a_col).join(gb, b_col)
        .select(a_col, b_col, (inter / union).alias("jaccard"))
        .filter(F.col("jaccard") >= threshold)
    )


def minhash_dedup_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_perms: int = 32,
    n_bands: int = 8,
    shingle: int = 5,
    threshold: float = 0.7,
    scratch_dir: str | None = None,
    prefilter_margin: float = 0.3,
    cap_metrics: CapMetrics | None = None,
    max_bucket: int = 200,
) -> DataFrame:
    """Full near-dup path: MinHash → LSH candidates → sig prefilter →
    exact-Jaccard verify.

    Verification joins the shingle sets back only for candidate pairs, so
    the expensive set ops run on the (small) candidate set. Two further
    cost levers, both aimed at the verify join (the measured dominant cost
    on vocabulary-similar corpora, where banding emits ~45 candidates/doc
    even with the bucket cap):

    * gram sets are carried as the 64-bit ``xxhash64`` shingle hashes, not
      the shingle strings — the verify shuffle moves 8 bytes/shingle
      instead of ~21 and ``array_intersect`` compares longs, not strings.
      Jaccard over hashed sets equals jaccard over the strings absent
      64-bit collisions (negligible: ~1e-9 per doc pair at 10^5 shingles).
    * ``prefilter_margin``: before the gram join, candidate pairs are
      scored by minhash signature agreement (matches/n_perms — the
      unbiased jaccard estimator the signatures exist for) and only pairs
      with estimate >= threshold - margin proceed to exact verification.
      The sig join moves n_perms longs/doc vs hundreds of gram hashes, so
      on corpora where most candidates are far below threshold (the
      common case) the expensive join runs on ~nothing. With the default
      32 perms / 0.3 margin a true at-threshold pair is dropped with
      P[Binom(32, t) < 32(t-0.3)] < 1e-4 — set ``prefilter_margin >= 1``
      to disable and restore exhaustive verification of every candidate.

    One shingling pass feeds everything: the exploded distinct (id, shingle)
    frame is computed ONCE (it is the dominant cost — explode + distinct
    shuffle over every character position); signatures and shingle-set
    arrays are two cheap aggregations over it, materialized because each
    feeds two join branches (the LSH self-join / both sides of the verify
    join) — an unmaterialized branch referenced twice gets recomputed per
    side.

    ``scratch_dir`` selects the materialization backend:

    * ``None`` (default) — in-memory persist (MEMORY_AND_DISK). Fine while
      the (id, sig, grams) table fits the executors' storage fraction.
    * a path — the table is WRITTEN TO PARQUET at ``scratch_dir`` and every
      downstream branch reads from disk. This is the 10^9-doc form: the
      gram-set arrays never ride executor memory as cached blocks, each
      join branch is an independent columnar scan (the verify join reads
      only (id, grams); the LSH branch only (id, sig) — column pruning the
      cache path cannot do), and a failed stage re-reads files instead of
      recomputing the shingling lineage. Equality with the in-memory path
      is pinned by tests/test_dedup_similarity.py.
    """
    from pyspark import StorageLevel

    _check_band_split(n_perms, n_bands)
    combined = minhash_features(df, text_col, id_col, n_perms, shingle)
    if scratch_dir is not None:
        combined.write.mode("overwrite").parquet(scratch_dir)
        try:
            combined = df.sparkSession.read.parquet(scratch_dir)
        except Exception:
            # a zero-row input writes no part files (just _SUCCESS) and
            # the read-back fails schema inference: keep the (empty)
            # in-memory plan — there is nothing to scan anyway
            pass
    else:
        combined = combined.persist(StorageLevel.MEMORY_AND_DISK)
        combined.count()  # materialize BEFORE the joins fan out (see above)
    cands = minhash_lsh_candidates(combined.select("id", "sig"), n_bands,
                                   max_bucket=max_bucket,
                                   cap_metrics=cap_metrics,
                                   n_perms=n_perms,
                                   sig_est=prefilter_margin < 1)
    return verify_pairs(cands, combined, threshold, n_perms, prefilter_margin,
                        cap_metrics=cap_metrics)


def minhash_features(df: DataFrame, text_col: str = "text",
                     id_col: str = "doc_id", n_perms: int = 32,
                     shingle: int = 5) -> DataFrame:
    """(id, sig: array<long>, grams: array<long>) — the minhash signature
    and the hashed distinct-shingle set, from ONE shingling pass (the
    dominant cost) and ONE groupBy. This frame is the near-dup index: the
    LSH branch reads (id, sig), the verify branch (id, grams), and an
    incremental ingest appends new rows and probes old ones
    (minhash_candidates_between)."""
    # distinct=False (guide §2.4 — remove shuffles outright): min() per
    # permutation is duplicate-insensitive and collect_set dedups in the
    # aggregation itself, so the up-front corpus-wide (id, shingle)
    # distinct exchange bought nothing; with it gone, map-side partial
    # aggregation collapses each doc's shingles BEFORE the exchange
    # (explode keeps a doc's rows in one partition) and the only wide
    # shuffle left carries ~one row per doc.
    ex = exploded_shingles(spread(df), text_col, id_col, shingle,
                           distinct=False).withColumn(
        "_h", F.xxhash64("_sh")
    )
    # base-hash once per shingle; per-permutation re-hash is fixed-width
    # (see minhash_signatures)
    sig_aggs = [
        F.min(F.xxhash64("_h", F.lit(i))).alias(f"_h{i}")
        for i in range(n_perms)
    ]
    return (
        ex.groupBy("id")
        .agg(*sig_aggs, F.collect_set("_h").alias("grams"))
        .select(
            "id",
            F.array(*[f"_h{i}" for i in range(n_perms)]).alias("sig"),
            "grams",
        )
    )


def minhash_dedup_pairs_md5(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_perms: int = 16,
    n_bands: int = 4,
    shingle: int = 5,
    threshold: float = 0.5,
    max_bucket: int = 200,
) -> DataFrame:
    """Oracle-checkable MinHash+LSH: identical pipeline shape to
    :func:`minhash_dedup_pairs` (signatures → banded candidates with bucket
    cap → exact-Jaccard verify) but the permutation hash is
    ``min(md5(shingle || ':' || i))`` — a string min over md5 hex, which is
    a perfectly uniform minhash AND restatable verbatim in any SQL engine.
    DuckDB reproduces every stage value-for-value (queries._minhash_md5_sql).
    The xxhash64 variant stays the production scale path (md5 costs ~10×
    per shingle-perm); this one exists so the banding/cap/verify SEMANTICS
    carry a full value oracle, not just rows-only checks."""
    _check_band_split(n_perms, n_bands)
    # distinct=False + collect_set: the md5 min is duplicate-insensitive
    # and the set collect dedups in the aggregate — same values, one
    # fewer corpus-wide exchange (see minhash_features)
    ex = exploded_shingles(spread(df), text_col, id_col, shingle,
                           distinct=False)
    aggs = [
        F.min(F.md5(F.concat(F.col("_sh"), F.lit(f":{i}")))).alias(f"_h{i}")
        for i in range(n_perms)
    ] + [F.collect_set("_sh").alias("grams")]
    combined = ex.groupBy("id").agg(*aggs)
    width = n_perms // n_bands
    band_keys = [
        F.concat_ws("|", F.lit(str(b)),
                    *[f"_h{i}" for i in range(b * width, (b + 1) * width)])
        for b in range(n_bands)
    ]
    banded = combined.select(
        "id", "grams", F.explode(F.array(*band_keys)).alias("key")
    )
    bw = Window.partitionBy("key")
    banded = (
        banded.withColumn("_bn", F.count("*").over(bw))
        .filter(F.col("_bn") <= max_bucket)
        .drop("_bn")
    )
    a = banded.select(F.col("id").alias("id_a"), F.col("grams").alias("_ga"), "key")
    b = banded.select(F.col("id").alias("id_b"), F.col("grams").alias("_gb"), "key")
    inter = F.size(F.array_intersect("_ga", "_gb")).cast("double")
    union = F.size(F.array_union("_ga", "_gb")).cast("double")
    return (
        a.join(b, "key")
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", (inter / union).alias("jaccard"))
        .filter(F.col("jaccard") >= threshold)
        .distinct()
    )


def connected_components(pairs: DataFrame, max_iter: int = 25) -> DataFrame:
    """(id, cluster_id) for every id appearing in ``pairs`` (id_a, id_b):
    cluster_id = min id of the connected component — dup-cluster resolution
    for near-duplicate pairs, so a curation pipeline can keep one canonical
    document per cluster.

    Iterative min-label propagation WITH pointer jumping: each round every
    node takes the min of its own and its neighbors' labels, then labels
    are chased one hop (label(x) := label(label(x))) — the doubling step
    turns O(diameter) convergence into O(log diameter), which is also why
    adversarial chain-shaped components don't blow the round count at
    scale. Labels are monotonically non-increasing, so convergence is
    detected by an unchanged label SUM — one scalar aggregate per round,
    no row-level driver traffic. Each round's result is localCheckpoint'd:
    iterative self-joins otherwise stack lineage exponentially (on a
    cluster use spark.checkpoint with a checkpoint dir instead). Duplicate
    edges are NOT deduped — min() absorbs them, and the distinct would
    cost an extra shuffle every run.

    Exhausting ``max_iter`` without reaching the fixpoint emits a
    RuntimeWarning (ADVICE r2: silently-unconverged labels would make
    dedup_clusters mark several canonicals inside one true cluster) —
    callers that must not proceed on partial labels can promote it with
    ``warnings.simplefilter('error', RuntimeWarning)``."""
    import warnings
    edges = pairs.select(
        F.col("id_a").alias("s"), F.col("id_b").alias("d")
    ).unionByName(
        pairs.select(F.col("id_b").alias("s"), F.col("id_a").alias("d"))
    ).localCheckpoint(eager=True)
    # ^ materialized ONCE: `pairs` is typically an expensive near-dup
    # pipeline, and every iteration below would otherwise recompute its
    # whole lineage
    labels = (
        edges.select(F.col("s").alias("id")).distinct()
        .withColumn("label", F.col("id"))
        .localCheckpoint(eager=True)
    )

    # convergence metric: labels only decrease, so an unchanged SUM means
    # fixpoint. Summed as decimal(38,0): ids may be full-range 64-bit
    # hashes (e.g. xxhash64 doc uids) whose long sum overflows under ANSI
    def _label_sum(lbl):
        return lbl.agg(
            F.sum(F.col("label").cast("decimal(38,0)"))
        ).collect()[0][0]

    prev_sum = _label_sum(labels)
    if prev_sum is None:
        # no edges at all (clean corpus — the common case after exact
        # dedup): every iteration below would shuffle/checkpoint empty
        # frames; skip straight to the empty labeling
        return labels.select("id", F.col("label").alias("cluster_id"))
    converged = False
    for _ in range(max_iter):
        nbr_min = (
            edges.join(
                labels.select(F.col("id").alias("d"),
                              F.col("label").alias("d_label")),
                "d",
            )
            .groupBy("s")
            .agg(F.min("d_label").alias("nbr_min"))
        )
        stepped = labels.join(nbr_min, labels["id"] == nbr_min["s"], "left").select(
            "id",
            F.least(
                F.col("label"), F.coalesce("nbr_min", F.col("label"))
            ).alias("label"),
        )
        # pointer jump: label(x) := label(label(x)) — halves remaining depth
        jump = stepped.select(F.col("id").alias("_jid"),
                              F.col("label").alias("_jlabel"))
        labels = (
            stepped.join(jump, stepped["label"] == jump["_jid"], "left")
            .select(
                "id",
                F.coalesce("_jlabel", F.col("label")).alias("label"),
            )
            .localCheckpoint(eager=True)
        )
        cur_sum = _label_sum(labels)
        if cur_sum == prev_sum:  # labels only decrease → fixpoint
            converged = True
            break
        prev_sum = cur_sum
    if not converged and max_iter > 0 and prev_sum is not None:
        warnings.warn(
            f"connected_components: max_iter={max_iter} exhausted before the "
            "label fixpoint — returned cluster ids may be unconverged "
            "(several labels inside one true component)",
            RuntimeWarning,
            stacklevel=2,
        )
    return labels.select("id", F.col("label").alias("cluster_id"))


def dedup_clusters(
    df: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
) -> DataFrame:
    """Full keep-policy table: every doc gets (id, cluster_id,
    is_canonical); docs in no near-dup pair are their own singleton
    cluster, and the kept representative is the min id per cluster."""
    comp = connected_components(pairs)
    return (
        df.select(F.col(id_col).alias("id"))
        .join(comp, "id", "left")
        .select(
            "id",
            F.coalesce("cluster_id", F.col("id")).alias("cluster_id"),
        )
        .withColumn("is_canonical", F.col("id") == F.col("cluster_id"))
    )


def simhash_table(df: DataFrame, text_col: str = "text",
                  id_col: str = "doc_id", n: int = 3,
                  hash_mode: str = "xxhash") -> DataFrame:
    """(id, sh: 64-char bit string) — SimHash over char n-gram shingles.

    Same explode + flat-codegen-aggregate shape as minhash_signatures:
    per bit b, counter = sum over shingles of ±1 by hash bit (literal masks,
    sign bit via h < 0); output bit b is '1' iff counter > 0. Bit strings
    avoid column-amount shift ops (Spark requires literal shift counts).

    ``hash_mode``: 'xxhash' (default — the cheap scale path) derives the 64
    shingle bits from xxhash64; 'md5' derives bit b as bit (b%4) of hex
    digit (b//4) of md5(shingle) — ~3× more hash cost, but md5 exists in
    every SQL engine, so the ENTIRE simhash computation is restatable as a
    DuckDB oracle (see queries._simhash_sql). Both modes are deterministic
    and produce 64 independent uniform bits."""
    ex = exploded_shingles(df, text_col, id_col, n)
    if hash_mode == "md5":
        # project the 16 hex-digit values ONCE per shingle; the 64 bit
        # tests below are then cheap int ops instead of 64 conv+substring
        # evaluations per row
        digits = [
            F.conv(F.substring(F.md5("_sh"), d + 1, 1), 16, 10)
            .cast("int").alias(f"_d{d}")
            for d in range(16)
        ]
        ex = ex.select("id", *digits)
    elif hash_mode == "xxhash":
        ex = ex.select("id", F.xxhash64("_sh").alias("_h"))
    else:
        raise ValueError(f"unknown hash_mode {hash_mode!r}")
    aggs = []
    for b in range(64):
        if hash_mode == "md5":
            bit_set = F.col(f"_d{b // 4}").bitwiseAND(F.lit(1 << (b % 4))) != 0
        elif b == 63:
            bit_set = F.col("_h") < 0  # sign bit; 1<<63 overflows a long literal
        else:
            bit_set = F.col("_h").bitwiseAND(F.lit(1 << b)) != 0
        aggs.append(
            F.sum(F.when(bit_set, 1).otherwise(-1)).alias(f"_c{b}")
        )
    counters = ex.groupBy("id").agg(*aggs)
    # msb-first string so band slicing reads naturally
    bit_str = F.concat(
        *[F.when(F.col(f"_c{b}") > 0, "1").otherwise("0")
          for b in range(63, -1, -1)]
    )
    return counters.select("id", bit_str.alias("sh"))


def simhash_bands(max_hamming: int) -> list[tuple[int, int]]:
    """(start, width) band slices (1-indexed for substr) covering 64 bits
    with n_bands = max_hamming + 1 equal-as-possible bands. Pigeonhole: a
    pair differing in ≤ max_hamming bits has ≥ 1 band with zero differing
    bits, so any-band-equality candidate generation has recall 1.0."""
    n_bands = max_hamming + 1
    if not 1 <= n_bands <= 64:
        raise ValueError("max_hamming must be in [0, 63]")
    widths = [64 // n_bands + (1 if i < 64 % n_bands else 0)
              for i in range(n_bands)]
    starts, pos = [], 1
    for w in widths:
        starts.append(pos)
        pos += w
    return list(zip(starts, widths))


def hamming_bits(a, b):
    """Hamming distance between two equal-length bit strings."""
    return F.size(
        F.filter(
            F.zip_with(F.split(a, "(?!$)"), F.split(b, "(?!$)"),
                       lambda x, y: x != y),
            lambda v: v,
        )
    )


def simhash_near_dups(df: DataFrame, text_col: str = "text",
                      id_col: str = "doc_id", max_hamming: int = 3,
                      n: int = 3, hash_mode: str = "xxhash") -> DataFrame:
    """EXACT near-dup pairs by SimHash hamming distance <= max_hamming.

    Candidate generation uses (max_hamming + 1) bands — the pigeonhole
    guarantee (see :func:`simhash_bands`) makes recall exactly 1.0, so the
    output is precisely {(a, b) : hamming(sh_a, sh_b) <= max_hamming}, not
    an approximation. (Round-1 bug: a fixed 4-band split only guaranteed
    recall for hamming <= 3 while callers asked for <= 6.)"""
    h = simhash_table(df, text_col, id_col, n, hash_mode)
    banded = h.select(
        "id", "sh",
        F.posexplode(
            F.array(*[F.col("sh").substr(s, w)
                      for s, w in simhash_bands(max_hamming)])
        ).alias("band", "key"),
    )
    a = banded.select(F.col("id").alias("id_a"), F.col("sh").alias("sh_a"),
                      "band", "key")
    b = banded.select(F.col("id").alias("id_b"), F.col("sh").alias("sh_b"),
                      "band", "key")
    return (
        a.join(b, ["band", "key"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b",
                hamming_bits(F.col("sh_a"), F.col("sh_b")).alias("hamming"))
        .filter(F.col("hamming") <= max_hamming)
        .distinct()
    )


def lsh_recall_eval(df: DataFrame, text_col: str = "text",
                    id_col: str = "doc_id", n_perms: int = 16,
                    n_bands: int = 4, shingle: int = 5,
                    threshold: float = 0.5,
                    max_bucket: int = 200) -> DataFrame:
    """One-row LSH telemetry: (n_true, n_cand, n_hit, recall,
    cand_precision) — the banded-candidate stage of the md5 MinHash
    pipeline (the exact stage :func:`minhash_dedup_pairs_md5` runs,
    bucket cap included) measured against EXACT ground truth: every pair
    with char-shingle Jaccard ≥ ``threshold``. Recall is the number every
    banding configuration (n_perms, n_bands, max_bucket) must be tuned
    by; candidate precision says how much exact-verify work the banding
    buys per true pair.

    Ground truth is complete without a cross join: a pair with J ≥ t > 0
    shares at least one shingle, so the shared-shingle equi-join reaches
    every true pair, and the per-pair shared count with the two set
    sizes gives exact Jaccard (|A∩B| / (|A|+|B|−|A∩B|)). Cost is
    Σ_gram df(gram)² — quadratic in document frequency, NOT corpus size,
    which is why production runs this evaluation on a bounded sample
    (the caller picks the slice; the operator itself has no n² in corpus
    size). The final one-row reduce follows the corpus-stats pattern
    (partial aggregates; no wide data funnels to one task)."""
    from epstein_browser_spark.textstats import exploded_shingles

    _check_band_split(n_perms, n_bands)
    ex = exploded_shingles(df, text_col, id_col, shingle)
    aggs = [
        F.min(F.md5(F.concat(F.col("_sh"), F.lit(f":{i}")))).alias(f"_h{i}")
        for i in range(n_perms)
    ] + [F.count("*").alias("_n")]
    combined = ex.groupBy("id").agg(*aggs)
    width = n_perms // n_bands
    band_keys = [
        F.concat_ws("|", F.lit(str(b)),
                    *[f"_h{i}" for i in range(b * width, (b + 1) * width)])
        for b in range(n_bands)
    ]
    banded = combined.select(
        "id", F.explode(F.array(*band_keys)).alias("key")
    )
    bw = Window.partitionBy("key")
    banded = (
        banded.withColumn("_bn", F.count("*").over(bw))
        .filter(F.col("_bn") <= max_bucket)
        .drop("_bn")
    )
    ca = banded.select(F.col("id").alias("id_a"), "key")
    cb = banded.select(F.col("id").alias("id_b"), "key")
    cand = (
        ca.join(cb, "key")
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )
    ga = ex.select(F.col("id").alias("id_a"), "_sh")
    gb = ex.select(F.col("id").alias("id_b"), "_sh")
    shared = (
        ga.join(gb, "_sh")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count("*").alias("_n_sh"))
    )
    sizes = combined.select("id", "_n")
    sa = sizes.select(F.col("id").alias("id_a"), F.col("_n").alias("_na"))
    sb = sizes.select(F.col("id").alias("id_b"), F.col("_n").alias("_nb"))
    jac = (F.col("_n_sh").cast("double")
           / (F.col("_na") + F.col("_nb") - F.col("_n_sh")))
    truth = (
        shared.join(sa, "id_a").join(sb, "id_b")
        .filter(jac >= F.lit(threshold))
        .select("id_a", "id_b")
    )
    u = (
        truth.withColumn("_t", F.lit(True))
        .join(cand.withColumn("_c", F.lit(True)),
              ["id_a", "id_b"], "full_outer")
    )
    agg = u.agg(
        F.sum(F.when(F.col("_t"), 1).otherwise(0)).alias("n_true"),
        F.sum(F.when(F.col("_c"), 1).otherwise(0)).alias("n_cand"),
        F.sum(F.when(F.col("_t") & F.col("_c"), 1).otherwise(0))
        .alias("n_hit"),
    )
    return agg.select(
        F.col("n_true").cast("long").alias("n_true"),
        F.col("n_cand").cast("long").alias("n_cand"),
        F.col("n_hit").cast("long").alias("n_hit"),
        F.when(F.col("n_true") > 0,
               F.round(F.col("n_hit") / F.col("n_true"), 6)).alias("recall"),
        F.when(F.col("n_cand") > 0,
               F.round(F.col("n_hit") / F.col("n_cand"), 6))
        .alias("cand_precision"),
    )


def leakage_safe_split(df: DataFrame, pairs: DataFrame,
                       id_col: str = "doc_id", train_pct: int = 80,
                       val_pct: int = 10) -> DataFrame:
    """Cluster-atomic train/val/test assignment: every member of a
    near-dup cluster lands in the split of its CLUSTER id, so a test
    document can never be a near-duplicate of a training document (the
    per-doc hash split leaks — two near-identical docs hash
    independently, and the model is then evaluated on paraphrases of
    its training data). Singleton docs keep their per-doc assignment
    (cluster_id == id).

    Output per doc: (id, cluster_id, split, naive_split, was_leaky) —
    ``naive_split`` is what the per-doc hash would have assigned and
    ``was_leaky`` marks docs the cluster-atomic rule MOVED, i.e. members
    of clusters that straddled split boundaries under naive hashing
    (the leak-rate report is one aggregate over this flag).

    Scale shape: components from the q43 machinery, then two pure
    column expressions — no shuffle beyond dedup_clusters' own."""
    clusters = dedup_clusters(df, pairs, id_col)
    split = deterministic_split(F.col("cluster_id"), train_pct, val_pct)
    naive = deterministic_split(F.col("id"), train_pct, val_pct)
    return clusters.select(
        "id", "cluster_id",
        split.alias("split"),
        naive.alias("naive_split"),
        (split != naive).alias("was_leaky"),
    )


def keep_best_in_cluster(df: DataFrame, pairs: DataFrame,
                         id_col: str = "doc_id",
                         score_col: str = "n_chars") -> DataFrame:
    """Quality-ranked keep policy: every doc gets (id, cluster_id, score,
    rank_in_cluster, is_kept) where the kept representative is the
    HIGHEST-scoring member (ties to the smallest id). dedup_clusters
    keeps min-id — fine for idempotent re-runs, but production pipelines
    (FineWeb et al.) keep the longest / highest-quality member so dedup
    never downgrades the surviving copy. Singleton docs are their own
    kept cluster.

    Scale shape: components from the q43 machinery, then ONE window
    ranked within cluster_id — cluster frames are near-dup groups
    (bounded by the pair-generation caps), never corpus-sized."""
    comp = connected_components(pairs)
    scored = (
        df.select(F.col(id_col).alias("id"), F.col(score_col).alias("score"))
        .join(comp, "id", "left")
        .select(
            "id", "score",
            F.coalesce("cluster_id", F.col("id")).alias("cluster_id"),
        )
    )
    w = Window.partitionBy("cluster_id").orderBy(
        F.desc("score"), F.asc("id")
    )
    rank = F.row_number().over(w)
    return scored.select(
        "id", "cluster_id", "score",
        rank.alias("rank_in_cluster"),
        (rank == 1).alias("is_kept"),
    )
