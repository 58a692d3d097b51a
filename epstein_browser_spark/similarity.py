"""Embedding similarity search over array<float> columns.

* brute-force cosine top-k — the exact baseline: one broadcast of the query
  vector, one pass, TakeOrderedAndProject for the top-k (no full sort).
* LSH-bucketed ANN — the scale path: random-hyperplane signatures bucket
  vectors so a query probes one bucket (+ optional multi-probe) instead of
  the whole corpus. Hyperplanes are derived deterministically from
  xxhash64, so signatures are reproducible with no driver-side randomness.

Dot products use F.aggregate/F.zip_with (JVM, codegen) — no Python UDF.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from epstein_browser_spark.session import spread


def dot(a: Column, b: Column) -> Column:
    # cast operands (not the product) to double: float32 multiply then
    # widen loses bits and breaks oracle (DuckDB computes in double)
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def dot_fixed(a: Column, b: Column, dim: int) -> Column:
    """Unrolled dot product for a statically-known dimension — the SAME
    left-to-right fold as :func:`dot` (((0.0 + x0·y0) + x1·y1) + …), so
    IEEE addition order and therefore every bit of the result is
    identical; but emitted as one flat expression that whole-stage
    codegen compiles, instead of an interpreted higher-order fold whose
    lambda is re-evaluated per element (guide §4.1: prefer built-in /
    codegen expressions). On 64-dim pair joins this is the difference
    between an interpreted ~µs/pair and a compiled ~tens of ns/pair."""
    acc = F.lit(0.0)
    for j in range(dim):
        acc = acc + a.getItem(j).cast("double") * b.getItem(j).cast("double")
    return acc


def dot_lits(a: Column, comps: list[float]) -> Column:
    """Unrolled dot against a literal vector (hyperplanes, centroids,
    query vectors): same fold order as ``dot(a, F.array(*lits))``, no
    array construction and no interpreted lambda."""
    acc = F.lit(0.0)
    for j, c in enumerate(comps):
        acc = acc + a.getItem(j).cast("double") * F.lit(float(c))
    return acc


def norm(a: Column) -> Column:
    return F.sqrt(
        F.aggregate(
            a, F.lit(0.0),
            lambda acc, x: acc + x.cast("double") * x.cast("double"),
        )
    )


def cosine(a: Column, b: Column) -> Column:
    return dot(a, b) / (norm(a) * norm(b))


def brute_force_topk(
    embeddings: DataFrame,
    query_vec: list[float],
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact cosine top-k against a literal query vector.

    The query is a literal array → constant-folded; orderBy+limit compiles
    to TakeOrderedAndProject (per-partition heap, no global sort shuffle).
    """
    q = [float(x) for x in query_vec]
    v = F.col(vec_col)
    qn = F.sqrt(F.aggregate(F.array(*[F.lit(x) for x in q]), F.lit(0.0),
                            lambda acc, x: acc + x * x))
    cos = dot_lits(v, q) / (F.sqrt(dot_fixed(v, v, len(q))) * qn)
    return (
        embeddings.select(F.col(id_col), cos.alias("cosine_sim"))
        .orderBy(F.desc("cosine_sim"), F.col(id_col))
        .limit(k)
    )


def hyperplane_components(dim: int, plane_idx: int) -> list[float]:
    """Deterministic pseudo-random hyperplane components: zero-mean integer
    values in [-1000, 1000] from SHA-256 of (plane, j). Computed driver-side
    once and embedded as PLAN LITERALS (a few KB — constant at any corpus
    scale), which (a) keeps the per-row work to one dot product instead of
    re-deriving the plane per row, and (b) makes the exact values
    embeddable verbatim in the DuckDB oracle SQL, so the whole LSH
    bucketing is value-checkable (r1 had xxhash64-derived planes — cheap
    but not restatable in SQL)."""
    import hashlib

    out = []
    for j in range(dim):
        h = hashlib.sha256(f"lsh-plane:{plane_idx}:{j}".encode()).digest()
        out.append(float(int.from_bytes(h[:8], "big") % 2001 - 1000))
    return out


def _hyperplane(dim: int, plane_idx: int) -> Column:
    return F.array(*[F.lit(v) for v in hyperplane_components(dim, plane_idx)])


def with_lsh_bucket(
    embeddings: DataFrame,
    dim: int,
    n_planes: int = 12,
    vec_col: str = "embedding",
) -> DataFrame:
    """Adds `bucket`: n_planes-bit random-hyperplane signature.

    The plane dots stay the zip_with fold on purpose: unrolling all
    n_planes 64-term chains into the ONE bucket expression exceeds
    janino's method budget wherever the bucket lands in a Filter/join
    condition (no code splitting there), and the repeated failed
    compilations measurably SLOWED q23/q49 (1.9s → 5.6s in the r6
    bench). The bucketing is never the bottleneck — the pair join is."""
    sig = F.lit(0).cast("long")
    for i in range(n_planes):
        bit = F.when(dot(F.col(vec_col), _hyperplane(dim, i)) >= 0,
                     F.lit(1).cast("long")).otherwise(F.lit(0).cast("long"))
        sig = sig * 2 + bit
    return embeddings.withColumn("bucket", sig)


def cosine_near_dup_pairs(
    embeddings: DataFrame,
    threshold: float = 0.9,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact embedding-cosine near-dup pairs: all-pairs self-join filtered
    to cosine >= threshold, (id_a < id_b). Exact baseline — quadratic; use
    :func:`cosine_near_dup_pairs_lsh` at corpus scale."""
    a = embeddings.select(F.col(id_col).alias("id_a"),
                          F.col(vec_col).alias("_va"))
    b = embeddings.select(F.col(id_col).alias("id_b"),
                          F.col(vec_col).alias("_vb"))
    return (
        a.crossJoin(b)
        .filter(F.col("id_a") < F.col("id_b"))
        .select(
            "id_a", "id_b",
            F.round(cosine(F.col("_va"), F.col("_vb")), 6).alias("cosine_sim"),
        )
        .filter(F.col("cosine_sim") >= threshold)
    )


def _pair_cosine_kernel(id_name: str, vec_name: str):
    """applyInPandas kernel: all (id_a < id_b) same-group cosine pairs,
    numpy-vectorized ACROSS pairs with the per-pair float arithmetic kept
    bit-identical to the JVM expression form (see cosine_near_dup_pairs_lsh).

    Fold-order contract: ``dot_fixed`` evaluates
    ((0.0 + a0·b0) + a1·b1) + … with each float32 element cast to double
    first. The kernel replays exactly that: one elementwise
    multiply-then-add per dimension into a float64 accumulator —
    vectorization is across the pair axis only, so every pair's IEEE
    operation sequence (and thus every result bit) matches the expression
    engine. numpy does not fuse multiply-add (no FMA contraction) and
    np.sqrt/np.divide are the same correctly-rounded IEEE ops as
    java.lang.Math. The UNROUNDED cosine is returned; round/threshold
    stay Spark-side so their semantics are untouched.

    Memory is bounded: pairs are produced in row-blocks of B anchor
    vectors against the group's n vectors (accumulator B×n float64), with
    B shrunk adaptively so the working set stays ~32 MB regardless of
    bucket occupancy."""
    import numpy as np
    import pandas as pd

    empty = pd.DataFrame({
        "id_a": pd.Series([], dtype="int64"),
        "id_b": pd.Series([], dtype="int64"),
        "_cos": pd.Series([], dtype="float64"),
    })

    def kernel(pdf: pd.DataFrame):
        n = len(pdf)
        if n < 2:
            return empty
        order = np.argsort(pdf[id_name].to_numpy(), kind="stable")
        ids = pdf[id_name].to_numpy()[order]
        V = np.vstack(pdf[vec_name].to_numpy()[order]).astype(np.float64)
        d = V.shape[1]
        # per-vector norm, same fold as sqrt(dot_fixed(v, v, d))
        acc = np.zeros(n)
        for j in range(d):
            acc = acc + V[:, j] * V[:, j]
        nrm = np.sqrt(acc)
        blk = max(1, min(256, (4 << 20) // max(n, 1)))
        out_a, out_b, out_c = [], [], []
        for i0 in range(0, n - 1, blk):
            i1 = min(i0 + blk, n - 1)
            A = V[i0:i1]
            acc = np.zeros((i1 - i0, n))
            for j in range(d):
                acc = acc + A[:, j][:, None] * V[:, j][None, :]
            # ids are sorted, so column index > row index <=> id_b > id_a
            iu, ju = np.nonzero(
                np.arange(n)[None, :] > np.arange(i0, i1)[:, None]
            )
            cos = acc[iu, ju] / (nrm[i0 + iu] * nrm[ju])
            out_a.append(ids[i0 + iu])
            out_b.append(ids[ju])
            out_c.append(cos)
        return pd.DataFrame({
            "id_a": np.concatenate(out_a),
            "id_b": np.concatenate(out_b),
            "_cos": np.concatenate(out_c),
        })

    return kernel


def cosine_near_dup_pairs_lsh(
    embeddings: DataFrame,
    dim: int,
    threshold: float = 0.9,
    n_planes: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Scale path for embedding near-dup: random-hyperplane bucket
    self-join generates candidates (same-bucket vectors), exact cosine
    verifies. High-cosine pairs land in the same bucket with probability
    (1 - theta/pi)^n_planes.

    r6 shape (guide §4.2/§2.5): the per-pair dot product is the hot loop
    — as a JVM expression it runs ~µs/pair (the fused codegen method
    exceeds the JIT's bytecode budget, so the stage is interpreted either
    way), while one Arrow-batched numpy kernel per bucket runs the same
    arithmetic at SIMD speed and ships only |corpus| vectors (5 MB at
    20k×64) instead of a pair-expanded join output. Bit-identity with the
    expression form is by construction (see _pair_cosine_kernel) and
    pinned by tests; round + threshold remain Spark expressions.
    Parallelism is the bucket count (2^n_planes ≥ cores whenever the
    corpus needs more than one machine); kernel memory is blocked, not
    |bucket|²."""
    h = (
        with_lsh_bucket(embeddings, dim, n_planes, vec_col)
        .select(
            F.col(id_col).cast("long").alias("_pid"),
            F.col(vec_col).alias("_pv"), "bucket",
        )
        # the join form paired nothing with a NULL bucket (SQL equality)
        # or NULL id (id_a < id_b); drop them before grouping so the
        # kernel sees the identical candidate universe
        .filter(F.col("bucket").isNotNull() & F.col("_pid").isNotNull())
    )
    pairs = h.groupBy("bucket").applyInPandas(
        _pair_cosine_kernel("_pid", "_pv"),
        "id_a long, id_b long, _cos double",
    )
    return (
        pairs.select(
            "id_a", "id_b", F.round(F.col("_cos"), 6).alias("cosine_sim")
        )
        .filter(F.col("cosine_sim") >= threshold)
    )


def lsh_probe_buckets(dim: int, n_planes: int, query_vec: list[float],
                      n_flip: int = 1) -> list[int]:
    """Multi-probe bucket set for a query: its own bucket plus every bucket
    within ``n_flip`` sign-bit flips. Near-threshold dot products are the
    dominant LSH failure mode — a vector just across one hyperplane lands
    one bit away — so probing the 1-flip neighborhood recovers most lost
    recall for (n_planes + 1)× the probe cost instead of 2× the planes.
    Computed driver-side from the literal hyperplanes (sequential fold,
    identical arithmetic to the engine expressions), so the probe set can
    be embedded as literals in both the Spark plan and the SQL oracle."""
    bits = []
    for i in range(n_planes):
        comps = hyperplane_components(dim, i)
        acc = 0.0
        for x, p in zip(query_vec, comps):
            acc += float(x) * p
        bits.append(1 if acc >= 0 else 0)
    base = 0
    for b in bits:
        base = base * 2 + b
    from itertools import combinations

    buckets = {base}
    for r in range(1, n_flip + 1):
        # every bucket within r sign-bit flips — C(n_planes, r) masks per
        # radius (the docstring's contract; r4 review: n_flip >= 2 used
        # to silently degrade to the 1-flip neighborhood)
        for planes in combinations(range(n_planes), r):
            mask = 0
            for i in planes:
                mask |= 1 << (n_planes - 1 - i)
            buckets.add(base ^ mask)
    return sorted(buckets)


def dist2(a: Column, b: Column) -> Column:
    """Squared L2 via |a|² + |b|² − 2a·b — three sequential-fold dot
    products, so the float result is bit-identical in any engine that
    folds left-to-right (the oracle uses the same decomposition)."""
    return dot(a, a) + dot(b, b) - 2 * dot(a, b)


def ivf_centroids(embeddings: DataFrame, n_centroids: int = 16,
                  id_col: str = "vec_id", vec_col: str = "embedding") -> DataFrame:
    """Sampled-centroid coarse quantizer: the n_centroids corpus vectors
    with the LOWEST ids (rank-based — orderBy + limit compiles to
    TakeOrderedAndProject, no global-window exchange), labeled by their own
    id. Rank-based selection works on sparse / non-zero-based id spaces
    where a `id < n` filter silently yields too few or zero centroids
    (round-2 ADVICE finding). The no-refinement IVF flavor — deterministic
    (no k-means float-accumulation-order ambiguity, so the whole index is
    value-oracle-checkable); swap in k-means|| centroids when recall
    matters more than reproducibility."""
    return (
        embeddings.select(F.col(id_col).alias("cid"),
                          F.col(vec_col).alias("cvec"))
        .orderBy("cid")
        .limit(n_centroids)
    )


def kmeans_centroids(embeddings: DataFrame, n_centroids: int = 16,
                     n_iters: int = 5, id_col: str = "vec_id",
                     vec_col: str = "embedding") -> DataFrame:
    """LEARNED coarse quantizer: Lloyd's k-means seeded from the
    deterministic rank-based sample (ivf_centroids) — the recall upgrade
    behind the ``quantizer='kmeans'`` flag, without giving up
    reproducibility OR the value oracle:

    * seeding is the rank-based sample (no RNG), so runs are identical;
    * each iteration's centroid update sums coordinates as
      ``decimal(38,18)`` — exact, ORDER-INDEPENDENT addition, so the new
      centroids are bit-stable across partitionings/executor counts
      (a double sum would make the learned index layout-dependent), and
      the identical decimal arithmetic restates in DuckDB (q74's oracle
      replays every iteration as SQL);
    * assignment is a single ``array_min`` over a literal
      struct(dist, cid) array — centroids are broadcast as literals
      (n_centroids×dim floats), no join, ties to the lower cid;
    * an emptied cluster keeps its previous centroid (deterministic).

    Per iteration: one job over the corpus (the k-means| shape: map-side
    partial decimal sums, one k×dim-row shuffle, k×dim rows to the
    driver). Returns (cid, cvec) like ivf_centroids — cids keep the seed
    vectors' ids."""
    seed = ivf_centroids(embeddings, n_centroids, id_col, vec_col).collect()
    cents: list[tuple] = [(int(r["cid"]), [float(x) for x in r["cvec"]])
                          for r in seed]
    v = F.col(vec_col)
    for _ in range(n_iters):
        choices = F.array(*[
            F.struct(
                # argmin under the per-vector constant |v|² (ivf_assign's
                # trick); |c|² folds to a literal at plan time. NOTE: the
                # v·c dot stays the zip_with fold ON PURPOSE — unrolling
                # all n_centroids 64-term chains into this ONE array
                # expression exceeds janino's method budget, codegen
                # falls back to interpreted eval of the giant tree, and
                # the measured cost TRIPLES (r6 bench: 15.3s unrolled vs
                # 5.3s folded on the sf1.0 corpus)
                (F.lit(sum(x * x for x in cv))
                 - 2 * dot(v, F.array(*[F.lit(x) for x in cv]))).alias("d"),
                F.lit(cid).alias("cid"),
            )
            for cid, cv in cents
        ])
        # struct ordering = (d, cid) lexicographic → min dist, tie low cid
        assigned = embeddings.select(
            F.array_min(choices)["cid"].alias("cell"), v.alias("_v")
        )
        # r6 (guide §2.4): the update used to posexplode to |corpus|×dim
        # (cell, pos, x) rows and shuffle them; per-dimension sums as dim
        # aggregate COLUMNS of one groupBy(cell) keep the corpus-wide
        # pass map-side (k×(dim+1) rows cross the exchange) — the q103
        # centroid_diversity rewrite applied to Lloyd. Identical decimal
        # sums (exact, order-independent); count(*) per cell equals the
        # old per-(cell,pos) count because vectors are fixed-dim.
        dim_ = len(cents[0][1])
        upd = (
            assigned.groupBy("cell")
            .agg(
                *[
                    F.sum(
                        F.element_at("_v", j + 1).cast("decimal(38,18)")
                    ).alias(f"s{j}")
                    for j in range(dim_)
                ],
                F.count("*").alias("n"),
            )
            .collect()
        )
        by_cell: dict[int, dict[int, float]] = {}
        for r in upd:
            by_cell[int(r["cell"])] = {
                j: float(r[f"s{j}"]) / int(r["n"]) for j in range(dim_)
            }
        cents = [
            (cid,
             [by_cell[cid][p] for p in sorted(by_cell[cid])]
             if cid in by_cell else cv)  # emptied cluster: keep previous
            for cid, cv in cents
        ]
    spark = embeddings.sparkSession
    from pyspark.sql import types as T

    return spark.createDataFrame(
        [(cid, cv) for cid, cv in cents],
        T.StructType([
            T.StructField("cid", T.LongType()),
            T.StructField("cvec", T.ArrayType(T.DoubleType())),
        ]),
    )


def _centroids(embeddings: DataFrame, n_centroids: int, id_col: str,
               vec_col: str, quantizer: str, n_iters: int) -> DataFrame:
    if quantizer == "rank":
        return ivf_centroids(embeddings, n_centroids, id_col, vec_col)
    if quantizer == "kmeans":
        return kmeans_centroids(embeddings, n_centroids, n_iters,
                                id_col, vec_col)
    raise ValueError(f"unknown quantizer {quantizer!r} (rank|kmeans)")


def ivf_assign(embeddings: DataFrame, n_centroids: int = 16,
               id_col: str = "vec_id", vec_col: str = "embedding",
               quantizer: str = "rank", n_iters: int = 5,
               dim: int | None = None) -> DataFrame:
    """(id_col…, cell) — nearest centroid by squared L2, ties to the lower
    centroid id. The centroid table is tiny and broadcast; per vector the
    candidate rows are n_centroids wide, then a min + equality join-back
    picks the argmin (float equality is safe: both sides are the same
    deterministic expression). At 100 TB the assigned table is written
    ``PARTITIONED BY (cell)`` so a probe is a partition-pruned scan —
    same layout story as the LSH bucket.

    ``quantizer='kmeans'`` assigns against the learned centroids
    (:func:`kmeans_centroids`, ``n_iters`` Lloyd rounds from the same
    deterministic seed); default 'rank' keeps the sampled quantizer.

    ``dim``, when known, switches the per-pair dot to the unrolled
    codegen form (bit-identical fold). Assignment and the Lloyd updates
    are order-independent, so the result is partitioning-invariant
    (pinned by tests)."""
    cents = _centroids(embeddings, n_centroids, id_col, vec_col,
                       quantizer, n_iters)
    if quantizer == "kmeans":
        cents = cents.localCheckpoint(eager=True)
    return _assign_to(embeddings, cents, id_col, vec_col, dim=dim)


def _assign_to(embeddings: DataFrame, cents: DataFrame, id_col: str,
               vec_col: str, dim: int | None = None) -> DataFrame:
    """Nearest-centroid assignment against an explicit (cid, cvec) table
    — shared by the rank and k-means quantizers.

    r6 shape (guide §2.4 — remove shuffles outright): the centroid table
    is k driver-bounded rows; collected once and embedded as PLAN
    LITERALS, the argmin becomes one map-only ``array_min`` over
    struct(d, cid) candidates — no crossJoin row expansion, no
    groupBy(id) exchange (the previous min(struct)+first(vec) aggregate
    shuffled the whole corpus including its vectors). Arithmetic is the
    in-loop Lloyd assignment's exactly: d = |c|² − 2·v·c with |c|²
    Python-summed left-to-right (same IEEE fold as ``dot(c, c)``) and
    the v·c dot kept FOLDED — unrolling all k dim-term chains into the
    one array expression exceeds janino's method budget and measured 3×
    slower interpreted (see kmeans_centroids). Struct ordering gives the
    identical (min d, tie → lower cid) result."""
    rows = cents.select("cid", "cvec").collect()  # k rows, driver-bounded
    cl = sorted(
        (int(r["cid"]), [float(x) for x in r["cvec"]]) for r in rows
    )
    if not cl:  # empty corpus → empty centroid table → no assignments
        return embeddings.select(
            F.col(id_col), F.col(vec_col),
            F.lit(None).cast("long").alias("cell"),
        ).filter(F.lit(False))
    v = F.col(vec_col)
    choices = F.array(*[
        F.struct(
            (F.lit(sum(x * x for x in cv))
             - 2 * dot(v, F.array(*[F.lit(x) for x in cv]))).alias("d"),
            F.lit(cid).cast("long").alias("cid"),
        )
        for cid, cv in cl
    ])
    return embeddings.select(
        F.col(id_col), F.col(vec_col),
        F.array_min(choices)["cid"].alias("cell"),
    )


def ivf_topk(
    embeddings: DataFrame,
    query_vec: list[float],
    n_centroids: int = 16,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    nprobe: int = 1,
    quantizer: str = "rank",
    n_iters: int = 5,
) -> DataFrame:
    """IVF search: find the query's ``nprobe`` nearest centroids, score only
    those cells' vectors by cosine, take top-k. The scan cost is
    ~nprobe/n_centroids of the corpus (a pruned read of nprobe partitions
    once the assigned table is stored partitioned by cell).

    nprobe > 1 is the IVF recall-recovery story (the cell-boundary analog
    of multi-probe LSH's bit flips): a true neighbor assigned to the
    second-nearest cell is invisible at nprobe=1 and found at nprobe=2 —
    recall grows monotonically in nprobe because the candidate set is a
    superset (tests pin this dominance), reaching exact brute force at
    nprobe = n_centroids."""
    qlist = [float(x) for x in query_vec]
    dim = len(qlist)
    q = F.array(*[F.lit(x) for x in qlist])
    emb = spread(embeddings)  # assignment is order-independent
    cents = _centroids(emb, n_centroids, id_col, vec_col,
                       quantizer, n_iters)
    if quantizer == "kmeans":
        # learned centroids are computed ONCE on the driver and reused
        # for assignment + probe (recomputing would re-run the Lloyd jobs
        # per consumer); they are a k×dim local relation, already "cached"
        cents = cents.localCheckpoint(eager=True)
    # both quantizers assign against the SAME cents frame — the rank
    # branch used to rebuild the centroid scan inside ivf_assign, putting
    # the orderBy+limit corpus scan in the plan twice (r4 review)
    assigned = _assign_to(emb, cents, id_col, vec_col, dim=dim)
    qcells = (
        cents.select("cid", dist2(q, F.col("cvec")).alias("_d"))
        .orderBy(F.asc("_d"), F.asc("cid"))
        .limit(nprobe)
        .select(F.col("cid").alias("q_cell"))
    )
    v = F.col(vec_col)
    qn = F.sqrt(F.aggregate(q, F.lit(0.0), lambda acc, x: acc + x * x))
    cos = dot_lits(v, qlist) / (F.sqrt(dot_fixed(v, v, dim)) * qn)
    return (
        assigned.join(F.broadcast(qcells), F.col("cell") == F.col("q_cell"))
        .select(F.col(id_col), cos.alias("_c"))
        .orderBy(F.desc("_c"), F.asc(id_col))
        .limit(k)
        .select(id_col, F.round("_c", 6).alias("cosine_sim"))
    )


def lsh_topk_df(
    spark,
    embeddings_with_bucket: DataFrame,
    query_vec: list[float],
    dim: int,
    k: int = 10,
    n_planes: int = 12,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_flip: int = 0,
) -> DataFrame:
    """ANN top-k: score only the query's LSH bucket. The query signature is
    computed by the same Spark expression as the corpus signatures (single
    hash implementation). At 100 TB the bucketed table is written
    partitioned by `bucket`, so this becomes a partition-pruned scan of
    ~1/2^n_planes of the corpus instead of a full pass.

    ``n_flip`` > 0 enables multi-probe: the 1-bit-flip bucket
    neighborhood is probed too (still a literal IN-list → still partition
    pruning, just over n_planes+1 partitions)."""
    q = F.array(*[F.lit(float(x)) for x in query_vec])
    if n_flip > 0:
        probes = lsh_probe_buckets(dim, n_planes, query_vec, n_flip)
        matched = embeddings_with_bucket.filter(F.col("bucket").isin(probes))
    else:
        qdf = with_lsh_bucket(
            spark.range(1).select(q.alias(vec_col)), dim, n_planes, vec_col
        ).select(F.col("bucket").alias("q_bucket"))
        matched = embeddings_with_bucket.join(
            F.broadcast(qdf), F.col("bucket") == F.col("q_bucket")
        )
    # the probed bucket is ~corpus/2^n_planes rows — the cosine here is
    # NOT hot, and the folded form keeps the stage codegen-compilable
    return (
        matched
        .select(F.col(id_col), cosine(F.col(vec_col), q).alias("cosine_sim"))
        .orderBy(F.desc("cosine_sim"), F.col(id_col))
        .limit(k)
    )


# ---------------------------------------------------------------------------
# product quantization (the compression half of IVF-PQ — the memory story
# that makes billion-vector ANN fit a cluster: each vector stored as m
# small codes instead of dim floats, distances approximated from a tiny
# per-query lookup table)
# ---------------------------------------------------------------------------

def pq_codebooks(embeddings: DataFrame, m: int = 4, k: int = 16,
                 id_col: str = "vec_id",
                 vec_col: str = "embedding") -> DataFrame:
    """(sub, code, cvec) — per-subspace codebooks from the same
    deterministic rank-based sample as ivf_centroids: the k lowest-id
    corpus vectors, each contributing its s-th slice as centroid ``code``
    (= its own id) of subspace s. No k-means, so the whole index is
    value-oracle-checkable; swap in trained codebooks when recall matters
    more than reproducibility. m·k rows total — always broadcast."""
    _check_corpus_dim(embeddings, vec_col, m)
    base = (
        embeddings.select(F.col(id_col).alias("code"),
                          F.col(vec_col).alias("_v"))
        .orderBy("code")
        .limit(k)
    )
    w = (F.size("_v") / m).cast("int")
    return base.select(
        F.explode(F.sequence(F.lit(0), F.lit(m - 1))).alias("sub"),
        "code", "_v",
    ).select(
        "sub", "code",
        F.slice("_v", F.col("sub") * w + 1, w).alias("cvec"),
    )


def kmeans_pq_codebooks(embeddings: DataFrame, m: int = 4, k: int = 16,
                        n_iters: int = 5, id_col: str = "vec_id",
                        vec_col: str = "embedding") -> DataFrame:
    """LEARNED per-subspace codebooks: independent Lloyd's k-means in each
    of the m subspaces (the trained-PQ upgrade, Jégou et al. 2011 §III),
    seeded from the deterministic rank-based sample and updated with the
    same exact decimal(38,18) coordinate sums as :func:`kmeans_centroids`
    — reproducible across partitionings, no RNG. All m subspaces train in
    the SAME per-iteration job (one slice-explode, one argmin expression
    branched on `sub`, one grouped decimal-sum shuffle); m·k·(dim/m) mean
    cells come back to the driver per round. Returns (sub, code, cvec)
    like pq_codebooks."""
    seed = pq_codebooks(embeddings, m, k, id_col, vec_col).collect()
    books: dict[int, list[tuple[int, list[float]]]] = {}
    for r in seed:
        books.setdefault(int(r["sub"]), []).append(
            (int(r["code"]), [float(x) for x in r["cvec"]])
        )
    for s in books:
        books[s].sort()
    subv = _subvectors(embeddings, m, id_col, vec_col)
    sv = F.col("svec")
    for _ in range(n_iters):
        code_expr = None
        for s in sorted(books):
            choices = F.array(*[
                F.struct(
                    # zip_with fold on purpose — see kmeans_centroids:
                    # unrolling every codebook chain into one expression
                    # breaks codegen and triples the interpreted cost
                    (F.lit(sum(x * x for x in cv))
                     - 2 * dot(sv, F.array(*[F.lit(x) for x in cv]))
                     ).alias("d"),
                    F.lit(code).alias("code"),
                )
                for code, cv in books[s]
            ])
            picked = F.array_min(choices)["code"]
            code_expr = (F.when(F.col("sub") == s, picked)
                         if code_expr is None
                         else code_expr.when(F.col("sub") == s, picked))
        upd = (
            subv.select("sub", code_expr.alias("code"), "svec")
            .select("sub", "code", F.posexplode("svec").alias("pos", "x"))
            .groupBy("sub", "code", "pos")
            .agg(F.sum(F.col("x").cast("decimal(38,18)")).alias("s"),
                 F.count("*").alias("n"))
            .collect()
        )
        means: dict[tuple[int, int], dict[int, float]] = {}
        for r in upd:
            means.setdefault((int(r["sub"]), int(r["code"])), {})[
                int(r["pos"])] = float(r["s"]) / int(r["n"])
        books = {
            s: [
                (code,
                 [means[(s, code)][p] for p in sorted(means[(s, code)])]
                 if (s, code) in means else cv)
                for code, cv in rows
            ]
            for s, rows in books.items()
        }
    spark = embeddings.sparkSession
    from pyspark.sql import types as T

    return spark.createDataFrame(
        [(s, code, cv) for s, rows in sorted(books.items())
         for code, cv in rows],
        T.StructType([
            T.StructField("sub", T.IntegerType()),
            T.StructField("code", T.LongType()),
            T.StructField("cvec", T.ArrayType(T.DoubleType())),
        ]),
    )


def _pq_books(embeddings: DataFrame, m: int, k: int, id_col: str,
              vec_col: str, quantizer: str, n_iters: int) -> DataFrame:
    if quantizer == "rank":
        return pq_codebooks(embeddings, m, k, id_col, vec_col)
    if quantizer == "kmeans":
        return kmeans_pq_codebooks(embeddings, m, k, n_iters,
                                   id_col, vec_col).localCheckpoint(
            eager=True)
    raise ValueError(f"unknown quantizer {quantizer!r} (rank|kmeans)")


def pq_encode(embeddings: DataFrame, m: int = 4, k: int = 16,
              id_col: str = "vec_id", vec_col: str = "embedding",
              long_form: bool = False, cb: DataFrame | None = None,
              dim: int | None = None) -> DataFrame:
    """PQ codes: each vector's m subvectors assigned to their nearest
    codebook centroid by squared L2 (ties to the lower code id — same
    argmin contract as ivf_assign). Default output is the stored form
    (id, codes: array<bigint> ordered by subspace — m·8 bytes instead of
    dim·4); ``long_form=True`` returns (id, sub, code) for joins. ``cb``
    overrides the codebook table (a precomputed/learned one — the caller
    keeps ONE set of books for encode + ADC)."""
    if cb is None:
        cb = pq_codebooks(embeddings, m, k, id_col, vec_col)
    else:
        _check_corpus_dim(embeddings, vec_col, m)
    subv = _subvectors(spread(embeddings), m, id_col, vec_col)
    # same argmin-under-constant-shift trick as ivf_assign: |s|² is
    # constant per (id, sub), so only c·c (projected on the m·k-row
    # broadcast side) and s·c (ONE fold per pair) are evaluated; with a
    # known dim the s·c fold is unrolled/codegen'd (identical fold order)
    sc_dot = (dot_fixed(F.col("svec"), F.col("cvec"), dim // m)
              if dim is not None else
              dot(F.col("svec"), F.col("cvec")))
    cb = cb.withColumn("_cc", dot(F.col("cvec"), F.col("cvec")))
    pairs = subv.join(F.broadcast(cb), "sub").select(
        id_col, "sub", "code",
        (F.col("_cc") - 2 * sc_dot).alias("_d"),
    )
    mins = pairs.groupBy(id_col, "sub").agg(F.min("_d").alias("_mind"))
    codes = (
        pairs.join(mins, [id_col, "sub"])
        .filter(F.col("_d") == F.col("_mind"))
        .groupBy(id_col, "sub")
        .agg(F.min("code").alias("code"))
    )
    if long_form:
        return codes
    return codes.groupBy(id_col).agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("sub", "code"))),
            lambda s: s.code,
        ).alias("codes")
    )


def _check_corpus_dim(embeddings: DataFrame, vec_col: str, m: int) -> None:
    """The corpus vectors' dimension must divide m, or the integer slice
    width silently drops the trailing dims from codebooks AND codes (the
    same failure _check_pq_dims guards for the query). Costs one
    first-row job; empty corpora pass (nothing to truncate)."""
    row = embeddings.select(F.size(vec_col).alias("d")).first()
    if row is not None and row["d"] is not None and row["d"] % m != 0:
        raise ValueError(
            f"embedding dim {row['d']} not divisible by m={m}: the "
            "trailing dims would be silently dropped from codebooks/codes"
        )


def _subvectors(embeddings: DataFrame, m: int, id_col: str,
                vec_col: str) -> DataFrame:
    """(id, sub, svec) — each vector's m equal slices; ONE definition
    shared by training (kmeans_pq_codebooks) and encoding (pq_encode) so
    the two can never slice differently."""
    return embeddings.select(
        F.col(id_col),
        F.explode(F.sequence(F.lit(0), F.lit(m - 1))).alias("sub"),
        F.col(vec_col).alias("_v"),
    ).select(
        id_col, "sub",
        F.slice("_v", F.col("sub") * (F.size("_v") / m).cast("int") + 1,
                (F.size("_v") / m).cast("int")).alias("svec"),
    )


def _check_pq_dims(query_vec: list[float], m: int) -> None:
    if len(query_vec) % m != 0:
        raise ValueError(
            f"dim {len(query_vec)} not divisible by m={m}: integer slice "
            "width would silently drop the trailing dims from codebooks, "
            "codes and ADC distances"
        )


def _adc_table(cb: DataFrame, query_vec: list[float], m: int) -> DataFrame:
    """The per-query PQ lookup table: for every (sub, code) codebook row,
    the squared L2 between the query's sub-slice and that centroid — the
    m·k-row frame both the PQ-only and the composed IVF-PQ searches
    broadcast (one definition, so a scoring change cannot desynchronize
    the two paths)."""
    w = len(query_vec) // m
    qsub = {
        s: F.array(*[F.lit(float(x)) for x in query_vec[s * w:(s + 1) * w]])
        for s in range(m)
    }
    contrib = None
    for s in range(m):
        expr = dist2(qsub[s], F.col("cvec"))
        contrib = (F.when(F.col("sub") == s, expr) if contrib is None
                   else contrib.when(F.col("sub") == s, expr))
    return cb.select("sub", "code", contrib.alias("_contrib"))


def pq_adc_topk(embeddings: DataFrame, query_vec: list[float], m: int = 4,
                k: int = 16, topk: int = 10, id_col: str = "vec_id",
                vec_col: str = "embedding", quantizer: str = "rank",
                n_iters: int = 5) -> DataFrame:
    """Asymmetric-distance top-k: approximate squared L2 to the query as
    the sum of per-subspace (query-slice ↔ centroid) distances looked up
    from an m·k table — the query-time half of PQ. Per corpus vector the
    work is m lookups + m adds regardless of dim; the table is built once
    per query and broadcast. Ordering is by the 6dp-ROUNDED distance then
    id so the ranking is reproducible across engines (the m-term sum has
    no guaranteed fold order). Returns (id, adc_dist2)."""
    _check_pq_dims(query_vec, m)
    cb = _pq_books(embeddings, m, k, id_col, vec_col, quantizer, n_iters)
    table = _adc_table(cb, query_vec, m)
    codes = pq_encode(embeddings, m, k, id_col, vec_col, long_form=True,
                      cb=cb, dim=len(query_vec))
    return (
        codes.join(F.broadcast(table), ["sub", "code"])
        .groupBy(id_col)
        .agg(F.round(F.sum("_contrib"), 6).alias("adc_dist2"))
        .orderBy(F.asc("adc_dist2"), F.col(id_col))
        .limit(topk)
    )


def ivf_pq_topk(embeddings: DataFrame, query_vec: list[float],
                n_centroids: int = 16, m: int = 4, k: int = 16,
                topk: int = 10, nprobe: int = 1,
                id_col: str = "vec_id",
                vec_col: str = "embedding", quantizer: str = "rank",
                n_iters: int = 5) -> DataFrame:
    """Full IVF-PQ search — the billion-vector ANN architecture: the IVF
    coarse quantizer prunes the scan to the query's ``nprobe`` nearest
    cells (~nprobe/n_centroids of the corpus, a partition-pruned read once
    the codes table is stored ``PARTITIONED BY (cell)``), and within those
    cells vectors are scored by PQ asymmetric distance — m code lookups +
    m adds each, dim-independent, against a broadcast m·k table built once
    per query. Both halves use the deterministic rank-based sample
    quantizers, so the composed index is value-oracle-checkable end to
    end; ordering is by the 6dp-rounded distance then id (the m-term sum
    has no guaranteed fold order across engines)."""
    _check_pq_dims(query_vec, m)
    q = F.array(*[F.lit(float(x)) for x in query_vec])
    emb = spread(embeddings)
    cents = _centroids(emb, n_centroids, id_col, vec_col,
                       quantizer, n_iters)
    if quantizer == "kmeans":
        cents = cents.localCheckpoint(eager=True)
    assigned = _assign_to(emb, cents, id_col, vec_col,
                          dim=len(query_vec))
    qcells = (
        cents.select("cid", dist2(q, F.col("cvec")).alias("_d"))
        .orderBy(F.asc("_d"), F.asc("cid"))
        .limit(nprobe)
        .select(F.col("cid").alias("q_cell"))
    )
    cell_ids = assigned.join(
        F.broadcast(qcells), F.col("cell") == F.col("q_cell")
    ).select(id_col)

    cb = _pq_books(emb, m, k, id_col, vec_col, quantizer, n_iters)
    table = _adc_table(cb, query_vec, m)
    codes = pq_encode(emb, m, k, id_col, vec_col, long_form=True,
                      cb=cb, dim=len(query_vec))
    return (
        codes.join(cell_ids, id_col, "left_semi")
        .join(F.broadcast(table), ["sub", "code"])
        .groupBy(id_col)
        .agg(F.round(F.sum("_contrib"), 6).alias("adc_dist2"))
        .orderBy(F.asc("adc_dist2"), F.col(id_col))
        .limit(topk)
    )


def semdedup(embeddings: DataFrame, n_centroids: int = 8,
             threshold: float = 0.3, quantizer: str = "kmeans",
             n_iters: int = 2, id_col: str = "vec_id",
             vec_col: str = "embedding", dim: int | None = None) -> DataFrame:
    """(id, cell, is_dup) — SemDeDup (Abbas et al. 2023, "SemDeDup: Data-
    efficient learning at web-scale through semantic deduplication"):
    k-means-cluster the embedding space, then inside each cluster mark as
    a semantic duplicate every item whose cosine to a LOWER-ID item in
    the same cell rounds (6dp) to ≥ ``threshold``. The lowest-id member
    of every near-dup chain survives — a deterministic stand-in for the
    paper's keep-one-per-group policy that needs no iterative resolution
    (the full connected-components keep policy is
    :func:`epstein_browser_spark.dedup.dedup_clusters`, q68).

    Scale shape — the whole point of SemDeDup is that clustering bounds
    the quadratic: the pair join shuffles both sides by ``cell`` and the
    within-cell self-join is |cell|², never corpus². At 100 TB the
    assignment is written ``PARTITIONED BY (cell)`` (the ivf_assign
    layout) so the pair stage reads co-located buckets; oversized cells
    are the k-means analogue of the LSH mega-bucket and are controlled
    by raising ``n_centroids`` (cells shrink ∝ 1/k)."""
    # Materialize the assignment ONCE (it feeds both sides of the pair
    # join and the final keep table — lazily each use would replay the
    # crossJoin+argmin assignment subtree, 3× the cost; measured as
    # q80's 13.7s → ~4s). Per-vector norm is precomputed here so the
    # per-pair predicate is ONE interpreted fold (the dot product)
    # instead of three — the ivf_assign |c|² trick applied to cosine.
    # At 100 TB this frame is the one you write PARTITIONED BY (cell);
    # localCheckpoint is its single-job stand-in, and its blocks are
    # ContextCleaner-collected when the frame goes out of scope.
    # r6 pair-stage shape (guide §2.5/§3.1): the cell-keyed self-join has
    # only n_centroids distinct keys, so parallelism was capped at 8 tasks
    # and the |cell|² verify straggled. Instead: broadcast the (small)
    # assigned table as the build side, round-robin the stream side across
    # all cores, and make the match a LEFT-SEMI join whose condition
    # carries the cosine predicate — is_dup is an EXISTS, so the hash-join
    # probe short-circuits at the first qualifying lower-id neighbor
    # instead of materializing every pair. The per-pair dot is the
    # unrolled codegen form; the cosine expression/rounding is unchanged,
    # so the flag set is identical.
    pair_dot = ((lambda x, y: dot_fixed(x, y, dim)) if dim is not None
                else dot)
    assigned = (
        ivf_assign(spread(embeddings), n_centroids, id_col, vec_col,
                   quantizer, n_iters, dim=dim)
        .select(
            F.col(id_col).alias("id"), F.col(vec_col).alias("_v"), "cell",
            F.sqrt(pair_dot(F.col(vec_col), F.col(vec_col))).alias("_n"),
        )
        # post-aggregate: else the checkpoint freezes AQE's coalesced layout
        .transform(spread)
        .localCheckpoint(eager=True)
    )
    a = assigned.select(
        "id", F.col("_v").alias("_va"), F.col("_n").alias("_na"), "cell")
    b = assigned.select(F.col("id").alias("_idb"),
                        F.col("_v").alias("_vb"),
                        F.col("_n").alias("_nb"),
                        F.col("cell").alias("_cellb"))
    dups = (
        a.join(
            F.broadcast(b),
            (F.col("cell") == F.col("_cellb"))
            & (F.col("_idb") < F.col("id"))
            & (F.round(pair_dot(F.col("_va"), F.col("_vb"))
                       / (F.col("_na") * F.col("_nb")), 6)
               >= F.lit(threshold)),
            "left_semi",
        )
        .select("id")
        .withColumn("_d", F.lit(True))
    )
    return (
        assigned.select("id", "cell")
        .join(dups, "id", "left")
        .select("id", "cell",
                F.coalesce("_d", F.lit(False)).alias("is_dup"))
    )


def centroid_diversity(
    df: DataFrame,
    vec_col: str = "embedding",
    group_col: str = "label",
    dim: int | None = None,
) -> DataFrame:
    """Per-group corpus diversity as MEAN PAIRWISE COSINE — computed in
    O(n) via the centroid identity instead of the O(n²) pair join:
    with unit vectors ``u``, ``Σ_{i≠j} u_i·u_j = ‖Σu‖² − Σ‖u‖²``, so the
    mean pairwise cosine needs only the per-dimension sums and the
    per-vector squared norms. This is how data-mixture work scores a
    source's internal redundancy/diversity at corpus scale (SemDeDup's
    cluster-tightness diagnostic, a 10^12-row-feasible form) — the exact
    pair join (q37) is the small-n baseline it replaces.

    Exactness across engines: raw components quantize to integer
    micro-units ``q = round(x·1e6)``; the squared norm of ``q`` is an
    exact integer, and IEEE ``sqrt``/division are correctly rounded, so
    the re-quantized unit vector ``nu = round(q/√(Σq²)·1e6)`` is
    bit-identical on every engine. All sums of ``nu`` terms are exact
    integers (decimal(38,0) where 10^12-row scale would overflow
    bigint); only the final reported ratio divides them as doubles.

    Scale shape: one posexplode to n·dim rows with a partial-agg groupBy
    on ``(group, dim)`` (map-side combine collapses each partition to
    |groups|·dim rows before the exchange), one groupBy per group —
    output is |groups| rows, nothing pairwise anywhere.
    """
    if dim is not None:
        df = spread(df)
    q = F.transform(
        F.col(vec_col), lambda x: F.round(x * 1000000.0, 0).cast("long")
    )
    base = df.select(F.col(group_col).alias("grp"), q.alias("_q"))
    base = base.withColumn(
        "_sq",
        F.aggregate(
            "_q", F.lit(0).cast("long"), lambda a, x: a + x * x
        ),
    ).filter(F.col("_sq") > 0)
    nu = F.transform(
        "_q",
        lambda x: F.round(
            x.cast("double") / F.sqrt(F.col("_sq").cast("double"))
            * 1000000.0,
            0,
        ).cast("long"),
    )
    unit = base.select("grp", nu.alias("_nu")).withColumn(
        "_usq",
        F.aggregate(
            "_nu", F.lit(0).cast("long"), lambda a, x: a + x * x
        ).cast("decimal(38,0)"),
    )
    if dim is not None:
        # r6 shape (guide §2.3 — shuffle fewer bytes): with a known dim
        # the per-dimension sums are ``dim`` aggregate COLUMNS of one
        # partial-agg groupBy — the exchange carries |groups| rows of
        # dim decimals instead of n·dim exploded rows. All sums are the
        # same exact integers in a different (irrelevant) order, so the
        # result is bit-identical to the posexplode form.
        per_grp = unit.groupBy("grp").agg(
            *[F.sum(F.col("_nu").getItem(j)).cast("decimal(38,0)")
              .alias(f"_s{j}") for j in range(dim)],
            F.sum("_usq").alias("_sum_usq"),
            F.count("*").cast("long").alias("n_vecs"),
        )
        csq = None
        for j in range(dim):
            t = F.col(f"_s{j}") * F.col(f"_s{j}")
            csq = t if csq is None else csq + t
        per_grp = per_grp.select(
            "grp", csq.alias("_centroid_sq"), "_sum_usq", "n_vecs"
        )
    else:
        dims = unit.select(
            "grp", "_usq", F.posexplode("_nu").alias("_dim", "_v")
        )
        per_dim = dims.groupBy("grp", "_dim").agg(
            F.sum("_v").cast("decimal(38,0)").alias("_s"),
            # _usq is per-vector; summing it per (grp, dim) would multiply
            # it by dim — carry it (and the vector count) once via the
            # dim-0 slice instead, so ONE aggregate over ONE scan feeds
            # everything and no second corpus pass or join is needed
            F.sum(F.when(F.col("_dim") == 0, F.col("_usq"))).alias("_usq0"),
            F.sum(F.when(F.col("_dim") == 0, 1)).alias("_n0"),
        )
        per_grp = per_dim.groupBy("grp").agg(
            F.sum(F.col("_s") * F.col("_s")).alias("_centroid_sq"),
            F.sum("_usq0").alias("_sum_usq"),
            F.sum("_n0").cast("long").alias("n_vecs"),
        )
    pairs = (F.col("n_vecs") * (F.col("n_vecs") - 1)).cast("double")
    mean_cos = F.when(
        F.col("n_vecs") > 1,
        F.round(
            (F.col("_centroid_sq") - F.col("_sum_usq")).cast("double")
            / pairs / 1000000000000.0,
            6,
        ),
    ).otherwise(F.lit(0.0))
    return per_grp.select(
        F.col("grp").alias(group_col),
        "n_vecs",
        mean_cos.alias("mean_cos"),
        F.round(F.lit(1.0) - mean_cos, 6).alias("diversity"),
    )


def embedding_health(df: DataFrame, vec_col: str = "embedding",
                     group_col: str = "label",
                     expected_dim: int = 64) -> DataFrame:
    """Pre-ANN embedding validation census, per group: how many vectors
    are NULL, wrong-dimension, or all-zero (each a row every ANN/cosine
    operator downstream would silently corrupt or crash on — a zero
    vector has no direction, a 32-dim vector poisons a 64-dim dot
    product), plus norm statistics over the valid rest. The gate a
    pipeline runs BEFORE q22/q23/q37/q48-style similarity work.

    Cross-engine exactness (the q103 discipline): components quantize
    to integer micro-units, the squared norm is an exact integer, and
    the reported per-row norm is the correctly-rounded IEEE sqrt —
    min/max/sum of exact integers, so no float summation order
    anywhere; only the final mean divides.

    Scale shape: one scan, one partial-agg groupBy to |groups| rows —
    the per-row classification is pure column expressions."""
    q = F.transform(
        F.col(vec_col), lambda x: F.round(x * 1000000.0, 0).cast("long")
    )
    sq = F.aggregate(q, F.lit(0).cast("long"), lambda a, x: a + x * x)
    is_null = F.col(vec_col).isNull()
    is_wrong_dim = ~is_null & (F.size(vec_col) != expected_dim)
    base = df.select(
        F.col(group_col).alias("grp"),
        is_null.alias("_null"),
        is_wrong_dim.alias("_wrong"),
        F.when(~is_null & ~is_wrong_dim, sq).alias("_sq"),
    ).withColumn("_zero", F.col("_sq") == 0)
    norm_micro = F.when(
        F.col("_sq") > 0,
        F.round(F.sqrt(F.col("_sq").cast("double")), 0).cast("long"),
    )
    per = base.select("grp", "_null", "_wrong", "_zero",
                      norm_micro.alias("_nm"))
    n_valid = F.sum(F.col("_nm").isNotNull().cast("long"))
    return per.groupBy("grp").agg(
        F.count("*").cast("long").alias("n_rows"),
        F.sum(F.col("_null").cast("long")).alias("n_null"),
        F.sum(F.col("_wrong").cast("long")).alias("n_wrong_dim"),
        F.sum(F.coalesce(F.col("_zero").cast("long"), F.lit(0)))
        .alias("n_zero"),
        n_valid.alias("n_valid"),
        F.min("_nm").alias("min_norm_micro"),
        F.max("_nm").alias("max_norm_micro"),
        F.round(F.sum("_nm") / n_valid / 1000000.0, 6).alias("mean_norm"),
    )
