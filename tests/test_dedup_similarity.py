"""Unit tests for dedup / similarity / textstats / multimodal / merge."""

import math

import pandas as pd
from pyspark.sql import functions as F

from epstein_browser_spark import dedup, merge, multimodal, similarity, textstats


def _docs(spark):
    pdf = pd.DataFrame(
        {
            "doc_id": range(8),
            "text": [
                "the quick brown fox jumps over the lazy dog",
                "the quick brown fox jumps over the lazy dog",   # exact dup of 0
                "the quick brown fox jumps over the lazy cat",   # near dup of 0
                "completely different content about financial records",
                "another unrelated text regarding flight manifests",
                "the quick brown fox jumps over the lazy dog!",   # near dup of 0
                "zzzz yyyy xxxx wwww vvvv",
                "short",
            ],
        }
    )
    return spark.createDataFrame(pdf)


def test_exact_duplicates(spark):
    out = dedup.exact_duplicates(_docs(spark)).toPandas()
    assert len(out) == 1
    assert out["n_docs"][0] == 2 and out["keep_id"][0] == 0


def test_ngram_jaccard_finds_near_dups(spark):
    out = dedup.ngram_jaccard_pairs(_docs(spark), threshold=0.7).toPandas()
    pairs = set(zip(out["id_a"], out["id_b"]))
    assert (0, 1) in pairs  # identical → jaccard 1.0
    assert out.set_index(["id_a", "id_b"]).loc[(0, 1), "jaccard"] == 1.0
    assert (0, 2) in pairs or (0, 5) in pairs  # near dups share the block


def test_minhash_lsh_recovers_exact_dups(spark):
    out = dedup.minhash_dedup_pairs(_docs(spark), threshold=0.9).toPandas()
    pairs = set(zip(out["id_a"], out["id_b"]))
    assert (0, 1) in pairs
    # verify stage guarantees no false positives above threshold
    assert (out["jaccard"] >= 0.9).all()


def test_minhash_scratch_dir_parity(spark, sf_dir, tmp_path):
    """VERDICT r2 item 4: the disk-backed scratch-table variant (the
    10^9-doc memory story) must produce exactly the in-memory path's pairs,
    and must actually have written the (id, sig, grams) table to disk."""
    import glob

    d = spark.read.parquet(f"{sf_dir}/documents.parquet").filter(
        F.col("doc_id") < 250
    )
    mem = dedup.minhash_dedup_pairs(d, threshold=0.5).toPandas()
    scratch = str(tmp_path / "minhash_scratch")
    disk = dedup.minhash_dedup_pairs(
        d, threshold=0.5, scratch_dir=scratch
    ).toPandas()
    key = ["id_a", "id_b"]
    pd.testing.assert_frame_equal(
        mem.sort_values(key).reset_index(drop=True),
        disk.sort_values(key).reset_index(drop=True),
    )
    files = glob.glob(f"{scratch}/*.parquet")
    assert files, "scratch table was not written"
    cols = set(spark.read.parquet(scratch).columns)
    assert cols == {"id", "sig", "grams"}


def test_simhash_identical_and_near(spark):
    d = _docs(spark)
    h = dedup.simhash_table(d).toPandas()
    by_id = dict(zip(h["id"], h["sh"]))
    assert all(len(v) == 64 for v in by_id.values())
    assert by_id[0] == by_id[1]  # identical text → identical simhash
    ham02 = sum(a != b for a, b in zip(by_id[0], by_id[2]))
    ham03 = sum(a != b for a, b in zip(by_id[0], by_id[3]))
    assert ham02 < ham03  # near-dup closer than unrelated
    pairs = dedup.simhash_near_dups(d, max_hamming=0).toPandas()
    assert (0, 1) in set(zip(pairs["id_a"], pairs["id_b"]))


def test_cosine_topk_math(spark):
    pdf = pd.DataFrame(
        {
            "vec_id": [0, 1, 2, 3],
            "embedding": [
                [1.0, 0.0], [0.0, 1.0], [1.0, 1.0], [-1.0, 0.0],
            ],
        }
    )
    e = spark.createDataFrame(pdf)
    out = similarity.brute_force_topk(e, [1.0, 0.0], k=3).toPandas()
    assert list(out["vec_id"]) == [0, 2, 1]
    assert abs(out["cosine_sim"][0] - 1.0) < 1e-12
    assert abs(out["cosine_sim"][1] - 1 / math.sqrt(2)) < 1e-12


def test_lsh_ann_agrees_with_brute_force_top1(spark, sf_dir):
    e = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    row = e.filter(F.col("vec_id") == 7).select("embedding").head()
    q = [float(x) for x in row["embedding"]]
    bucketed = similarity.with_lsh_bucket(e, dim=64, n_planes=4)
    ann = similarity.lsh_topk_df(spark, bucketed, q, dim=64, k=1,
                                 n_planes=4).toPandas()
    # the query vector itself is in the corpus and always lands in its own
    # bucket → ANN top-1 must be exact
    assert list(ann["vec_id"]) == [7]


def test_textstats_basics(spark):
    df = spark.createDataFrame(
        pd.DataFrame({"text": ["the cat and the dog, on a mat!", "", "word"]})
    )
    out = textstats.with_text_stats(df).toPandas()
    assert list(out["n_tokens"]) == [8, 0, 1]
    assert out["stopword_ratio"][0] > 0.3
    assert out["punct_ratio"][1] == 0.0
    assert list(out["quality_band"]) == ["ok", "junk", "junk"]


def test_predicted_lang(spark):
    df = spark.createDataFrame(
        pd.DataFrame(
            {
                "text": [
                    "the cat is in the house and that is fine",
                    "el gato de la casa que los perros",
                    "xyzzy plugh qwertz",
                ]
            }
        )
    )
    out = df.select(textstats.predicted_lang(F.col("text")).alias("l")).toPandas()
    assert list(out["l"]) == ["en", "es", "und"]


def test_fingerprint_order_insensitive_tokens(spark):
    df = spark.createDataFrame(
        pd.DataFrame({"text": ["abcd efgh", "abcd efgh", "abcd efgx"]})
    )
    out = df.select(textstats.fingerprint(F.col("text")).alias("f")).toPandas()
    assert out["f"][0] == out["f"][1]
    assert out["f"][0] != out["f"][2]


def test_merge_classification(spark):
    t = spark.createDataFrame(
        pd.DataFrame({"k": [1, 2, 3], "h": ["a", "b", "c"]})
    )
    s = spark.createDataFrame(
        pd.DataFrame({"k": [2, 3, 4], "h": ["b", "X", "d"]})
    )
    out = merge.classify_merge(t, s, "k", "h").toPandas().set_index("k")
    assert out.loc[1, "merge_action"] == "delete"
    assert out.loc[2, "merge_action"] == "skip"
    assert out.loc[3, "merge_action"] == "update"
    assert out.loc[4, "merge_action"] == "insert"
    snap = merge.merge_snapshot(t, s, "k", "h").toPandas()
    assert sorted(snap["k"]) == [2, 3, 4]


def test_multimodal_plumbing(spark):
    media = multimodal.synth_media_spark(spark, 30)
    feats = multimodal.extract_media_features(media)
    pdf = feats.toPandas()
    assert len(pdf) == 30
    assert set(pdf["decode_status"]) == {"stubbed"}
    assert all(len(f) == multimodal.FEATURE_DIM for f in pdf["feature"])
    assert (pdf["n_bytes"] == 128).all()  # md5 hex × 4
    # deterministic: same id → same hash across runs
    again = multimodal.extract_media_features(media).toPandas()
    m1 = dict(zip(pdf["media_id"], pdf["payload_hash"]))
    m2 = dict(zip(again["media_id"], again["payload_hash"]))
    assert m1 == m2
    import pytest

    with pytest.raises(NotImplementedError):
        multimodal.decode_image(b"\xff\xd8")  # JPEG: no codec lib here


def test_simhash_recall_is_exact(spark, sf_dir):
    """VERDICT r1 item 2: banded candidate generation with
    n_bands = max_hamming + 1 must emit EVERY pair whose true hamming
    distance is <= cap (pigeonhole recall 1.0), for caps the old 4-band
    split silently under-covered (4..6)."""
    d = spark.read.parquet(f"{sf_dir}/documents.parquet").filter(
        F.col("doc_id") < 120
    )
    for mode in ("xxhash", "md5"):
        sh = dedup.simhash_table(d, hash_mode=mode)
        a = sh.selectExpr("id AS id_a", "sh AS sh_a")
        b = sh.selectExpr("id AS id_b", "sh AS sh_b")
        exact = (
            a.crossJoin(b).filter(F.col("id_a") < F.col("id_b"))
            .select("id_a", "id_b",
                    dedup.hamming_bits(F.col("sh_a"), F.col("sh_b")).alias("h"))
            .filter(F.col("h") <= 6)
            .toPandas()
        )
        got = dedup.simhash_near_dups(d, max_hamming=6, hash_mode=mode).toPandas()
        exact_pairs = set(zip(exact["id_a"], exact["id_b"]))
        got_pairs = set(zip(got["id_a"], got["id_b"]))
        assert got_pairs == exact_pairs, (mode, exact_pairs ^ got_pairs)


def test_simhash_bands_cover_64_bits():
    for cap in (0, 1, 3, 6, 13, 63):
        bands = dedup.simhash_bands(cap)
        assert len(bands) == cap + 1
        assert sum(w for _s, w in bands) == 64
        pos = 1
        for s, w in bands:
            assert s == pos and w >= 1
            pos += w


def test_jaccard_block_cap_prevents_quadratic_blowup(spark):
    """VERDICT r1 item 6: a corpus-common blocking shingle must not create
    an O(n^2) block — over-cap blocks are dropped from candidate
    generation, the same max_bucket pattern as the minhash path."""
    n = 300
    pdf = pd.DataFrame(
        {
            "doc_id": range(n),
            # '!!!' is the lexicographically-min shingle of every doc (no
            # spaces anywhere, '!' < all letters/digits) -> ONE shared
            # block; the common body makes pairs similar enough to emit
            "text": [f"!!!{'commonsharedbodytext' * 3}{i:04d}" for i in range(n)],
        }
    )
    d = spark.createDataFrame(pdf)
    capped = dedup.ngram_jaccard_pairs(d, threshold=0.1, max_block=50)
    # the single 300-doc block exceeds the cap -> dropped, no pair blowup
    assert capped.count() == 0
    uncapped = dedup.ngram_jaccard_pairs(d, threshold=0.1, max_block=1000)
    assert uncapped.count() > 0  # cap above block size: pairs emitted again


# ---------------------------------------------------------------------------
# real merge sink (VERDICT r1 item 7 / SURVEY S6)
# ---------------------------------------------------------------------------

def _snapshot_files(path):
    import glob
    import os

    return {
        f: os.path.getmtime(f)
        for f in glob.glob(f"{path}/bucket=*/*.parquet")
    }


def test_merge_into_bucketed_end_to_end(spark, tmp_path):
    """v1 write → v2 merge → read-back equals merge_snapshot; buckets with
    no insert/update/delete keys keep their exact files (path + mtime)."""
    import os

    from pyspark.sql import functions as F

    n_buckets = 16
    target_dir = str(tmp_path / "tbl")
    v1 = spark.range(400).select(
        F.col("id").alias("doc_id"),
        F.md5(F.col("id").cast("string")).alias("h"),
        F.concat(F.lit("payload "), F.col("id").cast("string")).alias("body"),
    )
    v1.withColumn(
        "bucket", F.pmod(F.xxhash64("doc_id"), F.lit(n_buckets)).cast("int")
    ).write.partitionBy("bucket").parquet(target_dir)

    # v2: update doc_id%37==0, delete doc_id%41==0, insert 5 new keys
    v2 = (
        spark.range(400)
        .filter(F.pmod("id", F.lit(41)) != 0)
        .select(
            F.col("id").alias("doc_id"),
            F.md5(
                F.when(F.pmod("id", F.lit(37)) == 0,
                       F.concat(F.col("id").cast("string"), F.lit("!")))
                .otherwise(F.col("id").cast("string"))
            ).alias("h"),
            F.concat(
                F.when(F.pmod("id", F.lit(37)) == 0, F.lit("updated "))
                .otherwise(F.lit("payload ")),
                F.col("id").cast("string"),
            ).alias("body"),
        )
        .unionByName(
            spark.range(1000, 1005).select(
                F.col("id").alias("doc_id"),
                F.md5(F.col("id").cast("string")).alias("h"),
                F.concat(F.lit("payload "), F.col("id").cast("string")).alias("body"),
            )
        )
    )

    before = _snapshot_files(target_dir)
    stats = merge.merge_into_bucketed(
        spark, target_dir, v2, key_col="doc_id", hash_col="h",
        n_buckets=n_buckets,
    )
    assert stats["inserted"] == 5
    assert stats["updated"] > 0 and stats["deleted"] > 0 and stats["skipped"] > 0
    assert 0 < stats["buckets_rewritten"] <= n_buckets

    after = _snapshot_files(target_dir)
    spark.catalog.refreshByPath(target_dir)
    got = (
        spark.read.parquet(target_dir).drop("bucket")
        .toPandas().sort_values("doc_id").reset_index(drop=True)
    )
    exp = (
        merge.merge_snapshot(
            spark.read.parquet(target_dir).drop("bucket").select("doc_id", "h"),
            v2, "doc_id", "h",
        )
        .toPandas().sort_values("doc_id").reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(got[["doc_id", "h"]], exp[["doc_id", "h"]],
                                  check_dtype=False)
    # row-level content applied
    assert (got.loc[got["doc_id"] % 37 == 0, "body"].str.startswith("updated")).all()
    assert not (got["doc_id"] % 41 == 0).any()

    # untouched buckets: identical file sets and mtimes
    changed_dirs = set()
    for f in set(before) ^ set(after):
        changed_dirs.add(os.path.dirname(f))
    untouched = [
        f for f in before
        if os.path.dirname(f) not in changed_dirs
    ]
    assert untouched, "expected at least one untouched bucket"
    for f in untouched:
        assert after[f] == before[f], f"untouched bucket file rewritten: {f}"


def test_merge_into_bucketed_all_skip_is_noop(spark, tmp_path):
    from pyspark.sql import functions as F

    target_dir = str(tmp_path / "tbl2")
    v1 = spark.range(50).select(
        F.col("id").alias("doc_id"), F.md5(F.col("id").cast("string")).alias("h")
    )
    v1.withColumn(
        "bucket", F.pmod(F.xxhash64("doc_id"), F.lit(8)).cast("int")
    ).write.partitionBy("bucket").parquet(target_dir)
    before = _snapshot_files(target_dir)
    stats = merge.merge_into_bucketed(spark, target_dir, v1, "doc_id", "h", 8)
    assert stats["buckets_rewritten"] == 0
    assert stats["skipped"] == 50
    assert _snapshot_files(target_dir) == before


def test_connected_components_multihop(spark):
    """Min-label propagation must close transitively: a 5-node chain (all
    pairwise-adjacent only to neighbors) resolves to one cluster labeled by
    its min id, independent of edge direction; separate components stay
    separate; singletons are their own canonical."""
    pairs = spark.createDataFrame(
        pd.DataFrame({"id_a": [10, 11, 12, 13, 50], "id_b": [11, 12, 13, 14, 51]})
    )
    comp = dedup.connected_components(pairs).toPandas().set_index("id")
    assert set(comp.loc[[10, 11, 12, 13, 14], "cluster_id"]) == {10}
    assert set(comp.loc[[50, 51], "cluster_id"]) == {50}

    docs = spark.createDataFrame(pd.DataFrame({"doc_id": [10, 11, 12, 13, 14, 50, 51, 99]}))
    out = dedup.dedup_clusters(docs, pairs).toPandas().set_index("id")
    assert out.loc[99, "cluster_id"] == 99 and bool(out.loc[99, "is_canonical"])
    assert bool(out.loc[10, "is_canonical"]) and not bool(out.loc[14, "is_canonical"])
    # exactly one canonical per cluster
    can = out[out["is_canonical"]]
    assert sorted(can.index) == [10, 50, 99]


def test_connected_components_warns_on_max_iter(spark):
    """ADVICE r2: exhausting max_iter before the fixpoint must WARN, not
    silently return partial labels. A 6-node chain needs ≥2 rounds even
    with pointer jumping; max_iter=1 cannot converge (the fixpoint check
    needs one extra unchanged round)."""
    import pytest

    chain = spark.createDataFrame(
        pd.DataFrame({"id_a": [0, 1, 2, 3, 4], "id_b": [1, 2, 3, 4, 5]})
    )
    with pytest.warns(RuntimeWarning, match="max_iter"):
        dedup.connected_components(chain, max_iter=1).count()


def test_connected_components_empty_pairs(spark):
    pairs = spark.createDataFrame([], "id_a bigint, id_b bigint")
    assert dedup.connected_components(pairs).count() == 0
    docs = spark.createDataFrame(pd.DataFrame({"doc_id": [1, 2]}))
    out = dedup.dedup_clusters(docs, pairs).toPandas()
    assert list(out["cluster_id"]) == [1, 2]
    assert out["is_canonical"].all()


def test_ivf_assignment_and_self_query(spark, sf_dir):
    """IVF sanity: every vector gets exactly one cell; centroid vectors
    are assigned to their own cell (distance 0, tie→min cid); querying
    with an in-corpus vector returns that vector as top-1 (it lives in
    the probed cell by construction)."""
    e = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    n = e.count()
    assigned = similarity.ivf_assign(e, n_centroids=16)
    assert assigned.count() == n
    cents = assigned.filter(F.col("vec_id") < 16).toPandas()
    assert (cents["cell"] == cents["vec_id"]).all()
    row = e.filter(F.col("vec_id") == 7).select("embedding").head()
    q = [float(x) for x in row["embedding"]]
    top = similarity.ivf_topk(e, q, n_centroids=16, k=1).toPandas()
    assert list(top["vec_id"]) == [7]


def test_ivf_nprobe_recall_dominance(spark, sf_dir):
    """VERDICT r2 item 6: IVF recall vs brute force must be monotonically
    non-decreasing in nprobe (candidate supersets), and at
    nprobe = n_centroids the result must EQUAL brute force (every cell
    probed). Also covers the rank-based centroid fix: a sparse id space
    (all ids shifted +1000) still yields exactly n_centroids centroids."""
    e = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    row = e.filter(F.col("vec_id") == 42).select("embedding").head()
    q = [float(x) for x in row["embedding"]]
    exact = list(
        similarity.brute_force_topk(e, q, k=10).toPandas()["vec_id"]
    )
    prev_recall = -1
    for nprobe in (1, 2, 4, 16):
        got = set(
            similarity.ivf_topk(e, q, n_centroids=16, k=10,
                                nprobe=nprobe).toPandas()["vec_id"]
        )
        recall = len(got & set(exact))
        assert recall >= prev_recall, (nprobe, recall, prev_recall)
        prev_recall = recall
    assert got == set(exact)  # nprobe = n_centroids ≡ brute force

    sparse = e.withColumn("vec_id", F.col("vec_id") + 1000)
    cents = similarity.ivf_centroids(sparse, n_centroids=16).toPandas()
    assert len(cents) == 16
    assert list(cents["cid"].sort_values()) == list(range(1000, 1016))


def test_multiprobe_recall_at_least_single_probe(spark, sf_dir):
    """Multi-probe (1-bit flips) must recall at least as much of the
    brute-force top-k as the single-bucket probe, and its candidate set
    strictly contains the single probe's."""
    e = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    row = e.filter(F.col("vec_id") == 3).select("embedding").head()
    q = [float(x) for x in row["embedding"]]
    bucketed = similarity.with_lsh_bucket(e, dim=64, n_planes=6)
    exact = set(
        similarity.brute_force_topk(e, q, k=10).toPandas()["vec_id"]
    )
    single = set(
        similarity.lsh_topk_df(spark, bucketed, q, dim=64, k=10,
                               n_planes=6, n_flip=0).toPandas()["vec_id"]
    )
    multi = set(
        similarity.lsh_topk_df(spark, bucketed, q, dim=64, k=10,
                               n_planes=6, n_flip=1).toPandas()["vec_id"]
    )
    assert len(multi & exact) >= len(single & exact)
    assert 3 in multi  # the query vector itself always recalled


def test_minhash_xxhash_recall_floor(spark, sf_dir):
    """VERDICT r2 item 1: q20's production xxhash64 MinHash instance gets a
    recall check against the EXACT jaccard pair set (the lone rows-only
    query's value gap). On the bounded corpus (doc_id < 250, threshold 0.5,
    shingle 5 — q42's fixture), 32 perms / 8 bands must (a) emit ONLY true
    pairs (precision 1.0, guaranteed by the exact-jaccard verify stage) and
    (b) miss NONE (recall 1.0, an empirical property of this fixture: all
    true pairs are high-jaccard near-dups whose band-collision probability
    is ≈1). Deterministic: xxhash64 is seed-fixed, so this is a frozen
    equality, not a flaky probabilistic bound."""
    from epstein_browser_spark.textstats import shingle_sets

    d = spark.read.parquet(f"{sf_dir}/documents.parquet").filter(
        F.col("doc_id") < 250
    )
    g = shingle_sets(d, "text", "doc_id", 5)
    a = g.selectExpr("id AS id_a", "grams AS ga")
    b = g.selectExpr("id AS id_b", "grams AS gb")
    inter = F.size(F.array_intersect("ga", "gb")).cast("double")
    union = F.size(F.array_union("ga", "gb")).cast("double")
    exact = (
        a.crossJoin(b).filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", (inter / union).alias("j"))
        .filter(F.col("j") >= 0.5)
        .toPandas()
    )
    exact_pairs = set(zip(exact["id_a"], exact["id_b"]))
    got = dedup.minhash_dedup_pairs(d, threshold=0.5).toPandas()
    got_pairs = set(zip(got["id_a"], got["id_b"]))
    assert exact_pairs, "fixture must contain true near-dup pairs"
    assert got_pairs <= exact_pairs, (
        f"false positives: {sorted(got_pairs - exact_pairs)[:5]}"
    )
    missed = exact_pairs - got_pairs
    assert not missed, (
        f"recall {len(got_pairs) / len(exact_pairs):.3f}: "
        f"found {len(got_pairs)}/{len(exact_pairs)}, missed {sorted(missed)[:5]}"
    )


def test_deterministic_split_uniform(spark):
    """ADVICE r2 (medium): the md5 bucket must be ~uniform over 0..99 so the
    realized split is 80/10/10, not 84.4/7.8/7.8 (the single-byte %100
    bias). 20k ids: binomial 3σ on train ≈ ±0.85%, so a 1.5% tolerance is
    tight enough to fail the biased form (+4.4%) and loose enough to never
    flake (the assignment is deterministic anyway)."""
    n = 20000
    df = spark.range(n).select(
        textstats.deterministic_split(F.col("id")).alias("split")
    )
    frac = {
        r["split"]: r["count"] / n
        for r in df.groupBy("split").count().collect()
    }
    assert abs(frac["train"] - 0.80) < 0.015, frac
    assert abs(frac["val"] - 0.10) < 0.015, frac
    assert abs(frac["test"] - 0.10) < 0.015, frac


def test_approx_percentile_rank_error_bound(spark):
    """VERDICT r2 item 3: the declared 100 TB percentile path must honor
    the Greenwald-Khanna guarantee — at accuracy a, each estimate's rank is
    within n/a of the target rank — at an accuracy where the sketch really
    approximates (n=20000, a=100 → up to 200 ranks off, vs q52's
    driver-scale setting where the error budget is below one element)."""
    import bisect

    n, acc = 20000, 100
    df = spark.range(n).select(F.pmod(F.xxhash64("id"), F.lit(10 ** 6)).alias("v"))
    qs = (0.5, 0.9, 0.99)
    est = df.agg(
        F.expr(f"approx_percentile(v, array{qs}, {acc})").alias("p")
    ).head()["p"]
    vals = sorted(r["v"] for r in df.collect())
    for q, a in zip(qs, est):
        lo = bisect.bisect_left(vals, a)
        hi = bisect.bisect_right(vals, a)
        target = q * n
        # the estimate's rank interval must overlap [target ± n/acc]
        assert lo - n / acc <= target <= hi + n / acc, (q, a, lo, hi)


def test_langid_ngram_basics(spark):
    df = spark.createDataFrame(
        pd.DataFrame(
            {
                "doc_id": [0, 1, 2, 3],
                "text": [
                    "the thing and the other thing of importance",
                    "el gato que vive en la casa de los vecinos",
                    "der hund und die katze sind nicht ein problem",
                    "zz",  # too short to shingle
                ],
            }
        )
    )
    out = textstats.langid_ngram_table(df).toPandas().set_index("id")
    assert out.loc[0, "predicted_lang"] == "en"
    assert out.loc[1, "predicted_lang"] == "es"
    assert out.loc[2, "predicted_lang"] == "de"
    assert out.loc[3, "predicted_lang"] == "und"


def test_pq_adc_exact_on_codebook_vectors(spark, sf_dir):
    """For the k codebook-source vectors every subvector IS a centroid, so
    the PQ code is their own id and the asymmetric distance equals the
    TRUE squared L2 to the query — the zero-quantization-error invariant
    that pins encode + table-lookup end to end. Also: codes stay in the
    codebook id domain and every vector gets exactly m codes."""
    from pyspark.sql import functions as F

    q = [float((i * 7) % 13) / 13.0 for i in range(64)]
    e = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    k = 16
    cb_ids = [r[0] for r in
              e.select("vec_id").orderBy("vec_id").limit(k).collect()]
    codes = similarity.pq_encode(e, m=4, k=k, long_form=True)
    dom = codes.select("code").distinct().toPandas()["code"]
    assert set(dom) <= set(cb_ids)
    per_vec = codes.groupBy("vec_id").count().toPandas()
    assert (per_vec["count"] == 4).all()
    # codebook vectors encode to themselves
    own = codes.filter(F.col("vec_id").isin(cb_ids)).toPandas()
    assert (own["vec_id"] == own["code"]).all()

    qlit = F.array(*[F.lit(x) for x in q])
    exact = {
        r["vec_id"]: r["d"]
        for r in e.filter(F.col("vec_id").isin(cb_ids)).select(
            "vec_id",
            similarity.dist2(F.col("embedding"), qlit).alias("d"),
        ).collect()
    }
    adc = {
        r["vec_id"]: r["adc_dist2"]
        for r in similarity.pq_adc_topk(e, q, m=4, k=k, topk=10**6)
        .filter(F.col("vec_id").isin(cb_ids)).collect()
    }
    assert set(adc) == set(exact)
    for vid, d in exact.items():
        assert abs(adc[vid] - d) < 1e-4, (vid, adc[vid], d)


def test_ivf_pq_full_probe_equals_pq(spark, sf_dir):
    """IVF-PQ at nprobe=n_centroids prunes nothing, so it must equal the
    pure PQ ADC ranking — and at nprobe=1 its results are a subset of the
    full-probe candidate scores (pruning only removes candidates, never
    rescores them)."""
    q = [float((i * 5) % 11) / 11.0 for i in range(64)]
    e = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    full = similarity.ivf_pq_topk(e, q, n_centroids=16, nprobe=16,
                                  topk=10).toPandas()
    pq = similarity.pq_adc_topk(e, q, topk=10).toPandas()
    assert full.values.tolist() == pq.values.tolist()
    pruned = similarity.ivf_pq_topk(e, q, n_centroids=16, nprobe=1,
                                    topk=10).toPandas()
    all_scores = dict(similarity.pq_adc_topk(e, q, topk=10**6)
                      .toPandas().values)
    for vid, d in pruned.values:
        assert abs(all_scores[vid] - d) < 1e-9


def test_candidates_between_index_parity(spark):
    """The stored band index path (dedup.band_index → corpus_bands=) must
    emit exactly the candidate pairs of the band-on-the-fly path, and
    pre-filtering the index to the probe's pband partitions (the pruned
    scan) must not lose any."""
    import pandas as pd

    from pyspark.sql import functions as F

    corpus = spark.createDataFrame(pd.DataFrame({
        "doc_id": range(40),
        "text": [f"corpus document number {i} about topic {i % 5} "
                 f"with shared vocabulary and some body text" for i in range(40)],
    }))
    probe = spark.createDataFrame(pd.DataFrame({
        "doc_id": range(100, 110),
        "text": [f"corpus document number {i % 7} about topic {i % 5} "
                 f"with shared vocabulary and some body text" for i in range(10)],
    }))
    cf = dedup.minhash_features(corpus)
    # the curation path's shingle explode runs behind exactly one spread
    assert cf._jdf.queryExecution().executedPlan().toString().count(
        "RoundRobinPartitioning") == 1
    cf = cf.localCheckpoint()
    pf = dedup.minhash_features(probe).localCheckpoint()
    fly = dedup.minhash_candidates_between(
        pf.select("id", "sig"), corpus_sigs=cf.select("id", "sig")
    ).toPandas()
    bands = dedup.band_index(cf.select("id", "sig"))
    idx = dedup.minhash_candidates_between(
        pf.select("id", "sig"), corpus_bands=bands.drop("pband")
    ).toPandas()
    pbands = [r["pband"] for r in
              dedup.band_index(pf.select("id", "sig"))
              .select("pband").distinct().collect()]
    pruned = dedup.minhash_candidates_between(
        pf.select("id", "sig"),
        corpus_bands=bands.filter(F.col("pband").isin(pbands)).drop("pband"),
    ).toPandas()
    key = lambda d: sorted(map(tuple, d.values))  # noqa: E731
    assert key(fly) == key(idx) == key(pruned)
    assert len(fly) > 0


def test_merge_skip_keeps_target_row(spark, tmp_path):
    """MERGE semantics: a skip-classified key in a CHANGED bucket keeps
    the TARGET row, even when the source copy differs in non-hash columns
    — and a legitimately-null hash on the target side classifies by key
    presence, not hash nullness."""
    from pyspark.sql import functions as F

    n_buckets = 2
    tgt = str(tmp_path / "tbl")
    v1 = spark.createDataFrame(
        [(1, "h1", "target-meta-1"), (2, "h2", "target-meta-2"),
         (9, None, "target-null-hash")],
        "doc_id long, h string, body string",
    )
    v1.withColumn(
        "bucket", F.pmod(F.xxhash64("doc_id"), F.lit(n_buckets)).cast("int")
    ).write.partitionBy("bucket").parquet(tgt)

    # source: doc 1 same hash but DIFFERENT body; doc 2 updated hash;
    # doc 9 (null target hash) absent -> must classify delete, not insert
    v2 = spark.createDataFrame(
        [(1, "h1", "source-meta-1"), (2, "h2x", "source-meta-2")],
        "doc_id long, h string, body string",
    )
    stats = merge.merge_into_bucketed(spark, tgt, v2, key_col="doc_id",
                                      hash_col="h", n_buckets=n_buckets)
    assert stats["skipped"] == 1 and stats["updated"] == 1
    assert stats["deleted"] == 1 and stats["inserted"] == 0
    spark.catalog.refreshByPath(tgt)
    rows = {r["doc_id"]: r["body"]
            for r in spark.read.parquet(tgt).collect()}
    assert rows[1] == "target-meta-1"   # skip kept the TARGET version
    assert rows[2] == "source-meta-2"   # update took the source version
    assert 9 not in rows                # delete-by-absence
