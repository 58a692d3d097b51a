"""Text analysis operators for large-scale training-data pipelines:
token counting, quality/stat scoring, language-ID heuristic, fingerprints.

All JVM-side (built-in pyspark.sql.functions — whole-stage codegen, no
Python in the hot path). These generalize the reference's density/ratio
quality heuristics (/root/reference/helpers/error_detection.py:126-180) to
the stats a 100 TB corpus-curation job needs.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from epstein_browser_spark.session import spread

# tiny marker-word inventories for the n-gram/stopword language heuristic
LANG_MARKERS = {
    "en": ["the", "and", "of", "to", "is", "in", "that", "with"],
    "es": ["el", "la", "de", "que", "los", "una", "por", "con"],
    "fr": ["le", "la", "les", "des", "est", "une", "dans", "pour"],
    "de": ["der", "die", "und", "das", "ist", "nicht", "mit", "ein"],
}

EN_STOPWORDS = LANG_MARKERS["en"] + ["a", "an", "it", "on", "for", "as", "are"]

# BPE-ish token pattern: word pieces, numbers, or single punctuation — a
# whitespace-plus split that approximates subword tokenizer pre-splitting
BPE_TOKEN_RE = r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"


def tokens(col: Column) -> Column:
    """Whitespace tokens of trimmed text (empty array for blank input)."""
    return F.filter(F.split(F.trim(col), r"\s+"), lambda t: t != "")


def token_hits_count(col: Column, words: list[str]) -> Column:
    """Number of whitespace tokens of ``col`` equal to any of ``words``,
    duplicates counted — exactly ``size(filter(tokens(col), t ∈ words))``
    re-expressed as ONE codegen regexp pass: a token equals w iff w
    occurs in the string bounded by whitespace/edges on both sides, so
    the zero-width guards ``(?<![^\\s])…(?![^\\s])`` count token hits
    without consuming the boundary (adjacent hits still both match).
    The interpreted-HOF form pays a lambda eval per token per language;
    this is the q25/q24 hot path (guide §4.1)."""
    import re

    alts = "|".join(re.escape(w) for w in sorted(dict.fromkeys(words)))
    return F.regexp_count(col, F.lit(r"(?<![^\s])(" + alts + r")(?![^\s])"))


def token_count(col: Column) -> Column:
    return F.size(tokens(col))


def bpe_token_count(col: Column) -> Column:
    """Count of BPE-ish pre-tokens (regexp-based, JVM-side)."""
    return F.size(F.regexp_extract_all(col, F.lit(BPE_TOKEN_RE), 0))


def stopword_ratio(col: Column, stopwords: list[str] | None = None) -> Column:
    # hit counting via ONE regexp pass (token_hits_count) instead of an
    # interpreted array_contains lambda per token — same integer count
    n = F.size(tokens(F.lower(col)))
    hits = token_hits_count(F.lower(col), stopwords or EN_STOPWORDS)
    return F.when(n > 0, hits / n).otherwise(F.lit(0.0))


def punct_ratio(col: Column) -> Column:
    # \p{L}\p{N}, not \w: Java's \w is ASCII-only here, which would
    # count every non-ASCII letter (café, кот, 中文) as punctuation and
    # junk whole languages the langid heuristics explicitly support
    n = F.length(col)
    punct = F.length(col) - F.length(
        F.regexp_replace(col, r"[^\p{L}\p{N}_\s]", "")
    )
    return F.when(n > 0, punct / n).otherwise(F.lit(0.0))


def with_text_stats(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Adds n_tokens, n_bpe_tokens, avg_token_len, stopword_ratio,
    punct_ratio, and a composite quality_band (good/ok/junk)."""
    c = F.col(text_col)
    toks = tokens(c)
    n_tok = F.size(toks)
    avg_len = F.when(
        n_tok > 0,
        F.aggregate(toks, F.lit(0).cast("long"),
                    lambda acc, t: acc + F.length(t)) / n_tok,
    ).otherwise(F.lit(0.0))
    out = (
        df.withColumn("n_tokens", n_tok)
        .withColumn("n_bpe_tokens", bpe_token_count(c))
        .withColumn("avg_token_len", avg_len)
        .withColumn("stopword_ratio", stopword_ratio(c))
        .withColumn("punct_ratio", punct_ratio(c))
    )
    return out.withColumn(
        "quality_band",
        F.when((F.col("n_tokens") >= 20) & (F.col("punct_ratio") < 0.2), "good")
        .when(F.col("n_tokens") >= 5, "ok")
        .otherwise("junk"),
    )


def _argmax_lang(hits_by_lang: dict) -> Column:
    """Deterministic argmax over per-language hit counts via the
    sortable-string trick: encode (hits, lang) as '%010d'+lang so the
    argmax is a plain greatest() — tie-break = lexicographically max
    lang, expressible identically in any SQL dialect. 'und' when no
    language scores a hit. ONE definition for all three langid forms."""
    scores = [
        F.concat(F.format_string("%010d", h), F.lit(lang))
        for lang, h in hits_by_lang.items()
    ]
    best = F.greatest(*scores)
    return F.when(
        F.substring(best, 1, 10).cast("int") > 0, F.substring(best, 11, 10)
    ).otherwise(F.lit("und"))


def predicted_lang(col: Column) -> Column:
    """Marker-word language heuristic: argmax of per-language hit counts,
    'und' when nothing matches. Pure JVM expressions — hit counts via
    one codegen regexp pass per language (token_hits_count) instead of
    an interpreted array_contains lambda per token per language."""
    hits = {
        lang: token_hits_count(F.lower(col), markers)
        for lang, markers in LANG_MARKERS.items()
    }
    return _argmax_lang(hits)


# tiny per-language character-trigram profiles (most frequent trigrams of
# each language, spaces included) for the n-gram language heuristic
LANG_TRIGRAMS = {
    "en": [" th", "the", "he ", "ing", "ng ", "and", "nd ", " an",
           "ion", "ed ", " of", "of ", "tio", " to", "er "],
    "es": [" de", "de ", "os ", " la", "la ", "ue ", "que", " qu",
           "el ", " el", "ión", "ció", " co", "as ", "es "],
    "fr": [" de", "de ", "es ", " le", "le ", "ent", "nt ", " la",
           "la ", "et ", " et", "les", "ion", " pa", "re "],
    "de": ["er ", "en ", " de", "der", "ie ", " di", "die", "ein",
           "ich", "sch", "ch ", "nd ", "und", " un", "ten"],
}


def langid_ngram_table(df: DataFrame, text_col: str = "text",
                       id_col: str = "doc_id") -> DataFrame:
    """(id, predicted_lang) for a whole corpus.

    r6 shape (guide §2.4 — remove shuffles outright): a profile trigram
    is in the doc's DISTINCT trigram set iff it occurs as a SUBSTRING of
    the normalized text, so the per-language overlap |grams ∩ profile|
    is a sum of ~15 ``contains`` probes per language — pure per-row
    codegen, ZERO shuffles — instead of the explode → distinct →
    collect_list → array_intersect chain (two corpus-wide exchanges of
    every character position, and a single-task explode on single-row-
    group inputs). Docs shorter than 3 chars get 'und' (a trigram cannot
    be contained in a shorter string)."""
    norm = F.lower(F.trim(F.col(text_col)))
    lang = _argmax_lang({
        lg: sum_profile_contains(norm, profile)
        for lg, profile in LANG_TRIGRAMS.items()
    })
    return spread(df).select(F.col(id_col).alias("id"),
                             lang.alias("predicted_lang"))


def sum_profile_contains(norm: Column, profile: list[str]) -> Column:
    """|distinct n-grams of ``norm`` ∩ profile| as a per-row expression:
    one ``contains`` probe per (distinct) profile gram. Exactly the set
    intersection — a gram is in the distinct-shingle set iff it occurs
    somewhere in the string — with no explode and no shuffle."""
    hits = None
    for g in dict.fromkeys(profile):  # dedupe defensively: set semantics
        h = F.when(norm.contains(F.lit(g)), 1).otherwise(0)
        hits = h if hits is None else hits + h
    return hits if hits is not None else F.lit(0)


SPLIT_NAMES = ["train", "val", "test"]


def deterministic_split(id_col: Column, train_pct: int = 80,
                        val_pct: int = 10) -> Column:
    """Stable train/val/test assignment from the id alone: bucket 0-99 from
    the first FOUR hex digits of md5(id) — reproducible in any engine (no
    RNG, no row order dependence), so a re-run or a different system
    assigns every document identically. The curation counterpart of
    `DataFrame.randomSplit`, which is neither stable across runs nor
    restatable in SQL.

    Four digits, not two: 65536 % 100 = 36, so the per-bucket bias is
    36/65536 ≈ 0.05% — a single byte (256 % 100 = 56) skews the realized
    split to ~84.4/7.8/7.8 instead of 80/10/10 (round-2 ADVICE finding)."""
    h = F.md5(id_col.cast("string"))
    bucket = F.pmod(
        F.conv(F.substring(h, 1, 4), 16, 10).cast("int"), F.lit(100)
    )
    return (
        F.when(bucket < train_pct, SPLIT_NAMES[0])
        .when(bucket < train_pct + val_pct, SPLIT_NAMES[1])
        .otherwise(SPLIT_NAMES[2])
    )


def word_ngrams_exploded(df: DataFrame, text_col: str, id_col: str,
                         n: int = 13, distinct: bool = True) -> DataFrame:
    """(id, gram) — one row per DISTINCT n-word window per doc (lowercased,
    whitespace-tokenized, single-space joined). The unit of benchmark
    decontamination: GPT-3/The-Pile-style filtering drops training docs
    sharing any 13-gram with an evaluation set. Explode-shaped — the
    downstream overlap join shuffles on the gram hash, never all-pairs.

    The token array is materialized in a projection BELOW the transform so
    the window lambda captures a column reference — capturing the split
    expression itself re-evaluates it per element (the interpreted-HOF
    O(len²) trap, see exploded_shingles).

    ``distinct=False`` skips the corpus-wide (id, gram) dedup exchange —
    for consumers that immediately broadcast-join the grams against a
    tiny set and re-dedup with countDistinct, the up-front distinct
    shuffles the WHOLE exploded corpus to keep rows the join then drops
    (guide §2.3: aggregate/filter before you shuffle)."""
    norm = df.select(
        F.col(id_col).alias("id"),
        tokens(F.lower(F.col(text_col))).alias("_toks"),
    ).filter(F.size("_toks") >= n)  # sequence(1, 0) would run DESCENDING
    grams = F.transform(
        F.sequence(F.lit(1), F.size("_toks") - (n - 1)),
        lambda i: F.concat_ws(" ", F.slice("_toks", i, n)),
    )
    out = norm.select("id", F.explode(grams).alias("gram"))
    return out.distinct() if distinct else out


def repetition_signals(df: DataFrame, text_col: str = "text",
                       id_col: str = "doc_id") -> DataFrame:
    """Gopher-style within-document repetition signals, per doc:

    * ``top_bigram`` / ``top_bigram_count`` — the most frequent word
      2-gram (ties broken to the lexicographically smallest, so the
      answer is engine-independent) and its occurrence count;
    * ``top_bigram_frac`` — characters covered by those occurrences
      (count × gram length, overlapping windows counted as Gopher does)
      over the length of the single-space-joined lowercase token stream;
    * ``dup_trigram_frac`` — same numerator summed over every word
      3-gram occurring ≥2 times.

    High values flag boilerplate/spam (lyrics, keyword stuffing, scraped
    menus) that per-line rules (quality_rule_flags) miss. Shape: one
    tokenization, two explode→groupBy counts keyed by (doc, gram) —
    partial-aggregable, no corpus-wide state, joins back on doc id.
    Docs with fewer words than the gram width get count 0 / null gram.
    """
    norm = spread(df).select(
        F.col(id_col).alias("id"),
        tokens(F.lower(F.col(text_col))).alias("_toks"),
    )
    den = norm.select(
        "id", F.size("_toks").alias("n_words"),
        F.length(F.concat_ws(" ", "_toks")).alias("_denom"),
    )

    def gram_counts(n: int) -> DataFrame:
        g = norm.filter(F.size("_toks") >= n).select(  # sequence() descends
            "id",                                      # below size n
            F.explode(
                F.transform(
                    F.sequence(F.lit(1), F.size("_toks") - (n - 1)),
                    lambda i: F.concat_ws(" ", F.slice("_toks", i, n)),
                )
            ).alias("gram"),
        )
        return g.groupBy("id", "gram").agg(F.count("*").alias("cnt"))

    c2 = gram_counts(2)
    # single-pass argmax (guide §2.4): min over struct(-cnt, gram) IS
    # (max cnt, tie → lexicographically smallest gram) — the same answer
    # the old max-count aggregate + self-join-back + min(gram) produced,
    # minus one shuffle and one join
    top2 = c2.groupBy("id").agg(
        F.min(F.struct((-F.col("cnt")).alias("_nc"),
                       F.col("gram"))).alias("_top")
    ).select(
        "id",
        (-F.col("_top._nc")).alias("top_bigram_count"),
        F.col("_top.gram").alias("top_bigram"),
    )
    dup3 = gram_counts(3).groupBy("id").agg(
        F.sum(
            F.when(F.col("cnt") >= 2, F.col("cnt") * F.length("gram"))
            .otherwise(F.lit(0))
        ).alias("_dup_chars")
    )
    return (
        den.join(top2, "id", "left").join(dup3, "id", "left")
        .select(
            F.col("id"), "n_words", "top_bigram",
            F.coalesce("top_bigram_count", F.lit(0)).alias("top_bigram_count"),
            # least(1.0, ·): overlapping windows are counted (count ×
            # gram length), so the raw quotient can exceed the stream
            # length on degenerate repeats ('a a a a a'); the published
            # Gopher metric is a character-coverage FRACTION, so cap at 1
            F.when(
                F.col("_denom") > 0,
                F.round(F.least(F.lit(1.0), F.coalesce(
                    F.col("top_bigram_count") * F.length("top_bigram"),
                    F.lit(0),
                ) / F.col("_denom")), 6),
            ).otherwise(F.lit(0.0)).alias("top_bigram_frac"),
            F.when(
                F.col("_denom") > 0,
                F.round(F.least(F.lit(1.0),
                                F.coalesce("_dup_chars", F.lit(0))
                                / F.col("_denom")), 6),
            ).otherwise(F.lit(0.0)).alias("dup_trigram_frac"),
        )
    )


def contamination_report(corpus: DataFrame, benchmark: DataFrame,
                         text_col: str = "text", id_col: str = "doc_id",
                         n: int = 13) -> DataFrame:
    """Training-set docs that share any n-word window with a benchmark/eval
    set: (id, n_shared_grams, n_benchmark_docs). The standard
    pre-training decontamination pass; both sides go through the exploded
    distinct-gram form, so the overlap is ONE equi-join on gram followed by
    a partial-aggregable groupBy — at 100 TB the benchmark side is tiny and
    broadcast."""
    # corpus side: NO up-front distinct (guide §2.3 — the broadcast join
    # drops almost every row map-side; countDistinct below re-dedups the
    # tiny survivor set). The old shape shuffled every exploded gram of
    # the corpus just to dedup rows the join then discarded.
    cg = word_ngrams_exploded(spread(corpus), text_col, id_col, n,
                              distinct=False)
    bg = word_ngrams_exploded(benchmark, text_col, id_col, n).select(
        F.col("id").alias("bench_id"), "gram"
    )
    return (
        cg.join(F.broadcast(bg), "gram")
        .groupBy("id")
        .agg(
            F.countDistinct("gram").alias("n_shared_grams"),
            F.countDistinct("bench_id").alias("n_benchmark_docs"),
        )
    )


def eval_containment(corpus: DataFrame, benchmark: DataFrame,
                     text_col: str = "text", id_col: str = "doc_id",
                     n: int = 8, threshold: float = 0.5) -> DataFrame:
    """(id, bench_id, n_shared, containment) — ASYMMETRIC benchmark
    containment: for every (training doc, benchmark item) pair sharing
    any n-gram, the fraction of the benchmark item's distinct n-grams
    the training doc contains, kept when ≥ ``threshold``. This is the
    |A∩B| / |A| form (A = the benchmark item) the GPT-4/Llama
    decontamination reports use — Jaccard misses a short eval item
    verbatim-embedded in a long training doc (|A∩B| / |A∪B| → 0 as the
    doc grows), containment scores it 1.0. Complements
    :func:`contamination_report` (any-overlap counts, no normalization).

    Scale shape: the benchmark side is tiny by construction (an eval
    suite, not a corpus) — its distinct grams AND its per-item totals
    both broadcast; the corpus side explodes once and the only wide
    shuffle is the partial-aggable per-pair count. The ``threshold``
    compare runs on the 6dp-ROUNDED ratio so both engines make the
    identical keep decision at the boundary (the r3 float-form lesson).
    Reference analog: the reference dedups exact content only
    (index_images.py md5); containment is the training-pipeline
    generalization."""
    # corpus side: NO up-front distinct — the broadcast join against the
    # tiny benchmark gram set drops almost every exploded row map-side,
    # and countDistinct re-dedups the survivors per (doc, item) pair;
    # the old shape paid a corpus-wide (id, gram) dedup exchange first
    # (guide §2.3: filter before you shuffle)
    cg = word_ngrams_exploded(spread(corpus), text_col, id_col, n,
                              distinct=False)
    bg = word_ngrams_exploded(benchmark, text_col, id_col, n).select(
        F.col("id").alias("bench_id"), "gram")
    btot = bg.groupBy("bench_id").agg(F.count("*").alias("_nb"))
    shared = (
        cg.join(F.broadcast(bg), "gram")
        .groupBy("id", "bench_id")
        .agg(F.countDistinct("gram").alias("n_shared"))
    )
    return (
        shared.join(F.broadcast(btot), "bench_id")
        .withColumn("containment",
                    F.round(F.col("n_shared") / F.col("_nb"), 6))
        .filter(F.col("containment") >= threshold)
        .select("id", "bench_id", "n_shared", "containment")
    )


def ngram_novelty(df: DataFrame, text_col: str = "text",
                  id_col: str = "doc_id", n: int = 8) -> DataFrame:
    """(id, n_grams, n_novel, novelty) — per-doc novelty: the fraction of
    a document's DISTINCT n-grams that occur in no other document. The
    cross-document complement of the within-doc repetition signals
    (q64) and the per-position dup spans (q82): a low-novelty document
    is assembled from text the corpus already holds (template/boilerplate
    fabric), a high-novelty one contributes new sequences — the scalar
    that memorization-risk and data-value triage sort on.

    Scale shape (r6, guide §2.4): per-doc distinct grams are computed
    IN-ROW (array_distinct — the fingerprint_table trick), so ``n_grams``
    is a map-only projection and the global (id, gram) dedup exchange is
    gone. A gram with corpus doc-count 1 has exactly ONE owner, so
    ``n_novel`` falls out of the gram census itself — groupBy(gram)
    keeping min(id), filter count==1, regroup by that owner — replacing
    the old exploded-corpus × gram-census JOIN with a second aggregate
    over the (tiny) unique-gram set. One corpus-wide exchange total
    (the gram census, partial-aggable) instead of distinct + census +
    co-keyed join + per-doc reduce."""
    norm = spread(df).select(
        F.col(id_col).alias("id"),
        tokens(F.lower(F.col(text_col))).alias("_toks"),
    ).filter(F.size("_toks") >= n)
    grams = F.transform(
        F.sequence(F.lit(1), F.size("_toks") - (n - 1)),
        lambda i: F.concat_ws(" ", F.slice("_toks", i, n)),
    )
    # (id, distinct-gram array) — materialized once: the census explode
    # and the map-only n_grams projection both consume it
    dg = norm.select("id", F.array_distinct(grams).alias("_g")).localCheckpoint(
        eager=True
    )
    n_grams = dg.select("id", F.size("_g").alias("n_grams"))
    census = (
        dg.select("id", F.explode("_g").alias("gram"))
        .groupBy("gram")
        .agg(F.count("*").alias("_nd"), F.min("id").alias("_owner"))
    )
    novel = (
        census.filter(F.col("_nd") == 1)
        .groupBy(F.col("_owner").alias("id"))
        .agg(F.count("*").cast("long").alias("n_novel"))
    )
    return (
        n_grams.join(novel, "id", "left")
        .select(
            "id",
            F.col("n_grams").cast("long").alias("n_grams"),
            F.coalesce("n_novel", F.lit(0).cast("long")).alias("n_novel"),
        )
        .withColumn("novelty",
                    F.round(F.col("n_novel") / F.col("n_grams"), 6))
    )


def vocab_stats(df: DataFrame, text_col: str = "text",
                id_col: str = "doc_id", k: int = 20) -> DataFrame:
    """Corpus-wide top-k vocabulary census: (token, n_occurrences, n_docs)
    ordered by count — explode + groupBy (map-side partial agg) +
    TakeOrderedAndProject. The doc-frequency column is what stopword/
    boilerplate-token discovery reads at corpus scale."""
    toks = tokens(F.lower(F.col(text_col)))
    ex = df.select(F.col(id_col).alias("id"), F.explode(toks).alias("token"))
    return (
        ex.groupBy("token")
        .agg(F.count("*").alias("n_occurrences"),
             F.countDistinct("id").alias("n_docs"))
        .orderBy(F.desc("n_occurrences"), F.asc("token"))
        .limit(k)
    )


def pack_sequences(df: DataFrame, token_col: str = "n_tokens",
                   budget: int = 2048, shard_col: Column | None = None,
                   order_cols: tuple = ("doc_id",),
                   n_shards: int = 16) -> DataFrame:
    """GPT-style concat-and-chunk packing assignment: each doc gets the
    fixed-token-budget training sequence it STARTS in, via a running token
    sum over a deterministic order — ``seq_in_shard =
    floor((cum - n_tokens) / budget)`` (docs may straddle a boundary; the
    loader chunks them, the standard pretraining concatenation).

    Scale shape: the window is partitioned by a SHARD key (default
    pmod(xxhash64(first order col), n_shards)), so no task ever sorts the
    whole corpus — each shard packs independently (sequences never span
    shards, which is also what keeps packing deterministic under any
    cluster layout). At 10^12 docs pick n_shards ≈ total cores × 4."""
    from pyspark.sql import Window

    shard = (
        shard_col
        if shard_col is not None
        else F.pmod(F.xxhash64(order_cols[0]), F.lit(n_shards)).cast("int")
    )
    out = df.withColumn("shard", shard)
    w = (
        Window.partitionBy("shard")
        .orderBy(*[F.col(c) for c in order_cols])
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = F.sum(token_col).over(w)
    return (
        out.withColumn("cum_tokens", cum)
        .withColumn(
            "seq_in_shard",
            F.floor((F.col("cum_tokens") - F.col(token_col)) / budget),
        )
    )


def char_ngrams(col: Column, n: int = 3) -> Column:
    """Distinct character n-gram shingles (JVM-side via sequence+transform)."""
    t = F.lower(F.trim(col))
    return F.when(
        F.length(t) >= n,
        F.array_distinct(
            F.transform(
                F.sequence(F.lit(1), F.length(t) - (n - 1)),
                lambda i: t.substr(i, F.lit(n)),
            )
        ),
    ).otherwise(F.array().cast("array<string>"))


def fingerprint(col: Column, n: int = 4) -> Column:
    """Order-insensitive document fingerprint: md5 over the sorted distinct
    n-gram shingle set — the reference's content-hash idempotency key
    (/root/reference/index_images.py:206) made robust to reordering.

    Column form — O(len²) per doc (see exploded_shingles); fine for short
    strings, use fingerprint_table for corpus-scale runs."""
    return F.md5(F.concat_ws("", F.array_sort(char_ngrams(col, n))))


def exploded_shingles(df: DataFrame, text_col: str, id_col: str,
                      n: int, distinct: bool = True) -> DataFrame:
    """(id, _sh) — one row per distinct char n-gram shingle per doc.

    The normalized string is materialized in a projection *below* the
    explode, so ``lower(trim(text))`` runs once per document. The array
    formulation (transform over sequence with substr lambdas) re-evaluates
    the normalization inside every lambda iteration — O(len²) per document
    and interpreted (higher-order functions skip codegen); this explode
    shape is the scale path for all shingle consumers (minhash, simhash,
    fingerprints).

    ``distinct=False`` skips the corpus-wide (id, _sh) dedup exchange for
    consumers whose downstream aggregation is duplicate-insensitive
    (min-hash, collect_set) — guide §2.3/§2.4.
    """
    norm = df.select(
        F.col(id_col).alias("id"),
        F.lower(F.trim(F.col(text_col))).alias("_norm"),
    ).filter(F.length("_norm") >= n)
    out = (
        norm.select(
            "id", "_norm",
            F.explode(F.sequence(F.lit(1), F.length("_norm") - (n - 1))).alias("_i"),
        )
        .select("id", F.expr(f"substring(_norm, _i, {n})").alias("_sh"))
    )
    return out.distinct() if distinct else out


def shingle_sets(df: DataFrame, text_col: str, id_col: str, n: int) -> DataFrame:
    """(id, grams array<string>) — distinct shingle set per doc via the
    explode path (order-irrelevant: consumers do set ops). collect_set
    dedups inside the aggregate, so no up-front distinct exchange."""
    return (
        exploded_shingles(df, text_col, id_col, n, distinct=False)
        .groupBy("id")
        .agg(F.collect_set("_sh").alias("grams"))
    )


def fingerprint_table(df: DataFrame, text_col: str = "text",
                      id_col: str = "doc_id", n: int = 4) -> DataFrame:
    """(id, fingerprint) for a whole corpus; documents too short to
    shingle get md5('') (parity with the Column form).

    r6 shape (guide §2.4 — remove shuffles outright): the per-doc
    distinct shingle set is extracted IN-ROW with one zero-width-
    lookahead regex pass — ``(?s)(?=(.{n}))`` captures the n chars
    starting at every position, i.e. exactly the overlapping n-gram
    windows ((?s) so grams may span newlines) — then
    array_distinct → array_sort → md5, all per-row JVM. The old explode
    → distinct → collect_list chain shuffled every character position of
    the corpus twice and ran its explode in ONE scan task on single-row-
    group inputs. Set equality: both enumerate every i in
    [1, len−n+1] → substring(i, n); a doc shorter than n yields no
    lookahead match → empty array → concat_ws('') = '' → md5('')."""
    norm = F.lower(F.trim(F.col(text_col)))
    grams = F.regexp_extract_all(norm, F.lit(r"(?s)(?=(." + "{%d}" % n + "))"),
                                 1)
    return spread(df).select(
        F.col(id_col).alias("id"),
        F.md5(
            F.concat_ws("", F.array_sort(F.array_distinct(grams)))
        ).alias("fingerprint"),
    )


def tfidf_top_terms(df: DataFrame, text_col: str = "text",
                    id_col: str = "doc_id", k: int = 3) -> DataFrame:
    """(id, term, tf, tfidf, rank) — the top-``k`` TF-IDF terms per
    document: per-doc keyword extraction, the classical summary a corpus
    browser shows next to each hit (the reference surfaces raw excerpts,
    /root/reference/app.py:930-966; TF-IDF is the principled per-doc
    term salience those excerpts approximate).

    Scale shape: tokens explode ONCE; document frequency is a window
    count over the ``term`` partition of the (doc, term) tf table — the
    vocabulary is corpus-sized, so df is NEVER collected or broadcast
    (contrast q60, whose df table is |query terms| wide). Two shuffles
    total (term, then doc for the top-k window); ranking uses the
    6dp-ROUNDED score + term so top-k boundaries agree across engines
    whose float orders differ."""
    from pyspark.sql.window import Window

    toks = df.select(
        F.col(id_col).alias("id"),
        F.explode(
            F.filter(F.split(F.lower(F.col(text_col)), "[^a-z]+"),
                     lambda t: t != "")
        ).alias("term"),
    )
    tf = toks.groupBy("id", "term").agg(F.count("*").alias("tf"))
    # df via window over the term partition: tf is already shuffling by
    # (id, term); one more hash exchange on term, no driver-side vocab
    tf = tf.withColumn(
        "df", F.count("*").over(Window.partitionBy("term"))
    )
    stats = df.agg(F.count("*").alias("n_docs"))
    scored = tf.crossJoin(F.broadcast(stats)).select(
        "id", "term", "tf",
        F.round(
            F.col("tf") * F.log(F.col("n_docs") / F.col("df")), 6
        ).alias("tfidf"),
    )
    w = Window.partitionBy("id").orderBy(F.desc("tfidf"), F.asc("term"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )


def winnow_fingerprints(df: DataFrame, text_col: str = "text",
                        id_col: str = "doc_id", k: int = 4,
                        w: int = 5) -> DataFrame:
    """(id, fp_hash, fp_pos) — winnowing fingerprints (Schleimer, Wilkerson
    & Aiken, SIGMOD'03; the MOSS local fingerprinting scheme): hash every
    ``k``-token shingle, slide a ``w``-window over the hash sequence, and
    select the RIGHTMOST minimal hash per window. Guarantees every match
    of length ≥ ``w + k - 1`` tokens shares a fingerprint, at ~2/(w+1)
    the density of full shingling — the sub-document near-dup index that
    feeds plagiarism/duplicate-span detection at corpus scale.

    Engine-portable argmin: (hash, position) packs into ONE bigint key
    ``h * 2^31 + (2^31 - 1 - pos)`` (h is 32 bits, so the max key is
    exactly 2^63 - 1 — int64-exact in both engines, and the arithmetic
    never leaves integer types); a window ``min`` over the key is
    then min-by-hash with ties to the RIGHTMOST position, with no
    struct-ordering or argmin_by dependence. Hashes are md5-derived so
    the whole operator value-oracles cross-engine. The position field is
    2^31 wide because it must dominate any real document: a 2^20 field
    went NEGATIVE for docs with ≥ 1M k-grams, borrowing from the hash
    bits and silently corrupting the argmin (r5 review finding).

    Scale shape: one explode, one per-doc window (partition = doc id —
    shuffles by doc, never global), distinct on the selected (pos, hash)
    pairs. Docs shorter than ``w + k - 1`` tokens have no full window and
    emit nothing (the winnowing guarantee is vacuous below that length)."""
    from pyspark.sql.window import Window

    m = 1 << 31
    norm = df.select(
        F.col(id_col).alias("id"),
        tokens(F.lower(F.col(text_col))).alias("_toks"),
    ).filter(F.size("_toks") >= k + w - 1)
    grams = F.transform(
        F.sequence(F.lit(1), F.size("_toks") - (k - 1)),
        lambda i: F.concat_ws(" ", F.slice("_toks", i, k)),
    )
    g = norm.select("id", F.posexplode(grams).alias("pos", "gram"))
    h = F.conv(F.substring(F.md5("gram"), 1, 8), 16, 10).cast("long")
    keyed = g.select(
        "id", "pos",
        (h * m + (F.lit(m - 1) - F.col("pos"))).alias("_key"),
    )
    win = (
        Window.partitionBy("id").orderBy("pos").rowsBetween(-(w - 1), 0)
    )
    sel = (
        keyed.select(
            "id", "pos", F.min("_key").over(win).alias("_wkey")
        )
        .filter(F.col("pos") >= w - 1)  # full windows only
    )
    return sel.select(
        "id",
        F.expr(f"CAST(_wkey div {m} AS BIGINT)").alias("fp_hash"),
        (F.lit(m - 1) - F.pmod("_wkey", F.lit(m))).cast("long").alias("fp_pos"),
    ).distinct()


def dsir_logweights(corpus: DataFrame, target: DataFrame,
                    text_col: str = "text", id_col: str = "doc_id",
                    n_buckets: int = 1024) -> DataFrame:
    """(id, log_weight) — DSIR-style importance weights (Xie et al.,
    NeurIPS'23 "Data Selection for Language Models via Importance
    Resampling"): hashed-unigram bag features, per-doc weight
    ``Σ_f n_f(doc) · log( p̂_target(f) / p̂_raw(f) )`` with add-one
    smoothing over the hashed bucket space. Docs that look like the
    target distribution score high; importance resampling then keeps
    docs ∝ exp(weight) — here we emit the raw log weight, the
    deterministic part every selection policy shares.

    Determinism across engines: the per-bucket log-ratio is quantized to
    INTEGER micro-nats (round(lr·10⁶) as bigint) and the per-doc sum is
    exact integer arithmetic — no float summation order, and no final
    rounding boundary for a 1-ulp ``ln`` divergence between libms to
    straddle (a 9dp-decimal + final-6dp-round variant failed exactly
    there: sums differing by ~1e-7 landed on opposite sides of the 6dp
    half). The only residual divergence window is a 1-ulp ln difference
    at a .5-micro-nat boundary, ~1e-10 per bucket. The output divides
    the integer by 10⁶ (exactly representable), a correctly-rounded
    deterministic double both engines agree on bit-for-bit. Buckets are
    md5-derived mod ``n_buckets`` (1024 divides 16^5, so the 5-hex-digit
    bucket draw is UNbiased — the deterministic_split lesson).

    Scale shape: features explode once per side; both distributions
    reduce to ≤ ``n_buckets`` rows (partial-agg shuffles), the log-ratio
    table broadcasts, and the per-doc sum is one more partial-agg
    groupBy. Nothing quadratic, nothing driver-side."""

    def feats(d: DataFrame) -> DataFrame:
        # explode first (generators can't nest inside expressions), then
        # hash the term to its bucket
        terms = spread(d).select(
            F.col(id_col).alias("id"),
            F.explode(
                F.filter(F.split(F.lower(F.col(text_col)), "[^a-z]+"),
                         lambda t: t != "")
            ).alias("term"),
        )
        return terms.select(
            "id",
            F.pmod(
                F.conv(F.substring(F.md5("term"), 1, 5), 16, 10)
                .cast("long"),
                F.lit(n_buckets),
            ).alias("bucket"),
        )

    raw_f = feats(corpus)
    tgt_f = feats(target)
    raw_c = raw_f.groupBy("bucket").agg(F.count("*").alias("n_raw"))
    tgt_c = tgt_f.groupBy("bucket").agg(F.count("*").alias("n_tgt"))
    totals = (
        raw_f.agg(F.count("*").alias("tot_raw"))
        .crossJoin(tgt_f.agg(F.count("*").alias("tot_tgt")))
    )
    ratio = (
        raw_c.join(tgt_c, "bucket", "left")
        .crossJoin(F.broadcast(totals))
        .select(
            "bucket",
            F.round(
                F.log(
                    ((F.coalesce(F.col("n_tgt"), F.lit(0)) + 1)
                     / (F.col("tot_tgt") + n_buckets))
                    / ((F.col("n_raw") + 1)
                       / (F.col("tot_raw") + n_buckets))
                ) * 1000000.0,
                0,
            ).cast("long").alias("lr_micro"),
        )
    )
    dcnt = raw_f.groupBy("id", "bucket").agg(F.count("*").alias("n"))
    return (
        dcnt.join(F.broadcast(ratio), "bucket")
        .groupBy("id")
        .agg(
            (F.sum(F.col("n") * F.col("lr_micro")) / F.lit(1000000.0))
            .alias("log_weight")
        )
    )


def dup_spans(df: DataFrame, text_col: str = "text",
              id_col: str = "doc_id", n: int = 8,
              min_docs: int = 2) -> DataFrame:
    """(id, span_start, span_end, n_grams) — cross-document EXACT-substring
    duplicate spans (Lee et al., ACL'22 "Deduplicating Training Data Makes
    Language Models Better" — the ExactSubstr policy, re-expressed over
    token ``n``-grams instead of a suffix array): every token position
    whose ``n``-gram occurs in ≥ ``min_docs`` DISTINCT documents is
    duplicated text, and maximal runs of duplicated positions merge into
    one inclusive token-coordinate span ``[span_start, span_end]``
    (``span_end = last duplicated gram start + n - 1``). Downstream
    removal cuts exactly these ranges; unlike whole-doc near-dup this
    catches boilerplate embedded inside otherwise-unique documents —
    the reference's repeated-header problem (its per-page OCR text
    repeats Bates stamps and scanner banners across every document,
    /root/reference/ocr_processor.py) at corpus scale.

    Scale shape: the raw-text scan + tokenize runs ONCE (the tokenized
    frame is checkpointed; the gram expansion itself is re-derived on
    each side — cheap array slicing, deliberately NOT materialized: the
    gram table is ~``n``× the corpus and costs more to spill than to
    recompute). ONE wide shuffle keyed on the gram for the distinct-doc
    count; a semi-join back on the same key; then island-merging under a
    PER-DOC window (partition = doc id, never global). The distinct-doc
    count is a partial-aggable ``count_distinct`` — skew on mega-grams
    ("the" * 8) is bounded by the two-level partial aggregate, not a
    bucket cap.

    r6 (guide §2.3 — shuffle fewer BYTES): the census/semi-join key is
    ``xxhash64`` of the n-token slice itself — no per-position string
    concatenation, and the two gram-keyed exchanges carry 8-byte longs
    instead of ~50-char strings. Identical output absent a 64-bit
    collision between two distinct grams (P ≈ m²/2⁶⁵ ≈ 1e-6 at 10M
    distinct grams — the same accepted bound as the minhash verify
    path's hashed-gram jaccard, dedup.minhash_dedup_pairs); span
    coordinates and counts are unchanged because the key never reaches
    the output."""
    from pyspark.sql.window import Window

    toks = spread(df).select(
        F.col(id_col).alias("id"),
        tokens(F.lower(F.col(text_col))).alias("_toks"),
    ).filter(F.size("_toks") >= n).localCheckpoint(eager=True)
    grams = F.transform(
        F.sequence(F.lit(1), F.size("_toks") - (n - 1)),
        lambda i: F.xxhash64(F.slice("_toks", i, n)),
    )
    g = toks.select("id", F.posexplode(grams).alias("pos", "gram"))
    dup = (
        g.groupBy("gram")
        .agg(F.count_distinct("id").alias("_nd"))
        .filter(F.col("_nd") >= min_docs)
        .select("gram")
    )
    marked = g.join(dup, "gram", "left_semi")
    w = Window.partitionBy("id").orderBy("pos")
    islands = marked.withColumn(
        "_grp", F.col("pos") - F.row_number().over(w))
    return (
        islands.groupBy("id", "_grp")
        .agg(
            F.min("pos").cast("long").alias("span_start"),
            (F.max("pos") + F.lit(n - 1)).cast("long").alias("span_end"),
            F.count("*").alias("n_grams"),
        )
        .select("id", "span_start", "span_end", "n_grams")
    )


def lm_perplexity(df: DataFrame, text_col: str = "text",
                  id_col: str = "doc_id") -> DataFrame:
    """(id, nll_micro, n_bigrams, score, bucket) — bigram-LM negative
    log-likelihood scoring, the CCNet-style perplexity quality signal
    (Wenzek et al., LREC'20) with the LM trained ON the corpus itself:
    add-one-smoothed bigram probabilities ``p(w2|w1) = (C(w1,w2)+1) /
    (C1(w1)+V)``, per-doc ``score`` = average negative log-prob in nats
    per bigram, and a deterministic two-way ``bucket`` split at the
    corpus mean ('head' = at/below mean NLL ≈ more fluent, 'tail' =
    above). CCNet buckets by tercile of a global sort; the mean
    threshold keeps the same head/tail selection contract without a
    global ordering (an ntile would force Exchange SinglePartition,
    which this repo's plan sweep forbids).

    Determinism across engines (the DSIR lesson, see
    :func:`dsir_logweights`): each bigram's log-prob quantizes to
    INTEGER micro-nats, per-doc totals are exact integer sums
    (``nll_micro``), and the corpus mean divides two exact integer sums
    — no float summation order anywhere, and the only residual
    divergence window is a 1-ulp ``ln`` difference landing exactly on a
    .5-micro-nat boundary (~1e-10 per bigram type).

    Scale shape: bigram stats come from per-(doc, w1, w2) counts with
    corpus totals as WINDOW sums over the (w1, w2) and (w1,) partitions
    — the count frame shuffles once per partitioning and never joins a
    separate stats table; V and the corpus mean are global scalar
    aggregates crossJoin-broadcast back (no single-partition exchange).
    Corpus sums use decimal(38,0): at 10^12 bigrams × ~1.5e7 micro-nats
    a bigint sum overflows ANSI arithmetic."""
    from pyspark.sql.window import Window

    toks0 = spread(df).select(
        F.col(id_col).alias("id"),
        tokens(F.lower(F.col(text_col))).alias("_toks"),
    )
    # V is the WHOLE corpus vocabulary — including 1-token documents,
    # which contribute no bigram but do name a word the smoothing
    # denominator must cover (and which the SQL oracle counts; a
    # >=2-token-filtered V diverged whenever a single-token doc held an
    # otherwise-unseen word — r5 review finding)
    vocab = (
        toks0.select(F.explode("_toks").alias("w"))
        .agg(F.count_distinct("w").alias("v"))
    )
    toks = toks0.filter(F.size("_toks") >= 2)
    bigrams = F.transform(
        F.sequence(F.lit(1), F.size("_toks") - 1),
        lambda i: F.struct(
            F.element_at("_toks", i).alias("w1"),
            F.element_at("_toks", (i + F.lit(1)).cast("int")).alias("w2"),
        ),
    )
    bg = toks.select(
        "id", F.explode(bigrams).alias("_bg")
    ).select("id", F.col("_bg.w1").alias("w1"), F.col("_bg.w2").alias("w2"))
    cnt = bg.groupBy("id", "w1", "w2").agg(F.count("*").alias("n"))
    c12 = F.sum("n").over(Window.partitionBy("w1", "w2"))
    c1 = F.sum("n").over(Window.partitionBy("w1"))
    scored = (
        cnt.crossJoin(F.broadcast(vocab))
        .withColumn("_c12", c12)
        .withColumn("_c1", c1)
        .withColumn(
            "_lp_micro",
            F.round(
                F.log((F.col("_c12") + 1) / (F.col("_c1") + F.col("v")))
                * 1000000.0, 0,
            ).cast("long"),
        )
    )
    docs = scored.groupBy("id").agg(
        (-F.sum(F.col("n") * F.col("_lp_micro"))).alias("nll_micro"),
        F.sum("n").alias("n_bigrams"),
    )
    corpus = docs.agg(
        F.sum(F.col("nll_micro").cast("decimal(38,0)")).alias("s"),
        F.sum("n_bigrams").alias("t"),
    ).select(
        (F.col("s").cast("double") / F.col("t").cast("double")
         / F.lit(1000000.0)).alias("_mean")
    )
    score = (F.col("nll_micro").cast("double") / F.lit(1000000.0)
             / F.col("n_bigrams"))
    return (
        docs.crossJoin(F.broadcast(corpus))
        .select(
            "id", "nll_micro", "n_bigrams",
            F.round(score, 6).alias("score"),
            F.when(score <= F.col("_mean"), F.lit("head"))
            .otherwise(F.lit("tail")).alias("bucket"),
        )
    )


def nb_quality_scores(corpus: DataFrame, labeled: DataFrame,
                      text_col: str = "text", id_col: str = "doc_id",
                      label_col: str = "label",
                      n_buckets: int = 1024) -> DataFrame:
    """(id, score_micro, n_terms, nb_score) — binary multinomial Naive
    Bayes over hashed-unigram bags: train per-bucket class-conditional
    log-likelihood ratios on ``labeled`` (boolean ``label_col``), score
    every ``corpus`` doc with the length-normalized mean token log-odds
    ``nb_score = (Σ_b n_b · lr_b) / Σ_b n_b`` in nats. This is the
    model-based quality-filter step of web-scale curation (GPT-3's
    curated-vs-raw classifier; FineWeb-Edu's distilled labeler): label a
    subset — by rule, by a reference corpus, by an expensive model — fit
    the cheap classifier, score the whole corpus, keep the top of the
    ranking. It differs from :func:`dsir_logweights` (importance weights
    between two UNlabeled distributions) in being supervised: a labeled
    frame, add-one-smoothed per-CLASS token rates over the full bucket
    domain (unseen buckets get the smoothed default, not zero), and a
    per-token decision scale that a budgeted top-k can rank on.

    Determinism across engines (the DSIR lesson): per-bucket log-ratios
    quantize to INTEGER micro-nats over the full ``n_buckets`` domain,
    per-doc sums are exact integer arithmetic (``score_micro``), and the
    final normalization divides two exact integers — the same operand
    order as the oracle (`CAST(s AS DOUBLE) / n / 1e6`), so the double
    is bit-identical. Buckets are md5-derived mod ``n_buckets`` (1024
    divides 16⁵ — unbiased draw).

    Scale shape: one explode per side; class counts reduce to
    ``n_buckets`` rows (partial-agg shuffle), the ratio table is a
    bounded broadcast, and scoring is one partial-agg groupBy over the
    corpus features. Nothing quadratic, nothing driver-side."""
    spark = corpus.sparkSession

    def feats(d: DataFrame, extra: tuple = ()) -> DataFrame:
        terms = spread(d).select(
            F.col(id_col).alias("id"),
            *[F.col(c) for c in extra],
            F.explode(
                F.filter(F.split(F.lower(F.col(text_col)), "[^a-z]+"),
                         lambda t: t != "")
            ).alias("term"),
        )
        return terms.select(
            "id", *extra,
            F.pmod(
                F.conv(F.substring(F.md5("term"), 1, 5), 16, 10)
                .cast("long"),
                F.lit(n_buckets),
            ).alias("bucket"),
        )

    lab_f = feats(
        labeled.select(F.col(id_col),
                       F.col(text_col),
                       F.col(label_col).cast("boolean").alias("_y")),
        extra=("_y",),
    )
    cls_c = lab_f.groupBy("bucket").agg(
        F.sum(F.when(F.col("_y"), 1).otherwise(0)).alias("n_pos"),
        F.sum(F.when(~F.col("_y"), 1).otherwise(0)).alias("n_neg"),
    )
    totals = lab_f.agg(
        F.sum(F.when(F.col("_y"), 1).otherwise(0)).alias("tot_pos"),
        F.sum(F.when(~F.col("_y"), 1).otherwise(0)).alias("tot_neg"),
    )
    # full bucket domain: a corpus bucket unseen in training scores the
    # add-one default ln((1/(tot_pos+B))/(1/(tot_neg+B))), not 0 — the
    # Naive Bayes smoothing semantics (a left join from corpus buckets
    # into a training-only ratio table would silently zero them)
    domain = spark.range(n_buckets).select(
        F.col("id").cast("long").alias("bucket")
    )
    ratio = (
        domain.join(cls_c, "bucket", "left")
        .crossJoin(F.broadcast(totals))
        .select(
            "bucket",
            F.round(
                F.log(
                    ((F.coalesce(F.col("n_pos"), F.lit(0)) + 1)
                     / (F.col("tot_pos") + n_buckets))
                    / ((F.coalesce(F.col("n_neg"), F.lit(0)) + 1)
                       / (F.col("tot_neg") + n_buckets))
                ) * 1000000.0,
                0,
            ).cast("long").alias("lr_micro"),
        )
    )
    dcnt = feats(corpus).groupBy("id", "bucket").agg(F.count("*").alias("n"))
    return (
        dcnt.join(F.broadcast(ratio), "bucket")
        .groupBy("id")
        .agg(
            F.sum(F.col("n") * F.col("lr_micro")).alias("score_micro"),
            F.sum("n").alias("n_terms"),
        )
        .select(
            "id", "score_micro", "n_terms",
            (F.col("score_micro").cast("double") / F.col("n_terms")
             / F.lit(1000000.0)).alias("nb_score"),
        )
    )


# ---------------------------------------------------------------------------
# encoding repair (ftfy-style mojibake) + DSIR selection
# ---------------------------------------------------------------------------

def _sloppy_cp1252(b: bytes) -> str:
    """Decode bytes as windows-1252 with latin-1 fallthrough for the five
    undefined cp1252 slots — exactly how UTF-8 text gets mangled when a
    scraper misdeclares the charset (ftfy's "sloppy-windows-1252")."""
    out = []
    for x in b:
        try:
            out.append(bytes([x]).decode("cp1252"))
        except UnicodeDecodeError:
            out.append(chr(x))
    return "".join(out)


# (mojibake sequence, intended character): the UTF-8 bytes of each target
# char re-decoded as sloppy cp1252. Longest (3-byte) sequences first so a
# later 2-byte fix can never split an unfixed 3-byte one.
MOJIBAKE_FIXES: list[tuple[str, str]] = [
    (_sloppy_cp1252(ch.encode("utf-8")), ch)
    for ch in "’“”–—"  # ’ “ ” – —
] + [
    (_sloppy_cp1252(ch.encode("utf-8")), ch)
    for ch in "éèêüöäñçà"
]


def fix_mojibake(col: Column) -> Column:
    """Repair the classic UTF-8-read-as-cp1252 double-encoding artifacts
    (ftfy's core fix, the CCNet/C4 encoding-cleanup step) as a chain of
    JVM ``replace`` calls — whole-stage-codegen'd, no Python, no regex
    backtracking. Idempotent: no repaired character re-encodes to a
    sequence the chain matches (pinned by test)."""
    for bad, good in MOJIBAKE_FIXES:
        col = F.replace(col, F.lit(bad), F.lit(good))
    return col


def mojibake_census(df: DataFrame, text_col: str = "text",
                    id_col: str = "doc_id") -> DataFrame:
    """(id, was_mojibake, chars_before, chars_after) — per-doc encoding
    repair report: flag + codepoint counts around :func:`fix_mojibake`
    (every fix strictly shrinks the text, so ``chars_before >
    chars_after`` iff a fix applied). Pure column expressions; the scan
    prunes to (id, text)."""
    fixed = fix_mojibake(F.col(text_col))
    return df.select(
        F.col(id_col).alias("id"),
        (F.length(text_col) > F.length(fixed)).alias("was_mojibake"),
        F.length(text_col).cast("long").alias("chars_before"),
        F.length(fixed).cast("long").alias("chars_after"),
    )


def dsir_select(corpus: DataFrame, target: DataFrame,
                text_col: str = "text", id_col: str = "doc_id",
                k: int = 100, n_buckets: int = 1024,
                seed: str = "sel0") -> DataFrame:
    """Gumbel top-k importance resampling — the SELECTION step DSIR (Xie
    et al. NeurIPS'23 §3) runs on top of :func:`dsir_logweights`: sampling
    k docs without replacement ∝ exp(log_weight) is exactly taking the
    top k by ``log_weight + Gumbel noise``. The noise here is a
    DETERMINISTIC hash draw — ``u = (md5(seed:id)₅ + 0.5) / 16⁵`` (a
    dyadic rational, exact in double), ``g = −ln(−ln u)`` — so the epoch
    selection is reproducible data, re-drawable with a new ``seed``
    (the q83 shard-shuffle lesson applied to sampling).

    Determinism across engines: the Gumbel quantizes to integer
    micro-nats like the weights themselves, and the ranking key is the
    exact integer sum ``score_micro = lw_micro + g_micro`` with ``id``
    as the final tie-break. The only divergence window is a 1-ulp libm
    ``ln`` difference at a .5-micro-nat rounding boundary (~1e-10 per
    draw — the documented q79 residual).

    Scale shape: weights are the dsir_logweights plan (bounded broadcast
    ratio table, partial-agg sums); the draw is one md5 per row; the
    top-k plans as TakeOrderedAndProject — no global sort, k rows to the
    driver's successor stage."""
    lw = dsir_logweights(corpus, target, text_col=text_col, id_col=id_col,
                         n_buckets=n_buckets)
    # exact integer micro-nats back out of the correctly-rounded double
    lw_micro = F.round(F.col("log_weight") * 1000000.0, 0).cast("long")
    u = (
        (F.conv(
            F.substring(
                F.md5(F.concat(F.lit(seed + ":"),
                               F.col("id").cast("string"))), 1, 5),
            16, 10).cast("long").cast("double") + F.lit(0.5))
        / F.lit(float(16 ** 5))
    )
    g_micro = F.round(-F.log(-F.log(u)) * 1000000.0, 0).cast("long")
    scored = lw.select(
        "id",
        "log_weight",
        (lw_micro + g_micro).alias("score_micro"),
    )
    return scored.orderBy(F.desc("score_micro"), F.asc("id")).limit(k)


def strip_boilerplate(df: DataFrame, text_col: str = "text",
                      id_col: str = "doc_id", seg_len: int = 10,
                      min_doc_freq: int = 2) -> DataFrame:
    """Corpus-level boilerplate REMOVAL — the apply half of the
    boilerplate-line census (queries.q71): every non-overlapping
    ``seg_len``-token segment whose normalized form appears in
    ``>= min_doc_freq`` distinct documents is cut, and the document is
    re-assembled from the surviving segments in order. This is the
    rewrite step CCNet/RefinedWeb run after detecting repeated lines
    (ToS footers, cookie banners, nav crumbs) — detection alone
    (the census) doesn't change the training corpus.

    Semantics: segmentation is over the NORMALIZED token stream
    (lowercased, whitespace-split), so ``text_clean`` is normalized
    text. The final partial segment (``len % seg_len`` leftover tokens)
    never participates in the census and is always kept — boilerplate
    is a full-segment phenomenon, and a short tail equal to some
    frequent full segment's text is a different string length anyway.
    Returns one row per input document: ``(id, n_segs, n_dropped,
    chars_before, chars_after, clean_md5)`` — the assembled text is
    value-checked by md5 without shipping it (the q54/q95 pattern).

    Scale shape: one tokenize, one posexplode to ~n_tokens/seg_len
    rows, a partial-agg census on the segment string, one shuffle join
    back on the segment, one groupBy on ``id`` to re-assemble. Nothing
    is driver-side and no stage holds more than the segment stream;
    the census output is bounded by the distinct-repeated-segment
    count, not the corpus.
    """
    base = df.select(
        F.col(id_col).alias("id"),
        tokens(F.lower(F.col(text_col))).alias("_toks"),
    ).filter(F.size("_toks") >= 1)
    seg_arr = F.transform(
        F.sequence(
            F.lit(0).cast("long"),
            F.floor((F.size("_toks") - 1) / seg_len).cast("long"),
        ),
        lambda g: F.concat_ws(
            " ", F.slice("_toks", (g * seg_len + 1).cast("int"), seg_len)
        ),
    )
    ex = base.select(
        "id",
        F.size("_toks").alias("_n"),
        F.length(F.concat_ws(" ", "_toks")).alias("_chars_before"),
        F.posexplode(seg_arr).alias("_g", "_seg"),
    )
    # the segment frame feeds BOTH the census build and the join-back
    # probe; without a cut Catalyst re-inlines the scan+tokenize into
    # each consumer — two full corpus passes at 100 TB (the q82
    # dup_spans precedent: checkpoint the tokenized form once)
    ex = ex.localCheckpoint(eager=True)
    full = F.expr(f"(_g + 1) * {seg_len}") <= F.col("_n")
    census = (
        ex.filter(full)
        .groupBy("_seg")
        .agg(F.countDistinct("id").alias("_df"))
        .filter(F.col("_df") >= min_doc_freq)
        .select("_seg", F.lit(True).alias("_is_bp"))
    )
    marked = ex.join(census, "_seg", "left").withColumn(
        "_drop", full & F.coalesce("_is_bp", F.lit(False))
    )
    kept_text = F.array_join(
        F.transform(
            F.array_sort(
                F.collect_list(
                    F.when(~F.col("_drop"), F.struct("_g", "_seg"))
                )
            ),
            lambda x: x["_seg"],
        ),
        " ",
    )
    return (
        marked.groupBy("id")
        .agg(
            F.count("*").cast("long").alias("n_segs"),
            F.sum(F.col("_drop").cast("long")).cast("long")
            .alias("n_dropped"),
            F.first("_chars_before").cast("long").alias("chars_before"),
            F.length(kept_text).cast("long").alias("chars_after"),
            F.md5(kept_text).alias("clean_md5"),
        )
    )


def token_entropy(df: DataFrame, text_col: str = "text",
                  id_col: str = "doc_id") -> DataFrame:
    """Per-document Shannon entropy of the token distribution — the
    classic gibberish / degenerate-repetition quality scalar (a doc
    that repeats one phrase has near-zero entropy; random token soup
    approaches ``ln(n_distinct)``). Complements the positional
    repetition signals (q64) and the bigram-LM score (q84): entropy is
    order-free, so it catches shuffled-boilerplate spam those miss.

    Exactness (the q79/q84 integer micro-nat discipline): per-token-type
    terms quantize to integer micro-nats — ``s = Σ c·round(ln(c)·1e6)``
    is an exact integer sum, immune to float summation order — and
    ``h_micro = round(ln(n)·1e6) − round(s/n)`` divides exact integers
    (correctly-rounded IEEE division both engines agree on).
    ``norm_entropy = h_micro / round(ln(n)·1e6)`` rescales to [0,1]
    (1 = all tokens distinct, 0 = a single repeated token; single-token
    docs define 0).

    Scale shape: one tokenize + explode, one partial-agg groupBy on
    ``(id, token)`` (map-side combine collapses repeats), one groupBy
    on ``id``. Output is one row per document; nothing corpus-wide.
    """
    cnt = (
        df.select(
            F.col(id_col).alias("id"),
            F.explode(tokens(F.lower(F.col(text_col)))).alias("_tok"),
        )
        .groupBy("id", "_tok")
        .agg(F.count("*").alias("_c"))
    )
    lp = F.round(F.log("_c") * 1000000.0, 0).cast("long")
    per = cnt.groupBy("id").agg(
        F.sum("_c").cast("long").alias("n_tokens"),
        F.count("*").cast("long").alias("n_distinct"),
        F.sum(F.col("_c") * lp).cast("long").alias("_s"),
    )
    ln_n = F.round(F.log("n_tokens") * 1000000.0, 0).cast("long")
    h_micro = ln_n - F.round(F.col("_s") / F.col("n_tokens"), 0).cast("long")
    return per.select(
        "id",
        "n_tokens",
        "n_distinct",
        h_micro.alias("h_micro"),
        F.when(F.col("n_tokens") > 1,
               F.round(h_micro.cast("double") / ln_n.cast("double"), 6))
        .otherwise(F.lit(0.0))
        .alias("norm_entropy"),
    )


def robust_length_outliers(df: DataFrame, len_col: str = "n_chars",
                           group_col: str = "source",
                           id_col: str = "doc_id",
                           z_thresh: float = 3.5) -> DataFrame:
    """Per-group robust length-outlier gate: modified z-score from the
    median and the MAD (median absolute deviation), the standard
    curation filter for truncated/concatenated-document artifacts —
    mean/stddev z-scores are themselves dragged by the outliers they
    are supposed to catch, so heavy-tailed web corpora gate on
    ``0.6745·(x − median)/MAD`` (the Iglewicz-Hoberg modified z) with
    the conventional 3.5 cut instead.

    Exactness: both medians run as exact ``percentile`` (the q45
    discipline — linear interpolation, same estimator as DuckDB's
    ``quantile_cont``); deviations of integer lengths from a half-
    integer median are exact doubles, so the whole score is reproduced
    bit-identically by the oracle. Groups whose MAD is 0 (more than
    half the docs share one length) define z = 0 — no division blowup.

    Scale shape: two corpus scans (the second pass is inherent — MAD
    is a median OF deviations from the first-pass median) and two
    |groups|-row stat tables, both broadcast back, so no corpus-wide
    shuffle at all. At 100 TB swap ``percentile`` for
    ``approx_percentile`` (t-digest, partial-aggregable — q52's path);
    the exact form here is what gives the value oracle."""
    med = df.groupBy(group_col).agg(
        F.expr(f"percentile({len_col}, 0.5)").alias("_med")
    )
    # the |groups|-row median table feeds BOTH the MAD pass and the
    # scoring pass; without a cut Catalyst re-inlines its corpus scan
    # into each consumer — 4 corpus scans instead of the inherent 3
    med = med.localCheckpoint(eager=True)
    dev = df.join(F.broadcast(med), group_col)
    mad = dev.groupBy(group_col).agg(
        F.expr(f"percentile(abs({len_col} - _med), 0.5)").alias("_mad")
    )
    scored = dev.join(F.broadcast(mad), group_col)
    z = F.when(
        F.col("_mad") > 0,
        F.lit(0.6745) * (F.col(len_col) - F.col("_med")) / F.col("_mad"),
    ).otherwise(F.lit(0.0))
    return scored.select(
        F.col(id_col).alias("id"),
        F.col(group_col).alias("grp"),
        F.col(len_col).alias("length"),
        F.round(F.col("_med"), 4).alias("grp_median"),
        F.round(F.col("_mad"), 4).alias("grp_mad"),
        F.round(z, 6).alias("robust_z"),
        (F.abs(z) > F.lit(z_thresh)).alias("is_outlier"),
    )


def unigram_kl(df: DataFrame, text_col: str = "text",
               group_col: str = "source",
               id_col: str = "doc_id") -> DataFrame:
    """Per-group unigram-distribution KL divergence vs the whole corpus
    — the mixture-drift diagnostic behind data-mixing dashboards:
    which source's token distribution is unusual, how far a new crawl
    snapshot drifted from the training mix, which domain to re-weight.
    ``KL(p_g ‖ p_c) = Σ_t p_g(t)·ln(p_g(t)/p_c(t))`` over token types.

    Exactness (the q79/q102 integer micro-nat discipline): each type's
    term is ``c_gt·(L(c_gt) − L(N_g) − L(c_t) + L(N))`` with
    ``L(x) = round(ln(x)·1e6)`` — ln at INTEGER arguments, so both
    engines quantize identical doubles — summed as decimal(38,0)
    (at 10^12 tokens a per-type term reaches ~6e19, past bigint).
    Only the final ``/N_g/1e6`` rescale is floating-point.

    Scale shape: one tokenize+explode, one partial-agg groupBy on
    ``(group, token)``, a vocab-sized groupBy on token, then joins of
    |groups|- and |vocab|-sized tables (corpus totals enter via a
    broadcast 1-row cross join). Nothing quadratic, no corpus-wide
    window."""
    gt = (
        df.select(
            F.col(group_col).alias("grp"),
            F.explode(tokens(F.lower(F.col(text_col)))).alias("_tok"),
        )
        .groupBy("grp", "_tok")
        .agg(F.count("*").alias("_c"))
    )
    # the (group, token) count table feeds FOUR consumers (n_g, c_t,
    # the corpus total, and the term join); without a cut Catalyst
    # re-inlines the tokenize+explode into each — 8 corpus scans at
    # 100 TB instead of 1 (the q82/q101 precedent). The table itself
    # is only |groups|x|vocab| rows.
    gt = gt.localCheckpoint(eager=True)
    n_g = gt.groupBy("grp").agg(
        F.sum("_c").cast("long").alias("_n_g"),
        F.count("*").cast("long").alias("n_types"),
    )
    c_t = gt.groupBy("_tok").agg(F.sum("_c").cast("long").alias("_c_t"))
    n_tot = n_g.agg(F.sum("_n_g").cast("long").alias("_n"))

    def _L(col: Column) -> Column:
        return F.round(F.log(col) * 1000000.0, 0).cast("long")

    term = (
        F.col("_c")
        * (_L(F.col("_c")) - _L(F.col("_n_g"))
           - _L(F.col("_c_t")) + _L(F.col("_n")))
    ).cast("decimal(38,0)")
    per_grp = (
        gt.join(F.broadcast(n_g), "grp")
        .join(F.broadcast(c_t), "_tok")
        .crossJoin(F.broadcast(n_tot))
        .groupBy("grp")
        .agg(
            F.max("_n_g").alias("n_tokens"),
            F.max("n_types").alias("n_types"),
            F.sum(term).alias("_kl_micro"),
        )
    )
    return per_grp.select(
        "grp",
        "n_tokens",
        "n_types",
        F.round(
            F.col("_kl_micro").cast("double")
            / F.col("n_tokens") / 1000000.0, 6,
        ).alias("kl_nats"),
    )


def vocab_growth(df: DataFrame, text_col: str = "text",
                 group_col: str = "source", id_col: str = "doc_id",
                 bucket_docs: int = 20) -> DataFrame:
    """Heaps'-law vocabulary-growth curve per group: cumulative distinct
    token types vs cumulative tokens at ingestion checkpoints — the
    corpus-diversity monitor a training pipeline watches while a crawl
    streams in (a flattening curve means new shards add volume but no
    new vocabulary; a type-token ratio that stops falling means dedup
    is leaking templated content).

    Checkpoints are id-ranges (``bucket = floor(id / bucket_docs)``,
    global ingestion order), NOT per-group row_numbers — a rank window
    over raw rows would shuffle the whole corpus into per-group sorted
    partitions (the skew trap q104 avoids). A token's first appearance
    is ``min(bucket)`` per (group, type): one partial-agg shuffle on
    (group, token); the cumulative sums then run over the aggregated
    |groups|×|buckets| table, where a window is free.
    """
    base = df.select(
        F.col(group_col).alias("grp"),
        F.floor(F.col(id_col) / bucket_docs).cast("long").alias("bucket"),
        tokens(F.lower(F.col(text_col))).alias("_toks"),
    )
    first = (
        base.select("grp", "bucket",
                    F.explode(F.array_distinct("_toks")).alias("_tok"))
        .groupBy("grp", "_tok")
        .agg(F.min("bucket").alias("bucket"))
        .groupBy("grp", "bucket")
        .agg(F.count("*").alias("_new_types"))
    )
    per_bucket = base.groupBy("grp", "bucket").agg(
        F.count("*").alias("_new_docs"),
        F.sum(F.size("_toks")).alias("_new_tokens"),
    )
    # both aggregates are |groups|x|buckets| rows; cutting them keeps
    # the join+window from re-inlining each side's corpus scan (4
    # corpus passes instead of the inherent 2)
    first = first.localCheckpoint(eager=True)
    per_bucket = per_bucket.localCheckpoint(eager=True)
    w = (
        Window.partitionBy("grp").orderBy("bucket")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    joined = per_bucket.join(first, ["grp", "bucket"], "left").select(
        "grp", "bucket", "_new_docs", "_new_tokens",
        F.coalesce("_new_types", F.lit(0)).alias("_new_types"),
    )
    return joined.select(
        "grp",
        "bucket",
        F.sum("_new_docs").over(w).cast("long").alias("cum_docs"),
        F.sum("_new_tokens").over(w).cast("long").alias("cum_tokens"),
        F.sum("_new_types").over(w).cast("long").alias("cum_types"),
    ).withColumn(
        "type_token_ratio",
        F.when(
            F.col("cum_tokens") > 0,
            F.round(F.col("cum_types").cast("double")
                    / F.col("cum_tokens"), 6),
        ).otherwise(F.lit(0.0)),
    )


def chunk_langid(df: DataFrame, text_col: str = "text",
                 id_col: str = "doc_id", chunk_words: int = 40) -> DataFrame:
    """Per-chunk language ID + per-document code-switch report — the
    document-granularity langid (q51) votes once, so a half-English
    half-German page passes an 'en' filter with the German half intact;
    CCNet-style pipelines therefore langid per PARAGRAPH. Chunks are
    ``chunk_words``-token windows (the partial tail chunk included —
    that is where appended foreign boilerplate lives); each chunk votes
    via the q51 trigram-profile overlap (same ``_argmax_lang``
    sortable-string argmax, so chunk verdicts are engine-independent),
    and per document the report is: chunk count, majority language
    (ties to the lexicographically larger language — deterministic),
    agreement = majority chunks / all chunks, distinct real (non-'und')
    languages, and the ``is_code_switched`` flag (>= 2 real languages).

    Scale shape: one tokenize, one chunk explode, ~60 per-row substring
    probes per chunk (r6, guide §2.4: a 3-char profile gram is in the
    chunk's distinct-trigram set iff the chunk contains it, so there is
    no shingle explode, distinct shuffle or hits rejoin; chunks shorter
    than 3 chars get 0 hits → 'und'), two partial-agg groupBys keyed by
    (id, lang) / id, and a broadcast-free rejoin on id. No corpus-wide
    window, nothing quadratic in document length."""
    norm = spread(df).select(
        F.col(id_col).alias("id"),
        tokens(F.lower(F.col(text_col))).alias("_toks"),
    )
    cw = int(chunk_words)
    chunks = norm.filter(F.size("_toks") >= 1).select(
        "id",
        F.posexplode(
            F.transform(
                F.sequence(
                    F.lit(0),
                    F.ceil(F.size("_toks") / F.lit(cw)).cast("int") - 1,
                ),
                lambda g: F.concat_ws(
                    " ", F.slice(F.col("_toks"), g * cw + 1, cw)
                ),
            )
        ).alias("_ci", "_chunk"),
    )
    lang = _argmax_lang({
        lg: sum_profile_contains(F.col("_chunk"), profile)
        for lg, profile in LANG_TRIGRAMS.items()
    })
    chunk_lang = chunks.select("id", "_ci", lang.alias("_lang"))
    per_lang = chunk_lang.groupBy("id", "_lang").agg(
        F.count("*").alias("_cnt")
    )
    enc = F.concat(F.format_string("%010d", F.col("_cnt")), F.col("_lang"))
    per_doc = per_lang.groupBy("id").agg(
        F.sum("_cnt").cast("long").alias("n_chunks"),
        F.max(enc).alias("_top"),
        F.sum(F.when(F.col("_lang") != "und", 1).otherwise(0))
        .cast("long").alias("n_langs"),
    )
    report = per_doc.select(
        "id",
        "n_chunks",
        F.substring("_top", 11, 10).alias("majority_lang"),
        F.round(
            F.substring("_top", 1, 10).cast("double") / F.col("n_chunks"), 6
        ).alias("lang_agreement"),
        "n_langs",
        (F.col("n_langs") >= 2).alias("is_code_switched"),
    )
    return (
        df.select(F.col(id_col).alias("id"))
        .join(report, "id", "left")
        .select(
            "id",
            F.coalesce("n_chunks", F.lit(0)).alias("n_chunks"),
            F.coalesce("majority_lang", F.lit("und")).alias("majority_lang"),
            F.coalesce("lang_agreement", F.lit(0.0)).alias("lang_agreement"),
            F.coalesce("n_langs", F.lit(0)).alias("n_langs"),
            F.coalesce("is_code_switched", F.lit(False))
            .alias("is_code_switched"),
        )
    )


def split_leakage(df: DataFrame, text_col: str = "text",
                  id_col: str = "doc_id", n: int = 8,
                  train_pct: int = 80, val_pct: int = 10) -> DataFrame:
    """Cross-split n-gram leakage report for the PER-DOC hash split: for
    every val/test document sharing at least one word n-gram with any
    TRAIN document, the count of shared distinct grams and of distinct
    train documents matched — the audit a curation pipeline runs before
    trusting held-out metrics (GPT-3's appendix-C dirtiness check,
    pointed at the corpus's own splits instead of an external benchmark;
    the FIX is `dedup.leakage_safe_split`, this is the detector).

    Scale shape: one gram explode, the split assignment as a pure column
    expression, then ONE shuffle keyed on the gram for the train↔eval
    join. Join cost is Σ_gram df_train·df_eval — quadratic in per-gram
    document frequency, never in corpus size (the q88 honesty note:
    boilerplate grams are the hot keys; AQE skew-join handles them, and
    a production run typically drops grams above a df cap first, which
    only REMOVES report rows for ubiquitous grams)."""
    grams = word_ngrams_exploded(spread(df), text_col, id_col, n)
    g = grams.withColumn(
        "split", deterministic_split(F.col("id"), train_pct, val_pct)
    )
    train = g.filter(F.col("split") == SPLIT_NAMES[0]).select(
        "gram", F.col("id").alias("_tid")
    )
    ev = g.filter(F.col("split") != SPLIT_NAMES[0])
    return (
        ev.join(train, "gram")
        .groupBy("id", "split")
        .agg(
            F.countDistinct("gram").cast("long").alias("n_shared_grams"),
            F.countDistinct("_tid").cast("long").alias("n_train_docs"),
        )
    )


def budgeted_source_sample(df: DataFrame, group_col: str = "lang",
                           token_col: str = "n_tokens",
                           id_col: str = "doc_id",
                           budget_tokens: int = 10000,
                           alpha: float = 0.3) -> DataFrame:
    """Materialize an α-sampling mixture (the q97 weights) into an actual
    document selection: each source gets an integer token budget
    ∝ share^α, and documents are taken in deterministic md5 order until
    the budget is crossed (the first crossing doc is INCLUDED, so every
    source with a positive budget contributes). This is the step between
    "mixture report" (q69/q97) and a training run — the selection is
    DATA: stable across runs, engines, and row order, and a different
    epoch/budget is a different selection, not a different RNG stream.

    Cross-engine determinism: budgets divide exact integers
    (w_nano·B div Σw_nano — no float summation or division ordering);
    the per-source order is md5(id) with id tiebreak; the keep rule
    compares exact integer running sums.

    Scale shape: one partial-agg groupBy to ≤|sources| rows (pinned with
    localCheckpoint so the corpus is scanned once — the q97 lesson), the
    budget table broadcast, then ONE window partitioned by source. A
    source's rows must fit a window partition; at extreme skew the q59
    sharded-running-sum form replaces the window (documented tradeoff —
    the selection is per-source sequential by definition)."""
    docs = df.select(
        F.col(id_col).alias("id"),
        F.col(group_col).alias("src"),
        F.col(token_col).cast("long").alias("n_tokens"),
    )
    per = docs.groupBy("src").agg(F.sum("n_tokens").alias("src_tokens"))
    per = per.localCheckpoint(eager=True)
    tot = per.agg(F.sum("src_tokens").alias("_tot"))
    w = (
        per.crossJoin(F.broadcast(tot))
        .withColumn(
            "_w_nano",
            F.round(
                F.pow(F.col("src_tokens") / F.col("_tot"), F.lit(alpha))
                * 1e9, 0
            ).cast("long"),
        )
    )
    wsum = w.agg(F.sum("_w_nano").alias("_wsum"))
    budgets = (
        w.crossJoin(F.broadcast(wsum))
        .select(
            "src",
            F.expr(f"_w_nano * {int(budget_tokens)} div _wsum")
            .alias("budget_tokens"),
        )
    )
    order = [F.md5(F.col("id").cast("string")), F.col("id")]
    win = Window.partitionBy("src").orderBy(*order)
    cum = Window.partitionBy("src").orderBy(*order).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    return (
        docs.join(F.broadcast(budgets), "src")
        .select(
            "id", "src", "n_tokens", "budget_tokens",
            F.row_number().over(win).cast("long").alias("sel_rank"),
            F.sum("n_tokens").over(cum).alias("cum_tokens"),
        )
        .filter(F.col("cum_tokens") - F.col("n_tokens")
                < F.col("budget_tokens"))
    )


CODE_KEYWORDS = ["def", "return", "import", "function", "class", "var",
                 "const", "void", "include"]

# structural code characters: braces/brackets/parens, statement/assign
# punctuation, comparison arrows
CODE_SYMBOL_RE = r"[{}\[\]();=<>]"


def code_signals(df: DataFrame, text_col: str = "text",
                 id_col: str = "doc_id") -> DataFrame:
    """Code-vs-prose detection signals, per document — the pre-training
    curation step that routes source code away from the prose pipeline
    (code must not be langid'd, boilerplate-stripped, or
    sentence-packed like prose; The-Stack-style pipelines separate it
    first). Three cheap lexical signals plus the gate:

    * ``sym_count`` / ``sym_ratio`` — structural code characters
      (braces, parens, semicolons, assignment/comparison).
    * ``indent_lines`` — lines starting with 4 spaces or a tab.
    * ``kw_hits`` — distinct code keywords present as word tokens.
    * ``is_code`` — (sym_ratio ≥ 3% AND any keyword) OR ≥ 30% indented
      lines. The thresholds compare EXACT integers cross-multiplied
      (sym_count·100 ≥ 3·n_chars), never a rounded float at the
      boundary — the q85 lesson.

    All pure JVM column expressions (regex counts, line splits, array
    intersect) — one scan, no shuffle, whole-stage codegen."""
    text = F.col(text_col)
    n_chars = F.length(text)
    sym_count = n_chars - F.length(
        F.regexp_replace(text, CODE_SYMBOL_RE, "")
    )
    lines = F.split(text, "\n")
    n_lines = F.size(lines)
    indent_lines = F.size(
        F.filter(lines, lambda ln: ln.rlike(r"^(    |\t)"))
    )
    toks = F.array_distinct(
        F.filter(F.split(F.lower(text), r"[^a-z0-9_]+"),
                 lambda t: t != "")
    )
    kw = F.array(*[F.lit(k) for k in CODE_KEYWORDS])
    kw_hits = F.size(F.array_intersect(toks, kw))
    is_code = (
        ((sym_count * 100 >= n_chars * 3) & (kw_hits >= 1))
        | (indent_lines * 10 >= n_lines * 3)
    )
    return df.select(
        F.col(id_col).alias("id"),
        n_chars.cast("long").alias("n_chars"),
        sym_count.cast("long").alias("sym_count"),
        n_lines.cast("long").alias("n_lines"),
        indent_lines.cast("long").alias("indent_lines"),
        kw_hits.cast("long").alias("kw_hits"),
        F.when(n_chars > 0, F.round(sym_count / n_chars, 6))
        .otherwise(F.lit(0.0)).alias("sym_ratio"),
        is_code.alias("is_code"),
    )
