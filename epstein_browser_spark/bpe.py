"""Byte-pair encoding: corpus-trained subword tokenization, Spark-first.

The public BPE algorithm (Sennrich, Haddow & Birch 2016, "Neural Machine
Translation of Rare Words with Subword Units", §3.2) split into its two
natural Spark phases:

* TRAINING (:func:`train_merges`) — the corpus-scale part is a word-type
  frequency table (split → explode → groupBy word: one partial-aggregable
  shuffle over any corpus size), capped to the top ``max_word_types``
  types by (count, word) — deterministic, and exactly what reference BPE
  trainers consume (merge statistics come from type counts, not corpus
  positions). The merge loop itself runs driver-side over that BOUNDED
  table: O(max_word_types × n_merges) work on ≤ a few MB, the same shape
  as every published trainer. Nothing corpus-sized ever reaches the
  driver.

* APPLY (:func:`token_count_expr` / :func:`tokenize_words`) — pure JVM
  column expressions, no Python at all: each word becomes a
  sentinel-wrapped symbol sequence (``\\x1fc\\x1f`` per char, a trailing
  ``\\x1f</w>\\x1f`` end-of-word symbol) and each learned merge (a, b) is
  ONE literal ``replace(s, '\\x1fa\\x1f \\x1fb\\x1f', '\\x1fab\\x1f')``.
  Replace-all on the space-separated form IS the left-to-right
  non-overlapping pair merge of the paper, and the sentinels make the
  match boundary-exact (a symbol ending in 'a' can never satisfy
  ``\\x1fa\\x1f``) without the lookarounds RE2 lacks — so the SAME chain
  restates verbatim as a DuckDB oracle (queries.q72/q73). The whole
  tokenizer stays inside whole-stage codegen.

Variant note: the end-of-word marker is a SEPARATE trailing symbol
(the paper fuses it onto the final character); either choice is a valid
BPE — train and apply here share one definition, pinned against the
pure-Python reference implementation in tests/test_bpe.py.

Scale: apply cost is n_merges literal replaces per word — independent of
corpus size and embarrassingly parallel; training's corpus pass is one
shuffle. The 10^12-turn form trains on a sampled/capped type table (cap
is the knob) and applies everywhere.
"""

from __future__ import annotations

import json
from collections import Counter

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from epstein_browser_spark.session import spread

SENT = "\x1f"  # symbol sentinel (unit separator); stripped from input
EOW = "</w>"   # end-of-word symbol


# ---------------------------------------------------------------------------
# training
# ---------------------------------------------------------------------------

def word_type_counts(df: DataFrame, text_col: str = "text",
                     max_word_types: int = 10000) -> list[tuple[str, int]]:
    """Top word types by frequency — the bounded table BPE trains on.
    One explode + partial-aggregable groupBy; deterministic top-k by
    (count desc, word asc). Words containing the sentinel are cleaned
    (the apply path strips it identically)."""
    from epstein_browser_spark.textstats import tokens

    rows = (
        df.select(F.explode(tokens(F.col(text_col))).alias("w"))
        .withColumn("w", F.replace(F.col("w"), F.lit(SENT), F.lit("")))
        .filter(F.col("w") != "")
        .groupBy("w").count()
        .orderBy(F.col("count").desc(), F.col("w"))
        .limit(max_word_types)
        .collect()
    )
    return [(r["w"], int(r["count"])) for r in rows]


def train_merges_local(word_counts: list[tuple[str, int]],
                       n_merges: int = 200) -> list[tuple[str, str]]:
    """The classic merge loop over a (word, count) table: repeatedly fuse
    the most frequent adjacent symbol pair. Deterministic: ties break on
    the lexicographically smallest pair. Pure driver-side Python over the
    bounded type table (see module docstring)."""
    vocab: dict[tuple[str, ...], int] = {}
    for w, c in word_counts:
        syms = tuple(list(w) + [EOW])
        vocab[syms] = vocab.get(syms, 0) + c
    merges: list[tuple[str, str]] = []
    for _ in range(n_merges):
        pairs: Counter = Counter()
        for syms, c in vocab.items():
            for i in range(len(syms) - 1):
                pairs[(syms[i], syms[i + 1])] += c
        if not pairs:
            break
        best_count = max(pairs.values())
        best = min(p for p, c in pairs.items() if c == best_count)
        merges.append(best)
        a, b = best
        fused = a + b
        new_vocab: dict[tuple[str, ...], int] = {}
        for syms, c in vocab.items():
            out: list[str] = []
            i = 0
            while i < len(syms):
                # left-to-right, non-overlapping — the same semantics the
                # apply chain's replace-all has
                if i + 1 < len(syms) and syms[i] == a and syms[i + 1] == b:
                    out.append(fused)
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            key = tuple(out)
            new_vocab[key] = new_vocab.get(key, 0) + c
        vocab = new_vocab
    return merges


def train_merges(df: DataFrame, text_col: str = "text",
                 n_merges: int = 200,
                 max_word_types: int = 10000) -> list[tuple[str, str]]:
    """End-to-end training: Spark word-type counts → driver merge loop."""
    return train_merges_local(word_type_counts(df, text_col, max_word_types),
                              n_merges)


def load_merges(path: str) -> list[tuple[str, str]]:
    with open(path, encoding="utf-8") as f:
        return [tuple(m) for m in json.load(f)]


# ---------------------------------------------------------------------------
# apply (JVM column expressions; restatable as SQL)
# ---------------------------------------------------------------------------

def _wrapped_word_expr(word: Column) -> Column:
    """word → sentinel-wrapped space-separated symbol string:
    'cat' → '\\x1fc\\x1f \\x1fa\\x1f \\x1ft\\x1f \\x1f</w>\\x1f'."""
    cleaned = F.replace(word, F.lit(SENT), F.lit(""))
    # (?s): Java '.' excludes U+0085/U+2028/U+2029, which are NOT \s+
    # whitespace in Java or RE2 and therefore survive word splitting —
    # without DOTALL those chars would stay unwrapped, diverging from
    # training (which sees every char) and from the RE2 oracle ('.'
    # excludes only \n, which \s+ always removes) — r4 review finding
    per_char = F.regexp_replace(cleaned, r"(?s)(.)", SENT + "$1" + SENT + " ")
    return F.concat(per_char, F.lit(SENT + EOW + SENT))


def merged_symbols_expr(word: Column,
                        merges: list[tuple[str, str]]) -> Column:
    """The symbol string after applying every merge in rank order."""
    s = _wrapped_word_expr(word)
    for a, b in merges:
        s = F.replace(
            s,
            F.lit(f"{SENT}{a}{SENT} {SENT}{b}{SENT}"),
            F.lit(f"{SENT}{a}{b}{SENT}"),
        )
    return s


def word_token_count_expr(word: Column,
                          merges: list[tuple[str, str]]) -> Column:
    """Number of BPE tokens for one word (includes the trailing </w>
    symbol — consistent between engines; subtract 1 for the bare count)."""
    return F.size(F.split(merged_symbols_expr(word, merges), " "))


def tokenize_words(word: Column, merges: list[tuple[str, str]]) -> Column:
    """array<string> of BPE tokens for one word (sentinels stripped)."""
    return F.transform(
        F.split(merged_symbols_expr(word, merges), " "),
        lambda t: F.replace(t, F.lit(SENT), F.lit("")),
    )


def doc_bpe_token_counts(df: DataFrame, merges: list[tuple[str, str]],
                         text_col: str = "text",
                         id_col: str = "doc_id") -> DataFrame:
    """(id, n_bpe_tokens) per document. Empty/whitespace-only docs
    count 0.

    r6 shape (guide §1.2 — fix the algorithm first): the merge chain is
    n_merges literal replaces over the sentinel-expanded word, ~10⁴ char
    ops per WORD; applying it per word OCCURRENCE cost
    |occurrences| × chain. A document corpus has far fewer word TYPES
    than occurrences (Heaps' law), so the chain now runs once per
    DISTINCT word and the per-type token counts broadcast-join back to
    the exploded occurrences — identical per-word counts, so identical
    per-doc sums, at ~|types|/|occurrences| (measured ~1/40) of the
    chain cost. The occurrence explode stays the doc-id-keyed partial
    agg it was; the type table is spread so the chain itself runs on
    every core."""
    from epstein_browser_spark.textstats import tokens

    words = spread(df).select(
        F.col(id_col).alias("id"),
        F.explode_outer(tokens(F.col(text_col))).alias("w"),
    )
    types = (
        words.filter(F.col("w").isNotNull())
        .select("w").distinct()
        # post-aggregate: undoes AQE's coalescing of the distinct output
        .transform(spread)
        .select("w", word_token_count_expr(F.col("w"), merges).alias("_tn"))
    )
    per_word = words.join(F.broadcast(types), "w", "left").select(
        "id",
        F.when(F.col("w").isNull(), F.lit(0))
        .otherwise(F.col("_tn")).alias("n"),
    )
    return per_word.groupBy("id").agg(
        F.sum("n").cast("long").alias("n_bpe_tokens")
    )
