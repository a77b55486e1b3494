"""Text-analysis operators: tokenization, quality scoring, stopword
ratios, heuristic language ID.

All column expressions are built-in functions (whole-stage codegen);
the corpus never leaves the JVM. At 100 TB these run as pure map work:
no shuffle, no UDF, no driver involvement.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# Minimal per-language stopword profiles for the heuristic classifier.
# Deliberately tiny: the operator demonstrates the scoring machinery;
# swapping in full lists changes constants, not the plan.
STOPWORDS = {
    "en": ("the", "a", "of", "to", "and", "in", "is", "it", "that", "for"),
    "de": ("der", "die", "das", "und", "ist", "ein", "nicht", "mit", "auf", "zu"),
    "fr": ("le", "la", "les", "et", "est", "un", "une", "dans", "pour", "que"),
    "es": ("el", "la", "los", "y", "es", "un", "una", "en", "para", "que"),
    "zh": ("的", "是", "了", "在", "和", "有", "我", "不", "人", "都"),
}


def tokens(text: Column) -> Column:
    """Whitespace tokenization (array<string>), codegen'd."""
    return F.split(text, " ")


def let(value: Column, body: Callable[[Column], Column]) -> Column:
    """``body(value)`` with ``value`` evaluated once per row.

    Spark runs higher-order-function lambdas interpreted and evaluates
    every expression inside a lambda body once per array element: a
    shingling lambda over ``tokens(text)`` re-splits the whole text per
    shingle, O(n^2) per document. Bound here as the element of a
    one-element array, the value reaches ``body`` as a lambda variable,
    which nested lambdas read in O(1)."""
    return F.element_at(F.transform(F.array(value), body), 1)


def token_count(text: Column) -> Column:
    """Whitespace token count."""
    return F.size(tokens(text))


def bpe_ish_token_count(text: Column) -> Column:
    """A BPE-ish proxy token count: word-piece splits on non-alnum
    boundaries plus a length/4 term for long words (the standard cheap
    estimator when no tokenizer model is available)."""
    words = F.split(text, "[^A-Za-z0-9]+")
    per_word = F.transform(
        words, lambda w: F.greatest(F.ceil(F.length(w) / 4), F.lit(1)).cast("long")
    )
    return F.aggregate(per_word, F.lit(0).cast("long"), lambda acc, x: acc + x)


def stopword_ratio(text: Column, lang: str) -> Column:
    """Fraction of tokens found in the given language's stopword list."""
    toks = tokens(text)
    hits = F.size(F.filter(toks, lambda t: t.isin(*STOPWORDS[lang])))
    return hits.cast("double") / F.size(toks)


def en_stopword_ratio(text: Column) -> Column:
    return stopword_ratio(text, "en")


def quality_score(text: Column) -> Column:
    """Composite quality score in [0,1]: length gate, stopword evidence,
    mean-token-length plausibility, alphabetic ratio (C4/Gopher-style
    heuristics composed as one codegen expression)."""
    toks = tokens(text)
    n_tok = F.size(toks).cast("double")
    len_ok = F.when(F.size(toks).between(10, 10000), 1.0).otherwise(0.0)
    stop_ev = F.least(en_stopword_ratio(text) / 0.1, F.lit(1.0))
    mean_tok = F.length(F.replace(text, F.lit(" "), F.lit(""))).cast("double") / n_tok
    tok_ok = F.when(mean_tok.between(2.0, 12.0), 1.0).otherwise(0.0)
    alpha_ratio = (
        F.length(F.regexp_replace(text, "[^A-Za-z ]", "")).cast("double")
        / F.greatest(F.length(text), F.lit(1)).cast("double")
    )
    return F.round((len_ok + stop_ev + tok_ok + alpha_ratio) / 4.0, 6)


def language_id(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Heuristic language ID: score the text against each language's
    stopword profile, take the argmax (ties -> lexicographically first
    language; no evidence at all -> 'und').

    Implemented as one wide codegen expression per language — a 100 TB
    corpus pays ~|langs| array scans per row and zero shuffles.
    """
    text = F.col(text_col)
    scores = {lang: stopword_ratio(text, lang) for lang in sorted(STOPWORDS)}
    best = F.greatest(*scores.values())
    pred = F.lit("und")
    # Iterate in reverse-sorted order so earlier languages win ties.
    for lang in sorted(STOPWORDS, reverse=True):
        pred = F.when((best > 0) & (scores[lang] == best), lang).otherwise(pred)
    out = df.select(
        "*",
        pred.alias("predicted_lang"),
        F.round(best, 6).alias("lang_score"),
    )
    return out.select(
        "doc_id",
        "predicted_lang",
        "lang_score",
        *([F.col("lang").alias("claimed_lang")] if "lang" in df.columns else []),
    )


def winnowing_fingerprints(
    df: DataFrame,
    k: int = 8,
    window: int = 4,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Winnowing document fingerprints (Schleimer/Wilkerson/Aiken's
    MOSS scheme — the rolling-hash fingerprint family): hash every
    k-char gram with the cross-engine 60-bit md5-derived hash, then
    keep the MINIMUM hash of each window of `window` consecutive gram
    hashes. Guarantee: any shared substring of length >= k + window - 1
    contributes at least one shared fingerprint, while storage shrinks
    ~1/window vs all grams — overlap/plagiarism detection joins docs on
    the exploded fingerprints instead of comparing texts.

    Pure codegen expressions — per-row map work, no shuffle, no UDF.
    The md5-per-gram stands in for a true O(1)-update rolling hash
    (Spark has no stateful scan inside a row expression); the n*k
    character touches stay JVM-side, and the VALUES are what matter:
    DuckDB replays them for the oracle gate.

    Two-step projection on purpose: the gram-hash array materializes as
    its own column so the window-min transform doesn't re-inline (and
    re-md5) it per window (HOF lambdas don't CSE — see NOTES.md).

    Returns (id, fingerprint: long) — one row per distinct fingerprint.
    """
    text = F.col(text_col)
    n = F.length(text)
    n_grams = n - k + 1
    gram_hashes = F.when(
        n_grams >= 1,
        F.transform(
            F.sequence(F.lit(1), n_grams),
            lambda i: F.conv(
                F.substring(F.md5(F.substring(text, i, k)), 1, 15), 16, 10
            ).cast("long"),
        ),
    ).otherwise(F.array().cast("array<long>"))
    pre = df.select(F.col(id_col), gram_hashes.alias("_gh"))
    n_windows = F.size("_gh") - window + 1
    mins = F.when(
        n_windows >= 1,
        F.transform(
            F.sequence(F.lit(1), n_windows),
            lambda i: F.array_min(F.slice(F.col("_gh"), i, window)),
        ),
    ).otherwise(F.array().cast("array<long>"))
    return pre.select(
        F.col(id_col), F.explode(F.array_distinct(mins)).alias("fingerprint")
    )


def repetition_stats(text: Column) -> dict[str, Column]:
    """Gopher-style within-document repetition measures: the fraction
    of duplicate words and duplicate word-bigrams (1 - distinct/total).
    Highly repetitive documents (boilerplate, keyword stuffing, decode
    loops) are filtered before training.

    Returns named column expressions; all built-in array HOFs, so at
    100 TB this is map-only scan work with no shuffle."""
    words = tokens(text)
    n_words = F.size(words)

    def dup_bigram_frac(words: Column) -> Column:
        n_bigrams = F.size(words) - 1
        bigrams = F.transform(
            F.sequence(F.lit(1), n_bigrams),
            lambda i: F.concat_ws(" ", F.slice(words, i, 2)),
        )
        return F.when(
            n_bigrams > 0,
            F.round(
                F.lit(1.0) - F.size(F.array_distinct(bigrams)).cast("double") / n_bigrams,
                6,
            ),
        ).otherwise(F.lit(0.0))

    dup_word_frac = F.round(
        F.lit(1.0) - F.size(F.array_distinct(words)).cast("double") / n_words, 6
    )
    return {
        "n_words": n_words.cast("int"),
        "dup_word_frac": dup_word_frac,
        "dup_bigram_frac": let(words, dup_bigram_frac),
    }


def adjacent_pair_counts(
    df: DataFrame, text_col: str = "text", top_n: int | None = None
) -> DataFrame:
    """Corpus-wide adjacent-token-pair frequencies — the counting pass
    a BPE tokenizer trainer loops (count pairs, merge the winner,
    repeat). Returns (pair, pair_count) ordered by (count DESC, pair),
    optionally truncated to the top_n merge candidates.

    Scale: pair explosion is map-only array work fused into the scan;
    the count partial-aggregates map-side (cardinality ~ visible vocab
    pairs, not corpus rows) and a top_n truncation plans as
    TakeOrderedAndProject — per-partition partial top-k, no global
    sort."""
    pairs = let(
        tokens(F.col(text_col)),
        lambda words: F.when(
            F.size(words) >= 2,
            F.transform(
                F.sequence(F.lit(1), F.size(words) - 1),
                lambda i: F.concat_ws(
                    " ", F.element_at(words, i), F.element_at(words, i + 1)
                ),
            ),
        ).otherwise(F.array().cast("array<string>")),
    )
    out = (
        df.select(F.explode(pairs).alias("pair"))
        .groupBy("pair")
        .agg(F.count(F.lit(1)).cast("bigint").alias("pair_count"))
        .orderBy(F.desc("pair_count"), "pair")
    )
    return out.limit(top_n) if top_n is not None else out
