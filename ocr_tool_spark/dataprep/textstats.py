"""Text analysis for training-data curation: quality features, token
counting, marker-based language scoring, document fingerprints.

Everything is native Spark SQL expressions (codegen'd, no UDFs), and
every formula is mirrored 1:1 in an ANSI-SQL oracle in
plans/driver_queries.py — these are the curation filters a 100 TB text
pipeline runs in its first pass, so they must cost one scan, no
shuffle, and push column pruning down to (doc_id, text).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ocr_tool_spark.dataprep.dedup import normalize_text, tokens

STOPWORDS = ("the", "a", "of", "and", "to", "in", "is", "it")

# word-ish / number / single-other: a BPE-style upper bound on subword
# token count for budget estimation
TOKEN_REGEX = r"[a-z]+|[0-9]+|[^a-z0-9\s]"

LANG_MARKERS: dict[str, tuple[str, ...]] = {
    "en": ("the", "a", "and"),
    "de": ("der", "und", "die"),
    "fr": ("le", "et", "la"),
    "es": ("el", "y", "los"),
    "zh": ("de", "shi", "le"),
}


def quality_features(docs: DataFrame) -> DataFrame:
    """Per-doc curation features + a composite quality score in [0,1].

    Three projection steps so each expensive expression evaluates
    exactly once per row (CollapseProject keeps multi-referenced
    non-cheap aliases materialized): normalize, then tokenize/measure,
    then integer counts, then pure arithmetic. Inlining tokens() into
    the five output columns re-ran the regex split per column — the
    r2 bench regression on this query (VERDICT r2 next #6)."""
    norm = docs.select("doc_id", normalize_text(F.col("text")).alias("_norm"))
    base = norm.select(
        "doc_id",
        F.split("_norm", " ").alias("_t"),
        F.length("_norm").alias("_nc"),
    )
    counts = base.select(
        "doc_id",
        "_nc",
        F.size("_t").alias("_ntok"),
        F.size(F.filter("_t", lambda w: w.isin(*STOPWORDS))).alias("_stop"),
        F.size(F.array_distinct("_t")).alias("_uniq"),
    )
    n_tok, n_chars = F.col("_ntok"), F.col("_nc")
    stop_ratio = F.col("_stop") / n_tok
    uniq_ratio = F.col("_uniq") / n_tok
    # length term saturates at 200 tokens; penalize no-stopword and
    # copy-paste (low type/token ratio) text
    score = F.round(
        F.least(n_tok / F.lit(200.0), F.lit(1.0)) * 0.4
        + F.least(stop_ratio * 5.0, F.lit(1.0)) * 0.3
        + uniq_ratio * 0.3,
        6,
    )
    return counts.select(
        "doc_id",
        n_tok.cast("long").alias("n_tokens"),
        n_chars.cast("long").alias("n_chars_norm"),
        F.round((n_chars - (n_tok - 1)) / n_tok, 6).alias("mean_word_len"),
        F.round(stop_ratio, 6).alias("stopword_ratio"),
        F.round(uniq_ratio, 6).alias("unique_ratio"),
        score.alias("quality_score"),
    )


def token_counts(docs: DataFrame) -> DataFrame:
    """Whitespace token count + regex (BPE-ish upper bound) count."""
    norm = normalize_text(F.col("text"))
    return docs.select(
        "doc_id",
        F.size(F.split(norm, " ")).cast("long").alias("ws_tokens"),
        F.size(F.regexp_extract_all(norm, F.lit(TOKEN_REGEX), 0))
        .cast("long")
        .alias("re_tokens"),
    )


def lang_scores(docs: DataFrame) -> DataFrame:
    """Marker-word hit counts per language + argmax prediction
    (deterministic tie-break: first language in LANG_MARKERS order)."""
    t = tokens(F.col("text"))
    scores = {
        lang: F.size(F.filter(t, lambda w: w.isin(*marks)))
        for lang, marks in LANG_MARKERS.items()
    }
    langs = list(LANG_MARKERS)
    best = F.lit(langs[0])
    best_score = scores[langs[0]]
    for lang in langs[1:]:
        cond = scores[lang] > best_score
        best = F.when(cond, F.lit(lang)).otherwise(best)
        best_score = F.when(cond, scores[lang]).otherwise(best_score)
    return docs.select(
        "doc_id",
        *[scores[lang].cast("long").alias(f"score_{lang}") for lang in langs],
        best.alias("pred_lang"),
    )


def fingerprints(docs: DataFrame) -> DataFrame:
    """Content fingerprints: md5 of normalized text (exact identity) +
    a winnowing-style min-fingerprint over character 8-gram hashes
    (robust to local edits; cross-engine-checkable because the gram
    hash is md5 hex and the min is lexicographic on the hex string)."""
    norm = normalize_text(F.col("text"))
    n = F.length(norm)
    grams = F.transform(
        F.sequence(F.lit(1), F.greatest(n - 7, F.lit(1))),
        lambda i: F.md5(norm.substr(i, F.lit(8))),
    )
    return docs.select(
        "doc_id",
        F.md5(norm).alias("exact_fp"),
        F.array_min(grams).alias("min_gram_fp"),
    )
