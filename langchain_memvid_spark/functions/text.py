"""Text-analysis scalar functions (training-data pipeline extensions).

All JVM-side Catalyst expressions — no Python UDFs — so they run
inside whole-stage codegen over 100 TB of documents. Each has an exact
SQL-expressible definition so the DuckDB oracle can verify it.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# Tiny per-language stopword lists for the n-gram/stopword language-ID
# heuristic. Deterministic and portable to SQL.
LANG_STOPWORDS: dict[str, tuple[str, ...]] = {
    "en": ("the", "and", "of", "to", "in"),
    "es": ("el", "la", "de", "que", "y"),
    "fr": ("le", "la", "les", "et", "des"),
    "de": ("der", "die", "und", "das", "ist"),
}

STOPWORDS_EN = ("the", "a", "an", "and", "or", "of", "to", "in", "is", "it")


def tokens(text: Column) -> Column:
    """Whitespace tokenization."""
    return F.split(F.trim(text), r"\s+")


def token_count(text: Column) -> Column:
    return F.size(tokens(text))


def word_shingles(text: Column, k: int = 3) -> Column:
    """k-word shingles as strings ("w1 w2 w3"), for Jaccard/MinHash.

    Built with sequence+transform+slice — pure Catalyst, no UDF.
    """
    toks = tokens(text)
    n = F.size(toks)
    idx = F.sequence(F.lit(1), F.greatest(n - F.lit(k - 1), F.lit(1)))
    return F.when(n >= k, F.transform(idx, lambda i: F.array_join(F.slice(toks, i, k), " "))).otherwise(
        F.array(F.array_join(toks, " "))
    )


def char_ngrams(text: Column, n: int = 5) -> Column:
    """Character n-grams (shingling for SimHash / near-dup)."""
    length = F.length(text)
    idx = F.sequence(F.lit(1), F.greatest(length - F.lit(n - 1), F.lit(1)))
    return F.when(length >= n, F.transform(idx, lambda i: F.substring(text, i, F.lit(n)))).otherwise(
        F.array(text)
    )


def alpha_ratio(text: Column) -> Column:
    alpha = F.length(F.regexp_replace(text, r"[^A-Za-z]", ""))
    return alpha.cast("double") / F.greatest(F.length(text), F.lit(1)).cast("double")


def stopword_ratio(text: Column, stopwords: tuple[str, ...] = STOPWORDS_EN) -> Column:
    toks = tokens(F.lower(text))
    hits = F.size(F.filter(toks, lambda t: t.isin(*stopwords)))
    return hits.cast("double") / F.greatest(F.size(toks), F.lit(1)).cast("double")


def quality_score_cols(text: Column) -> dict[str, Column]:
    """Document quality signals: length, token stats, punctuation/alpha/
    stopword ratios, and a composite [0,1] quality score."""
    n_tok = token_count(text)
    n_chr = F.length(text)
    avg_tok = n_chr.cast("double") / F.greatest(n_tok, F.lit(1)).cast("double")
    sw = stopword_ratio(text)
    ar = alpha_ratio(text)
    # composite: reward alpha text with sane token lengths & some stopwords
    score = (
        F.least(n_tok.cast("double") / F.lit(20.0), F.lit(1.0)) * F.lit(0.4)
        + ar * F.lit(0.3)
        + F.least(sw * F.lit(5.0), F.lit(1.0)) * F.lit(0.3)
    )
    return {
        "n_tokens": n_tok,
        "n_chars_calc": n_chr,
        "avg_token_len": F.round(avg_tok, 4),
        "stopword_ratio": F.round(sw, 4),
        "alpha_ratio": F.round(ar, 4),
        "quality_score": F.round(score, 4),
    }


def lang_id_col(text: Column) -> Column:
    """Stopword-count language ID: argmax of per-language hit counts,
    deterministic tie-break by language code order; 'und' if no hits."""
    toks = tokens(F.lower(text))
    scores = [
        (lang, F.size(F.filter(toks, lambda t: t.isin(*words))))
        for lang, words in sorted(LANG_STOPWORDS.items())
    ]
    best = F.greatest(*[s for _, s in scores])
    out = F.lit("und")
    # reversed so earlier languages win ties via later when() precedence
    for lang, s in reversed(scores):
        out = F.when((s == best) & (best > 0), F.lit(lang)).otherwise(out)
    return out


def fingerprint(text: Column) -> Column:
    """Document fingerprint: sha256 of whitespace-normalized lowercase
    text — the exact-dedup key."""
    return F.sha2(F.regexp_replace(F.trim(F.lower(text)), r"\s+", " "), 256)
