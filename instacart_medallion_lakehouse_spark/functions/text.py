"""Text-analysis expression layer for the documents table.

Everything here is a pure Catalyst column expression — tokenization,
language-ID, quality scoring, and fingerprinting all run
inside whole-stage codegen with zero Python per row and zero shuffles.
This is the hot path of a 100 TB training-data pipeline: per-document
scoring must be a single narrow scan, and it is.

The reference has no text surface (SURVEY.md §2.8 — its scalar functions
stop at md5/concat_ws); this module is the training-data-pipeline
extension mandated by the engine's north star, built on the same
"built-in expressions only" rule as reference utils/quality.py
(SURVEY.md §2.10).

Cross-engine notes (every function has a DuckDB-SQL twin in queries.py):
- always ``trim`` before splitting: DuckDB regexp_split_to_array keeps
  trailing empty tokens, Java split drops them.
- md5 produces identical lowercase hex on both engines, so hash-derived
  artifacts (minhash signatures, fingerprints, band keys) compare
  exactly.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# Tiny deterministic stopword lists for the language-ID heuristic.
# Order matters: the argmax tie-break precedence is en > es > fr > de.
STOPWORDS = {
    "en": ["the", "a", "of", "to", "and", "in", "is"],
    "es": ["el", "la", "de", "en", "y", "es", "que"],
    "fr": ["le", "la", "de", "et", "en", "est", "que"],
    "de": ["der", "die", "das", "und", "in", "ist"],
}

_CJK_PATTERN = "[\\u4e00-\\u9fff]"


def tokens(text: Column) -> Column:
    """Whitespace tokenization: split(trim(text), '\\s+')."""
    return F.split(F.trim(text), r"\s+")


def bpe_ish_tokens(text: Column) -> Column:
    """BPE-ish sub-word tokenization via regex over lowercased text.

    Runs of letters | runs of digits | single non-alnum-non-space chars —
    the shape a byte-pair pre-tokenizer produces. RE2-compatible pattern
    so the DuckDB oracle computes the identical token stream.
    """
    # NB: built with the Python API, not F.expr — Spark SQL string literals
    # eat backslash escapes, so an expr()-embedded '\s' silently degrades
    # the character class.
    return F.regexp_extract_all(
        F.lower(text), F.lit(r"[a-z]+|[0-9]+|[^a-z0-9\s]"), 0
    )


def stopword_hits(toks: Column, words: list[str]) -> Column:
    """Count of tokens that are in ``words`` (duplicates counted)."""
    return F.size(F.filter(toks, lambda t: t.isin(*words)))


def predicted_lang_from_hits(
    text: Column, en: Column, es: Column, fr: Column, de: Column
) -> Column:
    """Language-ID decision chain over PRECOMPUTED stopword hit counts.

    Callers should materialize the hit counts in a projection first —
    the chain references each count several times, and only a column
    reference (not the array-filter expression) is computed once.
    """
    return (
        F.when(text.rlike(_CJK_PATTERN), "zh")
        .when((en >= es) & (en >= fr) & (en >= de) & (en > 0), "en")
        .when((es >= fr) & (es >= de) & (es > 0), "es")
        .when((fr >= de) & (fr > 0), "fr")
        .when(de > 0, "de")
        .otherwise("und")
    )


def predicted_lang(text: Column, toks: Column) -> Column:
    """Deterministic heuristic language ID.

    CJK codepoints → 'zh'; else argmax of per-language stopword hit
    counts with fixed precedence en > es > fr > de; no hits → 'und'.
    The DuckDB twin is the literally identical CASE chain, so the
    prediction is engine-independent by construction. Inlines the hit
    expressions — prefer predicted_lang_from_hits over a projection
    when scanning at scale.
    """
    hits = {lang: stopword_hits(toks, ws) for lang, ws in STOPWORDS.items()}
    return predicted_lang_from_hits(
        text, hits["en"], hits["es"], hits["fr"], hits["de"]
    )


def normalized_text(text: Column) -> Column:
    """Canonical form for fingerprinting: lowercase, collapsed whitespace."""
    return F.regexp_replace(F.lower(F.trim(text)), r"\s+", " ")


def fingerprint(text: Column) -> Column:
    """Exact-dup fingerprint: md5 of the normalized text."""
    return F.md5(normalized_text(text))


def alpha_ratio(text: Column) -> Column:
    """Share of characters that are ASCII letters (quality signal)."""
    stripped = F.regexp_replace(text, "[a-zA-Z]", "")
    return (F.length(text) - F.length(stripped)).cast("double") / F.nullif(
        F.length(text), F.lit(0)
    ).cast("double")
