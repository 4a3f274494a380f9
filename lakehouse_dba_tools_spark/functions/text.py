"""Text-analysis column functions for large-scale document pipelines.

All pure ``pyspark.sql.functions`` compositions — JVM-side, whole-stage
codegen, no Python in the hot path. Each returns a Column so operators
compose into single-pass projections (one scan computes every feature).

These extend the reference surface (which has no text ops) with the
operations a 100 TB training-data pipeline needs: token counting,
quality scoring, language ID, fingerprinting (driver north-star; the
`documents` fixture exists for exactly this).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# Tiny per-language stopword dictionaries for the n-gram/stopword-hit
# language heuristic. Deliberately small: the heuristic is a cheap
# first-pass router, not a classifier.
STOPWORDS: dict[str, tuple[str, ...]] = {
    "en": ("the", "and", "of", "to", "a", "in", "is", "it", "that", "for"),
    "de": ("der", "die", "das", "und", "ist", "nicht", "ein", "mit", "für", "auf"),
    "es": ("el", "la", "de", "que", "y", "en", "un", "es", "por", "con"),
    "fr": ("le", "la", "et", "les", "des", "est", "un", "une", "que", "pour"),
    "zh": ("的", "了", "是", "我", "不", "在", "人", "有", "他", "这"),
}

WORD_SPLIT_RE = r"\s+"
# BPE-ish segmentation: word pieces OR single non-word non-space chars.
BPE_ISH_RE = r"[A-Za-z0-9_]+|[^A-Za-z0-9_\s]"


def tokens(col: Column | str) -> Column:
    """Whitespace tokenization (array<string>)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.split(F.trim(c), WORD_SPLIT_RE)


def token_count(col: Column | str) -> Column:
    return F.size(tokens(col))


def bpe_ish_token_count(col: Column | str) -> Column:
    """Regex proxy for BPE token count (word pieces + punctuation)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.size(F.regexp_extract_all(c, F.lit(BPE_ISH_RE), 0))


def alpha_ratio(col: Column | str) -> Column:
    """Fraction of characters that are ASCII letters."""
    c = F.col(col) if isinstance(col, str) else col
    return F.length(F.regexp_replace(c, "[^A-Za-z]", "")) / F.length(c)


def stopword_hits_from_tokens(toks_lower: Column, lang: str) -> Column:
    """Stopword hits over a pre-lowercased token-array column — stage
    the array once (``tokens(...).alias(...)`` in a prior select) when
    computing several languages/features; Catalyst will NOT
    common-subexpression-eliminate repeated split() calls."""
    words = STOPWORDS[lang]
    return F.size(F.filter(toks_lower, lambda t: t.isin(*words)))


def stopword_hits(col: Column | str, lang: str) -> Column:
    """Count of tokens (lowercased) that are stopwords of ``lang``."""
    toks = F.transform(tokens(col), lambda t: F.lower(t))
    return stopword_hits_from_tokens(toks, lang)


def stopword_ratio(col: Column | str, lang: str = "en") -> Column:
    return stopword_hits(col, lang) / token_count(col)


def detect_language_from_tokens(toks_lower: Column) -> Column:
    """Argmax over per-language stopword hits, from a staged token
    array (tokenize once, score five languages)."""
    langs = sorted(STOPWORDS)
    best_lang = F.lit("und")
    best_hits = F.lit(0)
    for lang in langs:
        hits = stopword_hits_from_tokens(toks_lower, lang)
        new_best = hits > best_hits
        best_lang = F.when(new_best, F.lit(lang)).otherwise(best_lang)
        best_hits = F.when(new_best, hits).otherwise(best_hits)
    return best_lang


def detect_language(col: Column | str) -> Column:
    """Stopword-hit argmax language heuristic.

    Deterministic tie-break: languages compared in sorted code order,
    strict > required to displace — so ties resolve to the earliest
    code. Zero hits everywhere → 'und' (undetermined).
    """
    toks = F.transform(tokens(col), lambda t: F.lower(t))
    return detect_language_from_tokens(toks)


def word_shingles(col: Column | str, k: int = 3) -> Column:
    """Array of k-word shingles (space-joined), via sequence+transform —
    no explode, no UDF; stays inside one projection."""
    toks = tokens(col)
    n = F.size(toks)
    idx = F.sequence(F.lit(0), F.greatest(n - k, F.lit(0)))
    return F.when(n >= k, F.transform(idx, lambda i: _join_slice(toks, i, k))).otherwise(
        F.array(F.concat_ws(" ", toks))
    )


def _join_slice(toks: Column, i: Column, k: int) -> Column:
    return F.concat_ws(" ", F.slice(toks, i + 1, k))


def min_shingle_fingerprint(col: Column | str, k: int = 3) -> Column:
    """Document fingerprint: lexicographic-min md5 over word k-shingles.

    A deterministic 1-permutation MinHash (md5 as the permutation) —
    equal for texts sharing their full shingle-set minimum; cheap
    near-dup blocking key. Rolling-hash flavored: each shingle hash is
    over a sliding window of the token stream.
    """
    sh = word_shingles(col, k)
    return F.array_min(F.transform(sh, lambda s: F.md5(s)))


def normalized_text(col: Column | str) -> Column:
    """Dedup-canonical form: lowercase, collapse whitespace, strip
    non-alphanumerics (keeps CJK via \\w unicode class)."""
    c = F.col(col) if isinstance(col, str) else col
    out = F.lower(c)
    out = F.regexp_replace(out, r"[^\w\s]", " ")
    out = F.regexp_replace(out, r"\s+", " ")
    return F.trim(out)


def token_bigrams(toks: Column, n_tok: Column) -> Column:
    """Adjacent-token bigrams of a pre-computed token array — the
    shared kernel of the Gopher repetition signals, taking TOKENS (not
    text) so callers fold it into an existing single-tokenization pass
    (`doc_text_profile` / `doc_repetition_scores` compute it from one
    shared ``tokens()`` projection)."""
    return F.when(
        n_tok >= 2,
        F.transform(
            F.sequence(F.lit(1), n_tok - 1),
            lambda i: F.concat_ws(
                " ", F.element_at(toks, i), F.element_at(toks, i + 1)
            ),
        ),
    ).otherwise(F.array().cast("array<string>"))


def dup_fraction(arr: Column, n: Column) -> Column:
    """Fraction of duplicate occurrences in an array: 1 - distinct/n
    (0.0 for empty) — Gopher-style intra-document repetition score,
    applied to token and bigram arrays."""
    return F.when(
        n > 0, 1.0 - F.size(F.array_distinct(arr)).cast("double") / n
    ).otherwise(0.0)
