"""Text-analysis column expressions for the LLM-data-pipeline surface:
token counting, quality ratios, fingerprinting, n-gram generation.

All JVM-side (split/regexp/md5/transform) — at 100 TB these run inside
whole-stage codegen over the parquet scan with zero Python transfer.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

#: Tiny English stopword list for quality scoring (public domain set).
STOPWORDS = ("the", "a", "an", "and", "or", "of", "to", "in", "is", "it")


def tokens(text: Column) -> Column:
    """Whitespace tokenization; trims and collapses runs of whitespace.

    NOTE: ``split('')`` yields ``['']`` — use :func:`nonempty_tokens`
    wherever a blank document must contribute ZERO tokens."""
    return F.split(F.trim(text), r"\s+")


def nonempty_tokens(text: Column) -> Column:
    """Whitespace tokens excluding empty strings — the ONE shared
    definition for every counting/chunking site, so the blank-doc
    subtlety lives in one place. ``array_remove`` rather than a
    lambda ``filter``: split never yields NULL elements, so the result
    is the same, and a rebuilt plan carries no fresh lambda variable
    name, so two builds of one query plan identically."""
    return F.array_remove(tokens(text), "")


def token_count(text: Column) -> Column:
    """Token count; a blank/whitespace-only document counts 0 (not the
    1 that raw split-of-empty would give)."""
    return F.size(nonempty_tokens(text))


def punct_ratio(text: Column) -> Column:
    """Fraction of characters that are not [a-z0-9 ] (lowercased)."""
    stripped = F.regexp_replace(F.lower(text), r"[a-z0-9 ]", "")
    return F.when(
        F.length(text) > 0, F.length(stripped) / F.length(text)
    ).otherwise(F.lit(0.0))


def stopword_ratio(text: Column) -> Column:
    """Fraction of tokens that are stopwords — a cheap fluency signal."""
    toks = tokens(F.lower(text))
    n_stop = F.size(F.filter(toks, lambda t: t.isin(*STOPWORDS)))
    return F.when(F.size(toks) > 0, n_stop / F.size(toks)).otherwise(F.lit(0.0))


def fingerprint_md5(text: Column) -> Column:
    """Deterministic document fingerprint: md5 of the normalized text.

    md5 (not xxhash64) so the DuckDB oracle computes the identical digest.
    """
    return F.md5(F.lower(F.trim(text)))


#: Rabin-Karp parameters: base 131, Mersenne prime 2^31-1. acc stays
#: < 2^31, so acc*131 + 0x10FFFF < 2^39 — no 64-bit overflow, and the
#: identical recurrence is expressible in ANSI SQL (DuckDB list_reduce).
_RK_BASE = 131
_RK_MOD = 2_147_483_647

#: GPT-2-ish pre-tokenizer regex, restricted to the syntax common to
#: Java regex (Spark) and RE2 (DuckDB): letter runs, digit runs,
#: punctuation runs — each with an optional leading space — then
#: whitespace runs.
BPE_ISH_PATTERN = r" ?[a-z]+| ?[0-9]+| ?[^a-z0-9\s]+|\s+"


def rolling_fingerprint(text: Column) -> Column:
    """Order-sensitive document fingerprint: Rabin-Karp rolling hash
    over the code points of the normalized text.

    hash = fold(acc -> (acc*131 + codepoint) mod 2^31-1) — a true
    rolling hash (unlike md5, prefixes share state, so it extends to
    chunk-level fingerprinting). Pure higher-order functions: the char
    codes come from sequence+transform+ascii, the fold from
    F.aggregate; everything stays JVM-side.
    """
    t = F.lower(F.trim(text))
    codes = F.transform(
        F.sequence(F.lit(1), F.length(t)),
        lambda i: F.ascii(t.substr(i, F.lit(1))).cast("long"),
    )
    fold = F.aggregate(
        codes,
        F.lit(0).cast("long"),
        lambda acc, c: (acc * _RK_BASE + c) % _RK_MOD,
    )
    # guard: Spark's sequence(1, 0) counts DOWN ([1, 0]) rather than
    # returning [] — an empty/whitespace-only doc must hash to 0
    return F.when(F.length(t) > 0, fold).otherwise(F.lit(0).cast("long"))


def bpe_ish_tokens(text: Column) -> Column:
    """Array of BPE-style pre-tokens (GPT-2-ish split of letter / digit
    / punctuation runs with attached leading space)."""
    return F.regexp_extract_all(F.lower(text), F.lit(BPE_ISH_PATTERN), 0)


def char_ngrams(text: Column, n: int = 3) -> Column:
    """Array of character n-grams (shingles) — input to MinHash/Jaccard.

    Pure higher-order-function implementation: sequence over start
    offsets + transform to substrings; stays in codegen.
    """
    t = F.lower(text)
    return F.when(
        F.length(t) >= n,
        F.transform(
            F.sequence(F.lit(1), F.length(t) - F.lit(n - 1)),
            lambda i: t.substr(i, F.lit(n)),
        ),
    ).otherwise(F.array(t))


def word_shingles(text: Column, k: int = 3) -> Column:
    """Array of k-word shingles (space-joined) for document-level MinHash."""
    toks = tokens(F.lower(text))
    n = F.size(toks)
    return F.when(
        n >= k,
        F.transform(
            F.sequence(F.lit(0), n - F.lit(k)),
            lambda i: F.concat_ws(" ", F.slice(toks, i + 1, k)),
        ),
    ).otherwise(F.array(F.concat_ws(" ", toks)))
