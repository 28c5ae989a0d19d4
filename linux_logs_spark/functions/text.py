"""Text-analysis building blocks for the LLM-data-pipeline operators.

All JVM-side expression compositions (split / transform / sequence /
xxhash64); the queries in operators/llm_pipeline.py assemble these.
The corpus (documents.text) is single-space-separated lowercase ASCII
words, so tokenization is exact on both engines.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# Deterministic rolling-hash modulus: small enough that acc*31+c never
# overflows int64 (M*31 + 127 < 2^63), large enough to avoid collisions.
ROLLING_MOD = 100_000_000_000_000_003  # ~1e17, prime

# Marker words for the n-gram language-ID heuristic. The synthetic
# corpus shares one vocabulary across langs, so accuracy is irrelevant;
# the heuristic's JOB here is to be a deterministic, oracle-checkable
# scoring pipeline with the real shape (per-lang marker hit counts →
# argmax with a fixed priority order).
LANG_MARKERS: dict[str, tuple[str, ...]] = {
    "en": ("the", "a", "fast", "slow"),
    "de": ("der", "die", "und", "merge"),
    "es": ("el", "la", "los", "query"),
    "fr": ("le", "la", "des", "table"),
    "zh": ("zh", "hash", "spark", "window"),
}

STOPWORDS = ("the", "a", "of", "and", "to", "in", "is", "it")


def words(text: Column | str) -> Column:
    t = F.col(text) if isinstance(text, str) else text
    return F.split(t, " ")


def word_shingles(ws: Column, n: int) -> Column:
    """Overlapping n-word shingles as strings (LSH/minhash input).

    ``ws`` must reference a word-array column already projected by a
    parent select (``.select(words("text").alias("ws"))``, then
    ``F.col("ws")``), never an expression such as ``words("text")``:
    the lambda below repeats ``ws`` for every word of every shingle, so
    an expression there is re-evaluated n times per shingle — the
    document is re-split O(words²) times per row.

    Guarded for short documents: F.sequence(0, size-n) with size < n
    would produce a DESCENDING sequence ([0, -1]) and element_at(ws, 0)
    raises; such docs get an empty shingle array instead.
    """
    idx = F.when(F.size(ws) >= n, F.sequence(F.lit(0), F.size(ws) - n)).otherwise(
        F.array().cast("array<int>")
    )
    return F.transform(
        idx, lambda i: F.concat_ws(" ", *[F.element_at(ws, i + j + 1) for j in range(n)])
    )


def marker_hits(ws: Column, markers: tuple[str, ...]) -> Column:
    return F.size(F.filter(ws, lambda w: w.isin(*markers)))


def rolling_fingerprint(text: Column | str) -> Column:
    """Polynomial rolling hash over character codepoints, mod a
    64-bit-safe prime: h = (h*31 + code(ch)) % M, left to right.
    Matches DuckDB's list_reduce fold exactly (0-init ≡ first-element
    seed because 0*31+c == c). Empty text is pinned to 0 explicitly:
    sequence(1, 0) yields a DESCENDING [1, 0] (two bogus positions),
    the same hazard word_shingles guards against — the old fold only
    returned 0 for '' by the coincidence 0*31+0=0 (round-5 review)."""
    t = F.col(text) if isinstance(text, str) else text
    codes = F.transform(
        F.sequence(F.lit(1), F.length(t)),
        lambda i: F.ascii(F.substring(t, i, 1)).cast("long"),
    )
    fold = F.aggregate(
        codes,
        F.lit(0).cast("long"),
        lambda acc, c: (acc * 31 + c) % F.lit(ROLLING_MOD),
    )
    return F.when(F.length(t) > 0, fold).otherwise(F.lit(0).cast("long"))
