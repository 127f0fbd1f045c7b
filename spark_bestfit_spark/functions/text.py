"""Text kernel: the one normalizer, tokenizer and k-gram builder every
text operator shares.

All of it is JVM column algebra (built-in functions and higher-order
array functions, no Python UDF), so it pipelines with the scan and
replays verbatim in SQL — the DuckDB oracle twins spell out the same
expressions.

The policy is Spark's, kept exactly:

- ``trim`` strips SPACES only, so a leading tab survives it and the
  ``\\s+`` split yields an empty first token
  (``"\\tHello  World"`` -> ``['', 'hello', 'world']``);
- empty text tokenizes to ``['']`` (one empty token) while
  :func:`words` maps it to ``[]``;
- null text gives null arrays, and :func:`word_shingles` turns that
  into the single shingle ``''``.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import Column

__all__ = [
    "kgrams",
    "normalized",
    "portable_hash64",
    "tokens",
    "word_shingles",
    "words",
]


def normalized(text) -> Column:
    """Lower-cased, trimmed, whitespace-collapsed text — the content
    key every fingerprint (md5) and contamination probe is taken over.
    ``text`` is a column or a column name."""
    return F.regexp_replace(F.lower(F.trim(text)), r"\s+", " ")


def tokens(text) -> Column:
    """Whitespace tokenization of lower-cased text (``array<string>``).
    ``text`` is a column or a column name."""
    return F.split(F.lower(F.trim(text)), r"\s+")


def words(text) -> Column:
    """Case-preserving whitespace words; ``[]`` for empty or
    all-space text (a plain split would yield ``['']``)."""
    trimmed = F.trim(text)
    return F.when(
        F.length(trimmed) == 0, F.array().cast("array<string>")
    ).otherwise(F.split(trimmed, r"\s+"))


def kgrams(toks: Column, k: int, n: Column | None = None) -> Column:
    """Positional k-grams of a token array, duplicates kept: element
    ``i`` is tokens ``i .. i+k-1`` joined by single spaces, so array
    order IS the gram position; empty when there are fewer than ``k``
    tokens. ``n`` is the array's size when the caller has it bound.

    Built by k-1 ``zip_with`` passes over shifted slices of the token
    array: k-1 O(n) array passes with a cheap string concat per
    element, instead of a per-position ``slice`` (an intermediate
    array per gram — measured 5.6x slower at sf1)."""
    if n is None:
        n = F.size(toks)
    m = F.greatest(n - k + 1, F.lit(0))
    acc = F.slice(toks, 1, m)
    for j in range(1, k):
        acc = F.zip_with(
            acc,
            F.slice(toks, 1 + j, m),
            lambda a, b: F.concat(a, F.lit(" "), b),
        )
    return acc


def word_shingles(text_col, k: int = 3) -> Column:
    """Distinct k-word shingles of :func:`tokens` as an array column.
    A document shorter than ``k`` tokens is ONE shingle, its tokens
    joined by single spaces (tokens are never null, so ``concat`` ==
    ``concat_ws`` inside :func:`kgrams`)."""
    toks = tokens(text_col)
    n = F.size(toks)
    return F.when(n >= k, F.array_distinct(kgrams(toks, k, n))).otherwise(
        F.array(F.concat_ws(" ", toks))
    )


def portable_hash64(col: Column) -> Column:
    """First 14 hex chars of md5 as a BIGINT — identical in Spark
    (conv + cast) and DuckDB (('0x' || substr)::BIGINT)."""
    return F.conv(F.substring(F.md5(col), 1, 14), 16, 10).cast("bigint")
