"""Edge table for the shared text kernel (functions/text.py): every
adversarial input runs through Spark and through a pure-Python
reference of the same policy, and the outputs the DuckDB oracle twins
replay are pinned verbatim.

The reference spells out Spark's rules: ``trim`` strips spaces only
(U+0020), the ``\\s+`` split is Java's ASCII whitespace class, the
split keeps leading and trailing empty strings, and lower-casing is
context-sensitive only for the Greek final sigma (Java and Python
agree on it)."""

from __future__ import annotations

import re

import pytest

from spark_bestfit_spark.functions.text import (
    kgrams,
    normalized,
    tokens,
    word_shingles,
    words,
)

_WS = re.compile(r"[ \t\n\x0b\f\r]+")

INPUTS = [
    "",
    "   ",
    None,
    "\tHello  World",
    "a\x00b  c\x00",
    "Café naïve ΟΔΟΣ ΣΑΣ",
    "one",
    "the cat the cat the cat",
    "x\ty\nz  x\ty",
]
KS = (1, 2, 3, 5)


def ref_tokens(s):
    return None if s is None else _WS.split(s.strip(" ").lower())


def ref_words(s):
    if s is None:
        return None
    t = s.strip(" ")
    return [] if t == "" else _WS.split(t)


def ref_kgrams(toks, k):
    if toks is None:
        return None
    return [" ".join(toks[i:i + k]) for i in range(len(toks) - k + 1)]


def ref_shingles(s, k):
    toks = ref_tokens(s)
    if toks is not None and len(toks) >= k:
        return list(dict.fromkeys(ref_kgrams(toks, k)))
    return [" ".join(toks or [])]


def ref_normalized(s):
    return None if s is None else _WS.sub(" ", s.strip(" ").lower())


@pytest.fixture(scope="module")
def table(spark):
    df = spark.createDataFrame(
        list(enumerate(INPUTS)), "id int, text string"
    )
    cols = [
        tokens("text").alias("tokens"),
        words("text").alias("words"),
        normalized("text").alias("normalized"),
    ]
    for k in KS:
        cols += [
            kgrams(tokens("text"), k).alias(f"kgrams{k}"),
            kgrams(words("text"), k).alias(f"wkgrams{k}"),
            word_shingles("text", k).alias(f"shingles{k}"),
        ]
    rows = df.select("id", *cols).collect()
    return {r["id"]: r.asDict() for r in rows}


@pytest.mark.parametrize("i", range(len(INPUTS)))
def test_kernel_matches_python_reference(table, i):
    s = INPUTS[i]
    got = table[i]
    assert got["tokens"] == ref_tokens(s)
    assert got["words"] == ref_words(s)
    assert got["normalized"] == ref_normalized(s)
    for k in KS:
        assert got[f"kgrams{k}"] == ref_kgrams(ref_tokens(s), k)
        assert got[f"wkgrams{k}"] == ref_kgrams(ref_words(s), k)
        assert got[f"shingles{k}"] == ref_shingles(s, k)


def test_pinned_policy_outputs(table):
    """The exact outputs the oracle twins replay — not to be "fixed"."""
    empty, spaces, null, tab = (table[i] for i in range(4))
    # empty text is one empty token, but no words
    assert empty["tokens"] == [""] and empty["words"] == []
    assert spaces["tokens"] == [""] and spaces["words"] == []
    assert empty["shingles3"] == [""] and empty["kgrams1"] == [""]
    # null text: null arrays, and the single empty shingle
    assert null["tokens"] is None and null["words"] is None
    assert null["kgrams2"] is None
    assert null["shingles2"] == [""]
    # trim strips spaces only: a leading tab is an empty first token
    assert tab["tokens"] == ["", "hello", "world"]
    assert tab["words"] == ["", "Hello", "World"]
    assert tab["shingles2"] == [" hello", "hello world"]
    assert tab["kgrams1"] == ["", "hello", "world"]
    # k > n: no positional grams, one whole-text shingle
    assert tab["kgrams5"] == []
    assert tab["shingles5"] == [" hello world"]


def test_nul_and_non_ascii_survive(table):
    nul, greek = table[4], table[5]
    assert nul["tokens"] == ["a\x00b", "c\x00"]
    assert nul["kgrams2"] == ["a\x00b c\x00"]
    # Greek capital sigma lowers to the final form at a word end only
    assert greek["tokens"] == ["café", "naïve", "οδος", "σας"]
    assert greek["words"] == ["Café", "naïve", "ΟΔΟΣ", "ΣΑΣ"]
    assert greek["shingles3"] == ["café naïve οδος", "naïve οδος σας"]


def test_kgrams_keep_duplicates_shingles_do_not(table):
    rep = table[7]
    assert rep["kgrams2"] == [
        "the cat", "cat the", "the cat", "cat the", "the cat",
    ]
    assert rep["shingles2"] == ["the cat", "cat the"]
    assert rep["kgrams1"] == rep["tokens"]
