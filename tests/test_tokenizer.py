"""Golden + property-based tokenizer tests (SURVEY.md §5.2 items 3-4).

The golden micro-corpus pins the O4 semantics decision (SURVEY.md §7.0,
FIXTURES.md table): canonical mode strips `[^a-z']` after lower;
fidelity mode reproduces the reference's truncate-at-first-disallowed-
char behavior (sendFileByFile.cpp:89-93, verified by simulation:
``foo-bar → foo``, ``a1b2c3 → a``) without the char[30] overflow.
"""

from __future__ import annotations

import re
from collections import Counter
from unittest import mock

import pytest
from hypothesis import example, given, settings
from hypothesis import strategies as st
from pyspark.sql import Row
from pyspark.sql import functions as F

from mapreducewordcounting_spark.functions.text import (
    tokenize_canonical,
    tokenize_fidelity,
)
from mapreducewordcounting_spark.operators import wordcount

GOLDEN = [
    # (input token, canonical, fidelity)  — FIXTURES.md golden table
    ("Hello,", "hello", "hello"),
    ("don't", "don't", "don't"),
    ("foo-bar", "foobar", "foo"),
    ("a1b2c3", "abc", "a"),
    ("...", "", ""),
    ("O'Brien!", "o'brien", "o'brien"),
]


def _run(spark, text: str, mode) -> list[str]:
    df = spark.createDataFrame([Row(text=text)])
    return df.select(mode("text").alias("t")).collect()[0].t


@pytest.mark.parametrize("tok,canon,fid", GOLDEN)
def test_golden_tokens(spark, tok, canon, fid):
    assert _run(spark, tok, tokenize_canonical) == [canon]
    assert _run(spark, tok, tokenize_fidelity) == [fid]


def test_golden_sentence(spark):
    text = " ".join(t for t, _, _ in GOLDEN)
    assert _run(spark, text, tokenize_canonical) == [c for _, c, _ in GOLDEN]
    assert _run(spark, text, tokenize_fidelity) == [f for _, _, f in GOLDEN]


# --- property-based invariants (hypothesis) ------------------------------

# printable-ish corpus generator: words of letters/digits/punct
_token = st.text(
    alphabet=st.characters(min_codepoint=33, max_codepoint=126),
    min_size=1, max_size=12)
_corpus = st.lists(_token, min_size=0, max_size=30).map(" ".join)

_CANON_RE = re.compile(r"^[a-z']*$")


@settings(max_examples=25, deadline=None)
@given(_corpus)
def test_canonical_charset_and_idempotence(spark_hyp, text):
    """Every output token matches ^[a-z']*$; re-tokenizing the joined
    output is a fixpoint."""
    toks = _run(spark_hyp, text, tokenize_canonical)
    assert all(_CANON_RE.match(t) for t in toks)
    again = _run(spark_hyp, " ".join(t for t in toks if t), tokenize_canonical)
    # tokenizing "" yields [""] (split semantics); compare post-filter
    assert [t for t in again if t] == [t for t in toks if t]


@settings(max_examples=25, deadline=None)
@given(_corpus)
def test_counts_are_partition_invariant(spark_hyp, text):
    """Σ groupBy counts == token count, under 1 or 8 partitions
    (aggregation is partitioning-invariant — the property the
    reference's two-level shuffle had to get right by hand)."""
    rows = [Row(text=line) for line in text.split()] or [Row(text="")]
    for parts in (1, 8):
        df = spark_hyp.createDataFrame(rows).repartition(parts)
        words = (
            df.select(F.explode(tokenize_canonical("text")).alias("w"))
            .filter(F.length("w") > 0))
        total = words.count()
        summed = (words.groupBy("w").count()
                  .agg(F.sum("count")).collect()[0][0]) or 0
        assert summed == total


@pytest.fixture(scope="module")
def spark_hyp(spark):
    """Alias fixture so hypothesis doesn't see a function-scoped spark."""
    return spark


# --- wordcount_rdd's per-document combiner (no Spark) ----------------------

_STRIP = re.compile(r"[^a-z']")


def _tokens_per_token(text):
    """Reference implementation: the per-token generator wordcount_rdd
    used before in-mapper combining (split, then strip each token)."""
    if text is None:
        return
    for tok in text.lower().split():
        w = _STRIP.sub("", tok)
        if w:
            yield w


class _Capture:
    """Stands in for the session, the documents DataFrame and its RDD so
    the partition function word_count_rdd builds can be called directly."""

    rdd = property(lambda self: self)

    def select(self, *_):
        return self

    def mapPartitions(self, fn):
        self.fn = fn
        return self

    def reduceByKey(self, _):
        return self

    def createDataFrame(self, *_):
        return self


def _count_partition():
    cap = _Capture()
    with mock.patch.object(wordcount, "load_table", lambda *_: cap):
        wordcount.word_count_rdd(cap, "")
    return cap.fn


# Whitespace outside ASCII (U+0085, U+00A0, U+1680, U+2028, U+3000 and the
# \x1c-\x1f separators), case mappings that change length or context
# (dotted capital I, final sigma) and the Kelvin sign, which lowers to "k".
_SPECIAL = ("\x85", "\xa0", "\u1680", "\u2028", "\u3000", "\x1c", "\x1d",
            "\x1e", "\x1f", "\u0130", "\u03a3", "\u212a")
_char = (st.sampled_from(_SPECIAL + tuple("aZ' \t-"))
         | st.characters(exclude_categories=()))  # every code point
_doc = st.none() | st.text(alphabet=_char, max_size=40)


@settings(max_examples=300, deadline=None)
@example(["\u0130STANBUL \u039f\u0394\u039f\u03a3 \u03a3\u03a3 \u212aelvin "
          "a\x85b\xa0c\u1680d\u2028e\u3000f\x1cg\x1dh\x1ei\x1fj",
          None, "", " \t ", "..!", "Don't O'BRIEN"])
@given(st.lists(_doc, max_size=8))
def test_partition_counter_matches_per_token_generator(docs):
    """One regex + one Counter.update per document gives the same counts
    as stripping every token separately, over the whole of Unicode."""
    got = dict(_count_partition()(Row(text=t) for t in docs))
    want = Counter(w for t in docs for w in _tokens_per_token(t))
    assert got == want
