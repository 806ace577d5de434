"""Unit + property tests for the reference-surface operators (SURVEY §5)."""

from __future__ import annotations

from hypothesis import given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from cc_mapreducer_spark.functions.text import STOP_WORDS, tokens
from cc_mapreducer_spark.operators.anagram import (
    op_filter_minlen,
    op_filter_stopwords,
    op_group_anagrams,
    op_map_signature,
    op_tokenize,
)

MICRO_CORPUS = [
    (1, "Listen! The silent night."),
    (2, "Enlist the dog; a god's bark."),
    (3, "don't stop me now 42"),
    (4, "Dog GOD dog"),
]


def _pipeline(spark, rows):
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    words = op_filter_stopwords(op_filter_minlen(op_tokenize(docs)))
    return op_group_anagrams(op_map_signature(words))


def test_planted_anagram_groups(spark):
    groups = {r["signature"]: list(r["words"]) for r in _pipeline(spark, MICRO_CORPUS).collect()}
    # listen/silent/enlist all reduce to signature 'eilnst'
    assert groups["eilnst"] == ["enlist", "listen", "silent"]
    # dog/god (case-folded, distinct-collected across docs)
    assert groups["dgo"] == ["dog", "god"]
    # singleton signatures (night, bark, ...) must be dropped by having>1
    assert all(len(ws) > 1 for ws in groups.values())


def test_tokenizer_quirks(spark):
    docs = spark.createDataFrame([(1, "don't A b2c D-e")], ["doc_id", "text"])
    words = op_filter_minlen(op_tokenize(docs))
    got = sorted(r["word"] for r in words.collect())
    # apostrophe/digit/dash are breaks; single chars dropped; case folded
    assert got == ["don"]


def test_stopword_anti_join(spark):
    docs = spark.createDataFrame([(1, "the quick the lazy the")], ["doc_id", "text"])
    words = op_filter_stopwords(op_filter_minlen(op_tokenize(docs)))
    got = sorted(r["word"] for r in words.collect())
    assert got == ["lazy", "quick"]
    assert "the" in STOP_WORDS


def test_stopword_filter_keeps_null_words(spark):
    # a LEFT ANTI join keeps null keys; the InSet filter must too
    words = spark.createDataFrame([(None,), ("the",), ("quick",)], "word string")
    got = sorted(op_filter_stopwords(words).collect(), key=lambda r: r["word"] or "")
    assert [r["word"] for r in got] == [None, "quick"]


@settings(max_examples=30, deadline=None)
@given(text=st.text(alphabet="abcXYZ09'-., \t\n!?éÉßİ\u00a0日", max_size=40))
def test_tokens_match_two_pass_tokenizer(spark, text):
    """split(lower(t), '[^a-z]+') yields the same length>1 tokens as the
    two-pass split(regexp_replace(lower(t), '[^a-z]+', ' '), ' ')."""
    df = spark.createDataFrame([(text,)], "t string")
    two_pass = F.split(F.regexp_replace(F.lower("t"), "[^a-z]+", " "), " ")
    row = df.select(tokens(F.col("t")).alias("new"), two_pass.alias("old")).first()
    assert [w for w in row["new"] if len(w) > 1] == [w for w in row["old"] if len(w) > 1]


@settings(max_examples=20, deadline=None)
@given(word=st.text(alphabet="abcdefghijklmnopqrstuvwxyz", min_size=2, max_size=12))
def test_signature_permutation_invariant(spark, word):
    """sig(w) == sig(reversed(w)) and output matches sorted chars."""
    df = spark.createDataFrame([(word,), (word[::-1],)], ["word"])
    sigs = [r["signature"] for r in op_map_signature(df).collect()]
    assert sigs[0] == sigs[1] == "".join(sorted(word))


def test_tokens_match_alphabet(spark):
    docs = spark.createDataFrame(MICRO_CORPUS, ["doc_id", "text"])
    words = op_filter_stopwords(op_filter_minlen(op_tokenize(docs)))
    bad = words.filter(~F.col("word").rlike("^[a-z]{2,}$")).count()
    assert bad == 0
