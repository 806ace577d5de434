"""Byte-level BPE (operators/byte_bpe.py): the GPT-2 byte table's
bijection, lossless round trips over hostile inputs, the no-UNK
property, Ġ-space boundary behavior, and trainer equality with a
pure-python replica."""

from __future__ import annotations

import re
from collections import Counter

import pytest

from cc_mapreducer_spark.operators.byte_bpe import (
    bytes_to_unicode,
    decode_tokens,
    encode_byte_bpe,
    pre_tokenize,
    to_symbols,
    train_byte_bpe,
)
from cc_mapreducer_spark.tables import load_table
from tests.conftest import SF_SMOKE


@pytest.fixture(scope="module")
def smoke_merges(spark):
    """25 merges of the smoke corpus, trained once for every test here
    that needs a trained model."""
    return train_byte_bpe(load_table(spark, SF_SMOKE, "documents"), n_merges=25)


def test_byte_table_is_the_gpt2_bijection():
    m = bytes_to_unicode()
    assert len(m) == 256
    assert len(set(m.values())) == 256          # bijection
    assert m[ord("a")] == "a"                   # printables map to self
    assert m[ord(" ")] == "Ġ"              # space -> Ġ
    assert m[0] == "Ā"                     # first shifted byte
    assert all(ord(v) >= 33 for v in m.values())  # all printable


def test_round_trip_arbitrary_bytes():
    # pre-token-level round trip must be byte-exact for anything UTF-8
    for s in ["hello", " world", " café", " 中文",
              " \U0001f600", "a" * 300]:
        assert decode_tokens(to_symbols(s)) == s


def test_no_unk_after_training(spark, smoke_merges):
    # encode a corpus the training never saw characters of — by
    # construction every byte still has a symbol and merges just
    # fail to apply; round trip stays exact
    df = spark.createDataFrame(
        [(1, "zzzqqq vvv unseen words here")], "doc_id long, text string"
    )
    row = encode_byte_bpe(df, smoke_merges).collect()[0]
    joined = decode_tokens(list(row.tokens))
    assert joined == "zzzqqq vvv unseen words here"


def test_space_rides_the_following_word():
    assert pre_tokenize("alpha beta gamma") == ["alpha", " beta", " gamma"]
    # and surfaces as the Ġ symbol after mapping
    assert to_symbols(" beta")[0] == "Ġ"


def _ref_train(texts, n_merges, min_pair_count=2):
    freq = Counter()
    for t in texts:
        words = [w for w in re.sub("[^a-z]+", " ", t.lower()).split() if w]
        for i, w in enumerate(words):
            pt = w if i == 0 else " " + w
            freq["".join(to_symbols(pt))] += 1
    vocab = {w: list(w) for w in freq}
    merges = []
    for _ in range(n_merges):
        pairs = Counter()
        for w, syms in vocab.items():
            for i in range(len(syms) - 1):
                pairs[(syms[i], syms[i + 1])] += freq[w]
        if not pairs:
            break
        (a, b), n = min(pairs.items(), key=lambda kv: (-kv[1], kv[0]))
        if n < min_pair_count:
            break
        merges.append((a, b, n))
        new = {}
        for w, syms in vocab.items():
            out, i = [], 0
            while i < len(syms):
                if i + 1 < len(syms) and syms[i] == a and syms[i + 1] == b:
                    out.append(a + b)
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            new[w] = out
        vocab = new
    return merges


def test_trainer_matches_python_reference(spark, smoke_merges):
    texts = [
        r["text"]
        for r in spark.read.parquet(f"{SF_SMOKE}/documents.parquet")
        .select("text")
        .collect()
    ]
    exp = _ref_train(texts, n_merges=25)
    assert smoke_merges == exp


def test_doc_round_trip_through_trained_encoder(spark, smoke_merges):
    docs = load_table(spark, SF_SMOKE, "documents")
    rows = encode_byte_bpe(docs, smoke_merges).collect()
    raw = {
        r["doc_id"]: r["text"]
        for r in spark.read.parquet(f"{SF_SMOKE}/documents.parquet")
        .select("doc_id", "text")
        .collect()
    }
    for r in rows[:50]:
        expected = " ".join(
            w
            for w in re.sub("[^a-z]+", " ", raw[r.doc_id].lower()).split()
            if w
        )
        assert decode_tokens(list(r.tokens)) == expected
