"""Distributed WordPiece: exact equality with a pure-python reference
(merge list, vocab, AND per-document token/word/UNK counts of the
encoder), the memoized model, hand-verified likelihood-score
merges on a constructed corpus, greedy-longest-match edge cases
([UNK] on dead ends and over-long words), and the BPE-vs-WordPiece
behavioral difference the likelihood score exists to produce."""

from __future__ import annotations

import re
from collections import Counter

import pytest

from cc_mapreducer_spark.operators.wordpiece import (
    MAX_WORD_CHARS,
    UNK,
    _merged_symbol,
    encode_word_wordpiece,
    encode_wordpiece_stats,
    train_wordpiece,
    wordpiece_model,
    wordpiece_token_stats,
)
from cc_mapreducer_spark.tables import load_table
from tests.conftest import SF_SMOKE


# ----- pure-python reference trainer (likelihood-score greedy) -----

def _ref_word_freq(texts):
    c = Counter()
    for t in texts:
        for w in re.sub("[^a-z]+", " ", t.lower()).split():
            c[w] += 1
    return c


def _ref_merge_word(syms, a, b):
    out, i = [], 0
    ab = _merged_symbol(a, b)
    while i < len(syms):
        if i + 1 < len(syms) and syms[i] == a and syms[i + 1] == b:
            out.append(ab)
            i += 2
        else:
            out.append(syms[i])
            i += 1
    return out


def _ref_train(texts, n_merges=40, min_pair_count=2):
    freq = _ref_word_freq(texts)
    words = {
        w: [c if i == 0 else "##" + c for i, c in enumerate(w)]
        for w in freq
    }
    vocab = {s for syms in words.values() for s in syms}
    merges = []
    for _ in range(n_merges):
        pairs, singles = Counter(), Counter()
        for w, syms in words.items():
            for s in syms:
                singles[s] += freq[w]
            for i in range(len(syms) - 1):
                pairs[(syms[i], syms[i + 1])] += freq[w]
        scored = {
            p: n / (singles[p[0]] * singles[p[1]])
            for p, n in pairs.items()
            if n >= min_pair_count
        }
        if not scored:
            break
        (a, b) = min(scored, key=lambda p: (-scored[p], p))
        merges.append((a, b, scored[(a, b)]))
        vocab.add(_merged_symbol(a, b))
        words = {w: _ref_merge_word(s, a, b) for w, s in words.items()}
    return merges, sorted(vocab)


def _smoke_texts(spark):
    return [
        r["text"]
        for r in spark.read.parquet(f"{SF_SMOKE}/documents.parquet")
        .select("text")
        .collect()
    ]


@pytest.fixture(scope="module")
def smoke_model(spark):
    """The default 40-merge model of the smoke corpus, trained once for
    every test here that reads it."""
    return train_wordpiece(load_table(spark, SF_SMOKE, "documents"))


def test_trainer_matches_python_reference_exactly(spark, smoke_model):
    got_merges, got_vocab = smoke_model
    exp_merges, exp_vocab = _ref_train(_smoke_texts(spark))
    assert [(a, b) for a, b, _ in got_merges] == [
        (a, b) for a, b, _ in exp_merges
    ]
    for (_, _, gs), (_, _, es) in zip(got_merges, exp_merges):
        assert abs(gs - es) < 1e-15
    assert got_vocab == exp_vocab


def test_encoder_matches_python_reference_exactly(spark, smoke_model):
    """Per-document (n_tokens, n_words, n_unk) of each source, from the
    stats-grain encoder, equal the pure-python MaxMatch's."""
    _, vocab = smoke_model
    docs = load_table(spark, SF_SMOKE, "documents")
    got = Counter(
        tuple(r) for r in encode_wordpiece_stats(docs, vocab).collect()
    )
    vset = set(vocab)
    exp = Counter()
    for r in docs.select("source", "text").collect():
        words = [
            w
            for w in re.sub("[^a-z]+", " ", r["text"].lower()).split()
            if w
        ]
        toks = [t for w in words for t in encode_word_wordpiece(w, vset)]
        exp[(r["source"], len(toks), len(words), toks.count(UNK))] += 1
    assert got == exp


def test_likelihood_score_beats_raw_count(spark):
    """The defining WordPiece-vs-BPE behavior: 'q u' occurs 3 times but
    always together (score 3/(3*3)=0.333); 'a b' occurs 4 times among
    frequent singles (score 4/(9*8)=0.056). BPE merges (a,b) first;
    WordPiece must merge (q,##u) first."""
    texts = (
        ["qu"] * 3 + ["ab"] * 4 + ["ax"] * 5 + ["yb"] * 4
    )
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    merges, _ = train_wordpiece(df, n_merges=1)
    assert (merges[0][0], merges[0][1]) == ("q", "##u")


def test_merged_symbol_prefix_rules():
    assert _merged_symbol("h", "##e") == "he"
    assert _merged_symbol("##l", "##o") == "##lo"


def test_greedy_longest_match_and_unk():
    vocab = {"un", "##aff", "##able", "##ab", "a", "##b", "b"}
    assert encode_word_wordpiece("unaffable", vocab) == [
        "un", "##aff", "##able",
    ]
    # dead end mid-word -> the WHOLE word is [UNK] (BERT semantics)
    assert encode_word_wordpiece("unz", vocab) == [UNK]
    # no initial match at all
    assert encode_word_wordpiece("zzz", vocab) == [UNK]
    # longest match wins over shorter valid prefixes
    assert encode_word_wordpiece("ab", {"a", "ab", "##b"}) == ["ab"]
    # over-long words are guarded
    assert encode_word_wordpiece("a" * (MAX_WORD_CHARS + 1), vocab) == [UNK]


def test_stats_compression_sane(spark):
    df = wordpiece_token_stats(spark, SF_SMOKE).toPandas()
    assert len(df) > 0
    assert (df["total_unk"] == 0).all()  # trained on the same corpus
    assert (df["tokens_per_word"] >= 1.0).all()
    # 40 merges on a ~31-word vocab compress most words to few pieces
    assert (df["tokens_per_word"] < 4.0).all()


def test_saved_model_equals_inline_training(spark, smoke_model):
    """The model the memo holds for a corpus is the one inline training
    learns, merge table and vocab alike."""
    assert wordpiece_model(spark, SF_SMOKE) == smoke_model
