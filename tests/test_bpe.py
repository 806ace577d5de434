"""Distributed BPE: exact equality with a pure-Python reference
implementation (merge list AND encodings), hand-pinned merges on a
constructed corpus, and the fold-equals-greedy-scan equivalence."""

from __future__ import annotations

import re
from collections import Counter

import pytest

from cc_mapreducer_spark.operators.bpe import (
    _EOW,
    bpe_token_stats,
    encode_bpe,
    train_bpe,
)
from cc_mapreducer_spark.tables import load_table
from tests.conftest import SF_SMOKE


# ----- pure-Python reference (Sennrich et al. 2016, greedy leftmost) -----

def _ref_word_freq(texts):
    c = Counter()
    for t in texts:
        for w in re.sub("[^a-z]+", " ", t.lower()).split():
            c[w] += 1
    return c


def _ref_merge_word(syms, a, b):
    out, i = [], 0
    while i < len(syms):
        if i + 1 < len(syms) and syms[i] == a and syms[i + 1] == b:
            out.append(a + b)
            i += 2
        else:
            out.append(syms[i])
            i += 1
    return out


def _ref_train(texts, n_merges, min_pair_count=2):
    freq = _ref_word_freq(texts)
    vocab = {w: list(w) + [_EOW] for w in freq}
    merges = []
    for _ in range(n_merges):
        pairs = Counter()
        for w, syms in vocab.items():
            for i in range(len(syms) - 1):
                pairs[(syms[i], syms[i + 1])] += freq[w]
        if not pairs:
            break
        # count desc, pair lexicographic asc — the trainer's total order
        (a, b), n = min(pairs.items(), key=lambda kv: (-kv[1], kv[0]))
        if n < min_pair_count:
            break
        merges.append((a, b, n))
        vocab = {w: _ref_merge_word(s, a, b) for w, s in vocab.items()}
    return merges


def _ref_encode(word, merges):
    out = list(word) + [_EOW]
    for a, b, _ in merges:
        out = _ref_merge_word(out, a, b)
    return out


@pytest.fixture(scope="module")
def smoke_merges(spark):
    """25 merges of the smoke corpus, trained once for the trainer and
    encoder tests."""
    return train_bpe(load_table(spark, SF_SMOKE, "documents"), n_merges=25)


def test_trainer_matches_python_reference_exactly(spark, smoke_merges):
    docs = load_table(spark, SF_SMOKE, "documents")
    texts = [r["text"] for r in docs.select("text").collect()]
    expected = _ref_train(texts, n_merges=25)
    assert smoke_merges == expected  # merge list, order, AND counts


def test_encoder_matches_python_reference_exactly(spark, smoke_merges):
    docs = load_table(spark, SF_SMOKE, "documents")
    texts = {r["doc_id"]: r["text"] for r in docs.collect()}
    enc = {
        r["doc_id"]: r["tokens"]
        for r in encode_bpe(docs, smoke_merges).collect()
    }
    for doc_id, text in texts.items():
        expected = []
        for w in re.sub("[^a-z]+", " ", text.lower()).split():
            expected.extend(_ref_encode(w, smoke_merges))
        assert enc[doc_id] == expected


def test_hand_pinned_merges_on_constructed_corpus(spark):
    # 'aaab' x3 + 'ab' x2: pair counts r1: (a,a)=6, (a,b)=5, (b,</w>)=5
    # -> merge (a,a); r2: (aa,a)=3, (a,b)=5, (b,</w>)=5 -> (a,b) wins
    # lexicographically over (b,</w>)? counts tie at 5: ('a','b') < ('b',
    # '</w>') -> merge (a,b)... but after (a,a): 'aaab' = [aa,a,b,</w>]
    # so (a,b)=5 still (3 from aaab + 2 from ab), (b,</w>)=5, tie ->
    # lexicographic picks (a,b).
    docs = spark.createDataFrame(
        [(0, "aaab aaab aaab ab ab")], "doc_id long, text string"
    )
    merges = train_bpe(docs, n_merges=3)
    assert merges[0] == ("a", "a", 6)
    assert merges[1] == ("a", "b", 5)


def test_fold_handles_overlapping_runs_like_greedy(spark):
    # 'aaaa' with merge (a,a): greedy leftmost gives [aa, aa, </w>],
    # never the overlapping [a, aa, a] or [aa, a, a]
    docs = spark.createDataFrame([(0, "aaaa")], "doc_id long, text string")
    merges = [("a", "a", 99)]
    enc = encode_bpe(docs, merges).collect()[0]["tokens"]
    assert enc == ["aa", "aa", _EOW]
    # and the distributed trainer's own fold agrees on a planted corpus
    got = train_bpe(docs, n_merges=1)
    assert got[0][:2] == ("a", "a") and got[0][2] == 3  # pairs in 'aaaa': 3


def test_bpe_stats_compression_sane(spark):
    stats = {r["source"]: r for r in bpe_token_stats(spark, SF_SMOKE).collect()}
    assert stats  # per-source rows exist
    for r in stats.values():
        assert r["total_tokens"] > 0
        # subword tokens per word: >= 1 always (EOW marker), and well
        # under raw chars-per-word once merges have been learned
        assert 1.0 <= r["tokens_per_word"] < 7.0
        assert r["total_words"] > 0
