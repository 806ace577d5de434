"""Unigram-LM tokenizer (operators/unigram_lm.py): the probability-
space lattice forward/backward matches brute-force enumeration, Viterbi
matches a brute-force best-segmentation search under the same
tie-break, the distributed trainer matches a pure-python replica of the
fixed schedule EXACTLY (the integer count grid makes the comparison
exact, not approximate), and the registered query holds its
invariants. Cross-ENGINE parity is pinned by the DuckDB oracle
(test_oracle_parity at sf0.01; the other SFs below)."""

from __future__ import annotations

import itertools
import math

from cc_mapreducer_spark.operators.unigram_lm import (
    MAX_PIECE_LEN,
    _forward_backward,
    _viterbi,
    encode_unigram,
    train_unigram,
    unigram_token_stats,
)

SF_ORACLE = "/root/testdata/sf0.001"


def _all_segmentations(word: str, pieces: set[str]):
    """Every segmentation of word into pieces (brute force)."""
    if not word:
        yield []
        return
    for ln in range(1, min(MAX_PIECE_LEN, len(word)) + 1):
        head = word[:ln]
        if head in pieces:
            for rest in _all_segmentations(word[ln:], pieces):
                yield [head] + rest


def test_forward_backward_matches_brute_force():
    p = {"a": 0.3, "b": 0.2, "ab": 0.35, "ba": 0.1, "bab": 0.05}
    for word in ("abab", "aabb", "babab", "a"):
        total, posts = _forward_backward(word, p)
        segs = list(_all_segmentations(word, set(p)))
        probs = [math.prod(p[q] for q in s) for s in segs]
        z = sum(probs)
        assert abs(total - z) < 1e-14
        # per-piece expected counts: posterior-weighted piece counts
        got: dict[str, float] = {}
        for piece, post in posts:
            got[piece] = got.get(piece, 0.0) + post
        expect: dict[str, float] = {}
        for s, pr in zip(segs, probs):
            for q in s:
                expect[q] = expect.get(q, 0.0) + pr / z
        # posts list may carry zero-posterior edges (piece present but
        # path unreachable); they add exact zeros
        for q in expect:
            assert abs(got.get(q, 0.0) - expect[q]) < 1e-10, (word, q)
        for q in set(got) - set(expect):
            assert got[q] == 0.0, (word, q)


def test_forward_backward_unreachable_word():
    total, posts = _forward_backward("xyz", {"a": 0.5})
    assert total == 0.0 and posts == []


def test_viterbi_matches_brute_force_with_tiebreak():
    import random

    rng = random.Random(17)
    alphabet = "abc"
    for _ in range(60):
        word = "".join(rng.choice(alphabet) for _ in range(rng.randint(1, 9)))
        pieces = {c: 0.2 for c in alphabet}
        for _ in range(5):
            i = rng.randint(0, len(word) - 1)
            j = rng.randint(i + 1, min(len(word), i + MAX_PIECE_LEN))
            pieces[word[i:j]] = rng.uniform(0.01, 0.5)
        got = _viterbi(word, pieces)
        # brute-force best under the operator's contract: highest
        # product, then fewest pieces, then lexicographically smallest
        # SPACE-joined piece string (equals tuple order: ' ' < 'a')
        best = min(
            (
                (
                    -math.prod(pieces[q] for q in s),
                    len(s),
                    " ".join(s),
                )
                for s in _all_segmentations(word, set(pieces))
            ),
        )
        assert " ".join(got) == best[2], (word, got, best)


def _replica_train(words: dict[str, int]) -> dict[str, float]:
    """Pure-python replica of train_unigram's EXACT fixed schedule —
    (EM x EM_ITERS, prune) x PRUNE_ROUNDS + EM x EM_ITERS — driving the
    shared lattice kernel directly (no Spark). The integer count grid
    makes every step exact, so the comparison below is equality, not
    allclose: any scheduling or aggregation drift in the distributed
    trainer fails loudly."""
    from cc_mapreducer_spark.operators.unigram_lm import (
        _C_SCALE,
        _CHAR_FLOOR,
        EM_ITERS,
        PRUNE_ROUNDS,
        SEED_VOCAB,
        TARGET_VOCAB,
    )

    chars = {c for w in words for c in w}
    scores: dict[str, int] = {}
    for w, cnt in words.items():
        for i in range(len(w)):
            for ln in range(2, min(MAX_PIECE_LEN, len(w) - i) + 1):
                q = w[i : i + ln]
                scores[q] = scores.get(q, 0) + cnt * len(q)
    seed = sorted(scores, key=lambda q: (-scores[q], q))[:SEED_VOCAB]
    pieces = sorted(chars | set(seed))
    p = {q: 1.0 / len(pieces) for q in pieces}

    def em(p):
        agg: dict[str, int] = {}
        for w, cnt in words.items():
            total, posts = _forward_backward(w, p)
            if total == 0.0:
                continue
            for piece, post in posts:
                qi = math.floor((post * cnt) * float(_C_SCALE) + 0.5)
                agg[piece] = agg.get(piece, 0) + qi
        tot = sum(agg.values())
        out = {q: c / tot for q, c in agg.items() if c > 0}
        for ch in chars:
            if ch not in out:
                out[ch] = _CHAR_FLOOR
        return out

    def prune(p):
        multi = sorted((q for q in p if len(q) > 1), key=lambda q: (-p[q], q))
        keep = max(TARGET_VOCAB, (len(multi) * 3) // 4)
        kept = set(multi[:keep]) | chars
        return {q: v for q, v in p.items() if q in kept}

    for _ in range(PRUNE_ROUNDS):
        for _ in range(EM_ITERS):
            p = em(p)
        p = prune(p)
    for _ in range(EM_ITERS):
        p = em(p)
    return p


def test_trainer_matches_python_replica_exactly(spark):
    texts = [
        "the quick brown fox jumps over the lazy dog",
        "the quick brown fox",
        "lowering the lowest newer wider low lower newest",
        "tokenization tokenizer tokens token tokenize",
        "the the the quick quick brown",
    ] * 3
    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    from cc_mapreducer_spark.operators.bpe import word_freq_table

    words = {r["word"]: r["cnt"] for r in word_freq_table(docs).collect()}
    expect = _replica_train(words)
    got = train_unigram(docs)
    # EXACT equality: integer-grid counts leave no room for drift
    assert got == expect
    # and the segmentations agree exactly under the shared Viterbi
    freq = word_freq_table(docs)
    segs = {
        r["word"]: r["segmentation"]
        for r in encode_unigram(freq, got).collect()
    }
    for w in words:
        assert segs[w] == "|".join(_viterbi(w, expect)), w
        assert segs[w].replace("|", "") == w  # concatenation invariant


def test_registered_query_invariants(spark):
    rows = unigram_token_stats(spark, SF_ORACLE).collect()
    assert len(rows) >= 20
    for r in rows:
        assert r["segmentation"].replace("|", "") == r["word"]
        assert r["n_pieces"] == r["segmentation"].count("|") + 1
        assert 1 <= r["n_pieces"] <= len(r["word"])
    # a corpus this repetitive must learn real multi-char pieces
    assert any(r["n_pieces"] < len(r["word"]) for r in rows)


def test_unigram_oracle_parity_other_sfs(spark):
    """sf0.01 is the registry parity gate (test_oracle_parity); the
    unrolled-EM oracle is additionally pinned at the other two SFs
    (the kmeans / IVFPQ / MMR precedent for float-adjacent keys)."""
    from cc_mapreducer_spark.operators.unigram_lm import _UNIGRAM_SQL
    from tests.oracle import compare_frames, duckdb_connection

    for sf in ("/root/testdata/sf0.001", "/root/testdata/sf0.1"):
        con = duckdb_connection(sf)
        try:
            compare_frames(
                unigram_token_stats(spark, sf).toPandas(),
                con.sql(_UNIGRAM_SQL).df(),
                f"unigram_token_stats@{sf}",
            )
        finally:
            con.close()


def test_saved_model_serving_equals_inline(spark):
    """The model the memo holds for a corpus equals a fresh
    train_unigram on that corpus, and the registered query serves
    exactly encode_unigram run with that model."""
    from cc_mapreducer_spark.operators.bpe import word_freq_table
    from cc_mapreducer_spark.operators.unigram_lm import unigram_model
    from cc_mapreducer_spark.tables import load_table, spread

    sf = "/root/testdata/sf0.001"
    docs = spread(load_table(spark, sf, "documents"))
    model = unigram_model(spark, sf)
    assert model == train_unigram(docs)
    inline = encode_unigram(word_freq_table(docs), model).toPandas()
    served = unigram_token_stats(spark, sf).toPandas()
    key = lambda df: sorted(
        map(tuple, df[["word", "cnt", "n_pieces", "segmentation"]].values)
    )
    assert key(inline) == key(served)
