"""Byte-level BPE — the GPT-2 tokenizer family (Radford et al. 2019).

Char-level BPE (operators/bpe.py) has an out-of-alphabet problem: any
character unseen in training has no symbol. The production fix is to
tokenize UTF-8 BYTES, whose alphabet is closed (256 values), mapped
through GPT-2's byte-to-printable-unicode table so symbols remain
printable strings. Consequences this module makes testable:

  * NO [UNK], ever — any input byte sequence encodes;
  * decode(encode(x)) == x byte-exactly at the BYTE-SYMBOL LAYER
    (to_symbols/decode_tokens) for ARBITRARY input (emoji, CJK,
    control bytes), because the byte mapping is a bijection and merges
    only concatenate. The registered corpus pipeline normalizes to
    lowercase [a-z]+ pre-tokens BEFORE that layer (the repo-wide
    tokenizer), so the end-to-end pipeline round-trips the normalized
    pre-token stream, not the raw document — the property tests pin
    exactly the layer that owns the guarantee (ADVICE r8);
  * whitespace is data: GPT-2's pre-tokenizer attaches the leading
    space to the following word ("Ġword"), so token boundaries carry
    spacing and decode needs no joiner heuristics.

Training and encoding reuse the char-BPE machinery verbatim
(operators/bpe.py's train_merges fold-merge loop over the
distinct-pre-token frequency table — the corpus collapses once, rounds
are vocab-sized — and its replay_merges) on the byte-mapped alphabet;
what changes is the alphabet and the pre-tokenizer, which is exactly
the relationship the real GPT-2/RoBERTa/Llama tokenizers have to
Sennrich BPE.

bytes_to_unicode is the public GPT-2 construction: the 188 printable
latin-1 bytes map to themselves, the other 68 to U+0100.. in order.

Evidence: the pure-python replica equality, the round-trip and no-UNK
property tests over hostile inputs, the tokenizer_suite driver hash,
and (round 9) a DuckDB oracle that re-derives the training itself
(functions/trainer_sql.py).
"""

from __future__ import annotations

import operator

from pyspark.sql import DataFrame, SparkSession, functions as F

from cc_mapreducer_spark.operators.bpe import (
    corpus_model,
    replay_merges,
    train_merges,
)
from cc_mapreducer_spark.registry import register
from cc_mapreducer_spark.tables import load_table, spread

N_MERGES = 60
MIN_PAIR_COUNT = 2


def bytes_to_unicode() -> dict[int, str]:
    """GPT-2's byte -> printable-unicode bijection."""
    bs = (
        list(range(ord("!"), ord("~") + 1))
        + list(range(ord("\xa1"), ord("\xac") + 1))
        + list(range(ord("\xae"), ord("\xff") + 1))
    )
    cs = bs[:]
    n = 0
    for b in range(256):
        if b not in bs:
            bs.append(b)
            cs.append(256 + n)
            n += 1
    return dict(zip(bs, [chr(c) for c in cs]))


_B2U = bytes_to_unicode()
_U2B = {u: b for b, u in _B2U.items()}


def pre_tokenize(text: str) -> list[str]:
    """GPT-2-style pre-tokens over the repo's corpus normalization:
    lowercase [a-z]+ words, each non-initial word carrying its leading
    space (the Ġ convention materializes after byte mapping)."""
    import re

    words = [w for w in re.sub("[^a-z]+", " ", text.lower()).split() if w]
    return [w if i == 0 else " " + w for i, w in enumerate(words)]


def to_symbols(pre_token: str) -> list[str]:
    """UTF-8 bytes of a pre-token, each mapped to its printable symbol."""
    return [_B2U[b] for b in pre_token.encode("utf-8")]


def decode_tokens(tokens: list[str]) -> str:
    """Inverse: concatenate token symbols, map each back to its byte,
    utf-8 decode — exact because merges only concatenate symbols."""
    data = bytes(_U2B[ch] for tok in tokens for ch in tok)
    return data.decode("utf-8")


def byte_word_freq_table(docs: DataFrame) -> DataFrame:
    """(word, cnt) where word is the byte-mapped pre-token string —
    the only corpus-sized job; training then runs vocab-sized."""
    import pandas as pd

    def run(batches):
        from collections import Counter

        for pdf in batches:
            c: Counter = Counter()
            for text in pdf["text"]:
                for pt in pre_tokenize(str(text)):
                    c["".join(to_symbols(pt))] += 1
            yield pd.DataFrame(
                {"word": list(c.keys()), "cnt": list(c.values())}
            )

    return (
        docs.select("text")
        .mapInPandas(run, "word string, cnt long")
        .groupBy("word")
        .agg(F.sum("cnt").alias("cnt"))
    )


def train_byte_bpe(
    docs: DataFrame,
    n_merges: int = N_MERGES,
    min_pair_count: int = MIN_PAIR_COUNT,
) -> list[tuple[str, str, int]]:
    """Sennrich merges over the byte-mapped distinct-pre-token table —
    operators/bpe.train_merges with the byte alphabet and NO end-of-word
    marker (byte-level BPE carries word boundaries in the Ġ space
    symbol instead)."""
    syms = byte_word_freq_table(docs).select(
        "word", "cnt", F.split(F.col("word"), "").alias("syms")
    )
    return train_merges(syms, operator.add, n_merges, min_pair_count)


def byte_bpe_model(
    spark: SparkSession, sf_dir: str
) -> list[tuple[str, str, int]]:
    """train_byte_bpe on sf_dir's corpus, memoized (bpe.corpus_model)."""
    return corpus_model(
        spark, sf_dir, "byte_bpe_model", (N_MERGES, MIN_PAIR_COUNT),
        train_byte_bpe,
    )


def encode_byte_bpe(
    docs: DataFrame, merges: list[tuple[str, str, int]]
) -> DataFrame:
    """(doc_id, tokens, n_tokens, n_bytes) — merge replay in rank order
    per distinct pre-token, Arrow-batched with a per-task memo; the
    merge list rides the closure."""
    import pandas as pd

    ranked = [(a, b) for a, b, _ in merges]

    def run(batches):
        memo: dict[str, list[str]] = {}

        def enc(pt: str) -> list[str]:
            t = memo.get(pt)
            if t is None:
                t = memo[pt] = replay_merges(to_symbols(pt), ranked)
            return t

        for pdf in batches:
            toks, n_bytes = [], []
            for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
                doc_tokens: list[str] = []
                nb = 0
                for pt in pre_tokenize(str(text)):
                    nb += len(pt.encode("utf-8"))
                    doc_tokens.extend(enc(pt))
                toks.append(doc_tokens)
                n_bytes.append(nb)
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"].values,
                    "tokens": toks,
                    "n_tokens": [len(t) for t in toks],
                    "n_bytes": n_bytes,
                }
            )

    return docs.select("doc_id", "text").mapInPandas(
        run, "doc_id long, tokens array<string>, n_tokens int, n_bytes int"
    )


from cc_mapreducer_spark.functions.trainer_sql import bbpe_stats_sql

# driver=False: hashed inside tokenizer_suite; oracle-backed since r9
@register("byte_bpe_token_stats", oracle=bbpe_stats_sql(), driver=False)
def byte_bpe_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Encode with the memoized byte-level BPE model and report
    per-source bytes-per-token compression — the byte-grain analog of
    the other tokenizer stats; trainer, encoder, and the
    lossless-round-trip property are pinned in pytest."""
    docs = spread(load_table(spark, sf_dir, "documents"))
    enc = encode_byte_bpe(docs, byte_bpe_model(spark, sf_dir))
    per_doc = docs.select("doc_id", "source").join(enc, "doc_id")
    return per_doc.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_bytes").cast("bigint").alias("total_bytes"),
        F.sum("n_tokens").cast("bigint").alias("total_tokens"),
        F.round(
            F.sum("n_bytes") / F.sum("n_tokens").cast("double"), 6
        ).alias("bytes_per_token"),
    )
