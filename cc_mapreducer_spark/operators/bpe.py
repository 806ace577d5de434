"""Distributed BPE (byte-pair-encoding) tokenizer training.

operators/tokenize.py builds a WORD-level vocab; real LM pipelines train
subword tokenizers. This is Sennrich et al. 2016 BPE, trained with Spark
aggregations:

  1. The corpus collapses to the distinct-word frequency table ONCE
     (the classic trick: BPE statistics only need (word, count), so the
     iteration runs over vocab-sized data — millions of rows at 100 TB,
     not the corpus).
  2. Each round: explode adjacent symbol pairs weighted by word count ->
     ONE shuffle on the pair -> the driver takes the argmax pair (a
     1-row TakeOrdered with a count-desc / pair-asc total order, so
     training is deterministic) -> every word's symbol sequence applies
     the merge via a left fold (built-in `aggregate` HOF — the fold is
     provably equivalent to the reference greedy leftmost scan: the
     just-merged element a+b can never equal the pair's left symbol a,
     so "last element == a" only matches unmerged occurrences).
  3. n_merges rounds; the shrinking word frame is localCheckpoint'd per
     round (cluster deployments write parquet), same discipline as
     clustering.connected_components.

That loop is ``train_merges``, the one merge trainer of the family:
byte-level BPE (operators/byte_bpe.py) and WordPiece
(operators/wordpiece.py) call it with their own alphabet, fuse rule and
pair score.

Encoding applies the learned merge list in rank order per word
(``replay_merges``, shared with byte-level BPE) — a Python loop, so it
runs Arrow-batched in mapInPandas (the production analog swaps in a
native tokenizer library behind the same seam).

A trained model is a driver-side value in the memo (``corpus_model``):
it trains once per session and corpus, and every query that needs it
(the *_token_stats singles, tokenizer_suite) reads that one copy.

Evidence: a pure-Python reference implementation (exact merge-list and
encoding equality on the driver corpus), hand-pinned merges on a
constructed corpus, and the DuckDB oracle that unrolls the training in
SQL (functions/trainer_sql.py).
"""

from __future__ import annotations

import operator
from collections.abc import Callable
from typing import Any, TypeVar

from pyspark.sql import DataFrame, SparkSession, functions as F

from cc_mapreducer_spark.memo import value
from cc_mapreducer_spark.registry import register
from cc_mapreducer_spark.tables import load_table, spread

T = TypeVar("T")

_EOW = "</w>"  # end-of-word marker (standard BPE)
N_MERGES = 40
MIN_PAIR_COUNT = 2


def word_freq_table(docs: DataFrame) -> DataFrame:
    """(word, cnt) over the tokenized corpus — the only corpus-sized
    job in training; everything after runs on distinct words. Uses the
    repo's shared tokenizer expression (text_analysis._SPARK_WORDS) so
    BPE sees exactly the words every other text operator sees."""
    from cc_mapreducer_spark.operators.text_analysis import _SPARK_WORDS

    words = docs.select(F.explode(F.expr(_SPARK_WORDS)).alias("word"))
    return words.groupBy("word").agg(F.count("*").alias("cnt"))


# Left fold == greedy leftmost merge (see module docstring for why the
# equivalence holds). acc is the output array; each step either fuses the
# incoming symbol with the accumulator's last element or appends it.
_MERGE_FOLD = (
    "aggregate(syms, cast(array() as array<string>), (out, x) -> "
    "IF(size(out) > 0 AND element_at(out, -1) = '{a}' AND x = '{b}', "
    "   concat(slice(out, 1, size(out) - 1), array('{ab}')), "
    "   concat(out, array(x))))"
)


# Every adjacent (a, b) symbol pair of a word, for explode. Guard:
# sequence(1, 0) is DESCENDING in Spark, so a fully merged single-symbol
# word must yield an empty pair array, not an out-of-bounds probe.
_ADJACENT_PAIRS = (
    "IF(size(syms) < 2, "
    "cast(array() as array<struct<a: string, b: string>>), "
    "transform(sequence(1, size(syms) - 1), "
    "i -> struct(element_at(syms, i) as a, "
    "element_at(syms, i + 1) as b)))"
)


def _merge_expr(a: str, b: str, ab: str) -> str:
    """_MERGE_FOLD fusing (a, b) into ab, each a Spark SQL literal."""

    def q(s: str) -> str:
        return s.replace("\\", "\\\\").replace("'", "\\'")

    return _MERGE_FOLD.format(a=q(a), b=q(b), ab=q(ab))


def train_merges(
    syms: DataFrame,
    fuse: Callable[[str, str], str],
    n_merges: int,
    min_pair_count: int,
    scorer: str = "count",
) -> list[tuple[str, str, Any]]:
    """The merge-training loop of every merge-based trainer (BPE,
    byte-level BPE, WordPiece). ``syms`` is the initial (word, cnt,
    syms) frame. Each round counts adjacent pairs weighted by word count
    (ONE shuffle on the pair), drops pairs under ``min_pair_count``, and
    the driver takes the argmax (a 1-row TakeOrdered, ties broken by
    pair lexicographic order, so training is deterministic) of the pair
    score: ``"count"``, the raw pair count (Sennrich), or
    ``"likelihood"``, n_ab / (n_a * n_b) (WordPiece; the symbol counts
    are model-sized, so both joins broadcast). Every word then fuses
    the pair into ``fuse(a, b)`` by the left fold. Returns
    [(left, right, score)] in rank order, stopping early when no pair
    qualifies — the same split as trainer_sql._chain_sql(scorer=)."""
    syms = syms.localCheckpoint()
    merges: list[tuple[str, str, Any]] = []
    for _ in range(n_merges):
        pairs = (
            syms.select("cnt", F.explode(F.expr(_ADJACENT_PAIRS)).alias("p"))
            .groupBy("p.a", "p.b")
            .agg(F.sum("cnt").alias("n"))
            .filter(F.col("n") >= min_pair_count)
        )
        if scorer == "likelihood":
            n_s = (
                syms.select("cnt", F.explode("syms").alias("s"))
                .groupBy("s")
                .agg(F.sum("cnt").alias("n_s"))
            )
            pairs = (
                pairs.join(F.broadcast(n_s.toDF("a", "n_a")), "a")
                .join(F.broadcast(n_s.toDF("b", "n_b")), "b")
                .select(
                    "a",
                    "b",
                    (
                        F.col("n").cast("double")
                        / (F.col("n_a") * F.col("n_b")).cast("double")
                    ).alias("n"),
                )
            )
        top = pairs.orderBy(F.desc("n"), "a", "b").take(1)
        if not top:
            break
        a, b = top[0]["a"], top[0]["b"]
        merges.append((a, b, top[0]["n"]))
        syms = syms.select(
            "word", "cnt", F.expr(_merge_expr(a, b, fuse(a, b))).alias("syms")
        ).localCheckpoint()
    return merges


def replay_merges(symbols: list[str], ranked: list[tuple[str, str]]) -> list[str]:
    """Encode one word: apply the (left, right) merges in rank order,
    each as a greedy leftmost scan — what _MERGE_FOLD does to the word
    in training, so a training word's final symbols are its encoding."""
    for a, b in ranked:
        merged, i = [], 0
        while i < len(symbols):
            if i + 1 < len(symbols) and symbols[i] == a and symbols[i + 1] == b:
                merged.append(a + b)
                i += 2
            else:
                merged.append(symbols[i])
                i += 1
        symbols = merged
    return symbols


def corpus_model(
    spark: SparkSession,
    sf_dir: str,
    name: str,
    params: tuple,
    train: Callable[[DataFrame], T],
) -> T:
    """``train`` run on sf_dir's documents once per session, held in the
    memo while documents.parquet is unchanged: the tokenizer queries and
    tokenizer_suite share one trained model instead of retraining on
    every build."""
    return value(
        spark,
        name,
        (sf_dir, *params),
        [f"{sf_dir}/documents.parquet"],
        lambda: train(spread(load_table(spark, sf_dir, "documents"))),
    )


def train_bpe(
    docs: DataFrame,
    n_merges: int = N_MERGES,
    min_pair_count: int = MIN_PAIR_COUNT,
) -> list[tuple[str, str, int]]:
    """Learn up to ``n_merges`` merges; returns [(left, right, count)]
    in rank order. Stops early when no pair reaches min_pair_count.
    Alphabet: each word's characters plus the end-of-word marker."""
    syms = word_freq_table(docs).select(
        "word",
        "cnt",
        F.concat(F.split(F.col("word"), ""), F.array(F.lit(_EOW))).alias("syms"),
    )
    return train_merges(syms, operator.add, n_merges, min_pair_count)


def bpe_model(spark: SparkSession, sf_dir: str) -> list[tuple[str, str, int]]:
    """train_bpe on sf_dir's corpus, memoized (corpus_model)."""
    return corpus_model(
        spark, sf_dir, "bpe_model", (N_MERGES, MIN_PAIR_COUNT), train_bpe
    )


def encode_bpe(docs: DataFrame, merges: list[tuple[str, str, int]]) -> DataFrame:
    """(doc_id, tokens array<string>, n_tokens) — applies the merge list
    in rank order per word, Arrow-batched (a per-word Python loop is the
    honest shape here; production swaps in a native tokenizer behind
    this exact seam). The merge table rides into the closure — a few KB
    broadcast, never a join."""
    import pandas as pd

    ranked = [(a, b) for a, b, _ in merges]

    def run(batches):
        # per-task memo: words repeat heavily (the same fact that lets
        # training collapse to the distinct-word table), so encode each
        # distinct word once per task, not once per occurrence
        memo: dict[str, list[str]] = {}

        def enc_cached(w: str) -> list[str]:
            t = memo.get(w)
            if t is None:
                t = memo[w] = replay_merges(list(w) + [_EOW], ranked)
            return t

        for pdf in batches:
            toks, word_counts = [], []
            for text in pdf["text"]:
                words = [w for w in _normalize(text).split(" ") if w]
                doc_tokens: list[str] = []
                for w in words:
                    doc_tokens.extend(enc_cached(w))
                toks.append(doc_tokens)
                word_counts.append(len(words))
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"].values,
                    "tokens": toks,
                    "n_tokens": [len(t) for t in toks],
                    # words are already split here — emitting the count
                    # saves consumers (bpe_token_stats) a second full
                    # tokenization pass over the corpus
                    "n_words": word_counts,
                }
            )

    return docs.select("doc_id", "text").mapInPandas(
        run, "doc_id long, tokens array<string>, n_tokens int, n_words int"
    )


def _normalize(text: str) -> str:
    import re

    return re.sub("[^a-z]+", " ", text.lower())


from cc_mapreducer_spark.functions.trainer_sql import bpe_stats_sql

# driver=False: the stats are hashed inside tokenizer_suite (the roster
# is pinned at exactly 50 keys); since round 9 the single carries its
# own DuckDB oracle anyway - the trainer unrolls in SQL
# (functions/trainer_sql.py) - so pytest value-checks it cross-engine
@register("bpe_token_stats", oracle=bpe_stats_sql(), driver=False)
def bpe_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Encode the documents corpus with its memoized BPE model and
    report per-source token compression: words in, subword tokens out,
    tokens-per-word. The driver-facing evidence for the trainer (values
    are pinned exactly against a pure-Python reference in pytest)."""
    docs = spread(load_table(spark, sf_dir, "documents"))
    # carries n_words: no second tokenize pass
    enc = encode_bpe(docs, bpe_model(spark, sf_dir))
    per_doc = docs.select("doc_id", "source").join(enc, "doc_id")
    return per_doc.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_words").cast("bigint").alias("total_words"),
        F.sum("n_tokens").cast("bigint").alias("total_tokens"),
        F.round(
            F.sum("n_tokens") / F.sum("n_words").cast("double"), 6
        ).alias("tokens_per_word"),
    )
