"""Distributed WordPiece tokenizer (Schuster & Nakajima 2012; the BERT
tokenizer) — the third of the big-three subword algorithms, next to BPE
(operators/bpe.py) and unigram-LM (operators/unigram_lm.py).

WordPiece differs from BPE in exactly one training decision and one
encoding decision, and both are implemented faithfully:

  training   merge the adjacent pair maximizing the LIKELIHOOD score
             count(ab) / (count(a) * count(b)) — not the raw pair count.
             A pair of rare-but-always-together symbols beats a pair of
             frequent loners; this is what gives WordPiece its
             morpheme-ish units.
  encoding   greedy longest-match-first (MaxMatch) against the final
             vocabulary — no merge replay: per word, take the longest
             vocab prefix, then repeatedly the longest '##'-continuation
             match; any dead end makes the whole word [UNK].

Distributed shape (same discipline as BPE): the corpus collapses ONCE
to the distinct-word frequency table, so each training round is
vocab-sized work — explode adjacent pairs and symbols (both weighted by
word count), ONE shuffle each, join pair counts to symbol counts
(broadcast: the symbol table is model-sized), and the driver takes the
deterministic argmax (score desc, then pair lexicographic — float ties
broken by total order, so training is reproducible). The merge applies
via the same left-fold HOF as BPE. Encoding runs Arrow-batched in
mapInPandas with a per-task word memo; the vocab rides the closure
(model-sized broadcast, never a join).

Non-initial symbols carry the '##' continuation prefix, so merging
(a, b) yields a + b[2:]; words longer than MAX_WORD_CHARS are [UNK]
(BERT's max_input_chars_per_word guard).

No DuckDB oracle: training is iterative with a data-dependent schedule
— the policy of BPE/unigram/IVFPQ. Evidence is a pure-python replica
(exact merge-list, vocab, and encoding equality pinned in pytest) plus
hand-verified merges on a constructed corpus.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from cc_mapreducer_spark.memo import value
from cc_mapreducer_spark.operators.bpe import (
    _ADJACENT_PAIRS,
    _merge_expr,
    word_freq_table,
)
from cc_mapreducer_spark.registry import register
from cc_mapreducer_spark.tables import load_table, spread

N_MERGES = 40
MIN_PAIR_COUNT = 2
MAX_WORD_CHARS = 100  # BERT's per-word guard: longer words are [UNK]
UNK = "[UNK]"


def _initial_symbols(freq: DataFrame) -> DataFrame:
    """word -> [first char, '##'+c for the rest] (WordPiece's word-
    boundary convention: position is carried by the continuation
    prefix, not an end-of-word marker)."""
    return freq.select(
        "word",
        "cnt",
        F.expr(
            "transform(split(word, ''), "
            "(c, i) -> IF(i = 0, c, concat('##', c)))"
        ).alias("syms"),
    )


def _merged_symbol(a: str, b: str) -> str:
    """Fusing a pair drops the right side's continuation prefix; the
    left side's prefix (or absence) is the fused symbol's position."""
    return a + (b[2:] if b.startswith("##") else b)


def _apply_merge(syms_df: DataFrame, a: str, b: str) -> DataFrame:
    expr = _merge_expr(a, b, _merged_symbol(a, b))
    return syms_df.select("word", "cnt", F.expr(expr).alias("syms"))


def train_wordpiece(
    docs: DataFrame,
    n_merges: int = N_MERGES,
    min_pair_count: int = MIN_PAIR_COUNT,
) -> tuple[list[tuple[str, str, float]], list[str]]:
    """Learn up to ``n_merges`` merges by likelihood score; returns
    (merges [(left, right, score)], vocab). The vocab is every initial
    symbol plus every fused symbol — what greedy encoding matches
    against."""
    syms = _initial_symbols(word_freq_table(docs)).localCheckpoint()
    vocab = {
        r["s"]
        for r in syms.select(
            F.explode("syms").alias("s")
        ).distinct().collect()
    }
    merges: list[tuple[str, str, float]] = []
    for _ in range(n_merges):
        exploded = syms.select(
            "cnt",
            "syms",
            F.explode(F.expr(_ADJACENT_PAIRS)).alias("p"),
        )
        pairs = exploded.groupBy("p.a", "p.b").agg(F.sum("cnt").alias("n_ab"))
        sym_counts = (
            syms.select("cnt", F.explode("syms").alias("s"))
            .groupBy("s")
            .agg(F.sum("cnt").alias("n_s"))
        )
        scored = (
            pairs.join(
                F.broadcast(
                    sym_counts.select(
                        F.col("s").alias("a"), F.col("n_s").alias("n_a")
                    )
                ),
                "a",
            )
            .join(
                F.broadcast(
                    sym_counts.select(
                        F.col("s").alias("b"), F.col("n_s").alias("n_b")
                    )
                ),
                "b",
            )
            .select(
                "a",
                "b",
                "n_ab",
                (
                    F.col("n_ab").cast("double")
                    / (F.col("n_a") * F.col("n_b")).cast("double")
                ).alias("score"),
            )
        )
        top = scored.filter(F.col("n_ab") >= min_pair_count).orderBy(
            F.desc("score"), "a", "b"
        ).take(1)
        if not top:
            break
        a, b, score = top[0]["a"], top[0]["b"], float(top[0]["score"])
        merges.append((a, b, score))
        vocab.add(_merged_symbol(a, b))
        syms = _apply_merge(syms, a, b).localCheckpoint()
    return merges, sorted(vocab)


def encode_word_wordpiece(word: str, vocab: set[str]) -> list[str]:
    """Greedy longest-match-first — the reference MaxMatch loop every
    WordPiece implementation ships; shared by the Spark kernel and the
    pytest replica so they cannot drift."""
    if len(word) > MAX_WORD_CHARS:
        return [UNK]
    out: list[str] = []
    start = 0
    while start < len(word):
        end = len(word)
        cur = None
        while start < end:
            piece = word[start:end]
            if start > 0:
                piece = "##" + piece
            if piece in vocab:
                cur = piece
                break
            end -= 1
        if cur is None:
            return [UNK]
        out.append(cur)
        start = end
    return out


def encode_wordpiece(docs: DataFrame, vocab: list[str]) -> DataFrame:
    """(doc_id, tokens, n_tokens, n_words, n_unk) — greedy MaxMatch per
    word, Arrow-batched with a per-task distinct-word memo; the vocab
    set rides the closure."""
    import pandas as pd

    from cc_mapreducer_spark.operators.bpe import _normalize

    vset = set(vocab)

    def run(batches):
        memo: dict[str, list[str]] = {}

        def enc(w: str) -> list[str]:
            t = memo.get(w)
            if t is None:
                t = memo[w] = encode_word_wordpiece(w, vset)
            return t

        for pdf in batches:
            toks, n_words, n_unk = [], [], []
            for text in pdf["text"]:
                words = [w for w in _normalize(text).split(" ") if w]
                doc_tokens: list[str] = []
                unk = 0
                for w in words:
                    t = enc(w)
                    unk += t.count(UNK)
                    doc_tokens.extend(t)
                toks.append(doc_tokens)
                n_words.append(len(words))
                n_unk.append(unk)
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"].values,
                    "tokens": toks,
                    "n_tokens": [len(t) for t in toks],
                    "n_words": n_words,
                    "n_unk": n_unk,
                }
            )

    return docs.select("doc_id", "text").mapInPandas(
        run,
        "doc_id long, tokens array<string>, n_tokens int, "
        "n_words int, n_unk int",
    )


# --------------------------------------------------------------------------
# model lifecycle: train once -> persist -> serve (the PQ/unigram
# pattern — per-query cost must be the encode, not the 40-round fit)
# --------------------------------------------------------------------------


def wordpiece_save_model(spark: SparkSession, sf_dir: str, path: str) -> None:
    """Train on sf_dir's corpus and persist the vocab as parquet — the
    standing artifact every tokenization job ships with."""
    docs = spread(load_table(spark, sf_dir, "documents"))
    _, vocab = train_wordpiece(docs)
    spark.createDataFrame(
        [(v,) for v in vocab], "piece string"
    ).coalesce(1).write.mode("overwrite").parquet(path)


def wordpiece_load_model(spark: SparkSession, path: str) -> list[str]:
    """The persisted vocab back as the list the encoder's closure rides
    (model-sized collect)."""
    return sorted(r["piece"] for r in spark.read.parquet(path).collect())


from cc_mapreducer_spark.functions.trainer_sql import wp_stats_sql

def encode_wordpiece_stats(docs: DataFrame, vocab: list[str]) -> DataFrame:
    """(source, n_tokens, n_words, n_unk) — one row per document, the
    stats-grain encoder. Same greedy MaxMatch + per-task word memo as
    ``encode_wordpiece``, but it never materializes or ships the token
    arrays (the stats consumer only sums counts), and it CARRIES the
    grouping column through the kernel instead of joining the encoded
    stream back to the corpus on doc_id — the r11 lane paid a full
    token-stream shuffle plus the Arrow transfer of every tokens array
    only to discard both (guide §2.3 project-before-the-exchange, §4.1
    pass only the columns the function needs)."""
    import pandas as pd

    from cc_mapreducer_spark.operators.bpe import _normalize

    vset = set(vocab)

    def run(batches):
        memo: dict[str, tuple[int, int]] = {}

        def enc(w: str) -> tuple[int, int]:
            t = memo.get(w)
            if t is None:
                pieces = encode_word_wordpiece(w, vset)
                t = memo[w] = (len(pieces), pieces.count(UNK))
            return t

        for pdf in batches:
            src, n_tokens, n_words, n_unk = [], [], [], []
            for source, text in zip(pdf["source"], pdf["text"]):
                words = [w for w in _normalize(text).split(" ") if w]
                nt = nu = 0
                for w in words:
                    t, u = enc(w)
                    nt += t
                    nu += u
                src.append(source)
                n_tokens.append(nt)
                n_words.append(len(words))
                n_unk.append(nu)
            yield pd.DataFrame(
                {
                    "source": src,
                    "n_tokens": n_tokens,
                    "n_words": n_words,
                    "n_unk": n_unk,
                }
            )

    return docs.select("source", "text").mapInPandas(
        run, "source string, n_tokens int, n_words int, n_unk int"
    )


# driver=False: hashed inside tokenizer_suite; oracle-backed since r9
# (training AND the MaxMatch serving both unroll in SQL)
@register("wordpiece_token_stats", oracle=wp_stats_sql(), driver=False)
def wordpiece_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source subword compression + UNK accounting. The query is
    the SERVING path — greedy MaxMatch against the saved vocab artifact
    (training runs once per corpus per process via
    wordpiece_save_model); values pinned exactly against the
    pure-python replica in pytest, saved-vs-inline equality included.
    Aggregates the stats-grain encoder (counts only, source carried
    through the kernel) — r11's shape joined the full token-array
    stream back to the corpus on doc_id and shuffled it, for an
    aggregation that reads none of the tokens."""
    import hashlib
    import os
    import tempfile

    docs = spread(load_table(spark, sf_dir, "documents"))
    tag = hashlib.md5(sf_dir.encode()).hexdigest()[:12]
    path = os.path.join(tempfile.gettempdir(), f"cc_mr_spark_wordpiece_model_{tag}")
    # trained and saved once per corpus per session (deterministic
    # training, so re-serving the saved vocab is exact)
    value(
        spark,
        "wordpiece_model",
        (path,),
        [f"{sf_dir}/documents.parquet"],
        lambda: wordpiece_save_model(spark, sf_dir, path),
    )
    vocab = wordpiece_load_model(spark, path)
    per_doc = encode_wordpiece_stats(docs, vocab)
    return per_doc.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_words").cast("bigint").alias("total_words"),
        F.sum("n_tokens").cast("bigint").alias("total_tokens"),
        F.sum("n_unk").cast("bigint").alias("total_unk"),
        F.round(
            F.sum("n_tokens") / F.sum("n_words").cast("double"), 6
        ).alias("tokens_per_word"),
    )
