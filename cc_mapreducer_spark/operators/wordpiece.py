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

Distributed shape: training is operators/bpe.train_merges, the loop
BPE and byte-level BPE use, with the likelihood pair score and the
'##'-aware fuse rule. The corpus collapses ONCE to the distinct-word
frequency table, so each round is vocab-sized work — explode adjacent
pairs and symbols (both weighted by word count), ONE shuffle each, join
pair counts to symbol counts (broadcast: the symbol table is
model-sized), and the driver takes the deterministic argmax (score
desc, then pair lexicographic — float ties broken by total order, so
training is reproducible). The trained (merges, vocab) pair is held in
the memo (``wordpiece_model``), so the single query and
tokenizer_suite train once per corpus per session. Encoding runs
Arrow-batched in mapInPandas with a per-task word memo; the vocab rides
the closure (model-sized broadcast, never a join).

Non-initial symbols carry the '##' continuation prefix, so merging
(a, b) yields a + b[2:]; words longer than MAX_WORD_CHARS are [UNK]
(BERT's max_input_chars_per_word guard).

Evidence: a pure-python replica (exact merge-list, vocab, and encoding
equality pinned in pytest), hand-verified merges on a constructed
corpus, and the DuckDB oracle that unrolls both the training and the
MaxMatch serving in SQL (functions/trainer_sql.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from cc_mapreducer_spark.operators.bpe import (
    _normalize,
    corpus_model,
    train_merges,
    word_freq_table,
)
from cc_mapreducer_spark.registry import register
from cc_mapreducer_spark.tables import load_table, spread

N_MERGES = 40
MIN_PAIR_COUNT = 2
MAX_WORD_CHARS = 100  # BERT's per-word guard: longer words are [UNK]
UNK = "[UNK]"


def _merged_symbol(a: str, b: str) -> str:
    """Fusing a pair drops the right side's continuation prefix; the
    left side's prefix (or absence) is the fused symbol's position."""
    return a + (b[2:] if b.startswith("##") else b)


def train_wordpiece(
    docs: DataFrame,
    n_merges: int = N_MERGES,
    min_pair_count: int = MIN_PAIR_COUNT,
) -> tuple[list[tuple[str, str, float]], list[str]]:
    """Learn up to ``n_merges`` merges by likelihood score; returns
    (merges [(left, right, score)], vocab). The vocab is every initial
    symbol plus every fused symbol — what greedy encoding matches
    against. Alphabet: each word's first char, then '##'+c for the rest
    (WordPiece's word-boundary convention: position is carried by the
    continuation prefix, not an end-of-word marker)."""
    freq = word_freq_table(docs).localCheckpoint()
    syms = freq.select(
        "word",
        "cnt",
        F.expr(
            "transform(split(word, ''), "
            "(c, i) -> IF(i = 0, c, concat('##', c)))"
        ).alias("syms"),
    )
    vocab = {
        r["s"]
        for r in syms.select(F.explode("syms").alias("s")).distinct().collect()
    }
    merges = train_merges(
        syms, _merged_symbol, n_merges, min_pair_count, scorer="likelihood"
    )
    vocab.update(_merged_symbol(a, b) for a, b, _ in merges)
    return merges, sorted(vocab)


def wordpiece_model(
    spark: SparkSession, sf_dir: str
) -> tuple[list[tuple[str, str, float]], list[str]]:
    """train_wordpiece on sf_dir's corpus, memoized (bpe.corpus_model):
    the merge table and the vocab the MaxMatch serving encodes with."""
    return corpus_model(
        spark, sf_dir, "wordpiece_model", (N_MERGES, MIN_PAIR_COUNT),
        train_wordpiece,
    )


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


from cc_mapreducer_spark.functions.trainer_sql import wp_stats_sql


def encode_wordpiece_stats(docs: DataFrame, vocab: list[str]) -> DataFrame:
    """(source, n_tokens, n_words, n_unk) — one row per document:
    greedy MaxMatch per word with a per-task distinct-word memo, the
    vocab set riding the closure. It never materializes or ships token
    arrays (the stats consumer only sums counts), and it CARRIES the
    grouping column through the kernel instead of joining an encoded
    stream back to the corpus on doc_id — the r11 lane paid a full
    token-stream shuffle plus the Arrow transfer of every tokens array
    only to discard both (guide §2.3 project-before-the-exchange, §4.1
    pass only the columns the function needs)."""
    import pandas as pd

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
    the SERVING path — greedy MaxMatch against the memoized vocab
    (wordpiece_model: training runs once per corpus per session);
    values pinned exactly against the pure-python replica in pytest.
    Aggregates the stats-grain encoder (counts only, source carried
    through the kernel) — r11's shape joined the full token-array
    stream back to the corpus on doc_id and shuffled it, for an
    aggregation that reads none of the tokens."""
    docs = spread(load_table(spark, sf_dir, "documents"))
    _, vocab = wordpiece_model(spark, sf_dir)
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
