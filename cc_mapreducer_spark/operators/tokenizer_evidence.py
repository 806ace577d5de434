"""Driver-hashed evidence for the tokenizer family (r8 verdict missing
item #1: "the tokenizer family has no driver-hashed row").

The r8 verdict suggested literalizing a planted corpus' merge sequence
into the oracle. This module goes further: the TRAINERS THEMSELVES are
SQL-expressible with a fixed merge budget, so the oracle re-derives
BPE, byte-level BPE, and WordPiece training from first principles
instead of transcribing their output:

  representation  each symbol owns its delimiters — a word's state is
                  the concatenation of ' <sym> ' per symbol, so adjacent
                  symbols are separated by a DOUBLE space and
                  replace(seq, ' a  b ', ' ab ') is EXACTLY the greedy
                  leftmost merge fold (operators/bpe._MERGE_FOLD): each
                  match consumes its own boundary spaces, never the
                  neighbor's, and SQL replace scans left-to-right
                  non-overlapping — the same recurrence. Symbols never
                  contain spaces (chars of [a-z]+ words, '##' prefixes,
                  the Ġ space-byte symbol, '</w>'), so the encoding is
                  unambiguous.
  argmax          BPE/byte-BPE: count desc then (a, b) lexicographic —
                  binary string order, identical in both engines.
                  WordPiece: likelihood n_ab/(n_a*n_b) desc — ONE IEEE
                  division of exact integers (< 2^53), bit-identical in
                  both engines, no accumulation; ties fall to the same
                  lexicographic order.
  early stop      a no-op state is a fixpoint: if no pair reaches
                  min_pair_count the CASE keeps seq unchanged, and every
                  later step re-derives the same sub-threshold argmax —
                  exactly the trainers' break.
  unrolling       merge steps as generated m{{i}}/s{{i}} CTEs (the
                  binary_dedup_suite / linkgraph move). Every s{{i}} is
                  MATERIALIZED: s{{i}} is referenced by both p{{i+1}} and
                  s{{i+1}}, so inlining would be exponential.
  serving         BPE/byte-BPE train on the distinct-(pre-)token table
                  of the SAME corpus they encode, and the encoders
                  replay the same merges in the same rank order with
                  the same greedy fold — a word's final training
                  sequence IS its encoding. WordPiece serves by greedy
                  longest-match-first against the trained vocab, which
                  is NOT the training state — the oracle runs MaxMatch
                  as its own unrolled chain over a precomputed
                  (word, start, end) in-vocab substring table.

The suite key absorbs corpus_token_totals (now pytest-only) so the
driver roster stays at its 50-key cap: ``corpus:*`` legs carry that
query's exact values; ``bpe:*`` / ``bbpe:*`` / ``wp:*`` legs add each
trainer's merge table, served vocabulary, and the per-source
compression stats of the three *_token_stats queries.

SQL generation lives in functions/trainer_sql.py (round 9), shared
with the per-trainer *_token_stats single-query oracles.

Scale shape: each training cost is one corpus-sized word-frequency
shuffle plus merge rounds over the DISTINCT-(pre-)token table
(vocabulary-sized — tiny at any corpus scale); encoding rides the scan
Arrow-batched. Each trained model is a driver-side value in the memo
(operators/bpe.corpus_model), shared with the *_token_stats singles,
whose frames are the suite's stats legs; the encoded tables and the
seqprep/dataloader summary frames go through memo.persisted. A
build after the singles, and every later build, starts no Spark job.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from cc_mapreducer_spark.operators.anagram import (
    _HASH_PARTITION_SQL,
    q_hash_partition_stats,
)
from cc_mapreducer_spark.digest import digest_frame
from cc_mapreducer_spark.memo import persisted
from cc_mapreducer_spark.operators.bpe import (
    bpe_model,
    bpe_token_stats,
    encode_bpe,
)
from cc_mapreducer_spark.operators.byte_bpe import (
    byte_bpe_model,
    byte_bpe_token_stats,
    encode_byte_bpe,
)
from cc_mapreducer_spark.operators.text_analysis import (
    _CORPUS_TOKENS_SQL,
    corpus_token_totals,
)
from cc_mapreducer_spark.operators.dataloader import (
    _MANIFEST_SQL,
    _MIXTURE_SQL,
    _SAMPLE_SQL,
    context_shuffle_manifest,
    corpus_mixture_plan,
    mixture_context_sample,
)
from cc_mapreducer_spark.operators.seqprep import (
    _CHUNKS_SQL,
    _PACK_BINS_SQL,
    _PACK_SUMMARY_SQL,
    doc_window_chunks,
    sequence_pack_bins,
    sequence_pack_summary,
)
from cc_mapreducer_spark.operators.wordpiece import (
    wordpiece_model,
    wordpiece_token_stats,
)
from cc_mapreducer_spark.registry import register
from cc_mapreducer_spark.tables import load_table, spread

from cc_mapreducer_spark.functions.trainer_sql import (
    _BBPE_FREQ,
    _BBPE_SEQ0,
    _BPE_FREQ,
    _BPE_SEQ0,
    _LEGS_SQL,
    _STATS_TAIL,
    _WP_SEQ0,
    _chain_sql,
    _concat_fuse,
    _wp_fuse,
    _wp_maxmatch_sql,
)

# sequence-prep legs (round 9, operators/seqprep.py): packing bins +
# stream accounting + sliding windows ride the same driver key; the
# dataloader legs (round 10, operators/dataloader.py) extend the chain
# to the mixture plan (mix:*) and the shuffle manifest (rdr:*)
_SEQPREP_LEGS_SQL = f"""
UNION ALL
SELECT 'pack:bin', source || '|' || shard || '|' || bin,
       CAST((n_docs * 1000 + n_crossers) * 1000 + fill_tokens AS DOUBLE)
FROM ({_PACK_BINS_SQL})
UNION ALL
SELECT 'pack:ctx', source, CAST(n_contexts AS DOUBLE)
FROM ({_PACK_SUMMARY_SQL})
UNION ALL
SELECT 'pack:tok', source, CAST(total_tokens AS DOUBLE)
FROM ({_PACK_SUMMARY_SQL})
UNION ALL
SELECT 'pack:pad', source, CAST(padding_tokens AS DOUBLE)
FROM ({_PACK_SUMMARY_SQL})
UNION ALL
SELECT 'pack:frag', source, CAST(fragmented_docs AS DOUBLE)
FROM ({_PACK_SUMMARY_SQL})
UNION ALL
SELECT 'pack:ffrac', source, fragmented_frac FROM ({_PACK_SUMMARY_SQL})
UNION ALL
SELECT 'chunk:doc', doc_id || '|' || chunk_idx,
       CAST((start_tok * 1000 + chunk_len) * 100 + overlap_prev AS DOUBLE)
FROM ({_CHUNKS_SQL})
UNION ALL
SELECT 'mix:avail', source, CAST(available_tokens AS DOUBLE)
FROM ({_MIXTURE_SQL})
UNION ALL
SELECT 'mix:target', source, CAST(target_tokens AS DOUBLE)
FROM ({_MIXTURE_SQL})
UNION ALL
SELECT 'mix:epochs', source, epochs FROM ({_MIXTURE_SQL})
UNION ALL
SELECT 'rdr:ctx', source || '|' || shard || '|' || bin,
       CAST(reader * 100000 + pos AS DOUBLE)
FROM ({_MANIFEST_SQL})
UNION ALL
SELECT 'mix:sample', source || '|' || shard,
       CAST((available_contexts * 100000 + picked_contexts) * 100000
            + sampled_tokens AS DOUBLE)
FROM ({_SAMPLE_SQL})
UNION ALL
SELECT 'hashpart', CAST(bucket AS VARCHAR),
       CAST(n_pairs * 100000 + n_signatures AS DOUBLE)
FROM ({_HASH_PARTITION_SQL})
"""

_TOKENIZER_SUITE_SQL = (
    "WITH "
    + _chain_sql("bpe_", _BPE_FREQ, _BPE_SEQ0, 40, _concat_fuse)
    + ", "
    + _chain_sql("bb_", _BBPE_FREQ, _BBPE_SEQ0, 60, _concat_fuse)
    + ", "
    + _chain_sql("wp_", _BPE_FREQ, _WP_SEQ0, 40, _wp_fuse,
                 scorer="likelihood")
    + _wp_maxmatch_sql()
    + _STATS_TAIL
    + _LEGS_SQL.format(corpus=_CORPUS_TOKENS_SQL)
    + _SEQPREP_LEGS_SQL
)


@register("tokenizer_suite", oracle=_TOKENIZER_SUITE_SQL)
def tokenizer_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver digest of the tokenizer family: the corpus token totals
    (absorbed corpus_token_totals legs) plus, for EACH of the three
    merge-based trainers (BPE, byte-level BPE, WordPiece), the full
    merge table (rank, pair, count-or-likelihood — any drift in a
    single merge decision fails the hash), the served vocabulary, and
    the per-source compression stats of the *_token_stats queries. The
    oracle re-derives all three TRAININGS plus WordPiece's MaxMatch
    serving (module docstring); unigram-LM got its own unrolled-EM
    oracle in r11 (operators/unigram_lm.py — integer count grid, no
    float accumulation) and is hashed via its single key."""

    docs = spread(load_table(spark, sf_dir, "documents"))
    corpus = corpus_token_totals(spark, sf_dir)

    def vocab_of(enc: DataFrame) -> DataFrame:
        return (
            enc.select(F.explode("tokens").alias("sym"))
            .groupBy("sym")
            .agg(F.count("*").cast("long").alias("n"))
        )

    def merge_df(merges, val_type: str) -> DataFrame:
        return spark.createDataFrame(
            [(i + 1, a, b, v) for i, (a, b, v) in enumerate(merges)],
            f"step int, a string, b string, v {val_type}",
        )

    # the three trained models and the three *_token_stats singles come
    # from the memo: a build after the singles trains nothing
    bpe_merges = bpe_model(spark, sf_dir)
    bpe_enc = persisted(encode_bpe(docs, bpe_merges))
    bb_merges = byte_bpe_model(spark, sf_dir)
    bb_enc = persisted(encode_byte_bpe(docs, bb_merges))
    wp_merges, wp_vocab = wordpiece_model(spark, sf_dir)
    wp_vocab_df = spark.createDataFrame(
        [(v,) for v in wp_vocab], "sym string"
    )
    merge_key = "concat_ws('|', step, a, b)"
    return digest_frame([
        (corpus, [
            ("corpus:docs", "lang", "n_docs"),
            ("corpus:ws", "lang", "total_ws_tokens"),
            ("corpus:chars", "lang", "total_chars"),
        ]),
        (merge_df(bpe_merges, "long"), [("bpe:merge", merge_key, "v")]),
        (vocab_of(bpe_enc), [("bpe:vocab", "sym", "n")]),
        (bpe_token_stats(spark, sf_dir), [
            ("bpe:docs", "source", "n_docs"),
            ("bpe:words", "source", "total_words"),
            ("bpe:tokens", "source", "total_tokens"),
            ("bpe:tpw", "source", "tokens_per_word"),
        ]),
        (merge_df(bb_merges, "long"), [("bbpe:merge", merge_key, "v")]),
        (vocab_of(bb_enc), [("bbpe:vocab", "sym", "n")]),
        (byte_bpe_token_stats(spark, sf_dir), [
            ("bbpe:docs", "source", "n_docs"),
            ("bbpe:bytes", "source", "total_bytes"),
            ("bbpe:tokens", "source", "total_tokens"),
            ("bbpe:bpt", "source", "bytes_per_token"),
        ]),
        (merge_df(wp_merges, "double"), [("wp:merge", merge_key, "v")]),
        (wp_vocab_df, [("wp:vocab", "sym", "1.0")]),
        (wordpiece_token_stats(spark, sf_dir), [
            ("wp:docs", "source", "n_docs"),
            ("wp:words", "source", "total_words"),
            ("wp:tokens", "source", "total_tokens"),
            ("wp:unk", "source", "total_unk"),
            ("wp:tpw", "source", "tokens_per_word"),
        ]),
        (sequence_pack_bins(spark, sf_dir), [(
            "pack:bin",
            "concat_ws('|', source, shard, bin)",
            "(n_docs * 1000 + n_crossers) * 1000 + fill_tokens",
        )]),
        (persisted(sequence_pack_summary(spark, sf_dir)), [
            ("pack:ctx", "source", "n_contexts"),
            ("pack:tok", "source", "total_tokens"),
            ("pack:pad", "source", "padding_tokens"),
            ("pack:frag", "source", "fragmented_docs"),
            ("pack:ffrac", "source", "fragmented_frac"),
        ]),
        (doc_window_chunks(spark, sf_dir), [(
            "chunk:doc",
            "concat_ws('|', doc_id, chunk_idx)",
            "(start_tok * 1000 + chunk_len) * 100 + overlap_prev",
        )]),
        # dataloader hand-off legs (r10): mixture plan + shuffle manifest —
        # the corpus -> contexts -> mixture -> readers chain, all hashed
        (persisted(corpus_mixture_plan(spark, sf_dir)), [
            ("mix:avail", "source", "available_tokens"),
            ("mix:target", "source", "target_tokens"),
            ("mix:epochs", "source", "epochs"),
        ]),
        (context_shuffle_manifest(spark, sf_dir), [(
            "rdr:ctx",
            "concat_ws('|', source, shard, bin)",
            "reader * 100000 + pos",
        )]),
        (mixture_context_sample(spark, sf_dir), [(
            "mix:sample",
            "concat_ws('|', source, shard)",
            "(available_contexts * 100000 + picked_contexts) * 100000"
            " + sampled_tokens",
        )]),
        # absorbed hash_partition_stats (r11 roster rotation): per-bucket
        # pair/signature counts of the §2.4 shuffle demo stay hashed here
        # while its roster slot goes to corpus_to_readers
        (q_hash_partition_stats(spark, sf_dir), [
            ("hashpart", "bucket", "n_pairs * 100000 + n_signatures"),
        ]),
    ])
