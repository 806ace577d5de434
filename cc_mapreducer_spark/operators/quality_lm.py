"""Language-model perplexity quality scoring (CCNet-style bucketing).

CCNet (Wenzek et al., 2020) ranks web documents by the perplexity of a
language model trained on a trusted corpus and keeps the low-perplexity
"head" of the distribution for LLM training data. This module implements
the same pipeline shape with an interpolated-bigram model trained with
Spark aggregations over the corpus itself: a real deployment swaps the
scorer (e.g. a KenLM binary behind a pandas UDF) — the Spark topology
(train counts → broadcast/join score → per-doc reduce → quantile bucket)
is identical.

Model. With token stream w_1..w_n per document (the repo's shared
tokenizer, reference provenance /root/reference/src/index.js:48-55):

    pu(w)      = (c(w) + 1) / (N + V + 1)          add-one unigram
    pb(w|w')   = c(w', w) / c(w')                  raw bigram
    p(w_1)     = pu(w_1)
    p(w_i)     = LAM * pb(w_i|w_{i-1}) + (1 - LAM) * pu(w_i),  i > 1
    log_prob   = sum_i ln p(w_i)   (left fold in position order)
    ppl        = exp(-log_prob / n)

c() are corpus token counts, N total tokens, V distinct words. Unseen
bigrams contribute 0 to the interpolation (pu keeps p > 0); the bigram
denominator is the unigram count of w' (the standard approximation that
ignores document-final positions, so rows need no doc-boundary join).

Determinism / oracle. Counts are BIGINT and each probability is one
double division of integer-valued doubles — cross-engine exact. The
per-document sum is an ORDERED left fold — Spark `aggregate` over the
position-sorted array, DuckDB `list_reduce` over `list(... ORDER BY pos)`
— because float addition is not associative and an unordered SUM() would
reorder at will. ln/exp are NOT bit-identical between the JVM and libm at
every argument (both are faithfully- but not correctly-rounded; measured
~1e-13 accumulated drift per doc), so the exported score columns land on
a 6dp grid in both engines; bucket thresholds use exact `percentile` ==
`quantile_cont` (the repo's established bit-exact pattern,
operators/embeddings.py) compared against the engine's own unrounded
scores.

Scale shape (100 TB). Token stream is one scan; unigram/bigram counts
shuffle once each with map-side partial aggregation; the unigram table is
vocabulary-bounded and BROADCAST twice (word + prev lookups — no shuffle
of the token stream for them); the bigram join shuffles the token stream
once on (prev, word) — near-uniform keys with AQE skew-split for hot
pairs; the per-doc reduce is one doc_id shuffle of (pos, lnp) pairs.
Threshold computation reduces doc-level rows only (n_docs, not tokens);
exact percentile materializes the doc scores on one node — at 10^9+ docs
swap `percentile` for `approx_percentile` (documented tolerance) exactly
like operators/embeddings.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from cc_mapreducer_spark.memo import persisted
from cc_mapreducer_spark.operators.text_analysis import _DUCK_WORDS, _SPARK_WORDS
from cc_mapreducer_spark.registry import register
from cc_mapreducer_spark.tables import load_table, spread

LAM = 0.9  # bigram interpolation weight


def token_stream(docs: DataFrame) -> DataFrame:
    """(doc_id, pos, word, prev): position-indexed tokens with the
    preceding word, from ONE scan — the (word, prev) pair is built inside
    a `transform` lambda over the token array, not via a window/self-join
    (a window by doc_id would shuffle the whole token stream before any
    counting)."""
    w = docs.select("doc_id", F.expr(_SPARK_WORDS).alias("ws"))
    return w.select(
        "doc_id",
        F.explode(
            F.expr(
                "transform(ws, (w, i) -> named_struct("
                "'pos', i + 1, 'word', w, "
                "'prev', IF(i = 0, CAST(NULL AS STRING), ws[i - 1])))"
            )
        ).alias("t"),
    ).select("doc_id", "t.pos", "t.word", "t.prev")


def train_counts(toks: DataFrame) -> tuple[DataFrame, DataFrame, DataFrame]:
    """(unigrams, bigrams, consts): corpus count tables. unigrams is
    (word, cu) — vocabulary-bounded, broadcastable; bigrams is
    (prev, word, cb); consts is one row (n_total, n_vocab)."""
    uni = toks.groupBy("word").agg(F.count("*").cast("bigint").alias("cu"))
    bi = (
        toks.filter(F.col("prev").isNotNull())
        .groupBy("prev", "word")
        .agg(F.count("*").cast("bigint").alias("cb"))
    )
    consts = uni.agg(
        F.sum("cu").cast("bigint").alias("n_total"),
        F.count("*").cast("bigint").alias("n_vocab"),
    )
    return uni, bi, consts


def lm_doc_scores(docs: DataFrame, lam: float = LAM) -> DataFrame:
    """(doc_id, n_tokens, log_prob, ppl) per document with >= 1 token.

    Self-scored (train == score corpus) here; to score a held-out corpus
    against trusted counts, pass the trusted corpus's tables through the
    same joins — the topology is unchanged.

    Materialization (r11, guide §2.4/§5): uni and bi — THE trained
    language model, the artifact CCNet trains once and serves many
    times — are persisted through memo.persisted. Without it Catalyst
    re-derives the whole token stream under every consumer (uni feeds
    two broadcasts plus consts, bi the score join, and the score
    pipeline itself is consumed twice by the bucketing caller): the r11
    before-plan shows 22 parquet scans / 19 exchanges for ONE query.
    With the model tables persisted the corpus is scanned once per
    count table plus once for scoring, the honest minimum when the
    token stream itself is too big to materialize at 100 TB."""
    toks = token_stream(docs)
    uni_raw, bi_raw, _ = train_counts(toks)
    # The plan is the memo identity, so distinct corpora — including
    # in-memory ones with no input files, and distinct transformations
    # over the same files — get their own entries (ADVICE r11 high).
    uni = persisted(uni_raw)
    bi = persisted(bi_raw)
    consts = uni.agg(
        F.sum("cu").cast("bigint").alias("n_total"),
        F.count("*").cast("bigint").alias("n_vocab"),
    )

    uni_w = uni.select(F.col("word").alias("__w"), F.col("cu").alias("cu_w"))
    uni_p = uni.select(F.col("word").alias("__p"), F.col("cu").alias("cu_prev"))
    scored = (
        toks.join(F.broadcast(uni_w), toks.word == uni_w.__w, "left")
        .join(F.broadcast(uni_p), toks.prev == uni_p.__p, "left")
        .join(bi, ["prev", "word"], "left")
        .crossJoin(F.broadcast(consts))
    )
    pu = (F.coalesce(F.col("cu_w"), F.lit(0)) + F.lit(1)).cast("double") / (
        F.col("n_total") + F.col("n_vocab") + F.lit(1)
    ).cast("double")
    pb = F.col("cb").cast("double") / F.col("cu_prev").cast("double")
    p = F.when(F.col("prev").isNull(), pu).otherwise(
        F.lit(lam) * F.coalesce(pb, F.lit(0.0)) + (F.lit(1.0) - F.lit(lam)) * pu
    )
    lnp = scored.select("doc_id", "pos", F.log(p).alias("lnp"))
    return lnp.groupBy("doc_id").agg(
        F.count("*").cast("bigint").alias("n_tokens"),
        F.expr(
            "aggregate(transform(array_sort(collect_list(named_struct("
            "'pos', pos, 'lnp', lnp))), x -> x.lnp), "
            "CAST(0 AS DOUBLE), (a, x) -> a + x)"
        ).alias("log_prob"),
    ).withColumn("ppl", F.exp(-(F.col("log_prob") / F.col("n_tokens"))))


def lm_quality_buckets(docs: DataFrame, lam: float = LAM) -> DataFrame:
    """CCNet-style head/middle/tail assignment: bucket by the corpus
    perplexity tertiles (head = lowest perplexity = most fluent under the
    model). Documents with zero tokens keep NULL score and bucket.

    The doc-score table (one row per doc — corpus/10^3-sized) persists
    through memo.persisted: it feeds BOTH the tertile thresholds and
    the final join, and without the materialization the entire scoring
    pipeline (scan -> explode -> model joins -> ordered fold) executes
    twice. CCNet itself materializes exactly this table before
    bucketing."""
    doc = persisted(lm_doc_scores(docs, lam))
    th = doc.agg(
        F.percentile("ppl", F.lit(1.0 / 3)).alias("t1"),
        F.percentile("ppl", F.lit(2.0 / 3)).alias("t2"),
    )
    out = docs.select("doc_id").join(doc, "doc_id", "left").crossJoin(F.broadcast(th))
    bucket = (
        F.when(F.col("ppl").isNull(), F.lit(None).cast("string"))
        .when(F.col("ppl") <= F.col("t1"), F.lit("head"))
        .when(F.col("ppl") <= F.col("t2"), F.lit("middle"))
        .otherwise(F.lit("tail"))
    )
    # 6dp output grid: Spark (JVM Math.log/exp) and DuckDB (libm) differ
    # in the last ulp at SOME arguments (empirically ~1 in 10^2..10^3 of
    # them — a 9-point probe missed it), and the per-doc fold sums ~100
    # such terms, so log_prob can drift ~1e-13 absolute. A 6dp grid puts
    # the boundary-straddle probability per value below 1e-6; buckets are
    # compared on the engine's own unrounded values, so threshold
    # comparisons stay internally consistent.
    return out.select(
        "doc_id",
        F.coalesce("n_tokens", F.lit(0).cast("bigint")).alias("n_tokens"),
        F.round("log_prob", 6).alias("log_prob"),
        F.round("ppl", 6).alias("ppl"),
        bucket.alias("bucket"),
    )


_LM_PERPLEXITY_SQL = f"""
WITH w AS (
  SELECT doc_id, {_DUCK_WORDS} AS ws FROM documents
), tok AS (
  SELECT doc_id, s.pos AS pos, s.word AS word, s.prev AS prev
  FROM (
    SELECT doc_id,
           unnest([struct_pack(pos := i, word := ws[i],
                   prev := CASE WHEN i = 1 THEN NULL ELSE ws[i - 1] END)
                   for i in range(1, len(ws) + 1)]) AS s
    FROM w
  )
), uni AS (
  SELECT word, CAST(count(*) AS BIGINT) AS cu FROM tok GROUP BY word
), consts AS (
  SELECT CAST(sum(cu) AS BIGINT) AS n_total,
         CAST(count(*) AS BIGINT) AS n_vocab FROM uni
), bi AS (
  SELECT prev, word, CAST(count(*) AS BIGINT) AS cb
  FROM tok WHERE prev IS NOT NULL GROUP BY prev, word
), probs AS (
  SELECT t.doc_id, t.pos, t.prev,
         CAST(coalesce(u.cu, 0) + 1 AS DOUBLE)
           / CAST(c.n_total + c.n_vocab + 1 AS DOUBLE) AS pu,
         CAST(b.cb AS DOUBLE) / CAST(up.cu AS DOUBLE) AS pb
  FROM tok t
  CROSS JOIN consts c
  LEFT JOIN uni u ON u.word = t.word
  LEFT JOIN uni up ON up.word = t.prev
  LEFT JOIN bi b ON b.prev = t.prev AND b.word = t.word
), scored AS (
  SELECT doc_id, pos,
         ln(CASE WHEN prev IS NULL THEN pu
                 ELSE CAST(0.9 AS DOUBLE) * coalesce(pb, CAST(0 AS DOUBLE))
                      + (CAST(1 AS DOUBLE) - CAST(0.9 AS DOUBLE)) * pu
            END) AS lnp
  FROM probs
), doc AS (
  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
         list_reduce(list_prepend(CAST(0 AS DOUBLE), list(lnp ORDER BY pos)),
                     (a, x) -> a + x) AS log_prob
  FROM scored GROUP BY doc_id
), doc2 AS (
  SELECT doc_id, n_tokens, log_prob, exp(-(log_prob / n_tokens)) AS ppl FROM doc
), th AS (
  SELECT quantile_cont(ppl, CAST(1 AS DOUBLE) / 3) AS t1,
         quantile_cont(ppl, CAST(2 AS DOUBLE) / 3) AS t2 FROM doc2
)
SELECT d.doc_id, coalesce(x.n_tokens, 0) AS n_tokens,
       round(x.log_prob, 6) AS log_prob, round(x.ppl, 6) AS ppl,
       CASE WHEN x.ppl IS NULL THEN NULL
            WHEN x.ppl <= th.t1 THEN 'head'
            WHEN x.ppl <= th.t2 THEN 'middle'
            ELSE 'tail' END AS bucket
FROM documents d LEFT JOIN doc2 x USING (doc_id) CROSS JOIN th
"""


@register("lm_perplexity", oracle=_LM_PERPLEXITY_SQL, driver=False)
def lm_perplexity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interpolated-bigram LM perplexity + CCNet head/middle/tail buckets
    over `documents`. pytest-only (driver roster is at its 50-key cap);
    the parity gate hash-checks it against the DuckDB oracle above, which
    replays the identical IEEE op sequence (ordered fold, same literals).

    spread(): the single-file local scan otherwise tokenizes and
    partial-aggregates the whole corpus on one core (no-op on a real
    multi-split table)."""
    return lm_quality_buckets(spread(load_table(spark, sf_dir, "documents")))
