"""Lexical (keyword) search: BM25 ranking over the documents corpus.

The retrieval stack so far is vector-only (brute-force / sign-LSH / IVF /
PQ over embeddings); production search is hybrid, and the lexical leg is
BM25 (Robertson/Sparck Jones; the Lucene-standard positive-idf variant).
Everything here is plain aggregations over the shared tokenizer's word
stream — no index structure is needed because Spark IS the inverted
index: tf is a (doc, word) groupBy, df a word groupBy, and scoring a
broadcast join against the (tiny) query-term table.

Determinism across engines (the usual discipline):
- query terms derive from the corpus itself (top-_N_TERMS by total
  frequency, count-desc / word-asc) — both engines compute the same
  list, no fixture.
- per-term contributions round to 9dp; the per-document score is a
  FIXED-ORDER sum over term ranks (coalesce(c1)+coalesce(c2)+...), not
  an unordered SQL SUM — floating addition order is pinned, so the 6dp
  output grid only has to absorb libm-vs-JVM ln() last-ulp drift (the
  lm_perplexity precedent).
- ranking ties break on doc_id.

Scale shape: two shuffles over the word stream (tf, then df) — both
near-uniform (the shared tokenizer's words; a stop-word-heavy corpus
would pre-filter exactly like the anagram pipeline) — then broadcast
joins of the 3-row term table and the 1-row corpus stats. Both global
orderings (query-term top-N, final top-k) run as orderBy+limit —
TakeOrderedAndProject, per-partition heaps plus a k-row merge — and the
rank windows only ever see the already-limited k-row results; nothing
vocabulary- or corpus-sized passes through a single-partition Window.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from cc_mapreducer_spark.memo import persisted
from cc_mapreducer_spark.registry import register
from cc_mapreducer_spark.tables import load_table, spread

_N_TERMS = 3
_TOPK = 10
_K1 = 1.2
_B = 0.75

# the repo's ONE tokenizer pair — importing rather than re-inlining keeps
# the BM25 word stream identical to every other text operator's
from cc_mapreducer_spark.operators.text_analysis import (  # noqa: E402
    _DUCK_WORDS,
    _SPARK_WORDS,
)

# fixed-order sum over term ranks, generated from _N_TERMS so a term-count
# change cannot silently drop contributions (both engines from one source)
_RANK_CASES_SQL = "\n               + ".join(
    f"coalesce(max(CASE WHEN r = {r} THEN c END), 0.0)"
    for r in range(1, _N_TERMS + 1)
)

_BM25_SQL = f"""
WITH words AS (
    SELECT doc_id, unnest({_DUCK_WORDS}) AS word FROM documents
), tf AS (
    SELECT doc_id, word, count(*) AS tf FROM words GROUP BY doc_id, word
), dl AS (
    SELECT doc_id, CAST(count(*) AS DOUBLE) AS dl FROM words GROUP BY doc_id
), stats AS (
    SELECT CAST(count(*) AS BIGINT) AS n_docs,
           sum(dl) / count(*) AS avgdl
    FROM dl
), qterms AS (
    SELECT word, row_number() OVER (ORDER BY sum(tf) DESC, word) AS r
    FROM tf GROUP BY word
    ORDER BY sum(tf) DESC, word LIMIT {_N_TERMS}
), df AS (
    SELECT word, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY word
), contrib AS (
    SELECT t.doc_id, q.r,
           round(
             ln((s.n_docs - d.df + 0.5) / (d.df + 0.5) + 1.0)
             * t.tf / (t.tf + {_K1} * (1.0 - {_B} + {_B} * l.dl / s.avgdl)),
             9) AS c
    FROM tf t
    JOIN qterms q ON q.word = t.word
    JOIN df d ON d.word = t.word
    JOIN dl l ON l.doc_id = t.doc_id
    CROSS JOIN stats s
), scored AS (
    SELECT doc_id,
           round({_RANK_CASES_SQL}, 6) AS score,
           CAST(count(*) AS BIGINT) AS n_matched
    FROM contrib GROUP BY doc_id
)
SELECT CAST(row_number() OVER (ORDER BY score DESC, doc_id) AS BIGINT) AS rank,
       doc_id, score, n_matched
FROM scored
ORDER BY score DESC, doc_id LIMIT {_TOPK}
"""


@register("bm25_search", oracle=_BM25_SQL, driver=False)
def bm25_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-k documents by BM25 for the corpus's three most frequent
    terms (self-derived so the query needs no fixture and stays
    non-empty at every SF)."""
    docs = spread(load_table(spark, sf_dir, "documents"))
    words = docs.select(
        "doc_id", F.explode(F.expr(_SPARK_WORDS)).alias("word")
    )
    tf = words.groupBy("doc_id", "word").agg(F.count("*").alias("tf"))
    dl = words.groupBy("doc_id").agg(
        F.count("*").cast("double").alias("dl")
    )
    stats = dl.agg(
        F.count("*").cast("bigint").alias("n_docs"),
        (F.sum("dl") / F.count("*")).alias("avgdl"),
    )
    # top-N terms via orderBy+limit (TakeOrderedAndProject: per-partition
    # heaps + an N-row merge), NOT a window over the distinct-word set —
    # an unpartitioned row_number() there is a single-task sort of the
    # whole vocabulary (10^8 rows on a web corpus). The rank window then
    # runs over the already-<=N-row result, same shape as build_vocab
    # (tokenize.py). Plan pinned in tests/test_search.py.
    qterms = (
        tf.groupBy("word")
        .agg(F.sum("tf").alias("total"))
        .orderBy(F.desc("total"), F.asc("word"))
        .limit(_N_TERMS)
        .select(
            "word",
            F.row_number()
            .over(Window.orderBy(F.desc("total"), "word"))
            .alias("r"),
        )
    )
    df = tf.groupBy("word").agg(F.count("*").cast("bigint").alias("df"))
    contrib = (
        tf.join(F.broadcast(qterms), "word")
        .join(F.broadcast(df.join(qterms, "word").select("word", "df")), "word")
        .join(dl, "doc_id")
        .crossJoin(F.broadcast(stats))
        .select(
            "doc_id",
            "r",
            F.round(
                F.log(
                    (F.col("n_docs") - F.col("df") + 0.5)
                    / (F.col("df") + 0.5)
                    + 1.0
                )
                * F.col("tf")
                / (
                    F.col("tf")
                    + _K1 * (1.0 - _B + _B * F.col("dl") / F.col("avgdl"))
                ),
                9,
            ).alias("c"),
        )
    )

    def _rank_case(r: int):
        return F.coalesce(
            F.max(F.when(F.col("r") == r, F.col("c"))), F.lit(0.0)
        )

    score_expr = _rank_case(1)
    for r in range(2, _N_TERMS + 1):  # fixed order, generated from _N_TERMS
        score_expr = score_expr + _rank_case(r)
    scored = contrib.groupBy("doc_id").agg(
        F.round(score_expr, 6).alias("score"),
        F.count("*").cast("bigint").alias("n_matched"),
    )
    # same TakeOrdered discipline for the final top-k: limit first, then
    # rank the <=_TOPK-row result (scored is corpus-sized)
    w = Window.orderBy(F.desc("score"), "doc_id")
    return (
        scored.orderBy(F.desc("score"), F.asc("doc_id"))
        .limit(_TOPK)
        .select(
            F.row_number().over(w).cast("bigint").alias("rank"),
            "doc_id",
            "score",
            "n_matched",
        )
    )


# --------------------------------------------------------------------------
# hybrid search: reciprocal-rank fusion of the lexical and vector legs
# --------------------------------------------------------------------------

_RRF_K = 60  # the standard fusion constant (Cormack et al., SIGIR'09)


def _vector_leg_sql() -> str:
    from cc_mapreducer_spark.operators.similarity import _BRUTE_SQL

    return _BRUTE_SQL


def _hybrid_sql() -> str:
    # query_id 0's neighbors stand in for "the vector leg" of one search;
    # the BM25 leg is corpus-wide. RRF score = sum over legs of
    # 1/(k + rank), FIXED ORDER (lex + vec), absent leg contributes 0 —
    # integer ranks make the only float work two divisions and one add.
    return f"""
WITH lex AS (
{_BM25_SQL}
), vec_all AS (
{_vector_leg_sql()}
), vec AS (
    SELECT vec_id AS doc_id, rn AS rank FROM vec_all WHERE query_id = 0
), ids AS (
    SELECT doc_id FROM lex UNION SELECT doc_id FROM vec
)
SELECT i.doc_id,
       round(coalesce(1.0 / ({_RRF_K} + l.rank), 0.0)
           + coalesce(1.0 / ({_RRF_K} + v.rank), 0.0), 9) AS rrf_score,
       l.rank AS lex_rank, v.rank AS vec_rank
FROM ids i
LEFT JOIN lex l ON l.doc_id = i.doc_id
LEFT JOIN vec v ON v.doc_id = i.doc_id
"""


@register("hybrid_search_rrf", oracle=_hybrid_sql(), driver=False)
def hybrid_search_rrf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid retrieval: reciprocal-rank fusion (1/(k+rank), k=60) of
    the BM25 lexical top-k and the exact vector top-k for query 0 —
    the standard way to combine heterogeneous rankers without score
    calibration. Both legs are the already-verified queries; fusion
    itself is a two-sided outer join of two tiny rank tables (both
    broadcast), so the added cost at any scale is nil. Integer ranks
    keep the fusion deterministic: two divisions and one fixed-order
    add per doc, on a 9dp grid."""
    from cc_mapreducer_spark.operators.similarity import (
        similarity_topk_bruteforce,
    )

    lex = bm25_search(spark, sf_dir).select(
        "doc_id", F.col("rank").alias("lex_rank")
    )
    vec = (
        similarity_topk_bruteforce(spark, sf_dir)
        .filter(F.col("query_id") == 0)
        .select(F.col("vec_id").alias("doc_id"), F.col("rn").alias("vec_rank"))
    )
    ids = lex.select("doc_id").unionAll(vec.select("doc_id")).distinct()
    j = ids.join(F.broadcast(lex), "doc_id", "left").join(
        F.broadcast(vec), "doc_id", "left"
    )
    leg = lambda c: F.coalesce(  # noqa: E731
        F.lit(1.0) / (_RRF_K + F.col(c)), F.lit(0.0)
    )
    return j.select(
        "doc_id",
        F.round(leg("lex_rank") + leg("vec_rank"), 9).alias("rrf_score"),
        "lex_rank",
        "vec_rank",
    )


# --------------------------------------------------------------------------
# per-document TF-IDF keyword extraction
# --------------------------------------------------------------------------

_TFIDF_TOPK = 3

_TFIDF_SQL = f"""
WITH toks AS (
    SELECT doc_id, unnest({_DUCK_WORDS}) AS word FROM documents
), tf AS (
    SELECT doc_id, word, CAST(count(*) AS BIGINT) AS tf
    FROM toks GROUP BY 1, 2
), dfx AS (
    SELECT word, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY 1
), nd AS (
    SELECT CAST(count(*) AS BIGINT) AS n_docs FROM documents
), scored AS (
    SELECT tf.doc_id, tf.word, tf.tf,
           round(tf.tf * (ln((n_docs + 1.0) / (df + 1.0)) + 1.0), 6) AS score
    FROM tf JOIN dfx USING (word) CROSS JOIN nd
), ranked AS (
    SELECT *, row_number() OVER (
        PARTITION BY doc_id ORDER BY score DESC, word
    ) AS rank
    FROM scored
)
SELECT doc_id, CAST(rank AS INTEGER) AS rank, word, tf, score
FROM ranked WHERE rank <= {_TFIDF_TOPK}
"""


@register("tfidf_doc_keywords", oracle=_TFIDF_SQL, driver=False)
def tfidf_doc_keywords(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-{_TFIDF_TOPK} keywords per document by smoothed TF-IDF
    (sklearn's ln((N+1)/(df+1)) + 1 — idf never negative, never /0).
    The per-doc distinctive-term list is the workhorse of corpus
    triage: cluster labeling, dedup explanations, topic drill-downs.

    Plan shape: tf is one (doc_id, word) groupBy, df one word-keyed
    groupBy OVER THE TF TABLE (distinct doc-word pairs, so df needs no
    count(distinct)); scoring joins tf to df on word — both sides
    word-keyed and near-uniform — and the top-k window partitions by
    doc_id, so nothing corpus-wide ever passes through one partition.
    n_docs rides as a driver-side literal (one count on the doc table's
    footer, the heavy_hitter_words convention) instead of a 1-row cross
    join. Determinism: scores round to 6dp before ORDER BY (absorbing
    libm-vs-JVM ln ulp drift, the BM25 precedent) with word-asc
    tiebreak."""
    docs = spread(load_table(spark, sf_dir, "documents"))
    n_docs = docs.count()
    if n_docs == 0:
        return spark.createDataFrame(
            [], "doc_id bigint, rank int, word string, tf bigint, score double"
        )
    toks = docs.select(
        "doc_id", F.explode(F.expr(_SPARK_WORDS)).alias("word")
    )
    # tf — the inverted-index posting table — is consumed twice (df
    # derivation + the score join), and without materialization the
    # scan->explode->groupBy pipeline executes once per consumer (the
    # r11 before-plan shows it twice). Persist it (memo.persisted): a
    # search pipeline materializes exactly this table once at any
    # scale; everything downstream is vocabulary/posting-sized.
    tf = persisted(
        toks.groupBy("doc_id", "word").agg(F.count("*").cast("bigint").alias("tf"))
    )
    dfx = tf.groupBy("word").agg(F.count("*").cast("bigint").alias("df"))
    scored = tf.join(dfx, "word").select(
        "doc_id",
        "word",
        "tf",
        F.round(
            F.col("tf")
            * (F.log((n_docs + 1.0) / (F.col("df") + 1.0)) + F.lit(1.0)),
            6,
        ).alias("score"),
    )
    w = Window.partitionBy("doc_id").orderBy(F.desc("score"), "word")
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= _TFIDF_TOPK)
        .select("doc_id", "rank", "word", "tf", "score")
    )
