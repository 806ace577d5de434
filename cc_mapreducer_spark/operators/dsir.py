"""DSIR-style data selection: hashed n-gram importance resampling.

Given a RAW pool and a small TARGET domain, select raw documents whose
n-gram distribution looks like the target — the standard recipe for
building a pretraining mixture that matches a quality domain (Xie et
al., "Data Selection for Language Models via Importance Resampling",
NeurIPS 2023 — public method; independent implementation).

Method
------
1. Features: word unigrams + bigrams hashed into B buckets (hashing
   bounds the model size regardless of vocabulary — the trick that
   makes this feasible at crawl scale).
2. Two bag-of-hashed-ngrams models with add-1 smoothing:
       p[b] = (c_target[b] + 1) / (N_target + B)
       q[b] = (c_raw[b]    + 1) / (N_raw    + B)
3. Per-doc log importance weight  w_d = sum_b c_d[b] * ln(p[b]/q[b]).
4. Resampling: Gumbel-top-k — score_d = w_d - ln(-ln(u_d)) with u_d a
   deterministic per-doc unit hash; the top-k by score is a sample
   WITHOUT replacement proportional to exp(w_d) (the Gumbel-max
   theorem), i.e. true importance resampling, yet fully reproducible:
   no rand(), retry/rerun/partitioning stable (the repo-wide rule).

Determinism & parity
--------------------
Per-doc weight sums fold in bucket order (array_sort + aggregate — the
quality_lm idiom), so float summation order is engine-independent. The
remaining cross-engine wiggle is ln() last-ulp drift (~1e-13 per doc,
measured for lm_perplexity); exported weight/score land on the repo's
6dp grid. Selection compares unrounded engine-own scores; Gumbel noise
makes boundary ties measure-zero.

Scale notes (100 TB)
--------------------
  * the two count models are plain map-side-combined aggregates over
    hashed grams; the model tables are B rows each — broadcast, never
    shuffled with the data.
  * gram building is one doc_id-clustered window (bigram lead); the
    per-doc bucket histogram reuses that clustering (group keys are a
    superset of doc_id).
  * selection is TakeOrderedAndProject (per-partition heaps + k-row
    merge) — never a global sort, never a vocabulary-wide window.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from cc_mapreducer_spark.memo import persisted
from cc_mapreducer_spark.operators.dedup import _SPARK_TOKS
from cc_mapreducer_spark.registry import register
from cc_mapreducer_spark.tables import load_table

N_BUCKETS = 256
TARGET_LANG = "fr"
SELECT_K = 100
_U32 = 4294967296.0


def _bucket(gram: F.Column, n_buckets: int) -> F.Column:
    """Portable feature hash: md5 -> first 8 hex -> u32 -> mod B (the
    same md5 family every cross-engine hash in this repo uses)."""
    return F.pmod(
        F.conv(F.substring(F.md5(gram), 1, 8), 16, 10).cast("bigint"),
        F.lit(n_buckets),
    )


def doc_bucket_counts(
    docs: DataFrame, n_buckets: int = N_BUCKETS
) -> DataFrame:
    """(doc_id, lang, bucket, n): hashed unigram+bigram counts per doc."""
    words = docs.select(
        "doc_id", "lang", F.posexplode(F.expr(_SPARK_TOKS)).alias("pos", "w")
    )
    win = Window.partitionBy("doc_id").orderBy("pos")
    nxt = F.lead("w", 1).over(win)
    # ONE window pass emits both gram orders: explode [unigram, bigram]
    # per word (bigram null on the last word, filtered) — a union of two
    # branches would run the lead window and its doc_id exchange twice
    # (measured ~2x at sf0.1)
    grams = (
        words.withColumn(
            "__grams",
            F.array(
                F.col("w"),
                F.when(nxt.isNotNull(), F.concat_ws(" ", "w", nxt)),
            ),
        )
        .select("doc_id", "lang", F.explode("__grams").alias("gram"))
        .filter(F.col("gram").isNotNull())
    )
    return grams.groupBy(
        "doc_id", "lang", _bucket(F.col("gram"), n_buckets).alias("bucket")
    ).agg(F.count("*").alias("n"))


def importance_weights(
    docs: DataFrame,
    target_lang: str = TARGET_LANG,
    n_buckets: int = N_BUCKETS,
) -> DataFrame:
    """(doc_id, lang, weight): per-doc DSIR log importance weight."""
    # the histogram feeds TWO consumers (the bucket models, the per-doc
    # contributions) — persist it so the tokenize+window pipeline runs
    # once (at scale: the parquet feature-table checkpoint)
    db = persisted(doc_bucket_counts(docs, n_buckets))
    # BOTH count models in ONE aggregate pass (the target model is a
    # conditional sum, not a second scan): r7's dsir A/B measured the
    # old raw/tgt two-agg shape — each consumed twice, by ratios AND
    # totals — re-reading the cached histogram 4x across ~5 small jobs,
    # ~1s of pure job overhead at sf0.1 (COVERAGE.md, Round-7). Integer
    # sums, so cr/ct/nr/nt are bit-identical to the two-pass form and
    # the DuckDB oracle needs no change. One pass over the data is also
    # the right 100 TB plan.
    models = persisted(  # <= n_buckets rows, consumed by totals AND ratios
        db.groupBy("bucket").agg(
            F.sum("n").alias("cr"),
            F.sum(
                F.when(F.col("lang") == target_lang, F.col("n")).otherwise(F.lit(0))
            ).alias("ct"),
        )
    )
    totals = models.agg(F.sum("cr").alias("nr"), F.sum("ct").alias("nt"))
    ratios = (
        models.crossJoin(F.broadcast(totals))
        .select(
            "bucket",
            F.log(
                (
                    (F.col("ct") + 1).cast("double")
                    / (F.col("nt") + n_buckets).cast("double")
                )
                / (
                    (F.col("cr") + 1).cast("double")
                    / (F.col("nr") + n_buckets).cast("double")
                )
            ).alias("lr"),
        )
    )
    contrib = db.join(F.broadcast(ratios), "bucket").select(
        "doc_id", "lang", "bucket", (F.col("n") * F.col("lr")).alias("c")
    )
    # bucket-ordered fold: summation order is part of the contract
    return contrib.groupBy("doc_id", "lang").agg(
        F.expr(
            "aggregate(transform(array_sort(collect_list(named_struct("
            "'b', bucket, 'c', c))), x -> x.c), "
            "CAST(0 AS DOUBLE), (a, x) -> a + x)"
        ).alias("weight")
    )


def dsir_select(
    docs: DataFrame,
    k: int = SELECT_K,
    target_lang: str = TARGET_LANG,
    n_buckets: int = N_BUCKETS,
    salt: str = "dsir-v1",
) -> DataFrame:
    """Gumbel-top-k importance resampling: k docs without replacement,
    inclusion probability proportional to exp(weight)."""
    w = importance_weights(docs, target_lang, n_buckets)
    # u in (0, 1): the +0.5 offset keeps u strictly positive even when the
    # 32-bit md5 prefix is zero, so ln(-ln(u)) never sees ln(0) on either
    # engine (DuckDB raises on ln(0); Spark returns NULL and would silently
    # drop the doc — a corpus-dependent divergence).
    u = (
        (
            F.conv(
                F.substring(
                    F.md5(
                        F.concat(F.lit(salt + ":"), F.col("doc_id").cast("string"))
                    ),
                    1,
                    8,
                ),
                16,
                10,
            ).cast("bigint")
            + F.lit(0.5)
        )
        / F.lit(_U32)
    )
    scored = w.withColumn("score", F.col("weight") - F.log(-F.log(u)))
    return (
        scored.orderBy(F.desc("score"), "doc_id")
        .limit(k)
        .select(
            "doc_id",
            "lang",
            F.round("weight", 6).alias("weight"),
            F.round("score", 6).alias("score"),
        )
    )


# +0.5 keeps u strictly in (0, 1) — mirrors the Spark side; a zero md5
# prefix would otherwise make DuckDB's ln(0) raise and Spark return NULL.
_DUCK_HASH_U = (
    "((('0x' || substr(md5('dsir-v1:' || CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT"
    " + 0.5) / 4294967296.0)"
)

_DSIR_SQL = f"""
WITH toks AS (
    SELECT doc_id, lang,
           list_filter(string_split(regexp_replace(lower(text), '[^a-z]+', ' ', 'g'), ' '),
                       w -> w != '') AS t
    FROM documents
), grams AS (
    SELECT doc_id, lang, unnest(t || [t[i] || ' ' || t[i+1] for i in range(1, len(t))]) AS gram
    FROM toks
), db AS (
    SELECT doc_id, lang,
           ('0x' || substr(md5(gram), 1, 8))::BIGINT % {N_BUCKETS} AS bucket,
           count(*) AS n
    FROM grams GROUP BY 1, 2, 3
), raw AS (
    SELECT bucket, sum(n) AS cr FROM db GROUP BY 1
), tgt AS (
    SELECT bucket, sum(n) AS ct FROM db WHERE lang = '{TARGET_LANG}' GROUP BY 1
), totals AS (
    SELECT (SELECT sum(cr) FROM raw) AS nr, (SELECT sum(ct) FROM tgt) AS nt
), ratios AS (
    SELECT r.bucket,
           ln((CAST(coalesce(t.ct, 0) + 1 AS DOUBLE) / CAST(x.nt + {N_BUCKETS} AS DOUBLE))
              / (CAST(r.cr + 1 AS DOUBLE) / CAST(x.nr + {N_BUCKETS} AS DOUBLE))) AS lr
    FROM raw r LEFT JOIN tgt t ON t.bucket = r.bucket CROSS JOIN totals x
), weights AS (
    SELECT doc_id, lang,
           list_reduce(list_prepend(CAST(0 AS DOUBLE),
                                    list(n * lr ORDER BY d.bucket)),
                       (a, x) -> a + x) AS weight
    FROM db d JOIN ratios USING (bucket)
    GROUP BY doc_id, lang
), scored AS (
    SELECT doc_id, lang, weight,
           weight - ln(-ln({_DUCK_HASH_U})) AS score
    FROM weights
)
SELECT doc_id, lang, round(weight, 6) AS weight, round(score, 6) AS score
FROM scored
ORDER BY score DESC, doc_id
LIMIT {SELECT_K}
"""


@register("dsir_selected_docs", oracle=_DSIR_SQL, driver=False)
def dsir_selected_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-{SELECT_K} raw documents resampled toward the '{TARGET_LANG}'
    target domain by hashed-ngram importance weights."""
    return dsir_select(load_table(spark, sf_dir, "documents"))
