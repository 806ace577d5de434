"""Collocation mining: word pairs that co-occur more than chance.

Two classic association statistics over corpus bigrams, both public
methods implemented from their papers:

  * PMI (Church & Hanks 1990): ln(p(a,b) / (p(a·) p(·b))) — sharp but
    biased toward rare pairs, hence the min-count floor.
  * Log-likelihood ratio G² (Dunning 1993): 2 Σ O ln(O/E) over the
    2x2 contingency table of (first-word = a) x (second-word = b) —
    robust at low counts, the standard collocation test.

Both are pure arithmetic over four integer counts (k11 pair count, r1
first-word margin, c1 second-word margin, N total bigrams), so the
expressions are written ONCE in identical shape for Spark and DuckDB:
the only cross-engine wiggle is ln() last-ulp drift, absorbed by the
repo's 6dp output grid.

Scale notes (100 TB):
  * the min-count floor applies to the PAIR table BEFORE any join —
    the Zipf tail (the overwhelming majority of distinct bigrams)
    never reaches the margin joins.
  * margins are word-keyed aggregates joined back on the word — plain
    hash joins on near-uniform keys; no vocabulary-wide window, no
    single-partition sort anywhere (ranking is TakeOrdered).
  * totals are one-row aggregates broadcast via the allowlisted
    scalar crossJoin pattern.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from cc_mapreducer_spark.memo import persisted
from cc_mapreducer_spark.operators.dedup import _SPARK_TOKS
from cc_mapreducer_spark.registry import register
from cc_mapreducer_spark.tables import load_table, spread

MIN_PAIR_COUNT = 5
TOP_K = 50


def _bigrams(docs: DataFrame) -> DataFrame:
    """(w1, w2) consecutive-word pairs, document-bounded.

    r11: built by zipping the token array against itself shifted by one
    (slice + arrays_zip + explode — all codegen'd built-ins, no lambda
    indexing) instead of posexplode + a lead() window. The window form
    shuffled and sorted the ENTIRE token stream on doc_id before any
    counting — and the old plan paid that exchange once per consumer.
    The zip form pairs tokens row-locally: zero exchanges below the
    count aggregations."""
    ws = F.expr(_SPARK_TOKS)
    pairs = F.arrays_zip(
        F.slice(ws, 1, F.greatest(F.size(ws) - 1, F.lit(0))),
        F.expr(f"slice({_SPARK_TOKS}, 2, greatest(size({_SPARK_TOKS}) - 1, 0))"),
    )
    return docs.select(F.explode(pairs).alias("p")).select(
        F.col("p.0").alias("w1"), F.col("p.1").alias("w2")
    )


def collocations(
    docs: DataFrame, min_count: int = MIN_PAIR_COUNT, k: int = TOP_K
) -> DataFrame:
    """Top-k collocations by G² with PMI alongside.

    Output: (w1, w2, n_pair, pmi, llr) — counts exact, statistics on
    the 6dp grid, ranked by (llr desc, w1, w2) via TakeOrdered."""
    bi = _bigrams(docs)
    # ONE pass over the bigram stream: the margins and the total are
    # exact rollups of the (w1, w2) count table (sum of k11 grouped by
    # w1 == count of bigrams whose first word is w1, etc.), so the
    # stream aggregates once — the r11 before-plan re-derived the whole
    # scan->explode->window stream FOUR times (pairs, both margins, the
    # total). The distinct-bigram count table persists (memo.persisted;
    # vocabulary²-bounded but Zipf-small — the same standing artifact
    # lm_perplexity's bigram model materializes).
    pairs_all = persisted(bi.groupBy("w1", "w2").agg(F.count("*").alias("k11")))
    pairs = pairs_all.filter(F.col("k11") >= min_count)
    r = pairs_all.groupBy("w1").agg(F.sum("k11").alias("r1"))
    c = pairs_all.groupBy("w2").agg(F.sum("k11").alias("c1"))
    n = pairs_all.agg(F.sum("k11").alias("nn"))
    j = (
        pairs.join(r, "w1")
        .join(c, "w2")
        .crossJoin(F.broadcast(n))
        .withColumn("k12", F.col("r1") - F.col("k11"))
        .withColumn("k21", F.col("c1") - F.col("k11"))
        .withColumn(
            "k22", F.col("nn") - F.col("r1") - F.col("c1") + F.col("k11")
        )
    )

    def term(o: str, row: F.Column, col: F.Column) -> F.Column:
        # O * ln(O*N / (row_margin * col_margin)), with 0 ln 0 = 0
        return F.when(
            F.col(o) > 0,
            F.col(o)
            * F.log(
                F.col(o).cast("double")
                * F.col("nn").cast("double")
                / (row.cast("double") * col.cast("double"))
            ),
        ).otherwise(F.lit(0.0))

    r2 = F.col("nn") - F.col("r1")
    c2 = F.col("nn") - F.col("c1")
    llr = 2.0 * (
        term("k11", F.col("r1"), F.col("c1"))
        + term("k12", F.col("r1"), c2)
        + term("k21", r2, F.col("c1"))
        + term("k22", r2, c2)
    )
    pmi = F.log(
        F.col("k11").cast("double")
        * F.col("nn").cast("double")
        / (F.col("r1").cast("double") * F.col("c1").cast("double"))
    )
    return (
        j.select(
            "w1",
            "w2",
            F.col("k11").alias("n_pair"),
            F.round(pmi, 6).alias("pmi"),
            F.round(llr, 6).alias("llr"),
        )
        .orderBy(F.desc("llr"), "w1", "w2")
        .limit(k)
    )


_COLLOC_SQL = f"""
WITH toks AS (
    SELECT doc_id,
           list_filter(string_split(regexp_replace(lower(text), '[^a-z]+', ' ', 'g'), ' '),
                       w -> w != '') AS t
    FROM documents
), bi AS (
    SELECT unnest([{{'w1': t[i], 'w2': t[i+1]}} for i in range(1, len(t))], recursive := true)
    FROM toks
), pairs AS (
    SELECT w1, w2, count(*) AS k11 FROM bi GROUP BY 1, 2
    HAVING count(*) >= {MIN_PAIR_COUNT}
), r AS (SELECT w1, count(*) AS r1 FROM bi GROUP BY 1),
c AS (SELECT w2, count(*) AS c1 FROM bi GROUP BY 1),
n AS (SELECT count(*) AS nn FROM bi),
j AS (
    SELECT p.w1, p.w2, p.k11, r.r1, c.c1, n.nn,
           r.r1 - p.k11 AS k12,
           c.c1 - p.k11 AS k21,
           n.nn - r.r1 - c.c1 + p.k11 AS k22
    FROM pairs p JOIN r ON r.w1 = p.w1 JOIN c ON c.w2 = p.w2 CROSS JOIN n
)
SELECT w1, w2, k11 AS n_pair,
       round(ln(CAST(k11 AS DOUBLE) * CAST(nn AS DOUBLE)
                / (CAST(r1 AS DOUBLE) * CAST(c1 AS DOUBLE))), 6) AS pmi,
       round(2.0 * (
         (CASE WHEN k11 > 0 THEN k11 * ln(CAST(k11 AS DOUBLE) * CAST(nn AS DOUBLE)
                                          / (CAST(r1 AS DOUBLE) * CAST(c1 AS DOUBLE))) ELSE 0.0 END)
       + (CASE WHEN k12 > 0 THEN k12 * ln(CAST(k12 AS DOUBLE) * CAST(nn AS DOUBLE)
                                          / (CAST(r1 AS DOUBLE) * CAST(nn - c1 AS DOUBLE))) ELSE 0.0 END)
       + (CASE WHEN k21 > 0 THEN k21 * ln(CAST(k21 AS DOUBLE) * CAST(nn AS DOUBLE)
                                          / (CAST(nn - r1 AS DOUBLE) * CAST(c1 AS DOUBLE))) ELSE 0.0 END)
       + (CASE WHEN k22 > 0 THEN k22 * ln(CAST(k22 AS DOUBLE) * CAST(nn AS DOUBLE)
                                          / (CAST(nn - r1 AS DOUBLE) * CAST(nn - c1 AS DOUBLE))) ELSE 0.0 END)
       ), 6) AS llr
FROM j
ORDER BY llr DESC, w1, w2
LIMIT {TOP_K}
"""


@register("collocations_top", oracle=_COLLOC_SQL, driver=False)
def collocations_top(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-{TOP_K} corpus collocations by log-likelihood ratio.
    spread(): the zip-explode rides the scan, so the single-file local
    scan would otherwise tokenize + pre-aggregate on one core."""
    return collocations(spread(load_table(spark, sf_dir, "documents")))
