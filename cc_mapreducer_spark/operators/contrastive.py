"""Contrastive negative mining: deterministic per-document negatives
that are certified NOT near-duplicates of their anchor.

Training retrieval / embedding models needs (anchor, negative) pairs at
corpus scale, and the classic failure is sampling a "negative" that is
actually a near-duplicate of the anchor (a false negative that poisons
the contrastive loss). The scalable recipe composes two things this
repo already has:

  * HASH-JUMP candidate generation — candidate j for anchor d is
    md5('neg:'||d||':'||j) mod n_docs: uniform, deterministic, seedless
    (the repo's rand()-free sampling discipline), J candidates per
    anchor with NO corpus-wide shuffle to generate them;
  * LSH false-negative filter — a candidate is discarded iff it shares
    any MinHash band signature with its anchor (the exact band layout
    near_dedup_pairs joins on, dedup.py:131), an anti-join against the
    band-match pair table. Exact duplicates share every band, so they
    are discarded too.

Survivors rank by jump index (first-found order, deterministic) and the
first K become the anchor's negatives. Everything is integer/md5
arithmetic, so DuckDB replays it bit-for-bit: the registered query is
fully hash-checkable.

Scale shape: candidate generation is a literal-sequence explode (J rows
per anchor, no shuffle); validity + band filtering are equi-joins on
near-uniform keys (cand_id, then (band, sig) — the same key the LSH
self-join already shuffles on); ranking is a doc-partitioned window.
Nothing corpus-wide passes through one partition, and J bounds the
blowup at J * n rows.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from cc_mapreducer_spark.operators.dedup import (
    _BANDS_SQL,
    _DUCK_SHINGLE_CTE,
    _MINHASH_AGGS_SQL,
    minhash_bands,
    shingle_sets,
)
from cc_mapreducer_spark.memo import persisted
from cc_mapreducer_spark.registry import register
from cc_mapreducer_spark.tables import load_table

_J = 12   # candidate jumps per anchor
_KN = 4   # negatives kept per anchor


def _spark_cand(j_col: str = "j"):
    return (
        F.conv(
            F.substring(
                F.md5(
                    F.concat(
                        F.lit("neg:"),
                        F.col("doc_id").cast("string"),
                        F.lit(":"),
                        F.col(j_col).cast("string"),
                    )
                ),
                1,
                8,
            ),
            16,
            10,
        ).cast("long")
    )


_CONTRASTIVE_SQL = (
    _DUCK_SHINGLE_CTE
    + f"""
, sh AS (
    SELECT doc_id, unnest(ss) AS s FROM dshingles
), mh AS (
    SELECT doc_id,
    {_MINHASH_AGGS_SQL}
    FROM sh GROUP BY doc_id
), bands AS (
    {_BANDS_SQL}
), matched AS (
    SELECT DISTINCT a.doc_id AS doc_id, b.doc_id AS cand_id
    FROM bands a JOIN bands b
      ON a.band = b.band AND a.sig = b.sig AND a.doc_id <> b.doc_id
), ids AS (
    SELECT doc_id FROM documents
), nn AS (
    SELECT CAST(count(*) AS BIGINT) AS n_docs FROM documents
), cand AS (
    SELECT d.doc_id, t.j,
           ('0x' || substr(md5('neg:' || d.doc_id::VARCHAR || ':' || t.j::VARCHAR), 1, 8))::BIGINT
               % n_docs AS cand_id
    FROM ids d CROSS JOIN nn CROSS JOIN generate_series(1, {_J}) t(j)
), valid AS (
    -- candidate must be a real doc, not the anchor; collapse repeat
    -- hits of the same candidate to their first jump
    SELECT c.doc_id, c.cand_id, min(c.j) AS j
    FROM cand c JOIN ids e ON e.doc_id = c.cand_id
    WHERE c.cand_id <> c.doc_id
    GROUP BY 1, 2
), kept AS (
    SELECT v.doc_id, v.cand_id, v.j
    FROM valid v LEFT JOIN matched m
      ON m.doc_id = v.doc_id AND m.cand_id = v.cand_id
    WHERE m.doc_id IS NULL
), ranked AS (
    SELECT doc_id, cand_id,
           row_number() OVER (PARTITION BY doc_id ORDER BY j) AS rnk
    FROM kept
)
SELECT doc_id, CAST(rnk AS INTEGER) AS rank, cand_id AS neg_id
FROM ranked WHERE rnk <= {_KN}
"""
)


@register("contrastive_negatives", oracle=_CONTRASTIVE_SQL, driver=False)
def contrastive_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-{_KN} certified-non-near-dup negatives per anchor document
    (see module docstring). n_docs rides as a driver literal (the
    heavy_hitter_words convention); the candidate's jump index is the
    deterministic rank key."""
    docs = load_table(spark, sf_dir, "documents")
    ids = docs.select("doc_id")
    n_docs = ids.count()
    if n_docs == 0:
        return spark.createDataFrame(
            [], "doc_id bigint, rank int, neg_id bigint"
        )
    cand = ids.select(
        "doc_id", F.explode(F.sequence(F.lit(1), F.lit(_J))).alias("j")
    ).withColumn("cand_id", _spark_cand() % F.lit(n_docs))
    valid = (
        cand.filter(F.col("cand_id") != F.col("doc_id"))
        .join(ids.select(F.col("doc_id").alias("cand_id")), "cand_id")
        .groupBy("doc_id", "cand_id")
        .agg(F.min("j").alias("j"))
    )
    # The band table self-joins below, and Catalyst builds the whole
    # shingle->minhash pipeline ONCE PER SIDE (the r11 before-plan shows
    # the scan->explode->window->collect_set->8-min-agg subtree twice).
    # Persist it through memo.persisted — the same standing-artifact
    # policy as near_dedup's shingle table and simhash's fingerprint
    # cache: at 100 TB the MinHash band table is written once and every
    # candidate query (near-dedup, negative mining) reads it. The
    # shingle input is the plan near_dedup_pairs persists too, so the
    # two queries build it once between them.
    sets = persisted(shingle_sets(spark, sf_dir).filter(F.size("ss") > 0))
    bands = persisted(minhash_bands(sets).select("doc_id", "band", "sig"))
    matched = (
        bands.alias("a")
        .join(
            bands.alias("b"),
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.sig") == F.col("b.sig"))
            & (F.col("a.doc_id") != F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_id"),
            F.col("b.doc_id").alias("cand_id"),
        )
        .distinct()
    )
    kept = valid.join(matched, ["doc_id", "cand_id"], "left_anti")
    w = Window.partitionBy("doc_id").orderBy("j")
    return (
        kept.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= _KN)
        .select("doc_id", "rank", F.col("cand_id").alias("neg_id"))
    )
