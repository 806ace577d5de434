"""Streaming heavy hitters: Misra-Gries partials maintained across
micro-batches (the mergeable-summaries deployment of
operators/heavyhitters.py).

Batch MG answers "which tokens exceed t occurrences?" with one bounded
sketch pass + a candidate-only exact count. A stream of corpus slices
needs the same answer WITHOUT rescanning history per batch, and a
checkpoint-rollback replay must not double-count. Both follow from the
summaries being mergeable (Agarwal et al., "Mergeable Summaries",
PODS'12):

  * per micro-batch, each partition folds its rows into a k-counter
    summary (the SAME `_mg_fold` as the batch operator — zero shuffle,
    O(k) memory) and emits one extra NULL-item sentinel row carrying
    the partition's exact row count, so the stream's total length n —
    the quantity the error bound is stated in — accretes in the same
    table as the counters;
  * the per-partition partials land unreduced in a `batch_id=N`
    partition under dynamic partition overwrite: replaying batch N
    rewrites partition N with identical content instead of adding to
    it — idempotence is structural;
  * the serving read sums counters per item across ALL partials and
    applies ONE capacity cut (subtract the (k+1)-th largest summed
    count, drop non-positives). Every decrement anywhere in the
    pipeline — a fold's decrement-all or the final cut — removes >= k+1
    units of total mass per unit of per-item undercount, and total
    inserted mass is n, so any item's undercount <= n/(k+1) no matter
    how the stream was sliced into batches or partitions. Items with
    true count > n/(k+1) therefore SURVIVE: the read is a certified
    superset, and the exact verify (broadcast semi-join + count over
    candidate rows only) returns the bit-exact `HAVING count >= t`
    answer.

Deferring every cut to read time (batch writes store raw per-partition
folds) keeps the hot path driver-free — unlike the batch kernel's
bounded driver merge, nothing here ever collects — and makes the stored
state strictly more accurate than per-batch cutting would be. State
size: <= partitions x k counter rows + partitions sentinel rows per
batch; fold old batches into one partition when stream age outgrows
that (the merge is the same sum the serving read performs).

Proven in tests/test_streaming_heavyhitters.py: 3-slice replay equals
the batch operator exactly on the real corpus; a planted hot token
survives real decrements at small k while the exact verify discards
every false positive; replay rewrites are byte-idempotent; the
n/(k+1) bound holds item-wise.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, SparkSession, functions as F

from cc_mapreducer_spark.operators.heavyhitters import _mg_fold

_PARTIAL_SCHEMA = "item string, c long"


def mg_partition_partials(keyed: DataFrame, key_col: str, k: int) -> DataFrame:
    """Per-partition MG summaries of one micro-batch: <= k (item, c)
    counter rows plus one (NULL, partition_row_count) sentinel row per
    non-empty partition. Zero shuffle; the batch operator's fold."""

    def partial(batches):
        counts: dict = {}
        n_rows = 0
        for pdf in batches:
            if not len(pdf):
                continue
            n_rows += len(pdf)
            for item in pdf["item"].values:
                _mg_fold(counts, item, 1, k)
        if n_rows:
            yield pd.DataFrame(
                {
                    "item": list(counts) + [None],
                    "c": list(counts.values()) + [n_rows],
                }
            )

    return keyed.select(F.col(key_col).alias("item")).mapInPandas(
        partial, _PARTIAL_SCHEMA
    )


def write_mg_partial(
    keyed: DataFrame, batch_id: int, path: str, key_col: str, k: int
) -> None:
    """One micro-batch -> one `batch_id=N` partition of raw partition
    partials. Dynamic overwrite makes a checkpoint-rollback replay
    rewrite the partition instead of double-counting it."""
    spark = keyed.sparkSession
    prev = spark.conf.get("spark.sql.sources.partitionOverwriteMode", "static")
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try:
        (
            mg_partition_partials(keyed, key_col, k)
            .withColumn("batch_id", F.lit(int(batch_id)))
            .write.mode("overwrite")
            .partitionBy("batch_id")
            .parquet(path)
        )
    finally:
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", prev)


def read_mg_summary(spark: SparkSession, path: str, k: int) -> tuple[DataFrame, int]:
    """Serving read: (candidates, n). Candidates are the <= k surviving
    (item, c_lower) rows after the single capacity cut; n is the exact
    total stream length from the sentinel rows. Guarantee: c_lower <=
    true count <= c_lower + n // (k + 1), and every item with true
    count > n // (k + 1) is present."""
    partials = spark.read.parquet(path)
    n = (
        partials.filter(F.col("item").isNull())
        .agg(F.coalesce(F.sum("c"), F.lit(0)))
        .collect()[0][0]
    )
    summed = (
        partials.filter(F.col("item").isNotNull())
        .groupBy("item")
        .agg(F.sum("c").alias("c_lower"))
    )
    distinct_items = summed.count()
    if distinct_items > k:
        # exact (k+1)-th largest summed count: a k+1-row TakeOrdered,
        # never a global sort — item cardinality here is already
        # bounded by batches x partitions x k, but stay shape-safe
        cut = (
            summed.orderBy(F.desc("c_lower"), "item")
            .limit(k + 1)
            .agg(F.min("c_lower"))
            .collect()[0][0]
        )
        summed = summed.select(
            "item", (F.col("c_lower") - F.lit(cut)).alias("c_lower")
        ).filter(F.col("c_lower") > 0)
    return summed, int(n)


def streaming_heavy_hitters_exact(
    spark: SparkSession,
    path: str,
    corpus_keyed: DataFrame,
    key_col: str,
    threshold: int,
    k: int,
) -> DataFrame:
    """Exact >= threshold heavy hitters over everything streamed so
    far: serving candidates (certified superset for threshold >
    n/(k+1)) -> broadcast semi-join against the accreted corpus ->
    exact count -> threshold filter. Bit-identical to the batch
    `GROUP BY/HAVING`, key cardinality of the only corpus-wide
    shuffle <= k."""
    cand, n = read_mg_summary(spark, path, k)
    if threshold * (k + 1) <= n:
        raise ValueError(
            f"threshold {threshold} is below the certified line "
            f"n/(k+1) = {n}/{k + 1}; raise k or threshold"
        )
    cand_df = cand.select(F.col("item").alias(key_col))
    return (
        corpus_keyed.join(F.broadcast(cand_df), key_col, "left_semi")
        .groupBy(key_col)
        .agg(F.count("*").cast("bigint").alias("cnt"))
        .filter(F.col("cnt") >= threshold)
    )


def stream_word_hitters(
    spark: SparkSession,
    source_path: str,
    schema,
    path: str,
    checkpoint_path: str,
    k: int,
    max_files_per_trigger: int | None = None,
) -> None:
    """Drain a documents-slice source (availableNow), folding each
    micro-batch's word stream into one MG partial partition."""
    from cc_mapreducer_spark.operators.text_analysis import _SPARK_WORDS

    reader = spark.readStream.schema(schema)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    stream = reader.parquet(source_path)

    def _apply(df: DataFrame, epoch_id: int) -> None:
        words = df.select(F.explode(F.expr(_SPARK_WORDS)).alias("word"))
        write_mg_partial(words, epoch_id, path, "word", k)

    q = (
        stream.writeStream.foreachBatch(_apply)
        .option("checkpointLocation", checkpoint_path)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
