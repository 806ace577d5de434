"""Streaming count-min: per-micro-batch sketch partials merged at read
time (the mergeable-summaries deployment of operators/sketches.py,
mirroring streaming/heavyhitters.py for Misra-Gries).

The CM sketch is a LINEAR transform of the frequency vector, so the
sketch of a concatenated stream is exactly the cell-wise sum of the
slice sketches — no cut step, no error from slicing, the merged sketch
is bit-identical to the batch sketch over the accreted corpus
(tests/test_streaming_cms.py proves equality on a 3-slice replay).

Per micro-batch: one bounded groupBy (key space d*w, map-side combined)
lands <= d*w cell rows in a `batch_id=N` partition under dynamic
partition overwrite — a checkpoint-rollback replay REWRITES partition N
with identical content instead of adding to it, so idempotence is
structural. The serving read sums cells across all batch partitions:
state is <= batches x d*w tiny rows, and compacting old batches is the
same sum the read performs.

Plus the sentinel: each batch partition carries one (i=-1, col=-1, c=n)
row with the batch's occurrence count, so the stream length N — the
quantity the eps*N error bound is stated in — accretes in the same
table and the serving read can certify estimates without rescanning
the corpus.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from cc_mapreducer_spark.operators.sketches import build_cms


def write_cms_partial(
    items: DataFrame, batch_id: int, path: str, col: str = "word"
) -> None:
    """One micro-batch -> one `batch_id=N` partition holding the
    batch's <= d*w sketch cells plus the (-1, -1, n) length sentinel."""
    spark = items.sparkSession
    cells = build_cms(items, col)
    n_row = items.agg(
        F.lit(-1).alias("i"),
        F.lit(-1).alias("col"),
        F.count("*").cast("bigint").alias("c"),
    )
    prev = spark.conf.get("spark.sql.sources.partitionOverwriteMode", "static")
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try:
        (
            cells.unionByName(n_row)
            .withColumn("batch_id", F.lit(int(batch_id)))
            .write.mode("overwrite")
            .partitionBy("batch_id")
            .parquet(path)
        )
    finally:
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", prev)


def read_cms(spark: SparkSession, path: str) -> tuple[DataFrame, int]:
    """Serving read: (merged sketch, exact stream length N). The merge
    is one groupBy over <= batches x d*w rows; estimates from the
    merged sketch obey true <= est <= true + (e/w) * N for the accreted
    stream, identically to a from-scratch batch build."""
    partials = spark.read.parquet(path)
    n = (
        partials.filter(F.col("i") == -1)
        .agg(F.coalesce(F.sum("c"), F.lit(0)))
        .collect()[0][0]
    )
    merged = (
        partials.filter(F.col("i") >= 0)
        .groupBy("i", "col")
        .agg(F.sum("c").cast("bigint").alias("c"))
    )
    return merged, int(n)


def stream_word_cms(
    spark: SparkSession,
    source_path: str,
    schema,
    path: str,
    checkpoint_path: str,
    max_files_per_trigger: int | None = None,
) -> None:
    """Drain a documents-slice source (availableNow), sketching each
    micro-batch's word stream into one CMS partial partition."""
    from cc_mapreducer_spark.operators.text_analysis import _SPARK_WORDS

    reader = spark.readStream.schema(schema)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    stream = reader.parquet(source_path)

    def _apply(df: DataFrame, epoch_id: int) -> None:
        words = df.select(F.explode(F.expr(_SPARK_WORDS)).alias("word"))
        write_cms_partial(words, epoch_id, path)

    q = (
        stream.writeStream.foreachBatch(_apply)
        .option("checkpointLocation", checkpoint_path)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
