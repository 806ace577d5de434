"""Streaming distribution-drift monitor: per-batch PSI partials against
a frozen reference distribution.

Production shape: a training-data pipeline freezes the REFERENCE bin
counts when a model ships (one B-row table), then every ingest
micro-batch contributes its own bin counts; PSI of (reference vs
everything streamed so far) is recomputed from the folded counts. The
monitor must be replay-idempotent — a checkpoint rollback must not
double-count a batch — so each micro-batch writes its partial counts
to its own `batch_id=N` partition under dynamic partition overwrite (a
replay rewrites N with identical content instead of adding to it), and
counts are folded at read time (addition is associative; the fold
cannot double-count structurally).

Equality with batch is STRUCTURAL: the bin expression and the PSI
arithmetic are imported from operators/dq.py (psi_bin_col /
psi_from_counts) — the streamed result equals the batch
`psi_value_drift` rows exactly after a full drain, pinned in
tests/test_streaming_drift.py.

State size: B rows per batch partition; compaction sums old batch
partitions into one, the same fold the serving read performs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from cc_mapreducer_spark.operators.dq import (
    _PSI_BINS,
    full_bin_domain,
    psi_bin_col,
    psi_from_counts,
)


def reference_bin_counts(ref_df: DataFrame, value_col: str = "value") -> DataFrame:
    """Freeze the reference distribution: (bin, n_ref) over the full
    domain — compute once, persist next to the model."""
    counted = (
        ref_df.select(psi_bin_col(value_col))
        .groupBy("bin")
        .agg(F.count("*").alias("n_ref"))
    )
    domain = ref_df.sparkSession.range(_PSI_BINS).select(F.col("id").alias("bin"))
    return domain.join(counted, "bin", "left").select(
        "bin", F.coalesce("n_ref", F.lit(0)).alias("n_ref")
    )


def stream_psi_partials(
    spark: SparkSession,
    source_path: str,
    schema,
    partials_path: str,
    checkpoint_path: str,
    value_col: str = "value",
    max_files_per_trigger: int | None = None,
) -> None:
    """Drain the source (availableNow), writing one idempotent per-batch
    bin-count partition per micro-batch."""
    reader = spark.readStream.schema(schema)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    stream = reader.parquet(source_path)

    def _apply(df: DataFrame, epoch_id: int) -> None:
        write_psi_partial(df, epoch_id, partials_path, value_col)

    q = (
        stream.writeStream.foreachBatch(_apply)
        .option("checkpointLocation", checkpoint_path)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def write_psi_partial(
    df: DataFrame, batch_id: int, partials_path: str, value_col: str = "value"
) -> None:
    """One micro-batch -> one `batch_id=N` bin-count partition (dynamic
    overwrite: a replayed batch rewrites its partition instead of
    double-counting)."""
    spark = df.sparkSession
    prev = spark.conf.get("spark.sql.sources.partitionOverwriteMode", "static")
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try:
        (
            df.select(psi_bin_col(value_col))
            .groupBy("bin")
            .agg(F.count("*").alias("n_cur"))
            .withColumn("batch_id", F.lit(int(batch_id)))
            .write.mode("overwrite")
            .partitionBy("batch_id")
            .parquet(partials_path)
        )
    finally:
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", prev)


def read_psi_drift(
    spark: SparkSession, partials_path: str, reference: DataFrame
) -> DataFrame:
    """The serving view: fold every partial's bin counts, join the
    frozen reference, and emit the SAME report shape as the batch
    `psi_value_drift` (bin, n_ref, n_cur, psi_contrib, psi_total)."""
    cur = (
        spark.read.parquet(partials_path)
        .groupBy("bin")
        .agg(F.sum("n_cur").alias("n_cur"))
    )
    counts = (
        reference.join(cur, "bin", "left")
        .select(
            "bin",
            "n_ref",
            F.coalesce("n_cur", F.lit(0)).alias("n_cur"),
        )
    )
    return psi_from_counts(full_bin_domain(counts.select("bin", "n_ref", "n_cur")))
