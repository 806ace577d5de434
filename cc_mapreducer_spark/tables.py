"""Loaders for the driver's synthetic parquet tables (TESTDATA.md).

All queries read through these so scans share one code path: parquet with
explicit column pruning left to Catalyst (ReadSchema) and predicate
pushdown (PushedFilters) — verified in tests/test_plans.py.

A table's schema is memoized per session (``memo.value``) and handed to
the reader, so only the first ``load_table`` of a file runs Spark's
schema-inference job (a footer read), not every build of every query
that scans it. The memo drops the schema when a
local file is rewritten, even in place (memo.py's staleness rule), and
the key carries the nanosAsLong conf, which changes what inference
returns for INT64-nanos columns.
"""

from __future__ import annotations

import os

from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.types import StructType

from cc_mapreducer_spark.memo import value

TABLE_NAMES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def spread(df: DataFrame) -> DataFrame:
    """Widen a narrow scan before CPU-heavy per-row expression work.

    The driver's tables are single parquet files, so a scan yields one
    input split and all downstream tokenize/hash work would run on one
    core. On a real cluster a 100 TB table arrives as thousands of splits
    and this is a no-op (returns df unchanged when the scan is already at
    least as wide as the default parallelism); locally it buys scan-stage
    parallelism for the price of shuffling the (small) input."""
    spark = df.sparkSession
    target = spark.sparkContext.defaultParallelism
    files = tuple(sorted(df.inputFiles()))  # metadata-only (FileIndex listing)
    # df.rdd.getNumPartitions() instantiates the RDD lineage: pay that
    # once per scanned file set, not once per query build
    nparts = value(
        spark, "scan_width", files, files, lambda: df.rdd.getNumPartitions()
    )
    if nparts < target:
        return df.repartition(target)
    return df


_NANOS_AS_LONG = "spark.sql.legacy.parquet.nanosAsLong"


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if name not in TABLE_NAMES:
        raise KeyError(f"unknown table {name!r}; known: {TABLE_NAMES}")
    path = f"{sf_dir}/{name}.parquet"
    if name == "events":
        schema = _events_schema(spark, path)
        return _normalize_event_ts(spark.read.schema(schema).parquet(path))
    return spark.read.schema(_schema(spark, path)).parquet(path)


def _schema(spark: SparkSession, path: str) -> StructType:
    nanos = spark.conf.get(_NANOS_AS_LONG, None)
    return value(
        spark, "schema", (path, nanos), (path,), lambda: spark.read.parquet(path).schema
    )


def _events_schema(spark: SparkSession, path: str) -> StructType:
    """Schema of events.parquet tolerating either physical type the driver
    has shipped for ts: INT64 TIMESTAMP(NANOS) (round 1), which Spark's
    reader rejects by default ([PARQUET_TYPE_ILLEGAL]), or a plain
    TIMESTAMP(MICROS) (round 2+), which reads as TIMESTAMP_NTZ.

    nanosAsLong is applied ONLY when the plain read actually fails on the
    nanos type (ADVICE r2): an unconditional session-wide legacy conf
    would leak into every other parquet read, where a future INT64-nanos
    column in another table should fail loudly rather than silently
    surface as bigint. It cannot be save/restored around the read — Spark
    re-resolves the conf when an ACTION on the returned DataFrame plans,
    so the conf must outlive this call; sessions that never touch a
    nanos file (round 2+ data) now never set it. A failed inference is
    not memoized, so a session that unsets the conf again re-runs the
    fallback instead of reading with a schema the conf no longer allows."""
    try:
        return _schema(spark, path)
    except AnalysisException as ex:
        if "PARQUET_TYPE_ILLEGAL" not in str(ex):
            raise
    spark.conf.set(_NANOS_AS_LONG, "true")
    return _schema(spark, path)


def _normalize_event_ts(df: DataFrame) -> DataFrame:
    """Canonicalize events.ts to TIMESTAMP (ltz; session tz is pinned UTC)
    at microsecond precision — the one type every downstream operator,
    stream, and DuckDB oracle was built against. Long means nanos-as-long
    (truncate to micros, exactly how DuckDB surfaces the same column);
    anything else (TIMESTAMP_NTZ from a micros file) is a straight cast —
    same wall-clock values ONLY under a UTC session, so that invariant is
    enforced here at the cast site rather than assumed from the callers
    that happen to pin it (ADVICE r2)."""
    tz = df.sparkSession.conf.get("spark.sql.session.timeZone", "")
    if tz != "UTC":
        # registry._tune_session pins UTC for every registered query; a
        # direct load_table caller on an unpinned session would otherwise
        # get silently shifted wall-clock values from the NTZ->LTZ cast.
        df.sparkSession.conf.set("spark.sql.session.timeZone", "UTC")
    kind = dict(df.dtypes)["ts"]
    if kind == "bigint":
        return df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    return df.withColumn("ts", F.col("ts").cast("timestamp"))
