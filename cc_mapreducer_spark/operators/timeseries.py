"""Time-series regularization: resampling onto a fixed grid, gap filling
(LOCF — last observation carried forward), and OHLC bucket rollups.

Event streams are irregular; downstream consumers (feature stores,
forecasting models, dashboards) want a dense, regular grid per entity.
The operators here turn the raw `events` table into that grid without
ever leaving declarative DataFrame ops:

  * ``resample_locf`` — per-user fixed-width buckets from the user's
    first to last active bucket, one row per bucket. Empty buckets get
    n_events=0 / sum_value=0 and carry the most recent observed value
    forward (the standard LOCF fill).
  * ``event_ohlc_buckets`` — open/high/low/close per (bucket,
    event_type): the canonical financial-style downsample; open/close
    pick deterministic first/last by (ts, event_id).

Determinism & cross-engine parity:
  * buckets are integer epoch arithmetic (floor(epoch/step)*step as
    BIGINT) — no engine-specific window frames; rendering goes through
    a NAIVE epoch->timestamp conversion on both engines, so the system
    timezone can never leak in.
  * value sums go through DECIMAL(14,2) (the repo-wide convention) so
    summation order cannot produce float drift across engines.
  * "last value in bucket" is max over struct(ts, event_id, value) —
    lexicographic struct comparison with a unique tiebreak, identical
    in Spark and DuckDB.

Scale notes (100 TB):
  * the RAW data is shuffled exactly once (hash on user_id feeding the
    (user_id, bucket) aggregate, which is cached — the explicit
    materialization point a production pipeline would checkpoint to
    parquet). Every later exchange moves only the bucket AGGREGATE
    (|users x active buckets| rows — orders of magnitude below fact
    scale) — plan-asserted in tests: one parquet scan, one raw-data
    Exchange.
  * grid fan-out is bounded by span/step per user (time, not row
    count): a user active for a year at 1-hour buckets is 8.8k rows
    regardless of how many billion raw events they have. The dense
    grid is therefore usually SMALLER than the input at fact scale.
  * the LOCF window is a running last() over each user's bounded grid
    — no unbounded-following frame, single forward pass.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from cc_mapreducer_spark.memo import persisted
from cc_mapreducer_spark.registry import register
from cc_mapreducer_spark.tables import load_table

BUCKET_SECONDS = 4 * 3600  # the registered queries' grid width


def resample_locf(
    events: DataFrame,
    entity: str,
    ts_col: str,
    value_col: str,
    order_col: str,
    step_seconds: int,
) -> DataFrame:
    """Dense per-entity grid with LOCF fill. ``order_col`` breaks
    same-timestamp ties (must make (ts, order) unique per entity)."""
    bucket = (
        F.floor(F.unix_timestamp(F.col(ts_col)) / step_seconds) * step_seconds
    ).cast("bigint")
    # one hash-cluster on the entity; every downstream op's required
    # distribution is satisfied by it (grouping keys are supersets,
    # window partitions equal it) — plan-asserted in tests
    src = events.repartition(F.col(entity))
    # The bucket agg feeds TWO consumers (the span->grid derivation and
    # the fill join); without an explicit materialization point Spark
    # plans each consumer its own scan+shuffle of the RAW input. Persisting
    # here = the parquet stage-checkpoint a 100 TB pipeline would write;
    # with it the raw data is scanned and shuffled exactly once, and all
    # later exchanges move only bucket-aggregate rows.
    agg = persisted(
        src.groupBy(F.col(entity), bucket.alias("__bucket")).agg(
            F.count("*").alias("n_events"),
            F.sum(F.col(value_col).cast("decimal(14,2)"))
            .cast("double")
            .alias("sum_value"),
            F.max(F.struct(F.col(ts_col), F.col(order_col), F.col(value_col)))
            .getField(value_col)
            .alias("__lastv"),
        )
    )
    span = agg.groupBy(entity).agg(
        F.min("__bucket").alias("__b0"), F.max("__bucket").alias("__b1")
    )
    grid = span.select(
        entity,
        F.explode(
            F.sequence("__b0", "__b1", F.lit(step_seconds).cast("bigint"))
        ).alias("__bucket"),
    )
    w = (
        Window.partitionBy(entity)
        .orderBy("__bucket")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    joined = grid.join(agg, [entity, "__bucket"], "left")
    return joined.select(
        F.col(entity),
        F.date_format(
            F.timestamp_seconds(F.col("__bucket")), "yyyy-MM-dd HH:mm:ss"
        ).alias("bucket_start"),
        F.coalesce("n_events", F.lit(0)).alias("n_events"),
        F.coalesce("sum_value", F.lit(0.0)).alias("sum_value"),
        F.last("__lastv", ignorenulls=True).over(w).alias("locf_value"),
        F.col("n_events").isNull().alias("is_gap"),
    )


_STEP = BUCKET_SECONDS
# NAIVE epoch->timestamp on both engines: Spark renders timestamp_seconds
# under the UTC session timezone; DuckDB's epoch_ms returns a naive
# TIMESTAMP — neither consults the system timezone.
_RESAMPLE_SQL = f"""
WITH agg AS (
    SELECT user_id,
           CAST(floor(epoch(ts) / {_STEP}) * {_STEP} AS BIGINT) AS bucket,
           count(*) AS n_events,
           CAST(sum(CAST(value AS DECIMAL(14,2))) AS DOUBLE) AS sum_value,
           (max(struct_pack(ts := ts, event_id := event_id, value := value)))['value'] AS lastv
    FROM events GROUP BY 1, 2
), span AS (
    SELECT user_id, min(bucket) AS b0, max(bucket) AS b1 FROM agg GROUP BY 1
), grid AS (
    SELECT user_id, unnest(generate_series(b0, b1, {_STEP})) AS bucket FROM span
)
SELECT g.user_id,
       strftime(epoch_ms(g.bucket * 1000), '%Y-%m-%d %H:%M:%S') AS bucket_start,
       coalesce(a.n_events, 0) AS n_events,
       coalesce(a.sum_value, 0.0) AS sum_value,
       last_value(a.lastv IGNORE NULLS) OVER (
           PARTITION BY g.user_id ORDER BY g.bucket
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS locf_value,
       a.n_events IS NULL AS is_gap
FROM grid g LEFT JOIN agg a ON a.user_id = g.user_id AND a.bucket = g.bucket
"""


@register("event_resample_locf", oracle=_RESAMPLE_SQL, driver=False)
def event_resample_locf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user dense 4-hour grid over `events` with LOCF fill."""
    return resample_locf(
        load_table(spark, sf_dir, "events"),
        "user_id",
        "ts",
        "value",
        "event_id",
        BUCKET_SECONDS,
    )


_OHLC_SQL = f"""
SELECT CAST(floor(epoch(ts) / {_STEP}) * {_STEP} AS BIGINT) AS bucket,
       event_type,
       (min(struct_pack(ts := ts, event_id := event_id, value := value)))['value'] AS open,
       max(value) AS high,
       min(value) AS low,
       (max(struct_pack(ts := ts, event_id := event_id, value := value)))['value'] AS close,
       count(*) AS n_events
FROM events
GROUP BY 1, 2
"""


@register("event_ohlc_buckets", oracle=_OHLC_SQL, driver=False)
def event_ohlc_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Open/high/low/close of `value` per (4h bucket, event_type). Open
    and close carry raw observed doubles (no arithmetic, no drift);
    first/last are (ts, event_id)-deterministic. One map-side-combined
    aggregation — the cheapest possible downsample at any scale."""
    e = load_table(spark, sf_dir, "events")
    bucket = (
        F.floor(F.unix_timestamp(F.col("ts")) / _STEP) * _STEP
    ).cast("bigint")
    ordered = F.struct(F.col("ts"), F.col("event_id"), F.col("value"))
    return e.groupBy(bucket.alias("bucket"), "event_type").agg(
        F.min(ordered).getField("value").alias("open"),
        F.max("value").alias("high"),
        F.min("value").alias("low"),
        F.max(ordered).getField("value").alias("close"),
        F.count("*").alias("n_events"),
    )
