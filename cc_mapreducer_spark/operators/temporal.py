"""Temporal joins and sliding windows (SURVEY.md §2.7 gaps / §2.8).

The reference has no time semantics at all; these supply the temporal
operators Spark lacks as single keywords but expresses cleanly as
compositions (SURVEY §2's custom-operator guidance: composition of
DataFrame ops first, Pandas UDFs only if semantics demand — none do):

  as-of join      last-matching-event-before-now == last(...) IGNORE NULLS
                  over an ordered window — no join at all, one pass
  interval join   equi-key + time-range condition; Spark plans a hash join
                  on the key with the range as a post-filter
  sliding window  window(ts, len, slide) — each event lands in
                  len/slide windows

Scale notes: the as-of form is the one to reach for at 100 TB — it's a
single user_id-partitioned window pass, no join blow-up. The interval join
keys its shuffle on user_id; a time-bucket prefix would be added to the
key if a single user's history exceeded a partition.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from cc_mapreducer_spark.registry import register
from cc_mapreducer_spark.tables import load_table

_TS_FMT_SPARK = "yyyy-MM-dd HH:mm:ss.SSSSSS"
_TS_FMT_DUCK = "%Y-%m-%d %H:%M:%S.%f"

# --------------------------------------------------------------------------
# as-of join: each event tagged with the user's most recent PRIOR purchase
# --------------------------------------------------------------------------

_ASOF_SQL = f"""
SELECT event_id, user_id,
       strftime(ts, '{_TS_FMT_DUCK}') AS event_ts,
       strftime(
         last_value(CASE WHEN event_type = 'purchase' THEN ts END IGNORE NULLS)
           OVER (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
         '{_TS_FMT_DUCK}') AS last_purchase_ts
FROM events
"""


def asof_last_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join expressed as an ordered-window `last(..., ignorenulls)`
    — the scalable form: one window pass over user-partitioned events,
    no self-join."""
    e = load_table(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    last_purchase = F.last(
        F.when(F.col("event_type") == "purchase", F.col("ts")), ignorenulls=True
    ).over(w)
    return e.select(
        "event_id",
        "user_id",
        F.date_format("ts", _TS_FMT_SPARK).alias("event_ts"),
        F.date_format(last_purchase, _TS_FMT_SPARK).alias("last_purchase_ts"),
    )


# --------------------------------------------------------------------------
# interval (range) join: events within 1h after each purchase
# --------------------------------------------------------------------------

_INTERVAL_JOIN_SQL = """
WITH p AS (
    SELECT user_id, event_id AS purchase_id, ts AS p_ts
    FROM events WHERE event_type = 'purchase'
)
SELECT p.purchase_id,
       count(e.event_id) AS n_following,
       CAST(count(CASE WHEN e.event_type = 'error' THEN 1 END) AS BIGINT) AS n_errors_following
FROM p LEFT JOIN events e
  ON e.user_id = p.user_id
 AND e.ts > p.p_ts
 AND e.ts <= p.p_ts + INTERVAL 1 HOUR
GROUP BY p.purchase_id
"""


def interval_join_after_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval join: per purchase, activity in the following hour. The
    equi-key (user_id) carries the shuffle; the time range is a join-side
    filter, so the plan is a hash join, not a nested loop."""
    e = load_table(spark, sf_dir, "events")
    p = e.filter(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("p_user"),
        F.col("event_id").alias("purchase_id"),
        F.col("ts").alias("p_ts"),
    )
    j = p.join(
        e,
        (e.user_id == p.p_user)
        & (e.ts > p.p_ts)
        & (e.ts <= p.p_ts + F.expr("INTERVAL 1 HOUR")),
        "left",
    )
    return j.groupBy("purchase_id").agg(
        F.count("event_id").alias("n_following"),
        F.count(F.when(F.col("event_type") == "error", 1))
        .cast("bigint")
        .alias("n_errors_following"),
    )


# --------------------------------------------------------------------------
# sliding windows: 1-hour windows sliding every 15 minutes
# --------------------------------------------------------------------------

_SLIDING_SQL = """
SELECT strftime(time_bucket(INTERVAL '15 minutes', ts) - (k * INTERVAL '15 minutes'),
                '%Y-%m-%d %H:%M:%S') AS window_start,
       event_type,
       count(*) AS n_events
FROM events CROSS JOIN range(0, 4) t(k)
GROUP BY 1, 2
"""


def event_sliding_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding event-time windows (1h length, 15min slide): each event
    belongs to 4 windows. Spark's window() materializes the assignment;
    the oracle derives the same 4 starts per event from time_bucket."""
    e = load_table(spark, sf_dir, "events")
    return (
        e.groupBy(F.window("ts", "1 hour", "15 minutes"), "event_type")
        .agg(F.count("*").alias("n_events"))
        .select(
            F.date_format("window.start", "yyyy-MM-dd HH:mm:ss").alias("window_start"),
            "event_type",
            "n_events",
        )
    )


# --------------------------------------------------------------------------
# approximate distinct (HLL) — engine-specific values, rows-only + bounds test
# --------------------------------------------------------------------------


_APPROX_DISTINCT_SQL = """
SELECT event_type,
       CAST(count(DISTINCT user_id) AS BIGINT) AS exact_users,
       true AS within_bound
FROM events
GROUP BY event_type
"""


@register("approx_distinct_users", oracle=_APPROX_DISTINCT_SQL)
def approx_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """approx_count_distinct (HyperLogLog++): THE count-distinct at 100 TB
    (exact countDistinct shuffles every value).

    The raw sketch estimate is engine-specific, so it cannot be a hashed
    column — but the CONTRACT can: the query emits the exact distinct
    count (plain SQL for the oracle) plus ``within_bound``, an in-query
    assertion that the HLL estimate lands within 5x its configured 1% rsd
    of the exact count. The oracle states ``true`` — a sketch regression
    flips the boolean and fails the value hash, so the driver check is
    "approximation verifiably within bound", not "runs without error".
    (tests/test_extensions.py asserts ``within_bound`` on every row.)
    """
    e = load_table(spark, sf_dir, "events")
    agg = e.groupBy("event_type").agg(
        F.approx_count_distinct("user_id", 0.01).alias("approx_users"),
        F.countDistinct("user_id").cast("bigint").alias("exact_users"),
    )
    return agg.select(
        "event_type",
        "exact_users",
        (
            F.abs(F.col("approx_users") - F.col("exact_users"))
            / F.col("exact_users")
            <= 0.05
        ).alias("within_bound"),
    )


# --------------------------------------------------------------------------
# consolidated temporal-join key (roster consolidation, round 2)
# --------------------------------------------------------------------------

# The driver records correctness for at most 50 registered keys, so the
# as-of join and the interval join merge into one tagged key with a
# NULL-padded superset schema. Components stay importable functions with
# their own unit tests.
_TEMPORAL_JOINS_SQL = f"""
WITH asof_j AS (
    {_ASOF_SQL}
), iv AS (
    {_INTERVAL_JOIN_SQL}
)
SELECT 'asof' AS kind, event_id AS id, user_id, event_ts, last_purchase_ts,
       CAST(NULL AS BIGINT) AS n_following, CAST(NULL AS BIGINT) AS n_errors_following
FROM asof_j
UNION ALL
SELECT 'interval' AS kind, purchase_id AS id, CAST(NULL AS BIGINT) AS user_id,
       CAST(NULL AS VARCHAR) AS event_ts, CAST(NULL AS VARCHAR) AS last_purchase_ts,
       n_following, n_errors_following
FROM iv
"""


@register("temporal_joins", oracle=_TEMPORAL_JOINS_SQL)
def temporal_joins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tagged union of the two temporal-join operators:

    * kind='asof' — per event, the user's most recent PRIOR purchase
      (single ordered-window pass, no join blow-up — the 100 TB form).
    * kind='interval' — per purchase, counts of events in the following
      hour (equi-key hash join with a time-range post-filter).
    """
    asof = asof_last_purchase(spark, sf_dir).select(
        F.lit("asof").alias("kind"),
        F.col("event_id").alias("id"),
        "user_id",
        "event_ts",
        "last_purchase_ts",
        F.lit(None).cast("bigint").alias("n_following"),
        F.lit(None).cast("bigint").alias("n_errors_following"),
    )
    iv = interval_join_after_purchase(spark, sf_dir).select(
        F.lit("interval").alias("kind"),
        F.col("purchase_id").alias("id"),
        F.lit(None).cast("bigint").alias("user_id"),
        F.lit(None).cast("string").alias("event_ts"),
        F.lit(None).cast("string").alias("last_purchase_ts"),
        "n_following",
        "n_errors_following",
    )
    return asof.unionAll(iv)
