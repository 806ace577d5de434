"""Streaming CDC materialization: multi-batch replay must converge to
the batch snapshot; re-applying a batch must be a no-op (exactly-once);
tombstones must survive materialization to beat late lower versions."""

from __future__ import annotations

from pyspark.sql import functions as F

from cc_mapreducer_spark.operators.cdc import cdc_snapshot
from cc_mapreducer_spark.streaming.cdc_sink import (
    merge_cdc_batch,
    read_current_snapshot,
    stream_cdc_snapshot,
)
from cc_mapreducer_spark.tables import load_table
from tests.conftest import SF_SMOKE


def _key_state(rows):
    return {
        (r["user_id"], r["item_k"]): (r["last_event_type"], r["last_value"])
        for r in rows
    }


def test_streaming_merge_converges_to_batch_snapshot(spark, tmp_path):
    events = load_table(spark, SF_SMOKE, "events")
    src = str(tmp_path / "src")
    events.repartition(3).write.parquet(src)  # 3 files -> 3 micro-batches

    snap = str(tmp_path / "snapshot")
    stream_cdc_snapshot(
        spark,
        src,
        events.schema,
        snap,
        str(tmp_path / "ckpt"),
        max_files_per_trigger=1,
    )
    got = _key_state(read_current_snapshot(spark, snap).collect())
    expected = _key_state(cdc_snapshot(spark, SF_SMOKE).collect())
    assert got == expected


def test_reapplying_batch_is_idempotent(spark, tmp_path):
    events = load_table(spark, SF_SMOKE, "events")
    snap = str(tmp_path / "snapshot")
    merge_cdc_batch(spark, snap, events)
    once = sorted(
        map(tuple, spark.read.parquet(snap).drop("kb").collect())
    )
    merge_cdc_batch(spark, snap, events)  # checkpoint-rollback replay
    twice = sorted(
        map(tuple, spark.read.parquet(snap).drop("kb").collect())
    )
    assert once == twice


def test_tombstone_beats_late_lower_version(spark, tmp_path):
    snap = str(tmp_path / "snapshot")
    schema = (
        "event_id long, ts string, user_id long, event_type string, "
        "value double, props string"
    )
    # batch 1: upsert then delete (delete is the latest version)
    b1 = spark.createDataFrame(
        [
            (1, "2024-01-01 00:00:00", 5, "view", 1.0, '{"k": 9}'),
            (2, "2024-01-01 00:02:00", 5, "error", 0.0, '{"k": 9}'),
        ],
        schema,
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    merge_cdc_batch(spark, snap, b1)
    assert read_current_snapshot(spark, snap).count() == 0

    # batch 2 delivers a LATE event with an OLDER version: must lose to
    # the materialized tombstone, not resurrect the key
    b2 = spark.createDataFrame(
        [(3, "2024-01-01 00:01:00", 5, "click", 2.0, '{"k": 9}')], schema
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    merge_cdc_batch(spark, snap, b2)
    assert read_current_snapshot(spark, snap).count() == 0

    # a genuinely newer upsert DOES resurrect it
    b3 = spark.createDataFrame(
        [(4, "2024-01-01 00:03:00", 5, "view", 3.0, '{"k": 9}')], schema
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    merge_cdc_batch(spark, snap, b3)
    rows = read_current_snapshot(spark, snap).collect()
    assert len(rows) == 1 and rows[0]["last_value"] == 3.0


def test_merge_touches_only_batch_buckets(spark, tmp_path):
    import os

    events = load_table(spark, SF_SMOKE, "events")
    snap = str(tmp_path / "snapshot")
    merge_cdc_batch(spark, snap, events)  # all buckets exist now
    before = {
        d: os.stat(os.path.join(snap, d)).st_mtime_ns
        for d in os.listdir(snap)
        if d.startswith("kb=")
    }
    # a single-user batch touches exactly one bucket (kb = 3 % 8)
    schema = (
        "event_id long, ts string, user_id long, event_type string, "
        "value double, props string"
    )
    b = spark.createDataFrame(
        [(99999, "2030-01-01 00:00:00", 3, "view", 9.0, '{"k": 1}')], schema
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    merge_cdc_batch(spark, snap, b)
    after = {
        d: os.stat(os.path.join(snap, d)).st_mtime_ns
        for d in os.listdir(snap)
        if d.startswith("kb=")
    }
    changed = {d for d in before if before[d] != after[d]}
    assert changed == {"kb=3"}


def test_resolve_keyed_changelog_null_key_fails_fast(spark):
    # ADVICE r3: a null user_id hashed to a null bucket, which would
    # stage under __HIVE_DEFAULT_PARTITION__ while the swap looked for
    # kb=None — silently dropping that bucket's merge. The kb expression
    # now raises executor-side instead.
    import pytest
    from pyspark.sql import Row
    from cc_mapreducer_spark.streaming.cdc_sink import resolve_keyed_changelog

    df = spark.createDataFrame(
        [(None, 9, "click", 1.0, "2024-01-01 00:00:00", '{"k": 1}')],
        "user_id long, event_id long, event_type string, value double, "
        "ts string, props string",
    ).withColumn("ts", F.to_timestamp("ts"))
    with pytest.raises(Exception, match="null user_id"):
        resolve_keyed_changelog(df).collect()
