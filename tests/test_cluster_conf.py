"""cluster_conf() is documentation-as-code for the 1000-executor
deployment profile (session.py). Its locally-testable claims must be
PINNED so the profile can't silently rot (VERDICT r3 item 8): AQE
partition coalescing genuinely shrinks post-shuffle partition counts,
and AQE skew-join genuinely splits a planted hot key — both under the
exact feature flags the profile ships.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from cc_mapreducer_spark.session import cluster_conf
from tests.conftest import SF_ORACLE


def test_profile_pins_the_features_asserted_here():
    conf = cluster_conf()
    assert conf["spark.sql.adaptive.enabled"] == "true"
    assert conf["spark.sql.adaptive.coalescePartitions.enabled"] == "true"
    assert conf["spark.sql.adaptive.skewJoin.enabled"] == "true"
    # shuffle parallelism scales with the fleet: 2 waves per core
    assert int(conf["spark.sql.shuffle.partitions"]) == 1000 * 8 * 2


def test_aqe_coalesces_post_shuffle_partitions(spark):
    # the static shuffle.partitions is a CEILING, not the delivered
    # partition count: a small post-shuffle stage must coalesce below it
    # (this is what lets one conf survive a 100x scale-up)
    static = int(spark.conf.get("spark.sql.shuffle.partitions"))
    agg = (
        spark.read.parquet(f"{SF_ORACLE}/lineitem.parquet")
        .groupBy("l_returnflag")
        .agg(F.sum("l_quantity").alias("s"))
    )
    agg.collect()  # finalize the adaptive plan
    delivered = agg.rdd.getNumPartitions()
    assert delivered < static, (
        f"AQE coalescing inert: {delivered} partitions delivered with "
        f"shuffle.partitions={static}"
    )
    plan = agg._jdf.queryExecution().executedPlan().toString()
    assert "AQEShuffleRead" in plan and "coalesced" in plan


def test_aqe_skew_join_splits_planted_hot_key(spark):
    # plant one hot key carrying ~99% of the left side, size the skew
    # thresholds down to test scale, force a sort-merge join, and assert
    # the executed plan marks the join as skew-handled
    left = (
        spark.range(0, 200_000)
        .select(
            F.when(F.col("id") % 100 != 0, F.lit(7))
            .otherwise(F.col("id"))
            .alias("k"),
            F.sha2(F.col("id").cast("string"), 256).alias("pad"),
        )
    )
    right = spark.range(0, 2_000).select(
        F.col("id").alias("k"), F.lit("dim").alias("d")
    )
    old = {
        k: spark.conf.get(k, None)
        for k in (
            "spark.sql.autoBroadcastJoinThreshold",
            "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
            "spark.sql.adaptive.advisoryPartitionSizeInBytes",
            "spark.sql.adaptive.coalescePartitions.minPartitionSize",
        )
    }
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        # production defaults (256m/64m in cluster_conf) scaled to the
        # test corpus: same mechanism, smaller trip-wire
        spark.conf.set(
            "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
            "256k",
        )
        spark.conf.set(
            "spark.sql.adaptive.advisoryPartitionSizeInBytes", "64k"
        )
        spark.conf.set(
            "spark.sql.adaptive.coalescePartitions.minPartitionSize", "16k"
        )
        # the JOIN itself is the executed query: AQE's skew split keeps
        # the join's output partitioning only for operators that don't
        # require hash distribution above it — with an agg stacked on
        # top, AQE (correctly) declines the split rather than pay an
        # extra shuffle, so asserting on that shape would test nothing
        j = left.join(right, "k")
        rows = j.collect()
        # equivalence first: 198_000 hot-key matches + the 20 spread
        # left keys (multiples of 100 below 2000) that exist in right
        assert len(rows) == 198_020
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "skew=true" in plan, (
            "AQE skew-join did not split the planted hot key:\n"
            + plan[:2000]
        )
        assert "skewed" in plan  # the AQEShuffleRead marks the split side
    finally:
        for k, v in old.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_get_spark_defaults_to_the_host_cores(monkeypatch):
    """Without $SPARK_GRAFT_CPUS the local master gets one thread per
    core this process may run on, not a fixed 32. The builder is
    stopped before it starts a session: its options are returned."""
    from pyspark.sql import SparkSession

    from cc_mapreducer_spark import session

    monkeypatch.delenv("SPARK_GRAFT_CPUS", raising=False)
    monkeypatch.setattr(session.os, "sched_getaffinity", lambda pid: {0, 1, 2})
    monkeypatch.setattr(SparkSession.Builder, "getOrCreate", lambda self: self._options)
    opts = session.get_spark()
    assert opts["spark.master"] == "local[3]"
    assert opts["spark.sql.shuffle.partitions"] == "8"
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "5")
    assert session.get_spark()["spark.master"] == "local[5]"
