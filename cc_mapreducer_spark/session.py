"""SparkSession factory.

Local-mode settings mirror what we would set on a real cluster:
  - AQE on (runtime shuffle-partition coalescing, skew-join splitting) so
    the same plan survives a 100x scale-up without re-tuning.
  - UTC session timezone so timestamp semantics match the DuckDB oracle.
  - Arrow enabled for any Pandas-UDF path (the hot paths use none).
  - local[N] with N = $SPARK_GRAFT_CPUS, else every core this process may
    run on (os.sched_getaffinity), never more threads than the host has.
  - shuffle.partitions = max(N, 8); on a 1000-executor cluster this
    would be executors*cores*2-ish, but AQE coalescing makes the static
    number mostly a ceiling.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def cluster_conf(
    executors: int = 1000,
    cores_per_executor: int = 8,
    executor_mem_gb: int = 32,
    input_tb: float = 100.0,
) -> dict[str, str]:
    """Recommended conf for the real deployment this code targets
    (documentation-as-code; local get_spark() mirrors the semantics).

    Sizing logic:
      - shuffle.partitions ~ 2-3 tasks per core so stragglers overlap;
        AQE coalesces small stages back down at runtime.
      - maxPartitionBytes 256m: ~400k input splits for 100 TB — enough
        parallelism without task-launch overhead dominating.
      - advisoryPartitionSizeInBytes 128m: post-shuffle target that fits
        comfortably in executor memory with room for hash tables.
      - broadcast threshold 64m: every dim table in this schema fits;
        fact-fact joins still shuffle (and AQE splits their skew).
    """
    parallelism = executors * cores_per_executor
    return {
        "spark.executor.instances": str(executors),
        "spark.executor.cores": str(cores_per_executor),
        "spark.executor.memory": f"{executor_mem_gb}g",
        "spark.sql.shuffle.partitions": str(parallelism * 2),
        "spark.sql.files.maxPartitionBytes": "256m",
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.coalescePartitions.enabled": "true",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "128m",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.autoBroadcastJoinThreshold": "64m",
        "spark.sql.session.timeZone": "UTC",
        "spark.serializer": "org.apache.spark.serializer.KryoSerializer",
        "spark.speculation": "true",
    }


def get_spark(app_name: str = "cc-mapreducer-spark", cpus: int | None = None) -> SparkSession:
    if cpus is None:
        cpus = int(
            os.environ.get("SPARK_GRAFT_CPUS") or len(os.sched_getaffinity(0))
        )
    return (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(max(cpus, 8)))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        # local mode pushes ~all of a cluster's generated code through ONE
        # JVM; the default 240m JIT code cache evicts hot compiled stages
        # when many codegen-heavy queries interleave (measured: the
        # near_dedup 150k-doc verify swings 9.5-31.5s under the default,
        # 10.2-17.6s at 512m — same min, half the tail). 512m -> 1g in
        # round 9: the r8 driver bench (52 lanes x best-of-4 in one JVM)
        # drew a uniform ~1.5x drift plus a 9x outlier on the fleet's
        # biggest codegen unit — the signature of code-cache exhaustion
        # disabling the compiler mid-run. On a real cluster each executor
        # JVM compiles only its own queries and the default suffices;
        # this evens local measurement out to match.
        .config(
            "spark.driver.extraJavaOptions",
            os.environ.get(
                "SPARK_GRAFT_DRIVER_JVM_OPTS", "-XX:ReservedCodeCacheSize=1g"
            ),
        )
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
