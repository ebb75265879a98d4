"""SparkSession factory with scale-oriented defaults.

Defaults chosen for a large multi-executor cluster but harmless on local[N]:
AQE on (runtime re-planning, skew-join splitting, partition coalescing),
Arrow on (every pandas-UDF boundary is Arrow-batched), UTC session timezone
(calendar bucketing must not depend on cluster-local time).

Sessions start cold: no warm-up job runs at build time, so the first real
operation of a session pays JVM class loading, codegen and the Python
worker start. Benchmarks warm their own workloads before timing them.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# One place to keep the engine's Spark conf so spark-submit jobs, tests and
# bench all run with identical semantics.
ENGINE_CONF: dict[str, str] = {
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # grouped pandas UDF stages (gap-fill kernels, codecs) stream bounded
    # Arrow batches instead of materializing whole groups when possible
    "spark.sql.execution.arrow.maxRecordsPerBatch": "10000",
    # files: pack small files, split big ones; 128m keeps partitions
    # executor-memory-friendly at 100 TB table size
    "spark.sql.files.maxPartitionBytes": "134217728",
    "spark.sql.parquet.filterPushdown": "true",
    "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
    # v2 output committer: task outputs move to the destination at task
    # commit (one rename per file) instead of being re-renamed at job commit
    # — fewer filesystem round-trips for the store's many small month-dir
    # writes; same visibility contract here because every store write goes
    # to a fresh private job dir that only becomes visible via the snapshot
    # pointer commit (retention.py), so partial job output is never read.
    "spark.hadoop.mapreduce.fileoutputcommitter.algorithm.version": "2",
}


def _prewarm(spark: SparkSession) -> None:
    """No-op: exists only for perfbench's traced-run wrap, deleted with it."""


def get_spark(
    app_name: str = "ingestr-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with the engine defaults.

    ``master=None`` defers to spark-submit / an existing session, so cluster
    deployments are unaffected; tests pass ``local[N]`` explicitly.
    """
    builder = SparkSession.builder.appName(app_name)
    if master:
        builder = builder.master(master)
    # local mode: executors live in the driver JVM, whose default 1g heap
    # OOMs under 32 concurrent parquet-writer tasks. Only effective before
    # the JVM starts — a no-op under spark-submit or a running gateway, so
    # it is set UNCONDITIONALLY (a master-less `python -m
    # ingestr_spark.pipeline` run still launches a local JVM and used to
    # inherit the 1g default: OOM at 24M rows).
    builder = builder.config(
        "spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "20g")
    )
    # measured: ParallelGC cuts this allocation-heavy columnar workload's
    # wall time ~3x vs default G1 on a 32-thread local JVM
    builder = builder.config(
        "spark.driver.extraJavaOptions", "-XX:+UseParallelGC"
    )
    conf = dict(ENGINE_CONF)
    if shuffle_partitions is None:
        shuffle_partitions = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    conf["spark.sql.shuffle.partitions"] = str(shuffle_partitions)
    if extra_conf:
        conf.update(extra_conf)
    for k, v in conf.items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


def apply_engine_conf(spark: SparkSession) -> SparkSession:
    """Apply runtime-settable engine conf to an externally created session.

    The correctness driver hands us its own SparkSession; calendar bucketing
    must still happen in UTC and Arrow must be on. Static conf (already-bound
    JVM settings) is skipped automatically by try/except.
    """
    for k, v in ENGINE_CONF.items():
        try:
            spark.conf.set(k, v)
        except Exception:
            pass  # static conf on a running session — keep its value
    return spark
