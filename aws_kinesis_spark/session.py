"""SparkSession factory tuned for the engine.

Local-mode testing uses ``local[$SPARK_GRAFT_CPUS]``; the configs below are
chosen to also be the right defaults on a real cluster (AQE on, skew-join
handling, partition-count discipline) — see SURVEY.md §4.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Number of shuffle partitions: match local cores; on a 1000-executor cluster
# this would be set to ~2-3x total cores (AQE coalesces down at runtime).
_DEFAULT_SHUFFLE_PARTITIONS = "32"


def get_spark(app_name: str = "aws-kinesis-spark", cpus: str | None = None) -> SparkSession:
    """Build (or get) the tuned SparkSession.

    AQE is enabled so runtime re-planning handles skewed joins and coalesces
    small shuffle partitions; timezone pinned to UTC to match the reference's
    ISO-8601 convention (README.md:145) and the DuckDB oracle's naive
    timestamps.
    """
    cpus = cpus or os.environ.get("SPARK_GRAFT_CPUS", "*")
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", _DEFAULT_SHUFFLE_PARTITIONS)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.compression.codec", "snappy")
        # join strategy (guide §3.1): let the planner pick shuffled-hash
        # over sort-merge when its size conditions fit (skips both sorts),
        # and let AQE rewrite SMJ->SHJ at runtime when every post-shuffle
        # partition is under 64 MB — a PER-PARTITION bound, so the build
        # side stays memory-safe at any corpus size (AQE skew-split keeps
        # partitions under it). Interleaved A/B over the 10 join-heaviest
        # headline queries: 15.33 s vs 15.73 s min-of-4, 7/10 faster.
        .config("spark.sql.join.preferSortMergeJoin", "false")
        .config(
            "spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold",
            os.environ.get("SPARK_GRAFT_SHJ_LOCAL_MAP_MAX", "64m"),
        )
        # runtime bloom filters: inject a filter from a selective dim side
        # into the fact-side scan — at 100 TB this skips fact row groups
        # before the join shuffle ever forms. (semiJoinReduction stays off:
        # it duplicates the build-side plan under every eligible join, which
        # multiplies optimizer time on the self-join-heavy dedup pipelines.)
        .config("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
        # MIN/MAX/COUNT over parquet answer from footer statistics
        .config("spark.sql.parquet.aggregatePushdown", "true")
        # list store dirs on the driver: above 32 paths Spark lists with a
        # distributed job, which in local mode runs on executor threads of
        # this same JVM against the same filesystem — scheduling with no
        # work behind it. The engine's fan-outs (64 hash buckets per store
        # dir, a restart batch's 60 source files) each paid one such job
        # per read: 21 jobs, 6.5 s of job time in one traced 50 s
        # dedup-ingest benchmark run on a 4-core host. The constant sits
        # above every fan-out the engine produces. It is set here, not in
        # configure(): on a cluster reading object stores, Spark's
        # parallel listing stays the right default.
        .config("spark.sql.sources.parallelPartitionDiscovery.threshold", "1024")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "16g"))
        .config("spark.ui.enabled", "false")
        # (a former "spark.sql.shuffle.spill.compress" line was a no-op —
        # the real key is spark.shuffle.spill.compress, already true by
        # default; deleted rather than fixed to avoid restating defaults)
    )
    spark = builder.getOrCreate()
    # getOrCreate RETURNS AN EXISTING SESSION UNCHANGED — if another
    # component built one first, every builder config above (including
    # the UTC timezone every oracle comparison depends on) was silently
    # skipped (round-12 review). configure() re-applies the
    # runtime-settable subset idempotently either way.
    configure(spark)
    spark.sparkContext.setLogLevel("WARN")
    return spark


def configure(spark: SparkSession) -> SparkSession:
    """Apply runtime-settable engine configs to an externally provided session.

    The driver hands us its own SparkSession for ``entry()``/``queries()``;
    these settings keep semantics (UTC timestamps) and plans (AQE) consistent
    with our own factory without restarting the JVM.
    """
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    # streaming disables AQE, so stateful ops inherit shuffle.partitions
    # directly — pin it to the local core count instead of the 200 default
    spark.conf.set("spark.sql.shuffle.partitions", _DEFAULT_SHUFFLE_PARTITIONS)
    spark.conf.set("spark.sql.adaptive.enabled", "true")
    spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "true")
    spark.conf.set("spark.sql.adaptive.skewJoin.enabled", "true")
    spark.conf.set("spark.sql.join.preferSortMergeJoin", "false")
    spark.conf.set(
        "spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold",
        os.environ.get("SPARK_GRAFT_SHJ_LOCAL_MAP_MAX", "64m"),
    )
    spark.conf.set("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
    spark.conf.set("spark.sql.parquet.aggregatePushdown", "true")
    # events.ts is parquet TIMESTAMP(NANOS); Spark has no nanos timestamp —
    # read as long and convert (tables.load truncates ns -> us like DuckDB).
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    return spark
