"""SparkSession factory tuned for the engine.

Local-mode testing uses ``local[$SPARK_GRAFT_CPUS]``; the configs below are
chosen to also be the right defaults on a real cluster (AQE on, skew-join
handling, partition-count discipline) — see SURVEY.md §4.

Session conf is applied once, when a session enters the engine: by
``get_spark`` for a session the engine builds, and by ``__spark_entry__``
for one a driver hands in. Library code never writes session conf at
query time — a session may be shared with other queries and threads, and
a deployment's own values must stick. Per-operator shape is explicit
(``repartition(n)``, per-write options) or left to AQE.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Number of shuffle partitions: match local cores; on a 1000-executor cluster
# this would be set to ~2-3x total cores (AQE coalesces down at runtime).
_DEFAULT_SHUFFLE_PARTITIONS = "32"


def get_spark(app_name: str = "aws-kinesis-spark", cpus: str | None = None) -> SparkSession:
    """Build (or get) the tuned SparkSession: the local-mode builder settings
    below, then ``configure()``.

    ``getOrCreate`` returns an existing session unchanged, skipping every
    builder config, so the runtime SQL confs the engine's semantics depend
    on (UTC above all) are applied by ``configure()`` either way.
    """
    cpus = cpus or os.environ.get("SPARK_GRAFT_CPUS", "*")
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.compression.codec", "snappy")
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
    )
    spark = configure(builder.getOrCreate())
    spark.sparkContext.setLogLevel("WARN")
    return spark


def configure(spark: SparkSession) -> SparkSession:
    """Apply the engine's runtime SQL confs to a session entering the engine.

    Called once per session: by ``get_spark``, and by ``__spark_entry__``
    on the session a driver hands in. These settings keep semantics (UTC
    timestamps, nanos parquet timestamps) and plans (AQE) consistent
    without restarting the JVM. AQE is on so runtime re-planning handles
    skewed joins and coalesces small shuffle partitions; the timezone is
    pinned to UTC to match the reference's ISO-8601 convention
    (README.md:145) and the DuckDB oracle's naive timestamps.
    """
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    # streaming disables AQE, so stateful ops inherit shuffle.partitions
    # directly — pin it to the local core count instead of the 200 default
    spark.conf.set("spark.sql.shuffle.partitions", _DEFAULT_SHUFFLE_PARTITIONS)
    spark.conf.set("spark.sql.adaptive.enabled", "true")
    spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "true")
    spark.conf.set("spark.sql.adaptive.skewJoin.enabled", "true")
    # join strategy (guide §3.1): let the planner pick shuffled-hash over
    # sort-merge when its size conditions fit (skips both sorts), and let
    # AQE rewrite SMJ->SHJ at runtime when every post-shuffle partition is
    # under 64 MB — a PER-PARTITION bound, so the build side stays
    # memory-safe at any corpus size (AQE skew-split keeps partitions under
    # it). Interleaved A/B over the 10 join-heaviest headline queries:
    # 15.33 s vs 15.73 s min-of-4, 7/10 faster.
    spark.conf.set("spark.sql.join.preferSortMergeJoin", "false")
    spark.conf.set("spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold", "64m")
    # runtime bloom filters: inject a filter from a selective dim side into
    # the fact-side scan — at 100 TB this skips fact row groups before the
    # join shuffle ever forms. (semiJoinReduction stays off: it duplicates
    # the build-side plan under every eligible join, which multiplies
    # optimizer time on the self-join-heavy dedup pipelines.)
    spark.conf.set("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
    # MIN/MAX/COUNT over parquet answer from footer statistics
    spark.conf.set("spark.sql.parquet.aggregatePushdown", "true")
    # events.ts is parquet TIMESTAMP(NANOS); Spark has no nanos timestamp —
    # read as long and convert (tables.load truncates ns -> us like DuckDB).
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    return spark
