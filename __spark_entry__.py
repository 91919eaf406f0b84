"""Driver contract for the spark-graft builder (PySpark target).

The driver's verify runs ``entry(spark)`` as a smoke check, runs
each ``queries()[name]`` at sf=0.01 and compares it against the
matching ``oracle_sql()[name]`` via DuckDB (row-count + schema +
order-insensitive value-hash → CORRECTNESS_r{N}.json).

All real logic lives in ``aws_kinesis_spark``; this module only adapts the
registry to the driver's shape. It is the one place that receives a
session the engine did not build, so it applies the engine's session conf
(``session.configure``: UTC, ``nanosAsLong``, AQE) to the driver's session
before any query plans on it.
"""

from __future__ import annotations

import functools
import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from aws_kinesis_spark import registry  # noqa: E402
from aws_kinesis_spark.session import configure  # noqa: E402

SF0001 = "/root/testdata/sf0.001"


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query (SURVEY.md §7 M0) on sf0.001 events: the reference's
    one-line use case "real-time fraud alert + hourly analytics on every
    order change" (README.md:38) as a batch plan — JSON props parse ->
    hot-path predicate -> hourly tumbling aggregation."""
    from pyspark.sql import functions as F

    from aws_kinesis_spark.tables import load

    ev = load(configure(spark), SF0001, "events")
    k = F.get_json_object("props", "$.k").cast("int")
    return (
        ev.withColumn("k", k)
        .filter(F.col("event_type") == "error")
        .groupBy(F.window("ts", "1 hour").alias("w"))
        .agg(
            F.count("*").alias("n_errors"),
            F.round(F.sum("value"), 4).alias("sum_value"),
            F.round(F.avg("k"), 4).alias("avg_k"),
        )
        .select(F.col("w.start").alias("hour_start"), "n_errors", "sum_value", "avg_k")
        .orderBy("hour_start")
    )


def _on_configured_session(
    fn: Callable[[SparkSession, str], DataFrame],
) -> Callable[[SparkSession, str], DataFrame]:
    @functools.wraps(fn)
    def run(spark: SparkSession, sf_dir: str) -> DataFrame:
        return fn(configure(spark), sf_dir)

    return run


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2, each applying
    the engine's session conf to the driver's session before it plans."""
    return {
        name: _on_configured_session(fn) for name, fn in registry.queries().items()
    }


def oracle_sql() -> dict[str, str]:
    """DuckDB oracle twin per query (omitted => rows-only check)."""
    return registry.oracles()
