"""Fixture table loaders (TESTDATA.md / FIXTURES.md)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

TABLES = [
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
]


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every fixture table as a temp view, giving users the raw-SQL
    interface the reference delegates to Athena/Redshift/DuckDB
    (README.md:164, 441-456): any ANSI SQL string over the lake tables runs
    through Catalyst exactly as §3.3 describes.

    Tables whose parquet file is ABSENT are skipped with a warning instead
    of failing the whole session: a query over orders must not die because
    the fixture dir predates a newer table such as embeddings. The view
    registration itself is lazy — load() only reads the footer."""
    import os
    import sys

    for name in TABLES:
        if not os.path.exists(os.path.join(sf_dir, f"{name}.parquet")):
            print(
                f"register_views: WARNING — {name}.parquet absent under "
                f"{sf_dir}; view not registered",
                file=sys.stderr,
            )
            continue
        load(spark, sf_dir, name).createOrReplaceTempView(name)


# sf_dir whose views are CURRENTLY registered, per session — a temp view
# survives for the session, so registering once keeps 10 parquet footer
# reads per run_sql call out of every query's fixed cost. Keyed by the
# current dir (not a seen-set): the view NAMES are session-global, so
# switching sf_dirs must re-register — a seen-set would silently leave the
# other dir's views up.
_VIEWS_FOR_SESSION: dict[int, str] = {}


def run_sql(spark: SparkSession, sf_dir: str, sql: str) -> DataFrame:
    """The interactive SQL entry point (SURVEY.md §3.3): register the lake
    views (once per session+sf_dir switch), then
    parse/analyze/optimize/execute the query with Catalyst."""
    if _VIEWS_FOR_SESSION.get(id(spark)) != sf_dir:
        register_views(spark, sf_dir)
        _VIEWS_FOR_SESSION[id(spark)] = sf_dir
    return spark.sql(sql)


def load(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one fixture table. Writes no session conf: the session carries
    the engine's conf from when it entered the engine (session.configure).

    ``events.ts`` is stored as parquet TIMESTAMP(NANOS), which Spark cannot
    represent; with ``nanosAsLong`` it arrives as epoch-nanos LongType and is
    truncated here to a microsecond TimestampType — the same ns->us
    truncation DuckDB applies, so oracle comparisons agree.
    """
    from pyspark.sql import functions as F

    df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
    if name == "events" and dict(df.dtypes).get("ts") == "bigint":
        df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    return df
