"""Cost accounting (SURVEY.md C10 extension; reference README.md:323-330,
592-599: the per-window "Cost Snapshot" tables pricing ingest, retrieval,
transform invocations, PUT requests, and storage).

Two surfaces:
- expression helpers (`with_cost_cols`) — pure columnar math, usable inside
  any query plan (the deterministic form the c10 registry query exposes);
- `lake_cost_report` — the at-rest accounting over a lake's manifests
  (actual files and bytes), the per-flush counterpart of FlushStats.

Rates default to the reference's own published snapshot numbers; they are
inputs, not constants — pass your contract prices.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from aws_kinesis_spark.sources.lake import iter_manifests


@dataclass(frozen=True)
class CostRates:
    """Unit prices (USD). Defaults mirror the reference's cost-snapshot
    arithmetic (README.md:323-330): ingest priced per million records and
    per GB of payload, transform per million invocations, PUT per thousand
    requests, storage per GB-month."""

    ingest_per_m_records: float = 14.0
    ingest_per_gb: float = 0.08
    retrieval_per_gb: float = 0.04
    transform_per_m_invocations: float = 3.74
    put_per_k_requests: float = 5.0
    storage_per_gb_month: float = 0.023


def with_cost_cols(
    grouped: DataFrame,
    rates: CostRates = CostRates(),
    records_col: str = "n_records",
    bytes_col: str = "n_bytes",
    files_col: str | None = None,
) -> DataFrame:
    """Append cost columns to an aggregated frame carrying record and byte
    counts (and optionally file counts). Pure projection — composes with
    any grouping without adding a shuffle."""
    gb = F.col(bytes_col) / F.lit(float(1 << 30))
    ingest = (
        F.col(records_col) / 1e6 * rates.ingest_per_m_records
        + gb * rates.ingest_per_gb
    )
    retrieval = gb * rates.retrieval_per_gb
    transform = F.col(records_col) / 1e6 * rates.transform_per_m_invocations
    out = (
        grouped.withColumn("ingest_usd", F.round(ingest, 8))
        .withColumn("retrieval_usd", F.round(retrieval, 8))
        .withColumn("transform_usd", F.round(transform, 8))
    )
    total = F.col("ingest_usd") + F.col("retrieval_usd") + F.col("transform_usd")
    if files_col is not None:
        out = out.withColumn(
            "put_usd", F.round(F.col(files_col) / 1e3 * rates.put_per_k_requests, 8)
        )
        total = total + F.col("put_usd")
    return out.withColumn("total_usd", F.round(total, 8))


def lake_cost_report(
    spark: SparkSession,
    lake_dir: str,
    rates: CostRates = CostRates(),
) -> DataFrame:
    """Per-batch cost report from the lake's manifests — the reference's
    cost snapshot computed from what actually landed (files, bytes,
    records), not estimates. Driver-side work is O(manifests); the math is
    a tiny local DataFrame so it joins/unions freely with query results."""
    import pyarrow.parquet as pq

    rows = []
    for _path, m in iter_manifests(lake_dir):
        n_records = m["recordCount"]
        n_bytes = m["totalBytes"]
        n_files = len(m["entries"])
        if n_records is not None and n_records < 0:
            # retention/delete rewrites reset recordCount to -1 ("unknown"),
            # which the rate math would price as NEGATIVE ingest/transform
            # dollars. Recount from the surviving entries' parquet footers
            # (O(files) driver metadata), and re-derive bytes and file
            # count from the same surviving set, so storage/retrieval are
            # priced on the files the records were counted from.
            n_records, n_bytes, n_files = 0, 0, 0
            for e in m["entries"]:
                try:
                    n_records += pq.ParquetFile(e["url"]).metadata.num_rows
                    n_bytes += os.path.getsize(e["url"])
                    n_files += 1
                except (OSError, ValueError):
                    # a dangling or corrupt entry is left out of the
                    # recount: a report prices what exists. pyarrow's
                    # ArrowInvalid ('magic bytes not found' on a truncated
                    # crash survivor, exactly the lakes where -1 rewrites
                    # happen) subclasses ValueError, not OSError.
                    pass
        rows.append((m["batchId"], n_records, n_bytes, n_files))
    base = spark.createDataFrame(
        rows, "batch_id LONG, n_records LONG, n_bytes LONG, n_files LONG"
    )
    report = with_cost_cols(base, rates, files_col="n_files")
    return report.withColumn(
        "storage_usd_month",
        F.round(F.col("n_bytes") / F.lit(float(1 << 30)) * rates.storage_per_gb_month, 8),
    ).withColumn(
        "total_usd", F.round(F.col("total_usd") + F.col("storage_usd_month"), 8)
    )
