"""Query registry: the single source of truth wiring SURVEY.md §2 operator
IDs to (a) a PySpark DataFrame implementation and (b) its DuckDB oracle SQL.

``__spark_entry__.py`` exposes this registry to the driver; tests iterate it
to run the same spark-vs-duckdb differential check locally.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]


@dataclass
class Entry:
    name: str
    fn: QueryFn
    oracle: str | None  # ANSI/DuckDB SQL twin; None => rows-only check
    doc: str


REGISTRY: dict[str, Entry] = {}


def register(name: str, oracle: str | None = None) -> Callable[[QueryFn], QueryFn]:
    """Decorator: register a query under a SURVEY.md §2 operator id."""

    def deco(fn: QueryFn) -> QueryFn:
        if name in REGISTRY:
            raise ValueError(f"duplicate query name: {name}")
        REGISTRY[name] = Entry(name=name, fn=fn, oracle=oracle, doc=fn.__doc__ or "")
        return fn

    return deco


# The driver's correctness harness checks the FIRST 50 queries() entries
# only. This window is curated so every SURVEY.md §2 operator family
# (A/B/C/D/E/F/G/O) gets hard driver-verified rows each round, and it
# ROTATES per round so the hard-checked set converges on all registered
# queries (sizes pinned by tests/test_entry.py::test_registry_counts_pinned,
# family floors by test_driver_window_covers_every_family).
#
# Rotation policy: each round, slots whose operator is already witnessed by
# another in-window query are swapped for the queries whose latest hard
# driver row is oldest (never-windowed first). A slot may rotate out only
# if a named in-window witness covers its operator; a query registered in
# a round enters the window that round. Every query outside the window
# keeps its DuckDB twin in the local differential suite. The per-round
# rotation log (what went out, what came in, and each witness) is in the
# git history of this file.
DRIVER_WINDOW: list[str] = [
    # D — relational core (11)
    "d06_join_semi_anti",
    "d07_set_ops",
    "d10b_approx_distinct",
    "d29_interval_overlap_join",
    "d33_histogram",
    "d35_percentile_profile",
    "d38_funnel_steps",
    "d40_ordered_sequence_agg",
    "d41_linear_interpolate",
    "d42_mad_outliers",
    "d43_markov_transitions",
    # C — record transforms (2)
    "c10_cost_accounting",
    "c12_jsonl_roundtrip",
    # B — streaming-core batch analogues (1)
    "b02_salted_aggregation",
    # A — sources/sinks/lake maintenance (5)
    "a01b_kinesis_reshard",
    "a13_dynamic_table_partitioning",
    "a17_snapshot_diff",
    "a23_zorder_clustering",
    "a24_symlink_manifest_export",
    # O — CDC family (1)
    "o07_log_compaction",
    # E — streaming semantics, batch-equivalent oracle form (3)
    "e01_stream_tumbling_hourly",
    "e11_stream_stream_outer_join",
    # F — UDF/UDAF/UDTF surface (3)
    "f02_grouped_map",
    "f03_grouped_agg_udaf",
    "f04_python_udtf",
    # G — LLM-data-pipeline operators (24)
    "g02c_dedup_simhash",
    "g07c_multimodal_resize",
    "g14b_quantization_error",
    "g17_training_order",
    "g18b_token_topk_sketch",
    "g19_dedup_keepers",
    "g21_doc_chunking",
    "g28_source_overlap",
    "g29_importance_sample",
    "g30_bm25_score",
    "g31_bigram_logprob",
    "g32_setsim_prefix_join",
    "g33_hard_negatives",
    "g34_source_datacard",
    "g35_stream_dedup_ingest",
    "g36_token_budget_sample",
    "g47_length_bucketing",
    "g48_persistent_ivf",
    "g50_source_cap",
    "g55_pipeline_end_to_end",
    "g56_truncation_recall",
    "g59_url_dedup",
    "g60_line_dedup",
    "g61_dsir_selection",
    "g62_pq_ann",
]


def _ordered_names() -> list[str]:
    """All registered names: the driver window first, then the rest in
    registration order.  Raises if the window names a missing query."""
    missing = [n for n in DRIVER_WINDOW if n not in REGISTRY]
    if missing:
        raise KeyError(f"DRIVER_WINDOW references unregistered queries: {missing}")
    window = set(DRIVER_WINDOW)
    return [*DRIVER_WINDOW, *(n for n in REGISTRY if n not in window)]


def queries() -> dict[str, QueryFn]:
    _ensure_loaded()
    return {name: REGISTRY[name].fn for name in _ordered_names()}


def oracles() -> dict[str, str]:
    _ensure_loaded()
    return {
        name: REGISTRY[name].oracle
        for name in _ordered_names()
        if REGISTRY[name].oracle is not None
    }


_LOADED = False


def _ensure_loaded() -> None:
    """Import every module that registers queries (idempotent)."""
    global _LOADED
    if _LOADED:
        return
    # imports are for their registration side effects
    from aws_kinesis_spark.plans import relational  # noqa: F401
    from aws_kinesis_spark.plans import pipeline_queries  # noqa: F401
    from aws_kinesis_spark.plans import ext_queries  # noqa: F401
    from aws_kinesis_spark.plans import streaming_queries  # noqa: F401
    from aws_kinesis_spark.plans import udf_queries  # noqa: F401

    _LOADED = True
