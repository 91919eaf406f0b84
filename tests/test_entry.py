"""Smoke test mirroring the driver's entry() check."""

from __future__ import annotations


def test_entry_returns_rows(spark):
    import __spark_entry__ as e

    df = e.entry(spark)
    rows = df.collect()
    assert len(rows) > 0
    assert set(df.columns) == {"hour_start", "n_errors", "sum_value", "avg_k"}


def test_driver_session_gets_the_engine_conf_at_entry(spark):
    """__spark_entry__ is the one place a session the engine did not build
    comes in: entry() and each queries() callable apply session.configure
    to it. A driver session in another timezone and without nanosAsLong
    returns the same rows as the engine's own session."""
    import __spark_entry__ as e
    from conftest import SF_CORRECTNESS as sf

    # its hour bins go through unix_timestamp, which reads the session
    # timezone: in America/Los_Angeles (DST) it returns other rows
    name = "d29_interval_overlap_join"
    want_entry = e.entry(spark).collect()
    want_q = sorted(e.queries()[name](spark, sf).collect())

    def driver_session():
        s = spark.newSession()
        s.conf.set("spark.sql.session.timeZone", "America/Los_Angeles")
        s.conf.unset("spark.sql.legacy.parquet.nanosAsLong")
        assert s.conf.get("spark.sql.legacy.parquet.nanosAsLong") == "false"
        return s

    assert want_entry and want_q
    assert e.entry(driver_session()).collect() == want_entry
    assert sorted(e.queries()[name](driver_session(), sf).collect()) == want_q


def test_queries_and_oracles_aligned():
    import __spark_entry__ as e

    q = e.queries()
    o = e.oracle_sql()
    assert set(o) <= set(q)
    assert len(q) >= 20


def test_driver_window_covers_every_family():
    """The driver's correctness harness reads the first 50 queries() entries;
    lock that window to one covering every SURVEY.md §2 family with oracles."""
    from aws_kinesis_spark import registry

    q = registry.queries()
    o = registry.oracles()
    window = list(q)[:50]
    assert window == registry.DRIVER_WINDOW
    assert len(registry.DRIVER_WINDOW) == 50
    # every window query must carry a full DuckDB oracle (hash-match check)
    assert all(n in o for n in window), [n for n in window if n not in o]
    # every operator family lands inside the hard-signal window (floors
    # track the round-14 FRESHNESS rotation: the complete r8 AND r9
    # backlogs rotate in together — those blocks are D/G/A-heavy, so the
    # mix shifts with them: d 6->11, c 2, b 2->1 (b02; the other B
    # queries all hold fresh r10+ rows), a 4->5, o 2->1 (o07; o05/o06
    # re-certified r13), e 6->2 (e01/e11 stay as family witnesses),
    # f 3, g 25->24 — the git history of registry.py logs every named
    # witness.  The floor is >=1 per family: every §2 family must keep a
    # hard driver row each round.
    for prefix, minimum in [
        ("d", 11), ("c", 2), ("b", 1), ("a", 5), ("o", 1),
        ("g", 25), ("e", 2), ("f", 3),
    ]:
        got = sum(1 for n in window if n.startswith(prefix))
        assert got >= minimum, f"family {prefix}: {got} < {minimum}"
    # window curation must not drop any registered query entirely
    assert set(q) == set(registry.REGISTRY)
    # round-14 rotation: the COMPLETE r8 backlog (13) AND the COMPLETE
    # r9 backlog (16) come in together with the five round-14
    # registrations — VERDICT r13 #1 (and #6 a round early)
    rotated_in = {
        # r8 block
        "a13_dynamic_table_partitioning", "c10_cost_accounting",
        "d06_join_semi_anti", "d10b_approx_distinct",
        "g14b_quantization_error", "g17_training_order",
        "g21_doc_chunking", "g28_source_overlap",
        "g29_importance_sample", "g31_bigram_logprob",
        "g33_hard_negatives", "g34_source_datacard",
        "o07_log_compaction",
        # r9 block
        "a01b_kinesis_reshard", "a17_snapshot_diff",
        "a23_zorder_clustering", "a24_symlink_manifest_export",
        "b02_salted_aggregation", "d07_set_ops", "d33_histogram",
        "d35_percentile_profile", "d38_funnel_steps",
        "g02c_dedup_simhash", "g18b_token_topk_sketch",
        "g19_dedup_keepers", "g30_bm25_score",
        "g32_setsim_prefix_join", "g36_token_budget_sample",
        "g47_length_bucketing",
        # NEW this round, windowed the round they registered (URL dedup;
        # line dedup; MAD fences; DSIR selection; Markov transitions)
        "g59_url_dedup",
        "g60_line_dedup",
        "d42_mad_outliers",
        "g61_dsir_selection",
        "d43_markov_transitions",
        "g62_pq_ann",
    }
    assert rotated_in <= set(window)
    # every rotated-out slot holds a green CORRECTNESS_r13 row (the
    # freshest possible) and keeps running in the differential suite;
    # named witnesses in the git history of registry.py
    rotated_out = {
        "d24_exists_subquery", "d36_approx_percentile_check",
        "d14d_pivot",
        "c15_xml_roundtrip",
        "b04_dedup_by_sequence", "b05_bucketed_join",
        "a03_efo_push_consumer", "a10_catalog_partition_discovery",
        "a12_lake_roundtrip", "a14_lake_compaction",
        "o05_scd2_history", "o06_cdc_net_changes",
        "e02_stream_sliding_window", "e07_stream_static_join",
        "e13_stream_reshard_drain",
        "g03d_knn_classify", "g04c_rolling_fingerprint",
        "g04d_tfidf_top_terms", "g08_label_centroids",
        "g11_sequence_packing", "g13_decontaminate",
        "g15_repetition_filter", "g18_token_topk", "g22_corpus_stats",
        "g23_leakage_safe_split", "g24_temperature_mixture",
        "g25_span_dedup", "g26_unigram_logprob",
        "g51_per_source_quality_gate", "g52_ivf_delete",
        "g53_quality_classifier", "g54_mixture_oversample",
        "g57_hybrid_rrf", "g58_source_drift",
        "e03_stream_session_window",
    }
    assert rotated_out & set(window) == set()
    # with this window, every registered query has had a driver slot
    ever_windowed = rotated_in | set(window)  # plus rounds 1-9 history
    assert rotated_out <= set(registry.REGISTRY)
    assert ever_windowed <= set(registry.REGISTRY)


def test_registry_counts_pinned():
    """Pin the registry and window sizes so a stale comment / silent drop
    of a registered query becomes a hard test failure (VERDICT r4 #3)."""
    from aws_kinesis_spark import registry

    registry._ensure_loaded()
    assert len(registry.DRIVER_WINDOW) == 50
    assert len(registry.REGISTRY) == 182, len(registry.REGISTRY)
    assert len(set(registry.DRIVER_WINDOW)) == 50  # no duplicate slots
    # round 7 closed the rows-only dead end: every registered query now
    # carries a DuckDB twin (the sketch/ANN paths via deterministic
    # self-check oracle forms — exact anchors hash-matched, accuracy
    # claims asserted in-plan)
    rows_only = {n for n, e in registry.REGISTRY.items() if e.oracle is None}
    assert rows_only == set(), rows_only


def test_sql_cli_runs_and_prints_json(capsys):
    """§3.3 interactive surface: the CLI registers views, runs SQL, prints
    one JSON line per row."""
    import json

    from aws_kinesis_spark.__main__ import main

    rc = main(
        [
            "SELECT r_regionkey AS k, r_name AS name FROM region ORDER BY 1",
            "--sf",
            "/root/testdata/sf0.001",
        ]
    )
    assert rc == 0
    lines = [json.loads(x) for x in capsys.readouterr().out.strip().splitlines()]
    assert len(lines) == 5
    assert lines[0]["k"] == 0 and "name" in lines[0]
