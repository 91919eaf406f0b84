"""Physical-plan quality tests (SCALE.md): the scale posture is part of the
contract, not an accident — these assert the plan shapes that make the
operators viable at 100 TB, so a refactor that silently de-optimizes a scan
or join fails CI.
"""

from __future__ import annotations

import os
import tempfile

from pyspark.sql import functions as F

from aws_kinesis_spark.registry import queries
from aws_kinesis_spark.tables import load

SF = "/root/testdata/sf0.01"


def _plan(df, mode: str = "formatted") -> str:
    jmode = df.sparkSession._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(mode)
    return df._jdf.queryExecution().explainString(jmode)


def test_filter_pushdown_reaches_scan(spark):
    """D2: the predicate stack must land in PushedFilters, not a post-scan
    Filter-only plan; the scan must read only referenced columns."""
    plan = _plan(queries()["d02_filter_predicate"](spark, SF))
    assert "PushedFilters: [IsNotNull(l_shipdate)" in plan
    assert "l_comment" not in plan  # column pruning: untouched columns absent


def test_quality_filter_pushdown(spark):
    """G6: the quality predicate stack (range + IN) is pushdown-eligible."""
    plan = _plan(queries()["g06_quality_filter"](spark, SF))
    assert "GreaterThanOrEqual(n_chars,100)" in plan
    assert "In(lang, [de,en,es])" in plan


def test_star_join_broadcasts_dimensions(spark):
    """D5: every dimension side of the star join must broadcast — a
    SortMergeJoin here means the fact table shuffles, which is the wrong
    plan at any scale."""
    plan = _plan(queries()["d05_join_star"](spark, SF))
    assert plan.count("BroadcastHashJoin") >= 3
    assert "SortMergeJoin" not in plan


def test_partition_pruning_on_lake_scan(spark, tmp_path):
    """D3/A10: a filter on a hive partition column must become a
    PartitionFilter (metadata prune), not a data filter."""
    ev = load(spark, SF, "events")
    lake = os.path.join(str(tmp_path), "lake")
    (
        ev.withColumn("day", F.dayofmonth("ts"))
        .repartition("day")
        .write.partitionBy("day")
        .parquet(lake)
    )
    df = spark.read.parquet(lake).filter(F.col("day") == 7).select("event_id")
    plan = _plan(df)
    assert "PartitionFilters: [isnotnull(day" in plan
    # the partition predicate must be metadata-only: no data-side pushed filter
    assert "PushedFilters: []" in plan or "PushedFilters" not in plan


def test_aggregation_is_partial(spark):
    """D8: aggregations must run partial (map-side) before the exchange —
    the shuffle carries O(groups), not O(rows)."""
    plan = _plan(queries()["d08_agg_pricing_summary"](spark, SF), "simple")
    first_agg = plan.index("HashAggregate")
    exchange = plan.index("Exchange")
    # plan prints top-down: final agg, exchange, partial agg, scan
    assert "HashAggregate" in plan[exchange:], "no partial aggregate below the exchange"
    assert first_agg < exchange


def test_hot_paths_have_no_python_udf(spark):
    """SCALE.md §0: relational/pipeline/text queries stay JVM-side — a
    BatchEvalPython or ArrowEvalPython node in these plans means someone
    put Python on the hot path."""
    for name in [
        "c01_envelope_roundtrip",
        "d05_join_star",
        "d08_agg_pricing_summary",
        "g04_text_stats",
        "g01_dedup_exact",
    ]:
        plan = _plan(queries()[name](spark, SF), "simple")
        assert "EvalPython" not in plan, f"{name} crossed into Python"


def test_knn_broadcasts_queries_not_corpus(spark):
    """G3: the query side must broadcast; the corpus must not."""
    plan = _plan(queries()["g03_knn_bruteforce"](spark, SF), "simple")
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan


def test_bucketed_join_has_no_shuffle(spark, tmp_path):
    """SCALE.md §0: same-bucketed tables join without an exchange — with
    broadcast disabled the plan must be a SortMergeJoin whose children read
    the buckets directly (zero Exchange nodes)."""
    import os
    import uuid

    from aws_kinesis_spark.operators.partitioning import bucketed_join, write_bucketed

    sfx = uuid.uuid4().hex[:8]
    o = load(spark, SF, "orders").select("o_orderkey", "o_custkey")
    c = load(spark, SF, "customer").select(
        F.col("c_custkey").alias("o_custkey"), "c_name"
    )
    write_bucketed(o, f"t_ord_{sfx}", os.path.join(str(tmp_path), "o"), "o_custkey")
    write_bucketed(c, f"t_cus_{sfx}", os.path.join(str(tmp_path), "c"), "o_custkey")
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        plan = _plan(bucketed_join(spark, f"t_ord_{sfx}", f"t_cus_{sfx}", "o_custkey"), "simple")
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
    # SMJ or SHJ both read the buckets directly; the contract is ZERO
    # exchanges (the session now prefers shuffled-hash when it fits,
    # round-14 optimization — either strategy satisfies bucketing)
    assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan
    assert "Exchange" not in plan, "bucketed join must not shuffle"
    assert "SelectedBucketsCount" in plan or "Bucketed: true" in plan


def test_approx_percentile_check_holds_on_tiny_groups(spark, tmp_path):
    """Round-12 review: d36's within_bounds claim used the tight
    interpolated band unconditionally, but percentile_approx returns a
    data ELEMENT — for a 2-row group both candidate elements can sit
    outside the interpolated 0.498..0.502 band, flipping the oracle's
    hard-coded `true`. Tiny groups now take the membership bound the
    sketch actually guarantees."""
    from aws_kinesis_spark.plans.relational import d36_approx_percentile_check

    # craft a lineitem with one 2-row group of extreme spread — the exact
    # shape that broke the interpolated band — plus the NULL-price shapes
    # of the round-13 review: a big group that is MOSTLY NULL (the rank
    # guarantee scales with non-NULL values, so it must take the loose
    # bound: 5002 rows but only 2 prices) and an all-NULL group (every
    # aggregate NULL -> between() was NULL where the oracle pins true).
    li = spark.createDataFrame(
        [("Z", 1.0), ("Z", 100.0)]
        + [("N", float(i)) for i in range(100)]
        + [("M", 1.0), ("M", 100.0)]
        + [("M", None)] * 5000
        + [("U", None)] * 10,
        "l_returnflag string, l_extendedprice double",
    )
    sf = str(tmp_path / "sf")
    li.coalesce(1).write.mode("overwrite").parquet(os.path.join(sf, "lineitem.parquet"))
    rows = {r["l_returnflag"]: r for r in d36_approx_percentile_check(spark, sf).collect()}
    assert rows["Z"]["n"] == 2 and rows["Z"]["within_bounds"] is True
    assert rows["N"]["within_bounds"] is True
    assert rows["M"]["n"] == 5002 and rows["M"]["within_bounds"] is True
    assert rows["U"]["within_bounds"] is True


def test_median_udaf_null_semantics(spark, tmp_path):
    """Round-13 review: the f03 median UDAF's NULL handling had no
    regression test (the fixture carries no NULL prices, so reverting the
    dropna fix stayed green). A NULL-containing group must take the median
    of its real values; an all-NULL group must yield NULL like SQL
    median()."""
    from aws_kinesis_spark.plans.udf_queries import f03_grouped_agg_udaf

    li = spark.createDataFrame(
        [("A", "x", 10.0), ("A", "x", None), ("A", "x", 20.0)]
        + [("B", "y", None), ("B", "y", None)],
        "l_returnflag string, l_linestatus string, l_extendedprice double",
    )
    sf = str(tmp_path / "sf")
    li.coalesce(1).write.mode("overwrite").parquet(os.path.join(sf, "lineitem.parquet"))
    rows = {r["l_returnflag"]: r for r in f03_grouped_agg_udaf(spark, sf).collect()}
    assert rows["A"]["median_price"] == 15.0 and rows["A"]["n_items"] == 3
    assert rows["B"]["median_price"] is None


def test_salted_join_default_salt_is_deterministic_and_spreads(spark):
    """Round-12 review (two passes): a key-only fact makes the default
    all-columns content salt equal hash(key) — zero mitigation — and MUST
    be rejected loudly; but the salt must also stay DETERMINISTIC (no
    physical row ids: a shuffle-map retry re-evaluating a nondeterministic
    join key routes recomputed rows to different reducers than the first
    attempt's fetched blocks — rows joined twice or zero times). A fact
    with any row-unique column spreads its hot key via the content hash."""
    import pytest as _pytest

    from aws_kinesis_spark.operators.partitioning import salted_join

    dim = spark.createDataFrame([(7, "hot")], "k int, name string")
    # key-only hot fact: the provable degenerate shape is rejected
    key_only = spark.range(2000).select(F.lit(7).alias("k"))
    with _pytest.raises(ValueError, match="no non-key column"):
        salted_join(key_only, dim, "k", salts=8)
    # a row-unique column restores spread — and the salt is pure content
    # hash, so it is identical on recomputation
    fact = spark.range(2000).select(F.lit(7).alias("k"), F.col("id").alias("rid"))
    out = salted_join(fact, dim, "k", salts=8)
    assert out.count() == 2000
    salted = fact.withColumn(
        "__salt", F.pmod(F.xxhash64(F.col("k"), F.col("rid")), F.lit(8))
    )
    n_salts = salted.select("__salt").distinct().count()
    assert n_salts == 8, f"hot key spread across only {n_salts}/8 salts"


def test_keyed_partition_order_invariant(spark):
    """B1 (README.md:53): after keyed_ordered_partitions, every key lives in
    exactly one partition and its records are sequence-ordered within it."""
    from aws_kinesis_spark.operators.partitioning import keyed_ordered_partitions
    from aws_kinesis_spark.sources.envelope import synthesize_envelope

    o = load(spark, "/root/testdata/sf0.001", "orders")
    log = synthesize_envelope(o, epoch=0).unionByName(synthesize_envelope(o, epoch=1))
    laid = keyed_ordered_partitions(log, n_partitions=8)

    def check(it):
        import pandas as pd

        # one partition may arrive as several Arrow chunks — reassemble so
        # the order check sees the partition's full row sequence
        chunks = list(it)
        if not chunks:
            return
        pdf = pd.concat(chunks)
        ordered = (
            pdf.groupby("partition_key")["sequence_number"]
            .apply(lambda s: bool(s.is_monotonic_increasing))
            .all()
        )
        yield pd.DataFrame(
            {
                "key": pdf["partition_key"].unique(),
                "ordered": bool(ordered),
            }
        )

    per_part = laid.select("partition_key", "sequence_number").mapInPandas(
        check, "key STRING, ordered BOOLEAN"
    )
    rows = per_part.collect()
    assert all(r.ordered for r in rows)
    # each key appears in exactly one partition => no key duplicated across
    # the per-partition outputs
    keys = [r.key for r in rows]
    assert len(keys) == len(set(keys))


def test_correlated_subquery_decorrelates(spark):
    """D23: Catalyst must rewrite the correlated scalar subquery into an
    aggregate + join (one pass over the inner table), never a per-row
    re-execution; with a small inner side the join should broadcast."""
    plan = _plan(queries()["d23_correlated_scalar_subquery"](spark, SF))
    assert "HashAggregate" in plan
    assert "BroadcastHashJoin" in plan


def test_exists_subqueries_become_semi_anti_joins(spark):
    """D24: EXISTS / NOT EXISTS must compile to LeftSemi / LeftAnti joins —
    the same physical shape as the staging-upsert halves (d06)."""
    plan = _plan(queries()["d24_exists_subquery"](spark, SF))
    assert "LeftSemi" in plan
    assert "LeftAnti" in plan


def test_label_centroids_single_aggregate_pass(spark):
    """G8: the centroid computation must be one partial+final hash aggregate
    over the posexploded vectors — no window, no sort, no collect."""
    plan = _plan(queries()["g08_label_centroids"](spark, SF))
    assert "partial_avg" in plan
    # exactly one shuffle — the (label, pos) exchange between the partial
    # and final aggregates ("Exchange (N)" appears once in the plan tree;
    # the detail section repeats it as "(N) Exchange")
    assert plan.count("Exchange (") == 1


def test_minhash_signatures_are_shuffle_free(spark):
    """MinHash signatures must be a pure projection (array_min over
    transform), not an explode+groupBy: at 100 TB the latter shuffles
    billions of shingle rows through a 64-aggregate hash agg."""
    from aws_kinesis_spark.operators.dedup import minhash_signatures

    docs = load(spark, SF, "documents")
    plan = _plan(minhash_signatures(docs), "simple")
    assert "Exchange" not in plan, "signature stage must not shuffle"
    assert "Generate" not in plan, "signature stage must not explode shingles"


def test_simhash_signatures_are_shuffle_free(spark):
    """SimHash signatures must be a pure projection (aggregate/zip_with over
    the in-row shingle-hash array), not an explode+groupBy — same 100 TB
    discipline as the minhash signature stage."""
    from aws_kinesis_spark.operators.dedup import simhash_signatures

    docs = load(spark, SF, "documents")
    plan = _plan(simhash_signatures(docs), "simple")
    assert "Exchange" not in plan, "signature stage must not shuffle"
    assert "Generate" not in plan, "signature stage must not explode shingles"


def test_embedding_neardup_has_no_cross_join(spark):
    """Exact all-pairs near-dup must run as the blocked matmul — any
    BroadcastNestedLoopJoin/CartesianProduct regression is the O(n^2)-rows
    shape that took 85x longer at sf0.1."""
    plan = _plan(queries()["g05_embedding_neardup"](spark, SF), "simple")
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "FlatMapGroupsInPandas" in plan  # the block-pair matmul stage


def test_pivot_empty_combo_yields_zero_not_null(spark):
    """d14d regression: a (year, status) combo with no rows must produce
    count 0, matching SQL count(*) FILTER — Spark pivot alone yields NULL
    (latent mismatch masked by the full fixture covering all combos)."""
    from pyspark.sql import functions as F

    o = spark.createDataFrame(
        [(1, "1995-01-01", "O", 10.0), (2, "1995-02-01", "F", 20.0)],
        "o_orderkey LONG, o_orderdate STRING, o_orderstatus STRING, o_totalprice DOUBLE",
    ).withColumn("o_orderdate", F.to_date("o_orderdate"))
    o.createOrReplaceTempView("__pivot_fixture")
    p = (
        o.withColumn("year", F.year("o_orderdate"))
        .groupBy("year")
        .pivot("o_orderstatus", ["O", "F", "P"])
        .agg(F.count(F.lit(1)).alias("n"), F.round(F.sum("o_totalprice"), 4).alias("total"))
        .select(
            "year",
            F.coalesce("O_n", F.lit(0)).alias("n_open"),
            F.coalesce("F_n", F.lit(0)).alias("n_filled"),
            F.coalesce("P_n", F.lit(0)).alias("n_pending"),
        )
    )
    row = p.collect()[0]
    assert row["n_pending"] == 0  # no 'P' rows: zero, not NULL


def test_decontaminate_broadcasts_eval_grams(spark):
    """G13: the benchmark gram set must be the broadcast side — at 100 TB
    the train corpus can never shuffle for this join — and the per-doc
    re-aggregation must partial-aggregate map-side."""
    plan = _plan(queries()["g13_decontaminate"](spark, SF), "formatted")
    assert "BroadcastHashJoin" in plan or "BroadcastExchange" in plan
    assert "SortMergeJoin" not in plan
    assert "partial_count" in plan or "HashAggregate" in plan


def test_chunking_is_map_only(spark):
    """G21: chunking must stay inside the scan stage — no Exchange anywhere
    in the plan (at 100 TB any shuffle here would move the whole corpus),
    and no Python evaluation (pure JVM split/sequence/explode/slice)."""
    plan = _plan(queries()["g21_doc_chunking"](spark, SF), "formatted")
    assert "Exchange" not in plan
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan


def test_bloom_probe_prunes_before_join(spark):
    """B4b: the bloom probe must reach the batch BEFORE any join — the
    definite-new branch's only join input is the already-filtered candidate
    fraction. Assert the anti-join exists and the probe filter feeds it."""
    from aws_kinesis_spark.operators.bloom import first_seen
    from aws_kinesis_spark.tables import load

    ev = load(spark, SF, "events")
    cutoff = F.lit("2024-01-03").cast("timestamp")
    out = first_seen(
        ev.filter(F.col("ts") >= cutoff),
        ev.filter(F.col("ts") < cutoff),
        ["user_id", "event_type"],
    )
    plan = _plan(out, "formatted")
    assert "LeftAnti" in plan  # exact verify survives
    assert "pythonUDF" in plan or "ArrowEvalPython" in plan  # the probe kernel


def test_aqe_splits_skewed_join(spark):
    """Scale evidence for the skew posture (SCALE.md §0): a join where one
    key holds ~half the rows must be handled by AQE's skew-join splitting
    (OptimizeSkewedJoin), not by a straggler task. Asserted on the final
    adaptive plan: the sort-merge join is marked skew=true after execution."""
    # payload must be incompressible (xxhash64) AND survive pruning (the
    # final agg takes max(payload)): a pruned or constant-valued skew
    # partition lz4-compresses to nothing and AQE sees no skew in the map
    # output stats
    left = spark.range(0, 400_000).select(
        F.when(F.col("id") % 2 == 0, F.lit(7)).otherwise(F.col("id")).alias("k"),
        F.xxhash64("id").alias("payload"),
    )
    # unique right keys: the join fans nothing out, the LEFT partition
    # holding key 7 (~200k rows) is the straggler AQE must split
    right = spark.range(0, 50_000).select(
        F.col("id").alias("k"), (F.col("id") * 2).alias("r_payload")
    )
    prev = {
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": spark.conf.get(
            "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes"
        ),
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": spark.conf.get(
            "spark.sql.adaptive.advisoryPartitionSizeInBytes"
        ),
        "spark.sql.autoBroadcastJoinThreshold": spark.conf.get(
            "spark.sql.autoBroadcastJoinThreshold"
        ),
        "spark.sql.adaptive.autoBroadcastJoinThreshold": spark.conf.get(
            "spark.sql.adaptive.autoBroadcastJoinThreshold", "-1"
        ),
    }
    try:
        # shrink the thresholds so the fixture-size skew triggers the same
        # OptimizeSkewedJoin rule a TB-scale hot key would
        spark.conf.set(
            "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "64KB"
        )
        spark.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "64KB")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
        # collect() on THIS Dataset finalizes ITS adaptive plan (a write
        # sink would run a separate QueryExecution whose final plan we
        # couldn't inspect); the global agg keeps the driver result tiny
        # and imposes no output partitioning, so the skew split is legal
        out = (
            left.join(right, "k")
            .groupBy()
            .agg(F.count("*").alias("n"), F.max("payload").alias("mx"))
        )
        assert out.collect()[0]["n"] == 225_000
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert "skew=true" in plan, plan[:2000]
    finally:
        for k, v in prev.items():
            spark.conf.set(k, v)


def test_shj_preference_respects_size_bounds(spark):
    """Scale-safety of the session's preferSortMergeJoin=false (VERDICT
    r14 #3 / ADVICE): the STATIC planner may only pick shuffled-hash when
    the build side's size ESTIMATE is under autoBroadcastJoinThreshold x
    shuffle.partitions (canBuildLocalHashMap) AND 3x smaller than the
    other side — i.e. the preference is bounded to ~10 MB of estimated
    build rows per partition on average, not an unconditional SHJ. This
    pins the fallback: the same join must plan SortMergeJoin once the
    build side's estimate exceeds the bound. The residual risk at scale
    is a badly UNDERESTIMATED build side (post-filter stats) — that is an
    estimate-quality problem a deployment answers by setting
    maxShuffledHashJoinLocalMapThreshold / preferSortMergeJoin on its own
    session (SCALE.md §0), while a
    skewed build PARTITION is split by AQE's OptimizeSkewedJoin, which
    handles ShuffledHashJoinExec (test_aqe_splits_skewed_join runs under
    this session's SHJ preference and still sees skew=true)."""
    big = spark.range(0, 2_000_000).select(
        F.col("id").alias("k"), F.xxhash64("id").alias("a")
    )
    small = spark.range(0, 200_000).select(
        F.col("id").alias("k"), (F.col("id") * 2).alias("b")
    )
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    prev_parts = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        # positive control: build estimate (~4 MB of range rows) sits
        # above the broadcast threshold (no BHJ) but under threshold x
        # partitions (the SHJ build cap) — the preference may hash.
        # NOTE the cap derives from the SAME autoBroadcastJoinThreshold:
        # setting it to -1 disables static SHJ too, which is itself part
        # of the safety story (no broadcast budget => no local-hash-map
        # budget either).
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "1MB")
        spark.conf.set("spark.sql.shuffle.partitions", "32")
        plan_ok = _plan(big.join(small, "k"), "simple")
        assert "ShuffledHashJoin" in plan_ok, plan_ok[:1500]
        # negative control: shrink the bound so the SAME build side's
        # estimate exceeds threshold x partitions — the planner must fall
        # back to sort-merge, proving the preference cannot force an
        # unbounded build-side hash map from the static path
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "16KB")
        spark.conf.set("spark.sql.shuffle.partitions", "4")
        plan_fb = _plan(big.join(small, "k"), "simple")
        assert "SortMergeJoin" in plan_fb, plan_fb[:1500]
        assert "ShuffledHashJoin" not in plan_fb
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        spark.conf.set("spark.sql.shuffle.partitions", prev_parts)


def test_interval_overlap_join_is_equi_join(spark):
    """d29: the no-equi-key overlap join must run as a hash join on the
    hour-grid bin — a BroadcastNestedLoopJoin/CartesianProduct regression
    is the O(n*m) shape the chunking exists to prevent."""
    plan = _plan(queries()["d29_interval_overlap_join"](spark, SF), "simple")
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "Join" in plan  # the bin equi-join survives optimization


def test_recursive_hierarchy_uses_union_loop(spark):
    """d30: the recursion must be Catalyst's native UnionLoop (one plan,
    bounded rounds), not a driver-side iteration."""
    plan = _plan(queries()["d30_recursive_hierarchy"](spark, SF), "simple")
    assert "UnionLoop" in plan


def test_collect_sites_whitelisted():
    """SCALE.md §0 grep-able invariant, enforced: every `.collect()` /
    `.toPandas()` / `.toArrow()` in non-test source must be one of the
    whitelisted bounded sites. A new site needs a scale argument, not a
    silent merge."""
    import re
    from pathlib import Path

    pkg = Path(__file__).resolve().parent.parent / "aws_kinesis_spark"
    whitelist = {
        ("plans/pipeline_queries.py", "checkpoint"),  # b07: one MAX scalar
        ("operators/similarity.py", "train_rows"),    # IVF bounded sample
        ("operators/similarity.py", "max_reference"), # bounded eval-set probe
        ("operators/similarity.py", "n_clusters"),    # semdedup centroid seed
        ("operators/dedup.py", "toPandas"),           # union-find <= dial edges
        ("operators/bloom.py", "merged"),             # <= merge_fan_in bitmaps
        ("__main__.py", "limit"),                     # CLI display limit
        ("sources/lake.py", "zone_stats"),            # per-file stats rows: the
                                                      # O(files) metadata a
                                                      # planner holds
        ("sources/lake.py", "prior_names"),           # same: stats __file list
                                                      # for incremental update to plan
        ("streaming/pipeline.py", "bucket_counts"),   # <= n_buckets rows (g35
                                                      # partition-pruning keys
                                                      # + batch size, trickle
                                                      # path only)
        ("streaming/pipeline.py", "cand_buckets"),    # <= n_buckets ints
        ("operators/ivf_index.py", "probed"),         # <= nlist probed-cell
                                                      # ids: partition-pruning
                                                      # keys, g35 pattern
        ("operators/ivf_index.py", "max_queries"),    # <= max_queries query
                                                      # vectors (explicit dial,
                                                      # raises above it): the
                                                      # driver-side probe path
        ("operators/embedding.py", "train_rows"),     # PQ codebook training
                                                      # sample (bounded, the
                                                      # train_ivf_centroids
                                                      # discipline)
        ("operators/embedding.py", "max_queries"),    # PQ ADC query frame
                                                      # (explicit dial, raises
                                                      # above it — the g48
                                                      # convention)
        # the byte-gated Arrow collects: input bytes known and at most
        # store.DRIVER_MAX_BYTES
        ("store.py", "write_hive_arrow"),             # write_partitioned
        ("streaming/pipeline.py", "docs_with_band_hashes"),  # dedup signing
        ("streaming/pipeline.py", "_lake_batch_for_driver"),  # lake flush
    }
    hits = []
    for py in pkg.rglob("*.py"):
        rel = py.relative_to(pkg).as_posix()
        for i, line in enumerate(py.read_text().splitlines(), 1):
            code = line.split("#", 1)[0]
            if re.search(r"\.(collect|toPandas|toArrow)\(\)", code):
                ok = any(rel == f and tag in code for f, tag in whitelist)
                if not ok:
                    hits.append(f"{rel}:{i}: {line.strip()}")
    assert not hits, "non-whitelisted driver collect sites:\n" + "\n".join(hits)


def test_embedding_decontaminate_streams_without_shuffle(spark):
    """g27: the corpus must STREAM through the broadcast-reference kernel —
    zero Exchange in the plan. A join/shuffle here means the huge side is
    being moved or broadcast, which dies at 100 TB."""
    plan = _plan(queries()["g27_embedding_decontaminate"](spark, SF), "simple")
    assert "Exchange" not in plan, plan[:2000]
    assert "MapInPandas" in plan


def test_deletion_vector_read_is_anti_join_not_cartesian(spark, tmp_path):
    """A19: the merge-on-read scan must be one LEFT ANTI join with its
    strategy left to the optimizer — never a nested-loop/cartesian, and
    never a forced driver-side broadcast in the code (AQE may still pick
    broadcast from runtime stats, which is the desired small-vector plan)."""
    from aws_kinesis_spark.sources.envelope import synthesize_envelope
    from aws_kinesis_spark.sources.lake import (
        read_with_deletes,
        run_lake_batch,
        write_delete_vector,
    )

    o = load(spark, SF, "orders").limit(2000)
    lake = os.path.join(str(tmp_path), "lake")
    run_lake_batch(synthesize_envelope(o), lake, batch_id=0, raw_backup=False)
    write_delete_vector(
        o.filter(F.col("o_orderkey") % 5 == 0).select(F.col("o_orderkey").alias("id")),
        lake, delete_id=1, key_col="id",
    )
    plan = _plan(read_with_deletes(spark, lake, key_col="id"))
    assert "LeftAnti" in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_bm25_broadcasts_stats_and_df_only(spark):
    """G30: the corpus-stats scalar and the |Q|-row df table broadcast;
    the postings themselves must NOT be on a broadcast side (the corpus
    is the big side at scale)."""
    plan = _plan(queries()["g30_bm25_score"](spark, SF))
    assert plan.count("BroadcastHashJoin") + plan.count("BroadcastNestedLoopJoin") >= 2
    assert "CartesianProduct" not in plan


def test_bigram_pairs_form_in_row(spark):
    """G31: bigrams come from an in-row array zip — the only Exchanges in
    the plan are the two model aggregates, the scoring joins, and the
    final per-doc aggregate; no explode-then-self-join on position (which
    would shuffle the token stream twice to form pairs)."""
    plan = _plan(queries()["g31_bigram_logprob"](spark, SF))
    assert "slice(" in plan  # the in-row zip survives into the physical plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_setsim_prefix_join_shuffles_prefix_only(spark):
    """G32: the candidate self-join must key on shingle hashes from the
    PREFIX selection (a row_number window feeds the join), and the full
    text column must not appear in the candidate join stage — strings
    only re-enter at the final verify joins. Locked on the
    materialize=False form: the default eagerly materializes the
    pair-sized output (and releases its prefix cache), so the returned
    frame's plan is a checkpoint scan — the lazy form is the same plan
    the eager path executes."""
    from aws_kinesis_spark.operators.dedup import setsim_prefix_join

    df = setsim_prefix_join(
        load(spark, SF, "documents"), threshold=0.7, materialize=False
    )
    plan = _plan(df)
    assert "row_number" in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_setsim_prefix_join_materialize_caches_then_checkpoints(spark, monkeypatch):
    """G32, the shipped materialize=True path: the prefix table is CACHED
    (one cache feeds both self-join sides), the verified pairs are eagerly
    local-checkpointed, and the cache is released before returning — so
    the returned plan is a scan of the checkpoint (lineage cut, no cached
    relation left behind) and the answer equals the lazy form's."""
    from aws_kinesis_spark.operators.dedup import setsim_prefix_join

    docs = load(spark, SF, "documents")
    frame = type(docs)  # the session's concrete DataFrame class
    cached, checkpoints = [], []
    real_cache, real_checkpoint = frame.cache, frame.localCheckpoint

    def cache(self):
        cached.append(real_cache(self))
        return cached[-1]

    def local_checkpoint(self, eager=True, *args, **kwargs):
        checkpoints.append(eager)
        return real_checkpoint(self, eager, *args, **kwargs)

    monkeypatch.setattr(frame, "cache", cache)
    monkeypatch.setattr(frame, "localCheckpoint", local_checkpoint)
    df = setsim_prefix_join(docs, threshold=0.7)
    monkeypatch.undo()
    assert len(cached) == 1, f"{len(cached)} cache calls"
    assert not cached[0].storageLevel.useMemory, "prefix cache outlived the call"
    assert checkpoints[-1] is True, checkpoints
    plan = _plan(df, "simple")
    assert "ExistingRDD" in plan, plan
    assert "InMemory" not in plan and "row_number" not in plan, plan
    lazy = setsim_prefix_join(docs, threshold=0.7, materialize=False)
    assert sorted(df.collect()) == sorted(lazy.collect())


def test_histogram_bounds_fold_in_as_broadcast(spark):
    """D33: the min/max bounds must reach the bucket expression through a
    broadcast (no driver round-trip, no second scan pass materialized by
    the driver), and the aggregate must carry map-side partials."""
    plan = _plan(queries()["d33_histogram"](spark, SF))
    assert "BroadcastExchange" in plan or "BroadcastNestedLoopJoin" in plan
    assert plan.count("HashAggregate") >= 2  # partial + final


def test_datacard_is_single_aggregate_pass(spark):
    """G34: one scan, one aggregate — no join, no self-union; the
    distinct-text state keys on md5 hashes (present in the plan), not
    raw text."""
    plan = _plan(queries()["g34_source_datacard"](spark, SF))
    assert "Join" not in plan
    assert "md5" in plan


def test_token_budget_rates_broadcast_back(spark):
    """G36: the |sources|-row rate table joins back by broadcast; the
    document stream itself never shuffles for the keep decision."""
    plan = _plan(queries()["g36_token_budget_sample"](spark, SF))
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_containment_join_probes_prefix_only(spark):
    """G37: the candidate stage must key on shingle hashes from the PREFIX
    selection (a row_number window over ascending document frequency feeds
    the probe side of the join, and the PPJoin positional bound rides the
    join filter) — never a cartesian/NL join, and never the full
    probe-side inversion the pre-r9 form used. The candidate shape is
    inspected un-checkpointed (the production path's lazy checkpoint
    truncates the visible lineage); the registered query is then checked
    for the join-strategy bans."""
    from aws_kinesis_spark.operators.dedup import (
        _containment_candidates,
        shingles,
    )

    docs = spark.createDataFrame(
        [(0, "a b c d"), (1, "b c d e")], "doc_id bigint, text string"
    )
    sets = docs.select("doc_id", shingles(F.col("text"), 3).alias("__sh"))
    cand_plan = _plan(
        _containment_candidates(sets, "doc_id", 0.5, True, checkpoint=False)
    )
    assert "row_number" in cand_plan
    plan = _plan(queries()["g37_containment_dedup"](spark, SF))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_rename_sites_enumerated_against_s3_translation_table():
    """SCALE.md §7 invariant, enforced: every os.replace / os.rename in
    non-test source is one of the commit primitives whose
    rename→conditional-PUT translation the table documents, and every
    temp file comes from the one publish primitive. A new rename site is
    an object-store commit-protocol review (and a SCALE.md §7 row), not a
    silent merge."""
    import ast
    from pathlib import Path

    pkg = Path(__file__).resolve().parent.parent / "aws_kinesis_spark"
    # (module, enclosing function) -> SCALE.md §7 row that covers it
    documented = {
        ("store.py", "publish_file"),                # small-object PUT
        ("store.py", "swap_in"),                     # dir install
        ("store.py", "recover_swap"),                # swap-crash undo
        ("sources/lake.py", "publish_staged_batch"),  # WAP publish flip
    }
    found = set()
    mkstemp_sites = set()

    def walk(node, fn, rel):
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
            fn = node.name
        for child in ast.iter_child_nodes(node):
            if (
                isinstance(child, ast.Call)
                and isinstance(child.func, ast.Attribute)
                and isinstance(child.func.value, ast.Name)
            ):
                mod, attr = child.func.value.id, child.func.attr
                if mod == "os" and attr in ("replace", "rename"):
                    found.add((rel, fn))
                if mod == "tempfile" and attr == "mkstemp":
                    mkstemp_sites.add(rel)
            walk(child, fn, rel)

    for py in pkg.rglob("*.py"):
        rel = py.relative_to(pkg).as_posix()
        walk(ast.parse(py.read_text()), None, rel)
    undocumented = found - documented
    stale = documented - found
    assert not undocumented, f"rename sites missing a SCALE.md §7 row: {undocumented}"
    assert not stale, f"SCALE.md §7 rows with no surviving rename site: {stale}"
    assert mkstemp_sites == {"store.py"}, mkstemp_sites


def test_store_layering_has_no_cross_module_private_imports():
    """The store layout lives in aws_kinesis_spark/store.py: the store and
    the modules that use it (pipeline, rollup, ivf_index, lake) reach each
    other's code only through public names — no ``_``-prefixed name
    imported from, or read off, another aws_kinesis_spark module — and
    store.py imports none of those four modules."""
    import ast
    from pathlib import Path

    pkg = Path(__file__).resolve().parent.parent / "aws_kinesis_spark"
    users = {
        "streaming/pipeline.py": "aws_kinesis_spark.streaming.pipeline",
        "streaming/rollup.py": "aws_kinesis_spark.streaming.rollup",
        "operators/ivf_index.py": "aws_kinesis_spark.operators.ivf_index",
        "sources/lake.py": "aws_kinesis_spark.sources.lake",
    }
    private = []
    for rel in ["store.py", *users]:
        tree = ast.parse((pkg / rel).read_text())
        imported = set()  # package modules and names this file imports
        aliases = set()  # local names bound by those imports
        for node in ast.walk(tree):
            if isinstance(node, ast.ImportFrom) and (node.module or "").startswith(
                "aws_kinesis_spark"
            ):
                imported.add(node.module)
                for a in node.names:
                    imported.add(f"{node.module}.{a.name}")
                    aliases.add(a.asname or a.name)
                    if a.name.startswith("_"):
                        private.append((rel, f"{node.module}.{a.name}"))
            elif isinstance(node, ast.Import):
                for a in node.names:
                    if a.name.startswith("aws_kinesis_spark"):
                        imported.add(a.name)
                        aliases.add(a.asname or a.name.split(".")[0])
        private += [
            (rel, f"{n.value.id}.{n.attr}")
            for n in ast.walk(tree)
            if isinstance(n, ast.Attribute)
            and isinstance(n.value, ast.Name)
            and n.value.id in aliases
            and n.attr.startswith("_")
        ]
        if rel == "store.py":
            assert not imported & set(users.values()), imported
    assert not private, f"cross-module private imports: {private}"


def test_no_session_conf_writes_outside_session_module():
    """Session conf is applied once, at session entry, by session.py; no
    other library module writes or unsets session conf, so library code can
    share a SparkSession with other queries and threads."""
    from pathlib import Path

    pkg = Path(__file__).resolve().parent.parent / "aws_kinesis_spark"
    writers = [
        str(f.relative_to(pkg))
        for f in sorted(pkg.rglob("*.py"))
        if f != pkg / "session.py"
        and any(w in f.read_text() for w in ("spark.conf.set", "conf.unset"))
    ]
    assert writers == [], writers


def test_vocab_coverage_broadcasts_vocab_not_corpus(spark):
    """G45: the V-row vocabulary must broadcast back onto the token stream
    (BroadcastHashJoin), and the top-V cut must be a TakeOrdered, not a
    global Sort+Limit over the frequency table."""
    plan = _plan(queries()["g45_vocab_coverage"](spark, SF))
    assert "BroadcastHashJoin" in plan
    assert "TakeOrderedAndProject" in plan


def test_filtered_knn_prefilters_before_scoring(spark):
    """G41: the metadata filter must reach the corpus BEFORE the distance
    stage — a LeftSemi join on the qualifying ids below the scoring join,
    with the predicate pushed into the documents scan. Post-filtering an
    unfiltered top-k would show the filter ABOVE the ranking window."""
    plan = _plan(queries()["g41_filtered_knn"](spark, SF))
    assert "LeftSemi" in plan
    assert "EqualTo(lang,en)" in plan  # predicate pushed into the scan


def test_funnel_pushes_stage_predicates_and_avoids_windows(spark):
    """D38: each funnel stage reads the events scan with ITS event-type
    predicate pushed down (three pruned scans, not one wide scan feeding a
    per-user window over the whole stream), stage frames join as hash
    joins, and no Window operator appears anywhere — the window form would
    shuffle+sort the full 100 TB event stream."""
    plan = _plan(queries()["d38_funnel_steps"](spark, SF))
    for stage in ("view", "click", "purchase"):
        assert f"EqualTo(event_type,{stage})" in plan
    assert "Window" not in plan
    # stage frames shrink monotonically -> joinable without a fact shuffle
    assert "BroadcastHashJoin" in plan
    # column pruning: the payload/body columns never leave the scan
    assert "payload" not in plan


def test_cohort_retention_partial_aggregates_and_prunes(spark):
    """D39: both inputs (first-week per user, distinct active weeks) must
    partial-aggregate map-side before their user-hash exchange — the
    shuffle carries O(users)/O(user-weeks) partials, never raw events —
    and the events scan must read only (user_id, ts)."""
    plan = _plan(queries()["d39_cohort_retention"](spark, SF))
    assert "partial_min" in plan  # map-side combine on the cohort side
    assert "ReadSchema: struct<ts:timestamp_ntz,user_id:bigint>" in plan
    assert "event_type" not in plan  # untouched columns pruned
    assert "Window" not in plan


def test_bpe_pairs_run_over_vocab_not_tokens(spark):
    """G46: the pair explode must sit ABOVE the word-frequency aggregate
    (vocab-sized input, the fast-BPE factoring) — exactly two aggregate
    pairs (word count, pair sum), the top-50 cut is TakeOrdered never a
    global Sort+Limit, and no join of any kind is involved."""
    plan = _plan(queries()["g46_bpe_pair_stats"](spark, SF))
    assert "TakeOrderedAndProject" in plan
    # 2 aggregates x (partial+final) = 4 nodes; "Name (n)" counts each
    # node once in the formatted tree (the details section prints "(n) Name")
    assert plan.count("HashAggregate (") == 4
    assert "Join" not in plan
    # the pair explode must consume the aggregate output: in the
    # root-first tree the pair Generate prints ABOVE the word-count
    # Exchange; a plan that exploded pairs straight off the token stream
    # would print Generate below every Exchange (next to the scan)
    tree = plan.split("\n\n(")[0]
    assert tree.index("Generate (") < tree.rindex("Exchange (")


def test_length_bucketing_broadcasts_bounds(spark):
    """G47: the 1-row quartile bounds reach the bucket expression through
    a broadcast (never a driver round-trip or a second scan pass), both
    aggregates carry map-side partials, and there is no Window node — a
    quantile-via-row_number plan would sort the corpus globally."""
    plan = _plan(queries()["g47_length_bucketing"](spark, SF))
    assert "BroadcastExchange" in plan or "BroadcastNestedLoopJoin" in plan
    assert plan.count("HashAggregate (") >= 4  # 2 aggregates x (partial+final)
    assert "Window" not in plan and "CartesianProduct" not in plan


def test_grouped_map_keeps_pinned_fanout(spark):
    """F2: the explicit repartition before applyInPandas must survive as a
    user-pinned exchange (REPARTITION_BY_NUM) — if it decays to an
    AQE-coalescible shuffle, the small-byte/high-group-count batch folds
    to one partition and every group's Python dispatch serializes on one
    core (measured 21 s -> 2.7 s at sf0.1)."""
    plan = _plan(queries()["f02_grouped_map"](spark, SF))
    assert "REPARTITION_BY_NUM" in plan
    assert "FlatMapGroupsInPandas" in plan


def test_verify_broadcast_hint_removes_pair_exchanges(spark):
    """Round-10 g35 latency lock: with pairs_are_small the verify stage's
    id semi-join and pair/set joins plan as broadcast joins OUTRIGHT —
    strictly fewer Exchange nodes than the unhinted plan, which is what
    keeps the per-trigger fixed cost down (AQE would only convert after
    materializing those exchanges)."""
    from aws_kinesis_spark.operators.dedup import verify_pairs_against_texts
    from aws_kinesis_spark.tables import load

    texts = load(spark, SF, "documents").select("doc_id", "text")
    pairs = spark.range(3).selectExpr("id AS id_a", "id + 1 AS id_b")
    # the hint must hold even when size stats alone would NOT broadcast
    # (the g35 gate, not Catalyst's estimate, bounds the pairs side)
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        small = verify_pairs_against_texts(pairs, texts, pairs_are_small=True)
        big = verify_pairs_against_texts(pairs, texts, pairs_are_small=False)
        p_small, p_big = _plan(small, "simple"), _plan(big, "simple")
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
    assert "BroadcastHashJoin" in p_small
    assert p_small.count("Exchange") < p_big.count("Exchange"), (
        p_small,
        p_big,
    )


def test_source_cap_ranks_per_bucket_behind_broadcast_cutoffs(spark):
    """G50: the skew-safe cap must (a) broadcast the cutoff table so rows
    in dropped buckets die at a map-side join, and (b) partition the
    ranking window by (key, bucket) — a window partitioned by the key
    alone would re-create the hot-key serial sort the operator exists to
    avoid."""
    plan = _plan(queries()["g50_source_cap"](spark, SF))
    assert "BroadcastHashJoin" in plan or "BroadcastExchange" in plan
    # the row_number spec must carry BOTH partition columns
    assert "windowspecdefinition(source" in plan
    rn = [l for l in plan.splitlines() if "row_number()" in l]
    assert rn and all("__b" in l for l in rn), rn
    # and the count pass must partial-aggregate (map-side combine)
    assert "partial_count" in plan


def test_quality_classifier_is_map_only_jvm(spark):
    """G53: classifier inference must be a pure scan-stage expression —
    no Exchange (the corpus never shuffles) and no Python eval node (the
    embedded weight table keeps the hot path in whole-stage codegen; the
    documented 100 TB swap to a pandas_udf matmul is for REAL models)."""
    plan = _plan(queries()["g53_quality_classifier"](spark, SF))
    assert "Exchange" not in plan, plan
    assert "EvalPython" not in plan, plan
    assert "codegen id" in plan, plan


def test_mixture_oversample_is_map_only_generate(spark):
    """G54: fractional-epoch oversampling must replicate rows via a
    scan-stage Generate (explode of an in-row sequence) with zero
    Exchange and zero Python — copies is pure arithmetic, so the op
    costs one pass regardless of the mixture weights."""
    plan = _plan(queries()["g54_mixture_oversample"](spark, SF))
    assert "Exchange" not in plan, plan
    assert "EvalPython" not in plan, plan
    assert "Generate" in plan and "explode" in plan, plan


def test_dsir_selection_scans_corpus_exactly_twice(spark):
    """g61: the weight table derives from ONE combined counts pass (target
    count as a conditional count, totals via a window over the 256-row
    counts frame) — the naive ct/cr/totals-as-separate-frames form
    re-derives lineage and scans the corpus FIVE times. Lock the 2-scan
    shape and the broadcast of the weight table into the token stream."""
    plan = _plan(queries()["g61_dsir_selection"](spark, SF), mode="simple")
    assert plan.count("documents.parquet") == 2, plan.count("documents.parquet")
    assert "BroadcastHashJoin" in plan  # 256-row weight table broadcasts
    # the keep gate is an integer compare, not a float/exp boundary
    assert "score_micro_nats" in plan


def test_line_dedup_segments_once_per_doc(spark):
    """g60: line segmentation must be the single regexp pass inside the
    Generate (one evaluation per doc row) — the slice-per-line form shows
    split(text) recomputed in a Project ABOVE the Generate, O(tokens) per
    LINE. Lock the linear shape."""
    plan = _plan(queries()["g60_line_dedup"](spark, SF))
    gen = [seg for seg in plan.split("\n\n") if seg.startswith("(2) Generate")]
    assert gen and "regexp_replace" in gen[0]
    proj = [seg for seg in plan.split("\n\n") if seg.startswith("(3) Project")]
    assert proj and "split(" not in proj[0]  # no re-split above the Generate
