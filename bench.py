"""Benchmark harness: runs the headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints ONE
JSON line {"metric", "value", "unit", "queries", "sf"}.

BASELINE.md targets:
  (a) lake-path micro-batch (transform + partitioned parquet commit) <= 4.2 s
      at ~2.8 MB/batch  -> key "lake_microbatch"
  (b) partition-pruned point query <= 4 s -> key "point_query"
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

import pandas as pd

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pyspark.sql import functions as F

from aws_kinesis_spark import registry
from aws_kinesis_spark.session import get_spark
from aws_kinesis_spark.tables import load

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

# Headline queries: one per operator family (join, agg, window, topk, json,
# rollup, dedup, knn ...). Extended as families land in the registry.
HEADLINE = [
    "d05_join_star",
    "d08_agg_pricing_summary",
    "d09_tumbling_hourly_agg",
    "d12_latest_per_key",
    "d14_rollup",
    "d15_asof_join",
    "d19_array_functions",
    "d20_json_functions",
    "d23_correlated_scalar_subquery",
    "d26_sessionization",
    "d27_rolling_time_window",
    "b04_dedup_by_sequence",
    "c01_envelope_roundtrip",
    "f01_scalar_pandas_udf",
    "f02_grouped_map",
    "f03_grouped_agg_udaf",
    "g01_dedup_exact",
    "g02_dedup_minhash_lsh",
    "g03_knn_bruteforce",
    "g03e_knn_join",
    "g04_text_stats",
    "g05_embedding_neardup",
    "g13_decontaminate",
    "g15_repetition_filter",
    "g19_dedup_keepers",
    "g20_incremental_dedup",
    "g21_doc_chunking",
    "g25_span_dedup",
    "g27_embedding_decontaminate",
    "d32_gap_fill",
    "d29_interval_overlap_join",
    "b04b_bloom_first_seen",
    "g30_bm25_score",
    "g31_bigram_logprob",
    "g32_setsim_prefix_join",
    "g33_hard_negatives",
    "d33_histogram",
    "a19_deletion_vectors",
    "g35_stream_dedup_ingest",
    "g36_token_budget_sample",
    # round-9 additions (VERDICT r8 #6): regressions in the five rotated-in
    # queries become visible per-round
    "a23_zorder_clustering",
    "d35_percentile_profile",
    "g37_containment_dedup",
    "g38_semdedup",
    "g40_stratified_sample",
    "d36_approx_percentile_check",
    "g41_filtered_knn",
    "g45_vocab_coverage",
    "d38_funnel_steps",
    "d39_cohort_retention",
    "g46_bpe_pair_stats",
    "g47_length_bucketing",
    "a24_symlink_manifest_export",
    "a09_dlq_split",
    "b12_stream_progress",
    "a11_raw_backup",
    # round-10 additions: the persistent IVF index (build + incremental
    # append + indexed probe) and the leakage-safe split join the
    # headline the round they land
    "g48_persistent_ivf",
    "g49_leakage_safe_split",
    # round-11 addition: the one-shot IVF path now delegates to the
    # standing store (build + driver-side probe + temp-store drop) — its
    # cost joins the headline the round the kernel was rewritten
    "g03c_knn_ivf_ann",
    # round-12 addition: the skew-safe per-key cap joins the headline the
    # round its kernel (cap_per_key's two-phase hash-bucket cutoff) lands
    "g50_source_cap",
    # round-13 addition: IVF tombstone deletes (build + delete + full
    # probe over the live store) join the headline the round they land
    "g52_ivf_delete",
    # round-13 late additions: classifier inference (map-only hashed
    # linear model) and fractional-epoch oversampling join the headline
    # the round they land
    "g53_quality_classifier",
    "g54_mixture_oversample",
    "g55_pipeline_end_to_end",
    # round-13 session-3 additions: Matryoshka truncation recall (one
    # corpus scan, two rankings) and hybrid RRF retrieval (BM25 arm +
    # cosine arm, TakeOrdered fusion) join the headline the round they land
    "g56_truncation_recall",
    "g57_hybrid_rrf",
    "g58_source_drift",
    "d40_ordered_sequence_agg",
    "d41_linear_interpolate",
    "c15_xml_roundtrip",
    # round-14 additions: URL-level dedup (canonicalize + collapse), CCNet
    # line-level dedup (explode + first-occurrence window + ordered
    # reassembly) and robust MAD outlier fences join the headline the
    # round they land
    "g59_url_dedup",
    "g60_line_dedup",
    "d42_mad_outliers",
    # round-14 late additions: DSIR hashed-LM selection, the Markov
    # transition matrix, and product-quantized ANN join the headline the
    # round they land
    "g61_dsir_selection",
    "d43_markov_transitions",
    "g62_pq_ann",
]


def _noop_write(df) -> None:
    """Materialize fully without driver collect."""
    df.write.format("noop").mode("overwrite").save()


# --- host-contention guard (VERDICT r5 #1) --------------------------------
# BENCH_r05 published ~2x-inflated numbers because all three samples of
# min-of-3 were CPU-stolen on the shared VM. Before (and after) the timed
# loop we run a FIXED synthetic plan whose idle-host cost is known; if even
# the best of 3 runs exceeds that budget the host is contended — the run
# retries (before) and is FLAGGED in the output JSON (contended=true), so a
# reader never mistakes steal for regression.
CALIBRATION_IDLE_S = 0.35   # measured idle local[32] cost ~0.2 s; headroom
CALIBRATION_FACTOR = 1.5
CALIBRATION_RETRIES = 3


def _calibration_cost(spark) -> float:
    """Fixed per-core CPU plan, independent of SF_DIR: hash+xor over
    625k rows PER CORE. Scaling rows and partitions to the configured
    parallelism keeps the idle cost ~constant across SPARK_GRAFT_CPUS —
    a fixed 20M-row/32-partition plan blew the 32-core-calibrated budget
    on an idle 8-core run, burning 90 s of retries and stamping a false
    contended=true (round-12 review)."""
    par = spark.sparkContext.defaultParallelism

    def one() -> float:
        t0 = time.perf_counter()
        (
            spark.range(0, 625_000 * par, numPartitions=par)
            .select(F.xxhash64("id").alias("h"))
            # XOR, not sum: order-insensitive and cannot overflow ANSI int64
            .agg(F.bit_xor("h"))
            .write.format("noop")
            .mode("overwrite")
            .save()
        )
        return time.perf_counter() - t0

    return min(one() for _ in range(3))


# Reference canary cost on a QUIET epoch of this VM: BENCH_r10's
# host_index_sec (0.6414 s, calibration 0.132 s, contended=false). Every
# later run publishes its interleaved canary stats as a RATIO against this
# number, so a reader can normalize cross-round per-query comparisons by
# the observed epoch drift instead of misreading it as regression.
CANARY_REF_SEC = 0.6414

# Host timing noise on this shared VM comes in multi-minute EPOCHS (round-11
# measured untouched queries drifting uniformly 1.1-1.5x while a single
# end-of-run host-index sample moved only +3% — one sample point cannot see
# drift that happened DURING the run). The canary is therefore sampled
# INTERLEAVED through the timed loop (one sample every few queries), and
# min/median/max over all samples are published: the median tracks the
# run's typical epoch, the min its best, max-min the in-run drift.
_CANARY_SAMPLES: list[float] = []
_CANARY_UDF = None


def _canary_once(spark) -> float:
    """One workload-shaped canary sample: a shuffle, an Arrow pandas-UDF
    pass, and a small parquet write — the resources (disk, python workers,
    scheduler) the headline queries actually contend on."""
    global _CANARY_UDF
    if _CANARY_UDF is None:
        @F.pandas_udf("long")
        def _probe_udf(x: pd.Series) -> pd.Series:
            return x * 2

        _CANARY_UDF = _probe_udf

    tmp = tempfile.mkdtemp(prefix="kinesis_cal_")
    t0 = time.perf_counter()
    (
        spark.range(0, 2_000_000, numPartitions=32)
        .withColumn("k", F.pmod("id", F.lit(64)))
        .repartition("k")
        .withColumn("v", _CANARY_UDF("id"))
        .groupBy("k")
        .agg(F.sum("v").alias("s"))
        .write.mode("overwrite")
        .parquet(tmp)
    )
    dt = time.perf_counter() - t0
    shutil.rmtree(tmp, ignore_errors=True)
    _CANARY_SAMPLES.append(dt)
    return dt


def _canary_stats() -> dict:
    s = sorted(_CANARY_SAMPLES)
    if not s:
        return {}
    med = s[len(s) // 2] if len(s) % 2 else (s[len(s) // 2 - 1] + s[len(s) // 2]) / 2
    return {
        "n_samples": len(s),
        "min": round(s[0], 4),
        "median": round(med, 4),
        "max": round(s[-1], 4),
        "ref_r10_sec": CANARY_REF_SEC,
        # ratio_vs_r10_MIN is the like-for-like normalizer (the stored ref
        # is itself a min — a median-vs-min ratio reads ~1.05-1.15 on an
        # IDENTICAL epoch just from sampling spread, round-12 review);
        # read ratio_vs_r10_median as the run's TYPICAL-epoch level and
        # max/min as the in-run drift band, not as a divisor
        "ratio_vs_r10_median": round(med / CANARY_REF_SEC, 4),
        "ratio_vs_r10_min": round(s[0] / CANARY_REF_SEC, 4),
    }


def _calibrate(spark, label: str, retry: bool) -> tuple[float, bool]:
    """Returns (best calibration seconds, contended?). With retry=True,
    waits out transient steal up to CALIBRATION_RETRIES times."""
    budget = CALIBRATION_IDLE_S * CALIBRATION_FACTOR
    cost = _calibration_cost(spark)
    tries = 0
    while retry and cost > budget and tries < CALIBRATION_RETRIES:
        print(
            f"bench: host contended ({label} calibration {cost:.3f}s > "
            f"{budget:.3f}s budget), retrying in 30s",
            file=sys.stderr,
        )
        time.sleep(30)
        cost = _calibration_cost(spark)
        tries += 1
    contended = cost > budget
    if contended:
        print(
            f"bench: WARNING — {label} calibration {cost:.3f}s exceeds the "
            f"{budget:.3f}s idle budget; timings below are inflated by host "
            "CPU steal and are NOT a regression signal",
            file=sys.stderr,
        )
    return cost, contended


# Timed measurements take the best of N runs: the plans are deterministic,
# so run-to-run spread is host noise (CPU steal on a shared VM measured at
# 4-10x on identical plans — an identical stage timed [0.68, 0.80, 7.15] s
# back-to-back), and min-of-N is the standard estimator for the
# machine-independent cost. N=3 so a single multi-second stall can't
# contaminate the min; per-query {min,max} spread is reported so a reader
# can separate noise from real regression.
RUNS = 3

# Per-query sample-count overrides for the HIGHEST-VARIANCE queries, where
# min-of-3 under-samples: g35's 4-trigger streaming harness (~20 Spark
# stages + 2 threaded writers per trigger) measured min-of-3 values of
# 8.87 s and 10.71 s in back-to-back same-code same-epoch runs (round-12,
# canary ratio 1.19 vs 1.17) — a 1.2x swing no single-pass plan shows. Two
# extra samples (~20 s of bench wall) tighten the min toward the true
# machine cost; every other query keeps N=3.
RUNS_OVERRIDE: dict[str, int] = {"g35_stream_dedup_ingest": 5}

# Byte budget for the FINAL printed line: the driver stores a 2000-char
# stdout tail and json.loads the last line inside it, so the line must
# stay comfortably under the cap (tests/test_bench_record.py pins this).
COMPACT_BUDGET = 1880

SPREAD: dict[str, dict[str, float]] = {}


def _best_of(name: str, f) -> float:
    times = [f() for _ in range(RUNS_OVERRIDE.get(name, RUNS))]
    SPREAD[name] = {"min": round(min(times), 4), "max": round(max(times), 4)}
    return min(times)


def bench_query(spark, name: str, fn) -> float:
    def one() -> float:
        t0 = time.perf_counter()
        _noop_write(fn(spark, SF_DIR))
        return time.perf_counter() - t0

    return _best_of(name, one)


def bench_lake_microbatch(spark, tmp: str) -> float:
    """BASELINE (a): one ~2.8 MB envelope batch -> decode -> enrich ->
    hive-partitioned snappy parquet commit (README.md:359 figure: 2.1 s)."""
    from aws_kinesis_spark.sources.envelope import synthesize_envelope, decode_envelope

    orders = load(spark, SF_DIR, "orders")
    # ~1000-record batches in the reference are 2.79 MB; our envelope rows are
    # ~200 B so take enough rows to land near 2.8 MB of payload. The batch is
    # materialized BEFORE the clock starts: BASELINE's 2.1 s figure
    # (README.md:359) times transform+commit of an already-buffered batch,
    # not the producer filling the buffer.
    batch = synthesize_envelope(orders.limit(15000)).localCheckpoint(eager=True)
    out = os.path.join(tmp, "lake")
    t0 = time.perf_counter()
    decoded = decode_envelope(batch).drop("data")
    (
        decoded.withColumn("year", F.year("processed_at"))
        .withColumn("month", F.month("processed_at"))
        .withColumn("day", F.dayofmonth("processed_at"))
        .withColumn("hour", F.hour("processed_at"))
        # all rows of one flush share one hour-partition value; adding the
        # record key to the repartition spreads parquet encode across 4
        # writers (4 files/partition ~ 0.7 MB each) instead of serializing
        # the whole flush onto one task.
        .repartition(4, "year", "month", "day", "hour", "partition_key")
        .write.mode("overwrite")
        .partitionBy("year", "month", "day", "hour")
        .option("compression", "snappy")
        .parquet(out)
    )
    return time.perf_counter() - t0


def bench_point_query(spark, tmp: str) -> float:
    """BASELINE (b): partition-pruned point query over the lake
    (README.md:164, 554-559: 2 s Athena)."""
    lake = os.path.join(tmp, "events_lake")
    if not os.path.isdir(lake):
        # build ONCE per bench run: only the pruned read is the measured
        # operation — rebuilding the whole partitioned lake on every
        # min-of-3 repetition was pure wasted wall-clock
        ev = load(spark, SF_DIR, "events")
        (
            ev.withColumn("year", F.year("ts"))
            .withColumn("month", F.month("ts"))
            .withColumn("day", F.dayofmonth("ts"))
            .withColumn("hour", F.hour("ts"))
            .repartition("day", "hour")
            .write.mode("overwrite")
            .partitionBy("year", "month", "day", "hour")
            .parquet(lake)
        )
    t0 = time.perf_counter()
    rows = (
        spark.read.parquet(lake)
        .filter((F.col("day") == 7) & (F.col("hour") == 14))
        .select("event_id", "event_type", "value")
        .limit(5)
        .collect()
    )
    if not rows:
        # explicit raise, not assert: under `python -O` an assert vanishes
        # and an empty pruned scan would publish a ~0 s point_query as a
        # real measurement (round-12 review)
        raise RuntimeError(
            "point query returned no rows — the pruned scan measured "
            "nothing (does the events fixture cover day=7/hour=14?)"
        )
    return time.perf_counter() - t0


def bench_ivf_second_probe(spark, tmp: str) -> float:
    """The SERVING claim of the standing IVF store (VERDICT r11 #5):
    repeated probes against an already-built index pay no training and no
    corpus assignment — only the driver-side matmul plus the probed-cell
    partition reads. The build and a first probe happen ONCE, untimed
    (g48/g03c already time build+probe fused); this times probe #2+."""
    from aws_kinesis_spark.operators.ivf_index import build_ivf_index, knn_ivf_indexed

    idx = os.path.join(tmp, "ivf_standing")
    em = load(spark, SF_DIR, "embeddings")
    queries = em.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    if not os.path.isdir(idx):
        build_ivf_index(em, idx, nlist=32)
        _noop_write(knn_ivf_indexed(spark, idx, queries, k=10, nprobe=8))
    t0 = time.perf_counter()
    _noop_write(knn_ivf_indexed(spark, idx, queries, k=10, nprobe=8))
    return time.perf_counter() - t0


def main() -> None:
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    spark = get_spark("aws-kinesis-spark-bench", cpus=cpus)
    qmap = registry.queries()
    results: dict[str, float] = {}

    # Warm the JVM once: a small join+agg exercises the codegen paths
    # (broadcast join, hash agg, parquet scan) so measured times reflect
    # steady-state throughput, not first-query JIT compilation.
    r = load(spark, SF_DIR, "region")
    n = load(spark, SF_DIR, "nation")
    (
        n.join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("r_name")
        .agg(F.count("*"))
        .write.format("noop")
        .mode("overwrite")
        .save()
    )
    # ... and fork the Arrow/Python UDF workers once (their cold start is
    # ~5-10 s of pure process spawn, not query work)
    from aws_kinesis_spark.plans.udf_queries import _charge

    k = F.col("r_regionkey").cast("double")
    r.select(_charge(k, k, k)).write.format("noop").mode("overwrite").save()

    cal_before, contended_before = _calibrate(spark, "pre-run", retry=True)

    # Per-query warmup at the smallest SF: each query shape compiles its
    # whole-stage-codegen units / regexes and forks its Arrow workers once,
    # so the timed runs below measure steady-state data throughput at
    # SF_DIR rather than one-time JIT cost (which amortizes to zero on any
    # real-sized input).
    warm_sf = "/root/testdata/sf0.001"
    for name in HEADLINE:
        if name not in qmap:
            print(f"bench: WARNING — HEADLINE query {name} not in the "
                  "registry; it is NOT being measured (rename/typo?)",
                  file=sys.stderr)
            continue
        if not os.path.isdir(warm_sf):
            continue
        try:
            _noop_write(qmap[name](spark, warm_sf))
        except Exception as exc:  # noqa: BLE001
            # Warmup is best-effort (the timed run surfaces real errors),
            # but a failure here usually predicts one there — say so.
            print(f"bench: warmup failed for {name}: {exc!r}", file=sys.stderr)

    _canary_once(spark)  # warmup (codegen + python-worker fork), kept:
    _CANARY_SAMPLES.clear()  # ...but excluded from the published stats
    measured = [n for n in HEADLINE if n in qmap]
    for i, name in enumerate(measured):
        results[name] = round(bench_query(spark, name, qmap[name]), 4)
        # interleaved canary: one sample every ~6 queries tracks epoch
        # drift DURING the run (a single end-of-run sample missed a
        # measured uniform 1.17x drift in round 11)
        if i % 6 == 5:
            _canary_once(spark)

    tmp = tempfile.mkdtemp(prefix="kinesis_bench_")
    try:
        # Warm the partitioned-parquet write path (committer + writer codegen).
        (
            n.withColumn("part", F.col("n_regionkey"))
            .write.mode("overwrite")
            .partitionBy("part")
            .parquet(os.path.join(tmp, "warm"))
        )
        results["lake_microbatch"] = round(
            _best_of("lake_microbatch", lambda: bench_lake_microbatch(spark, tmp)), 4
        )
        results["point_query"] = round(
            _best_of("point_query", lambda: bench_point_query(spark, tmp)), 4
        )
        results["ivf_second_probe"] = round(
            _best_of("ivf_second_probe", lambda: bench_ivf_second_probe(spark, tmp)),
            4,
        )
    finally:
        shutil.rmtree(tmp, ignore_errors=True)

    cal_after, contended_after = _calibrate(spark, "post-run", retry=False)
    for _ in range(3):  # final canary samples (the old end-of-run probe)
        _canary_once(spark)
    canary = _canary_stats()
    # host_index_sec kept for backward-compatible cross-round reads: now
    # the min over ALL interleaved samples (strictly more samples than the
    # old end-of-run min-of-3)
    host_index = canary["min"]

    full, compact = build_records(
        results,
        SPREAD,
        canary,
        {
            "before": round(cal_before, 4),
            "after": round(cal_after, 4),
            "idle_budget": round(CALIBRATION_IDLE_S * CALIBRATION_FACTOR, 4),
        },
        contended_before or contended_after,
    )
    # Persist the COMPLETE record as a repo artifact. The driver's
    # BENCH_rN.json keeps only a 2000-char stdout tail plus the json.loads
    # of the last line it can see — BENCH_r09's parsed field is null
    # because that round's only JSON line was front-truncated by exactly
    # that cap, so the full 63-query spread dict (~4 KB) can never ride in
    # the parsed line itself (VERDICT r12 #2 asked for it there; the cap
    # makes the file the only lossless channel). BENCH_FULL.json is
    # overwritten per run and committed per round, so every cross-round
    # per-query ratio is computable from the git history of one file.
    with open(os.path.join(os.path.dirname(os.path.abspath(__file__)),
                           "BENCH_FULL.json"), "w") as fh:
        json.dump(full, fh)
        fh.write("\n")
    print(json.dumps(full))
    # Emit the compact summary LAST so the driver's 2000-char tail always
    # ends with one complete parseable JSON line (VERDICT r9 #3). It
    # carries the canary stats verbatim plus the spreads of the slowest
    # queries — everything else lives in BENCH_FULL.json.
    print(json.dumps(compact))


def build_records(
    results: dict[str, float],
    spread: dict[str, dict[str, float]],
    canary: dict,
    calibration: dict,
    contended: bool,
) -> tuple[dict, dict]:
    """Build the (full, compact) output records. Pure so tests can pin the
    compact line's size budget: the driver keeps only a 2000-char stdout
    tail and json.loads the last line inside it, so the compact record
    must serialize WELL under that cap (budget asserted at 1900 bytes in
    tests/test_bench_record.py) or the round's parsed artifact silently
    degrades to null, as happened in BENCH_r09."""
    total = round(sum(results.values()), 4)
    host_index = canary.get("min")
    full = {
        "metric": "headline_queries_total",
        "value": total,
        "unit": "sec",
        "queries": results,
        "sf": SF_DIR,
        "runs_per_query": RUNS,
        "runs_override": RUNS_OVERRIDE,
        "agg": "min",
        "spread": spread,
        # contention guard: calibration = fixed synthetic plan with a
        # known idle cost; contended=true means these timings carry host
        # CPU-steal and must not be read as regressions
        "calibration_sec": calibration,
        # workload-shaped host speed index (shuffle + Arrow UDF + parquet
        # write; ~0.6 s on this VM's quiet epochs): divide two rounds'
        # per-query times by their host_index ratio to cancel host drift
        # the CPU calibration can't see
        "host_index_sec": host_index,
        # epoch-noise normalizer: the same probe sampled INTERLEAVED
        # through the run, as a ratio vs the stored round-10 quiet-epoch
        # reference — multiply a target (or divide a measurement) by
        # ratio_vs_r10_median before comparing against round-10-era numbers
        "canary": canary,
        "contended": contended,
    }
    # The slowest queries are where a regression moves the headline; their
    # spreads ride in the parsed line so tail-only readers still get them.
    slowest = sorted(results, key=results.get, reverse=True)[:10]
    compact = {
        "metric": "headline_queries_total",
        "value": total,
        "unit": "sec",
        "sf": SF_DIR,
        "n_queries": len(results),
        "lake_microbatch": results.get("lake_microbatch"),
        "point_query": results.get("point_query"),
        "host_index_sec": host_index,
        "canary": canary,
        "slowest_spread": {n: [spread[n]["min"], spread[n]["max"]]
                           for n in slowest if n in spread},
        "ivf_second_probe": results.get("ivf_second_probe"),
        "full_record": "BENCH_FULL.json",
        "contended": contended,
    }
    # Per-query mins IN the final line (VERDICT r14 #1: the driver's PERF
    # per_query/geomean/scaling blocks populate only from the parsed last
    # line). The COMPLETE map cannot ride here: the registry names alone
    # serialize to ~1.8 KB and the driver keeps only a 2000-char stdout
    # tail (BENCH_r09.parsed is null because exactly that cap front-
    # truncated the line). So the line carries as many entries as fit the
    # byte budget, slowest first — the queries that move the headline and
    # whose regressions matter — with "queries_omitted" naming the count
    # that only BENCH_FULL.json holds. The fill stops at the first entry
    # that does not fit, so the map is a strict slowest-first prefix (a
    # shorter, faster name after it never jumps the queue). Additions-only:
    # every pre-existing key of the compact record is unchanged.
    compact["queries"] = {}
    compact["queries_omitted"] = len(results)  # worst-case width reserved
    base_len = len(json.dumps(compact))
    budget = COMPACT_BUDGET - base_len
    used = 0
    for name in sorted(results, key=results.get, reverse=True):
        # an added entry costs exactly its inner '"name": v' plus ", ":
        # len(json.dumps({...})) = inner + 2 braces = inner + separator
        entry = len(json.dumps({name: results[name]}))
        if used + entry > budget:
            break
        compact["queries"][name] = results[name]
        used += entry
    compact["queries_omitted"] = len(results) - len(compact["queries"])
    return full, compact


if __name__ == "__main__":
    main()
