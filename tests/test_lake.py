"""Golden pipeline test (SURVEY.md §5.2.2): the reference's forensic trace
(README.md:219-320) asserted as invariants over one deterministic flush."""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F

from aws_kinesis_spark import store
from aws_kinesis_spark.sources.envelope import synthesize_envelope
from aws_kinesis_spark.sources.lake import (
    PARTITION_COLS,
    read_manifest,
    read_via_manifest,
    register_lake_table,
    run_lake_batch,
)
from aws_kinesis_spark.tables import load

SF = "/root/testdata/sf0.001"


@pytest.fixture()
def envelope(spark):
    orders = load(spark, SF, "orders")
    return synthesize_envelope(orders)


def _corrupt_some(env):
    """Flip every 100th record's payload into invalid base64/JSON."""
    return env.withColumn(
        "data",
        F.when(
            F.col("partition_key").endswith("00"),
            F.lit("!!not-base64!!").cast("binary"),
        ).otherwise(F.col("data")),
    )


def test_golden_flush(spark, envelope, tmp_path):
    lake = str(tmp_path / "lake")
    env = _corrupt_some(envelope)
    n_total = env.count()

    stats = run_lake_batch(env, lake, batch_id=7)

    # zero records lost (README.md:204, 480)
    assert stats.n_ok + stats.n_error == n_total
    assert stats.n_error > 0

    # partition layout year=/month=/day=/hour= (README.md:285)
    files = [e["url"] for e in read_manifest(lake, 7)["entries"]]
    assert files, "manifest lists no files"
    for f in files:
        for col in PARTITION_COLS:
            assert f"{col}=" in f, f"missing {col}= in {f}"

    # manifest lists exactly the written files (README.md:295-303)
    on_disk = []
    for dirpath, _d, fs in os.walk(os.path.join(lake, "data", "batch=7")):
        on_disk += [os.path.join(dirpath, x) for x in fs if x.endswith(".parquet")]
    assert sorted(files) == sorted(on_disk)
    assert read_manifest(lake, 7)["recordCount"] == stats.n_ok

    # processed_at added (README.md:279); decoded payload is correct
    back = read_via_manifest(spark, lake, 7)
    assert "processed_at" in back.columns
    sample = back.filter(F.col("id") == 3).collect()
    assert len(sample) == 1 and sample[0]["op"] == "I"  # 3 % 3 == 0 -> 'I'

    # bad records land in errors/, unparsed (README.md:156)
    errs = spark.read.parquet(os.path.join(lake, "errors", "batch=7"))
    assert errs.count() == stats.n_error
    assert set(errs.columns) == {"data", "partition_key", "sequence_number", "arrival_ts"}

    # raw backup holds every input record (README.md:605)
    raw = spark.read.parquet(os.path.join(lake, "raw", "batch=7"))
    assert raw.count() == n_total


def test_replay_idempotence(spark, envelope, tmp_path):
    """Re-running the same batch produces zero duplicates (README.md:204)."""
    lake = str(tmp_path / "lake")
    s1 = run_lake_batch(envelope, lake, batch_id=1)
    s2 = run_lake_batch(envelope, lake, batch_id=1)
    assert s1.n_ok == s2.n_ok
    back = read_via_manifest(spark, lake, 1)
    assert back.count() == s1.n_ok
    assert back.select("id").distinct().count() == s1.n_ok


def test_replay_idempotent_across_hour_boundary(spark, envelope, tmp_path):
    """Replay in a LATER hour must not strand the first attempt's files
    (README.md:204 "zero duplicates"). Partition values derive from
    processing time, so the replayed flush writes different subpartitions;
    simulate the earlier attempt by planting its files in an hour partition
    the replay won't touch, then assert the replay purges them."""
    lake = str(tmp_path / "lake")
    s1 = run_lake_batch(envelope, lake, batch_id=3)

    # plant "first attempt in a different hour": copy batch=3's real files
    # into an hour subpartition two hours earlier than anything current
    import shutil

    batch_root = os.path.join(lake, "data", "batch=3")
    a_leaf = next(
        os.path.join(dp) for dp, _d, fs in os.walk(batch_root)
        if any(f.endswith(".parquet") for f in fs)
    )
    stale_leaf = os.path.join(batch_root, "year=1970", "month=1", "day=1", "hour=0")
    shutil.copytree(a_leaf, stale_leaf)
    dup_count = spark.read.parquet(batch_root).count()
    assert dup_count > s1.n_ok  # duplicates present pre-replay

    s2 = run_lake_batch(envelope, lake, batch_id=3)
    assert s2.n_ok == s1.n_ok
    assert not os.path.exists(stale_leaf)
    back = read_via_manifest(spark, lake, 3)
    assert back.count() == s1.n_ok
    assert back.select("id").distinct().count() == s1.n_ok
    # the whole batch prefix holds exactly one copy too (folder readers)
    assert spark.read.parquet(batch_root).count() == s1.n_ok


def test_catalog_registration_and_pruned_query(spark, envelope, tmp_path):
    """A10 + D3: register the lake, run a partition-pruned point query and
    check the plan actually prunes (PartitionFilters reach the scan)."""
    lake = str(tmp_path / "lake")
    run_lake_batch(envelope, lake, batch_id=0, raw_backup=False)
    register_lake_table(spark, "cdc_orders", lake)

    row = spark.sql(
        "SELECT id, status FROM cdc_orders WHERE year = 1995 AND id = 3 LIMIT 1"
    ).collect()
    assert len(row) <= 1

    plan = spark.sql(
        "SELECT id FROM cdc_orders WHERE year = 1995"
    )._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "year" in plan


def test_compression_accounting(spark, tmp_path):
    """C10 (README.md:276-278): per-flush byte accounting — snappy parquet
    output is substantially smaller than the JSON-ish text form (reference
    measures 68% on its CDC batch; exact ratio is data-dependent)."""
    import os

    from pyspark.sql import functions as F

    from aws_kinesis_spark.sources.envelope import synthesize_envelope
    from aws_kinesis_spark.tables import load

    orders = load(spark, "/root/testdata/sf0.01", "orders")
    env = synthesize_envelope(orders)
    json_bytes = env.select(
        F.sum(F.length(F.col("data").cast("string"))).alias("b")
    ).collect()[0]["b"]

    out = str(tmp_path / "compressed")
    env.coalesce(1).write.option("compression", "snappy").parquet(out)
    parquet_bytes = sum(
        os.path.getsize(os.path.join(out, f))
        for f in os.listdir(out)
        if f.endswith(".parquet")
    )
    ratio = 1 - parquet_bytes / json_bytes
    assert ratio > 0.3, f"snappy parquet should compress the envelope: {ratio:.2%}"


def test_retry_backoff_then_dlq(spark):
    """B8 (README.md:87-88): transient sink failures retry on the 1->32 s
    exponential ladder; persistent failure re-raises after the attempt
    budget, so the caller escalates instead of the error vanishing."""
    from aws_kinesis_spark.streaming.retry import retry_with_backoff

    delays = []
    calls = {"n": 0}

    def flaky():
        calls["n"] += 1
        if calls["n"] < 4:
            raise OSError("throttled")
        return "ok"

    assert retry_with_backoff(flaky, sleep=delays.append) == "ok"
    assert delays == [1.0, 2.0, 4.0]  # exponential ladder
    # cap at 32 s
    delays2 = []
    calls2 = {"n": 0}

    def always_fail():
        calls2["n"] += 1
        raise OSError("down")

    import pytest as _pytest

    with _pytest.raises(OSError):
        retry_with_backoff(always_fail, attempts=8, sleep=delays2.append)
    assert delays2 == [1.0, 2.0, 4.0, 8.0, 16.0, 32.0, 32.0]
    assert calls2["n"] == 8


def test_compaction_binpacks_partition_without_changing_rows(spark, tmp_path):
    """Small-file compaction: many per-flush files collapse to the bin-packed
    count; row content is untouched and the swap leaves no temp dirs."""
    from aws_kinesis_spark.sources.lake import compact_lake_partition

    lake = str(tmp_path / "lake")
    part = "data/part=a"
    part_dir = os.path.join(lake, part)
    ev = load(spark, "/root/testdata/sf0.001", "events").limit(400)
    # simulate 8 tiny per-flush files
    ev.repartition(8).write.mode("overwrite").parquet(part_dir)
    before = spark.read.parquet(part_dir)
    before_rows = sorted(r.event_id for r in before.select("event_id").collect())
    n_before, n_after = compact_lake_partition(
        spark, lake, part, target_file_bytes=1 << 30
    )
    assert n_before == 8 and n_after == 1
    after = spark.read.parquet(part_dir)
    after_rows = sorted(r.event_id for r in after.select("event_id").collect())
    assert after_rows == before_rows
    assert not os.path.exists(part_dir + ".tmp")
    assert not os.path.exists(part_dir + store.ASIDE)


def test_dynamic_table_partitioning_creates_per_table_folders(spark, envelope, tmp_path):
    """A13 (README.md:157, 434): dynamic_tables=True must grow per-table
    hive folders derived from the record's composite key, and a table-scoped
    read must partition-prune to that folder."""
    from aws_kinesis_spark.sources.lake import run_lake_batch

    lake = str(tmp_path / "lake")
    mixed = envelope.withColumn(
        "partition_key",
        F.when(
            F.element_at(F.split("partition_key", "-"), 3).cast("long") % 2 == 0,
            F.col("partition_key"),
        ).otherwise(F.regexp_replace("partition_key", "-orders-", "-returns-")),
    )
    stats = run_lake_batch(mixed, lake, batch_id=0, raw_backup=False, dynamic_tables=True)

    batch_root = os.path.join(lake, "data", "batch=0")
    tables = sorted(d for d in os.listdir(batch_root) if d.startswith("table="))
    assert tables == ["table=orders", "table=returns"]
    # folder content matches the key-derived split exactly
    back = spark.read.parquet(batch_root)
    n_even = back.filter((F.col("id") % 2 == 0) & (F.col("table") == "orders")).count()
    assert n_even == back.filter(F.col("table") == "orders").count()
    assert back.count() == stats.n_ok
    # a table-scoped read partition-prunes (PartitionFilters on `table`)
    scoped = back.filter(F.col("table") == "returns").select("id")
    plan = scoped._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "table" in plan


def test_retention_expiry_removes_old_partitions_and_heals_manifests(
    spark, envelope, tmp_path
):
    """B7-retention (README.md:9, 60, 83): hour partitions wholly older than
    the retention horizon are deleted, manifests drop the dangling entries
    atomically, and in-retention data is untouched."""
    import datetime as dt
    import shutil as sh

    from aws_kinesis_spark.sources.lake import expire_partitions

    lake = str(tmp_path / "lake")
    stats = run_lake_batch(envelope, lake, batch_id=0, raw_backup=False)

    # plant an expired hour leaf holding real parquet + a manifest entry
    batch_root = os.path.join(lake, "data", "batch=0")
    live_leaf = next(
        dp for dp, _d, fs in os.walk(batch_root)
        if any(f.endswith(".parquet") for f in fs)
    )
    old_leaf = os.path.join(batch_root, "year=2020", "month=1", "day=2", "hour=5")
    sh.copytree(live_leaf, old_leaf)
    mpath = os.path.join(lake, "_manifests", "manifest-0000000000.json")
    with open(mpath) as fh:
        manifest = json.load(fh)
    planted = [
        os.path.join(old_leaf, f) for f in os.listdir(old_leaf) if f.endswith(".parquet")
    ]
    manifest["entries"] += [{"url": p} for p in planted]
    with open(mpath, "w") as fh:
        json.dump(manifest, fh)

    ex = expire_partitions(
        lake, retention_hours=24 * 365, now=dt.datetime(2021, 6, 1)
    )
    assert ex.n_partitions == 1 and ex.n_files == len(planted)
    assert not os.path.exists(old_leaf)
    # empty parents pruned up to the batch dir
    assert not os.path.exists(os.path.join(batch_root, "year=2020"))
    # manifest healed: only live files remain, and the read works
    assert ex.n_manifests_rewritten == 1
    healed = read_manifest(lake, 0)
    assert all(os.path.exists(e["url"]) for e in healed["entries"])
    assert read_via_manifest(spark, lake, 0).count() == stats.n_ok

    # a second sweep with everything in retention is a no-op
    ex2 = expire_partitions(lake, retention_hours=24 * 365, now=dt.datetime(2021, 6, 1))
    assert ex2.n_partitions == 0 and ex2.n_manifests_rewritten == 0


def test_retention_expiry_heals_entries_recorded_through_deleted_symlinks(
    spark, envelope, tmp_path
):
    """Round-12 review: a manifest entry whose url traverses a symlink that
    lives INSIDE the expired subtree cannot be realpath-resolved after the
    rmtree (the link component is gone) — a post-delete resolve missed
    expired_set and the ghost entry survived. Entry urls are now resolved
    against a pre-delete mapping, so the entry is dropped."""
    import datetime as dt
    import shutil as sh

    from aws_kinesis_spark.sources.lake import expire_partitions

    lake = str(tmp_path / "lake")
    run_lake_batch(envelope, lake, batch_id=0, raw_backup=False)

    batch_root = os.path.join(lake, "data", "batch=0")
    live_leaf = next(
        dp for dp, _d, fs in os.walk(batch_root)
        if any(f.endswith(".parquet") for f in fs)
    )
    old_leaf = os.path.join(batch_root, "year=2020", "month=1", "day=2", "hour=5")
    sh.copytree(live_leaf, old_leaf)
    # a symlink INSIDE the expired leaf pointing back at it — the manifest
    # records the planted files THROUGH the link
    link = os.path.join(old_leaf, "alias")
    os.symlink(old_leaf, link)
    planted = [
        os.path.join(link, f) for f in os.listdir(old_leaf) if f.endswith(".parquet")
    ]
    assert planted and all(os.path.exists(p) for p in planted)
    mpath = os.path.join(lake, "_manifests", "manifest-0000000000.json")
    with open(mpath) as fh:
        manifest = json.load(fh)
    n_live = len(manifest["entries"])
    manifest["entries"] += [{"url": p} for p in planted]
    with open(mpath, "w") as fh:
        json.dump(manifest, fh)

    ex = expire_partitions(
        lake, retention_hours=24 * 365, now=dt.datetime(2021, 6, 1)
    )
    assert ex.n_partitions == 1
    assert not os.path.exists(old_leaf)
    # the symlink-recorded entries were dropped, not left dangling
    assert ex.n_manifests_rewritten == 1
    healed = read_manifest(lake, 0)
    assert len(healed["entries"]) == n_live
    assert all(os.path.exists(e["url"]) for e in healed["entries"])


def test_merge_upsert_fallback_matches_merge_semantics(spark, tmp_path):
    """A7 MERGE INTO variant: on this v1 catalog the ANSI MERGE is
    unsupported, so merge_upsert must fall back to the equivalent
    relational plan — matched rows updated, unmatched inserted, matched
    delete-marked rows removed, unmatched delete markers ignored. The
    generated MERGE statement itself must parse as legal Spark SQL."""
    import uuid

    from aws_kinesis_spark.operators.upsert import merge_into_sql, merge_upsert

    tbl = f"merge_target_{uuid.uuid4().hex[:8]}"
    spark.sql(
        f"CREATE TABLE {tbl} (id BIGINT, status STRING) USING parquet "
        f"LOCATION '{tmp_path}/t'"
    )
    try:
        spark.sql(f"INSERT INTO {tbl} VALUES (1,'a'), (2,'b'), (3,'c')")
        staging = spark.createDataFrame(
            [(2, "B", "U"), (4, "new", "I"), (3, None, "D"), (9, "x", "D")],
            "id LONG, status STRING, op STRING",
        )
        out = merge_upsert(spark, tbl, staging, ["id"], delete_op=("op", "D"))
        got = {(r.id, r.status) for r in out.collect()}
        assert got == {(1, "a"), (2, "B"), (4, "new")}

        sql = merge_into_sql(tbl, "stg", ["id"], ["id", "status"], ("op", "D"))
        spark._jsparkSession.sessionState().sqlParser().parsePlan(sql)
        sql_plain = merge_into_sql(tbl, "stg", ["id"])
        spark._jsparkSession.sessionState().sqlParser().parsePlan(sql_plain)
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {tbl}")


def test_compaction_crash_window_recovers(spark, tmp_path):
    """A crash between compaction's two renames leaves the live dir absent
    and the data in its aside dir; store.recover_swap (run on entry to the
    next compaction) must restore it with zero row loss. Crash after the
    second rename (stray aside/tmp dirs) must clean up."""
    import shutil as sh

    from aws_kinesis_spark.sources.lake import compact_lake_partition

    lake = str(tmp_path / "lake")
    part = "data/part=a"
    part_dir = os.path.join(lake, part)
    ev = load(spark, "/root/testdata/sf0.001", "events").limit(100)
    ev.repartition(4).write.mode("overwrite").parquet(part_dir)
    rows = sorted(r.event_id for r in spark.read.parquet(part_dir).collect())

    # simulate the crash window: live dir moved aside, tmp half-written
    sh.move(part_dir, part_dir + store.ASIDE)
    os.makedirs(part_dir + ".tmp")
    assert store.recover_swap(part_dir) == "restored"
    assert sorted(r.event_id for r in spark.read.parquet(part_dir).collect()) == rows
    assert not os.path.exists(part_dir + store.ASIDE)
    assert not os.path.exists(part_dir + ".tmp")
    assert store.recover_swap(part_dir) is None

    # crash after the swap completed: aside copy remains next to live dir
    sh.copytree(part_dir, part_dir + store.ASIDE)
    n_before, n_after = compact_lake_partition(spark, lake, part, target_file_bytes=1 << 30)
    assert (n_before, n_after) == (4, 1)
    assert sorted(r.event_id for r in spark.read.parquet(part_dir).collect()) == rows
    assert not os.path.exists(part_dir + store.ASIDE)


def test_lake_cost_report_accounts_for_actual_files(spark, envelope, tmp_path):
    """C10 (README.md:323-330, 592-599): the manifest-driven cost report
    prices what actually landed — records, bytes, PUT requests, storage."""
    from aws_kinesis_spark.functions.cost import CostRates, lake_cost_report

    lake = str(tmp_path / "lake")
    stats = run_lake_batch(envelope, lake, batch_id=0, raw_backup=False)
    rep = lake_cost_report(spark, lake).collect()
    assert len(rep) == 1
    row = rep[0]
    assert row["batch_id"] == 0
    assert row["n_records"] == stats.n_ok
    assert row["n_files"] == stats.n_files
    assert row["n_bytes"] == stats.bytes_out
    # spot-check the arithmetic against the rate card
    r = CostRates()
    want_put = round(stats.n_files / 1e3 * r.put_per_k_requests, 8)
    assert abs(row["put_usd"] - want_put) < 1e-12
    assert row["total_usd"] > 0
    assert row["total_usd"] >= row["ingest_usd"] + row["storage_usd_month"]

    # round-12 review: a retention/delete rewrite resets recordCount to -1
    # ("unknown") — the report must recount from the surviving entries'
    # footers, never price a NEGATIVE record count into the dollar math
    mpath = os.path.join(lake, "_manifests", "manifest-0000000000.json")
    with open(mpath) as fh:
        m = json.load(fh)
    m["recordCount"] = -1
    with open(mpath, "w") as fh:
        json.dump(m, fh)
    row2 = lake_cost_report(spark, lake).collect()[0]
    assert row2["n_records"] == stats.n_ok  # recounted, not -1
    assert row2["ingest_usd"] >= 0 and row2["total_usd"] > 0


def test_dynamic_schema_inference_and_evolution(spark, tmp_path):
    """SURVEY §1.5 (README.md:163, 545-549): schemas are observed, not
    declared. A producer that starts emitting a new payload field must
    become queryable via crawler-style inference — and the lake must merge
    old and new batch schemas on read with NULL backfill, never an error."""
    from aws_kinesis_spark.sources.envelope import (
        decode_envelope,
        infer_payload_schema,
    )

    orders = load(spark, SF, "orders").limit(50)
    env0 = synthesize_envelope(orders)
    # evolved producer: metadata gains a `source` field
    payload = F.to_json(
        F.struct(
            F.struct(
                F.col("o_orderkey").alias("id"), F.col("o_orderstatus").alias("status")
            ).alias("data"),
            F.struct(F.lit("U").alias("op"), F.lit("dms").alias("source")).alias(
                "metadata"
            ),
        )
    )
    env1 = orders.select(
        F.base64(payload.cast("binary")).cast("binary").alias("data"),
        F.concat_ws("-", F.lit("sales"), F.lit("orders"), F.col("o_orderkey")).alias(
            "partition_key"
        ),
        F.lit("100000000000000000000000000001").cast("decimal(38,0)").alias(
            "sequence_number"
        ),
        F.col("o_orderdate").alias("arrival_ts"),
    )

    # inference over the mixed stream sees the union shape
    sch = infer_payload_schema(env0.unionByName(env1))
    meta_fields = {f.name for f in sch["metadata"].dataType.fields}
    assert {"op", "source"} <= meta_fields

    # new field queryable under the inferred schema; old batches read as NULL
    dec1 = decode_envelope(env1, payload_schema=sch, keep_payload=True)
    assert dec1.filter(F.col("payload.metadata.source") == "dms").count() == 50
    dec0 = decode_envelope(env0, payload_schema=sch, keep_payload=True)
    assert dec0.filter(F.col("payload.metadata.source").isNull()).count() == 50

    # lake-side evolution: differing batch schemas merge on read
    root = str(tmp_path / "data")
    dec0.select("id", "status", "op").write.parquet(os.path.join(root, "batch=0"))
    dec1.select(
        "id", "status", "op", F.col("payload.metadata.source").alias("source")
    ).write.parquet(os.path.join(root, "batch=1"))
    back = spark.read.option("mergeSchema", "true").parquet(root)
    assert "source" in back.columns
    assert back.filter(F.col("source").isNull()).count() == 50
    assert back.count() == 100


def test_whole_lake_compaction_sweeps_every_partition(spark, envelope, tmp_path):
    """Whole-lake compaction: every hour leaf with multiple small files is
    bin-packed; row content across the lake is untouched."""
    from aws_kinesis_spark.sources.lake import compact_lake

    lake = str(tmp_path / "lake")
    # many small files per partition: write the flush twice as appends
    env_small = envelope.limit(600)
    part_dir = os.path.join(lake, "data", "batch=0")
    from aws_kinesis_spark.sources.envelope import decode_envelope

    dec = decode_envelope(env_small).drop("data", "_corrupt")
    for _ in range(3):
        dec.repartition(4).write.mode("append").parquet(part_dir)
    before = spark.read.parquet(part_dir).count()

    done = compact_lake(spark, lake, target_file_bytes=1 << 30)
    assert len(done) == 1
    sub, n_before, n_after = done[0]
    assert n_before == 12 and n_after == 1
    assert spark.read.parquet(part_dir).count() == before


def test_lake_queries_idempotent_across_invocations(spark):
    """The _scratch-backed lake queries must return IDENTICAL results when
    invoked twice in one process (ADVICE r5: scratch dirs are wiped on
    reuse — if the wipe regressed, appended lake trees would double rows
    or leak prior invocations' files into the folder reads)."""
    from aws_kinesis_spark.registry import queries

    q = queries()
    sf = "/root/testdata/sf0.001"
    for name in ["a05_manifest_time_travel", "a14_lake_compaction",
                 "a15_schema_evolution", "a17_snapshot_diff",
                 "a18_orphan_vacuum"]:
        first = q[name](spark, sf).collect()
        second = q[name](spark, sf).collect()
        assert sorted(map(tuple, first)) == sorted(map(tuple, second)), name


def test_deletion_vectors_merge_on_read_and_materialize(spark, envelope, tmp_path):
    """Row-level deletes (SURVEY.md A5+): a committed delete vector
    subtracts exactly its keys at read time without touching data files;
    materialize_deletes folds it copy-on-write and drops the vector, with
    folder reads agreeing before and after."""
    from aws_kinesis_spark.sources.lake import (
        materialize_deletes,
        read_with_deletes,
        run_lake_batch,
        write_delete_vector,
    )

    lake = str(tmp_path / "lake")
    run_lake_batch(envelope, lake, batch_id=0, raw_backup=False)
    data_dir = os.path.join(lake, "data")
    all_ids = {r.id for r in spark.read.parquet(data_dir).select("id").collect()}

    doomed = sorted(all_ids)[:: 5]  # every 5th key
    keys = spark.createDataFrame([(k,) for k in doomed], "id long")
    write_delete_vector(keys, lake, delete_id=1, key_col="id")

    # merge-on-read: data files untouched, reads subtract exactly the keys
    live = {r.id for r in read_with_deletes(spark, lake, key_col="id").select("id").collect()}
    assert live == all_ids - set(doomed)
    raw = {r.id for r in spark.read.parquet(data_dir).select("id").collect()}
    assert raw == all_ids  # no data file was rewritten

    # an uncommitted (.tmp) vector is invisible to readers
    os.makedirs(os.path.join(lake, "_deletes", "delete-0000000099.tmp"))
    live2 = {r.id for r in read_with_deletes(spark, lake, key_col="id").select("id").collect()}
    assert live2 == live

    # copy-on-write fold: vectors gone, folder read now equals merged read
    n_parts = materialize_deletes(spark, lake, key_col="id")
    assert n_parts > 0
    assert not [
        d for d in os.listdir(os.path.join(lake, "_deletes")) if d.startswith("delete-") and not d.endswith(".tmp")
    ]
    folded = {r.id for r in spark.read.parquet(data_dir).select("id").collect()}
    assert folded == live

    # idempotent: a second materialize with no vectors is a no-op
    assert materialize_deletes(spark, lake, key_col="id") == 0


def test_zone_maps_skip_files_without_dropping_rows(spark, tmp_path):
    """A20: on a range-clustered layout the pruned read opens strictly
    fewer files than the folder holds, returns exactly the predicate's
    rows, and degrades to a correct full scan when stats are missing."""
    from aws_kinesis_spark.sources.lake import build_zone_maps, read_zone_pruned

    lake = str(tmp_path / "lake")
    data = os.path.join(lake, "data")
    ev = load(spark, SF, "events")
    ev.repartitionByRange(8, "event_id").write.mode("overwrite").parquet(data)

    # no stats committed yet -> full-scan fallback, same answer
    want = ev.filter(F.col("event_id").between(100, 299)).count()
    assert read_zone_pruned(spark, lake, "event_id", 100, 299).count() == want

    build_zone_maps(spark, lake, ["event_id"])
    pruned = read_zone_pruned(spark, lake, "event_id", 100, 299)
    assert pruned.count() == want

    n_total = len([f for _, _, fs in os.walk(data) for f in fs if f.endswith(".parquet")])
    n_opened = pruned.select(F.input_file_name()).distinct().count()
    assert n_opened < n_total, (n_opened, n_total)  # skipping actually happened

    # empty-overlap range: zero rows, no file opened
    assert read_zone_pruned(spark, lake, "event_id", 10**9, 2 * 10**9).count() == 0


def test_clustered_compaction_enables_zone_pruning(spark, tmp_path):
    """A14+A20: a clustered compaction sweep (cluster_col) rewrites an
    interleaved small-file layout into disjoint value spans, after which
    rebuilt zone maps actually skip files — with row-level content parity
    through the rewrite."""
    from aws_kinesis_spark.sources.lake import (
        build_zone_maps,
        compact_lake,
        read_zone_pruned,
    )

    lake = str(tmp_path / "lake")
    data = os.path.join(lake, "data")
    ev = load(spark, SF, "events")
    # interleaved layout: every file spans ~the full event_id range
    ev.repartition(8).write.mode("overwrite").parquet(data)

    build_zone_maps(spark, lake, ["event_id"])
    unpruned = read_zone_pruned(spark, lake, "event_id", 100, 299)
    n_total = len([f for _, _, fs in os.walk(data) for f in fs if f.endswith(".parquet")])
    assert unpruned.select(F.input_file_name()).distinct().count() == n_total  # nothing skippable

    before = sorted(map(tuple, spark.read.parquet(data).collect()))
    swept = compact_lake(spark, lake, target_file_bytes=4 << 10, cluster_col="event_id")
    assert swept, "compaction visited no partitions"
    assert sorted(map(tuple, spark.read.parquet(data).collect())) == before  # content parity

    build_zone_maps(spark, lake, ["event_id"])
    pruned = read_zone_pruned(spark, lake, "event_id", 100, 299)
    want = ev.filter(F.col("event_id").between(100, 299)).count()
    assert pruned.count() == want
    n_files = len([f for _, _, fs in os.walk(data) for f in fs if f.endswith(".parquet")])
    n_opened = pruned.select(F.input_file_name()).distinct().count()
    assert n_files > 1 and n_opened < n_files, (n_opened, n_files)


def test_compaction_keeps_manifests_truthful_and_vacuum_safe(spark, envelope, tmp_path):
    """Composition safety (A14+A18+A19): a partition rewrite must remap
    the owning manifest's entries to the new files — otherwise manifest
    readers break and vacuum_orphans would DELETE the freshly-compacted
    data as unreferenced."""
    from aws_kinesis_spark.sources.lake import (
        compact_lake,
        materialize_deletes,
        read_via_manifest,
        run_lake_batch,
        vacuum_orphans,
        write_delete_vector,
    )

    lake = str(tmp_path / "lake")
    for b in range(2):
        run_lake_batch(envelope, lake, batch_id=b, raw_backup=False)
    want0 = {r.id for r in read_via_manifest(spark, lake, 0).select("id").collect()}

    swept = compact_lake(spark, lake, target_file_bytes=1 << 30, min_files=1)
    assert swept, "compaction visited no partitions"

    # manifest readers still work, per-batch content intact
    got0 = {r.id for r in read_via_manifest(spark, lake, 0).select("id").collect()}
    assert got0 == want0
    # vacuum finds ZERO orphans — the new files are all referenced
    stats = vacuum_orphans(lake)
    assert stats.n_orphans == 0 and stats.n_kept > 0
    assert {r.id for r in read_via_manifest(spark, lake, 0).select("id").collect()} == want0

    # delete materialization: same contract, recordCount invalidated
    doomed = sorted(want0)[:10]
    write_delete_vector(
        spark.createDataFrame([(k,) for k in doomed], "id long"),
        lake, delete_id=1, key_col="id",
    )
    assert materialize_deletes(spark, lake, key_col="id") > 0
    stats2 = vacuum_orphans(lake)
    assert stats2.n_orphans == 0
    got0b = {r.id for r in read_via_manifest(spark, lake, 0).select("id").collect()}
    assert got0b == want0 - set(doomed)


def test_write_audit_publish_gates_and_atomicity(spark, envelope, tmp_path):
    """A21 WAP: staged batches are invisible to manifest readers and safe
    from vacuum; publish is one rename; a dropped stage leaves no files."""
    from aws_kinesis_spark.sources.lake import (
        audit_staged_batch,
        drop_staged_batch,
        publish_staged_batch,
        read_via_manifest,
        stage_lake_batch,
        vacuum_orphans,
    )

    lake = str(tmp_path / "lake")
    stage_lake_batch(envelope, lake, batch_id=0, raw_backup=False)

    # invisible: no published manifest yet
    with pytest.raises(FileNotFoundError):
        read_via_manifest(spark, lake, 0)
    # staged files are NOT orphans
    assert vacuum_orphans(lake).n_orphans == 0

    res = audit_staged_batch(spark, lake, 0, not_null=["id"], unique_key="id")
    assert res.passed, res.failures
    publish_staged_batch(lake, 0)
    n = read_via_manifest(spark, lake, 0).count()
    assert n == envelope.count()

    # failing stage: audit flags it, drop removes every staged file
    stage_lake_batch(envelope.limit(0), lake, batch_id=1, raw_backup=False)
    res1 = audit_staged_batch(spark, lake, 1, min_rows=1)
    assert not res1.passed
    drop_staged_batch(lake, 1)
    assert not os.path.exists(os.path.join(lake, "data", "batch=1"))
    assert not os.listdir(os.path.join(lake, "_staged"))
    # published batch untouched by the drop
    assert read_via_manifest(spark, lake, 0).count() == n


def test_wap_schema_gate_blocks_incompatible_producer(spark, envelope, tmp_path):
    """A21+A15: the schema-compatibility audit fails a staged batch whose
    producer dropped or retyped a required column, before any publish."""
    from aws_kinesis_spark.sources.lake import audit_staged_batch, stage_lake_batch

    lake = str(tmp_path / "lake")
    stage_lake_batch(envelope, lake, batch_id=0, raw_backup=False)
    ok = audit_staged_batch(
        spark, lake, 0, required_cols={"id": "bigint", "status": "string"}
    )
    assert ok.passed, ok.failures
    missing = audit_staged_batch(spark, lake, 0, required_cols={"price": "double"})
    assert not missing.passed and "missing" in missing.failures[0]
    retyped = audit_staged_batch(spark, lake, 0, required_cols={"id": "string"})
    assert not retyped.passed and "expected string" in retyped.failures[0]


def test_zone_maps_stay_fresh_after_append(spark, envelope, tmp_path):
    """A20 freshness: a data file committed AFTER build_zone_maps is
    must-read, not silently skipped — a normal append must never make a
    range scan return incomplete results."""
    from aws_kinesis_spark.sources.lake import build_zone_maps, read_zone_pruned

    lake = str(tmp_path / "lake")
    run_lake_batch(envelope, lake, batch_id=0, raw_backup=False)
    build_zone_maps(spark, lake, ["id"])
    want0 = read_zone_pruned(spark, lake, "id", 0, 10**9).count()

    # normal append lands AFTER the stats build — no rebuild, no invalidate
    run_lake_batch(envelope, lake, batch_id=1, raw_backup=False)
    got = read_zone_pruned(spark, lake, "id", 0, 10**9).count()
    assert got == 2 * want0, f"append rows dropped by stale zone maps: {got}"
    # narrow range still correct across covered + uncovered files
    narrow = read_zone_pruned(spark, lake, "id", 3, 7)
    folder = spark.read.parquet(os.path.join(lake, "data")).filter(
        F.col("id").between(3, 7)
    )
    assert narrow.count() == folder.count()


def test_vacuum_age_guard_spares_inflight_commits(spark, envelope, tmp_path):
    """A18 retention guard: a data file younger than older_than_seconds is
    indistinguishable from an in-flight commit (data PUT durable, manifest
    PUT pending) and must survive the sweep; an aged sweep removes it."""
    from aws_kinesis_spark.sources.lake import vacuum_orphans

    lake = str(tmp_path / "lake")
    run_lake_batch(envelope, lake, batch_id=0, raw_backup=False)
    run_lake_batch(envelope, lake, batch_id=1, raw_backup=False)
    # crash simulation: batch 1's manifest never landed
    os.remove(os.path.join(lake, "_manifests", "manifest-0000000001.json"))

    guarded = vacuum_orphans(lake)  # default window: files are seconds old
    assert guarded.n_orphans == 0
    assert os.path.isdir(os.path.join(lake, "data", "batch=1"))

    aged = vacuum_orphans(lake, older_than_seconds=0)
    assert aged.n_orphans > 0
    from aws_kinesis_spark.store import list_parquet_files

    assert not list_parquet_files(os.path.join(lake, "data", "batch=1"))
    assert read_via_manifest(spark, lake, 0).count() == envelope.count()


def test_staged_batch_survives_leaf_rewrite(spark, envelope, tmp_path):
    """A21+A14 composition: compacting a STAGED batch's partition must
    remap the staged manifest too — otherwise it points at dead paths and
    the rewritten files are unreferenced, so the next vacuum deletes the
    staged batch's data entirely."""
    from aws_kinesis_spark.sources.lake import (
        compact_lake,
        publish_staged_batch,
        stage_lake_batch,
        vacuum_orphans,
    )

    lake = str(tmp_path / "lake")
    run_lake_batch(envelope, lake, batch_id=0, raw_backup=False)
    stage_lake_batch(envelope, lake, batch_id=1, raw_backup=False)
    want = envelope.count()

    swept = compact_lake(spark, lake, target_file_bytes=1 << 30, min_files=1)
    assert swept, "compaction visited no partitions"

    # staged manifest now lists live files: nothing is orphaned
    assert vacuum_orphans(lake, older_than_seconds=0).n_orphans == 0
    publish_staged_batch(lake, 1)
    back = read_via_manifest(spark, lake, 1)
    assert back.count() == want
    assert back.select("id").distinct().count() == want


def test_empty_delta_reads_return_empty_not_error(spark, envelope, tmp_path):
    """A17 consumer contract: an incremental range holding only empty
    batches (idle producer / all-error flush) is a legitimate empty delta —
    schema intact, zero rows, no exception. Same for a direct manifest read
    of an empty batch."""
    from aws_kinesis_spark.sources.lake import read_incremental

    lake = str(tmp_path / "lake")
    run_lake_batch(envelope, lake, batch_id=0, raw_backup=False)
    run_lake_batch(envelope.limit(0), lake, batch_id=1, raw_backup=False)

    delta = read_incremental(spark, lake, after_batch=0, upto_batch=1)
    assert delta.count() == 0
    assert set(read_via_manifest(spark, lake, 0).columns) == set(delta.columns)

    empty_batch = read_via_manifest(spark, lake, 1)
    assert empty_batch.count() == 0
    assert set(empty_batch.columns) == set(delta.columns)


def test_store_schema_from_one_footer_matches_spark_inference(spark, envelope, tmp_path):
    """The manifest and warehouse readers take their schema from one footer
    on the driver (parquet_store_schema) instead of Spark's inference job.
    Both must agree exactly — types, order, nullability — on a lake
    manifest batch (decimal sequence numbers, timestamps, Spark's footer
    metadata) and on a committed warehouse version."""
    from pyspark.sql import types as T

    from aws_kinesis_spark.store import (
        commit_table_version,
        parquet_store_schema,
        version_dir,
    )
    from aws_kinesis_spark.streaming.pipeline import WAREHOUSE_SCHEMA

    lake = str(tmp_path / "lake")
    run_lake_batch(envelope, lake, batch_id=0, raw_backup=False)
    files = [e["url"] for e in read_manifest(lake, 0)["entries"]]
    lake_schema = spark.read.parquet(*files).schema
    assert lake_schema["sequence_number"].dataType == T.DecimalType(38, 0)
    assert isinstance(
        lake_schema["arrival_ts"].dataType, (T.TimestampType, T.TimestampNTZType)
    )
    assert parquet_store_schema(files[0]) == lake_schema
    assert read_via_manifest(spark, lake, 0).schema == lake_schema

    wh = str(tmp_path / "wh")
    os.makedirs(wh)
    commit_table_version(
        spark.createDataFrame([(1, "open", None)], WAREHOUSE_SCHEMA), wh, 0
    )
    vdir = version_dir(wh, 0)
    assert parquet_store_schema(vdir) == spark.read.parquet(vdir).schema
    # a directory with no data file has no schema to offer
    (tmp_path / "empty").mkdir()
    assert parquet_store_schema(str(tmp_path / "empty")) is None


def test_pooled_sweep_many_leaves_single_remap_pass(spark, envelope, tmp_path):
    """Whole-lake maintenance fans leaf rewrites out on a thread pool and
    remaps every owning manifest in ONE pass: after a 3-batch sweep plus a
    delete materialization, each batch's manifest read returns exactly its
    own (post-delete) content and vacuum finds nothing to reap."""
    from aws_kinesis_spark.sources.lake import (
        compact_lake,
        materialize_deletes,
        vacuum_orphans,
        write_delete_vector,
    )

    lake = str(tmp_path / "lake")
    for b in range(3):
        run_lake_batch(envelope, lake, batch_id=b, raw_backup=False)
    per_batch = {
        b: {r.id for r in read_via_manifest(spark, lake, b).select("id").collect()}
        for b in range(3)
    }

    swept = compact_lake(spark, lake, target_file_bytes=1 << 30, min_files=1)
    assert len(swept) >= 3  # at least one leaf per batch

    doomed = set(sorted(per_batch[0])[:7])
    write_delete_vector(
        spark.createDataFrame([(k,) for k in doomed], "id long"),
        lake, delete_id=0, key_col="id",
    )
    assert materialize_deletes(spark, lake, key_col="id") >= 3

    for b in range(3):
        got = {r.id for r in read_via_manifest(spark, lake, b).select("id").collect()}
        assert got == per_batch[b] - doomed, f"batch {b} content drifted"
    assert vacuum_orphans(lake, older_than_seconds=0).n_orphans == 0


def test_zone_pruned_bounds_coerce_or_raise_clearly(spark, tmp_path):
    """VERDICT r8 #3 (lake): the driver-side zone overlap test must not
    die on a bare TypeError when the caller's bound type differs from the
    stats' — unambiguous coercions apply (str->int, ISO str->timestamp),
    ambiguous ones raise an error naming the column and expected type."""
    from aws_kinesis_spark.sources.lake import build_zone_maps, read_zone_pruned

    lake = str(tmp_path / "lake")
    data = os.path.join(lake, "data")
    ev = load(spark, SF, "events")
    ev.repartitionByRange(4, "event_id").write.mode("overwrite").parquet(data)
    build_zone_maps(spark, lake, ["event_id", "ts"])

    # str bounds on an int column coerce and answer identically
    want = ev.filter(F.col("event_id").between(100, 299)).count()
    assert read_zone_pruned(spark, lake, "event_id", "100", "299").count() == want

    # ISO-string bounds on a timestamp column coerce through fromisoformat
    tlo, thi = ev.agg(F.min("ts"), F.max("ts")).first()
    want_ts = ev.filter(F.col("ts").between(tlo, thi)).count()
    got = read_zone_pruned(spark, lake, "ts", tlo.isoformat(), thi.isoformat())
    assert got.count() == want_ts

    # an int bound on a timestamp column is ambiguous -> named error
    with pytest.raises(TypeError, match="ts.*datetime"):
        read_zone_pruned(spark, lake, "ts", 0, 10**9).count()


def test_zone_bound_coercions_unit():
    """_coerce_zone_bound edge matrix: numeric widening, Decimal, ISO
    strings, date->midnight-datetime — and the ambiguous cases raise a
    TypeError naming the column and the expected type."""
    import datetime as dt
    import decimal

    from aws_kinesis_spark.sources.lake import _coerce_zone_bound as c

    assert c(5, 10.0, "x") == 5  # cross-numeric is comparable: passthrough
    assert c("5", 10, "x") == 5 and isinstance(c("5", 10, "x"), int)
    assert c(5, decimal.Decimal("1.5"), "x") == decimal.Decimal("5")
    ts = dt.datetime(2026, 1, 2, 3, 4, 5)
    assert c("2026-01-02T03:04:05", ts, "x") == ts
    assert c(dt.date(2026, 1, 2), ts, "x") == dt.datetime(2026, 1, 2, 0, 0)
    assert c("2026-01-02", dt.date(2020, 1, 1), "x") == dt.date(2026, 1, 2)
    # passthroughs
    assert c(None, 5, "x") is None
    assert c(5, None, "x") == 5
    assert c(3, 4, "x") == 3  # already comparable
    assert c("b", "a", "x") == "b"  # str vs str: comparable passthrough
    import pytest as _pytest

    # ambiguous: int vs datetime stats
    with _pytest.raises(TypeError, match="mycol.*datetime"):
        c(12345, ts, "mycol")
    with _pytest.raises(TypeError, match="mycol.*date"):
        c(12345, dt.date(2020, 1, 1), "mycol")
    # ADVICE r9 (medium): a non-string bound against STRING stats must
    # raise, not coerce — the driver compares stats LEXICOGRAPHICALLY
    # (str(90) vs '090') while the residual Spark predicate casts
    # numerically, so the old str() fallback silently skipped files whose
    # rows matched the filter
    with _pytest.raises(TypeError, match="mycol.*str"):
        c(90, "090", "mycol")


def test_update_zone_maps_incremental_and_stale_safe(spark, tmp_path):
    """A20+: incremental stats maintenance — an append is covered by
    scanning ONLY the new files (returned count proves it), a compaction
    that replaced files neither crashes the pruned read (stale rows are
    dropped, replacement files are must-read) nor survives the next
    update (dead rows purged)."""
    from aws_kinesis_spark.sources.lake import (
        build_zone_maps,
        compact_lake,
        read_zone_pruned,
        update_zone_maps,
    )

    lake = str(tmp_path / "lake")
    data = os.path.join(lake, "data")
    ev = load(spark, SF, "events")
    first = ev.filter(F.col("event_id") < 500)
    rest = ev.filter(F.col("event_id") >= 500)
    first.repartitionByRange(4, "event_id").write.mode("overwrite").parquet(data)
    build_zone_maps(spark, lake, ["event_id"])

    # append lands new files -> update scans exactly those
    n_before = len([f for _, _, fs in os.walk(data) for f in fs if f.endswith(".parquet")])
    rest.repartitionByRange(4, "event_id").write.mode("append").parquet(data)
    n_after = len([f for _, _, fs in os.walk(data) for f in fs if f.endswith(".parquet")])
    n_new = update_zone_maps(spark, lake, ["event_id"])
    assert n_new == n_after - n_before, (n_new, n_before, n_after)

    want = ev.filter(F.col("event_id").between(100, 899)).count()
    pruned = read_zone_pruned(spark, lake, "event_id", 100, 899)
    assert pruned.count() == want
    # pruning works across BOTH builds' stats: a range inside the FIRST
    # build's span must skip the second build's files (and vice versa)
    n_total = len([f for _, _, fs in os.walk(data) for f in fs if f.endswith(".parquet")])
    narrow = read_zone_pruned(spark, lake, "event_id", 100, 299)
    assert narrow.count() == ev.filter(F.col("event_id").between(100, 299)).count()
    assert narrow.select(F.input_file_name()).distinct().count() < n_total

    # compaction replaces files; stats now reference dead paths — the
    # pruned read must still answer (stale rows dropped, new files
    # must-read), and the next update purges the dead rows
    before = sorted(map(tuple, spark.read.parquet(data).collect()))
    assert compact_lake(spark, lake, target_file_bytes=1 << 20, cluster_col="event_id")
    assert sorted(map(tuple, spark.read.parquet(data).collect())) == before
    got = read_zone_pruned(spark, lake, "event_id", 100, 899)
    assert got.count() == want  # no crash, no lost rows (stale rows dropped)
    update_zone_maps(spark, lake, ["event_id"])
    zm = spark.read.parquet(os.path.join(lake, "_zonemaps"))
    from urllib.parse import unquote, urlparse

    live = {
        os.path.realpath(os.path.join(r, f))
        for r, _, fs in os.walk(data)
        for f in fs
        if f.endswith(".parquet")
    }
    def loc(p):
        return os.path.realpath(unquote(urlparse(p).path)) if "://" in p else os.path.realpath(p)
    assert {loc(r[0]) for r in zm.select("__file").collect()} <= live
    # and the refreshed stats prune again
    pruned2 = read_zone_pruned(spark, lake, "event_id", 100, 299)
    assert pruned2.count() == ev.filter(F.col("event_id").between(100, 299)).count()


def test_symlink_export_tracks_committed_snapshot(spark, tmp_path):
    """A24: the symlink manifest export equals the committed file set, and
    a re-export after compaction converges — rewritten partitions list the
    new objects, superseded per-batch objects disappear from the export
    even while they still exist on disk awaiting vacuum."""
    import os

    from aws_kinesis_spark.sources.envelope import synthesize_envelope
    from aws_kinesis_spark.sources.lake import (
        export_symlink_manifests,
        read_via_symlink_manifests,
        run_lake_batch,
    )
    from aws_kinesis_spark.tables import load

    o = load(spark, "/root/testdata/sf0.001", "orders")
    lake = os.path.join(str(tmp_path), "lake")
    for i, m in enumerate([0, 1]):
        run_lake_batch(
            synthesize_envelope(o.filter(F.col("o_orderkey") % 2 == m)),
            lake, batch_id=i, raw_backup=False, files_per_partition=4,
        )
    n = export_symlink_manifests(lake)
    assert n > 0
    before = read_via_symlink_manifests(spark, lake)
    assert before.count() == o.count()

    # committed-protocol fidelity: exported lines == manifest entries
    import json as _json

    committed = set()
    mdir = os.path.join(lake, "_manifests")
    for name in os.listdir(mdir):
        if name.startswith("manifest-") and name.endswith(".json"):
            with open(os.path.join(mdir, name)) as fh:
                committed |= {os.path.abspath(e["url"]) for e in _json.load(fh)["entries"]}
    exported = set()
    sym = os.path.join(lake, "_symlink_format_manifest")
    for dirpath, _d, files in os.walk(sym):
        if "manifest" in files:
            with open(os.path.join(dirpath, "manifest")) as fh:
                exported |= {l.strip() for l in fh if l.strip()}
    assert exported == committed

    def _exported() -> set:
        out = set()
        for dirpath, _d, files in os.walk(sym):
            if "manifest" in files:
                with open(os.path.join(dirpath, "manifest")) as fh:
                    out |= {l.strip() for l in fh if l.strip()}
        return out

    def _committed() -> set:
        out = set()
        for name in os.listdir(mdir):
            if name.startswith("manifest-") and name.endswith(".json"):
                with open(os.path.join(mdir, name)) as fh:
                    out |= {
                        os.path.abspath(e["url"])
                        for e in _json.load(fh)["entries"]
                    }
        return out

    # a new committed batch must appear on re-export (refresh adds)
    run_lake_batch(
        synthesize_envelope(o.limit(40)), lake, batch_id=2, raw_backup=False
    )
    export_symlink_manifests(lake)
    grown = _exported()
    assert grown == _committed() and grown > exported

    # a batch leaving the committed set (retention dropping its manifest)
    # must leave the export too — including its partition's manifest file
    os.remove(os.path.join(mdir, "manifest-0000000002.json"))
    export_symlink_manifests(lake)
    shrunk = _exported()
    assert shrunk == _committed() == exported
    assert not any(
        "batch=2" in dirpath
        for dirpath, _d, files in os.walk(sym)
        if "manifest" in files
    )
    assert read_via_symlink_manifests(spark, lake).count() == o.count()


@pytest.mark.parametrize("taint", ["some", "all", "none"])
def test_replayed_batch_leaves_error_paths_identical(spark, envelope, tmp_path, taint):
    """VERDICT r9 #5: a REPLAYED lake batch (same batch_id, raw_backup on)
    must leave the DLQ (errors/) and the raw backup (raw/) — not just the
    data path — content-identical: the error paths are idempotent under
    replay across every taint mix (clean, partly poisoned, all-poison)."""
    import hashlib

    from aws_kinesis_spark.store import list_parquet_files

    lake = str(tmp_path / "lake")
    if taint == "some":
        env = _corrupt_some(envelope)
    elif taint == "all":
        env = envelope.withColumn("data", F.lit("!!not-base64!!").cast("binary"))
    else:
        env = envelope

    # processed_at is PROCESSING-time enrichment (C4) — it legitimately
    # differs between the original flush and its replay, as do the
    # partition columns derived from it; everything else must be identical
    clock_cols = {"processed_at", "year", "month", "day", "hour"}

    def state(sub: str):
        root = os.path.join(lake, sub)
        files = list_parquet_files(root) if os.path.isdir(root) else []
        if not files:
            return (0, None)
        pdf = spark.read.parquet(root).toPandas()
        cols = sorted(c for c in pdf.columns if c not in clock_cols)
        body = pdf[cols].astype(str).sort_values(cols).to_csv(index=False)
        return (len(files), hashlib.md5(body.encode()).hexdigest())

    s1 = run_lake_batch(env, lake, batch_id=3, raw_backup=True)
    before = {sub: state(sub) for sub in ("data", "errors", "raw")}
    s2 = run_lake_batch(env, lake, batch_id=3, raw_backup=True)  # replay
    after = {sub: state(sub) for sub in ("data", "errors", "raw")}

    assert after == before, f"replay drifted a store: {before} -> {after}"
    assert (s1.n_ok, s1.n_error) == (s2.n_ok, s2.n_error)
    # the taint mix actually exercised the path it claims to
    if taint == "none":
        assert s1.n_error == 0 and before["errors"] == (0, None)
    else:
        assert s1.n_error > 0 and before["errors"][0] > 0
    assert before["raw"][0] > 0  # backup holds the unparsed envelope


def test_wap_concurrent_stagers_fence_single_winner(spark, envelope, tmp_path):
    """VERDICT r9 #8: two writers interleaving stage/publish on the SAME
    batch_id must resolve to exactly one whole batch — the later stager's
    flush purged and replaced the earlier one's data AND manifest, so the
    earlier writer's publish is FENCED (raises) instead of blessing the
    other writer's batch under its own audit. No mixed manifest: every
    published entry exists and the read-back is exactly the winner's
    rows."""
    from aws_kinesis_spark.sources.lake import (
        publish_staged_batch,
        stage_lake_batch,
        validate_manifest,
    )

    lake = str(tmp_path / "lake")
    env_a = envelope.limit(50)
    env_b = envelope.limit(80)
    s_a = stage_lake_batch(env_a, lake, batch_id=5, raw_backup=False)
    s_b = stage_lake_batch(env_b, lake, batch_id=5, raw_backup=False)
    assert s_a.writer and s_b.writer and s_a.writer != s_b.writer

    # the superseded writer's publish fails loudly...
    with pytest.raises(RuntimeError, match="fenced"):
        publish_staged_batch(lake, 5, writer=s_a.writer)
    # ...and has published nothing
    assert not os.path.exists(
        os.path.join(lake, "_manifests", "manifest-0000000005.json")
    )

    # the surviving stager publishes its batch whole
    publish_staged_batch(lake, 5, writer=s_b.writer)
    back = read_via_manifest(spark, lake, 5)
    assert back.count() == s_b.n_ok == 80
    assert back.select("id").distinct().count() == 80
    # no mixed manifest: every listed object exists with the counted rows
    assert validate_manifest(lake, 5, spark).passed

    # replaying the winner's publish is now a no-op failure (already
    # published, nothing staged) rather than silent double-publish
    with pytest.raises(FileNotFoundError):
        publish_staged_batch(lake, 5, writer=s_b.writer)


def test_wap_publish_refuses_when_staged_files_vanished(spark, envelope, tmp_path):
    """ADVICE r10 (the TOCTOU the token cannot see): a concurrent stager
    that has purged/rewritten the batch's data files but NOT yet renamed
    its manifest into _staged/ leaves the first writer's token intact —
    its publish must still refuse, because its entries now point at
    superseded storage. The existence sweep after the token check is that
    refusal."""
    import json as _json

    from aws_kinesis_spark.sources.lake import publish_staged_batch, stage_lake_batch

    lake = str(tmp_path / "lake")
    s = stage_lake_batch(envelope.limit(40), lake, batch_id=7, raw_backup=False)
    staged = os.path.join(lake, "_staged", "manifest-0000000007.json")
    with open(staged) as fh:
        first = _json.load(fh)["entries"][0]["url"]
    os.remove(first)  # the concurrent stager's purge, mid-flush
    with pytest.raises(RuntimeError, match="no longer exist"):
        publish_staged_batch(lake, 7, writer=s.writer)
    # nothing published under the stale audit
    assert not os.path.exists(
        os.path.join(lake, "_manifests", "manifest-0000000007.json")
    )


def test_envelope_fixture_keeps_scale_factors_apart(spark):
    """Regression (round-11 review): one process runs MULTIPLE scale
    factors (bench warms at sf0.001 then times at sf0.1; suites mix smoke
    and correctness dirs). Each (query, sf_dir) fixture must keep its own
    path — a shared path lets a later sf_dir's build replace the data
    behind an earlier cache entry, silently serving the wrong corpus."""
    from aws_kinesis_spark.plans.pipeline_queries import _envelope_fixture
    from aws_kinesis_spark.sources.envelope import synthesize_envelope
    from aws_kinesis_spark.tables import load

    sfs = ["/root/testdata/sf0.001", "/root/testdata/sf0.01"]
    counts = {}
    for sf in sfs:  # build both, in order
        o = load(spark, sf, "orders")
        counts[sf] = _envelope_fixture(
            spark, sf, "fixture_iso_test", lambda o=o: synthesize_envelope(o)
        ).count()
    for sf in sfs:  # re-read AFTER the other sf built: must be unchanged
        o = load(spark, sf, "orders")
        env = _envelope_fixture(
            spark, sf, "fixture_iso_test", lambda o=o: synthesize_envelope(o)
        )
        assert env.count() == counts[sf] == o.count()
    assert counts[sfs[0]] != counts[sfs[1]]  # the two scales really differ


def test_vacuum_heals_compaction_crash_instead_of_deleting_backup(spark, envelope, tmp_path):
    """A crash in _rewrite_leaf's swap window leaves the partition's ONLY
    copy in its aside dir — unreferenced and old-mtimed, exactly what the
    orphan sweep would delete. vacuum_orphans must heal the swap first (restore the leaf),
    then sweep; zero rows may be lost."""
    import shutil as _sh

    from aws_kinesis_spark.sources.lake import (
        read_via_manifest,
        run_lake_batch,
        vacuum_orphans,
    )

    lake = str(tmp_path / "lake")
    run_lake_batch(envelope.limit(60), lake, batch_id=0, raw_backup=False)
    before = read_via_manifest(spark, lake, 0).count()
    # simulate the swap-window crash: live leaf renamed to trash, new dir
    # never landed
    data = os.path.join(lake, "data")
    leaf = os.path.dirname(
        next(
            os.path.join(dp, f)
            for dp, _d, fs in os.walk(data)
            for f in fs
            if f.endswith(".parquet")
        )
    )
    os.replace(leaf, leaf + store.ASIDE)
    stats = vacuum_orphans(lake, older_than_seconds=0)
    assert os.path.isdir(leaf), "swap not healed before the sweep"
    assert read_via_manifest(spark, lake, 0).count() == before
    assert stats.n_orphans == 0  # the backup was never treated as orphans


def test_compact_lake_skips_inflight_swap_dirs(spark, envelope, tmp_path):
    """compact_lake must never treat a stranded aside dir as a live leaf
    (it would compact the aside copy under the wrong name): the sweep
    heals the crash first and the healed leaf compacts under its own name."""
    from aws_kinesis_spark.sources.lake import (
        compact_lake,
        read_via_manifest,
        run_lake_batch,
    )

    lake = str(tmp_path / "lake")
    run_lake_batch(
        envelope.limit(80), lake, batch_id=0, raw_backup=False, files_per_partition=4
    )
    before = read_via_manifest(spark, lake, 0).count()
    data = os.path.join(lake, "data")
    leaf = os.path.dirname(
        next(
            os.path.join(dp, f)
            for dp, _d, fs in os.walk(data)
            for f in fs
            if f.endswith(".parquet")
        )
    )
    os.replace(leaf, leaf + store.ASIDE)
    results = compact_lake(spark, lake, min_files=2)
    assert not any(".tmp" in sub for sub, _b, _a in results)
    assert not os.path.exists(leaf + store.ASIDE)
    assert read_via_manifest(spark, lake, 0).count() == before


def test_staged_batch_never_touches_published_manifests(spark, envelope, tmp_path, monkeypatch):
    """Round-11 review: staging must park the manifest DIRECTLY in
    _staged/ — the old route through _manifests/ opened a window where the
    unaudited batch was visible (and a crash left it published forever).
    Simulated crash right after the flush: _manifests stays empty."""
    import aws_kinesis_spark.sources.lake as L

    lake = str(tmp_path / "lake")
    real_replace = os.replace
    hits = {"n": 0}

    def crash_on_token_install(src, dst):
        # 1st replace on the staged name = write_manifest's commit (allow);
        # 2nd = the fencing-token install (crash there)
        if str(dst).endswith("manifest-0000000003.json") and "_staged" in str(dst):
            hits["n"] += 1
            if hits["n"] == 2:
                raise RuntimeError("crash before the token lands")
        return real_replace(src, dst)

    monkeypatch.setattr(L.os, "replace", crash_on_token_install)
    with pytest.raises(RuntimeError, match="token"):
        L.stage_lake_batch(envelope.limit(30), lake, batch_id=3, raw_backup=False)
    monkeypatch.undo()
    # the half-staged batch is invisible to every manifest reader...
    assert not os.path.exists(
        os.path.join(lake, "_manifests", "manifest-0000000003.json")
    )
    # ...and retractable: the tokenless staged manifest can be dropped
    assert os.path.exists(os.path.join(lake, "_staged", "manifest-0000000003.json"))
    L.drop_staged_batch(lake, 3)
    assert not os.path.exists(os.path.join(lake, "_staged", "manifest-0000000003.json"))


def test_read_incremental_tolerates_dropped_batches_but_not_staged(spark, envelope, tmp_path):
    """Round-11 review: drop_staged_batch creates legal batch-id gaps — an
    incremental read treats them as zero-file batches instead of crashing
    forever. A batch still parked in _staged raises (skipping it would
    silently drop it from checkpointed consumers once it publishes)."""
    from aws_kinesis_spark.sources.lake import (
        drop_staged_batch,
        publish_staged_batch,
        read_incremental,
        run_lake_batch,
        stage_lake_batch,
    )

    lake = str(tmp_path / "lake")
    run_lake_batch(envelope.limit(20), lake, batch_id=0, raw_backup=False)
    stage_lake_batch(envelope.limit(10), lake, batch_id=1, raw_backup=False)
    drop_staged_batch(lake, 1)  # gap at id 1, forever
    run_lake_batch(envelope.limit(30), lake, batch_id=2, raw_backup=False)
    assert read_incremental(spark, lake, after_batch=0, upto_batch=2).count() == 30
    # a STAGED-but-unpublished batch in range refuses the read
    s = stage_lake_batch(envelope.limit(5), lake, batch_id=3, raw_backup=False)
    with pytest.raises(RuntimeError, match="staged but unpublished"):
        read_incremental(spark, lake, after_batch=0, upto_batch=3)
    publish_staged_batch(lake, 3, writer=s.writer)
    assert read_incremental(spark, lake, after_batch=2, upto_batch=3).count() == 5


def test_materialize_deletes_heals_stranded_swap_first(spark, envelope, tmp_path):
    """A leaf stranded in its aside dir by a swap-window crash must be
    healed BEFORE the delete-materialization walk — not rewritten under the
    aside name while manifests point at the missing live paths."""
    from aws_kinesis_spark.sources.lake import (
        materialize_deletes,
        read_with_deletes,
        run_lake_batch,
        validate_manifest,
        write_delete_vector,
    )

    lake = str(tmp_path / "lake")
    run_lake_batch(envelope, lake, batch_id=0, raw_backup=False)
    data_dir = os.path.join(lake, "data")
    all_ids = {r.id for r in spark.read.parquet(data_dir).select("id").collect()}
    doomed = sorted(all_ids)[::5]
    write_delete_vector(
        spark.createDataFrame([(k,) for k in doomed], "id long"),
        lake,
        delete_id=1,
        key_col="id",
    )
    # strand one leaf exactly as a swap-window crash would
    leaves = [dp for dp, ds, fs in os.walk(data_dir)
              if not ds and any(f.endswith(".parquet") for f in fs)]
    victim = leaves[0]
    os.replace(victim, victim + store.ASIDE)
    n = materialize_deletes(spark, lake, key_col="id")
    assert n > 0
    # no aside dirs remain anywhere; the healed leaf was rewritten in place
    assert not [dp for dp, _, _ in os.walk(data_dir) if dp.endswith(".tmp")]
    folded = {r.id for r in spark.read.parquet(data_dir).select("id").collect()}
    assert folded == all_ids - set(doomed)
    # manifests stayed truthful through heal + rewrite
    res = validate_manifest(lake, 0, spark=spark)
    assert res.passed, res.failures


def test_expire_partitions_reaps_stranded_swap_trash(spark, envelope, tmp_path):
    """Retention must heal stranded leaf swaps first — expired rows must
    not survive inside an aside dir the hour= regex never matches."""
    import datetime as dt

    from aws_kinesis_spark.sources.lake import expire_partitions, run_lake_batch

    lake = str(tmp_path / "lake")
    run_lake_batch(envelope, lake, batch_id=0, raw_backup=False)
    data_dir = os.path.join(lake, "data")
    leaves = [dp for dp, ds, fs in os.walk(data_dir)
              if not ds and any(f.endswith(".parquet") for f in fs)]
    victim = leaves[0]
    os.replace(victim, victim + store.ASIDE)
    # everything is in the past relative to this horizon
    stats = expire_partitions(lake, retention_hours=1,
                              now=dt.datetime(2099, 1, 1))
    assert stats.n_partitions == len(leaves)
    leftover = [dp for dp, _, fs in os.walk(data_dir)
                if any(f.endswith(".parquet") for f in fs)]
    assert leftover == [], leftover


def test_zone_maps_work_on_partition_columns(spark, tmp_path):
    """Round-13 review (repro'd): stats on a hive PARTITION column built
    fine but crashed every incremental update and pruned read — the
    file-list reads dropped the partition column without basePath."""
    from aws_kinesis_spark.sources.lake import (
        build_zone_maps,
        read_zone_pruned,
        update_zone_maps,
    )

    lake = str(tmp_path / "lake")
    data = os.path.join(lake, "data")
    df = spark.range(0, 100).withColumn("hour", (F.col("id") % 4).cast("int"))
    df.write.partitionBy("hour").parquet(data)
    build_zone_maps(spark, lake, ["hour"])
    spark.range(100, 140).withColumn(
        "hour", (F.col("id") % 4).cast("int")
    ).write.mode("append").partitionBy("hour").parquet(data)
    assert update_zone_maps(spark, lake, ["hour"]) > 0
    got = read_zone_pruned(spark, lake, "hour", 1, 2)
    assert got.count() == 140 // 4 * 2
    assert set(got.select("hour").distinct().toPandas()["hour"]) == {1, 2}


def test_drop_staged_batch_honors_the_writer_fence(spark, envelope, tmp_path):
    """Round-13 review: the WAP failure path is as destructive as publish —
    a fenced-out writer's drop must raise instead of destroying the
    superseding writer's staged batch."""
    from aws_kinesis_spark.sources.lake import (
        audit_staged_batch,
        drop_staged_batch,
        stage_lake_batch,
    )

    lake = str(tmp_path / "lake")
    s_a = stage_lake_batch(envelope, lake, batch_id=5, raw_backup=False)
    s_b = stage_lake_batch(envelope, lake, batch_id=5, raw_backup=False)  # supersedes A
    with pytest.raises(RuntimeError, match="fenced out"):
        drop_staged_batch(lake, 5, writer=s_a.writer)
    # B's staged batch is intact and still auditable
    res = audit_staged_batch(spark, lake, 5)
    assert res.passed, res.failures
    # B itself (or an unfenced single-writer call) can drop it
    assert drop_staged_batch(lake, 5, writer=s_b.writer) > 0


def test_retry_default_ladder_reaches_the_documented_cap():
    """Round-13 review: the DEFAULT attempt budget must realize the
    documented 1 s -> 32 s ladder — six attempts stopped at 16 s."""
    from aws_kinesis_spark.streaming.retry import retry_with_backoff

    delays = []

    def always_fail():
        raise OSError("down")

    with pytest.raises(OSError):
        retry_with_backoff(always_fail, sleep=delays.append)
    assert delays == [1.0, 2.0, 4.0, 8.0, 16.0, 32.0]


def test_null_op_records_route_to_the_dlq_not_the_void(spark):
    """Round-13 review: valid JSON missing metadata.op used to pass the
    corrupt gate and then fail BOTH null-unsafe op branches of every
    downstream split — vanishing from latest AND deletes. A NULL op is
    now corrupt, so the record lands in the DLQ instead."""
    import base64
    import json as _json

    from aws_kinesis_spark.sources.envelope import decode_envelope

    from decimal import Decimal

    def env_row(payload: dict, key: str, seq: int):
        raw = base64.b64encode(_json.dumps(payload).encode())
        return (raw, key, Decimal(seq), "2024-01-01T00:00:00")

    rows = [
        env_row({"data": {"id": 1, "status": "x"},
                 "metadata": {"op": "U"}}, "k1", 1),
        env_row({"data": {"id": 2, "status": "y"}}, "k2", 2),       # no metadata
        env_row({"data": {"id": 3, "status": "z"},
                 "metadata": {"op": None}}, "k3", 3),               # explicit null
    ]
    env = spark.createDataFrame(
        rows,
        "data BINARY, partition_key STRING, sequence_number DECIMAL(38,0), "
        "arrival_ts STRING",
    ).withColumn("arrival_ts", F.to_timestamp("arrival_ts"))
    decoded = decode_envelope(env)
    flags = {r.id: r["_corrupt"] for r in decoded.collect()}
    assert flags[1] is False
    assert flags[2] is True and flags[3] is True
    # the DLQ branch (corrupt side) holds exactly the op-less records
    assert decoded.filter(F.col("_corrupt")).count() == 2


def test_synthesize_envelope_epoch_three_does_not_overflow(spark):
    """Round-13 review: epoch * 1e9 multiplied in int32 — epoch >= 3
    overflowed (ANSI kill, or wrapped sequence numbers BELOW epoch 0's
    with ANSI off, inverting latest-wins across epochs)."""
    orders = load(spark, SF, "orders").limit(5)
    seqs = {}
    for ep in (0, 3):
        env = synthesize_envelope(orders, epoch=ep)
        seqs[ep] = min(r.sequence_number for r in env.select("sequence_number").collect())
    assert seqs[3] > seqs[0]
    assert seqs[3] - seqs[0] == 3 * 1_000_000_000


def test_purge_batch_retracts_published_manifest(tmp_path):
    """Round-13 review: a crash-replay purges data/batch=N while the prior
    attempt's PUBLISHED manifest still lists those files — external
    manifest readers ("readers consume manifest, never folder") would see
    a committed-looking manifest pointing at deleted objects for the whole
    rewrite window. purge_batch now retracts the batch's manifest FIRST;
    other batches' manifests are untouched."""
    from aws_kinesis_spark.sources.lake import purge_batch

    lake = tmp_path / "lake"
    (lake / "_manifests").mkdir(parents=True)
    (lake / "data" / "batch=3").mkdir(parents=True)
    (lake / "data" / "batch=3" / "part-0.parquet").write_bytes(b"x")
    for b in (2, 3):
        (lake / "_manifests" / f"manifest-{b:010d}.json").write_text("{}")

    purge_batch(str(lake), 3)
    assert not (lake / "data" / "batch=3").exists()
    assert not (lake / "_manifests" / "manifest-0000000003.json").exists()
    assert (lake / "_manifests" / "manifest-0000000002.json").exists()
    # idempotent: a second purge (nothing left) must not raise
    purge_batch(str(lake), 3)


def test_decode_envelope_null_status_routes_to_dlq(spark):
    """Round-13 review: valid JSON missing data.status passed the corrupt
    gate and overwrote the key's real status with NULL through latest-wins
    merges. The data-level gate must enforce the same stable core the
    evolved-schema check demands (id, status, op)."""
    import base64

    from aws_kinesis_spark.sources.envelope import decode_envelope

    def env_row(payload: str):
        return (
            base64.b64encode(payload.encode()),
            "sales-orders-1",
            1,
            None,
        )

    rows = [
        env_row('{"data":{"id":7},"metadata":{"op":"U"}}'),  # status absent
        env_row('{"data":{"id":8,"status":"A"},"metadata":{"op":"U"}}'),
    ]
    env = spark.createDataFrame(
        rows,
        "data binary, partition_key string, sequence_number long, arrival_ts timestamp",
    )
    got = {r.id: r._corrupt for r in decode_envelope(env).collect()}
    assert got == {7: True, 8: False}


def test_infer_payload_schema_guards_and_drops_malformed(spark, tmp_path):
    """Round-13 review: (a) a streaming frame must get a named error, not
    a deep AnalysisException from the sampling action; (b) a record that
    base64-decodes but is not JSON must not plant a phantom
    _corrupt_record field into the inferred schema."""
    import base64

    import pytest as _pytest

    from aws_kinesis_spark.sources.envelope import infer_payload_schema
    from aws_kinesis_spark.streaming.pipeline import envelope_stream

    rows = [
        (base64.b64encode(b'{"data":{"id":1,"status":"A"},"metadata":{"op":"I"}}'),
         "pk", 1, None),
        (base64.b64encode(b"hello world not json"), "pk", 2, None),
    ]
    schema = "data binary, partition_key string, sequence_number long, arrival_ts timestamp"
    env = spark.createDataFrame(rows, schema)
    inferred = infer_payload_schema(env)
    assert "_corrupt_record" not in inferred.fieldNames()
    assert {"data", "metadata"} <= set(inferred.fieldNames())

    inp = str(tmp_path / "env")
    env.write.parquet(inp)
    with _pytest.raises(ValueError, match="streaming"):
        infer_payload_schema(envelope_stream(spark, inp))


# --------------------------------------------------------------------------
# start_lake_path's two flush shapes: the driver shape under
# store.DRIVER_MAX_BYTES, the Spark shape above it or without byte metadata
# --------------------------------------------------------------------------

LAKE_GATES = {"driver": store.DRIVER_MAX_BYTES, "spark": 0}
# processing-time enrichment and the hour partition values derived from
# it: they differ between two runs of one input, everything else must not
CLOCK_COLS = {"processed_at", *PARTITION_COLS}


def _lake_input(inp: str, parts, first: int = 0) -> str:
    """Append each frame of ``parts`` as one envelope file, its mtime
    ordering it after the files already there, so a stream with
    maxFilesPerTrigger=1 runs one trigger per part, in order."""
    for i, part in enumerate(parts, start=first):
        part.repartition(1).write.mode("append").parquet(inp)
        for f in os.listdir(inp):
            path = os.path.join(inp, f)
            if f.endswith(".parquet") and os.path.getmtime(path) > i * 1000:
                os.utime(path, (i * 1000, i * 1000))
    return inp


def _run_lake(spark, inp: str, root: str, gate: int, monkeypatch):
    """Drain ``inp`` through start_lake_path under ``gate``, one input file
    per trigger; returns the lake dir and the finished query."""
    from aws_kinesis_spark.streaming.pipeline import envelope_stream, start_lake_path

    monkeypatch.setattr(store, "DRIVER_MAX_BYTES", gate)
    q = start_lake_path(
        envelope_stream(spark, inp, max_files_per_trigger=1),
        os.path.join(root, "lake"),
        os.path.join(root, "ckpt"),
    )
    q.awaitTermination(300)
    assert q.exception() is None
    return os.path.join(root, "lake"), q


def _spy_driver_writes(monkeypatch) -> list[str]:
    """Record the out dir of every store.write_hive_arrow call: the lake's
    driver shape writes its data through it, the Spark shape never does."""
    calls: list[str] = []
    real = store.write_hive_arrow

    def spy(tbl, out_dir, part_cols):
        calls.append(os.path.basename(out_dir))
        real(tbl, out_dir, part_cols)

    monkeypatch.setattr(store, "write_hive_arrow", spy)
    return calls


def _clockless_rows(df) -> list[tuple]:
    cols = sorted(c for c in df.columns if c not in CLOCK_COLS)
    return sorted(tuple(r) for r in df.select(*cols).collect())


def _lake_leaves(lake: str) -> list[tuple[str, int]]:
    """(batch dir, data files) per ``batch/year/month/day/hour`` leaf
    under data/. The hour values follow the processing clock, so they are
    left out; a batch has one ``processed_at``, so one leaf."""
    data = os.path.join(lake, "data")
    leaves = []
    for dp, _dirs, fs in os.walk(data):
        n = sum(f.endswith(".parquet") for f in fs)
        if n:
            parts = os.path.relpath(dp, data).split(os.sep)
            assert [p.partition("=")[0] for p in parts] == ["batch", *PARTITION_COLS]
            leaves.append((parts[0], n))
    return sorted(leaves)


def _newest_leaf_hour(lake: str):
    """The newest hour a data leaf of ``lake`` is partitioned under."""
    import datetime as dt
    import re

    pat = re.compile(r"year=(\d+)/month=(\d+)/day=(\d+)/hour=(\d+)/")
    return max(
        dt.datetime(*map(int, pat.search(f.replace(os.sep, "/")).groups()))
        for f in store.list_parquet_files(os.path.join(lake, "data"))
    )


def _manifest_ids(lake: str) -> list[int]:
    return sorted(
        int(n[len("manifest-"):-len(".json")])
        for n in os.listdir(os.path.join(lake, "_manifests"))
        if n.startswith("manifest-") and n.endswith(".json")
    )


def test_lake_flush_driver_and_spark_shapes_land_identical_lakes(
    spark, envelope, tmp_path, monkeypatch
):
    """The same envelope input through start_lake_path under the gate (the
    driver shape) and with the gate at 0 (the Spark shape) lands the same
    lake: equal rows through every reader (manifest, incremental, catalog
    table, e08's folder read), equal DLQ rows, equal manifest record
    counts that validate, the same hour leaves with one file each, and the
    same Spark schema from the footers."""
    import pyspark.sql.types as T

    from aws_kinesis_spark.sources.lake import read_incremental, validate_manifest

    env = _corrupt_some(envelope)
    parts = [env.filter(F.col("sequence_number") % 3 == k) for k in range(3)]
    inp = _lake_input(str(tmp_path / "input"), parts)
    runs = {}
    for shape, gate in LAKE_GATES.items():
        lake, _q = _run_lake(spark, inp, str(tmp_path / shape), gate, monkeypatch)
        data = os.path.join(lake, "data")
        batches = _manifest_ids(lake)
        register_lake_table(spark, f"parity_{shape}", lake)
        table = spark.table(f"parity_{shape}")
        # every leaf's partition values are its rows' processing hour
        assert table.filter(
            (F.year("processed_at") != F.col("year"))
            | (F.month("processed_at") != F.col("month"))
            | (F.dayofmonth("processed_at") != F.col("day"))
            | (F.hour("processed_at") != F.col("hour"))
        ).count() == 0
        file_schemas = {
            store.parquet_store_schema(f) for f in store.list_parquet_files(data)
        }
        runs[shape] = {
            "batches": batches,
            "leaves": _lake_leaves(lake),
            "manifest": [
                _clockless_rows(read_via_manifest(spark, lake, b)) for b in batches
            ],
            "incremental": _clockless_rows(read_incremental(spark, lake, -1, batches[-1])),
            "table": _clockless_rows(table),
            "e08": _clockless_rows(
                spark.read.parquet(data).select("id", "status", "op", "partition_key")
            ),
            "dlq": _clockless_rows(spark.read.parquet(os.path.join(lake, "errors"))),
            "record_counts": [read_manifest(lake, b)["recordCount"] for b in batches],
            "valid": [validate_manifest(lake, b, spark).passed for b in batches],
            "schema": store.parquet_store_schema(data),
            "table_schema": table.schema,
            "file_schemas": file_schemas,
        }

    driver, spark_run = runs["driver"], runs["spark"]
    for key in driver:
        assert driver[key] == spark_run[key], key
    assert driver["batches"] == [0, 1, 2]
    assert driver["leaves"] == [(f"batch={b}", 1) for b in range(3)]
    assert all(driver["valid"])
    n_bad = env.filter(F.col("partition_key").endswith("00")).count()
    assert len(driver["dlq"]) == n_bad > 0
    assert sum(driver["record_counts"]) == len(driver["table"]) == env.count() - n_bad
    schema = driver["schema"]
    assert schema["arrival_ts"].dataType == T.TimestampType()
    assert schema["processed_at"].dataType == T.TimestampType()
    assert schema["sequence_number"].dataType == T.DecimalType(38, 0)
    for c in ["batch", *PARTITION_COLS]:
        assert schema[c].dataType == T.IntegerType(), c
    assert len(driver["file_schemas"]) == 1


def test_gated_lake_trigger_runs_one_spark_job(spark, envelope, tmp_path, monkeypatch):
    """A lake trigger under the byte gate makes exactly one Spark action,
    the decoded batch's Arrow collect; the Spark shape of the same trigger
    runs its input count, the clustered write and the DLQ write (4-5
    jobs). Jobs are counted in the query's job group and outside any group,
    where a flush's pool threads submit theirs."""
    tracker = spark.sparkContext.statusTracker()
    inp = _lake_input(str(tmp_path / "input"), [_corrupt_some(envelope)])
    jobs = {}
    for shape, gate in LAKE_GATES.items():
        before = set(tracker.getJobIdsForGroup(None))
        _lake, q = _run_lake(spark, inp, str(tmp_path / shape), gate, monkeypatch)
        ungrouped = set(tracker.getJobIdsForGroup(None)) - before
        jobs[shape] = len(tracker.getJobIdsForGroup(str(q.runId))) + len(ungrouped)
    assert jobs["driver"] == 1, jobs
    assert jobs["spark"] >= 4, jobs


def test_lake_flush_takes_the_spark_shape_without_byte_metadata_or_above_the_gate(
    spark, envelope, tmp_path, monkeypatch
):
    """The driver shape needs the batch's input bytes from the file
    source's WAL and at most store.DRIVER_MAX_BYTES of them. A batch over
    the gate, or from a source with no file WAL (the kinesis_sim source,
    standing in for Kinesis), takes the Spark shape and still lands every
    record."""
    import time

    from aws_kinesis_spark.sources import kinesis_sim
    from aws_kinesis_spark.streaming.pipeline import start_lake_path

    calls = _spy_driver_writes(monkeypatch)
    inp = _lake_input(str(tmp_path / "input"), [envelope])
    lake, _q = _run_lake(spark, inp, str(tmp_path / "under"), LAKE_GATES["driver"], monkeypatch)
    assert calls == ["batch=0"]
    assert read_manifest(lake, 0)["recordCount"] == envelope.count()

    calls.clear()
    lake, _q = _run_lake(spark, inp, str(tmp_path / "over"), 1, monkeypatch)
    assert calls == []
    assert read_manifest(lake, 0)["recordCount"] == envelope.count()

    monkeypatch.setattr(store, "DRIVER_MAX_BYTES", LAKE_GATES["driver"])
    kinesis_sim.register(spark)
    stream = (
        spark.readStream.format("kinesis_sim")
        .option("shards", 2)
        .option("recordsPerShard", 30)
        .option("pollRecords", 10)
        .load()
    )
    lake = str(tmp_path / "kinesis" / "lake")
    q = start_lake_path(
        stream, lake, str(tmp_path / "kinesis" / "ckpt"),
        available_now=False, trigger_seconds=0,
    )

    def landed() -> int:
        if not os.path.isdir(os.path.join(lake, "_manifests")):
            return 0
        return sum(read_manifest(lake, b)["recordCount"] for b in _manifest_ids(lake))

    try:
        deadline = time.time() + 120
        while time.time() < deadline and landed() < 60:
            time.sleep(0.5)
    finally:
        q.stop()
    assert q.exception() is None
    assert landed() == 60
    assert calls == []


@pytest.mark.parametrize("shape", ["driver", "spark"])
def test_lake_empty_and_all_corrupt_triggers_commit_like_any_other(
    spark, envelope, tmp_path, monkeypatch, shape
):
    """An empty input file, a file of only corrupt records and a normal
    file, one trigger each, commit manifests of 0, 0 and n records on
    either flush shape; the DLQ holds exactly the corrupt records, and an
    incremental read over the empty batches is empty with the lake's
    schema."""
    from aws_kinesis_spark.sources.lake import read_incremental, validate_manifest

    poison = envelope.filter(F.col("partition_key").endswith("7")).withColumn(
        "data", F.lit("!!not-base64!!").cast("binary")
    )
    normal = _corrupt_some(envelope)
    inp = _lake_input(str(tmp_path / "input"), [envelope.limit(0), poison, normal])
    lake, _q = _run_lake(spark, inp, str(tmp_path), LAKE_GATES[shape], monkeypatch)

    bad_normal = normal.filter(F.col("partition_key").endswith("00"))
    n_ok = normal.count() - bad_normal.count()
    assert _manifest_ids(lake) == [0, 1, 2]
    assert [read_manifest(lake, b)["recordCount"] for b in (0, 1, 2)] == [0, 0, n_ok]
    assert all(validate_manifest(lake, b, spark).passed for b in (0, 1, 2))

    key = ["partition_key", "sequence_number"]
    dlq = spark.read.parquet(os.path.join(lake, "errors"))
    want = poison.select(*key, F.lit(1).alias("batch")).unionByName(
        bad_normal.select(*key, F.lit(2).alias("batch"))
    )
    assert sorted(dlq.select(*key, "batch").collect()) == sorted(want.collect())

    delta = read_incremental(spark, lake, -1, 1)
    full = read_incremental(spark, lake, -1, 2)
    assert delta.count() == 0 and delta.schema == full.schema
    assert read_via_manifest(spark, lake, 1).count() == 0
    assert full.count() == n_ok


@pytest.mark.parametrize("first,replay", [("spark", "driver"), ("driver", "spark")])
def test_lake_batch_replayed_across_the_gate_lands_one_copy(
    spark, envelope, tmp_path, monkeypatch, first, replay
):
    """A batch committed by one flush shape and replayed by the other (the
    checkpoint's commit entry is removed, so the restarted query re-runs
    the batch from its offset log) lands one copy of every record: a
    first attempt's leaf in an earlier hour is purged, and the data and
    DLQ paths hold the same content as before the replay."""
    import hashlib
    import shutil

    from aws_kinesis_spark.sources.lake import validate_manifest

    calls = _spy_driver_writes(monkeypatch)
    env = _corrupt_some(envelope)
    inp = _lake_input(str(tmp_path / "input"), [env])
    root = str(tmp_path / "run")

    def state(lake: str, sub: str):
        path = os.path.join(lake, sub)
        pdf = spark.read.parquet(path).toPandas()
        cols = sorted(c for c in pdf.columns if c not in CLOCK_COLS)
        body = pdf[cols].astype(str).sort_values(cols).to_csv(index=False)
        return len(pdf), hashlib.md5(body.encode()).hexdigest()

    lake, _q = _run_lake(spark, inp, root, LAKE_GATES[first], monkeypatch)
    assert (calls == ["batch=0"]) == (first == "driver")
    before = {sub: state(lake, sub) for sub in ("data", "errors")}
    n_ok = read_manifest(lake, 0)["recordCount"]

    batch_root = os.path.join(lake, "data", "batch=0")
    leaf = next(
        dp for dp, _d, fs in os.walk(batch_root) if any(f.endswith(".parquet") for f in fs)
    )
    stale = os.path.join(batch_root, "year=1970", "month=1", "day=1", "hour=0")
    shutil.copytree(leaf, stale)
    for name in ("0", ".0.crc"):
        path = os.path.join(root, "ckpt", "commits", name)
        if os.path.exists(path):
            os.remove(path)

    calls.clear()
    lake, _q = _run_lake(spark, inp, root, LAKE_GATES[replay], monkeypatch)
    assert (calls == ["batch=0"]) == (replay == "driver")
    assert not os.path.exists(os.path.join(batch_root, "year=1970"))
    after = {sub: state(lake, sub) for sub in ("data", "errors")}
    assert after == before
    assert before["errors"][0] > 0
    assert read_manifest(lake, 0)["recordCount"] == n_ok
    assert validate_manifest(lake, 0, spark).passed
    back = read_via_manifest(spark, lake, 0)
    assert back.count() == back.select("sequence_number").distinct().count() == n_ok


def test_lake_maintenance_over_mixed_driver_and_spark_batches(
    spark, envelope, tmp_path, monkeypatch
):
    """A lake whose batches were written by both flush shapes goes through
    the maintenance passes with the results of an all-Spark-written lake:
    merge-on-read deletes, orphan vacuum, whole-lake compaction and
    retention expiry, with every manifest validating after each."""
    import datetime as dt
    import shutil

    from aws_kinesis_spark.sources.lake import (
        compact_lake,
        expire_partitions,
        read_incremental,
        read_with_deletes,
        vacuum_orphans,
        validate_manifest,
        write_delete_vector,
    )

    env = _corrupt_some(envelope)
    parts = [env.filter(F.col("sequence_number") % 4 == k) for k in range(4)]
    doomed = spark.createDataFrame([(k,) for k in range(0, 3000, 7)], "id long")
    results = {}
    for name, gates in (("mixed", ("driver", "spark")), ("spark", ("spark", "spark"))):
        root = str(tmp_path / name)
        inp = str(tmp_path / name / "input")
        # batches 0-1 under the first gate, 2-3 under the second
        _lake_input(inp, parts[:2])
        lake, _q = _run_lake(spark, inp, root, LAKE_GATES[gates[0]], monkeypatch)
        _lake_input(inp, parts[2:], first=2)
        lake, _q = _run_lake(spark, inp, root, LAKE_GATES[gates[1]], monkeypatch)
        batches = _manifest_ids(lake)

        def valid() -> bool:
            return all(validate_manifest(lake, b, spark).passed for b in batches)

        r = {"batches": batches, "valid_0": valid()}
        r["rows"] = _clockless_rows(read_incremental(spark, lake, -1, batches[-1]))
        write_delete_vector(doomed, lake, delete_id=0, key_col="id")
        r["live"] = _clockless_rows(read_with_deletes(spark, lake, key_col="id"))
        first = store.list_parquet_files(os.path.join(lake, "data"))[0]
        orphan = os.path.join(os.path.dirname(first), "orphan.parquet")
        shutil.copy(first, orphan)
        os.utime(orphan, (0, 0))
        vac = vacuum_orphans(lake, older_than_seconds=60)
        r["vacuum"] = (vac.n_orphans, vac.n_kept)
        compacted = compact_lake(spark, lake, min_files=1)
        r["compacted"] = sorted(
            (sub.split(os.sep)[1], before, after) for sub, before, after in compacted
        )
        r["valid_compacted"] = valid()
        r["rows_compacted"] = _clockless_rows(
            read_incremental(spark, lake, -1, batches[-1])
        )
        now = _newest_leaf_hour(lake) + dt.timedelta(hours=3)
        ex = expire_partitions(lake, retention_hours=1, now=now)
        r["expired"] = (ex.n_partitions, ex.n_files, ex.n_manifests_rewritten)
        r["valid_expired"] = valid()
        r["left"] = store.list_parquet_files(os.path.join(lake, "data"))
        results[name] = r

    assert results["mixed"] == results["spark"]
    r = results["mixed"]
    assert r["batches"] == [0, 1, 2, 3]
    assert r["valid_0"] and r["valid_compacted"] and r["valid_expired"]
    assert r["rows_compacted"] == r["rows"]
    assert 0 < len(r["live"]) < len(r["rows"])
    assert [b for b, _before, _after in r["compacted"]] == [f"batch={b}" for b in range(4)]
    assert r["vacuum"] == (1, 4)
    assert r["expired"] == (4, 4, 4) and r["left"] == []


def test_lake_driver_flush_holds_at_most_five_times_its_input_bytes(spark, tmp_path):
    """The driver shape's memory bound: the Arrow table its one collect
    returns is at most 5x the batch's compressed input bytes on the CDC
    envelope (orders, 1 % corrupt; measured 3.5-4.5x at sf0.001 and
    sf0.01), so a flush at the 32 MB gate holds at most ~160 MB."""
    from aws_kinesis_spark.sources.envelope import ENVELOPE_SCHEMA
    from aws_kinesis_spark.streaming.pipeline import _lake_batch_for_driver

    inp = str(tmp_path / "input")
    env = synthesize_envelope(load(spark, SF, "orders"))
    _corrupt_some(env).repartition(1).write.parquet(inp)
    in_bytes = sum(os.path.getsize(f) for f in store.list_parquet_files(inp))
    tbl = _lake_batch_for_driver(spark.read.schema(ENVELOPE_SCHEMA).parquet(inp)).toArrow()
    assert tbl.num_rows == env.count()
    assert tbl.nbytes <= 5 * in_bytes, tbl.nbytes / in_bytes
