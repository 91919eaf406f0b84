"""The Parquet lake path (reference README.md:113-135, 283-303, 413-430).

Batch realization of the flagship lifecycle: decode -> split ok/errors ->
hive-partitioned snappy parquet write -> atomic manifest commit -> raw
backup. The manifest is the commit record: "If PUT #1 fails -> no manifest ->
zero partial data" (README.md:429-430); readers consume the manifest, never
the folder (README.md:429, 453-455).

One flush lifecycle, two write shapes behind it: write_lake_batch (a
clustered Spark write) and write_lake_batch_on_driver (pyarrow on the
driver, for a batch of known input bytes under store.DRIVER_MAX_BYTES).
Both land the same ``data/``, ``errors/`` layout; every flush
(run_lake_batch, stage_lake_batch, the streaming lake path) is
purge_batch -> one shape -> write_manifest.

Scale notes: the only shuffle is the repartition by partition columns before
the write (avoids small files — one task per partition dir); everything else
is narrow. File listings happen on the driver but are O(files-per-batch),
not O(table).
"""

from __future__ import annotations

import json
import os
import shutil
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from aws_kinesis_spark import store
from aws_kinesis_spark.sources.envelope import decode_envelope

PARTITION_COLS = ["year", "month", "day", "hour"]
# what the DLQ (errors/) keeps of a corrupt record: the raw envelope
DLQ_COLS = ["data", "partition_key", "sequence_number", "arrival_ts"]


def with_partition_cols(df: DataFrame, ts_col: str = "processed_at") -> DataFrame:
    """Derive the hive partition columns from the processing timestamp —
    the `!{timestamp:yyyy}/MM/dd/HH` prefix template (README.md:130, 424)."""
    return (
        df.withColumn("year", F.year(ts_col))
        .withColumn("month", F.month(ts_col))
        .withColumn("day", F.dayofmonth(ts_col))
        .withColumn("hour", F.hour(ts_col))
    )


def table_from_key(key_col: str = "partition_key") -> F.Column:
    """Record-derived table name from the composite ``schema-table-id``
    partition key (README.md:75, 225): ``sales-orders-98765`` -> ``orders``.
    This is the reference's dynamic-partitioning template
    ``!{partitionKeyFromLambda:path}`` -> per-table folders
    (README.md:157, 434)."""
    return F.element_at(F.split(key_col, "-"), 2)


def split_errors(decoded: DataFrame, corrupt_col: str = "_corrupt") -> tuple[DataFrame, DataFrame]:
    """DLQ split (README.md:134, 156): parse failures are quarantined with an
    error prefix, never dropped silently — 'zero records lost'."""
    ok = decoded.filter(~F.col(corrupt_col)).drop(corrupt_col)
    bad = decoded.filter(F.col(corrupt_col)).drop(corrupt_col)
    return ok, bad


def _batch_dir(lake_dir: str, sub: str, batch_id: int) -> str:
    """A batch's prefix in one of the lake's batch-scoped sinks: ``data``
    (the hive-partitioned lake), ``errors`` (the DLQ) or ``raw`` (the
    backup)."""
    return os.path.join(lake_dir, sub, f"batch={batch_id}")


def _manifest_path(lake_dir: str, batch_id: int, subdir: str = "_manifests") -> str:
    """A batch's manifest file: published under ``_manifests/``, parked for
    write-audit-publish under ``_staged/``."""
    return os.path.join(lake_dir, subdir, f"manifest-{batch_id:010d}.json")


def purge_batch(lake_dir: str, batch_id: int) -> None:
    """Make a batch replay idempotent across partition-value changes.

    Partition columns derive from processing time (README.md:130), so a
    replayed flush in a later hour writes to DIFFERENT subpartitions than the
    first attempt; dynamic partition overwrite alone would leave the first
    attempt's files behind — duplicates, violating the reference's
    "zero duplicates" invariant (README.md:204). Deleting the batch-scoped
    prefixes first makes replay exact regardless of when it runs.

    The batch's PUBLISHED manifest is retracted first: a replay rewrites
    the data under new part-file names, so a manifest surviving the
    rewrite window would point external readers ("readers consume
    manifest, never folder", README.md:429) at deleted objects. Retracted,
    the batch reads as not-yet-committed until write_manifest republishes
    it — the same visibility it had before its first commit.
    """
    try:
        os.remove(_manifest_path(lake_dir, batch_id))
    except FileNotFoundError:
        pass
    for sub in ("data", "errors", "raw"):
        shutil.rmtree(_batch_dir(lake_dir, sub, batch_id), ignore_errors=True)


def write_manifest(
    lake_dir: str,
    batch_id: int,
    files: list[str],
    n_records: int,
    subdir: str = "_manifests",
) -> str:
    """Atomic manifest commit (README.md:291-303, 514-523): entries[] lists
    the exact object URLs; the manifest appears only after all data files
    are durable (store.publish_file, the reference's ordered-two-PUT
    protocol, README.md:413-421). Idempotent per batch_id.
    ``subdir="_staged"`` parks the manifest for WAP staging instead of
    publishing it — the batch is then invisible to every manifest reader
    until publish_staged_batch's rename."""
    payload = {
        "batchId": batch_id,
        "entries": [{"url": f} for f in files],
        "recordCount": n_records,
        "totalBytes": sum(os.path.getsize(f) for f in files),
    }
    final = _manifest_path(lake_dir, batch_id, subdir)
    store.publish_file(final, json.dumps(payload, indent=1))
    return final


def iter_manifests(lake_dir: str, subdirs=("_manifests",), newest_first=False):
    """Yield (path, payload) for every committed ``manifest-*.json`` under
    ``subdirs`` of the lake, in batch order per subdir. In-flight publishes
    are dot-prefixed temps and never match."""
    for sub in subdirs:
        d = os.path.join(lake_dir, sub)
        names = sorted(os.listdir(d), reverse=newest_first) if os.path.isdir(d) else []
        for name in names:
            if name.startswith("manifest-") and name.endswith(".json"):
                path = os.path.join(d, name)
                with open(path) as fh:
                    yield path, json.load(fh)


def read_manifest(lake_dir: str, batch_id: int) -> dict:
    with open(_manifest_path(lake_dir, batch_id)) as fh:
        return json.load(fh)


@dataclass
class FlushStats:
    """Per-flush accounting (README.md:260, 276-278): record counts, input
    vs output bytes, compression ratio."""

    batch_id: int
    n_ok: int
    n_error: int
    bytes_out: int
    n_files: int
    manifest_path: str
    # WAP fencing token (set by stage_lake_batch only): publish presents it
    # back, and a stager that was overwritten by a concurrent writer on the
    # same batch_id fails its publish instead of publishing the other
    # writer's batch as its own
    writer: str | None = None


def _footer_rows(files: list[str]) -> int:
    """Rows in parquet ``files``, from their footers on the driver: the
    row-group metadata the writer just produced, O(own files) reads and no
    Spark job."""
    import pyarrow.parquet as pq

    return sum(pq.ParquetFile(f).metadata.num_rows for f in files)


def write_lake_batch(
    env: DataFrame,
    lake_dir: str,
    batch_id: int,
    raw_backup: bool = True,
    dynamic_tables: bool = False,
    files_per_partition: int = 1,
) -> tuple[list[str], int, int]:
    """The Spark shape of one lake flush: decode -> DLQ split -> one
    clustered, hive-partitioned snappy parquet write under
    ``data/batch=<id>/`` -> the corrupt records under ``errors/batch=<id>/``
    and, with ``raw_backup``, the unparsed envelope under ``raw/batch=<id>/``.
    Returns the batch's data files, their footer row count and the corrupt
    record count. It commits nothing: the caller purges the batch first
    (purge_batch) and writes its manifest after (write_manifest), as
    run_lake_batch, stage_lake_batch and start_lake_path's flush do.

    ``dynamic_tables=True`` enables the reference's dynamic partitioning
    (README.md:157, 434): the table name derived from each record's
    composite partition key becomes the leading hive partition, so the lake
    grows per-table folders (``table=orders/year=…``) and table-scoped reads
    prune everything else.

    ``files_per_partition`` is the write-parallelism dial: the default 1
    keeps the strict one-file-per-partition small-files discipline, but
    because Catalyst defers row projections past the exchange, the whole
    decode chain then executes on the per-partition writer tasks — a batch
    whose records land in FEW partitions (one flush = one hour) serializes
    on few cores. Salting the repartition spreads decode+write across
    N tasks per partition dir at the cost of N files there (Firehose
    itself emits multiple objects per prefix per flush when throughput
    demands; compaction re-packs later). Values land deterministically
    (hash of the sequence number), so replay stays idempotent."""
    from concurrent.futures import ThreadPoolExecutor

    spark = env.sparkSession
    # Spread the DECODE, not just the write: the partition columns derive
    # from the decoded rows, so the key-computing map stage runs on the
    # INPUT's split layout — and a buffered flush usually arrives as ONE
    # object, serializing the whole base64+JSON chain on one task no
    # matter how the landing repartition is shaped (measured: the decode
    # dominated the flush at sf0.1). Round-robin to CLUSTER parallelism —
    # NOT to files_per_partition, which dials output-file fan-out per hive
    # dir and would cap a 10 GB flush's decode at 2 cores when the caller
    # set files_per_partition=2 to limit small files.
    # The extra batch-sized exchange is cheap next to a serial decode,
    # file CONTENTS stay deterministic because the landing layout is keyed
    # by (partition cols, salt) downstream, and the raw backup below
    # intentionally keeps the UNspread env (its byte-fidelity contract
    # covers records, and a backup should mirror arrival shape). Gated on
    # files_per_partition > 1 — the caller's declaration that this flush
    # is big enough to fan out (a KB-scale trickle batch should not pin
    # defaultParallelism near-empty tasks).
    spread = (
        env.repartition(spark.sparkContext.defaultParallelism)
        if files_per_partition > 1
        else env
    )
    # Cache the decoded batch for the flush's duration: the DLQ branch
    # below otherwise re-runs the full base64+JSON decode over EVERY
    # record a second time just to keep the corrupt ones (the main write
    # projects the ok rows, so Catalyst cannot share the pass). A flush
    # batch is buffer-bounded by construction (Firehose flushes MBs, not
    # TBs), so the cache is scale-safe; unpersisted in the finally so
    # nothing outlives the flush. The main data write materializes it.
    decoded = decode_envelope(spread).cache()
    ok, bad = split_errors(decoded)
    # the lake stores decoded columns; the raw payload lives in the backup
    ok = with_partition_cols(ok.drop("data")).withColumn("batch", F.lit(batch_id))
    part_cols = list(PARTITION_COLS)
    if dynamic_tables:
        ok = ok.withColumn("table", table_from_key())
        part_cols = ["table", *part_cols]
    if files_per_partition > 1:
        salt = F.pmod(F.xxhash64("sequence_number"), F.lit(files_per_partition))
        shaped = ok.repartition(*part_cols, salt)
    else:
        shaped = ok.repartition(*part_cols)

    # the raw backup (README.md:605 S3BackupMode=AllData: the unparsed
    # envelope, no decode on this branch) and the input count feed no
    # downstream ordering constraint except the manifest-last commit —
    # overlap them with the data write as concurrent Spark jobs instead
    # of paying three serial passes over the batch
    try:
        with ThreadPoolExecutor(max_workers=2) as pool:
            raw_f = (
                pool.submit(
                    lambda: env.write.mode("overwrite").parquet(
                        _batch_dir(lake_dir, "raw", batch_id)
                    )
                )
                if raw_backup
                else None
            )
            n_in_f = pool.submit(env.count)
            (
                shaped.write.mode("overwrite")
                .partitionBy("batch", *part_cols)
                # dynamic overwrite as a PER-WRITE option, not session
                # conf: a session-conf write from this flush would race
                # any job planning concurrently on a pool thread (DV
                # commits overlap this very write), and STATIC overwrite
                # here would truncate every other batch's data
                .option("partitionOverwriteMode", "dynamic")
                .option("compression", "snappy")
                .parquet(os.path.join(lake_dir, "data"))
            )
            # an all-error or empty flush writes no data files, and the
            # batch commits with zero ok records
            files = store.list_parquet_files(_batch_dir(lake_dir, "data", batch_id))
            n_ok = _footer_rows(files)
            # DLQ accounting by subtraction: ok ∪ bad partitions the input
            # exactly (split_errors is one boolean filter pair), and both
            # counts are metadata-cheap — counting `bad` directly would cost
            # a whole extra job over the cached batch
            n_error = n_in_f.result() - n_ok
            if n_error:
                (
                    bad.select(*DLQ_COLS)
                    .write.mode("overwrite")
                    .parquet(_batch_dir(lake_dir, "errors", batch_id))
                )
            if raw_f is not None:
                raw_f.result()  # manifest-last: backup is durable before commit
    finally:
        # the flush is done with the decoded batch — release it so a
        # long-lived caller (streaming foreachBatch) never accumulates
        # per-flush caches, crash or no crash
        decoded.unpersist()
    return files, n_ok, n_error


def _lake_batch_for_driver(batch_df: DataFrame) -> DataFrame:
    """The lake flush's driver-shape frame: the decoded batch with its hour
    partition values, as one Spark action collects it. The raw ``data``
    column rides only on corrupt rows (the DLQ keeps it; the lake drops
    it), which halves the collected table: the Arrow table measures 3.5-4.5x
    the batch's compressed input bytes on the CDC envelope (sf0.001 and
    sf0.01 orders), against 6-8x with ``data`` on every row."""
    decoded = with_partition_cols(decode_envelope(batch_df))
    return decoded.withColumn("data", F.when(F.col("_corrupt"), F.col("data")))


def write_lake_batch_on_driver(
    batch_df: DataFrame, lake_dir: str, batch_id: int
) -> tuple[list[str], int, int]:
    """The driver shape of one lake flush, for a batch whose input bytes
    are known and at most ``store.DRIVER_MAX_BYTES``: one Spark action
    collects the decoded batch with its partition values as Arrow (decode,
    ``processed_at`` and the hour values stay Catalyst expressions,
    evaluated once). The driver splits ok and corrupt rows, writes the ok
    rows one file per hour leaf (store.write_hive_arrow), the corrupt rows
    as one DLQ file. It lands the leaves, file schemas and DLQ rows
    write_lake_batch lands, returns what it returns, and likewise commits
    nothing.

    Driver memory holds the decoded table (3.5-4.5x the compressed input
    bytes, see _lake_batch_for_driver) and, when the batch has corrupt
    rows, a filtered copy of its ok rows: under the 32 MB gate the peak
    stays below ~300 MB."""
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    tbl = _lake_batch_for_driver(batch_df).toArrow()
    corrupt = tbl.column("_corrupt")
    n_bad = pc.sum(corrupt).as_py() or 0
    ok = tbl.filter(pc.invert(corrupt)) if n_bad else tbl
    ok = ok.drop_columns(["_corrupt", "data"])
    batch_root = _batch_dir(lake_dir, "data", batch_id)
    if ok.num_rows:
        store.write_hive_arrow(ok, batch_root, PARTITION_COLS)
    if n_bad:
        bad = tbl.filter(corrupt)
        err_dir = _batch_dir(lake_dir, "errors", batch_id)
        os.makedirs(err_dir, exist_ok=True)
        pq.write_table(
            bad.select(DLQ_COLS),
            os.path.join(err_dir, "part-0.parquet"),
            compression="snappy",
        )
    files = store.list_parquet_files(batch_root)
    return files, _footer_rows(files), n_bad


def run_lake_batch(
    env: DataFrame,
    lake_dir: str,
    batch_id: int = 0,
    raw_backup: bool = True,
    dynamic_tables: bool = False,
    files_per_partition: int = 1,
) -> FlushStats:
    """One buffer flush through the lake path (README.md:266-303):
    purge_batch, then write_lake_batch (decode -> DLQ split -> partitioned
    snappy parquet -> backup; its options are write_lake_batch's), then
    the manifest.

    Idempotent per batch_id: the batch-scoped prefixes are purged before the
    rewrite (see purge_batch — partition values derive from processing time,
    so replay in a later hour would otherwise strand the first attempt's
    files), then data lands under data/batch=<id>/ subpartitions. A retried
    flush produces zero duplicates (README.md:204).
    """
    purge_batch(lake_dir, batch_id)
    files, n_ok, n_error = write_lake_batch(
        env, lake_dir, batch_id, raw_backup, dynamic_tables, files_per_partition
    )
    manifest = write_manifest(lake_dir, batch_id, files, n_ok)
    return FlushStats(
        batch_id=batch_id,
        n_ok=n_ok,
        n_error=n_error,
        bytes_out=sum(os.path.getsize(f) for f in files),
        n_files=len(files),
        manifest_path=manifest,
    )


def _empty_like_lake(spark: SparkSession, lake_dir: str) -> DataFrame:
    """Zero-row DataFrame with the table's schema, taken from the newest
    non-empty committed manifest. An all-empty-batch range is a legitimate
    incremental outcome (an idle producer), not an error — but a table that
    has never committed a single file has no schema to offer."""
    for _path, payload in iter_manifests(lake_dir, newest_first=True):
        entries = [e["url"] for e in payload["entries"]]
        if entries:
            # one footer read, not O(files): a batch is one flush of one
            # DataFrame, so every entry in a manifest shares one schema
            # (cross-batch evolution is irrelevant — the NEWEST committed
            # schema is exactly what an empty delta should carry)
            schema = store.parquet_store_schema(entries[0])
            return spark.read.schema(schema).parquet(entries[0]).limit(0)
    raise ValueError(
        f"lake {lake_dir} has no non-empty committed batch to take a schema from"
    )


def read_via_manifest(spark: SparkSession, lake_dir: str, batch_id: int) -> DataFrame:
    """Warehouse-style read: 'COPY reads the manifest, never the folder'
    (README.md:429, 453-455). An empty manifest (all-error/empty flush) is
    a committed zero-row batch: returns an empty DataFrame with the
    table's schema, not an error. The manifest names the files and one
    footer gives the schema, so building the frame launches no Spark job."""
    entries = [e["url"] for e in read_manifest(lake_dir, batch_id)["entries"]]
    if not entries:
        return _empty_like_lake(spark, lake_dir)
    return spark.read.schema(store.parquet_store_schema(entries[0])).parquet(*entries)


def read_incremental(
    spark: SparkSession, lake_dir: str, after_batch: int, upto_batch: int
) -> DataFrame:
    """Incremental consumption between two manifest commits (the
    Iceberg-style incremental append scan over the reference's manifest
    protocol, README.md:291-303): read EXACTLY the files committed by
    batches in (after_batch, upto_batch] — a consumer that checkpointed
    after_batch catches up by reading only the delta, never rescanning the
    table. File-level pruning: each manifest lists only its own batch's
    objects, so the diff is a manifest union, no data listing or scan of
    prior commits at any size. A range holding only empty batches yields an
    empty delta (schema from the latest non-empty commit), not an error.

    Batch-id GAPS are legal: drop_staged_batch retracts an audited-and-
    failed stage forever, so a missing manifest whose id was never
    published reads as a zero-file batch. A manifest missing because the
    batch is still parked in ``_staged/`` raises instead — skipping it
    would silently drop the batch from every consumer that checkpoints
    past it once it publishes.

    Planned on the driver like read_via_manifest: the schema is the first
    file's footer, as Spark's own one-footer inference would take it."""
    files: list[str] = []
    for b in range(after_batch + 1, upto_batch + 1):
        try:
            files.extend(e["url"] for e in read_manifest(lake_dir, b)["entries"])
        except FileNotFoundError:
            if os.path.exists(_manifest_path(lake_dir, b, "_staged")):
                raise RuntimeError(
                    f"read_incremental: batch {b} is staged but unpublished — "
                    "a consistent delta through it does not exist yet "
                    "(publish or drop the stage first)"
                )
            continue  # dropped stage: the batch never existed to readers
    if not files:
        return _empty_like_lake(spark, lake_dir)
    return spark.read.schema(store.parquet_store_schema(files[0])).parquet(*files)


def register_lake_table(spark: SparkSession, name: str, lake_dir: str) -> None:
    """Catalog registration + partition discovery (README.md:121, 163,
    541-549): the crawler's job is a view over the partition-discovering
    parquet read (README.md:446 — 'no Glue needed'). The schema comes from
    one footer (parquet_store_schema), so registering launches no Spark
    job; Spark infers it only when no footer can answer."""
    data = os.path.join(lake_dir, "data")
    schema = store.parquet_store_schema(data)
    reader = spark.read if schema is None else spark.read.schema(schema)
    reader.parquet(data).createOrReplaceTempView(name)


@dataclass
class VacuumStats:
    """Orphan-file vacuum accounting: what one sweep removed."""

    n_orphans: int
    n_bytes: int
    n_kept: int


def vacuum_orphans(lake_dir: str, older_than_seconds: float = 3600.0) -> VacuumStats:
    """Remove data files no manifest references (the Delta VACUUM /
    Iceberg remove_orphan_files analogue over the reference's manifest
    protocol): a writer that crashed between PUT #1 (data) and PUT #2
    (manifest) leaves durable-but-uncommitted files — invisible to manifest
    readers (README.md:429-430, the commit protocol's whole point) but
    VISIBLE to folder readers (`spark.read.parquet(dir)`, README.md:446).
    Vacuuming restores folder-read/manifest-read equivalence and reclaims
    the space.

    Driver-side O(files + manifest entries) metadata work, no Spark job —
    the same listing cost a flush already pays. Only ``data/`` is swept:
    errors/ and raw/ are intentionally manifest-less sinks.

    ``older_than_seconds`` is the retention guard Delta VACUUM / Iceberg
    remove_orphan_files carry for the same reason: a writer mid-commit
    (data PUT durable, manifest PUT pending — the exact window the ordered
    two-PUT protocol allows, README.md:413-421) is indistinguishable from
    a crash orphan by reference-counting alone. Files whose mtime is
    within the guard window are kept; pass 0 only when no writer can be
    in flight (tests, single-writer maintenance windows)."""
    import time

    # heal any stranded leaf swap FIRST: after a swap-window crash the
    # partition's only copy lives in its aside dir — unreferenced by any
    # manifest and old-mtimed, i.e. exactly what the orphan sweep below
    # would otherwise delete
    data_dir = os.path.join(lake_dir, "data")
    store.recover_swaps(data_dir)
    cutoff = time.time() - older_than_seconds
    # staged (write-audit-publish) manifests count as references: a batch
    # awaiting its audit is pending, not orphaned
    referenced = {
        os.path.realpath(e["url"])
        for _path, payload in iter_manifests(lake_dir, ("_manifests", "_staged"))
        for e in payload["entries"]
    }
    n_orphans = n_bytes = n_kept = 0
    for f in store.list_parquet_files(data_dir):
        if os.path.realpath(f) in referenced:
            n_kept += 1
            continue
        if os.path.getmtime(f) > cutoff:  # possibly an in-flight commit
            n_kept += 1
            continue
        n_orphans += 1
        n_bytes += os.path.getsize(f)
        os.remove(f)
        # prune now-empty partition dirs so folder discovery stays clean
        parent = os.path.dirname(f)
        while parent != data_dir and not os.listdir(parent):
            os.rmdir(parent)
            parent = os.path.dirname(parent)
    return VacuumStats(n_orphans=n_orphans, n_bytes=n_bytes, n_kept=n_kept)


@dataclass
class ExpiryStats:
    """Retention-enforcement accounting: what one expiry sweep removed."""

    n_partitions: int
    n_files: int
    n_bytes: int
    n_manifests_rewritten: int


def expire_partitions(
    lake_dir: str,
    retention_hours: int,
    now,  # datetime — injectable so tests pin the clock
) -> ExpiryStats:
    """Retention enforcement (README.md:9, 60, 83: records are replayable
    within the 7-365-day retention window and age out beyond it). Deletes
    every hour leaf partition (``year=/month=/day=/hour=``) whose WHOLE hour
    lies before ``now - retention_hours``, then rewrites any manifest that
    listed expired files so manifest readers (README.md:429) never see a
    dangling entry. recordCount is reset to -1 (unknown) on rewritten
    manifests rather than re-scanned.

    Driver-side work is O(partition dirs + manifests), independent of row
    count — the same listing cost the flush already pays; no Spark job runs.
    """
    import datetime as dt
    import re

    # heal stranded leaf swaps FIRST (store.recover_swaps): an expired
    # hour surviving in its aside dir would dodge the hour= regex and
    # outlive its retention window on disk
    data_dir = os.path.join(lake_dir, "data")
    store.recover_swaps(data_dir)
    horizon = now - dt.timedelta(hours=retention_hours)
    pat = re.compile(r"year=(\d+)/month=(\d+)/day=(\d+)/hour=(\d+)$")
    expired_dirs: list[str] = []
    n_files = n_bytes = 0
    for dirpath, _dirs, files in os.walk(data_dir):
        m = pat.search(dirpath.replace(os.sep, "/"))
        if not m:
            continue
        y, mo, d, h = map(int, m.groups())
        try:
            part_end = dt.datetime(y, mo, d, h) + dt.timedelta(hours=1)
        except ValueError:  # planted/garbage partition values: leave alone
            continue
        if part_end <= horizon:
            expired_dirs.append(dirpath)
            for f in files:
                if f.endswith(".parquet"):
                    n_files += 1
                    n_bytes += os.path.getsize(os.path.join(dirpath, f))
    # realpath-normalize WHILE the dirs still exist: manifests may record
    # urls under a different spelling of lake_dir (absolute vs relative vs
    # symlinked) than this sweep was invoked with — a raw string compare
    # would silently skip the rewrite and leave dangling entries (the same
    # defense vacuum_orphans and _remap_partitions_in_manifests carry).
    # Entry urls are resolved PRE-DELETE too: realpath cannot resolve a
    # symlinked component once the subtree it traverses is gone, so a
    # post-delete resolve would miss expired_set and leave the entry
    # dangling.
    if not expired_dirs:
        return ExpiryStats(0, 0, 0, 0)
    expired_set = {os.path.realpath(d) for d in expired_dirs}
    manifests = list(iter_manifests(lake_dir, ("_manifests", "_staged")))
    entry_dirs = {os.path.dirname(e["url"]) for _p, m in manifests for e in m["entries"]}
    entry_dir_real = {d: os.path.realpath(d) for d in entry_dirs}
    for d in expired_dirs:
        shutil.rmtree(d, ignore_errors=True)
        # prune now-empty parents up to (not including) data/
        parent = os.path.dirname(d)
        while parent != data_dir and not os.listdir(parent):
            os.rmdir(parent)
            parent = os.path.dirname(parent)

    # drop dangling entries from manifests (atomic rewrite, same protocol).
    # _staged is swept too: the WAP protocol treats staged manifests as
    # first-class references (vacuum, remap do the same), so an aged-out
    # staged batch must not keep listing deleted files — its audit and any
    # unfenced publish would otherwise act on a manifest of ghosts
    n_rewritten = 0
    for path, payload in manifests:
        kept = [
            e
            for e in payload["entries"]
            if entry_dir_real[os.path.dirname(e["url"])] not in expired_set
        ]
        if len(kept) == len(payload["entries"]):
            continue
        payload["entries"] = kept
        payload["recordCount"] = -1
        payload["totalBytes"] = sum(os.path.getsize(e["url"]) for e in kept)
        store.publish_file(path, json.dumps(payload, indent=1))
        n_rewritten += 1
    return ExpiryStats(
        n_partitions=len(expired_dirs),
        n_files=n_files,
        n_bytes=n_bytes,
        n_manifests_rewritten=n_rewritten,
    )


def compact_lake(
    spark: SparkSession,
    lake_dir: str,
    target_file_bytes: int = 128 << 20,
    min_files: int = 2,
    cluster_col: str | None = None,
    max_workers: int = 8,
) -> list[tuple[str, int, int]]:
    """Whole-lake maintenance pass: discover every hour leaf partition and
    bin-pack those holding >= min_files files. Returns
    [(partition_subdir, files_before, files_after), ...].

    Partitions are independent, so the per-leaf rewrite jobs are submitted
    from a driver THREAD POOL (Spark schedules concurrent jobs from
    driver threads natively) — at 10^4-10^5 hive leaves a serial driver
    loop, not the cluster, is the bottleneck. Manifests are remapped ONCE
    for the whole sweep (one pass over the manifest set, not one per
    leaf) and zone maps invalidated once at the end."""
    from concurrent.futures import ThreadPoolExecutor

    data_dir = os.path.join(lake_dir, "data")
    store.recover_swaps(data_dir)  # a stranded swap must not walk as a leaf
    leaves: list[str] = []
    for dirpath, dirs, files in os.walk(data_dir):
        if dirs:
            continue  # only leaf partitions hold data files
        if dirpath.endswith(".tmp"):
            continue  # a CONCURRENT sweep's in-flight swap — never a leaf
        if sum(1 for f in files if f.endswith(".parquet")) >= min_files:
            leaves.append(os.path.relpath(dirpath, lake_dir))
    if not leaves:
        return []

    def worker(sub: str) -> tuple[str, int, int, list[str]]:
        before, after, new_files = _rewrite_leaf(
            spark, lake_dir, sub, target_file_bytes, cluster_col=cluster_col
        )
        return (sub, before, after, new_files)

    with ThreadPoolExecutor(max_workers=min(max_workers, len(leaves))) as ex:
        results = list(ex.map(worker, leaves))
    _remap_partitions_in_manifests(
        lake_dir,
        {os.path.join(lake_dir, sub): nf for sub, b, _a, nf in results if b},
        rows_changed=False,
    )
    _invalidate_zone_maps(lake_dir)
    return [(sub, b, a) for sub, b, a, _nf in results if b]


def compact_lake_partition(
    spark: SparkSession,
    lake_dir: str,
    partition_subdir: str,
    target_file_bytes: int = 128 << 20,
    cluster_col: str | None = None,
) -> tuple[int, int]:
    """Lake maintenance: bin-pack one hive partition's small files into
    ~target_file_bytes outputs (the at-rest completion of the reference's
    buffering rationale — "1 PUT instead of 1,000", README.md:378-380:
    per-minute micro-batch flushes accumulate small files; compaction
    restores scan-efficient file sizes without changing a single row).

    Protocol mirrors the manifest commit's write-then-swap (README.md:413-421):
    rewrite into a temp dir next to the partition, then store.swap_in's two
    renames (live -> aside, tmp -> live) so readers see either the old or
    the new file set, never a mix. A crash between the two renames leaves
    the partition absent with its data intact in ``<leaf>.prev.tmp`` —
    ``store.recover_swap`` (called here on entry) restores it, so the
    invariant is "every row is always durable, the live dir may lag one
    recovery call". Returns (files_before, files_after).

    ``cluster_col`` turns the bin-pack into a CLUSTERED rewrite (the
    Iceberg sort-order / Delta OPTIMIZE ZORDER analogue for one column):
    rows are range-partitioned and sorted on the column so each output
    file owns a disjoint value span — exactly the layout that makes zone
    maps (build_zone_maps/read_zone_pruned) prune; rebuild the stats
    after a clustered sweep. Costs one range shuffle + local sorts,
    versus the shuffle-free coalesce default.

    Scale: this is the ONE-partition form (rewrite + its own manifest
    remap); whole-lake sweeps go through compact_lake, which fans the
    rewrites out on a driver thread pool and remaps manifests once."""
    before, after, new_files = _rewrite_leaf(
        spark, lake_dir, partition_subdir, target_file_bytes, cluster_col
    )
    if before:
        part_dir = os.path.join(lake_dir, partition_subdir)
        _remap_partitions_in_manifests(
            lake_dir, {part_dir: new_files}, rows_changed=False
        )
        _invalidate_zone_maps(lake_dir)
    return (before, after)


def _rewrite_leaf(
    spark: SparkSession,
    lake_dir: str,
    partition_subdir: str,
    target_file_bytes: int = 128 << 20,
    cluster_col: str | None = None,
    transform=None,
) -> tuple[int, int, list[str]]:
    """One leaf partition's crash-safe bin-pack rewrite (the data half of
    compact_lake_partition — no manifest/stats side effects, so a sweep
    can run many of these concurrently and remap once). Returns
    (files_before, files_after, new_files). The default rewrite is one
    coalesce(n) pass with n sized from actual bytes — no shuffle, file
    assembly only; thread-safe across distinct leaves (all paths are
    leaf-scoped). ``transform`` (DataFrame -> DataFrame) is applied to
    the leaf's rows before the rewrite — the delete-materialization hook;
    output files stay sized from the INPUT bytes (conservative when the
    transform drops rows)."""
    part_dir = os.path.join(lake_dir, partition_subdir)
    store.recover_swap(part_dir)
    files = store.list_parquet_files(part_dir)
    if not files:
        return (0, 0, [])
    total = sum(os.path.getsize(f) for f in files)
    n_out = max(1, -(-total // target_file_bytes))  # ceil
    df = spark.read.parquet(part_dir)
    if transform is not None:
        df = transform(df)
    tmp = part_dir + ".tmp"
    if cluster_col is not None:
        # F.expr accepts both a plain column name and a SQL expression, so
        # a caller can cluster on a COMPUTED key — e.g. a Z-order curve
        # (operators/partitioning.py:zorder_key's SQL form) for
        # multi-dimensional file skipping — without materializing it.
        key = F.expr(cluster_col)
        out = df.repartitionByRange(int(n_out), key).sortWithinPartitions(key)
    else:
        # coalesce, not repartition: pure file assembly, no shuffle
        out = df.coalesce(int(n_out))
    out.write.mode("overwrite").option(
        "compression", "snappy"
    ).parquet(tmp)
    store.swap_in(tmp, part_dir)
    new_files = store.list_parquet_files(part_dir)
    return (len(files), len(new_files), new_files)


def _invalidate_zone_maps(lake_dir: str) -> None:
    """Any file rewrite makes committed zone maps point at dead paths —
    drop them so reads degrade to a correct full scan (read_zone_pruned's
    no-stats fallback) instead of failing; maintenance rebuilds with
    build_zone_maps after the sweep."""
    shutil.rmtree(os.path.join(lake_dir, "_zonemaps"), ignore_errors=True)


def _remap_partitions_in_manifests(
    lake_dir: str, new_files_by_leaf: dict[str, list[str]], rows_changed: bool = False
) -> int:
    """Keep manifests truthful through partition rewrites — ONE pass over
    the manifest set for a whole sweep's worth of leaves.

    Manifests list exact file URLs (README.md:295-303); a compaction /
    delete-materialization swap replaces a leaf's files, so any manifest
    still naming the old files would (a) break manifest readers and
    (b) make vacuum_orphans DELETE the new files as unreferenced — a
    data-loss composition. Leaf dirs are batch-scoped
    (``data/batch=<id>/…``), so exactly one manifest references a leaf:
    its dead entries are replaced by the new file set via
    store.publish_file, as in retention expiry. Cost is O(manifests ×
    entries) TOTAL per sweep, not the O(leaves × manifests) of one pass per
    leaf. Entry ownership is one dict lookup on the entry's parent dir (data
    files live directly in their leaf). ``recordCount`` is kept for a pure
    re-pack (rows unchanged) and set to -1 (unknown) when the caller
    rewrote rows (delete
    materialization), matching the expiry convention. Returns manifests
    rewritten.

    STAGED (write-audit-publish) manifests are remapped too: vacuum_orphans
    counts ``_staged/`` entries as references, so leaving a staged manifest
    pointing at a rewritten leaf's dead paths would both break its eventual
    publish AND leave the new files unreferenced — the next vacuum would
    delete them, losing the staged batch entirely."""
    by_leaf_real = {
        os.path.realpath(leaf): files for leaf, files in new_files_by_leaf.items()
    }
    if not by_leaf_real:
        return 0
    n_rewritten = 0
    for path, payload in iter_manifests(lake_dir, ("_manifests", "_staged")):
        kept, touched = [], set()
        for e in payload["entries"]:
            owner = os.path.realpath(os.path.dirname(e["url"]))
            if owner in by_leaf_real:
                touched.add(owner)
            else:
                kept.append(e)
        if not touched:
            continue
        for owner in sorted(touched):
            kept.extend({"url": f} for f in by_leaf_real[owner])
        payload["entries"] = kept
        if rows_changed:
            payload["recordCount"] = -1  # unknown post-delete, expiry convention
        payload["totalBytes"] = sum(
            os.path.getsize(e["url"]) for e in kept if os.path.exists(e["url"])
        )
        store.publish_file(path, json.dumps(payload, indent=1))
        n_rewritten += 1
    return n_rewritten


# --------------------------------------------------------------------------
# Row-level deletes: merge-on-read deletion vectors
# --------------------------------------------------------------------------


def write_delete_vector(
    df_keys: DataFrame, lake_dir: str, delete_id: int, key_col: str
) -> str:
    """Row-level delete WITHOUT rewriting data files (the merge-on-read
    deletion-vector pattern of Iceberg v2 / Delta DVs, applied to this
    lake's manifest protocol; completes the reference's immutable-object
    story, README.md:413-430 — data objects are never mutated, deletes land
    as new objects).

    The keys to delete are written as their own parquet object set under
    ``_deletes/`` and installed with store.swap_in (README.md:413-421):
    readers see a delete vector entirely or not at all, never a partial key
    list. Distributed write — the key set streams from executors, never
    through the driver. Idempotent per delete_id (re-run overwrites the
    same commit).

    Scale: the delete file is O(deleted keys); a 100 TB table with a
    point-delete workload carries MB-scale vectors that AQE broadcasts at
    read time (see read_with_deletes).

    A re-run writes the new vector beside the committed one and swaps it
    in, so the committed vector stays readable for the whole distributed
    write: deleting it first would let concurrent reads resurrect the
    deleted rows for the write's duration, and a crash in that window would
    lose it. The between-renames crash state (aside copy present, final
    missing) is served by _delete_vector_dirs as the committed copy."""
    final = os.path.join(lake_dir, "_deletes", f"delete-{delete_id:010d}")
    tmp = final + ".tmp"
    df_keys.select(F.col(key_col).alias("key")).distinct().write.mode(
        "overwrite"
    ).parquet(tmp)
    store.swap_in(tmp, final)
    return final


def _delete_vector_dirs(deletes_root: str) -> list[str]:
    """Committed delete-vector dirs. ``.tmp`` dirs are in-flight writes
    (invisible); an aside dir (``.prev.tmp``) is a re-run's swap leftover —
    normally shadowed by its final dir, but after a crash BETWEEN the two
    swap renames it is the only committed copy, so it is served in the
    final's place (the re-run rewrites identical content, per-delete_id
    idempotency)."""
    names = set(os.listdir(deletes_root)) if os.path.isdir(deletes_root) else set()
    return sorted(
        os.path.join(deletes_root, n)
        for n in names
        if n.startswith("delete-")
        and (
            not n.endswith(".tmp")
            or (n.endswith(store.ASIDE) and n[: -len(store.ASIDE)] not in names)
        )
    )


def read_with_deletes(
    spark: SparkSession, lake_dir: str, key_col: str
) -> DataFrame:
    """Merge-on-read scan: the live table is data MINUS every committed
    delete vector, realized as one LEFT ANTI join on the key column.

    The join strategy is left to AQE: delete vectors are usually small
    enough to broadcast (map-side anti join, data never shuffles), but
    forcing ``broadcast()`` would OOM the driver on a pathological
    mass-delete — the same posture as the g26 vocabulary join. Uncommitted
    ``.tmp`` vectors are invisible (atomic-rename commit), so a reader
    racing a writer sees the pre-delete snapshot."""
    data = spark.read.parquet(os.path.join(lake_dir, "data"))
    vecs = _delete_vector_dirs(os.path.join(lake_dir, "_deletes"))
    if not vecs:
        return data
    dels = spark.read.parquet(*vecs).distinct()
    return data.join(
        dels, on=data[key_col] == dels["key"], how="left_anti"
    )


def materialize_deletes(
    spark: SparkSession, lake_dir: str, key_col: str, max_workers: int = 8
) -> int:
    """Maintenance: fold the accumulated delete vectors into the data files
    (the compaction moment where merge-on-read becomes copy-on-write) and
    drop the vectors. Each leaf partition is rewritten independently through
    the crash-safe two-rename swap — readers never see a mix of purged and
    unpurged files within a partition. Returns the number of leaf
    partitions rewritten.

    Scale: the per-leaf rewrite jobs run from a driver thread pool (the
    serial driver loop, not the cluster, bottlenecks at 10^4+ leaves);
    the anti join per partition is delete-vector-sized, not table-sized
    (the delete set is cached once and shared by every leaf job).
    Manifests are remapped in ONE pass for the whole sweep and zone maps
    invalidated once."""
    from concurrent.futures import ThreadPoolExecutor

    # heal stranded leaf swaps FIRST: a crash in the swap window leaves a
    # partition's only copy in its aside dir — walking that dir as a live
    # leaf would rewrite it under the wrong name while the manifests still
    # point at the missing live paths (the same guard compact_lake and
    # vacuum_orphans carry)
    data_dir = os.path.join(lake_dir, "data")
    store.recover_swaps(data_dir)
    vecs = _delete_vector_dirs(os.path.join(lake_dir, "_deletes"))
    if not vecs:
        return 0
    dels = spark.read.parquet(*vecs).distinct().localCheckpoint(eager=True)
    leaves = [
        dirpath
        for dirpath, dirs, files in os.walk(data_dir)
        if not dirs
        and not dirpath.endswith(".tmp")
        and any(f.endswith(".parquet") for f in files)
    ]
    if not leaves:
        for v in vecs:
            shutil.rmtree(v, ignore_errors=True)
        return 0

    def worker(dirpath: str) -> tuple[str, list[str]]:
        # the shared crash-safe leaf swap, with the anti-join as the
        # rewrite transform — one protocol body, and output files are
        # byte-targeted instead of the old unconditional coalesce(1)
        # (a 2 GB leaf rewrote as one file through one task)
        _before, _after, new_files = _rewrite_leaf(
            spark,
            lake_dir,
            os.path.relpath(dirpath, lake_dir),
            transform=lambda df: df.join(
                dels, on=df[key_col] == dels["key"], how="left_anti"
            ),
        )
        return (dirpath, new_files)

    with ThreadPoolExecutor(max_workers=min(max_workers, len(leaves))) as ex:
        results = list(ex.map(worker, leaves))
    _remap_partitions_in_manifests(lake_dir, dict(results), rows_changed=True)
    _invalidate_zone_maps(lake_dir)
    for v in vecs:
        shutil.rmtree(v, ignore_errors=True)
    return len(results)


# --------------------------------------------------------------------------
# Zone maps: per-file min/max stats for file skipping
# --------------------------------------------------------------------------


def build_zone_maps(spark: SparkSession, lake_dir: str, cols: list[str]) -> str:
    """Per-data-file min/max statistics (zone maps — Iceberg manifest
    column stats / Delta file-skipping pattern; the manifest-protocol
    completion of the reference's "readers consume the manifest, never the
    folder" posture, README.md:429).

    One distributed pass: group by input_file_name(), min/max per tracked
    column (map-side partials — the shuffle carries one partial row per
    (file, partition) pair, not data). The stats table itself is written as
    parquet by executors and installed with store.swap_in, like every other
    lake dir — the driver never holds the stats. Stats
    are only useful when the layout clusters the column (e.g. a
    repartitionByRange write); build after compaction/clustering."""
    data_dir = os.path.join(lake_dir, "data")
    df = spark.read.parquet(data_dir).withColumn("__file", F.input_file_name())
    aggs = []
    for c in cols:
        aggs.append(F.min(c).alias(f"min_{c}"))
        aggs.append(F.max(c).alias(f"max_{c}"))
    zm = df.groupBy("__file").agg(*aggs)
    final = os.path.join(lake_dir, "_zonemaps")
    zm.write.mode("overwrite").parquet(final + ".tmp")
    store.swap_in(final + ".tmp", final)
    return final


def update_zone_maps(spark: SparkSession, lake_dir: str, cols: list[str]) -> int:
    """INCREMENTAL zone-map maintenance: scan ONLY data files the stats
    table does not cover yet, union their stats with the surviving prior
    rows, and commit through the same store.swap_in.
    Also drops rows for files that no longer exist (compaction/vacuum
    replaced them), so stats never bloat or point at dead paths.

    This is what a per-flush maintenance hook runs: O(new files) scan per
    call instead of build_zone_maps' O(table) rescan — at 100 TB a full
    rebuild is a capital expense reserved for re-clustering, while the
    incremental form keeps file skipping fresh between flushes (uncovered
    files are must-read until covered, so freshness = pruning). Returns
    the number of newly covered files; falls back to a full build when no
    stats table exists."""
    from urllib.parse import unquote, urlparse

    data_dir = os.path.join(lake_dir, "data")
    final = os.path.join(lake_dir, "_zonemaps")
    store.recover_swap(final)  # the prior stats are read below
    if not os.path.isdir(final):
        build_zone_maps(spark, lake_dir, cols)
        return len(store.list_parquet_files(data_dir))

    def _local(path: str) -> str:
        return os.path.realpath(unquote(urlparse(path).path)) if "://" in path else os.path.realpath(path)

    prior = spark.read.parquet(final)
    live = {_local(f): f for f in store.list_parquet_files(data_dir)}
    # per-file stats rows: the same O(files) metadata a planner holds
    prior_names = [r[0] for r in prior.select("__file").collect()]
    covered = {_local(n) for n in prior_names}
    new_files = [p for k, p in live.items() if k not in covered]
    still_live = [n for n in prior_names if _local(n) in live]
    keep = prior.filter(F.col("__file").isin(still_live))
    aggs = []
    for c in cols:
        aggs.append(F.min(c).alias(f"min_{c}"))
        aggs.append(F.max(c).alias(f"max_{c}"))
    if new_files:
        fresh = (
            # basePath keeps hive partition columns resolvable on a
            # FILE-LIST read: a bare file read drops them, and stats on a
            # partition column would build fine and then crash every
            # incremental update
            spark.read.option("basePath", data_dir)
            .parquet(*new_files)
            .withColumn("__file", F.input_file_name())
            .groupBy("__file")
            .agg(*aggs)
        )
        zm = keep.unionByName(fresh)
    else:
        zm = keep
    zm.write.mode("overwrite").parquet(final + ".tmp")
    store.swap_in(final + ".tmp", final)
    return len(new_files)


def _coerce_zone_bound(value, sample, col: str):
    """Coerce a caller-supplied pruning bound to the zone-map stats' Python
    type so the driver-side min/max overlap test never dies on a bare
    TypeError (int bounds against timestamp/string stats). Unambiguous
    coercions are applied (numeric widening, ISO strings to date/datetime,
    date to midnight datetime); ambiguous ones (an int against a timestamp
    — seconds? micros?, or a non-string against string stats — the driver
    compares lexicographically while the residual Spark predicate casts
    numerically, so str(90) vs stats '090' would silently skip matching
    files) raise a clear per-column error naming the expected type."""
    import datetime as _dt
    import decimal as _dec

    if value is None or sample is None:
        return value
    try:
        sample <= value  # comparability probe — cheap, no side effects
        return value
    except TypeError:
        pass
    st = type(sample)
    try:
        if st in (int, float) and isinstance(value, (int, float, str, _dec.Decimal)):
            return st(value)
        if st is _dec.Decimal and isinstance(value, (int, float, str)):
            return _dec.Decimal(str(value))
        if st is _dt.datetime and isinstance(value, str):
            return _dt.datetime.fromisoformat(value)
        if st is _dt.datetime and isinstance(value, _dt.date) and not isinstance(value, _dt.datetime):
            return _dt.datetime.combine(value, _dt.time.min)
        if st is _dt.date and isinstance(value, str):
            return _dt.date.fromisoformat(value)
    except (ValueError, TypeError):
        pass
    raise TypeError(
        f"read_zone_pruned: bound {value!r} ({type(value).__name__}) is not "
        f"comparable to column {col!r} zone stats of type {st.__name__}; "
        f"pass a {st.__name__} bound"
    )


def read_zone_pruned(spark: SparkSession, lake_dir: str, col: str, lo, hi) -> DataFrame:
    """Range scan with FILE SKIPPING: consult the zone maps first, open
    only the data files whose [min, max] for ``col`` overlaps [lo, hi],
    and keep the exact predicate as a residual filter (zone overlap is
    necessary, not sufficient).

    The driver materializes only the SURVIVING FILE LIST (paths — the same
    O(matching files) metadata any table-format planner holds to plan a
    scan; whitelisted in tests/test_plans.py). On a clustered layout this
    is the 100 TB win: a range predicate over a repartitionByRange-written
    table opens O(range/file-span) files instead of every file. Falls back
    to a full folder scan (predicate still applied) when no zone maps are
    committed.

    Files the stats table does not know about are MUST-READ, not
    skippable: a normal append lands data files after build_zone_maps ran,
    and a scan that consults only the stats would silently drop those rows.
    The uncovered set comes from the same driver-side listing every flush
    already performs, so freshness costs metadata work only — stats stay
    useful between rebuilds instead of going stale-and-wrong."""
    from urllib.parse import unquote, urlparse

    data_dir = os.path.join(lake_dir, "data")
    zm_dir = os.path.join(lake_dir, "_zonemaps")
    pred = F.col(col).between(lo, hi)
    if not os.path.isdir(zm_dir):
        return spark.read.parquet(data_dir).filter(pred)

    def _local(path: str) -> str:
        # input_file_name() yields file: URIs; normalize to os paths
        return os.path.realpath(unquote(urlparse(path).path)) if "://" in path else os.path.realpath(path)

    zm = spark.read.parquet(zm_dir)
    zone_stats = zm.select("__file", f"min_{col}", f"max_{col}").collect()
    stats = [(r[0], r[1], r[2]) for r in zone_stats]
    covered = {_local(f) for f, _, _ in stats}
    sample = next(
        (v for _, mn, mx in stats for v in (mn, mx) if v is not None), None
    )
    lo_c = _coerce_zone_bound(lo, sample, col)
    hi_c = _coerce_zone_bound(hi, sample, col)
    live = {_local(f): f for f in store.list_parquet_files(data_dir)}
    # stale stats rows (files a later compaction/vacuum removed) are
    # dropped, not scheduled — scheduling a dead path fails the scan;
    # None min/max = file is all-NULL for col; BETWEEN never matches NULL
    surviving = [
        f
        for f, mn, mx in stats
        if _local(f) in live
        and mn is not None
        and mx is not None
        and mx >= lo_c
        and mn <= hi_c
    ]
    # any data file absent from the stats (committed after the build) is read
    surviving.extend(p for k, p in live.items() if k not in covered)
    if not surviving:
        return spark.read.parquet(data_dir).filter(pred).limit(0)
    # basePath: partition columns must stay resolvable on the pruned
    # file-list read (see update_zone_maps)
    return spark.read.option("basePath", data_dir).parquet(*surviving).filter(pred)


# --------------------------------------------------------------------------
# Write-Audit-Publish: staged commits gated by data-quality audits
# --------------------------------------------------------------------------


@dataclass
class AuditResult:
    """Outcome of one staged-batch audit."""

    batch_id: int
    passed: bool
    failures: list[str]


def stage_lake_batch(
    env: DataFrame,
    lake_dir: str,
    batch_id: int,
    **kwargs,
) -> FlushStats:
    """WAP step 1 (the Iceberg write-audit-publish pattern realized on this
    lake's manifest protocol, README.md:413-430): the flush run_lake_batch
    runs (purge_batch, then write_lake_batch with ``kwargs`` as its
    options), with the manifest parked under ``_staged/`` instead of
    ``_manifests/``. The data files are durable, but manifest readers —
    the ONLY sanctioned readers (README.md:429) — cannot see the batch,
    and vacuum_orphans treats staged manifests as references (a staged
    batch is not an orphan). Publishing is one atomic cross-dir rename;
    an abandoned stage is dropped with its files.

    The stage is FENCED: a per-stage writer token lands inside the staged
    manifest (atomic rewrite), and ``publish_staged_batch(writer=...)``
    verifies it — when two maintenance writers interleave stage/publish on
    the same batch_id, the later stager's manifest (and data: its flush
    purged and rewrote the batch prefix) wins whole, and the earlier
    writer's publish fails loudly instead of publishing someone else's
    batch as its own."""
    import uuid

    purge_batch(lake_dir, batch_id)
    files, n_ok, n_error = write_lake_batch(env, lake_dir, batch_id, **kwargs)
    # the manifest lands DIRECTLY in _staged/: routing it through
    # _manifests/ first would open a window where the unaudited batch is
    # visible to every manifest reader — and a crash in that window would
    # leave it published with no staged manifest to drop. Two stagers
    # racing on one batch_id each install a WHOLE manifest (publish_file)
    path = write_manifest(lake_dir, batch_id, files, n_ok, subdir="_staged")
    token = uuid.uuid4().hex
    with open(path) as fh:
        payload = json.load(fh)
    store.publish_file(path, json.dumps({**payload, "writer": token}))
    return FlushStats(
        batch_id, n_ok, n_error, payload["totalBytes"], len(files), path, token
    )


def audit_staged_batch(
    spark: SparkSession,
    lake_dir: str,
    batch_id: int,
    min_rows: int = 1,
    not_null: list[str] | None = None,
    unique_key: str | None = None,
    required_cols: dict[str, str] | None = None,
) -> AuditResult:
    """WAP step 2: data-quality gates over the STAGED files (read directly
    from the staged manifest's entries — production readers still see
    nothing). Checks: row count floor, NOT NULL columns, key uniqueness.
    One Spark pass: a single aggregate computes every gate — O(audited
    batch), never O(table)."""
    with open(_manifest_path(lake_dir, batch_id, "_staged")) as fh:
        payload = json.load(fh)
    files = [e["url"] for e in payload["entries"]]
    failures: list[str] = []
    if not files:
        return AuditResult(batch_id, False, ["manifest lists no files"])
    df = spark.read.parquet(*files)
    for col, want_type in (required_cols or {}).items():
        got = {f.name: f.dataType.simpleString() for f in df.schema.fields}.get(col)
        if got is None:
            failures.append(f"required column {col} missing")
        elif got != want_type:
            failures.append(f"column {col} is {got}, expected {want_type}")
    if failures:
        return AuditResult(batch_id, False, failures)
    aggs = [F.count("*").alias("__n")]
    for c in not_null or []:
        aggs.append(F.sum(F.col(c).isNull().cast("long")).alias(f"__nulls_{c}"))
    if unique_key:
        aggs.append(F.count_distinct(unique_key).alias("__distinct_key"))
    row = df.agg(*aggs).first()
    if row["__n"] < min_rows:
        failures.append(f"row count {row['__n']} < {min_rows}")
    for c in not_null or []:
        if row[f"__nulls_{c}"]:
            failures.append(f"column {c} has {row[f'__nulls_{c}']} NULLs")
    if unique_key and row["__distinct_key"] != row["__n"]:
        failures.append(
            f"key {unique_key} not unique: {row['__distinct_key']} distinct of {row['__n']}"
        )
    return AuditResult(batch_id, not failures, failures)


def publish_staged_batch(
    lake_dir: str, batch_id: int, writer: str | None = None
) -> str:
    """WAP step 3: ONE atomic rename moves the manifest from ``_staged/``
    to ``_manifests/`` — the instant the batch becomes visible to every
    manifest reader (the same all-or-nothing moment as the reference's
    PUT #2, README.md:429-430). No data moves; publish cost is O(1)
    regardless of batch size.

    ``writer`` is the fencing token stage_lake_batch returned: if the
    staged manifest carries a DIFFERENT token, a concurrent writer
    re-staged this batch_id after us (its flush purged and replaced our
    data files too) — publishing would bless the other writer's batch
    under our audit, so raise instead. Passing None skips the check (a
    single-writer pipeline that never fences).

    The fence has a TOCTOU window the token alone cannot see: a concurrent
    stager that finished write_lake_batch (purging/rewriting this batch's
    data files) but has not yet renamed its manifest into ``_staged/``
    leaves our token intact while our entries point at superseded files.
    So after the token check every listed file is re-validated to EXIST
    before the rename — a purge-then-restage always deletes our files
    first, so a vanished entry is the fence trip. The residual race
    (re-stage lands between this existence sweep and the rename) is
    accepted: closing it needs a real lock service, which the local-FS
    protocol stands in for (reference README.md:429-430)."""
    src = _manifest_path(lake_dir, batch_id, "_staged")
    dst = _manifest_path(lake_dir, batch_id)
    if writer is not None:
        with open(src) as fh:
            payload = json.load(fh)
        staged_writer = payload.get("writer")
        if staged_writer != writer:
            raise RuntimeError(
                f"publish_staged_batch: fenced out of batch {batch_id} — "
                f"staged manifest belongs to writer {staged_writer!r}, "
                f"not {writer!r} (a concurrent stager superseded this one)"
            )
        gone = [e["url"] for e in payload["entries"] if not os.path.exists(e["url"])]
        if gone:
            raise RuntimeError(
                f"publish_staged_batch: fenced out of batch {batch_id} — "
                f"{len(gone)} staged file(s) no longer exist (a concurrent "
                f"stager purged them mid-publish): {gone[:3]}"
            )
    os.makedirs(os.path.dirname(dst), exist_ok=True)
    os.replace(src, dst)
    return dst


def drop_staged_batch(lake_dir: str, batch_id: int, writer: str | None = None) -> int:
    """WAP failure path: remove the staged manifest and every file it
    listed (the batch never existed as far as any reader is concerned).
    Returns files removed.

    ``writer`` is the fencing token stage_lake_batch returned — the same
    fence publish_staged_batch enforces, because the failure path is just
    as destructive: a fenced-out writer whose audit failed would otherwise
    delete the SUPERSEDING writer's staged manifest, its files, and (via
    purge_batch) the whole batch prefix. On a token
    mismatch the drop raises — the superseding writer owns the batch now,
    and this writer's files were already purged by that writer's re-stage.
    None skips the check (single-writer pipelines)."""
    path = _manifest_path(lake_dir, batch_id, "_staged")
    with open(path) as fh:
        payload = json.load(fh)
    if writer is not None and payload.get("writer") != writer:
        raise RuntimeError(
            f"drop_staged_batch: fenced out of batch {batch_id} — staged "
            f"manifest belongs to writer {payload.get('writer')!r}, not "
            f"{writer!r}; dropping would destroy the superseding writer's "
            "staged batch"
        )
    n = 0
    for e in payload["entries"]:
        if os.path.exists(e["url"]):
            os.remove(e["url"])
            n += 1
    os.remove(path)
    purge_batch(lake_dir, batch_id)
    return n


@dataclass
class IntegrityResult:
    """Outcome of one manifest-vs-storage integrity check."""

    batch_id: int
    passed: bool
    failures: list[str]


def validate_manifest(
    lake_dir: str,
    batch_id: int,
    spark: SparkSession | None = None,
) -> IntegrityResult:
    """Integrity check of a committed batch against its manifest (the
    consumer-side half of the reference's commit protocol, README.md:
    291-303, 516-523 — the manifest records exact URLs, byte totals and
    record counts precisely so a reader can detect storage rot before
    trusting a batch): every listed file must exist, the on-disk byte sum
    must equal ``totalBytes``, and — when a SparkSession is supplied and
    the manifest's ``recordCount`` is not the -1 (unknown) sentinel a
    delete-materialization writes — the actual row count must match.

    Metadata checks are driver-side O(files-in-batch); the row-count
    check is one column-pruned Spark count over just this batch's files.
    Composes with WAP: run it post-publish as a storage audit, or point
    it at a restored backup to certify a disaster-recovery copy."""
    failures: list[str] = []
    try:
        payload = read_manifest(lake_dir, batch_id)
    except FileNotFoundError:
        return IntegrityResult(batch_id, False, ["manifest missing"])
    files = [e["url"] for e in payload["entries"]]
    missing = [f for f in files if not os.path.exists(f)]
    if missing:
        failures.append(f"{len(missing)} listed file(s) missing, e.g. {missing[0]}")
    present = [f for f in files if os.path.exists(f)]
    actual_bytes = sum(os.path.getsize(f) for f in present)
    if not missing and actual_bytes != payload["totalBytes"]:
        failures.append(
            f"byte sum {actual_bytes} != manifest totalBytes {payload['totalBytes']}"
        )
    if (
        spark is not None
        and not missing
        and files
        and payload.get("recordCount", -1) != -1
    ):
        n = spark.read.parquet(*files).count()
        if n != payload["recordCount"]:
            failures.append(
                f"row count {n} != manifest recordCount {payload['recordCount']}"
            )
    return IntegrityResult(batch_id, not failures, failures)


def export_symlink_manifests(lake_dir: str) -> int:
    """Hive/Presto/Trino/Athena interop export: write the lake's CURRENT
    committed file set as SYMLINK_TEXT_INPUT_FORMAT manifests — one text
    file per partition directory under ``_symlink_format_manifest/``,
    each line one absolute data-file URI (the layout Delta Lake's
    "Presto/Athena compatibility" mode generates, and exactly how the
    reference's Athena tier would consume this lake without Spark,
    README.md:446, 468 "query it with any tool that speaks Parquet").

    The export reads the COMMIT PROTOCOL, never the folder: file lists
    come from the committed batch manifests (which compaction/retention
    rewrite in place), so superseded and orphaned objects are never
    exported even while they still exist on disk awaiting vacuum.

    Idempotent and atomic per partition: each manifest lands via
    store.publish_file (readers see old or new, never partial),
    and partition dirs that no longer hold committed files get their
    manifests removed — a re-export after compaction converges to the
    current snapshot. Driver cost is O(committed files): the same
    metadata any table-format planner materializes to plan a scan.

    Returns the number of partition manifests written."""
    data_root = os.path.join(lake_dir, "data")
    by_partition: dict[str, list[str]] = {}
    for _path, payload in iter_manifests(lake_dir):
        for entry in payload["entries"]:
            f = entry["url"]
            rel = os.path.relpath(os.path.dirname(f), data_root)
            by_partition.setdefault(rel, []).append(os.path.abspath(f))
    sym_root = os.path.join(lake_dir, "_symlink_format_manifest")
    os.makedirs(sym_root, exist_ok=True)
    # drop manifests for partitions that left the committed set
    for dirpath, _dirnames, filenames in list(os.walk(sym_root)):
        if "manifest" in filenames:
            rel = os.path.relpath(dirpath, sym_root)
            if rel not in by_partition:
                shutil.rmtree(dirpath, ignore_errors=True)
    for rel, files in by_partition.items():
        store.publish_file(
            os.path.join(sym_root, rel, "manifest"), "\n".join(sorted(files)) + "\n"
        )
    return len(by_partition)


def read_via_symlink_manifests(spark: SparkSession, lake_dir: str) -> DataFrame:
    """Consume the lake exactly as an external symlink-manifest reader
    (Athena/Presto/Trino) would: list the ``_symlink_format_manifest``
    tree, read each partition's manifest lines, and scan precisely those
    parquet objects — never the data folder. The manifest walk is
    driver-side O(partitions + files), the metadata such an engine's
    split planner holds."""
    sym_root = os.path.join(lake_dir, "_symlink_format_manifest")
    files: list[str] = []
    for dirpath, _dirnames, filenames in os.walk(sym_root):
        if "manifest" in filenames:
            with open(os.path.join(dirpath, "manifest")) as fh:
                files.extend(line.strip() for line in fh if line.strip())
    if not files:
        raise ValueError(f"no symlink manifests under {sym_root}")
    return spark.read.parquet(*files)
