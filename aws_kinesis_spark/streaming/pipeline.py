"""Structured Streaming realization of the reference pipeline (SURVEY.md §3).

The stream source in production is the Kinesis connector
(`spark.readStream.format("kinesis")`); tests and the driver fixtures use a
file source feeding the identical envelope schema — a drop-in swap
(SURVEY.md §7 M3). Two independent consumers (README.md:30-32) are two
streaming queries with separate checkpoints on the same source.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from aws_kinesis_spark.session import configure
from aws_kinesis_spark.sources.envelope import ENVELOPE_SCHEMA, decode_envelope
from aws_kinesis_spark.sources.lake import (
    PARTITION_COLS,
    _list_parquet_files,
    parquet_store_schema,
    purge_batch,
    split_errors,
    with_partition_cols,
    write_manifest,
)


def _file_stream(
    spark: SparkSession,
    schema,
    input_dir: str,
    max_files_per_trigger: int | None = None,
    max_bytes_per_trigger: int | None = None,
    recursive_file_lookup: bool = False,
) -> DataFrame:
    """The ONE file-source reader body behind envelope_stream/event_stream
    and the hive-dir fixture streams (they differed only in the schema
    constant / one recursion option — copies of the backpressure-dial
    logic meant every dial fix had to land twice; round-13 review).
    Backpressure dials (B5/B9): ``maxFilesPerTrigger`` bounds batch count
    like the producer's 500-record PutRecords cap (README.md:46);
    ``maxBytesPerTrigger`` is the reference's SizeInMBs buffer bound
    (README.md:117, 131 — 64 MB) mapped onto the source, so one
    micro-batch flushes ~one buffer's worth. ``recursive_file_lookup``
    reads files under hive-style subdirs WITHOUT partition inference
    (the arrival-ordered q=N fixture layout)."""
    configure(spark)
    reader = spark.readStream.schema(schema)
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    if max_bytes_per_trigger:
        reader = reader.option("maxBytesPerTrigger", int(max_bytes_per_trigger))
    if recursive_file_lookup:
        reader = reader.option("recursiveFileLookup", "true")
    return reader.parquet(input_dir)


def envelope_stream(
    spark: SparkSession,
    input_dir: str,
    max_files_per_trigger: int | None = None,
    max_bytes_per_trigger: int | None = None,
) -> DataFrame:
    """File-source stream of envelope records (README.md:222-252). Each file
    plays the role of one producer PutRecords batch; dials in
    ``_file_stream``."""
    return _file_stream(
        spark,
        ENVELOPE_SCHEMA,
        input_dir,
        max_files_per_trigger,
        max_bytes_per_trigger,
    )


def _triggered(writer, available_now: bool, trigger_seconds: float):
    """Shared trigger dial (round-13 review: the hot-path starters
    documented a processingTime='0' low-latency mode but hardcoded
    availableNow — the documented production mode was unreachable).
    ``available_now=True`` drains-and-stops (tests, backfills);
    ``False`` runs continuously at ``trigger_seconds`` cadence — 0 means
    back-to-back micro-batches, the EFO-like low-latency mode."""
    if available_now:
        return writer.trigger(availableNow=True)
    return writer.trigger(processingTime=f"{trigger_seconds} seconds")


def start_lake_path(
    env_stream: DataFrame,
    lake_dir: str,
    checkpoint_dir: str,
    available_now: bool = True,
    trigger_seconds: int = 60,
) -> StreamingQuery:
    """The flagship lake lifecycle (README.md:113-135) as one streaming query:
    decode -> DLQ split -> hive-partitioned snappy parquet -> manifest.

    foreachBatch gives the reference's external-reader manifest contract
    (README.md:429 "readers consume manifest, never folder"): files first,
    manifest second, keyed on batchId so a replayed batch overwrites
    idempotently instead of duplicating (README.md:204) — Spark's checkpoint
    WAL provides resume-after-sequence (README.md:305-309). The batch-scoped
    prefixes are purged before rewrite (purge_batch): partition values derive
    from processing time, so a replay in a later hour would otherwise strand
    the first attempt's files in the earlier hour's subpartitions.
    """

    def flush(batch_df: DataFrame, batch_id: int) -> None:
        from concurrent.futures import ThreadPoolExecutor

        spark = batch_df.sparkSession
        purge_batch(lake_dir, batch_id)
        decoded = decode_envelope(batch_df)
        ok, bad = split_errors(decoded)
        ok = with_partition_cols(ok.drop("data")).withColumn("batch", F.lit(batch_id))
        data_dir = os.path.join(lake_dir, "data")
        with ThreadPoolExecutor(max_workers=1) as pool:
            # the raw input count needs no decode — overlap it with the write
            n_in_f = pool.submit(batch_df.count)
            (
                ok.repartition(*PARTITION_COLS)
                .write.mode("overwrite")
                .partitionBy("batch", *PARTITION_COLS)
                # per-write dynamic overwrite (ADVICE r14) — see
                # run_lake_batch: session-conf writes from a trigger
                # thread race concurrently planning jobs, and static
                # overwrite would truncate the other batches' data
                .option("partitionOverwriteMode", "dynamic")
                .option("compression", "snappy")
                .parquet(data_dir)
            )
            batch_root = os.path.join(data_dir, f"batch={batch_id}")
            files = _list_parquet_files(batch_root)
            import pyarrow.parquet as pq

            n_ok = sum(pq.ParquetFile(f).metadata.num_rows for f in files)
            # DLQ accounting by subtraction (run_lake_batch's discipline,
            # round-11 review): probing `bad` directly re-ran the FULL
            # base64+JSON decode over every record on each clean trigger —
            # the common case — where input-count minus footer-count is
            # two pieces of metadata the trigger already holds
            if n_in_f.result() - n_ok:
                (
                    bad.select("data", "partition_key", "sequence_number", "arrival_ts")
                    .write.mode("overwrite")
                    .parquet(os.path.join(lake_dir, "errors", f"batch={batch_id}"))
                )
        # footer-true record count: streaming batches' manifests now pass
        # validate_manifest's count check instead of opting out with -1
        write_manifest(lake_dir, batch_id, files, n_records=n_ok)

    writer = env_stream.writeStream.foreachBatch(flush).option(
        "checkpointLocation", checkpoint_dir
    )
    return _triggered(writer, available_now, trigger_seconds).start()


def start_alert_path(
    env_stream: DataFrame,
    checkpoint_dir: str,
    sink_table: str,
    alert_op: str = "D",
    available_now: bool = True,
    trigger_seconds: float = 0,
) -> StreamingQuery:
    """The hot path (README.md:27-31, 101): decode -> predicate -> alert sink.
    One fused executor pipeline (map+filter, no shuffle); the memory sink
    stands in for SNS. trigger(availableNow) in tests; available_now=False
    with the default trigger_seconds=0 is the EFO-like low-latency mode
    (README.md:109-111) — back-to-back micro-batches."""
    alerts = (
        decode_envelope(env_stream)
        .filter(~F.col("_corrupt") & (F.col("op") == alert_op))
        .select("id", "status", "op", "partition_key", "sequence_number", "arrival_ts")
    )
    writer = (
        alerts.writeStream.format("memory")
        .queryName(sink_table)
        .outputMode("append")
        .option("checkpointLocation", checkpoint_dir)
    )
    return _triggered(writer, available_now, trigger_seconds).start()


def start_stream_dedup(
    env_stream: DataFrame,
    checkpoint_dir: str,
    sink_table: str,
    watermark: str = "365 days",
    available_now: bool = True,
    trigger_seconds: float = 0,
) -> StreamingQuery:
    """Exactly-once ingest dedup across micro-batches (README.md:51, 309):
    dropDuplicatesWithinWatermark on the sequence number — replayed producer
    batches in later micro-batches don't duplicate."""
    deduped = (
        env_stream.withWatermark("arrival_ts", watermark)
        .dropDuplicatesWithinWatermark(["sequence_number"])
    )
    out = decode_envelope(deduped).select("id", "status", "op", "sequence_number")
    writer = (
        out.writeStream.format("memory")
        .queryName(sink_table)
        .outputMode("append")
        .option("checkpointLocation", checkpoint_dir)
    )
    return _triggered(writer, available_now, trigger_seconds).start()


_VDIR_RE = None  # compiled lazily (module imports stay cheap)


def _vdir_match(name: str):
    global _VDIR_RE
    if _VDIR_RE is None:
        import re

        _VDIR_RE = re.compile(r"^v(\d+)(?:_(\d+))?$")
    return _VDIR_RE.match(name)


def _committed_versions(table_dir: str) -> dict[int, str]:
    """batch_id -> its last-committed dir NAME, for every version of a
    pointer-swap store. Attempt dirs (``v{N}_{k}``) are written
    complete-then-renamed, so the HIGHEST attempt present for a batch id
    is its newest committed state; ``.tmp`` staging dirs never match the
    name regex. THE one resolve pass shared by the warehouse/SCD2 readers
    and streaming/rollup.py (round-13 review: rollup carried a drifted
    twin of this scan — partition/isdigit parsing plus a dead ``.old``
    check — and every protocol change had to land twice)."""
    best: dict[int, tuple[int, str]] = {}
    for d in os.listdir(table_dir) if os.path.isdir(table_dir) else []:
        m = _vdir_match(d)
        if not m:
            continue
        key, attempt = int(m.group(1)), int(m.group(2) or 0)
        if key not in best or attempt > best[key][0]:
            best[key] = (attempt, d)
    return {k: v[1] for k, v in best.items()}


def _pointer_dir(table_dir: str) -> str | None:
    """Resolve the ``_CURRENT`` pointer to a version dir NAME (None before
    the first commit). Replay-attempt pointers carry an explicit ``dir``;
    older pointers carry only ``version`` and resolve by number."""
    import json as _json

    ptr = os.path.join(table_dir, "_CURRENT")
    if not os.path.exists(ptr):
        return None
    with open(ptr) as fh:
        payload = _json.load(fh)
    return payload.get("dir") or f"v{payload['version']}"


def _version_dir(table_dir: str, version: int) -> str | None:
    """Resolve one committed version number to its dir: the highest
    attempt of ``v{version}`` (``v{N}`` then ``v{N}_1``, ``v{N}_2`` …).
    Every committed attempt of a version holds identical content — the
    merge is deterministic and attempts only exist from replays of the
    same batch — so any complete attempt serves; the highest is simply
    the most recently committed."""
    d = _committed_versions(table_dir).get(version)
    return os.path.join(table_dir, d) if d else None


def _latest_version_dir_below(table_dir: str, batch_id: int) -> str | None:
    """The newest committed version dir OLDER than ``batch_id`` — the
    replay-safe merge base (a replayed batch must never merge on top of
    its own prior attempt)."""
    versions = _committed_versions(table_dir)
    prev = [b for b in versions if b < batch_id]
    return os.path.join(table_dir, versions[max(prev)]) if prev else None


def _read_version(spark: SparkSession, vdir: str) -> DataFrame:
    """One committed version dir, planned on the driver: the schema comes
    from one footer (parquet_store_schema), so building the frame launches
    no Spark job — the merge base of every versioned-store trigger and
    every reader of the store."""
    return spark.read.schema(parquet_store_schema(vdir)).parquet(vdir)


def _commit_table_version(
    merged: DataFrame, table_dir: str, batch_id: int, write=None
) -> None:
    """Pointer-swap commit of one table version — THE shared protocol body
    for every versioned-dirs + ``_CURRENT`` store (warehouse upsert, SCD2
    dimension, and streaming/rollup.py's rollup — one copy, after the
    round-13 review found the warehouse/SCD2 flushes overwriting
    ``v{batch_id}`` IN PLACE: a replayed batch destroyed the exact dir
    ``_CURRENT`` pointed at for the whole rewrite — concurrent readers
    saw a torn or missing version, and a crash mid-rewrite left the
    pointer at a torn dir until the replay finally succeeded). A replayed
    batch writes under a FRESH name (``v{N}_{attempt}``), staged through
    ``.tmp`` + one atomic rename, and ``_CURRENT`` flips to it — the live
    dir is never renamed away or rewritten, so readers always resolve a
    complete version. ``write(df, vtmp)`` customizes the physical write
    (the rollup's day-partitioned layout); default is a plain parquet
    write."""
    import json as _json
    import shutil as _shutil

    vdir = os.path.join(table_dir, f"v{batch_id}")
    attempt = 0
    while os.path.exists(vdir):
        attempt += 1
        vdir = os.path.join(table_dir, f"v{batch_id}_{attempt}")
    vtmp = vdir + ".tmp"
    _shutil.rmtree(vtmp, ignore_errors=True)
    if write is None:
        merged.write.mode("overwrite").parquet(vtmp)
    else:
        write(merged, vtmp)
    os.replace(vtmp, vdir)
    tmp = os.path.join(table_dir, f"._CURRENT.{batch_id}")
    with open(tmp, "w") as fh:
        _json.dump({"version": batch_id, "dir": os.path.basename(vdir)}, fh)
    os.replace(tmp, os.path.join(table_dir, "_CURRENT"))


# DDL schemas of the two versioned stores — shared by the writers and by
# read_warehouse_table's empty-store fallback so an empty table reads back
# with the exact committed shape instead of a wrong-schema frame.
WAREHOUSE_SCHEMA = "id LONG, status STRING, sequence_number DECIMAL(38,0)"
SCD2_SCHEMA = (
    "id LONG, status STRING, op STRING, sequence_number DECIMAL(38,0), "
    "__valid_from DECIMAL(38,0), __valid_to DECIMAL(38,0), __is_current BOOLEAN"
)


def start_warehouse_upsert(
    env_stream: DataFrame,
    table_dir: str,
    checkpoint_dir: str,
) -> StreamingQuery:
    """The warehouse half of the reference lifecycle (README.md:162-166,
    562-575): each micro-batch of the CDC stream is collapsed to its latest
    op per key (apply_cdc), then keyed-merged into a versioned table —
    upserts replace, deletes drop, untouched keys survive. Zero-duplicate
    semantics come from the anti-join + union merge; restart idempotency
    from version=batchId (a replayed batch rewrites its own version, it
    never re-merges on top of itself — the state it merges against is
    always the newest version OLDER than the batch).

    State layout mirrors streaming/rollup.py: versioned dirs + an atomic
    `_CURRENT` pointer, so readers always see one complete version. Scale:
    the merge shuffles on the key only; the batch side broadcasts when
    small (Catalyst auto); the table rewrite is O(table) per batch — at
    warehouse scale swap the writer stage for MERGE INTO on a v2 catalog
    (operators/upsert.py:merge_upsert runs that path when available).
    """
    from aws_kinesis_spark.operators.upsert import collapse_cdc, staging_upsert

    os.makedirs(table_dir, exist_ok=True)
    schema = WAREHOUSE_SCHEMA

    def flush(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        # Project to the REPLAY-STABLE columns BEFORE the collapse (the
        # SCD2 flush's discipline): decode_envelope plants processed_at =
        # current_timestamp(), which differs between replay attempts of
        # the same batch, and collapse_cdc's tie-break hashes EVERY input
        # column — with processed_at in the struct, a producer double-send
        # (same key+seq+op, drifted payload) could collapse to DIFFERENT
        # winners on attempt 1 vs the replay, committing a v{N}_attempt
        # whose content diverges from v{N} and breaking _version_dir's
        # any-attempt-serves invariant (round-13 review).
        decoded = (
            decode_envelope(batch_df)
            .filter(~F.col("_corrupt"))
            .select("id", "status", "op", "sequence_number")
        )
        # ONE delete-wins collapse feeds BOTH sides (round-11 review): a
        # second window ordered without the tombstone tie-break let a
        # same-sequence-number U beat the D into rank 1, so the delete
        # vanished from the delete set while apply_cdc's side also dropped
        # the key — the stale current row silently resurrected. Bonus: one
        # shuffle instead of two.
        collapsed = collapse_cdc(decoded, ["id"], "sequence_number")
        latest = collapsed.filter(F.col("op") != "D").select(
            "id", "status", "sequence_number"
        )
        deletes = collapsed.filter(F.col("op") == "D").select("id")
        base = _latest_version_dir_below(table_dir, batch_id)
        if base:
            current = _read_version(spark, base)
        else:
            current = spark.createDataFrame([], schema)
        merged = staging_upsert(current, latest, ["id"]).join(
            deletes, ["id"], "left_anti"
        )
        _commit_table_version(merged, table_dir, batch_id)

    return (
        env_stream.writeStream.foreachBatch(flush)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def read_warehouse_table(
    spark: SparkSession,
    table_dir: str,
    version: int | None = None,
    empty_schema: str | None = None,
) -> DataFrame:
    """Read a versioned store — the current committed version, or a past
    one (time travel: versions are retained per batch, the audit-trail
    "every PUT is versioned" behavior of README.md:437).

    ``empty_schema`` shapes the frame returned when NO version has
    committed yet (no ``_CURRENT``): it defaults to WAREHOUSE_SCHEMA, but
    this function is also the documented reader for SCD2 dimensions —
    those callers pass SCD2_SCHEMA so an empty dimension still resolves
    ``op``/``__valid_from``/… instead of crashing downstream projections
    with UNRESOLVED_COLUMN (round-13 review)."""
    if version is None:
        # the pointer names its dir directly (pointer-swap protocol);
        # "version"-only pointers predate it and resolve by number
        name = _pointer_dir(table_dir)
        if name is None:
            return spark.createDataFrame([], empty_schema or WAREHOUSE_SCHEMA)
        vdir = os.path.join(table_dir, name)
    else:
        vdir = _version_dir(table_dir, version)
        if vdir is None:
            raise ValueError(f"no committed version {version} in {table_dir}")
    return _read_version(spark, vdir)


# DDL schema of the events fixture — the single definition shared by the
# stream reader and every test/query that writes synthetic event batches
# (a sentinel written with a diverging schema would read back as nulls and
# silently stall the watermark).
EVENTS_SCHEMA = (
    "event_id BIGINT, ts TIMESTAMP, user_id BIGINT, event_type STRING, "
    "value DOUBLE, props STRING"
)


def event_stream(
    spark: SparkSession,
    input_dir: str,
    max_files_per_trigger: int | None = None,
    max_bytes_per_trigger: int | None = None,
) -> DataFrame:
    """Stream of the events fixture (event-time `ts` already a timestamp).
    Same backpressure dials as envelope_stream (B5/B9) — one shared body."""
    return _file_stream(
        spark,
        EVENTS_SCHEMA,
        input_dir,
        max_files_per_trigger,
        max_bytes_per_trigger,
    )


def start_windowed_agg(
    events: DataFrame,
    checkpoint_dir: str,
    sink_table: str,
    window_duration: str = "1 hour",
    slide: str | None = None,
    session_gap: str | None = None,
    watermark: str = "1 hour",
    output_mode: str = "append",
    available_now: bool = True,
    trigger_seconds: float = 0,
) -> StreamingQuery:
    """Tumbling / sliding / session windowed aggregation (SURVEY.md E1-E3)
    with a watermark bounding state (E4).

    Default output mode is APPEND — the scale-safe posture: each window is
    emitted exactly once when the watermark closes it, and state is evicted,
    so a long-running stream holds only open windows. Complete mode
    (re-emitting every window each trigger) re-materializes the entire
    aggregate per trigger — at 100x it is a full-result rewrite every
    micro-batch; callers may still request it for drain-style tests that
    need open windows too. The e01-e03 registry queries run append mode
    with a flush sentinel (plans/streaming_queries.py) so the differential
    proves append emission matches the batch answer."""
    ev = events.withWatermark("ts", watermark)
    if session_gap is not None:
        win = F.session_window("ts", session_gap)
        grouped = ev.groupBy(win.alias("w"), "user_id")
    elif slide is not None:
        grouped = ev.groupBy(F.window("ts", window_duration, slide).alias("w"))
    else:
        grouped = ev.groupBy(F.window("ts", window_duration).alias("w"), "event_type")
    agg = grouped.agg(F.count("*").alias("n_events"), F.round(F.sum("value"), 4).alias("sum_value"))
    writer = (
        agg.writeStream.format("memory")
        .queryName(sink_table)
        .outputMode(output_mode)
        .option("checkpointLocation", checkpoint_dir)
    )
    return _triggered(writer, available_now, trigger_seconds).start()


def start_stream_static_join(
    env_stream: DataFrame,
    dim: DataFrame,
    checkpoint_dir: str,
    sink_table: str,
    available_now: bool = True,
    trigger_seconds: float = 0,
) -> StreamingQuery:
    """Stream-static enrichment join (SURVEY.md E7; README.md:38 "hourly
    analytics on every order change"): the decoded CDC stream joins a static
    dimension table. The dim side is broadcast — on a cluster every executor
    holds the dim and the stream never shuffles."""
    decoded = decode_envelope(env_stream).filter(~F.col("_corrupt"))
    enriched = decoded.join(F.broadcast(dim), "id").select(
        "id", "status", "op", *[c for c in dim.columns if c != "id"]
    )
    writer = (
        enriched.writeStream.format("memory")
        .queryName(sink_table)
        .outputMode("append")
        .option("checkpointLocation", checkpoint_dir)
    )
    return _triggered(writer, available_now, trigger_seconds).start()


class ProgressRecorder:
    """Stream metrics observability (README.md:64, 179, 230): mirrors the
    reference's IteratorAge / MillisBehindLatest / PutRecords.Success
    checklist via StreamingQueryListener progress events."""

    def __init__(self, spark: SparkSession):
        from pyspark.sql.streaming import StreamingQueryListener

        recorder = self

        class _L(StreamingQueryListener):
            def onQueryStarted(self, event):
                recorder.started.append(event.id)

            def onQueryProgress(self, event):
                p = event.progress
                recorder.progress.append(
                    {
                        "batchId": p.batchId,
                        "numInputRows": p.numInputRows,
                        "inputRowsPerSecond": p.inputRowsPerSecond,
                        "batchDurationMs": p.batchDuration,
                    }
                )

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                recorder.terminated.append(event.id)

        self.started: list = []
        self.progress: list = []
        self.terminated: list = []
        self._listener = _L()
        self._spark = spark
        spark.streams.addListener(self._listener)

    def close(self) -> None:
        self._spark.streams.removeListener(self._listener)


def start_scd2_maintenance(
    env_stream: DataFrame,
    table_dir: str,
    checkpoint_dir: str,
) -> StreamingQuery:
    """Streaming SCD Type-2 dimension maintenance (the history-keeping
    sibling of start_warehouse_upsert; README.md:167-168, 573-575): each
    CDC micro-batch merges into a versioned-interval dimension via
    scd2_merge_increment — per-key chains REBUILT from the exact event
    set, so cross-batch arrival order (late or replayed events) cannot
    corrupt the history. State layout is the versioned-dirs + atomic
    `_CURRENT` pointer idiom (readers always see one complete version;
    a replayed batch rewrites its own version idempotently).

    Scale: per batch one touched-key semi/anti join + one window over
    (touched chains + delta) — O(delta × chain depth); the untouched
    dimension passes through. At warehouse scale the pass-through write
    becomes a partition-scoped MERGE on a v2 catalog, same plan shape."""
    from aws_kinesis_spark.operators.upsert import scd2_merge_increment

    os.makedirs(table_dir, exist_ok=True)

    def flush(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        decoded = (
            decode_envelope(batch_df)
            .filter(~F.col("_corrupt"))
            .select("id", "status", "op", "sequence_number")
        )
        base = _latest_version_dir_below(table_dir, batch_id)
        versions = _read_version(spark, base) if base else None
        merged = scd2_merge_increment(versions, decoded, ["id"], "sequence_number")
        _commit_table_version(merged, table_dir, batch_id)

    return (
        env_stream.writeStream.foreachBatch(flush)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def _batch_input_bytes(checkpoint_dir: str, batch_id: int) -> int | None:
    """Input bytes of a FILE-SOURCE micro-batch, from DRIVER METADATA only
    (no Spark job): the file source's own write-ahead log for this batch
    (``<checkpoint>/sources/0/<batch_id>``, one JSON line per input file)
    names the exact files; their on-disk sizes are the batch's bytes.
    ``batch_df.inputFiles()`` cannot supply this — for a streaming file
    source the micro-batch plan is not a plain file scan and it returns an
    EMPTY list (measured, Spark 4). Any source without a file WAL (kinesis,
    rate, memory) -> None, and the caller must fall back to a row-count
    gate. Raises nothing: unreadable/absent WAL is None."""
    import json as _json
    from urllib.parse import unquote, urlparse

    src_dir = os.path.join(checkpoint_dir, "sources", "0")
    # every compactInterval-th batch (default 10) is logged as
    # "<id>.compact" — a COMPACTED log holding the whole history, so
    # entries must be filtered to THIS batch's id either way
    wal = os.path.join(src_dir, str(batch_id))
    if not os.path.exists(wal):
        wal = os.path.join(src_dir, f"{batch_id}.compact")
    try:
        total = 0
        stat_paths = []
        seen = False
        with open(wal) as fh:
            for line in fh:
                line = line.strip()
                if not line or not line.startswith("{"):
                    continue
                entry = _json.loads(line)
                p = entry.get("path", "")
                if p and entry.get("batchId") == batch_id:
                    seen = True
                    # the WAL entry already carries the file size — using
                    # it is both cheaper (zero stats per trigger) and
                    # correct after the input files are archived/deleted
                    # post-processing (cleanSource / retention jobs),
                    # where a re-stat raised and silently degraded every
                    # later trigger to the sourceless shape (round-13
                    # review)
                    sz = entry.get("size")
                    if isinstance(sz, int) and sz >= 0:
                        total += sz
                    else:
                        stat_paths.append(
                            unquote(urlparse(p).path) if "://" in p else p
                        )
        if not seen:
            return None
        return total + sum(os.path.getsize(p) for p in stat_paths)
    except (OSError, ValueError):
        return None


def _index_dirs(root: str, upto_exclusive: int | None = None) -> list[str]:
    """Live directories of a standing index store: the newest ``compact=M``
    plus every ``batch=N`` with N > M (and N < upto_exclusive when given).
    Batch dirs at or below a completed compaction are superseded — ignoring
    them makes a crash between the compaction rename and the source-dir
    deletion harmless (no double counting)."""
    names = os.listdir(root) if os.path.isdir(root) else []
    compacts = [
        int(d.split("=")[1])
        for d in names
        if d.startswith("compact=") and not d.endswith(".tmp")
    ]
    base = max(compacts) if compacts else -1
    out = [os.path.join(root, f"compact={base}")] if base >= 0 else []
    for d in names:
        # ".tmp"-suffixed dirs are in-flight atomic writes (IVF cell
        # appends) — invisible until their commit rename
        if not d.startswith("batch=") or d.endswith(".tmp"):
            continue
        n = int(d.split("=")[1])
        if n > base and (upto_exclusive is None or n < upto_exclusive):
            out.append(os.path.join(root, d))
    # an empty micro-batch commits a dir with no data files (just _SUCCESS)
    # — unreadable and contentless, skip it
    return sorted(d for d in out if _list_parquet_files(d))


def _read_index_dirs(
    spark: SparkSession, dirs: list[str], cols: list[str], schema=None
) -> DataFrame | None:
    """Union the per-dir reads of a bucketed index store. Each dir is read
    on its own so its hash-bucket subdirs infer as a partition column
    (mixing batch=/compact= names under one basePath would not); a bucket
    filter applied to the union pushes into every child scan's partition
    pruning. Passing ``schema`` (incl. the partition column) skips the
    per-dir footer-read inference job — on the per-trigger hot path that
    is one driver round-trip per store per dir, pure fixed cost."""
    if not dirs:
        return None
    reader = spark.read.schema(schema) if schema is not None else spark.read
    parts = [reader.parquet(d).select(*cols) for d in dirs]
    df = parts[0]
    for p in parts[1:]:
        df = df.unionByName(p)
    return df


def _sweep_superseded_dirs(root: str, upto: int) -> None:
    """Once compact=<upto> is committed, EVERY compact=<k<upto> and
    batch=<n<=upto> dir is provably folded into it (older batches fed the
    older compaction that fed this one) — delete them all, not just one
    call's srcs list, so a crash between the rename and the rmtree loop
    cannot strand dirs forever (the retry used to hit the final-exists
    path and skip cleanup permanently)."""
    import shutil

    for d in os.listdir(root):
        kind, _, num = d.partition("=")
        if not num or d.endswith(".tmp"):
            continue
        if (kind == "compact" and int(num) < upto) or (
            kind == "batch" and int(num) <= upto
        ):
            shutil.rmtree(os.path.join(root, d), ignore_errors=True)


# Input bytes per task for the store folds and the dedup trigger's
# signing and shuffles: partition counts scale with the data they carry,
# never with a constant tuned for local mode or for the cluster.
_TASK_INPUT_BYTES = 256 << 10


def _compact_store(
    spark: SparkSession,
    root: str,
    part_col: str,
    upto: int,
    driver_fold_max_bytes: int = 32 << 20,
) -> int:
    """Fold one standing store's per-batch directories at or below
    ``upto`` (plus any older compaction) into ``compact=<upto>``, keeping
    the hash-partition layout. Bounds the per-read listing/open cost to
    O(batches since last compaction) instead of O(store lifetime). Same
    write-to-tmp + atomic-rename commit as every lake object; idempotent
    (a replayed request against an existing compaction only finishes the
    sweep). Shared by the dedup-ingest index (bands/corpus) and the
    persistent IVF index (cells).

    Compaction is a SMALL-FILES problem: the dirs being folded are
    ``compact_every`` micro-batches of metadata-scale rows, and it runs
    INSIDE a live trigger (g35 overlaps it, but awaits the result before
    the standing listing — its wall time is trigger latency). When the
    fold's total ON-DISK bytes fit under ``driver_fold_max_bytes`` the
    fold runs driver-side via pyarrow (zero Spark jobs — the same
    centroid-IO reasoning as the IVF store); above the dial it stays a
    clustered Spark rewrite, which is the right tool once folds carry
    real data. The dial measures COMPRESSED parquet, but the fold holds
    the decompressed Arrow table (transiently twice, across concat) in
    driver memory — the 32 MB default leaves ~10-20x decompression
    headroom so the peak stays in the low hundreds of MB; size it to your
    driver, not to what Spark could shuffle."""
    import shutil

    srcs = _index_dirs(root, upto_exclusive=upto + 1)
    final = os.path.join(root, f"compact={upto}")
    if os.path.exists(final):
        _sweep_superseded_dirs(root, upto)  # crash-recovery: finish cleanup
        return 0
    if len(srcs) <= 1:
        return 0
    tmp = final + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    total_bytes = sum(
        os.path.getsize(os.path.join(dp, f))
        for s in srcs
        for dp, _dirs, fs in os.walk(s)
        for f in fs
        if f.endswith(".parquet")
    )
    if total_bytes <= driver_fold_max_bytes:
        _fold_store_driver_side(srcs, tmp, part_col)
    else:
        schema = parquet_store_schema(srcs[0])
        cols = [c for c in schema.fieldNames() if c != part_col] + [part_col]
        merged = _read_index_dirs(spark, srcs, cols, schema)
        # cluster on the partition value before writing: one file per
        # bucket instead of files x source-dirs — every later reader opens
        # the compacted store, so open count is paid per read while this
        # shuffle is paid once per compaction. The fold's own task count,
        # never the session's: one per _TASK_INPUT_BYTES of input, capped
        # at the partition values on disk, past which a hash-clustered
        # write only adds empty tasks
        values = {
            d for s in srcs for d in os.listdir(s) if d.startswith(part_col + "=")
        }
        n_tasks = max(1, min(len(values), total_bytes // _TASK_INPUT_BYTES))
        merged.repartition(n_tasks, F.col(part_col)).write.partitionBy(
            part_col
        ).mode("overwrite").parquet(tmp)
    os.replace(tmp, final)
    _sweep_superseded_dirs(root, upto)
    return 1


def _fold_store_driver_side(srcs: list[str], tmp: str, part_col: str) -> None:
    """Metadata-scale fold: read the hive-partitioned source dirs and
    rewrite them as ONE hive-partitioned dir with pyarrow — no Spark jobs
    on the trigger's critical path. Produces the same layout the Spark
    rewrite does (one file per partition value, snappy parquet, hive dir
    names) so readers cannot tell which path folded the store."""
    import pyarrow as pa
    import pyarrow.dataset as pds

    tables = [
        pds.dataset(s, format="parquet", partitioning="hive").to_table()
        for s in srcs
    ]
    table = pa.concat_tables(tables, promote_options="permissive")
    part_field = table.schema.field(part_col)
    pds.write_dataset(
        table,
        tmp,
        format="parquet",
        partitioning=pds.partitioning(pa.schema([part_field]), flavor="hive"),
        existing_data_behavior="overwrite_or_ignore",
    )




# Upper bound on a micro-batch's INPUT bytes for the driver side of a
# per-trigger store write (the _fold_store_driver_side / centroid-IO
# reasoning): below it, the per-trigger bands/corpus dirs are laid out with
# pyarrow from one bounded Arrow collect — no Spark write job, no shuffle,
# no dynamic-partition commit on the trigger's critical path. Above it the
# write stays a clustered Spark job (real data work belongs on the
# cluster). The gate measures the batch's compressed input; the collect
# holds the decoded rows once in driver memory — same headroom argument as
# _compact_store's driver_fold_max_bytes. start_dedup_ingest also gates
# its driver-side probe of the standing band index on it.
_DRIVER_WRITE_MAX_BYTES = 32 << 20

# Upper bound on the rows of a per-trigger side the dedup trigger treats
# as small: broadcast on the Spark shape, held and joined on the driver
# shape (batch band rows, candidate pairs).
_SMALL_SIDE_MAX_ROWS = 2_000_000


def _write_hive_driver_side(tbl, out_dir: str, part_col: str) -> None:
    """KB/MB-scale per-trigger store write without a Spark write job: lay
    out an Arrow table the caller already holds (and byte-gates) as the
    same hive-partitioned snappy parquet dirs the Spark writer produces
    (the _fold_store_driver_side layout contract — readers cannot tell
    which path wrote the store). Replay-idempotent like mode("overwrite"):
    the dir is wiped and rewritten, and it exists afterwards even for an
    empty table, as the Spark writer's does."""
    import shutil

    import pyarrow as pa
    import pyarrow.dataset as pds

    shutil.rmtree(out_dir, ignore_errors=True)
    pds.write_dataset(
        tbl,
        out_dir,
        format="parquet",
        partitioning=pds.partitioning(
            pa.schema([tbl.schema.field(part_col)]), flavor="hive"
        ),
        existing_data_behavior="overwrite_or_ignore",
    )
    os.makedirs(out_dir, exist_ok=True)


def compact_dedup_index(spark: SparkSession, index_dir: str, upto: int) -> int:
    """Fold a dedup-ingest index's per-batch directories at or below
    ``upto`` into one ``compact=<upto>`` dir per store (see
    _compact_store). Returns stores compacted."""
    # the two stores are independent — compact them as concurrent Spark
    # jobs (local threads): compaction runs inside a live trigger (g35
    # overlaps it with batch signing), so its wall time is trigger latency
    from concurrent.futures import ThreadPoolExecutor

    with ThreadPoolExecutor(max_workers=2) as pool:
        futs = [
            pool.submit(
                _compact_store, spark, os.path.join(index_dir, sub), part_col, upto
            )
            for sub, part_col in (("bands", "bucket"), ("corpus", "idb"))
        ]
        return sum(f.result() for f in futs)


def _files_in_partitions(dirs: list[str], part_col: str, values) -> list[str]:
    """Data files under the ``<part_col>=<v>`` subdirs of a store's live
    dirs, for ``v`` in ``values`` — a partition-pruned listing on the
    driver."""
    want = {f"{part_col}={v}" for v in values}
    return [
        f
        for d in dirs
        for f in _list_parquet_files(d)
        if os.path.basename(os.path.dirname(f)) in want
    ]


def read_dedup_corpus(spark: SparkSession, index_dir: str) -> DataFrame:
    """The landed corpus (docs + kept verdicts) across every live batch and
    compaction dir — the reader face of start_dedup_ingest's store. Every
    dir of the store shares one schema, read from one footer, so building
    the frame launches no Spark job. The live dirs' data files are read as
    ONE flat scan (file paths name no partition dirs, and the ``idb``
    bucket is not a reader column), not a union of per-dir scans: one scan
    node to plan and one set of tasks to schedule, however many dirs the
    store has between compactions."""
    from pyspark.sql.types import StructType

    dirs = _index_dirs(os.path.join(index_dir, "corpus"))
    if not dirs:
        raise ValueError(f"dedup index {index_dir} has no landed corpus")
    schema = parquet_store_schema(dirs[0])
    files = [f for d in dirs for f in _list_parquet_files(d)]
    return spark.read.schema(
        StructType([f for f in schema.fields if f.name != "idb"])
    ).parquet(*files)


def start_dedup_ingest(
    doc_stream: DataFrame,
    index_dir: str,
    checkpoint_dir: str,
    threshold: float = 0.7,
    n_buckets: int = 64,
    compact_every: int = 8,
) -> StreamingQuery:
    """NEAR-DUP DEDUP AT INGEST (g35): each micro-batch of documents is
    checked against a STANDING LSH band index of everything seen so far
    (plus its own smaller-id members) and landed with a kept/dropped
    verdict — the g02 banding made continuous, the shape a crawl pipeline
    actually runs. Semantics are first-occurrence-wins and
    batching-independent: doc i is dropped iff some j < i with
    jaccard(i, j) >= threshold was ingested at or before i's batch.

    Per batch: band rows for the BATCH only (the standing corpus is never
    re-signed, and signing always runs on Spark, so every band hash is
    Spark's ``xxhash64`` whichever shape wrote it). Candidates are the
    batch band rows joined on (band, bh) against standing ∪ batch band
    rows: the distinct (id_a, id_b) with id_a < id_b, id_b in the batch. The
    exact-Jaccard verify re-shingles only the candidate ids' texts: the
    batch's own, plus the candidates' ``idb`` buckets of the landed corpus
    — O(batch + candidates), never O(corpus).

    Two shapes of one trigger, one gate (``_DRIVER_WRITE_MAX_BYTES``):

    - DRIVER shape, when the batch's input bytes are known and under the
      gate and the standing ``bands`` files in the batch's touched
      ``bucket=`` dirs are too: one Spark collect signs the batch (its
      docs come back beside their band hashes) and is the trigger's only
      Spark work. The standing probe, candidate join, verify
      (dedup.verify_pairs_on_driver), verdicts and both store writes run
      on the driver with pyarrow and Python. Driver memory holds the
      decoded batch (< 32 MB of input), its band rows (16 per doc), the
      standing rows matching the batch's band hashes (read from < 32 MB
      of band files), the candidate pairs and their texts. The candidate
      join's row count is checked before it runs: above
      ``_SMALL_SIDE_MAX_ROWS`` (2,000,000) the trigger takes the Spark
      shape instead, so the pairs and their texts are bounded too.
    - SPARK shape otherwise: sourceless batches (Kinesis: no byte
      metadata), batches over the gate, standing stores too large to
      probe on the driver and hot buckets past the pair bound. The batch
      is cached and signed across the cluster; the candidate join
      broadcasts the batch side (the standing index never shuffles); the
      verify joins texts by id; the stores are written by a clustered
      Spark write (or driver-side under the gate). Its shuffles run at a
      trigger-scoped ``spark.sql.shuffle.partitions`` derived from the
      batch bytes, restored when the trigger ends.

    Scale posture of the STATE (the part that outlives any batch):
    - ``bands/…/bucket=<bh%K>`` hash-bucketed layout: the standing-band
      read is partition-pruned to the bucket values the batch actually
      emits, so a small micro-batch scans a fraction of the index instead
      of all of it.
    - ``corpus/…/idb=<doc_id%K>``: verify texts are fetched by the
      CANDIDATES' id-buckets only, never by reading the whole landed
      corpus.
    - every ``compact_every`` batches the per-batch dirs fold into one
      ``compact=M`` dir (compact_dedup_index, run at trigger start for
      prior batches only, so a replayed trigger re-runs it idempotently)
      — listing/open cost stays O(compact_every), not O(stream lifetime).
    All stores stay overwrite-idempotent per batch id, so a replayed
    micro-batch converges to the same verdicts."""
    import numpy as np
    from pyspark.sql import types as T
    from pyspark.sql.pandas.types import to_arrow_schema

    from aws_kinesis_spark.operators.dedup import (
        band_rows,
        docs_with_band_hashes,
        verify_pairs_against_texts,
        verify_pairs_on_driver,
    )

    bands_dir = os.path.join(index_dir, "bands")
    corpus_dir = os.path.join(index_dir, "corpus")
    os.makedirs(bands_dir, exist_ok=True)
    os.makedirs(corpus_dir, exist_ok=True)

    # both index stores have schemas known at stream start — pass them to
    # every per-trigger read so no trigger pays a footer-inference job
    id_type = doc_stream.schema["doc_id"].dataType
    bands_schema = T.StructType(
        [
            T.StructField("doc_id", id_type),
            T.StructField("band", T.IntegerType()),
            T.StructField("bh", T.LongType()),
            T.StructField("bucket", T.IntegerType()),
        ]
    )
    corpus_schema = T.StructType(
        list(doc_stream.schema.fields)
        + [
            T.StructField("kept", T.BooleanType()),
            T.StructField("idb", T.IntegerType()),
        ]
    )
    bands_arrow = to_arrow_schema(bands_schema)

    # runtime-adaptive trigger shape: the fraction of buckets the PREVIOUS
    # trigger touched. Steady-state streams have stable batch shapes, so
    # when the last batch covered ~every bucket, pruning the standing read
    # buys nothing for this one either — overlap the bands write instead.
    # Purely a performance dial (never affects verdicts); resets to the
    # conservative write-first shape on restart.
    _coverage = {"frac": 0.0}

    def on_driver(batch_df, batch_id, in_bytes, compact_f, pool) -> bool:
        """The driver shape; False (nothing written) when the standing
        probe or the candidate join is over its bound."""
        import pyarrow as pa
        import pyarrow.compute as pc
        import pyarrow.dataset as pds

        # one signing task per _TASK_INPUT_BYTES of input, as on the Spark
        # shape; a trickle batch signs in the partitions it arrived in
        n_sign = min(
            batch_df.sparkSession.sparkContext.defaultParallelism,
            in_bytes // _TASK_INPUT_BYTES,
        )
        src = batch_df.repartition(n_sign) if n_sign > 1 else batch_df
        signed = docs_with_band_hashes(src).toArrow()
        docs = signed.drop_columns(["__bands"])
        # explode to band rows: element i of a doc's __bands is band i
        lists = signed.column("__bands").combine_chunks()
        lens = pc.list_value_length(lists).fill_null(0).to_numpy()
        bh = pc.list_flatten(lists).to_numpy()
        band = np.arange(len(bh)) - np.repeat(np.cumsum(lens) - lens, lens)
        bucket = np.mod(bh, n_buckets).astype(np.int32)
        batch_bands = pa.Table.from_arrays(
            [
                pc.take(
                    docs.column("doc_id").combine_chunks(),
                    pc.list_parent_indices(lists),
                ),
                pa.array(band.astype(np.int32)),
                pa.array(bh, pa.int64()),
                pa.array(bucket),
            ],
            schema=bands_arrow,
        )
        touched = np.unique(bucket)
        if compact_f is not None:
            compact_f.result()  # dir layout must be stable before listing
        standing_files = _files_in_partitions(
            _index_dirs(bands_dir, upto_exclusive=batch_id), "bucket", touched
        )
        standing_bytes = sum(os.path.getsize(f) for f in standing_files)
        if standing_bytes >= _DRIVER_WRITE_MAX_BYTES:
            return False
        # the standing rows the batch's band hashes can meet, then the
        # candidate join's size before it is built
        n_side = batch_bands.drop_columns(["bucket"])
        standing = pds.dataset(
            standing_files, schema=n_side.schema, format="parquet"
        ).to_table(filter=pc.field("bh").isin(pa.array(np.unique(bh))))
        m_side = pa.concat_tables([standing, n_side]).rename_columns(
            ["id_a", "band", "bh"]
        )
        per_key = m_side.group_by(["band", "bh"]).aggregate([("id_a", "count")])
        joined = n_side.join(per_key, ["band", "bh"]).column("id_a_count")
        if (pc.sum(joined).as_py() or 0) > _SMALL_SIDE_MAX_ROWS:
            return False
        pairs = (
            n_side.join(m_side, ["band", "bh"])
            .filter(pc.field("id_a") < pc.field("doc_id"))
            .group_by(["id_a", "doc_id"])
            .aggregate([])
        )
        id_a = pairs.column("id_a").to_pylist()
        id_b = pairs.column("doc_id").to_pylist()
        texts: dict = {}

        def add_texts(tbl) -> None:
            cols = (tbl.column(c).to_pylist() for c in ("doc_id", "text"))
            for i, t in zip(*cols):
                texts.setdefault(i, []).append(t)

        if id_a:
            need = pa.array(
                list(set(id_a) | set(id_b)), docs.schema.field("doc_id").type
            )
            text_cols = docs.select(["doc_id", "text"])
            add_texts(text_cols.filter(pc.is_in(text_cols.column("doc_id"), need)))
            corpus_files = _files_in_partitions(
                _index_dirs(corpus_dir, upto_exclusive=batch_id),
                "idb",
                {i % n_buckets for i in id_a},
            )
            add_texts(
                pds.dataset(
                    corpus_files, schema=text_cols.schema, format="parquet"
                ).to_table(filter=pc.field("doc_id").isin(need))
            )
        dropped = verify_pairs_on_driver(zip(id_a, id_b), texts, threshold)
        bands_f = pool.submit(
            _write_hive_driver_side,
            batch_bands,
            os.path.join(bands_dir, f"batch={batch_id}"),
            "bucket",
        )
        ids = docs.column("doc_id")
        # the Spark shape's using-join column order: doc_id first
        out = docs.select(
            ["doc_id"] + [c for c in docs.column_names if c != "doc_id"]
        )
        out = out.append_column(
            "kept", pc.invert(pc.is_in(ids, pa.array(list(dropped), ids.type)))
        ).append_column(
            "idb", pa.array(np.mod(ids.to_numpy(), n_buckets).astype(np.int32))
        )
        _write_hive_driver_side(
            out, os.path.join(corpus_dir, f"batch={batch_id}"), "idb"
        )
        bands_f.result()
        _coverage["frac"] = len(touched) / max(n_buckets, 1)
        return True

    def on_spark(batch_df, batch_id, in_bytes, has_standing, compact_f, pool) -> None:
        """The Spark shape. Per-trigger latency here is job-count bound (a
        micro-batch is small; every barrier costs more than its work), so
        the serial Spark actions are the candidate-bucket collect + corpus
        write (plus, on trickle batches only, the bounded bucket-collect
        that feeds the standing read's pruning — bulk batches skip it),
        with the bands write and compaction overlapped on threads
        (compaction only touches dirs < batch_id - 1, which nothing in
        this trigger reads until the standing-band listing — joined before
        that point). Reused frames are CACHED, not checkpointed
        (localCheckpoint plans physically at build time — serial driver
        latency per trigger; cache registration is free and the first job
        that touches the frame materializes it), and unpersisted when the
        trigger ends."""
        spark = batch_df.sparkSession
        cached: list[DataFrame] = []
        prev_parts: str | None = None  # set iff the trigger narrows the conf

        def keep(df: DataFrame) -> DataFrame:
            # caching the batch/bands beats recompute decisively even for
            # KB-scale batches (without it the Arrow signing runs once per
            # consumer)
            cached.append(df.cache())
            return df

        try:
            docs = keep(batch_df)
            # the file source delivers the batch as one partition per input
            # file — spread the Arrow signing kernel across the executors
            # (a 2 KB/doc shuffle buys a parallelism-times-faster UDF pass).
            # The spread is BYTE-PROPORTIONAL (one signing task per
            # _TASK_INPUT_BYTES of input, floor 4): an explicit
            # repartition(N) is pinned — AQE cannot coalesce
            # REPARTITION_BY_NUM — so sizing it to the cluster for a
            # KB-scale batch would pin dozens of near-empty tasks into
            # every downstream stage of the trigger. A GB-scale batch
            # still fans to the full parallelism.
            par = spark.sparkContext.defaultParallelism
            sign_par = (
                par
                if in_bytes is None
                else min(par, max(4, in_bytes // _TASK_INPUT_BYTES))
            )
            # Trigger-scoped SHUFFLE partition count, derived from the
            # batch's input bytes exactly like sign_par (partition counts
            # must scale with the data). Every shuffle stage inside the
            # trigger carries O(batch+candidates) rows — the standing index
            # only ever enters through broadcast or pruned scans — so a
            # small batch at the session-wide count pays tens of near-empty
            # tasks per stage. A GB-scale catch-up batch derives the
            # session value unchanged (min with it), so the dial never
            # CAPS real work. Restored in the finally block; this is a
            # session-conf write from the micro-batch thread —
            # single-stream-per-session posture (the foreachBatch worker
            # and its two pool threads all want the trigger's value).
            if in_bytes is not None:
                cur = spark.conf.get("spark.sql.shuffle.partitions")
                trig = min(int(cur), max(4, in_bytes // _TASK_INPUT_BYTES))
                if trig < int(cur):
                    prev_parts = cur
                    spark.conf.set("spark.sql.shuffle.partitions", str(trig))
            bb = keep(
                band_rows(docs.repartition(sign_par)).withColumn(
                    "bucket", F.pmod("bh", F.lit(n_buckets)).cast("int")
                )
            )
            batch_bands_dir = os.path.join(bands_dir, f"batch={batch_id}")
            # batches under the byte gate write both stores driver-side
            # (one Arrow collect each, pyarrow hive layout — no Spark write
            # job, no per-trigger dynamic-partition commit)
            driver_write = (
                in_bytes is not None and in_bytes <= _DRIVER_WRITE_MAX_BYTES
            )

            def _write_bands() -> None:
                if driver_write:
                    _write_hive_driver_side(bb.toArrow(), batch_bands_dir, "bucket")
                else:
                    # clustered by bucket so each batch lands ~one file per
                    # bucket (the signing repartition would otherwise fan
                    # every bucket across sign_par files)
                    (
                        bb.repartition(F.col("bucket"))
                        .write.partitionBy("bucket")
                        .mode("overwrite")
                        .parquet(batch_bands_dir)
                    )

            # A batch carrying >= 64 KB of documents per bucket on average
            # touches ~every bucket, so bucket-pruning the standing read
            # buys nothing there. A sourceless batch (no WAL -> None)
            # always takes the trickle branch, whose row-count gate bounds
            # the broadcast. An EMPTY standing index (first trigger, or
            # restart before anything landed) makes both trickle collects
            # pure waste: there is no standing read to prune and no prior
            # corpus to fetch.
            bulk = not has_standing or (
                in_bytes is not None
                and (in_bytes >= n_buckets * (64 << 10) or _coverage["frac"] >= 0.75)
            )
            # the bands write ALWAYS overlaps the candidate/verify chain
            # (nothing in this trigger reads this batch's bands dir; the
            # trigger returns only after .result(), so a crash replays
            # both idempotent writes together)
            bands_write_f = pool.submit(_write_bands)
            if bulk:
                # BULK batch: it will touch ~every bucket, so the
                # bucket-collect job AND the standing-read pruning are
                # both useless — skip them
                batch_buckets = None  # standing read stays unpruned
                # no byte metadata (sourceless first trigger) -> no forced
                # broadcast; AQE decides from runtime stats
                batch_is_small = in_bytes is not None and in_bytes <= (64 << 20)
            else:
                # TRICKLE batch (or a non-file source with no byte
                # metadata): one bounded collect (<= n_buckets rows,
                # overlapping the threaded write) yields the
                # partition-pruning key list and the batch size
                bucket_counts = bb.groupBy("bucket").count().collect()
                batch_buckets = [r[0] for r in bucket_counts]
                batch_is_small = (
                    sum(r[1] for r in bucket_counts) <= _SMALL_SIDE_MAX_ROWS
                )
                _coverage["frac"] = len(batch_buckets) / max(n_buckets, 1)
            if compact_f is not None:
                compact_f.result()  # dir layout must be stable before listing
            standing = _read_index_dirs(
                spark,
                _index_dirs(bands_dir, upto_exclusive=batch_id),
                cols=["doc_id", "band", "bh", "bucket"],
                schema=bands_schema,
            )
            if standing is None or (batch_buckets is not None and not batch_buckets):
                all_bands = bb
            elif batch_buckets is not None:
                all_bands = standing.filter(
                    F.col("bucket").isin(batch_buckets)
                ).unionByName(bb)
            else:
                all_bands = standing.unionByName(bb)
            # broadcast the BATCH bands: the standing index (the side that
            # grows with the corpus) never shuffles — stream-static
            # asymmetry. The hint is gated on batch size: a catch-up
            # trigger folds the whole backlog into ONE batch, and
            # force-broadcasting that would blow the driver where an
            # AQE-decided shuffle join degrades gracefully.
            n = (F.broadcast(bb) if batch_is_small else bb).alias("n")
            m = all_bands.alias("m")
            cand = (
                n.join(
                    m,
                    (F.col("n.band") == F.col("m.band"))
                    & (F.col("n.bh") == F.col("m.bh"))
                    & (F.col("m.doc_id") < F.col("n.doc_id")),
                )
                .select(
                    F.col("m.doc_id").alias("id_a"), F.col("n.doc_id").alias("id_b")
                )
                .distinct()
            )
            cand = keep(cand)
            # id_b is always batch-side; only id_a may live in the standing
            # corpus — on trickle triggers fetch exactly its id-buckets
            # (<= n_buckets ints, one bounded collect). On BULK triggers
            # candidates span ~every id-bucket, so the bucket prune would
            # remove no IO and its collect is pure serial latency.
            if bulk:
                cand_buckets = None
                # bytes bound the BATCH, not the candidate-pair count (hot
                # LSH buckets can explode pairs regardless of batch size)
                # — the bulk path has no free pair count, so never force
                # the pairs broadcast there
                pairs_small = False
            else:
                cand_idb = cand.select(
                    F.pmod("id_a", F.lit(n_buckets)).cast("int").alias("idb")
                )
                cand_buckets_n = cand_idb.groupBy("idb").count().collect()
                cand_buckets = [r["idb"] for r in cand_buckets_n]
                # the same bounded collect yields the TRUE pair count, so
                # the verify broadcast is gated on the thing that rides it
                pairs_small = (
                    batch_is_small
                    and sum(r["count"] for r in cand_buckets_n) <= _SMALL_SIDE_MAX_ROWS
                )
            texts = docs.select("doc_id", "text")
            prior_corpus = _read_index_dirs(
                spark,
                _index_dirs(corpus_dir, upto_exclusive=batch_id),
                cols=["doc_id", "text", "idb"],
                schema=corpus_schema,
            )
            if prior_corpus is not None and (cand_buckets is None or cand_buckets):
                pc = prior_corpus
                if cand_buckets is not None:
                    pc = pc.filter(F.col("idb").isin(cand_buckets))
                texts = texts.unionByName(pc.select("doc_id", "text"))
            dropped = (
                verify_pairs_against_texts(
                    cand,
                    texts,
                    threshold=threshold,
                    keep=keep,
                    pairs_are_small=pairs_small,
                )
                .select(F.col("id_b").alias("doc_id"))
                .distinct()
                .withColumn("__dup", F.lit(True))
            )
            # one left join decides the verdict (kept = no smaller-id dup);
            # dropped is candidate-sized (<= batch ids) — broadcast it so
            # the batch never shuffles, under the same size gate as the
            # band join, and cluster the landing write by id-bucket
            out = (
                docs.join(
                    F.broadcast(dropped) if batch_is_small else dropped,
                    "doc_id",
                    "left",
                )
                .withColumn("kept", F.col("__dup").isNull())
                .drop("__dup")
                .withColumn("idb", F.pmod("doc_id", F.lit(n_buckets)).cast("int"))
            )
            corpus_batch_dir = os.path.join(corpus_dir, f"batch={batch_id}")
            if driver_write:
                _write_hive_driver_side(out.toArrow(), corpus_batch_dir, "idb")
            else:
                out.repartition(F.col("idb")).write.partitionBy("idb").mode(
                    "overwrite"
                ).parquet(corpus_batch_dir)
            bands_write_f.result()
            if bulk:
                # refresh the coverage stat from the landed layout (one
                # driver listing) so a shrinking stream falls back to the
                # pruned shape on a later trigger
                touched = sum(
                    1 for d in os.listdir(batch_bands_dir)
                    if d.startswith("bucket=")
                )
                _coverage["frac"] = touched / max(n_buckets, 1)
        finally:
            if prev_parts is not None:
                spark.conf.set("spark.sql.shuffle.partitions", prev_parts)
            for df in cached:
                df.unpersist()

    def flush(batch_df: DataFrame, batch_id: int) -> None:
        from concurrent.futures import ThreadPoolExecutor

        pool = ThreadPoolExecutor(max_workers=2)
        try:
            # probe the standing store BEFORE submitting the concurrent
            # compaction: a listdir racing the compaction thread's
            # rename+sweep can capture pre-rename dir names whose parquet
            # walk then reads empty. Sequenced before the submit it is
            # race-free, and compaction never changes store EMPTINESS,
            # only its dir layout.
            has_standing = bool(_index_dirs(bands_dir, upto_exclusive=batch_id))
            compact_f = None
            if compact_every and batch_id and batch_id % compact_every == 0:
                compact_f = pool.submit(
                    compact_dedup_index,
                    batch_df.sparkSession,
                    index_dir,
                    upto=batch_id - 1,
                )
            # the trigger's shape from DRIVER METADATA only (no Spark job):
            # the micro-batch's input bytes via the file source's WAL
            in_bytes = _batch_input_bytes(checkpoint_dir, batch_id)
            if (
                in_bytes is not None
                and in_bytes <= _DRIVER_WRITE_MAX_BYTES
                and on_driver(batch_df, batch_id, in_bytes, compact_f, pool)
            ):
                return
            on_spark(batch_df, batch_id, in_bytes, has_standing, compact_f, pool)
        finally:
            pool.shutdown(wait=True)

    return (
        doc_stream.writeStream.foreachBatch(flush)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
