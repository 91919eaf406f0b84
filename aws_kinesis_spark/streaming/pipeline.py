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

from aws_kinesis_spark import store
from aws_kinesis_spark.sources.envelope import ENVELOPE_SCHEMA, decode_envelope
from aws_kinesis_spark.sources.lake import (
    DLQ_COLS,
    PARTITION_COLS,
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
    """The one file-source reader body behind envelope_stream/event_stream
    and the hive-dir fixture streams: they differ only in the schema and
    one recursion option, so the backpressure dials live here once.
    Backpressure dials (B5/B9): ``maxFilesPerTrigger`` bounds batch count
    like the producer's 500-record PutRecords cap (README.md:46);
    ``maxBytesPerTrigger`` is the reference's SizeInMBs buffer bound
    (README.md:117, 131 — 64 MB) mapped onto the source, so one
    micro-batch flushes ~one buffer's worth. ``recursive_file_lookup``
    reads files under hive-style subdirs WITHOUT partition inference
    (the arrival-ordered q=N fixture layout)."""
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
    """Shared trigger dial of the hot-path starters, so the continuous
    low-latency mode is reachable from each of them, not only
    availableNow. ``available_now=True`` drains-and-stops (tests, backfills);
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

    Two shapes of one flush, one gate (``store.DRIVER_MAX_BYTES``, the
    dedup trigger's): a flush is KB to MB, so its cost is per-trigger
    scheduling, not data.

    - DRIVER shape, when the batch's input bytes are known (file source
      WAL) and under the gate: one Spark action collects the decoded batch
      with its partition values as Arrow (decode, ``processed_at`` and the
      hour values stay Catalyst expressions, evaluated once). The driver
      splits ok and corrupt rows, writes the ok rows one file per hour leaf
      (store.write_hive_arrow), the corrupt rows as one DLQ file, and the
      manifest. Driver memory holds the decoded table (3.5-4.5x the
      compressed input bytes, see _lake_batch_for_driver) and, when the
      batch has corrupt rows, a filtered copy of its ok rows: under the
      32 MB gate the peak stays below ~300 MB.
    - SPARK shape otherwise (no byte metadata, as on a Kinesis source, or
      a batch over the gate): a clustered Spark write, one file per
      (batch, hour) leaf, then the DLQ write when the counts say the batch
      had corrupt records.

    Both shapes land the same leaves, file schemas, DLQ rows and manifest.
    """

    def on_driver(batch_df: DataFrame, batch_id: int) -> tuple[list[str], int]:
        import pyarrow.compute as pc
        import pyarrow.parquet as pq

        tbl = _lake_batch_for_driver(batch_df).toArrow()
        corrupt = tbl.column("_corrupt")
        n_bad = pc.sum(corrupt).as_py() or 0
        ok = tbl.filter(pc.invert(corrupt)) if n_bad else tbl
        ok = ok.drop_columns(["_corrupt", "data"])
        batch_root = os.path.join(lake_dir, "data", f"batch={batch_id}")
        if ok.num_rows:
            store.write_hive_arrow(ok, batch_root, PARTITION_COLS)
        if n_bad:
            bad = tbl.filter(corrupt)
            err_dir = os.path.join(lake_dir, "errors", f"batch={batch_id}")
            os.makedirs(err_dir, exist_ok=True)
            pq.write_table(
                bad.select(DLQ_COLS),
                os.path.join(err_dir, "part-0.parquet"),
                compression="snappy",
            )
        files = store.list_parquet_files(batch_root)
        return files, _footer_rows(files)

    def on_spark(batch_df: DataFrame, batch_id: int) -> tuple[list[str], int]:
        from concurrent.futures import ThreadPoolExecutor

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
                # dynamic overwrite as a per-write option (see
                # run_lake_batch): a session-conf write would race jobs
                # planning on other threads, and static overwrite would
                # truncate the other batches' data
                .option("partitionOverwriteMode", "dynamic")
                .option("compression", "snappy")
                .parquet(data_dir)
            )
            files = store.list_parquet_files(os.path.join(data_dir, f"batch={batch_id}"))
            n_ok = _footer_rows(files)
            # DLQ by subtraction: input count minus the written footers'
            # count is metadata the flush already holds, where probing
            # `bad` would re-run the whole decode on every clean batch
            if n_in_f.result() - n_ok:
                (
                    bad.select(*DLQ_COLS)
                    .write.mode("overwrite")
                    .parquet(os.path.join(lake_dir, "errors", f"batch={batch_id}"))
                )
        return files, n_ok

    def flush(batch_df: DataFrame, batch_id: int) -> None:
        purge_batch(lake_dir, batch_id)
        in_bytes = _batch_input_bytes(checkpoint_dir, batch_id)
        if in_bytes is not None and in_bytes <= store.DRIVER_MAX_BYTES:
            files, n_ok = on_driver(batch_df, batch_id)
        else:
            files, n_ok = on_spark(batch_df, batch_id)
        # the footer-true record count lets validate_manifest check it
        write_manifest(lake_dir, batch_id, files, n_records=n_ok)

    writer = env_stream.writeStream.foreachBatch(flush).option(
        "checkpointLocation", checkpoint_dir
    )
    return _triggered(writer, available_now, trigger_seconds).start()


def _lake_batch_for_driver(batch_df: DataFrame) -> DataFrame:
    """The lake flush's driver-shape frame: the decoded batch with its hour
    partition values, as one Spark action collects it. The raw ``data``
    column rides only on corrupt rows (the DLQ keeps it; the lake drops
    it), which halves the collected table: the Arrow table measures 3.5-4.5x
    the batch's compressed input bytes on the CDC envelope (sf0.001 and
    sf0.01 orders), against 6-8x with ``data`` on every row."""
    decoded = with_partition_cols(decode_envelope(batch_df))
    return decoded.withColumn("data", F.when(F.col("_corrupt"), F.col("data")))


def _footer_rows(files: list[str]) -> int:
    """Rows in parquet ``files``, from their footers on the driver."""
    import pyarrow.parquet as pq

    return sum(pq.ParquetFile(f).metadata.num_rows for f in files)


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


def _read_version(spark: SparkSession, vdir: str) -> DataFrame:
    """One committed version dir, planned on the driver: the schema comes
    from one footer (parquet_store_schema), so building the frame launches
    no Spark job — the merge base of every versioned-store trigger and
    every reader of the store."""
    return spark.read.schema(store.parquet_store_schema(vdir)).parquet(vdir)


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
        base = store.latest_version_dir_below(table_dir, batch_id)
        if base:
            current = _read_version(spark, base)
        else:
            current = spark.createDataFrame([], schema)
        merged = staging_upsert(current, latest, ["id"]).join(
            deletes, ["id"], "left_anti"
        )
        store.commit_table_version(merged, table_dir, batch_id)

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
        name = store.pointer_dir(table_dir)
        if name is None:
            return spark.createDataFrame([], empty_schema or WAREHOUSE_SCHEMA)
        vdir = os.path.join(table_dir, name)
    else:
        vdir = store.version_dir(table_dir, version)
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
        base = store.latest_version_dir_below(table_dir, batch_id)
        versions = _read_version(spark, base) if base else None
        merged = scd2_merge_increment(versions, decoded, ["id"], "sequence_number")
        store.commit_table_version(merged, table_dir, batch_id)

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
                    # where a re-stat would raise and silently degrade
                    # every later trigger to the sourceless shape
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


# Upper bound on the rows of a per-trigger side the dedup trigger treats
# as small: broadcast on the Spark shape, held and joined on the driver
# shape (batch band rows, candidate pairs).
_SMALL_SIDE_MAX_ROWS = 2_000_000


def compact_dedup_index(spark: SparkSession, index_dir: str, upto: int) -> int:
    """Fold a dedup-ingest index's per-batch directories at or below
    ``upto`` into one ``compact=<upto>`` dir per store (see
    store.compact_store). Returns stores compacted."""
    # the two stores are independent — compact them as concurrent Spark
    # jobs (local threads): compaction runs inside a live trigger (g35
    # overlaps it with batch signing), so its wall time is trigger latency
    from concurrent.futures import ThreadPoolExecutor

    with ThreadPoolExecutor(max_workers=2) as pool:
        futs = [
            pool.submit(
                store.compact_store, spark, os.path.join(index_dir, sub), part_col, upto
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
        for f in store.list_parquet_files(d)
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

    dirs = store.index_dirs(os.path.join(index_dir, "corpus"))
    if not dirs:
        raise ValueError(f"dedup index {index_dir} has no landed corpus")
    schema = store.parquet_store_schema(dirs[0])
    files = [f for d in dirs for f in store.list_parquet_files(d)]
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

    Two shapes of one trigger, one gate (``store.DRIVER_MAX_BYTES``):

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
      Spark write (or driver-side under the gate). The trigger writes no
      session conf: its shuffles are planned at the session's
      ``spark.sql.shuffle.partitions`` and AQE coalesces them to the
      batch's size. The shapes AQE leaves alone are set explicitly from
      the batch bytes: the signing spread (``repartition``) and the
      partition count of each frame the trigger caches (``coalesce``).

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

        # one signing task per TASK_INPUT_BYTES of input, as on the Spark
        # shape; a trickle batch signs in the partitions it arrived in
        n_sign = min(
            batch_df.sparkSession.sparkContext.defaultParallelism,
            in_bytes // store.TASK_INPUT_BYTES,
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
            store.index_dirs(bands_dir, upto_exclusive=batch_id), "bucket", touched
        )
        standing_bytes = sum(os.path.getsize(f) for f in standing_files)
        if standing_bytes >= store.DRIVER_MAX_BYTES:
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
                store.index_dirs(corpus_dir, upto_exclusive=batch_id),
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
            store.write_hive_arrow,
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
        store.write_hive_arrow(
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
        # the trigger's task count: one task per TASK_INPUT_BYTES of input,
        # floor 4 (None: no byte metadata)
        n_tasks = (
            None if in_bytes is None else max(4, in_bytes // store.TASK_INPUT_BYTES)
        )

        def keep(df: DataFrame) -> DataFrame:
            # caching the batch/bands beats recompute decisively even for
            # KB-scale batches (without it the Arrow signing runs once per
            # consumer). AQE coalesces every shuffle of the trigger except
            # the last one of a cached plan (Spark keeps a cached plan's
            # output partitioning), so a cached join or distinct would run
            # each read at the session's shuffle partition count: coalesce
            # it to the trigger's task count (a no-op when it has fewer
            # partitions).
            if n_tasks is not None:
                df = df.coalesce(n_tasks)
            cached.append(df.cache())
            return df

        try:
            docs = keep(batch_df)
            # the file source delivers the batch as one partition per input
            # file — spread the Arrow signing kernel across the executors
            # (a 2 KB/doc shuffle buys a parallelism-times-faster UDF pass).
            # The spread is BYTE-PROPORTIONAL (n_tasks): an explicit
            # repartition(N) is pinned — AQE cannot coalesce
            # REPARTITION_BY_NUM — so sizing it to the cluster for a
            # KB-scale batch would pin dozens of near-empty tasks into
            # every downstream stage of the trigger. A GB-scale batch
            # still fans to the full parallelism.
            par = spark.sparkContext.defaultParallelism
            sign_par = par if n_tasks is None else min(par, n_tasks)
            bb = keep(
                band_rows(docs.repartition(sign_par)).withColumn(
                    "bucket", F.pmod("bh", F.lit(n_buckets)).cast("int")
                )
            )
            batch_bands_dir = os.path.join(bands_dir, f"batch={batch_id}")
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
            # both idempotent writes together). Both store writes are
            # driver-side under the byte gate (store.write_partitioned)
            bands_write_f = pool.submit(
                store.write_partitioned, bb, batch_bands_dir, "bucket", in_bytes
            )
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
            standing = store.read_index_dirs(
                spark,
                store.index_dirs(bands_dir, upto_exclusive=batch_id),
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
            prior_corpus = store.read_index_dirs(
                spark,
                store.index_dirs(corpus_dir, upto_exclusive=batch_id),
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
            store.write_partitioned(out, corpus_batch_dir, "idb", in_bytes)
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
            has_standing = bool(store.index_dirs(bands_dir, upto_exclusive=batch_id))
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
                and in_bytes <= store.DRIVER_MAX_BYTES
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
