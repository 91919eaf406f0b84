"""Continuous aggregate / materialized rollup (SURVEY.md D9+A7 composed; the
reference's "hourly analytics on every order change", README.md:38, kept
continuously fresh instead of recomputed).

Each micro-batch computes its partial hourly rollup and MERGES it into a
materialized lake table: combine-by-key (counts/sums add), then an atomic
versioned swap — readers always see a complete consistent version, never a
half-written one (the manifest-commit discipline of README.md:429 applied to
a view).

Scale: per batch the work is O(batch) + a combine against only the touched
keys' current values; the rollup table itself is O(windows x groups), not
O(events). State lives in the lake, not executor memory, so a restart
resumes from the last committed version via the checkpoint + version
pointer.
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from aws_kinesis_spark import store

ROLLUP_SCHEMA = (
    "hour_start TIMESTAMP, event_type STRING, n_events BIGINT, sum_value DOUBLE"
)


def _read_version(spark: SparkSession, rollup_dir: str, name: str) -> DataFrame:
    """Read one version dir with an EXPLICIT schema: an empty combined
    frame written through partitionBy('day') leaves a version dir with no
    parquet part files (only _SUCCESS), and a schema-inferring read of it
    dies with UNABLE_TO_INFER_SCHEMA — killing the stream on the next
    trigger and every read_rollup. With the schema supplied, an empty
    version reads as an empty frame."""
    return (
        spark.read.schema(ROLLUP_SCHEMA + ", day DATE")
        .parquet(os.path.join(rollup_dir, name))
        .select("hour_start", "event_type", "n_events", "sum_value")
    )


def read_rollup(spark: SparkSession, rollup_dir: str) -> DataFrame:
    """Read the current committed rollup version (empty frame before the
    first commit)."""
    d = store.pointer_dir(rollup_dir)
    if d is None:
        return spark.createDataFrame([], ROLLUP_SCHEMA)
    return _read_version(spark, rollup_dir, d)


def _retire_and_merge_base(
    spark: SparkSession, rollup_dir: str, batch_id: int
) -> DataFrame:
    """One flush's sweep + merge-base selection (module-level so the
    replay-sweep interaction, where a wrong keep set truncates the rollup,
    is unit-testable). Retires unreachable version dirs, then returns the
    frame this batch combines against."""
    ptr_dir = store.pointer_dir(rollup_dir)
    ptr = store.version_of_dir(ptr_dir) if ptr_dir is not None else None
    committed = store.committed_versions(rollup_dir)
    keep_bids = set(sorted(b for b in committed if b <= batch_id)[-2:])
    for d in os.listdir(rollup_dir):
        parsed = store.version_of_dir(d)
        if parsed is None:
            continue
        bid = parsed[0]
        if d == ptr_dir:
            continue  # the live dir is never swept, whatever its age
        keep_dir = committed.get(bid)
        if ptr is not None and ptr[0] == bid:
            # attempt names recycle after sweeps, so "highest attempt"
            # alone could evict the live dir — the pointer wins
            keep_dir = ptr_dir
        if bid in keep_bids and d == keep_dir:
            continue
        shutil.rmtree(os.path.join(rollup_dir, d), ignore_errors=True)
    # combine against the newest version OLDER than this batch — not the
    # pointer: if batch N committed its version but the checkpoint write
    # failed, the replayed batch N would otherwise double-count itself
    committed = store.committed_versions(rollup_dir)
    prev = [b for b in committed if b < batch_id]
    if prev:
        # explicit schema (see _read_version) and the day partition
        # column selected away so the combine schema stays logical
        return _read_version(spark, rollup_dir, committed[max(prev)])
    return spark.createDataFrame([], ROLLUP_SCHEMA)


def start_continuous_rollup(
    events: DataFrame,
    rollup_dir: str,
    checkpoint_dir: str,
) -> StreamingQuery:
    """Maintain an hourly (hour, event_type) rollup incrementally.

    foreachBatch: delta = batch rollup; new = combine(current, delta) summed
    by key; write vN+1; atomically repoint _CURRENT. Idempotent under batch
    replay because the version written for a batchId overwrites itself."""
    os.makedirs(rollup_dir, exist_ok=True)

    def flush(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        delta = (
            batch_df.groupBy(
                F.window("ts", "1 hour").alias("w"), "event_type"
            )
            .agg(F.count("*").alias("n_events"), F.sum("value").alias("sum_value"))
            .select(
                F.col("w.start").alias("hour_start"),
                "event_type",
                "n_events",
                "sum_value",
            )
        )
        # sweep attempts SUPERSEDED by a later attempt of the same batch —
        # deferred here from the superseding flush (a grace period of one
        # trigger) so a reader that resolved the pre-flip pointer an
        # instant earlier finishes its read before the dir vanishes; an
        # immediate post-flip rmtree would re-create the torn-read window
        # the pointer swap exists to close. Per batch id the
        # kept dir is the POINTER's dir when the pointer references that
        # batch (attempt names recycle after sweeps, so "highest attempt"
        # alone could evict the live dir), else any one attempt — every
        # attempt of a batch id holds identical content (the flush is a
        # pure function of the committed prefix + the batch, both
        # content-stable), so the choice only affects names. Readers
        # holding a plan across multiple trigger intervals still need
        # read-side retry — documented, not solved here.
        # ...and RETIRE whole batch ids beyond the two newest committed AT
        # OR BELOW this batch: a replayed batch only ever combines against
        # the newest version BELOW itself, and read_rollup resolves only
        # _CURRENT, so any older version is unreachable — without this,
        # every micro-batch would leave one full copy of the cumulative
        # rollup on disk forever, O(stream age x table size). Two
        # batch ids cover every reachable replay (the uncommitted-
        # checkpoint batch plus its merge base); retired dirs are >= two
        # triggers stale, so the one-trigger read grace above is
        # inherently satisfied. RELATIVE to batch_id, not globally newest:
        # a fresh-checkpoint replay into a dir holding stale HIGHER
        # versions (v9/v10 from the pre-wipe run) would otherwise
        # monopolize the keep set, sweep the replayed batch's merge base,
        # and recombine against an empty frame, silently truncating the
        # rollup for every later batch; stale future ids instead retire as
        # the replay advances. One listdir pass drives both sweeps (a
        # per-bid re-list would be quadratic in version count).
        current = _retire_and_merge_base(spark, rollup_dir, batch_id)
        combined = (
            current.unionByName(delta)
            .groupBy("hour_start", "event_type")
            .agg(
                F.sum("n_events").alias("n_events"),
                F.sum("sum_value").alias("sum_value"),
            )
        )
        # version = batchId so a replayed batch supersedes its own version
        # instead of double-counting (README.md:204 zero-duplicates).
        # Partitioned by day: writers parallelize across time buckets
        # (repartition(1) would serialize every version through one task)
        # and readers prune to the days they query.
        #
        # REPLAY via POINTER SWAP: store.commit_table_version (one fresh
        # v{N}_{attempt} dir, .tmp stage, one rename, pointer flip)
        store.commit_table_version(
            combined,
            rollup_dir,
            batch_id,
            write=lambda df, vtmp: (
                df.withColumn("day", F.to_date("hour_start"))
                .repartition("day")
                .write.mode("overwrite")
                .partitionBy("day")
                .parquet(vtmp)
            ),
        )

    return (
        events.writeStream.foreachBatch(flush)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
