"""Streaming tests (SURVEY.md §5.2.4): file-source micro-batches with
availableNow triggers; results compared against the equivalent batch plans."""

from __future__ import annotations

import os
import uuid

import pytest
from pyspark.sql import functions as F

from aws_kinesis_spark.sources.envelope import synthesize_envelope
from aws_kinesis_spark.sources.lake import read_manifest
from aws_kinesis_spark.streaming.pipeline import (
    ProgressRecorder,
    envelope_stream,
    event_stream,
    start_alert_path,
    start_lake_path,
    start_stream_dedup,
    start_windowed_agg,
)
from aws_kinesis_spark.tables import load

SF = "/root/testdata/sf0.001"


def _uniq(prefix: str) -> str:
    return f"{prefix}_{uuid.uuid4().hex[:8]}"


@pytest.fixture()
def env_input(spark, tmp_path):
    """Envelope records written as 4 files => 4 producer batches."""
    inp = str(tmp_path / "input")
    orders = load(spark, SF, "orders")
    synthesize_envelope(orders).repartition(4).write.mode("overwrite").parquet(inp)
    return inp


def test_lake_path_streaming(spark, env_input, tmp_path):
    """E2E lake path: micro-batches -> partitioned lake + manifest per batch."""
    lake = str(tmp_path / "lake")
    ckpt = str(tmp_path / "ckpt")
    stream = envelope_stream(spark, env_input, max_files_per_trigger=1)
    q = start_lake_path(stream, lake, ckpt)
    q.awaitTermination(120)

    total = spark.read.parquet(os.path.join(lake, "data")).count()
    expected = load(spark, SF, "orders").count()
    assert total == expected

    # one manifest per micro-batch, files exist
    manifests = sorted(os.listdir(os.path.join(lake, "_manifests")))
    assert len(manifests) >= 2  # maxFilesPerTrigger=1 over 4 files
    m0 = read_manifest(lake, 0)
    assert all(os.path.exists(e["url"]) for e in m0["entries"])

    # resume-after-checkpoint (README.md:305-309): restarting with the same
    # checkpoint reprocesses nothing
    q2 = start_lake_path(envelope_stream(spark, env_input), lake, ckpt)
    q2.awaitTermination(60)
    assert spark.read.parquet(os.path.join(lake, "data")).count() == expected


def test_two_independent_consumers(spark, env_input, tmp_path):
    """E8 (README.md:30-32): alert path + lake path on the same source with
    separate checkpoints progress independently."""
    lake = str(tmp_path / "lake")
    alerts_tbl = _uniq("alerts")
    q1 = start_lake_path(
        envelope_stream(spark, env_input), lake, str(tmp_path / "ckpt1")
    )
    q2 = start_alert_path(
        envelope_stream(spark, env_input), str(tmp_path / "ckpt2"), alerts_tbl
    )
    q1.awaitTermination(120)
    q2.awaitTermination(120)

    orders = load(spark, SF, "orders")
    expected_alerts = orders.filter(F.col("o_orderkey") % 3 == 2).count()  # op == 'D'
    got = spark.table(alerts_tbl).count()
    assert got == expected_alerts
    assert spark.read.parquet(os.path.join(lake, "data")).count() == orders.count()


def test_streaming_dedup(spark, tmp_path):
    """E5 (README.md:51): duplicate sequence numbers across micro-batches
    collapse to one."""
    inp = str(tmp_path / "input")
    orders = load(spark, SF, "orders").limit(200)
    env = synthesize_envelope(orders)
    env.repartition(2).write.mode("overwrite").parquet(inp)
    env.repartition(2).write.mode("append").parquet(inp)  # replay: same seq numbers

    tbl = _uniq("dedup")
    q = start_stream_dedup(
        envelope_stream(spark, inp, max_files_per_trigger=1),
        str(tmp_path / "ckpt"),
        tbl,
    )
    q.awaitTermination(120)
    out = spark.table(tbl)
    assert out.count() == 200
    assert out.select("sequence_number").distinct().count() == 200


def test_stream_tumbling_matches_batch(spark, tmp_path):
    """E1: streaming tumbling-window agg == batch tumbling-window agg."""
    inp = str(tmp_path / "events")
    ev = load(spark, SF, "events")
    ev.repartition(3).write.mode("overwrite").parquet(inp)

    tbl = _uniq("tumble")
    q = start_windowed_agg(
        event_stream(spark, inp), str(tmp_path / "ckpt"), tbl, output_mode="complete"
    )
    q.awaitTermination(120)

    got = (
        spark.table(tbl)
        .select(F.col("w.start").alias("ws"), "event_type", "n_events", "sum_value")
    )
    want = (
        ev.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count("*").alias("n_events"), F.round(F.sum("value"), 4).alias("sum_value"))
        .select(F.col("w.start").alias("ws"), "event_type", "n_events", "sum_value")
    )
    assert got.exceptAll(want).count() == 0 and want.exceptAll(got).count() == 0


def test_stream_session_window_matches_batch(spark, tmp_path):
    """E3: streaming session windows (30 min gap) == batch session windows."""
    inp = str(tmp_path / "events")
    ev = load(spark, SF, "events")
    ev.write.mode("overwrite").parquet(inp)

    tbl = _uniq("sess")
    q = start_windowed_agg(
        event_stream(spark, inp),
        str(tmp_path / "ckpt"),
        tbl,
        session_gap="30 minutes",
        output_mode="complete",
    )
    q.awaitTermination(120)
    got = spark.table(tbl).select(
        F.col("w.start").alias("ws"), "user_id", "n_events", "sum_value"
    )
    want = (
        ev.groupBy(F.session_window("ts", "30 minutes").alias("w"), "user_id")
        .agg(F.count("*").alias("n_events"), F.round(F.sum("value"), 4).alias("sum_value"))
        .select(F.col("w.start").alias("ws"), "user_id", "n_events", "sum_value")
    )
    assert got.exceptAll(want).count() == 0 and want.exceptAll(got).count() == 0


def test_progress_listener(spark, env_input, tmp_path):
    """B12: StreamingQueryListener surfaces the lag/throughput metrics."""
    import time

    rec = ProgressRecorder(spark)
    try:
        tbl = _uniq("alerts")
        q = start_alert_path(envelope_stream(spark, env_input), str(tmp_path / "c"), tbl)
        q.awaitTermination(120)
        spark.streams.resetTerminated()
        # listener events are delivered asynchronously
        for _ in range(50):
            if rec.progress:
                break
            time.sleep(0.2)
    finally:
        rec.close()
    assert rec.progress, "no progress events recorded"
    assert sum(p["numInputRows"] for p in rec.progress) > 0


def test_stateful_buffer_carries_state_across_batches(spark, tmp_path):
    """E6/B5: the per-shard buffer's running (count, bytes) state must carry
    across micro-batches — a partial buffer left by epoch 0 is completed by
    epoch 1's records, exactly like an unflushed Firehose buffer surviving
    into the next poll."""
    import time

    from aws_kinesis_spark.streaming.stateful import start_buffer_accounting

    inp = str(tmp_path / "input")
    orders = load(spark, SF, "orders")
    e0 = synthesize_envelope(orders, epoch=0)
    e1 = synthesize_envelope(orders, epoch=1)
    e0.repartition(1).write.mode("overwrite").parquet(inp)
    time.sleep(1.1)  # distinct modTime => deterministic file-source batch order
    e1.repartition(1).write.mode("append").parquet(inp)

    tbl = _uniq("e06")
    q = start_buffer_accounting(
        envelope_stream(spark, inp, max_files_per_trigger=1),
        str(tmp_path / "ckpt"),
        tbl,
        n_shards=4,
        max_records=150,
    )
    q.awaitTermination(300)
    got = {
        (r.shard, r.flush_id): (r.n_records, r.n_bytes)
        for r in spark.table(tbl).collect()
    }

    # expected: walk records in (epoch, key) = sequence order per shard
    rows = sorted(
        (int(str(r.partition_key).rsplit("-", 1)[1]) % 4, r.sequence_number, len(r.data))
        for r in e0.unionByName(e1).collect()
    )
    import collections

    state = collections.defaultdict(lambda: [0, 0, 0])  # count, bytes, fid
    want = {}
    for shard, _seq, nb in sorted(rows, key=lambda t: (t[0], t[1])):
        st = state[shard]
        st[0] += 1
        st[1] += nb
        if st[0] >= 150:
            want[(shard, st[2])] = (st[0], st[1])
            st[2] += 1
            st[0] = 0
            st[1] = 0
    assert got == want
    # epoch0 leaves 1500/4=375 rows/shard = 2 flushes + 75 leftover; epoch1's
    # records must have completed the third flush (i.e. > 4 flushes total)
    assert all(len([1 for (s, _f) in got if s == sh]) == 5 for sh in range(4))


def test_stateful_buffer_counts_null_payload_as_zero_bytes():
    """Round-12 review: a NULL data payload arrives in the Arrow batch as
    NaN; int(NaN) raised inside applyInPandasWithState and killed the
    whole streaming query. A NULL-payload record must count as a record
    with 0 bytes, not a query crash."""
    import pandas as pd

    from aws_kinesis_spark.streaming.stateful import make_buffer_fn

    class FakeState:
        exists = False
        def update(self, v): self.value = v

    fn = make_buffer_fn(max_records=2, max_bytes=1 << 40)
    pdf = pd.DataFrame(
        {"sequence_number": [1, 2, 3], "n_bytes": [10.0, float("nan"), 5.0]}
    )
    state = FakeState()
    out = pd.concat(list(fn((0,), iter([pdf]), state)))
    # records 1+2 complete the first flush (10 + 0 bytes); record 3 buffers
    assert list(out.itertuples(index=False, name=None)) == [(0, 0, 2, 10)]
    assert state.value == (1, 5, 1)


def test_stream_source_factory(spark, env_input):
    """A1: the source factory builds the file replay stream; the kinesis
    path fails with a clear actionable error when the connector is absent."""
    from aws_kinesis_spark.sources.kinesis import stream_source

    df = stream_source(spark, kind="file", path=env_input)
    assert df.isStreaming
    assert [f.name for f in df.schema.fields] == [
        "data", "partition_key", "sequence_number", "arrival_ts",
    ]
    with pytest.raises((RuntimeError, Exception)):
        stream_source(
            spark, kind="kinesis", streamName="orders", region="us-east-1"
        ).writeStream  # noqa: B018
    with pytest.raises(ValueError):
        stream_source(spark, kind="tape")


def test_kinesis_branch_contract(spark):
    """A1/A3 contract: the kind='kinesis' branch must translate BOTH
    consumer modes' options to the connector surface and cast the
    connector's raw columns (data/partitionKey/sequenceNumber/
    approximateArrivalTimestamp) into ENVELOPE_SCHEMA. The connector jar
    can't ship in this container, so a reader factory is injected (the same
    config-injection seam a deployment uses to bind its connector package)
    — but load() returns a REAL DataFrame with the connector's output
    schema, so the selectExpr cast executes genuinely."""
    import datetime as dt
    from decimal import Decimal

    from aws_kinesis_spark.sources.envelope import ENVELOPE_SCHEMA
    from aws_kinesis_spark.sources.kinesis import stream_source

    raw = spark.createDataFrame(
        [
            (
                bytearray(b"eyJkYXRhIjp7fX0="),
                "sales-orders-98765",
                "396279487123456789012345678901",
                dt.datetime(2025, 1, 1, 12, 0, 27),
            )
        ],
        "data BINARY, partitionKey STRING, sequenceNumber STRING, "
        "approximateArrivalTimestamp TIMESTAMP",
    )
    captured: dict = {}

    class FakeReader:
        def option(self, k, v):
            captured[k] = v
            return self

        def load(self):
            return raw

    def factory(s):
        assert s is spark
        captured.clear()
        return FakeReader()

    # EFO (push) mode: consumerArn required and passed through
    arn = "arn:aws:kinesis:us-east-1:1:stream/orders/consumer/efo:1"
    efo_opts = {
        "streamName": "orders-stream",
        "region": "us-east-1",
        "startingPosition": "TRIM_HORIZON",
        "consumerArn": arn,
    }
    out = stream_source(
        spark, kind="kinesis", mode="efo", reader_factory=factory, **efo_opts
    )
    assert captured == efo_opts
    assert [(f.name, f.dataType) for f in out.schema.fields] == [
        (f.name, f.dataType) for f in ENVELOPE_SCHEMA.fields
    ]
    row = out.collect()[0]
    # the 30-digit sequence survives the DECIMAL(38,0) cast exactly
    assert row["sequence_number"] == Decimal("396279487123456789012345678901")
    assert row["partition_key"] == "sales-orders-98765"
    assert bytes(row["data"]) == b"eyJkYXRhIjp7fX0="

    # polling mode: no consumerArn, startingPosition defaulted explicitly
    out2 = stream_source(
        spark,
        kind="kinesis",
        mode="polling",
        reader_factory=factory,
        streamName="orders-stream",
        region="us-east-1",
    )
    assert captured == {
        "streamName": "orders-stream",
        "region": "us-east-1",
        "startingPosition": "LATEST",
    }
    assert out2.schema == out.schema

    # mode validation: EFO without an ARN, polling WITH one, unknown option
    with pytest.raises(ValueError, match="consumerArn"):
        stream_source(
            spark, kind="kinesis", mode="efo", reader_factory=factory,
            streamName="s", region="r",
        )
    with pytest.raises(ValueError, match="polling"):
        stream_source(
            spark, kind="kinesis", mode="polling", reader_factory=factory,
            streamName="s", region="r", consumerArn=arn,
        )
    with pytest.raises(ValueError, match="unknown kinesis options"):
        stream_source(
            spark, kind="kinesis", mode="polling", reader_factory=factory,
            streamName="s", endpointUrl="http://x",
        )

    # classpath-hint gate (round-12 review): ONLY the missing-data-source
    # failure gets rebranded; a connector error that merely mentions 'data
    # source' in its message (e.g. a DATA_SOURCE_OPTION validation error)
    # must propagate untouched
    class FailingReader(FakeReader):
        def __init__(self, exc):
            self._exc = exc

        def load(self):
            raise self._exc

    def failing_factory(exc):
        return lambda s: FailingReader(exc)

    opt_err = RuntimeError(
        "[DATA_SOURCE_OPTION_IS_REQUIRED] data source option 'streamName' "
        "is required"
    )
    with pytest.raises(RuntimeError, match="DATA_SOURCE_OPTION_IS_REQUIRED"):
        stream_source(
            spark, kind="kinesis", mode="polling",
            reader_factory=failing_factory(opt_err),
            streamName="s", region="r",
        )
    missing = RuntimeError(
        "[DATA_SOURCE_NOT_FOUND] Failed to find the data source: kinesis"
    )
    with pytest.raises(RuntimeError, match="connector not on the classpath"):
        stream_source(
            spark, kind="kinesis", mode="polling",
            reader_factory=failing_factory(missing),
            streamName="s", region="r",
        )
    cnf = RuntimeError(
        "java.lang.ClassNotFoundException: kinesis.DefaultSource"
    )
    with pytest.raises(RuntimeError, match="connector not on the classpath"):
        stream_source(
            spark, kind="kinesis", mode="polling",
            reader_factory=failing_factory(cnf),
            streamName="s", region="r",
        )


def test_watermark_drops_late_data(spark, tmp_path):
    """E4 (README.md:48, 156): append-mode windowed agg with a 30 min
    watermark — an event arriving after the watermark passed its window is
    excluded from the emitted result (and would be routed to the DLQ branch
    rather than silently extending state)."""
    import datetime as dt
    import time

    def rows(*ts_list):
        return [
            (i, dt.datetime(2025, 11, 7, h, m), 1, "error", 1.0, "{}")
            for i, (h, m) in enumerate(ts_list)
        ]

    schema = (
        "event_id BIGINT, ts TIMESTAMP, user_id BIGINT, event_type STRING, "
        "value DOUBLE, props STRING"
    )
    inp = str(tmp_path / "ev")
    # The watermark advances at END of the batch containing the new max
    # event time and becomes operative one batch later, so the late file
    # comes two batch boundaries after the 12:30 advancer.
    spark.createDataFrame(rows((10, 5), (10, 40), (12, 30)), schema).coalesce(
        1
    ).write.mode("overwrite").parquet(inp)
    time.sleep(1.1)
    spark.createDataFrame(rows((12, 45)), schema).coalesce(1).write.mode(
        "append"
    ).parquet(inp)
    time.sleep(1.1)
    # LATE event at 10:15 (operative watermark now 12:00) + on-time 13:30
    spark.createDataFrame(rows((10, 15), (13, 30)), schema).coalesce(1).write.mode(
        "append"
    ).parquet(inp)

    tbl = _uniq("e04")
    agg = (
        event_stream(spark, inp, max_files_per_trigger=1)
        .withWatermark("ts", "30 minutes")
        .groupBy(F.window("ts", "1 hour").alias("w"))
        .agg(F.count("*").alias("n"))
    )
    q = (
        agg.writeStream.format("memory")
        .queryName(tbl)
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    got = {
        (r.start.hour, r.n)
        for r in spark.table(tbl).select(F.col("w.start").alias("start"), "n").collect()
    }
    # the 10:00 window must close with exactly the 2 on-time events — the
    # late 10:15 event must NOT appear (no (10, 3) row)
    assert (10, 2) in got, got
    assert (10, 3) not in got
    assert (12, 2) in got, got  # both on-time 12:xx events counted


def test_continuous_rollup_restart_is_idempotent(spark, tmp_path):
    """E9: restarting the continuous rollup from its checkpoint reprocesses
    nothing; the materialized table still equals the batch answer."""
    from aws_kinesis_spark.streaming.rollup import read_rollup, start_continuous_rollup

    inp = str(tmp_path / "events")
    ev = load(spark, SF, "events")
    ev.repartition(3).write.mode("overwrite").parquet(inp)
    rollup = str(tmp_path / "rollup")
    ckpt = str(tmp_path / "ckpt")

    q = start_continuous_rollup(
        event_stream(spark, inp, max_files_per_trigger=1), rollup, ckpt
    )
    q.awaitTermination(300)
    first = {
        (r.hour_start, r.event_type): (r.n_events, round(r.sum_value, 4))
        for r in read_rollup(spark, rollup).collect()
    }

    q2 = start_continuous_rollup(event_stream(spark, inp), rollup, ckpt)
    q2.awaitTermination(120)
    second = {
        (r.hour_start, r.event_type): (r.n_events, round(r.sum_value, 4))
        for r in read_rollup(spark, rollup).collect()
    }
    assert first == second

    want = {
        (r.hs, r.event_type): (r.n, round(r.sv, 4))
        for r in ev.groupBy(
            F.date_trunc("hour", "ts").alias("hs"), "event_type"
        )
        .agg(F.count("*").alias("n"), F.sum("value").alias("sv"))
        .collect()
    }
    assert first == want


def test_stateful_buffer_byte_bound(spark, tmp_path):
    """B5: the OTHER half of the dual flush trigger (README.md:131
    '64 MB or 60 s') — with a byte bound, flushes close when accumulated
    payload bytes reach it, regardless of record count."""
    from aws_kinesis_spark.streaming.stateful import start_buffer_accounting

    inp = str(tmp_path / "input")
    orders = load(spark, SF, "orders")
    synthesize_envelope(orders).repartition(1).write.mode("overwrite").parquet(inp)

    tbl = _uniq("e06b")
    max_bytes = 16_000
    q = start_buffer_accounting(
        envelope_stream(spark, inp),
        str(tmp_path / "ckpt"),
        tbl,
        n_shards=4,
        max_records=1 << 30,  # count bound off: only bytes can trigger
        max_bytes=max_bytes,
    )
    q.awaitTermination(300)
    rows = spark.table(tbl).collect()
    assert rows, "expected at least one byte-bounded flush"
    for r in rows:
        # every flush crossed the byte bound with its last record, so
        # n_bytes in [max_bytes, max_bytes + one max-record overshoot)
        assert max_bytes <= r.n_bytes < max_bytes + 200, r
        assert r.n_records > 1


def test_lake_path_resume_processes_only_new_data(spark, tmp_path):
    """B6/B7 (README.md:305-309): after a restart from the same checkpoint,
    only records appended since the last processed offset flow through —
    the old batches are not reprocessed and no duplicates appear."""
    from aws_kinesis_spark.streaming.pipeline import start_lake_path

    orders = load(spark, SF, "orders")
    first = synthesize_envelope(orders.filter(F.col("o_orderkey") % 2 == 0))
    second = synthesize_envelope(orders.filter(F.col("o_orderkey") % 2 == 1))
    inp = str(tmp_path / "env")
    first.repartition(2).write.mode("overwrite").parquet(inp)

    lake, ckpt = str(tmp_path / "lake"), str(tmp_path / "ckpt")
    q = start_lake_path(envelope_stream(spark, inp), lake, ckpt)
    q.awaitTermination(120)
    n_first = first.count()
    assert spark.read.parquet(os.path.join(lake, "data")).count() == n_first

    # append the second half as new files, restart from the same checkpoint
    second.repartition(2).write.mode("append").parquet(inp)
    q2 = start_lake_path(envelope_stream(spark, inp), lake, ckpt)
    q2.awaitTermination(120)

    got = spark.read.parquet(os.path.join(lake, "data"))
    assert got.count() == orders.count()
    # exactly-once: every decoded id exactly once across both runs
    assert got.select("id").distinct().count() == orders.count()


def test_byte_bound_backpressure_splits_microbatches(spark, tmp_path):
    """B5/B9 (README.md:117, 131): maxBytesPerTrigger is the SizeInMBs
    buffer bound — with a bound smaller than the total input, the stream
    must split into multiple micro-batches, each admitting roughly one
    bound's worth of input (file granularity)."""
    from aws_kinesis_spark.streaming.pipeline import event_stream

    inp = str(tmp_path / "ev")
    ev = load(spark, SF, "events")
    ev.repartition(6).write.mode("overwrite").parquet(inp)
    total_rows = ev.count()
    file_bytes = max(
        os.path.getsize(os.path.join(inp, f))
        for f in os.listdir(inp)
        if f.endswith(".parquet")
    )

    rec = []
    q = (
        event_stream(spark, inp, max_bytes_per_trigger=file_bytes + 1)
        .writeStream.foreachBatch(lambda df, bid: rec.append(df.count()))
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    assert sum(rec) == total_rows  # bound limits rate, never drops records
    assert len(rec) >= 3, f"byte bound did not split the input: {rec}"


def test_polling_consumer_picks_up_new_data_live(spark, tmp_path):
    """A2 (README.md:116, 242-254): a continuously-polling consumer
    (processingTime trigger) must pick up records that arrive AFTER the
    query starts — the GetRecords-every-second loop, not a drain-and-stop
    availableNow pass. Lag observability (B12) comes from the same
    progress stream."""
    import time

    from aws_kinesis_spark.sources.envelope import synthesize_envelope

    inp = str(tmp_path / "input")
    orders = load(spark, SF, "orders").limit(120)
    synthesize_envelope(orders, epoch=0).coalesce(1).write.mode("overwrite").parquet(inp)

    tbl = _uniq("poll")
    alerts = (
        envelope_stream(spark, inp)
        .writeStream.format("memory")
        .queryName(tbl)
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(processingTime="1 second")
        .start()
    )
    try:
        deadline = time.time() + 120
        while spark.table(tbl).count() < 120 and time.time() < deadline:
            time.sleep(0.5)
        assert spark.table(tbl).count() == 120
        # records produced while the consumer is live
        synthesize_envelope(orders, epoch=1).coalesce(1).write.mode("append").parquet(inp)
        while spark.table(tbl).count() < 240 and time.time() < deadline:
            time.sleep(0.5)
        assert spark.table(tbl).count() == 240, "poller missed mid-run records"
        assert alerts.lastProgress is not None  # B12: lag/throughput observable
    finally:
        alerts.stop()


def test_warehouse_upsert_stream_matches_batch_cdc(spark, tmp_path):
    """A7/O4 streaming form (README.md:562-575): the CDC stream merged
    micro-batch by micro-batch into the versioned warehouse table must end
    at exactly the state of a single batch CDC-apply over the full
    changelog — zero duplicates, deletes dropped, latest status per key."""
    import time

    from aws_kinesis_spark.operators.upsert import apply_cdc
    from aws_kinesis_spark.streaming.pipeline import (
        read_warehouse_table,
        start_warehouse_upsert,
    )

    inp = str(tmp_path / "input")
    orders = load(spark, SF, "orders").limit(300)
    e0 = synthesize_envelope(orders, epoch=0)
    e1 = synthesize_envelope(orders, epoch=1)  # same keys, higher sequence
    e0.coalesce(1).write.mode("overwrite").parquet(inp)
    time.sleep(1.1)
    e1.coalesce(1).write.mode("append").parquet(inp)

    table = str(tmp_path / "warehouse")
    q = start_warehouse_upsert(
        envelope_stream(spark, inp, max_files_per_trigger=1),
        table,
        str(tmp_path / "ckpt"),
    )
    q.awaitTermination(300)

    got = {
        (r.id, r.status, str(r.sequence_number))
        for r in read_warehouse_table(spark, table).collect()
    }
    from aws_kinesis_spark.sources.envelope import decode_envelope

    full = decode_envelope(e0.unionByName(e1)).filter(~F.col("_corrupt"))
    want = {
        (r.id, r.status, str(r.sequence_number))
        for r in apply_cdc(full, ["id"], "sequence_number")
        .select("id", "status", "sequence_number")
        .collect()
    }
    assert got == want
    assert len(got) > 0
    # replay idempotency: re-running from the same checkpoint changes nothing
    q2 = start_warehouse_upsert(
        envelope_stream(spark, inp), table, str(tmp_path / "ckpt")
    )
    q2.awaitTermination(120)
    got2 = {
        (r.id, r.status, str(r.sequence_number))
        for r in read_warehouse_table(spark, table).collect()
    }
    assert got2 == got


def test_stateful_buffer_dual_bound_size_or_count(spark, tmp_path):
    """B5/B9 joint bound (README.md:117, 131 — the '64 MB OR 60 s/1000
    records' dual trigger): with BOTH bounds active in one stream, a shard
    fed large payloads must close its flushes on the BYTE bound before the
    record bound, while a shard fed small payloads must close on the RECORD
    bound before the byte bound — both outcomes in the same query."""
    import datetime as dt
    import decimal

    from aws_kinesis_spark.sources.envelope import ENVELOPE_SCHEMA, SEQ_BASE
    from aws_kinesis_spark.streaming.stateful import start_buffer_accounting

    t0 = dt.datetime(2025, 11, 7, 12, 0, 0)
    rows = []
    for i in range(40):
        # shard 0 (key-0): 500-byte payloads => bytes hit 2000 at 4 records
        rows.append(
            (b"x" * 500, "key-0", decimal.Decimal(SEQ_BASE) + 2 * i, t0)
        )
        # shard 1 (key-1): 10-byte payloads => count hits 10 at 100 bytes
        rows.append(
            (b"y" * 10, "key-1", decimal.Decimal(SEQ_BASE) + 2 * i + 1, t0)
        )
    spark.createDataFrame(rows, ENVELOPE_SCHEMA).repartition(1).write.mode(
        "overwrite"
    ).parquet(str(tmp_path / "input"))

    tbl = _uniq("e06d")
    q = start_buffer_accounting(
        envelope_stream(spark, str(tmp_path / "input")),
        str(tmp_path / "ckpt"),
        tbl,
        n_shards=4,
        max_records=10,
        max_bytes=2000,
    )
    q.awaitTermination(300)
    by_shard = {}
    for r in spark.table(tbl).collect():
        by_shard.setdefault(r.shard, []).append(r)

    big, small = by_shard[0], by_shard[1]
    # byte-bound-first shard: every flush closed by bytes, under the count
    assert len(big) == 10  # 40 records / 4 per flush
    for r in big:
        assert r.n_bytes >= 2000 and r.n_records == 4 < 10, r
    # record-bound-first shard: every flush closed by count, under the bytes
    assert len(small) == 4  # 40 records / 10 per flush
    for r in small:
        assert r.n_records == 10 and r.n_bytes == 100 < 2000, r


def test_kinesis_sim_datasource_shards_and_ordering(spark):
    """A1: the kinesis_sim Python DataSource must expose one input
    partition per shard and keep sequence numbers ordered within a shard
    (the stream's per-shard ordering contract)."""
    from aws_kinesis_spark.sources import kinesis_sim

    kinesis_sim.register(spark)
    df = (
        spark.read.format("kinesis_sim")
        .option("shards", 3)
        .option("recordsPerShard", 20)
        .load()
    )
    assert df.rdd.getNumPartitions() == 3
    rows = df.withColumn("part", F.spark_partition_id()).collect()
    assert len(rows) == 60
    by_part = {}
    for r in rows:
        by_part.setdefault(r["part"], []).append(r["sequence_number"])
    assert len(by_part) == 3
    for seqs in by_part.values():
        assert seqs == sorted(seqs)  # per-shard ordering, never reordered
    # sequence numbers are 30-digit decimals, exact (no context rounding)
    all_seqs = sorted(str(s) for r in rows for s in [r["sequence_number"]])
    assert len(set(all_seqs)) == 60
    assert all_seqs[0].endswith("0") and len(all_seqs[0]) == 30


def test_kinesis_sim_streaming_polls_with_offsets(spark, tmp_path):
    """A2 as a REAL custom streaming source: the kinesis_sim stream reader
    polls each shard in pollRecords-bounded micro-batches with
    engine-checkpointed offsets; the drain must deliver every record
    exactly once, in per-shard sequence order, through multiple polls."""
    import time as _time

    from aws_kinesis_spark.sources import kinesis_sim

    kinesis_sim.register(spark)
    stream = (
        spark.readStream.format("kinesis_sim")
        .option("shards", 2)
        .option("recordsPerShard", 30)
        .option("pollRecords", 10)
        .load()
    )
    tbl = _uniq("ksim")
    q = (
        stream.writeStream.format("memory")
        .queryName(tbl)
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(processingTime="200 milliseconds")
        .start()
    )
    try:
        deadline = _time.time() + 120
        while _time.time() < deadline and spark.table(tbl).count() < 60:
            _time.sleep(0.5)
    finally:
        q.stop()
    rows = spark.table(tbl).collect()
    assert len(rows) == 60  # exactly once: no loss, no duplicates
    seqs = sorted(int(str(r["sequence_number"])[-6:]) for r in rows)
    assert seqs == sorted(range(0, 30)) + sorted(range(30, 60))
    # multiple polls actually happened (30 records / 10 per poll per shard)
    progress = q.recentProgress
    assert len([p for p in progress if p["numInputRows"] > 0]) >= 2


def test_kinesis_sim_crash_recovery_exactly_once(spark, tmp_path):
    """B6/A2 crash path: a foreachBatch sink crashes AFTER writing batch 1
    but BEFORE the engine commits its offset.  On restart the engine must
    replay exactly that batch through readBetweenOffsets (the uncommitted
    range), and the idempotent per-batch overwrite must leave every record
    exactly once — no loss from the crash, no dup from the replay."""
    from pyspark.errors.exceptions.captured import StreamingQueryException

    from aws_kinesis_spark.sources import kinesis_sim

    kinesis_sim.register(spark)
    ckpt = str(tmp_path / "ckpt")
    out = tmp_path / "out"
    flag = tmp_path / "crashed"

    def stream():
        return (
            spark.readStream.format("kinesis_sim")
            .option("shards", 2)
            .option("recordsPerShard", 50)
            .option("pollRecords", 20)
            .load()
        )

    def write_batch(df, batch_id):
        # idempotent sink: a replayed batch overwrites its own directory
        df.write.mode("overwrite").parquet(str(out / f"batch={batch_id}"))
        if batch_id >= 1 and not flag.exists():
            flag.touch()
            raise RuntimeError("injected crash: batch written, offset uncommitted")

    q = (
        stream()
        .writeStream.foreachBatch(write_batch)
        .option("checkpointLocation", ckpt)
        .trigger(processingTime="0 seconds")
        .start()
    )
    with pytest.raises(StreamingQueryException):
        q.processAllAvailable()
        q.awaitTermination(60)
    assert flag.exists()  # the injected crash actually fired

    q2 = (
        stream()
        .writeStream.foreachBatch(write_batch)
        .option("checkpointLocation", ckpt)
        .trigger(processingTime="0 seconds")
        .start()
    )
    try:
        q2.processAllAvailable()
    finally:
        q2.stop()

    got = spark.read.parquet(str(out / "batch=*"))
    seqs = sorted(int(str(r["sequence_number"])[-6:]) for r in got.collect())
    assert seqs == list(range(100))  # exactly once across the forced restart


def test_kinesis_sim_stream_stream_join_kill_resume(spark, tmp_path):
    """E10 x A2 composition (VERDICT r4 #4): a stream-stream join fed by
    two kinesis_sim streaming sources is stopped mid-drain and resumed
    from its checkpoint; the final joined output must equal the batch join
    of the full stream exactly once — join state and both sources' offsets
    all recover from the checkpoint."""
    import time

    from aws_kinesis_spark.sources import kinesis_sim
    from aws_kinesis_spark.sources.envelope import decode_envelope

    kinesis_sim.register(spark)
    ckpt = str(tmp_path / "ckpt")
    out = tmp_path / "out"
    OPTS = {"shards": 2, "recordsPerShard": 120, "pollRecords": 30}

    def decoded(reader):
        df = reader.format("kinesis_sim")
        for k, v in OPTS.items():
            df = df.option(k, v)
        return decode_envelope(df.load())

    def join_sides(clicks, purchases, wm=False):
        c = (
            clicks.filter(F.col("op") == "I")
            .select(
                F.col("id").alias("click_id"),
                (F.col("id") % 10).alias("c_user"),
                F.col("arrival_ts").alias("click_ts"),
            )
        )
        p = (
            purchases.filter(F.col("op") == "U")
            .select(
                F.col("id").alias("purchase_id"),
                (F.col("id") % 10).alias("p_user"),
                F.col("arrival_ts").alias("purchase_ts"),
            )
        )
        if wm:
            c = c.withWatermark("click_ts", "10 minutes")
            p = p.withWatermark("purchase_ts", "10 minutes")
        return c.join(
            p,
            (F.col("c_user") == F.col("p_user"))
            & (F.col("purchase_ts") >= F.col("click_ts"))
            & (
                F.col("purchase_ts")
                <= F.col("click_ts") + F.expr("INTERVAL 20 SECONDS")
            ),
            "inner",
        ).select("click_id", "purchase_id")

    def start():
        joined = join_sides(decoded(spark.readStream), decoded(spark.readStream), wm=True)
        return (
            joined.writeStream.foreachBatch(
                lambda df, bid: df.write.mode("overwrite").parquet(
                    str(out / f"batch={bid}")
                )
            )
            .option("checkpointLocation", ckpt)
            .trigger(processingTime="0 seconds")
            .start()
        )

    # phase 1: stop mid-drain, after >=1 committed batch but before the end
    q = start()
    deadline = time.time() + 120
    while time.time() < deadline:
        lp = q.lastProgress
        if lp and lp["batchId"] >= 1:
            break
        time.sleep(0.2)
    q.stop()
    import ast

    ends = [
        int(v)
        # Python-source offsets render as a dict repr, not strict JSON
        for s in (q.lastProgress["sources"] if q.lastProgress else [])
        for v in ast.literal_eval(s["endOffset"]).values()
    ]
    assert ends and any(e < OPTS["recordsPerShard"] for e in ends), (
        f"stream already fully drained before the kill: {ends}"
    )

    # phase 2: resume from the same checkpoint and drain to completion
    q2 = start()
    try:
        q2.processAllAvailable()
    finally:
        q2.stop()

    got = {
        (r["click_id"], r["purchase_id"])
        for r in spark.read.parquet(str(out / "batch=*")).collect()
    }
    expected_df = join_sides(decoded(spark.read), decoded(spark.read))
    expected = {(r["click_id"], r["purchase_id"]) for r in expected_df.collect()}
    assert got == expected
    # exactly once: no batch emitted the same joined row twice
    n_rows = spark.read.parquet(str(out / "batch=*")).count()
    assert n_rows == len(expected)


def test_kinesis_sim_efo_push_vs_polling_batches(spark, tmp_path):
    """A3 semantics: the EFO consumer delivers one complete arrival burst
    per micro-batch with NO per-poll bound, so it drains 120 records/shard
    in exactly 3 non-empty batches (arrivalSets=3) even though each burst
    (40) exceeds the polling consumer's pollRecords=10 — while the polling
    consumer needs >= 12 bounded polls for the same stream."""
    from aws_kinesis_spark.sources import kinesis_sim

    kinesis_sim.register(spark)

    def drain(mode_opts, name):
        s = spark.readStream.format("kinesis_sim").option("shards", 2).option(
            "recordsPerShard", 120
        )
        for k, v in mode_opts.items():
            s = s.option(k, v)
        tbl = _uniq(name)
        q = (
            s.load()
            .writeStream.format("memory")
            .queryName(tbl)
            .outputMode("append")
            .option("checkpointLocation", str(tmp_path / name))
            .trigger(processingTime="0 seconds")
            .start()
        )
        try:
            q.processAllAvailable()
            nonempty = [p for p in q.recentProgress if p["numInputRows"] > 0]
        finally:
            q.stop()
        return spark.table(tbl).count(), len(nonempty)

    n_efo, batches_efo = drain({"consumerMode": "efo", "arrivalSets": 3}, "efo")
    n_poll, batches_poll = drain({"pollRecords": 10}, "poll")
    assert n_efo == n_poll == 240  # both consumers see the full stream
    assert batches_efo == 3  # one micro-batch per arrival burst, unbounded size
    assert batches_poll >= 12  # GetRecords bound forces many small polls


def test_kinesis_sim_efo_two_consumers_isolated(spark, tmp_path):
    """A3 isolation: two EFO subscriptions over the SAME stream run as
    independent queries with independent checkpoints; each receives the
    complete stream exactly once — one consumer's progress never affects
    the other's offsets (dedicated throughput, README.md:109-111)."""
    from aws_kinesis_spark.sources import kinesis_sim

    kinesis_sim.register(spark)

    def consumer(name):
        tbl = _uniq(name)
        q = (
            spark.readStream.format("kinesis_sim")
            .option("shards", 2)
            .option("recordsPerShard", 50)
            .option("consumerMode", "efo")
            .option("arrivalSets", 5)
            .load()
            .writeStream.format("memory")
            .queryName(tbl)
            .outputMode("append")
            .option("checkpointLocation", str(tmp_path / name))
            .trigger(processingTime="0 seconds")
            .start()
        )
        return q, tbl

    qa, ta = consumer("efo_a")
    qb, tb = consumer("efo_b")
    try:
        qa.processAllAvailable()
        qb.processAllAvailable()
    finally:
        qa.stop()
        qb.stop()
    seqs_a = sorted(str(r["sequence_number"]) for r in spark.table(ta).collect())
    seqs_b = sorted(str(r["sequence_number"]) for r in spark.table(tb).collect())
    assert len(seqs_a) == len(seqs_b) == 100
    assert seqs_a == seqs_b  # both got the identical full stream, no dups


def test_kinesis_sim_reshard_batch_reads_full_lineage(spark):
    """A1 reshard (README.md:36, 74): a batch scan over a stream that was
    split mid-retention reads closed parents AND child shards — one input
    partition per shard of the lineage — and the decoded record set is
    IDENTICAL to the unsplit stream (resharding moves placement, never
    data)."""
    from aws_kinesis_spark.sources import kinesis_sim

    kinesis_sim.register(spark)

    def rows(**opts):
        df = spark.read.format("kinesis_sim")
        for k, v in opts.items():
            df = df.option(k, v)
        return df.load()

    split = rows(shards=3, recordsPerShard=20, splitAtRecord=8)
    flat = rows(shards=3, recordsPerShard=20)
    assert split.rdd.getNumPartitions() == 3 + 6  # parents + 2 children each
    a = sorted(str(r["sequence_number"]) for r in split.collect())
    b = sorted(str(r["sequence_number"]) for r in flat.collect())
    assert a == b and len(a) == 60
    # per-shard ordering still holds on every lineage member
    by_part = {}
    for r in split.withColumn("part", F.spark_partition_id()).collect():
        by_part.setdefault(r["part"], []).append(r["sequence_number"])
    for seqs in by_part.values():
        assert seqs == sorted(seqs)


def test_kinesis_sim_reshard_parent_drains_before_children(spark, tmp_path):
    """A2 reshard consumer contract: child shards must not deliver a single
    record until their closed parent is fully drained (per-key ordering
    across the shard lineage), and the full drain is exactly-once."""
    import time as _time

    from aws_kinesis_spark.sources import kinesis_sim

    kinesis_sim.register(spark)
    S, M, K = 2, 24, 12
    stream = (
        spark.readStream.format("kinesis_sim")
        .option("shards", S)
        .option("recordsPerShard", M)
        .option("splitAtRecord", K)
        .option("pollRecords", 5)
        .load()
    )
    batches: list[tuple[int, list[int]]] = []

    def record(df, batch_id):
        rids = [int(str(r["sequence_number"])[-6:]) for r in df.collect()]
        if rids:
            batches.append((batch_id, rids))

    q = (
        stream.writeStream.foreachBatch(record)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(processingTime="0 seconds")
        .start()
    )
    try:
        deadline = _time.time() + 120
        while _time.time() < deadline and sum(len(r) for _, r in batches) < S * M:
            q.processAllAvailable()
            _time.sleep(0.2)
    finally:
        q.stop()
    all_rids = sorted(r for _, rids in batches for r in rids)
    assert all_rids == list(range(S * M))  # exactly once
    for s in range(S):  # strict gate per lineage
        parent_batches = [b for b, rids in batches for r in rids
                          if r // M == s and r % M < K]
        child_batches = [b for b, rids in batches for r in rids
                         if r // M == s and r % M >= K]
        assert parent_batches and child_batches
        assert max(parent_batches) < min(child_batches)


def test_kinesis_sim_reshard_crash_recovery(spark, tmp_path):
    """B6 x reshard: a crash-and-restart that lands NEAR the split boundary
    must recover from checkpointed lineage offsets — no loss, no dup, and
    the parent-before-child gate holds across the restart."""
    from pyspark.errors.exceptions.captured import StreamingQueryException

    from aws_kinesis_spark.sources import kinesis_sim

    kinesis_sim.register(spark)
    ckpt, out, flag = str(tmp_path / "ckpt"), tmp_path / "out", tmp_path / "crashed"

    def stream():
        return (
            spark.readStream.format("kinesis_sim")
            .option("shards", 2)
            .option("recordsPerShard", 50)
            .option("splitAtRecord", 30)
            .option("pollRecords", 20)
            .load()
        )

    def write_batch(df, batch_id):
        df.write.mode("overwrite").parquet(str(out / f"batch={batch_id}"))
        if batch_id >= 1 and not flag.exists():
            flag.touch()
            raise RuntimeError("injected crash near the split boundary")

    q = (
        stream().writeStream.foreachBatch(write_batch)
        .option("checkpointLocation", ckpt)
        .trigger(processingTime="0 seconds")
        .start()
    )
    with pytest.raises(StreamingQueryException):
        q.processAllAvailable()
        q.awaitTermination(60)
    assert flag.exists()

    q2 = (
        stream().writeStream.foreachBatch(write_batch)
        .option("checkpointLocation", ckpt)
        .trigger(processingTime="0 seconds")
        .start()
    )
    try:
        q2.processAllAvailable()
    finally:
        q2.stop()
    got = spark.read.parquet(str(out / "batch=*"))
    seqs = sorted(int(str(r["sequence_number"])[-6:]) for r in got.collect())
    assert seqs == list(range(100))


def test_kinesis_sim_merge_shards_lineage(spark, tmp_path):
    """A1/A2 MergeShards (scale-down): adjacent parents close and their
    remainders land on one child; the batch set equals the unmerged stream,
    and the child delivers nothing until BOTH parents are drained."""
    import time as _time

    from aws_kinesis_spark.sources import kinesis_sim

    kinesis_sim.register(spark)
    S, M, K = 2, 20, 8
    batch = (
        spark.read.format("kinesis_sim")
        .option("shards", S).option("recordsPerShard", M)
        .option("mergeAtRecord", K).load()
    )
    assert batch.rdd.getNumPartitions() == S + S // 2
    flat = (
        spark.read.format("kinesis_sim")
        .option("shards", S).option("recordsPerShard", M).load()
    )
    assert sorted(str(r["sequence_number"]) for r in batch.collect()) == sorted(
        str(r["sequence_number"]) for r in flat.collect()
    )

    stream = (
        spark.readStream.format("kinesis_sim")
        .option("shards", S).option("recordsPerShard", M)
        .option("mergeAtRecord", K).option("pollRecords", 3).load()
    )
    batches: list[tuple[int, list[int]]] = []

    def record(df, batch_id):
        rids = [int(str(r["sequence_number"])[-6:]) for r in df.collect()]
        if rids:
            batches.append((batch_id, rids))

    q = (
        stream.writeStream.foreachBatch(record)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(processingTime="0 seconds")
        .start()
    )
    try:
        deadline = _time.time() + 120
        while _time.time() < deadline and sum(len(r) for _, r in batches) < S * M:
            q.processAllAvailable()
            _time.sleep(0.2)
    finally:
        q.stop()
    all_rids = sorted(r for _, rids in batches for r in rids)
    assert all_rids == list(range(S * M))  # exactly once
    parent_batches = [b for b, rids in batches for r in rids if r % M < K]
    child_batches = [b for b, rids in batches for r in rids if r % M >= K]
    assert max(parent_batches) < min(child_batches)  # both parents first


def test_scd2_merge_increment_order_independent_and_replay_safe(spark):
    """o08: folding the CDC log in ANY batch partitioning/order — including
    a replayed batch — yields the identical SCD2 table as one batch
    recompute (the event-set reconstruction guarantee)."""
    from aws_kinesis_spark.operators.upsert import scd2_history, scd2_merge_increment

    rows = [
        # (id, status, op, seq) — multi-version keys, a delete, a reopen
        (1, "a", "I", 10), (1, "b", "U", 20), (1, "b", "D", 30), (1, "c", "I", 40),
        (2, "x", "I", 11), (2, "y", "U", 35),
        (3, "q", "I", 12),
    ]
    cdc = spark.createDataFrame(rows, "id long, status string, op string, sequence_number long")
    want = sorted(
        map(tuple, scd2_history(cdc, ["id"], "sequence_number").collect())
    )

    splits = [
        [rows],                      # single batch
        [rows[:3], rows[3:]],        # split mid-chain
        [rows[4:], rows[:4]],        # later events arrive FIRST
        [[r] for r in reversed(rows)],  # one event per batch, fully reversed
        [rows[:5], rows[3:], rows[:2]],  # overlapping replay of old events
    ]
    for split in splits:
        versions = None
        for batch_rows in split:
            batch = spark.createDataFrame(
                batch_rows, "id long, status string, op string, sequence_number long"
            )
            versions = scd2_merge_increment(versions, batch, ["id"], "sequence_number")
        got = sorted(
            map(tuple, versions.filter(F.col("op") != "D").collect())
        )
        assert got == want, split


def test_scd2_maintenance_survives_crash_and_resume(spark, tmp_path):
    """O8+B6: the SCD2 maintainer crashes after writing a version but
    before the engine commits the offset; on restart the replayed batch
    rewrites its own version idempotently and the final dimension equals
    the batch recompute over the whole log."""
    from aws_kinesis_spark.operators.upsert import scd2_history
    from aws_kinesis_spark.sources.envelope import decode_envelope
    from aws_kinesis_spark.streaming.pipeline import (
        envelope_stream,
        read_warehouse_table,
        start_scd2_maintenance,
    )

    inp = str(tmp_path / "input")
    o = load(spark, SF, "orders").limit(600)
    env0 = synthesize_envelope(o, epoch=0)
    env1 = synthesize_envelope(
        o.filter(F.col("o_orderkey") % 5 == 0).withColumn("o_orderstatus", F.lit("U2")),
        epoch=1,
        force_op="U",
    )
    env0.repartition(2).write.mode("overwrite").parquet(inp)
    env1.repartition(2).write.mode("append").parquet(inp)

    table_dir = str(tmp_path / "dim")
    ckpt = str(tmp_path / "ckpt")

    q = start_scd2_maintenance(
        envelope_stream(spark, inp, max_files_per_trigger=1), table_dir, ckpt
    )
    # let it run one batch, then hard-stop mid-stream (uncommitted offsets
    # possible) — the idempotent version rewrite is the recovery guarantee
    import time as _time

    _time.sleep(3)
    q.stop()
    q.awaitTermination(60)

    q2 = start_scd2_maintenance(
        envelope_stream(spark, inp, max_files_per_trigger=1), table_dir, ckpt
    )
    q2.awaitTermination(300)

    dim = read_warehouse_table(spark, table_dir)
    got = sorted(
        map(
            tuple,
            dim.filter(F.col("op") != "D")
            .select("id", "status", "__valid_from", "__valid_to", "__is_current")
            .collect(),
        )
    )
    cdc = (
        decode_envelope(env0)
        .unionByName(decode_envelope(env1).withColumn("op", F.lit("U")))
        .select("id", "status", "op", "sequence_number")
    )
    want = sorted(
        map(
            tuple,
            scd2_history(cdc, ["id"], "sequence_number")
            .select("id", "status", "__valid_from", "__valid_to", "__is_current")
            .collect(),
        )
    )
    assert got == want


def test_dedup_ingest_bucketed_index_prunes_and_compacts(spark, tmp_path):
    """g35 scale posture: the standing band/corpus stores are hash-bucketed
    (reads prune to the buckets a batch/its candidates actually touch) and
    per-batch dirs fold into compact=M every compact_every batches — with
    verdicts identical to the all-pairs first-occurrence-wins truth."""
    import os

    from aws_kinesis_spark.operators.dedup import ngram_jaccard_dedup
    from aws_kinesis_spark.store import index_dirs, read_index_dirs
    from aws_kinesis_spark.streaming.pipeline import (
        read_dedup_corpus,
        start_dedup_ingest,
    )
    from aws_kinesis_spark.tables import load

    d = load(spark, "/root/testdata/sf0.001", "documents")
    root = str(tmp_path)
    inp = os.path.join(root, "input")
    hi = d.agg(F.max("doc_id")).first()[0] + 1
    bounds = [0, hi // 4, hi // 2, 3 * hi // 4, hi]
    for i, (lo, up) in enumerate(zip(bounds, bounds[1:])):
        (
            d.filter((F.col("doc_id") >= lo) & (F.col("doc_id") < up))
            .repartition(1)
            .write.mode("append")
            .parquet(inp)
        )
        for f in sorted(os.listdir(inp)):
            path = os.path.join(inp, f)
            if f.endswith(".parquet") and os.path.getmtime(path) > i * 1000:
                os.utime(path, (i * 1000, i * 1000))
    stream = (
        spark.readStream.schema(d.schema).option("maxFilesPerTrigger", 1).parquet(inp)
    )
    idx = os.path.join(root, "index")
    persisted_before = spark.sparkContext._jsc.getPersistentRDDs().size()
    q = start_dedup_ingest(
        stream, idx, os.path.join(root, "ckpt"), n_buckets=8, compact_every=2
    )
    q.awaitTermination(300)

    # 0) trigger-scoped caches are unpersisted when each flush ends: a
    # long-lived ingest must not accumulate one docs/bands/candidates
    # cache entry per trigger (the flush's finally block owns this, and
    # the per-trigger path takes no localCheckpoints that would linger
    # until GC). Baseline-relative: earlier tests in the shared session
    # may hold eager checkpoints of their own; a flush leak would add
    # >= 3 entries per trigger on top
    persisted_after = spark.sparkContext._jsc.getPersistentRDDs().size()
    assert persisted_after <= persisted_before, (
        f"{persisted_after - persisted_before} cached frames outlived "
        "their trigger"
    )

    # 1) verdict parity: dropped == larger side of any jaccard>=0.7 pair
    # (arrival order is id order, so first-occurrence-wins = smallest id)
    kept = {r.doc_id for r in read_dedup_corpus(spark, idx).filter("kept").collect()}
    dropped_truth = {
        r.id_b for r in ngram_jaccard_dedup(d, threshold=0.7).collect()
    }
    all_ids = {r.doc_id for r in d.select("doc_id").collect()}
    assert kept == all_ids - dropped_truth

    # 2) compaction folded batches 0-1 (trigger at batch 2) and removed them
    for sub in ("bands", "corpus"):
        names = set(os.listdir(os.path.join(idx, sub)))
        assert "compact=1" in names, names
        assert "batch=0" not in names and "batch=1" not in names, names

    # 3) bucket pruning: a standing-band read filtered to one bucket value
    # must only OPEN files under that bucket's directories
    dirs = index_dirs(os.path.join(idx, "bands"))
    bands = read_index_dirs(spark, dirs, ["doc_id", "band", "bh", "bucket"])
    b = bands.select("bucket").first()[0]
    opened = {
        r[0]
        for r in bands.filter(F.col("bucket") == b)
        .select(F.input_file_name())
        .distinct()
        .collect()
    }
    assert opened and all(f"bucket={b}/" in f for f in opened), opened
    # and the corpus-text fetch prunes by id-bucket the same way
    cdirs = index_dirs(os.path.join(idx, "corpus"))
    corpus = read_index_dirs(spark, cdirs, ["doc_id", "text", "idb"])
    opened_c = {
        r[0]
        for r in corpus.filter(F.col("idb") == 3)
        .select(F.input_file_name())
        .distinct()
        .collect()
    }
    assert opened_c and all("idb=3/" in f for f in opened_c), opened_c


def test_kinesis_sim_options_map_to_public_connector_surface():
    """A1/A3 swap claim, closed without AWS: every kinesis_sim dial is
    either (a) a PHYSICAL stream property the real connector discovers by
    itself (shard layout, reshard events, arrival pacing — simulation
    knobs precisely because the simulator must fabricate what DescribeStream
    / SubscribeToShard would report), or (b) maps 1:1 onto a documented
    option of the public spark-sql-kinesis connector surface. The
    translated reader options this repo emits must be a subset of that
    public surface, so binding the real connector is source-options-only."""
    from aws_kinesis_spark.sources.kinesis import (
        CONSUMER_MODES,
        KINESIS_OPTIONS,
        kinesis_reader_options,
    )

    # public option names of the spark-sql-kinesis connector family
    # (qubole/awslabs spark-sql-kinesis + the Spark Kinesis EFO connector):
    public_connector_options = {
        "streamName", "region", "endpointUrl", "awsAccessKeyId",
        "awsSecretKey", "startingPosition", "consumerArn", "consumerName",
        "kinesis.executor.maxFetchTimeInMs",
        "kinesis.executor.maxFetchRecordsPerShard",
    }
    assert set(KINESIS_OPTIONS) <= public_connector_options

    # both consumer modes translate to names on that surface only
    polling = kinesis_reader_options("polling", streamName="s", region="r")
    efo = kinesis_reader_options(
        "efo", streamName="s", region="r", consumerArn="arn:aws:kinesis:..."
    )
    assert set(polling) <= public_connector_options
    assert set(efo) <= public_connector_options
    assert "consumerArn" not in polling and "consumerArn" in efo

    # sim dials: physical-stream properties vs connector options
    sim_dials = {
        "shards": "physical",          # DescribeStream shard count
        "recordsPerShard": "physical", # stream contents
        "splitAtRecord": "physical",   # SplitShard event in the stream's history
        "mergeAtRecord": "physical",   # MergeShards event
        "arrivalSets": "physical",     # arrival pacing of the live stream
        "pollRecords": "kinesis.executor.maxFetchRecordsPerShard",
        "consumerMode": "consumerArn (present=efo, absent=polling)",
    }
    for dial, mapping in sim_dials.items():
        assert mapping == "physical" or any(
            opt in mapping for opt in public_connector_options
        ), (dial, mapping)
    assert set(CONSUMER_MODES) == {"polling", "efo"}


def test_compact_spark_and_driver_folds_produce_identical_stores(
    spark, tmp_path, monkeypatch
):
    """Compaction folds driver-side (pyarrow) under store.DRIVER_MAX_BYTES
    and via a clustered Spark rewrite above it. Both paths must produce
    the SAME committed store — rows, hive layout, and readability through
    read_index_dirs — or the gate would silently change results at the
    size boundary. The Spark path would otherwise be untested (all
    fixtures fit under the gate). Either fold's footer also gives the
    schema Spark's own inference reads (parquet_store_schema)."""
    import os

    from aws_kinesis_spark import store
    from aws_kinesis_spark.store import (
        compact_store,
        index_dirs,
        parquet_store_schema,
        read_index_dirs,
    )

    def build(root):
        for b in (0, 1, 2):
            spark.createDataFrame(
                [(b * 10 + i, (b + i) % 4) for i in range(8)],
                "doc_id bigint, bucket int",
            ).repartition(2).write.partitionBy("bucket").parquet(
                os.path.join(root, f"batch={b}")
            )

    roots = {}
    for variant, gate in (("driver", 1 << 30), ("spark", 0)):
        monkeypatch.setattr(store, "DRIVER_MAX_BYTES", gate)
        root = str(tmp_path / variant)
        build(root)
        assert compact_store(spark, root, "bucket", upto=2) == 1
        names = {n for n in os.listdir(root) if "=" in n}
        assert names == {"compact=2"}, (variant, names)
        # hive layout: one bucket=V subdir per value, parquet inside
        sub = {d for d in os.listdir(os.path.join(root, "compact=2")) if "=" in d}
        assert sub == {f"bucket={v}" for v in range(4)}, (variant, sub)
        folded = os.path.join(root, "compact=2")
        assert parquet_store_schema(folded) == spark.read.parquet(folded).schema
        df = read_index_dirs(spark, index_dirs(root), cols=["doc_id", "bucket"])
        roots[variant] = {(r.doc_id, r.bucket) for r in df.collect()}
    assert roots["driver"] == roots["spark"]
    assert len(roots["driver"]) == 24


def test_compact_sweeps_superseded_dirs_after_crash_window(spark, tmp_path):
    """VERDICT r8 #4: a crash between os.replace(tmp, final) and the
    source rmtree loop used to strand superseded batch=/compact= dirs
    FOREVER — the retry hit the final-exists early-continue and later
    sweeps never revisited them. The final-exists path must now delete
    every provably superseded dir (compact=k<upto, batch=n<=upto)."""
    import os

    from aws_kinesis_spark.streaming.pipeline import compact_dedup_index

    root = str(tmp_path / "index")
    for sub, pc in (("bands", "bucket"), ("corpus", "idb")):
        for b in (0, 1):
            spark.createDataFrame(
                [(b, 0), (b + 10, 1)], f"doc_id bigint, {pc} int"
            ).write.partitionBy(pc).parquet(os.path.join(root, sub, f"batch={b}"))
    assert compact_dedup_index(spark, root, upto=1) == 2
    for sub in ("bands", "corpus"):
        names = {n for n in os.listdir(os.path.join(root, sub)) if "=" in n}
        assert names == {"compact=1"}, names

    # simulate the crash leftovers: superseded dirs reappear next to the
    # committed compact=1 (exactly the on-disk state the crash leaves)
    for sub, pc in (("bands", "bucket"), ("corpus", "idb")):
        for stale in ("batch=0", "batch=1", "compact=0"):
            spark.createDataFrame(
                [(99, 0)], f"doc_id bigint, {pc} int"
            ).write.partitionBy(pc).parquet(os.path.join(root, sub, stale))
    # retry of the same compaction request: no work, but cleanup finishes
    assert compact_dedup_index(spark, root, upto=1) == 0
    for sub in ("bands", "corpus"):
        names = {n for n in os.listdir(os.path.join(root, sub)) if "=" in n}
        assert names == {"compact=1"}, names


def test_dedup_ingest_survives_crash_and_resume(spark, tmp_path):
    """G35+B6: the dedup ingest is hard-stopped mid-stream (possibly after
    landing a batch dir but before the engine commits the offset — and with
    the round-9 THREADED flush, possibly between the threaded bands write
    and the corpus write); on restart the replayed trigger overwrites its
    own batch=N dirs idempotently and the final kept-set equals the
    all-pairs first-occurrence-wins truth."""
    import os
    import time as _time

    from aws_kinesis_spark.operators.dedup import ngram_jaccard_dedup
    from aws_kinesis_spark.streaming.pipeline import (
        read_dedup_corpus,
        start_dedup_ingest,
    )
    from aws_kinesis_spark.tables import load

    d = load(spark, "/root/testdata/sf0.001", "documents")
    root = str(tmp_path)
    inp = os.path.join(root, "input")
    hi = d.agg(F.max("doc_id")).first()[0] + 1
    bounds = [0, hi // 4, hi // 2, 3 * hi // 4, hi]
    for i, (lo, up) in enumerate(zip(bounds, bounds[1:])):
        (
            d.filter((F.col("doc_id") >= lo) & (F.col("doc_id") < up))
            .repartition(1)
            .write.mode("append")
            .parquet(inp)
        )
        for f in sorted(os.listdir(inp)):
            path = os.path.join(inp, f)
            if f.endswith(".parquet") and os.path.getmtime(path) > i * 1000:
                os.utime(path, (i * 1000, i * 1000))

    idx = os.path.join(root, "index")
    ckpt = os.path.join(root, "ckpt")

    def ingest():
        stream = (
            spark.readStream.schema(d.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(inp)
        )
        return start_dedup_ingest(stream, idx, ckpt, n_buckets=8, compact_every=2)

    q = ingest()
    _time.sleep(4)  # mid-stream: some triggers done, possibly one in flight
    q.stop()
    q.awaitTermination(60)

    q2 = ingest()
    q2.awaitTermination(300)

    kept = {r.doc_id for r in read_dedup_corpus(spark, idx).filter("kept").collect()}
    dropped_truth = {r.id_b for r in ngram_jaccard_dedup(d, threshold=0.7).collect()}
    all_ids = {r.doc_id for r in d.select("doc_id").collect()}
    assert kept == all_ids - dropped_truth
    # every landed doc exactly once (replay overwrote, never duplicated)
    corpus = read_dedup_corpus(spark, idx)
    assert corpus.count() == corpus.select("doc_id").distinct().count()


def test_batch_input_bytes_reads_source_wal(tmp_path):
    """_batch_input_bytes: the trigger-shape metadata comes from the file
    source's WAL (inputFiles() is EMPTY for streaming micro-batches —
    measured, Spark 4). Parses v1 JSON-line entries, sums on-disk sizes,
    and returns None for absent/contentless WALs (sourceless batches must
    take the row-count-gated trickle branch)."""
    import json as _json

    from aws_kinesis_spark.streaming.pipeline import _batch_input_bytes

    ck = tmp_path / "ckpt"
    (ck / "sources" / "0").mkdir(parents=True)
    f1 = tmp_path / "a.parquet"
    f2 = tmp_path / "b b.parquet"  # space: URL-quoting must round-trip
    f1.write_bytes(b"x" * 1000)
    f2.write_bytes(b"y" * 234)
    wal = ck / "sources" / "0" / "7"
    wal.write_text(
        "v1\n"
        + _json.dumps({"path": f1.as_uri(), "timestamp": 1, "batchId": 7})
        + "\n"
        + _json.dumps({"path": f2.as_uri(), "timestamp": 2, "batchId": 7})
        + "\n"
    )
    assert _batch_input_bytes(str(ck), 7) == 1234
    # absent batch file / missing checkpoint -> None (never raises)
    assert _batch_input_bytes(str(ck), 8) is None
    assert _batch_input_bytes(str(tmp_path / "nope"), 0) is None
    # WAL present but no entries (version line only) -> None
    (ck / "sources" / "0" / "9").write_text("v1\n")
    assert _batch_input_bytes(str(ck), 9) is None
    # every compactInterval-th batch lands as "<id>.compact" and holds the
    # WHOLE history — only THIS batch's entries may count
    (ck / "sources" / "0" / "10.compact").write_text(
        "v1\n"
        + _json.dumps({"path": f1.as_uri(), "timestamp": 1, "batchId": 7})
        + "\n"
        + _json.dumps({"path": f2.as_uri(), "timestamp": 3, "batchId": 10})
        + "\n"
    )
    assert _batch_input_bytes(str(ck), 10) == 234
    # the WAL's own "size" field wins over a re-stat (round-13 review):
    # consumed inputs may be archived/deleted (cleanSource, retention
    # jobs) — byte classification must survive the files' absence
    gone = tmp_path / "consumed.parquet"  # never created on disk
    (ck / "sources" / "0" / "11").write_text(
        "v1\n"
        + _json.dumps(
            {"path": gone.as_uri(), "timestamp": 4, "batchId": 11, "size": 4096}
        )
        + "\n"
        + _json.dumps(
            {"path": f2.as_uri(), "timestamp": 5, "batchId": 11, "size": 234}
        )
        + "\n"
    )
    assert _batch_input_bytes(str(ck), 11) == 4330
    # mixed: entry without size falls back to the stat of the live file
    (ck / "sources" / "0" / "12").write_text(
        "v1\n"
        + _json.dumps(
            {"path": gone.as_uri(), "timestamp": 6, "batchId": 12, "size": 50}
        )
        + "\n"
        + _json.dumps({"path": f1.as_uri(), "timestamp": 7, "batchId": 12})
        + "\n"
    )
    assert _batch_input_bytes(str(ck), 12) == 1050


def test_warehouse_merge_tied_delete_does_not_resurrect(spark):
    """Round-11 review: a tombstone sharing its sequence number with an
    update must delete the key through the WAREHOUSE merge. Deriving the
    delete set from a second window ordered without the delete-wins
    tie-break let the U row win rank 1, dropping the D from the delete set
    while apply_cdc's side also dropped the key — the stale current row
    resurrected. One collapse_cdc now feeds both sides."""
    from aws_kinesis_spark.operators.upsert import collapse_cdc, staging_upsert

    current = spark.createDataFrame(
        [(5, "OLD", 1)], "id LONG, status STRING, sequence_number LONG"
    )
    batch = spark.createDataFrame(
        [(5, "U", "NEW", 7), (5, "D", None, 7), (6, "U", "KEEP", 7)],
        "id LONG, op STRING, status STRING, sequence_number LONG",
    )
    collapsed = collapse_cdc(batch, ["id"], "sequence_number")
    latest = collapsed.filter(F.col("op") != "D").select(
        "id", "status", "sequence_number"
    )
    deletes = collapsed.filter(F.col("op") == "D").select("id")
    merged = staging_upsert(current, latest, ["id"]).join(deletes, ["id"], "left_anti")
    rows = {(r.id, r.status) for r in merged.collect()}
    assert rows == {(6, "KEEP")}, rows  # 5 deleted, not resurrected as OLD


def test_rollup_replay_swaps_versions_without_a_torn_window(spark, tmp_path):
    """Round-12 review: the round-11 two-rename replay swap had a window
    where _CURRENT pointed at a missing v{N} (live dir renamed to .old
    before the fresh copy renamed in) — a concurrent reader failed
    outright, and a crash there broke readers until the same batch id
    replayed. The replay now lands under a FRESH dir name (v{N}_{attempt})
    and the pointer flips to it — the live dir is never renamed away, so
    every pointer state ever committed resolves to a complete version."""
    import json as _json

    from aws_kinesis_spark.streaming.rollup import read_rollup, start_continuous_rollup

    inp = str(tmp_path / "events")
    ev = load(spark, SF, "events")
    ev.repartition(2).write.mode("overwrite").parquet(inp)
    rollup = str(tmp_path / "rollup")
    q = start_continuous_rollup(
        event_stream(spark, inp, max_files_per_trigger=1),
        rollup,
        str(tmp_path / "ckpt"),
    )
    q.awaitTermination(300)
    before = read_rollup(spark, rollup).count()
    assert before > 0
    ptr_before = _json.load(open(os.path.join(rollup, "_CURRENT")))
    dir_before = ptr_before.get("dir") or f"v{ptr_before['version']}"
    # fabricate a crash-stranded staging dir from an interrupted replay —
    # the only incomplete state the new protocol can leave behind; it must
    # never shadow a committed version and must be swept by the re-attempt
    os.makedirs(os.path.join(rollup, dir_before + "_1.tmp", "garbage"))
    # simulate the lost checkpoint commit: wipe the checkpoint, replay the
    # whole stream into the SAME rollup dir — every batch id is a replay
    q2 = start_continuous_rollup(
        event_stream(spark, inp, max_files_per_trigger=1),
        rollup,
        str(tmp_path / "ckpt2"),
    )
    q2.awaitTermination(300)
    assert read_rollup(spark, rollup).count() == before
    ptr_after = _json.load(open(os.path.join(rollup, "_CURRENT")))
    dir_after = ptr_after.get("dir") or f"v{ptr_after['version']}"
    # the pointer flipped to a fresh attempt dir (never rewritten in place)
    # and resolves to a complete, readable version
    assert dir_after != dir_before, dir_after
    assert os.path.isdir(os.path.join(rollup, dir_after))
    assert ptr_after["version"] == ptr_before["version"]
    # no stranded staging dirs survive a completed replay; superseded
    # attempts sweep with a ONE-TRIGGER grace period (the next flush), so
    # the final batch's old attempt is still on disk here — a reader that
    # resolved the pre-flip pointer can finish its read (round-12 review:
    # an immediate post-flip rmtree re-created the torn-read window)
    leftovers = [d for d in os.listdir(rollup) if d.endswith((".tmp", ".old"))]
    assert leftovers == [], leftovers
    assert os.path.exists(os.path.join(rollup, dir_before))
    # a third replay keeps the count stable and the pointer always live
    # (attempt names recycle after the deferred sweeps — the invariant is
    # that every pointer ever committed resolves, not which names remain)
    q3 = start_continuous_rollup(
        event_stream(spark, inp, max_files_per_trigger=1),
        rollup,
        str(tmp_path / "ckpt3"),
    )
    q3.awaitTermination(300)
    assert read_rollup(spark, rollup).count() == before
    # the final pointer resolves to an existing complete dir
    ptr_final = _json.load(open(os.path.join(rollup, "_CURRENT")))
    dir_final = ptr_final.get("dir") or f"v{ptr_final['version']}"
    assert os.path.isdir(os.path.join(rollup, dir_final))


def test_warehouse_replay_commits_fresh_dir_and_never_breaks_pointer(spark, tmp_path):
    """Round-13 review: the warehouse/SCD2 version commit adopted the
    rollup pointer-swap protocol — a replayed batch must write a FRESH
    dir and flip _CURRENT to it, never overwrite the dir the pointer
    names (the old in-place overwrite tore the live version for the whole
    rewrite)."""
    import json as _json

    from aws_kinesis_spark.store import commit_table_version
    from aws_kinesis_spark.streaming.pipeline import read_warehouse_table

    table = str(tmp_path / "wh")
    os.makedirs(table)
    from decimal import Decimal

    df = spark.createDataFrame(
        [(1, "A", Decimal(10)), (2, "B", Decimal(20))],
        "id LONG, status STRING, sequence_number DECIMAL(38,0)",
    )
    commit_table_version(df, table, 1)
    ptr1 = _json.load(open(os.path.join(table, "_CURRENT")))
    assert ptr1 == {"version": 1, "dir": "v1"}
    live_before = sorted(os.listdir(os.path.join(table, "v1")))
    # replay of the SAME batch: fresh attempt dir, pointer flips, the
    # previously live dir is byte-untouched
    commit_table_version(df, table, 1)
    ptr2 = _json.load(open(os.path.join(table, "_CURRENT")))
    assert ptr2 == {"version": 1, "dir": "v1_1"}
    assert sorted(os.listdir(os.path.join(table, "v1"))) == live_before
    got = {(r.id, r.status) for r in read_warehouse_table(spark, table).collect()}
    assert got == {(1, "A"), (2, "B")}
    # explicit-version read resolves the highest attempt
    got_v1 = {(r.id, r.status) for r in read_warehouse_table(spark, table, version=1).collect()}
    assert got_v1 == got
    # back-compat: a "version"-only pointer (pre-protocol store) resolves
    with open(os.path.join(table, "_CURRENT"), "w") as fh:
        _json.dump({"version": 1}, fh)
    got_old = {(r.id, r.status) for r in read_warehouse_table(spark, table).collect()}
    assert got_old == got


def test_rollup_retires_versions_beyond_the_replay_horizon(spark, tmp_path):
    """Round-13 review: the rollup kept one full table copy per
    micro-batch forever (replay only needs the newest version below the
    replayed batch, and read_rollup resolves only _CURRENT) — after a
    multi-batch stream at most the two newest committed batch ids may
    remain on disk, and the answer is still the batch recompute."""
    from aws_kinesis_spark.store import committed_versions
    from aws_kinesis_spark.streaming.rollup import read_rollup, start_continuous_rollup

    inp = str(tmp_path / "events")
    ev = load(spark, SF, "events")
    ev.repartition(4).write.mode("overwrite").parquet(inp)
    rollup = str(tmp_path / "rollup")
    q = start_continuous_rollup(
        event_stream(spark, inp, max_files_per_trigger=1),
        rollup,
        str(tmp_path / "ckpt"),
    )
    q.awaitTermination(300)
    # the sweep runs at the START of each flush (deferred one trigger for
    # the read grace), so the steady-state bound is the two kept ids plus
    # the just-committed one — constant in stream length, vs one copy per
    # micro-batch before the fix
    committed = committed_versions(rollup)
    assert len(committed) <= 3, sorted(committed)
    want = {
        (r.hs, r.event_type): (r.n, round(r.sv, 4))
        for r in ev.groupBy(F.date_trunc("hour", "ts").alias("hs"), "event_type")
        .agg(F.count("*").alias("n"), F.sum("value").alias("sv"))
        .collect()
    }
    got = {
        (r.hour_start, r.event_type): (r.n_events, round(r.sum_value, 4))
        for r in read_rollup(spark, rollup).collect()
    }
    assert got == want


def test_kinesis_sim_rejects_offsets_beyond_the_topology(spark):
    """Round-13 review (live-repro'd): a checkpoint whose offsets EXCEED
    the current topology's shard length must fail loudly — the old code
    clamped end below start (offset regression) and re-delivered records
    the prior topology already served."""
    import pytest as _pytest

    from aws_kinesis_spark.sources.kinesis_sim import KinesisSimStreamReader

    reader = KinesisSimStreamReader(
        n_shards=4, records_per_shard=10, poll_records=100, split_at=3
    )
    with _pytest.raises(ValueError, match="exceeds this topology"):
        reader.read({"0": 10, "1": 10, "2": 10, "3": 10})


def test_read_warehouse_table_empty_store_schemas(spark, tmp_path):
    """Round-13 review: read_warehouse_table is the documented reader for
    BOTH versioned stores — the empty-store fallback must return the
    caller's schema, not a hardcoded warehouse shape that crashes SCD2
    projections with UNRESOLVED_COLUMN on an empty dimension."""
    from aws_kinesis_spark.streaming.pipeline import (
        SCD2_SCHEMA,
        WAREHOUSE_SCHEMA,
        read_warehouse_table,
    )

    empty = str(tmp_path / "dim")
    os.makedirs(empty)
    dim = read_warehouse_table(spark, empty, empty_schema=SCD2_SCHEMA)
    # the o08 downstream projection must resolve on the empty frame
    out = dim.filter(F.col("op") != "D").select(
        "id", "status", "__valid_from", "__valid_to", "__is_current"
    )
    assert out.count() == 0
    wh = read_warehouse_table(spark, empty)
    assert wh.columns == [f.split(" ")[0] for f in WAREHOUSE_SCHEMA.split(", ")]


def test_warehouse_replay_attempts_commit_identical_content(spark, tmp_path):
    """Round-13 review: decode_envelope plants processed_at =
    current_timestamp(), which drifts between replay attempts; with it in
    collapse_cdc's tie-break hash, a producer double-send (same key+seq+op,
    drifted payload) could collapse to DIFFERENT winners per attempt,
    committing a v{N}_attempt whose content diverges from v{N}. The flush
    now projects to the replay-stable columns first — every attempt of a
    version must hold identical content (store.version_dir's invariant)."""
    from aws_kinesis_spark.streaming.pipeline import start_warehouse_upsert

    orders = load(spark, SF, "orders").limit(40)
    send1 = synthesize_envelope(orders, epoch=0, force_op="U")
    drift = orders.withColumn("o_orderstatus", F.lit("ZZ"))
    send2 = synthesize_envelope(drift, epoch=0, force_op="U")
    inp = str(tmp_path / "input")
    send1.unionAll(send2).coalesce(1).write.mode("overwrite").parquet(inp)

    table = str(tmp_path / "wh")
    q = start_warehouse_upsert(
        envelope_stream(spark, inp), table, str(tmp_path / "ckpt1")
    )
    q.awaitTermination(120)
    # replay attempt: a FRESH checkpoint re-runs batch 0 against the same
    # table — store.commit_table_version lands it as v0_1
    q2 = start_warehouse_upsert(
        envelope_stream(spark, inp), table, str(tmp_path / "ckpt2")
    )
    q2.awaitTermination(120)
    assert os.path.isdir(os.path.join(table, "v0"))
    assert os.path.isdir(os.path.join(table, "v0_1"))
    a = spark.read.parquet(os.path.join(table, "v0"))
    b = spark.read.parquet(os.path.join(table, "v0_1"))
    assert a.count() == 40
    assert a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0


def test_alert_path_continuous_trigger_mode(spark, tmp_path):
    """Round-13 review: the documented processingTime low-latency mode was
    unreachable (trigger hardcoded to availableNow). available_now=False
    must run a CONTINUOUS query that keeps consuming instead of draining
    and terminating."""
    import time

    inp = str(tmp_path / "input")
    orders = load(spark, SF, "orders").limit(30)
    synthesize_envelope(orders).coalesce(1).write.mode("overwrite").parquet(inp)
    tbl = _uniq("alerts_cont")
    q = start_alert_path(
        envelope_stream(spark, inp),
        str(tmp_path / "ckpt"),
        tbl,
        available_now=False,
        trigger_seconds=0,
    )
    try:
        expected = orders.filter(F.col("o_orderkey") % 3 == 2).count()
        deadline = time.time() + 60
        while time.time() < deadline and spark.table(tbl).count() < expected:
            time.sleep(0.5)
        assert spark.table(tbl).count() == expected
        # a continuous query does not self-terminate after the drain
        assert q.isActive
    finally:
        q.stop()


def test_rollup_replay_sweep_keeps_merge_base_despite_stale_future_versions(spark, tmp_path):
    """Round-13 review: the retirement sweep kept the two GLOBALLY newest
    batch ids — a fresh-checkpoint replay into a dir holding stale higher
    versions (v9/v10 from the pre-wipe run) monopolized the keep set, the
    replayed batch's merge base (v4) was swept before the base read, and
    the recombine silently truncated the rollup. The keep set is now
    relative to the replaying batch."""
    import json as _json

    from aws_kinesis_spark.streaming.rollup import (
        ROLLUP_SCHEMA,
        _retire_and_merge_base,
    )

    root = str(tmp_path / "rollup")
    os.makedirs(root)

    def write_version(name, n_events):
        df = spark.createDataFrame(
            [("2024-01-01 00:00:00", "view", n_events, 1.0)],
            "hour_start STRING, event_type STRING, n_events LONG, sum_value DOUBLE",
        ).select(
            F.col("hour_start").cast("timestamp").alias("hour_start"),
            "event_type",
            "n_events",
            "sum_value",
        )
        (
            df.withColumn("day", F.to_date("hour_start"))
            .write.mode("overwrite")
            .partitionBy("day")
            .parquet(os.path.join(root, name))
        )

    # pre-wipe run left v9/v10; the replayed run has committed v4 and v5
    # (v5 = this batch's prior attempt — crash after pointer flip, before
    # the checkpoint commit), and _CURRENT points at v5
    for name, n in (("v4", 4), ("v5", 5), ("v9", 9), ("v10", 10)):
        write_version(name, n)
    with open(os.path.join(root, "_CURRENT"), "w") as fh:
        _json.dump({"version": 5, "dir": "v5"}, fh)

    base = _retire_and_merge_base(spark, root, batch_id=5)
    # the merge base is v4's content — not an empty frame
    assert [r.n_events for r in base.collect()] == [4]
    assert os.path.isdir(os.path.join(root, "v4"))
    # stale future versions retire (the pointer dir is never swept)
    assert not os.path.isdir(os.path.join(root, "v9"))
    assert not os.path.isdir(os.path.join(root, "v10"))
    assert os.path.isdir(os.path.join(root, "v5"))


def test_rollup_empty_version_reads_as_empty_frame(spark, tmp_path):
    """Round-13 review: an empty combined frame written through
    partitionBy leaves a version dir with no parquet part files; a
    schema-inferring read of it died with UNABLE_TO_INFER_SCHEMA, killing
    the stream and read_rollup. Explicit-schema reads return empty."""
    import json as _json

    from aws_kinesis_spark.streaming.rollup import (
        _retire_and_merge_base,
        read_rollup,
    )

    root = str(tmp_path / "rollup")
    os.makedirs(os.path.join(root, "v0"))
    open(os.path.join(root, "v0", "_SUCCESS"), "w").close()
    with open(os.path.join(root, "_CURRENT"), "w") as fh:
        _json.dump({"version": 0, "dir": "v0"}, fh)

    assert read_rollup(spark, root).count() == 0
    assert _retire_and_merge_base(spark, root, batch_id=1).count() == 0


def test_retry_ladder_clamps_and_dlq_dials_pass_through(spark):
    """base_delay above the cap must not produce a DECREASING ladder: the
    first delay is clamped to max_delay too. A failure outside
    ``retriable`` (a deterministic bug) surfaces on the first attempt."""
    from aws_kinesis_spark.streaming.retry import retry_with_backoff

    delays: list[float] = []
    calls = {"n": 0}

    def failing():
        calls["n"] += 1
        raise RuntimeError("transient")

    import pytest as _pytest

    with _pytest.raises(RuntimeError):
        retry_with_backoff(
            failing, attempts=4, base_delay=60.0, max_delay=32.0, sleep=delays.append
        )
    assert delays == [32.0, 32.0, 32.0]  # clamped, never decreasing

    n_before = len(delays)
    with _pytest.raises(ValueError):
        retry_with_backoff(
            lambda: (_ for _ in ()).throw(ValueError("schema bug")),
            retriable=(TimeoutError,),
            sleep=delays.append,
        )
    assert len(delays) == n_before  # zero sleeps: not retried


def test_kinesis_sim_topology_mismatch_guards(spark):
    """Round-13 review (live-repro'd): a checkpoint naming shards ABSENT
    from the current topology (reshard option removed) was silently
    ignored, re-delivering the records those shards already served; and
    shards/recordsPerShard <= 0 silently drained zero records."""
    import pytest as _pytest

    from aws_kinesis_spark.sources.kinesis_sim import KinesisSimStreamReader

    # checkpoint from a split topology, restarted WITHOUT the split
    reader = KinesisSimStreamReader(n_shards=2, records_per_shard=400, poll_records=100)
    with _pytest.raises(ValueError, match="do not exist in this topology"):
        reader.read({"0": 150, "1": 150, "2": 125, "3": 125, "4": 125, "5": 125})
    # degenerate topology options fail loudly, not as an empty drain
    with _pytest.raises(ValueError, match="must be >= 1"):
        KinesisSimStreamReader(n_shards=0, records_per_shard=0, poll_records=100)


def test_stream_source_file_kind_rejects_kinesis_mode_args(spark, tmp_path):
    """Round-13 review: kind='file' silently dropped mode=/reader_factory=
    while loudly rejecting stray kinesis options — a mis-set kind ran the
    file branch with the caller believing EFO arguments were in effect."""
    import pytest as _pytest

    from aws_kinesis_spark.sources.kinesis import stream_source

    with _pytest.raises(ValueError, match="mode=/reader_factory="):
        stream_source(spark, kind="file", path=str(tmp_path), mode="efo")
    with _pytest.raises(ValueError, match="mode=/reader_factory="):
        stream_source(
            spark, kind="file", path=str(tmp_path), reader_factory=lambda s: None
        )


def test_driver_side_store_write_matches_spark_layout(spark, tmp_path):
    """store.write_partitioned writes a store dir driver-side with pyarrow
    when the input bytes are known and under the gate, and with a Spark
    partitioned-write job otherwise. The layout contract is that READERS
    cannot tell the two branches apart: same hive partition dirs, same
    rows under both the schema-pinned per-trigger read and the
    inference read, and the same schema from one footer
    (parquet_store_schema, which the corpus reader passes to Spark)."""
    from pyspark.sql import functions as F

    from aws_kinesis_spark.store import parquet_store_schema, write_partitioned

    df = spark.range(0, 500).select(
        F.col("id").alias("doc_id"),
        F.concat(F.lit("t"), F.col("id")).alias("text"),
        (F.col("id") % 2 == 0).alias("kept"),
        F.pmod("id", F.lit(16)).cast("int").alias("idb"),
    )
    d_driver = str(tmp_path / "driver")
    d_spark = str(tmp_path / "sparkw")
    write_partitioned(df, d_driver, "idb", 0)
    write_partitioned(df, d_spark, "idb", None)

    import os

    hive_dirs = sorted(
        n for n in os.listdir(d_driver) if n.startswith("idb=")
    )
    assert hive_dirs == sorted(
        n for n in os.listdir(d_spark) if n.startswith("idb=")
    )
    a = spark.read.parquet(d_driver)
    b = spark.read.parquet(d_spark)
    assert parquet_store_schema(d_driver) == a.schema
    assert parquet_store_schema(d_spark) == b.schema
    cols = ["doc_id", "text", "kept", "idb"]
    assert sorted(a.select(cols).collect()) == sorted(b.select(cols).collect())
    # replay idempotency: rewriting the same dir converges, no stale files
    write_partitioned(df.filter(F.col("doc_id") < 100), d_driver, "idb", 0)
    assert spark.read.parquet(d_driver).count() == 100


def test_store_reads_plan_on_the_driver_without_spark_jobs(spark, tmp_path):
    """Building a read of a store the engine wrote launches NO Spark job:
    listing stays on the driver (the session's listing threshold sits above
    every fan-out the engine produces, here 40 hash-bucket dirs where
    Spark's default lists anything over 32 paths with a job) and the
    schema comes from one footer (parquet_store_schema), never a
    footer-inference job. Each such job is per-read scheduling with no
    work behind it, paid on every trigger, restart and corpus read."""
    from pyspark.sql import types as T

    from aws_kinesis_spark.sources.lake import (
        read_incremental,
        register_lake_table,
        run_lake_batch,
    )
    from aws_kinesis_spark.store import (
        commit_table_version,
        index_dirs,
        read_index_dirs,
        write_hive_arrow,
    )
    from aws_kinesis_spark.streaming.pipeline import (
        read_dedup_corpus,
        read_warehouse_table,
    )

    n_buckets = 40
    docs = spark.range(0, 200).select(
        F.col("id").alias("doc_id"),
        F.concat(F.lit("t"), F.col("id")).alias("text"),
        (F.col("id") % 3 > 0).alias("kept"),
        F.pmod("id", F.lit(n_buckets)).cast("int").alias("idb"),
    )
    index = str(tmp_path / "index")
    corpus = os.path.join(index, "corpus")
    # one driver-written and one Spark-written batch dir, as the trigger
    # lays them out on either side of its byte gate
    write_hive_arrow(docs.toArrow(), os.path.join(corpus, "batch=0"), "idb")
    docs.write.partitionBy("idb").parquet(os.path.join(corpus, "batch=1"))
    corpus_schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("text", T.StringType()),
            T.StructField("kept", T.BooleanType()),
            T.StructField("idb", T.IntegerType()),
        ]
    )
    wh = str(tmp_path / "wh")
    os.makedirs(wh)
    commit_table_version(
        spark.sql(
            "SELECT 1L AS id, 'open' AS status,"
            " CAST(7 AS DECIMAL(38,0)) AS sequence_number"
        ),
        wh,
        0,
    )
    lake = str(tmp_path / "lake")
    orders = load(spark, SF, "orders").limit(200)
    run_lake_batch(synthesize_envelope(orders), lake, batch_id=0, raw_backup=False)
    run_lake_batch(
        synthesize_envelope(orders, epoch=1), lake, batch_id=1, raw_backup=False
    )

    sc = spark.sparkContext

    def jobs_to_build(build):
        group = _uniq("plan-only")
        sc.setJobGroup(group, "store read planning")
        try:
            df = build()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        return len(sc.statusTracker().getJobIdsForGroup(group)), df

    builds = {
        "read_dedup_corpus": lambda: read_dedup_corpus(spark, index),
        "read_index_dirs": lambda: read_index_dirs(
            spark, index_dirs(corpus), ["doc_id", "text", "idb"], corpus_schema
        ),
        "read_warehouse_table": lambda: read_warehouse_table(spark, wh),
        "read_warehouse_table@v0": lambda: read_warehouse_table(spark, wh, 0),
        "read_incremental": lambda: read_incremental(spark, lake, -1, 1),
        "register_lake_table": lambda: (
            register_lake_table(spark, "plan_only_lake", lake),
            spark.table("plan_only_lake"),
        )[1],
    }
    rows = {}
    for name, build in builds.items():
        n_jobs, df = jobs_to_build(build)
        assert n_jobs == 0, f"building {name} launched {n_jobs} Spark jobs"
        rows[name] = df.count()
    # the driver-planned frames still read every row
    assert rows["read_dedup_corpus"] == rows["read_index_dirs"] == 400
    assert rows["read_warehouse_table"] == rows["read_warehouse_table@v0"] == 1
    assert rows["read_incremental"] == sum(
        read_manifest(lake, b)["recordCount"] for b in (0, 1)
    )
    inferred = spark.read.parquet(os.path.join(lake, "data"))
    assert rows["register_lake_table"] == inferred.count()
    assert spark.table("plan_only_lake").schema == inferred.schema


def _dedup_input(spark, root: str):
    """sf0.001 documents as four id-range files, then one file whose docs
    all have fewer than 3 tokens and one zero-row file, arriving in that
    order (one file per trigger)."""
    d = load(spark, SF, "documents")
    inp = os.path.join(root, "input")
    hi = d.agg(F.max("doc_id")).first()[0] + 1
    bounds = [0, hi // 4, hi // 2, 3 * hi // 4, hi]
    parts = [
        d.filter((F.col("doc_id") >= lo) & (F.col("doc_id") < up))
        for lo, up in zip(bounds, bounds[1:])
    ]
    texts = F.array(*[F.lit(t) for t in ("one two", "", " solo ", "ü ß")])
    short = (
        d.orderBy("doc_id")
        .limit(6)
        .withColumn("doc_id", F.col("doc_id") + hi)
        .withColumn("text", F.element_at(texts, (F.col("doc_id") % 4 + 1).cast("int")))
    )
    parts += [short, d.limit(0)]
    for i, part in enumerate(parts):
        part.repartition(1).write.mode("append").parquet(inp)
        for f in sorted(os.listdir(inp)):
            path = os.path.join(inp, f)
            if f.endswith(".parquet") and os.path.getmtime(path) > i * 1000:
                os.utime(path, (i * 1000, i * 1000))
    return d, inp


def test_dedup_ingest_driver_and_spark_shapes_land_identical_stores(
    spark, tmp_path, monkeypatch
):
    """start_dedup_ingest runs a trigger on the driver (one signing collect,
    probe/verify/writes in pyarrow and Python) under store.DRIVER_MAX_BYTES
    and on Spark above it. With the gate at 0 every trigger takes the Spark
    shape; both runs must land the same band rows, corpus rows and
    verdicts in the same hive layout with the same footer schema —
    including a trigger of sub-shingle docs and a zero-row trigger, and
    across two compactions."""
    import pyspark.sql.types as T

    import aws_kinesis_spark.streaming.pipeline as P
    from aws_kinesis_spark import store
    from aws_kinesis_spark.operators.dedup import ngram_jaccard_dedup

    d, inp = _dedup_input(spark, str(tmp_path))
    runs = {}
    for shape, gate in (("driver", store.DRIVER_MAX_BYTES), ("spark", 0)):
        monkeypatch.setattr(store, "DRIVER_MAX_BYTES", gate)
        idx = str(tmp_path / shape / "index")
        stream = (
            spark.readStream.schema(d.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(inp)
        )
        q = P.start_dedup_ingest(
            stream, idx, str(tmp_path / shape / "ckpt"), n_buckets=8, compact_every=2
        )
        q.awaitTermination(300)
        assert q.exception() is None
        layout = sorted(
            os.path.relpath(dp, idx)
            for dp, _dirs, fs in os.walk(idx)
            if any(f.endswith(".parquet") for f in fs)
        )
        stores = {}
        for sub in ("bands", "corpus"):
            dirs = store.index_dirs(os.path.join(idx, sub))
            schemas = {store.parquet_store_schema(x) for x in dirs}
            assert len(schemas) == 1, (shape, sub, schemas)
            df = store.read_index_dirs(spark, dirs, ["*"], schemas.pop())
            stores[sub] = (df.schema, sorted(df.collect()))
        runs[shape] = (layout, stores)

    assert runs["driver"] == runs["spark"]
    layout, stores = runs["driver"]
    assert "corpus/compact=3/idb=0" in layout and "bands/compact=3/bucket=0" in layout
    corpus_schema, corpus = stores["corpus"]
    assert isinstance(corpus_schema["idb"].dataType, T.IntegerType)
    # verdicts: first-occurrence-wins truth; every sub-shingle doc kept
    hi = d.agg(F.max("doc_id")).first()[0] + 1
    dropped_truth = {r.id_b for r in ngram_jaccard_dedup(d, threshold=0.7).collect()}
    assert {r.doc_id for r in corpus if not r.kept} == dropped_truth
    assert sorted(r.doc_id for r in corpus if r.doc_id >= hi) == [
        r.doc_id + hi for r in d.orderBy("doc_id").limit(6).collect()
    ]


def _ingest_one_trigger(spark, docs, inp: str, idx: str, ckpt: str) -> list[int]:
    """Land ``docs`` as one more input file and run start_dedup_ingest
    until it has drained it — exactly one trigger, since each start of the
    query gets its own run id and so its own job group. Returns the ids of
    the Spark jobs in that group."""
    from aws_kinesis_spark.streaming.pipeline import start_dedup_ingest

    docs.repartition(1).write.mode("append").parquet(inp)
    stream = spark.readStream.schema(docs.schema).parquet(inp)
    q = start_dedup_ingest(stream, idx, ckpt, n_buckets=8, compact_every=2)
    q.awaitTermination(300)
    assert q.exception() is None
    return list(spark.sparkContext.statusTracker().getJobIdsForGroup(str(q.runId)))


def _trickle_cuts(d) -> tuple[list[int], list[int]]:
    """doc ids in order, and cut points: a seed batch of half the docs,
    then 15-doc trickle batches."""
    ids = sorted(r.doc_id for r in d.select("doc_id").collect())
    return ids, [0, len(ids) // 2] + [len(ids) // 2 + 15 * k for k in range(1, 5)]


def test_dedup_trickle_trigger_runs_at_most_three_spark_jobs(spark, tmp_path):
    """A trickle trigger under the byte gate does its only Spark work in the
    signing collect: at most 3 jobs in the query's job group, compaction
    triggers included."""
    d = load(spark, SF, "documents").cache()
    ids, cuts = _trickle_cuts(d)
    paths = [str(tmp_path / n) for n in ("input", "index", "ckpt")]
    per_trigger = [
        len(
            _ingest_one_trigger(
                spark, d.filter(F.col("doc_id").isin(ids[lo:up])), *paths
            )
        )
        for lo, up in zip(cuts, cuts[1:])
    ]
    d.unpersist()
    assert os.path.isdir(os.path.join(paths[1], "bands", "compact=3"))
    assert max(per_trigger[1:]) <= 3, per_trigger


def test_dedup_driver_shape_falls_back_past_its_memory_bounds(
    spark, tmp_path, monkeypatch
):
    """The driver shape holds the batch, its band rows, the standing rows
    matching them, the candidate pairs and their texts. Past either bound
    — standing band files in the touched buckets at or over
    store.DRIVER_MAX_BYTES, or a candidate join of more than
    _SMALL_SIDE_MAX_ROWS rows — the trigger takes the Spark shape (which
    runs more than 3 jobs) and lands the same verdicts."""
    import aws_kinesis_spark.streaming.pipeline as P
    from aws_kinesis_spark import store
    from aws_kinesis_spark.operators.dedup import ngram_jaccard_dedup

    d = load(spark, SF, "documents").cache()
    ids, cuts = _trickle_cuts(d)
    inp, idx, ckpt = (str(tmp_path / n) for n in ("input", "index", "ckpt"))
    batches = [
        d.filter(F.col("doc_id").isin(ids[lo:up]))
        for lo, up in zip(cuts, cuts[1:4])
    ]
    assert len(_ingest_one_trigger(spark, batches[0], inp, idx, ckpt)) <= 3
    # the batch under the byte gate, the standing band files over it (a
    # 15-doc batch has 240 band rows, so it touches all 8 buckets)
    gate = sum(
        os.path.getsize(f)
        for x in store.index_dirs(os.path.join(idx, "bands"))
        for f in store.list_parquet_files(x)
    )
    monkeypatch.setattr(store, "DRIVER_MAX_BYTES", gate)
    assert len(_ingest_one_trigger(spark, batches[1], inp, idx, ckpt)) > 3
    monkeypatch.undo()
    newest = max(store.list_parquet_files(inp), key=os.path.getmtime)
    assert os.path.getsize(newest) <= gate

    # the candidate join over its row bound
    monkeypatch.setattr(P, "_SMALL_SIDE_MAX_ROWS", 0)
    assert len(_ingest_one_trigger(spark, batches[2], inp, idx, ckpt)) > 3
    monkeypatch.undo()

    ingested = d.filter(F.col("doc_id").isin(ids[: cuts[3]]))
    dropped_truth = {
        r.id_b for r in ngram_jaccard_dedup(ingested, threshold=0.7).collect()
    }
    corpus = P.read_dedup_corpus(spark, idx).collect()
    d.unpersist()
    assert sorted(r.doc_id for r in corpus) == ids[: cuts[3]]
    assert {r.doc_id for r in corpus if not r.kept} == dropped_truth


@pytest.mark.parametrize("shape", ["gated", "spark"])
def test_dedup_ingest_zero_row_batch_between_batches(
    spark, tmp_path, monkeypatch, shape
):
    """A zero-row micro-batch (an empty input file) lands contentless batch
    dirs that store.index_dirs skips, and leaves the next batch's verdicts
    and the corpus read as a run without it — under the default byte gate
    and with every trigger forced onto the Spark shape."""
    from aws_kinesis_spark import store
    from aws_kinesis_spark.streaming.pipeline import read_dedup_corpus

    if shape == "spark":
        monkeypatch.setattr(store, "DRIVER_MAX_BYTES", 0)
    d = load(spark, SF, "documents").cache()
    ids, cuts = _trickle_cuts(d)
    seed, trickle = (
        d.filter(F.col("doc_id").isin(ids[lo:up])) for lo, up in zip(cuts, cuts[1:3])
    )
    runs = {}
    for run, batches in (
        ("empty", [seed, d.limit(0), trickle]),
        ("plain", [seed, trickle]),
    ):
        inp, idx, ckpt = (str(tmp_path / run / n) for n in ("input", "index", "ckpt"))
        for batch_id, b in enumerate(batches):
            _ingest_one_trigger(spark, b, inp, idx, ckpt)
            if run == "empty" and batch_id == 1:
                for sub in ("bands", "corpus"):
                    empty_dir = os.path.join(idx, sub, "batch=1")
                    assert os.path.isdir(empty_dir)
                    assert store.list_parquet_files(empty_dir) == []
                    live = store.index_dirs(os.path.join(idx, sub))
                    assert live == [os.path.join(idx, sub, "batch=0")], live
                assert read_dedup_corpus(spark, idx).count() == cuts[1]
        verdicts = spark.read.parquet(
            os.path.join(idx, "corpus", f"batch={batch_id}")
        ).select("doc_id", "kept")
        runs[run] = (
            sorted(verdicts.collect()),
            sorted(read_dedup_corpus(spark, idx).collect()),
        )
    d.unpersist()
    assert runs["empty"] == runs["plain"]
    verdicts, corpus = runs["plain"]
    assert sorted(r.doc_id for r in verdicts) == ids[cuts[1] : cuts[2]]
    assert sorted(r.doc_id for r in corpus) == ids[: cuts[2]]


def test_dedup_ingest_leaves_the_session_conf_alone(spark, tmp_path, monkeypatch):
    """Library code writes no session conf at query time: with a deployment's
    own shuffle partition count on the session, loading a table, building a
    stream and running a Spark-shape trickle trigger leave it as set — a
    second thread polling it throughout only ever reads the deployment's
    value. The trigger's shape needs no conf either: AQE coalesces its
    shuffles and it coalesces the frames it caches, so no stage of it runs
    at the session's shuffle partition count."""
    import threading

    from aws_kinesis_spark import store
    from aws_kinesis_spark.streaming.pipeline import envelope_stream

    key, value = "spark.sql.shuffle.partitions", "7"
    d = load(spark, SF, "documents").cache()
    ids, cuts = _trickle_cuts(d)
    inp, idx, ckpt = (str(tmp_path / n) for n in ("input", "index", "ckpt"))
    tracker = spark.sparkContext.statusTracker()
    prev = spark.conf.get(key)
    spark.conf.set(key, value)
    seen: set[str] = set()
    stop = threading.Event()

    def poll() -> None:
        while not stop.is_set():
            seen.add(spark.conf.get(key))
            stop.wait(0.002)

    poller = threading.Thread(target=poll, daemon=True)
    poller.start()
    try:
        seed_jobs = _ingest_one_trigger(
            spark, d.filter(F.col("doc_id").isin(ids[: cuts[1]])), inp, idx, ckpt
        )
        load(spark, SF, "events")
        os.makedirs(tmp_path / "env")
        envelope_stream(spark, str(tmp_path / "env"))
        # every job of the trickle trigger: its query's job group, plus the
        # ungrouped jobs its pool threads launch
        since = max(seed_jobs + list(tracker.getJobIdsForGroup(None)))
        monkeypatch.setattr(store, "DRIVER_MAX_BYTES", 0)
        trickle = d.filter(F.col("doc_id").isin(ids[cuts[1] : cuts[2]]))
        jobs = _ingest_one_trigger(spark, trickle, inp, idx, ckpt)
        jobs += [j for j in tracker.getJobIdsForGroup(None) if j > since]
        after = spark.conf.get(key)
    finally:
        stop.set()
        poller.join()
        spark.conf.set(key, prev)
        d.unpersist()
    assert seen == {value} and after == value, (seen, after)
    tasks = [
        st.numTasks
        for j in jobs
        if (info := tracker.getJobInfo(j)) is not None
        for s in info.stageIds
        if (st := tracker.getStageInfo(s)) is not None
    ]
    assert len(jobs) > 3 and tasks, jobs  # the Spark shape ran
    assert int(value) not in tasks, tasks


def test_read_dedup_corpus_is_one_flat_scan(spark, tmp_path):
    """read_dedup_corpus reads the live dirs' files as ONE file scan, not a
    union of per-dir scans, with the same rows as the per-dir union read."""
    from aws_kinesis_spark.store import index_dirs, read_index_dirs, write_hive_arrow
    from aws_kinesis_spark.streaming.pipeline import read_dedup_corpus

    docs = spark.range(0, 300).select(
        F.col("id").alias("doc_id"),
        F.concat(F.lit("t"), F.col("id")).alias("text"),
        (F.col("id") % 3 > 0).alias("kept"),
        F.pmod("id", F.lit(8)).cast("int").alias("idb"),
    )
    index = str(tmp_path / "index")
    corpus = os.path.join(index, "corpus")
    for b in range(3):
        part = docs.filter(F.col("doc_id") % 3 == b)
        if b == 1:
            part.write.partitionBy("idb").parquet(os.path.join(corpus, "compact=1"))
        else:
            write_hive_arrow(
                part.toArrow(), os.path.join(corpus, f"batch={b + 2}"), "idb"
            )
    dirs = index_dirs(corpus)
    assert len(dirs) == 3
    df = read_dedup_corpus(spark, index)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("FileScan") == 1, plan
    union = read_index_dirs(spark, dirs, ["*"]).drop("idb")
    assert df.columns == union.columns == ["doc_id", "text", "kept"]
    assert sorted(df.collect()) == sorted(union.collect())
    assert df.count() == 300


def test_compact_spark_fold_uses_its_own_task_count(spark, tmp_path, monkeypatch):
    """store.compact_store's Spark fold clusters on the partition column
    with a task count derived from the fold's bytes (capped at the
    partition values on disk), so a narrowed session shuffle count cannot
    shrink a corpus-scale fold to one task."""
    from aws_kinesis_spark import store

    root = str(tmp_path / "bands")
    for b in range(3):
        spark.range(0, 4000).select(
            (F.col("id") + b * 4000).alias("doc_id"),
            F.sha2(F.concat(F.lit(str(b)), F.col("id").cast("string")), 512).alias(
                "pad"
            ),
            (F.col("id") % 4).cast("int").alias("bucket"),
        ).write.partitionBy("bucket").parquet(os.path.join(root, f"batch={b}"))
    total = sum(
        os.path.getsize(os.path.join(dp, f))
        for dp, _d, fs in os.walk(root)
        for f in fs
        if f.endswith(".parquet")
    )
    assert total >= 4 * (256 << 10), total
    monkeypatch.setattr(store, "DRIVER_MAX_BYTES", 0)
    sc = spark.sparkContext
    group = _uniq("fold")
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "1")
    sc.setJobGroup(group, "spark fold")
    try:
        assert store.compact_store(spark, root, "bucket", upto=2)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        spark.conf.set("spark.sql.shuffle.partitions", prev)
    tracker = sc.statusTracker()
    write_job = tracker.getJobInfo(max(tracker.getJobIdsForGroup(group)))
    write_stage = tracker.getStageInfo(max(write_job.stageIds))
    assert write_stage.numTasks == 4
    assert spark.read.parquet(os.path.join(root, "compact=2")).count() == 12000
