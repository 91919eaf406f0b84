"""In-memory spans for the traced run, recorded from the benchmark's side.

Three sources feed one span list:
1. wrappers in this file around the calls the benchmark makes (starters,
   ``awaitTermination``, the client's build and execute) and around the
   public lake/store functions ``streaming.pipeline`` calls by module name
   (``purge_batch``, ``write_manifest``, ``compact_dedup_index``), swapped
   in on that module's namespace for the run and restored afterwards;
2. trigger phases from ``StreamingQueryProgress.durationMs``;
3. Spark jobs and their stages from the status store, attributed to a
   consumer by the job group Structured Streaming sets (the query's runId).
   Jobs submitted from a flush's own pool threads carry no group and land
   in the ``unattributed`` bucket.

Nothing here is installed unless the benchmark runs with ``--trace 1``.
"""

from __future__ import annotations

import datetime as dt
import functools
import json
import threading
import time
from contextlib import contextmanager

from pyspark.sql.streaming import StreamingQueryListener

from aws_kinesis_spark.streaming import pipeline

# pipeline function -> the consumer whose flush calls it
WRAPPED = {"purge_batch": "lake", "write_manifest": "lake", "compact_dedup_index": "dedup"}
# micro-batch phases in the order MicroBatchExecution runs them
PHASES = ("latestOffset", "walCommit", "getBatch", "queryPlanning", "addBatch", "commitOffsets")


class Tracer:
    def __init__(self, spark):
        self.spark = spark
        self.spans: list[dict] = []
        self.run_consumer: dict[str, str] = {}  # runId -> consumer
        self.run_started: dict[str, float] = {}  # runId -> start() call time
        self.progress: list[dict] = []
        self.jobs: dict[int, dict] = {}
        self._lock = threading.Lock()
        self._saved: dict[str, object] = {}
        self._stop = threading.Event()
        self._poller = threading.Thread(target=self._poll_loop, name="job-poller", daemon=True)
        self._listener = self._make_listener()

    # ------------------------------------------------------------ spans

    def add(self, name, start, end, trace=None, parent=None, **attrs) -> dict:
        s = {"name": name, "start": start, "end": end, "trace": trace, "parent": parent, **attrs}
        with self._lock:
            self.spans.append(s)
        return s

    @contextmanager
    def span(self, name, trace=None, parent=None, **attrs):
        t0 = time.time()
        try:
            yield
        finally:
            self.add(name, t0, time.time(), trace, parent, **attrs)

    def spans_named(self, name: str) -> list[dict]:
        return [s for s in self.spans if s["name"] == name]

    # --------------------------------------------------------- lifecycle

    def install(self) -> None:
        for name in WRAPPED:  # restored by close()
            fn = self._saved[name] = getattr(pipeline, name)
            setattr(pipeline, name, self._wrap(name, fn))
        self.spark.streams.addListener(self._listener)
        self._poller.start()

    def close(self) -> None:
        for name, fn in self._saved.items():
            setattr(pipeline, name, fn)
        self.spark.streams.removeListener(self._listener)
        self._stop.set()
        self._poller.join(timeout=30)
        self._poll_jobs()

    def _wrap(self, name, fn):
        @functools.wraps(fn)
        def wrapped(*args, **kwargs):
            # every wrapped call names its batch: (dir, batch_id, ...) or
            # compact_dedup_index(spark, index_dir, upto=...) for batch upto+1
            batch = kwargs["upto"] + 1 if "upto" in kwargs else args[1]
            with self.span(name, trace=f"{WRAPPED[name]}:{batch}", parent="trigger.addBatch"):
                return fn(*args, **kwargs)

        return wrapped

    # --------------------------------------------------------- consumers

    def started(self, consumer: str, query, t_call: float) -> None:
        """Record one starter call (``t_call`` -> now) and map the query's
        runId, which is also its Spark job group, to the consumer."""
        run = str(query.runId)
        self.add("start", t_call, time.time(), consumer, run=run)
        with self._lock:
            self.run_consumer[run] = consumer
            self.run_started[run] = t_call

    def client_spans(self, results: list[dict]) -> None:
        for i, q in enumerate(results):
            trace = f"analyst:{i}"
            self.add(f"query.{q['kind']}", q["t0"], q["t_end"], trace, error="error" in q)
            if "t_built" in q:
                self.add("build", q["t0"], q["t_built"], trace, parent=f"query.{q['kind']}")
                self.add("execute", q["t_built"], q["t_end"], trace, parent=f"query.{q['kind']}")

    def _make_listener(self):
        tracer = self

        class _Listener(StreamingQueryListener):
            def onQueryStarted(self, event):
                pass

            def onQueryProgress(self, event):
                p = event.progress
                ts = dt.datetime.fromisoformat(p.timestamp.replace("Z", "+00:00")).timestamp()
                with tracer._lock:
                    tracer.progress.append(
                        {"run": str(p.runId), "batch": p.batchId, "start": ts,
                         "dur": dict(p.durationMs)}
                    )

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                pass

        return _Listener()

    def trigger_spans(self) -> None:
        """Turn progress events into a trigger span per micro-batch with
        one child per phase, laid end to end in execution order."""
        for p in self.progress:
            consumer = self.run_consumer.get(p["run"], "unknown")
            trace = f"{consumer}:{p['batch']}"
            total = p["dur"].get("triggerExecution", 0) / 1e3
            parent = self.add("trigger", p["start"], p["start"] + total, trace, consumer=consumer)
            t = p["start"]
            for ph in PHASES:
                d = p["dur"].get(ph, 0) / 1e3
                self.add(f"trigger.{ph}", t, t + d, trace, parent="trigger", consumer=consumer)
                t += d
            parent["batch"] = p["batch"]

    # -------------------------------------------------------------- jobs

    def _poll_loop(self) -> None:
        while not self._stop.wait(0.5):
            self._poll_jobs()

    def _poll_jobs(self) -> None:
        store = self.spark.sparkContext._jsc.sc().statusStore()
        jobs = store.jobsList(None)
        for i in range(jobs.size()):
            j = jobs.apply(i)
            jid = j.jobId()
            if jid in self.jobs or j.completionTime().isEmpty():
                continue
            rec = {
                "job": jid,
                "group": j.jobGroup().get() if j.jobGroup().isDefined() else None,
                "start": j.submissionTime().get().getTime() / 1e3,
                "end": j.completionTime().get().getTime() / 1e3,
                "stages": 0, "tasks": 0, "run_ms": 0, "cpu_ms": 0.0,
                "shuffle_write": 0, "input": 0, "output": 0,
            }
            stage_ids = j.stageIds()
            for k in range(stage_ids.size()):
                try:
                    s = store.lastStageAttempt(stage_ids.apply(k))
                except Exception:  # skipped stages have no attempt
                    continue
                rec["stages"] += 1
                rec["tasks"] += s.numTasks()
                rec["run_ms"] += s.executorRunTime()
                rec["cpu_ms"] += s.executorCpuTime() / 1e6
                rec["shuffle_write"] += s.shuffleWriteBytes()
                rec["input"] += s.inputBytes()
                rec["output"] += s.outputBytes()
            self.jobs[jid] = rec

    def job_consumer(self, job: dict) -> str:
        g = job["group"]
        if g is None:
            return "unattributed"
        return self.run_consumer.get(g, g)

    def job_spans(self) -> None:
        for j in self.jobs.values():
            self.add(f"job.{j['job']}", j["start"], j["end"], self.job_consumer(j),
                     **{k: v for k, v in j.items() if k not in ("start", "end")})

    def write(self, path: str) -> None:
        with open(path, "w") as fh:
            for s in sorted(self.spans, key=lambda s: s["start"]):
                fh.write(json.dumps(s) + "\n")
