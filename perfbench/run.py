"""Streaming benchmark of the engine: open-loop freshness, reads beside
writes, backlog drain throughput and dedup at ingest.

    python3 perfbench/run.py --workload cdc_live --seed 1 --seconds 8 --trace 0

Run from the root of a source checkout. One run:
1. set-up: starts the Spark session the engine's ``session`` module
   configures while the generator process lands the seeded backlog, then
   starts the workload's consumers ``setup_reps`` times, first on a small
   warm-up input, then on an empty source; ``setup_s`` is the median of
   the set-ups after the first;
2. drain: the consumers start on the backlog; ``drain_rps`` is backlog
   records over the time until every consumer has committed the last one;
3. live: the generator process drops files on a fixed schedule for
   ``--seconds`` (open loop) while one closed-loop analyst client queries
   the stores (or, with ``reads_after``, queries once the live files are
   committed); freshness is measured per record from its due time;
4. check: every sink and every answer is checked against the generator's
   ledger, with two negative controls that must fail.

Durations are taken on the steal clock (attribution.StealClock), which
takes the hypervisor's CPU steal out of wall time. The last stdout line is
one JSON object: ``correct``, ``attempted``, ``failed`` and ``metrics``
(end-to-end metrics with ``--trace 0``, per-layer metrics with
``--trace 1``). Workload constants are in ``workloads.json``; metric
definitions in ``README.md``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import threading
import time
from collections import Counter

T_PROCESS = time.time()
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

E2E = [
    ("setup_s", "s"),
    ("drain_rps", "records/s"),
    ("fresh_p50_s", "s"),
    ("settle_p50_s", "s"),
    ("query_p50_s", "s"),
]
QUERY_KINDS = ["lake_point", "lake_delta", "lake_rollup", "wh_get", "corpus_get", "corpus_kept"]
PER_LAYER = (
    [
        ("trigger.n", "count"),
        ("trigger.wait_ms", "ms"),
        ("trigger.latest_offset_ms", "ms"),
        ("trigger.planning_ms", "ms"),
        ("trigger.add_batch_ms", "ms"),
        ("trigger.wal_ms", "ms"),
        ("trigger.total_ms", "ms"),
        ("restart.start_ms", "ms"),
        ("lake.add_batch_ms", "ms"),
        ("lake.purge_ms", "ms"),
        ("lake.manifest_ms", "ms"),
        ("lake.files_per_flush", "count"),
        ("lake.bytes_per_flush", "bytes"),
        ("lake.compression", "ratio"),
        ("lake.dlq_frac", "fraction"),
        ("lake.files_total", "count"),
    ]
    + [
        (f"query.{k}.{m}", u)
        for k in QUERY_KINDS
        for m, u in (("plan_ms", "ms"), ("exec_ms", "ms"), ("files_scanned", "count"))
    ]
    + [
        ("wh.add_batch_ms", "ms"),
        ("wh.table_rows", "count"),
        ("wh.version_bytes", "bytes"),
        ("wh.versions_on_disk", "count"),
        ("dedup.add_batch_ms", "ms"),
        ("dedup.compact_ms", "ms"),
        ("dedup.store_dirs", "count"),
        ("dedup.kept_frac", "fraction"),
        ("dedup.jobs_per_trigger", "count"),
        ("spark.jobs", "count"),
        ("spark.stages", "count"),
        ("spark.tasks", "count"),
        ("spark.tasks_per_trigger", "count"),
        ("spark.exec_run_ms", "ms"),
        ("spark.exec_cpu_ms", "ms"),
        ("spark.shuffle_write_bytes", "bytes"),
        ("spark.input_bytes", "bytes"),
        ("spark.output_bytes", "bytes"),
        ("spark.driver_only_ms", "ms"),
        ("spark.unattributed_jobs", "count"),
        ("gen.late_p95_ms", "ms"),
        ("gen.records", "count"),
        ("gen.files", "count"),
        ("client.queries", "count"),
        ("client.failed", "count"),
        ("client.p90_ms", "ms"),
        ("fresh.p90_s", "s"),
        ("settle.p90_s", "s"),
        ("setup.process_s", "s"),
        ("mem.peak_rss_mb", "MB"),
        ("host.steal_frac", "fraction"),
    ]
    + [(f"traced.{n}", u) for n, u in E2E]
)


def _die(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def _median(xs) -> float:
    xs = list(xs)
    return statistics.median(xs) if xs else 0.0


def _peak_rss_mb(pids) -> float:
    """Sum of VmHWM (peak resident set) over the given processes."""
    total = 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/status") as fh:
                for line in fh:
                    if line.startswith("VmHWM:"):
                        total += int(line.split()[1])
        except FileNotFoundError:
            continue
    return total / 1024.0


def _dir_bytes(d: str) -> int:
    return sum(os.path.getsize(os.path.join(p, f)) for p, _, fs in os.walk(d) for f in fs)


class Loop:
    """A consumer whose starter only supports availableNow, run as
    back-to-back restarts on one checkpoint until stopped."""

    def __init__(self, name: str, start_fn, tracer):
        self.name, self.start_fn, self.tracer = name, start_fn, tracer
        self.error: str | None = None
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, name=f"loop-{name}", daemon=True)

    def start(self) -> None:
        self._thread.start()

    def _run(self) -> None:
        import traceback

        try:
            while not self._stop.is_set():
                t = time.time()
                q = self.start_fn()
                if self.tracer:
                    self.tracer.started(self.name, q, t)
                    with self.tracer.span("await", trace=self.name):
                        q.awaitTermination()
                else:
                    q.awaitTermination()
        except Exception:  # the run reports it as a failed consumer
            self.error = traceback.format_exc(limit=5)

    def stop(self) -> None:
        self._stop.set()
        self._thread.join(timeout=300)


class Bench:
    def __init__(self, args, cfg: dict):
        self.args, self.cfg = args, cfg
        self.wl = cfg["workloads"][args.workload]
        self.consumers = self.wl["consumers"]
        self.work = os.path.join(
            ROOT, ".perfbench", f"{args.workload}-{args.seed}-{os.getpid()}"
        )
        self.out_dir = os.path.join(ROOT, ".perfbench", "out")
        self.src = os.path.join(self.work, "src")
        self.gen_procs: list[subprocess.Popen] = []
        self.failures: list[str] = []  # messages, shown before the result
        self.failed = 0
        self.attempted = 0
        self.failed_consumers: set[str] = set()
        self.loops: list[Loop] = []
        self.stream_q = None

    def fail(self, msg: str) -> None:
        self.failures.append(msg)
        self.failed += 1

    # ------------------------------------------------------------ set-up

    def environ(self) -> None:
        shutil.rmtree(self.work, ignore_errors=True)
        for d in ("tmp", "spark-local", "gen-tmp"):
            os.makedirs(os.path.join(self.work, d))
        os.makedirs(self.out_dir, exist_ok=True)
        tmp = os.path.join(self.work, "tmp")
        os.environ.update(
            SPARK_GRAFT_CPUS=str(len(os.sched_getaffinity(0))),
            SPARK_LOCAL_DIRS=os.path.join(self.work, "spark-local"),
            TMPDIR=tmp,
            PYTHONPATH=os.pathsep.join([ROOT, HERE, os.environ.get("PYTHONPATH", "")]),
            PYSPARK_SUBMIT_ARGS=(
                "--conf spark.ui.showConsoleProgress=false "
                f"--driver-java-options -Djava.io.tmpdir={tmp} pyspark-shell"
            ),
        )

    def generator(self, phase: str, t0: float = 0.0) -> subprocess.Popen:
        spec = {
            "phase": phase,
            "kind": self.wl["kind"],
            "seed": self.args.seed,
            "consts": self.wl["consts"],
            "live_seconds": self.args.seconds,
            "src_dir": self.src,
            "tmp_dir": os.path.join(self.work, "gen-tmp"),
            "out_dir": self.work,
            "t0": t0,
        }
        path = os.path.join(self.work, f"gen-{phase}.json")
        with open(path, "w") as fh:
            json.dump(spec, fh)
        p = subprocess.Popen([sys.executable, os.path.join(HERE, "gen.py"), path])
        self.gen_procs.append(p)
        return p

    def session(self):
        from aws_kinesis_spark.session import get_spark

        self.spark = get_spark("perfbench")
        self.spark.sparkContext.setLogLevel("ERROR")
        # spark-submit execs the JVM in place, so the gateway's child is it
        self.jvm = self.spark.sparkContext._gateway.proc
        return self.spark

    # --------------------------------------------------------- consumers

    def _env_stream(self, src: str):
        from aws_kinesis_spark.sources.kinesis import stream_source

        return stream_source(
            self.spark, kind="file", path=src,
            max_bytes_per_trigger=self.wl["max_bytes_per_trigger"],
        )

    def _doc_stream(self, src: str):
        return self.spark.readStream.schema("doc_id LONG, text STRING").parquet(src)

    def dirs(self, tag: str) -> dict:
        base = os.path.join(self.work, tag)
        return {
            "lake": os.path.join(base, "lake"),
            "wh": os.path.join(base, "wh"),
            "index": os.path.join(base, "index"),
            "ckpt": {c: os.path.join(base, f"ckpt-{c}") for c in self.consumers},
        }

    def starters(self, d: dict, src: str, available_now: bool) -> dict:
        """consumer -> zero-argument function starting one run of it."""
        from aws_kinesis_spark.streaming.pipeline import (
            start_dedup_ingest,
            start_lake_path,
            start_warehouse_upsert,
        )

        return {
            "lake": lambda: start_lake_path(
                self._env_stream(src), d["lake"], d["ckpt"]["lake"],
                available_now=available_now, trigger_seconds=0,
            ),
            "wh": lambda: start_warehouse_upsert(
                self._env_stream(src), d["wh"], d["ckpt"]["wh"]
            ),
            "dedup": lambda: start_dedup_ingest(
                self._doc_stream(src), d["index"], d["ckpt"]["dedup"],
                compact_every=self.wl["compact_every"],
            ),
        }

    def setup_reps(self) -> list[tuple[float, float]]:
        """Start the workload's consumers ``setup_reps`` times on fresh
        stores and wait for them to finish; (start, end) of each. The first
        rep drains a small warm-up input, so it also pays the JVM's warm-up
        of the whole trigger path; the others start on an empty source, so
        their median is the consumers' own set-up cost."""
        warm, empty = os.path.join(self.work, "warm-src"), os.path.join(self.work, "empty-src")
        os.makedirs(warm)
        os.makedirs(empty)
        for name in sorted(os.listdir(self.src))[: self.cfg["warmup_files"]]:
            shutil.copy2(os.path.join(self.src, name), warm)
        out = []
        for rep in range(self.cfg["setup_reps"]):
            d = self.dirs(f"warm{rep}")
            t = time.time()
            st = self.starters(d, empty if rep else warm, available_now=True)
            queries = [st[c]() for c in self.consumers]
            for q in queries:
                q.awaitTermination()
            out.append((t, time.time()))
        return out

    # ------------------------------------------------------------ phases

    def run(self) -> dict:
        from attribution import Harvester, StealClock

        self.environ()
        self.clock = StealClock()
        self.clock.start()
        backlog_gen = self.generator("backlog")  # lands while the JVM starts
        self.session()
        self.t_session = time.time()
        if backlog_gen.wait() != 0:
            _die("generator failed to land the backlog")
        with open(os.path.join(self.work, "ledger.jsonl")) as fh:
            self.ledger = [json.loads(line) for line in fh]
        self.tracer = None
        if self.args.trace:
            from tracing import Tracer

            self.tracer = Tracer(self.spark)
        self.setup_spans = self.setup_reps()
        self.t_setup_done = time.time()
        if self.tracer:
            self.tracer.install()

        d = self.d = self.dirs("run")
        self.harvest = Harvester(d["ckpt"])
        st = self.starters(d, self.src, available_now=False)
        backlog = [e["file"] for e in self.ledger if e["due"] <= 0]
        live = [e["file"] for e in self.ledger if e["due"] > 0]

        # drain: every consumer starts on the landed backlog
        self.t_drain = time.time()
        for c in self.consumers:
            if c == "lake":  # the one starter with a continuous trigger
                t = time.time()
                self.stream_q = st["lake"]()
                if self.tracer:
                    self.tracer.started("lake", self.stream_q, t)
            else:
                self.loops.append(Loop(c, st[c], self.tracer))
                self.loops[-1].start()
        ok = self._wait_committed(backlog, self.cfg["drain_timeout_s"])
        self.t_drained = max(
            (self.harvest.file_commit(c, f) or time.time()) for c in self.consumers for f in backlog
        )
        if not ok:
            self.fail("drain: backlog not committed within timeout")

        # live: open-loop generator plus the closed-loop client, whose
        # query paths are warmed once per kind first (checked, not timed);
        # a workload with ``reads_after`` queries only once the live phase
        # has committed and its consumers have stopped
        from client import Client

        keys = sorted({r[0] if self.wl["kind"] == "docs" else r[1]
                       for e in self.ledger if e["due"] <= 0 for r in e["recs"]})
        self.client = Client(
            self.spark, self.wl["client_kinds"],
            {"lake": d["lake"], "wh": d["wh"], "index": d["index"]},
            keys, self.args.seed, self.cfg["think_s"], files_scanned=bool(self.tracer),
        )
        reads_after = self.wl.get("reads_after", 0)
        one_round = lambda: [self.client.run_one(k) for k in self.wl["client_kinds"]]  # noqa: E731
        if not reads_after:
            self.warmup_answers = one_round()
        self.t_live = time.time() + 1.0
        gen = self.generator("live", self.t_live)
        time.sleep(max(0.0, self.t_live - time.time()))
        if not reads_after:
            self.client.start()
        while gen.poll() is None:
            self.harvest.poll()
            self._consumer_errors()
            time.sleep(0.5)
        if gen.returncode != 0:
            self.fail("generator exited with an error")
        ok = self._wait_committed(live, self.cfg["tail_timeout_s"])
        if not ok:
            self.fail("live: files not committed within the tail timeout")
        self.t_end = time.time()
        self.client.stop()
        for lp in self.loops:
            lp.stop()
        if self.stream_q is not None:
            self._consumer_errors()
            self.stream_q.stop()
        self.harvest.poll()
        self._consumer_errors()
        if reads_after:
            self.client.tag_jobs()
            self.warmup_answers = one_round()
            for _ in range(reads_after):
                self.client.results += one_round()
        self.rss_mb = _peak_rss_mb([os.getpid(), self.jvm.pid])
        self.clock.stop()
        self.steal = 1.0 - self.clock.share(self.t_drain, self.t_end)
        if self.tracer:
            self.tracer.close()
        return self.report()

    def _consumer_errors(self) -> None:
        """Record each consumer's first failure once."""
        errors = {lp.name: lp.error for lp in self.loops if lp.error}
        q = self.stream_q
        if q is not None and q.exception() is not None:
            errors["lake"] = str(q.exception())
        for name, err in errors.items():
            if name not in self.failed_consumers:
                self.failed_consumers.add(name)
                self.fail(f"consumer {name} failed: {err.strip().splitlines()[-1]}")

    def _wait_committed(self, files, timeout: float) -> bool:
        deadline = time.time() + timeout
        while time.time() < deadline:
            self.harvest.poll()
            if all(self.harvest.all_committed(c, files) for c in self.consumers):
                return True
            self._consumer_errors()
            if self.failed_consumers:
                return False
            time.sleep(0.2)
        return False

    # ------------------------------------------------------------- check

    def check(self) -> None:
        import check as ck
        from client import Truth, check_answer

        def add(attempted_failures):
            a, f = attempted_failures
            self.attempted += a
            self.failed += len(f)
            self.failures.extend(f[:20] + ([f"... {len(f) - 20} more"] if len(f) > 20 else []))

        # the run's own steps: drain, live phase, tail, each consumer
        self.attempted += 3 + len(self.consumers)
        controls = []
        if "lake" in self.consumers:
            data, dlq, mfails = ck.read_lake_rows(self.d["lake"])
            add(ck.check_lake(data, dlq, mfails, self.ledger))
            self.lake_rows = (data, dlq)
            # negative controls: a copy of the sink missing one record and
            # one holding a record twice must both fail the same check
            k = next(iter(data))
            controls += [
                ck.check_lake(data - Counter([k]), dlq, [], self.ledger)[1],
                ck.check_lake(data + Counter([k]), dlq, [], self.ledger)[1],
            ]
        if "wh" in self.consumers:
            from aws_kinesis_spark.streaming.pipeline import read_warehouse_table

            self.wh_rows = ck.warehouse_rows(read_warehouse_table(self.spark, self.d["wh"]))
            add(ck.check_warehouse(self.wh_rows, self.ledger))
        if "dedup" in self.consumers:
            from aws_kinesis_spark.streaming.pipeline import read_dedup_corpus

            rows = read_dedup_corpus(self.spark, self.d["index"]).select("doc_id", "kept")
            got = Counter((r[0], r[1]) for r in rows.collect())
            self.corpus = got
            add(ck.check_dedup(got, self.ledger))
            k = next(iter(got))
            controls += [
                ck.check_dedup(got - Counter([k]), self.ledger)[1],
                ck.check_dedup(got + Counter([k]), self.ledger)[1],
            ]
        truth = Truth(self.ledger, self.harvest)
        answers = [check_answer(q, truth) for q in self.warmup_answers + self.client.results]
        self.query_failed = [a for a in answers if a]
        add((len(answers), self.query_failed))
        self.attempted += len(controls)
        if not all(controls):
            self.fail("a negative control passed the checker")

    # ------------------------------------------------------------ report

    def _files(self, names, due_of) -> list[tuple[str, float, int]]:
        n = {e["file"]: len(e["recs"]) for e in self.ledger}
        return [(f, due_of(f), n[f]) for f in names]

    def e2e(self, span) -> dict:
        """The end-to-end metrics, every duration measured by
        ``span(start, end)``: the steal clock's for the reported values,
        plain wall time for the raw ones printed beside them."""
        from attribution import pct, record_freshness

        live = self._files([e["file"] for e in self.ledger if e["due"] > 0],
                           lambda f: self.landed[f]["due"] if f in self.landed else self.t_live)
        fresh = record_freshness(live, self.harvest, self.consumers[:1], span)
        settle = record_freshness(live, self.harvest, self.consumers, span)
        # records share their trigger's commit, so a run's independent
        # samples are its 3-8 triggers: too few for a tail among the
        # end-to-end metrics; the traced run reports p90 per layer
        self.tails = {"fresh.p90_s": pct(fresh, 90), "settle.p90_s": pct(settle, 90)}
        n_backlog = sum(len(e["recs"]) for e in self.ledger if e["due"] <= 0)
        ok = [q for q in self.client.results if "error" not in q]
        self.n_fresh, self.n_lat = len(fresh), len(ok)
        return {
            # the first rep also pays the JVM's warm-up (in setup.process_s)
            "setup_s": _median(span(a, b) for a, b in self.setup_spans[1:]),
            "drain_rps": n_backlog / max(span(self.t_drain, self.t_drained), 1e-9),
            "fresh_p50_s": pct(fresh, 50),
            "settle_p50_s": pct(settle, 50),
            # each kind's median, averaged over kinds: the kinds' latencies
            # form separate clusters, and a pooled median would jump
            # between them as the mix shifts by one query
            "query_p50_s": statistics.fmean(
                _median(span(q["t0"], q["t_end"]) for q in ok if q["kind"] == k)
                for k in self.wl["client_kinds"]
            ),
        }

    def per_layer(self, e2e: dict) -> dict:
        from attribution import pct

        tr = self.tracer
        tr.trigger_spans()
        tr.job_spans()
        tr.client_spans(self.client.results)
        m = {name: 0.0 for name, _ in PER_LAYER}
        t0 = self.t_drain
        prog = [p for p in tr.progress if p["start"] >= t0 and p["run"] in tr.run_consumer]
        dur = lambda p, k: p["dur"].get(k, 0)  # noqa: E731
        of = lambda c: [p for p in prog if tr.run_consumer[p["run"]] == c]  # noqa: E731
        m["trigger.n"] = len(prog)
        m["trigger.latest_offset_ms"] = _median(dur(p, "latestOffset") for p in prog)
        m["trigger.planning_ms"] = _median(dur(p, "queryPlanning") for p in prog)
        m["trigger.add_batch_ms"] = _median(dur(p, "addBatch") for p in prog)
        m["trigger.wal_ms"] = _median(dur(p, "walCommit") + dur(p, "commitOffsets") for p in prog)
        m["trigger.total_ms"] = _median(dur(p, "triggerExecution") for p in prog)
        # file due -> start of the trigger that took it
        start_of = {(tr.run_consumer[p["run"]], p["batch"]): p["start"] for p in prog}
        waits = []
        for e in self.ledger:
            due = self.landed[e["file"]]["due"] if e["file"] in self.landed else self.t_drain
            for c in self.consumers:
                b = self.harvest.file_batch[c].get(e["file"])
                if (c, b) in start_of:
                    waits.append((start_of[(c, b)] - due) * 1e3)
        m["trigger.wait_ms"] = _median(waits)
        firsts = {}
        for p in prog:
            firsts.setdefault(p["run"], p["start"])
        m["restart.start_ms"] = _median(
            (firsts[r] - t) * 1e3 for r, t in tr.run_started.items() if r in firsts
        )
        span_ms = lambda n: _median(  # noqa: E731
            (s["end"] - s["start"]) * 1e3 for s in tr.spans_named(n) if s["start"] >= t0
        )
        if "lake" in self.consumers:
            import check as ck

            m["lake.add_batch_ms"] = _median(dur(p, "addBatch") for p in of("lake"))
            m["lake.purge_ms"] = span_ms("purge_batch")
            m["lake.manifest_ms"] = span_ms("write_manifest")
            mans = []
            for b in ck.manifest_ids(self.d["lake"]):
                with open(os.path.join(self.d["lake"], "_manifests", f"manifest-{b:010d}.json")) as fh:
                    mans.append(json.load(fh))
            m["lake.files_per_flush"] = _median(len(x["entries"]) for x in mans)
            m["lake.bytes_per_flush"] = _median(x["totalBytes"] for x in mans)
            m["lake.files_total"] = sum(len(x["entries"]) for x in mans)
            m["lake.compression"] = sum(x["totalBytes"] for x in mans) / _dir_bytes(self.src)
            data, dlq = self.lake_rows
            m["lake.dlq_frac"] = sum(dlq.values()) / max(1, sum(data.values()) + sum(dlq.values()))
        if "wh" in self.consumers:
            m["wh.add_batch_ms"] = _median(dur(p, "addBatch") for p in of("wh"))
            m["wh.table_rows"] = len(self.wh_rows)
            with open(os.path.join(self.d["wh"], "_CURRENT")) as fh:
                cur = json.load(fh)["dir"]
            m["wh.version_bytes"] = _dir_bytes(os.path.join(self.d["wh"], cur))
            m["wh.versions_on_disk"] = sum(
                1 for n in os.listdir(self.d["wh"]) if n.startswith("v") and not n.endswith(".tmp")
            )
        if "dedup" in self.consumers:
            m["dedup.add_batch_ms"] = _median(dur(p, "addBatch") for p in of("dedup"))
            m["dedup.compact_ms"] = span_ms("compact_dedup_index")
            m["dedup.store_dirs"] = sum(
                1 for sub in ("bands", "corpus")
                for n in os.listdir(os.path.join(self.d["index"], sub))
                if n.startswith(("batch=", "compact=")) and not n.endswith(".tmp")
            )
            m["dedup.kept_frac"] = sum(n for (_, k), n in self.corpus.items() if k) / max(
                1, sum(self.corpus.values())
            )
            runs = {r for r, c in tr.run_consumer.items() if c == "dedup"}
            n_jobs = sum(1 for j in tr.jobs.values() if j["group"] in runs and j["start"] >= t0)
            m["dedup.jobs_per_trigger"] = n_jobs / max(1, len(of("dedup")))
        for kind in self.wl["client_kinds"]:
            qs = [q for q in self.client.results if q["kind"] == kind and "error" not in q]
            m[f"query.{kind}.plan_ms"] = _median((q["t_built"] - q["t0"]) * 1e3 for q in qs)
            m[f"query.{kind}.exec_ms"] = _median((q["t_end"] - q["t_built"]) * 1e3 for q in qs)
            m[f"query.{kind}.files_scanned"] = _median(q.get("files", 0) for q in qs)
        jobs = [j for j in tr.jobs.values() if j["start"] >= t0]
        for key, name in (("stages", "stages"), ("tasks", "tasks"), ("run_ms", "exec_run_ms"),
                          ("cpu_ms", "exec_cpu_ms"), ("shuffle_write", "shuffle_write_bytes"),
                          ("input", "input_bytes"), ("output", "output_bytes")):
            m[f"spark.{name}"] = sum(j[key] for j in jobs)
        m["spark.jobs"] = len(jobs)
        m["spark.tasks_per_trigger"] = m["spark.tasks"] / max(1, len(prog))
        m["spark.unattributed_jobs"] = sum(1 for j in jobs if j["group"] is None)
        busy, cur_s, cur_e = 0.0, None, None
        for j in sorted(jobs, key=lambda j: j["start"]):
            if cur_e is None or j["start"] > cur_e:
                busy += (cur_e - cur_s) if cur_e is not None else 0.0
                cur_s, cur_e = j["start"], j["end"]
            else:
                cur_e = max(cur_e, j["end"])
        busy += (cur_e - cur_s) if cur_e is not None else 0.0
        m["spark.driver_only_ms"] = ((self.t_end - t0) - busy) * 1e3
        late = [(e["at"] - e["due"]) * 1e3 for e in self.landed.values()]
        m["gen.late_p95_ms"] = pct(late, 95) if late else 0.0
        m["gen.records"] = sum(len(e["recs"]) for e in self.ledger)
        m["gen.files"] = len(self.ledger)
        m["client.queries"] = len(self.client.results)
        m["client.failed"] = len(self.query_failed)
        m.update(self.tails)
        m["client.p90_ms"] = pct([(q["t_end"] - q["t0"]) * 1e3 for q in self.client.results
                                  if "error" not in q], 90)
        m["setup.process_s"] = self.t_setup_done - T_PROCESS
        m["mem.peak_rss_mb"] = self.rss_mb
        m["host.steal_frac"] = self.steal
        for name, _ in E2E:
            m[f"traced.{name}"] = e2e[name]
        return m

    def report(self) -> dict:
        t = time.time()
        self.check()
        with open(os.path.join(self.work, "landed.jsonl")) as fh:
            self.landed = {e["file"]: e for e in map(json.loads, fh)}
        raw = self.e2e(lambda a, b: b - a)
        e2e = self.e2e(self.clock.span)  # last, so self.tails are on this clock
        self.t_check = time.time() - t
        if self.tracer:
            metrics, units = self.per_layer(e2e), dict(PER_LAYER)
            self.tracer.write(
                os.path.join(self.out_dir, f"spans-{self.args.workload}-{self.args.seed}.jsonl")
            )
        else:
            metrics, units = e2e, dict(E2E)
        for k, v in metrics.items():
            if v != v:  # NaN: the metric had no samples
                self.fail(f"metric {k} had no samples")
        for f in self.failures[:50]:
            print(f"FAIL {f}")
        print(f"phases: set-up reps {[round(b - a, 2) for a, b in self.setup_spans]} s; "
              f"process start -> session {self.t_session - T_PROCESS:.1f} s "
              f"-> measured {self.t_setup_done - T_PROCESS:.1f} s, "
              f"drain {self.t_drained - self.t_drain:.1f} s, "
              f"live + tail {self.t_end - self.t_live:.1f} s, check {self.t_check:.1f} s, "
              f"cpu steal {self.steal:.1%}, "
              f"total so far {time.time() - T_PROCESS:.1f} s")
        for name, unit in E2E:
            print(f"{name:>14} = {e2e[name]:.6g} {unit} (wall time with steal: {raw[name]:.6g})")
        print(f"{'error_rate':>14} = {self.failed / max(1, self.attempted):.6g} fraction "
              f"({self.failed} failed / {self.attempted} attempted; "
              f"{self.n_fresh} fresh samples, {self.n_lat} queries)")
        return {
            "correct": self.failed == 0,
            "attempted": max(1, self.attempted),
            "failed": self.failed,
            "metrics": {
                k: {"value": (0.0 if v != v else v), "unit": units[k]} for k, v in metrics.items()
            },
        }

    def cleanup(self) -> None:
        for p in self.gen_procs:
            if p.poll() is None:
                p.kill()
            p.wait()
        for lp in self.loops:
            lp._stop.set()
        spark = getattr(self, "spark", None)
        if spark is not None:
            for q in spark.streams.active:
                q.stop()
            for lp in self.loops:
                lp.stop()
            spark.stop()
            # the JVM exits when its stdin closes; wait for it (and with it
            # the Python worker daemons it started) before removing files
            self.jvm.stdin.close()
            self.jvm.wait(timeout=120)
        shutil.rmtree(self.work, ignore_errors=True)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "aws_kinesis_spark")):
        _die(f"no engine sources under {ROOT}: run from the root of a source checkout")
    with open(os.path.join(HERE, "workloads.json")) as fh:
        cfg = json.load(fh)
    if args.workload not in cfg["workloads"]:
        _die(f"unknown workload {args.workload!r}; one of {sorted(cfg['workloads'])}")
    sys.path.insert(0, ROOT)
    bench = Bench(args, cfg)
    try:
        result = bench.run()
    finally:
        t = time.time()
        bench.cleanup()
        print(f"perfbench: clean-up {time.time() - t:.1f} s", file=sys.stderr)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
