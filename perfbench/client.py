"""The closed-loop analyst client and the check of every answer it got.

One client thread issues a seeded mix of queries through the engine's
public readers, one at a time, with a fixed think time between them. Each
query is split into build (constructing the DataFrame, which includes any
listing or pointer resolution) and execute (the action). Answers are
checked after the run, once the checkpoints have been harvested: a query
racing the writers may see any state between what was committed when it
started and what the ledger holds in total, and nothing outside that.
"""

from __future__ import annotations

import json
import os
import random
import threading
import time
import traceback
from collections import Counter

from pyspark.sql import functions as F

from aws_kinesis_spark.sources.lake import read_incremental, register_lake_table
from aws_kinesis_spark.streaming.pipeline import read_dedup_corpus, read_warehouse_table

from check import SEQ_BASE, manifest_ids



def scan_files(df) -> int:
    """Files read by the file-scan nodes of ``df``'s executed plan (their
    ``numFiles`` metric), looking through adaptive plans and query stages."""
    total, stack = 0, [df._jdf.queryExecution().executedPlan()]
    while stack:
        node = stack.pop()
        name = node.getClass().getSimpleName()
        if name == "AdaptiveSparkPlanExec":
            stack.append(node.executedPlan())
            continue
        if name.endswith("QueryStageExec"):
            stack.append(node.plan())
            continue
        if name == "FileSourceScanExec":
            m = node.metrics().get("numFiles")
            if m.isDefined():
                total += m.get().value()
        kids = node.children()
        stack.extend(kids.apply(i) for i in range(kids.size()))
    return total


def _pointer_version(table_dir: str) -> int:
    try:
        with open(os.path.join(table_dir, "_CURRENT")) as fh:
            return json.load(fh)["version"]
    except FileNotFoundError:
        return -1


class Client:
    """Closed loop: the next query is sent only after the previous one
    returned. ``keys`` are the ids the point queries draw from (all landed
    before the client starts)."""

    def __init__(self, spark, kinds, dirs: dict, keys: list[int], seed: int,
                 think_s: float, files_scanned: bool):
        self.spark, self.kinds, self.dirs = spark, kinds, dirs
        self.keys, self.think_s = keys, think_s
        self.files_scanned = files_scanned
        self.rng = random.Random(seed)
        self.results: list[dict] = []
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, name="analyst", daemon=True)

    def start(self) -> None:
        self._thread.start()

    def stop(self) -> None:
        self._stop.set()
        if self._thread.is_alive():
            self._thread.join(timeout=120)

    def tag_jobs(self) -> None:
        """Put the Spark jobs the calling thread submits in the client's
        job group, so the traced run attributes them to it."""
        self.spark.sparkContext.setJobGroup("analyst", "benchmark analyst client")

    def _loop(self) -> None:
        self.tag_jobs()
        i = 0
        while not self._stop.is_set():
            kind = self.kinds[i % len(self.kinds)]
            i += 1
            self.results.append(self.run_one(kind))
            self._stop.wait(self.think_s)

    def run_one(self, kind: str) -> dict:
        q = {"kind": kind, "t0": time.time()}
        try:
            df, finish = getattr(self, "_" + kind)(q)
            q["t_built"] = time.time()
            rows = df.collect()
            q["t_end"] = time.time()
            finish(q, rows)
            if self.files_scanned:
                q["files"] = scan_files(df)
        except Exception:  # a failed query is a counted failure, not a crash
            q["t_end"] = time.time()
            q["error"] = traceback.format_exc(limit=3)
        return q

    # ------------------------------------------------------------- kinds
    # each returns (DataFrame, finish(q, rows)) and records its arguments

    def _lake_point(self, q):
        k = q["key"] = self.rng.choice(self.keys)
        register_lake_table(self.spark, "bench_lake", self.dirs["lake"])
        df = self.spark.sql(
            f"SELECT sequence_number, id, op, status FROM bench_lake WHERE id = {k}"
        )

        def finish(q, rows):
            q["rows"] = [[int(r[0]) - SEQ_BASE, r[1], r[2], r[3]] for r in rows]

        return df, finish

    def _lake_delta(self, q):
        upto = q["upto"] = max(manifest_ids(self.dirs["lake"]))
        after = q["after"] = max(-1, upto - 4)
        df = read_incremental(self.spark, self.dirs["lake"], after, upto).agg(
            F.count("*")
        )
        return df, lambda q, rows: q.__setitem__("n", rows[0][0])

    def _lake_rollup(self, q):
        register_lake_table(self.spark, "bench_lake", self.dirs["lake"])
        df = self.spark.sql(
            "SELECT year, month, day, hour, op, count(*) AS n FROM bench_lake "
            "GROUP BY year, month, day, hour, op"
        )

        def finish(q, rows):
            by_op: Counter = Counter()
            for r in rows:
                by_op[r["op"]] += r["n"]
            q["by_op"] = dict(by_op)

        return df, finish

    def _wh_get(self, q):
        k = q["key"] = self.rng.choice(self.keys)
        q["v_lo"] = _pointer_version(self.dirs["wh"])
        df = (
            read_warehouse_table(self.spark, self.dirs["wh"])
            .filter(F.col("id") == k)
            .select("status", "sequence_number")
        )
        q["v_hi"] = _pointer_version(self.dirs["wh"])

        def finish(q, rows):
            q["rows"] = [[r[0], int(r[1]) - SEQ_BASE] for r in rows]

        return df, finish

    def _corpus_get(self, q):
        k = q["key"] = self.rng.choice(self.keys)
        df = (
            read_dedup_corpus(self.spark, self.dirs["index"])
            .filter(F.col("doc_id") == k)
            .select("doc_id", "kept")
        )
        return df, lambda q, rows: q.__setitem__("rows", [[r[0], r[1]] for r in rows])

    def _corpus_kept(self, q):
        df = read_dedup_corpus(self.spark, self.dirs["index"]).groupBy("kept").count()
        return df, lambda q, rows: q.__setitem__("by_kept", {str(r[0]): r[1] for r in rows})


# ------------------------------------------------------------ checking


class Truth:
    """What each answer is checked against: the ledger's records per file
    and, per consumer, which batch took each file and when it committed."""

    def __init__(self, ledger: list[dict], harvest):
        self.recs = {e["file"]: e["recs"] for e in ledger}
        self.h = harvest

    def files_committed_before(self, consumer: str, t: float) -> list[str]:
        return [f for f in self.recs if (c := self.h.file_commit(consumer, f)) is not None and c < t]

    def files_in_batches(self, consumer: str, lo: int, hi: int) -> list[str]:
        fb = self.h.file_batch[consumer]
        return [f for f in self.recs if lo < fb.get(f, -1) <= hi]


def _ok_recs(truth: Truth, files):
    return [r for f in files for r in truth.recs[f] if not r[4]]


def check_answer(q: dict, truth: Truth) -> str | None:
    """None if the answer is one the engine may give, else why not."""
    if "error" in q:
        return f"{q['kind']} raised: {q['error'].strip().splitlines()[-1]}"
    kind = q["kind"]
    if kind == "lake_point":
        k = q["key"]
        got = Counter(tuple(r) for r in q["rows"])
        every = Counter((r[0], r[1], r[2], r[3]) for r in _ok_recs(truth, truth.recs) if r[1] == k)
        floor = Counter(
            (r[0], r[1], r[2], r[3])
            for r in _ok_recs(truth, truth.files_committed_before("lake", q["t0"]))
            if r[1] == k
        )
        if got - every or floor - got:
            return f"lake_point {k}: {sorted(got)} outside [{len(floor)}, {len(every)}] ledger rows"
    elif kind == "lake_delta":
        want = len(_ok_recs(truth, truth.files_in_batches("lake", q["after"], q["upto"])))
        if q["n"] != want:
            return f"lake_delta ({q['after']}, {q['upto']}]: {q['n']} rows, ledger {want}"
    elif kind == "lake_rollup":
        every = Counter(r[2] for r in _ok_recs(truth, truth.recs))
        floor = Counter(r[2] for r in _ok_recs(truth, truth.files_committed_before("lake", q["t0"])))
        for op in set(every) | set(q["by_op"]):
            if not floor[op] <= q["by_op"].get(op, 0) <= every[op]:
                return f"lake_rollup op {op}: {q['by_op'].get(op, 0)} outside [{floor[op]}, {every[op]}]"
    elif kind == "wh_get":
        k, got = q["key"], [tuple(r) for r in q["rows"]]
        allowed = []
        for v in range(q["v_lo"], q["v_hi"] + 1):
            files = truth.files_in_batches("wh", -1, v)
            mine = [r for r in _ok_recs(truth, files) if r[1] == k]
            last = max(mine, key=lambda r: (r[0], r[2] == "D"), default=None)
            allowed.append([] if last is None or last[2] == "D" else [(last[3], last[0])])
        if got not in allowed:
            return f"wh_get {k} at versions {q['v_lo']}..{q['v_hi']}: {got} not in {allowed}"
    elif kind == "corpus_get":
        k = q["key"]
        dup = next(d[1] for recs in truth.recs.values() for d in recs if d[0] == k)
        if q["rows"] != [[k, dup is None]]:
            return f"corpus_get {k}: {q['rows']}, want kept={dup is None}"
    elif kind == "corpus_kept":
        docs = [d for recs in truth.recs.values() for d in recs]
        floor = sum(len(truth.recs[f]) for f in truth.files_committed_before("dedup", q["t0"]))
        total = sum(q["by_kept"].values())
        dropped = q["by_kept"].get("False", 0)
        if not floor <= total <= len(docs) or dropped > sum(d[1] is not None for d in docs):
            return f"corpus_kept {q['by_kept']}: outside [{floor}, {len(docs)}]"
    return None
