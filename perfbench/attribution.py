"""Freshness attribution from a streaming checkpoint, outside the engine.

A file-source query logs, per micro-batch, the files it took in
``<ckpt>/sources/0/<id>`` (every 10th batch as ``<id>.compact``, holding the
whole history so far), and marks the batch complete by writing
``<ckpt>/commits/<id>``. Mapping each generated file to its batch and each
batch to its commit time gives every record's commit time without touching
the engine. Record counts always come from the ledger, never from the
engine's progress counters.

The engine purges old commit files as a stream runs, so a ``Harvester``
reads the checkpoint repeatedly during a run and keeps what it has seen;
a commit file's mtime is its write time no matter when it is read.
"""

from __future__ import annotations

import bisect
import json
import os
import statistics
import threading
import time


def read_source_log(ckpt: str) -> dict[str, int]:
    """file basename -> batch id, from every source-log file present."""
    src = os.path.join(ckpt, "sources", "0")
    out: dict[str, int] = {}
    try:
        names = os.listdir(src)
    except FileNotFoundError:
        return out
    for name in names:
        if name.startswith(".") or not name.split(".")[0].isdigit():
            continue
        try:
            with open(os.path.join(src, name)) as fh:
                lines = fh.read().splitlines()
        except FileNotFoundError:
            continue  # compacted away between listdir and open
        for line in lines:
            if not line.startswith("{"):
                continue  # the "v1" version header
            entry = json.loads(line)
            out.setdefault(os.path.basename(entry["path"]), entry["batchId"])
    return out


def read_commits(ckpt: str) -> dict[int, float]:
    """batch id -> wall time the batch's commit file was written."""
    d = os.path.join(ckpt, "commits")
    out: dict[int, float] = {}
    try:
        names = os.listdir(d)
    except FileNotFoundError:
        return out
    for name in names:
        if name.isdigit():
            try:
                out[int(name)] = os.stat(os.path.join(d, name)).st_mtime
            except FileNotFoundError:
                continue
    return out


class Harvester:
    """Accumulates file->batch and batch->commit-time maps for a set of
    checkpoints (one per consumer; a restart loop reuses its checkpoint,
    so batch ids keep counting across restarts)."""

    def __init__(self, ckpts: dict[str, str]):
        self.ckpts = ckpts
        self.file_batch: dict[str, dict[str, int]] = {c: {} for c in ckpts}
        self.commit_at: dict[str, dict[int, float]] = {c: {} for c in ckpts}

    def poll(self) -> None:
        for c, ckpt in self.ckpts.items():
            for f, b in read_source_log(ckpt).items():
                self.file_batch[c].setdefault(f, b)
            for b, t in read_commits(ckpt).items():
                self.commit_at[c].setdefault(b, t)

    def file_commit(self, consumer: str, fname: str) -> float | None:
        b = self.file_batch[consumer].get(fname)
        return None if b is None else self.commit_at[consumer].get(b)

    def all_committed(self, consumer: str, fnames) -> bool:
        return all(self.file_commit(consumer, f) is not None for f in fnames)


def record_freshness(
    files: list[tuple[str, float, int]],
    harvest: Harvester,
    consumers: list[str],
    span=lambda a, b: b - a,
) -> list[float]:
    """Per-record freshness: for each (file, due wall time, n records),
    the ``span`` from due to the LAST of ``consumers`` committing the batch
    that carried the file, repeated once per record. A file some consumer
    never committed is left out (the checker reports it)."""
    out: list[float] = []
    for fname, due, n in files:
        ts = [harvest.file_commit(c, fname) for c in consumers]
        if any(t is None for t in ts):
            continue
        out.extend([span(due, max(ts))] * n)
    return out


def cpu_jiffies(stat: str = "/proc/stat") -> tuple[int, int]:
    """(busy, steal) CPU time of the machine so far, in jiffies: busy is
    user + nice + system + irq + softirq over all CPUs, steal the time the
    hypervisor ran something else while a CPU of this machine had work."""
    with open(stat) as fh:
        f = [int(x) for x in fh.readline().split()[1:9]]
    return f[0] + f[1] + f[2] + f[5] + f[6], f[7]


class StealClock:
    """Wall time with the hypervisor's CPU steal taken out.

    On a shared host the hypervisor runs other guests on this machine's
    CPUs; while it does, everything here waits, and a run's times stretch
    by the share of wanted CPU time that was stolen (measured on a 4-core
    guest: 3 % steal gave 1.7-2.0 s set-up reps, 21 % gave 3.2-3.4 s).
    ``span(a, b)`` is ``b - a`` scaled by busy / (busy + steal) over
    [a, b], from /proc/stat sampled every ``period`` seconds by a thread.
    """

    def __init__(self, period: float = 0.1, read=cpu_jiffies):
        self.read, self.period = read, period
        self.samples: list[tuple[float, int, int]] = []
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, name="steal-clock", daemon=True)

    def start(self) -> None:
        self.sample()
        self._thread.start()

    def stop(self) -> None:
        self._stop.set()
        self._thread.join()
        self.sample()

    def sample(self) -> None:
        self.samples.append((time.time(), *self.read()))

    def _loop(self) -> None:
        while not self._stop.wait(self.period):
            self.sample()

    def share(self, a: float, b: float) -> float:
        """busy / (busy + steal) between the last sample at or before ``a``
        and the first at or after ``b`` (1.0 without steal or samples)."""
        ts = [s[0] for s in self.samples]
        i = max(0, bisect.bisect_right(ts, a) - 1)
        j = min(len(ts) - 1, bisect.bisect_left(ts, b))
        if j <= i:
            return 1.0
        busy = self.samples[j][1] - self.samples[i][1]
        steal = self.samples[j][2] - self.samples[i][2]
        return busy / (busy + steal) if busy + steal > 0 else 1.0

    def span(self, a: float, b: float) -> float:
        return (b - a) * self.share(a, b)


def pct(values: list[float], q: int) -> float:
    """q-th percentile (1..99) by statistics.quantiles' exclusive method;
    a single value is its own percentile."""
    if not values:
        return float("nan")
    if len(values) == 1:
        return values[0]
    return statistics.quantiles(values, n=100)[q - 1]
