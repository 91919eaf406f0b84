"""Seeded load generator for the streaming benchmark.

The generator is a pure plan plus a writer. ``plan_cdc`` and ``plan_docs``
turn (seed, workload constants) into a list of producer files, each with
its due offset and its records; the same seed gives the same plan and the
same file bytes. ``main`` is the generator process: one thread that drops
the planned files into the engine's source directory on the fixed schedule
(open loop: it never waits for the engine), stamping each file's actual
write time into the ledger so lateness can be reported.

Every file is written under a temporary name in a sibling directory and
renamed into the source directory, so the file source never lists a
partially written file.

Run as a process:  python3 perfbench/gen.py <spec.json>
"""

from __future__ import annotations

import base64
import bisect
import json
import os
import random
import sys
import time
from dataclasses import dataclass, field

import pyarrow as pa
import pyarrow.parquet as pq

# the engine's 30-digit sequence base (sources/envelope.py SEQ_BASE)
SEQ_BASE = 10**29
STATUSES = ["pending", "paid", "packed", "shipped", "delivered", "returned"]
# arrival_ts is stamped from a fixed epoch plus the due offset, not the wall
# clock, so generated bytes depend on the seed alone
EPOCH_US = 1_700_000_000 * 1_000_000

ENVELOPE_ARROW = pa.schema(
    [
        ("data", pa.binary()),
        ("partition_key", pa.string()),
        ("sequence_number", pa.decimal128(38, 0)),
        # microseconds, UTC-adjusted: the session reads parquet nanos as
        # longs, so pyarrow's default timestamp[ns] would not read back as
        # the envelope's TIMESTAMP column
        ("arrival_ts", pa.timestamp("us", tz="UTC")),
    ]
)
DOC_ARROW = pa.schema([("doc_id", pa.int64()), ("text", pa.string())])
# base texts of the doc_dedup stream (see make_docs.py)
DOCS_POOL = os.path.join(os.path.dirname(os.path.abspath(__file__)), "documents.parquet")


@dataclass
class Rec:
    """One CDC record as the ledger knows it."""

    seq: int
    id: int
    op: str
    status: str
    corrupt: bool = False
    resend: bool = False  # a second copy of the previous record, same file


@dataclass
class Doc:
    doc_id: int
    text: str
    dup_of: int | None = None  # planted near-duplicate of an earlier doc


@dataclass
class PlannedFile:
    name: str
    due: float  # seconds after the generator's start; <= 0 is backlog
    recs: list = field(default_factory=list)


def _zipf_cdf(n: int, s: float) -> list[float]:
    acc, out = 0.0, []
    for k in range(1, n + 1):
        acc += 1.0 / k**s
        out.append(acc)
    return [x / acc for x in out]


def _schedule(c: dict, seconds: float) -> list[float]:
    """Due offsets of the live files: a fixed rate plus a burst of extra
    files every ``burst_every_s``."""
    n = int(seconds * c["files_per_s"])
    dues = [(i + 1) / c["files_per_s"] for i in range(n)]
    if c.get("burst_every_s"):
        t = c["burst_every_s"]
        while t < seconds:
            dues += [t] * c["burst_files"]
            t += c["burst_every_s"]
    return sorted(dues)


def plan_cdc(seed: int, c: dict, seconds: float) -> list[PlannedFile]:
    """Backlog files (due 0) followed by the live schedule. Keys are
    Zipf-skewed over a bounded key space with an I/U/D mix; a planted
    fraction of payloads is corrupt (DLQ) and a fraction is re-sent as a
    second copy inside the same producer file."""
    rng = random.Random(seed)
    cdf = _zipf_cdf(c["key_space"], c["zipf_s"])
    # a seeded permutation so the hot keys are not simply the smallest ids
    perm = list(range(1, c["key_space"] + 1))
    rng.shuffle(perm)
    ops, weights = zip(*sorted(c["op_mix"].items()))
    seq = SEQ_BASE
    dues = [0.0] * c.get("backlog_files", 0) + _schedule(c, seconds)
    files = []
    for i, due in enumerate(dues):
        recs: list[Rec] = []
        for _ in range(c["records_per_file"]):
            seq += 1
            key = perm[min(bisect.bisect_left(cdf, rng.random()), len(perm) - 1)]
            op = rng.choices(ops, weights)[0]
            status = f"{rng.choice(STATUSES)}-{rng.randrange(10**6):06d}"
            r = Rec(seq, key, op, status, corrupt=rng.random() < c["corrupt_frac"])
            recs.append(r)
            if rng.random() < c["resend_frac"]:
                recs.append(Rec(seq, key, op, status, corrupt=r.corrupt, resend=True))
        files.append(PlannedFile(f"cdc-{i:06d}.parquet", due, recs))
    return files


def load_texts(path: str = DOCS_POOL) -> list[str]:
    return pq.read_table(path, columns=["text"]).column("text").to_pylist()


def plan_docs(seed: int, c: dict, seconds: float, texts: list[str]) -> list[PlannedFile]:
    """Catch-up backlog files (due 0) then the live trickle. Base texts
    are drawn by seed, without replacement, from ``texts`` (the pool cut
    from the ``documents`` fixture by make_docs.py: pairwise far below the
    threshold). A planted fraction of documents copies an earlier document
    with one token replaced by another pool token: 3-token-shingle Jaccard
    >= 0.85 with its source, far above the engine's 0.7 threshold."""
    rng = random.Random(seed)
    order = rng.sample(range(len(texts)), len(texts))
    vocab = sorted({w for t in texts for w in t.split(" ")})
    docs: list[Doc] = []
    dues = [0.0] * c["backlog_files"] + _schedule(c, seconds)
    files = []
    for i, due in enumerate(dues):
        batch: list[Doc] = []
        for _ in range(c["docs_per_file"]):
            doc_id = len(docs) + 1
            if docs and rng.random() < c["dup_frac"]:
                src = rng.choice(docs)
                words = src.text.split(" ")
                k = rng.randrange(len(words))
                words[k] = rng.choice([w for w in vocab if w != words[k]])
                d = Doc(doc_id, " ".join(words), dup_of=src.doc_id)
            else:
                if not order:
                    raise ValueError(f"the text pool holds only {len(texts)} base texts")
                d = Doc(doc_id, texts[order.pop()])
            docs.append(d)
            batch.append(d)
        files.append(PlannedFile(f"doc-{i:06d}.parquet", due, batch))
    return files


def _payload(r: Rec) -> bytes:
    if r.corrupt:
        # valid base64, invalid JSON: decodes to a NULL payload -> DLQ
        return base64.b64encode(b'{"data": {"id": ' + str(r.id).encode())
    body = {"data": {"id": r.id, "status": r.status}, "metadata": {"op": r.op}}
    return base64.b64encode(json.dumps(body, separators=(",", ":")).encode())


def file_table(f: PlannedFile) -> pa.Table:
    if f.name.startswith("doc-"):
        return pa.table(
            {"doc_id": [d.doc_id for d in f.recs], "text": [d.text for d in f.recs]},
            schema=DOC_ARROW,
        )
    import decimal

    ts = EPOCH_US + int(max(f.due, 0.0) * 1e6)
    return pa.table(
        {
            "data": [_payload(r) for r in f.recs],
            "partition_key": [f"sales-orders-{r.id}" for r in f.recs],
            "sequence_number": [decimal.Decimal(r.seq) for r in f.recs],
            "arrival_ts": [ts] * len(f.recs),
        },
        schema=ENVELOPE_ARROW,
    )


class Writer:
    """Lands planned files in the source directory: write under the tmp
    dir, stamp an mtime strictly later (by >= 2 ms) than the previous
    file's, rename into place. The file source orders new files by
    millisecond mtime, so distinct increasing mtimes keep its batches in
    sequence-number order even for files written in the same millisecond."""

    def __init__(self, tmp_dir: str, dest_dir: str):
        self.tmp_dir, self.dest_dir = tmp_dir, dest_dir
        self.last_ns = 0

    def write(self, f: PlannedFile) -> str:
        tmp = os.path.join(self.tmp_dir, f.name)
        pq.write_table(file_table(f), tmp, compression="snappy")
        self.last_ns = max(time.time_ns(), self.last_ns + 2_000_000)
        os.utime(tmp, ns=(self.last_ns, self.last_ns))
        dest = os.path.join(self.dest_dir, f.name)
        os.replace(tmp, dest)
        return dest


def ledger_entry(f: PlannedFile) -> dict:
    """The deterministic ledger line of one file: its due offset and every
    record it carries, with the planted corrupt/re-send/duplicate marks."""
    if f.name.startswith("doc-"):
        recs = [[d.doc_id, d.dup_of] for d in f.recs]
    else:
        recs = [
            [r.seq - SEQ_BASE, r.id, r.op, r.status, int(r.corrupt), int(r.resend)]
            for r in f.recs
        ]
    return {"file": f.name, "due": f.due, "recs": recs}


def make_plan(spec: dict) -> list[PlannedFile]:
    if spec["kind"] == "docs":
        return plan_docs(spec["seed"], spec["consts"], spec["live_seconds"], load_texts())
    return plan_cdc(spec["seed"], spec["consts"], spec["live_seconds"])


def main(spec_path: str) -> int:
    """Generator process. ``phase="backlog"`` lands the backlog files and
    writes ``ledger.jsonl`` (one deterministic entry per planned file);
    ``phase="live"`` drops each live file at ``t0 + due`` and appends
    (file, due wall time, actual wall time) to ``landed.jsonl``."""
    with open(spec_path) as fh:
        spec = json.load(fh)
    files = make_plan(spec)
    out = spec["out_dir"]
    os.makedirs(spec["src_dir"], exist_ok=True)
    os.makedirs(spec["tmp_dir"], exist_ok=True)
    writer = Writer(spec["tmp_dir"], spec["src_dir"])
    if spec["phase"] == "backlog":
        with open(os.path.join(out, "ledger.jsonl"), "w") as fh:
            for f in files:
                fh.write(json.dumps(ledger_entry(f)) + "\n")
        for f in files:
            if f.due <= 0:
                writer.write(f)
        return 0
    t0 = spec["t0"]
    with open(os.path.join(out, "landed.jsonl"), "w", buffering=1) as fh:
        for f in files:
            if f.due <= 0:
                continue
            due = t0 + f.due
            wait = due - time.time()
            if wait > 0:
                time.sleep(wait)
            writer.write(f)
            fh.write(json.dumps({"file": f.name, "due": due, "at": time.time()}) + "\n")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1]))
