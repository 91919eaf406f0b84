"""Output checker: every sink against the generator's ledger.

Each check returns ``(attempted, failures)``; ``failures`` is a list of
short strings, one per wrong operation, so the benchmark's error rate is
``sum(len(failures)) / sum(attempted)``. The comparison functions take
plain rows, so the negative controls and the self-tests can feed them a
hand-altered copy of a sink.
"""

from __future__ import annotations

import json
import os
from collections import Counter

import pyarrow.dataset as pds
import pyarrow.parquet as pq

from aws_kinesis_spark.sources.lake import validate_manifest

from gen import SEQ_BASE


def _seq(v) -> int:
    return int(v) - SEQ_BASE


def ledger_records(ledger: list[dict]) -> list[list]:
    """Every CDC record copy the generator sent, re-sends included."""
    return [r for e in ledger for r in e["recs"]]


def diff_multiset(got: Counter, want: Counter, what: str) -> list[str]:
    out = []
    for k, n in (got - want).items():
        out.append(f"{what}: unexpected {k} x{n}")
    for k, n in (want - got).items():
        out.append(f"{what}: missing {k} x{n}")
    return out


# ---------------------------------------------------------------- lake


def manifest_ids(lake_dir: str) -> list[int]:
    d = os.path.join(lake_dir, "_manifests")
    names = os.listdir(d) if os.path.isdir(d) else []
    return sorted(
        int(n[len("manifest-") : -len(".json")])
        for n in names
        if n.startswith("manifest-") and n.endswith(".json")
    )


def read_lake_rows(lake_dir: str) -> tuple[Counter, Counter, list[str]]:
    """(data multiset, DLQ multiset, manifest failures). Data is read
    through the manifests, the lake's reader contract; each manifest must
    pass the public ``validate_manifest`` and its record count must equal
    its files' footer row counts."""
    data: Counter = Counter()
    fails: list[str] = []
    for b in manifest_ids(lake_dir):
        res = validate_manifest(lake_dir, b)
        if not res.passed:
            fails.append(f"manifest {b}: {'; '.join(res.failures)}")
            continue
        with open(os.path.join(lake_dir, "_manifests", f"manifest-{b:010d}.json")) as fh:
            payload = json.load(fh)
        n = 0
        for e in payload["entries"]:
            t = pq.read_table(e["url"], columns=["sequence_number", "id"])
            n += t.num_rows
            for s, i in zip(*(c.to_pylist() for c in t.columns)):
                data[(_seq(s), i)] += 1
        if n != payload["recordCount"]:
            fails.append(f"manifest {b}: recordCount {payload['recordCount']} != {n}")
    dlq: Counter = Counter()
    err = os.path.join(lake_dir, "errors")
    if os.path.isdir(err):
        t = pds.dataset(err, format="parquet", partitioning="hive").to_table(
            columns=["sequence_number", "partition_key"]
        )
        for s, k in zip(*(c.to_pylist() for c in t.columns)):
            dlq[(_seq(s), int(k.rsplit("-", 1)[1]))] += 1
    return data, dlq, fails


def check_lake(data: Counter, dlq: Counter, manifest_fails: list[str], ledger) -> tuple[int, list[str]]:
    """Lake data plus DLQ must equal the ledger as a multiset on
    (sequence number, id), with every corrupt record in the DLQ."""
    recs = ledger_records(ledger)
    want_ok = Counter((r[0], r[1]) for r in recs if not r[4])
    want_bad = Counter((r[0], r[1]) for r in recs if r[4])
    fails = list(manifest_fails)
    fails += diff_multiset(data, want_ok, "lake data")
    fails += diff_multiset(dlq, want_bad, "lake dlq")
    return len(recs) + len(manifest_fails), fails


# ----------------------------------------------------------- warehouse


def expected_warehouse(recs) -> dict[int, tuple[str, int]]:
    """Latest op per key by sequence number, deletes winning: key ->
    (status, seq) for every key whose latest op is not a delete."""
    latest: dict[int, list] = {}
    for r in recs:
        if r[4]:
            continue
        cur = latest.get(r[1])
        if cur is None or (r[0], r[2] == "D") > (cur[0], cur[2] == "D"):
            latest[r[1]] = r
    return {k: (r[3], r[0]) for k, r in latest.items() if r[2] != "D"}


def check_warehouse(got: dict[int, tuple[str, int]], ledger) -> tuple[int, list[str]]:
    want = expected_warehouse(ledger_records(ledger))
    fails = []
    for k in set(got) | set(want):
        if got.get(k) != want.get(k):
            fails.append(f"warehouse key {k}: got {got.get(k)} want {want.get(k)}")
    return max(len(want), 1), fails


def warehouse_rows(df) -> dict[int, tuple[str, int]]:
    """key -> (status, seq) from a read_warehouse_table frame; a key seen
    twice is a duplicate and maps to a marker that never matches."""
    out: dict[int, tuple[str, int]] = {}
    for r in df.select("id", "status", "sequence_number").collect():
        out[r[0]] = ("<duplicate>", -1) if r[0] in out else (r[1], _seq(r[2]))
    return out


# --------------------------------------------------------------- dedup


def check_dedup(got: Counter, ledger) -> tuple[int, list[str]]:
    """Every document lands once, with kept == not a planted near-dup.
    ``got`` counts (doc_id, kept) rows of the landed corpus."""
    want = Counter((d[0], d[1] is None) for e in ledger for d in e["recs"])
    return sum(want.values()), diff_multiset(got, want, "corpus")
