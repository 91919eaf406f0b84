"""Self-tests of the benchmark (no Spark session needed).

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import decimal
import filecmp
import json
import os
import sys
from collections import Counter

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [os.path.dirname(HERE), HERE]

import attribution  # noqa: E402
import check  # noqa: E402
import gen  # noqa: E402
import make_docs  # noqa: E402
import run  # noqa: E402

from aws_kinesis_spark.sources.lake import write_manifest  # noqa: E402

CFG = json.load(open(os.path.join(HERE, "workloads.json")))


def _land(spec_kind: str, seed: int, out: str) -> list[dict]:
    wl = next(w for w in CFG["workloads"].values() if w["kind"] == spec_kind)
    consts = dict(wl["consts"], backlog_files=3)
    files = gen.make_plan({"kind": spec_kind, "seed": seed, "consts": consts, "live_seconds": 1})
    os.makedirs(out)
    tmp = os.path.join(out, ".tmp")
    os.makedirs(tmp)
    w = gen.Writer(tmp, out)
    for f in files:
        w.write(f)
    return [gen.ledger_entry(f) for f in files]


@pytest.mark.parametrize("kind", ["cdc", "docs"])
def test_same_seed_same_bytes_other_seed_differs(tmp_path, kind):
    a = _land(kind, 7, str(tmp_path / "a"))
    b = _land(kind, 7, str(tmp_path / "b"))
    c = _land(kind, 8, str(tmp_path / "c"))
    names = sorted(n for n in os.listdir(tmp_path / "a") if n.endswith(".parquet"))
    assert names and a == b and a != c
    match, mismatch, errors = filecmp.cmpfiles(tmp_path / "a", tmp_path / "b", names, shallow=False)
    assert match == names and not mismatch and not errors
    _, differ, _ = filecmp.cmpfiles(tmp_path / "a", tmp_path / "c", names, shallow=False)
    assert differ


def test_generated_envelope_types():
    files = gen.plan_cdc(1, dict(CFG["workloads"]["cdc_live"]["consts"], backlog_files=1), 0)
    t = gen.file_table(files[0])
    # microsecond UTC timestamps: the session reads parquet nanos as longs
    assert t.schema.field("arrival_ts").type == pa.timestamp("us", tz="UTC")
    assert t.schema.field("sequence_number").type == pa.decimal128(38, 0)


def test_planted_verdicts_are_far_from_threshold():
    """Planted near-duplicates sit far above the engine's 0.7 threshold
    against their source, and base texts far below it against each other."""
    consts = dict(CFG["workloads"]["doc_dedup"]["consts"], backlog_files=20)
    texts = gen.load_texts()
    docs = {d.doc_id: d for f in gen.plan_docs(3, consts, 0, texts) for d in f.recs}
    jac = lambda a, b: len(a & b) / len(a | b)  # noqa: E731
    sh = {i: make_docs.shingles(d.text) for i, d in docs.items()}
    dups = [d for d in docs.values() if d.dup_of is not None]
    bases = [i for i, d in docs.items() if d.dup_of is None]
    assert dups and len(bases) == len({docs[i].text for i in bases})
    for d in dups:
        assert jac(sh[d.doc_id], sh[d.dup_of]) >= 0.85
    for n, i in enumerate(bases):
        assert all(jac(sh[i], sh[j]) < make_docs.MAX_JACCARD for j in bases[:n])
    # the pool itself is cut from the fixture by that rule
    assert len(texts) == len(make_docs.pool(texts, len(texts)))


# ------------------------------------------------------------ freshness


def _ckpt(root, batches: dict[int, list[str]], commits: dict[int, float], compact_at=None):
    src = os.path.join(root, "sources", "0")
    os.makedirs(src)
    os.makedirs(os.path.join(root, "commits"))
    seen = []
    for b, files in sorted(batches.items()):
        entries = [{"path": f"file:///in/{f}", "timestamp": 0, "batchId": b} for f in files]
        seen += entries
        name = f"{b}.compact" if b == compact_at else str(b)
        with open(os.path.join(src, name), "w") as fh:
            fh.write("v1\n")
            for e in seen if b == compact_at else entries:
                fh.write(json.dumps(e) + "\n")
    for b, t in commits.items():
        p = os.path.join(root, "commits", str(b))
        open(p, "w").close()
        os.utime(p, (t, t))


def test_freshness_from_handmade_checkpoint(tmp_path):
    lake, wh = str(tmp_path / "lake"), str(tmp_path / "wh")
    # batch 1 is logged in compacted form, as every 10th batch is
    _ckpt(lake, {0: ["f0"], 1: ["f1", "f2"]}, {0: 1010.0, 1: 1020.0}, compact_at=1)
    _ckpt(wh, {0: ["f0", "f1"], 1: ["f2"]}, {0: 1015.0, 1: 1030.0})
    h = attribution.Harvester({"lake": lake, "wh": wh})
    h.poll()
    files = [("f0", 1000.0, 2), ("f1", 1005.0, 1), ("f2", 1008.0, 1), ("f3", 1009.0, 5)]
    assert attribution.record_freshness(files, h, ["lake"]) == [10.0, 10.0, 15.0, 12.0]
    assert attribution.record_freshness(files, h, ["lake", "wh"]) == [15.0, 15.0, 15.0, 22.0]
    assert not h.all_committed("lake", ["f3"])
    # commit files purged later are remembered from earlier polls
    os.remove(os.path.join(lake, "commits", "0"))
    h.poll()
    assert h.file_commit("lake", "f0") == 1010.0


def test_steal_clock_takes_out_the_stolen_share():
    clock = attribution.StealClock()
    # (time, busy, steal) jiffies: no steal over [0, 10], a quarter of the
    # wanted CPU time stolen over [10, 20]
    clock.samples = [(0.0, 0, 0), (10.0, 400, 0), (20.0, 700, 100)]
    assert clock.span(0.0, 10.0) == pytest.approx(10.0)
    assert clock.span(10.0, 20.0) == pytest.approx(7.5)
    assert clock.span(12.0, 15.0) == pytest.approx(2.25)
    assert clock.span(0.0, 20.0) == pytest.approx(20.0 * 700 / 800)
    # outside the sampled window there is nothing to take out
    assert clock.span(30.0, 31.0) == pytest.approx(1.0)
    busy, steal = attribution.cpu_jiffies()
    assert busy > 0 and steal >= 0


def test_percentiles_follow_statistics_quantiles():
    xs = [float(i) for i in range(1, 101)]
    assert attribution.pct(xs, 50) == pytest.approx(50.5)
    assert attribution.pct([3.0], 95) == 3.0


# -------------------------------------------------------------- checker


def _lake(root: str, ledger: list[dict], drop=0, dup=0) -> None:
    """A hand-made lake holding the ledger's ok records (minus ``drop``,
    plus ``dup`` repeated rows) with its manifest, and the corrupt ones in
    errors/."""
    recs = check.ledger_records(ledger)
    ok = [r for r in recs if not r[4]]
    ok = ok[drop:] + ok[:dup]
    bad = [r for r in recs if r[4]]
    dec = lambda s: decimal.Decimal(s + gen.SEQ_BASE)  # noqa: E731
    data = os.path.join(root, "data", "batch=0", "year=2024")
    os.makedirs(data)
    f = os.path.join(data, "part-0.parquet")
    pq.write_table(
        pa.table({"id": [r[1] for r in ok],
                  "sequence_number": pa.array([dec(r[0]) for r in ok], pa.decimal128(38, 0))}),
        f,
    )
    write_manifest(root, 0, [f], n_records=len(ok))
    if bad:
        err = os.path.join(root, "errors", "batch=0")
        os.makedirs(err)
        pq.write_table(
            pa.table({"partition_key": [f"sales-orders-{r[1]}" for r in bad],
                      "sequence_number": pa.array([dec(r[0]) for r in bad], pa.decimal128(38, 0))}),
            os.path.join(err, "part-0.parquet"),
        )


def _cdc_ledger():
    consts = dict(CFG["workloads"]["cdc_live"]["consts"], backlog_files=4,
                  corrupt_frac=0.05, resend_frac=0.05)
    return [gen.ledger_entry(f) for f in gen.plan_cdc(5, consts, 0)]


def test_lake_checker_passes_exact_sink_and_fails_controls(tmp_path):
    ledger = _cdc_ledger()
    recs = check.ledger_records(ledger)
    assert any(r[4] for r in recs) and any(r[5] for r in recs)
    for name, drop, dup, want_fail in (("exact", 0, 0, False), ("dropped", 1, 0, True),
                                       ("duplicated", 0, 1, True)):
        root = str(tmp_path / name)
        _lake(root, ledger, drop, dup)
        data, dlq, mfails = check.read_lake_rows(root)
        attempted, fails = check.check_lake(data, dlq, mfails, ledger)
        assert attempted >= len(recs)
        assert bool(fails) == want_fail, (name, fails)


def test_lake_checker_flags_manifest_rot(tmp_path):
    ledger = _cdc_ledger()
    root = str(tmp_path / "lake")
    _lake(root, ledger)
    with open(os.path.join(root, "data", "batch=0", "year=2024", "part-0.parquet"), "ab") as fh:
        fh.write(b"x")
    _, _, mfails = check.read_lake_rows(root)
    assert mfails


def test_warehouse_checker_latest_op_per_key_deletes_win():
    ledger = [{"file": "f", "due": 0, "recs": [
        [1, 10, "I", "a", 0, 0],
        [2, 10, "U", "b", 0, 0],
        [3, 11, "I", "c", 0, 0],
        [4, 11, "D", "c", 0, 0],
        [5, 12, "U", "d", 1, 0],  # corrupt: never applied
        [6, 13, "U", "e", 0, 0],
        [6, 13, "D", "e", 0, 0],  # same sequence number: the delete wins
    ]}]
    want = {10: ("b", 2)}
    assert check.expected_warehouse(check.ledger_records(ledger)) == want
    assert check.check_warehouse(want, ledger)[1] == []
    assert check.check_warehouse({}, ledger)[1]
    assert check.check_warehouse({10: ("b", 2), 11: ("c", 3)}, ledger)[1]


def test_dedup_checker_controls():
    ledger = [{"file": "f", "due": 0, "recs": [[1, None], [2, 1], [3, None]]}]
    exact = Counter({(1, True): 1, (2, False): 1, (3, True): 1})
    assert check.check_dedup(exact, ledger)[1] == []
    assert check.check_dedup(exact - Counter([(3, True)]), ledger)[1]
    assert check.check_dedup(exact + Counter([(3, True)]), ledger)[1]
    assert check.check_dedup(Counter({(1, True): 1, (2, True): 1, (3, True): 1}), ledger)[1]


# -------------------------------------------------------------- tracing


def test_client_calls_become_build_and_execute_spans():
    import tracing

    tr = tracing.Tracer.__new__(tracing.Tracer)
    tr.spans, tr._lock = [], __import__("threading").Lock()
    tr.client_spans([
        {"kind": "wh_get", "t0": 1.0, "t_built": 1.5, "t_end": 2.0},
        {"kind": "lake_point", "t0": 3.0, "t_end": 3.1, "error": "x"},
    ])
    by = {(s["trace"], s["name"]): s for s in tr.spans}
    assert by[("analyst:0", "build")]["parent"] == "query.wh_get"
    assert (by[("analyst:0", "execute")]["start"], by[("analyst:0", "execute")]["end"]) == (1.5, 2.0)
    assert by[("analyst:1", "query.lake_point")]["error"]
    assert ("analyst:1", "build") not in by


# --------------------------------------------------------- BENCHMARK.json


def test_benchmark_json_names_every_metric_the_run_prints():
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    assert [(m["name"], m["unit"]) for m in bench["end_to_end"]] == run.E2E
    assert [(m["name"], m["unit"]) for m in bench["per_layer"]] == run.PER_LAYER
    assert {w["name"] for w in bench["workloads"]} == set(CFG["workloads"])
