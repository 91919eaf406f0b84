"""Pin the bench artifact contract (VERDICT r12 #2).

The driver's BENCH_rN.json stores a 2000-char stdout tail and the
json.loads of the last complete line inside it. BENCH_r09.parsed is null
precisely because that round's only JSON line blew the cap. These tests
pin both halves of the fix: the FULL record (every per-query spread + the
canary stats) round-trips through BENCH_FULL.json, and the compact final
line stays far enough under the tail cap that parsing can never degrade.
"""

from __future__ import annotations

import json

import bench

TAIL_CAP = 2000          # the driver's observed stdout-tail truncation
COMPACT_BUDGET = 1900    # leave slack for the trailing newline


def _synthetic_inputs(n_queries: int):
    # worst-case realistic shapes: long registry names of varied length
    # (so a shorter, faster name could fit where a longer, slower one did
    # not), 4-decimal floats, double-digit seconds on the slow end
    results = {
        f"g{i:02d}_{'some_long_query_name_' * (1 + i % 3)}{i}": round(
            10.0 + i / 7.0, 4
        )
        for i in range(n_queries)
    }
    spread = {
        name: {"min": v, "max": round(v * 2.1037, 4)}
        for name, v in results.items()
    }
    canary = {
        "n_samples": 14,
        "min": 0.6772,
        "median": 0.7411,
        "max": 1.2093,
        "ref_r10_sec": 0.6414,
        "ratio_vs_r10_median": 1.1554,
        "ratio_vs_r10_min": 1.0558,
    }
    calibration = {"before": 0.1351, "after": 0.1402, "idle_budget": 0.525}
    return results, spread, canary, calibration


def test_full_record_carries_every_spread_and_roundtrips():
    results, spread, canary, calibration = _synthetic_inputs(80)
    full, compact = bench.build_records(results, spread, canary, calibration, False)
    back = json.loads(json.dumps(full))
    assert back["queries"] == results
    assert back["spread"] == spread
    assert back["canary"] == canary
    assert back["calibration_sec"] == calibration
    assert back["agg"] == "min"
    assert isinstance(back["runs_override"], dict)  # json-safe passthrough
    assert compact["full_record"] == "BENCH_FULL.json"


def test_compact_line_fits_the_driver_tail_cap():
    # 80 queries is ~1.3x today's headline count — the budget must hold as
    # the headline grows, because only the 10 slowest ride in the line
    results, spread, canary, calibration = _synthetic_inputs(80)
    _, compact = bench.build_records(results, spread, canary, calibration, True)
    line = json.dumps(compact)
    assert len(line) < COMPACT_BUDGET, len(line)
    assert len(line) < TAIL_CAP
    back = json.loads(line)
    assert back["n_queries"] == 80
    assert len(back["slowest_spread"]) == 10
    assert back["canary"]["ratio_vs_r10_min"] == 1.0558
    # every slowest entry is [min, max] with min matching the headline value
    for name, (mn, mx) in back["slowest_spread"].items():
        assert mn == results[name]
        assert mx >= mn
    # VERDICT r14 #1: the final line carries a per-query map for the
    # driver's PERF/scaling diff — as many entries as the tail cap allows,
    # slowest first, with the omitted count declared
    assert back["queries"], "final line must carry a per-query map"
    for name, v in back["queries"].items():
        assert v == results[name]
    assert back["queries_omitted"] == 80 - len(back["queries"])
    # slowest-first fill: every carried entry is >= every omitted one,
    # also when a later, shorter name would still fit the budget
    assert back["queries_omitted"]
    carried_min = min(back["queries"].values())
    omitted = {n: v for n, v in results.items() if n not in back["queries"]}
    assert carried_min >= max(omitted.values())


def test_compact_queries_map_covers_todays_headline():
    # with REAL registry name lengths (not the synthetic worst case) the
    # budget must fit a large majority of today's headline — this is what
    # makes PERF_r15's n_common meaningful
    results = {
        name: round(0.2 + (i % 11) / 7.0, 4)
        for i, name in enumerate(bench.HEADLINE)
    }
    results["lake_microbatch"] = 0.33
    results["point_query"] = 0.298
    results["ivf_second_probe"] = 0.4733
    spread = {n: {"min": v, "max": round(v * 1.3, 4)} for n, v in results.items()}
    canary = {"n_samples": 15, "min": 0.63, "median": 0.76, "max": 1.24,
              "ref_r10_sec": 0.6414, "ratio_vs_r10_median": 1.19,
              "ratio_vs_r10_min": 0.98}
    _, compact = bench.build_records(
        results, spread, canary, {"before": 0.29, "after": 0.08,
                                  "idle_budget": 0.525}, False)
    line = json.dumps(compact)
    assert len(line) < COMPACT_BUDGET, len(line)
    assert len(compact["queries"]) >= 30, len(compact["queries"])


def test_bench_compare_normalizes_by_canary_and_flags():
    import importlib.util
    import os as _os

    spec = importlib.util.spec_from_file_location(
        "bench_compare",
        _os.path.join(_os.path.dirname(__file__), "..", "scripts", "bench_compare.py"),
    )
    bc = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(bc)

    old = {
        "queries": {"a": 1.0, "b": 2.0, "gone": 1.0},
        "canary": {"ratio_vs_r10_min": 1.0},
        "value": 4.0,
    }
    new = {
        # host is 1.2x slower; a is unchanged code-wise (1.2 raw), b
        # genuinely regressed 1.5x on top of the epoch
        "queries": {"a": 1.2, "b": 3.6, "fresh": 0.5},
        "canary": {"ratio_vs_r10_min": 1.2},
        "value": 5.3,
    }
    rows, epoch = bc.compare(old, new, threshold=1.1)
    assert abs(epoch - 1.2) < 1e-9
    by_name = {r[0]: r for r in rows}
    assert set(by_name) == {"a", "b"}
    assert abs(by_name["a"][4] - 1.0) < 1e-9 and by_name["a"][5] == ""
    assert abs(by_name["b"][4] - 1.5) < 1e-9 and by_name["b"][5] == "REGRESSION"


def test_bench_compare_reads_committed_artifact():
    import importlib.util
    import os as _os

    spec = importlib.util.spec_from_file_location(
        "bench_compare",
        _os.path.join(_os.path.dirname(__file__), "..", "scripts", "bench_compare.py"),
    )
    bc = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(bc)
    rec = bc.load_record("HEAD")  # the committed BENCH_FULL.json
    assert rec["queries"] and rec["spread"]
