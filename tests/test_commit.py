"""The commit protocol (aws_kinesis_spark/store.py: publish_file, swap_in,
recover_swap) pinned through the callers that use it: a swap cut between
its two renames keeps every committed row and heals on the next
maintenance call, concurrent publishers of one file leave one whole
payload, and a stranded publish temp is invisible to every lister."""

from __future__ import annotations

import json
import os
from concurrent.futures import ThreadPoolExecutor

import pytest
from pyspark.sql import functions as F

from aws_kinesis_spark import store
from aws_kinesis_spark.operators import ivf_index as ivf
from aws_kinesis_spark.sources import lake as L
from aws_kinesis_spark.sources.envelope import synthesize_envelope
from aws_kinesis_spark.tables import load
from conftest import SF_SMOKE as SF


def _ids(df, col: str = "id") -> set:
    return {r[0] for r in df.select(col).collect()}


def _crash_between_swap_renames(monkeypatch) -> None:
    """Kill store.swap_in after it moved the committed dir aside and before
    the new dir lands: the one crash state the aside copy exists for."""
    real = os.replace

    def replace(src, dst):
        if os.path.exists(str(dst) + store.ASIDE) and not os.path.exists(dst):
            raise RuntimeError("crash between the swap renames")
        return real(src, dst)

    monkeypatch.setattr(os, "replace", replace)


def _lake(spark, tmp_path):
    """One committed lake batch plus a committed delete vector over every
    7th id. Returns (lake_dir, all ids, ids that survive the deletes, the
    delete keys frame)."""
    lake_dir = str(tmp_path / "lake")
    env = synthesize_envelope(load(spark, SF, "orders"))
    L.run_lake_batch(env, lake_dir, batch_id=0, raw_backup=False)
    all_ids = _ids(spark.read.parquet(os.path.join(lake_dir, "data")))
    doomed = sorted(all_ids)[::7]
    keys = spark.createDataFrame([(k,) for k in doomed], "id long")
    L.write_delete_vector(keys, lake_dir, delete_id=1, key_col="id")
    return lake_dir, all_ids, all_ids - set(doomed), keys


def _lake_leaf(spark, tmp_path, monkeypatch):
    # a delete materialization cut in its leaf swaps: every committed row
    # waits in the aside leaves, merge-on-read still excludes the deleted
    # keys, _heal_compaction_crashes restores the manifest-read rows, and
    # the rerun converges
    lake_dir, all_ids, live, _keys = _lake(spark, tmp_path)
    data_dir = os.path.join(lake_dir, "data")
    _crash_between_swap_renames(monkeypatch)
    with pytest.raises(RuntimeError, match="swap renames"):
        L.materialize_deletes(spark, lake_dir, key_col="id")
    monkeypatch.undo()
    asides = [dp for dp, _, _ in os.walk(data_dir) if dp.endswith(store.ASIDE)]
    assert asides
    assert _ids(spark.read.parquet(*asides)) == all_ids
    assert _ids(L.read_with_deletes(spark, lake_dir, key_col="id")) == live
    assert L._heal_compaction_crashes(lake_dir) == len(asides)
    assert not [dp for dp, _, _ in os.walk(data_dir) if dp.endswith(".tmp")]
    assert _ids(L.read_via_manifest(spark, lake_dir, 0)) == all_ids
    assert L.materialize_deletes(spark, lake_dir, key_col="id") == len(asides)
    assert _ids(L.read_via_manifest(spark, lake_dir, 0)) == live
    assert L.validate_manifest(lake_dir, 0, spark=spark).passed


def _delete_vector(spark, tmp_path, monkeypatch):
    # a write_delete_vector rerun cut in its swap: the aside copy is served
    # as the committed vector, and the next rerun converges
    lake_dir, _all_ids, live, keys = _lake(spark, tmp_path)
    final = os.path.join(lake_dir, "_deletes", "delete-0000000001")
    _crash_between_swap_renames(monkeypatch)
    with pytest.raises(RuntimeError, match="swap renames"):
        L.write_delete_vector(keys, lake_dir, delete_id=1, key_col="id")
    monkeypatch.undo()
    assert os.path.isdir(final + store.ASIDE) and not os.path.exists(final)
    assert _ids(L.read_with_deletes(spark, lake_dir, key_col="id")) == live
    L.write_delete_vector(keys, lake_dir, delete_id=1, key_col="id")
    assert os.path.isdir(final) and not os.path.exists(final + store.ASIDE)
    assert _ids(L.read_with_deletes(spark, lake_dir, key_col="id")) == live


def _zone_maps(spark, tmp_path, monkeypatch):
    # update_zone_maps cut in its swap: pruned reads fall back to the exact
    # full scan, merge-on-read is untouched, and the next update restores
    # the prior stats before extending them to every file
    lake_dir, _all_ids, live, _keys = _lake(spark, tmp_path)
    data_dir = os.path.join(lake_dir, "data")
    zm = os.path.join(lake_dir, "_zonemaps")
    L.build_zone_maps(spark, lake_dir, ["id"])
    env = synthesize_envelope(load(spark, SF, "orders")).limit(50)
    L.run_lake_batch(env, lake_dir, batch_id=1, raw_backup=False)
    lo, hi = sorted(live)[10], sorted(live)[200]
    want = _ids(spark.read.parquet(data_dir).filter(F.col("id").between(lo, hi)))
    _crash_between_swap_renames(monkeypatch)
    with pytest.raises(RuntimeError, match="swap renames"):
        L.update_zone_maps(spark, lake_dir, ["id"])
    monkeypatch.undo()
    assert os.path.isdir(zm + store.ASIDE) and not os.path.exists(zm)
    assert _ids(L.read_zone_pruned(spark, lake_dir, "id", lo, hi)) == want
    assert _ids(L.read_with_deletes(spark, lake_dir, key_col="id")) == live
    n_new = len(store.list_parquet_files(os.path.join(data_dir, "batch=1")))
    assert L.update_zone_maps(spark, lake_dir, ["id"]) == n_new
    assert not os.path.exists(zm + store.ASIDE)
    n_files = len(store.list_parquet_files(data_dir))
    assert spark.read.parquet(zm).count() == n_files
    assert _ids(L.read_zone_pruned(spark, lake_dir, "id", lo, hi)) == want


def _ivf_cells(spark, tmp_path, monkeypatch):
    # an update_ivf_index replay cut in its swap: the batch's committed
    # rows wait in the aside dir, probes read every other batch whole (the
    # ``.tmp`` aside is invisible, so nothing is torn or doubled),
    # tombstones still apply, and the replay converges
    em = load(spark, SF, "embeddings")
    idx = str(tmp_path / "ivf")
    half, rest = (em.filter(F.col("vec_id") % 2 == r) for r in (0, 1))
    ivf.build_ivf_index(half, idx, nlist=8)
    ivf.update_ivf_index(rest, idx, batch_id=1)
    dead = em.filter(F.col("vec_id") % 5 == 2).select("vec_id")
    ivf.delete_from_ivf_index(dead, idx)
    dead_ids = _ids(dead, "vec_id")
    _crash_between_swap_renames(monkeypatch)
    with pytest.raises(RuntimeError, match="swap renames"):
        ivf.update_ivf_index(rest, idx, batch_id=1)
    monkeypatch.undo()
    aside = os.path.join(idx, "cells", "batch=1" + store.ASIDE)
    assert _ids(spark.read.parquet(aside), "vec_id") == _ids(rest, "vec_id")
    seen = ivf.read_ivf_cells(spark, idx).select("vec_id")
    assert seen.count() == seen.distinct().count()
    assert _ids(seen, "vec_id") == _ids(half, "vec_id") - dead_ids
    assert ivf.update_ivf_index(rest, idx, batch_id=1) == 1
    assert not os.path.exists(aside)
    seen = ivf.read_ivf_cells(spark, idx).select("vec_id")
    assert seen.count() == seen.distinct().count()
    assert _ids(seen, "vec_id") == _ids(em, "vec_id") - dead_ids


@pytest.mark.parametrize(
    "caller", [_lake_leaf, _delete_vector, _zone_maps, _ivf_cells],
    ids=["lake_leaf", "delete_vector", "zone_maps", "ivf_cells"],
)
def test_swap_crash_window_keeps_committed_rows_and_converges(
    spark, tmp_path, monkeypatch, caller
):
    """store.swap_in cut between its two renames, in each caller that
    swaps a committed dir: every committed row survives the crash, deleted
    keys stay deleted, and the caller's next maintenance call converges."""
    caller(spark, tmp_path, monkeypatch)


@pytest.mark.parametrize("target", ["_CURRENT", "_hwm.json", "manifest"])
def test_concurrent_publishers_leave_one_whole_payload(tmp_path, target):
    """Two threads publishing the same small object through its real
    caller: every rename installs a whole file, so the survivor parses and
    is one of the two threads' last payloads, and no temp is left behind."""
    root = str(tmp_path / "store")
    os.makedirs(root)
    if target == "_CURRENT":
        path = os.path.join(root, "_CURRENT")

        def publish(me: int) -> None:
            store.commit_table_version(
                None, root, me, write=lambda _df, vtmp: os.makedirs(vtmp)
            )

        def last(me: int) -> dict:
            return {"version": me, "dir": store.committed_versions(root)[me]}

    elif target == "_hwm.json":
        path = os.path.join(root, "tombs", "_hwm.json")

        def publish(me: int) -> None:
            ivf._bump_tomb_hwm(root, [10 * (me + 1)])

        def last(me: int) -> dict:
            return {"hwm": 10 * (me + 1)}

    else:
        path = os.path.join(root, "_manifests", "manifest-0000000007.json")
        files = []
        for me in (0, 1):
            files.append(os.path.join(root, f"part-{me}.parquet"))
            with open(files[-1], "wb") as fh:
                fh.write(b"x" * (me + 1))

        def publish(me: int) -> None:
            L.write_manifest(root, 7, [files[me]], n_records=me)

        def last(me: int) -> dict:
            return {
                "batchId": 7,
                "entries": [{"url": files[me]}],
                "recordCount": me,
                "totalBytes": me + 1,
            }

    def hammer(me: int) -> None:
        for _ in range(150):
            publish(me)

    with ThreadPoolExecutor(max_workers=2) as pool:
        for f in [pool.submit(hammer, me) for me in (0, 1)]:
            f.result()
    with open(path) as fh:
        assert json.load(fh) in (last(0), last(1))
    parent = os.path.dirname(path)
    assert not [n for n in os.listdir(parent) if n.startswith(".")]


def _plant_torn_temp(final: str) -> None:
    """A publish_file temp as a crash strands it: hidden, half-written."""
    d, name = os.path.split(final)
    os.makedirs(d, exist_ok=True)
    with open(os.path.join(d, f".{name}.crashed.tmp"), "w") as fh:
        fh.write('{"entries": [{"url": "/nonexistent/part-0.parq')


def test_stranded_publish_temps_are_invisible(spark, tmp_path):
    """Stranded publish temps next to every published small object never
    reach a reader: manifest reads, vacuum, symlink export, the pointer
    store's resolution and the IVF tombstone listing."""
    lake_dir = str(tmp_path / "lake")
    env = synthesize_envelope(load(spark, SF, "orders")).limit(40)
    L.run_lake_batch(env, lake_dir, batch_id=0, raw_backup=False)
    n_rows = L.read_via_manifest(spark, lake_dir, 0).count()
    n_files = len(L.read_manifest(lake_dir, 0)["entries"])
    for sub in ("_manifests", "_staged"):
        _plant_torn_temp(os.path.join(lake_dir, sub, "manifest-0000000000.json"))
    assert L.read_via_manifest(spark, lake_dir, 0).count() == n_rows
    stats = L.vacuum_orphans(lake_dir, older_than_seconds=0)
    assert (stats.n_orphans, stats.n_kept) == (0, n_files)
    assert L.export_symlink_manifests(lake_dir) >= 1
    assert L.read_via_symlink_manifests(spark, lake_dir).count() == n_rows

    table = str(tmp_path / "table")
    store.commit_table_version(None, table, 3, write=lambda _df, v: os.makedirs(v))
    _plant_torn_temp(os.path.join(table, "_CURRENT"))
    assert store.committed_versions(table) == {3: "v3"}
    assert store.pointer_dir(table) == "v3"

    em = load(spark, SF, "embeddings")
    idx = str(tmp_path / "ivf")
    ivf.build_ivf_index(em, idx, nlist=4)
    dead = em.filter(F.col("vec_id") < 5).select("vec_id")
    ivf.delete_from_ivf_index(dead, idx, batch_id=4)
    ivf._bump_tomb_hwm(idx, [3])
    _plant_torn_temp(os.path.join(idx, "tombs", "_hwm.json"))
    _plant_torn_temp(os.path.join(idx, "_meta.json"))
    assert [b for b, _p, _h in ivf._tomb_batches(idx)] == [4]
    assert ivf._tomb_hwm(idx) == 3
    assert ivf.read_ivf_tombstones(spark, idx).count() == dead.count()
    assert ivf.read_ivf_cells(spark, idx).count() == em.count() - dead.count()
