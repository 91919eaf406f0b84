"""Persistent IVF index (operators/ivf_index.py): build/update/probe
semantics, the no-reassignment plan lock, and the filtered-probe recall
contract (VERDICT r9 next-round #1 and #7)."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from aws_kinesis_spark.operators.ivf_index import (
    build_ivf_index,
    knn_ivf_indexed,
    read_ivf_cells,
    update_ivf_index,
)
from aws_kinesis_spark.operators.similarity import knn_bruteforce
from aws_kinesis_spark.tables import load

SF = "/root/testdata/sf0.001"


def _plan(df, mode: str = "formatted") -> str:
    return df._jdf.queryExecution().explainString(
        df.sparkSession._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            mode
        )
    )


@pytest.fixture(scope="module")
def em(spark):
    return load(spark, SF, "embeddings").cache()


@pytest.fixture()
def index(spark, em, tmp_path):
    idx = str(tmp_path / "ivf")
    build_ivf_index(em, idx, nlist=16)
    return idx


def _queries(em, n=5):
    return em.filter(F.col("vec_id") < n).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )


def test_build_then_probe_matches_recall_floor(spark, em, index):
    got = knn_ivf_indexed(spark, index, _queries(em), k=10, nprobe=8)
    exact = knn_bruteforce(em, _queries(em), k=10)
    hits = got.join(exact, ["query_id", "neighbor_id"], "left_semi").count()
    assert hits >= 0.5 * exact.count()


def test_probe_runs_no_corpus_assignment_and_prunes_partitions(spark, em, index):
    """THE standing-index contract: a probe must not re-assign the corpus.
    On the serving default (queries_are_small=True) the probe matmul runs
    driver-side against the in-hand centroids, so the plan contains ZERO
    Python evaluations (r10's single probe-UDF double-eval is gone — one
    fewer Spark job per repeated probe), and the cells scan must carry a
    PartitionFilters entry on ``cell`` (the probed-cell pruning), i.e.
    repeated queries pay O(probed cells), never O(corpus)."""
    sc = spark.sparkContext
    sc.setJobGroup("ivf-probe-build", "probe construction")
    try:
        got = knn_ivf_indexed(spark, index, _queries(em), k=10, nprobe=4)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    plan = _plan(got)
    assert "PartitionFilters: [cell" in plan, plan
    # simple mode prints each physical node exactly once
    simple = _plan(got, "simple")
    assert simple.count("ArrowEvalPython") == 0, simple
    assert simple.count("BatchEvalPython") == 0, simple
    # job-count lock: constructing the probe runs only the two bounded
    # driver collects (centroid load + query collect, the latter may take
    # an extra scale-up round under CollectLimit) — never a corpus job
    jobs = spark.sparkContext.statusTracker().getJobIdsForGroup("ivf-probe-build")
    assert len(jobs) <= 3, f"probe construction launched {len(jobs)} jobs"


def test_distributed_probe_keeps_single_udf_and_skips_broadcast(spark, em, index):
    """queries_are_small=False: the probe Arrow UDF evaluates ONCE — the
    eager local checkpoint materializes the probe table at construction
    and CUTS LINEAGE, so the returned plan carries ZERO Python eval nodes
    (round-11's documented double evaluation is gone) and the blocks are
    ContextCleaner-freed when the frame is dropped (no per-call cache
    leak, round-12 review). Partition pruning still applies, and the
    query side carries NO forced broadcast hint — a large query set must
    be allowed to shuffle (ADVICE r10)."""
    got = knn_ivf_indexed(
        spark, index, _queries(em), k=10, nprobe=4, queries_are_small=False
    )
    plan = _plan(got)
    assert "PartitionFilters: [cell" in plan, plan
    simple = _plan(got, "simple")
    # lineage is cut at the checkpointed probe table: the probe UDF pass
    # already ran, so NO Arrow eval node survives in the returned plan
    assert simple.count("ArrowEvalPython") == 0, simple
    assert simple.count("BatchEvalPython") == 0, simple
    assert "ExistingRDD" in simple or "Scan ExistingRDD" in simple, simple
    # (no CacheManager assertion: the session is shared across tests and
    # other fixtures may legitimately hold entries — the ExistingRDD scan
    # above already proves this path checkpoints instead of caching, and a
    # checkpoint cannot register the per-call cache entry that leaked)
    # same answers as the driver-side probe path
    small = knn_ivf_indexed(spark, index, _queries(em), k=10, nprobe=4)
    g = {(r.query_id, r.neighbor_id, r.cos_sim) for r in got.collect()}
    s = {(r.query_id, r.neighbor_id, r.cos_sim) for r in small.collect()}
    assert g == s


def test_update_appends_without_touching_existing_batches(spark, em, tmp_path):
    idx = str(tmp_path / "ivf")
    old = em.filter(F.col("vec_id") % 4 != 3)
    new = em.filter(F.col("vec_id") % 4 == 3)
    build_ivf_index(old, idx, nlist=16)
    batch0 = os.path.join(idx, "cells", "batch=0")
    before = {
        f: os.path.getmtime(os.path.join(dp, f))
        for dp, _, fs in os.walk(batch0)
        for f in fs
    }
    bid = update_ivf_index(new, idx)
    assert bid == 1
    after = {
        f: os.path.getmtime(os.path.join(dp, f))
        for dp, _, fs in os.walk(batch0)
        for f in fs
    }
    assert after == before, "incremental update rewrote the existing batch"
    # the store now covers the full corpus, exactly once each
    ids = read_ivf_cells(spark, idx).select("vec_id")
    assert ids.count() == em.count()
    assert ids.distinct().count() == em.count()


def test_update_is_idempotent_per_batch_id(spark, em, tmp_path):
    idx = str(tmp_path / "ivf")
    build_ivf_index(em.filter(F.col("vec_id") % 2 == 0), idx, nlist=16)
    new = em.filter(F.col("vec_id") % 2 == 1)
    update_ivf_index(new, idx, batch_id=1)
    update_ivf_index(new, idx, batch_id=1)  # replay converges
    ids = read_ivf_cells(spark, idx).select("vec_id")
    assert ids.count() == ids.distinct().count() == em.count()


def test_incrementally_added_vectors_are_searchable(spark, em, tmp_path):
    """A neighbor that lives ONLY in the appended batch must be returned:
    query vectors BY themselves after an exact-duplicate append should find
    their twin at cosine ~1.0."""
    idx = str(tmp_path / "ivf")
    build_ivf_index(em, idx, nlist=16)
    twins = em.filter(F.col("vec_id") < 3).select(
        (F.col("vec_id") + 1_000_000).alias("vec_id"), "embedding"
    )
    update_ivf_index(twins, idx)
    got = knn_ivf_indexed(spark, idx, _queries(em, 3), k=1, nprobe=4).collect()
    for r in got:
        assert r.neighbor_id == r.query_id + 1_000_000
        assert r.cos_sim == pytest.approx(1.0, abs=1e-4)


def test_filtered_probe_is_exact_over_qualifying_subset(spark, em, index):
    """filter_ids pre-filters INSIDE the probed cells (semi-join before any
    distance work): results contain only qualifying ids, and equal the
    brute-force top-k over (qualifying ∩ probed cells) — with nprobe=nlist
    the probed set is everything, so it must match the filtered brute
    force exactly."""
    qualifying = em.filter(F.col("vec_id") % 2 == 0).select("vec_id")
    got = knn_ivf_indexed(
        spark, index, _queries(em), k=5, nprobe=16, filter_ids=qualifying
    )
    exact = knn_bruteforce(em.join(qualifying, "vec_id", "left_semi"),
                           _queries(em), k=5)
    g = {(r.query_id, r.neighbor_id) for r in got.collect()}
    e = {(r.query_id, r.neighbor_id) for r in exact.collect()}
    assert g == e
    assert all(n % 2 == 0 for _, n in g)


def test_rebuild_resets_store_atomically(spark, em, tmp_path):
    idx = str(tmp_path / "ivf")
    build_ivf_index(em.filter(F.col("vec_id") < 50), idx, nlist=8)
    update_ivf_index(em.filter((F.col("vec_id") >= 50) & (F.col("vec_id") < 80)), idx)
    build_ivf_index(em, idx, nlist=16)  # full rebuild over the same dir
    ids = read_ivf_cells(spark, idx).select("vec_id")
    assert ids.count() == ids.distinct().count() == em.count()


def test_interrupted_append_stays_invisible(spark, em, tmp_path, monkeypatch):
    """Round-11 review: a crash mid-append must not leave a torn batch
    visible under the committed meta — the tmp-dir write is invisible to
    readers until its one commit rename, and the next auto-numbered append
    does not skip past the torn attempt's id."""
    import aws_kinesis_spark.operators.ivf_index as ivf

    idx = str(tmp_path / "ivf")
    half = em.filter(F.col("vec_id") % 2 == 0)
    rest = em.filter(F.col("vec_id") % 2 == 1)
    build_ivf_index(half, idx, nlist=8)
    n_before = read_ivf_cells(spark, idx).count()

    real_replace = os.replace

    def crash_before_commit(src, dst):
        if "batch=1" in str(dst):
            raise RuntimeError("crash before the append's commit rename")
        return real_replace(src, dst)

    monkeypatch.setattr(ivf.os, "replace", crash_before_commit)
    with pytest.raises(RuntimeError, match="commit rename"):
        update_ivf_index(rest, idx)
    monkeypatch.undo()
    # the torn attempt is invisible: same content as before the crash
    assert read_ivf_cells(spark, idx).count() == n_before
    # the retried append lands under the SAME id and completes the store
    assert update_ivf_index(rest, idx) == 1
    ids = read_ivf_cells(spark, idx).select("vec_id")
    assert ids.count() == ids.distinct().count() == em.count()


def test_empty_query_set_returns_empty_topk(spark, em, index):
    """An empty query batch returns an empty top-k frame (same semantics
    as the distributed path and the pre-store kernels), not an error."""
    got = knn_ivf_indexed(spark, index, _queries(em, 0), k=5, nprobe=4)
    assert got.count() == 0
    assert set(got.columns) == {"query_id", "neighbor_id", "cos_sim"}


def test_interrupted_rebuild_leaves_index_uncommitted(spark, em, tmp_path, monkeypatch):
    """ADVICE r10: a crash mid-rebuild must not leave the OLD meta standing
    over a half-swapped centroids/cells store — the meta is removed first,
    so readers see 'no index' until the rebuild recommits."""
    import aws_kinesis_spark.operators.ivf_index as ivf

    idx = str(tmp_path / "ivf")
    build_ivf_index(em, idx, nlist=8)

    def boom(*a, **k):
        raise RuntimeError("crash mid-rebuild")

    monkeypatch.setattr(ivf, "_write_cells_batch", boom)
    with pytest.raises(RuntimeError, match="crash mid-rebuild"):
        build_ivf_index(em, idx, nlist=16)
    monkeypatch.undo()
    with pytest.raises(FileNotFoundError):
        read_ivf_cells(spark, idx)
    # a fresh build over the same dir recovers the store completely
    build_ivf_index(em, idx, nlist=16)
    ids = read_ivf_cells(spark, idx).select("vec_id")
    assert ids.count() == ids.distinct().count() == em.count()


def test_compaction_folds_appends_and_later_appends_stay_visible(spark, em, tmp_path):
    """compact_ivf_index folds batch dirs into compact=<upto> (one file
    per cell), the store's content is unchanged, a post-compaction append
    auto-numbers PAST the compaction watermark (an append numbered at or
    below it would land invisible), and re-compacting is a no-op."""
    from aws_kinesis_spark.operators.ivf_index import compact_ivf_index

    idx = str(tmp_path / "ivf")
    thirds = [em.filter(F.col("vec_id") % 3 == r) for r in range(3)]
    build_ivf_index(thirds[0], idx, nlist=8)
    update_ivf_index(thirds[1], idx)  # batch=1
    assert compact_ivf_index(spark, idx, upto=1) == 1
    cells_root = os.path.join(idx, "cells")
    names = sorted(os.listdir(cells_root))
    assert "compact=1" in names and not any(n.startswith("batch=") for n in names)
    n01 = thirds[0].count() + thirds[1].count()
    assert read_ivf_cells(spark, idx).count() == n01

    bid = update_ivf_index(thirds[2], idx)  # must number past compact=1
    assert bid == 2
    ids = read_ivf_cells(spark, idx).select("vec_id")
    assert ids.count() == ids.distinct().count() == em.count()
    # probes read the compacted + appended store transparently
    got = knn_ivf_indexed(spark, idx, _queries(em), k=10, nprobe=8)
    exact = knn_bruteforce(em, _queries(em), k=10)
    hits = got.join(exact, ["query_id", "neighbor_id"], "left_semi").count()
    assert hits >= 0.5 * exact.count()
    # idempotent: a replayed compaction request is a no-op
    assert compact_ivf_index(spark, idx, upto=1) == 0


def test_full_probe_equals_bruteforce_exactly(spark, em, index):
    """With nprobe = nlist the probed set is the whole corpus, so the
    indexed path must return EXACTLY the brute-force top-k — same pairs,
    same scores (both rank by cosine desc, neighbor id asc); any drift
    means the index dropped or duplicated vectors."""
    got = knn_ivf_indexed(spark, index, _queries(em), k=10, nprobe=16)
    exact = knn_bruteforce(em, _queries(em), k=10)
    g = {(r.query_id, r.neighbor_id, r.cos_sim) for r in got.collect()}
    e = {(r.query_id, r.neighbor_id, r.cos_sim) for r in exact.collect()}
    assert g == e


def test_update_rejects_batch_id_at_or_below_compaction(spark, em, tmp_path):
    """An explicit batch_id at or below the newest compaction would write a
    batch dir store.index_dirs treats as superseded — appended vectors would be
    invisible to every probe and swept by the next compaction. The update
    must refuse loudly instead."""
    import pytest as _pytest

    from aws_kinesis_spark.operators.ivf_index import compact_ivf_index

    idx = str(tmp_path / "ivf")
    halves = [em.filter(F.col("vec_id") % 2 == r) for r in range(2)]
    build_ivf_index(halves[0], idx, nlist=8)
    update_ivf_index(halves[1], idx)  # batch=1
    assert compact_ivf_index(spark, idx, upto=1) == 1
    with _pytest.raises(ValueError, match="at or below the newest compaction"):
        update_ivf_index(halves[1], idx, batch_id=1)
    # and the store is untouched by the refused append
    ids = read_ivf_cells(spark, idx).select("vec_id")
    assert ids.count() == em.count()


def test_delete_hides_rows_and_full_probe_matches_bruteforce_remainder(
    spark, em, index
):
    """Tombstone deletes are merge-on-read: after delete_from_ivf_index
    the deleted ids vanish from reads and a FULL probe (nprobe = nlist)
    equals brute force over the remaining corpus exactly."""
    from aws_kinesis_spark.operators.ivf_index import delete_from_ivf_index

    dead = em.filter(F.col("vec_id") % 7 == 3).select("vec_id")
    delete_from_ivf_index(dead, index)
    live = read_ivf_cells(spark, index).select("vec_id")
    assert live.count() == em.count() - dead.count()
    assert live.join(dead, "vec_id", "left_semi").count() == 0
    got = knn_ivf_indexed(spark, index, _queries(em), k=10, nprobe=16)
    remaining = em.join(dead, "vec_id", "left_anti")
    exact = knn_bruteforce(remaining, _queries(em), k=10)
    g = {(r.query_id, r.neighbor_id, r.cos_sim) for r in got.collect()}
    e = {(r.query_id, r.neighbor_id, r.cos_sim) for r in exact.collect()}
    assert g == e
    # the physical store still holds every row (merge-on-read, no rewrite)
    assert read_ivf_cells(spark, index, include_deleted=True).count() == em.count()


def test_delete_is_horizon_scoped_so_reappends_survive(spark, em, tmp_path):
    """The deletion-vector semantics: a tombstone only covers rows
    appended at or before the delete's horizon. Re-appending a deleted
    vector lands in a higher batch and is served again."""
    from aws_kinesis_spark.operators.ivf_index import delete_from_ivf_index

    idx = str(tmp_path / "ivf")
    build_ivf_index(em, idx, nlist=8)
    dead = em.filter(F.col("vec_id") < 10).select("vec_id")
    delete_from_ivf_index(dead, idx)  # horizon = 0
    assert read_ivf_cells(spark, idx).count() == em.count() - dead.count()
    update_ivf_index(em.filter(F.col("vec_id") < 10), idx)  # batch=1 > horizon
    ids = read_ivf_cells(spark, idx).select("vec_id")
    assert ids.count() == em.count()
    assert ids.join(dead, "vec_id", "left_semi").count() == dead.count()


def test_delete_replay_is_idempotent_and_tmp_dir_invisible(spark, em, tmp_path):
    """A replayed tombstone batch overwrites its own dir and converges; a
    torn .tmp tombstone dir (no committed rename) is invisible."""
    import shutil

    from aws_kinesis_spark.operators.ivf_index import delete_from_ivf_index

    idx = str(tmp_path / "ivf")
    build_ivf_index(em, idx, nlist=8)
    dead = em.filter(F.col("vec_id") % 5 == 0).select("vec_id")
    bid = delete_from_ivf_index(dead, idx, batch_id=0)
    assert delete_from_ivf_index(dead, idx, batch_id=bid) == bid
    n_live = em.count() - dead.count()
    assert read_ivf_cells(spark, idx).count() == n_live
    # simulate a torn write: copy the committed dir to a .tmp name
    tombs = os.path.join(idx, "tombs")
    shutil.copytree(os.path.join(tombs, "batch=0"), os.path.join(tombs, "batch=1.tmp"))
    assert read_ivf_cells(spark, idx).count() == n_live  # unchanged


def test_compaction_applies_tombstones_physically_and_clears_them(
    spark, em, tmp_path
):
    """Folding with live tombstones pays the merge-on-read debt: the
    compacted store physically drops covered rows, fully-applied
    tombstones are cleared, and probe results are identical before and
    after the fold."""
    from aws_kinesis_spark.operators.ivf_index import (
        compact_ivf_index,
        delete_from_ivf_index,
    )

    idx = str(tmp_path / "ivf")
    halves = [em.filter(F.col("vec_id") % 2 == r) for r in range(2)]
    build_ivf_index(halves[0], idx, nlist=8)
    update_ivf_index(halves[1], idx)  # batch=1
    dead = em.filter(F.col("vec_id") % 6 == 1).select("vec_id")
    delete_from_ivf_index(dead, idx)  # horizon = 1
    before = {
        (r.query_id, r.neighbor_id, r.cos_sim)
        for r in knn_ivf_indexed(spark, idx, _queries(em), k=10, nprobe=8).collect()
    }
    assert compact_ivf_index(spark, idx, upto=1) == 1
    # tombstones fully applied (horizon 1 <= upto 1) -> cleared
    tombs = os.path.join(idx, "tombs")
    assert not any(
        d.startswith("batch=") for d in (os.listdir(tombs) if os.path.isdir(tombs) else [])
    )
    # physically gone, even on the raw store view
    n_live = em.count() - dead.count()
    assert read_ivf_cells(spark, idx, include_deleted=True).count() == n_live
    after = {
        (r.query_id, r.neighbor_id, r.cos_sim)
        for r in knn_ivf_indexed(spark, idx, _queries(em), k=10, nprobe=8).collect()
    }
    assert after == before


def test_partial_fold_keeps_future_horizon_tombstones_live(spark, em, tmp_path):
    """A tombstone whose horizon is above the fold boundary must survive
    the fold and keep covering the folded rows (the compacted dir's
    number is <= the horizon), while the fold still drops rows covered by
    its own range."""
    from aws_kinesis_spark.operators.ivf_index import (
        compact_ivf_index,
        delete_from_ivf_index,
    )

    idx = str(tmp_path / "ivf")
    thirds = [em.filter(F.col("vec_id") % 3 == r) for r in range(3)]
    build_ivf_index(thirds[0], idx, nlist=8)
    update_ivf_index(thirds[1], idx)  # batch=1
    update_ivf_index(thirds[2], idx)  # batch=2
    dead = em.filter(F.col("vec_id") % 4 == 2).select("vec_id")
    delete_from_ivf_index(dead, idx)  # horizon = 2 (covers every batch)
    n_live = em.count() - dead.count()
    assert compact_ivf_index(spark, idx, upto=1) == 1  # folds batches 0,1 only
    # horizon 2 > upto 1: the tombstone batch must still be live
    tombs = os.path.join(idx, "tombs")
    assert any(d.startswith("batch=") for d in os.listdir(tombs))
    # the merged view is still exactly the live set (folded rows stay
    # covered because compact=1 <= horizon 2; batch=2 rows are covered too)
    live = read_ivf_cells(spark, idx).select("vec_id")
    assert live.count() == n_live
    assert live.join(dead, "vec_id", "left_semi").count() == 0
    # a later full fold applies and clears it
    assert compact_ivf_index(spark, idx, upto=2) == 1
    assert not any(d.startswith("batch=") for d in os.listdir(tombs))
    assert read_ivf_cells(spark, idx, include_deleted=True).count() == n_live


def test_delete_requires_committed_cells(spark, em, tmp_path):
    from aws_kinesis_spark.operators.ivf_index import delete_from_ivf_index

    idx = str(tmp_path / "ivf")
    build_ivf_index(em, idx, nlist=8)
    import shutil

    shutil.rmtree(os.path.join(idx, "cells"))
    with pytest.raises(ValueError, match="no committed cells"):
        delete_from_ivf_index(em.select("vec_id"), idx)


def test_tombstoned_probe_keeps_pruning_and_adds_only_an_anti_join(spark, em, tmp_path):
    """Plan lock for the delete path: with tombstones present the probe
    plan must KEEP the probed-cell PartitionFilters and zero Python
    evaluations, adding exactly one LeftAnti join (the horizon-scoped
    tombstone merge) — and a store without tombstones must not build the
    anti-join at all."""
    from aws_kinesis_spark.operators.ivf_index import delete_from_ivf_index

    idx = str(tmp_path / "ivf")
    build_ivf_index(em, idx, nlist=16)
    clean = _plan(knn_ivf_indexed(spark, idx, _queries(em), k=10, nprobe=4), "simple")
    assert "LeftAnti" not in clean, clean
    delete_from_ivf_index(em.filter(F.col("vec_id") % 7 == 3), idx)
    got = knn_ivf_indexed(spark, idx, _queries(em), k=10, nprobe=4)
    plan = _plan(got)
    assert "PartitionFilters: [cell" in plan, plan
    simple = _plan(got, "simple")
    assert simple.count("ArrowEvalPython") == 0, simple
    assert simple.count("BatchEvalPython") == 0, simple
    assert simple.count("LeftAnti") == 1, simple


def test_replayed_compaction_never_clears_a_post_fold_delete(spark, em, tmp_path):
    """The resurrection bug (round-13 self-review): a delete issued AFTER
    a compaction can carry horizon == that compaction's number. A
    REPLAYED compact request at the same number must not clear it (the
    fold never applied it) — clearing is driven by the fold's committed
    _applied_tombs.json manifest, not by horizon recomputation."""
    from aws_kinesis_spark.operators.ivf_index import (
        compact_ivf_index,
        delete_from_ivf_index,
    )

    idx = str(tmp_path / "ivf")
    halves = [em.filter(F.col("vec_id") % 2 == r) for r in range(2)]
    build_ivf_index(halves[0], idx, nlist=8)
    update_ivf_index(halves[1], idx)  # batch=1
    assert compact_ivf_index(spark, idx, upto=1) == 1  # clean fold, no tombs
    dead = em.filter(F.col("vec_id") % 9 == 4).select("vec_id")
    delete_from_ivf_index(dead, idx)  # horizon = 1 == the compaction number
    n_live = em.count() - dead.count()
    assert read_ivf_cells(spark, idx).count() == n_live
    # replayed request at the same number: MUST leave the tombstone live
    assert compact_ivf_index(spark, idx, upto=1) == 0
    tombs = os.path.join(idx, "tombs")
    assert any(d.startswith("batch=") for d in os.listdir(tombs))
    assert read_ivf_cells(spark, idx).count() == n_live  # no resurrection
    # folding to a HIGHER number applies and clears it
    assert compact_ivf_index(spark, idx, upto=2) == 1
    assert not any(d.startswith("batch=") for d in os.listdir(tombs))
    assert read_ivf_cells(spark, idx, include_deleted=True).count() == n_live


def test_cleared_tombstone_ids_are_never_reused(spark, em, tmp_path):
    """After a fold clears tombstone batch 0, the next delete must
    auto-number past it (the _hwm.json high-water mark), and an explicit
    replay of the cleared id must be refused — otherwise a replayed
    compaction manifest naming id 0 could clear the NEW delete without
    applying it."""
    from aws_kinesis_spark.operators.ivf_index import (
        compact_ivf_index,
        delete_from_ivf_index,
    )

    idx = str(tmp_path / "ivf")
    build_ivf_index(em, idx, nlist=8)
    update_ivf_index(em.limit(0), idx)  # batch=1 (empty — just a horizon bump)
    first = em.filter(F.col("vec_id") % 11 == 0).select("vec_id")
    assert delete_from_ivf_index(first, idx) == 0
    assert compact_ivf_index(spark, idx, upto=1) == 1  # applies + clears 0
    second = em.filter(F.col("vec_id") % 11 == 1).select("vec_id")
    assert delete_from_ivf_index(second, idx) == 1  # NOT 0
    with pytest.raises(ValueError, match="high-water mark"):
        delete_from_ivf_index(second, idx, batch_id=0)
    # the second delete stays live and effective
    live = read_ivf_cells(spark, idx).select("vec_id")
    assert live.join(second, "vec_id", "left_semi").count() == 0


def test_delete_replay_reuses_committed_horizon(spark, em, tmp_path):
    """Round-13 review: a replayed delete (same batch_id) after an
    intervening re-append must NOT recompute the horizon — widening it
    would delete the re-appended rows and break the re-append-survives
    contract."""
    from aws_kinesis_spark.operators.ivf_index import delete_from_ivf_index

    idx = str(tmp_path / "ivf")
    build_ivf_index(em, idx, nlist=8)
    dead = em.filter(F.col("vec_id") < 10).select("vec_id")
    delete_from_ivf_index(dead, idx, batch_id=0)  # horizon = 0
    update_ivf_index(em.filter(F.col("vec_id") < 10), idx)  # re-append, batch=1
    assert read_ivf_cells(spark, idx).count() == em.count()
    # at-least-once replay of the SAME delete request
    delete_from_ivf_index(dead, idx, batch_id=0)
    # the re-appended rows must still be served (horizon stayed 0)
    ids = read_ivf_cells(spark, idx).select("vec_id")
    assert ids.count() == em.count()
    assert ids.join(dead, "vec_id", "left_semi").count() == dead.count()


def test_full_revocation_fold_keeps_store_readable(spark, em, tmp_path):
    """Round-13 review: deleting EVERY vector and folding commits a
    compact dir with no data files — the store must keep serving empty
    results, not raise 'no committed cells'."""
    from aws_kinesis_spark.operators.ivf_index import (
        compact_ivf_index,
        delete_from_ivf_index,
    )

    idx = str(tmp_path / "ivf")
    build_ivf_index(em, idx, nlist=8)
    delete_from_ivf_index(em.select("vec_id"), idx)
    assert compact_ivf_index(spark, idx, upto=0) == 1
    assert read_ivf_cells(spark, idx).count() == 0
    assert read_ivf_cells(spark, idx, include_deleted=True).count() == 0
    got = knn_ivf_indexed(spark, idx, _queries(em), k=10, nprobe=8)
    assert got.count() == 0
    # the store is still maintainable: a fresh append numbers past the
    # fold and is served
    update_ivf_index(em.filter(F.col("vec_id") < 20), idx)
    assert read_ivf_cells(spark, idx).count() == em.filter(F.col("vec_id") < 20).count()


def test_stale_compact_request_noops_with_tombstones(spark, em, tmp_path):
    """Round-13 review: a replayed compact request at or below an existing
    newer compaction must no-op on the tombstone path too — not rewrite
    the newest compaction into a stray superseded dir."""
    from aws_kinesis_spark.operators.ivf_index import (
        compact_ivf_index,
        delete_from_ivf_index,
    )

    idx = str(tmp_path / "ivf")
    halves = [em.filter(F.col("vec_id") % 2 == r) for r in range(2)]
    build_ivf_index(halves[0], idx, nlist=8)
    update_ivf_index(halves[1], idx)
    update_ivf_index(em.limit(0), idx)  # batch=2 horizon bump target
    assert compact_ivf_index(spark, idx, upto=2) == 1
    dead = em.filter(F.col("vec_id") % 13 == 5).select("vec_id")
    delete_from_ivf_index(dead, idx)  # live tombstone, horizon = 2
    # stale replays below the newest compaction: no-op, no stray dirs
    assert compact_ivf_index(spark, idx, upto=1) == 0
    names = sorted(os.listdir(os.path.join(idx, "cells")))
    assert names == ["compact=2"], names
    # the tombstone survives and keeps filtering
    n_live = em.count() - dead.count()
    assert read_ivf_cells(spark, idx).count() == n_live


def test_delete_casts_ids_to_the_index_id_type(spark, em, tmp_path):
    """Round-13 review: a caller id frame with a narrower type (INT vs the
    index's LONG) must not write a tombstone the row_schema read rejects
    at probe time."""
    from aws_kinesis_spark.operators.ivf_index import delete_from_ivf_index

    idx = str(tmp_path / "ivf")
    build_ivf_index(em, idx, nlist=8)  # vec_id is LONG
    dead_int = spark.createDataFrame(
        [(3,), (7,), (11,)], "vec_id INT"
    )
    delete_from_ivf_index(dead_int, idx)
    live = read_ivf_cells(spark, idx).select("vec_id")
    assert live.count() == em.count() - 3
    assert live.filter(F.col("vec_id").isin(3, 7, 11)).count() == 0


def test_plain_rebuild_over_tombstoned_store_clears_stale_tombstones(
    spark, em, tmp_path
):
    """The module docstring's 'a periodic rebuild is one build_ivf_index
    call' contract: rebuilding from an external corpus over a tombstoned
    store must not let the OLD generation's tombstones (horizon >= 0)
    cover the NEW batch=0 rows."""
    from aws_kinesis_spark.operators.ivf_index import delete_from_ivf_index

    idx = str(tmp_path / "ivf")
    build_ivf_index(em, idx, nlist=8)
    delete_from_ivf_index(em.filter(F.col("vec_id") < 50).select("vec_id"), idx)
    build_ivf_index(em, idx, nlist=8)  # rebuild from the full corpus
    # every corpus row is served — the stale tombstone died with the
    # generation it scoped
    assert read_ivf_cells(spark, idx).count() == em.count()


def test_filtered_probe_composes_with_tombstones(spark, em, tmp_path):
    """filter_ids (the g41 pre-filter) and tombstones (g52) compose: the
    probe is exact over qualifying AND live rows — deletes are applied
    inside read_ivf_cells before the filter semi-join ever runs."""
    from aws_kinesis_spark.operators.ivf_index import delete_from_ivf_index

    idx = str(tmp_path / "ivf")
    build_ivf_index(em, idx, nlist=16)
    dead = em.filter(F.col("vec_id") % 4 == 1).select("vec_id")
    delete_from_ivf_index(dead, idx)
    qualifying = em.filter(F.col("vec_id") % 3 == 0).select("vec_id")
    got = knn_ivf_indexed(
        spark, idx, _queries(em), k=5, nprobe=16, filter_ids=qualifying
    )
    corpus = em.join(qualifying, "vec_id", "left_semi").join(
        dead, "vec_id", "left_anti"
    )
    exact = knn_bruteforce(corpus, _queries(em), k=5)
    g = {(r.query_id, r.neighbor_id, r.cos_sim) for r in got.collect()}
    e = {(r.query_id, r.neighbor_id, r.cos_sim) for r in exact.collect()}
    assert g == e


def test_distributed_probe_applies_tombstones(spark, em, tmp_path):
    """The queries_are_small=False strategy reads the same tombstone-
    merged cells view: deletes must filter the distributed probe too."""
    from aws_kinesis_spark.operators.ivf_index import delete_from_ivf_index

    idx = str(tmp_path / "ivf")
    build_ivf_index(em, idx, nlist=16)
    dead = em.filter(F.col("vec_id") % 6 == 2).select("vec_id")
    delete_from_ivf_index(dead, idx)
    got = knn_ivf_indexed(
        spark, idx, _queries(em), k=10, nprobe=16, queries_are_small=False
    )
    exact = knn_bruteforce(em.join(dead, "vec_id", "left_anti"), _queries(em), k=10)
    g = {(r.query_id, r.neighbor_id, r.cos_sim) for r in got.collect()}
    e = {(r.query_id, r.neighbor_id, r.cos_sim) for r in exact.collect()}
    assert g == e


def test_update_casts_drifted_types_to_the_stored_schema(spark, em, tmp_path):
    """Round-13 review: an append with a drifted frame type (LONG ids /
    array<double> into an INT-id / array<float> index) must be cast to
    the stored row schema at write — not committed as a batch the
    schema-enforced probe read rejects, bricking the index after the
    append 'succeeded'."""
    idx = str(tmp_path / "ivf_drift")
    narrow = em.select(
        F.col("vec_id").cast("int").alias("vec_id"),
        F.col("embedding").cast("array<float>").alias("embedding"),
    )
    build_ivf_index(narrow.filter(F.col("vec_id") % 2 == 0), idx, nlist=8)
    drifted = em.filter(F.col("vec_id") % 2 == 1).select(
        F.col("vec_id").cast("long").alias("vec_id"),
        F.col("embedding").cast("array<double>").alias("embedding"),
    )
    update_ivf_index(drifted, idx)
    got = knn_ivf_indexed(spark, idx, _queries(em, 3), k=5, nprobe=8)
    rows = got.collect()
    assert rows and any(r.neighbor_id % 2 == 1 for r in rows)


def test_null_embedding_fails_with_named_error(spark, em, tmp_path):
    """A NULL embedding in an append must die with the NAMED ValueError
    from the batch kernel, not a cryptic numpy TypeError deep in an
    executor (round-13 review)."""
    idx = str(tmp_path / "ivf_null")
    build_ivf_index(em, idx, nlist=8)
    bad = spark.createDataFrame(
        [(99991, None)], "vec_id LONG, embedding ARRAY<DOUBLE>"
    )
    with pytest.raises(Exception, match="NULL embedding"):
        update_ivf_index(bad, idx)
