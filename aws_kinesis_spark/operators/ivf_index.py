"""Persistent IVF-ANN index: build once, probe many, maintain incrementally.

``knn_ivf`` (operators/similarity.py) trains and assigns per call — right
for one curation pass, wasteful for repeated kNN serving, where every query
re-pays the full corpus assignment. This module makes the index a STANDING
STORE, the vector analogue of the lake's zone maps (sources/lake.py:
update_zone_maps) and the g35 standing band index (streaming/pipeline.py):
the reference likewise re-queries committed state ad hoc rather than
recomputing it per question (reference README.md:441-449).

Layout (mirrors the g35 batch=/compact= standing-store protocol)::

    index_dir/
      _meta.json            # id/vec col names, row schema, nlist — atomic
      _centroids/           # nlist rows (cell, centroid) — atomic tmp+rename
      cells/batch=0/cell=C/ # cell-partitioned assignments from the build
      cells/batch=N/cell=C/ # appends from update_ivf_index (idempotent per N)
      tombs/batch=K/        # horizon-scoped delete tombstones
                            # (delete_from_ivf_index; merge-on-read like
                            # the lake's deletion vectors, applied
                            # physically + cleared at compaction)

Scale posture:
- build/update assign vectors in ONE Arrow matmul map pass (no shuffle
  before the cell-clustered write); centroids ride in the UDF closure.
- a probe reads ONLY the ``cell=C`` partitions its queries hash to —
  partition pruning does the candidate cut, no assignment UDF ever runs
  over the corpus again (plan-locked in tests/test_ivf_index.py).
- incremental maintenance keeps centroids FIXED and appends a new batch
  dir (the FAISS ``add`` contract): recall degrades only as far as the
  data distribution drifts from the trained sample, and a periodic
  rebuild is one ``build_ivf_index`` call over the same store.
"""

from __future__ import annotations

import json
import os
import shutil

import numpy as np

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from aws_kinesis_spark import store
from aws_kinesis_spark.operators.similarity import (
    cosine_topk_from_candidates,
    nearest_cell_udf,
    probe_cells_udf,
    probe_top_cells,
    train_ivf_centroids,
)

_META = "_meta.json"
_CENTROIDS = "_centroids"
_CELLS = "cells"
_TOMBS = "tombs"
_TOMB_META = "_tomb_meta.json"
_TOMB_HWM = "_hwm.json"
_APPLIED_TOMBS = "_applied_tombs.json"


def _meta_path(index_dir: str) -> str:
    return os.path.join(index_dir, _META)


def _load_meta(index_dir: str) -> dict:
    with open(_meta_path(index_dir)) as f:
        return json.load(f)


def _write_centroids(cent: np.ndarray, index_dir: str) -> None:
    """Centroids are DRIVER metadata (nlist x dim — the stored model, the
    vector analogue of a zone-map stats file): written with pyarrow
    directly, so a build spends no Spark job on an nlist-row table, and
    installed with store.swap_in like every other store dir."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    final = os.path.join(index_dir, _CENTROIDS)
    tmp = final + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    table = pa.table(
        {
            "cell": pa.array(range(len(cent)), pa.int32()),
            "centroid": pa.array(
                [c.tolist() for c in cent], pa.list_(pa.float64())
            ),
        }
    )
    pq.write_table(table, os.path.join(tmp, "part-0.parquet"))
    store.swap_in(tmp, final)


def _load_centroids(index_dir: str, nlist: int) -> np.ndarray:
    """Driver-side centroid load — nlist rows of planner metadata, read
    with pyarrow directly (no Spark collect job on the probe path; `_`-
    prefixed files like Spark's _SUCCESS are ignored per the hadoop
    convention, so stores written by earlier Spark-writing builds read
    identically)."""
    import pyarrow.parquet as pq

    t = pq.read_table(os.path.join(index_dir, _CENTROIDS)).to_pydict()
    rows = sorted(zip(t["cell"], t["centroid"]))[:nlist]
    return np.array([c for _, c in rows], dtype=np.float64)


def _cells_schema(meta: dict) -> T.StructType:
    """Row schema of the cells store incl. the ``cell`` partition column —
    passed to every read so no probe pays a footer-inference job."""
    base = T.StructType.fromJson(json.loads(meta["row_schema"]))
    return T.StructType(list(base.fields) + [T.StructField("cell", T.IntegerType())])


def _input_bytes_estimate(df: DataFrame, max_files: int = 256) -> int | None:
    """Upper bound on a frame's INPUT bytes from its scan's file list
    (public ``inputFiles()``; sizes from the local filesystem). None means
    \"unknown or definitionally large\": no resolvable files, more than
    ``max_files`` of them (a corpus-scale scan must not pay a driver stat
    loop just to learn it is large), or a non-local path."""
    from urllib.parse import unquote, urlparse

    try:
        files = df.inputFiles()
    except Exception:  # noqa: BLE001 — any resolution failure => unknown
        return None
    if not files or len(files) > max_files:
        return None
    total = 0
    for f in files:
        p = unquote(urlparse(f).path) if "://" in f else f
        try:
            total += os.path.getsize(p)
        except OSError:
            return None
    return total


def _write_cells_batch(assigned: DataFrame, cells_dir: str, batch_id: int) -> None:
    """One batch dir, committed ATOMICALLY (write to ``batch=N.tmp``, one
    rename): a crash mid-append must not leave a torn batch visible under
    a committed meta — unlike the g35 stores, an update_ivf_index caller
    has no streaming checkpoint forcing a replay that would overwrite it.
    ``.tmp``-suffixed dirs are invisible to store.index_dirs and to the
    auto-numbering listdir, and a stale one is reclaimed by the next write
    of the same batch id. Clustered by cell so each batch lands ~one file
    per cell (a probe's open cost is O(probed cells), not
    O(writer parallelism x cells)); MB-scale inputs (estimated from the
    scan's own file sizes) are laid out on the driver
    (store.write_partitioned)."""
    final = os.path.join(cells_dir, f"batch={batch_id}")
    tmp = final + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    store.write_partitioned(assigned, tmp, "cell", _input_bytes_estimate(assigned))
    store.swap_in(tmp, final)


def build_ivf_index(
    corpus: DataFrame,
    index_dir: str,
    nlist: int = 32,
    train_rows: int = 4096,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> int:
    """Train centroids on a bounded sample, assign the whole corpus in one
    Arrow map pass, and commit the index store. Re-running rebuilds in
    place (the cells store is reset to batch=0). Commit protocol: _meta.json
    is removed FIRST and rewritten LAST, so a crash mid-(re)build leaves a
    store every reader refuses as uncommitted — never a stale meta pointing
    at half-swapped centroids/cells. Returns the number of cells."""
    spark = corpus.sparkSession
    cent = train_ivf_centroids(corpus, nlist, train_rows, vec_col, id_col)
    base = corpus.select(id_col, vec_col)
    meta = {
        "id_col": id_col,
        "vec_col": vec_col,
        "nlist": int(len(cent)),
        "dim": int(cent.shape[1]),
        "row_schema": base.schema.json(),
    }
    os.makedirs(index_dir, exist_ok=True)
    # uncommit an existing index before touching its store: readers treat
    # a missing meta as "no index", which is exactly right mid-rebuild
    if os.path.exists(_meta_path(index_dir)):
        os.remove(_meta_path(index_dir))
    _write_centroids(cent, index_dir)

    cells_dir = os.path.join(index_dir, _CELLS)
    shutil.rmtree(cells_dir, ignore_errors=True)
    # tombstones die with the store generation they scope: a stale
    # tombstone (horizon >= 0) surviving a rebuild would wrongly cover
    # the rebuilt batch=0 rows and silently re-delete them; the cleared-id
    # high-water mark goes too (the manifests that could name those ids
    # were just removed with the cells dirs)
    shutil.rmtree(os.path.join(index_dir, _TOMBS), ignore_errors=True)
    os.makedirs(cells_dir, exist_ok=True)
    assigned = base.withColumn("cell", nearest_cell_udf(cent)(F.col(vec_col)))
    _write_cells_batch(assigned, cells_dir, 0)
    # meta last: its presence marks the index readable
    store.publish_file(_meta_path(index_dir), json.dumps(meta))
    return len(cent)


def update_ivf_index(
    new_vectors: DataFrame, index_dir: str, batch_id: int | None = None
) -> int:
    """Incremental maintenance: assign ONLY the new vectors against the
    STORED centroids (no retrain, no touch of existing cells — the zone-map
    maintenance posture) and append them as a new batch dir. Idempotent per
    batch_id: a replayed append overwrites its own dir and converges.
    Returns the batch id written."""
    meta = _load_meta(index_dir)
    cent = _load_centroids(index_dir, meta["nlist"])
    cells_dir = os.path.join(index_dir, _CELLS)
    # compact=M supersedes batches <= M, and store.index_dirs only reads batch
    # dirs ABOVE the newest compaction — an append numbered at or below it
    # would land INVISIBLE (written, never searchable, then swept by the
    # next compaction's cleanup: silent data loss). The auto-numbering
    # skips past it; an explicit replay id must clear it too.
    # SINGLE-WRITER assumption: this is a check-then-write, not a lock —
    # a compact_ivf_index racing between this listdir and
    # _write_cells_batch's rename could still supersede the in-flight
    # append. The store's posture is one maintainer process (same as the
    # dedup-ingest index); concurrent writers need external coordination.
    # A swap cut between its renames leaves batch N only in its aside dir:
    # heal it first, or the numbering would hand out N again and the swap
    # would reclaim the aside, losing batch N's rows for good.
    store.recover_swaps(cells_dir)
    newest_compact = store.newest_dir_num(cells_dir, ("compact",))
    if batch_id is None:
        batch_id = _newest_committed_cells(cells_dir) + 1
    elif batch_id <= newest_compact:
        raise ValueError(
            f"batch_id={batch_id} is at or below the newest compaction "
            f"(compact={newest_compact}): the append would be invisible to "
            "every probe and swept by the next compaction — replays of a "
            "compacted batch are already folded in; use a fresh id"
        )
    # cast to the index's stored row schema BEFORE writing: an appended
    # frame with a drifted type (LONG ids into an INT-id index,
    # array<double> into array<float>) would otherwise commit a batch the
    # schema-enforced probe read rejects — bricking every later probe
    # long after this append "succeeded" (the same defect class
    # delete_from_ivf_index casts away)
    base = T.StructType.fromJson(json.loads(meta["row_schema"]))
    assigned = new_vectors.select(
        *[F.col(f.name).cast(f.dataType).alias(f.name) for f in base.fields]
    ).withColumn("cell", nearest_cell_udf(cent)(F.col(meta["vec_col"])))
    _write_cells_batch(assigned, cells_dir, batch_id)
    return batch_id


def _newest_committed_cells(cells_dir: str) -> int:
    """Newest committed cells number (batch= or compact=), -1 if none."""
    return store.newest_dir_num(cells_dir, ("batch", "compact"))


def _tomb_batches(index_dir: str) -> list[tuple[int, str, int]]:
    """Committed tombstone batches: (batch_id, path, horizon) ascending."""
    root = os.path.join(index_dir, _TOMBS)
    out: list[tuple[int, str, int]] = []
    for d in os.listdir(root) if os.path.isdir(root) else []:
        n = store.dir_num(d, ("batch",))
        if n is None:
            continue
        path = os.path.join(root, d)
        meta_path = os.path.join(path, _TOMB_META)
        if not os.path.exists(meta_path):
            continue  # torn dir (no committed meta) — invisible
        with open(meta_path) as f:
            horizon = json.load(f)["horizon"]
        out.append((n, path, int(horizon)))
    return sorted(out)


def _tomb_hwm(index_dir: str) -> int:
    """High-water mark over CLEARED tombstone batch ids. Compaction bumps
    it when it clears applied tombstones, and delete auto-numbering starts
    past it — so a cleared id is never reused and a replayed compaction's
    applied-tombstones manifest can never name a LATER tombstone."""
    path = os.path.join(index_dir, _TOMBS, _TOMB_HWM)
    if not os.path.exists(path):
        return -1
    with open(path) as f:
        return int(json.load(f)["hwm"])


def _bump_tomb_hwm(index_dir: str, cleared: list[int]) -> None:
    if not cleared:
        return
    hwm = max(_tomb_hwm(index_dir), *cleared)
    store.publish_file(
        os.path.join(index_dir, _TOMBS, _TOMB_HWM), json.dumps({"hwm": hwm})
    )


def delete_from_ivf_index(
    ids: DataFrame, index_dir: str, batch_id: int | None = None
) -> int:
    """Delete vectors from the standing index by id — the lifecycle op the
    lake solves with deletion vectors (a19): MERGE-ON-READ tombstones, no
    rewrite of any cell file on the delete path.

    A tombstone batch records the ids plus the store's append HORIZON (the
    newest committed cells number at delete time): a probe drops a stored
    row only when ``row.src_batch <= tombstone.horizon``. That scoping
    gives deletes the deletion-vector semantics rather than a global
    id-ban: a vector re-appended AFTER the delete lands in a higher batch
    and is served again, exactly as a lake row re-inserted after a DV
    commit is. Physical removal happens at the next compaction
    (compact_ivf_index applies tombstones while folding and clears the
    fully-applied ones).

    Commit protocol mirrors update_ivf_index: write to ``batch=N.tmp``,
    one atomic rename (the in-dir ``_tomb_meta.json`` carries the horizon
    and is written BEFORE the rename, so a torn dir is invisible to
    readers). Idempotent per batch_id — a replay of an already-committed
    batch REUSES the committed dir's horizon rather than recomputing it
    (recomputation after an intervening append would silently widen the
    delete's scope onto re-appended rows); single-writer posture (same as
    appends). Returns the tombstone batch id."""
    meta = _load_meta(index_dir)
    id_col = meta["id_col"]
    # heal a stranded append swap first, as update_ivf_index does: a
    # horizon blind to the aside batch would leave its rows undeleted once
    # it is restored
    cells_dir = os.path.join(index_dir, _CELLS)
    store.recover_swaps(cells_dir)
    horizon = _newest_committed_cells(cells_dir)
    if horizon < 0:
        raise ValueError(f"IVF index {index_dir} has no committed cells")
    tombs_dir = os.path.join(index_dir, _TOMBS)
    os.makedirs(tombs_dir, exist_ok=True)
    # cleared tombstone ids are never reused (the _hwm.json high-water
    # mark): a replayed compaction clears exactly the ids its committed
    # manifest names, which is only sound if a cleared id cannot come back
    # as a NEW, not-yet-applied delete
    hwm = _tomb_hwm(index_dir)
    if batch_id is None:
        newest = max((b for b, _, _ in _tomb_batches(index_dir)), default=-1)
        batch_id = max(newest, hwm) + 1
    elif batch_id <= hwm:
        raise ValueError(
            f"tombstone batch_id={batch_id} is at or below the cleared "
            f"high-water mark ({hwm}): that id's delete was already applied "
            "and cleared by a compaction — a replayed compaction request "
            "would clear this new batch WITHOUT applying it; use a fresh id"
        )
    final = os.path.join(tombs_dir, f"batch={batch_id}")
    committed_meta = os.path.join(final, _TOMB_META)
    if os.path.exists(committed_meta):
        # replay of a committed batch: converge to the ORIGINAL commit's
        # horizon — the clock stopped when the delete first committed
        with open(committed_meta) as f:
            horizon = int(json.load(f)["horizon"])
    tmp = final + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    id_type = T.StructType.fromJson(json.loads(meta["row_schema"]))[id_col].dataType
    (
        # cast to the index's stored id type: a caller frame with a
        # narrower/wider id type would otherwise write a tombstone the
        # row_schema read rejects at probe time, long after the delete
        # "succeeded"
        ids.select(F.col(id_col).cast(id_type).alias(id_col))
        .distinct()
        .withColumn("__horizon", F.lit(horizon).cast("int"))
        .write.mode("overwrite")
        .parquet(tmp)
    )
    with open(os.path.join(tmp, _TOMB_META), "w") as f:
        json.dump({"horizon": horizon}, f)
    store.swap_in(tmp, final)  # replay overwrites; old copy survives the swap
    return batch_id


def read_ivf_tombstones(
    spark: SparkSession,
    index_dir: str,
    batches: list[tuple[int, str, int]] | None = None,
) -> DataFrame | None:
    """Live tombstones as (id_col, __horizon) — None when there are none.
    Listing is one driver listdir; the per-batch horizon rides as a column
    so the scoped anti-join needs no extra metadata join. ``batches``
    accepts a pre-listed _tomb_batches result so a caller that already
    listed (compact_ivf_index) doesn't re-read every _tomb_meta.json."""
    if batches is None:
        batches = _tomb_batches(index_dir)
    if not batches:
        return None
    meta = _load_meta(index_dir)
    base = T.StructType.fromJson(json.loads(meta["row_schema"]))
    schema = T.StructType(
        [base[meta["id_col"]], T.StructField("__horizon", T.IntegerType())]
    )
    df = spark.read.schema(schema).parquet(*[p for _, p, _ in batches])
    return df


def _read_cells_src_tagged(
    spark: SparkSession, dirs: list[str], meta: dict
) -> DataFrame:
    """Union the cells dirs with each row tagged by its source dir number
    (``__src``) — the scoping key of the tombstone anti-join."""
    schema = _cells_schema(meta)
    cols = [meta["id_col"], meta["vec_col"], "cell"]
    parts = []
    for s in dirs:
        n = store.dir_num(os.path.basename(s), ("batch", "compact"))
        parts.append(
            spark.read.schema(schema).parquet(s).select(*cols)
            .withColumn("__src", F.lit(n).cast("int"))
        )
    df = parts[0]
    for p in parts[1:]:
        df = df.unionByName(p)
    return df


def _anti_join_tombstones(df: DataFrame, tombs: DataFrame, id_col: str) -> DataFrame:
    """Drop rows covered by a tombstone: id matches AND the row's source
    batch is at or below the tombstone's horizon (so re-appends after the
    delete survive). Consumes and drops the ``__src`` tag."""
    t = tombs.select(
        F.col(id_col).alias("__tid"), F.col("__horizon").alias("__th")
    )
    return df.join(
        t,
        (F.col(id_col) == F.col("__tid")) & (F.col("__src") <= F.col("__th")),
        "left_anti",
    ).drop("__src")


def compact_ivf_index(spark: SparkSession, index_dir: str, upto: int) -> int:
    """Fold the cells store's per-batch dirs at or below ``upto`` into one
    ``compact=<upto>`` dir (one file per cell), bounding a probe's
    listing/open cost to O(appends since last compaction) instead of
    O(index lifetime) — the same store.compact_store commit (tmp + atomic
    rename, idempotent, crash-sweep) the dedup-ingest index uses.
    Centroids are untouched.

    With live tombstones the fold also APPLIES them (the merge-on-read
    debt is paid here, once, instead of on every probe): rows whose source
    batch is at or below a tombstone's horizon are dropped from the folded
    output, and tombstone batches whose horizon is <= ``upto`` — now fully
    applied, since every cells dir they could target was folded — are
    cleared. Tombstones with horizon > ``upto`` stay live (they can still
    target unfolded batches). Clearing is driven by the fold's COMMITTED
    manifest, not by recomputation: the compact dir carries
    ``_applied_tombs.json`` naming exactly the tombstone batch ids the
    fold applied, and a replayed request clears only those — a delete
    issued AFTER the fold (whose horizon can equal ``upto`` when nothing
    was appended since) is untouched, where a horizon-based re-sweep
    would have cleared it WITHOUT applying it and resurrected its rows.
    Cleared ids feed the tombstone high-water mark so they are never
    reused. A crash between the fold's rename and the sweep is harmless:
    re-applying a cleared-pending tombstone on read matches nothing (the
    rows are physically gone), and the next compact call finishes the
    sweep from the manifest. To physically apply deletes that arrived
    after a compaction, fold again to a HIGHER number (auto-numbered
    appends already skip past the old one); a request at or below an
    existing newer compaction is a stale replay and no-ops. Tombstone-
    present folds always take the Spark rewrite (a physical delete is
    real data work, not the metadata-scale fold the driver-side path is
    for)."""
    cells_dir = os.path.join(index_dir, _CELLS)
    tomb_batches = _tomb_batches(index_dir)
    final = os.path.join(cells_dir, f"compact={upto}")

    def _clear_applied(applied_ids: list[int]) -> None:
        # hwm FIRST, dirs second: once the bump lands, auto-numbering and
        # the explicit-id check skip the cleared ids even while their dirs
        # still exist, so a crash mid-clear can never let a NEW delete
        # reuse an id a replayed manifest still names (the dirs' rows are
        # physically gone from the fold — re-applying them matches nothing)
        _bump_tomb_hwm(index_dir, applied_ids)
        by_id = {b: path for b, path, _ in tomb_batches}
        for b in applied_ids:
            if b in by_id:
                shutil.rmtree(by_id[b], ignore_errors=True)

    if os.path.exists(final):
        # crash-recovery / replay: finish the sweeps. Clear ONLY the
        # tombstones the committed fold says it applied — never the ones
        # that arrived after it.
        store.sweep_superseded_dirs(cells_dir, upto)
        manifest = os.path.join(final, _APPLIED_TOMBS)
        if os.path.exists(manifest):
            with open(manifest) as f:
                _clear_applied(json.load(f)["applied"])
        return 0
    # stale replay guard: a request at or below an existing NEWER
    # compaction would rewrite that compaction's data into a dir
    # store.index_dirs never reads (the clean path no-ops on this via its
    # len(srcs) check)
    newest_compact = store.newest_dir_num(cells_dir, ("compact",))
    if upto <= newest_compact:
        return 0
    if not tomb_batches:
        return store.compact_store(spark, cells_dir, "cell", upto)

    srcs = store.index_dirs(cells_dir, upto_exclusive=upto + 1)
    if not srcs:
        return 0
    meta = _load_meta(index_dir)
    # per-dir source tags scope the anti-join exactly like the read path
    merged = _read_cells_src_tagged(spark, srcs, meta)
    tombs = read_ivf_tombstones(spark, index_dir, batches=tomb_batches)
    live = _anti_join_tombstones(merged, tombs, meta["id_col"])
    tmp = final + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    store.write_partitioned(live, tmp, "cell", None)
    # the manifest commits WITH the fold: exactly the fully-applied
    # tombstone batches (horizon inside the folded range) this fold pays
    applied = [b for b, _, horizon in tomb_batches if horizon <= upto]
    with open(os.path.join(tmp, _APPLIED_TOMBS), "w") as f:
        json.dump({"applied": applied}, f)
    store.swap_in(tmp, final)
    store.sweep_superseded_dirs(cells_dir, upto)
    _clear_applied(applied)
    return 1


def read_ivf_cells(
    spark: SparkSession,
    index_dir: str,
    cells: list[int] | None = None,
    include_deleted: bool = False,
) -> DataFrame:
    """The LIVE standing assignments across every batch dir; ``cells``
    partition-prunes the read to those cell ids (pushed into every child
    scan's PartitionFilters). Tombstones (delete_from_ivf_index) are
    applied merge-on-read: a stored row dies when some tombstone covers
    its id AND its source batch is at or below that tombstone's horizon —
    so re-appends after a delete stay visible. The tombstone check is one
    driver listdir when the store has never seen a delete (zero plan
    change on the serving path); when tombstones exist the anti-join runs
    AFTER partition pruning, over probed-cell rows only, with the
    tombstone side sized O(deletes since last compaction) — AQE broadcasts
    it. ``include_deleted=True`` skips the merge (the physical-store view
    compaction and audits read)."""
    meta = _load_meta(index_dir)
    cols = [meta["id_col"], meta["vec_col"], "cell"]
    schema = _cells_schema(meta)
    cells_dir = os.path.join(index_dir, _CELLS)
    dirs = store.index_dirs(cells_dir)
    if not dirs:
        # distinguish "never committed" (refuse) from "committed but
        # physically empty" — a fold whose every row was tombstoned
        # commits a compact dir with no data files, and that store must
        # keep serving (empty) results, not brick its read path
        if _newest_committed_cells(cells_dir) >= 0:
            return spark.createDataFrame([], T.StructType([schema[c] for c in cols]))
        raise ValueError(f"IVF index {index_dir} has no committed cells")
    tombs = None if include_deleted else read_ivf_tombstones(spark, index_dir)
    if tombs is None:
        df = store.read_index_dirs(spark, dirs, cols=cols, schema=schema)
        if cells is not None:
            df = df.filter(F.col("cell").isin(cells))
        return df
    df = _read_cells_src_tagged(spark, dirs, meta)
    if cells is not None:
        df = df.filter(F.col("cell").isin(cells))
    return _anti_join_tombstones(df, tombs, meta["id_col"])


def knn_ivf_indexed(
    spark: SparkSession,
    index_dir: str,
    queries: DataFrame,
    k: int = 10,
    nprobe: int = 4,
    query_id_col: str = "query_id",
    filter_ids: DataFrame | None = None,
    queries_are_small: bool = True,
    max_queries: int = 1 << 16,
) -> DataFrame:
    """ANN top-k against the STANDING index: no training, no corpus
    assignment — each query probes its nprobe nearest cells and only those
    ``cell=C`` partitions are ever opened.

    ``queries_are_small`` (the pairs_are_small convention) picks the probe
    strategy:
    - True (the serving default): the query vectors are collected under the
      explicit ``max_queries`` dial (raises above it) and the probe matmul
      runs ONCE driver-side against the centroids already in hand — no
      probe UDF in the plan at all, no extra Spark job for the probed-cell
      list, and the (queries x nprobe) probe table is safely broadcast.
    - False: queries stay distributed; the probe is the Arrow UDF
      evaluated ONCE (the probed-cell collect materializes the persisted
      probe table the returned plan then reads), the probed-cell list is
      one bounded collect (<= nlist distinct ints, the g35 bucket-collect
      pattern), and the join strategy is left to AQE (no broadcast hint —
      the query side is declared large).

    ``filter_ids`` (one id column named like the index's id_col) applies a
    metadata PRE-filter: qualifying ids semi-join the probed cells BEFORE
    any distance work, so top-k is exact over the qualifying subset of the
    probed cells — the g41 composition, without the unbounded recall loss
    of post-filtering an unfiltered top-k.

    NULL-id posture (family convention, similarity.py's kNN kernels): ids
    are join/self-match keys, so a NULL query id matches no candidates
    and a NULL stored id is never returned (and never deleted by a
    tombstone) — feed surrogate ids if NULLs are possible."""
    meta = _load_meta(index_dir)
    id_col, vec_col = meta["id_col"], meta["vec_col"]
    cent = _load_centroids(index_dir, meta["nlist"])
    if queries_are_small:
        # bounded driver collect: the explicit-dial convention of the IVF
        # training sample (and the max_reference eval-set probe)
        qrows = queries.select(query_id_col, vec_col).limit(max_queries + 1).collect()
        if len(qrows) > max_queries:
            raise ValueError(
                f"query set exceeds max_queries={max_queries}; pass "
                "queries_are_small=False to keep the probe distributed"
            )
        if not qrows:
            # same semantics as the distributed path and the pre-store
            # kernels: an empty query batch returns an empty top-k
            id_type = T.StructType.fromJson(json.loads(meta["row_schema"]))[
                id_col
            ].dataType
            return spark.createDataFrame(
                [],
                T.StructType(
                    [
                        T.StructField(
                            query_id_col, queries.schema[query_id_col].dataType
                        ),
                        T.StructField("neighbor_id", id_type),
                        T.StructField("cos_sim", T.DoubleType()),
                    ]
                ),
            )
        import pandas as pd

        # the SHARED probe kernel (similarity.probe_top_cells) — the same
        # normalize+matmul+argsort the Arrow UDF runs, so both strategies
        # agree by construction
        top = probe_top_cells(
            np.array([r[1] for r in qrows], dtype=np.float64), cent, nprobe
        )
        probed = sorted({int(c) for c in top.reshape(-1)})
        reps = top.shape[1]
        qpdf = pd.DataFrame(
            {
                query_id_col: [r[0] for r in qrows for _ in range(reps)],
                "__qvec": [r[1] for r in qrows for _ in range(reps)],
                "cell": top.reshape(-1),
            }
        )
        # __qvec keeps the QUERY table's own element type — exactly what
        # the distributed path's `F.col(vec_col).alias("__qvec")` carries,
        # so cosine scores match across strategies even when the query
        # type differs from the index's stored type
        qdf = spark.createDataFrame(
            qpdf,
            T.StructType(
                [
                    T.StructField(query_id_col, queries.schema[query_id_col].dataType),
                    T.StructField("__qvec", queries.schema[vec_col].dataType),
                    T.StructField("cell", T.IntegerType()),
                ]
            ),
        )
        qside = F.broadcast(qdf)
    else:
        probe = probe_cells_udf(cent, nprobe)
        qdf = queries.select(
            F.col(query_id_col),
            F.col(vec_col).alias("__qvec"),
            F.explode(probe(F.col(vec_col))).alias("cell"),
        ).localCheckpoint(eager=True)
        # The eager local checkpoint materializes the (queries x nprobe)
        # probe table ONCE and CUTS LINEAGE: the probed-cell collect and
        # the returned plan both read the checkpointed blocks, so the
        # probe UDF evaluates exactly once. Unlike .persist() — whose
        # cache entry outlives the call until an explicit unpersist,
        # leaking one relation per probe in a serving loop — checkpoint
        # blocks are freed by the ContextCleaner as soon as the returned
        # DataFrame is unreachable.
        # bounded driver collect: <= nlist distinct cell ids — exactly the
        # partition-pruning key list a planner holds
        probed = [r[0] for r in qdf.select("cell").distinct().collect()]
        qside = qdf  # AQE decides the join strategy for a large query set
    cells = read_ivf_cells(spark, index_dir, cells=probed)
    if filter_ids is not None:
        cells = cells.join(filter_ids.select(id_col), id_col, "left_semi")
    cand = cells.join(qside, "cell").filter(F.col(id_col) != F.col(query_id_col))
    return cosine_topk_from_candidates(cand, k, vec_col, id_col, query_id_col)
