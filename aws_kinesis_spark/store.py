"""The engine's on-disk store layout and its commit protocol: one module
owns both.

The commit protocol is three primitives, and every commit in the engine
goes through one of them:

- ``publish_file(path, text)``: the atomic small-object commit (lake and
  staged manifests, symlink manifests, ``_CURRENT``, the IVF ``_meta.json``
  and ``_hwm.json``). A unique hidden temp in the target dir, then one
  rename, so two writers never tear each other's file.
- ``swap_in(tmp, final)``: the atomic dir install (append-store folds and
  batches, version dirs, lake leaves, delete vectors, zone maps, IVF
  centroids, every ``write_hive_arrow`` dir). An existing ``final`` moves
  aside as ``<final>.prev.tmp`` and is reclaimed only after the new dir
  lands.
- ``recover_swap(final)``: the crash heal for a swap cut between its two
  renames. Writers that read ``final`` before swapping call it first;
  ``recover_swaps(root)`` runs it for every stranded swap under a store.

Store layouts, both hive-partitioned snappy parquet:

- The APPEND store (the dedup-ingest ``bands``/``corpus`` index, the IVF
  ``cells`` store)::

      root/batch=N/<part_col>=V/   # one dir per micro-batch / append
      root/compact=M/<part_col>=V/ # the fold of every batch=n<=M

  ``index_dirs`` resolves the live dirs, ``compact_store`` folds them and
  ``sweep_superseded_dirs`` reclaims what a committed fold superseded.

- The POINTER-SWAP store (warehouse upsert, SCD2 dimension, rollup)::

      table/v<N>[_<k>]/   # one version per batch id N, attempt k >= 1 on replay
      table/_CURRENT      # JSON pointer naming the live version dir

  ``commit_table_version`` writes a fresh version and flips the pointer;
  ``pointer_dir``, ``committed_versions``, ``version_dir`` and
  ``latest_version_dir_below`` resolve it.

Visibility rule shared by both: ``.tmp``-suffixed dir names are in-flight
writes or swap asides, dot-prefixed names are in-flight publishes and
driver-side dir writes, and both are invisible to every reader; names
that do not parse are ignored, never fatal.

Writers: ``write_hive_arrow`` lays out an Arrow table the driver holds;
``write_partitioned`` picks it or a clustered Spark write at the ONE
driver-memory gate, ``DRIVER_MAX_BYTES``. Callers read the gate as
``store.DRIVER_MAX_BYTES`` (a module attribute, not a copy), so one value
governs every driver-side path.
"""

from __future__ import annotations

import json
import os
import re
import shutil
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import IntegerType, LongType, StructField, StructType

# Upper bound on the bytes a driver-side path takes on: a per-trigger store
# write (the caller's input bytes), a compaction fold (its on-disk bytes) or
# the dedup trigger's standing probe. Below it the work runs on the driver
# with pyarrow — no Spark write job, no shuffle, no dynamic-partition
# commit on a trigger's critical path; above it (or when the size is
# unknown) it stays a clustered Spark job. The gate measures COMPRESSED
# parquet while the driver holds the decoded Arrow table (transiently twice
# across a concat): 32 MB leaves ~10-20x decompression headroom, so the peak
# stays in the low hundreds of MB. Size it to the driver, not to what Spark
# could shuffle.
DRIVER_MAX_BYTES = 32 << 20

# Input bytes per task for the store folds and the dedup trigger's signing
# and shuffles: partition counts scale with the data they carry, never with
# a constant tuned for local mode or for the cluster.
TASK_INPUT_BYTES = 256 << 10


# --------------------------------------------------------------- commit

# suffix of the committed dir a swap moves aside; like every ``.tmp`` name
# it is invisible to readers that list a store
ASIDE = ".prev.tmp"


def publish_file(path: str, text: str) -> None:
    """Atomically commit ``text`` as the file ``path``: readers see the old
    file or the new one, never a partial write. The temp is unique per
    call, so concurrent publishers of one path each install a whole file
    (the last rename wins), and it is dot-prefixed, so a temp stranded by a
    crash stays invisible to Spark, Hive and every manifest or dir lister.
    On S3 this is one single-object PUT (conditional where the caller
    needs a compare-and-swap)."""
    d, name = os.path.split(path)
    os.makedirs(d, exist_ok=True)
    fd, tmp = tempfile.mkstemp(dir=d, prefix=f".{name}.", suffix=".tmp")
    with os.fdopen(fd, "w") as fh:
        fh.write(text)
    os.replace(tmp, path)


def swap_in(tmp: str, final: str) -> None:
    """Install the finished dir ``tmp`` as ``final``. An existing ``final``
    moves aside in one rename to ``<final>.prev.tmp``, the new dir lands in
    a second, and only then is the aside copy reclaimed: committed data is
    never deleted before its replacement is in place. A crash between the
    two renames leaves ``final`` missing and its data in the aside copy;
    ``recover_swap`` restores it, and rerunning the write converges too.
    On S3 the dir is a prefix of objects made visible by one completion
    marker PUT."""
    prev = final + ASIDE
    if os.path.exists(final):
        shutil.rmtree(prev, ignore_errors=True)
        os.replace(final, prev)
    os.replace(tmp, final)
    shutil.rmtree(prev, ignore_errors=True)


def recover_swap(final: str) -> str | None:
    """Heal ``final`` after a crash in ``swap_in`` or in the write before
    it: an aside copy with ``final`` missing is renamed back ("restored"),
    an aside copy next to ``final`` is dropped ("cleaned"), and so is a
    stray ``<final>.tmp``. Returns the action taken, or None."""
    prev, action = final + ASIDE, None
    if os.path.exists(prev):
        if os.path.exists(final):
            shutil.rmtree(prev, ignore_errors=True)
            action = "cleaned"
        else:
            os.replace(prev, final)
            action = "restored"
    if os.path.exists(final + ".tmp"):
        shutil.rmtree(final + ".tmp", ignore_errors=True)
        action = action or "cleaned"
    return action


def recover_swaps(root: str) -> int:
    """Run recover_swap for every dir under ``root`` with a stranded aside
    (``<dir>.prev.tmp``) or rewrite (``<dir>.tmp``) sibling, so a walk
    that follows never misreads an aside as a live dir, and a numbering
    that follows counts the dir the aside holds. Dot-prefixed names are
    other writers' in-flight dir writes and are left alone. Returns the
    dirs healed."""
    healed = 0
    for dirpath, dirs, _files in os.walk(root):
        for d in [n for n in dirs if n.endswith(".tmp") and not n.startswith(".")]:
            final = d[: -len(ASIDE)] if d.endswith(ASIDE) else d[: -len(".tmp")]
            healed += recover_swap(os.path.join(dirpath, final)) is not None
            dirs.remove(d)  # healed away — don't descend
    return healed


# ---------------------------------------------------------------- files


def list_parquet_files(root: str) -> list[str]:
    """Every ``.parquet`` file under ``root``, sorted."""
    out: list[str] = []
    for dirpath, _dirs, files in os.walk(root):
        for f in files:
            if f.endswith(".parquet"):
                out.append(os.path.join(dirpath, f))
    return sorted(out)


_SPARK_ROW_METADATA = b"org.apache.spark.sql.parquet.row.metadata"


def _as_nullable(node):
    # Spark reads every file-source column as nullable; mirror that on the
    # JSON form of a schema (struct fields, array elements, map values)
    if isinstance(node, dict):
        return {
            k: True if k in ("nullable", "containsNull", "valueContainsNull")
            else _as_nullable(v)
            for k, v in node.items()
        }
    if isinstance(node, list):
        return [_as_nullable(v) for v in node]
    return node


def parquet_store_schema(path: str) -> StructType | None:
    """The schema ``spark.read.parquet(path)`` would infer, from ONE footer
    read on the driver with pyarrow — no Spark job. Spark infers a parquet
    schema with a distributed footer-read job, which in a micro-batch
    engine is scheduling with almost no work behind it; every store the
    engine wrote has one schema per store, so one footer is the answer.

    ``path`` is a data file or a store directory. Spark-written files
    carry their Spark schema in the footer metadata; pyarrow-written ones
    (the driver-side store writes) convert from the Arrow schema. The
    hive ``key=value`` dirs between a directory ``path`` and its first
    file append as partition columns, typed as Spark infers integers.
    Returns None when there is nothing to take a schema from (no data
    file, or a partition value that is not an integer): the caller then
    lets Spark infer."""
    import pyarrow.parquet as pq
    from pyspark.sql.pandas.types import from_arrow_schema

    if os.path.isdir(path):
        first = None
        for dirpath, dirs, files in os.walk(path):
            dirs[:] = sorted(d for d in dirs if not d.startswith(("_", ".")))
            data = sorted(
                f for f in files
                if f.endswith(".parquet") and not f.startswith(("_", "."))
            )
            if data:
                first = os.path.join(dirpath, data[0])
                break
        if first is None:
            return None
        rel = os.path.relpath(os.path.dirname(first), path)
        part_dirs = [] if rel == "." else rel.split(os.sep)
    else:
        first, part_dirs = path, []
    partition_fields = []
    for d in part_dirs:
        key, eq, value = d.partition("=")
        if not eq or not value.lstrip("-").isdigit():
            return None
        n = int(value)
        partition_fields.append(
            StructField(key, IntegerType() if -(2**31) <= n < 2**31 else LongType())
        )
    footer = pq.read_schema(first)
    spark_json = (footer.metadata or {}).get(_SPARK_ROW_METADATA)
    if spark_json is not None:
        data_schema = StructType.fromJson(json.loads(spark_json))
    else:
        data_schema = from_arrow_schema(footer, prefer_timestamp_ntz=True)
    schema = StructType(list(data_schema.fields) + partition_fields)
    return StructType.fromJson(_as_nullable(schema.jsonValue()))


# -------------------------------------------------------------- writers


def write_hive_arrow(tbl, out_dir: str, part_cols: str | list[str]) -> None:
    """Lay out an Arrow table the driver already holds (and byte-gates) as
    hive-partitioned snappy parquet under ``out_dir``: one file per value
    of ``part_cols`` (one column name, or a list nesting in that order),
    the layout Spark's partitioned writer produces, so readers cannot tell
    which side wrote a store. Replay-idempotent like ``mode("overwrite")``,
    and atomic: the table is staged in the hidden sibling ``.<name>.tmp``
    (invisible to Spark, Hive and dir_num) and installed with swap_in, so
    a reader of ``out_dir`` never lists a half-written file and a crash
    mid-write leaves the committed copy whole. The dir exists afterwards
    even for an empty table, as the Spark writer's does."""
    import pyarrow as pa
    import pyarrow.dataset as pds

    cols = [part_cols] if isinstance(part_cols, str) else part_cols
    head, name = os.path.split(out_dir)
    tmp = os.path.join(head, f".{name}.tmp")
    shutil.rmtree(tmp, ignore_errors=True)
    pds.write_dataset(
        tbl,
        tmp,
        format="parquet",
        partitioning=pds.partitioning(
            pa.schema([tbl.schema.field(c) for c in cols]), flavor="hive"
        ),
        existing_data_behavior="overwrite_or_ignore",
    )
    os.makedirs(tmp, exist_ok=True)
    swap_in(tmp, out_dir)


def write_partitioned(
    df: DataFrame, out_dir: str, part_col: str, in_bytes: int | None
) -> None:
    """Write ``df`` partitioned by ``part_col``, overwriting ``out_dir``.
    When the caller knows the input bytes behind ``df`` and they are at
    most ``DRIVER_MAX_BYTES``, one Arrow collect feeds write_hive_arrow;
    otherwise a Spark write clustered by the partition value, so each
    value lands about one file instead of one per upstream task."""
    if in_bytes is not None and in_bytes <= DRIVER_MAX_BYTES:
        write_hive_arrow(df.toArrow(), out_dir, part_col)
    else:
        df.repartition(F.col(part_col)).write.partitionBy(part_col).mode(
            "overwrite"
        ).parquet(out_dir)


# --------------------------------------------------------- append store


def dir_num(name: str, prefixes: tuple[str, ...]) -> int | None:
    """N of a committed ``<prefix>=N`` dir name for a prefix in
    ``prefixes``; None for a ``.tmp``-suffixed (invisible) name, another
    prefix, or a non-numeric N."""
    head, _, tail = name.partition("=")
    if head not in prefixes or not tail or name.endswith(".tmp"):
        return None
    try:
        return int(tail)
    except ValueError:
        return None


def newest_dir_num(path: str, prefixes: tuple[str, ...]) -> int:
    """Newest committed ``<prefix>=N`` dir number under ``path`` (-1 if
    none), by dir_num's visibility rule."""
    names = os.listdir(path) if os.path.isdir(path) else []
    nums = (dir_num(d, prefixes) for d in names)
    return max((n for n in nums if n is not None), default=-1)


def index_dirs(root: str, upto_exclusive: int | None = None) -> list[str]:
    """Live directories of an append store: the newest ``compact=M`` plus
    every ``batch=N`` with N > M (and N < upto_exclusive when given).
    Batch dirs at or below a completed compaction are superseded — ignoring
    them makes a crash between the compaction rename and the source-dir
    deletion harmless (no double counting)."""
    names = os.listdir(root) if os.path.isdir(root) else []
    compacts = {n: d for d in names if (n := dir_num(d, ("compact",))) is not None}
    base = max(compacts, default=-1)
    out = [os.path.join(root, compacts[base])] if compacts else []
    for d in names:
        n = dir_num(d, ("batch",))
        if n is not None and n > base and (
            upto_exclusive is None or n < upto_exclusive
        ):
            out.append(os.path.join(root, d))
    # an empty micro-batch commits a dir with no data files (just _SUCCESS)
    # — unreadable and contentless, skip it
    return sorted(d for d in out if list_parquet_files(d))


def read_index_dirs(
    spark: SparkSession, dirs: list[str], cols: list[str], schema=None
) -> DataFrame | None:
    """Union the per-dir reads of a bucketed append store. Each dir is read
    on its own so its hash-bucket subdirs infer as a partition column
    (mixing batch=/compact= names under one basePath would not); a bucket
    filter applied to the union pushes into every child scan's partition
    pruning. Passing ``schema`` (incl. the partition column) skips the
    per-dir footer-read inference job — on the per-trigger hot path that
    is one driver round-trip per store per dir, pure fixed cost."""
    if not dirs:
        return None
    reader = spark.read.schema(schema) if schema is not None else spark.read
    parts = [reader.parquet(d).select(*cols) for d in dirs]
    df = parts[0]
    for p in parts[1:]:
        df = df.unionByName(p)
    return df


def sweep_superseded_dirs(root: str, upto: int) -> None:
    """Once compact=<upto> is committed, EVERY compact=<k<upto> and
    batch=<n<=upto> dir is provably folded into it (older batches fed the
    older compaction that fed this one) — delete them all, not just one
    call's sources, so a crash between the rename and the delete loop
    cannot strand dirs forever."""
    for d in os.listdir(root):
        n = dir_num(d, ("batch", "compact"))
        if n is not None and (n < upto if d.startswith("compact=") else n <= upto):
            shutil.rmtree(os.path.join(root, d), ignore_errors=True)


def compact_store(spark: SparkSession, root: str, part_col: str, upto: int) -> int:
    """Fold one append store's per-batch directories at or below ``upto``
    (plus any older compaction) into ``compact=<upto>``, keeping the
    hash-partition layout. Bounds the per-read listing/open cost to
    O(batches since last compaction) instead of O(store lifetime). Commit
    is write-to-tmp + one atomic rename; idempotent (a replayed request
    against an existing compaction only finishes the sweep). Returns 1 if
    it folded, else 0.

    Compaction is a SMALL-FILES problem: the dirs being folded are a few
    micro-batches of metadata-scale rows, and it runs INSIDE a live
    trigger, so its wall time is trigger latency. When the fold's on-disk
    bytes are at most ``DRIVER_MAX_BYTES`` it runs on the driver with
    pyarrow (zero Spark jobs); above the gate it is a clustered Spark
    rewrite, the right tool once folds carry real data."""
    import pyarrow as pa
    import pyarrow.dataset as pds

    srcs = index_dirs(root, upto_exclusive=upto + 1)
    final = os.path.join(root, f"compact={upto}")
    if os.path.exists(final):
        sweep_superseded_dirs(root, upto)  # crash-recovery: finish cleanup
        return 0
    if len(srcs) <= 1:
        return 0
    tmp = final + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    total_bytes = sum(os.path.getsize(f) for s in srcs for f in list_parquet_files(s))
    if total_bytes <= DRIVER_MAX_BYTES:
        tables = [
            pds.dataset(s, format="parquet", partitioning="hive").to_table()
            for s in srcs
        ]
        write_hive_arrow(
            pa.concat_tables(tables, promote_options="permissive"), tmp, part_col
        )
    else:
        schema = parquet_store_schema(srcs[0])
        cols = [c for c in schema.fieldNames() if c != part_col] + [part_col]
        merged = read_index_dirs(spark, srcs, cols, schema)
        # cluster on the partition value before writing: one file per
        # bucket instead of files x source-dirs — every later reader opens
        # the compacted store, so open count is paid per read while this
        # shuffle is paid once per compaction. The fold's own task count,
        # never the session's: one per TASK_INPUT_BYTES of input, capped
        # at the partition values on disk, past which a hash-clustered
        # write only adds empty tasks
        values = {
            d for s in srcs for d in os.listdir(s) if d.startswith(part_col + "=")
        }
        n_tasks = max(1, min(len(values), total_bytes // TASK_INPUT_BYTES))
        merged.repartition(n_tasks, F.col(part_col)).write.partitionBy(
            part_col
        ).mode("overwrite").parquet(tmp)
    swap_in(tmp, final)
    sweep_superseded_dirs(root, upto)
    return 1


# --------------------------------------------------- pointer-swap store

_VERSION_DIR = re.compile(r"^v(\d+)(?:_(\d+))?$")


def version_of_dir(name: str) -> tuple[int, int] | None:
    """(batch id, attempt) of a version dir name: ``v<N>`` is attempt 0,
    ``v<N>_<k>`` attempt k. None for any other name, ``.tmp`` staging dirs
    included."""
    m = _VERSION_DIR.match(name)
    return (int(m.group(1)), int(m.group(2) or 0)) if m else None


def committed_versions(table_dir: str) -> dict[int, str]:
    """batch_id -> its last-committed dir NAME, for every version of a
    pointer-swap store. Attempt dirs are written complete-then-renamed, so
    the HIGHEST attempt present for a batch id is its newest committed
    state."""
    best: dict[int, tuple[int, str]] = {}
    for d in os.listdir(table_dir) if os.path.isdir(table_dir) else []:
        parsed = version_of_dir(d)
        if parsed is None:
            continue
        key, attempt = parsed
        if key not in best or attempt > best[key][0]:
            best[key] = (attempt, d)
    return {k: v[1] for k, v in best.items()}


def pointer_dir(table_dir: str) -> str | None:
    """Resolve the ``_CURRENT`` pointer to a version dir NAME (None before
    the first commit). Pointers carry an explicit ``dir``; ones carrying
    only ``version`` resolve by number."""
    ptr = os.path.join(table_dir, "_CURRENT")
    if not os.path.exists(ptr):
        return None
    with open(ptr) as fh:
        payload = json.load(fh)
    return payload.get("dir") or f"v{payload['version']}"


def version_dir(table_dir: str, version: int) -> str | None:
    """Resolve one committed version number to its dir: the highest
    attempt of ``v{version}``. Every committed attempt of a version holds
    identical content — the merge is deterministic and attempts only exist
    from replays of the same batch — so any complete attempt serves; the
    highest is simply the most recently committed."""
    d = committed_versions(table_dir).get(version)
    return os.path.join(table_dir, d) if d else None


def latest_version_dir_below(table_dir: str, batch_id: int) -> str | None:
    """The newest committed version dir OLDER than ``batch_id`` — the
    replay-safe merge base (a replayed batch must never merge on top of
    its own prior attempt)."""
    versions = committed_versions(table_dir)
    prev = [b for b in versions if b < batch_id]
    return os.path.join(table_dir, versions[max(prev)]) if prev else None


def commit_table_version(
    merged: DataFrame, table_dir: str, batch_id: int, write=None
) -> None:
    """Pointer-swap commit of one table version, for every versioned-dirs +
    ``_CURRENT`` store. The version is written under a FRESH name
    (``v{N}``, or ``v{N}_{attempt}`` when a replay finds ``v{N}``), staged
    through ``.tmp`` + one atomic rename, and only then does ``_CURRENT``
    flip to it. The live dir is never renamed away or rewritten, so
    concurrent readers always resolve a complete version, and a crash at
    any point leaves the pointer on a complete dir. ``write(df, vtmp)``
    customizes the physical write (the rollup's day-partitioned layout);
    default is a plain parquet write."""
    vdir = os.path.join(table_dir, f"v{batch_id}")
    attempt = 0
    while os.path.exists(vdir):
        attempt += 1
        vdir = os.path.join(table_dir, f"v{batch_id}_{attempt}")
    vtmp = vdir + ".tmp"
    shutil.rmtree(vtmp, ignore_errors=True)
    if write is None:
        merged.write.mode("overwrite").parquet(vtmp)
    else:
        write(merged, vtmp)
    swap_in(vtmp, vdir)
    publish_file(
        os.path.join(table_dir, "_CURRENT"),
        json.dumps({"version": batch_id, "dir": os.path.basename(vdir)}),
    )
