"""Deduplication operators (SURVEY.md §2.G G1-G2): exact, MinHash+LSH,
n-gram Jaccard, SimHash, embedding-cosine near-dup.

Scale design: nothing here is a naive cross join. Exact dedup is a hash
groupBy; MinHash/LSH generates candidates via a band-bucket self-join
(shuffle on band hash, skew-safe because band buckets are tiny); SimHash
uses the pigeonhole chunk join; embedding near-dup is a distributed blocked
matmul (B(B+1)/2 block-pair groups, BLAS inside each) with the sign-bucket
LSH in operators/similarity.py as the candidate-pruning path beyond ~1e7
vectors. The only O(n^2)-per-bucket work happens inside candidate buckets /
block pairs, whose size is controlled by the banding/blocking parameters.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from aws_kinesis_spark.functions.text import shingles


# the input-parallelism guard moved to operators/partitioning.py (owned
# with the other layout helpers; training.py consumes it publicly too) —
# dedup call sites keep the short local name
from aws_kinesis_spark.operators.partitioning import spread_input as _spread


def _check_banding(num_hashes: int, bands: int) -> int:
    """Validate (num_hashes, bands) and return rows-per-band. bands must
    DIVIDE num_hashes: the silent floor division otherwise ignores the
    trailing num_hashes - bands*(num_hashes//bands) signature hashes —
    minhashes the caller paid to compute that never reach a band — and the
    recall S-curve quietly differs from the documented 1-(1-s^r)^bands for
    the parameters the caller thinks they set (bands > num_hashes even
    built a zero-argument xxhash64, failing far from the bad parameter;
    round-13 review)."""
    if bands <= 0 or num_hashes % bands != 0:
        raise ValueError(
            f"bands ({bands}) must be a positive divisor of num_hashes "
            f"({num_hashes}): non-dividing values silently drop the "
            "trailing signature hashes from every band"
        )
    return num_hashes // bands


def _band_hash_array(num_hashes: int, bands: int) -> F.Column:
    """The banding expression: array of ``bands`` xxhash64 values, band b
    hashing signature columns h{b*r}..h{b*r+r-1}. ONE definition for every
    Column-form consumer (batch LSH + incremental index) — band_rows keeps
    a value-identical parsed-SQL twin for per-trigger plan-build latency
    and documents the equivalence in place; cross-path candidate agreement
    is pinned by the g20/g35 differential oracles."""
    r = _check_banding(num_hashes, bands)
    return F.array(
        *[F.xxhash64(*[f"h{b * r + j}" for j in range(r)]) for b in range(bands)]
    )


def exact_dedup(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """G1: exact dedup by content hash — keeper is the smallest id per hash
    group (deterministic), with the group size recorded. sha-256, not md5:
    md5 chosen-prefix collisions are practically constructible, and a web
    corpus can carry crafted colliding blobs — "exact" dedup must not
    merge distinct documents an adversary paired up (round-11 review).

    NULL-text documents are EXCLUDED, each its own implicit keeper:
    sha2(NULL) is NULL and groupBy treats NULL keys as equal, so two
    documents of UNKNOWN content would otherwise be declared exact copies
    and one slated for deletion (round-13 review)."""
    return (
        docs.filter(F.col(text_col).isNotNull())
        .withColumn("__h", F.sha2(F.col(text_col), 256))
        .groupBy("__h")
        .agg(F.min(id_col).alias("keeper_id"), F.count("*").alias("n_copies"))
        .drop("__h")
    )


_M64 = (1 << 64) - 1

# Upper bound on shingle hashes processed per numpy kernel invocation inside
# the signature pandas UDFs. The kernels build an O(chunk x 64) transient
# (minhash: uint64 affine values; simhash: int64 bit counts) — unchunked,
# an Arrow batch of long documents (10k rows x 5k shingles) would transiently
# allocate tens of GB and OOM the worker. 2^19 hashes caps the transient at
# ~256 MB while keeping the vectorization win; a single pathological doc
# larger than the chunk is processed alone (the transient is then bounded by
# that one doc, which is irreducible).
_CHUNK_SHINGLES = 1 << 19


def _doc_chunks(arrs: list, lens, chunk: int | None = None):
    """Segment a batch of per-doc hash arrays into chunks of at most
    `chunk` (default _CHUNK_SHINGLES) total hashes, aligned to doc
    boundaries. Yields (row_slice, flat_hashes, reduceat_offsets,
    nonempty_mask) — offsets index flat_hashes per NONEMPTY doc in the
    slice."""
    cap = chunk if chunk is not None else _CHUNK_SHINGLES
    start, n = 0, len(arrs)
    while start < n:
        end, tot = start, 0
        while end < n and (tot == 0 or tot + int(lens[end]) <= cap):
            tot += int(lens[end])
            end += 1
        seglens = lens[start:end]
        nonempty = seglens > 0
        flat = (
            np.concatenate([x for x in arrs[start:end] if len(x)])
            if nonempty.any()
            else np.empty(0, dtype=np.uint64)
        )
        offsets = np.zeros(int(nonempty.sum()), dtype=np.int64)
        if len(offsets) > 1:
            np.cumsum(seglens[nonempty][:-1], out=offsets[1:])
        yield slice(start, end), flat, offsets, nonempty
        start = end


def _minhash_kernel(
    hs, a_co: list[int], b_co: list[int], num_hashes: int, chunk: int | None = None
) -> pd.Series:
    """One Arrow batch of shingle-hash arrays -> per-doc minhash arrays.
    `chunk` overrides _CHUNK_SHINGLES (tests verify chunked == unchunked)."""
    A = np.array(a_co, dtype=np.uint64)[:, None]
    B = np.array(b_co, dtype=np.uint64)[:, None]
    arrs = [np.asarray(x, dtype=np.int64).view(np.uint64) for x in hs]
    lens = np.fromiter((len(x) for x in arrs), dtype=np.int64, count=len(arrs))
    out = np.full((len(arrs), num_hashes), _M64, dtype=np.uint64)
    for rows, flat, offsets, nonempty in _doc_chunks(arrs, lens, chunk):
        if not len(flat):
            continue
        vals = A * flat[None, :] + B  # uint64 wraparound == mod 2^64
        mins = np.minimum.reduceat(vals, offsets, axis=1)  # (k, n_nonempty)
        out[rows][nonempty] = mins.T  # out[slice] is a view: writes through
    return pd.Series(list(out.view(np.int64)))


def _simhash_kernel(hs, chunk: int | None = None) -> pd.Series:
    """One Arrow batch of shingle-hash arrays -> per-doc 64-bit simhash.

    Bit extraction is np.unpackbits over the hashes' little-endian byte
    view (bit j of byte k = hash bit 8k+j) — no (shingles x 64) shift
    broadcast — and the per-doc bit sums accumulate in uint16 (safe while
    every doc holds < 2^16 shingles; the rare longer doc falls back to
    int64). Measured 3.6x less memory bandwidth than the shift/AND +
    int64-reduceat form on a 640k-shingle batch, identical outputs."""
    shifts = np.arange(64, dtype=np.uint64)
    arrs = [np.asarray(x, dtype=np.int64).view(np.uint64) for x in hs]
    lens = np.fromiter((len(x) for x in arrs), dtype=np.int64, count=len(arrs))
    out = np.zeros(len(arrs), dtype=np.uint64)
    acc = np.uint16 if (len(lens) == 0 or lens.max() < np.iinfo(np.uint16).max) else np.int64
    for rows, flat, offsets, nonempty in _doc_chunks(arrs, lens, chunk):
        if not len(flat):
            continue
        # pin the byte view to little-endian: a bare .view(np.uint8) is
        # host-order, so a big-endian worker would extract bit 8k+j from
        # the WRONG byte and emit signatures incompatible with the rest of
        # the fleet / a standing index (the module's signatures are
        # documented platform-stable — _minhash_coeffs; round-13 review).
        # astype('<u8') is a no-op copy=False view on little-endian hosts.
        bits = np.unpackbits(
            flat.astype("<u8", copy=False).view(np.uint8).reshape(-1, 8),
            axis=1,
            bitorder="little",
        ).astype(acc)
        counts = np.add.reduceat(bits, offsets, axis=0)
        majority = (2 * counts.astype(np.int64)) > lens[rows][nonempty][:, None]
        out[rows][nonempty] = (majority.astype(np.uint64) << shifts[None, :]).sum(
            axis=1, dtype=np.uint64
        )
    return pd.Series(out.view(np.int64))


def _minhash_coeffs(num_hashes: int) -> tuple[list[int], list[int]]:
    """Deterministic (a_i, b_i) pairs via splitmix64; a_i forced odd so
    x -> a_i*x + b_i (mod 2^64) is a bijection on Z_2^64 — i.e. a true
    permutation of the hash space, which is exactly the random-permutation
    family MinHash assumes. Pure-Python ints: stable across platforms and
    library versions (no RNG-stream dependency)."""

    def splitmix(state: int) -> tuple[int, int]:
        state = (state + 0x9E3779B97F4A7C15) & _M64
        z = state
        z = ((z ^ (z >> 30)) * 0xBF58476D1CE4E5B9) & _M64
        z = ((z ^ (z >> 27)) * 0x94D049BB133111EB) & _M64
        return state, z ^ (z >> 31)

    state, a, b = 0x5EED_AB1E_C0FFEE, [], []
    for _ in range(num_hashes):
        state, x = splitmix(state)
        a.append(x | 1)  # odd => invertible mod 2^64
        state, x = splitmix(state)
        b.append(x)
    return a, b


def minhash_signatures(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 64,
    shingle_n: int = 3,
) -> DataFrame:
    """MinHash signatures over token shingles: h_i(doc) = min over shingles
    of pi_i(xxhash64(shingle)), where pi_i(x) = a_i*x + b_i (mod 2^64) is a
    deterministic bijection (see _minhash_coeffs) — the classic
    permutation-family MinHash. The oracle verifies end results against
    exact Jaccard, so the family only needs to be a good permutation
    family, not DuckDB-replicable.

    Cost shape matters at 100 TB: each shingle STRING is hashed exactly
    once JVM-side (`__hs`, one interpreted transform); the num_hashes
    minima are then ONE Arrow-batched numpy pass — (num_hashes x
    total_shingles) uint64 multiply-add with wraparound, minimum.reduceat
    per doc. The previous all-JVM form (num_hashes separate
    array_min(transform(...)) columns) was measured 6x slower at sf0.1:
    higher-order functions are evaluated interpreted, outside whole-stage
    codegen, so 64 HOF passes cost ~16M closure evaluations per 5k docs
    while the numpy pass is a single vectorized matmul-shaped kernel.

    Plan shape: NO explode/groupBy — ArrowEvalPython is still a pure
    projection, so signatures cost zero shuffles and never leave the scan
    stage. At 100 TB this is the difference between a map-only pass and
    shuffling billions of exploded shingle rows through a 64-aggregate
    hash agg.

    Docs too short to shingle (< shingle_n tokens) are EXCLUDED here, not
    just in the dedup entry points: a shingle-less doc would get the
    identical all-sentinel signature, and a corpus's worth of them banded
    into ONE bucket of every band turns the candidate self-join quadratic
    (round-11 review — the standalone signatures->lsh_candidate_pairs
    composition is public API)."""
    sets = docs.select(
        F.col(id_col), shingles(F.col(text_col), shingle_n).alias("__sh")
    ).filter(F.size("__sh") > 0)
    return _signatures_from_shingle_sets(sets, id_col, num_hashes)


def _signature_array(
    sets: DataFrame,
    id_col: str = "doc_id",
    num_hashes: int = 64,
    cols: list[str] | None = None,
) -> DataFrame:
    """(id, __sig array<long>) minhash signatures from a precomputed
    (id, __sh shingle-array) frame — the array form, kept un-exploded for
    callers that consume the signature wholesale (band_rows builds its
    band hashes straight off ``__sig[i]`` in ONE selectExpr: per-trigger
    plan construction is driver-latency that a streaming flush pays every
    batch, and 64 element_at Column objects cost ~hundreds of py4j
    round-trips vs one parsed SQL string). ``cols`` are the columns
    carried beside ``__sig`` (default: the id alone)."""
    a_co, b_co = _minhash_coeffs(num_hashes)

    @F.pandas_udf("array<long>")
    def minhash_mins(hs: pd.Series) -> pd.Series:
        return _minhash_kernel(hs, a_co, b_co, num_hashes)

    keep = [F.col(f"`{c}`") for c in (cols or [id_col])]
    hashed = sets.select(
        *keep, F.transform("__sh", lambda s: F.xxhash64(s)).alias("__hs")
    )
    return hashed.select(*keep, minhash_mins("__hs").alias("__sig"))


def _signatures_from_shingle_sets(
    sets: DataFrame, id_col: str = "doc_id", num_hashes: int = 64
) -> DataFrame:
    """Signatures from a precomputed (id, __sh shingle-array) frame — lets
    the LSH pipeline compute/checkpoint the shingle sets ONCE and reuse
    them for both signatures and the exact-Jaccard verify stage instead of
    shingling the corpus twice."""
    sig = _signature_array(sets, id_col, num_hashes)
    return sig.selectExpr(
        f"`{id_col}`", *[f"__sig[{i}] AS h{i}" for i in range(num_hashes)]
    )


def lsh_candidate_pairs(
    signatures: DataFrame,
    id_col: str = "doc_id",
    num_hashes: int = 64,
    bands: int = 16,
) -> DataFrame:
    """Band the signature (r = num_hashes/bands rows per band) and emit
    candidate pairs sharing any band bucket. P(candidate) = 1-(1-s^r)^bands;
    at r=4, b=16 the S-curve gives ~0.99 recall at s=0.7 and ~1-1e-6 by
    s=0.85. Returns distinct (id_a, id_b) with id_a < id_b.

    Plan-size discipline: band hashes go through xxhash64 over the signature
    columns directly (no string concat), banding is one posexplode of one
    array (not `bands` named columns), and the banded table is materialized
    with localCheckpoint before the self-join — otherwise the optimizer sees
    the entire upstream signature plan twice and analysis time dwarfs the
    (tiny) bucket-join itself."""
    band_arr = _band_hash_array(num_hashes, bands)
    stacked = signatures.select(
        id_col, F.posexplode(band_arr).alias("band", "bh")
    ).localCheckpoint(eager=True)
    a = stacked.alias("a")
    b = stacked.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bh") == F.col("b.bh"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(F.col(f"a.{id_col}").alias("id_a"), F.col(f"b.{id_col}").alias("id_b"))
        .distinct()
    )


def _checkpointed_shingle_sets(
    docs: DataFrame, text_col: str, id_col: str, shingle_n: int
) -> DataFrame:
    """(id, __sh) with lineage cut: the set table is referenced by multiple
    join sides / pipeline stages, and checkpointing both computes the
    CORPUS-sized shingling once and keeps the optimizer from re-analyzing
    the doc-scan plan per reference. Batch paths only — per-trigger paths
    (g35's verify) shingle their candidate-sized sets uncut, because a
    localCheckpoint plans physically at build time and registers a
    persistent RDD that only GC releases."""
    return docs.select(
        F.col(id_col), shingles(F.col(text_col), shingle_n).alias("__sh")
    ).localCheckpoint(eager=True)


def _exact_jaccard_on_pairs(
    pairs: DataFrame, sets: DataFrame, id_col: str
) -> DataFrame:
    """Join precomputed (id, __sh) shingle sets onto candidate pairs and
    compute exact Jaccard. Two EMPTY sets define jaccard = 0.0 rather than
    0/0: the in-package entry points pre-filter docs to >= shingle_n
    tokens, but the public verify path (verify_pairs_against_texts)
    shingles whatever texts the candidate ids resolve to — an empty/empty
    pair there killed the whole verify job with DIVIDE_BY_ZERO under
    Spark 4's ANSI default (round-13 review)."""
    inter = F.col("__inter").cast("double")
    union = F.size("__sha") + F.size("__shb") - F.col("__inter")
    return (
        pairs.join(sets.select(F.col(id_col).alias("id_a"), F.col("__sh").alias("__sha")), "id_a")
        .join(sets.select(F.col(id_col).alias("id_b"), F.col("__sh").alias("__shb")), "id_b")
        .withColumn("__inter", F.size(F.array_intersect("__sha", "__shb")))
        # unrounded: thresholds compare the true value
        .withColumn(
            "jaccard", F.when(union > 0, inter / union).otherwise(F.lit(0.0))
        )
        .drop("__sha", "__shb")
    )


def minhash_lsh_dedup(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.7,
    num_hashes: int = 64,
    bands: int = 16,
    shingle_n: int = 3,
) -> DataFrame:
    """G2: MinHash+LSH near-dup pairs, exact-Jaccard-verified.

    shingle -> minhash -> band -> bucket-join -> verify: candidates from LSH
    (high recall at the threshold by the banding S-curve), then exact
    shingle-Jaccard filters false positives, so the output equals the exact
    all-pairs answer with probability ~1 while never materializing n^2.

    The checkpointed shingle-set table is computed ONCE and feeds both the
    signature stage and the verify stage — previously each stage shingled
    the corpus independently (two full scans of the heavy per-doc work)."""
    docs = _spread(docs.filter(F.size(F.split(F.col(text_col), " ")) >= shingle_n))
    sets = _checkpointed_shingle_sets(docs, text_col, id_col, shingle_n)
    sigs = _signatures_from_shingle_sets(sets, id_col, num_hashes)
    cand = lsh_candidate_pairs(sigs, id_col, num_hashes, bands)
    verified = _exact_jaccard_on_pairs(cand, sets, id_col)
    return verified.filter(F.col("jaccard") >= threshold).select(
        "id_a", "id_b", F.round("jaccard", 4).alias("jaccard")
    )


def ngram_jaccard_dedup(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.7,
    shingle_n: int = 3,
) -> DataFrame:
    """G2 exact variant: candidate pairs from an inverted shingle index
    (docs sharing >=1 shingle), then exact Jaccard. Guaranteed-exact but
    candidate growth depends on shingle frequency: the hottest shingle
    drives a quadratic bucket. For the SAME exact output with bounded
    candidates use setsim_prefix_join (the prefix-filtered form of this
    join — provable recall at the threshold, candidates from rare tokens
    only); MinHash+LSH (minhash_lsh_dedup) is the probabilistic 100 TB
    path. This full-inversion form stays as the oracle-grade reference
    the other two are differentially tested against."""
    docs = _spread(docs.filter(F.size(F.split(F.col(text_col), " ")) >= shingle_n))
    sets = _checkpointed_shingle_sets(docs, text_col, id_col, shingle_n)
    # invert on the shingle HASH, not the string: the self-join shuffles and
    # compares fixed-width longs. A collision only adds a spurious candidate,
    # which the exact-Jaccard verify removes — completeness is unaffected
    # (equal shingles always hash equal).
    # explode FIRST, hash the exploded column: hashing inside a
    # higher-order transform() is CodegenFallback — it knocks the whole
    # scan→explode stage out of whole-stage codegen and runs the hash
    # interpreted per element (measured 4x on the toy join; same values,
    # xxhash64 per element either way).
    inv = sets.select(F.col(id_col), F.explode("__sh").alias("__t")).select(
        F.col(id_col), F.xxhash64("__t").alias("__s")
    )
    a, b = inv.alias("a"), inv.alias("b")
    cand = (
        a.join(b, (F.col("a.__s") == F.col("b.__s")) & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")))
        .select(F.col(f"a.{id_col}").alias("id_a"), F.col(f"b.{id_col}").alias("id_b"))
        .distinct()
    )
    verified = _exact_jaccard_on_pairs(cand, sets, id_col)
    return verified.filter(F.col("jaccard") >= threshold).select(
        "id_a", "id_b", F.round("jaccard", 4).alias("jaccard")
    )


def simhash_signatures(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_n: int = 3,
) -> DataFrame:
    """64-bit SimHash per document: bit i = sign of the sum over shingles of
    (+1 if bit i of xxhash64(shingle) else -1).

    Plan shape: NO explode/groupBy — the same shuffle-free discipline as
    minhash_signatures. Shingle hashes are a JVM projection; the 64
    per-bit majority votes are ONE Arrow-batched numpy pass (bit-matrix +
    minimum-width reduceat, exactly the minhash vectorization): the
    previous all-expression fold (zip_with over a 64-long vector per
    shingle) ran ~64 interpreted ops per shingle outside whole-stage
    codegen. bit i of the signature is set iff 2*cnt_i > n (sign of the
    +1/-1 sum) — identical math to the exploded form, but a pure
    projection that never leaves the scan stage. At 100 TB this avoids
    shuffling billions of exploded shingle rows through a 64-column agg."""

    @F.pandas_udf("long")
    def simhash_from_hashes(hs: pd.Series) -> pd.Series:
        return _simhash_kernel(hs)

    hashed = docs.filter(F.size(F.split(F.col(text_col), " ")) >= shingle_n).select(
        F.col(id_col),
        F.transform(shingles(F.col(text_col), shingle_n), lambda s: F.xxhash64(s)).alias(
            "__hs"
        ),
    )
    return hashed.select(F.col(id_col), simhash_from_hashes("__hs").alias("simhash"))


def simhash_dedup(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_hamming: int = 3,
    shingle_n: int = 3,
) -> DataFrame:
    """G2 SimHash variant: 64-bit signature from shingle hashes (bit i of
    the signature = sign of the sum of bit-i contributions), near-dup if
    hamming distance <= max_hamming.

    Candidate generation uses the pigeonhole principle: split 64 bits into
    (max_hamming+1) chunks; any pair within the hamming budget must agree
    on at least one full chunk, so a join per chunk finds ALL of them
    (completeness verified in tests/test_ext.py)."""
    n_chunks = max_hamming + 1
    chunk_bits = 64 // n_chunks

    # spread before the Arrow signing kernel (the other dedup entries do
    # this at their top; simhash was the one path still signing a dense
    # single-partition scan on one core — measured 6 s -> <1 s at sf0.1)
    signed = simhash_signatures(_spread(docs), text_col, id_col, shingle_n)

    # one chunk-join per pigeonhole; each references this table twice, so cut
    # the 64-bit-sum signature plan out of the optimizer's view (and compute
    # it once) before fanning out n_chunks self-joins.
    chunks = signed.select(
        id_col,
        "simhash",
        *[
            F.shiftrightunsigned("simhash", c * chunk_bits)
            .bitwiseAND(F.lit((1 << chunk_bits) - 1))
            .alias(f"c{c}")
            for c in range(n_chunks)
        ],
    ).localCheckpoint(eager=True)
    pairs = None
    for c in range(n_chunks):
        a, b = chunks.alias("a"), chunks.alias("b")
        p = a.join(
            b,
            (F.col(f"a.c{c}") == F.col(f"b.c{c}")) & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        ).select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
            F.col("a.simhash").alias("sh_a"),
            F.col("b.simhash").alias("sh_b"),
        )
        pairs = p if pairs is None else pairs.unionByName(p)
    hamming = F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b")))
    return (
        pairs.distinct()
        .withColumn("hamming", hamming)
        .filter(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
    )


def embedding_neardup(
    embeddings: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    threshold: float = 0.4,
    n_blocks: int = 8,
) -> DataFrame:
    """G2 embedding variant: EXACT all-pairs cosine near-dup via a
    distributed blocked matmul. The corpus is split into n_blocks row
    blocks; each of the B(B+1)/2 unordered block pairs becomes one
    applyInPandas group computing a numpy (rows_a x rows_b) similarity
    matrix and emitting only pairs >= threshold.

    Scale shape: no cross join, no driver collect. Rows replicate ~(B+1)x
    into one groupBy shuffle; per-group memory is (n/B)^2 scores, so B is
    chosen so a block pair fits an executor (B ~ n·dim_bytes/256MB). The
    per-pair cost is a BLAS matmul instead of 2M interpreted zip_with
    lambdas — 130 s -> ~2 s at sf0.1. Candidate generation for >1e7 docs
    moves to the sign-bucket LSH in operators/similarity.py; this exact
    form is the oracle and the verify stage."""

    spark = embeddings.sparkSession
    bp = [
        (a * n_blocks + b, a, b)
        for a in range(n_blocks)
        for b in range(n_blocks)
        if a <= b
    ]
    bp_df = spark.createDataFrame(bp, "pair_id INT, blk_a INT, blk_b INT")

    # NULL vectors are excluded (a single NULL row would crash np.stack
    # inside the kernel and abort the job — every text-dedup entry point
    # in this module pre-filters NULL text the same way; round-13 review),
    # and blocks come from a HASH of the id, not its raw residue:
    # structured ids (stride-allocated, low bits encoding a shard) populate
    # only a fraction of the pmod residues, collapsing the corpus into few
    # blocks and blowing the (n/B)^2 per-group memory bound the blocking
    # exists to enforce. xxhash64 gives uniform block sizes for any id
    # distribution with identical pair coverage (each unordered block pair
    # still scores exactly once).
    emb = embeddings.filter(F.col(vec_col).isNotNull()).select(
        F.col(id_col).alias("__id"),
        F.col(vec_col).alias("__v"),
        F.pmod(F.xxhash64(F.col(id_col)), F.lit(n_blocks)).cast("int").alias("__blk"),
    )
    side_a = emb.join(F.broadcast(bp_df), emb["__blk"] == bp_df["blk_a"]).select(
        "pair_id", "blk_a", "blk_b", F.lit("a").alias("side"), "__id", "__v"
    )
    side_b = emb.join(F.broadcast(bp_df), emb["__blk"] == bp_df["blk_b"]).select(
        "pair_id", "blk_a", "blk_b", F.lit("b").alias("side"), "__id", "__v"
    )

    def block_cosine(pdf: pd.DataFrame) -> pd.DataFrame:
        a = pdf[pdf["side"] == "a"]
        b = pdf[pdf["side"] == "b"]
        if not len(a) or not len(b):
            return pd.DataFrame({"id_a": [], "id_b": [], "cos_sim": []})
        ids_a = a["__id"].to_numpy()
        ids_b = b["__id"].to_numpy()
        ma = np.stack(a["__v"].to_numpy()).astype(np.float64)
        mb = np.stack(b["__v"].to_numpy()).astype(np.float64)
        norms_a = np.sqrt((ma * ma).sum(axis=1))
        norms_b = np.sqrt((mb * mb).sum(axis=1))
        with np.errstate(divide="ignore", invalid="ignore"):
            cos = (ma @ mb.T) / np.outer(norms_a, norms_b)
        mask = cos >= threshold
        if pdf["blk_a"].iloc[0] == pdf["blk_b"].iloc[0]:
            # same-block: sides hold identical rows, so the matrix contains
            # each pair twice (and the diagonal); keep the strict upper half
            mask &= ids_a[:, None] < ids_b[None, :]
        # cross-block: every (i, j) is a distinct unordered pair (it occurs
        # in exactly one sorted block pair) — canonicalize ids to (lo, hi)
        ia, ib = np.nonzero(mask)
        lo = np.minimum(ids_a[ia], ids_b[ib])
        hi = np.maximum(ids_a[ia], ids_b[ib])
        return pd.DataFrame(
            {"id_a": lo, "id_b": hi, "cos_sim": np.round(cos[ia, ib], 4) + 0.0}
        )

    return (
        side_a.unionByName(side_b)
        .groupBy("pair_id")
        .applyInPandas(block_cosine, schema="id_a bigint, id_b bigint, cos_sim double")
    )


def connected_components(
    pairs: DataFrame, max_iters: int = 30, driver_collect_max: int = 1 << 20
) -> tuple[DataFrame, int]:
    """Min-label connected components over an undirected pair list
    (columns id_a, id_b) by the ALTERNATING-STAR algorithm (Kiveris,
    Lattanzi, Mirrokni, Rastogi, Vassilvitskii: "Connected Components in
    MapReduce and Beyond", SoCC'14 — public paper):

      large-star: every node attaches its LARGER neighbors to the minimum
                  of its closed neighborhood;
      small-star: every node attaches its smaller-or-equal neighbors (and
                  itself) to that minimum.

    Alternating the two converges in O(log n) rounds on ANY graph — vs the
    diameter-bounded rounds of naive min-label propagation, which a 100 TB
    crawl's templated near-dup CHAINS (depth thousands) would break. Each
    half-round is one groupBy + one self-join on the edge list, shuffled on
    node id; localCheckpoint cuts lineage per round; the per-round
    count+hash convergence probe is iteration control (two scalars).

    Returns (labels, rounds): labels has one row per node that appears in
    `pairs` with columns (node, cluster_id = component minimum).

    BOUNDED driver fast path (INT64 node ids only — the packaged callers
    all pass xxhash64/doc-id longs; non-numeric ids must set
    driver_collect_max=0 to take the type-generic distributed loop,
    round-13 review): a deduped edge list of <= driver_collect_max
    rows (default 2^20) is pulled through Arrow into two int64 numpy
    columns (~16 MB of Arrow traffic at the default; the transient pandas
    frame adds the same again) and solved with union-find in milliseconds —
    no per-row Row objects or boxed-int sets, whose overhead is what makes
    a naive Row-based collect cost hundreds of MB at this size (ADVICE r5).
    The distributed loop's per-round cost is 3-4 whole jobs (two window
    shuffles, a distinct, a checkpoint, a convergence probe); on a near-dup
    graph measured at sf0.1 (256 edges) those fixed costs were ~4.5 s of
    pure scheduling for microseconds of actual work — same rationale as the
    IVF bounded training collect. The threshold is an explicit dial; with
    driver_collect_max=0 the size probe is skipped entirely and the
    O(log n)-round alternating-star path runs unchanged (a 100 TB crawl's
    billions of pairs never pays the extra counting pass)."""
    # directed larger -> smaller pointers; the fixed point is a star per
    # component, centered at its minimum
    fwd = pairs.select(
        F.greatest("id_a", "id_b").alias("u"), F.least("id_a", "id_b").alias("v")
    ).filter(F.col("u") != F.col("v"))
    cur = fwd.distinct().localCheckpoint(eager=True)
    if driver_collect_max > 0 and cur.count() <= driver_collect_max:
        pdf = cur.toPandas()  # Arrow: two contiguous int64 columns
        us = pdf["u"].to_numpy(dtype=np.int64)
        vs = pdf["v"].to_numpy(dtype=np.int64)
        parent: dict = {}

        def find(x):
            root = x
            while parent.get(root, root) != root:
                root = parent[root]
            while parent.get(x, x) != x:  # path compression
                parent[x], x = root, parent[x]
            return root

        for a, b in zip(us.tolist(), vs.tolist()):
            ra, rb = find(a), find(b)
            if ra != rb:
                parent[max(ra, rb)] = min(ra, rb)
        # root = component minimum: union always points larger -> smaller.
        # Labels go back through a pandas frame over the existing numpy
        # columns — Arrow both ways; a list of 2M Python tuples through
        # row-based createDataFrame is exactly the boxed-per-row overhead
        # the inbound toPandas above avoids (round-13 review).
        nodes = np.unique(np.concatenate([us, vs]))
        roots_arr = np.fromiter(
            (find(int(n)) for n in nodes), dtype=np.int64, count=len(nodes)
        )
        labels = pairs.sparkSession.createDataFrame(
            pd.DataFrame({"node": nodes, "cluster_id": roots_arr}),
            "node bigint, cluster_id bigint",
        )
        return labels, 1
    sig_prev = None
    rounds = 0
    converged = False
    for rounds in range(1, max_iters + 1):
        sym = cur.unionByName(cur.select(F.col("v").alias("u"), F.col("u").alias("v")))
        # each star op needs min-over-neighborhood next to every edge: a
        # window over u does it in ONE shuffle (a groupBy+self-join would
        # shuffle the edge list twice per half-round)
        w = Window.partitionBy("u")
        # large-star over the symmetric view
        big = (
            sym.withColumn("m", F.least(F.min("v").over(w), F.col("u")))
            .filter(F.col("v") > F.col("u"))
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .filter(F.col("u") != F.col("v"))
            .distinct()
        )
        # small-star over the larger->smaller pointers (all v < u, so the
        # closed-neighborhood min is just min(v))
        stars = big.withColumn("m", F.min("v").over(w))
        nxt = (
            stars.select(F.col("v").alias("u"), F.col("m").alias("v"))
            .unionByName(stars.select("u", F.col("m").alias("v")))
            .filter(F.col("u") != F.col("v"))
            .distinct()
            .localCheckpoint(eager=True)
        )
        row = nxt.agg(
            F.count("*").alias("n"),
            # XOR, not sum: order-insensitive and cannot overflow ANSI int64
            F.coalesce(F.bit_xor(F.xxhash64("u", "v")), F.lit(0)).alias("h"),
        ).head()
        sig = (row["n"], row["h"])
        cur = nxt
        if sig == sig_prev:
            converged = True
            break
        sig_prev = sig
    if not converged:
        # the label extraction below assumes cur is a star (every node
        # pointing at its component minimum); on a non-converged pointer
        # graph nodes still point at intermediates, so two documents of
        # one component would get DIFFERENT cluster_ids with no error —
        # dedup_keepers then elects multiple keepers in one real cluster.
        # Fail loudly instead (round-13 review); alternating-star needs
        # O(log n) rounds, so the default budget only exhausts when a
        # caller passes a small max_iters.
        raise RuntimeError(
            f"connected_components: labels did not converge within "
            f"{max_iters} alternating-star rounds — raise max_iters "
            "(O(log n) rounds suffice for any graph)"
        )
    roots = cur.select(F.col("v").alias("u")).exceptAll(cur.select("u")).distinct()
    labels = cur.unionByName(roots.select("u", F.col("u").alias("v")))
    return (
        labels.select(F.col("u").alias("node"), F.col("v").alias("cluster_id")),
        rounds,
    )


def neardup_clusters(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.7,
    max_iters: int = 30,
) -> DataFrame:
    """Transitive closure over near-dup pairs: every document that appears in
    a near-dup pair gets the MIN doc id of its connected component as
    cluster_id — the canonical-keeper assignment a dedup pipeline applies
    after pair generation (keep cluster_id, drop the rest). Components come
    from the O(log n)-round alternating-star algorithm (see
    connected_components) so pathological near-dup chains cannot inflate
    the round count at scale."""
    pairs = minhash_lsh_dedup(docs, text_col, id_col, threshold).select("id_a", "id_b")
    labels, _ = connected_components(pairs, max_iters=max_iters)
    return labels.select(F.col("node").alias(id_col), "cluster_id")


def dedup_keepers(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.7,
) -> DataFrame:
    """The dedup END DECISION: for every document, its near-dup cluster and
    whether it is the cluster's keeper — keeper = highest quality_score in
    the cluster (ties by smallest id), singletons keep themselves. This is
    the step a pipeline actually applies ("drop 40% of the corpus, keep
    the best copy of each"), composing neardup_clusters (G10) with the G4
    quality score.

    Scale shape: clusters come from the LSH pipeline (never all-pairs),
    and ONLY clustered documents are shuffled through the ranking window —
    singletons (the bulk of the corpus) short-circuit to keep=true,
    cluster_id=own id.  Whenever the cluster table fits the broadcast
    threshold (near-dups are a small fraction of a typical corpus) AQE
    turns both the anti-join and the inner join into broadcasts and the
    corpus is never shuffled at all; either way the window's shuffle volume
    is O(near-dup docs), not O(corpus) — the previous plan shuffled every
    row through the window."""

    from aws_kinesis_spark.functions.text import quality_score

    clusters = neardup_clusters(docs, text_col, id_col, threshold)
    scored = docs.select(
        F.col(id_col), quality_score(F.col(text_col)).alias("quality")
    )
    singletons = scored.join(clusters, id_col, "left_anti").select(
        id_col,
        F.col(id_col).alias("cluster_id"),
        "quality",
        F.lit(True).alias("keep"),
    )
    w = Window.partitionBy("cluster_id").orderBy(F.desc("quality"), F.asc(id_col))
    clustered = (
        scored.join(clusters, id_col)
        .withColumn("keep", F.row_number().over(w) == 1)
        .select(id_col, "cluster_id", "quality", "keep")
    )
    return singletons.unionByName(clustered)


def incremental_minhash_dedup(
    all_docs: DataFrame,
    is_new,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.7,
    num_hashes: int = 64,
    bands: int = 16,
    shingle_n: int = 3,
) -> DataFrame:
    """Incremental near-dup detection: find every near-dup pair with at
    least one side in the NEW batch (``is_new`` column predicate) — the
    shape a daily-crawl ingest actually runs against a standing corpus.

    Scale shape: candidates come from an equi-join of the new batch's
    band buckets against the full banded table — never a re-pairing of
    the corpus with itself — and the exact-Jaccard verify touches
    candidate pairs only. This BATCH form recomputes the band table in
    one pass per call (fine for a periodic job); the PERSISTED-index
    realization, where the standing corpus is never re-signed and each
    increment costs O(batch + candidates), is the streaming ingest path
    (streaming/pipeline.py:start_dedup_ingest, g35) built from the same
    band_rows/verify primitives."""
    docs = _spread(
        all_docs.filter(F.size(F.split(F.col(text_col), " ")) >= shingle_n)
    )
    sets = _checkpointed_shingle_sets(docs, text_col, id_col, shingle_n)
    sigs = _signatures_from_shingle_sets(sets, id_col, num_hashes)

    band_arr = _band_hash_array(num_hashes, bands)
    flagged = sigs.join(docs.select(id_col, is_new.alias("__new")), id_col)
    stacked = flagged.select(
        id_col, "__new", F.posexplode(band_arr).alias("band", "bh")
    ).localCheckpoint(eager=True)
    new_side = stacked.filter(F.col("__new")).alias("n")
    all_side = stacked.alias("m")
    cand = (
        new_side.join(
            all_side,
            (F.col("n.band") == F.col("m.band"))
            & (F.col("n.bh") == F.col("m.bh"))
            & (F.col(f"n.{id_col}") != F.col(f"m.{id_col}")),
        )
        .select(
            F.least(F.col(f"n.{id_col}"), F.col(f"m.{id_col}")).alias("id_a"),
            F.greatest(F.col(f"n.{id_col}"), F.col(f"m.{id_col}")).alias("id_b"),
        )
        .distinct()
    )
    verified = _exact_jaccard_on_pairs(cand, sets, id_col)
    return verified.filter(F.col("jaccard") >= threshold).select(
        "id_a", "id_b", F.round("jaccard", 4).alias("jaccard")
    )


def span_dup_stats(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 8,
) -> DataFrame:
    """Exact duplicated-SPAN detection (the substring-level complement of
    whole-document dedup, after Lee et al.'s "Deduplicating Training Data
    Makes Language Models Better": verbatim k-token spans repeated across
    documents are memorization fuel even when the documents as a whole are
    distinct). Every k-token window is fingerprinted with the same
    polynomial rolling hash as functions g04c; a span hash seen in >= 2
    distinct documents is duplicated, and each document reports how much of
    it is made of duplicated spans: (n_spans, n_dup_spans, dup_fraction).

    A true suffix-array pass is superlinear shuffle at 100 TB; k-gram
    fingerprinting is the standard distributed approximation — it finds
    every duplicated run of >= k tokens exactly (a run of L >= k dup tokens
    contains L-k+1 dup windows) and never pairs documents at all.

    The span fingerprint is a DOUBLE rolling hash — two independent
    (base, prime) polynomial hashes packed into one int64 key (~62 bits
    of effective space). A single 31-bit hash false-flags a unique span
    with probability ~N/2^31 over N corpus-distinct spans: at 1e9 spans
    (a sliver of the 100 TB posture) ~40% of genuinely unique spans would
    read as duplicated and dup_fraction saturates toward 1 — the same
    collision standard that moved exact_dedup to sha-256 (round-13
    review). At 2^-62, collisions stay negligible past 1e12 spans.

    Scale shape: fingerprints come from ONE Arrow-batched numpy kernel in
    the scan stage (the expression form — an O(n·k) slice-fold per doc —
    hit Spark's interpreted-HOF path and measured 26.8 s at sf0.1; the
    kernel is ~1.4 s, same engineering as the minhash kernel). Per-doc
    windows are deduplicated inside the kernel (np.unique bounds the
    emitted rows to unique spans), and the only shuffles are (a) the
    span-hash groupBy counting distinct docs (map-side partials) and
    (b) the hash-equi join back — both on the span hash, whose cardinality
    AQE coalesces. No document text ever shuffles; only 8-byte hashes."""
    # double-hash parameters: (base 131 mod 2^31-1) and (base 137 mod the
    # prime below it), combined as h1*P2 + h2 — max (P1-1)*P2 + (P2-1)
    # fits int64; the DuckDB oracle (g25) computes the identical packing
    P1 = 2147483647
    P2 = 2147483629

    def batches(it):
        import hashlib

        cache: dict = {}  # token -> hash; zipfian vocab makes this hit-heavy

        def tok_hash(t: str) -> int:
            h = cache.get(t)
            if h is None:
                # identical to conv(substring(md5(t),1,8),16,10) and the
                # DuckDB oracle's CAST(concat('0x',substr(md5(t),1,8)))
                h = int(hashlib.md5(t.encode("utf-8")).hexdigest()[:8], 16)
                cache[t] = h
            return h

        empty = np.array([], dtype=np.int64)
        for pdf in it:
            ids, spans = [], []
            for did, text in zip(pdf[id_col], pdf[text_col]):
                toks = text.split(" ")
                n = len(toks)
                if n < k:
                    continue
                hs = np.fromiter((tok_hash(t) for t in toks), np.int64, count=n)
                w = n - k + 1
                acc1 = np.zeros(w, dtype=np.int64)
                acc2 = np.zeros(w, dtype=np.int64)
                for j in range(k):  # vectorized across windows: k vector ops
                    win = hs[j : j + w]
                    acc1 = (acc1 * 131 + win) % P1
                    acc2 = (acc2 * 137 + win) % P2
                u = np.unique(acc1 * P2 + acc2)
                ids.append(np.full(len(u), did, dtype=np.int64))
                spans.append(u)
            yield pd.DataFrame(
                {
                    id_col: np.concatenate(ids) if ids else empty,
                    "__span": np.concatenate(spans) if spans else empty,
                }
            )

    per_doc = (
        _spread(docs.filter(F.size(F.split(F.col(text_col), " ")) >= k))
        .select(id_col, text_col)
        .mapInPandas(batches, schema=f"{id_col} bigint, __span bigint")
        .localCheckpoint(eager=True)  # spans feed both the count and the join
    )
    counts = per_doc.groupBy("__span").agg(
        F.count("*").alias("__nd")  # per-doc spans are pre-distinct
    )
    return (
        per_doc.join(counts, "__span")
        .groupBy(id_col)
        .agg(
            F.count("*").alias("n_spans"),
            F.sum((F.col("__nd") >= 2).cast("long")).alias("n_dup_spans"),
        )
        .withColumn(
            "dup_fraction",
            F.round(F.col("n_dup_spans") / F.col("n_spans"), 4),
        )
    )


def _ranked_prefix_tokens(
    sets: DataFrame, id_col: str, checkpoint: bool = False
) -> DataFrame:
    """THE canonical-order prefix machinery shared by the symmetric
    (setsim_prefix_join) and asymmetric (_containment_candidates) prefix
    joins — one copy of the ordering the prefix-filter lemma depends on
    (round-13 review: the two paths carried near-verbatim twins that had
    already drifted in checkpoint placement; any fix to the tie-order
    subtlety on (df, hash) had to be discovered twice).

    Input: (id, __sh shingle-string-array). Output: one row per shingle
    hash with (id_col, __n set size, __s xxhash64 shingle hash, __r = the
    hash's 1-based rank within its document under the GLOBAL canonical
    order: ascending corpus document frequency, ties by hash). The df
    join strategy is left to AQE (a web-scale shingle vocabulary
    out-sizes any driver). ``checkpoint`` lazily materializes the ranked
    table for callers whose probe AND index sides both read it."""
    # explode-then-hash, not explode(transform(hash)): a higher-order
    # transform() is CodegenFallback, which drops the whole scan→explode
    # stage out of whole-stage codegen — and this subtree is evaluated
    # once per join side AND once for the df table (same values either
    # way: xxhash64 per element).
    tok = sets.select(
        F.col(id_col), F.size("__sh").alias("__n"), F.explode("__sh").alias("__t")
    ).select(F.col(id_col), "__n", F.xxhash64("__t").alias("__s"))
    df_tab = tok.groupBy("__s").agg(F.count("*").alias("__df"))
    w = Window.partitionBy(id_col).orderBy(F.asc("__df"), F.asc("__s"))
    ranked = tok.join(df_tab, "__s").withColumn("__r", F.row_number().over(w))
    if checkpoint:
        ranked = ranked.localCheckpoint(eager=False)
    return ranked


def setsim_prefix_join(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.7,
    shingle_n: int = 3,
    materialize: bool = True,
) -> DataFrame:
    """G2 exact variant with GUARANTEED recall at bounded candidate cost:
    prefix-filtering set-similarity self-join (AllPairs, Bayardo et al.
    WWW'07; prefix principle per Chaudhuri et al. ICDE'06 / PPJoin, Xiao
    et al. WWW'08).

    Shingle sets are put in one global canonical order (ascending corpus
    document frequency, ties by hash) and only each set's PREFIX — its
    |s| - ceil(t*|s|) + 1 RAREST shingles — is inverted for the candidate
    join; the prefix-filter lemma guarantees every pair with Jaccard >= t
    shares a prefix token (with the length filter t*|a| <= |b| <= |a|/t),
    so exact-verify output equals the all-pairs answer DETERMINISTICALLY —
    unlike g02's probabilistic LSH banding — while candidates come from
    rare tokens only, unlike ngram_jaccard_dedup's full inverted index
    whose hottest (most common) shingle drives a quadratic bucket.

    Scale shape: df aggregate with map-side partials over shingle hashes;
    one window by doc id for prefix selection; the candidate self-join
    shuffles only prefix rows (~(1-t) of the shingle stream) keyed by
    rare-token hashes — the frequency ordering is exactly what keeps the
    join's biggest bucket small. Text strings never shuffle (hashes only
    until the final verify joins)."""
    docs = _spread(docs.filter(F.size(F.split(F.col(text_col), " ")) >= shingle_n))
    sets = _checkpointed_shingle_sets(docs, text_col, id_col, shingle_n)
    pref_len = F.col("__n") - F.ceil(F.lit(threshold) * F.col("__n")) + 1
    # The prefix table feeds both self-join sides, so uncut the ranking
    # subtree plans (and runs) twice. The right cut is CACHE, not
    # checkpoint (measured, r14+r15): localCheckpoint — lazy or eager —
    # cuts the lineage at plan-build time, which blocks the
    # WindowGroupLimit/filter pushdown and materializes ALL ranked tokens
    # (5.7-5.8 s min at sf0.1, 2-3x slower); .cache() builds its
    # InMemoryRelation from the optimized plan INCLUDING the prefix
    # filter, so only the prefix rows are stored and the first consumer
    # materializes them as a side effect (2.81 -> 1.71 s min,
    # interleaved). With ``materialize`` (the default) the verified pair
    # output — pair-count-sized, the final answer's own scale — is
    # eagerly local-checkpointed and the prefix cache RELEASED before
    # returning, so no cache entry outlives the call (the round-12
    # persist-leak discipline) and multi-reference consumers (g49's
    # two-orientation union) read materialized pairs instead of planning
    # this whole subtree per reference. materialize=False keeps the fully
    # lazy single-plan form (plan locks, composition).
    prefix = _ranked_prefix_tokens(sets, id_col).filter(F.col("__r") <= pref_len)
    if materialize:
        prefix = prefix.cache()
    a = prefix.select(
        F.col(id_col).alias("id_a"), F.col("__n").alias("__na"), "__s"
    )
    b = prefix.select(
        F.col(id_col).alias("id_b"), F.col("__n").alias("__nb"), "__s"
    )
    cand = (
        a.join(b, "__s")
        .filter(
            (F.col("id_a") < F.col("id_b"))
            & (F.col("__nb") >= F.ceil(F.lit(threshold) * F.col("__na")))
            & (F.col("__na") >= F.ceil(F.lit(threshold) * F.col("__nb")))
        )
        .select("id_a", "id_b")
        .distinct()
    )
    verified = _exact_jaccard_on_pairs(cand, sets, id_col)
    out = verified.filter(F.col("jaccard") >= threshold).select(
        "id_a", "id_b", F.round("jaccard", 4).alias("jaccard")
    )
    if materialize:
        try:
            out = out.localCheckpoint(eager=True)
        finally:
            prefix.unpersist()
    return out


def band_rows(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 64,
    bands: int = 16,
    shingle_n: int = 3,
) -> DataFrame:
    """(id, band, bh) LSH band-bucket rows for a document set — the unit a
    STANDING dedup index persists (g20/g35): MB-scale per million docs
    (three longs/row), text never stored in the index. Docs shorter than
    one shingle emit no rows (they cannot near-dup anything).

    No shingle-set checkpoint here: unlike the dedup pipelines (where the
    set table feeds both signatures AND the exact verify), this path
    consumes the shingles exactly once, so materializing them would be a
    pure extra job per micro-batch."""
    docs = docs.filter(F.size(F.split(F.col(text_col), " ")) >= shingle_n)
    return docs_with_band_hashes(
        docs.select(id_col, text_col), text_col, id_col, num_hashes, bands, shingle_n
    ).selectExpr(f"`{id_col}`", "posexplode(__bands) AS (band, bh)")


def docs_with_band_hashes(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 64,
    bands: int = 16,
    shingle_n: int = 3,
) -> DataFrame:
    """Every column of ``docs`` plus ``__bands``: the doc's ``bands`` band
    hashes in band order, NULL for a doc shorter than one shingle — the
    un-exploded band_rows (row ``i`` of ``__bands`` is band_rows'
    ``(band=i, bh)``), for a caller that collects a batch once and needs
    its texts beside its band rows. The band hashes are ONE parsed SQL
    string instead of ~bands*(r+1) Column round-trips: a streaming flush
    builds this per micro-batch trigger, where driver-side plan
    construction is serial latency (values identical — xxhash64 over the
    same longs in the same order as the exploded h{i} form)."""
    r = _check_banding(num_hashes, bands)
    band_arr = ",".join(
        "xxhash64(" + ",".join(f"__sig[{b * r + j}]" for j in range(r)) + ")"
        for b in range(bands)
    )
    sets = docs.select("*", shingles(F.col(text_col), shingle_n).alias("__sh"))
    sigs = _signature_array(sets, id_col, num_hashes, cols=docs.columns)
    return sigs.selectExpr(
        *[f"`{c}`" for c in docs.columns],
        f"CASE WHEN size(split(`{text_col}`, ' ')) >= {shingle_n}"
        f" THEN array({band_arr}) END AS __bands",
    )


def verify_pairs_against_texts(
    pairs: DataFrame,
    texts: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.7,
    shingle_n: int = 3,
    keep=None,
    pairs_are_small: bool = False,
) -> DataFrame:
    """Exact-Jaccard verify for candidate (id_a, id_b) pairs when only the
    TEXT table is at hand (the standing-index case: the index holds band
    rows, not shingle sets). Shingles are recomputed for exactly the ids
    that appear in candidates — O(candidates), never O(corpus).

    The set table feeds BOTH join sides, so it needs a lineage cut or the
    candidate text fetch (a pruned read of the standing corpus in g35)
    executes twice. ``keep`` lets the caller own that cut: g35's
    per-trigger flush passes its trigger-scoped cache (unpersisted when
    the trigger ends), because the default ``localCheckpoint(eager=False)``
    both plans physically at build time (serial driver latency at trigger
    rate) and registers a persistent RDD only GC ever releases. The
    caller's cut lands on the TEXT rows, before shingling: caching plain
    strings is cheap where columnar-encoding arrays of shingle strings is
    not, and re-shingling a candidate-sized set once per join side costs
    ~nothing.

    ``pairs_are_small`` declares the candidate side broadcast-sized
    (bounded by the caller — g35 gates it on the trigger's byte size):
    the id semi-join and both verify joins then plan as broadcast joins
    OUTRIGHT instead of materializing exchange stages AQE would only
    convert afterwards — on a per-trigger path those exchanges are pure
    fixed cost."""
    ids = (
        pairs.select(F.col("id_a").alias(id_col))
        .unionByName(pairs.select(F.col("id_b").alias(id_col)))
        .distinct()
    )
    needed = texts.join(
        F.broadcast(ids) if pairs_are_small else ids, id_col, "left_semi"
    )
    if keep is not None:
        needed = keep(needed)
    sets = needed.select(
        F.col(id_col), shingles(F.col(text_col), shingle_n).alias("__sh")
    )
    if keep is None:
        sets = sets.localCheckpoint(eager=False)
    verified = _exact_jaccard_on_pairs(
        F.broadcast(pairs) if pairs_are_small else pairs, sets, id_col
    )
    return verified.filter(F.col("jaccard") >= threshold).select(
        "id_a", "id_b", F.round("jaccard", 4).alias("jaccard")
    )


def shingle_set(text: str | None, shingle_n: int = 3) -> frozenset[str]:
    """Driver twin of ``functions.text.shingles``: the distinct n-grams of
    ``text.split(' ')`` (the ``split(text, ' ')`` tokenizer, empty tokens
    kept), each joined by ``' '`` as ``concat_ws(' ', ...)`` joins them;
    empty for a NULL text or one with fewer than ``shingle_n`` tokens."""
    if text is None:
        return frozenset()
    t = text.split(" ")
    return frozenset(
        " ".join(t[i : i + shingle_n]) for i in range(len(t) - shingle_n + 1)
    )


def jaccard_of_sets(a: frozenset, b: frozenset) -> float:
    """Driver twin of ``_exact_jaccard_on_pairs``' value:
    ``size(array_intersect(a, b)) / (size(a) + size(b) - inter)`` in
    double precision, 0.0 when the union is empty."""
    inter = len(a & b)
    union = len(a) + len(b) - inter
    return inter / union if union > 0 else 0.0


def verify_pairs_on_driver(
    pairs,
    texts: dict,
    threshold: float = 0.7,
    shingle_n: int = 3,
) -> set:
    """The ``id_b`` side of every candidate pair whose exact Jaccard is at
    least ``threshold`` (unrounded), computed in Python: the driver twin
    of ``verify_pairs_against_texts`` for a caller already holding the
    pairs and their texts on the driver. ``pairs`` iterates (id_a, id_b);
    ``texts`` maps an id to the list of its texts — an id landed more than
    once joins every copy, as the Spark join does, and the pair passes if
    any combination does. Each text is shingled once."""
    sets: dict = {}

    def shingled(i):
        if i not in sets:
            sets[i] = [shingle_set(t, shingle_n) for t in texts.get(i, ())]
        return sets[i]

    dropped = set()
    for a, b in pairs:
        if b not in dropped and any(
            jaccard_of_sets(x, y) >= threshold
            for x in shingled(a)
            for y in shingled(b)
        ):
            dropped.add(b)
    return dropped


def _containment_candidates(
    sets: DataFrame,
    id_col: str,
    threshold: float,
    prefix_filter: bool,
    checkpoint: bool = True,
    ranked: DataFrame | None = None,
) -> DataFrame:
    """Directional candidate pairs (id_a, id_b) for the containment join
    over a (id, __sh shingle-string-array) table. With ``prefix_filter``
    only each probe set's |S_a| - ceil(t*|S_a|) + 1 rarest shingle hashes
    (global ascending-df order, ties by hash) are joined against the FULL
    inverted index, and each joined row must additionally pass the PPJoin
    POSITIONAL upper bound (Xiao et al. WWW'08 §3.2): every common shingle
    of a pair sits at or after this row's rank in BOTH canonical orders,
    so overlap <= 1 + min(|S_a|-r_a, |S_b|-r_b) — rows that cannot reach
    the required overlap ceil(t*|S_a|) are dropped before the distinct.
    Complete: a qualifying pair's FIRST shared shingle (inside a's prefix
    by the pigeonhole lemma) always satisfies the bound. This is the
    shape the skewed-fixture shrinkage test pins (test_properties.py)."""
    req = F.ceil(F.lit(threshold) * F.col("__na"))  # required overlap
    if prefix_filter:
        # the ranked table feeds probe AND index side. ``ranked`` lets the
        # caller hand in its own cut (containment_join passes a .cache()d
        # frame it releases after materializing — measured faster than the
        # lazy checkpoint, see containment_join); otherwise fall back to
        # the checkpoint flag (checkpoint=False keeps the lineage visible
        # for the plan-lock test).
        if ranked is None:
            ranked = _ranked_prefix_tokens(sets, id_col, checkpoint=checkpoint)
        pref_len = F.col("__n") - F.ceil(F.lit(threshold) * F.col("__n")) + 1
        a = ranked.filter(F.col("__r") <= pref_len).select(
            F.col(id_col).alias("id_a"),
            F.col("__n").alias("__na"),
            F.col("__r").alias("__ra"),
            "__s",
        )
        b = ranked.select(
            F.col(id_col).alias("id_b"),
            F.col("__n").alias("__nb"),
            F.col("__r").alias("__rb"),
            "__s",
        )
        pos_ok = (
            F.lit(1)
            + F.least(F.col("__na") - F.col("__ra"), F.col("__nb") - F.col("__rb"))
        ) >= req
    else:
        # brute path: the complete inverted index, no df ranking needed
        # (explode-then-hash keeps the stage in whole-stage codegen — a
        # transform() lambda is CodegenFallback, see _ranked_prefix_tokens)
        tok = sets.select(
            F.col(id_col), F.size("__sh").alias("__n"), F.explode("__sh").alias("__t")
        ).select(F.col(id_col), "__n", F.xxhash64("__t").alias("__s"))
        a = tok.select(
            F.col(id_col).alias("id_a"), F.col("__n").alias("__na"), "__s"
        )
        b = tok.select(
            F.col(id_col).alias("id_b"), F.col("__n").alias("__nb"), "__s"
        )
        pos_ok = F.lit(True)
    return (
        a.join(b, "__s")
        .filter(
            (F.col("id_a") != F.col("id_b")) & (F.col("__nb") >= req) & pos_ok
        )
        .select("id_a", "id_b")
        .distinct()
    )


def containment_join(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.5,
    shingle_n: int = 3,
    prefix_filter: bool = True,
    materialize: bool = True,
) -> DataFrame:
    """G2 asymmetric variant: set-CONTAINMENT join — pairs (a, b) where
    |S_a ∩ S_b| / |S_a| >= threshold over n-gram shingle sets. Catches
    what symmetric Jaccard structurally cannot: a short document quoted
    inside a much longer page has Jaccard ~|a|/|b| (tiny) but containment
    ~1.0, so near-superset/quote/wrapper duplication only surfaces under
    this asymmetric score (the relation is directional — both orders of a
    pair are evaluated and can disagree).

    Candidate stage (default): the ASYMMETRIC prefix bound (the PPJoin
    prefix principle, Xiao et al. WWW'08, applied to overlap >= t*|S_a|
    per Chaudhuri et al. ICDE'06). containment(a->b) >= t forces
    |S_a ∩ S_b| >= ceil(t*|S_a|); by pigeonhole, ANY |S_a| -
    ceil(t*|S_a|) + 1 shingles of S_a must hit that intersection, so
    only the probe side's prefix — its rarest shingles in the global
    ascending-document-frequency order (same canonicalization as
    setsim_prefix_join) — is joined against the full inverted index of
    the candidate-superset side. The hottest (most common) shingle thus
    lands in a probe prefix only for documents where it is among the
    rarest — near-never at corpus scale — while it MUST stay on the full
    index side (any shared shingle can be the probe's prefix witness), so
    candidate volume is O(prefix rows x bucket), not O(bucket^2). The
    size filter |S_b| >= ceil(t*|S_a|) prunes further; recall stays
    exactly 100% (test_dedup.py differential vs the full inversion).

    ``prefix_filter=False`` keeps the complete inverted index (every
    shingle on both sides) — the brute candidate generator the property
    test compares against.

    Verify stage: exact, in two passes sized to what candidates actually
    look like (low precision is structural here — a loose containment
    threshold keeps half-length prefixes, so survivors are a sliver of
    candidates). Pass 1 intersects the 8-byte HASH arrays — far cheaper
    per pair than string intersection — and keeps pairs reaching the
    required overlap; pass 2 recomputes the intersection on the true
    shingle STRINGS for just the survivors, so the reported score is
    collision-proof. Pass 1 is EXACT-complete, not probabilistically so:
    |hash ∩| < |string ∩| requires two distinct shared shingles of the
    probe set colliding, impossible when the probe's own hash array is
    collision-free — the per-doc ``__cf`` flag routes the (cosmically
    rare) colliding probes around the prefilter straight to pass 2.
    Text strings never shuffle in the candidate stage (hashes only until
    the final verify join)."""
    docs = _spread(docs.filter(F.size(F.split(F.col(text_col), " ")) >= shingle_n))
    sets = _checkpointed_shingle_sets(docs, text_col, id_col, shingle_n)
    # Cut the twice-consumed ranked table with CACHE, not the lazy
    # checkpoint (the setsim_prefix_join lesson, measured here too:
    # interleaved min-of-4 at sf0.1 — checkpoint 2.31 s, cache 1.83 s,
    # no cut 2.67 s); the cache is released below once the output is
    # materialized, so no entry outlives the call. materialize=False
    # keeps the old lazy form (composition/plan inspection).
    cached_ranked = None
    if prefix_filter and materialize:
        cached_ranked = _ranked_prefix_tokens(sets, id_col).cache()
    cand = _containment_candidates(
        sets, id_col, threshold, prefix_filter, ranked=cached_ranked
    )
    hashed = sets.select(
        F.col(id_col),
        F.transform("__sh", lambda s: F.xxhash64(s)).alias("__hs"),
    ).withColumn("__cf", F.size(F.array_distinct("__hs")) == F.size("__hs"))
    pre = (
        cand.join(
            hashed.select(
                F.col(id_col).alias("id_a"),
                F.col("__hs").alias("__ha"),
                F.col("__cf").alias("__cfa"),
            ),
            "id_a",
        )
        .join(
            hashed.select(F.col(id_col).alias("id_b"), F.col("__hs").alias("__hb")),
            "id_b",
        )
        .filter(
            (~F.col("__cfa"))
            | (
                F.size(F.array_intersect("__ha", "__hb"))
                >= F.ceil(F.lit(threshold) * F.size("__ha"))
            )
        )
        .select("id_a", "id_b")
    )
    verified = (
        pre.join(
            sets.select(F.col(id_col).alias("id_a"), F.col("__sh").alias("__sha")),
            "id_a",
        )
        .join(
            sets.select(F.col(id_col).alias("id_b"), F.col("__sh").alias("__shb")),
            "id_b",
        )
        .withColumn(
            "containment",
            F.size(F.array_intersect("__sha", "__shb")).cast("double")
            / F.size("__sha"),
        )
    )
    out = verified.filter(F.col("containment") >= threshold).select(
        F.col("id_a").alias(id_col),
        F.col("id_b").alias("contained_in"),
        (F.round("containment", 4) + F.lit(0.0)).alias("containment"),
    )
    if materialize:
        try:
            out = out.localCheckpoint(eager=True)
        finally:
            if cached_ranked is not None:
                cached_ranked.unpersist()
    return out
