"""Property-based tests (hypothesis) for codec/operator invariants the
fixtures can't fully cover (SURVEY.md §5.2.3)."""

from __future__ import annotations

import pandas as pd
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from pyspark.sql import functions as F

# printable-ish payload strings: no control chars that JSON would escape away
_status = st.text(
    alphabet=st.characters(min_codepoint=32, max_codepoint=126, exclude_characters='"\\'),
    min_size=0,
    max_size=20,
)
_rows = st.lists(
    st.tuples(st.integers(min_value=0, max_value=2**62), _status),
    min_size=1,
    max_size=30,
    unique_by=lambda t: t[0],
)


@settings(max_examples=15, deadline=None, suppress_health_check=list(HealthCheck))
@given(rows=_rows)
def test_envelope_roundtrip_identity(spark_session, rows):
    """decode(encode(x)) == x for arbitrary (id, status) payloads — the
    base64/JSON codec must be lossless (README.md:100, 144-146, 224)."""
    from aws_kinesis_spark.sources.envelope import decode_envelope, synthesize_envelope

    df = spark_session.createDataFrame(
        [(i, s, None) for i, s in rows],
        "o_orderkey LONG, o_orderstatus STRING, o_orderdate TIMESTAMP",
    )
    out = decode_envelope(synthesize_envelope(df)).select("id", "status", "_corrupt")
    got = {(r.id, r.status) for r in out.collect()}
    assert not [r for r in out.collect() if r._corrupt]
    assert got == set(rows)


@settings(max_examples=10, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    keys=st.lists(st.integers(min_value=0, max_value=5), min_size=1, max_size=40),
)
def test_latest_per_key_is_max_sequence(spark_session, keys):
    """CDC apply keeps exactly the max-sequence row per key for arbitrary
    key multisets (README.md:573-575)."""
    from aws_kinesis_spark.operators.upsert import apply_cdc

    rows = [(k, i, f"s{i}") for i, k in enumerate(keys)]
    df = spark_session.createDataFrame(rows, "id LONG, seq LONG, status STRING")
    cdc = df.withColumn("op", F.lit("U"))
    got = {
        (r.id, r.seq) for r in apply_cdc(cdc, ["id"], "seq").select("id", "seq").collect()
    }
    want = {}
    for k, i, _ in rows:
        want[k] = max(want.get(k, -1), i)
    assert got == set(want.items())


@settings(max_examples=10, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    left=st.lists(
        st.tuples(st.integers(0, 3), st.integers(0, 1000)), min_size=1, max_size=25
    ),
    right=st.lists(
        st.tuples(st.integers(0, 3), st.integers(0, 1000), st.integers(0, 99)),
        min_size=0,
        max_size=25,
    ),
)
def test_asof_join_matches_naive(spark_session, left, right):
    """D15: the union+LOCF as-of join equals the naive per-row 'most recent
    right event at or before left.ts' definition on arbitrary inputs
    (ties on the right side broken by the largest value, matching
    last-in-sort-order semantics)."""
    import datetime as dt

    from aws_kinesis_spark.operators.asof import asof_join

    base = dt.datetime(2025, 1, 1)
    ldf = spark_session.createDataFrame(
        [(k, base + dt.timedelta(seconds=ts), i) for i, (k, ts) in enumerate(left)],
        "k LONG, ts TIMESTAMP, lid LONG",
    )
    rdf = spark_session.createDataFrame(
        [(k, base + dt.timedelta(seconds=ts), v) for k, ts, v in right],
        "k LONG, ts TIMESTAMP, v LONG",
    )
    got = {
        (r.lid): r.v
        for r in asof_join(
            ldf, rdf, by=["k"], left_ts="ts", right_ts="ts", value_cols=["v"], suffix=""
        ).collect()
    }
    for i, (k, lts) in enumerate(left):
        cands = [(ts, v) for (rk, ts, v) in right if rk == k and ts <= lts]
        want = max(cands)[1] if cands else None
        assert got.get(i) == want, (i, k, lts, got.get(i), want)


def test_asof_join_null_field_not_backfilled(spark_session):
    """D15 regression: when the MATCHED right row carries a NULL value
    column, that NULL must survive — per-column carry-forward would stitch
    the NULL field from an older right row, returning a value combination
    that exists in no right row (the ASOF-semantics divergence flagged in
    round-2 review)."""
    import datetime as dt

    from aws_kinesis_spark.operators.asof import asof_join

    base = dt.datetime(2025, 1, 1)
    t = lambda s: base + dt.timedelta(seconds=s)
    right = spark_session.createDataFrame(
        [(1, t(10), 100, "old"), (1, t(20), None, "new")],
        "k LONG, ts TIMESTAMP, price INT, tag STRING",
    )
    left = spark_session.createDataFrame([(1, t(30), 7)], "k LONG, ts TIMESTAMP, lid LONG")
    out = asof_join(
        left, right, by=["k"], left_ts="ts", right_ts="ts",
        value_cols=["price", "tag"], suffix="_r",
    ).collect()
    assert len(out) == 1
    # the t=20 row is the match: tag comes from it AND its NULL price stays
    assert out[0]["tag_r"] == "new"
    assert out[0]["price_r"] is None


def test_asof_join_null_right_ts_never_matches(spark_session):
    """D15 regression (round-12 review): a right row with a NULL timestamp
    satisfies no `right_ts <= left_ts` predicate (DuckDB's ASOF agrees),
    but NULLS-FIRST ordering in the carry window made it the carried match
    for every left row with no earlier real right row."""
    import datetime as dt

    from aws_kinesis_spark.operators.asof import asof_join

    base = dt.datetime(2025, 1, 1)
    t = lambda s: base + dt.timedelta(seconds=s)
    right = spark_session.createDataFrame(
        [(1, None, 100, "ghost"), (1, t(40), 200, "late")],
        "k LONG, ts TIMESTAMP, price INT, tag STRING",
    )
    left = spark_session.createDataFrame(
        [(1, t(30), 7)], "k LONG, ts TIMESTAMP, lid LONG"
    )
    out = asof_join(
        left, right, by=["k"], left_ts="ts", right_ts="ts",
        value_cols=["price", "tag"], suffix="_r",
    ).collect()
    assert len(out) == 1
    # no real right row at/before t=30 -> NULL match, not the ghost
    assert out[0]["tag_r"] is None and out[0]["price_r"] is None


def test_text_quality_functions_survive_empty_text(spark_session):
    """Round-12 review: an empty-string doc made punct_ratio (and any
    pre-filtered empty token array) divide by zero — a QUERY-KILLING error
    under this engine's ANSI mode, not a quiet NULL. Empty docs must score
    with defined values; NULL text stays NULL."""
    from pyspark.sql import functions as F

    from aws_kinesis_spark.functions.text import (
        distinct_ratio,
        punct_ratio,
        quality_score,
    )

    df = spark_session.createDataFrame(
        [("",), ("hello world hello",), (None,)], "text string"
    )
    rows = {
        r["text"]: r
        for r in df.select(
            "text",
            punct_ratio("text").alias("p"),
            distinct_ratio("text").alias("d"),
            quality_score("text").alias("q"),
        ).collect()
    }
    assert rows[""]["p"] == 0.0
    assert rows[""]["q"] is not None and 0.0 <= rows[""]["q"] <= 1.0
    assert rows[None]["p"] is None  # NULL text keeps NULL semantics
    assert rows["hello world hello"]["q"] > 0.0
    # caller-passed EMPTY token array (the pre-filtered case)
    e = df.limit(1).select(
        distinct_ratio("text", F.array().cast("array<string>")).alias("d"),
        quality_score("text", F.array().cast("array<string>")).alias("q"),
    ).collect()[0]
    assert e["d"] == 0.0 and e["q"] is not None


_hash_arrays = st.lists(
    st.lists(st.integers(min_value=-(2**63), max_value=2**63 - 1), max_size=12),
    min_size=1,
    max_size=10,
)


@settings(max_examples=50, deadline=None, suppress_health_check=list(HealthCheck))
@given(batch=_hash_arrays)
def test_minhash_kernel_equals_python_reference(batch):
    """The vectorized minhash kernel == a direct per-doc Python computation
    of min((a*x + b) mod 2^64) for arbitrary hash arrays (incl. empties),
    at any chunking."""
    import numpy as np
    import pandas as pd

    from aws_kinesis_spark.operators.dedup import _minhash_coeffs, _minhash_kernel

    k = 6
    a_co, b_co = _minhash_coeffs(k)
    hs = pd.Series([np.array(x, dtype=np.int64) for x in batch])
    got = _minhash_kernel(hs, a_co, b_co, k, chunk=5)
    M = (1 << 64) - 1
    for doc, out in zip(batch, got):
        want = []
        for a, b in zip(a_co, b_co):
            if doc:
                m = min((a * (x & M) + b) & M for x in doc)
            else:
                m = M
            want.append(m - (1 << 64) if m >= (1 << 63) else m)  # as int64
        assert list(out) == want


@settings(max_examples=50, deadline=None, suppress_health_check=list(HealthCheck))
@given(batch=_hash_arrays)
def test_simhash_kernel_equals_python_reference(batch):
    """The vectorized simhash kernel == the per-doc majority-vote
    definition: bit i set iff strictly more than half the shingle hashes
    have bit i set."""
    import numpy as np
    import pandas as pd

    from aws_kinesis_spark.operators.dedup import _simhash_kernel

    hs = pd.Series([np.array(x, dtype=np.int64) for x in batch])
    got = _simhash_kernel(hs, chunk=4)
    for doc, out in zip(batch, got):
        sig = 0
        n = len(doc)
        for i in range(64):
            cnt = sum((x >> i) & 1 for x in doc)
            if 2 * cnt > n and n > 0:
                sig |= 1 << i
        want = sig - (1 << 64) if sig >= (1 << 63) else sig
        assert int(out) == want


# --- bloom filter kernel (pure numpy, no Spark) ----------------------------

_keys = st.lists(
    st.integers(min_value=-(2**63), max_value=2**63 - 1), min_size=1, max_size=500
)


@settings(max_examples=100, deadline=None, suppress_health_check=list(HealthCheck))
@given(keys=_keys, nbits_pow=st.integers(min_value=10, max_value=20))
def test_bloom_kernel_never_false_negative(keys, nbits_pow):
    """B4b soundness: for ANY key set and ANY bitmap size, every inserted
    key must probe positive — first_seen's exactness rests on this."""
    import numpy as np

    from aws_kinesis_spark.operators.bloom import _positions

    num_bits, k = 1 << nbits_pow, 5
    arr = np.array(keys, dtype=np.int64)
    bitmap = np.zeros(num_bits // 8, dtype=np.uint8)
    pos = _positions(arr, num_bits, k).ravel()
    np.bitwise_or.at(bitmap, pos >> 3, np.uint8(1) << (pos & 7).astype(np.uint8))
    probe = _positions(arr, num_bits, k)
    bits = (bitmap[probe >> 3] >> (probe & 7).astype(np.uint8)) & 1
    assert bool(bits.all())


# --- doc chunking vs a direct python reference -----------------------------


def _chunk_reference(text: str, chunk: int, overlap: int):
    toks = [t for t in __import__("re").split(r"\s+", text) if t]
    if not toks:
        return []
    step = chunk - overlap
    out = []
    for cid, s in enumerate(range(0, len(toks), step)):
        if s > 0 and s > len(toks) - overlap - 1:
            continue  # fully-redundant tail
        piece = toks[s : s + chunk]
        out.append((cid, " ".join(piece), len(piece)))
    return out


_texts = st.lists(
    st.text(alphabet="ab x\t", min_size=0, max_size=120), min_size=1, max_size=8
)


@settings(max_examples=10, deadline=None, suppress_health_check=list(HealthCheck))
@given(texts=_texts, chunk=st.integers(4, 12), overlap=st.integers(0, 3))
def test_chunking_matches_reference(spark_session, texts, chunk, overlap):
    """g21 semantics hold for arbitrary whitespace soup and any
    (chunk, overlap) dials, not just the fixture defaults."""
    from aws_kinesis_spark.operators.training import chunk_documents

    docs = spark_session.createDataFrame(
        list(enumerate(texts)), "doc_id bigint, text string"
    )
    got = {
        (r.doc_id, r.chunk_id): (r.chunk_text, r.n_tokens)
        for r in chunk_documents(
            docs, chunk_tokens=chunk, overlap=overlap
        ).collect()
    }
    want = {
        (i, cid): (txt, n)
        for i, text in enumerate(texts)
        for cid, txt, n in _chunk_reference(text, chunk, overlap)
    }
    assert got == want


@settings(max_examples=10, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    docs=st.lists(
        st.lists(st.sampled_from("abcdefgh"), min_size=1, max_size=24).map(" ".join),
        min_size=1,
        max_size=12,
    )
)
def test_span_dup_stats_matches_naive(spark_session, docs):
    """g25: span dedup over random small-vocab docs equals a naive Python
    k-gram reference (which docs are excluded, per-doc span counts, and
    which spans count as duplicated)."""
    from aws_kinesis_spark.operators.dedup import span_dup_stats

    k = 3
    rows = [(i, t) for i, t in enumerate(docs)]
    df = spark_session.createDataFrame(rows, "doc_id bigint, text string")
    got = {
        r.doc_id: (r.n_spans, r.n_dup_spans)
        for r in span_dup_stats(df, k=k).collect()
    }
    # naive reference: token-tuple spans (hash-free — a hash collision in
    # the 31-bit rolling space would make Spark OVER-count dups; vocab and
    # sizes here keep collision probability ~0)
    spans = {
        i: {tuple(t.split(" ")[j : j + k]) for j in range(len(t.split(" ")) - k + 1)}
        for i, t in rows
        if len(t.split(" ")) >= k
    }
    from collections import Counter

    freq = Counter(s for ss in spans.values() for s in ss)
    want = {
        i: (len(ss), sum(1 for s in ss if freq[s] >= 2)) for i, ss in spans.items()
    }
    assert got == want


@settings(max_examples=10, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    docs=st.lists(
        st.lists(st.sampled_from("abcde"), min_size=3, max_size=16).map(" ".join),
        min_size=2,
        max_size=12,
    ),
    threshold=st.sampled_from([0.5, 0.7, 0.9]),
)
def test_setsim_prefix_join_matches_naive(spark_session, docs, threshold):
    """g32: the prefix-filtering join's output equals naive all-pairs
    Jaccard over shingle sets at every threshold — the recall guarantee
    the prefix-filter lemma promises, checked on adversarially tiny
    low-vocab docs where prefixes collide heavily."""
    from aws_kinesis_spark.operators.dedup import setsim_prefix_join

    rows = [(i, t) for i, t in enumerate(docs)]
    df = spark_session.createDataFrame(rows, "doc_id bigint, text string")
    got = {
        (r.id_a, r.id_b): r.jaccard
        for r in setsim_prefix_join(df, threshold=threshold).collect()
    }
    sets = {
        i: {tuple(t.split(" ")[j : j + 3]) for j in range(len(t.split(" ")) - 2)}
        for i, t in rows
        if len(t.split(" ")) >= 3
    }
    want = {}
    ids = sorted(sets)
    for x in range(len(ids)):
        for y in range(x + 1, len(ids)):
            a, b = sets[ids[x]], sets[ids[y]]
            j = len(a & b) / len(a | b)
            if j >= threshold:
                want[(ids[x], ids[y])] = round(j, 4)
    assert got == want


@settings(max_examples=10, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    vecs=st.lists(
        st.lists(
            st.floats(min_value=-1, max_value=1, allow_nan=False, width=32),
            min_size=4,
            max_size=4,
        ),
        min_size=3,
        max_size=16,
    ),
    threshold=st.sampled_from([0.3, 0.6, 0.9]),
)
def test_hard_negatives_match_naive(spark_session, vecs, threshold):
    """g33: the blocked masked top-1 equals a naive numpy all-pairs
    reference — anchors (any positive >= t), each anchor's best strictly
    below-threshold neighbor, ties broken by (sim desc, id asc)."""
    import numpy as np

    from aws_kinesis_spark.operators.similarity import hard_negative_mining

    # drop near-zero vectors: cosine of a ~0-norm vector is numerically
    # unstable in float32->float64 and not the property under test
    vecs = [v for v in vecs if np.linalg.norm(v) > 1e-3]
    if len(vecs) < 3:
        return
    rows = [(i, [float(x) for x in v]) for i, v in enumerate(vecs)]
    df = spark_session.createDataFrame(rows, "vec_id long, embedding array<double>")
    got = {
        r.anchor_id: (r.negative_id, r.neg_sim)
        for r in hard_negative_mining(df, pos_threshold=threshold, n_blocks=3).collect()
    }

    m = np.array(vecs, dtype=np.float64)
    norms = np.linalg.norm(m, axis=1)
    cos = (m @ m.T) / np.outer(norms, norms)
    np.fill_diagonal(cos, -np.inf)
    want = {}
    for i in range(len(vecs)):
        if (cos[i] >= threshold).any():
            below = [(s, j) for j, s in enumerate(cos[i]) if s < threshold and s > -np.inf]
            if below:
                s, j = max(below, key=lambda t: (t[0], -t[1]))
                want[i] = (j, round(s, 4) + 0.0)
    assert got == want


def test_cdc_same_seq_tombstone_wins(spark_session):
    """A producer that reuses one sequence number for a D+U pair must not
    silently resurrect the key: the tombstone wins the tie in apply_cdc /
    net_changes, and scd2_history orders it LAST so it closes the update's
    version (the exact mirror)."""
    from aws_kinesis_spark.operators.upsert import apply_cdc, net_changes, scd2_history

    cdc = spark_session.createDataFrame(
        [(1, 10, "U", "s1"), (1, 10, "D", "s1"), (2, 10, "U", "s2")],
        "id LONG, seq LONG, op STRING, status STRING",
    )
    assert [r.id for r in apply_cdc(cdc, ["id"], "seq").collect()] == [2]

    net = {r.id: r["__net_op"] for r in net_changes(cdc, ["id"], "seq", 0).collect()}
    assert net == {1: "DELETE", 2: "UPSERT"}

    hist = scd2_history(cdc, ["id"], "seq").filter(F.col("id") == 1).collect()
    assert len(hist) == 1
    assert hist[0].op == "U" and not hist[0]["__is_current"]  # closed by the tombstone


@settings(max_examples=10, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    docs=st.lists(
        st.lists(st.sampled_from("abcde"), min_size=3, max_size=16).map(" ".join),
        min_size=2,
        max_size=12,
    ),
    threshold=st.sampled_from([0.3, 0.5, 0.8]),
)
def test_containment_join_prefix_matches_naive_and_full_index(
    spark_session, docs, threshold
):
    """g37: the asymmetric-prefix candidate stage loses NOTHING — its
    output equals both the complete-inverted-index form
    (prefix_filter=False) and naive all-ordered-pairs containment, on
    adversarially tiny low-vocab docs where prefixes collide heavily
    (the prefix-filter lemma applied to overlap >= t*|S_a|)."""
    from aws_kinesis_spark.operators.dedup import containment_join

    rows = [(i, t) for i, t in enumerate(docs)]
    df = spark_session.createDataFrame(rows, "doc_id bigint, text string")
    got = {
        (r.doc_id, r.contained_in): r.containment
        for r in containment_join(df, threshold=threshold).collect()
    }
    full = {
        (r.doc_id, r.contained_in): r.containment
        for r in containment_join(
            df, threshold=threshold, prefix_filter=False
        ).collect()
    }
    sets = {
        i: {tuple(t.split(" ")[j : j + 3]) for j in range(len(t.split(" ")) - 2)}
        for i, t in rows
        if len(t.split(" ")) >= 3
    }
    want = {}
    for x in sets:
        for y in sets:
            if x == y:
                continue
            c = len(sets[x] & sets[y]) / len(sets[x])
            if c >= threshold:
                want[(x, y)] = round(c, 4)
    assert got == want
    assert full == want


@settings(max_examples=10, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    docs=st.lists(
        st.lists(st.sampled_from(["ab", "cd", "ef", "g", "hi"]), min_size=0, max_size=8).map(
            " ".join
        ),
        min_size=1,
        max_size=10,
    ),
)
def test_bpe_pair_stats_match_naive(spark_session, docs):
    """g46: the vocab-factored pair counts (pairs enumerated over distinct
    words weighted by frequency) equal the naive per-token-occurrence
    count — the fast-BPE refactoring must be invisible in the result.
    Low-vocab short docs force heavy word repetition across documents."""
    from collections import Counter

    from aws_kinesis_spark.plans.ext_queries import g46_bpe_pair_stats

    rows = [(i, t, "en", "web", len(t)) for i, t in enumerate(docs)]
    df = spark_session.createDataFrame(
        rows, "doc_id bigint, text string, lang string, source string, n_chars bigint"
    )
    naive = Counter()
    for t in docs:
        for w in t.split(" "):
            if len(w) >= 2:
                for i in range(len(w) - 1):
                    naive[w[i : i + 2]] += 1
    expected = sorted(naive.items(), key=lambda kv: (-kv[1], kv[0]))[:50]

    import aws_kinesis_spark.tables as tables

    orig = tables.load
    tables.load = lambda spark, sf, name: df  # the query loads `documents`
    try:
        from aws_kinesis_spark.plans import ext_queries

        orig2 = ext_queries.load
        ext_queries.load = tables.load
        try:
            got = [
                (r.pair, r.freq)
                for r in g46_bpe_pair_stats(spark_session, "unused")
                .orderBy(F.desc("freq"), F.asc("pair"))
                .collect()
            ]
        finally:
            ext_queries.load = orig2
    finally:
        tables.load = orig
    assert got == [(p, c) for p, c in expected]


@settings(max_examples=5, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    vecs=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=10_000),
            st.lists(
                st.floats(
                    min_value=-1.0, max_value=1.0,
                    allow_nan=False, allow_infinity=False, width=32,
                ),
                min_size=4, max_size=4,
            ),
        ),
        min_size=4, max_size=24,
        unique_by=lambda t: t[0],
    ),
    split=st.integers(min_value=0, max_value=3),
)
def test_ivf_store_full_probe_equals_bruteforce(spark_session, vecs, split, tmp_path_factory):
    """PROPERTY (the g48 store contract over arbitrary corpora): build the
    store on one subset, append the rest through incremental maintenance,
    and a FULL probe (nprobe = nlist) must return exactly the brute-force
    top-k — same pairs, same scores — and the store must hold every id
    exactly once. Any drift means the build/append/probe chain dropped,
    duplicated or mis-scored a vector."""
    import numpy as np

    from aws_kinesis_spark.operators.ivf_index import (
        build_ivf_index,
        knn_ivf_indexed,
        read_ivf_cells,
        update_ivf_index,
    )
    from aws_kinesis_spark.operators.similarity import knn_bruteforce

    # zero vectors have no cosine direction — give every vector mass on a
    # tail dimension so norms are bounded away from 0
    rows = [(i, [*v, 1.0]) for i, v in vecs]
    df = spark_session.createDataFrame(rows, "vec_id LONG, embedding ARRAY<DOUBLE>")
    idx = str(tmp_path_factory.mktemp("ivf_prop"))
    base = df.filter(F.col("vec_id") % 4 != split)
    rest = df.filter(F.col("vec_id") % 4 == split)
    nlist = 4
    build_ivf_index(base if base.count() else df, idx, nlist=nlist, train_rows=64)
    if base.count() and rest.count():
        update_ivf_index(rest, idx)
    ids = read_ivf_cells(spark_session, idx).select("vec_id")
    assert ids.count() == ids.distinct().count() == df.count()
    queries = df.limit(3).select(F.col("vec_id").alias("query_id"), "embedding")
    got = knn_ivf_indexed(spark_session, idx, queries, k=5, nprobe=nlist)
    exact = knn_bruteforce(df, queries, k=5)
    g = {(r.query_id, r.neighbor_id, r.cos_sim) for r in got.collect()}
    e = {(r.query_id, r.neighbor_id, r.cos_sim) for r in exact.collect()}
    assert g == e


@settings(max_examples=10, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    rows=st.lists(
        st.tuples(st.sampled_from(["a", "b", "c"]), st.integers(0, 10_000)),
        min_size=1,
        max_size=60,
        unique_by=lambda t: t[1],
    ),
    k=st.integers(min_value=1, max_value=12),
    hex_chars=st.integers(min_value=1, max_value=3),
)
def test_cap_per_key_equals_window_form(spark_session, rows, k, hex_chars):
    """cap_per_key (g50's skew-safe two-phase cutoff) must equal the plain
    row_number window it replaces for ANY key distribution, cap, and
    bucket fan-out — the bucket-prefix ordering argument holds only if
    bucket-ascending really is a prefix of the (md5, id) order."""
    from pyspark.sql import Window

    from aws_kinesis_spark.operators.training import cap_per_key

    df = spark_session.createDataFrame(rows, ["k", "id"]).repartition(5)
    got = {
        (r.k, r.id)
        for r in cap_per_key(
            df, key_col="k", id_col="id", k=k, hex_chars=hex_chars
        ).collect()
    }
    w = Window.partitionBy("k").orderBy(
        F.md5(F.col("id").cast("string")), F.col("id")
    )
    want = {
        (r.k, r.id)
        for r in df.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
        .collect()
    }
    assert got == want


def test_cap_per_key_boundary_bucket_exceeds_quota(spark_session):
    """VERDICT r12 #3a: one key with MORE rows than 16^hex_chars * k, so
    the per-(key,bucket) row counts all exceed the cap — the cutoff scan
    must stop at the first bucket (start < k < cum) and rank inside it,
    and every later bucket must die at the join. 300 rows >> 16*3 = 48."""
    from pyspark.sql import Window

    from aws_kinesis_spark.operators.training import cap_per_key

    rows = [("hot", i) for i in range(300)] + [("cold", i) for i in range(300, 304)]
    df = spark_session.createDataFrame(rows, ["k", "id"]).repartition(7)
    got = cap_per_key(df, key_col="k", id_col="id", k=3, hex_chars=1)
    got_set = {(r.k, r.id) for r in got.collect()}
    w = Window.partitionBy("k").orderBy(
        F.md5(F.col("id").cast("string")), F.col("id")
    )
    want = {
        (r.k, r.id)
        for r in df.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .collect()
    }
    assert got_set == want
    assert sum(1 for k, _ in got_set if k == "hot") == 3
    assert sum(1 for k, _ in got_set if k == "cold") == 3


def test_cap_per_key_null_ids_and_null_keys(spark_session):
    """VERDICT r12 #3b: md5(cast(NULL AS string)) is NULL, so NULL ids land
    in a NULL bucket — the cutoff join must be null-safe on BOTH key and
    bucket, and the NULL stratum must be capped like any other (Spark
    sorts NULLs first ascending on both the window and bucket paths)."""
    from pyspark.sql import Window

    from aws_kinesis_spark.operators.training import cap_per_key

    rows = [
        ("a", None), ("a", 1), ("a", 2), ("a", 3),
        (None, None), (None, 7), (None, 8), (None, 9),
    ]
    df = spark_session.createDataFrame(rows, "k STRING, id INT").repartition(3)
    got = {
        (r.k, r.id)
        for r in cap_per_key(df, key_col="k", id_col="id", k=2, hex_chars=2).collect()
    }
    w = Window.partitionBy("k").orderBy(
        F.md5(F.col("id").cast("string")), F.col("id")
    )
    want = {
        (r.k, r.id)
        for r in df.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 2)
        .collect()
    }
    assert got == want
    # NULL id sorts first: it must be among the keepers of both strata
    assert ("a", None) in got and (None, None) in got
    assert len(got) == 4


def test_cap_per_key_rejects_reserved_column_clash(spark_session):
    """Round-12 ADVICE: withColumn silently REPLACES a same-named input
    column, so a clash with the temp names must raise, not corrupt."""
    import pytest

    from aws_kinesis_spark.operators.training import cap_per_key

    df = spark_session.createDataFrame([("a", 1, 9)], ["k", "id", "__rn"])
    with pytest.raises(ValueError, match="__rn"):
        cap_per_key(df, key_col="k", id_col="id", k=1)


@settings(max_examples=6, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    vecs=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=10_000),
            st.lists(
                st.floats(
                    min_value=-1.0, max_value=1.0,
                    allow_nan=False, allow_infinity=False, width=32,
                ),
                min_size=4, max_size=4,
            ),
        ),
        min_size=4, max_size=20,
        unique_by=lambda t: t[0],
    ),
    kill=st.integers(min_value=0, max_value=6),
)
def test_ivf_delete_property_matches_bruteforce_over_live_set(
    spark_session, vecs, kill, tmp_path_factory
):
    """PROPERTY (the g52 delete contract over arbitrary corpora and delete
    subsets): after deleting an arbitrary id subset, a FULL probe equals
    brute force over the live remainder exactly; a compaction must not
    change the answer; and re-appending the deleted subset restores the
    original full-corpus answer (horizon scoping — no lingering id ban)."""
    from aws_kinesis_spark.operators.ivf_index import (
        build_ivf_index,
        compact_ivf_index,
        delete_from_ivf_index,
        knn_ivf_indexed,
        read_ivf_cells,
        update_ivf_index,
    )
    from aws_kinesis_spark.operators.similarity import knn_bruteforce

    rows = [(i, [*v, 1.0]) for i, v in vecs]
    df = spark_session.createDataFrame(rows, "vec_id LONG, embedding ARRAY<DOUBLE>")
    idx = str(tmp_path_factory.mktemp("ivf_del_prop"))
    nlist = 4
    build_ivf_index(df, idx, nlist=nlist, train_rows=64)
    dead = df.filter(F.col("vec_id") % 7 == kill).select("vec_id")
    live_df = df.join(dead, "vec_id", "left_anti")
    queries = df.limit(3).select(F.col("vec_id").alias("query_id"), "embedding")

    def probe():
        return {
            (r.query_id, r.neighbor_id, r.cos_sim)
            for r in knn_ivf_indexed(
                spark_session, idx, queries, k=5, nprobe=nlist
            ).collect()
        }

    def brute(corpus):
        return {
            (r.query_id, r.neighbor_id, r.cos_sim)
            for r in knn_bruteforce(corpus, queries, k=5).collect()
        }

    delete_from_ivf_index(dead, idx)
    want_live = brute(live_df) if live_df.count() else set()
    assert probe() == want_live
    # physical fold must not change the answer
    assert compact_ivf_index(spark_session, idx, upto=0) in (0, 1)
    assert probe() == want_live
    assert read_ivf_cells(spark_session, idx, include_deleted=True).count() == (
        live_df.count()
    )
    # horizon scoping: re-appending the deleted subset restores the
    # original full-corpus answer
    if dead.count():
        update_ivf_index(df.join(dead, "vec_id", "left_semi"), idx)
        assert probe() == brute(df)


@settings(max_examples=6, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    rows=st.lists(
        st.tuples(
            st.one_of(st.none(), st.integers(min_value=0, max_value=50)),
            st.one_of(
                st.none(),
                st.floats(min_value=-2.0, max_value=5.0, allow_nan=False),
            ),
        ),
        min_size=1,
        max_size=25,
    )
)
def test_oversample_mixture_matches_python_reference(spark_session, rows):
    """g54's kernel over arbitrary (id, weight) rows: the emitted multiset
    must equal the Python floor(w) + md5-Bernoulli(frac(w)) reference with
    contiguous epoch indices — NULL/negative weights emit nothing, NULL ids
    draw through the sentinel. Duplicate ids share one coin (the draw is a
    pure function of the id), so expected counts just add up."""
    import hashlib
    import math

    from aws_kinesis_spark.operators.training import oversample_mixture

    def copies(doc_id, w):
        if w is None or w < 0:
            w = 0.0
        sid = "\x00null" if doc_id is None else str(doc_id)
        u = int(hashlib.md5(("os:" + sid).encode()).hexdigest()[:8], 16) / 2**32
        return int(math.floor(w)) + (1 if u < w - math.floor(w) else 0)

    df = spark_session.createDataFrame(rows, "doc_id INT, w DOUBLE")
    got: dict = {}
    for r in oversample_mixture(df, F.col("w"), id_col="doc_id").collect():
        got.setdefault(r.doc_id, []).append(r.epoch)
    expect: dict = {}
    for doc_id, w in rows:
        n = copies(doc_id, w)
        if n:
            expect.setdefault(doc_id, []).extend(range(n))
    assert {k: sorted(v) for k, v in got.items()} == {
        k: sorted(v) for k, v in expect.items()
    }


_vec_grid = st.integers(min_value=-3, max_value=3)
_tr_vecs = st.lists(
    st.lists(_vec_grid, min_size=6, max_size=6),
    min_size=3,
    max_size=16,
)


@settings(max_examples=12, deadline=None, suppress_health_check=list(HealthCheck))
@given(vecs=_tr_vecs)
def test_truncation_recall_matches_python_reference(spark_session, vecs):
    """g56's fused two-window plan must equal a per-query Python reference
    that ranks full-dim and prefix cosines independently and intersects the
    top-k sets. Integer-grid components keep every dot/norm exact in
    float64, so both engines compute identical cosines and the (cos desc,
    id) tie-break fully determines both rankings."""
    import math

    from aws_kinesis_spark.operators.embedding import truncation_recall

    dims, k = 3, 3
    corpus = [(i, [float(x) for x in v]) for i, v in enumerate(vecs)]
    queries = [(100 + i, v) for i, (_, v) in enumerate(corpus[:2])]

    def cos(a, b):
        d = sum(x * y for x, y in zip(a, b))
        na = math.sqrt(sum(x * x for x in a))
        nb = math.sqrt(sum(x * x for x in b))
        return None if na * nb == 0 else d / (na * nb)

    expect = {}
    for qid, qv in queries:
        full, trunc = [], []
        for cid, cv in corpus:
            if cid == qid:
                continue
            cf = cos(qv, cv)
            ct = cos(qv[:dims], cv[:dims])
            if cf is not None:
                full.append((-cf, cid))
            if ct is not None:
                trunc.append((-ct, cid))
        true_top = [cid for _, cid in sorted(full)[:k]]
        trunc_top = {cid for _, cid in sorted(trunc)[:k]}
        if true_top:
            hits = sum(1 for cid in true_top if cid in trunc_top)
            expect[qid] = (len(true_top), hits)

    cdf = spark_session.createDataFrame(
        corpus, "vec_id long, embedding array<float>"
    )
    qdf = spark_session.createDataFrame(
        queries, "query_id long, embedding array<float>"
    )
    got = {
        r.query_id: (r.n_true, r.n_hit)
        for r in truncation_recall(cdf, qdf, dims=dims, k=k).collect()
    }
    assert got == expect


def test_ordered_sequence_agg_hot_key_and_cap_composition(spark_session):
    """VERDICT r13 #4: d40's per-key array is unbounded by construction, so
    (a) a deliberately hot key (one user owning ~90% of the rows, spread
    across many partitions) must still produce the exact chronological
    sequence — the group-local sort survives skew — and (b) the documented
    guard, pre-capping with g50's cap_per_key, must bound the hot key at K
    while keeping the SAME deterministic sub-sequence the window form
    defines (order preserved among the kept events)."""
    import datetime as dt
    import hashlib

    from pyspark.sql import Window

    from aws_kinesis_spark.operators.training import cap_per_key
    from aws_kinesis_spark.plans.relational import ordered_sequence_agg

    t0 = dt.datetime(2026, 1, 1)
    rows = []
    # hot key: 1800 events, deliberately appended in REVERSE time order so
    # arrival order cannot accidentally equal the expected order
    for i in reversed(range(1800)):
        rows.append((7, t0 + dt.timedelta(seconds=i), i, f"e{i % 5}"))
    for u in range(10):  # cold keys
        for i in range(3):
            rows.append((100 + u, t0 + dt.timedelta(seconds=i), 10_000 + u * 3 + i, "x"))
    ev = spark_session.createDataFrame(
        rows, "user_id long, ts timestamp, event_id long, event_type string"
    ).repartition(16)

    out = {r.user_id: r for r in ordered_sequence_agg(ev).collect()}
    hot = out[7]
    assert hot.n_events == 1800 and hot.n_types == 5
    assert hot.event_sequence == ",".join(f"e{i % 5}" for i in range(1800))
    assert out[100].event_sequence == "x,x,x"

    # guard composition: cap the hot key to K=50 first (skew-safe), then
    # aggregate — the kept set is the window-form cap identity, and the
    # sequence is those 50 events in (ts, event_id) order
    capped = cap_per_key(ev, key_col="user_id", id_col="event_id", k=50)
    got = {r.user_id: r for r in ordered_sequence_agg(capped).collect()}
    assert got[7].n_events == 50
    keep = sorted(
        range(1800),
        key=lambda i: (hashlib.md5(str(i).encode()).hexdigest(), i),
    )[:50]
    assert got[7].event_sequence == ",".join(f"e{i % 5}" for i in sorted(keep))
    w = Window.partitionBy("user_id").orderBy(
        F.md5(F.col("event_id").cast("string")), F.col("event_id")
    )
    want_ids = {
        r.event_id
        for r in ev.withColumn("rn", F.row_number().over(w))
        .filter((F.col("rn") <= 50) & (F.col("user_id") == 7))
        .collect()
    }
    assert want_ids == set(keep)


def test_cap_per_key_checkpoint_pins_nondeterministic_input(spark_session):
    """VERDICT r13 #5: checkpoint=True must make the two-pass kernel safe on
    a genuinely nondeterministic input (a per-evaluation random filter that
    would otherwise desync the counts pass from the join/rank pass): the
    output comes from ONE materialized row set, so every key holds exactly
    min(k, survivors) rows with no duplicates or phantoms."""
    from pyspark.sql.functions import pandas_udf

    from aws_kinesis_spark.operators.training import cap_per_key

    @pandas_udf("double")
    def unstable_coin(ids: pd.Series) -> pd.Series:
        import numpy as np

        # fresh entropy per evaluation — NOT seeded, NOT derived from ids
        return pd.Series(np.random.random(len(ids)))

    rows = [(f"k{j}", j * 1000 + i) for j in range(4) for i in range(400)]
    base = spark_session.createDataFrame(rows, ["k", "id"]).repartition(8)
    flaky = base.filter(unstable_coin(F.col("id")) < F.lit(0.5))

    out = cap_per_key(
        flaky, key_col="k", id_col="id", k=5, checkpoint=True
    ).collect()
    ids = [r.id for r in out]
    assert len(ids) == len(set(ids)), "duplicate rows leaked across passes"
    per_key = {}
    for r in out:
        per_key[r.k] = per_key.get(r.k, 0) + 1
    # ~200 survivors per key >> 5, so every key fills its cap exactly
    assert per_key == {f"k{j}": 5 for j in range(4)}


# space-joined texts over a tiny vocabulary (overlaps are likely), with
# empty tokens from doubled spaces, leading/trailing spaces, docs of fewer
# than 3 tokens and non-ASCII tokens
_jaccard_tokens = st.sampled_from(["a", "b", "ab", "é", "日本", "", "Ω z"])
_jaccard_texts = st.lists(
    st.lists(_jaccard_tokens, max_size=7).map(" ".join),
    min_size=2,
    max_size=8,
)


@settings(max_examples=15, deadline=None, suppress_health_check=list(HealthCheck))
@given(texts=_jaccard_texts)
def test_driver_jaccard_equals_spark_shingles_jaccard(spark_session, texts):
    """The driver twin of the dedup verify (shingle_set + jaccard_of_sets)
    equals Spark's shingles + _exact_jaccard_on_pairs exactly, pair by
    pair — the dedup trigger's driver shape compares it unrounded against
    the same threshold."""
    from aws_kinesis_spark.functions.text import shingles
    from aws_kinesis_spark.operators.dedup import (
        _exact_jaccard_on_pairs,
        jaccard_of_sets,
        shingle_set,
    )

    docs = spark_session.createDataFrame(
        list(enumerate(texts)), "doc_id LONG, text STRING"
    )
    sets = docs.select("doc_id", shingles(F.col("text")).alias("__sh"))
    assert {r["doc_id"]: set(r["__sh"]) for r in sets.collect()} == {
        i: set(shingle_set(t)) for i, t in enumerate(texts)
    }
    pairs = spark_session.createDataFrame(
        [(a, b) for a in range(len(texts)) for b in range(a + 1, len(texts))],
        "id_a LONG, id_b LONG",
    )
    got = {
        (r.id_a, r.id_b): r.jaccard
        for r in _exact_jaccard_on_pairs(pairs, sets, "doc_id").collect()
    }
    want = {
        (a, b): jaccard_of_sets(shingle_set(texts[a]), shingle_set(texts[b]))
        for a in range(len(texts))
        for b in range(a + 1, len(texts))
    }
    assert got == want
