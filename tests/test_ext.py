"""Invariant tests for EXT operators whose semantics aren't SQL-expressible
(SURVEY.md §5.2.3): SimHash completeness, ANN recall, multimodal plumbing."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from aws_kinesis_spark.operators.dedup import (
    minhash_lsh_dedup,
    ngram_jaccard_dedup,
    simhash_dedup,
)
from aws_kinesis_spark.operators.multimodal import (
    decode_media,
    extract_features,
    to_media_envelope,
)
from aws_kinesis_spark.operators.similarity import knn_bruteforce, knn_ivf, knn_lsh
from aws_kinesis_spark.tables import load

SF = "/root/testdata/sf0.01"


def test_simhash_chunk_join_is_complete(spark):
    """The pigeonhole chunk join must find EXACTLY the pairs whose true
    signature hamming distance is within budget — verified against an
    all-pairs computation on the small fixture."""
    from aws_kinesis_spark.operators.dedup import simhash_signatures

    docs = load(spark, "/root/testdata/sf0.001", "documents")
    sigs = simhash_signatures(docs)
    a = sigs.select(F.col("doc_id").alias("id_a"), F.col("simhash").alias("sh_a"))
    b = sigs.select(F.col("doc_id").alias("id_b"), F.col("simhash").alias("sh_b"))
    brute = {
        (r.id_a, r.id_b)
        for r in a.join(b, F.col("id_a") < F.col("id_b"))
        .withColumn("h", F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b"))))
        .filter(F.col("h") <= 3)
        .collect()
    }
    chunked = {(r.id_a, r.id_b) for r in simhash_dedup(docs, max_hamming=3).collect()}
    assert chunked == brute


def test_simhash_recall_on_neardups(spark):
    """SimHash with a hamming<=6 budget recovers most jaccard>=0.95 pairs
    (measured 0.8 on the fixture; simhash trades recall for a single
    integer signature per doc)."""
    docs = load(spark, SF, "documents")
    truth = {
        (r.id_a, r.id_b)
        for r in ngram_jaccard_dedup(docs, threshold=0.95).collect()
    }
    assert truth, "fixture should contain >=0.95 near-dup pairs"
    sim = {(r.id_a, r.id_b) for r in simhash_dedup(docs, max_hamming=6).collect()}
    recall = len(truth & sim) / len(truth)
    assert recall >= 0.7, f"simhash recall too low: {recall:.2f}"


def test_minhash_equals_exact(spark):
    """LSH + verify == exact inverted-index result at the 0.7 threshold."""
    docs = load(spark, SF, "documents")
    lsh = {(r.id_a, r.id_b) for r in minhash_lsh_dedup(docs, threshold=0.7).collect()}
    exact = {(r.id_a, r.id_b) for r in ngram_jaccard_dedup(docs, threshold=0.7).collect()}
    assert lsh == exact


def test_ann_recall_vs_bruteforce(spark):
    """Sign-bucket multi-probe ANN must reach >=50% top-10 recall on the
    fixture (it prunes ~28x of the corpus; exactness is knn_bruteforce's
    job)."""
    em = load(spark, SF, "embeddings")
    queries = em.filter(F.col("vec_id") < 20).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    exact = knn_bruteforce(em, queries, k=10).collect()
    approx = knn_lsh(em, queries, k=10).collect()
    exact_set = {(r.query_id, r.neighbor_id) for r in exact}
    approx_set = {(r.query_id, r.neighbor_id) for r in approx}
    recall = len(exact_set & approx_set) / len(exact_set)
    assert recall >= 0.5, f"ANN recall too low: {recall:.2f}"


def test_ann_recall_check_ignores_a_duplicated_ann_row(spark):
    """The recall self-check counts each (query_id, neighbor_id) hit once:
    a repeated ANN row must change neither the exact-pair count nor the
    verdict. Here the true recall is 2/4, under the 0.6 floor; counted
    twice, the repeated hit would read as 3/5 and pass."""
    from aws_kinesis_spark.plans.ext_queries import _ann_recall_check

    schema = "query_id int, neighbor_id int"
    exact = spark.createDataFrame([(0, n) for n in range(1, 5)], schema)
    ann = spark.createDataFrame([(0, 1), (0, 2), (0, 9)], schema)
    repeated = ann.unionByName(spark.createDataFrame([(0, 1)], schema))

    def check(hits):
        return [tuple(r) for r in _ann_recall_check(hits, exact, 0.6).collect()]

    assert check(ann) == [(4, False)]
    assert check(repeated) == check(ann)


def test_lsh_geometry_probe_skips_nulls_and_is_optional(spark):
    """Round-12 review: the geometry probe sampled corpus.first() — a NULL
    vector in the first row skipped the tables*bits<=dim check entirely,
    silently collapsing the high tables into one all-corpus bucket. The
    probe now samples the first NON-NULL vector (still raises on bad
    geometry even when row 1 is NULL), and hot paths can opt out."""
    import pytest as _pytest

    em = load(spark, SF, "embeddings")
    dim = len(em.select("embedding").first()[0])
    # prepend a NULL-vector row so the naive first() sample would be NULL
    null_row = em.limit(1).select(
        (F.col("vec_id") + 10_000_000).alias("vec_id"),
        F.lit(None).cast("array<float>").alias("embedding"),
        *[c for c in em.columns if c not in ("vec_id", "embedding")],
    ).select(*em.columns)
    corpus = null_row.unionByName(em)
    queries = em.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    with _pytest.raises(ValueError, match="exceeds the corpus embedding dim"):
        knn_lsh(corpus, queries, k=5, tables=dim, bits=8)
    # valid geometry still runs through the NULL row
    assert knn_lsh(corpus, queries, k=5).count() > 0
    # opt-out skips the probe: bad geometry is the caller's contract then
    knn_lsh(em, queries, k=5, validate_geometry=False)


def test_ivf_recall_vs_bruteforce(spark):
    """IVF ANN: probing 8/32 cells must reach >=50% top-10 recall on the
    (near-orthogonal random) fixture while scanning ~1/4 of the corpus;
    clustered real embeddings do much better."""
    em = load(spark, SF, "embeddings")
    queries = em.filter(F.col("vec_id") < 20).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    exact = knn_bruteforce(em, queries, k=10).collect()
    approx = knn_ivf(em, queries, k=10, nlist=32, nprobe=8).collect()
    exact_set = {(r.query_id, r.neighbor_id) for r in exact}
    approx_set = {(r.query_id, r.neighbor_id) for r in approx}
    recall = len(exact_set & approx_set) / len(exact_set)
    assert recall >= 0.5, f"IVF recall too low: {recall:.2f}"


def test_multimodal_oracles_are_byte_exact_on_multibyte_text(spark, tmp_path):
    """Round-12 review: the g07-family oracles sliced/measured TEXT by
    characters (substring/length/ord) while the operators work on raw
    UTF-8 payload BYTES — equivalent only on an all-ASCII fixture, and the
    old text::BLOB cast threw outright on non-ASCII. The oracles now use
    encode()+hex byte arithmetic; this pins byte-exactness on a corpus
    with 2- and 3-byte characters."""
    import hashlib

    import duckdb

    from aws_kinesis_spark import registry

    sf = str(tmp_path / "mb")
    spark.createDataFrame(
        [
            (1, "héllo wörld ünïcode", "web", "de", 19),
            (2, "plain ascii text here", "web", "en", 21),
            (3, "中文文本测试 one two three four five six seven eight", "crawl", "zh", 30),
            (4, None, "web", "en", 0),  # NULL payload: NULL-safe both sides
        ],
        "doc_id long, text string, source string, lang string, n_chars int",
    ).coalesce(1).write.mode("overwrite").parquet(sf + "/documents.parquet")
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM '{sf}/documents.parquet/*.parquet'"
    )
    q, o = registry.queries(), registry.oracles()

    def h(df):
        cols = sorted(df.columns)
        d = df[cols].astype(str).sort_values(cols).reset_index(drop=True)
        return hashlib.md5(d.to_csv(index=False).encode()).hexdigest()

    for name in (
        "g07_multimodal_meta",
        "g07b_multimodal_features",
        "g07c_multimodal_resize",
        "g07d_multimodal_frame_sample",
    ):
        sdf = q[name](spark, sf).toPandas()
        odf = con.execute(o[name]).df()
        assert len(sdf) == len(odf), name
        assert h(sdf) == h(odf), name


def test_multimodal_decode_is_stubbed():
    with pytest.raises(NotImplementedError):
        decode_media(b"\x89PNG", "image/png")


def test_multimodal_feature_extraction(spark):
    """mapInPandas plumbing: one row per doc, fixed feature width, features
    deterministic (= leading payload bytes)."""
    docs = load(spark, SF, "documents")
    env = to_media_envelope(docs)
    feats = extract_features(env)
    n = docs.count()
    assert feats.count() == n
    row = feats.filter(F.col("doc_id") == 0).collect()[0]
    text0 = docs.filter(F.col("doc_id") == 0).collect()[0]["text"]
    assert row["features"] == [ord(c) for c in text0[:8]]
    assert row["n_bytes"] == len(text0.encode())
    # deterministic across runs
    again = extract_features(env).filter(F.col("doc_id") == 0).collect()[0]
    assert again["features"] == row["features"]


def test_approx_distinct_accuracy(spark):
    """D10b oracle form: the in-plan HLL++-vs-exact 5% bound holds per
    group, and the hash-anchored exact counts match an independent
    count_distinct."""
    from aws_kinesis_spark.registry import queries

    rows = queries()["d10b_approx_distinct"](spark, SF).collect()
    assert rows and all(r.hll_ok for r in rows), [
        (r.event_type, r.hll_ok) for r in rows
    ]
    ev = load(spark, SF, "events")
    exact = {
        r.event_type: r.n
        for r in ev.groupBy("event_type")
        .agg(F.countDistinct("user_id").alias("n"))
        .collect()
    }
    assert {r.event_type: r.exact_users for r in rows} == exact


def test_sequence_packing_bins_are_contiguous_budget_chunks(spark):
    """g11: within a shard, bin ids start at 0, never skip, and every bin
    except the last spans >= the budget once its docs are concatenated
    (concat-then-chunk semantics: a bin closes only when the running token
    stream crosses the budget boundary)."""
    from aws_kinesis_spark.operators.training import pack_sequences
    from aws_kinesis_spark.tables import load

    packed = pack_sequences(
        load(spark, "/root/testdata/sf0.01", "documents"), budget=512, n_shards=4
    )
    rows = packed.orderBy("shard", "doc_id").collect()
    by_shard: dict = {}
    for r in rows:
        by_shard.setdefault(r.shard, []).append(r)
    for shard, docs in by_shard.items():
        bins = [d.bin_id for d in docs]
        assert bins[0] == 0
        assert all(b2 - b1 in (0, 1) or b2 > b1 for b1, b2 in zip(bins, bins[1:]))
        assert bins == sorted(bins), f"shard {shard} bins not monotone"
        # stream position of each doc's start == cumsum of previous tokens
        cum = 0
        for d in docs:
            assert d.bin_id == cum // 512
            cum += d.n_tokens


def test_stratified_sample_respects_fractions(spark):
    """g12: the kept fraction per stratum tracks the requested fraction
    (binomial tolerance at fixture size), and the sample is deterministic."""
    from aws_kinesis_spark.operators.training import stratified_sample
    from aws_kinesis_spark.tables import load

    d = load(spark, "/root/testdata/sf0.01", "documents")
    frac = {"en": 0.25, "zh": 0.5}
    s = stratified_sample(d, "lang", frac, "doc_id")
    totals = {r.lang: r.n for r in d.groupBy("lang").agg(F.count("*").alias("n")).collect()}
    kept = {r.lang: r.n for r in s.groupBy("lang").agg(F.count("*").alias("n")).collect()}
    for lang, f in frac.items():
        got = kept.get(lang, 0) / totals[lang]
        assert abs(got - f) < 0.15, (lang, got, f)
    for lang in set(totals) - set(frac):
        assert kept.get(lang, 0) == totals[lang]  # default fraction 1.0 keeps all
    # deterministic: the same call yields the same ids
    ids1 = {r.doc_id for r in s.select("doc_id").collect()}
    ids2 = {r.doc_id for r in stratified_sample(d, "lang", frac, "doc_id").select("doc_id").collect()}
    assert ids1 == ids2


def test_decontaminate_short_docs_dont_crash_and_are_excluded(spark):
    """Docs with fewer than n tokens carry no n-grams: they must be EXCLUDED
    from the report, not crash the job (round-3 defect: unguarded
    sequence(1, size-n+1) produced a descending index list and element_at
    threw INVALID_ARRAY_INDEX_IN_ELEMENT_AT on any short doc — guaranteed
    to occur in a real pre-training corpus)."""
    from aws_kinesis_spark.operators.training import decontaminate

    train = spark.createDataFrame(
        [(1, "a b"), (2, "w x y z"), (3, "p q r s t"), (4, "")],
        "doc_id long, text string",
    )
    ev = spark.createDataFrame([(100, "w x y z q")], "doc_id long, text string")
    rows = {r["doc_id"]: r for r in decontaminate(train, ev, n=3).collect()}
    assert 1 not in rows and 4 not in rows  # short/empty: excluded, no crash
    # doc 2 grams {w x y, x y z} both appear in eval grams {w x y, x y z, y z q}
    assert rows[2]["n_grams"] == 2 and rows[2]["n_shared"] == 2
    assert rows[2]["contamination"] == 1.0 and rows[2]["contaminated"]
    assert rows[3]["n_shared"] == 0 and not rows[3]["contaminated"]


def test_decontaminate_short_eval_docs_dont_crash(spark):
    """Short docs on the EVAL side must also be guarded."""
    from aws_kinesis_spark.operators.training import decontaminate

    train = spark.createDataFrame([(1, "a b c d")], "doc_id long, text string")
    ev = spark.createDataFrame([(100, "x"), (101, "y z")], "doc_id long, text string")
    rows = decontaminate(train, ev).collect()
    assert len(rows) == 1 and rows[0]["n_shared"] == 0


def test_decontaminate_empty_eval_set(spark):
    """Empty benchmark set: every training doc scores 0, nothing flagged."""
    from aws_kinesis_spark.operators.training import decontaminate

    train = spark.createDataFrame([(1, "a b c d")], "doc_id long, text string")
    ev = spark.createDataFrame([], "doc_id long, text string")
    rows = decontaminate(train, ev).collect()
    assert len(rows) == 1
    assert rows[0]["n_shared"] == 0 and rows[0]["contamination"] == 0.0
    assert not rows[0]["contaminated"]


def test_decontaminate_threshold_boundary_is_inclusive(spark):
    """contamination == threshold must flag the doc (>=, not >)."""
    from aws_kinesis_spark.operators.training import decontaminate

    # doc grams {w x y, x y q}; eval grams {w x y}: contamination exactly 0.5
    train = spark.createDataFrame([(1, "w x y q")], "doc_id long, text string")
    ev = spark.createDataFrame([(100, "w x y")], "doc_id long, text string")
    row = decontaminate(train, ev, n=3, threshold=0.5).collect()[0]
    assert row["contamination"] == 0.5 and row["contaminated"]


def test_quantize_roundtrip_edges(spark):
    """Int8 quantization: zero vectors, negatives at the scale boundary,
    byte-typed codes, and the scale/2 reconstruction bound."""
    from pyspark.sql.types import ByteType

    from aws_kinesis_spark.operators.embedding import (
        quantization_error,
        quantize_embeddings,
    )

    emb = spark.createDataFrame(
        [(1, [0.0, 0.0, 0.0]), (2, [-1.0, 0.5, 1.0]), (3, [0.003, -0.001, 0.002])],
        "vec_id long, embedding array<float>",
    )
    q = quantize_embeddings(emb)
    assert q.schema["codes"].dataType.elementType == ByteType()
    rows = {r["vec_id"]: r for r in q.collect()}
    assert rows[1]["scale"] == 0.0 and rows[1]["codes"] == [0, 0, 0]
    # scale = 1/127; round-half-up keeps the negative boundary at -127
    assert rows[2]["codes"] == [-127, 64, 127]
    assert all(-127 <= c <= 127 for r in rows.values() for c in r["codes"])

    err = {r["vec_id"]: r for r in quantization_error(emb).collect()}
    assert err[1]["max_abs_err"] == 0.0 and err[1]["mse"] == 0.0
    for r in err.values():
        if r["scale"] > 0:
            # half-up rounding bound: |err| <= scale/2 (+ fp slack)
            assert r["max_abs_err"] <= r["scale"] / 2 + 1e-12


def test_top_ngram_share_edges(spark):
    """Repetition signal: exact share on a crafted doc, 0.0 for docs shorter
    than the gram size."""
    from aws_kinesis_spark.functions.text import top_ngram_share

    df = spark.createDataFrame(
        [(1, "a b a b a b"), (2, "x"), (3, "")], "doc_id long, text string"
    )
    got = {
        r["doc_id"]: r["s"]
        for r in df.select("doc_id", top_ngram_share("text", 2).alias("s")).collect()
    }
    # "a b a b a b": bigrams [a b, b a, a b, b a, a b] -> top share 3/5
    assert got[1] == 0.6
    assert got[2] == 0.0 and got[3] == 0.0


def test_pii_scrub_redacts_emails_and_numbers(spark):
    """The fixture corpus is PII-free, so the differential only proves the
    zero case — this pins the actual redaction on synthetic PII."""
    from aws_kinesis_spark.plans.ext_queries import _EMAIL_RE, _LONGNUM_RE

    df = spark.createDataFrame(
        [(1, "mail bob.smith+x@example.co.uk and card 4111111111111 end")],
        "doc_id long, text string",
    )
    out = df.select(
        F.regexp_count("text", F.lit(_EMAIL_RE)).alias("n_emails"),
        F.regexp_count("text", F.lit(_LONGNUM_RE)).alias("n_long"),
        F.regexp_replace(
            F.regexp_replace("text", _EMAIL_RE, "<EMAIL>"), _LONGNUM_RE, "<NUM>"
        ).alias("scrubbed"),
    ).collect()[0]
    assert out["n_emails"] == 1 and out["n_long"] == 1
    assert out["scrubbed"] == "mail <EMAIL> and card <NUM> end"


def test_training_order_is_deterministic_and_epoch_decorrelated(spark):
    """Same epoch twice -> identical order; different epochs -> different
    order (the hash folds the epoch in); every (bucket, rank) is unique."""
    from aws_kinesis_spark.operators.training import training_order

    docs = load(spark, "/root/testdata/sf0.001", "documents")
    e1a = training_order(docs, epoch=1).collect()
    e1b = training_order(docs, epoch=1).collect()
    assert sorted(map(tuple, e1a)) == sorted(map(tuple, e1b))
    order1 = [r["doc_id"] for r in sorted(e1a, key=lambda r: (r["bucket"], r["rank_in_bucket"]))]
    e2 = training_order(docs, epoch=2).collect()
    order2 = [r["doc_id"] for r in sorted(e2, key=lambda r: (r["bucket"], r["rank_in_bucket"]))]
    assert order1 != order2
    assert len({(r["bucket"], r["rank_in_bucket"]) for r in e1a}) == len(e1a)


def test_signature_kernels_chunking_is_invisible():
    """The bounded-transient chunking inside the minhash/simhash numpy
    kernels must not change results: tiny chunk (forcing many doc-aligned
    segments, including a doc bigger than the chunk) == one big chunk."""
    import numpy as np
    import pandas as pd

    from aws_kinesis_spark.operators.dedup import (
        _minhash_coeffs,
        _minhash_kernel,
        _simhash_kernel,
    )

    rng = [
        [11, -3, 2**62, -(2**61), 17, 5, 9],   # longer than chunk=3
        [],                                     # empty doc
        [42],
        [7, 7, 7, 1],
        [],
        [2**63 - 1, -(2**63), 0],
    ]
    hs = pd.Series([np.array(x, dtype=np.int64) for x in rng])
    a_co, b_co = _minhash_coeffs(8)
    small = _minhash_kernel(hs, a_co, b_co, 8, chunk=3)
    big = _minhash_kernel(hs, a_co, b_co, 8, chunk=1 << 30)
    for s, b in zip(small, big):
        assert list(s) == list(b)
    assert list(_simhash_kernel(hs, chunk=3)) == list(_simhash_kernel(hs, chunk=1 << 30))


def test_spacesaving_topk_matches_exact_within_capacity(spark):
    """With the fixture vocabulary far under the counter capacity, the
    SpaceSaving path must reproduce the exact top-k with zero error."""
    from aws_kinesis_spark.operators.sketch import (
        token_topk_exact,
        token_topk_spacesaving,
    )

    docs = load(spark, SF, "documents")
    exact = [(r["token"], r["n"]) for r in token_topk_exact(docs, k=50).collect()]
    sketch = [
        (r["token"], r["n_est"], r["err"])
        for r in token_topk_spacesaving(docs, k=50).collect()
    ]
    assert [(t, n, 0) for t, n in exact] == sketch


def test_spacesaving_eviction_bounds_are_honest(spark):
    """Past capacity, every reported n_est must upper-bound the true count
    and n_est - err must lower-bound it (the SpaceSaving guarantee)."""
    from aws_kinesis_spark.operators.sketch import token_topk_spacesaving

    rows = [(i, f"tok{i % 40}") for i in range(400)]
    docs = spark.createDataFrame(rows, "doc_id long, text string").coalesce(1)
    got = {
        r["token"]: (r["n_est"], r["err"])
        for r in token_topk_spacesaving(docs, k=40, capacity=8).collect()
    }
    true = {f"tok{j}": 10 for j in range(40)}
    for tok, (est, err) in got.items():
        assert est >= true[tok]
        assert est - err <= true[tok]


def test_dedup_keepers_one_keeper_per_cluster(spark):
    """g19: exactly one keeper per cluster, the keeper has the cluster's
    max quality, and singletons keep themselves."""
    from aws_kinesis_spark.operators.dedup import dedup_keepers

    out = dedup_keepers(load(spark, SF, "documents"), threshold=0.7).collect()
    by_cluster = {}
    for r in out:
        by_cluster.setdefault(r["cluster_id"], []).append(r)
    assert sum(len(v) for v in by_cluster.values()) == 500  # every doc decided
    multi = 0
    for rows in by_cluster.values():
        keepers = [r for r in rows if r["keep"]]
        assert len(keepers) == 1
        assert keepers[0]["quality"] == max(r["quality"] for r in rows)
        if len(rows) > 1:
            multi += 1
    assert multi > 0  # the fixture does contain near-dup clusters


def test_spacesaving_merge_preserves_bounds_across_partitions(spark):
    """The distributed merge must stay a global upper/lower bound even when
    a token is evicted from (or never enters) SOME partitions' summaries:
    absent partitions contribute their floor to n_est and err."""
    from aws_kinesis_spark.operators.sketch import token_topk_spacesaving

    # partition 0: heavy tok0..tok7 plus noise that forces eviction;
    # partition 1: the same tokens at different weights, also overflowing
    rows = []
    for i in range(300):
        rows.append((i, f"tok{i % 8}"))          # heavy hitters, both parts
    for i in range(300, 380):
        rows.append((i, f"rare{i}"))             # eviction pressure
    docs = spark.createDataFrame(rows, "doc_id long, text string").repartition(2)
    true_counts = {}
    for _, t in rows:
        true_counts[t] = true_counts.get(t, 0) + 1
    got = {
        r["token"]: (r["n_est"], r["err"])
        for r in token_topk_spacesaving(docs, k=200, capacity=16).collect()
    }
    assert got, "sketch returned nothing"
    for tok, (est, err) in got.items():
        assert est >= true_counts.get(tok, 0), (tok, est, true_counts.get(tok))
        assert est - err <= true_counts.get(tok, 0), (tok, est, err)
    # the genuinely heavy tokens must survive the sketch
    for j in range(8):
        assert f"tok{j}" in got


def test_ngram_shares_udf_null_text(spark):
    """NULL text must score 0.0, not crash the Arrow batch."""
    from aws_kinesis_spark.functions.text import ngram_shares_udf, tokens

    df = spark.createDataFrame([(1, None), (2, "a b a b")], "doc_id long, text string")
    rows = {
        r["doc_id"]: r["s"]
        for r in df.select("doc_id", ngram_shares_udf((2,))(tokens("text")).alias("s")).collect()
    }
    assert rows[1] == [0.0]
    assert rows[2] == [0.6667]


def test_spacesaving_heap_memory_stays_bounded():
    """The lazy-deletion heap must not grow with total updates: after any
    update the heap holds at most 4x capacity entries (compaction rebuilds
    it from the live counters), while the counters dict never exceeds
    capacity — O(capacity) memory on arbitrarily long partitions."""
    from aws_kinesis_spark.operators.sketch import SpaceSaving

    ss = SpaceSaving(capacity=8)
    true = {}
    # 60k updates over a rotating vocabulary far larger than capacity,
    # with one heavy hitter that keeps its counter forever growing
    for i in range(20000):
        for tok in ("BIG", f"mid{i % 40}", f"rare{i}"):
            ss.update(tok)
            true[tok] = true.get(tok, 0) + 1
            assert ss.heap_size() <= 4 * ss.capacity
            assert len(ss.counts) <= ss.capacity
    est, err = ss.counts["BIG"]
    assert est >= true["BIG"]
    assert est - err <= true["BIG"]


def test_spacesaving_skewed_partition_floor_path(spark):
    """One partition holds far more distinct tokens than capacity PLUS a
    heavy hitter; the other partition never sees the heavy hitter. The
    absent partition's floor must widen (not break) the global bounds, and
    the heavy hitter must survive with a certain lower bound."""
    from aws_kinesis_spark.operators.sketch import token_topk_spacesaving

    rows_a = [(i, "BIG") for i in range(500)] + [
        (1000 + i, f"rare{i}") for i in range(200)
    ]
    # partition B also overflows its summary (distinct >> capacity) while
    # never seeing BIG, so B's floor is nonzero and must widen BIG's bounds
    rows_b = [(2000 + i, f"common{i % 5}") for i in range(100)] + [
        (3000 + i, f"bnoise{i}") for i in range(200)
    ]
    schema = "doc_id long, text string"
    sc = spark.sparkContext
    # RDD union preserves the two single-partition sides exactly, so the
    # heavy hitter is provably absent from partition B's summary
    rdd = sc.parallelize(rows_a, 1).union(sc.parallelize(rows_b, 1))
    docs = spark.createDataFrame(rdd, schema)
    assert docs.rdd.getNumPartitions() == 2
    true = {}
    for _, t in rows_a + rows_b:
        true[t] = true.get(t, 0) + 1
    got = {
        r["token"]: (r["n_est"], r["err"])
        for r in token_topk_spacesaving(docs, k=300, capacity=16).collect()
    }
    for tok, (est, err) in got.items():
        assert est >= true.get(tok, 0), (tok, est, true.get(tok))
        assert est - err <= true.get(tok, 0), (tok, est, err)
    # the skewed partition overflowed (>16 distinct), so its floor is
    # nonzero and every merged counter carries widened error
    big_est, big_err = got["BIG"]
    assert big_est - big_err <= 500 <= big_est
    assert big_err > 0  # floor path actually exercised
    # heavy hitter's lower bound stays meaningful: it provably occurred
    assert big_est - big_err > 0


def test_lsh_fixture_margin_no_pairs_in_weak_recall_band(spark):
    """ADVICE r4: LSH banding at r=4/b=16 has ~0.988 recall exactly AT
    jaccard=0.7, so a fixture pair sitting just above the threshold could
    in principle be missed by the candidate stage (deterministically,
    since the permutations are seeded — see _minhash_coeffs). This test
    pins the fixture margin: the sf0.01 documents table has NO pair with
    exact jaccard in [0.60, 0.85), so every true pair the g02/g19/g20
    differentials must find sits where banding recall is ~1-1e-6, and the
    exact-oracle comparison is structurally stable."""
    from aws_kinesis_spark.operators.dedup import (
        _checkpointed_shingle_sets,
        _spread,
    )

    docs = load(spark, SF, "documents")
    docs = _spread(docs.filter(F.size(F.split(F.col("text"), " ")) >= 3))
    sets = _checkpointed_shingle_sets(docs, "text", "doc_id", 3)
    a = sets.select(F.col("doc_id").alias("id_a"), F.col("__sh").alias("sa"))
    b = sets.select(F.col("doc_id").alias("id_b"), F.col("__sh").alias("sb"))
    pairs = a.crossJoin(b).filter(F.col("id_a") < F.col("id_b"))
    inter = F.size(F.array_intersect("sa", "sb"))
    jac = inter / (F.size("sa") + F.size("sb") - inter)
    weak = pairs.select(jac.alias("j")).filter(
        (F.col("j") >= 0.60) & (F.col("j") < 0.85)
    )
    assert weak.count() == 0


def test_bloom_no_false_negatives_and_low_fp_rate(spark):
    """Bloom membership: every inserted key tests positive (no false
    negatives — the property the exactness of first_seen rests on), and the
    false-positive rate on disjoint keys stays near the design point."""
    import numpy as np

    from aws_kinesis_spark.operators.bloom import build_bloom, might_contain

    inserted = spark.range(0, 20_000).withColumnRenamed("id", "k")
    bitmap = build_bloom(inserted, "k", num_bits=1 << 20, num_hashes=5)
    assert bitmap.nbytes == (1 << 20) // 8  # driver traffic independent of rows

    back = inserted.withColumn("hit", might_contain(inserted, "k", bitmap))
    assert back.filter(~F.col("hit")).count() == 0  # no false negatives

    fresh = spark.range(1_000_000, 1_020_000).withColumnRenamed("id", "k")
    fp = fresh.withColumn("hit", might_contain(fresh, "k", bitmap))
    rate = fp.filter(F.col("hit")).count() / 20_000
    # k=5, n=20k, m=1M bits -> theoretical ~ (1-e^{-kn/m})^5 ~ 7e-6; allow slack
    assert rate < 0.01, rate


def test_bloom_merge_is_two_level(spark):
    """VERDICT r5 #3: the bitmap OR-reduce happens EXECUTOR-side — the
    driver receives at most merge_fan_in bitmaps regardless of input
    partition count, and the two-level merge changes no bits (every
    inserted key still tests positive with a tiny fan_in over many
    partitions)."""
    from aws_kinesis_spark.operators.bloom import build_bloom, might_contain

    inserted = spark.range(0, 50_000, numPartitions=32).withColumnRenamed("id", "k")
    fan2 = build_bloom(inserted, "k", num_bits=1 << 18, merge_fan_in=2)
    fan64 = build_bloom(inserted, "k", num_bits=1 << 18, merge_fan_in=64)
    assert (fan2 == fan64).all()  # merge topology cannot change the filter
    back = inserted.withColumn("hit", might_contain(inserted, "k", fan2))
    assert back.filter(~F.col("hit")).count() == 0


def test_bloom_auto_sizing_tracks_history(spark):
    """num_bits=None sizes the bitmap from the history keyset (HLL++) so a
    history that outgrows the static default cannot saturate the filter;
    the auto-sized path stays exact vs the plain anti-join."""
    from aws_kinesis_spark.operators.bloom import auto_bloom_bits, first_seen
    from aws_kinesis_spark.tables import load

    small = spark.range(0, 1_000).selectExpr("xxhash64(id) AS k")
    big = spark.range(0, 200_000).selectExpr("xxhash64(id) AS k")
    b_small, b_big = auto_bloom_bits(small, "k"), auto_bloom_bits(big, "k")
    assert b_small < b_big  # sizing follows the keyset
    assert b_big >= 10 * 200_000 * 0.8  # ~bits_per_key x n (HLL tolerance)

    ev = load(spark, SF, "events")
    cutoff = F.lit("2024-01-03").cast("timestamp")
    hist, batch = ev.filter(F.col("ts") < cutoff), ev.filter(F.col("ts") >= cutoff)
    got = first_seen(batch, hist, ["user_id", "event_type"], num_bits=None)
    want = batch.join(
        hist.select("user_id", "event_type").distinct(),
        on=["user_id", "event_type"],
        how="left_anti",
    )
    assert got.count() == want.count()
    assert got.select(*ev.columns).exceptAll(want.select(*ev.columns)).count() == 0


def test_bloom_first_seen_exact_vs_anti_join(spark):
    """first_seen output is EXACT: identical row set to the plain anti-join,
    and the bloom prunes (some definite-new rows never reach the join)."""
    from aws_kinesis_spark.operators.bloom import first_seen
    from aws_kinesis_spark.tables import load

    ev = load(spark, SF, "events")
    cutoff = F.lit("2024-01-03").cast("timestamp")
    hist, batch = ev.filter(F.col("ts") < cutoff), ev.filter(F.col("ts") >= cutoff)
    cols = ev.columns
    got = first_seen(batch, hist, ["user_id", "event_type"]).select(*cols)
    want = batch.join(
        hist.select("user_id", "event_type").distinct(),
        on=["user_id", "event_type"],
        how="left_anti",
    ).select(*cols)
    assert got.count() == want.count()
    assert got.exceptAll(want).count() == 0
    assert want.exceptAll(got).count() == 0


def test_chunking_invariants(spark):
    """g21 chunking: chunks tile the token stream with exactly `overlap`
    shared tokens between consecutive chunks; stripping each chunk's overlap
    prefix reconstructs the document's tokens exactly; no chunk is empty or
    longer than chunk_tokens; 0-token docs emit nothing."""
    from aws_kinesis_spark.operators.training import chunk_documents

    docs = spark.createDataFrame(
        [
            (1, " ".join(f"t{i}" for i in range(100))),  # multiple full chunks
            (2, " ".join(f"t{i}" for i in range(33))),  # tail chunk with new token
            (3, " ".join(f"t{i}" for i in range(25))),  # redundant tail suppressed
            (4, "one two"),  # single short chunk
            (5, "   "),  # 0 tokens -> no chunks
            (7, " \t\n "),  # tab/newline-only: 0 tokens, must not crash
            (6, "solo"),
        ],
        "doc_id bigint, text string",
    )
    out = chunk_documents(docs, chunk_tokens=32, overlap=8).collect()
    by_doc = {}
    for r in out:
        by_doc.setdefault(r.doc_id, []).append(r)
    assert 5 not in by_doc and 7 not in by_doc
    assert [r.chunk_id for r in by_doc[3]] == [0]  # start 25 > 25-8 suppressed
    for doc_id, rows in by_doc.items():
        rows.sort(key=lambda r: r.chunk_id)
        assert [r.chunk_id for r in rows] == list(range(len(rows)))
        toks = []
        for i, r in enumerate(rows):
            ctoks = r.chunk_text.split(" ")
            assert 1 <= r.n_tokens <= 32 and len(ctoks) == r.n_tokens
            if i == 0:
                toks.extend(ctoks)
            else:
                assert ctoks[:8] == toks[-8:]  # exact overlap
                toks.extend(ctoks[8:])
        orig = [t for t in docs.where(F.col("doc_id") == doc_id).head().text.split() if t]
        assert toks == orig  # lossless tiling


def _uf_components(pairs):
    """Reference union-find: node -> component minimum."""
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {n: find(n) for n in parent}


def test_connected_components_star_matches_union_find(spark):
    """g10 scale path: alternating large-star/small-star components equal a
    union-find reference on seeded random graphs (multi-component, dense
    and sparse, duplicate and reversed edges)."""
    import random

    from aws_kinesis_spark.operators.dedup import connected_components

    for seed, n, m in [(1, 40, 30), (2, 200, 150), (3, 120, 400)]:
        rng = random.Random(seed)
        pairs = [(rng.randrange(n), rng.randrange(n)) for _ in range(m)]
        pairs = [(a, b) for a, b in pairs if a != b]
        df = spark.createDataFrame(pairs, "id_a bigint, id_b bigint")
        want = _uf_components(pairs)
        # force the distributed alternating-star path AND the default
        # (bounded driver union-find) path; both must match the reference
        for cap in (0, 1 << 20):
            labels, rounds = connected_components(df, driver_collect_max=cap)
            got = {r["node"]: r["cluster_id"] for r in labels.collect()}
            assert got == want, (seed, cap, rounds)


def test_connected_components_chain_converges_in_log_rounds(spark):
    """The case naive min-label propagation cannot survive at scale: a
    256-link chain (templated near-dup crawl pages) must resolve in
    O(log n) rounds, not O(diameter)."""
    from aws_kinesis_spark.operators.dedup import connected_components

    n = 257
    chain = [(i, i + 1) for i in range(n - 1)]
    df = spark.createDataFrame(chain, "id_a bigint, id_b bigint")
    # driver_collect_max=0 forces the distributed path (the log-round claim
    # is about that path; the default would solve this on the driver)
    labels, rounds = connected_components(df, driver_collect_max=0)
    got = {r["node"]: r["cluster_id"] for r in labels.collect()}
    assert got == {i: 0 for i in range(n)}
    assert rounds <= 14, rounds  # ~2*log2(257)+slack, far below 256


@pytest.mark.slow
def test_connected_components_distributed_at_1m_edges(spark):
    """VERDICT r5 #7: exercise the REAL distributed branch above
    driver_collect_max (not the forced-dial tiny graphs): ~1.2M chain edges
    in 1024-node blocks — deep-diameter components, the shape a templated
    crawl's near-dup chains take at 100 TB. Asserts the O(log n) round
    bound and verifies every label distributively against the analytic
    ground truth (node's component minimum = its block start)."""
    from aws_kinesis_spark.operators.dedup import connected_components

    n, block = 1_200_128, 1024  # n % block == 0; ~1.199M edges > 2^20 dial
    edges = (
        spark.range(n - 1)
        .filter((F.col("id") + 1) % block != 0)  # no edge across block ends
        .select(F.col("id").alias("id_a"), (F.col("id") + 1).alias("id_b"))
        .repartition(32)
    )
    assert edges.count() > (1 << 20)  # above the default driver dial
    labels, rounds = connected_components(edges)
    assert rounds <= 24, rounds  # ~2*log2(1024)+slack, far below diameter
    bad = labels.filter(
        F.col("cluster_id") != (F.col("node") - (F.col("node") % block))
    ).count()
    assert bad == 0
    assert labels.count() == n  # every node labeled exactly once


def test_leakage_safe_split_no_pair_straddles(spark):
    """g23: every near-dup pair must land in the SAME split — the property
    the per-doc g09 split cannot guarantee and this operator exists for."""
    from aws_kinesis_spark.registry import queries

    split = {r.doc_id: r.split for r in queries()["g23_leakage_safe_split"](spark, SF).collect()}
    pairs = minhash_lsh_dedup(load(spark, SF, "documents"), threshold=0.7).collect()
    assert pairs
    for p in pairs:
        assert split[p.id_a] == split[p.id_b], (p.id_a, p.id_b)
    # and the split is still roughly 80/10/10 over the corpus
    from collections import Counter
    c = Counter(split.values())
    assert 0.6 < c["train"] / len(split) < 0.95


def test_span_dup_stats_semantics(spark):
    """g25: a doc sharing a verbatim 8-token run with another doc reports
    exactly the contained dup windows; unique docs report zero; docs
    shorter than k are excluded; identical docs are 100% duplicated."""
    from aws_kinesis_spark.operators.dedup import span_dup_stats

    shared = "a b c d e f g h i j"  # 10 tokens -> 3 windows of 8
    rows = [
        (1, shared + " unique1 tail1 tok1 tok2 tok3 tok4"),
        (2, "lead1 lead2 " + shared),  # shares all 3 of doc 1's windows? no:
        # doc2's windows covering the shared run are offset by the lead
        # tokens, but the run itself contains 10-8+1 = 3 identical windows
        # present in BOTH docs (window content depends only on tokens).
        (3, "q r s t u v w x y z aa bb"),  # all-unique tokens
        (4, "too short"),  # < 8 tokens: excluded
        (5, "dup dup2 dup3 dup4 dup5 dup6 dup7 dup8"),  # == doc 6
        (6, "dup dup2 dup3 dup4 dup5 dup6 dup7 dup8"),
    ]
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    got = {r.doc_id: r for r in span_dup_stats(docs, k=8).collect()}
    assert 4 not in got
    assert got[3].n_dup_spans == 0 and got[3].dup_fraction == 0.0
    # docs 1 and 2: the shared 10-token run contributes its 3 windows to each
    assert got[1].n_dup_spans == 3 and got[2].n_dup_spans == 3
    assert got[1].n_spans == 16 - 8 + 1 and got[2].n_spans == 12 - 8 + 1
    # identical docs: every window duplicated
    assert got[5].n_spans == 1 and got[5].dup_fraction == 1.0
    assert got[6].dup_fraction == 1.0


def test_net_changes_semantics(spark):
    """o06: cursor truncates the log; last op per key decides DELETE vs
    UPSERT with final values; untouched keys emit nothing."""
    from aws_kinesis_spark.operators.upsert import net_changes

    rows = [
        # key 1: only before the cursor -> absent from the changeset
        (1, "old", "I", 10),
        # key 2: updated after cursor -> UPSERT with the final value
        (2, "v1", "I", 11),
        (2, "v2", "U", 101),
        (2, "v3", "U", 150),
        # key 3: inserted then deleted after cursor -> DELETE
        (3, "x", "I", 120),
        (3, "x", "D", 130),
        # key 4: deleted then re-inserted after cursor -> UPSERT
        (4, "back", "D", 110),
        (4, "fresh", "I", 140),
    ]
    cdc = spark.createDataFrame(rows, ["id", "status", "op", "seq"])
    got = {r.id: r for r in net_changes(cdc, ["id"], "seq", 100).collect()}
    assert set(got) == {2, 3, 4}
    assert got[2]["__net_op"] == "UPSERT" and got[2].status == "v3"
    assert got[3]["__net_op"] == "DELETE"
    assert got[4]["__net_op"] == "UPSERT" and got[4].status == "fresh"


def test_log_compaction_replay_equivalence(spark):
    """o07 invariant: for ANY consumer cursor at-or-after the compaction
    cursor, consuming the COMPACTED log is indistinguishable from consuming
    the full log — both the collapsed state (apply_cdc) and the incremental
    changeset (net_changes) match row-for-row."""
    from aws_kinesis_spark.operators.upsert import (
        apply_cdc,
        compact_changelog,
        net_changes,
    )

    rows = []
    import random

    rng = random.Random(7)
    for seq in range(1, 401):
        key = rng.randrange(40)
        op = rng.choice(["I", "U", "U", "D"])
        rows.append((key, f"v{seq}", op, seq))
    cdc = spark.createDataFrame(rows, "id INT, status STRING, op STRING, seq INT")
    compact_cursor = 200
    compacted = compact_changelog(cdc, ["id"], "seq", compact_cursor)
    assert compacted.count() < cdc.count()  # it actually compacts
    for consumer_cursor in (200, 250, 399):
        full_state = apply_cdc(cdc, ["id"], "seq")
        comp_state = apply_cdc(compacted, ["id"], "seq")
        assert full_state.exceptAll(comp_state).count() == 0
        assert comp_state.exceptAll(full_state).count() == 0
        full_net = net_changes(cdc, ["id"], "seq", consumer_cursor)
        comp_net = net_changes(compacted, ["id"], "seq", consumer_cursor)
        assert full_net.exceptAll(comp_net).count() == 0
        assert comp_net.exceptAll(full_net).count() == 0


def test_containment_prefix_shrinks_candidates_on_skewed_shingles(spark):
    """g37 scale shape (VERDICT r8 #2): with a universal hot shingle the
    complete inverted index makes EVERY ordered doc pair a candidate —
    the near-quadratic hot-bucket blowup. The asymmetric prefix bound
    keeps a corpus-common shingle out of (almost) every probe prefix (it
    is never among a doc's rarest), so candidate pairs collapse while
    output stays IDENTICAL (completeness = the pigeonhole/prefix lemma,
    property-tested in test_properties.py)."""
    from aws_kinesis_spark.operators.dedup import (
        _containment_candidates,
        containment_join,
        shingles,
    )

    # every doc opens with the hot trigram "x x x"; unique tails differ
    rows = [
        (i, "x x x " + " ".join(f"w{i}_{j}" for j in range(6))) for i in range(24)
    ]
    df = spark.createDataFrame(rows, "doc_id bigint, text string")
    sets = df.select("doc_id", shingles(F.col("text"), 3).alias("__sh"))
    n_pref = _containment_candidates(sets, "doc_id", 0.5, True).count()
    n_full = _containment_candidates(sets, "doc_id", 0.5, False).count()
    assert n_full == 24 * 23, n_full  # hot shingle: all ordered pairs
    assert n_pref < n_full / 4, (n_pref, n_full)
    got = {
        (r.doc_id, r.contained_in, r.containment)
        for r in containment_join(df, threshold=0.5).collect()
    }
    full = {
        (r.doc_id, r.contained_in, r.containment)
        for r in containment_join(df, threshold=0.5, prefix_filter=False).collect()
    }
    assert got == full


def test_assign_clusters_non_zero_based_ids(spark):
    """VERDICT r8 #3: centroid seeding must not assume the id space starts
    at 0 — the n_clusters LOWEST-id vectors seed, whatever the ids, and
    cluster_id is never silently NULL."""
    from aws_kinesis_spark.operators.similarity import assign_clusters, semdedup

    rows = [(1000 + i, [float(i == j) for j in range(4)]) for i in range(6)]
    df = spark.createDataFrame(rows, "vec_id bigint, embedding array<float>")
    got = {r.vec_id: r.cluster_id for r in assign_clusters(df, n_clusters=3).collect()}
    assert None not in got.values(), got
    # each seed vector is its own nearest centroid, ids ranked 0..2
    assert (got[1000], got[1001], got[1002]) == (0, 1, 2)
    # non-seeds are orthogonal to every centroid (cos=0 ties) -> lowest cid
    assert got[1003] == got[1004] == got[1005] == 0
    # downstream semdedup keeps everything (all-orthogonal corpus)
    assert all(r.is_kept for r in semdedup(df, n_clusters=3, threshold=0.9).collect())


def test_assign_clusters_empty_input_raises(spark):
    """The silent-NULL degradation path is closed: an empty corpus raises
    a named error instead of seeding zero centroids."""
    from aws_kinesis_spark.operators.similarity import assign_clusters

    df = spark.createDataFrame([], "vec_id bigint, embedding array<float>")
    with pytest.raises(ValueError, match="empty"):
        assign_clusters(df, n_clusters=4)


def test_leakage_safe_split_leaves_zero_cross_split_neardups(spark):
    """g49's audit-grade contract: among the KEPT documents, NO train doc
    has a jaccard>=t near-dup in test (the exact all-pairs check), test
    docs all survive, and only train docs were dropped."""
    from aws_kinesis_spark.operators.dedup import setsim_prefix_join
    from aws_kinesis_spark.plans.ext_queries import g49_leakage_safe_split
    from aws_kinesis_spark.tables import load

    kept = g49_leakage_safe_split(spark, SF).cache()
    docs = load(spark, SF, "documents")
    n_test = kept.filter(F.col("split") == "test").count()
    # every test doc survives (the held-out set is never mutated)
    assert n_test == docs.filter(
        F.md5(F.col("doc_id").cast("string")).startswith("0")
    ).count()
    # the fixture actually exercises the drop path
    assert kept.count() < docs.count()
    # zero cross-split near-dup pairs remain among kept docs
    kept_docs = docs.join(kept.select("doc_id"), "doc_id", "left_semi")
    pairs = setsim_prefix_join(kept_docs, threshold=0.7)
    tagged = kept.select("doc_id", "split")
    cross = (
        pairs.join(
            tagged.withColumnRenamed("doc_id", "id_a").withColumnRenamed(
                "split", "split_a"
            ),
            "id_a",
        )
        .join(
            tagged.withColumnRenamed("doc_id", "id_b").withColumnRenamed(
                "split", "split_b"
            ),
            "id_b",
        )
        .filter(F.col("split_a") != F.col("split_b"))
    )
    assert cross.count() == 0
    kept.unpersist()


def test_multimodal_kernels_handle_null_payloads(spark):
    """Round-11 review: a NULL media payload (missing media) used to crash
    all three Arrow kernels with a TypeError. 1->1 shapes emit NULL
    features/thumb (missing stays distinguishable from empty); the 1->N
    frame sampler emits zero frames for it."""
    from aws_kinesis_spark.operators.multimodal import (
        extract_features,
        resize_media,
        sample_frames,
    )

    env = spark.createDataFrame(
        [(1, b"abcdef" * 64, "image/png"), (2, None, "image/png")],
        "doc_id LONG, payload BINARY, mime STRING",
    )
    feats = {r.doc_id: r for r in extract_features(env).collect()}
    assert feats[1].features is not None and feats[1].n_bytes == 384
    assert feats[2].features is None and feats[2].n_bytes is None
    thumbs = {r.doc_id: r.thumb for r in resize_media(env).collect()}
    assert thumbs[1] is not None and thumbs[2] is None
    frames = sample_frames(env).collect()
    assert {r.doc_id for r in frames} == {1}  # null payload -> zero frames


def test_cap_per_key_matches_plain_window(spark):
    """The two-phase hash-bucket cutoff (g50's kernel) must be row-identical
    to the plain-window definition it replaces — on a SKEWED frame whose
    hot key spans many buckets (the case the operator exists for) and
    whose tail keys are smaller than k (cap is a no-op there)."""
    from pyspark.sql import Window

    from aws_kinesis_spark.operators.training import cap_per_key

    rows = [("hot", i) for i in range(500)] + [
        (f"tail{j}", 1000 + 10 * j + i) for j in range(5) for i in range(3)
    ]
    df = spark.createDataFrame(rows, ["k", "id"]).repartition(7)
    for k, hex_chars in ((10, 2), (1, 1), (499, 2), (500, 2), (501, 3)):
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
        assert got == want, (k, hex_chars, len(got), len(want))
    # tail keys (3 rows each) survive any k >= 3 untouched
    got10 = cap_per_key(df, key_col="k", id_col="id", k=10)
    assert got10.filter(F.col("k") != "hot").count() == 15
    assert got10.filter(F.col("k") == "hot").count() == 10


def test_cap_per_key_rejects_bad_dials(spark):
    from aws_kinesis_spark.operators.training import cap_per_key

    df = spark.createDataFrame([("a", 1)], ["k", "id"])
    with pytest.raises(ValueError, match="k must be positive"):
        cap_per_key(df, key_col="k", id_col="id", k=0)
    with pytest.raises(ValueError, match="hex_chars"):
        cap_per_key(df, key_col="k", id_col="id", k=1, hex_chars=5)


def test_cdc_payload_tie_break_is_deterministic(spark):
    """Two events sharing key+seq+op with DRIFTED payloads (producer
    double-send) must pick the same winner on every run and any
    partitioning — net_changes and the SCD2 event dedup now carry the
    collapse_cdc payload-hash total-order term (this pinned the round-11
    collapse_cdc fix; these paths had the same hole)."""
    from aws_kinesis_spark.operators.upsert import (
        net_changes,
        scd2_merge_increment,
    )

    rows = [(1, "drift_a", "U", 10), (1, "drift_b", "U", 10)]
    winners = set()
    for parts in (1, 2, 7):
        cdc = spark.createDataFrame(
            rows, ["id", "status", "op", "seq"]
        ).repartition(parts)
        got = net_changes(cdc, ["id"], "seq", 0).collect()
        assert len(got) == 1 and got[0]["__net_op"] == "UPSERT"
        winners.add(got[0].status)
        merged = scd2_merge_increment(None, cdc, ["id"], "seq")
        cur = [r for r in merged.collect() if r["__is_current"]]
        assert len(cur) == 1
        winners.add("scd2:" + cur[0].status)
    # one net winner and one scd2 winner across all partitionings
    assert len(winners) == 2, winners


def test_cap_per_key_keeps_null_key_stratum(spark):
    """NULL keys form their own capped stratum, exactly as the window form
    partitions them — a plain equi-join on the cutoffs would silently drop
    every NULL-key row instead."""
    from pyspark.sql import Window

    from aws_kinesis_spark.operators.training import cap_per_key

    rows = [("a", i) for i in range(6)] + [(None, 100 + i) for i in range(6)]
    df = spark.createDataFrame(rows, "k string, id int").repartition(3)
    got = {
        (r.k, r.id)
        for r in cap_per_key(df, key_col="k", id_col="id", k=3).collect()
    }
    w = Window.partitionBy("k").orderBy(
        F.md5(F.col("id").cast("string")), F.col("id")
    )
    want = {
        (r.k, r.id)
        for r in df.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .collect()
    }
    assert got == want
    assert sum(1 for k, _ in got if k is None) == 3


def test_bloom_nullable_batches_keep_exact_int64_keys(spark):
    """Round-13 review: a key batch containing one NULL used to cross to
    pandas as float64, rounding every other key to 53-bit precision before
    insertion — a full-range xxhash64 key then probed at its exact value
    and MISSED (a false negative). NULLs now stay JVM-side on both the
    build (filter) and probe (coalesce + null flag) paths."""
    from aws_kinesis_spark.operators.bloom import build_bloom, might_contain

    big = [(1 << 62) + i * 1_000_003 for i in range(50)]  # all above 2^53
    rows = [(k,) for k in big] + [(None,)]
    df = spark.createDataFrame(rows, "k LONG").repartition(1)  # one batch
    bm = build_bloom(df, "k", num_bits=1 << 16)
    probe = spark.createDataFrame([(k,) for k in big] + [(None,)], "k LONG")
    got = probe.withColumn("hit", might_contain(probe, "k", bm)).collect()
    by_key = {r.k: r.hit for r in got}
    assert all(by_key[k] for k in big), "false negative on an exact-seen key"
    assert by_key[None] is False  # NULL was never inserted


def test_lsh_geometry_probe_covers_the_query_side(spark):
    """Round-13 review: a query table embedded at a smaller dim than
    tables*bits used to fail unchecked inside the job — both sides now
    probe up front."""
    import pytest as _pytest

    em = load(spark, SF, "embeddings")
    short_queries = em.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"),
        F.slice("embedding", 1, 8).alias("embedding"),
    )
    with _pytest.raises(ValueError, match="exceeds the query embedding dim"):
        knn_lsh(em, short_queries, k=5, tables=8, bits=8)


def test_asof_join_null_keys_never_match(spark):
    """Round-13 review: Window.partitionBy groups NULL keys, so a
    NULL-keyed right row was carried as the match for NULL-keyed left
    rows — but NULL = NULL satisfies no equi-join predicate; such left
    rows must come back with NULL values (the DuckDB ASOF semantics)."""
    from aws_kinesis_spark.operators.asof import asof_join

    left = spark.createDataFrame(
        [(None, 30), (1, 30)], "user_id INT, ts INT"
    ).select("user_id", F.col("ts").cast("timestamp").alias("ts"))
    right = spark.createDataFrame(
        [(None, 10, 5.0), (1, 10, 7.0)], "user_id INT, ts INT, v DOUBLE"
    ).select("user_id", F.col("ts").cast("timestamp").alias("ts"), "v")
    out = {r.user_id: r.v_right for r in asof_join(left, right, ["user_id"], "ts", "ts", ["v"]).collect()}
    assert out[1] == 7.0
    assert out[None] is None  # NULL key matches nothing


def test_asof_join_rejects_empty_value_cols(spark):
    import pytest as _pytest

    from aws_kinesis_spark.operators.asof import asof_join

    df = spark.createDataFrame([(1, 1)], "user_id INT, ts INT")
    with _pytest.raises(ValueError, match="value_cols"):
        asof_join(df, df, ["user_id"], "ts", "ts", [])


def test_spacesaving_floor_is_zero_without_eviction_at_exact_capacity():
    """Round-13 review: a partition holding EXACTLY capacity distinct
    tokens is still lossless — floor() must be 0, not the minimum
    counter (which inflated n_est/err for absent tokens and broke the
    exact-when-distinct<=capacity contract)."""
    from aws_kinesis_spark.operators.sketch import SpaceSaving

    ss = SpaceSaving(capacity=4)
    for tok, n in (("a", 5), ("b", 3), ("c", 2), ("d", 1)):
        for _ in range(n):
            ss.update(tok)
    assert len(ss.counts) == 4
    assert ss.floor() == 0  # no eviction ever ran
    ss.update("e")  # now one eviction: the floor is live
    assert ss.floor() > 0


def test_fingerprint_null_text_is_null_not_empty_hash(spark):
    """Round-13 review: concat_ws skips NULLs, so NULL text fingerprinted
    as md5('') and merged with genuinely-empty documents."""
    from aws_kinesis_spark.functions.text import fingerprint

    df = spark.createDataFrame(
        [(1, None), (2, ""), (3, "x y")], "doc_id INT, text STRING"
    ).select("doc_id", fingerprint("text").alias("fp"))
    rows = {r.doc_id: r.fp for r in df.collect()}
    assert rows[1] is None
    assert rows[2] is not None and rows[1] != rows[2]
    assert rows[3] is not None


def test_stratified_sample_keeps_null_keys_on_one_deterministic_coin(spark):
    """Round-13 review: md5(NULL) is NULL, so NULL-key rows silently
    vanished from any stratum with fraction < 1 while fraction >= 1
    strata kept them. NULL keys now hash a sentinel — one deterministic
    flip, consistent across strata and re-runs."""
    from aws_kinesis_spark.operators.training import stratified_sample

    rows = [("en", None), ("en", 1), ("de", None), ("de", 2)]
    df = spark.createDataFrame(rows, "lang STRING, doc_id INT")
    # fraction 1.0 stratum always keeps its NULL row; the <1 stratum's
    # NULL row follows the sentinel hash (deterministic either way)
    out1 = stratified_sample(df, "lang", {"en": 0.5}, "doc_id")
    out2 = stratified_sample(df, "lang", {"en": 0.5}, "doc_id")
    key = lambda t: (str(t[0]), str(t[1]))
    assert sorted(map(tuple, out1.collect()), key=key) == sorted(map(tuple, out2.collect()), key=key)
    kept_de = out1.filter(F.col("lang") == "de").count()
    assert kept_de == 2  # default fraction 1.0 keeps NULL-key rows
    # and a full-keep en fraction keeps the NULL row too
    assert stratified_sample(df, "lang", {"en": 1.0}, "doc_id").count() == 4


def test_quantization_error_survives_an_empty_vector(spark):
    """Round-13 review: 0.0 / size([]) raised DIVIDE_BY_ZERO under ANSI
    and killed the scan for one failed upstream embed."""
    from aws_kinesis_spark.operators.embedding import quantization_error

    df = spark.createDataFrame(
        [(1, [1.0, -2.0]), (2, [])], "vec_id LONG, embedding ARRAY<DOUBLE>"
    )
    rows = {r.vec_id: r for r in quantization_error(df).collect()}
    assert rows[1].n_dims == 2 and rows[1].mse is not None
    assert rows[2].n_dims == 0 and rows[2].mse is None


def test_buffer_accounting_shard_falls_back_to_hash_for_real_keys(spark):
    """Round-13 review: production partition keys have no numeric tail —
    the plain cast raised CAST_INVALID_INPUT under ANSI and killed the
    stream; non-numeric tails now shard by pmod(xxhash64(key))."""
    df = spark.createDataFrame(
        [("sales-orders-7",), ("user-abc123",)], "partition_key STRING"
    )
    shard = F.coalesce(
        F.element_at(F.split("partition_key", "-"), -1).try_cast("long") % 8,
        F.pmod(F.xxhash64("partition_key"), F.lit(8)),
    ).cast("int")
    rows = {r.partition_key: r.s for r in df.select("partition_key", shard.alias("s")).collect()}
    assert rows["sales-orders-7"] == 7
    assert 0 <= rows["user-abc123"] < 8  # hashed, not an exception


def test_kinesis_sequence_mapping_rejects_oversized_numbers_with_a_named_error(spark):
    """Round-13 review: real Kinesis sequence numbers (~56 digits) blow
    DECIMAL(38,0); the mapping must fail with the remapping remedy, not a
    generic ANSI overflow, and keep fixture-sized numbers exact."""
    import pytest as _pytest

    expr = """CASE
         WHEN sequenceNumber IS NULL THEN NULL
         WHEN TRY_CAST(sequenceNumber AS DECIMAL(38,0)) IS NULL
           THEN RAISE_ERROR(CONCAT('kinesis sequenceNumber exceeds DECIMAL(38,0): ',
             sequenceNumber))
         ELSE TRY_CAST(sequenceNumber AS DECIMAL(38,0))
       END AS sequence_number"""
    ok = spark.createDataFrame([("123",), (None,)], "sequenceNumber STRING").selectExpr(expr)
    vals = [r.sequence_number for r in ok.collect()]
    assert sorted(str(v) for v in vals) == ["123", "None"]
    bad = spark.createDataFrame([("9" * 56,)], "sequenceNumber STRING").selectExpr(expr)
    with _pytest.raises(Exception, match="exceeds DECIMAL"):
        bad.collect()


def _py_oversample_copies(doc_id, weight):
    """Python reference for oversample_mixture's per-row copy count."""
    import hashlib
    import math

    if weight is None or weight < 0:
        weight = 0.0
    sid = "\x00null" if doc_id is None else str(doc_id)
    u = int(hashlib.md5(("os:" + sid).encode()).hexdigest()[:8], 16) / 2**32
    return int(math.floor(weight)) + (1 if u < weight - math.floor(weight) else 0)


def test_oversample_mixture_matches_python_reference(spark):
    """g54 kernel: emitted multiset equals floor(w) + md5-Bernoulli(frac(w))
    per row, epochs contiguous from 0; NULL weight and negative weight mean
    0 copies; NULL id draws through the sentinel (one deterministic coin,
    not a silent drop)."""
    from aws_kinesis_spark.operators.training import oversample_mixture

    rows = [
        (1, 0.0),
        (2, 0.4),
        (3, 1.0),
        (4, 2.5),
        (5, 3.75),
        (6, None),
        (7, -1.5),
        (None, 2.5),
    ]
    df = spark.createDataFrame(rows, "doc_id INT, w DOUBLE")
    got = {}
    for r in oversample_mixture(df, F.col("w"), id_col="doc_id").collect():
        got.setdefault(r.doc_id, []).append(r.epoch)
    for doc_id, w in rows:
        copies = _py_oversample_copies(doc_id, w)
        epochs = sorted(got.get(doc_id, []))
        assert epochs == list(range(copies)), (doc_id, w, copies, epochs)


def test_oversample_mixture_rejects_reserved_clash_and_caps_copies(spark):
    """Temp/output name collisions raise instead of corrupting (the
    cap_per_key ADVICE precedent), and the in-plan max_copies tripwire
    RAISES on a malformed weight rather than silently clamping."""
    from aws_kinesis_spark.operators.training import oversample_mixture

    clash = spark.createDataFrame([(1, 1.0, 9)], "doc_id INT, w DOUBLE, epoch INT")
    with pytest.raises(ValueError, match="epoch"):
        oversample_mixture(clash, F.col("w"), id_col="doc_id")
    with pytest.raises(ValueError, match="max_copies"):
        oversample_mixture(clash.drop("epoch"), F.col("w"), id_col="doc_id",
                           max_copies=0)
    bomb = spark.createDataFrame([(1, 1e6)], "doc_id INT, w DOUBLE")
    with pytest.raises(Exception, match="max_copies"):
        oversample_mixture(bomb, F.col("w"), id_col="doc_id").collect()


def test_linear_model_scorer_matches_in_plan_form(spark):
    """The broadcast-weights Arrow scorer (g53's documented real-model
    serving path) must reproduce the in-plan literal form bit-for-bit on
    the same derived model, and the plan must stay shuffle-free (one
    ArrowEvalPython projection over the scan). NULL/empty token arrays
    score NULL."""
    from aws_kinesis_spark.functions.text import linear_model_scorer
    from aws_kinesis_spark.registry import REGISTRY
    from aws_kinesis_spark import registry as _r

    _r._ensure_loaded()
    sf = "/root/testdata/sf0.001"
    weights = [(b % 9) - 4 for b in range(64)]
    score = linear_model_scorer(spark, weights)
    docs = load(spark, sf, "documents")
    udf_side = docs.select(
        "doc_id", score(F.split("text", " ")).alias("logit_udf")
    )
    plan = udf_side._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )
    assert "ArrowEvalPython" in plan
    assert "Exchange" not in plan
    in_plan = REGISTRY["g53_quality_classifier"].fn(spark, sf).select(
        "doc_id", (F.col("clf_logit")).alias("logit_ref"), "n_tokens"
    )
    # compare UNROUNDED udf logit against the reference recomputed at
    # full precision: rounding both sides to 4 must agree exactly
    joined = udf_side.join(in_plan, "doc_id")
    bad = joined.filter(
        F.round("logit_udf", 4).eqNullSafe(F.col("logit_ref")) == False  # noqa: E712
    ).count()
    assert bad == 0
    # NULL and empty token arrays score NULL
    edge = spark.createDataFrame(
        [(1, ["a", "b"]), (2, None), (3, [])],
        "id INT, toks ARRAY<STRING>",
    ).select("id", score(F.col("toks")).alias("logit"))
    got = {r.id: r.logit for r in edge.collect()}
    assert got[2] is None and got[3] is None and got[1] is not None


def test_oversample_mixture_overflow_weights_hit_named_tripwire(spark):
    """Round-13 review: weights at int-wrap scale (2^31, 2^32+50) must die
    on the NAMED double-side tripwire before any integer cast — never a
    generic ANSI CAST_OVERFLOW, never a silently wrapped copy count."""
    from aws_kinesis_spark.operators.training import oversample_mixture

    for w in (2147483648.0, 4294967346.0, 1e300):
        df = spark.createDataFrame([(1, w)], "doc_id INT, w DOUBLE")
        with pytest.raises(Exception, match="max_copies"):
            oversample_mixture(df, F.col("w"), id_col="doc_id").collect()


def test_linear_model_scorer_null_element_matches_in_plan_null_poisoning(spark):
    """A NULL token INSIDE the array must score the row NULL in both the
    broadcast scorer and the in-plan literal form (md5(NULL) poisons the
    aggregate) — the round-13 review crash case."""
    from aws_kinesis_spark.functions.text import linear_model_scorer

    score = linear_model_scorer(spark, [(b % 9) - 4 for b in range(64)])
    df = spark.createDataFrame(
        [(1, ["a", None, "b"]), (2, ["a", "b"])], "id INT, toks ARRAY<STRING>"
    )
    got = {r.id: r.logit for r in df.select("id", score("toks").alias("logit")).collect()}
    assert got[1] is None and got[2] is not None
    # the in-plan form on the same poisoned array also yields NULL
    wt_arr = F.array(*[F.lit((b % 9) - 4) for b in range(64)])
    contrib = F.transform(
        F.col("toks"),
        lambda t: F.element_at(
            wt_arr, (F.conv(F.substring(F.md5(t), 1, 4), 16, 10).cast("int") % 64) + 1
        ),
    )
    s = F.aggregate(contrib, F.lit(0).cast("bigint"), lambda a, x: a + x)
    ref = {r.id: r.s for r in df.select("id", s.alias("s")).collect()}
    assert ref[1] is None and ref[2] is not None
    score.broadcast.destroy()


def test_span_fingerprint_survives_31bit_collision(spark):
    """Round-13 review: a single 31-bit rolling hash false-flags unique
    spans at corpus scale (birthday collisions grow ~N/2^31). The two
    spans below collide under (base 131 mod 2^31-1) — found by seeded
    search — yet share no tokens; the double-hash fingerprint must keep
    them distinct so neither document reports a duplicated span."""
    from aws_kinesis_spark.operators.dedup import span_dup_stats

    span_a = "w4063 w2876 w3108 w3302 w3844 w3897 w293 w3572"
    span_b = "w1790 w2382 w4077 w1405 w4930 w13 w3199 w4707"
    # pin the premise: the pair really collides under the old single hash
    import hashlib

    def roll(text, base, mod):
        acc = 0
        for t in text.split(" "):
            acc = (acc * base + int(hashlib.md5(t.encode()).hexdigest()[:8], 16)) % mod
        return acc

    assert roll(span_a, 131, 2147483647) == roll(span_b, 131, 2147483647)
    assert roll(span_a, 137, 2147483629) != roll(span_b, 137, 2147483629)

    docs = spark.createDataFrame([(1, span_a), (2, span_b)], ["doc_id", "text"])
    got = {r.doc_id: r for r in span_dup_stats(docs, k=8).collect()}
    assert got[1].n_dup_spans == 0 and got[2].n_dup_spans == 0


def test_banding_rejects_non_dividing_bands(spark):
    """Round-13 review: bands must divide num_hashes — the silent floor
    division dropped trailing signature hashes from every band, and
    bands > num_hashes built a zero-argument xxhash64 failing far from
    the bad parameter."""
    from aws_kinesis_spark.operators.dedup import band_rows, lsh_candidate_pairs

    docs = spark.createDataFrame(
        [(1, "a b c d e f"), (2, "a b c d e f")], ["doc_id", "text"]
    )
    sigs = spark.createDataFrame([(1,) + (0,) * 64], ["doc_id"] + [f"h{i}" for i in range(64)])
    with pytest.raises(ValueError, match="divisor of num_hashes"):
        lsh_candidate_pairs(sigs, num_hashes=64, bands=12)
    with pytest.raises(ValueError, match="divisor of num_hashes"):
        band_rows(docs, num_hashes=64, bands=96)
    # dividing parameters still work end-to-end
    assert band_rows(docs, num_hashes=64, bands=16).count() == 32


def test_embedding_neardup_null_vectors_and_structured_ids(spark):
    """Round-13 review: (a) a NULL embedding row crashed np.stack inside
    the block kernel and aborted the job — NULL vectors are now excluded;
    (b) blocking by raw pmod(id) collapsed stride-allocated ids (all ids
    sharing low bits) into one block, materializing the full n x n matrix
    the blocking exists to avoid — blocks now come from xxhash64(id), and
    the pair results are identical for any id layout."""
    import numpy as np

    from aws_kinesis_spark.operators.dedup import embedding_neardup

    rng = np.random.default_rng(3)
    base = rng.normal(size=4).tolist()
    # ids all ≡ 0 (mod 8): raw pmod(id, 8) would land every row in block 0
    rows = [(i * 8, [float(x) for x in base]) for i in range(6)]
    rows.append((1000, None))  # NULL vector: must be ignored, not crash
    emb = spark.createDataFrame(rows, "vec_id LONG, embedding ARRAY<DOUBLE>")
    got = embedding_neardup(emb, threshold=0.99, n_blocks=8)
    pairs = {(r.id_a, r.id_b) for r in got.collect()}
    want = {(a * 8, b * 8) for a in range(6) for b in range(6) if a < b}
    assert pairs == want
    # hash blocking spreads the skewed ids over >1 block
    blk = emb.filter(F.col("embedding").isNotNull()).select(
        F.pmod(F.xxhash64("vec_id"), F.lit(8)).alias("b")
    )
    assert blk.distinct().count() > 1


def test_connected_components_raises_on_non_convergence(spark):
    """Round-13 review: exhausting max_iters used to fall through to the
    star-assuming label extraction, silently splitting one component into
    several cluster_ids. It must fail loudly instead."""
    from aws_kinesis_spark.operators.dedup import connected_components

    # a path graph long enough that ONE alternating round cannot finish
    edges = [(i, i + 1) for i in range(40)]
    pairs = spark.createDataFrame(edges, "id_a LONG, id_b LONG")
    with pytest.raises(RuntimeError, match="did not converge"):
        connected_components(pairs, max_iters=1, driver_collect_max=0)
    # with the budget restored the same graph resolves to one component
    labels, _ = connected_components(pairs, driver_collect_max=0)
    assert labels.select("cluster_id").distinct().count() == 1


def test_knn_join_string_ids_and_null_vectors(spark):
    """Round-13 review: blocking by pmod(raw id) coerced non-numeric ids
    to NULL blocks and silently returned an EMPTY result (no error), and
    a NULL embedding crashed the block kernel. Hash blocking + the NULL
    filter make string-id corpora first-class; results must match the
    numeric-id answer under the id renaming."""
    import numpy as np

    from aws_kinesis_spark.operators.similarity import knn_join

    rng = np.random.default_rng(11)
    vecs = rng.normal(size=(12, 6))
    rows = [(f"doc-{i:02d}", [float(x) for x in vecs[i]]) for i in range(12)]
    rows.append(("doc-99", None))
    emb = spark.createDataFrame(rows, "vec_id STRING, embedding ARRAY<DOUBLE>")
    got = knn_join(emb, k=2, n_blocks=3).collect()
    # every non-NULL vector has exactly k neighbors; no silent emptiness
    by_q = {}
    for r in got:
        by_q.setdefault(r.query_id, []).append(r)
    assert set(by_q) == {f"doc-{i:02d}" for i in range(12)}
    assert all(len(v) == 2 for v in by_q.values())
    # brute-force check for one query
    q = 0
    sims = {}
    for j in range(12):
        if j == q:
            continue
        a, b = vecs[q], vecs[j]
        sims[j] = float(a @ b / (np.linalg.norm(a) * np.linalg.norm(b)))
    want = sorted(sims, key=lambda j: (-sims[j], j))[:2]
    got_q = [r.neighbor_id for r in sorted(by_q["doc-00"], key=lambda r: -r.cos_sim)]
    assert got_q == [f"doc-{j:02d}" for j in want]


def test_hard_negatives_stride_ids_match_dense_ids(spark):
    """Round-13 review: stride-allocated ids (all sharing low bits) used
    to collapse every row into one block under raw-pmod blocking. The
    hash blocking must leave results identical to the dense-id layout."""
    import numpy as np

    from aws_kinesis_spark.operators.similarity import hard_negative_mining

    rng = np.random.default_rng(5)
    vecs = rng.normal(size=(10, 5))
    dense = spark.createDataFrame(
        [(i, [float(x) for x in vecs[i]]) for i in range(10)],
        "vec_id LONG, embedding ARRAY<DOUBLE>",
    )
    stride = spark.createDataFrame(
        [(i * 8, [float(x) for x in vecs[i]]) for i in range(10)],
        "vec_id LONG, embedding ARRAY<DOUBLE>",
    )
    a = {(r.anchor_id, r.negative_id, r.neg_sim)
         for r in hard_negative_mining(dense, pos_threshold=0.3, n_blocks=4).collect()}
    b = {(r.anchor_id // 8, r.negative_id // 8, r.neg_sim)
         for r in hard_negative_mining(stride, pos_threshold=0.3, n_blocks=4).collect()}
    assert a == b and len(a) > 0


def test_knn_bruteforce_degenerate_query_returns_no_rows(spark):
    """Round-13 review: a zero-norm (or NULL) query vector has no defined
    cosine to anything — it used to fill its top-k with arbitrary
    lowest-id rows scored NULL; it must now return nothing for that
    query while healthy queries are unaffected."""
    import numpy as np

    from aws_kinesis_spark.operators.similarity import knn_bruteforce

    rng = np.random.default_rng(2)
    corpus = spark.createDataFrame(
        [(i, [float(x) for x in rng.normal(size=4)]) for i in range(8)],
        "vec_id LONG, embedding ARRAY<DOUBLE>",
    )
    queries = spark.createDataFrame(
        [(100, [0.0, 0.0, 0.0, 0.0]), (101, [1.0, 0.0, 0.0, 0.0])],
        "query_id LONG, embedding ARRAY<DOUBLE>",
    )
    got = knn_bruteforce(corpus, queries, k=3).collect()
    assert {r.query_id for r in got} == {101}
    assert len([r for r in got if r.query_id == 101]) == 3


def test_semdedup_null_embedding_rows_are_kept_not_crashed(spark):
    """Round-13 review: a NULL embedding rode through assign_clusters into
    the pair kernel and crashed the matrix build. It must be assigned,
    kept (no cosine to anything), and must not drop others."""
    from aws_kinesis_spark.operators.similarity import semdedup

    rows = [
        (1, [1.0, 0.0]),
        (2, [1.0, 0.0]),  # exact dup of 1 -> dropped
        (3, None),
        (4, [0.0, 1.0]),
    ]
    emb = spark.createDataFrame(rows, "vec_id LONG, embedding ARRAY<DOUBLE>")
    got = {r.vec_id: r.is_kept for r in semdedup(emb, n_clusters=2, threshold=0.9).collect()}
    assert got == {1: True, 2: False, 3: True, 4: True}


def test_similarity_collects_name_null_vector_errors(spark):
    """Round-13 review: the bounded driver collects (IVF training sample,
    decontamination reference) must fail with the NAMED NULL-vector error,
    not a cryptic numpy 'setting an array element with a sequence'."""
    from aws_kinesis_spark.operators.similarity import (
        max_sim_vs_reference,
        train_ivf_centroids,
    )

    emb = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, None)], "vec_id LONG, embedding ARRAY<DOUBLE>"
    )
    with pytest.raises(ValueError, match="NULL embedding"):
        train_ivf_centroids(emb, nlist=2, train_rows=16)
    corpus = spark.createDataFrame(
        [(1, [1.0, 0.0])], "vec_id LONG, embedding ARRAY<DOUBLE>"
    )
    with pytest.raises(ValueError, match="NULL embedding"):
        max_sim_vs_reference(corpus, emb).collect()


def test_merge_into_sql_quotes_identifiers_and_escapes_values():
    """Round-13 review: the MERGE statement interpolated identifiers and
    the delete-op value unquoted — a value with a quote broke the SQL
    (and the broken statement was silently swallowed by the fallback),
    and odd column names could smuggle syntax into spark.sql()."""
    from aws_kinesis_spark.operators.upsert import merge_into_sql

    sql = merge_into_sql(
        "t1", "v1", ["id"], ["id", "o p"], delete_op=("op", "D'EL")
    )
    assert "s.`op` = 'D''EL'" in sql
    assert "t.`o p` = s.`o p`" in sql
    assert "t.`id` = s.`id`" in sql


def test_merge_upsert_propagates_execution_time_unsupported(spark, tmp_path):
    """Round-13 review: PySpark maps EVERY java UnsupportedOperationException
    to the same Python class — including execution-time MERGE failures
    (e.g. Delta's duplicate-staging-row cardinality violation). Only the
    catalog's UNSUPPORTED_FEATURE refusal may take the relational
    fallback; anything else must propagate."""
    import uuid as _uuid

    from pyspark.errors import UnsupportedOperationException

    from aws_kinesis_spark.operators.upsert import merge_upsert

    tbl = f"t_prop_{_uuid.uuid4().hex[:8]}"
    d = str(tmp_path / "t")
    spark.createDataFrame([(1, "a")], "id LONG, v STRING").write.parquet(d)
    spark.sql(f"CREATE TABLE {tbl} USING parquet LOCATION '{d}'")
    staging = spark.createDataFrame([(1, "b")], "id LONG, v STRING")

    real_sql = spark.sql

    def exec_time_failure(q, *a, **kw):
        if q.lstrip().startswith("MERGE"):
            # a plain java UnsupportedOperationException surfacing from
            # execution carries NO error condition (getCondition None) —
            # exactly what a broad class-level catch used to swallow
            raise UnsupportedOperationException("merge cardinality violation")
        return real_sql(q, *a, **kw)

    spark.sql = exec_time_failure
    try:
        with pytest.raises(UnsupportedOperationException, match="cardinality"):
            merge_upsert(spark, tbl, staging, ["id"])
    finally:
        spark.sql = real_sql
        spark.sql(f"DROP TABLE {tbl}")
    # the genuine v1 refusal (UNSUPPORTED_FEATURE) still falls back —
    # pinned by test_lake.py's merge fallback test


def test_apply_cdc_null_op_is_kept_not_deleted(spark):
    """Round-13 review: a key whose LATEST record carries op=NULL used to
    vanish from the collapsed state ('op != D' is NULL -> filtered) as if
    deleted. It must surface as state instead."""
    from aws_kinesis_spark.operators.upsert import apply_cdc, compact_changelog

    cdc = spark.createDataFrame(
        [(1, "A", "I", 1), (1, "B", None, 9), (2, "C", "I", 2)],
        "id LONG, status STRING, op STRING, seq LONG",
    )
    got = {r.id: r.status for r in apply_cdc(cdc, ["id"], "seq").collect()}
    assert got == {1: "B", 2: "C"}
    # compaction replay-equivalence with a NULL sequence number: the row
    # used to fall out of BOTH the head and tail slices
    log = spark.createDataFrame(
        [(7, "X", "U", None), (8, "Y", "I", 5)],
        "id LONG, status STRING, op STRING, seq LONG",
    )
    compacted = compact_changelog(log, ["id"], "seq", cursor=10)
    full = apply_cdc(log, ["id"], "seq")
    re_compacted = apply_cdc(compacted, ["id"], "seq")
    assert sorted(map(tuple, full.collect())) == sorted(
        map(tuple, re_compacted.collect())
    )
    assert compacted.filter(F.col("id") == 7).count() == 1


def test_cdc_operators_reject_reserved_column_collisions(spark):
    """Round-13 review: withColumn silently replaces same-named input
    columns — an input already carrying a temp/output name would be
    corrupted, not erred."""
    from aws_kinesis_spark.operators.upsert import (
        collapse_cdc,
        net_changes,
        scd2_history,
    )

    base = spark.createDataFrame(
        [(1, "A", "I", 1, 0)], "id LONG, status STRING, op STRING, seq LONG, __rn LONG"
    )
    with pytest.raises(ValueError, match="reserved"):
        collapse_cdc(base, ["id"], "seq")
    vf = spark.createDataFrame(
        [(1, "A", "I", 1, 0)],
        "id LONG, status STRING, op STRING, seq LONG, __valid_from LONG",
    )
    with pytest.raises(ValueError, match="reserved"):
        scd2_history(vf, ["id"], "seq")
    nop = spark.createDataFrame(
        [(1, "A", "I", 1, "x")],
        "id LONG, status STRING, op STRING, seq LONG, __net_op STRING",
    )
    with pytest.raises(ValueError, match="reserved"):
        net_changes(nop, ["id"], "seq", 0)


def test_pack_sequences_contract_edges(spark):
    """Round-13 review: (a) a non-numeric id must be rejected at the API
    boundary (pmod on a string dies mid-stage in ANSI CAST_INVALID_INPUT);
    (b) a NULL text packs as 0 tokens — it used to emit a NULL bin_id
    while not advancing the running sum, silently misplacing the row."""
    from aws_kinesis_spark.operators.training import pack_sequences

    strings = spark.createDataFrame(
        [("a", "x y z")], "doc_id STRING, text STRING"
    )
    with pytest.raises(ValueError, match="numeric"):
        pack_sequences(strings, budget=4)

    docs = spark.createDataFrame(
        [(0, "t1 t2 t3"), (8, None), (16, "t4 t5 t6")],
        "doc_id LONG, text STRING",
    )
    got = {r.doc_id: r for r in pack_sequences(docs, budget=4, n_shards=8).collect()}
    # all three ids share shard 0; the NULL-text doc occupies a slot with
    # 0 tokens and a concrete bin, and the running sum flows through it
    assert got[8].n_tokens == 0 and got[8].bin_id is not None
    assert got[0].bin_id == 0 and got[16].bin_id == 0  # 3 + 0 + 3 <= 2*4


def test_oversample_rejects_copies_as_epoch_col(spark):
    """Round-13 review: epoch_col='__copies' slipped the set-union clash
    guard and the final drop deleted the just-built epoch column."""
    from aws_kinesis_spark.operators.training import oversample_mixture

    df = spark.createDataFrame([(1,)], "doc_id LONG")
    with pytest.raises(ValueError, match="__copies"):
        oversample_mixture(df, F.lit(2.0), "doc_id", epoch_col="__copies")


def test_quantize_isolates_nan_vectors(spark):
    """Round-13 review (verified live): one NaN element poisoned scale to
    NaN and floored EVERY code to 0 — an all-zero vector silently written
    where valid dims existed. A NaN-bearing vector must now read as
    visibly broken (NULL scale/codes) while healthy vectors quantize."""
    from aws_kinesis_spark.operators.embedding import quantize_embeddings

    emb = spark.createDataFrame(
        [(1, [1.0, float("nan"), -2.0]), (2, [1.0, -2.0, 0.5])],
        "vec_id LONG, embedding ARRAY<DOUBLE>",
    )
    got = {r.vec_id: r for r in quantize_embeddings(emb).collect()}
    assert got[1].scale is None and got[1].codes is None
    assert got[2].scale is not None and got[2].codes == [64, -127, 32]


def test_sample_frames_rejects_degenerate_stride(spark):
    """Round-13 review: stride=0 emitted max_frames identical copies of
    frame 0; negative strides sliced from the payload tail."""
    from aws_kinesis_spark.operators.multimodal import sample_frames, to_media_envelope

    docs = spark.createDataFrame([(1, "x" * 64, "s")], "doc_id LONG, text STRING, source STRING")
    env = to_media_envelope(docs)
    with pytest.raises(ValueError, match="stride"):
        sample_frames(env, stride=0)
    with pytest.raises(ValueError, match="stride"):
        sample_frames(env, stride=-1)


def test_media_envelope_parameterized_columns(spark):
    """Round-13 review: only the payload column was parameterized — frames
    without literal doc_id/source columns failed with UNRESOLVED_COLUMN."""
    from aws_kinesis_spark.operators.multimodal import to_media_envelope

    df = spark.createDataFrame(
        [(7, b"abc", "web")], "item_id LONG, image_bytes BINARY, origin STRING"
    )
    env = to_media_envelope(
        df, payload_col="image_bytes", id_col="item_id",
        source_col="origin", mime="image/png",
    )
    row = env.collect()[0]
    assert row.doc_id == 7 and row.meta.mime == "image/png"
    assert row.meta.source == "web" and row.meta.n_bytes == 3


def test_cost_recount_rebases_bytes_on_surviving_files(spark, tmp_path):
    """Round-13 review: the recordCount=-1 recount re-derived records from
    surviving parquet footers but priced bytes from the manifest's stale
    totalBytes — dollars on files the recount itself observed dangling."""
    import json as _json

    from aws_kinesis_spark.functions.cost import lake_cost_report

    lake = tmp_path / "lake"
    (lake / "_manifests").mkdir(parents=True)
    live = lake / "live.parquet"
    spark.createDataFrame([(1,), (2,)], "x LONG").coalesce(1).write.mode(
        "overwrite"
    ).parquet(str(tmp_path / "stage"))
    import glob, shutil as _sh

    part = glob.glob(str(tmp_path / "stage" / "*.parquet"))[0]
    _sh.copy(part, live)
    gone = lake / "gone.parquet"  # listed but deleted
    manifest = {
        "batchId": 0,
        "recordCount": -1,
        "totalBytes": 10_000_000,  # stale: includes the dangling file
        "entries": [{"url": str(live)}, {"url": str(gone)}],
    }
    with open(lake / "_manifests" / "manifest-0000000000.json", "w") as fh:
        _json.dump(manifest, fh)
    import os as _os

    row = lake_cost_report(spark, str(lake)).collect()[0]
    assert row.n_records == 2
    assert row.n_files == 1
    assert row.n_bytes == _os.path.getsize(live)  # not the stale 10 MB


def test_truncation_recall_edges(spark):
    """g56's kernel: dims >= len reproduces the full ranking (recall 1.0);
    a misleading prefix loses the true neighbor (recall 0.0); a zero-norm
    PREFIX finds nothing truncated but still reports its row; self-ids are
    excluded; degenerate parameters raise."""
    import pytest as _pytest

    from aws_kinesis_spark.operators.embedding import truncation_recall

    corpus = spark.createDataFrame(
        [
            (0, [1.0, 0.0, -5.0, 0.0]),  # prefix-2 cos 1.0, full cos ~0.196
            (1, [0.0, 1.0, 0.0, 0.0]),   # orthogonal everywhere
            (2, [1.0, 0.0, 0.0, 0.0]),   # the true nearest (full cos 1.0)
        ],
        "vec_id long, embedding array<float>",
    )
    q = spark.createDataFrame(
        [(100, [1.0, 0.0, 0.0, 0.0])], "query_id long, embedding array<float>"
    )
    # dims covers the whole vector -> truncated ranking == exact ranking
    full = truncation_recall(corpus, q, dims=4, k=1).collect()[0]
    assert (full.n_true, full.n_hit, full.recall_at_k) == (1, 1, 1.0)
    # the prefix tie (ids 0 and 2 both cos 1.0 at dims=2) breaks to id 0,
    # so the true top-1 (id 2) drops out of the truncated top-1
    trunc = truncation_recall(corpus, q, dims=2, k=1).collect()[0]
    assert (trunc.n_true, trunc.n_hit, trunc.recall_at_k) == (1, 0, 0.0)
    # a query whose PREFIX is zero-norm scores no truncated neighbors but
    # keeps its row (full-dim ranking is intact)
    qz = spark.createDataFrame(
        [(101, [0.0, 0.0, 1.0, 0.0])], "query_id long, embedding array<float>"
    )
    z = truncation_recall(corpus, qz, dims=2, k=2).collect()[0]
    assert z.n_true == 2 and z.n_hit == 0 and z.recall_at_k == 0.0
    # a corpus row sharing the query's id is excluded from both rankings
    self_corpus = corpus.union(
        spark.createDataFrame([(100, [1.0, 0.0, 0.0, 0.0])], corpus.schema)
    )
    s = truncation_recall(self_corpus, q, dims=4, k=1).collect()[0]
    assert s.n_true == 1 and s.n_hit == 1
    with _pytest.raises(ValueError, match="dims"):
        truncation_recall(corpus, q, dims=0)
    with _pytest.raises(ValueError, match="k"):
        truncation_recall(corpus, q, dims=2, k=0)


def test_truncation_recall_max_queries_guard(spark):
    """round-13 ADVICE: the query frame broadcasts (two vectors per row),
    so an oversized one must raise ValueError at the bounded probe, BEFORE
    the corpus scan/broadcast — and a frame exactly at the dial passes."""
    import pytest as _pytest

    from aws_kinesis_spark.operators.embedding import truncation_recall

    corpus = spark.createDataFrame(
        [(0, [1.0, 0.0]), (1, [0.0, 1.0])], "vec_id long, embedding array<float>"
    )
    q3 = spark.createDataFrame(
        [(100, [1.0, 0.0]), (101, [0.0, 1.0]), (102, [1.0, 1.0])],
        "query_id long, embedding array<float>",
    )
    with _pytest.raises(ValueError, match="max_queries"):
        truncation_recall(corpus, q3, dims=1, k=1, max_queries=2)
    with _pytest.raises(ValueError, match="max_queries"):
        truncation_recall(corpus, q3, dims=1, k=1, max_queries=0)
    # exactly at the dial: runs, one row per query with a full-dim neighbor
    out = truncation_recall(corpus, q3, dims=2, k=1, max_queries=3).collect()
    assert len(out) == 3


def test_source_kl_drift_matches_bruteforce_reference(spark):
    """g58's closed-form absent-token mass must equal the naive sum over
    the FULL vocab (present + absent tokens); KL is non-negative; NULL
    text rows drop; sources sharing the corpus distribution score equally."""
    import math

    from aws_kinesis_spark.operators.sketch import source_kl_drift

    rows = [
        ("a", "x x y z"),
        ("a", "x y"),
        ("b", "y y z w w w"),
        ("b", None),  # dropped
        ("c", "x y z w"),
    ]
    df = spark.createDataFrame(rows, "source string, text string")
    got = {r.source: r for r in source_kl_drift(df).collect()}

    # brute-force reference over the full vocab, same smoothing
    from collections import Counter

    per = {"a": Counter(), "b": Counter(), "c": Counter()}
    for s, t in rows:
        if t is not None:
            per[s].update(t.split(" "))
    corpus = Counter()
    for c in per.values():
        corpus.update(c)
    V, N = len(corpus), sum(corpus.values())
    for s, cnt in per.items():
        n_s = sum(cnt.values())
        kl = 0.0
        for t, c_t in corpus.items():
            p = (cnt.get(t, 0) + 0.5) / (n_s + 0.5 * V)
            kl += p * math.log(p / (c_t / N))
        assert got[s].n_tokens == n_s
        assert got[s].n_distinct == len(cnt)
        assert abs(got[s].kl_vs_corpus - kl) < 1e-6, (s, got[s].kl_vs_corpus, kl)
        assert got[s].kl_vs_corpus >= 0.0


def test_ordered_sequence_agg_nulls_and_ties(spark):
    """d40's kernel semantics pinned on synthetic frames: same-timestamp
    ties break on event_id; a NULL payload inside the struct is skipped by
    array_join exactly as string_agg skips NULL inputs (one fewer element,
    no dangling separator); counts still include the NULL-payload row."""
    from pyspark.sql import functions as F

    df = spark.createDataFrame(
        [
            (1, "2024-01-01 00:00:00", 2, "b"),
            (1, "2024-01-01 00:00:00", 1, "a"),   # tie -> event_id order
            (1, "2024-01-01 00:00:01", 3, None),  # null payload: counted, not joined
            (1, "2024-01-01 00:00:02", 4, "c"),
        ],
        "user_id long, ts_s string, event_id long, event_type string",
    ).select("user_id", F.col("ts_s").cast("timestamp").alias("ts"), "event_id", "event_type")
    seq = F.array_join(
        F.transform(
            F.sort_array(F.collect_list(F.struct("ts", "event_id", "event_type"))),
            lambda x: x["event_type"],
        ),
        ",",
    )
    row = (
        df.groupBy("user_id")
        .agg(
            F.count("*").alias("n_events"),
            F.countDistinct("event_type").alias("n_types"),
            seq.alias("event_sequence"),
        )
        .collect()[0]
    )
    assert row.n_events == 4
    assert row.n_types == 3  # countDistinct skips the NULL
    assert row.event_sequence == "a,b,c"  # tie by id; NULL skipped cleanly


def test_url_and_line_dedup_edge_semantics(spark, tmp_path):
    """g59/g60 edge cases on a hand-built corpus, each pinned BOTH ways:
    direct semantic assertions and value-hash parity with the DuckDB
    oracle (the regexp line-segmentation must equal the oracle's naive
    slice definition on partial lines, exact multiples of 8, within-doc
    dups, cross-doc steals, fully-deduplicated docs, and empty text)."""
    import hashlib

    import duckdb

    from aws_kinesis_spark import registry

    line1 = "a1 a2 a3 a4 a5 a6 a7 a8"          # 8 tokens, one full line
    uniq = "u1 u2 u3 u4 u5 u6 u7 u8"
    sf = str(tmp_path / "edge")
    spark.createDataFrame(
        [
            (1, line1 + " " + line1, "web", "en", 0),   # within-doc dup
            (2, line1 + " " + uniq, "web", "en", 0),    # steals nothing, loses line1
            (3, line1, "crawl", "en", 0),               # fully deduplicated
            (4, "p1 p2 p3", "web", "de", 0),            # partial line only
            (54, "x y", "web", "en", 0),                # 54%50=4: URL collision w/ doc 4? (lang differs -> no)
            (104, "z", "web", "de", 0),                 # 104%50=4, de: collides with doc 4's URL
            (5, "m1  m2\tm3\nm4 m5 m6 m7 m8 m9 ", "web", "fr", 0),  # messy whitespace
            (6, "", "web", "fr", 0),                    # empty text
        ],
        "doc_id long, text string, source string, lang string, n_chars long",
    ).coalesce(1).write.mode("overwrite").parquet(sf + "/documents.parquet")
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM '{sf}/documents.parquet/*.parquet'"
    )
    q, o = registry.queries(), registry.oracles()

    def h(df):
        cols = sorted(df.columns)
        d = df[cols].astype(str).sort_values(cols).reset_index(drop=True)
        return hashlib.md5(d.to_csv(index=False).encode()).hexdigest()

    # --- g60: semantics ---
    rows = {r.doc_id: r for r in q["g60_line_dedup"](spark, sf).collect()}
    assert rows[1].n_lines == 2 and rows[1].n_kept == 1
    assert rows[1].cleaned_text == line1          # second copy dropped in-doc
    assert rows[2].n_lines == 2 and rows[2].n_kept == 1
    assert rows[2].cleaned_text == uniq           # line1 already owned by doc 1
    assert rows[3].n_lines == 1 and rows[3].n_kept == 0
    assert rows[3].cleaned_text == ""             # fully deduplicated, row kept
    assert rows[4].cleaned_text == "p1 p2 p3"     # partial line intact
    # messy whitespace normalizes to 9 single-spaced tokens -> 2 lines
    assert rows[5].n_lines == 2 and rows[5].n_kept == 2
    assert rows[5].cleaned_text == "m1 m2 m3 m4 m5 m6 m7 m8 m9"
    # empty text survives as one empty line; the empty line itself is
    # owned by whichever doc saw it first (doc 3's dedup produced none —
    # '' the LINE exists only here), so the doc keeps its empty line
    assert rows[6].n_lines == 1
    # --- g59: semantics ---
    urls = {r.canonical_url: r for r in q["g59_url_dedup"](spark, sf).collect()}
    # doc 4 (variant 1) and doc 104 (variant 2) share (web, de, item4)
    key = "web.example.com/de/item4"
    assert urls[key].keeper_id == 4 and urls[key].n_dups == 2
    assert urls[key].domain == "web.example.com"
    # doc 54 (en) does NOT collide with doc 4 (de)
    assert urls["web.example.com/en/item4"].n_dups == 1
    # --- both: oracle parity on the edge corpus ---
    for name in ("g59_url_dedup", "g60_line_dedup"):
        sdf = q[name](spark, sf).toPandas()
        odf = con.execute(o[name]).df()
        assert len(sdf) == len(odf), name
        assert h(sdf) == h(odf), name


def test_mad_outliers_matches_numpy_reference(spark, tmp_path):
    """d42 on a planted distribution: a tight cluster plus gross outliers —
    the robust fence must flag exactly the planted points (a mean/stddev
    fence would be dragged by them), and median/MAD match numpy."""
    import datetime as dt

    import numpy as np

    from aws_kinesis_spark import registry

    base = [float(v) for v in np.linspace(9.0, 11.0, 101)]   # median 10.0
    planted = [1000.0, -500.0, 999.0]
    vals = base + planted
    t0 = dt.datetime(2026, 1, 1)
    sf = str(tmp_path / "mad")
    spark.createDataFrame(
        [(i, t0, i, "click", v, "{}") for i, v in enumerate(vals)],
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string",
    ).coalesce(1).write.mode("overwrite").parquet(sf + "/events.parquet")
    q = registry.queries()
    row = q["d42_mad_outliers"](spark, sf).collect()[0]
    med = round(float(np.median(vals)), 6)
    mad = round(float(np.median(np.abs(np.array(vals) - med))), 6)
    assert row.n == len(vals)
    assert abs(row.median_value - med) < 1e-9
    assert abs(row.mad - mad) < 1e-9
    expect_out = sum(1 for v in vals if abs(v - med) > 3 * 1.4826 * mad)
    assert row.n_outliers == expect_out
    assert expect_out == len(planted)   # the fence catches exactly the plants


def test_dsir_selection_prefers_target_distribution(spark, tmp_path):
    """g61 on a planted corpus: 'en' docs draw from vocabulary A, 'de'
    docs from disjoint vocabulary B, and two probe docs mix them — the
    hashed-LM log-ratio must score pure-A docs positive (kept), pure-B
    docs negative (dropped), and rank the A-heavy probe above the B-heavy
    probe. Also pins the integer-micro-nat determinism: two runs return
    identical scores."""
    from aws_kinesis_spark import registry

    a_words = "alpha beta gamma delta epsilon zeta eta theta"
    b_words = "uno dos tres cuatro cinco seis siete ocho"
    sf = str(tmp_path / "dsir")
    # 50+50 background docs so the two probes cannot materially shift
    # the raw-pool statistics their own scores divide by
    rows = [(i, a_words, "en", "s", 0) for i in range(50)]
    rows += [(100 + i, b_words, "de", "s", 0) for i in range(50)]
    # A-heavy probe: 32 target-vocab tokens against ONE out-of-target
    # token — enough that the add-1 smoothing penalty for the unseen
    # token (ln((0+1)/T / p_raw), strongly negative) cannot flip the doc
    rows.append((200, " ".join([a_words] * 4) + " uno", "xx", "s", 0))
    rows.append((201, " ".join([b_words] * 4) + " alpha", "xx", "s", 0))  # B-heavy
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    ).coalesce(1).write.mode("overwrite").parquet(sf + "/documents.parquet")
    q = registry.queries()
    out = {r.doc_id: r.score_micro_nats for r in q["g61_dsir_selection"](spark, sf).collect()}
    # every pure-A ('en') doc is kept with a positive score
    for i in range(50):
        assert out.get(i, 0) > 0
    # pure-B docs are dropped (score <= 0 -> absent from the kept set)
    for i in range(50):
        assert (100 + i) not in out
    # the A-heavy probe is kept; the B-heavy probe is not
    assert 200 in out and 201 not in out
    again = {r.doc_id: r.score_micro_nats for r in q["g61_dsir_selection"](spark, sf).collect()}
    assert again == out


def test_pq_kernels_deterministic_and_match_numpy(spark):
    """g62's kernels: codebooks train identically twice (no RNG anywhere);
    encoded codes are the true per-subspace argmins of the normalized
    vectors; ADC distances equal the numpy table-lookup reference; and on
    the clustered fixture the ADC top-10 recovers a solid share of the
    exact cosine top-10."""
    import numpy as np

    from aws_kinesis_spark.operators.embedding import (
        pq_adc_topk,
        pq_encode,
        train_pq_codebooks,
    )
    from aws_kinesis_spark.operators.similarity import knn_bruteforce

    em = load(spark, SF, "embeddings")
    b1 = train_pq_codebooks(em, m=8, k=16)
    b2 = train_pq_codebooks(em, m=8, k=16)
    assert b1.shape == (8, 16, 8)
    assert np.array_equal(b1, b2)

    codes = {r.vec_id: list(r.codes) for r in pq_encode(em, b1).collect()}
    rows = {r.vec_id: r.embedding for r in em.select("vec_id", "embedding").collect()}
    # spot-check 10 vectors against a numpy re-encode
    for vid in sorted(rows)[:10]:
        x = np.array(rows[vid], dtype=np.float64)
        x = x / max(np.linalg.norm(x), 1e-12)
        want = [
            int(((x[mi * 8:(mi + 1) * 8] - b1[mi]) ** 2).sum(axis=1).argmin())
            for mi in range(8)
        ]
        assert codes[vid] == want, vid

    queries = em.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    ann = pq_adc_topk(pq_encode(em, b1), queries, b1, k=10)
    got = ann.collect()
    assert len(got) == 50  # 5 queries x 10
    # ADC distance reference for one (query, neighbor) pair
    r0 = got[0]
    q = np.array(rows[r0.query_id], dtype=np.float64)
    q = q / max(np.linalg.norm(q), 1e-12)
    want_d = sum(
        ((q[mi * 8:(mi + 1) * 8] - b1[mi][codes[r0.neighbor_id][mi]]) ** 2).sum()
        for mi in range(8)
    )
    assert abs(r0.adc_dist - want_d) < 1e-9
    # serving shape: ADC shortlist + exact rerank clears the recall bar
    # a direct ADC top-10 cannot (~40% on this near-random fixture)
    from aws_kinesis_spark.operators.embedding import pq_ann_rerank

    exact = {(r.query_id, r.neighbor_id)
             for r in knn_bruteforce(em, queries, k=10).collect()}
    rr = pq_ann_rerank(em, pq_encode(em, b1), queries, b1, k=10,
                       shortlist=100).collect()
    assert len(rr) == 50
    hits = sum(1 for r in rr if (r.query_id, r.neighbor_id) in exact)
    assert hits >= 0.6 * len(exact), f"rerank recall {hits}/{len(exact)}"


def test_pq_guards(spark):
    """PQ named failures: indivisible dim, oversized query frame, empty
    queries."""
    import pytest as _pytest

    from aws_kinesis_spark.operators.embedding import (
        pq_adc_topk,
        train_pq_codebooks,
        pq_encode,
    )

    em = load(spark, SF, "embeddings")
    with _pytest.raises(ValueError, match="divisible"):
        train_pq_codebooks(em, m=7, k=16)
    books = train_pq_codebooks(em, m=8, k=16)
    q = em.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    with _pytest.raises(ValueError, match="max_queries"):
        pq_adc_topk(pq_encode(em, books), q, books, k=10, max_queries=3)
    with _pytest.raises(ValueError, match="empty query frame"):
        pq_adc_topk(pq_encode(em, books), q.filter(F.col("query_id") < 0),
                    books, k=10)
