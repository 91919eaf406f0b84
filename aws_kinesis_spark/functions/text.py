"""Text-analysis function surface (SURVEY.md §2.G G4): tokenization,
stopword hits (g04's language-ID heuristic), quality scoring, token
counting, fingerprinting.

Everything is built from JVM-side expressions (split/filter/transform/
regexp) so the ops vectorize inside whole-stage codegen — the 100 TB path
never crosses into Python.
"""

from __future__ import annotations

import pandas as pd  # module-level so pandas_udf type hints resolve
from pyspark.sql import Column
from pyspark.sql import functions as F

# Minimal per-language stopword lists for the n-gram/stopword language-ID
# heuristic. Deliberately small: the heuristic scores languages by stopword
# hits and falls back to 'und' (BCP-47 undetermined) on zero evidence.
STOPWORDS: dict[str, tuple[str, ...]] = {
    "en": ("the", "a", "of", "and", "to", "in", "is", "it"),
    "es": ("el", "la", "de", "y", "en", "que", "los", "un"),
    "fr": ("le", "la", "de", "et", "un", "les", "des", "en"),
    "de": ("der", "die", "das", "und", "ein", "zu", "den", "von"),
    "zh": ("的", "了", "是", "在", "我", "有", "和", "就"),
}

# A BPE-ish pre-tokenization: words, digit runs, and individual symbols —
# the usual byte-pair-encoding pre-split regex family.
BPE_SPLIT_RE = r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"


def tokens(text: Column | str) -> Column:
    """SINGLE-SPACE tokenization — deliberately split(text, ' '), NOT \\s+:
    the fixture corpus and every DuckDB oracle tokenize with
    string_split(text, ' '), and the two engines must agree token-for-token.
    chunk_documents uses \\s+ (and documents why); real-corpus callers who
    need whitespace-class semantics should follow that form."""
    return F.split(text, " ")


def token_count(text: Column | str) -> Column:
    return F.size(tokens(text))


def bpe_token_count(text: Column | str) -> Column:
    """Count of BPE-ish pre-tokens (regexp-based, JVM-side)."""
    return F.regexp_count(text, F.lit(BPE_SPLIT_RE))


def stopword_hits(text: Column | str, lang: str, toks: Column | None = None) -> Column:
    """Number of tokens that are stopwords of `lang`.

    Prefer passing `toks` (a pre-split token array): split once, then
    `size(filter(toks, isin(...)))` per language. Measured at sf0.1 this is
    ~4x faster than the regexp_count lookaround-alternation form below when
    several languages are scored over the same text — the regex re-scans the
    full string per language while the array form shares one split. The
    regex form is kept for single-language callers that don't have a token
    array in scope. Tokens are space-delimited, matching split(text, ' ')."""
    if toks is not None:
        words = list(STOPWORDS[lang])
        return F.size(F.filter(toks, lambda x: x.isin(*words)))
    alts = "|".join(STOPWORDS[lang])
    return F.regexp_count(text, F.lit(f"(?:^|(?<= ))(?:{alts})(?= |$)"))


def distinct_ratio(text: Column | str, toks: Column | None = None) -> Column:
    t = toks if toks is not None else tokens(text)
    # guard the empty token array (callers may pass pre-filtered toks):
    # ANSI mode makes the bare division a DIVIDE_BY_ZERO query killer
    return (
        F.when(
            F.size(t) > 0, F.size(F.array_distinct(t)).cast("double") / F.size(t)
        )
        .when(F.size(t) == 0, F.lit(0.0))
    )


def punct_ratio(text: Column | str) -> Column:
    """Fraction of characters that are not [a-z0-9space]. An empty string
    has no characters and no punctuation -> 0.0 (a bare division would
    DIVIDE_BY_ZERO under this engine's ANSI mode, killing the whole scan
    on the first empty doc — round-12 review)."""
    return (
        F.when(
            F.length(text) > 0,
            F.length(F.regexp_replace(F.lower(text), "[a-z0-9 ]", "")).cast(
                "double"
            )
            / F.length(text),
        )
        .when(F.length(text) == 0, F.lit(0.0))
        # NULL text stays NULL (the pre-fix behavior for NULLs)
    )


def quality_score(text: Column | str, toks: Column | None = None) -> Column:
    """Composite document quality in [0,1]: length saturation, lexical
    diversity, stopword presence, punctuation cleanliness — the standard
    pre-training quality-filter feature stack."""
    t = toks if toks is not None else tokens(text)
    n = F.size(t).cast("double")
    len_score = F.least(F.lit(1.0), n / F.lit(100.0))
    # n >= 1 when t came from tokens() (split('', ' ') -> ['']), but a
    # caller-passed pre-filtered toks can be empty — and ANSI turns the
    # bare division into a query-killing DIVIDE_BY_ZERO (round-12 review)
    stop = F.when(
        n > 0, stopword_hits(text, "en", t).cast("double") / n
    ).otherwise(F.lit(0.0))
    stop_score = F.least(F.lit(1.0), stop * F.lit(5.0))
    clean_score = F.lit(1.0) - punct_ratio(text)
    return F.round(
        F.lit(0.3) * len_score
        + F.lit(0.3) * distinct_ratio(text, t)
        + F.lit(0.2) * stop_score
        + F.lit(0.2) * clean_score,
        4,
    )


def top_ngram_share(text: Column | str, n: int = 2, toks: Column | None = None) -> Column:
    """Share of the most frequent token n-gram among all n-grams — the
    Gopher-style repetition signal (docs dominated by one repeated phrase
    are low-quality machine text).

    Plan shape: a pure in-row fold, NO explode+groupBy. The n-gram array is
    sorted, then one `aggregate` pass tracks the longest run of equal
    neighbors (max run length in a sorted array == max count). The SQL
    oracle computes the same number with unnest+GROUP BY — the engine-side
    fold is what keeps a 100 TB corpus scan shuffle-free while the oracle
    shuffles. Docs with fewer than n tokens score 0.0."""
    t = toks if toks is not None else tokens(text)
    n_grams = F.size(t) - F.lit(n - 1)
    grams = F.array_sort(_gram_array(t, n))
    run = lambda acc, x: F.when(x == acc["prev"], acc["run"] + F.lit(1)).otherwise(  # noqa: E731
        F.lit(1)
    )
    folded = F.aggregate(
        grams,
        F.struct(
            F.lit("").alias("prev"), F.lit(0).alias("run"), F.lit(0).alias("best")
        ),
        lambda acc, x: F.struct(
            x.alias("prev"),
            run(acc, x).alias("run"),
            F.greatest(acc["best"], run(acc, x)).alias("best"),
        ),
        lambda acc: acc["best"],
    )
    return F.when(
        n_grams >= 1, F.round(folded.cast("double") / n_grams, 4)
    ).otherwise(F.lit(0.0))


def ngram_shares_udf(ns: tuple[int, ...] = (2, 3)):
    """Arrow-batched variant of top_ngram_share computing several gram
    sizes in one pass: returns array<double> of the top-n-gram share for
    each n in `ns` (rounded to 4, 0.0 for docs shorter than n).

    Measured ~3x faster than the expression form at sf0.1 when several
    gram sizes are scored per doc: the sorted-array `aggregate` fold is
    interpreted per element outside whole-stage codegen, while this runs
    one Counter pass per (doc, n) at C speed. Both forms are kept — the
    expression form composes into pure-JVM plans (g04-style single-score
    paths); this one is for multi-score scans like g15."""
    import collections

    @F.pandas_udf("array<double>")
    def shares(toks: pd.Series) -> pd.Series:
        out = []
        for t in toks:
            row = []
            # NULL text => NULL token array => None here; score 0.0 like
            # the expression form's when/otherwise null path
            lt = list(t) if t is not None else []
            for n in ns:
                m = len(lt) - n + 1
                if m < 1:
                    row.append(0.0)
                    continue
                counts = collections.Counter(
                    tuple(lt[i : i + n]) for i in range(m)
                )
                c = counts.most_common(1)[0][1]
                # integer HALF_UP to 4 decimals: Python's round() is
                # banker's and diverges from Spark/DuckDB at .xxxx5
                # boundaries (e.g. c/m = k/32)
                row.append(((c * 20000 + m) // (2 * m)) / 10000.0)
            out.append(row)
        return pd.Series(out)

    return shares


def fingerprint(text: Column | str) -> Column:
    """Order-insensitive document fingerprint: md5 over the sorted distinct
    token set (the classic near-dup content signature). NULL text yields a
    NULL fingerprint — concat_ws silently skips NULL arguments, so the old
    expression fingerprinted missing text as md5('') and merged it with
    genuinely-empty documents, where the SQL twin (md5 over a NULL token
    chain) is NULL (round-13 review)."""
    col = F.col(text) if isinstance(text, str) else text
    return F.when(
        col.isNotNull(),
        F.md5(F.concat_ws(" ", F.array_sort(F.array_distinct(tokens(text))))),
    )


def md5_uniform(key: Column, prefix: str | None = None) -> Column:
    """THE seedless, engine-reproducible uniform [0,1) draw shared by the
    sampling/oversampling kernels (g29 importance sampling, g54 mixture
    oversampling): the first 8 md5 hex chars of the key as a 32-bit
    integer over 2^32. One definition — the repo carried three
    digit-for-digit copies of this idiom, and the cross-engine
    reproducibility contract requires every copy to stay identical
    forever (round-13 review); the SQL oracles pin the exact digits.

    Pure IEEE-exact ops after the hash (one integer, one division, no
    ln/pow), so any engine reproduces the draw bit-for-bit. With
    ``prefix`` the key is decorrelated per use-site and a NULL key draws
    through a sentinel (one deterministic coin); without it a NULL key
    yields a NULL draw (every comparison false — the row leaves the
    sample), matching the g29 form."""
    s = key.cast("string")
    if prefix is not None:
        s = F.concat(F.lit(prefix), F.coalesce(s, F.lit("\x00null")))
    return F.conv(F.substring(F.md5(s), 1, 8), 16, 10).cast("long") / F.lit(
        4294967296.0
    )


def shingles(text: Column | str, n: int = 3) -> Column:
    """Distinct positional n-gram shingles (token n-grams). Shingling keeps
    word order information that bag-of-words Jaccard loses — on small
    vocabularies set-Jaccard saturates while shingle-Jaccard stays
    discriminative.

    Documents with fewer than n tokens carry no n-grams and yield an empty
    array. The guard is load-bearing, not cosmetic: short docs are
    guaranteed in any real pre-training corpus, and the unguarded form
    (sequence over a negative range) throws on them. The conditional branch
    is evaluated lazily per row, so guarded rows never touch the slices.

    Cost shape: built from n aligned slice()s folded with zip_with, NOT a
    transform(sequence, i -> element_at(tokens, i+j)) — the lambda form
    embeds the tokenizing split() subtree inside the per-ELEMENT lambda,
    and interpreted higher-order functions do no subexpression elimination,
    so split ran n times per gram (~170 times per doc; measured as the
    dominant cost of every shingle consumer at sf0.1). The slice form
    evaluates split once per slice per ROW."""
    t = tokens(text)
    return F.when(F.size(t) >= n, F.array_distinct(_gram_array(t, n))).otherwise(
        F.array().cast("array<string>")
    )


def _gram_array(t: Column, n: int) -> Column:
    """Positional (non-distinct) n-grams of token array `t` via n aligned
    slices folded with zip_with. Only valid under a size(t) >= n guard."""
    m = F.size(t) - F.lit(n - 1)
    grams = F.slice(t, 1, m)
    for j in range(1, n):
        grams = F.zip_with(
            grams, F.slice(t, 1 + j, m), lambda a, b: F.concat_ws(" ", a, b)
        )
    return grams


def linear_model_scorer(spark, weights):
    """The g53 classifier's REAL-MODEL serving path: score token arrays
    against an arbitrary hashed bag-of-tokens linear model (fastText /
    CCNet LM-filter / FineWeb-edu regressor head) whose weight vector is
    too large to embed in the plan as a literal.

    The weights ship once per executor as a Spark BROADCAST variable and
    the scoring runs inside one Arrow-batched pandas_udf — the exact plan
    shape g53's docstring promises at 100 TB: broadcast model + an
    embarrassingly parallel ArrowEvalPython projection over the scan, no
    shuffle, no per-task weight reserialization (the closure carries the
    broadcast handle, not the array).

    Semantics are IDENTICAL to the in-plan literal form (pinned by
    tests/test_ext.py::test_linear_model_scorer_matches_in_plan_form):
    bucket = int(md5(token)[:4], 16) % len(weights), logit =
    sum(w[bucket]) / n_tokens accumulated in input order. NULL or empty
    token arrays score NULL, and a NULL ELEMENT inside the array also
    scores the row NULL — matching the literal form, where md5(NULL)
    poisons the aggregate to NULL (the in-plan form never sees either
    from split(); callers feeding tokenized columns can). Returns a
    function mapping a tokens Column to a double logit Column; the
    broadcast weight copy is exposed as ``fn.broadcast`` so a caller
    cycling many models can ``fn.broadcast.destroy()`` when done
    (broadcasts otherwise live until the session ends — reuse ONE
    scorer per model)."""
    import hashlib

    import numpy as np

    w = np.asarray(weights, dtype="float64")
    if w.ndim != 1 or len(w) == 0:
        raise ValueError("weights must be a non-empty 1-D vector")
    n_buckets = len(w)
    bc = spark.sparkContext.broadcast(w)

    @F.pandas_udf("double")
    def logit(toks: pd.Series) -> pd.Series:
        wv = bc.value
        out = []
        for t in toks:
            if t is None or len(t) == 0:
                out.append(None)
                continue
            s = 0.0
            for tok in t:
                if tok is None:
                    # a NULL element poisons the row to NULL, exactly
                    # like md5(NULL) inside the in-plan aggregate
                    s = None
                    break
                s += wv[
                    int(hashlib.md5(tok.encode("utf-8")).hexdigest()[:4], 16)
                    % n_buckets
                ]
            out.append(None if s is None else s / len(t))
        return pd.Series(out, dtype="float64")

    logit.broadcast = bc
    return logit
