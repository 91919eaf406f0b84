"""Build ``documents.parquet``, the pool of base texts ``doc_dedup`` samples.

    python3 perfbench/make_docs.py <path to the sf0.1 documents.parquet> [n]

The pool is the repo's ``documents`` fixture (sf0.1) cut down to texts the
generator can plant a verdict on: at least ``MIN_TOKENS`` space-separated
tokens, so one edited token leaves a planted near-duplicate far above the
engine's 0.7 threshold, and, in fixture order, no text whose 3-token-shingle
Jaccard with an earlier kept text reaches ``MAX_JACCARD``. That drops the
fixture's own duplicates, so the only near-duplicates in a generated
stream are the planted ones. The first ``n`` (default 2000) kept texts are
written, text column only. The output is checked in; rerun this only to
change the pool.
"""

from __future__ import annotations

import os
import sys

import pyarrow as pa
import pyarrow.parquet as pq

MIN_TOKENS = 40
MAX_JACCARD = 0.3


def shingles(text: str, n: int = 3) -> set:
    """The engine's shingles: distinct token n-grams of split(text, ' ')."""
    w = text.split(" ")
    return {tuple(w[i : i + n]) for i in range(len(w) - n + 1)}


def pool(texts: list[str], n: int) -> list[str]:
    kept: list[str] = []
    kept_sh: list[set] = []
    for t in texts:
        if len(kept) == n:
            break
        if not t or len(t.split(" ")) < MIN_TOKENS:
            continue
        s = shingles(t)
        if any(len(s & k) >= MAX_JACCARD * len(s | k) for k in kept_sh):
            continue
        kept.append(t)
        kept_sh.append(s)
    return kept


def main(src: str, n: int = 2000) -> int:
    texts = pq.read_table(src, columns=["text"]).column("text").to_pylist()
    out = pool(texts, n)
    if len(out) < n:
        print(f"only {len(out)} texts qualify, wanted {n}", file=sys.stderr)
        return 1
    dest = os.path.join(os.path.dirname(os.path.abspath(__file__)), "documents.parquet")
    pq.write_table(pa.table({"text": out}), dest, compression="zstd")
    print(f"wrote {len(out)} texts to {dest}")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1], *(int(a) for a in sys.argv[2:])))
