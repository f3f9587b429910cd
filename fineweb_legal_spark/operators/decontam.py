"""Benchmark decontamination: n-gram overlap between a training corpus and
an evaluation/benchmark set.

The standard LLM-pipeline hygiene step (FineWeb/GPT-3-style): any training
document sharing an n-word gram with a benchmark document is flagged (and
usually dropped) so evaluation scores are not inflated by memorized test
items. No reference analog — a new scale requirement of the
training-data toolkit.

Scale shape (10^12-row corpus, benchmark ≪ corpus):
- the benchmark's distinct gram hashes are computed once and BROADCAST —
  candidate matching is a broadcast hash join at the scan, never a shuffle
  of the corpus;
- corpus grams come out of one scalar Arrow UDF over the text
  (:func:`gram_stream`, the document id stays in the JVM row), are
  exploded per document and reduced by a map-side-combinable count
  aggregation; only (doc, hits) rows — never gram strings — reach the
  exchange;
- the gram kernel is VECTORIZED: one crc32 per word (zlib's C loop), then
  an n-step Horner polynomial combine in numpy uint64 (wraparound = mod
  2^64) produces every gram hash of a document in n vectorized ops —
  no per-gram string join, no per-gram hashlib call. Measured 1.82 vs
  0.75 Mgrams/s/core against the round-3 per-gram-md5 kernel (2.4x
  end-to-end; the surviving cost is tokenization itself — regex split +
  word-hash + Horner profile 0.26/0.13/0.08 s per 786k grams. A
  factorize-unique-words variant measured SLOWER, 1.17 Mgrams/s).
  See BENCH.md "decontam gram kernel".

Hash identity vs the oracle: the operator's OUTPUT carries no hashes, so
the DuckDB oracle joins on the gram STRINGS themselves (exact semantics)
while Spark joins on the 64-bit rolling hash. The two agree unless a
corpus gram and a benchmark gram collide under the rolling hash: with a
~10^7-gram benchmark against 10^12 corpus grams that is ~a few spurious
flags (birthday bound n_bench * n_corpus / 2^64), which is noise for a
recall-oriented hygiene filter — and unobservable at test scale
(P < 1e-9). Word-level crc32 collisions only matter when the other n-1
words of the gram already match, so they add nothing material.

Tokenization matches the oracle exactly: lowercase + ASCII-whitespace
split ('[ \\t\\n\\r\\f\\x0b]+') — NOT str.split(), which also splits on
Unicode whitespace (\\xa0, \\u2028) and would diverge from
regexp_split_to_array on non-ASCII input.

For a benchmark too large to broadcast (rare): same plan with the
broadcast replaced by a shuffle semi-join on the gram hash — the corpus
side then carries (doc_id, gram_hash) pairs, still never text.
"""

from __future__ import annotations

import re
import zlib

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# identical token boundary to the DuckDB oracle's regexp_split_to_array
_ASCII_WS = re.compile(r"[ \t\n\r\f\x0b]+")

# Horner base for the 64-bit polynomial gram hash (FNV-1a prime: odd, so
# multiplication mod 2^64 is a bijection and prefix hashes don't alias)
_BASE = np.uint64(1099511628211)

def ascii_words(text: str) -> list[str]:
    """Lowercase ASCII-whitespace tokens, same boundary as the oracle."""
    return [w for w in _ASCII_WS.split(text.lower()) if w]


def word_hashes(words: list[str]) -> np.ndarray:
    """One crc32 per word (uint64) — the per-word half of the rolling
    gram kernel, factored out so multi-n callers hash each word ONCE
    instead of once per n (round 6: the crc32 loop was ~1/3 of the
    repetition kernel and was being re-run 6-9x per document). textql's
    repetition_profile passes it each Arrow batch's DISTINCT words and
    builds its gram hashes over the whole batch with the same Horner
    combine as :func:`gram_hashes_from_word_hashes`."""
    return np.fromiter(
        (zlib.crc32(w.encode("utf-8")) for w in words),
        dtype=np.uint64,
        count=len(words),
    )


def gram_hashes_from_word_hashes(wh: np.ndarray, n: int) -> np.ndarray:
    """Horner combine of precomputed word hashes into positional n-gram
    hashes (index i = gram starting at word i)."""
    if len(wh) < n:
        return np.empty(0, dtype=np.uint64)
    m = len(wh) - n + 1
    g = np.zeros(m, dtype=np.uint64)
    for j in range(n):
        g = g * _BASE + wh[j : j + m]
    return g


def rolling_gram_hash_stream(words: list[str], n: int) -> np.ndarray:
    """POSITIONAL 64-bit hashes of every n-word gram of ``words`` (index i
    = gram starting at word i): one crc32 per WORD, then Horner over n
    vectorized shifts — O(words) hash calls + O(n) numpy ops, vs
    O(words * n) string/md5 work per-gram. The single shared kernel for
    every gram-based operator (decontam frequency/matching, spandedup
    positions) — one definition, one hash identity."""
    if len(words) < n:  # no grams; np.zeros(negative) would raise
        return np.empty(0, dtype=np.uint64)
    return gram_hashes_from_word_hashes(word_hashes(words), n)


def gram_stream(n: int):
    """Scalar Arrow UDF ``text -> array<bigint>``: the positional n-gram
    hashes of :func:`rolling_gram_hash_stream` (element i = gram starting
    at word i); null for null text, empty below n words. Callers keep
    their ids in the JVM row and expand the array there (``explode`` of
    ``array_distinct`` for per-document distinct grams, ``posexplode``
    for positions)."""

    @F.pandas_udf("array<bigint>")
    def gram_stream_kernel(texts: pd.Series) -> pd.Series:
        return pd.Series(
            [
                None
                if t is None
                else rolling_gram_hash_stream(ascii_words(t), n).view(np.int64)
                for t in texts
            ],
            dtype=object,
        )

    return gram_stream_kernel


def ngram_hashes(
    df: DataFrame, id_col: str, text_col: str, n: int
) -> DataFrame:
    """(id, gram): 64-bit rolling hash of each distinct n-word gram per
    document (vectorized; see module docstring for the collision bound)."""
    return df.select(
        F.col(id_col).alias("id"),
        F.explode(F.array_distinct(gram_stream(n)(text_col))).alias("gram"),
    )


def decontaminate(
    docs: DataFrame,
    benchmark: DataFrame,
    n: int = 8,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Per-corpus-document contamination report against ``benchmark``:
    (doc_id, n_contaminated_grams, contaminated). A document is
    contaminated when any of its n-word grams appears anywhere in the
    benchmark set. Downstream drops `contaminated` rows (or audits the
    gram counts)."""
    bench_grams = (
        ngram_hashes(benchmark, id_col, text_col, n).select("gram").distinct()
    )
    doc_grams = ngram_hashes(docs, id_col, text_col, n)
    hits = (
        doc_grams.join(F.broadcast(bench_grams), "gram")
        .groupBy("id")
        .agg(F.count(F.lit(1)).alias("n_contaminated_grams"))
    )
    return (
        docs.select(F.col(id_col).alias("id"))
        .join(hits, "id", "left")
        .select(
            F.col("id").alias(id_col),
            F.coalesce("n_contaminated_grams", F.lit(0)).alias(
                "n_contaminated_grams"
            ),
            (F.coalesce("n_contaminated_grams", F.lit(0)) > 0).alias(
                "contaminated"
            ),
        )
    )
