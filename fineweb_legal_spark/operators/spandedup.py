"""Cross-document repeated-span masking (exact substring dedup).

The dedup family's remaining member next to exact-hash, MinHash, SimHash,
n-gram Jaccard, and embedding-cosine: instead of dropping WHOLE near-dup
documents, this removes the REPEATED SPANS themselves — any n-word gram
occurring in >= min_docs distinct documents is masked out of every
document containing it (Lee et al. 2022, "Deduplicating Training Data
Makes Language Models Better"; the FineWeb pipelines apply the same idea
as exact-substring dedup). Catches templated paragraphs, licence blocks,
and quoted chain-letters that survive document-level dedup because the
surrounding text differs. No reference analog — a training-data toolkit
op.

Semantics: text is viewed through the dedup normalization (lowercase +
ASCII-whitespace tokens, the same boundary as decontam/the DuckDB
oracles); output ``clean_text`` is the normalized token stream with every
word covered by ANY repeated gram removed, single-space joined, original
order preserved. Overlapping repeated grams union their intervals.

Scale shape (10^12-row corpus):
- gram frequency reuses decontam's VECTORIZED kernel (crc32/word +
  uint64-Horner rolling hash, per-doc distinct): the exchange carries
  (gram_hash, doc) pairs, map-side combinable, never text;
- the repeated-gram set joins back against a (doc, pos, gram_hash)
  position stream, the same ``decontam.gram_stream`` kernel expanded by
  ``posexplode``; broadcast vs shuffle is AQE's runtime-stats decision.
  At min_docs=2 on a pathological corpus the set is large — the shuffle
  path carries only (id, pos) pairs, never text;
- masking itself is one scalar Arrow UDF over (text, hit positions):
  interval union + rebuild is linear per document. Every kernel sees
  only its payload columns; document ids stay in the JVM row.

Trade note: true suffix-array substring dedup (Lee et al.'s
implementation) finds MAXIMAL repeats of any length; fixed-n gram masking
is the bounded-memory distributed approximation (a repeat of length
L >= n is covered by its L - n + 1 constituent grams, so any >= n-word
repeat is fully masked; repeats shorter than n survive).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .decontam import (
    ascii_words,
    gram_stream,
    ngram_hashes,
    rolling_gram_hash_stream,
)

# Size of the hot-gram tier (the duplicate-saturation guard): the top
# repeated grams by (document frequency desc, gram asc) are collected
# once at plan-build time (bounded driver traffic: 8 MB of int64 hashes
# at 2^20) and broadcast to the mask kernel. 0 disables the tier.
_HOT_GRAMS = 1 << 20


def _mask_kernel(n: int, bc_hot):
    """Scalar Arrow UDF ``(text, hit_positions) -> struct<clean_text,
    n_masked>``. ``bc_hot``: optional broadcast of a SORTED int64 array of
    hot gram hashes — their positions are recomputed locally
    (searchsorted against the doc's own gram stream) instead of arriving
    through the join-back, so hot grams never put (id, pos) rows on an
    exchange."""

    @F.pandas_udf("struct<clean_text:string,n_masked:int>")
    def mask_kernel(texts: pd.Series, hit_lists: pd.Series) -> pd.DataFrame:
        hot = bc_hot.value if bc_hot is not None else None
        out_text: list[str | None] = []
        out_n: list[int] = []
        for text, hits in zip(texts, hit_lists):
            if text is None:
                out_text.append(None)
                out_n.append(0)
                continue
            w = ascii_words(text)
            covered = None
            if hits is not None and len(hits):
                covered = np.zeros(len(w), dtype=bool)
                for p in hits:
                    covered[int(p) : int(p) + n] = True
            if hot is not None and len(hot) and len(w) >= n:
                g = rolling_gram_hash_stream(w, n).view(np.int64)
                j = np.searchsorted(hot, g)
                j[j == len(hot)] = 0
                hp = np.flatnonzero(hot[j] == g)
                if len(hp):
                    if covered is None:
                        covered = np.zeros(len(w), dtype=bool)
                    for p in hp:
                        covered[p : p + n] = True
            if covered is None:
                out_text.append(" ".join(w))
                out_n.append(0)
                continue
            kept = [x for x, c in zip(w, covered) if not c]
            out_text.append(" ".join(kept))
            out_n.append(int(covered.sum()))
        return pd.DataFrame(
            {
                "clean_text": pd.array(out_text, dtype=object),
                "n_masked": np.array(out_n, dtype=np.int32),
            }
        )

    return mask_kernel


def scrub_repeated_spans(
    docs: DataFrame,
    n: int = 8,
    min_docs: int = 2,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """(doc_id, clean_text, n_masked): every document with all words
    covered by a cross-document repeated n-gram (document frequency >=
    ``min_docs``) removed from its normalized token stream.

    The top ``_HOT_GRAMS`` repeated grams (round 6, the duplicate-
    saturation guard) are BROADCAST to the mask kernel, which recomputes
    their positions locally from the document's own gram stream. Hot
    grams therefore contribute ZERO (id, pos) rows to the join-back
    exchange — on duplicate-saturated corpora (>50% whole-turn repeats,
    the regime the round-5 10M stress measured growing super-linearly)
    the exchange volume collapses to the long tail. The cutoff is
    deterministic (exact integer counts, total tie order), and the hot
    set is a plan statistic, not a result cache: every execution still
    recomputes the tail frequency table, the positions, and the masks
    from the parquet input. The repeated-set join strategy is AQE's, from
    runtime shuffle stats."""
    # frequency over per-doc-DISTINCT grams (decontam's vectorized kernel)
    freq = (
        ngram_hashes(docs, id_col, text_col, n)
        .groupBy("gram")
        .agg(F.count(F.lit(1)).alias("_df"))
    )
    common = freq.filter(F.col("_df") >= min_docs)

    bc_hot = None
    if _HOT_GRAMS:
        hot_pdf = (
            common.orderBy(F.desc("_df"), F.asc("gram"))
            .limit(_HOT_GRAMS)
            .select("gram", "_df")
            .toPandas()
        )
        if len(hot_pdf):
            hot_arr = np.sort(hot_pdf["gram"].to_numpy(dtype=np.int64))
            bc_hot = docs.sparkSession.sparkContext.broadcast(hot_arr)
        if len(hot_pdf) < _HOT_GRAMS:
            # every repeated gram is hot: no tail, no join-back at all
            common = None
        else:
            # tail = strictly below the deterministic (df, gram) cutoff
            kth_df = int(hot_pdf["_df"].iloc[-1])
            kth_gram = int(hot_pdf["gram"].iloc[-1])
            common = common.filter(
                (F.col("_df") < kth_df)
                | ((F.col("_df") == kth_df) & (F.col("gram") > kth_gram))
            )

    base = docs.select(
        F.col(id_col).alias("id"), F.col(text_col).alias(text_col)
    )
    if common is None:
        joined, hits = base, F.lit(None).cast("array<int>")
    else:
        gram_pos = docs.select(
            F.col(id_col).alias("id"),
            F.posexplode(gram_stream(n)(text_col)).alias("pos", "gram"),
        )
        hitlists = (
            gram_pos.join(common.select("gram"), "gram")
            .groupBy("id")
            .agg(F.collect_list("pos").alias("hit_positions"))
        )
        joined, hits = base.join(hitlists, "id", "left"), F.col("hit_positions")
    masked = _mask_kernel(n, bc_hot)(F.col(text_col), hits)
    return joined.select(
        F.col("id").alias(id_col),
        masked["clean_text"].alias("clean_text"),
        masked["n_masked"].alias("n_masked"),
    )
