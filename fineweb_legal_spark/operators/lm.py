"""Distributed n-gram LM training for the perplexity scorer (and any
hashed char-trigram table): build the SAME count table the engine's
embedded artifact uses (artifacts.py — add-0.5-smoothed log-probs over
2^16 hash slots), but from a corpus DataFrame instead of the baked-in
seed sentences. The third trainable artifact next to the quality
classifier (classifier.py, logistic regression) and the IVF quantizer
(tools/train_ivf.py, spherical k-means): every model the pipeline
broadcasts can now be (re)fit in-engine.

Scale shape (the classifier-gradient pattern):

- **Count** (``train_trigram_counts``): ONE zero-Exchange mapInPandas
  over (label?, text); each Arrow batch emits one partial count VECTOR
  per label (np.bincount over the vectorized trigram-hash stream —
  artifacts._batch_trigrams, no per-row Python hashing), then a
  Spark-side sparse reduction (posexplode + map-side-combinable
  (label, slot) sum) delivers only nonzero totals to the
  driver — O(labels × occupied-slots) rows, corpus- AND batch-count-free.
  Integer sums end to end, so the result is EXACTLY order- and
  partitioning-independent (pytest: bit-equal to a single-process twin).
- **Smooth** (``logprob_table``, re-exported from artifacts): log((c +
  0.5) / (total + 0.5·slots)) — the formula artifacts.build_artifacts
  uses, so a trained table is a drop-in for the embedded one.
- **Score** (``score_perplexity``, ``score_langid``): broadcast the
  table(s), one scalar Arrow UDF over the text column alone (no other
  column crosses into Python) calling the artifact's one gather +
  segment-sum kernel (perplexity = exp(-mean log-prob); language-ID =
  argmax across per-language tables).
- **Persist** (``save_counts`` / ``load_counts``): the table is a parquet
  DATA artifact (slot, count) — the train_ivf centroid-publishing
  pattern; engines share numbers, never code.
"""

from __future__ import annotations

from collections.abc import Iterator
from pathlib import Path

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..artifacts import (
    _HASH_SLOTS,
    _batch_trigrams,
    logprob_table,
    perplexities,
    predict_langs,
)
from .. import spec

_NO_LABEL = "\x00all"


def train_trigram_counts(
    spark: SparkSession,
    df: DataFrame,
    text_col: str = "text",
    label_col: str | None = None,
    prefix: int = spec.PPL_PREFIX_CHARS,
) -> dict[str, np.ndarray]:
    """{label: int64 counts[2^16]} of char-trigram hashes over the corpus
    (lowercased, first ``prefix`` chars per row — the scorer's exact
    tokenization). Without ``label_col`` the single key is 'all'. Null
    texts and null labels are skipped; a label whose texts are all
    sub-trigram yields no key."""
    cols = ([label_col] if label_col else []) + [text_col]
    src = df.select(*cols)
    schema = T.StructType(
        [
            T.StructField("label", T.StringType()),
            T.StructField("counts", T.ArrayType(T.LongType())),
        ]
    )

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            texts = pdf[text_col]
            labels = (
                pdf[label_col].astype(object)
                if label_col
                else pd.Series([_NO_LABEL] * len(pdf))
            )
            out_l: list[str] = []
            out_c: list[list[int]] = []
            for lab in labels.dropna().unique():
                sel = [
                    t
                    for t, lb in zip(texts, labels)
                    if lb == lab and t is not None
                ]
                if not sel:
                    continue
                h, _, _ = _batch_trigrams(sel, prefix)
                out_l.append(str(lab))
                # .tolist(): Arrow's numpy converter rejects ndarray cells
                out_c.append(np.bincount(h, minlength=_HASH_SLOTS).tolist())
            # explicit object dtype: an EMPTY batch otherwise infers a
            # float64 counts column Arrow cannot cast to list<int64>
            yield pd.DataFrame(
                {
                    "label": pd.Series(out_l, dtype=object),
                    "counts": pd.Series(out_c, dtype=object),
                }
            )

    # Spark-side sparse reduction: posexplode the partial vectors, drop
    # zero slots, map-side-combinable (label, slot) sum — the driver
    # receives only nonzero (label, slot, total) rows instead of
    # O(batches × 2^16) dense vectors (the difference between KBs and
    # hundreds of GB at 10^6 Arrow batches). Integer sums, so the result
    # stays EXACTLY partitioning- and order-independent.
    reduced = (
        src.mapInPandas(fn, schema)
        .select("label", F.posexplode("counts").alias("slot", "c"))
        .filter(F.col("c") > 0)
        .groupBy("label", "slot")
        .agg(F.sum("c").alias("total"))
        .collect()
    )
    agg: dict[str, np.ndarray] = {}
    for r in reduced:
        key = "all" if r["label"] == _NO_LABEL else r["label"]
        vec = agg.setdefault(key, np.zeros(_HASH_SLOTS, dtype=np.int64))
        vec[r["slot"]] += r["total"]
    return agg


def score_perplexity(
    spark: SparkSession,
    df: DataFrame,
    table: np.ndarray,
    text_col: str = "text",
    out_col: str = "ppl",
    prefix: int = spec.PPL_PREFIX_CHARS,
) -> DataFrame:
    """df + ``out_col`` — perplexity exp(-mean trigram log-prob) under a
    (trained or embedded) table: a scalar Arrow UDF over the text column
    alone, zero Exchange. Null text scores null; sub-trigram text scores
    1.0 (the artifact's convention)."""
    bc = spark.sparkContext.broadcast(np.asarray(table, dtype=np.float64))

    @F.pandas_udf(T.DoubleType())
    def perplexity_kernel(text: pd.Series) -> pd.Series:
        ppl = perplexities(text.tolist(), bc.value, prefix)
        ppl[text.isna().to_numpy()] = np.nan  # Arrow writes NaN as null
        return pd.Series(ppl)

    return df.withColumn(out_col, perplexity_kernel(F.col(text_col)))


def langid_udf(
    spark: SparkSession,
    tables: np.ndarray,
    langs: tuple[str, ...],
    fallback: str,
    prefix: int = spec.LANGID_PREFIX_CHARS,
):
    """Scalar Arrow UDF text -> the language of ``tables`` (one row per
    entry of ``langs``) under which the text scores highest. Null text
    predicts null; sub-trigram text predicts ``fallback``."""
    bc = spark.sparkContext.broadcast(np.asarray(tables, dtype=np.float64))

    @F.pandas_udf(T.StringType())
    def langid_kernel(text: pd.Series) -> pd.Series:
        pred = predict_langs(text.tolist(), bc.value, langs, fallback, prefix)
        pred[text.isna().to_numpy()] = None
        return pd.Series(pred)

    return langid_kernel


def save_counts(counts: dict[str, np.ndarray], path: str | Path) -> None:
    """Publish count tables as a parquet data artifact (label, slot,
    count) — only nonzero slots stored."""
    rows = []
    for lab, vec in sorted(counts.items()):
        nz = np.nonzero(vec)[0]
        rows.append(
            pd.DataFrame(
                {"label": lab, "slot": nz.astype("int64"),
                 "count": vec[nz].astype("int64")}
            )
        )
    out = (
        pd.concat(rows, ignore_index=True)
        if rows
        else pd.DataFrame({"label": [], "slot": [], "count": []})
    )
    out.to_parquet(path, index=False)


def load_counts(path: str | Path) -> dict[str, np.ndarray]:
    pdf = pd.read_parquet(path)
    out: dict[str, np.ndarray] = {}
    for lab, grp in pdf.groupby("label"):
        vec = np.zeros(_HASH_SLOTS, dtype=np.int64)
        vec[grp["slot"].to_numpy()] = grp["count"].to_numpy()
        out[str(lab)] = vec
    return out


def score_langid(
    spark: SparkSession,
    df: DataFrame,
    counts: dict[str, np.ndarray],
    text_col: str = "text",
    out_col: str = "pred_lang",
    default_lang: str | None = None,
    prefix: int = spec.LANGID_PREFIX_CHARS,
) -> DataFrame:
    """df + ``out_col`` — language-ID under TRAINED per-language trigram
    tables (``train_trigram_counts(label_col=...)`` output): per language,
    one broadcast log-prob gather + segment sum, argmax across languages —
    the artifact's exact classifier math over fitted tables. Null text
    predicts null; sub-trigram text predicts ``default_lang`` (first
    language alphabetically when unset, the deterministic tie home)."""
    langs = tuple(sorted(counts))
    if not langs:
        raise ValueError("no language tables")
    tables = np.stack([logprob_table(counts[lab]) for lab in langs])
    fallback = default_lang if default_lang is not None else langs[0]
    kernel = langid_udf(spark, tables, langs, fallback, prefix)
    return df.withColumn(out_col, kernel(F.col(text_col)))
