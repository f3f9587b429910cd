"""DSIR-style importance resampling for training-data selection.

Data Selection via Importance Resampling (Xie et al. 2023, NeurIPS;
public method) picks raw-corpus documents whose hashed n-gram
distribution looks like a target corpus: fit a hashed-feature LM on the
target and one on the raw pool, weigh every raw document by its
log-likelihood ratio, then resample without replacement with Gumbel
top-k. Re-expressed Spark-first over this engine's existing hashed
char-trigram feature space (artifacts.trigram_logprob_sums, 2^16 slots):

- **fit** (`fit_dsir_diff`): two add-0.5-smoothed trigram LMs via
  operators/lm.train_trigram_counts — zero-Exchange partial count
  vectors + Spark-side sparse reduction; integer sums, so both tables
  are exactly partitioning-independent. The broadcast artifact is their
  log-prob DIFFERENCE (one 512 KB float64 vector), since only
  log p_tgt[h] - log p_raw[h] is ever gathered.
- **weigh + key** (`dsir_keys`): per-document log importance weight =
  sum over its trigram stream of diff[h] — one gather +
  np.add.reduceat per Arrow batch (sequential within-document
  accumulation, so weights are bit-identical under any batching or
  partitioning). The Gumbel noise for sampling-without-replacement is
  DERANDOMIZED: u = (int(md5(id)[:8], 16) + 0.5) / 16^8 — the
  hash-uniform trick of validation.hash_sample / operators/mixture —
  computed Spark-side with exact integer ops, then g = -log(-log(u))
  in the same numpy kernel that computes the weight, so
  key = logw + g is engine-, partitioning-, and retry-deterministic
  (the single-node golden twin in tools/build_golden_misc.py replays
  the identical numpy float path).
- **select** (`dsir_resample`): top-k by key — TakeOrderedAndProject
  (per-partition heads, driver merge of k rows), never a global sort.

Scale shape: two zero-Exchange count jobs at fit, one narrow
pass-through projection to weigh, one top-k to select. Nothing wide;
driver-sided data is the 2 x 2^16 count table and the k winners.
Reference parity: none — the reference pipeline has no data-selection
stage; this is a training-data-toolkit op beyond it.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .. import spec
from ..artifacts import _HASH_SLOTS, trigram_logprob_sums
from .lm import logprob_table, train_trigram_counts

_HEX_SPACE = float(16**8)


def fit_dsir_diff(
    spark: SparkSession,
    raw: DataFrame,
    target: DataFrame,
    text_col: str = "text",
    prefix: int = spec.PPL_PREFIX_CHARS,
) -> np.ndarray:
    """log p_target - log p_raw over the 2^16 hash slots (float64).

    Either side having zero trigrams yields the uniform smoothed table
    for that side (all-zero counts), never an error.
    """
    zeros = np.zeros(_HASH_SLOTS, dtype=np.int64)
    raw_c = train_trigram_counts(spark, raw, text_col, prefix=prefix).get(
        "all", zeros
    )
    tgt_c = train_trigram_counts(spark, target, text_col, prefix=prefix).get(
        "all", zeros
    )
    return logprob_table(tgt_c) - logprob_table(raw_c)


def dsir_keys(
    df: DataFrame,
    diff: np.ndarray,
    text_col: str = "text",
    id_col: str = "doc_id",
    key_col: str = "dsir_key",
    prefix: int = spec.PPL_PREFIX_CHARS,
) -> DataFrame:
    """df + ``key_col`` = log-importance-weight + deterministic Gumbel.

    Null ids are dropped (a row without a stable identity has no
    deterministic sample fate — same contract as hash_sample); null or
    sub-trigram texts get weight 0.0 (pure Gumbel key), not a crash.
    """
    spark = df.sparkSession
    bc = spark.sparkContext.broadcast(diff)

    @F.pandas_udf("double")
    def key_udf(text: pd.Series, u: pd.Series) -> pd.Series:
        sums, counts = trigram_logprob_sums(text.tolist(), (bc.value,), prefix)
        logw = np.zeros(counts.size, dtype=np.float64)
        logw[counts > 0] = sums[0]
        un = u.to_numpy(np.float64)
        return pd.Series(logw - np.log(-np.log(un)))

    # u from the md5 8-hex prefix of the id: exact integer ops on both
    # engines; (v + 0.5) is exactly representable and /2^32 is a
    # power-of-two division, so u itself is bit-exact everywhere.
    u_col = (
        F.conv(
            F.substring(F.md5(F.col(id_col).cast("string")), 1, 8), 16, 10
        ).cast("long")
        + F.lit(0.5)
    ) / F.lit(_HEX_SPACE)
    return df.filter(F.col(id_col).isNotNull()).withColumn(
        key_col, key_udf(F.col(text_col), u_col)
    )


def dsir_resample(
    spark: SparkSession,
    raw: DataFrame,
    target: DataFrame,
    k: int,
    text_col: str = "text",
    id_col: str = "doc_id",
    prefix: int = spec.PPL_PREFIX_CHARS,
) -> DataFrame:
    """The composed op: fit both LMs, weigh ``raw``, keep the Gumbel
    top-``k`` (sampling-without-replacement biased toward target-like
    documents). Returns ``raw``'s rows (minus null ids) plus
    ``dsir_key``, exactly ``min(k, rows)`` of them."""
    diff = fit_dsir_diff(spark, raw, target, text_col, prefix)
    keyed = dsir_keys(raw, diff, text_col, id_col, prefix=prefix)
    # ties are measure-zero for continuous keys, but the id tie-break
    # keeps the selection total-order deterministic anyway
    return keyed.orderBy(F.desc("dsir_key"), F.col(id_col)).limit(k)
