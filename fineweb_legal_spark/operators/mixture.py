"""Dataset mixture construction: per-source deterministic sampling rates.

Training corpora are mixtures ("10% of crawl, 2x books, 0.5x forums...");
this operator materializes a mixture by sampling each source at its own
rate. Sampling is hash-deterministic (md5 of the row key), not seeded-RNG:
the same row set results on any engine, partitioning, or retry — the same
determinism-hardening as validation.hash_sample, generalized to
per-stratum rates. No reference analog — a training-data toolkit op.

Mechanics: rate r maps to an 8-hex-digit threshold floor(r * 16^8) (rate
1.0 maps to the sentinel "g", above every hex prefix); a row is kept when
the first 8 hex digits of md5(key) compare below the threshold string.
Fixed-width lowercase hex compares lexicographically in numeric order, so
the predicate is a plain string comparison both in Spark and in the
DuckDB oracle — no cross-engine integer parsing.

Scale shape: the rate table is a handful of rows (broadcast join); the
filter runs at the scan with no shuffle at all. Expected kept fraction
per source is r +- O(1/sqrt(rows)); exactness is per-ROW deterministic,
not per-count.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..session import arrow_table

HEX_SPACE = 16**8


def rate_threshold_hex(rate: float) -> str:
    """Lexicographic threshold for a [0, 1] sampling rate: 8 hex digits,
    except rate 1.0 maps to "g" (> every hex prefix) so keep-everything
    sources really keep everything — "ffffffff" under a strict ``<`` would
    wrongly drop the ~2^-32 of rows whose md5 prefix is exactly that."""
    if not 0.0 <= rate <= 1.0:
        raise ValueError(f"rate {rate} outside [0, 1]")
    if rate >= 1.0:
        return "g"
    return format(min(int(rate * HEX_SPACE), HEX_SPACE - 1), "08x")


def threshold_hex_col(rate):
    """Column-side twin of rate_threshold_hex (takes a rate Column):
    rate >= 1 -> the "g" sentinel, else lowercase zero-padded
    floor(rate * 16^8). ONE definition of the determinism-critical
    mapping, shared by every data-derived sampler."""
    return F.when(rate >= 1.0, F.lit("g")).otherwise(
        F.lpad(
            F.lower(F.hex(F.floor(rate * F.lit(float(HEX_SPACE))).cast("long"))),
            8,
            "0",
        )
    )


def _keep_predicate(key_col: str):
    """The shared keep filter: md5(key) 8-hex prefix below `_thr`."""
    return (
        F.substring(F.md5(F.col(key_col).cast("string")), 1, 8) < F.col("_thr")
    )


def mixture_sample(
    df: DataFrame,
    rates: dict[str, float],
    source_col: str = "source",
    key_col: str = "doc_id",
    default_rate: float = 0.0,
) -> DataFrame:
    """Keep each row of `df` with its source's probability, deterministically
    in md5(key). Sources absent from `rates` use `default_rate` (0.0 =
    dropped — an explicit mixture is usually exhaustive)."""
    spark = df.sparkSession
    thr = spark.createDataFrame(
        arrow_table(
            [(s, rate_threshold_hex(r)) for s, r in sorted(rates.items())],
            f"`{source_col}` string, _thr string",
        )
    )
    keyed = df.join(F.broadcast(thr), source_col, "left").withColumn(
        "_thr", F.coalesce("_thr", F.lit(rate_threshold_hex(default_rate)))
    )
    return keyed.filter(_keep_predicate(key_col)).drop("_thr")


def temperature_mixture(
    df: DataFrame,
    alpha: float = 0.5,
    source_col: str = "source",
    key_col: str = "doc_id",
    broadcast_rates: bool = True,
) -> DataFrame:
    """Temperature-based mixture sampling: downsample each source so the
    kept mix follows p_s^alpha renormalized (the multinomial-temperature
    practice of multilingual/multi-source LLM corpora — alpha < 1 lifts
    rare sources relative to dominant ones). Rates are DERIVED FROM THE
    DATA, not supplied: rate_s = (c_min / c_s)^(1 - alpha), so the
    rarest source keeps everything (rate exactly 1.0 -> the "g"
    sentinel) and larger sources shrink toward the tempered share.

    Same determinism contract as mixture_sample: the rate becomes an
    8-hex threshold and rows are kept by md5-prefix compare — identical
    row sets on any engine, partitioning, or retry. Rates are rounded to
    4 decimals BEFORE thresholding so a 1-ulp pow() divergence between
    engines cannot flip a threshold digit.

    Scale shape: one map-side-combinable count per source, an
    unpartitioned window over the tiny per-source frame (the
    class_weights pattern — lazy, no eager action at plan build), and a
    broadcast join back; the keep filter runs at the scan. The broadcast
    is bounded by DISTINCT-SOURCE cardinality — unlike mixture_sample's
    caller-supplied dict, that is data-derived, so for extreme-cardinality
    source columns (per-domain mixtures over 10^7+ hosts) pass
    ``broadcast_rates=False`` to let AQE pick the join strategy from the
    rate frame's runtime size instead of forcing the broadcast.
    """
    from pyspark.sql import Window

    # NULL sources carry no mixture membership: they are excluded from the
    # rate derivation (a tiny NULL group must not become c_min and crush
    # every real source's rate) and dropped by the inner join below —
    # stated behavior, mirrored in the driver oracle.
    counts = (
        df.filter(F.col(source_col).isNotNull())
        .groupBy(source_col)
        .agg(F.count(F.lit(1)).alias("_c"))
    )
    w = Window.partitionBy()
    rates = counts.withColumn("_cmin", F.min("_c").over(w)).select(
        source_col,
        F.round(
            F.pow(F.col("_cmin") / F.col("_c"), F.lit(1.0 - alpha)), 4
        ).alias("_rate"),
    )
    thr = rates.select(source_col, threshold_hex_col(F.col("_rate")).alias("_thr"))
    keyed = df.join(F.broadcast(thr) if broadcast_rates else thr, source_col)
    return keyed.filter(_keep_predicate(key_col)).drop("_thr")
