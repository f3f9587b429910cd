"""Document-quality cascade: every heuristic rule family behind ONE
verdict column, cheap-first (the document-table analog of the reference's
F6 composite filter cascade and of FineWeb's production filter chain
order — reference consolidate_and_clean.py applies its cheap rules before
its scored ones for the same reason).

Stage order and cost shape:

1. ``shape`` — Gopher document-shape rules (alpha-word / bullet-line /
   ellipsis-line fractions): JVM-native, zero shuffle.
2. ``fineweb`` — FineWeb custom rules (punct-line / short-line /
   newline-per-word fractions JVM-native; the duplicated-line-char
   fraction a field of the repetition kernel's struct).
3. ``repetition`` — Gopher n-gram repetition rules: the costliest
   family (O(words) numpy per n per document).

The whole cascade is one Arrow pass of
:func:`~.textql.repetition_profile`, one scan, zero Exchange, no join
back, every stage a column of the same row (pytest-pinned). Each
document's text crosses into Python once. The kernel's gate is the
JVM-native rules of stages 1-2, so it computes n-grams on their
survivors only: at web scale the cheap rules reject a large slice, and a
rejected row costs the kernel one line count. A row violating several
stages reports the cheapest one, like the reference's cascade.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .textql import (
    _FW_SIGNALS,
    _fineweb_reason,
    _repetition_reason,
    filter_doc_shape,
    fineweb_quality_signals,
    repetition_profile,
)

PROFILE_COL = "_rep_profile"


def document_quality_verdicts(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """df + ``quality_keep`` (boolean), ``quality_reject_stage`` ('shape' |
    'fineweb' | 'repetition' | null) and ``quality_reject_reason`` (the
    firing rule's name, null for keeps). Null/wordless documents pass
    every family — length gates own empty-text rejection.

    One evaluation of the repetition kernel, gated by the JVM-native
    shape and FineWeb rules: survivors-only n-gram work with NO verdict
    join back and NO Exchange anywhere in the cascade (pytest-pinned).
    """
    return verdicts_with_profile(df, text_col, gated=True).drop(PROFILE_COL)


def verdicts_with_profile(
    df: DataFrame, text_col: str, gated: bool
) -> DataFrame:
    """The cascade's verdict columns plus :data:`PROFILE_COL`, the default
    :func:`~.textql.repetition_profile` struct the verdict reads. Gated,
    the kernel computes n-grams on the cheap stages' survivors only;
    ungated, on every document (for callers that also report the
    n-gram signals). The repetition stage is reached only where the
    cheap stages pass, so both give the same verdicts."""
    sig = fineweb_quality_signals(
        filter_doc_shape(df, text_col=text_col), text_col=text_col
    )
    gate = (
        F.col("shape_reject_reason").isNull()
        & _fineweb_reason(F.lit(None).cast("double")).isNull()
        if gated
        else F.lit(True)
    )
    prof = F.col(PROFILE_COL)
    reasons = {
        "shape": "shape_reject_reason",
        "fineweb": "fw_reject_reason",
        "repetition": "rep_reject_reason",
    }
    reason = F.coalesce(*reasons.values())  # the cheapest stage wins
    stage = F.coalesce(
        *[F.when(F.col(c).isNotNull(), F.lit(s)) for s, c in reasons.items()]
    )
    return (
        sig.withColumn(PROFILE_COL, repetition_profile()(F.col(text_col), gate))
        .withColumns(
            {
                "fw_reject_reason": _fineweb_reason(prof["dup_line_frac"]),
                "rep_reject_reason": _repetition_reason(prof, text_col),
            }
        )
        .withColumns(
            {
                "quality_reject_stage": stage,
                "quality_reject_reason": reason,
                "quality_keep": reason.isNull(),
            }
        )
        .drop(*reasons.values(), *_FW_SIGNALS)
    )


def quality_stage_counts(verdicts: DataFrame) -> DataFrame:
    """(stage, reason, n) audit over :func:`document_quality_verdicts`
    output, keeps reported as (null, null, n) — the A1-style stage-reject
    counter for the document cascade (one map-side-combinable pass)."""
    return (
        verdicts.groupBy(
            F.col("quality_reject_stage").alias("stage"),
            F.col("quality_reject_reason").alias("reason"),
        )
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.asc_nulls_last("stage"), F.asc_nulls_last("reason"))
    )
