"""Document-quality cascade: every heuristic rule family behind ONE
verdict column, cheap-first (the document-table analog of the reference's
F6 composite filter cascade and of FineWeb's production filter chain
order — reference consolidate_and_clean.py applies its cheap rules before
its scored ones for the same reason).

Stage order and cost shape:

1. ``shape`` — Gopher document-shape rules (alpha-word / bullet-line /
   ellipsis-line fractions): JVM-native, zero shuffle.
2. ``fineweb`` — FineWeb custom rules (punct-line / short-line /
   newline-per-word / duplicated-line-char fractions): JVM-native plus
   one zero-Exchange Arrow pass.
3. ``repetition`` — Gopher n-gram repetition rules: the costliest
   family (one Arrow kernel per document, O(words) numpy per n), so it
   is evaluated on the SURVIVORS of stages 1-2 only — at web scale the
   cheap rules reject a large slice, and every rejected row reaches the
   kernel as a null it skips. A row violating several stages reports the
   cheapest one, like the reference's cascade.

The whole cascade is one pass over the input: zero Exchange, no join
back, every stage a column of the same row (pytest-pinned).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .textql import (
    filter_doc_shape,
    filter_fineweb_quality,
    filter_repetition,
)


def document_quality_verdicts(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """df + ``quality_keep`` (boolean), ``quality_reject_stage`` ('shape' |
    'fineweb' | 'repetition' | null) and ``quality_reject_reason`` (the
    firing rule's name, null for keeps). Null/wordless documents pass
    every family — length gates own empty-text rejection.

    The repetition stage is filter_repetition's one Arrow kernel, gated
    by the pipeline's nulled-payload trick: cheap-rejected rows carry a
    null ``_rep_text``, so the kernel skips them at the cost of one None
    check — survivors-only evaluation with NO verdict join back and NO
    Exchange anywhere in the cascade (pytest-pinned). The kernel receives
    only the gated text, so each survivor's text crosses into Python
    once.
    """
    cheap = filter_fineweb_quality(
        filter_doc_shape(df, text_col=text_col), text_col=text_col
    )
    cheap_reason = F.coalesce("shape_reject_reason", "fw_reject_reason")
    cheap_stage = F.when(
        F.col("shape_reject_reason").isNotNull(), F.lit("shape")
    ).when(F.col("fw_reject_reason").isNotNull(), F.lit("fineweb"))

    gated = cheap.withColumn(
        "_rep_text", F.when(cheap_reason.isNull(), F.col(text_col))
    )
    rep = filter_repetition(gated, text_col="_rep_text").drop(
        "_rep_text"
    )
    reason = F.coalesce(cheap_reason, F.col("rep_reject_reason"))
    stage = F.coalesce(
        cheap_stage,
        F.when(F.col("rep_reject_reason").isNotNull(), F.lit("repetition")),
    )
    return (
        rep.withColumn("quality_reject_stage", stage)
        .withColumn("quality_reject_reason", reason)
        .withColumn("quality_keep", reason.isNull())
        .drop("shape_reject_reason", "fw_reject_reason", "rep_reject_reason")
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
