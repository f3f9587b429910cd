"""Reference stage-1 web-document filter, re-expressed as native Spark SQL.

Semantics parity with /root/reference scripts/stream_filter_stage1.py
(F1-F6 in SURVEY.md §2.2), independently implemented:

- length gate 500..50,000 chars                      (:203-206, :515-524)
- news-URL reject: lowercase URL contains any of the
  NEWS_URL_PATTERNS substrings                        (:109-115, :149-154)
- boilerplate reject: phrase in lowercase FIRST 1000
  chars, or in LAST 1000 chars but only when
  len(text) > 1000                                    (:48-71, :157-167)
- quality keywords: >= 2 distinct keywords present in
  lowercase first 5000 chars (per-keyword 0/1
  indicator sum == the reference's unique count)      (:76-104, :170-180)
- citation: >= 1 of the citation regexes matches the
  first 8000 chars (case flags folded per pattern)    (:121-136, :183-187)

Stage order preserved ("fastest rejections first", :190-199): the
when-cascade short-circuits left-to-right inside whole-stage codegen, so the
reference's manual cost ordering is kept for free (SURVEY.md P1).

Everything is a Column expression — no UDFs, fully pushdown/codegen
friendly; boilerplate/keyword matching uses bounded `substring` windows so
the engine never regex-scans a 50kB document (P2).
"""

from __future__ import annotations

import re

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .. import spec


def _contains_any(col: Column, needles: tuple[str, ...]) -> Column:
    """Single alternation regex over literal needles (quoted)."""
    rx = "|".join(re.escape(n) for n in needles)
    return col.rlike(rx)


def _keyword_hits(window: Column) -> Column:
    """Count of DISTINCT keywords present (indicator sum, F4)."""
    out = F.lit(0)
    for kw in spec.QUALITY_KEYWORDS:
        out = out + window.contains(kw).cast("int")
    return out


def _citation_rx() -> str:
    parts = []
    for pat, case_sensitive in spec.CITATION_PATTERNS:
        parts.append(pat if case_sensitive else f"(?i:{pat})")
    return "|".join(f"(?:{p})" for p in parts)


def _rule_preds() -> dict[str, Column]:
    """The five stage-1 rule predicates, each independent of the others
    (shared by the deployed cascade and the rule_overlap audit)."""
    text = F.col("text")
    n = F.length(text)
    url_lc = F.lower(F.coalesce(F.col("url"), F.lit("")))
    head = F.lower(F.substring(text, 1, spec.WEB_BOILER_WINDOW))
    tail = F.lower(F.substring(text, -spec.WEB_BOILER_WINDOW, spec.WEB_BOILER_WINDOW))
    kw_window = F.lower(F.substring(text, 1, spec.WEB_KEYWORD_WINDOW))
    cite_window = F.substring(text, 1, spec.WEB_CITATION_WINDOW)
    boiler = _contains_any(head, spec.BOILERPLATE_PHRASES) | (
        (n > spec.WEB_BOILER_WINDOW) & _contains_any(tail, spec.BOILERPLATE_PHRASES)
    )
    return {
        "length": text.isNull() | (n < spec.WEB_MIN_CHARS) | (n > spec.WEB_MAX_CHARS),
        "news_url": _contains_any(url_lc, spec.NEWS_URL_PATTERNS),
        "boilerplate": boiler,
        "keywords": _keyword_hits(kw_window) < spec.WEB_MIN_KEYWORDS,
        "citation": ~cite_window.rlike(_citation_rx()),
    }


def web_rule_flags() -> dict[str, Column]:
    """Independent (non-cascaded) trip booleans for rule_overlap audits —
    a doc can trip several. NULL text trips only 'length': the text-window
    predicates are NULL on NULL text and coalesce to false, identically in
    the SQL oracle."""
    preds = _rule_preds()
    return {
        name: p if name == "length" else F.coalesce(p, F.lit(False))
        for name, p in preds.items()
    }


def web_reject_reason() -> Column:
    p = _rule_preds()
    return (
        F.when(p["length"], F.lit("length"))
        .when(p["news_url"], F.lit("news_url"))
        .when(p["boilerplate"], F.lit("boilerplate"))
        .when(p["keywords"], F.lit("keywords"))
        .when(p["citation"], F.lit("citation"))
    )


def web_filter(df: DataFrame) -> DataFrame:
    """(id, keep, reject_reason) for a stage-1-shaped (id, text, url) table."""
    reason = web_reject_reason()
    return df.select(
        "id", reason.isNull().alias("keep"), reason.alias("reject_reason")
    )


def stage_reject_counts(df: DataFrame) -> DataFrame:
    """Per-stage reject counters (reference A1, streaming.py:196-201)."""
    return (
        df.select(F.coalesce(web_reject_reason(), F.lit("passed")).alias("stage"))
        .groupBy("stage")
        .agg(F.count(F.lit(1)).alias("docs"))
        .orderBy("stage")
    )
