"""Driver contract for the spark-graft builder (PySpark target).

- ``entry(spark)``: flagship — maps sf0.001 documents into the transcripts
  shape and runs the full quality-filter pipeline (heuristics -> langid/ppl
  -> scrub -> dedup).
- ``queries()``: one entry per implemented operator from SURVEY.md §2 plus
  the training-data ops; each callable takes (spark, sf_dir).
- ``oracle_sql()``: DuckDB-runnable ANSI SQL for each query. Queries over
  the synthetic transcripts/webdocs tables reference their repo-local
  parquet via read_parquet() with absolute paths; the transcript-pipeline
  oracles read the GOLDEN parquet produced by the independent single-node
  pandas oracle (fineweb_legal_spark/oracle.py), which is the
  reference-label source (SURVEY.md §5).

Columns are aliased identically on both sides; doubles are rounded to
stabilize value-hash comparison.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from fineweb_legal_spark import spec
from fineweb_legal_spark.datasets import (
    DATA_DIR,
    ensure_golden,
    ensure_ivf_centroids,
    ensure_planes,
    ensure_pq_codebooks,
    ensure_transcripts,
    ensure_web_golden,
    ensure_webdocs,
)
from fineweb_legal_spark.operators.parallel import widen
from fineweb_legal_spark.operators.webfilter import stage_reject_counts, web_filter
from fineweb_legal_spark.pipeline import ppl_histogram, run_pipeline, stage_metrics
from fineweb_legal_spark.session import arrow_table

# --------------------------------------------------------------------------
# table helpers
# --------------------------------------------------------------------------


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def _tw(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return widen(_t(spark, sf_dir, name))


def _transcripts(spark: SparkSession) -> DataFrame:
    # The synthetic t2 table is one 6 MB parquet file with a single row
    # group -> a 1-task scan that would serialize the model stage onto one
    # Python worker; widen() spreads it to the session's width.
    return widen(spark.read.parquet(str(ensure_transcripts("t2"))))


def _webdocs(spark: SparkSession) -> DataFrame:
    return spark.read.parquet(str(ensure_webdocs("t2")))


def _golden_sql_path() -> str:
    return str(ensure_golden("t2"))


def _webdocs_sql_path() -> str:
    return str(ensure_webdocs("t2"))


# --------------------------------------------------------------------------
# flagship
# --------------------------------------------------------------------------


def entry(spark: SparkSession) -> DataFrame:
    """Load sf0.001 documents, reshape to the transcripts schema, run the
    full pipeline; returns per-turn verdicts (>=0 rows, stable schema)."""
    docs = _t(spark, "/root/testdata/sf0.001", "documents")
    w = Window.partitionBy("source").orderBy("doc_id")
    transcripts = docs.select(
        F.col("source").alias("conv_id"),
        (F.row_number().over(w) - 1).cast("int").alias("turn_idx"),
        F.lit("user").alias("role"),
        F.col("text"),
        F.lit(None).cast("string").alias("tool"),
        F.to_timestamp(F.lit("2025-01-01 00:00:00")).alias("ts"),
    )
    return run_pipeline(spark, transcripts)


# --------------------------------------------------------------------------
# transcript-pipeline queries (oracle = independent pandas oracle's golden)
# --------------------------------------------------------------------------


def _session_cached(cache: dict, spark: SparkSession, build) -> DataFrame:
    """Build-once-per-SparkSession persisted frame: several driver queries
    consume the same expensive intermediate (pipeline verdicts, LSH pairs,
    CC labels), and without this each would re-run it with fresh codegen."""
    key = spark.sparkContext.applicationId
    if key not in cache:
        cache.clear()
        cache[key] = build().persist()
    return cache[key]


_VERDICTS_CACHE: dict[str, DataFrame] = {}


def _t2_verdicts(spark: SparkSession) -> DataFrame:
    return _session_cached(
        _VERDICTS_CACHE, spark, lambda: run_pipeline(spark, _transcripts(spark))
    )


def q_pipeline_verdicts(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _t2_verdicts(spark)


def q_pipeline_stage_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    return stage_metrics(_t2_verdicts(spark))


def q_pipeline_ppl_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    return ppl_histogram(_t2_verdicts(spark))


def q_pipeline_kept_text(spark: SparkSession, sf_dir: str) -> DataFrame:
    v = _t2_verdicts(spark)
    return v.filter("keep").select("conv_id", "turn_idx", "scrubbed_text")


def q_pipeline_scrub_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    # PII/toxicity scrub audit (A-family metrics): total occurrences of
    # each redaction token across the kept corpus, plus how many turns
    # contain it — the "what did the scrubber actually do" report every
    # privacy review asks for. All 8 counters (occurrences + turns_hit
    # per token) ride ONE wide map-side-combinable aggregate — a single
    # scan with a one-row-per-partition exchange (the audit.count_stack
    # shape, here with a 3-column stack) — not a union of four groupBy
    # passes that would re-scan a spilled verdict cache 4x at 100 TB.
    # occurrences = length delta / token length, native expressions only.
    v = _t2_verdicts(spark).filter("keep")
    tokens = (
        ("email", spec.EMAIL_TOKEN),
        ("ssn", spec.SSN_TOKEN),
        ("phone", spec.PHONE_TOKEN),
        ("profanity", spec.PROFANITY_TOKEN),
    )
    aggs = []
    for i, (_name, token) in enumerate(tokens):
        occ = (
            (
                F.length("scrubbed_text")
                - F.length(F.replace(F.col("scrubbed_text"), F.lit(token)))
            )
            / F.lit(len(token))
        ).cast("long")
        aggs.append(F.sum(occ).alias(f"o{i}"))
        aggs.append(F.sum((occ > 0).cast("long")).alias(f"h{i}"))
    stack = ", ".join(
        f"'{name}', o{i}, h{i}" for i, (name, _t) in enumerate(tokens)
    )
    return (
        v.agg(*aggs)
        .selectExpr(
            f"stack({len(tokens)}, {stack})"
            " AS (token, occurrences, turns_hit)"
        )
        .orderBy("token")
    )


# --------------------------------------------------------------------------
# reference stage-1 web filter (pure-SQL DuckDB oracle)
# --------------------------------------------------------------------------


def q_web_filter_verdicts(spark: SparkSession, sf_dir: str) -> DataFrame:
    return web_filter(_webdocs(spark))


def q_web_stage_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    # deployed-cascade attribution counts + the independent rule co-trip
    # matrix (the filter-tuning view first-trip attribution can't give),
    # FUSED into one wide aggregate via audit.count_stack: one scan, one
    # single-row-per-partition exchange — not a union of two aggregates
    # that would scan the table twice at 100 TB. Unlike the old groupBy,
    # zero-count stages now appear explicitly (audits want the zeros).
    from fineweb_legal_spark.operators.audit import count_stack
    from fineweb_legal_spark.operators.webfilter import (
        web_reject_reason,
        web_rule_flags,
    )

    docs = _webdocs(spark)
    stage = F.coalesce(web_reject_reason(), F.lit("passed"))
    flags = web_rule_flags()
    counters = {
        s: stage == s
        for s in (*sorted(flags), "passed")
    }
    names = sorted(flags)
    for i, a in enumerate(names):
        for b in names[i:]:
            counters[f"overlap:{a}|{b}"] = flags[a] & flags[b]
    return count_stack(docs, counters, key_col="stage")


def _web_pred_sql() -> dict[str, str]:
    """DuckDB predicate fragments over the d CTE columns — shared by the
    cascade oracle and the rule-overlap oracle."""
    url_pred = " OR ".join(
        f"contains(u, '{p}')" for p in spec.NEWS_URL_PATTERNS
    )
    boiler_head = " OR ".join(
        f"contains(head, '{p.replace(chr(39), chr(39)*2)}')" for p in spec.BOILERPLATE_PHRASES
    )
    boiler_tail = " OR ".join(
        f"contains(tail, '{p.replace(chr(39), chr(39)*2)}')" for p in spec.BOILERPLATE_PHRASES
    )
    kw_sum = " + ".join(
        f"(CASE WHEN contains(kw, '{k}') THEN 1 ELSE 0 END)"
        for k in spec.QUALITY_KEYWORDS
    )
    cites = []
    for pat, cs in spec.CITATION_PATTERNS:
        p = pat if cs else f"(?i:{pat})"
        # DuckDB single-quoted strings do NOT process backslash escapes;
        # only quotes need doubling
        p = p.replace("'", "''")
        cites.append(f"regexp_matches(cite, '{p}')")
    cite_pred = " OR ".join(cites)
    return {
        "url_pred": url_pred,
        "boiler_head": boiler_head,
        "boiler_tail": boiler_tail,
        "kw_sum": kw_sum,
        "cite_pred": cite_pred,
    }


def _web_d_cte() -> str:
    return f"""
WITH d AS (
  SELECT id, text, url,
         length(text) AS n,
         lower(coalesce(url, '')) AS u,
         lower(substr(text, 1, {spec.WEB_BOILER_WINDOW})) AS head,
         lower(CASE WHEN length(text) > {spec.WEB_BOILER_WINDOW}
               THEN substr(text, length(text) - {spec.WEB_BOILER_WINDOW} + 1)
               ELSE '' END) AS tail,
         lower(substr(text, 1, {spec.WEB_KEYWORD_WINDOW})) AS kw,
         substr(text, 1, {spec.WEB_CITATION_WINDOW}) AS cite
  FROM read_parquet('{_webdocs_sql_path()}')
)"""


def _web_overlap_oracle_sql() -> str:
    """Independent rule co-trip counts (the audit.rule_overlap twin).

    NULL-text alignment with webfilter.web_rule_flags (both engines:
    NULL text trips only 'length'): news_url never NULL (u coalesced);
    boilerplate/citation coalesce their NULL-propagating predicates to
    FALSE; keywords needs the explicit text IS NOT NULL guard because the
    SQL CASE-sum collapses NULL contains() to 0, which would trip the
    <min-keywords test where Spark's NULL indicator-sum does not."""
    p = _web_pred_sql()
    flags = {
        "length": (
            f"(text IS NULL OR n < {spec.WEB_MIN_CHARS}"
            f" OR n > {spec.WEB_MAX_CHARS})"
        ),
        "news_url": f"({p['url_pred']})",
        "boilerplate": (
            f"coalesce(({p['boiler_head']})"
            f" OR (tail <> '' AND ({p['boiler_tail']})), FALSE)"
        ),
        "keywords": (
            f"(text IS NOT NULL"
            f" AND ({p['kw_sum']}) < {spec.WEB_MIN_KEYWORDS})"
        ),
        "citation": f"coalesce(NOT ({p['cite_pred']}), FALSE)",
    }
    names = sorted(flags)
    sums = ",\n".join(
        f"count(*) FILTER (WHERE {flags[a]} AND {flags[b]})"
        f' AS "overlap:{a}|{b}"'
        for i, a in enumerate(names)
        for b in names[i:]
    )
    return f"""
        SELECT stage, docs FROM (
            {_web_d_cte()}
            SELECT {sums} FROM d
        ) UNPIVOT (docs FOR stage IN (COLUMNS(*)))
    """


def _web_filter_oracle_sql() -> str:
    """DuckDB re-statement of the stage-1 cascade (independent of both the
    Spark exprs and the pandas oracle)."""
    p = _web_pred_sql()
    url_pred = p["url_pred"]
    boiler_head = p["boiler_head"]
    boiler_tail = p["boiler_tail"]
    kw_sum = p["kw_sum"]
    cite_pred = p["cite_pred"]
    return f"""
{_web_d_cte()}, r AS (
  SELECT id,
    CASE
      WHEN text IS NULL OR n < {spec.WEB_MIN_CHARS} OR n > {spec.WEB_MAX_CHARS} THEN 'length'
      WHEN {url_pred} THEN 'news_url'
      WHEN ({boiler_head}) OR (tail <> '' AND ({boiler_tail})) THEN 'boilerplate'
      WHEN ({kw_sum}) < {spec.WEB_MIN_KEYWORDS} THEN 'keywords'
      WHEN NOT ({cite_pred}) THEN 'citation'
    END AS reject_reason
  FROM d
)
SELECT id, reject_reason IS NULL AS keep, reject_reason FROM r
"""


# --------------------------------------------------------------------------
# reference operators over the driver's sf tables (pure-SQL oracles)
# --------------------------------------------------------------------------


def q_length_filter_docs(spark, sf_dir):
    # F1 analog on documents
    return (
        _t(spark, sf_dir, "documents")
        .filter(F.length("text").between(100, 400))
        .select("doc_id")
    )


def q_dedup_exact_docs(spark, sf_dir):
    # J1/U3: md5-of-normalized-text dedup, winner = min doc_id
    d = _t(spark, sf_dir, "documents")
    return (
        d.select(F.md5(F.lower(F.trim(F.col("text")))).alias("text_hash"), "doc_id")
        .groupBy("text_hash")
        .agg(F.min("doc_id").alias("doc_id"))
    )


def q_top_sources_docs(spark, sf_dir):
    # A7: top-10 group count with deterministic tiebreak
    d = _t(spark, sf_dir, "documents")
    return (
        d.groupBy("source")
        .agg(F.count(F.lit(1)).alias("docs"))
        .orderBy(F.desc("docs"), F.asc("source"))
        .limit(10)
    )


def q_class_weights_events(spark, sf_dir):
    # A9: inverse-frequency class weights — fully lazy: total and class
    # count come from unpartitioned window aggregates over the (tiny)
    # grouped frame, not from driver-side .count() actions during query
    # construction (which cost two extra full scans).
    e = _t(spark, sf_dir, "events")
    counts = e.groupBy("event_type").agg(F.count(F.lit(1)).alias("n"))
    w = Window.partitionBy()
    return counts.select(
        "event_type",
        F.round(
            F.sum("n").over(w).cast("double")
            / (F.count(F.lit(1)).over(w) * F.col("n")),
            6,
        ).alias("weight"),
    ).orderBy("event_type")


def q_dup_user_events(spark, sf_dir):
    # A11: keys appearing more than once
    e = _t(spark, sf_dir, "events")
    return (
        e.groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n"))
        .filter("n > 1")
        .orderBy("user_id")
    )


def q_window_first_events(spark, sf_dir):
    # §2.5: per-key ordering window (row_number over event time)
    e = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return (
        e.withColumn("rn", F.row_number().over(w))
        .filter("rn <= 3")
        .select("user_id", "rn", "event_id")
    )


def q_semi_join_customers(spark, sf_dir):
    # J2: customers with at least one order
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    return c.join(o, c.c_custkey == o.o_custkey, "left_semi").select("c_custkey")


def q_anti_join_customers(spark, sf_dir):
    # J1/J3 shape: customers with no orders
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    return c.join(o, c.c_custkey == o.o_custkey, "left_anti").select("c_custkey")


def q_union_by_name_docs(spark, sf_dir):
    # U1/U2: column-harmonized union
    d = _t(spark, sf_dir, "documents")
    a = d.filter("doc_id % 2 = 0").select("doc_id", "source")
    b = d.filter("doc_id % 2 = 1").select("doc_id", "source", "lang")
    return a.unionByName(b, allowMissingColumns=True)


def q_intersect_hashes_docs(spark, sf_dir):
    # U4: overlap audit between two halves (duplicate texts across halves)
    d = _t(spark, sf_dir, "documents").withColumn(
        "text_hash", F.md5(F.lower(F.trim(F.col("text"))))
    )
    a = d.filter("doc_id % 2 = 0").select("text_hash")
    b = d.filter("doc_id % 2 = 1").select("text_hash")
    return a.intersect(b)


def q_top_k_orders(spark, sf_dir):
    # O4: TakeOrderedAndProject
    o = _t(spark, sf_dir, "orders")
    return (
        o.orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
        .select("o_orderkey", F.round("o_totalprice", 2).alias("o_totalprice"))
        .limit(10)
    )


def q_sum_avg_lineitem(spark, sf_dir):
    # A4 + TPC-H Q1 shape (partial+final hash agg)
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("sum_disc_price"),
            F.round(F.avg("l_quantity"), 6).alias("avg_qty"),
            F.count(F.lit(1)).alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


def q_tier_splits_events(spark, sf_dir):
    # F7/F8 threshold tiers (>= semantics incl. boundary)
    e = _t(spark, sf_dir, "events")
    return e.agg(
        F.sum((F.col("value") >= 50.0).cast("long")).alias("tier_default"),
        F.sum((F.col("value") >= 100.0).cast("long")).alias("tier_high"),
        F.sum((F.col("value") >= 150.0).cast("long")).alias("tier_supreme"),
    )


def q_embedding_topk_cosine(spark, sf_dir):
    # brute-force cosine top-10 vs query vec_id=0 (ANN baseline).
    # Kernel is one numpy matmul per Arrow batch (similarity.cosine_sim);
    # the round-1 lambda-HOF version was CodegenFallback (interpreted per
    # element, ~1000x slower at scale).
    from fineweb_legal_spark.operators.similarity import cosine_sim

    emb = _t(spark, sf_dir, "embeddings")
    q = emb.filter("vec_id = 0").select(F.col("embedding").alias("q_emb"))
    return (
        emb.filter("vec_id <> 0")
        .crossJoin(F.broadcast(q))
        .select("vec_id", F.round(cosine_sim("embedding", "q_emb"), 4).alias("cos_sim"))
        .orderBy(F.desc("cos_sim"), F.asc("vec_id"))
        .limit(10)
    )


def q_revenue_by_nation(spark, sf_dir):
    # 3-table join: orders ⋈ customer (shuffle/broadcast by size) ⋈ nation
    # (broadcast dim) → per-nation revenue. Exercises Catalyst join
    # reordering + AQE join-strategy selection.
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    n = _t(spark, sf_dir, "nation")
    return (
        o.join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("n_name")
        .agg(
            # exact integer cents (repo convention, cf. hourly_event_counts):
            # a round(sum(double),2) can flip on a near-half-cent sum because
            # fp summation order differs across engines/partitionings
            F.sum(F.round(F.col("o_totalprice") * 100).cast("long")).alias(
                "revenue_cents"
            ),
            F.count(F.lit(1)).alias("orders"),
        )
        .orderBy("n_name")
    )


def q_sessionize_events(spark, sf_dir):
    # Gap-based sessionization (30-min gap): lag-window session marking +
    # cumulative-sum session index + per-session rollup. Two window passes
    # partitioned by user_id — embarrassingly parallel across users; no
    # driver state. Unix-second bounds keep the output engine-neutral.
    from fineweb_legal_spark.operators.cluster import sessionize

    e = _t(spark, sf_dir, "events")
    return sessionize(e, gap_s=1800)


def q_hourly_event_counts(spark, sf_dir):
    # Native tumbling time window (F.window) — the batch form of the
    # streaming windowed agg; window start emitted as unix seconds for
    # engine-neutral comparison. Sums in integer cents: float addition
    # order differs across engines/groupings, cents are exact.
    e = _t(spark, sf_dir, "events")
    return (
        e.groupBy(F.window("ts", "1 hour").alias("w"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.round(F.col("value") * 100).cast("long")).alias("sum_cents"),
        )
        .select(
            F.unix_timestamp("w.start").alias("hour_s"), "n_events", "sum_cents"
        )
    )


def q_rollup_event_user(spark, sf_dir):
    # Grouping sets via rollup(event_type, user_bucket): per-pair,
    # per-type subtotal, grand total in ONE pass (Expand + single
    # aggregation exchange — not three scans).
    e = _t(spark, sf_dir, "events").withColumn(
        "user_bucket", F.pmod("user_id", F.lit(10))
    )
    return e.rollup("event_type", "user_bucket").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum(F.round(F.col("value") * 100).cast("long")).alias("sum_cents"),
    )


def q_pivot_event_type_counts(spark, sf_dir):
    # Pivot with an EXPLICIT value list — open-ended pivot needs a driver
    # pass to enumerate values; pinning the list keeps the plan one-pass.
    e = _t(spark, sf_dir, "events").withColumn(
        "user_bucket", F.pmod("user_id", F.lit(10))
    )
    types = ["click", "error", "purchase", "signup", "view"]
    return (
        e.groupBy("user_bucket")
        .pivot("event_type", types)
        .count()
        .na.fill(0, types)
    )


def q_asof_last_click_events(spark, sf_dir):
    # As-of join (union + single window pass; operators/asof.py): every
    # 'view' event gains the most recent at-or-before 'click' timestamp of
    # the same user. Oracle = DuckDB's native ASOF LEFT JOIN — a fully
    # independent implementation of the semantics.
    from fineweb_legal_spark.operators.asof import asof_join

    e = _t(spark, sf_dir, "events")
    views = e.filter("event_type = 'view'").select("event_id", "user_id", "ts")
    clicks = e.filter("event_type = 'click'").select("user_id", "ts")
    j = asof_join(views, clicks, key="user_id", ts="ts")
    return j.select(
        "event_id",
        "user_id",
        F.unix_timestamp("ts").alias("view_s"),
        F.unix_timestamp("asof_ts").alias("click_s"),
    )


def q_range_join_bands_events(spark, sf_dir):
    # Range-band join via coarse-bucket equi-join + exact refilter
    # (operators/asof.py): overlapping value bands, so rows can match
    # multiple intervals — semantics a plain tier CASE cannot express.
    from fineweb_legal_spark.operators.asof import range_bucket_join

    e = _t(spark, sf_dir, "events")
    bands = spark.createDataFrame(
        arrow_table(
            [("low", 0.0, 100.0), ("mid", 50.0, 200.0), ("high", 150.0, 500.0)],
            "band string, lo double, hi double",
        )
    )
    return range_bucket_join(e, bands, "value", step=50.0).select(
        "event_id", "band", F.round("value", 2).alias("value")
    )


def q_domain_topk_web(spark, sf_dir):
    # F14/C10: URL host extraction + top-20 domain counts (reference
    # analyze_dataset_deep.py:52-59). parse_url runs JVM-side.
    w = _webdocs(spark)
    return (
        w.select(F.parse_url("url", F.lit("HOST")).alias("domain"))
        .groupBy("domain")
        .agg(F.count(F.lit(1)).alias("docs"))
        .orderBy(F.desc("docs"), F.asc_nulls_first("domain"))
        .limit(20)
    )


# D4: softmax-weighted continuous score + argmax label (reference
# classifier/inference.py:14-45 re-expressed natively: six pseudo-logits
# from the value column, softmax, expected-class score, threshold label).
_N_CLASSES = 6


def _softmax_score_cols():
    x = F.col("value") / 40.0
    exps = [F.exp(-F.abs(x - F.lit(float(i)))) for i in range(_N_CLASSES)]
    denom = exps[0]
    for t in exps[1:]:
        denom = denom + t
    score = exps[0] * 0.0
    for i, t in enumerate(exps):
        score = score + t * float(i)
    score = score / denom
    # argmax of -|x - i| = nearest class; floor(x+0.5) is engine-stable
    label = F.least(
        F.lit(_N_CLASSES - 1),
        F.greatest(F.lit(0), F.floor(x + 0.5).cast("int")),
    )
    return F.round(score, 4).alias("score"), label.alias("label")


def _softmax_sql_num() -> str:
    return " + ".join(f"exp(-abs(x - {i})) * {i}" for i in range(_N_CLASSES))


def _softmax_sql_den() -> str:
    return " + ".join(f"exp(-abs(x - {i}))" for i in range(_N_CLASSES))


def q_tier_stats_events(spark, sf_dir):
    # A10: per-tier count/min/mean score (reference
    # create_dataset_splits.py:67-73) over the D4 continuous score.
    e = _t(spark, sf_dir, "events")
    score, _ = _softmax_score_cols()
    s = e.select(score)
    tier = (
        F.when(F.col("score") >= 4.8, F.lit("supreme"))
        .when(F.col("score") >= 4.0, F.lit("high_quality"))
        .when(F.col("score") >= 3.0, F.lit("default"))
        .otherwise(F.lit("below_threshold"))
    )
    return (
        s.select(tier.alias("tier"), "score")
        .groupBy("tier")
        .agg(
            F.count(F.lit(1)).alias("docs"),
            F.round(F.min("score"), 4).alias("min_score"),
            F.round(F.avg("score"), 4).alias("avg_score"),
        )
        .orderBy("tier")
    )


# --------------------------------------------------------------------------
# training-data ops: dedup family / ANN / text analysis / multimodal
# --------------------------------------------------------------------------


def _t1_turns(spark: SparkSession) -> DataFrame:
    return (
        spark.read.parquet(str(ensure_transcripts("t1")))
        .filter("text is not null")
        .select(
            F.concat_ws("#", "conv_id", F.format_string("%06d", "turn_idx")).alias("id"),
            "text",
        )
    )


_MINHASH_CACHE: dict[str, DataFrame] = {}


def _t1_minhash_pairs(spark: SparkSession) -> DataFrame:
    """MinHash-LSH near-dup pairs over t1 — consumed by the pair query AND
    the two cluster queries, so LSH banding + candidate join runs once."""
    from fineweb_legal_spark.operators.dedup import minhash_neardup_pairs

    return _session_cached(
        _MINHASH_CACHE,
        spark,
        lambda: minhash_neardup_pairs(_t1_turns(spark), threshold=0.9),
    )


def q_minhash_neardup_t1(spark, sf_dir):
    return _t1_minhash_pairs(spark)


_CC_CACHE: dict[str, DataFrame] = {}


def _t1_cc(spark: SparkSession) -> DataFrame:
    """Connected-component labels over the t1 MinHash near-dup pair graph
    (two driver queries consume them)."""
    from fineweb_legal_spark.operators.cluster import connected_components

    return _session_cached(
        _CC_CACHE,
        spark,
        lambda: connected_components(_t1_minhash_pairs(spark)),
    )


def q_simhash_neardup_t1(spark, sf_dir):
    from fineweb_legal_spark.operators.dedup import simhash_neardup_pairs

    return simhash_neardup_pairs(_t1_turns(spark), max_hamming=3)


def q_jaccard_exact_docs(spark, sf_dir):
    from fineweb_legal_spark.operators.dedup import exact_jaccard_pairs

    d = _t(spark, sf_dir, "documents").select(
        F.col("doc_id").cast("string").alias("id"), "text"
    )
    return exact_jaccard_pairs(d, threshold=0.8)


def q_line_hygiene_t1(spark, sf_dir):
    # line hygiene, tagged union of the family's two schools
    # (operators/boilerplate.py): mode='corpus_common' — data-driven C4/
    # RefinedWeb corpus-frequency strip (lines appearing in >=20 distinct
    # turns — canned acknowledgements in the synthetic transcripts —
    # removed, surviving-line order preserved); mode='c4_local' — C4's
    # stateless line-local rules (terminal punctuation, >=3 words, no
    # "javascript") plus the page verdicts (lorem ipsum / brace /
    # min-kept-lines), a zero-Exchange per-row Arrow pass.
    from fineweb_legal_spark.operators.boilerplate import (
        c4_line_filter,
        strip_common_lines,
    )

    t = spark.read.parquet(str(ensure_transcripts("t1"))).select(
        F.concat_ws(
            "#", "conv_id", F.format_string("%06d", "turn_idx")
        ).alias("doc_id"),
        "text",
    )
    corpus = strip_common_lines(t, min_docs=20, id_col="doc_id").select(
        F.lit("corpus_common").alias("mode"),
        "id",
        "clean_text",
        F.lit(None).cast("long").alias("n_kept"),
        F.lit(None).cast("string").alias("verdict"),
    )
    c4 = c4_line_filter(t, min_words=3, min_lines=1, id_col="doc_id").select(
        F.lit("c4_local").alias("mode"), "id", "clean_text", "n_kept",
        "verdict",
    )
    return corpus.unionByName(c4)


def q_tfidf_top_terms_docs(spark, sf_dir):
    # corpus characterization: top-5 TF-IDF terms per source (native
    # explode + two map-side-combinable aggs + small top-k window)
    from fineweb_legal_spark.operators.textql import tfidf_top_terms

    return tfidf_top_terms(_t(spark, sf_dir, "documents"), k=5)


def q_repetition_signals_docs(spark, sf_dir):
    # Gopher repetition-rule signals, tagged union of the family's two
    # halves (Rae et al. 2021 §A1.1): signal='top_gram' — per doc and
    # n in (2,3,4), the most frequent word n-gram and the fraction of the
    # document's characters its occurrences cover (ties ->
    # lexicographically greatest gram); signal='dup_gram' — per doc and
    # n in (5..10), the interval-unioned word-char fraction covered by
    # ALL duplicated n-grams; signal='dup_line' — the FineWeb/Gopher
    # duplicated-LINE character fraction (exact split('\n') line match,
    # newlines excluded from the char weights); signal='cascade' — the
    # FULL document-quality cascade verdict (operators/quality.py:
    # shape -> fineweb -> repetition) as gram='stage/reason' (null =
    # keep), checked against a DuckDB oracle that recomputes every rule
    # family independently in SQL. One scan, one ungated evaluation of
    # textql.repetition_profile (every signal is a field of its struct;
    # the cascade reads the same struct, and only its cheap-stage
    # survivors reach the repetition rules, so gating changes no
    # verdict), and one row-local explode of an array of tagged
    # structs: no Union, zero Exchange beyond widen's spread.
    from fineweb_legal_spark.operators.quality import (
        PROFILE_COL,
        verdicts_with_profile,
    )

    docs = _tw(spark, sf_dir, "documents")
    text = F.col("text")
    base = verdicts_with_profile(docs, "text", gated=False)
    p = F.col(PROFILE_COL)

    def row(present, signal, n, gram=None, cnt=None, frac=None):
        # a null n marks an absent row (as in textql._profile_rows)
        null = F.lit(None)
        return F.struct(
            F.lit(signal).alias("signal"),
            F.when(present, F.lit(n)).cast("int").alias("n"),
            (null if gram is None else gram).cast("string").alias("gram"),
            (null if cnt is None else cnt).cast("long").alias("cnt"),
            (null if frac is None else frac).cast("double").alias("char_frac"),
        )

    chars = F.length(text).cast("double")
    verdict = F.concat_ws("/", "quality_reject_stage", "quality_reject_reason")
    rows = F.array(
        *[
            row(
                p[f"top_gram_{n}"].isNotNull(), "top_gram", n,
                p[f"top_gram_{n}"], p[f"top_cnt_{n}"],
                F.round(p[f"top_cov_{n}"].cast("double") / chars, 6),
            )
            for n in (2, 3, 4)
        ],
        *[
            row(
                p[f"dup_frac_{n}"].isNotNull(), "dup_gram", n,
                frac=F.round(p[f"dup_frac_{n}"], 6),
            )
            for n in (5, 6, 7, 8, 9, 10)
        ],
        row(text.isNotNull(), "dup_line", 1,
            frac=F.round(p["dup_line_frac"], 6)),
        row(F.lit(True), "cascade", 0,
            gram=F.when(verdict != "", verdict)),  # keep -> null
    )
    return (
        base.select("doc_id", F.explode(rows).alias("_r"))
        .filter(F.col("_r.n").isNotNull())
        .select("doc_id", "_r.*")
    )


def q_document_quality_cascade(spark, sf_dir):
    # NOT in the 50-entry registry (its verdict is driver-gated through
    # repetition_signals_docs' cascade branch); exists for the PLANS.md
    # audit and as the library's composite entry point
    from fineweb_legal_spark.operators.quality import (
        document_quality_verdicts,
    )

    return document_quality_verdicts(_t(spark, sf_dir, "documents"))


def q_validate_structure_t2(spark, sf_dir):
    # agent-transcript protocol sanity over (role, tool, turn_idx):
    # tool-turn/tool-name consistency, tool-after-assistant ordering,
    # opening-role, dense turn indices (validation.py)
    from fineweb_legal_spark.validation import transcript_structure_checks

    t = spark.read.parquet(str(ensure_transcripts("t2")))
    return transcript_structure_checks(t)


_MIXTURE_RATES = {"src0": 0.8, "src1": 0.5, "src2": 0.25, "src3": 0.1}
_MIXTURE_DEFAULT = 0.05


def q_mixture_sample_docs(spark, sf_dir):
    # dataset-mixture construction, config-tagged union of both samplers:
    # "fixed" = explicit per-source rates (operators/mixture.py
    # mixture_sample); "alpha05" = temperature-derived rates
    # rate_s = (c_min/c_s)^(1-alpha) (temperature_mixture — the
    # multinomial-temperature practice). Output = per-source kept counts
    # plus a doc_id checksum so the oracle compares the exact kept set.
    from fineweb_legal_spark.operators.mixture import (
        mixture_sample,
        temperature_mixture,
    )

    d = _t(spark, sf_dir, "documents")

    def report(kept, tag):
        return (
            kept.groupBy("source")
            .agg(
                F.count(F.lit(1)).alias("kept"),
                F.sum("doc_id").alias("doc_id_sum"),
            )
            .select(F.lit(tag).alias("config"), "source", "kept", "doc_id_sum")
        )

    fixed = mixture_sample(d, _MIXTURE_RATES, default_rate=_MIXTURE_DEFAULT)
    alpha = temperature_mixture(d, alpha=0.5)

    # "dsir" = importance resampling toward a target slice (every-13th
    # doc), Gumbel-top-100 over hashed-trigram log-likelihood ratios
    # (operators/dsir.py — Xie et al. 2023); oracle = single-node numpy
    # twin's golden (tools/build_golden_misc.py build_dsir, same K/mod)
    from fineweb_legal_spark.operators.dsir import dsir_resample

    target = d.filter(F.col("doc_id") % 13 == 0)
    sel = dsir_resample(spark, d, target, k=100)
    return (
        report(fixed, "fixed")
        .unionByName(report(alpha, "alpha05"))
        .unionByName(report(sel, "dsir"))
    )


def q_decontaminate_docs(spark, sf_dir):
    # benchmark decontamination: flag corpus docs sharing an 8-word gram
    # with the "benchmark" subset (every 37th doc) — broadcast gram-hash
    # join, never a corpus shuffle (operators/decontam.py)
    from fineweb_legal_spark.operators.decontam import decontaminate

    d = _tw(spark, sf_dir, "documents")
    bench = d.filter(F.col("doc_id") % 37 == 0)
    return decontaminate(d, bench, n=8)


def q_ivf_ann_topk(spark, sf_dir):
    # IVF coarse-quantize + nprobe-cell exact re-rank (the second ANN
    # scale path next to random-hyperplane LSH)
    from fineweb_legal_spark.operators.similarity import ivf_ann_topk

    emb = _t(spark, sf_dir, "embeddings")
    return ivf_ann_topk(emb, query_ids=list(range(10)), k=5, dim=64, nprobe=4)


def q_pq_ann_topk(spark, sf_dir):
    # Product-quantization ADC top-k: the compressed-scan ANN path next to
    # LSH (bucket-pruned) and IVF (cell-pruned) — scans every row but over
    # 4-byte codes, exact-cosine re-ranks a 50-row shortlist per query.
    from fineweb_legal_spark.operators.similarity import pq_ann_topk

    emb = _t(spark, sf_dir, "embeddings")
    return pq_ann_topk(emb, query_ids=list(range(10)), k=5, dim=64)


def q_embedding_neardup(spark, sf_dir):
    # embedding-cosine near-dup pairs: LSH-bucketed candidate equi-join +
    # exact numpy-cosine verify (the scale path: never all-pairs)
    from fineweb_legal_spark.operators.similarity import embedding_neardup_pairs

    emb = _t(spark, sf_dir, "embeddings")
    return embedding_neardup_pairs(emb, dim=64, threshold=0.4)


def q_semantic_dedup_embs(spark, sf_dir):
    # SemDeDup-style semantic dedup: LSH-bucketed cosine pair graph ->
    # connected components -> one kept representative (min id) per
    # semantic cluster; every vector labeled (singletons keep=true)
    from fineweb_legal_spark.operators.cluster import semantic_dedup

    emb = _t(spark, sf_dir, "embeddings")
    return semantic_dedup(emb, dim=64, threshold=0.4)


def q_lsh_ann_topk(spark, sf_dir):
    from fineweb_legal_spark.operators.similarity import lsh_ann_topk

    emb = _t(spark, sf_dir, "embeddings")
    return lsh_ann_topk(emb, query_ids=list(range(10)), k=5, dim=64)


# -- second, larger quantizer configurations ---------------------------------
# The bucket/cell counts are corpus-scaled parameters (suggest_n_planes /
# n_cells ≈ sqrt(n)), not constants; these queries prove the operators stay
# oracle-exact at a second configuration (256 LSH buckets, 64 IVF cells),
# with the plane/centroid matrices exported per configuration as parquet.


def q_embedding_neardup_p8(spark, sf_dir):
    from fineweb_legal_spark.operators.similarity import embedding_neardup_pairs

    emb = _t(spark, sf_dir, "embeddings")
    return embedding_neardup_pairs(emb, dim=64, threshold=0.4, n_planes=8)


def q_lsh_ann_topk_p8(spark, sf_dir):
    from fineweb_legal_spark.operators.similarity import lsh_ann_topk

    emb = _t(spark, sf_dir, "embeddings")
    return lsh_ann_topk(emb, query_ids=list(range(10)), k=5, dim=64, n_planes=8)


def q_ivf_ann_topk_c64(spark, sf_dir):
    from fineweb_legal_spark.operators.similarity import ivf_ann_topk

    emb = _t(spark, sf_dir, "embeddings")
    return ivf_ann_topk(
        emb, query_ids=list(range(10)), k=5, dim=64, nprobe=4, n_cells=64
    )


def q_ivf_ann_topk_trained(spark, sf_dir):
    # data-adapted quantizer: k-means centroids trained by
    # tools/train_ivf.py and published as parquet — the query loads them
    # as DATA (no quantizer code shared with the oracle, which replays
    # cell assignment from the same file)
    import numpy as np
    import pyarrow.parquet as _pq

    from fineweb_legal_spark.operators.similarity import ivf_ann_topk

    cents_pdf = _pq.read_table(
        DATA_DIR / "golden" / "ivf_trained_dim64_c16.parquet"
    ).to_pandas()
    cents = np.stack(cents_pdf.sort_values("cell_idx")["weights"].to_numpy())
    emb = _t(spark, sf_dir, "embeddings")
    return ivf_ann_topk(
        emb, query_ids=list(range(10)), k=5, dim=64, nprobe=4,
        n_cells=16, centroids=cents,
    )


def q_lsh_ann_topk_mp(spark, sf_dir):
    # multi-probe LSH (Lv et al.): each query also probes the 2 buckets
    # behind its smallest-|margin| planes — the recall lever that lets
    # n_planes grow with the corpus without halving recall per plane
    from fineweb_legal_spark.operators.similarity import lsh_ann_topk

    emb = _t(spark, sf_dir, "embeddings")
    return lsh_ann_topk(
        emb, query_ids=list(range(10)), k=5, dim=64, n_planes=8, n_probes=3
    )


def q_pack_conversations_t1(spark, sf_dir):
    # Greedy sample packing: turns -> token-budgeted training chunks
    # (operators/packing.py). Inherently sequential per conversation, so
    # it is a grouped-map UDF; the oracle re-implements the same
    # recurrence independently as a DuckDB recursive CTE.
    from fineweb_legal_spark.operators.packing import pack_turns

    t = spark.read.parquet(str(ensure_transcripts("t1")))
    return pack_turns(t, budget=512)


def q_value_stats_events(spark, sf_dir):
    # A5 describe()-style stats + A6 exact AND sketch percentiles + A8
    # exact/HLL count-distinct — ONE aggregation (one scan where round 3
    # spent four). Plan shape: two exchanges, because the exact
    # countDistinct forces Spark's Expand-based two-stage distinct
    # aggregate; every other term (moments, exact percentile sort-merge,
    # Greenwald-Khanna sketch, HLL++) is map-side combinable within it.
    # ap* = percentile_approx; at gate scale its high-accuracy output
    # equals the discrete order statistic (DuckDB quantile_disc);
    # hll_within_band = estimate within 3x rsd.
    e = _t(spark, sf_dir, "events")
    pct = F.percentile(
        "value", F.array(*[F.lit(x) for x in (0.5, 0.75, 0.9, 0.95, 0.99)])
    )
    aggs = [
        F.round(F.min("value"), 4).alias("v_min"),
        F.round(F.max("value"), 4).alias("v_max"),
        F.round(F.avg("value"), 4).alias("v_avg"),
        F.round(F.stddev_samp("value"), 4).alias("v_std"),
    ]
    aggs += [
        F.round(pct[i], 4).alias(f"p{int(q * 100)}")
        for i, q in enumerate((0.5, 0.75, 0.9, 0.95, 0.99))
    ]
    aggs += [
        F.round(F.percentile_approx("value", p, 1_000_000), 4).alias(
            f"ap{int(p * 100)}"
        )
        for p in (0.5, 0.75, 0.9, 0.95, 0.99)
    ]
    aggs += [
        F.countDistinct("user_id").alias("n_users_exact"),
        (
            (
                F.abs(
                    F.approx_count_distinct("user_id", 0.02).cast("double")
                    - F.countDistinct("user_id")
                )
                / F.countDistinct("user_id")
            )
            <= 0.06
        ).alias("hll_within_band"),
    ]
    return e.agg(*aggs)


def q_hash_sample_docs(spark, sf_dir):
    # O5 determinism-hardened: reproducible hash sampling
    from fineweb_legal_spark.validation import hash_sample

    return hash_sample(_t(spark, sf_dir, "documents"), "doc_id", 1).select("doc_id")


def q_stratified_sample_docs(spark, sf_dir):
    # Deterministic stratified sampling: k docs per source, ranked by
    # md5(doc_id) within each stratum — reproducible across engines,
    # partitionings and runs (seeded `sample()`/`sampleBy()` is
    # engine-specific, so it can never be oracle-checked; hash-rank is the
    # scale-safe analog of the reference's seeded split sampling,
    # create_dataset_splits.py:26-30). One shuffle (window by source).
    d = _t(spark, sf_dir, "documents")
    w = Window.partitionBy("source").orderBy(F.md5(F.col("doc_id").cast("string")))
    return (
        d.select("doc_id", "source")
        .withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 5)
        .select("doc_id", "source", "rk")
    )


def q_validate_t2(spark, sf_dir):
    # A12/§5.1 analog: validation report over the pipeline verdicts
    from fineweb_legal_spark.validation import validate_verdicts

    return validate_verdicts(_t2_verdicts(spark))


def q_split_counts_docs(spark, sf_dir):
    # stratified-hash split assignment + per-split counts (reference
    # create_dataset_splits analog, determinism-hardened)
    from fineweb_legal_spark.operators.splits import assign_splits

    return (
        assign_splits(_t(spark, sf_dir, "documents"), "doc_id")
        .groupBy("split")
        .agg(F.count(F.lit(1)).alias("docs"))
        .orderBy("split")
    )


# --------------------------------------------------------------------------
# round-4 registry consolidation. The driver's correctness sweep covers at
# most 50 queries per round; the 74-entry round-3 registry permanently
# shadowed its own newest operators (round-3 verdict "What's wrong" #1).
# Configuration variants and same-table projections are folded below into
# config-tagged unions / wide single-pass frames so EVERY registry entry
# earns a driver-produced correctness row each round. The per-variant
# builders above are unchanged — tests, bench, and library users still
# call them directly. COVERAGE.md maps retired query names -> new homes.
# --------------------------------------------------------------------------


def _tag(df: DataFrame, tag: str) -> DataFrame:
    return df.select(F.lit(tag).alias("config"), "*")


# Deterministic dirt for the web-cleanup evidence: the synthetic corpus is
# clean, so BOTH engines wrap every document in the same HTML/entity/
# mojibake/control/whitespace mess, then clean it — the hash gate compares
# the full cleaned text, exercising every textclean rule on 5k docs. The
# constants are shared with the oracle via _sql_str (control chars become
# chr(n) terms so the SQL literal stays printable).
_DIRT_PREFIX = (
    '<html>\r\n<SCRIPT type="text/javascript">var x = 1 < 2;\n</SCRIPT>'
    "<style>p {color:red}</style>"
    '<p class="a">Tom &amp; Jerry &lt;3 &quot;q&quot; &#39;s&nbsp;day'
    " &amp;lt;keep&amp;gt;</p>\x07"
    "â€œGreatâ€¦ donâ€™t â€“ stop â€” Ã©lanÂ\xa0\x0b  spaced\t\tout"
    '\n\n\n\n\n<a href="/d/'
)
_DIRT_SUFFIX = "</a></html>"


def _sql_str(s: str) -> str:
    """DuckDB string literal for `s`: printable runs single-quoted ('' for
    quotes), control chars as chr(n), joined with ||."""
    parts: list[str] = []
    buf = ""
    for ch in s:
        if ord(ch) < 32 or ord(ch) == 0x7F:
            if buf:
                parts.append("'" + buf.replace("'", "''") + "'")
                buf = ""
            parts.append(f"chr({ord(ch)})")
        else:
            buf += ch
    if buf:
        parts.append("'" + buf.replace("'", "''") + "'")
    return " || ".join(parts) if parts else "''"


def q_doc_transforms_docs(spark, sf_dir):
    # F14 derived columns + F16 token estimate + F15 word-boundary
    # truncation + web-text cleanup (textclean.py) over dirt-injected
    # text: one per-doc projection (formerly three queries)
    from fineweb_legal_spark.operators.textclean import clean_expr
    from fineweb_legal_spark.validation import word_boundary_truncate

    d = _t(spark, sf_dir, "documents")
    dirty = F.concat(
        F.lit(_DIRT_PREFIX),
        F.col("doc_id").cast("string"),
        F.lit('">'),
        F.col("text"),
        F.lit(_DIRT_SUFFIX),
    )
    return word_boundary_truncate(d, "text", limit=120).select(
        "doc_id",
        F.length("text").alias("char_length"),
        F.size(F.split("text", " ")).alias("word_count"),
        F.greatest(F.lit(1), F.floor(F.length("text") / 4))
        .cast("long")
        .alias("tok_est"),
        "truncated",
        clean_expr(dirty).alias("clean_text"),
        (F.length(dirty) - F.length(clean_expr(dirty)))
        .cast("long")
        .alias("clean_removed"),
    )


def q_corpus_totals_docs(spark, sf_dir):
    # A8 exact count-distinct + A13 word/char totals, one aggregate pass
    d = _t(spark, sf_dir, "documents")
    return d.agg(
        F.countDistinct("source").alias("n_sources"),
        F.sum(F.length("text")).alias("total_chars"),
        F.sum(F.size(F.split("text", " "))).cast("long").alias("total_words"),
    )


def q_sample_audit_docs(spark, sf_dir):
    # O5 reproducible sampling, both forms, config-tagged: the compared
    # value is the exact selected doc_id set (the determinism contract)
    h = q_hash_sample_docs(spark, sf_dir).select("doc_id")
    s = q_stratified_sample_docs(spark, sf_dir).select("doc_id")
    return _tag(h, "hash1").unionByName(_tag(s, "strat5"))


# Sweep grid for the splits_and_tiers 'sweep' config: plain-decimal
# values whose Spark double->string cast equals the Python repr, so the
# oracle can inline the literal key without any engine-side formatting.
_SWEEP_THRESHOLDS = [10.0, 25.0, 50.0, 100.0, 250.0]


def q_splits_and_tiers(spark, sf_dir):
    # split-assignment counts (documents) + F7/F8 tier threshold counts
    # (events) as one (config, key, n) frame
    sp = q_split_counts_docs(spark, sf_dir).select(
        F.lit("split").alias("config"),
        F.col("split").alias("key"),
        F.col("docs").alias("n"),
    )
    tiers = q_tier_splits_events(spark, sf_dir).select(
        F.explode(
            F.array(
                *[
                    F.struct(F.lit(c).alias("key"), F.col(c).alias("n"))
                    for c in ("tier_default", "tier_high", "tier_supreme")
                ]
            )
        ).alias("r")
    ).select(F.lit("tier").alias("config"), "r.key", "r.n")
    # deterministic token-budget shard plan (sources/shards.py): per-shard
    # doc counts — shard ids are a pure function of the corpus, so the
    # counts are oracle-exact
    from fineweb_legal_spark.sources.shards import assign_token_shards

    shards = (
        assign_token_shards(_t(spark, sf_dir, "documents"), budget=5000)
        .groupBy("shard_id")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(
            F.lit("shard").alias("config"),
            F.col("shard_id").cast("string").alias("key"),
            F.col("n"),
        )
    )
    # threshold sweep (operators/audit.py): kept-at->=t counts over the
    # events score — one scan + a |T|-row exchange however big the corpus
    from fineweb_legal_spark.operators.audit import threshold_sweep

    sweep = threshold_sweep(
        _t(spark, sf_dir, "events"), "value", _SWEEP_THRESHOLDS
    ).select(
        F.lit("sweep").alias("config"),
        F.col("threshold").cast("string").alias("key"),
        F.col("kept").alias("n"),
    )
    return sp.unionByName(tiers).unionByName(shards).unionByName(sweep)


def q_topk_groups(spark, sf_dir):
    # A7 top-k group counts on two tables (doc sources, web domains incl.
    # C10 host extraction) + the domain-blocklist verdict counts,
    # config-tagged
    from fineweb_legal_spark.operators.domains import (
        domain_blocklist_filter,
        url_host,
    )

    a = q_top_sources_docs(spark, sf_dir).select(
        F.lit("doc_sources").alias("config"),
        F.col("source").alias("key"),
        "docs",
    )
    b = q_domain_topk_web(spark, sf_dir).select(
        F.lit("web_domains").alias("config"),
        F.col("domain").alias("key"),
        "docs",
    )
    # 'blocked_domains': operators/domains.domain_blocklist_filter over
    # the web corpus with a parent-domain blocklist (each entry below a
    # PARENT of real fixture hosts — law.example.org, www.cnn.com,
    # www.abcnews.go.com — so the suffix-chain match, not string
    # equality, is what trips). Per-blocked-host counts + one
    # '__unblocked__' row pinning the negative side.
    bl = spark.createDataFrame(
        arrow_table([("example.org",), ("cnn.com",), ("go.com",)], "domain string")
    )
    wv = domain_blocklist_filter(_webdocs(spark), bl)
    blocked_hosts = (
        wv.filter("blocked")
        .groupBy(url_host(F.col("url")).alias("key"))
        .agg(F.count(F.lit(1)).alias("docs"))
    )
    rest = (
        wv.filter(~F.col("blocked"))
        .agg(F.count(F.lit(1)).alias("docs"))
        .select(F.lit("__unblocked__").alias("key"), "docs")
    )
    c = blocked_hosts.unionByName(rest).select(
        F.lit("blocked_domains").alias("config"), "key", "docs"
    )
    return a.unionByName(b).unionByName(c)


def _text_analysis_wide(spark, sf_dir):
    # language-ID + quality score + fingerprint + token counts in ONE
    # pass: the native projections compute inline, then the Arrow langid
    # UDF passes the scalar columns through (keep_cols) — no join back on
    # doc_id, no second scan of the corpus
    from fineweb_legal_spark.operators.textql import (
        blob_signals,
        doc_shape_signals,
        fineweb_quality_signals,
        fingerprint,
        predict_language,
        quality_score,
        token_counts,
    )

    d = _tw(spark, sf_dir, "documents")
    # blob_signals' base64/hex run fractions ride the same pass (JVM
    # regexp + aggregate HOF); its char_entropy Pandas UDF column is NOT
    # selected, so Catalyst prunes the UDF out of this plan — entropy
    # stays pytest-verified (no pure-SQL restatement exists for it)
    wide = fineweb_quality_signals(
        doc_shape_signals(
            token_counts(quality_score(fingerprint(blob_signals(d))))
        )
    ).select(
        "doc_id",
        "text",
        "quality_score",
        "fingerprint",
        "ws_tokens",
        "bpe_ish_tokens",
        "alpha_word_frac",
        "bullet_line_frac",
        "ellipsis_line_frac",
        "punct_line_frac",
        "short_line_frac",
        "newline_word_frac",
        "base64_frac",
        "hex_frac",
    )
    return predict_language(
        spark,
        wide,
        "doc_id",
        keep_cols=(
            "quality_score",
            "fingerprint",
            "ws_tokens",
            "bpe_ish_tokens",
            "alpha_word_frac",
            "bullet_line_frac",
            "ellipsis_line_frac",
            "punct_line_frac",
            "short_line_frac",
            "newline_word_frac",
            "base64_frac",
            "hex_frac",
        ),
    )


def q_text_analysis_docs(spark, sf_dir):
    # the per-row analysis pass above, plus ONE corpus-global scalar that
    # cannot come from a projection: interpolated Kneser-Ney bigram
    # perplexity under an LM trained on this same corpus
    # (operators/knlm.py — its aggregation+join-back is inherent, unlike
    # the row-local signal columns). Oracle: from-scratch SQL
    # re-derivation of the full KN estimate, not a golden twin.
    from fineweb_legal_spark.operators.knlm import kn_doc_perplexity

    d = _tw(spark, sf_dir, "documents")
    wide = _text_analysis_wide(spark, sf_dir)
    return wide.join(kn_doc_perplexity(d), "doc_id")


def q_json_softmax_events(spark, sf_dir):
    # C14 JSON extraction + D4 softmax score/label: one per-event
    # projection (formerly two scans of events)
    e = _t(spark, sf_dir, "events")
    score, label = _softmax_score_cols()
    return e.select(
        "event_id",
        F.get_json_object("props", "$.k").cast("int").alias("k"),
        score,
        label,
    ).withColumn("is_legal", F.col("score") >= 3.0)


def q_window_events(spark, sf_dir):
    # §2.5 row_number AND lag in ONE window pass (formerly two queries,
    # two scans): per-user first-3 events with their inter-event gap
    e = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    secs = F.unix_timestamp(F.col("ts").cast("timestamp"))
    return (
        e.withColumn("rn", F.row_number().over(w))
        .withColumn("gap_s", secs - F.lag(secs).over(w))
        .filter("rn <= 3")
        .select("user_id", "rn", "event_id", "gap_s")
    )


def q_customer_order_joins(spark, sf_dir):
    # J2 semi-join + J1/J3 anti-join overlap audits, config-tagged, plus
    # 'bloom_anti': the SAME anti-join routed through the Bloom semi-join
    # reduction (operators/bloom.py bloom_filtered_antijoin — rows the
    # filter rules out bypass the join exchange; only might-contain
    # survivors shuffle). No false negatives => exact, so the plain
    # NOT IN oracle restates it verbatim — the driver row pins the
    # exactness claim the pytest parity test makes.
    from fineweb_legal_spark.operators.bloom import bloom_filtered_antijoin

    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    ba = bloom_filtered_antijoin(
        c.select(F.col("c_custkey").alias("key")),
        o.select(F.col("o_custkey").alias("key")),
        "key",
        fpp=0.01,
    ).select(F.col("key").alias("c_custkey"))
    return (
        _tag(q_semi_join_customers(spark, sf_dir), "semi")
        .unionByName(_tag(q_anti_join_customers(spark, sf_dir), "anti"))
        .unionByName(_tag(ba, "bloom_anti"))
    )


def q_neardup_pairs(spark, sf_dir):
    # the near-duplicate PAIR family in one tagged frame: MinHash-LSH and
    # SimHash banding over t1 turns, the exact-Jaccard O(n^2) validation
    # baseline over documents, and conversation prefix dedup over t1
    # (operators/prefixdedup.py — ordered-turn-sequence dedup, the
    # transcript axis's own pair family member). 'score' is verified
    # Jaccard for the jaccard paths, Hamming distance for simhash, and
    # matched prefix length for prefix_t1.
    from fineweb_legal_spark.operators.prefixdedup import prefix_dedup_pairs

    mh = _t1_minhash_pairs(spark).select(
        "id_a", "id_b", F.col("jaccard").alias("score")
    )
    sh = q_simhash_neardup_t1(spark, sf_dir).select(
        "id_a", "id_b", F.col("hamming").cast("double").alias("score")
    )
    jc = q_jaccard_exact_docs(spark, sf_dir).select(
        "id_a", "id_b", F.col("jaccard").alias("score")
    )
    pf = prefix_dedup_pairs(
        spark.read.parquet(str(ensure_transcripts("t1")))
    ).select(
        F.col("loser").alias("id_a"),
        F.col("winner").alias("id_b"),
        F.col("matched_turns").cast("double").alias("score"),
    )
    return (
        _tag(mh, "minhash_t1")
        .unionByName(_tag(sh, "simhash_t1"))
        .unionByName(_tag(jc, "jaccard_docs"))
        .unionByName(_tag(pf, "prefix_t1"))
    )


def q_prefix_dedup_t1(spark, sf_dir):
    # standalone prefix-dedup pair view (not a registry entry — the
    # registry sees it as neardup_pairs config 'prefix_t1'); kept for the
    # plan audit and library users
    from fineweb_legal_spark.operators.prefixdedup import prefix_dedup_pairs

    return prefix_dedup_pairs(spark.read.parquet(str(ensure_transcripts("t1"))))


def q_set_ops_docs(spark, sf_dir):
    # U1/U2 harmonized union + U4 intersect overlap audit + the corpus
    # release diff in one tagged frame: 'key' is the doc_id for the
    # union/diff branches and the normalized text hash for the intersect
    # branch; for 'diff', source carries the per-document status.
    from fineweb_legal_spark.operators.diff import corpus_diff

    u = q_union_by_name_docs(spark, sf_dir).select(
        F.col("doc_id").cast("string").alias("key"), "source", "lang"
    )
    i = q_intersect_hashes_docs(spark, sf_dir).select(
        F.col("text_hash").alias("key"),
        F.lit(None).cast("string").alias("source"),
        F.lit(None).cast("string").alias("lang"),
    )
    # 'diff': operators/diff.corpus_diff between documents and a
    # deterministically perturbed v2 (every 97th id removed, every 89th
    # survivor's text suffixed, every 101st re-added under a shifted id)
    # — all four statuses materialize. NULL-text 89th rows stay
    # 'unchanged' in BOTH engines (concat with NULL is NULL, digested by
    # the same sentinel).
    d = _t(spark, sf_dir, "documents")
    v2 = (
        d.filter((F.col("doc_id") % 97) != 0)
        .withColumn(
            "text",
            F.when(
                F.col("doc_id") % 89 == 0,
                F.concat(F.col("text"), F.lit(" [v2]")),
            ).otherwise(F.col("text")),
        )
        .unionByName(
            d.filter(F.col("doc_id") % 101 == 0).withColumn(
                "doc_id", F.col("doc_id") + F.lit(10_000_000)
            )
        )
    )
    dv = corpus_diff(d, v2, key_col="doc_id", text_col="text").select(
        F.col("doc_id").cast("string").alias("key"),
        F.col("status").alias("source"),
        F.lit(None).cast("string").alias("lang"),
    )
    return (
        _tag(u, "union")
        .unionByName(_tag(i, "intersect"))
        .unionByName(_tag(dv, "diff"))
    )


def q_transcript_repairs_t2(spark, sf_dir):
    # SFT-preprocessing repairs over t2 transcripts, config-tagged
    # (operators/repairs.py): 'coerce' merges consecutive same-role turn
    # runs (idx = dense new index, n = turns merged); 'truncate' keeps the
    # longest turn prefix within a 200-estimated-token budget (idx = the
    # original turn_idx, n = the running token total). Both pure JVM
    # window/aggregate plans over the conv_id partitioning.
    from fineweb_legal_spark.operators.preference import preference_pairs
    from fineweb_legal_spark.operators.pseudonymize import pseudonymize_pii
    from fineweb_legal_spark.operators.repairs import (
        coerce_roles,
        drop_retry_duplicates,
        repair_protocol,
        split_episodes,
        truncate_conversation_tokens,
    )
    from fineweb_legal_spark.operators.sft import sft_pairs

    from fineweb_legal_spark.operators.parallel import (
        repartition_for_group_kernel,
    )

    # ONE conv_id hash exchange shared by every branch: all eight configs
    # window/group on conv_id, so a single width-pinned hash repartition
    # of the scan satisfies each window's clustering requirement and
    # ReuseExchange collapses the per-branch exchanges (the plan carried
    # 7 separate conv_id shuffles + 18 scans of the same 360k-row frame).
    # Replaces _widen here: the hash exchange provides the same
    # parallelism spread for the single-file fixture scan.
    t = repartition_for_group_kernel(
        spark.read.parquet(str(ensure_transcripts("t2"))), "conv_id"
    )
    co = coerce_roles(t).select(
        "conv_id",
        F.col("new_idx").alias("idx"),
        "role",
        "text",
        F.col("n_merged").cast("long").alias("n"),
    )
    tr = truncate_conversation_tokens(t, budget=200).select(
        "conv_id",
        F.col("turn_idx").alias("idx"),
        "role",
        "text",
        F.col("cum_tok").alias("n"),
    )
    pr = repair_protocol(t).select(
        "conv_id",
        F.col("new_idx").alias("idx"),
        "role",
        "text",
        F.col("orig_idx").cast("long").alias("n"),
    )
    # 'pseudo': stable per-conversation indexed PII placeholders
    # (operators/pseudonymize.py); oracle = golden built by the
    # single-node twin in tools/build_golden_misc.py
    ps = pseudonymize_pii(t).select(
        "conv_id",
        F.col("turn_idx").alias("idx"),
        "role",
        "text",
        F.col("n_pseudo").alias("n"),
    )
    # 'retry': drop_retry_duplicates over t2 with deterministically
    # injected retries (every turn_idx%7==3 turn re-committed at the next
    # doubled index — the synthetic corpus has few natural consecutive
    # identical (role, text) runs, so the injection makes the kept/dropped
    # decision carry real signal). idx = the dense renumber, n = the
    # surviving row's pre-renumber index.
    doubled = t.select(
        "conv_id",
        (F.col("turn_idx") * 2).cast("int").alias("turn_idx"),
        "role",
        "text",
    )
    injected = t.filter(F.col("turn_idx") % 7 == 3).select(
        "conv_id",
        (F.col("turn_idx") * 2 + 1).cast("int").alias("turn_idx"),
        "role",
        "text",
    )
    rt = drop_retry_duplicates(
        doubled.unionByName(injected).withColumn("orig", F.col("turn_idx")),
        renumber=True,
    ).select(
        "conv_id",
        F.col("turn_idx").alias("idx"),
        "role",
        "text",
        F.col("orig").cast("long").alias("n"),
    )
    # 'episodes': split_episodes over t2 with ts deterministically
    # reshaped (quadratic per-turn offset mod 7200 s; every turn_idx%5==2
    # ts nulled) so the gap rule trips both ways AND the NULL-ts
    # inherit-the-episode contract is exercised — the raw fixture's flat
    # 60 s cadence would label every turn episode 0. n = episode_idx.
    ep_off = (
        F.col("turn_idx").cast("long") * F.col("turn_idx") * 977
    ) % 7200
    ts2 = F.when(
        F.col("turn_idx") % 5 != 2,
        F.timestamp_add("SECOND", ep_off, F.col("ts")),
    )
    ep = split_episodes(t.withColumn("ts", ts2), gap_s=900).select(
        "conv_id",
        F.col("turn_idx").alias("idx"),
        "role",
        "text",
        F.col("episode_idx").cast("long").alias("n"),
    )
    # 'sft': sft_pairs context assembly (operators/sft.py) — one row per
    # assistant turn, text = the k-lag context window (oldest first),
    # n = how many context turns were present.
    sf = sft_pairs(t, context_turns=8).select(
        "conv_id",
        F.col("turn_idx").alias("idx"),
        F.lit("assistant").alias("role"),
        F.col("context").alias("text"),
        F.col("n_context").cast("long").alias("n"),
    )
    # 'pref': preference_pairs best_vs_rest (operators/preference.py)
    # over deterministic candidates (assistant turns of a conversation,
    # score = char length): one row per (chosen, rejected) pair — idx =
    # the rejected turn, text = the CHOSEN text, n = the chosen turn.
    cand = t.filter(F.col("role") == "assistant").select(
        F.col("conv_id").alias("group_key"),
        F.col("turn_idx").alias("cand_id"),
        "text",
        F.length("text").cast("double").alias("score"),
    )
    pp = preference_pairs(
        cand,
        group_col="group_key",
        id_col="cand_id",
        text_col="text",
        score_col="score",
        mode="best_vs_rest",
    ).select(
        F.col("group_key").alias("conv_id"),
        F.col("rejected_id").alias("idx"),
        F.lit("pair").alias("role"),
        F.col("chosen").alias("text"),
        F.col("chosen_id").cast("long").alias("n"),
    )
    return (
        _tag(co, "coerce")
        .unionByName(_tag(tr, "truncate"))
        .unionByName(_tag(pr, "protocol"))
        .unionByName(_tag(ps, "pseudo"))
        .unionByName(_tag(rt, "retry"))
        .unionByName(_tag(ep, "episodes"))
        .unionByName(_tag(sf, "sft"))
        .unionByName(_tag(pp, "pref"))
    )


def q_dedup_clusters_rollup_t1(spark, sf_dir):
    # connected-component labels rolled up per cluster: member count, docs
    # removed by canonical-keeper dedup, an order-insensitive membership
    # digest, and the QUALITY-AWARE keeper (operators/cluster.py
    # cluster_representatives: argmax estimated tokens, id-max ties) —
    # cluster ASSIGNMENT and the dedup REPORT in one frame. collect_list
    # is bounded by cluster size (near-dup clusters, not the corpus).
    cc = _t1_cc(spark)
    tok = _t1_turns(spark).select(
        "id",
        F.greatest(F.lit(1), F.floor(F.length("text") / 4))
        .cast("long")
        .alias("tok"),
    )
    return (
        cc.join(tok, "id")
        .groupBy("cluster_id")
        .agg(
            F.count(F.lit(1)).alias("n_members"),
            (F.count(F.lit(1)) - F.lit(1)).alias("n_removed"),
            F.md5(F.concat_ws(",", F.sort_array(F.collect_list("id")))).alias(
                "members_md5"
            ),
            F.max(F.struct("tok", "id")).alias("_best"),
        )
        .select(
            "cluster_id",
            "n_members",
            "n_removed",
            "members_md5",
            F.col("_best.id").alias("keep_id"),
        )
    )


def q_media_audit(spark, sf_dir):
    # multimodal audit, one row per media item: typed metadata + payload
    # embedding CSV + per-video sampled-frame stats (formerly three
    # queries). Frame means compare as exact integers (x1e4), the repo's
    # integer-cents convention for cross-engine float sums.
    from fineweb_legal_spark.datasets import ensure_media
    from fineweb_legal_spark.operators.multimodal import (
        fake_embedding,
        media_meta,
        sample_frames,
    )

    m = spark.read.parquet(str(ensure_media("t1")))
    meta = media_meta(m)
    emb = fake_embedding(m, dim=16).select(
        "media_id",
        F.concat_ws(
            ",", F.transform("embedding", lambda x: F.format_string("%.6f", x))
        ).alias("emb_csv"),
    )
    frames = (
        sample_frames(m, every_n=2)
        .groupBy("media_id")
        .agg(
            F.count(F.lit(1)).alias("n_frames_sampled"),
            F.sum("frame_bytes").alias("frames_bytes"),
            F.sum(F.round(F.col("frame_mean") * 10000).cast("long")).alias(
                "frame_mean_e4"
            ),
        )
    )
    return (
        meta.join(emb, "media_id")
        .join(frames, "media_id", "left")
        .withColumn(
            "n_frames_sampled",
            F.coalesce("n_frames_sampled", F.lit(0).cast("long")),
        )
        .withColumn(
            "frames_bytes", F.coalesce("frames_bytes", F.lit(0).cast("long"))
        )
        .withColumn(
            "frame_mean_e4", F.coalesce("frame_mean_e4", F.lit(0).cast("long"))
        )
    )


def q_scrub_repeated_spans_docs(spark, sf_dir):
    # exact-substring dedup (Lee et al. 2022): any 8-word gram occurring
    # in >= 2 distinct documents is masked out of every document's
    # normalized token stream (operators/spandedup.py) — the dedup family
    # member that removes repeated SPANS instead of whole documents
    from fineweb_legal_spark.operators.spandedup import scrub_repeated_spans

    return scrub_repeated_spans(
        _tw(spark, sf_dir, "documents"), n=8, min_docs=2
    )


def q_validate_t2_all(spark, sf_dir):
    # verdict-quality checks + transcript protocol checks + agent-stats
    # and conversation-roll-up audits, config-tagged on the harmonized
    # (check, ok, n, v) shape (v: the check's continuous statistic —
    # NULL for the boolean-only configs)
    from fineweb_legal_spark.operators.agentstats import (
        lang_consistency,
        tool_usage_stats,
    )
    from fineweb_legal_spark.operators.convfilter import (
        conversation_verdicts,
    )

    nov = F.lit(None).cast("double").alias("v")
    v = q_validate_t2(spark, sf_dir).select("check", "ok", "n", nov)
    s = q_validate_structure_t2(spark, sf_dir).select(
        "check",
        (F.col("violations") == 0).alias("ok"),
        F.col("violations").alias("n"),
        nov,
    )
    # 'tools' / 'tool_latency': operators/agentstats.tool_usage_stats
    # over t2 — per-tool call/conversation counts, error fraction (ok =
    # error_frac <= 0.5), and request->tool-turn latency
    ts = tool_usage_stats(
        spark.read.parquet(str(ensure_transcripts("t2")))
    )
    tools = ts.select(
        F.col("tool").alias("check"),
        (F.coalesce("error_frac", F.lit(0.0)) <= 0.5).alias("ok"),
        F.col("calls").alias("n"),
        F.col("error_frac").alias("v"),
    )
    tool_lat = ts.select(
        F.col("tool").alias("check"),
        F.col("mean_latency_s").isNotNull().alias("ok"),
        F.col("conversations").alias("n"),
        F.col("mean_latency_s").alias("v"),
    )
    # 'convroll': operators/convfilter.conversation_verdicts over the
    # pipeline verdicts — the conversation-level keep/drop roll-up
    # (ok = conv_keep at min_keep_frac=0.5, v = keep_frac)
    cr = conversation_verdicts(_t2_verdicts(spark), min_keep_frac=0.5).select(
        F.col("conv_id").alias("check"),
        F.col("conv_keep").alias("ok"),
        F.col("kept_turns").alias("n"),
        F.col("keep_frac").alias("v"),
    )
    # 'langcons': operators/agentstats.lang_consistency over the same
    # verdicts — majority language rides the check key, ok = monolingual
    lc = lang_consistency(_t2_verdicts(spark)).select(
        F.concat_ws(":", "conv_id", "majority_lang").alias("check"),
        (F.col("n_langs") == 1).alias("ok"),
        F.col("lang_turns").alias("n"),
        F.col("majority_frac").alias("v"),
    )
    return (
        _tag(v, "verdicts")
        .unionByName(_tag(s, "structure"))
        .unionByName(_tag(tools, "tools"))
        .unionByName(_tag(tool_lat, "tool_latency"))
        .unionByName(_tag(cr, "convroll"))
        .unionByName(_tag(lc, "langcons"))
    )


def q_lsh_ann_union(spark, sf_dir):
    # LSH ANN at both quantizer configurations + multi-probe (the recall
    # lever), config-tagged — one driver row proves all three
    return (
        _tag(q_lsh_ann_topk(spark, sf_dir), "p6")
        .unionByName(_tag(q_lsh_ann_topk_p8(spark, sf_dir), "p8"))
        .unionByName(_tag(q_lsh_ann_topk_mp(spark, sf_dir), "p8_mp3"))
    )


def q_ivf_ann_union(spark, sf_dir):
    # IVF ANN at both cell counts + the k-means-trained quantizer
    return (
        _tag(q_ivf_ann_topk(spark, sf_dir), "c16")
        .unionByName(_tag(q_ivf_ann_topk_c64(spark, sf_dir), "c64"))
        .unionByName(_tag(q_ivf_ann_topk_trained(spark, sf_dir), "trained_c16"))
    )


def q_embedding_neardup_union(spark, sf_dir):
    # embedding-cosine near-dup pairs at both plane counts
    return _tag(q_embedding_neardup(spark, sf_dir), "p6").unionByName(
        _tag(q_embedding_neardup_p8(spark, sf_dir), "p8")
    )


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """Registry == the driver's sweep set (50 entries, exactly the 50-query
    sweep budget, so every entry earns a driver correctness row each
    round; a pytest pins len(queries()) <= 50). Order: (1) the flagship pipeline group — the expensive shared
    t2 verdict cache its siblings (incl. validate_t2) then reuse at ~1 s
    each; (2) the web pair (shared webdocs); (3) the families the old
    budget-ordered registry never surfaced to the driver in rounds 1-3,
    FIRST, so if a budget cut ever returns it trims the freshest evidence
    instead of the stalest; (4) the cheap singles."""
    return {
        # flagship pipeline (shared session cache)
        "pipeline_verdicts": q_pipeline_verdicts,
        "pipeline_stage_metrics": q_pipeline_stage_metrics,
        "pipeline_ppl_histogram": q_pipeline_ppl_histogram,
        "pipeline_kept_text": q_pipeline_kept_text,
        "pipeline_scrub_counts": q_pipeline_scrub_counts,
        "validate_t2": q_validate_t2_all,
        # web filter (shared t2 webdocs + golden)
        "web_filter_verdicts": q_web_filter_verdicts,
        "web_stage_counts": q_web_stage_counts,
        # families never driver-swept in rounds 1-3: freshest-first
        "text_analysis_docs": q_text_analysis_docs,
        "media_audit": q_media_audit,
        "pack_conversations_t1": q_pack_conversations_t1,
        "line_hygiene_t1": q_line_hygiene_t1,
        "neardup_pairs": q_neardup_pairs,
        "dedup_clusters_t1": q_dedup_clusters_rollup_t1,
        "mixture_sample_docs": q_mixture_sample_docs,
        "tfidf_top_terms_docs": q_tfidf_top_terms_docs,
        "repetition_signals_docs": q_repetition_signals_docs,
        "semantic_dedup_embs": q_semantic_dedup_embs,
        "decontaminate_docs": q_decontaminate_docs,
        "scrub_repeated_spans_docs": q_scrub_repeated_spans_docs,
        # embedding/ANN family (shared plane/centroid/codebook exports)
        "ivf_ann_topk": q_ivf_ann_union,
        "pq_ann_topk": q_pq_ann_topk,
        "lsh_ann_topk": q_lsh_ann_union,
        "embedding_neardup": q_embedding_neardup_union,
        "embedding_topk_cosine": q_embedding_topk_cosine,
        # documents
        "length_filter_docs": q_length_filter_docs,
        "doc_transforms_docs": q_doc_transforms_docs,
        "dedup_exact_docs": q_dedup_exact_docs,
        "topk_groups": q_topk_groups,
        "corpus_totals_docs": q_corpus_totals_docs,
        "sample_audit_docs": q_sample_audit_docs,
        "splits_and_tiers": q_splits_and_tiers,
        "set_ops_docs": q_set_ops_docs,
        # transcripts
        "transcript_repairs_t2": q_transcript_repairs_t2,
        # events
        "value_stats_events": q_value_stats_events,
        "class_weights_events": q_class_weights_events,
        "dup_user_events": q_dup_user_events,
        "json_softmax_events": q_json_softmax_events,
        "window_events": q_window_events,
        "sessionize_events": q_sessionize_events,
        "hourly_event_counts": q_hourly_event_counts,
        "rollup_event_user": q_rollup_event_user,
        "pivot_event_type_counts": q_pivot_event_type_counts,
        "asof_last_click_events": q_asof_last_click_events,
        "range_join_bands_events": q_range_join_bands_events,
        "tier_stats_events": q_tier_stats_events,
        # TPC-shaped
        "customer_order_joins": q_customer_order_joins,
        "top_k_orders": q_top_k_orders,
        "sum_avg_lineitem": q_sum_avg_lineitem,
        "revenue_by_nation": q_revenue_by_nation,
    }


def _mixture_oracle_sql() -> str:
    # thresholds inlined as literals: the rate -> 8-hex-digit mapping is
    # part of the query's spec (data), recomputed here once
    from fineweb_legal_spark.operators.mixture import rate_threshold_hex

    vals = ", ".join(
        f"('{s}', '{rate_threshold_hex(r)}')"
        for s, r in sorted(_MIXTURE_RATES.items())
    )
    dflt = rate_threshold_hex(_MIXTURE_DEFAULT)
    return f"""
        WITH thr(source, t) AS (VALUES {vals}),
        kept AS (
          SELECT d.source, d.doc_id
          FROM documents d LEFT JOIN thr ON thr.source = d.source
          WHERE substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 8)
                < coalesce(thr.t, '{dflt}')
        ),
        c AS (
          -- NULL sources carry no mixture membership (excluded from the
          -- rate derivation; the inner join below drops their rows)
          SELECT source, CAST(count(*) AS BIGINT) AS c
          FROM documents WHERE source IS NOT NULL GROUP BY source
        ),
        r AS (
          SELECT source,
                 round(power(CAST((SELECT min(c) FROM c) AS DOUBLE) / c,
                             0.5), 4) AS rate
          FROM c
        ),
        athr AS (
          SELECT source,
                 CASE WHEN rate >= 1 THEN 'g'
                      ELSE printf('%08x',
                           CAST(floor(rate * 4294967296) AS BIGINT))
                 END AS t
          FROM r
        ),
        akept AS (
          SELECT d.source, d.doc_id
          FROM documents d JOIN athr USING (source)
          WHERE substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 8) < athr.t
        )
        SELECT 'fixed' AS config, source, count(*) AS kept,
               CAST(sum(doc_id) AS BIGINT) AS doc_id_sum
        FROM kept GROUP BY source
        UNION ALL
        SELECT 'alpha05' AS config, source, count(*) AS kept,
               CAST(sum(doc_id) AS BIGINT) AS doc_id_sum
        FROM akept GROUP BY source
        UNION ALL
        SELECT 'dsir' AS config, source, count(*) AS kept,
               CAST(sum(doc_id) AS BIGINT) AS doc_id_sum
        FROM read_parquet('{DATA_DIR}/golden/sf0.01/dsir_selected.parquet')
        GROUP BY source
    """


def _oracle_base() -> dict[str, str]:
    """Per-variant oracle SQL — the building blocks oracle_sql() composes
    into the consolidated registry's entries (and the local verification
    surface for the per-variant builders)."""
    golden = _golden_sql_path()
    # make sure web golden exists too (used by tests; harmless here)
    ensure_web_golden("t2")
    return {
        "pipeline_verdicts": f"""
            SELECT conv_id, turn_idx, keep, reject_reason, scrubbed_text,
                   lang, ppl_bucket
            FROM read_parquet('{golden}')
        """,
        "pipeline_stage_metrics": f"""
            SELECT coalesce(reject_reason, 'kept') AS stage,
                   count(*) AS turns
            FROM read_parquet('{golden}')
            GROUP BY 1 ORDER BY 1
        """,
        "pipeline_ppl_histogram": f"""
            SELECT ppl_bucket, count(*) AS turns
            FROM read_parquet('{golden}')
            WHERE ppl_bucket IS NOT NULL
            GROUP BY 1 ORDER BY 1
        """,
        "pipeline_kept_text": f"""
            SELECT conv_id, turn_idx, scrubbed_text
            FROM read_parquet('{golden}') WHERE keep
        """,
        "web_filter_verdicts": _web_filter_oracle_sql(),
        "web_stage_counts": f"""
            SELECT stage, docs FROM (
                WITH v AS ({_web_filter_oracle_sql()})
                SELECT {", ".join(
                    f'''count(*) FILTER (WHERE coalesce(reject_reason,
                        'passed') = '{s}') AS "{s}"'''
                    for s in ("boilerplate", "citation", "keywords",
                              "length", "news_url", "passed")
                )}
                FROM v
            ) UNPIVOT (docs FOR stage IN (COLUMNS(*)))
            UNION ALL
            {_web_overlap_oracle_sql()}
        """,
        "length_filter_docs": """
            SELECT doc_id FROM documents
            WHERE length(text) BETWEEN 100 AND 400
        """,
        "derived_columns_docs": """
            SELECT doc_id, length(text) AS char_length,
                   array_length(string_split(text, ' ')) AS word_count
            FROM documents
        """,
        "token_estimate_docs": """
            SELECT doc_id,
                   greatest(1, CAST(floor(length(text) / 4) AS BIGINT)) AS tok_est
            FROM documents
        """,
        "dedup_exact_docs": """
            SELECT md5(lower(trim(text))) AS text_hash, min(doc_id) AS doc_id
            FROM documents GROUP BY 1
        """,
        "top_sources_docs": """
            SELECT source, count(*) AS docs FROM documents
            GROUP BY source ORDER BY docs DESC, source ASC LIMIT 10
        """,
        "distinct_sources_docs": """
            SELECT count(DISTINCT source) AS n_sources FROM documents
        """,
        "word_char_totals_docs": """
            SELECT CAST(sum(length(text)) AS BIGINT) AS total_chars,
                   CAST(sum(array_length(string_split(text, ' '))) AS BIGINT)
                       AS total_words
            FROM documents
        """,
        "class_weights_events": """
            WITH c AS (SELECT event_type, count(*) AS n FROM events GROUP BY 1),
                 t AS (SELECT count(*) AS total FROM events),
                 k AS (SELECT count(*) AS k FROM c)
            SELECT c.event_type,
                   round(CAST(t.total AS DOUBLE) / (k.k * c.n), 6) AS weight
            FROM c, t, k ORDER BY c.event_type
        """,
        "dup_user_events": """
            SELECT user_id, count(*) AS n FROM events
            GROUP BY user_id HAVING count(*) > 1 ORDER BY user_id
        """,
        "json_extract_events": """
            SELECT event_id, CAST(props->>'$.k' AS INTEGER) AS k FROM events
        """,
        "semi_join_customers": """
            SELECT c_custkey FROM customer
            WHERE c_custkey IN (SELECT o_custkey FROM orders)
        """,
        "anti_join_customers": """
            SELECT c_custkey FROM customer
            WHERE c_custkey NOT IN (SELECT o_custkey FROM orders)
        """,
        "union_by_name_docs": """
            SELECT doc_id, source, NULL AS lang FROM documents WHERE doc_id % 2 = 0
            UNION ALL
            SELECT doc_id, source, lang FROM documents WHERE doc_id % 2 = 1
        """,
        "intersect_hashes_docs": """
            SELECT md5(lower(trim(text))) AS text_hash FROM documents WHERE doc_id % 2 = 0
            INTERSECT
            SELECT md5(lower(trim(text))) AS text_hash FROM documents WHERE doc_id % 2 = 1
        """,
        "top_k_orders": """
            SELECT o_orderkey, round(o_totalprice, 2) AS o_totalprice FROM orders
            ORDER BY o_totalprice DESC, o_orderkey ASC LIMIT 10
        """,
        "sum_avg_lineitem": """
            SELECT l_returnflag, l_linestatus,
                   round(sum(l_quantity), 2) AS sum_qty,
                   round(sum(l_extendedprice), 2) AS sum_base_price,
                   round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
                   round(avg(l_quantity), 6) AS avg_qty,
                   count(*) AS count_order
            FROM lineitem
            GROUP BY l_returnflag, l_linestatus
            ORDER BY l_returnflag, l_linestatus
        """,
        "tier_splits_events": """
            SELECT CAST(sum(CASE WHEN value >= 50.0 THEN 1 ELSE 0 END) AS BIGINT) AS tier_default,
                   CAST(sum(CASE WHEN value >= 100.0 THEN 1 ELSE 0 END) AS BIGINT) AS tier_high,
                   CAST(sum(CASE WHEN value >= 150.0 THEN 1 ELSE 0 END) AS BIGINT) AS tier_supreme
            FROM events
        """,
        "embedding_topk_cosine": """
            WITH q AS (SELECT embedding AS e FROM embeddings WHERE vec_id = 0)
            SELECT v.vec_id,
                   round(list_cosine_similarity(v.embedding, q.e), 4) AS cos_sim
            FROM embeddings v, q
            WHERE v.vec_id <> 0
            ORDER BY cos_sim DESC, v.vec_id ASC LIMIT 10
        """,
        "revenue_by_nation": """
            SELECT n_name,
                   CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT))
                        AS BIGINT) AS revenue_cents,
                   count(*) AS orders
            FROM orders
            JOIN customer ON o_custkey = c_custkey
            JOIN nation ON c_nationkey = n_nationkey
            GROUP BY n_name ORDER BY n_name
        """,
        "domain_topk_web": f"""
            -- mirror parse_url(HOST): scheme case-insensitive, userinfo
            -- (user@) stripped, so new fixtures with such URLs cannot
            -- silently diverge from Spark
            SELECT regexp_extract(url,
                       '^[a-zA-Z][a-zA-Z0-9+.-]*://(?:[^/?#@]*@)?([^/:?#]+)',
                       1) AS domain,
                   count(*) AS docs
            FROM read_parquet('{_webdocs_sql_path()}')
            GROUP BY 1
            ORDER BY docs DESC, domain ASC NULLS FIRST LIMIT 20
        """,
        "softmax_score_events": f"""
            WITH b AS (SELECT event_id, value / 40.0 AS x FROM events),
            s AS (
              SELECT event_id, x,
                     ({_softmax_sql_num()}) / ({_softmax_sql_den()}) AS raw
              FROM b
            )
            SELECT event_id, round(raw, 4) AS score,
                   least(5, greatest(0, CAST(floor(x + 0.5) AS INTEGER))) AS label,
                   round(raw, 4) >= 3.0 AS is_legal
            FROM s
        """,
        "tier_stats_events": f"""
            WITH b AS (SELECT value / 40.0 AS x FROM events),
            s AS (
              SELECT round(({_softmax_sql_num()}) / ({_softmax_sql_den()}), 4)
                         AS score
              FROM b
            )
            SELECT CASE WHEN score >= 4.8 THEN 'supreme'
                        WHEN score >= 4.0 THEN 'high_quality'
                        WHEN score >= 3.0 THEN 'default'
                        ELSE 'below_threshold' END AS tier,
                   count(*) AS docs,
                   round(min(score), 4) AS min_score,
                   round(avg(score), 4) AS avg_score
            FROM s GROUP BY 1 ORDER BY 1
        """,
        # --- training-data ops (goldens built by independent single-node
        # twins; see tools/build_golden_neardup.py / build_golden_misc.py;
        # goldens for sf-dir tables are pinned to the driver's sf0.01) ---
        "minhash_neardup_t1": f"""
            SELECT id_a, id_b, jaccard
            FROM read_parquet('{DATA_DIR}/golden/t1/neardup_minhash.parquet')
        """,
        # transitive closure over the brute-force golden pair list —
        # independent of the Spark label-propagation implementation
        "dedup_clusters_t1": f"""
            WITH RECURSIVE pairs AS (
              SELECT id_a, id_b
              FROM read_parquet('{DATA_DIR}/golden/t1/neardup_minhash.parquet')
            ), edges AS (
              SELECT id_a AS src, id_b AS dst FROM pairs
              UNION
              SELECT id_b, id_a FROM pairs
            ), reach(id, lbl) AS (
              SELECT src, src FROM edges
              UNION
              SELECT e.src, r.lbl FROM edges e JOIN reach r ON e.dst = r.id
            )
            SELECT id, MIN(lbl) AS cluster_id FROM reach GROUP BY id
        """,
        "hourly_event_counts": """
            SELECT CAST(floor(epoch(date_trunc('hour', ts))) AS BIGINT)
                     AS hour_s,
                   COUNT(*) AS n_events,
                   CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
                     AS sum_cents
            FROM events GROUP BY 1
        """,
        "rollup_event_user": """
            SELECT event_type,
                   CAST(user_id % 10 AS BIGINT) AS user_bucket,
                   COUNT(*) AS n_events,
                   CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
                     AS sum_cents
            FROM events
            GROUP BY ROLLUP(event_type, (CAST(user_id % 10 AS BIGINT)))
        """,
        "pivot_event_type_counts": """
            SELECT CAST(user_id % 10 AS BIGINT) AS user_bucket,
                   COUNT(*) FILTER (event_type = 'click') AS click,
                   COUNT(*) FILTER (event_type = 'error') AS error,
                   COUNT(*) FILTER (event_type = 'purchase') AS purchase,
                   COUNT(*) FILTER (event_type = 'signup') AS signup,
                   COUNT(*) FILTER (event_type = 'view') AS view
            FROM events GROUP BY 1
        """,
        "asof_last_click_events": """
            SELECT l.event_id, l.user_id,
                   CAST(floor(epoch(l.ts)) AS BIGINT) AS view_s,
                   CAST(floor(epoch(r.ts)) AS BIGINT) AS click_s
            FROM (SELECT * FROM events WHERE event_type = 'view') l
            ASOF LEFT JOIN
                 (SELECT * FROM events WHERE event_type = 'click') r
              ON l.user_id = r.user_id AND l.ts >= r.ts
        """,
        "range_join_bands_events": """
            SELECT e.event_id, b.band, round(e.value, 2) AS value
            FROM events e
            JOIN (VALUES ('low', 0.0, 100.0),
                         ('mid', 50.0, 200.0),
                         ('high', 150.0, 500.0)) b(band, lo, hi)
              ON e.value >= b.lo AND e.value < b.hi
        """,
        # greedy packing recurrence re-implemented independently: the
        # recursive CTE carries (running total, chunk index) across
        # row_number order, per conversation
        "pack_conversations_t1": f"""
            WITH RECURSIVE t AS (
              SELECT conv_id, CAST(turn_idx AS INTEGER) AS turn_idx,
                     CAST(greatest(1, floor(length(coalesce(text, '')) / 4))
                          AS BIGINT) AS w,
                     CAST(row_number() OVER (PARTITION BY conv_id
                                             ORDER BY turn_idx)
                          AS INTEGER) AS rn
              FROM read_parquet('{ensure_transcripts("t1")}')
            ), r AS (
              SELECT conv_id, turn_idx, rn, w, w AS acc, 0 AS chunk
              FROM t WHERE rn = 1
              UNION ALL
              SELECT t.conv_id, t.turn_idx, t.rn, t.w,
                     CASE WHEN r.acc + t.w > 512 THEN t.w
                          ELSE r.acc + t.w END,
                     r.chunk + CASE WHEN r.acc + t.w > 512 THEN 1 ELSE 0 END
              FROM t JOIN r ON t.conv_id = r.conv_id AND t.rn = r.rn + 1
            )
            SELECT conv_id, CAST(chunk AS INTEGER) AS chunk_idx,
                   COUNT(*) AS n_turns, CAST(SUM(w) AS BIGINT) AS tokens,
                   MIN(turn_idx) AS first_turn, MAX(turn_idx) AS last_turn
            FROM r GROUP BY 1, 2
        """,
        "sessionize_events": """
            WITH t AS (
              SELECT user_id, event_id, ts,
                     CAST(floor(epoch(ts)) AS BIGINT) AS s,
                     LAG(CAST(floor(epoch(ts)) AS BIGINT)) OVER
                       (PARTITION BY user_id ORDER BY ts, event_id) AS prev_s
              FROM events
            ), m AS (
              SELECT user_id, event_id, ts, s,
                     CASE WHEN prev_s IS NULL OR s - prev_s > 1800
                          THEN 1 ELSE 0 END AS is_new
              FROM t
            ), x AS (
              SELECT user_id, s,
                     CAST(SUM(is_new) OVER (PARTITION BY user_id
                                            ORDER BY ts, event_id
                                            ROWS UNBOUNDED PRECEDING)
                          AS BIGINT) AS sess_idx
              FROM m
            )
            SELECT user_id, sess_idx, COUNT(*) AS n_events,
                   MIN(s) AS session_start_s, MAX(s) AS session_end_s,
                   MAX(s) - MIN(s) AS duration_s
            FROM x GROUP BY user_id, sess_idx
        """,
        "simhash_neardup_t1": f"""
            SELECT id_a, id_b, CAST(hamming AS INTEGER) AS hamming
            FROM read_parquet('{DATA_DIR}/golden/t1/neardup_simhash.parquet')
        """,
        "jaccard_exact_docs": """
            WITH d AS (
              SELECT CAST(doc_id AS VARCHAR) AS id,
                     list_distinct(string_split(lower(trim(text)), ' ')) AS w
              FROM documents
            )
            SELECT a.id AS id_a, b.id AS id_b,
                   round(CAST(len(list_intersect(a.w, b.w)) AS DOUBLE)
                         / (len(a.w) + len(b.w) - len(list_intersect(a.w, b.w))),
                         4) AS jaccard
            FROM d a, d b
            WHERE a.id < b.id
              AND CAST(len(list_intersect(a.w, b.w)) AS DOUBLE)
                  / (len(a.w) + len(b.w) - len(list_intersect(a.w, b.w))) >= 0.8
        """,
        "langid_docs": f"""
            SELECT doc_id, pred_lang
            FROM read_parquet('{DATA_DIR}/golden/sf0.01/langid_docs.parquet')
        """,
        "quality_score_docs": """
            WITH d AS (
              SELECT doc_id,
                     CAST(array_length(string_split(text, ' ')) AS DOUBLE) AS wc,
                     CAST(len(list_filter(string_split(lower(text), ' '),
                          x -> x IN ('the','a','and','of','to','in','is')))
                          AS DOUBLE) AS stop_hits
              FROM documents
            )
            SELECT doc_id,
                   round(least(1.0, wc / 50) * 0.5
                         + least(1.0, stop_hits * 10 / wc) * 0.5, 6)
                       AS quality_score
            FROM d
        """,
        "fingerprint_docs": """
            SELECT doc_id,
                   substr(sha256(regexp_replace(regexp_replace(lower(text),
                          '[ \t\n\r]+', ' ', 'g'), '^ | $', '', 'g')), 1, 16)
                       AS fingerprint
            FROM documents
        """,
        "token_counts_docs": """
            SELECT doc_id,
                   CAST(len(regexp_extract_all(text, '\\S+')) AS BIGINT) AS ws_tokens,
                   CAST(len(regexp_extract_all(text, '\\S{1,4}')) AS BIGINT)
                       AS bpe_ish_tokens
            FROM documents
        """,
        "lsh_ann_topk": f"""
            SELECT query_id, vec_id, rank, cos_sim
            FROM read_parquet('{DATA_DIR}/golden/sf0.01/lsh_ann.parquet')
        """,
        # independent oracle: cells + probing recomputed in SQL from the
        # exported centroid matrix — no shared code with the Spark path
        "ivf_ann_topk": f"""
            WITH c AS (
              SELECT cell_idx, weights
              FROM read_parquet('{ensure_ivf_centroids(64)}')
            ),
            sims AS (
              SELECT e.vec_id, c.cell_idx,
                     list_cosine_similarity(e.embedding, c.weights) AS s
              FROM embeddings e, c
            ),
            assign AS (
              SELECT vec_id, CAST(arg_max(cell_idx, s) AS INTEGER) AS cell
              FROM sims GROUP BY vec_id
            ),
            qprobe AS (
              SELECT vec_id AS query_id, cell_idx AS cell FROM (
                SELECT vec_id, cell_idx,
                       row_number() OVER (PARTITION BY vec_id
                                          ORDER BY s DESC, cell_idx) AS rn
                FROM sims WHERE vec_id < 10
              ) WHERE rn <= 4
            ),
            cand AS (
              SELECT q.query_id, a.vec_id
              FROM qprobe q JOIN assign a ON a.cell = q.cell
              WHERE a.vec_id <> q.query_id
            ),
            scored AS (
              SELECT cd.query_id, cd.vec_id,
                     round(list_cosine_similarity(v.embedding, qe.embedding), 4)
                         AS cos_sim
              FROM cand cd
              JOIN embeddings v  ON v.vec_id  = cd.vec_id
              JOIN embeddings qe ON qe.vec_id = cd.query_id
            )
            SELECT query_id, vec_id, rank, cos_sim FROM (
              SELECT *, row_number() OVER (PARTITION BY query_id
                        ORDER BY cos_sim DESC, vec_id) AS rank
              FROM scored
            ) WHERE rank <= 5
        """,
        "ivf_ann_topk_c64": f"""
            WITH c AS (
              SELECT cell_idx, weights
              FROM read_parquet('{ensure_ivf_centroids(64, 64)}')
            ),
            sims AS (
              SELECT e.vec_id, c.cell_idx,
                     list_cosine_similarity(e.embedding, c.weights) AS s
              FROM embeddings e, c
            ),
            assign AS (
              SELECT vec_id, CAST(arg_max(cell_idx, s) AS INTEGER) AS cell
              FROM sims GROUP BY vec_id
            ),
            qprobe AS (
              SELECT vec_id AS query_id, cell_idx AS cell FROM (
                SELECT vec_id, cell_idx,
                       row_number() OVER (PARTITION BY vec_id
                                          ORDER BY s DESC, cell_idx) AS rn
                FROM sims WHERE vec_id < 10
              ) WHERE rn <= 4
            ),
            cand AS (
              SELECT q.query_id, a.vec_id
              FROM qprobe q JOIN assign a ON a.cell = q.cell
              WHERE a.vec_id <> q.query_id
            ),
            scored AS (
              SELECT cd.query_id, cd.vec_id,
                     round(list_cosine_similarity(v.embedding, qe.embedding), 4)
                         AS cos_sim
              FROM cand cd
              JOIN embeddings v  ON v.vec_id  = cd.vec_id
              JOIN embeddings qe ON qe.vec_id = cd.query_id
            )
            SELECT query_id, vec_id, rank, cos_sim FROM (
              SELECT *, row_number() OVER (PARTITION BY query_id
                        ORDER BY cos_sim DESC, vec_id) AS rank
              FROM scored
            ) WHERE rank <= 5
        """,
        # independent oracle: PQ encode + ADC + re-rank replayed in pure
        # SQL from the exported codebook parquet — no shared code with the
        # Spark path. Approx scores rounded to 4 decimals on both sides
        # before the shortlist cut (fp-sum association differs).
        "pq_ann_topk": f"""
            WITH cb AS (
              SELECT m, code, weights
              FROM read_parquet('{ensure_pq_codebooks(64)}')
            ),
            enc AS (
              SELECT e.vec_id, cb.m,
                     arg_min(cb.code, list_distance(
                         list_slice(e.embedding, cb.m * 8 + 1, cb.m * 8 + 8),
                         cb.weights)) AS code
              FROM embeddings e, cb
              GROUP BY e.vec_id, cb.m
            ),
            lut AS (
              SELECT qe.vec_id AS query_id, cb.m, cb.code,
                     list_dot_product(
                         list_slice(qe.embedding, cb.m * 8 + 1, cb.m * 8 + 8),
                         cb.weights) AS w
              FROM embeddings qe, cb WHERE qe.vec_id < 10
            ),
            approx AS (
              SELECT l.query_id, enc.vec_id, round(SUM(l.w), 4) AS s
              FROM enc JOIN lut l ON l.m = enc.m AND l.code = enc.code
              WHERE enc.vec_id <> l.query_id
              GROUP BY 1, 2
            ),
            short AS (
              SELECT query_id, vec_id FROM (
                SELECT *, row_number() OVER (PARTITION BY query_id
                          ORDER BY s DESC, vec_id) AS rn
                FROM approx
              ) WHERE rn <= 50
            ),
            scored AS (
              SELECT sh.query_id, sh.vec_id,
                     round(list_cosine_similarity(v.embedding, qe.embedding),
                           4) AS cos_sim
              FROM short sh
              JOIN embeddings v  ON v.vec_id  = sh.vec_id
              JOIN embeddings qe ON qe.vec_id = sh.query_id
            )
            SELECT query_id, vec_id, rank, cos_sim FROM (
              SELECT *, row_number() OVER (PARTITION BY query_id
                        ORDER BY cos_sim DESC, vec_id) AS rank
              FROM scored
            ) WHERE rank <= 5
        """,
        # independent oracle: buckets recomputed in SQL from the exported
        # hyperplane matrix (random-hyperplane signs -> bit-weighted sum),
        # then in-bucket exact cosine — no shared code with the Spark path
        "embedding_neardup": f"""
            WITH p AS (
              SELECT plane_idx, weights
              FROM read_parquet('{ensure_planes(64)}')
            ),
            b AS (
              SELECT e.vec_id, any_value(e.embedding) AS embedding,
                     CAST(sum(CASE WHEN list_dot_product(e.embedding, p.weights) > 0
                          THEN CAST(power(2, p.plane_idx) AS BIGINT)
                          ELSE 0 END) AS INTEGER) AS bucket
              FROM embeddings e, p GROUP BY e.vec_id
            )
            SELECT id_a, id_b, cos_sim FROM (
              SELECT a.vec_id AS id_a, c.vec_id AS id_b,
                     round(list_cosine_similarity(a.embedding, c.embedding), 4)
                         AS cos_sim
              FROM b a JOIN b c ON a.bucket = c.bucket AND a.vec_id < c.vec_id
            ) WHERE cos_sim >= 0.4
        """,
        "embedding_neardup_p8": f"""
            WITH p AS (
              SELECT plane_idx, weights
              FROM read_parquet('{ensure_planes(64, 8)}')
            ),
            b AS (
              SELECT e.vec_id, any_value(e.embedding) AS embedding,
                     CAST(sum(CASE WHEN list_dot_product(e.embedding, p.weights) > 0
                          THEN CAST(power(2, p.plane_idx) AS BIGINT)
                          ELSE 0 END) AS INTEGER) AS bucket
              FROM embeddings e, p GROUP BY e.vec_id
            )
            SELECT id_a, id_b, cos_sim FROM (
              SELECT a.vec_id AS id_a, c.vec_id AS id_b,
                     round(list_cosine_similarity(a.embedding, c.embedding), 4)
                         AS cos_sim
              FROM b a JOIN b c ON a.bucket = c.bucket AND a.vec_id < c.vec_id
            ) WHERE cos_sim >= 0.4
        """,
        "lsh_ann_topk_p8": f"""
            WITH p AS (
              SELECT plane_idx, weights
              FROM read_parquet('{ensure_planes(64, 8)}')
            ),
            b AS (
              SELECT e.vec_id, any_value(e.embedding) AS embedding,
                     CAST(sum(CASE WHEN list_dot_product(e.embedding, p.weights) > 0
                          THEN CAST(power(2, p.plane_idx) AS BIGINT)
                          ELSE 0 END) AS INTEGER) AS bucket
              FROM embeddings e, p GROUP BY e.vec_id
            ),
            cand AS (
              SELECT q.vec_id AS query_id, v.vec_id,
                     round(list_cosine_similarity(v.embedding, q.embedding), 4)
                         AS cos_sim
              FROM b q JOIN b v ON v.bucket = q.bucket AND v.vec_id <> q.vec_id
              WHERE q.vec_id < 10
            )
            SELECT query_id, vec_id, rank, cos_sim FROM (
              SELECT *, row_number() OVER (PARTITION BY query_id
                        ORDER BY cos_sim DESC, vec_id) AS rank
              FROM cand
            ) WHERE rank <= 5
        """,
        "semantic_dedup_embs": """
            WITH RECURSIVE p AS (
              SELECT plane_idx, weights
              FROM read_parquet('/root/repo/data/golden/planes_dim64.parquet')
            ),
            b AS (
              SELECT e.vec_id, any_value(e.embedding) AS embedding,
                     CAST(sum(CASE WHEN list_dot_product(e.embedding, p.weights) > 0
                          THEN CAST(power(2, p.plane_idx) AS BIGINT)
                          ELSE 0 END) AS INTEGER) AS bucket
              FROM embeddings e, p GROUP BY e.vec_id
            ),
            pairs AS (
              SELECT id_a, id_b FROM (
                SELECT a.vec_id AS id_a, c.vec_id AS id_b,
                       round(list_cosine_similarity(a.embedding, c.embedding), 4)
                           AS cos_sim
                FROM b a JOIN b c ON a.bucket = c.bucket AND a.vec_id < c.vec_id
              ) WHERE cos_sim >= 0.4
            ),
            edges AS (
              SELECT id_a AS src, id_b AS dst FROM pairs
              UNION
              SELECT id_b, id_a FROM pairs
            ),
            reach(id, lbl) AS (
              SELECT src, src FROM edges
              UNION
              SELECT e.src, r.lbl FROM edges e JOIN reach r ON e.dst = r.id
            ),
            cc AS (SELECT id, MIN(lbl) AS cluster_id FROM reach GROUP BY id)
            SELECT emb.vec_id,
                   coalesce(cc.cluster_id, emb.vec_id) AS cluster_id,
                   (emb.vec_id = coalesce(cc.cluster_id, emb.vec_id)) AS keep
            FROM embeddings emb LEFT JOIN cc ON emb.vec_id = cc.id
        """,
        "repetition_signals_docs": """
            WITH base AS (
              SELECT doc_id, length(text) AS chars,
                     list_filter(
                         regexp_split_to_array(lower(text),
                             '[ \t\n\r\f\x0b]+'),
                         x -> x <> '') AS w
              FROM documents WHERE text IS NOT NULL
            ),
            pos AS (
              SELECT doc_id, chars, w,
                     unnest(generate_series(1, len(w))) AS i
              FROM base
            ),
            g AS (
              SELECT doc_id, chars, 2 AS n,
                     w[i] || ' ' || w[i+1] AS gram
              FROM pos WHERE i + 1 <= len(w)
              UNION ALL
              SELECT doc_id, chars, 3 AS n,
                     w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS gram
              FROM pos WHERE i + 2 <= len(w)
              UNION ALL
              SELECT doc_id, chars, 4 AS n,
                     w[i] || ' ' || w[i+1] || ' ' || w[i+2]
                         || ' ' || w[i+3] AS gram
              FROM pos WHERE i + 3 <= len(w)
            ),
            counts AS (
              SELECT doc_id, chars, n, gram,
                     CAST(count(*) AS BIGINT) AS cnt,
                     CAST(count(*) * length(gram) AS BIGINT) AS covered
              FROM g GROUP BY doc_id, chars, n, gram
            ),
            ranked AS (
              SELECT doc_id, chars, n, gram, cnt, covered,
                     row_number() OVER (PARTITION BY doc_id, n
                         ORDER BY covered DESC, gram DESC) AS rn
              FROM counts
            ),
            dns(n) AS (VALUES (5), (6), (7), (8), (9), (10)),
            ddocs AS (
              SELECT b.doc_id, b.w, dns.n, len(b.w) AS nw,
                     CAST(list_sum(list_transform(b.w, x -> length(x)))
                          AS BIGINT) AS wchars
              FROM base b CROSS JOIN dns WHERE len(b.w) >= dns.n
            ),
            dpos AS (
              SELECT doc_id, n, w,
                     unnest(generate_series(1, nw - n + 1)) AS i
              FROM ddocs
            ),
            dg AS (
              SELECT doc_id, n, i,
                     array_to_string(w[i : i + n - 1], ' ') AS gram
              FROM dpos
            ),
            ddup AS (
              SELECT doc_id, n, gram FROM dg
              GROUP BY doc_id, n, gram HAVING count(*) >= 2
            ),
            dhits AS (
              SELECT dg.doc_id, dg.n, dg.i
              FROM dg JOIN ddup USING (doc_id, n, gram)
            ),
            dcov AS (
              SELECT DISTINCT doc_id, n, j FROM (
                SELECT doc_id, n,
                       unnest(generate_series(i, i + n - 1)) AS j
                FROM dhits)
            ),
            dcch AS (
              SELECT c.doc_id, c.n,
                     CAST(sum(length(d.w[c.j])) AS BIGINT) AS cch
              FROM dcov c JOIN ddocs d
                ON d.doc_id = c.doc_id AND d.n = c.n
              GROUP BY c.doc_id, c.n
            ),
            lcnt AS (
              SELECT doc_id, length(line) AS len, count(*) AS cnt
              FROM (
                SELECT doc_id,
                       unnest(string_split(text, chr(10))) AS line
                FROM documents WHERE text IS NOT NULL)
              GROUP BY doc_id, line
            ),
            lagg AS (
              SELECT doc_id,
                     CAST(sum(len * cnt) AS DOUBLE) AS ltot,
                     CAST(sum(CASE WHEN cnt > 1 THEN len * cnt
                              ELSE 0 END) AS DOUBLE) AS ldup
              FROM lcnt GROUP BY doc_id
            ),
            sfx AS (
              SELECT doc_id,
                     len(regexp_extract_all(text, '\\S+')) AS words,
                     CASE WHEN len(regexp_extract_all(text, '\\S+')) > 0
                       THEN round(CAST(len(regexp_extract_all(text,
                                 '\\S*[A-Za-z]\\S*')) AS DOUBLE)
                             / len(regexp_extract_all(text, '\\S+')), 6)
                     END AS alpha_f,
                     round(CAST(len(regexp_extract_all(text,
                               '(?m)^[ \t]*[-•*]')) AS DOUBLE)
                           / len(string_split(text, chr(10))), 6)
                         AS bullet_f,
                     round(CAST(len(regexp_extract_all(text,
                               '(?m)(\\.\\.\\.|…)[ \t]*$')) AS DOUBLE)
                           / len(string_split(text, chr(10))), 6)
                         AS ellipsis_f,
                     round(CAST(len(regexp_extract_all(text,
                               '(?m)[.!?"''][ \t]*$')) AS DOUBLE)
                           / len(string_split(text, chr(10))), 6)
                         AS punct_f,
                     round(CAST(len(string_split(text, chr(10)))
                            - len(regexp_extract_all(text,
                                  '(?m)^.{30,}')) AS DOUBLE)
                           / len(string_split(text, chr(10))), 6)
                         AS short_f,
                     CASE WHEN len(regexp_extract_all(text, '\\S+')) > 0
                       THEN round(CAST(len(string_split(text, chr(10))) - 1
                                  AS DOUBLE)
                             / len(regexp_extract_all(text, '\\S+')), 6)
                     END AS newline_f
              FROM documents WHERE text IS NOT NULL
            ),
            tp AS (
              SELECT doc_id,
                     max(CASE WHEN n = 2 THEN cnt END) AS c2,
                     max(CASE WHEN n = 2 THEN
                         round(CAST(covered AS DOUBLE) / chars, 6)
                         END) AS tf2,
                     max(CASE WHEN n = 3 THEN cnt END) AS c3,
                     max(CASE WHEN n = 3 THEN
                         round(CAST(covered AS DOUBLE) / chars, 6)
                         END) AS tf3,
                     max(CASE WHEN n = 4 THEN cnt END) AS c4,
                     max(CASE WHEN n = 4 THEN
                         round(CAST(covered AS DOUBLE) / chars, 6)
                         END) AS tf4
              FROM ranked WHERE rn = 1 GROUP BY doc_id
            ),
            dfp AS (
              SELECT d.doc_id,
                     max(CASE WHEN d.n = 5 THEN round(CAST(
                         coalesce(cc.cch, 0) AS DOUBLE) / d.wchars, 6)
                         END) AS df5,
                     max(CASE WHEN d.n = 6 THEN round(CAST(
                         coalesce(cc.cch, 0) AS DOUBLE) / d.wchars, 6)
                         END) AS df6,
                     max(CASE WHEN d.n = 7 THEN round(CAST(
                         coalesce(cc.cch, 0) AS DOUBLE) / d.wchars, 6)
                         END) AS df7,
                     max(CASE WHEN d.n = 8 THEN round(CAST(
                         coalesce(cc.cch, 0) AS DOUBLE) / d.wchars, 6)
                         END) AS df8,
                     max(CASE WHEN d.n = 9 THEN round(CAST(
                         coalesce(cc.cch, 0) AS DOUBLE) / d.wchars, 6)
                         END) AS df9,
                     max(CASE WHEN d.n = 10 THEN round(CAST(
                         coalesce(cc.cch, 0) AS DOUBLE) / d.wchars, 6)
                         END) AS df10
              FROM ddocs d LEFT JOIN dcch cc
                ON cc.doc_id = d.doc_id AND cc.n = d.n
              GROUP BY d.doc_id
            ),
            cverdict AS (
              SELECT doc.doc_id,
                CASE
                  WHEN s.alpha_f < 0.80 THEN 'shape/alpha_words'
                  WHEN s.bullet_f > 0.90 THEN 'shape/bullet_lines'
                  WHEN s.ellipsis_f > 0.30 THEN 'shape/ellipsis_lines'
                  WHEN s.words > 0 AND s.punct_f < 0.12
                    THEN 'fineweb/line_punct'
                  WHEN s.words > 0 AND s.short_f > 0.67
                    THEN 'fineweb/short_lines'
                  WHEN s.words > 0 AND lg.dlf > 0.10
                    THEN 'fineweb/dup_line_chars'
                  WHEN s.words > 0 AND s.newline_f > 0.30
                    THEN 'fineweb/newline_words'
                  WHEN t.c2 >= 2 AND t.tf2 > 0.20
                    THEN 'repetition/top_2gram'
                  WHEN t.c3 >= 2 AND t.tf3 > 0.18
                    THEN 'repetition/top_3gram'
                  WHEN t.c4 >= 2 AND t.tf4 > 0.16
                    THEN 'repetition/top_4gram'
                  WHEN f.df5 > 0.15 THEN 'repetition/dup_5gram'
                  WHEN f.df6 > 0.14 THEN 'repetition/dup_6gram'
                  WHEN f.df7 > 0.13 THEN 'repetition/dup_7gram'
                  WHEN f.df8 > 0.12 THEN 'repetition/dup_8gram'
                  WHEN f.df9 > 0.11 THEN 'repetition/dup_9gram'
                  WHEN f.df10 > 0.10 THEN 'repetition/dup_10gram'
                END AS verdict
              FROM documents doc
              LEFT JOIN sfx s ON s.doc_id = doc.doc_id
              LEFT JOIN (
                SELECT doc_id, round(ldup / NULLIF(ltot, 0), 6) AS dlf
                FROM lagg) lg ON lg.doc_id = doc.doc_id
              LEFT JOIN tp t ON t.doc_id = doc.doc_id
              LEFT JOIN dfp f ON f.doc_id = doc.doc_id
            )
            SELECT doc_id, 'top_gram' AS signal, n, gram, cnt,
                   round(CAST(covered AS DOUBLE) / chars, 6) AS char_frac
            FROM ranked WHERE rn = 1
            UNION ALL
            SELECT d.doc_id, 'dup_gram' AS signal, d.n,
                   CAST(NULL AS VARCHAR) AS gram,
                   CAST(NULL AS BIGINT) AS cnt,
                   round(CAST(coalesce(cc.cch, 0) AS DOUBLE) / d.wchars, 6)
                       AS char_frac
            FROM ddocs d LEFT JOIN dcch cc
              ON cc.doc_id = d.doc_id AND cc.n = d.n
            UNION ALL
            SELECT doc_id, 'dup_line' AS signal, 1 AS n,
                   CAST(NULL AS VARCHAR) AS gram,
                   CAST(NULL AS BIGINT) AS cnt,
                   round(ldup / NULLIF(ltot, 0), 6) AS char_frac
            FROM lagg
            UNION ALL
            SELECT doc_id, 'cascade' AS signal, 0 AS n,
                   verdict AS gram,
                   CAST(NULL AS BIGINT) AS cnt,
                   CAST(NULL AS DOUBLE) AS char_frac
            FROM cverdict
        """,
        "tfidf_top_terms_docs": """
            WITH d AS (SELECT * FROM documents WHERE text IS NOT NULL),
            words AS (
              SELECT doc_id, source,
                     unnest(list_filter(
                         regexp_split_to_array(lower(text),
                             '[ \t\n\r\f\x0b]+'),
                         x -> x <> '')) AS term
              FROM d
            ),
            n AS (SELECT count(*) AS n_docs FROM d),
            df_ AS (
              SELECT term, count(DISTINCT doc_id) AS dfreq
              FROM words GROUP BY term
            ),
            tf AS (
              SELECT source, term, count(*) AS tfreq
              FROM words GROUP BY source, term
            ),
            scored AS (
              SELECT tf.source, tf.term,
                     round(tfreq * ln(CAST(n.n_docs AS DOUBLE) / dfreq), 4)
                         AS tfidf
              FROM tf JOIN df_ USING (term), n
            )
            SELECT source, rank, term, tfidf FROM (
              SELECT *, row_number() OVER (PARTITION BY source
                        ORDER BY tfidf DESC, term) AS rank
              FROM scored
            ) WHERE rank <= 5
        """,
        "validate_structure_t2": f"""
            WITH x AS (
              SELECT conv_id, turn_idx, role, tool,
                     lag(role) OVER w AS prev_role,
                     lag(turn_idx) OVER w AS prev_idx
              FROM read_parquet('{ensure_transcripts("t2")}')
              WINDOW w AS (PARTITION BY conv_id ORDER BY turn_idx)
            ),
            agg AS (
              SELECT
                CAST(sum(CASE WHEN role = 'tool' AND tool IS NULL
                     THEN 1 ELSE 0 END) AS BIGINT)
                    AS tool_role_without_tool_name,
                CAST(sum(CASE WHEN role <> 'tool' AND tool IS NOT NULL
                     THEN 1 ELSE 0 END) AS BIGINT)
                    AS tool_name_on_non_tool_role,
                CAST(sum(CASE WHEN role = 'tool' AND prev_role IS NOT NULL
                     AND prev_role NOT IN ('assistant', 'tool')
                     THEN 1 ELSE 0 END) AS BIGINT)
                    AS tool_turn_not_after_assistant,
                CAST(sum(CASE WHEN prev_idx IS NULL
                     AND role NOT IN ('user', 'system')
                     THEN 1 ELSE 0 END) AS BIGINT)
                    AS conv_opens_with_tool_or_assistant,
                CAST(sum(CASE WHEN (prev_idx IS NULL AND turn_idx <> 0)
                     OR (prev_idx IS NOT NULL AND turn_idx <> prev_idx + 1)
                     THEN 1 ELSE 0 END) AS BIGINT) AS turn_idx_gap
              FROM x
            )
            SELECT 'tool_role_without_tool_name' AS "check",
                   tool_role_without_tool_name AS violations FROM agg
            UNION ALL SELECT 'tool_name_on_non_tool_role',
                   tool_name_on_non_tool_role FROM agg
            UNION ALL SELECT 'tool_turn_not_after_assistant',
                   tool_turn_not_after_assistant FROM agg
            UNION ALL SELECT 'conv_opens_with_tool_or_assistant',
                   conv_opens_with_tool_or_assistant FROM agg
            UNION ALL SELECT 'turn_idx_gap', turn_idx_gap FROM agg
            ORDER BY "check"
        """,
        "pipeline_scrub_counts": f"""
            WITH k AS (
              SELECT scrubbed_text FROM read_parquet('{golden}') WHERE keep
            ),
            c AS (
              SELECT t.token,
                     (length(scrubbed_text)
                      - length(replace(scrubbed_text, t.tok, '')))
                     // length(t.tok) AS occ
              FROM k, (VALUES ('email', '[EMAIL]'), ('phone', '[PHONE]'),
                              ('profanity', '[CENSORED]'), ('ssn', '[SSN]'))
                       AS t(token, tok)
            )
            SELECT token,
                   CAST(sum(occ) AS BIGINT) AS occurrences,
                   CAST(sum(CASE WHEN occ > 0 THEN 1 ELSE 0 END) AS BIGINT)
                       AS turns_hit
            FROM c GROUP BY token ORDER BY token
        """,
        "mixture_sample_docs": _mixture_oracle_sql(),
        "line_hygiene_t1": f"""
            WITH t AS (
              SELECT conv_id || '#' || printf('%06d', turn_idx) AS id, text
              FROM read_parquet('{ensure_transcripts("t1")}')
            ),
            lines AS (
              SELECT id, i AS pos, l[i] AS line
              FROM (
                SELECT id, string_split(text, chr(10)) AS l,
                       unnest(generate_series(1, len(
                           string_split(text, chr(10))))) AS i
                FROM t WHERE text IS NOT NULL
              )
            ),
            common AS (
              SELECT line FROM (
                SELECT line, count(DISTINCT id) AS n
                FROM lines WHERE trim(line) <> '' GROUP BY line
              ) WHERE n >= 20
            ),
            rebuilt AS (
              SELECT id, string_agg(line, chr(10) ORDER BY pos) AS clean_text
              FROM lines WHERE line NOT IN (SELECT line FROM common)
              GROUP BY id
            ),
            c4k AS (
              SELECT id, text,
                     list_filter(string_split(text, chr(10)), l ->
                       regexp_matches(
                         trim(l, ' ' || chr(9) || chr(13) || chr(12)
                              || chr(11)),
                         '[.!?"]$')
                       AND len(list_filter(
                             regexp_split_to_array(l, '[ \t\n\r\f\x0b]+'),
                             x -> x <> '')) >= 3
                       AND NOT contains(lower(l), 'javascript')
                     ) AS keptl
              FROM t WHERE text IS NOT NULL
            ),
            c4f AS (
              SELECT t.id,
                     CASE WHEN t.text IS NULL THEN NULL
                          -- array_to_string([]) is NULL in DuckDB, not ''
                          ELSE coalesce(array_to_string(k.keptl, chr(10)), '')
                     END AS clean_text,
                     CAST(CASE WHEN t.text IS NULL THEN NULL
                               ELSE len(k.keptl) END AS BIGINT) AS n_kept,
                     CASE WHEN t.text IS NULL THEN 'drop_null'
                          WHEN contains(lower(t.text), 'lorem ipsum')
                              THEN 'drop_lorem_ipsum'
                          WHEN contains(t.text, '{{') THEN 'drop_brace'
                          WHEN len(k.keptl) < 1 THEN 'drop_min_lines'
                          ELSE 'keep' END AS verdict
              FROM t LEFT JOIN c4k k ON k.id = t.id
            )
            SELECT 'corpus_common' AS mode, t.id,
                   CASE WHEN t.text IS NULL THEN NULL
                        ELSE coalesce(r.clean_text, '') END AS clean_text,
                   CAST(NULL AS BIGINT) AS n_kept,
                   CAST(NULL AS VARCHAR) AS verdict
            FROM t LEFT JOIN rebuilt r ON r.id = t.id
            UNION ALL
            SELECT 'c4_local' AS mode, id, clean_text, n_kept, verdict
            FROM c4f
        """,
        "decontaminate_docs": """
            WITH words AS (
              SELECT doc_id,
                     list_filter(
                         regexp_split_to_array(lower(text),
                             '[ \t\n\r\f\x0b]+'),
                         x -> x <> '') AS w
              FROM documents WHERE text IS NOT NULL
            ),
            dg AS (
              -- the operator's output carries no hashes, so the oracle
              -- joins on the gram STRINGS (exact); Spark joins on a 64-bit
              -- rolling hash (see decontam.py collision bound)
              SELECT DISTINCT doc_id,
                     array_to_string(w[i : i + 7], ' ') AS gram
              FROM (
                SELECT doc_id, w,
                       unnest(generate_series(1, len(w) - 7)) AS i
                FROM words WHERE len(w) >= 8
              )
            ),
            bench AS (
              SELECT DISTINCT gram FROM dg WHERE doc_id % 37 = 0
            ),
            hits AS (
              SELECT doc_id, count(*) AS n
              FROM dg JOIN bench USING (gram) GROUP BY doc_id
            )
            SELECT d.doc_id,
                   CAST(coalesce(h.n, 0) AS BIGINT) AS n_contaminated_grams,
                   coalesce(h.n, 0) > 0 AS contaminated
            FROM documents d LEFT JOIN hits h ON h.doc_id = d.doc_id
        """,
        "ivf_ann_topk_trained": f"""
            WITH c AS (
              SELECT cell_idx, weights
              FROM read_parquet(
                  '{DATA_DIR}/golden/ivf_trained_dim64_c16.parquet')
            ),
            sims AS (
              SELECT e.vec_id, c.cell_idx,
                     list_cosine_similarity(e.embedding, c.weights) AS s
              FROM embeddings e, c
            ),
            assign AS (
              SELECT vec_id, CAST(arg_max(cell_idx, s) AS INTEGER) AS cell
              FROM sims GROUP BY vec_id
            ),
            qprobe AS (
              SELECT vec_id AS query_id, cell_idx AS cell FROM (
                SELECT vec_id, cell_idx,
                       row_number() OVER (PARTITION BY vec_id
                                          ORDER BY s DESC, cell_idx) AS rn
                FROM sims WHERE vec_id < 10
              ) WHERE rn <= 4
            ),
            cand AS (
              SELECT q.query_id, a.vec_id
              FROM qprobe q JOIN assign a ON a.cell = q.cell
              WHERE a.vec_id <> q.query_id
            ),
            scored AS (
              SELECT cd.query_id, cd.vec_id,
                     round(list_cosine_similarity(v.embedding, qe.embedding), 4)
                         AS cos_sim
              FROM cand cd
              JOIN embeddings v  ON v.vec_id  = cd.vec_id
              JOIN embeddings qe ON qe.vec_id = cd.query_id
            )
            SELECT query_id, vec_id, rank, cos_sim FROM (
              SELECT *, row_number() OVER (PARTITION BY query_id
                        ORDER BY cos_sim DESC, vec_id) AS rank
              FROM scored
            ) WHERE rank <= 5
        """,
        "lsh_ann_topk_mp": f"""
            WITH p AS (
              SELECT plane_idx, weights
              FROM read_parquet('{ensure_planes(64, 8)}')
            ),
            marg AS (
              SELECT e.vec_id, p.plane_idx,
                     list_dot_product(e.embedding, p.weights) AS d
              FROM embeddings e, p
            ),
            b AS (
              SELECT vec_id,
                     CAST(sum(CASE WHEN d > 0
                          THEN CAST(power(2, plane_idx) AS BIGINT)
                          ELSE 0 END) AS INTEGER) AS bucket
              FROM marg GROUP BY vec_id
            ),
            flips AS (
              SELECT vec_id AS query_id, plane_idx,
                     row_number() OVER (PARTITION BY vec_id
                                        ORDER BY abs(d), plane_idx) AS rn
              FROM marg WHERE vec_id < 10
            ),
            probe AS (
              SELECT vec_id AS query_id, bucket FROM b WHERE vec_id < 10
              UNION ALL
              SELECT f.query_id,
                     CAST(xor(qb.bucket,
                          CAST(power(2, f.plane_idx) AS INTEGER)) AS INTEGER)
              FROM flips f JOIN b qb ON qb.vec_id = f.query_id
              WHERE f.rn <= 2
            ),
            cand AS (
              SELECT pr.query_id, vb.vec_id,
                     round(list_cosine_similarity(v.embedding, qe.embedding),
                           4) AS cos_sim
              FROM probe pr
              JOIN b vb ON vb.bucket = pr.bucket
              JOIN embeddings v  ON v.vec_id  = vb.vec_id
              JOIN embeddings qe ON qe.vec_id = pr.query_id
              WHERE vb.vec_id <> pr.query_id
            )
            SELECT query_id, vec_id, rank, cos_sim FROM (
              SELECT *, row_number() OVER (PARTITION BY query_id
                        ORDER BY cos_sim DESC, vec_id) AS rank
              FROM cand
            ) WHERE rank <= 5
        """,
        "media_meta": f"""
            SELECT media_id, kind,
                   CAST(meta->>'$.width' AS INTEGER) AS width,
                   CAST(meta->>'$.height' AS INTEGER) AS height,
                   CAST(meta->>'$.channels' AS INTEGER) AS channels,
                   CAST(meta->>'$.frames' AS INTEGER) AS frames,
                   octet_length(payload) AS n_bytes
            FROM read_parquet('{DATA_DIR}/media/t1/media.parquet')
        """,
        "media_frame_sample": f"""
            SELECT media_id, frame_idx, frame_bytes, frame_mean
            FROM read_parquet('{DATA_DIR}/golden/media_t1/media_frames.parquet')
        """,
        "media_embeddings": f"""
            SELECT media_id,
                   array_to_string(list_transform(embedding,
                       x -> printf('%.6f', x)), ',') AS emb_csv
            FROM read_parquet('{DATA_DIR}/golden/media_t1/media_embeddings.parquet')
        """,
        "truncate_docs": """
            SELECT doc_id,
                   CASE WHEN length(text) > 120
                        THEN coalesce(nullif(regexp_extract(
                                 substr(text, 1, 120), '^(.*)\\s\\S*$', 1), ''),
                                 substr(text, 1, 120)) || '...'
                        ELSE text END AS truncated
            FROM documents
        """,
        "hash_sample_docs": """
            SELECT doc_id FROM documents
            WHERE substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) = '0'
        """,
        "stratified_sample_docs": """
            WITH r AS (
              SELECT doc_id, source,
                     CAST(row_number() OVER (
                       PARTITION BY source
                       ORDER BY md5(CAST(doc_id AS VARCHAR))) AS INTEGER) AS rk
              FROM documents
            )
            SELECT doc_id, source, rk FROM r WHERE rk <= 5
        """,
        "split_counts_docs": """
            WITH d AS (
              SELECT doc_id,
                     (strpos('0123456789abcdef',
                             substr(md5(CAST(doc_id AS VARCHAR)), 1, 1)) - 1) * 16
                     + (strpos('0123456789abcdef',
                               substr(md5(CAST(doc_id AS VARCHAR)), 2, 1)) - 1)
                         AS bucket
              FROM documents
            )
            SELECT CASE WHEN bucket < 179 THEN 'train'
                        WHEN bucket < 218 THEN 'val'
                        ELSE 'test' END AS split,
                   count(*) AS docs
            FROM d GROUP BY 1 ORDER BY 1
        """,
        "validate_t2": f"""
            WITH g AS (SELECT * FROM read_parquet('{_golden_sql_path()}')),
            a AS (
              SELECT
                CAST(sum(CASE WHEN ppl_bucket IS NOT NULL
                     AND (ppl_bucket < 0 OR ppl_bucket > {spec.PPL_BUCKET_MAX})
                     THEN 1 ELSE 0 END) AS BIGINT) AS bad_bucket,
                CAST(sum(CASE WHEN keep AND scrubbed_text IS NULL
                     THEN 1 ELSE 0 END) AS BIGINT) AS kept_without_text,
                CAST(sum(CASE WHEN keep AND length(regexp_replace(
                     scrubbed_text, '[ \t\n\r]', '', 'g')) = 0
                     THEN 1 ELSE 0 END) AS BIGINT) AS kept_empty_text,
                CAST(sum(CASE WHEN NOT keep AND reject_reason IS NULL
                     THEN 1 ELSE 0 END) AS BIGINT) AS dropped_without_reason
              FROM g
            ),
            d AS (
              SELECT CAST(count(*) AS BIGINT) AS dup_keys FROM (
                SELECT conv_id, turn_idx FROM g
                GROUP BY conv_id, turn_idx HAVING count(*) > 1
              )
            ),
            m AS (
              SELECT CAST(max(c) AS DOUBLE) / CAST(sum(c) AS DOUBLE) AS max_frac
              FROM (SELECT count(*) AS c FROM g GROUP BY reject_reason)
            )
            SELECT 'bucket_range' AS "check", bad_bucket = 0 AS ok,
                   bad_bucket AS n,
                   'ppl_bucket outside [0,{spec.PPL_BUCKET_MAX}]' AS detail FROM a
            UNION ALL SELECT 'kept_have_text', kept_without_text = 0,
                   kept_without_text, 'kept rows missing scrubbed_text' FROM a
            UNION ALL SELECT 'no_empty_kept_text', kept_empty_text = 0,
                   kept_empty_text, 'kept rows with whitespace-only text' FROM a
            UNION ALL SELECT 'drops_have_reason', dropped_without_reason = 0,
                   dropped_without_reason, 'dropped rows missing reject_reason' FROM a
            UNION ALL SELECT 'no_duplicate_keys', dup_keys = 0, dup_keys,
                   'duplicate (conv_id, turn_idx)' FROM d
            UNION ALL SELECT 'distribution_sanity', max_frac <= 0.8,
                   CAST(round(max_frac * 100) AS BIGINT),
                   'largest reason bucket pct (warn > 80%: annotation drift analog)'
                   FROM m
        """,
    }


def oracle_sql() -> dict[str, str]:
    """Consolidated-registry oracles: one entry per queries() key,
    composed from the per-variant SQL in _oracle_base() — tagged UNION
    ALLs for configuration families, joins/flat aggregates for the wide
    single-pass frames. Column names match the Spark side exactly (the
    driver's hash compare sorts columns by name)."""
    b = _oracle_base()

    def tagged(*pairs: tuple[str, str]) -> str:
        return "\nUNION ALL\n".join(
            f"SELECT '{t}' AS config, * FROM ({s})" for t, s in pairs
        )

    o = {
        k: b[k]
        for k in (
            "pipeline_verdicts",
            "pipeline_stage_metrics",
            "pipeline_ppl_histogram",
            "pipeline_kept_text",
            "pipeline_scrub_counts",
            "web_filter_verdicts",
            "web_stage_counts",
            "pack_conversations_t1",
            "line_hygiene_t1",
            "mixture_sample_docs",
            "tfidf_top_terms_docs",
            "repetition_signals_docs",
            "semantic_dedup_embs",
            "decontaminate_docs",
            "pq_ann_topk",
            "embedding_topk_cosine",
            "length_filter_docs",
            "dedup_exact_docs",
            "class_weights_events",
            "dup_user_events",
            "sessionize_events",
            "hourly_event_counts",
            "rollup_event_user",
            "pivot_event_type_counts",
            "asof_last_click_events",
            "range_join_bands_events",
            "tier_stats_events",
            "top_k_orders",
            "sum_avg_lineitem",
            "revenue_by_nation",
        )
    }

    # configuration families: tagged unions of the per-variant oracles.
    # cos_sim is re-rounded through DOUBLE in each branch: branches that
    # compute over DuckDB FLOAT[] embeddings emit FLOAT32, whose shortest
    # repr matches standalone but whose UNION-promoted DOUBLE widens the
    # fp32 error into the value hash.
    def ann_branch(sql: str) -> str:
        return (
            "SELECT query_id, vec_id, rank,"
            " round(CAST(cos_sim AS DOUBLE), 4) AS cos_sim"
            f" FROM ({sql})"
        )

    o["lsh_ann_topk"] = tagged(
        ("p6", ann_branch(b["lsh_ann_topk"])),
        ("p8", ann_branch(b["lsh_ann_topk_p8"])),
        ("p8_mp3", ann_branch(b["lsh_ann_topk_mp"])),
    )
    o["ivf_ann_topk"] = tagged(
        ("c16", ann_branch(b["ivf_ann_topk"])),
        ("c64", ann_branch(b["ivf_ann_topk_c64"])),
        ("trained_c16", ann_branch(b["ivf_ann_topk_trained"])),
    )
    o["embedding_neardup"] = tagged(
        (
            "p6",
            "SELECT id_a, id_b, round(CAST(cos_sim AS DOUBLE), 4) AS cos_sim"
            f" FROM ({b['embedding_neardup']})",
        ),
        (
            "p8",
            "SELECT id_a, id_b, round(CAST(cos_sim AS DOUBLE), 4) AS cos_sim"
            f" FROM ({b['embedding_neardup_p8']})",
        ),
    )
    o["customer_order_joins"] = tagged(
        ("semi", b["semi_join_customers"]),
        ("anti", b["anti_join_customers"]),
        # bloom_filtered_antijoin is EXACT (bloom = prefilter only, no
        # false negatives), so the plain anti-join restates it
        ("bloom_anti", b["anti_join_customers"]),
    )
    o["neardup_pairs"] = tagged(
        (
            "minhash_t1",
            f"SELECT id_a, id_b, jaccard AS score"
            f" FROM ({b['minhash_neardup_t1']})",
        ),
        (
            "simhash_t1",
            f"SELECT id_a, id_b, CAST(hamming AS DOUBLE) AS score"
            f" FROM ({b['simhash_neardup_t1']})",
        ),
        (
            "jaccard_docs",
            f"SELECT id_a, id_b, jaccard AS score"
            f" FROM ({b['jaccard_exact_docs']})",
        ),
        (
            "prefix_t1",
            # independent re-derivation of the prefix-dedup contract:
            # per-conv ordered turn-key lists, prefix digests at every
            # length via list slicing, the same (longer-wins,
            # conv_id-min-on-ties) rule, winner = max (len, conv_id)
            f"""
            WITH t AS (
              SELECT conv_id, turn_idx, md5(lower(trim(text))) AS h
              FROM read_parquet('{ensure_transcripts("t1")}')
              WHERE text IS NOT NULL
            ), lists AS (
              SELECT conv_id, list(h ORDER BY turn_idx) AS hs,
                     CAST(count(*) AS INT) AS len
              FROM t GROUP BY conv_id
            ), pref AS (
              SELECT conv_id, CAST(m AS INT) AS m,
                     md5(array_to_string(hs[1:m], '|')) AS prefix_h, len
              FROM (SELECT conv_id, hs, len,
                           unnest(generate_series(1, len)) AS m
                    FROM lists)
            ), fulls AS (
              SELECT conv_id AS loser, len AS matched_turns,
                     md5(array_to_string(hs, '|')) AS full_h
              FROM lists
            ), cand AS (
              SELECT f.loser, f.matched_turns,
                     p.conv_id AS winner, p.len AS winner_len
              FROM fulls f JOIN pref p
                ON f.full_h = p.prefix_h AND f.matched_turns = p.m
              WHERE p.conv_id <> f.loser
                AND (p.len > f.matched_turns
                     OR (p.len = f.matched_turns AND p.conv_id < f.loser))
            )
            SELECT loser AS id_a, winner AS id_b,
                   CAST(matched_turns AS DOUBLE) AS score
            FROM (SELECT loser, matched_turns, winner,
                         row_number() OVER (
                           PARTITION BY loser
                           ORDER BY winner_len DESC, winner DESC) AS rn
                  FROM cand)
            WHERE rn = 1
            """,
        ),
    )
    o["set_ops_docs"] = tagged(
        (
            "union",
            f"SELECT CAST(doc_id AS VARCHAR) AS key, source, lang"
            f" FROM ({b['union_by_name_docs']})",
        ),
        (
            "intersect",
            f"SELECT text_hash AS key, NULL AS source, NULL AS lang"
            f" FROM ({b['intersect_hashes_docs']})",
        ),
        (
            "diff",
            # corpus_diff re-derived: same deterministic v2 perturbation,
            # digest full-outer-join classification (digest sentinel for
            # NULL text matches diff.py's _slim)
            """
            WITH newt AS (
              SELECT doc_id,
                     CASE WHEN doc_id % 89 = 0 THEN text || ' [v2]'
                          ELSE text END AS text
              FROM documents WHERE doc_id % 97 <> 0
              UNION ALL
              SELECT doc_id + 10000000, text FROM documents
              WHERE doc_id % 101 = 0
            ),
            o AS (SELECT doc_id,
                         md5(coalesce(text, chr(0) || 'null')) AS dg
                  FROM documents),
            n AS (SELECT doc_id,
                         md5(coalesce(text, chr(0) || 'null')) AS dg
                  FROM newt)
            SELECT CAST(doc_id AS VARCHAR) AS key,
                   CASE WHEN o.dg IS NULL THEN 'added'
                        WHEN n.dg IS NULL THEN 'removed'
                        WHEN o.dg = n.dg THEN 'unchanged'
                        ELSE 'changed' END AS source,
                   NULL AS lang
            FROM o FULL OUTER JOIN n USING (doc_id)
            """,
        ),
    )
    o["transcript_repairs_t2"] = tagged(
        (
            "coerce",
            f"""
            WITH f AS (
              SELECT conv_id, turn_idx, role, coalesce(text, '') AS text,
                     CASE WHEN lag(turn_idx) OVER w IS NULL
                            OR role IS DISTINCT FROM lag(role) OVER w
                          THEN 1 ELSE 0 END AS flag
              FROM read_parquet('{ensure_transcripts("t2")}')
              WINDOW w AS (PARTITION BY conv_id ORDER BY turn_idx)
            ), r AS (
              SELECT conv_id, turn_idx, role, text,
                     sum(flag) OVER (PARTITION BY conv_id
                                     ORDER BY turn_idx) AS run
              FROM f
            )
            SELECT conv_id, CAST(run - 1 AS INT) AS idx, min(role) AS role,
                   string_agg(text, chr(10) ORDER BY turn_idx) AS text,
                   CAST(count(*) AS BIGINT) AS n
            FROM r GROUP BY conv_id, run
            """,
        ),
        (
            "truncate",
            f"""
            SELECT conv_id, CAST(turn_idx AS INT) AS idx, role, text,
                   CAST(cum AS BIGINT) AS n
            FROM (
              SELECT conv_id, turn_idx, role, text,
                     sum(greatest(1, CAST(floor(
                           length(coalesce(text, '')) / 4) AS BIGINT)))
                       OVER (PARTITION BY conv_id ORDER BY turn_idx
                             ROWS UNBOUNDED PRECEDING) AS cum
              FROM read_parquet('{ensure_transcripts("t2")}')
            ) WHERE cum <= 200
            """,
        ),
        (
            "protocol",
            # independent window re-derivation of the three repair rules
            f"""
            WITH known AS (
              SELECT conv_id, turn_idx, role, text
              FROM read_parquet('{ensure_transcripts("t2")}')
              WHERE role IN ('system', 'user', 'assistant', 'tool')
            ), anchored AS (
              SELECT * FROM (
                SELECT conv_id, turn_idx, role, text,
                       min(CASE WHEN role IN ('system', 'user')
                                THEN turn_idx END)
                         OVER (PARTITION BY conv_id) AS anchor
                FROM known
              ) WHERE turn_idx >= anchor
            ), runs AS (
              SELECT conv_id, turn_idx, role, text,
                     CASE WHEN lag(turn_idx) OVER w IS NULL
                            OR role <> lag(role) OVER w
                          THEN 1 ELSE 0 END AS flag,
                     lag(role) OVER w AS prev_role
              FROM anchored
              WINDOW w AS (PARTITION BY conv_id ORDER BY turn_idx)
            ), marked AS (
              SELECT conv_id, turn_idx, role, text,
                     sum(flag) OVER (PARTITION BY conv_id
                                     ORDER BY turn_idx) AS run,
                     CASE WHEN flag = 1 THEN prev_role END AS start_prev
              FROM runs
            ), kept AS (
              SELECT conv_id, turn_idx, role, text
              FROM (
                SELECT conv_id, turn_idx, role, text,
                       max(start_prev) OVER (PARTITION BY conv_id, run)
                         AS prev_run_role
                FROM marked
              )
              WHERE role <> 'tool' OR prev_run_role = 'assistant'
            )
            SELECT conv_id,
                   CAST(row_number() OVER (PARTITION BY conv_id
                                           ORDER BY turn_idx) - 1 AS INT)
                     AS idx,
                   role, text, CAST(turn_idx AS BIGINT) AS n
            FROM kept
            """,
        ),
        (
            "pseudo",
            # golden built by the single-node twin (tools/build_golden_misc
            # .py build_pseudonymize); Python-`re`-only semantics cannot run
            # in DuckDB's RE2 (lookaround guards), same policy as the scrub
            f"""
            SELECT conv_id, CAST(turn_idx AS INT) AS idx, role, text,
                   CAST(n_pseudo AS BIGINT) AS n
            FROM read_parquet('{DATA_DIR}/golden/t2/pseudonymize.parquet')
            """,
        ),
        (
            "retry",
            # independent window re-derivation of drop_retry_duplicates
            # over the same injected-retry input (null-safe role+text
            # compare against the predecessor, keep first of each run,
            # dense renumber)
            f"""
            WITH src AS (
              SELECT conv_id, turn_idx * 2 AS ti, role, text
              FROM read_parquet('{ensure_transcripts("t2")}')
              UNION ALL
              SELECT conv_id, turn_idx * 2 + 1, role, text
              FROM read_parquet('{ensure_transcripts("t2")}')
              WHERE turn_idx % 7 = 3
            ), k AS (
              SELECT conv_id, ti, role, text,
                     (role IS NOT DISTINCT FROM lag(role) OVER w)
                     AND (text IS NOT DISTINCT FROM lag(text) OVER w) AS dup
              FROM src WINDOW w AS (PARTITION BY conv_id ORDER BY ti)
            )
            SELECT conv_id,
                   CAST(row_number() OVER (PARTITION BY conv_id
                                           ORDER BY ti) - 1 AS INT) AS idx,
                   role, text, CAST(ti AS BIGINT) AS n
            FROM k WHERE NOT dup
            """,
        ),
        (
            "episodes",
            # split_episodes re-derived: same deterministic ts reshaping
            # (quadratic offset mod 7200, turn_idx%5==2 nulled), episode
            # boundary when the gap from the last NON-NULL ts exceeds
            # 900 s, running-sum label
            f"""
            WITH src AS (
              SELECT conv_id, turn_idx, role, text,
                     CASE WHEN turn_idx % 5 <> 2
                          THEN CAST(epoch(ts) AS BIGINT)
                               + (CAST(turn_idx AS BIGINT) * turn_idx * 977) % 7200
                     END AS cur
              FROM read_parquet('{ensure_transcripts("t2")}')
            ), st AS (
              SELECT conv_id, turn_idx, role, text, cur,
                     last_value(cur IGNORE NULLS) OVER (
                       PARTITION BY conv_id ORDER BY turn_idx
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                       AS prev
              FROM src
            )
            SELECT conv_id, CAST(turn_idx AS INT) AS idx, role, text,
                   CAST(sum(CASE WHEN prev IS NOT NULL AND cur IS NOT NULL
                                      AND cur - prev > 900
                                 THEN 1 ELSE 0 END)
                        OVER (PARTITION BY conv_id ORDER BY turn_idx
                              ROWS UNBOUNDED PRECEDING) AS BIGINT) AS n
            FROM st
            """,
        ),
        (
            "sft",
            # sft_pairs re-derived: 8 explicit lags of the rendered
            # 'role: text' line, concat_ws-joined oldest-first (both
            # engines' concat_ws skips NULLs and yields '' when all are)
            f"""
            WITH lines AS (
              SELECT conv_id, turn_idx, role,
                     coalesce(role, '') || ': ' || coalesce(text, '')
                       AS line
              FROM read_parquet('{ensure_transcripts("t2")}')
            ), ctx AS (
              SELECT conv_id, turn_idx, role,
                     lag(line, 8) OVER w AS l8, lag(line, 7) OVER w AS l7,
                     lag(line, 6) OVER w AS l6, lag(line, 5) OVER w AS l5,
                     lag(line, 4) OVER w AS l4, lag(line, 3) OVER w AS l3,
                     lag(line, 2) OVER w AS l2, lag(line, 1) OVER w AS l1
              FROM lines
              WINDOW w AS (PARTITION BY conv_id ORDER BY turn_idx)
            )
            SELECT conv_id, CAST(turn_idx AS INT) AS idx,
                   'assistant' AS role,
                   concat_ws(chr(10), l8, l7, l6, l5, l4, l3, l2, l1)
                     AS text,
                   CAST(CAST(l8 IS NOT NULL AS INT)
                        + CAST(l7 IS NOT NULL AS INT)
                        + CAST(l6 IS NOT NULL AS INT)
                        + CAST(l5 IS NOT NULL AS INT)
                        + CAST(l4 IS NOT NULL AS INT)
                        + CAST(l3 IS NOT NULL AS INT)
                        + CAST(l2 IS NOT NULL AS INT)
                        + CAST(l1 IS NOT NULL AS INT) AS BIGINT) AS n
            FROM ctx WHERE role = 'assistant'
            """,
        ),
        (
            "pref",
            # preference_pairs best_vs_rest re-derived: per-conversation
            # argmax over (score DESC, cand_id ASC) of assistant turns
            # scored by char length, paired against every other scored
            # candidate
            f"""
            WITH cand AS (
              SELECT conv_id, turn_idx AS cand_id, text,
                     CAST(length(text) AS DOUBLE) AS score
              FROM read_parquet('{ensure_transcripts("t2")}')
              WHERE role = 'assistant' AND text IS NOT NULL
            ), sel AS (
              SELECT conv_id,
                     first(cand_id ORDER BY score DESC, cand_id ASC)
                       AS c_id,
                     first(text ORDER BY score DESC, cand_id ASC)
                       AS c_text,
                     first(score ORDER BY score DESC, cand_id ASC)
                       AS c_score
              FROM cand GROUP BY conv_id
            )
            SELECT c.conv_id, CAST(c.cand_id AS INT) AS idx,
                   'pair' AS role, s.c_text AS text,
                   CAST(s.c_id AS BIGINT) AS n
            FROM cand c JOIN sel s USING (conv_id)
            WHERE c.cand_id <> s.c_id AND s.c_score - c.score >= 0
            """,
        ),
    )
    o["sample_audit_docs"] = tagged(
        ("hash1", f"SELECT doc_id FROM ({b['hash_sample_docs']})"),
        ("strat5", f"SELECT doc_id FROM ({b['stratified_sample_docs']})"),
    )
    o["validate_t2"] = (
        f'SELECT \'verdicts\' AS config, "check", ok, n,'
        f" CAST(NULL AS DOUBLE) AS v FROM ({b['validate_t2']})"
        "\nUNION ALL\n"
        f'SELECT \'structure\' AS config, "check", violations = 0 AS ok,'
        f" violations AS n, CAST(NULL AS DOUBLE) AS v"
        f" FROM ({b['validate_structure_t2']})"
        "\nUNION ALL\n"
        # tool_usage_stats re-derived: latency = epoch gap to the turn a
        # tool answers (lag over ALL turns, then restrict to tool turns),
        # error = conservative failure-marker regex on the tool text
        + f"""
        SELECT config, "check", ok, n, v FROM (
          WITH lat AS (
            SELECT tool, role, conv_id, text,
                   epoch(ts) - lag(epoch(ts)) OVER (
                     PARTITION BY conv_id ORDER BY turn_idx) AS lat
            FROM read_parquet('{ensure_transcripts("t2")}')
          ), tl AS (
            SELECT tool, conv_id, lat,
                   coalesce(regexp_matches(text,
                     '(?i)\\b(error|exception|traceback|failed|timeout)\\b'),
                     FALSE) AS err
            FROM lat WHERE role = 'tool' AND tool IS NOT NULL
          ), agg AS (
            SELECT tool,
                   CAST(count(*) AS BIGINT) AS calls,
                   CAST(count(DISTINCT conv_id) AS BIGINT) AS convs,
                   round(avg(CAST(err AS INT)), 6) AS error_frac,
                   round(avg(lat), 3) AS mean_latency
            FROM tl GROUP BY tool
          )
          SELECT 'tools' AS config, tool AS "check",
                 coalesce(error_frac, 0) <= 0.5 AS ok, calls AS n,
                 error_frac AS v
          FROM agg
          UNION ALL
          SELECT 'tool_latency', tool, mean_latency IS NOT NULL, convs,
                 mean_latency
          FROM agg
        )
        """
        + "\nUNION ALL\n"
        # conversation_verdicts re-derived over the golden verdicts
        + f"""
        SELECT 'convroll' AS config, conv_id AS "check",
               CAST(kept_turns AS DOUBLE) / turns >= 0.5 AS ok,
               kept_turns AS n,
               round(CAST(kept_turns AS DOUBLE) / turns, 6) AS v
        FROM (
          SELECT conv_id, CAST(count(*) AS BIGINT) AS turns,
                 CAST(sum(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT)
                   AS kept_turns
          FROM read_parquet('{_golden_sql_path()}')
          GROUP BY conv_id
        )
        """
        + "\nUNION ALL\n"
        # lang_consistency re-derived: majority by (count DESC, lang ASC)
        + f"""
        SELECT 'langcons' AS config, conv_id || ':' || maj AS "check",
               n_langs = 1 AS ok, lang_turns AS n,
               round(CAST(maj_n AS DOUBLE) / lang_turns, 6) AS v
        FROM (
          WITH pl AS (
            SELECT conv_id, lang, CAST(count(*) AS BIGINT) AS c
            FROM read_parquet('{_golden_sql_path()}')
            WHERE lang IS NOT NULL GROUP BY conv_id, lang
          )
          SELECT conv_id,
                 first(lang ORDER BY c DESC, lang ASC) AS maj,
                 first(c ORDER BY c DESC, lang ASC) AS maj_n,
                 CAST(sum(c) AS BIGINT) AS lang_turns,
                 CAST(count(*) AS BIGINT) AS n_langs
          FROM pl GROUP BY conv_id
        )
        """
    )
    o["splits_and_tiers"] = (
        f"SELECT 'split' AS config, split AS key, docs AS n"
        f" FROM ({b['split_counts_docs']})"
        "\nUNION ALL\n"
        f"SELECT 'tier' AS config, k AS key, n FROM ("
        f"WITH t AS ({b['tier_splits_events']})"
        " SELECT 'tier_default' AS k, tier_default AS n FROM t"
        " UNION ALL SELECT 'tier_high', tier_high FROM t"
        " UNION ALL SELECT 'tier_supreme', tier_supreme FROM t)"
        "\nUNION ALL\n"
        # token-budget shard plan: the distributed prefix sum re-derived
        # as one ordered window (the oracle can afford a global sort)
        """
        SELECT 'shard' AS config, CAST(shard_id AS VARCHAR) AS key,
               count(*) AS n
        FROM (
          SELECT CAST(floor(cum_start / 5000) AS BIGINT) AS shard_id
          FROM (
            SELECT coalesce(sum(tok) OVER (
                     ORDER BY md5(CAST(doc_id AS VARCHAR))
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                   AS cum_start
            FROM (SELECT doc_id,
                         greatest(1, CAST(floor(
                             length(coalesce(text, '')) / 4) AS BIGINT))
                           AS tok
                  FROM documents)
          )
        ) GROUP BY shard_id
        """
        + "\nUNION ALL\n"
        + "\nUNION ALL\n".join(
            f"SELECT 'sweep' AS config, '{t}' AS key,"
            f" count(*) FILTER (WHERE value >= {t}) AS n FROM events"
            for t in _SWEEP_THRESHOLDS
        )
    )
    o["topk_groups"] = (
        f"SELECT 'doc_sources' AS config, source AS key, docs"
        f" FROM ({b['top_sources_docs']})"
        "\nUNION ALL\n"
        f"SELECT 'web_domains' AS config, domain AS key, docs"
        f" FROM ({b['domain_topk_web']})"
        "\nUNION ALL\n"
        # domain_blocklist_filter re-derived: url_host mirror (lowercase,
        # userinfo/port/trailing-dot stripped, '' -> NULL), parent-domain
        # suffix match as equality-or-dot-suffix per blocklist entry
        + f"""
        SELECT 'blocked_domains' AS config, key, docs FROM (
          WITH h AS (
            SELECT nullif(regexp_replace(regexp_replace(lower(
                     regexp_extract(url,
                       '^[a-zA-Z][a-zA-Z0-9+.-]*://(?:[^/?#@]*@)?([^/:?#]+)',
                       1)),
                     ':[0-9]+$', ''), '\\.$', ''), '') AS host
            FROM read_parquet('{_webdocs_sql_path()}')
          ), v AS (
            SELECT host,
                   host IS NOT NULL AND (
                     host = 'example.org' OR host LIKE '%.example.org'
                     OR host = 'cnn.com' OR host LIKE '%.cnn.com'
                     OR host = 'go.com' OR host LIKE '%.go.com')
                     AS blocked
            FROM h
          )
          SELECT host AS key, CAST(count(*) AS BIGINT) AS docs
          FROM v WHERE blocked GROUP BY host
          UNION ALL
          SELECT '__unblocked__', CAST(count(*) AS BIGINT)
          FROM v WHERE NOT blocked
        )
        """
    )

    # wide single-pass frames: joins / flat aggregates over the variants
    from fineweb_legal_spark.operators.textclean import oracle_clean_expr

    _dirty_sql = (
        f"{_sql_str(_DIRT_PREFIX)} || CAST(doc_id AS VARCHAR) || '\">'"
        f" || text || {_sql_str(_DIRT_SUFFIX)}"
    )
    o["doc_transforms_docs"] = f"""
        SELECT d.doc_id, d.char_length, d.word_count, t.tok_est, r.truncated,
               c.clean_text, c.clean_removed
        FROM ({b['derived_columns_docs']}) d
        JOIN ({b['token_estimate_docs']}) t USING (doc_id)
        JOIN ({b['truncate_docs']}) r ON r.doc_id = d.doc_id
        JOIN (
            SELECT doc_id, {oracle_clean_expr(_dirty_sql)} AS clean_text,
                   length({_dirty_sql})
                     - length({oracle_clean_expr(_dirty_sql)}) AS clean_removed
            FROM documents
        ) c ON c.doc_id = d.doc_id
    """
    o["corpus_totals_docs"] = (
        f"SELECT * FROM ({b['distinct_sources_docs']})"
        f" CROSS JOIN ({b['word_char_totals_docs']})"
    )
    # from-scratch SQL re-derivation of operators/knlm.py: interpolated
    # Kneser-Ney bigram LM (D=0.75, top-512 vocab, OOV -> chr(0)) fit on
    # the corpus, per-doc ppl = exp(-avg ln p); <2-token docs = 1.0
    kn_sql = """
        WITH lists AS (
          SELECT doc_id,
                 list_filter(regexp_split_to_array(lower(text),
                     '[ \t\n\r\f\x0b]+'), x -> x <> '') AS lst
          FROM documents WHERE text IS NOT NULL
        ),
        words AS (SELECT doc_id, unnest(lst) AS w FROM lists),
        vocab AS (
          SELECT w FROM (SELECT w, count(*) AS c FROM words GROUP BY w)
          ORDER BY c DESC, w LIMIT 512
        ),
        bi0 AS (
          SELECT doc_id,
                 unnest(lst[1:len(lst)-1]) AS w1,
                 unnest(lst[2:len(lst)]) AS w2
          FROM lists
        ),
        bi AS (
          SELECT doc_id,
                 CASE WHEN v1.w IS NULL THEN chr(0) ELSE b.w1 END AS m1,
                 CASE WHEN v2.w IS NULL THEN chr(0) ELSE b.w2 END AS m2
          FROM bi0 b LEFT JOIN vocab v1 ON v1.w = b.w1
                     LEFT JOIN vocab v2 ON v2.w = b.w2
        ),
        types AS (SELECT m1, m2, count(*) AS c12 FROM bi GROUP BY m1, m2),
        lft AS (SELECT m1, sum(c12) AS c1, count(*) AS n1p_left
                FROM types GROUP BY m1),
        rgt AS (SELECT m2, count(*) AS n1p_right FROM types GROUP BY m2),
        tot AS (SELECT count(*) AS n1p_all FROM types),
        prob AS (
          SELECT t.m1, t.m2,
                 (greatest(t.c12 - 0.75, 0.0)
                  + 0.75 * l.n1p_left
                    * (r.n1p_right / CAST(tot.n1p_all AS DOUBLE)))
                 / CAST(l.c1 AS DOUBLE) AS p
          FROM types t JOIN lft l USING (m1) JOIN rgt r USING (m2), tot
        ),
        scored AS (
          SELECT bi.doc_id, exp(-avg(ln(p.p))) AS ppl
          FROM bi JOIN prob p USING (m1, m2)
          GROUP BY bi.doc_id
        )
        SELECT d.doc_id, round(coalesce(s.ppl, 1.0), 4) AS kn_ppl
        FROM documents d LEFT JOIN scored s USING (doc_id)
    """
    o["text_analysis_docs"] = f"""
        SELECT l.doc_id, l.pred_lang, q.quality_score, f.fingerprint,
               t.ws_tokens, t.bpe_ish_tokens,
               s.alpha_word_frac, s.bullet_line_frac, s.ellipsis_line_frac,
               s.punct_line_frac, s.short_line_frac, s.newline_word_frac,
               bl.base64_frac, bl.hex_frac,
               kn.kn_ppl
        FROM ({b['langid_docs']}) l
        JOIN ({b['quality_score_docs']}) q USING (doc_id)
        JOIN ({b['fingerprint_docs']}) f ON f.doc_id = l.doc_id
        JOIN ({b['token_counts_docs']}) t ON t.doc_id = l.doc_id
        JOIN (
            SELECT doc_id,
                   CASE WHEN len(regexp_extract_all(text, '\\S+')) > 0 THEN
                     round(CAST(len(regexp_extract_all(text,
                               '\\S*[A-Za-z]\\S*')) AS DOUBLE)
                           / len(regexp_extract_all(text, '\\S+')), 6)
                   END AS alpha_word_frac,
                   round(CAST(len(regexp_extract_all(text,
                             '(?m)^[ \\t]*[-•*]')) AS DOUBLE)
                         / len(string_split(text, chr(10))), 6)
                       AS bullet_line_frac,
                   round(CAST(len(regexp_extract_all(text,
                             '(?m)(\\.\\.\\.|…)[ \\t]*$')) AS DOUBLE)
                         / len(string_split(text, chr(10))), 6)
                       AS ellipsis_line_frac,
                   round(CAST(len(regexp_extract_all(text,
                             '(?m)[.!?"''][ \\t]*$')) AS DOUBLE)
                         / len(string_split(text, chr(10))), 6)
                       AS punct_line_frac,
                   round(CAST(len(string_split(text, chr(10)))
                          - len(regexp_extract_all(text,
                                '(?m)^.{{30,}}')) AS DOUBLE)
                         / len(string_split(text, chr(10))), 6)
                       AS short_line_frac,
                   CASE WHEN len(regexp_extract_all(text, '\\S+')) > 0 THEN
                     round(CAST(len(string_split(text, chr(10))) - 1
                                AS DOUBLE)
                           / len(regexp_extract_all(text, '\\S+')), 6)
                   END AS newline_word_frac
            FROM documents
        ) s ON s.doc_id = l.doc_id
        JOIN ({kn_sql}) kn ON kn.doc_id = l.doc_id
        JOIN (
            -- blob_signals run fractions: total chars inside long
            -- base64-ish / hex-ish runs over total chars
            SELECT doc_id,
                   CASE WHEN text IS NOT NULL THEN
                     round(CAST(coalesce(list_sum(list_transform(
                               regexp_extract_all(text,
                                   '[A-Za-z0-9+/=]{{48,}}'),
                               x -> length(x))), 0) AS DOUBLE)
                           / greatest(length(text), 1), 6)
                   END AS base64_frac,
                   CASE WHEN text IS NOT NULL THEN
                     round(CAST(coalesce(list_sum(list_transform(
                               regexp_extract_all(text,
                                   '[0-9a-fA-F]{{32,}}'),
                               x -> length(x))), 0) AS DOUBLE)
                           / greatest(length(text), 1), 6)
                   END AS hex_frac
            FROM documents
        ) bl ON bl.doc_id = l.doc_id
    """
    o["json_softmax_events"] = f"""
        SELECT j.event_id, j.k, s.score, s.label, s.is_legal
        FROM ({b['json_extract_events']}) j
        JOIN ({b['softmax_score_events']}) s USING (event_id)
    """
    o["window_events"] = """
        SELECT user_id, rn, event_id, gap_s FROM (
          SELECT user_id, event_id,
                 row_number() OVER (PARTITION BY user_id
                                    ORDER BY ts, event_id) AS rn,
                 CAST(floor(epoch(ts)) AS BIGINT)
                 - lag(CAST(floor(epoch(ts)) AS BIGINT)) OVER (
                     PARTITION BY user_id ORDER BY ts, event_id) AS gap_s
          FROM events
        ) WHERE rn <= 3
    """
    o["value_stats_events"] = """
        SELECT round(min(value), 4) AS v_min,
               round(max(value), 4) AS v_max,
               round(avg(value), 4) AS v_avg,
               round(stddev_samp(value), 4) AS v_std,
               round(quantile_cont(value, 0.50), 4) AS p50,
               round(quantile_cont(value, 0.75), 4) AS p75,
               round(quantile_cont(value, 0.90), 4) AS p90,
               round(quantile_cont(value, 0.95), 4) AS p95,
               round(quantile_cont(value, 0.99), 4) AS p99,
               round(quantile_disc(value, 0.50), 4) AS ap50,
               round(quantile_disc(value, 0.75), 4) AS ap75,
               round(quantile_disc(value, 0.90), 4) AS ap90,
               round(quantile_disc(value, 0.95), 4) AS ap95,
               round(quantile_disc(value, 0.99), 4) AS ap99,
               count(DISTINCT user_id) AS n_users_exact,
               TRUE AS hll_within_band
        FROM events
    """
    o["scrub_repeated_spans_docs"] = """
        WITH words AS (
          SELECT doc_id,
                 list_filter(
                     regexp_split_to_array(lower(text), '[ \t\n\r\f\x0b]+'),
                     x -> x <> '') AS w
          FROM documents WHERE text IS NOT NULL
        ),
        grams AS (
          SELECT doc_id, i AS pos, array_to_string(w[i : i + 7], ' ') AS gram
          FROM (SELECT doc_id, w, unnest(generate_series(1, len(w) - 7)) AS i
                FROM words WHERE len(w) >= 8)
        ),
        common AS (
          SELECT gram FROM (
            SELECT gram, count(DISTINCT doc_id) AS df_ FROM grams GROUP BY gram
          ) WHERE df_ >= 2
        ),
        hits AS (
          SELECT DISTINCT g.doc_id, g.pos FROM grams g JOIN common USING (gram)
        ),
        masked AS (
          SELECT DISTINCT doc_id, widx FROM (
            SELECT doc_id, unnest(generate_series(pos, pos + 7)) AS widx
            FROM hits
          )
        ),
        tok AS (
          SELECT doc_id, unnest(w) AS word,
                 unnest(generate_series(1, len(w))) AS idx
          FROM words
        ),
        kept AS (
          SELECT t.doc_id,
                 coalesce(string_agg(t.word, ' ' ORDER BY t.idx)
                          FILTER (m.widx IS NULL), '') AS clean_text,
                 CAST(count(*) FILTER (m.widx IS NOT NULL) AS INTEGER)
                     AS n_masked
          FROM tok t LEFT JOIN masked m
            ON m.doc_id = t.doc_id AND m.widx = t.idx
          GROUP BY t.doc_id
        )
        SELECT d.doc_id,
               CASE WHEN d.text IS NULL THEN NULL
                    ELSE coalesce(k.clean_text, '') END AS clean_text,
               CAST(coalesce(k.n_masked, 0) AS INTEGER) AS n_masked
        FROM documents d LEFT JOIN kept k ON k.doc_id = d.doc_id
    """
    o["dedup_clusters_t1"] = f"""
        WITH cl AS ({b['dedup_clusters_t1']}),
        q AS (
          SELECT conv_id || '#' || printf('%06d', turn_idx) AS id,
                 greatest(1, CAST(floor(length(text) / 4) AS BIGINT)) AS tok
          FROM read_parquet('{ensure_transcripts("t1")}')
          WHERE text IS NOT NULL
        ),
        w AS (
          SELECT cl.cluster_id, cl.id, q.tok,
                 row_number() OVER (PARTITION BY cl.cluster_id
                                    ORDER BY q.tok DESC, cl.id DESC) AS rn
          FROM cl JOIN q USING (id)
        )
        SELECT cluster_id, count(*) AS n_members,
               count(*) - 1 AS n_removed,
               md5(string_agg(id, ',' ORDER BY id)) AS members_md5,
               max(CASE WHEN rn = 1 THEN id END) AS keep_id
        FROM w GROUP BY cluster_id
    """
    o["media_audit"] = f"""
        WITH m AS ({b['media_meta']}),
        e AS ({b['media_embeddings']}),
        f AS (
          SELECT media_id,
                 count(*) AS n_frames_sampled,
                 CAST(sum(frame_bytes) AS BIGINT) AS frames_bytes,
                 CAST(sum(CAST(round(frame_mean * 10000) AS BIGINT))
                      AS BIGINT) AS frame_mean_e4
          FROM ({b['media_frame_sample']}) GROUP BY media_id
        )
        SELECT m.media_id, m.kind, m.width, m.height, m.channels, m.frames,
               m.n_bytes, e.emb_csv,
               coalesce(f.n_frames_sampled, 0) AS n_frames_sampled,
               coalesce(f.frames_bytes, 0) AS frames_bytes,
               coalesce(f.frame_mean_e4, 0) AS frame_mean_e4
        FROM m JOIN e USING (media_id) LEFT JOIN f USING (media_id)
    """
    return o
