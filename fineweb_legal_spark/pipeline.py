"""The transcript quality-filter pipeline, Spark-first.

Stage layout (north_rule; reference lifecycle analog SURVEY.md §3.1):

1. heuristic rules        — native Column expressions only (whole-stage
                            codegen, zero Python in the hot path)
2. conversation stats     — two-phase salted aggregation (skew-safe for the
                            giant-conversation case, SURVEY.md P16)
3. model stage            — ONE scalar Arrow UDF over heuristic survivors'
                            text (``model_stage``): language-ID +
                            perplexity with broadcast numpy artifacts, plus
                            PII/profanity scrub and the dedup-normalization
                            hash (Python ``re``/hashlib for byte-exact
                            oracle parity); no other column crosses into
                            Python
4. dedup                  — window over the norm hash, winner =
                            min(conv_id, turn_idx)  [deterministic "first"]
5. verdict assembly       — union of heuristic rejects + scored survivors

Reference analogs: filter chain scripts/stream_filter_stage1.py:190-224,
model stage scripts/model_inference_stage2_cuda.py:232-303 (broadcast-once,
batch-vectorized), dedup src/fineweb_legal/storage.py:33-36 +
scripts/consolidate_and_clean.py:66-81.
"""

from __future__ import annotations

from typing import TYPE_CHECKING

import pandas as pd
from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from . import spec
from .artifacts import get_artifacts
from .scrub import scrub_text
from .textstats import norm_hash

if TYPE_CHECKING:
    from .artifacts import ModelArtifacts

# salt fan-out for the conversation-stats partial aggregation; one
# 10^8-turn conversation spreads over this many partial groups first.
CONV_SALT = 16


# explicit ASCII whitespace (same class as textstats.WS_CLASS; Java and
# Python `re` agree byte-for-byte on it, unlike bare \s)
_WS = "[ \t\n\r\f\x0b]"
_STOP_RX = "(?<= )(?:" + "|".join(sorted(spec.STOPWORDS)) + ")(?= )"


def _norm_ws(text: Column) -> Column:
    """Whitespace-normalized text: runs collapsed to single spaces, edges
    trimmed. length(norm) and space counts then give word stats in O(n)
    string ops — no array allocation, full whole-stage codegen.

    Deliberately avoids lambda higher-order functions (transform/filter/
    aggregate): those are CodegenFallback in Spark — interpreted per-element
    closures measured ~1000x slower here, plus ~80s Janino compile time for
    the collapsed projection.
    """
    return F.regexp_replace(F.regexp_replace(text, _WS + "+", " "), "^ | $", "")


def _let(df: DataFrame, **cols: Column) -> DataFrame:
    """Bind expressions to names behind a generator barrier.

    ``explode(array(struct(...)))`` is a deliberate one-row Generate:
    Catalyst's CollapseProject would otherwise inline every bound expression
    into each downstream reference, recomputing the regex/array work ~10x
    per row and blowing generated-code size (measured ~100s of Janino
    compile + ~0.4ms/row). Generate output is an attribute boundary, so
    each expression is evaluated exactly once per row and downstream refs
    are O(1) field reads. Row count is preserved (single-element array) and
    GenerateExec participates in whole-stage codegen.
    """
    s = F.struct(*[c.alias(k) for k, c in cols.items()])
    return df.select("*", F.explode(F.array(s)).alias("_l")).select("*", "_l.*").drop(
        "_l"
    )


def heuristic_features(df: DataFrame) -> DataFrame:
    """Per-turn features as pure Column expressions (no UDFs, no lambdas).

    Definitions mirror fineweb_legal_spark.textstats exactly:
    - words = maximal non-whitespace runs
    - word-length sum = len(norm) - (word_count - 1)   [norm has single
      spaces between words, so total chars minus separators]
    - lines = '\\n'-split segments trimmed of [ \\t], empties dropped
    """
    text = F.col("text")

    # layer 1: normalized strings (each regex chain evaluated once per row)
    lclean = F.regexp_replace(text, "[ \t]*\n[ \t]*", "\n")
    lclean = F.regexp_replace(lclean, "^[ \t]+|[ \t]+$", "")
    lclean = F.regexp_replace(lclean, "\n{2,}", "\n")
    lclean = F.regexp_replace(lclean, "^\n+|\n+$", "")
    df = _let(df, _norm=_norm_ws(text), _lclean=lclean)

    # layer 2: token/line arrays and raw counts. One shared lower(norm)
    # and ONE split serve word_count, stop_count and the distinct-word
    # array (round 6: the old layer lowered norm twice and split twice —
    # split(norm) and split(lower(norm)) have identical element COUNTS,
    # since lowercasing never creates or removes a space, so word_count
    # can read size(_lower_words)).
    norm, lc = F.col("_norm"), F.col("_lclean")
    df = _let(df, _lnorm=F.lower(norm))
    lnorm = F.col("_lnorm")
    df = _let(
        df,
        n_chars=F.length(text),
        _lower_words=F.split(lnorm, " "),
        _lines=F.split(lc, "\n"),
        symbol_count=F.length(text)
        - F.length(F.regexp_replace(text, spec.SYMBOL_CLASS_RE, "")),
        stop_count=F.when(norm == "", F.lit(0)).otherwise(
            F.size(
                F.regexp_extract_all(
                    F.concat(F.lit(" "), lnorm, F.lit(" ")),
                    F.lit(_STOP_RX),
                    0,
                )
            )
        ),
    )
    df = _let(
        df,
        word_count=F.when(norm == "", F.lit(0)).otherwise(
            F.size(F.col("_lower_words"))
        ),
    )

    # layer 3: derived ratios (all inputs are plain attributes now)
    wc = F.col("word_count")
    line_count = F.when(lc == "", F.lit(0)).otherwise(F.size(F.col("_lines")))
    df = _let(
        df,
        mean_word_len=F.when(
            wc > 0, (F.length(norm) - (wc - F.lit(1))).cast("double") / wc
        ),
        distinct_word_ratio=F.when(
            wc > 0, F.size(F.array_distinct(F.col("_lower_words"))).cast("double") / wc
        ),
        line_count=line_count,
        dup_line_fraction=F.when(
            line_count > 0,
            F.lit(1.0)
            - F.size(F.array_distinct(F.col("_lines"))).cast("double") / line_count,
        ),
    )
    return df.drop("_norm", "_lclean", "_lnorm", "_lower_words", "_lines")


def conversation_stats(df: DataFrame) -> DataFrame:
    """(conv_id, conv_mean_words) via salted two-phase aggregation.

    Phase 1 groups on (conv_id, salt) so a single giant conversation fans
    out across `CONV_SALT` partial groups before the tiny phase-2 merge —
    the P16 skew pattern. Integer sums keep the final double division
    bit-identical to the pandas oracle's mean.
    """
    # word count WITHOUT building the normalized string: words are the
    # maximal non-whitespace runs of the raw text (normalization collapses
    # whitespace but never merges or splits words), so ONE
    # regexp_extract_all pass replaces the two-regex norm chain + split
    # (round 6: 2.6 -> ~1.3 s of the conv-stats phase at 2M rows).
    # size(NULL array) is NULL (legacy sizeOfNull off), so the coalesce
    # keeps null-text turns at 0 exactly as before.
    wc = F.coalesce(
        F.size(F.regexp_extract_all(F.col("text"), F.lit("[^ \t\n\r\f\x0b]+"), 0)),
        F.lit(0),
    ).cast("long")
    partial = (
        df.select("conv_id", (F.col("turn_idx") % CONV_SALT).alias("_salt"), wc.alias("_wc"))
        .groupBy("conv_id", "_salt")
        .agg(F.sum("_wc").alias("_s"), F.count(F.lit(1)).alias("_n"))
    )
    return partial.groupBy("conv_id").agg(
        (F.sum("_s").cast("double") / F.sum("_n")).alias("conv_mean_words")
    )


def heuristic_reason_col() -> Column:
    """First-failing-stage reason as one short-circuiting when-cascade."""
    text = F.col("text")
    n = F.col("n_chars")
    wc = F.col("word_count")
    mwl = F.col("mean_word_len")
    return (
        F.when(
            text.isNull()
            | (n < spec.MIN_TURN_CHARS)
            | (n > spec.MAX_TURN_CHARS),
            F.lit("length"),
        )
        .when(F.col("conv_mean_words") < spec.MIN_CONV_MEAN_WORDS, F.lit("conv_stats"))
        .when(
            (wc < spec.MIN_TURN_WORDS)
            | (wc > spec.MAX_TURN_WORDS)
            | mwl.isNull()
            | (mwl < spec.MIN_MEAN_WORD_LEN)
            | (mwl > spec.MAX_MEAN_WORD_LEN),
            F.lit("word_stats"),
        )
        .when(
            (wc >= spec.STOPWORD_MIN_WORDS)
            & ((F.col("stop_count").cast("double") / wc) < spec.MIN_STOPWORD_RATIO),
            F.lit("stopword_ratio"),
        )
        .when(
            (
                (F.col("line_count") >= spec.REPETITION_MIN_LINES)
                & (F.col("dup_line_fraction") > spec.MAX_DUP_LINE_FRACTION)
            )
            | (
                (wc >= spec.REPETITION_MIN_WORDS)
                & (F.col("distinct_word_ratio") < spec.MIN_DISTINCT_WORD_RATIO)
            ),
            F.lit("repetition"),
        )
        .when(
            (F.col("symbol_count").cast("double") / n) > spec.MAX_SYMBOL_RATIO,
            F.lit("symbol_ratio"),
        )
    )


_MODEL_STRUCT = (
    "struct<reason:string,lang:string,ppl_bucket:int,norm_key:string,"
    "scrubbed_text:string>"
)


def model_stage(spark: SparkSession, heur: DataFrame, *keep: str) -> DataFrame:
    """(*keep, reason0, lang, ppl_bucket, norm_key, scrubbed_text) over the
    heuristic verdict frame (``text`` and ``heur_reason`` columns): ONE
    scalar Arrow UDF scores language-ID and perplexity with the broadcast
    artifacts (loaded once per task, the D2 pattern), then scrubs and
    hashes the survivors; ``reason0`` is the heuristic reason, else the
    model's.

    Every row passes through (one linear dataflow: a union of filtered
    branches would recompute the UDF per branch), but only the text
    crosses into Python, and only a heuristic survivor's: rejects send a
    null, so they cost no Arrow string bytes and no PyObject. ``keep``
    columns stay in the JVM row."""
    bc = spark.sparkContext.broadcast(get_artifacts())

    @F.pandas_udf(_MODEL_STRUCT)
    def model_kernel(text: pd.Series) -> pd.DataFrame:
        arts: ModelArtifacts = bc.value
        texts = text.tolist()
        n = len(texts)
        reasons: list[str | None] = [None] * n
        langs: list[str | None] = [None] * n
        buckets: list[int | None] = [None] * n
        norms: list[str | None] = [None] * n
        scrubbed: list[str | None] = [None] * n
        surv_idx = [i for i, t in enumerate(texts) if t is not None]
        if surv_idx:
            surv_texts = [texts[i] for i in surv_idx]
            # vectorized across the whole Arrow batch (one numpy pass)
            pl = arts.predict_lang_batch(surv_texts)
            pp = arts.perplexity_batch(surv_texts)
            for j, i in enumerate(surv_idx):
                langs[i] = pl[j]
                buckets[i] = arts.ppl_bucket(float(pp[j]))
                if pl[j] != spec.LANGID_KEEP_LANG:
                    reasons[i] = "lang"
                elif pp[j] > spec.PPL_MAX:
                    reasons[i] = "perplexity"
                else:
                    norms[i] = norm_hash(surv_texts[j])
                    scrubbed[i] = scrub_text(surv_texts[j])
        return pd.DataFrame(
            {
                "reason": reasons,
                "lang": langs,
                "ppl_bucket": pd.array(buckets, dtype="Int32"),
                "norm_key": norms,
                "scrubbed_text": scrubbed,
            }
        )

    m = model_kernel(F.when(F.col("heur_reason").isNull(), F.col("text")))
    return heur.select(
        *keep,
        F.coalesce(F.col("heur_reason"), m["reason"]).alias("reason0"),
        *[m[c].alias(c) for c in ("lang", "ppl_bucket", "norm_key", "scrubbed_text")],
    )


def run_pipeline(
    spark: SparkSession,
    transcripts: DataFrame,
    exclude_keys: DataFrame | None = None,
    include_norm_key: bool = False,
    slim_dedup: bool = True,
) -> DataFrame:
    """Full verdict frame: (conv_id, turn_idx, keep, reject_reason,
    scrubbed_text, lang, ppl_bucket) — the golden_verdicts schema.

    ``exclude_keys`` (a DataFrame with a ``norm_key`` column) is the
    committed-hash registry for resumable runs (reference J1 anti-join,
    storage.py:81-129): any turn whose normalized-text hash is already
    committed becomes a 'duplicate'. With groups processed from an empty
    registry this reproduces the uninterrupted global dedup exactly.
    ``include_norm_key`` keeps the hash column in the output (the lineage
    writer persists it so later runs can rebuild the registry from
    committed data alone).

    ``slim_dedup`` picks the dedup physical strategy:

    - True (default): the scored frame is persisted once per execution and
      the dedup EXCHANGE carries only (norm_key, conv_id, turn_idx) —
      ~40 bytes/row instead of the scrubbed text of every kept candidate
      (~156 MB -> ~20 MB shuffle write at 2M turns). Losing rows (second+
      occurrence of a norm_key) come back as a broadcast hash-join on
      (conv_id, turn_idx). Scale notes: the loser set is bounded by the
      corpus duplicate count; for web corpora with modest near-exact dup
      rates (the fineweb-legal regime: single-digit %) it broadcasts fine.
      At 10^12 turns with a high dup rate, swap the broadcast for a shuffle
      join against the Iceberg table bucketed by conv_id (storage-
      partitioned join, decisions-side-only exchange), or fall back to
      slim_dedup=False. The persist stands in for what a production run
      gets for free: the lineage path already materializes the scored
      output per partition before committing.
    - False: classic single-dataflow window — one exchange hash-partitioned
      on the norm key carrying all verdict columns (the kept corpus crosses
      the wire once). Preferable when the duplicate rate is unbounded or
      executor storage for the persist is not available.

    The returned DataFrame exposes ``_fineweb_persisted`` (list of
    intermediate frames persisted by slim_dedup) so benchmark harnesses can
    unpersist/re-persist between steady-state repetitions; normal callers
    can ignore it (the cache is dropped with the session)."""
    conv = conversation_stats(transcripts)
    feats = heuristic_features(transcripts.select("conv_id", "turn_idx", "text"))
    # conv is 1 row per conversation — orders of magnitude smaller than the
    # turn table, so broadcast-join it back (without the hint the planner
    # picked a sort-merge join that shuffled + sorted the FULL turn table
    # including text). At 10^12-turn scale, where even the conv table is
    # huge, the input would be bucket-partitioned by conv_id in Iceberg and
    # this becomes a storage-partitioned join (still no full-data shuffle).
    heur = feats.join(F.broadcast(conv), "conv_id").withColumn(
        "heur_reason", heuristic_reason_col()
    )

    # ONE linear dataflow: every row flows scan -> heuristics -> model UDF
    # (passthrough for heuristic rejects) -> dedup window -> projection.
    scored = model_stage(spark, heur, "conv_id", "turn_idx")

    # dedup: deterministic "first" = min (conv_id, turn_idx) per norm_key.
    persisted: list[DataFrame] = []
    if slim_dedup:
        # Slim-exchange strategy: persist scored once (both consumers below
        # read the cache, so the model UDF runs exactly once), window over
        # the three key columns only, and bring the loser decisions back as
        # a broadcast join — the dedup exchange never carries text. The
        # committed-registry check (resume path) also runs against the slim
        # frame, so the registry exchange carries keys + coordinates only.
        from pyspark.storagelevel import StorageLevel

        scored = scored.persist(StorageLevel.MEMORY_AND_DISK)
        persisted.append(scored)
        slim = scored.filter(F.col("norm_key").isNotNull()).select(
            "norm_key", "conv_id", "turn_idx"
        )
        w = Window.partitionBy("norm_key").orderBy("conv_id", "turn_idx")
        dup_rows = (
            slim.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") > 1)
            .select("conv_id", "turn_idx")
        )
        if exclude_keys is not None:
            committed = slim.join(
                exclude_keys.select("norm_key").distinct(), "norm_key"
            ).select("conv_id", "turn_idx")
            dup_rows = dup_rows.unionByName(committed).distinct()
        dup_rows = dup_rows.withColumn("_dup", F.lit(True))
        deduped = scored.join(
            F.broadcast(dup_rows), ["conv_id", "turn_idx"], "left"
        )
        dup_flag = F.coalesce(F.col("_dup"), F.lit(False))
    else:
        if exclude_keys is not None:
            registry = exclude_keys.select("norm_key").distinct().withColumn(
                "_committed", F.lit(True)
            )
            scored = scored.join(registry, "norm_key", "left")
        else:
            scored = scored.withColumn(
                "_committed", F.lit(None).cast("boolean")
            )
        # Classic single-dataflow window. Rows without a hash (rejects) get
        # a synthetic singleton key so one window covers everything without
        # funneling all null keys into a single partition (serial-sort
        # skew) and without branching the plan.
        wkey = F.coalesce(
            F.col("norm_key"),
            F.concat(F.lit("\x00"), "conv_id", F.lit("#"), "turn_idx"),
        )
        w = Window.partitionBy(wkey).orderBy("conv_id", "turn_idx")
        deduped = scored
        dup_flag = F.col("_committed") | (F.row_number().over(w) > 1)
    deduped = deduped.withColumn(
        "reject_reason",
        F.coalesce(F.col("reason0"), F.when(dup_flag, F.lit("duplicate"))),
    )
    extra = ["norm_key"] if include_norm_key else []
    out = deduped.select(
        "conv_id",
        "turn_idx",
        F.col("reject_reason").isNull().alias("keep"),
        "reject_reason",
        F.when(F.col("reject_reason").isNull(), F.col("scrubbed_text")).alias(
            "scrubbed_text"
        ),
        "lang",
        "ppl_bucket",
        *extra,
    )
    out._fineweb_persisted = persisted  # noqa: SLF001 — bench unpersist hook
    return out


def stage_metrics(verdicts: DataFrame) -> DataFrame:
    """Per-stage keep/drop counts (reference A1/A3 analog)."""
    return (
        verdicts.groupBy(F.coalesce("reject_reason", F.lit("kept")).alias("stage"))
        .agg(F.count(F.lit(1)).alias("turns"))
        .orderBy("stage")
    )


def ppl_histogram(verdicts: DataFrame) -> DataFrame:
    """Perplexity-bucket histogram over scored turns (metrics table)."""
    return (
        verdicts.filter(F.col("ppl_bucket").isNotNull())
        .groupBy("ppl_bucket")
        .agg(F.count(F.lit(1)).alias("turns"))
        .orderBy("ppl_bucket")
    )
