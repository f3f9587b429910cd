"""Regenerate docs/PLANS.md: formatted physical plans of representative
queries with a per-plan Exchange (shuffle) inventory.

The point is auditability: every shuffle in a headline plan should be
there on purpose. The generated file is a checked-in snapshot; re-run
this script after plan-affecting changes.

Usage: python tools/dump_plans.py
"""

from __future__ import annotations

import re
import sys
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))

SF_DIR = "/root/testdata/sf0.01"

# query -> one-line "why this plan is the one you'd ship" commentary
PICKS = {
    "pipeline_verdicts": (
        "The flagship: scan -> codegen'd heuristics -> broadcast conv-stats "
        "join -> ONE Arrow model stage (a scalar Arrow UDF: only the "
        "survivors' text crosses into Python) -> persisted scored frame -> SLIM "
        "dedup (round 3): the norm_key hash exchange carries only "
        "(norm_key, conv_id, turn_idx) — never text — and loser decisions "
        "broadcast back onto the cached frame. Shuffle inventory (7): the "
        "parallel.widen RoundRobin spread of the single-file t2 scan, once "
        "per scan branch at the session width (absent when the scan "
        "already has a split per slot), the salted partial + final "
        "conv-stats aggregations, the conv-stats BroadcastExchange, the "
        "3-column dedup hash exchange (156->35 MB at 2M turns), and the "
        "loser BroadcastExchange."
    ),
    "revenue_by_nation": (
        "3-table join: the nation dim must appear as BroadcastHashJoin; the "
        "orders-customer join shuffles once on the key."
    ),
    "minhash_neardup_t1": (
        "LSH candidate generation is a self equi-join on (band, band_hash) "
        "— a plain shuffle join AQE can skew-split; never an n^2 cross join."
    ),
    "sessionize_events": (
        "Two window passes + final agg, all partitioned by user_id: one "
        "shuffle, reused by both windows and the groupBy."
    ),
    "stratified_sample_docs": (
        "Hash-rank sampling: single shuffle for the per-source window; "
        "row_number then filter (no global sort)."
    ),
    "pq_ann_topk": (
        "Compressed-scan ANN: encode is a scalar Arrow UDF over the "
        "embedding (ArrowEvalPython; vec_id stays in the JVM row), then ONE "
        "MapInPandas ADC scan emitting only per-batch top-shortlist rows, "
        "with NO exchange between them; the global-cut window's exchange carries "
        "O(tasks x shortlist x queries) slim rows; exact re-rank joins the "
        "raw embeddings back for the shortlist only."
    ),
    "decontaminate_docs": (
        "Benchmark gram hashes broadcast (BroadcastHashJoin at the gram "
        "stream) - the corpus is never shuffled; only (doc, hits) pairs "
        "reach the count aggregation."
    ),
    "tfidf_top_terms_docs": (
        "One explode feeding two map-side-combinable aggregations (term "
        "doc-frequency and per-source tf) joined on the term; the "
        "exchanges carry term/doc and source/term pairs, never text; "
        "top-k per source is a small window after the join."
    ),
    "repetition_signals_docs": (
        "Gopher repetition family as tagged rows from ONE scan and ONE "
        "ArrowEvalPython: the family's kernel (textql.repetition_profile, "
        "ungated here: per Arrow batch, one crc32 per distinct word, "
        "Horner gram hashes over the flat word stream and one sort per n "
        "grouping every (document, gram) pair; one line Counter per "
        "document) returns every signal as a struct; a row-local "
        "explode of an array of tagged "
        "structs emits the top_gram, dup_gram, dup_line and cascade rows "
        "(the cascade verdict is the same JVM CASE builders as "
        "document_quality_cascade below, over the same struct). No Union, "
        "no MapInPandas; the one Exchange is the parallel.widen "
        "RoundRobin spread of the scan (absent when the scan already has "
        "a split per slot). A 2-exchange plan over exploded gram triples "
        "measured DYING at 10M rows — ~1.5B gram strings, sort-agg "
        "fallback, >70 GB spill, ENOSPC (BENCH.md round-5 stress)."
    ),
    "document_quality_cascade": (
        "Every heuristic rule family (Gopher doc-shape, FineWeb custom "
        "incl. duplicated-line chars, Gopher repetition) behind one "
        "verdict with ZERO Exchange end to end: the native regexp "
        "signals feed ONE ArrowEvalPython (the repetition kernel, which "
        "returns the duplicated-line fraction for every row and the "
        "n-gram fields for rows the native shape and FineWeb rules pass, "
        "its gate argument) - no MapInPandas, no gram shuffle, no "
        "verdict join."
    ),
    "mixture_sample_docs": (
        "Per-source rate thresholds broadcast; the md5-prefix filter runs "
        "at the scan - the sampler itself adds zero exchanges (the only "
        "shuffle is the report's per-source count). The alpha05 branch "
        "derives rates from a map-side-combinable per-source count + "
        "unpartitioned window over that tiny frame, then broadcasts back."
    ),
    "semantic_dedup_embs": (
        "SemDeDup compose: LSH-bucketed cosine pair equi-join (never "
        "all-pairs) -> iterative hash-min components (localCheckpoint "
        "truncates lineage) -> one labeling left join, broadcast-able "
        "when the pair graph is sparse."
    ),
    "length_filter_docs": (
        "Filter + 1-column projection: must show PushedFilters and a pruned "
        "ReadSchema at the parquet scan, zero shuffles."
    ),
    "doc_transforms_docs": (
        "Round 4: derived columns + truncation + the FULL web-text cleanup "
        "chain (textclean.py: blocks/tags/entities/mojibake/controls/"
        "whitespace) as ONE WholeStageCodegen Project directly over the "
        "column-pruned scan - zero exchanges, zero UDFs; the dirt "
        "injection + cleanup exist only inside the projection."
    ),
    "web_stage_counts": (
        "Round 4: cascade attribution counts AND the 15-pair independent "
        "rule-overlap matrix fused into one count_stack wide aggregate - "
        "1 scan, 1 single-row-per-partition exchange, partial+final "
        "HashAggregate; NOT a union of two aggregates scanning twice."
    ),
    "text_analysis_docs": (
        "Round-4 consolidation shape: langid + quality + fingerprint + "
        "token counts in ONE scan — the native projections compute beside "
        "the scalar Arrow langid UDF, which reads the text column alone "
        "(keep_cols stay in the JVM row); plus the interpolated-KN bigram perplexity "
        "(operators/knlm.py), whose aggregation+join-back is inherent: "
        "an LM trained on the corpus cannot be a row-local projection. "
        "Audit points: the wide branch stays one ArrowEvalPython with no "
        "doc_id join-back; the KN branch's exchanges are all on "
        "word/bigram KEYS (map-side-combinable counts over the "
        "vocab-capped type frame, ≤V²+V rows) plus the final doc_id "
        "join of the per-doc score — text itself is never shuffled."
    ),
    "value_stats_events": (
        "Round-4 consolidation shape: moments + exact percentile + "
        "Greenwald-Khanna sketch + exact and HLL count-distinct in ONE "
        "aggregation (one scan where round 3 spent four). Two exchanges "
        "are expected: the exact countDistinct forces Spark's "
        "Expand-based two-stage distinct aggregate — as good as a plan "
        "with an exact distinct gets."
    ),
    "line_hygiene_t1": (
        "Tagged union. corpus_common branch: line doc-frequency aggregate "
        "-> runtime broadcast-vs-shuffle decision for the strip join (one "
        "count on the tiny aggregated common-line frame); the corpus-side "
        "strip pass is shuffle-free except the per-doc reassembly group. "
        "c4_local branch: stateless per-row Arrow pass (terminal-punct / "
        "min-words / javascript line rules + page verdicts) - zero "
        "Exchange."
    ),
    "scrub_repeated_spans_docs": (
        "Exact-substring dedup (round 4): gram doc-frequency over the "
        "vectorized rolling-hash stream runs at plan build, and the top "
        "2^20 repeated grams are broadcast to the mask kernel. At this "
        "scale every repeated gram is hot, so no tail joins back: the plan "
        "is one scan and one ArrowEvalPython (text and hit positions in, "
        "struct<clean_text, n_masked> out; doc_id stays in the JVM row)."
    ),
    "transcript_repairs_t2": (
        "Transcript repairs, 8-config tagged union (round 5 added retry/"
        "episodes/sft/pref): coerce (run-flag window -> run groupBy with "
        "ordered array_join), truncate (cumulative-token window filter), "
        "retry (null-safe lag dedup + dense renumber), episodes "
        "(ignore-nulls last_value gap window), sft (k lags of the "
        "rendered line, concat_ws — O(k) frame, never an unbounded "
        "collect_list), pref (argmax-first window, both orderings on the "
        "same partitioning), pseudo (a Sort on (conv_id, turn_idx) over "
        "the shared conv_id exchange, then ONE MapInArrow that walks "
        "each Arrow batch's conversation runs — no grouped-map frame per "
        "conversation). The audit point: every branch "
        "hash-partitions on conv_id ONLY — the same key every pipeline "
        "stage uses — and text appears in no extra exchange beyond the "
        "per-conversation grouping itself."
    ),
    "pipeline_scrub_counts": (
        "Round-5 fusion (r4 verdict): all 8 scrub-audit counters "
        "(occurrences + turns_hit per redaction token) in ONE wide "
        "map-side-combinable aggregate over the persisted verdicts — a "
        "single scan with a one-row-per-partition partial-sum exchange, "
        "then a 4-row stack + sort. The former shape was four unioned "
        "groupBy passes re-reading the cache. Inventory note: all but "
        "the last Exchange below belong to the SHARED pipeline_verdicts "
        "lineage (persisted at runtime — see that section); the fusion "
        "itself is the tail HashAggregate -> single-row Exchange -> "
        "HashAggregate -> stack -> Sort."
    ),
    "prefix_dedup_t1": (
        "Conversation prefix dedup (round 4): exactly TWO exchanges — the "
        "groupBy(conv_id) of (conv_id, turn_idx, 16-byte turn key) feeding "
        "the digest kernel (text never leaves the scan), then ONE "
        "(prefix_h, m) window partition that resolves everything: "
        "best-longer-run max(struct) over the bucket, filter to full "
        "rows, lag over the SAME partitioning (Sort only, no new "
        "exchange) for the equal-length rule. The audit point: the "
        "kernel appears ONCE (a self-join formulation re-executes it per "
        "side and emits O(k^2) rows for k-way identical groups; this is "
        "O(k log k))."
    ),
}


def _extra_builders() -> dict:
    """Non-registry plans worth auditing (built job-free: the bloom is a
    zeroed in-memory filter — same plan shape as a built one)."""
    import pyspark.sql.functions as F

    from fineweb_legal_spark.operators.bloom import (
        bloom_filtered_antijoin,
        empty_bloom,
    )

    def _tables(spark):
        new = spark.read.parquet(f"{SF_DIR}/documents.parquet").withColumn(
            "norm_key", F.md5(F.lower(F.coalesce("text", F.lit(""))))
        )
        registry = spark.read.parquet(f"{SF_DIR}/documents.parquet").select(
            F.md5(F.lower(F.coalesce("text", F.lit("")))).alias("norm_key")
        )
        return new, registry

    def bloom_antijoin_shuffled(spark, _sf):
        new, registry = _tables(spark)
        return bloom_filtered_antijoin(
            new, registry, "norm_key", bloom=empty_bloom(100_000)
        )

    def bloom_antijoin_broadcast(spark, _sf):
        new, registry = _tables(spark)
        return bloom_filtered_antijoin(
            new,
            registry,
            "norm_key",
            bloom=empty_bloom(100_000),
            survivors_broadcast=True,
        )

    def seqpack_exact_plan(spark, _sf):
        from fineweb_legal_spark.operators.seqpack import assemble_sequences

        ids = spark.read.parquet(f"{SF_DIR}/documents.parquet").select(
            "doc_id",
            F.sequence(F.lit(2), F.length(F.coalesce("text", F.lit("x"))) % 50 + 2)
            .cast("array<int>")
            .alias("ids"),
        )
        return assemble_sequences(ids, seq_len=128)

    def seqpack_partition_plan(spark, _sf):
        from fineweb_legal_spark.operators.seqpack import assemble_sequences

        ids = spark.read.parquet(f"{SF_DIR}/documents.parquet").select(
            "doc_id",
            F.sequence(F.lit(2), F.length(F.coalesce("text", F.lit("x"))) % 50 + 2)
            .cast("array<int>")
            .alias("ids"),
        )
        return assemble_sequences(ids, seq_len=128, mode="partition")

    def preference_pairs_plan(spark, _sf):
        from fineweb_legal_spark.operators.preference import preference_pairs

        cands = spark.read.parquet(f"{SF_DIR}/documents.parquet").select(
            F.col("source").alias("group_key"),
            F.col("doc_id").alias("cand_id"),
            "text",
            F.col("n_chars").cast("double").alias("score"),
        )
        return preference_pairs(cands, mode="best_vs_worst")

    return {
        "seqpack_exact": (
            "Fixed-length sequence assembly, exact mode (round 4): the "
            "token stream crosses exactly two data exchanges — the hash "
            "exchange on the DATA-DERIVED order bucket (floor(md5-prefix "
            "* P / 2^32): monotone in the sort key, so NO sampled "
            "rangepartitioning appears anywhere — sampled boundaries "
            "diverge between the totals and data executions, the 2M-row "
            "corruption this plan shape now pins) and the seq_id hash "
            "exchange that reassembles slivers (array_sort+flatten, "
            "JVM-native). The in-partition sort sits ABOVE the offsets "
            "join, directly under the emitter (EliminateSorts removes it "
            "below a join child). The _pid totals aggregate and the "
            "SinglePartition window run on a bucket-count-sized frame. "
            "This is the floor for exact global chunking: tokens must "
            "move to the sequence that owns them.",
            seqpack_exact_plan,
        ),
        "seqpack_partition": (
            "Fixed-length sequence assembly, partition mode (round 4): "
            "ZERO Exchange — one mapInPandas chunks each partition's "
            "concatenated stream locally (remainder carried across Arrow "
            "batches); the trade is per-partition ragged tails and a "
            "partitioning-dependent (documented) output.",
            seqpack_partition_plan,
        ),
        "preference_pairs": (
            "DPO pair extraction (round 4): ONE hash exchange on the group "
            "key feeds both window orderings (argmax forward sort, argmin "
            "reverse sort reuse the same partitioning — the plan must show "
            "a single Exchange under two Sort+Window pairs). No self-join, "
            "no O(g^2): best_vs_rest emits one row per non-chosen "
            "candidate, best_vs_worst one per group.",
            preference_pairs_plan,
        ),
        "bloom_antijoin_shuffled": (
            "Bloom semi-join reduction, batch shape (round 4): the probe "
            "is a scalar pandas_udf over the JVM xxhash64 column only "
            "(ArrowEvalPython above the scan — 8 bytes/row cross Arrow); "
            "definitely-new rows union AROUND the join, and only "
            "might-contain survivors reach the anti-join exchange. The "
            "audit point: the union's first branch has NO join below it.",
            bloom_antijoin_shuffled,
        ),
        "bloom_antijoin_broadcast": (
            "Bloom + reversed semi-join, streaming shape (round 4): "
            "survivor keys broadcast-semi-reduce the registry and the "
            "match set broadcasts into the anti-join — NO SortMergeJoin/"
            "ShuffledHashJoin anywhere; the registry is scanned, never "
            "shuffled; the only Exchanges are the survivor-key distinct "
            "aggregates (bounded by true-dup volume + fpp).",
            bloom_antijoin_broadcast,
        ),
    }


# counters a session hands out in plan order, so they differ between
# sessions: expression ids (``text#3``, ``id#7L``, ``MS[4]#9L``; not the
# ``&#39;`` entities of regex literals), exchange plan ids and RDD ids
_SESSION_IDS = (
    re.compile(r"(?<=[\w)\]`]#)\d+"),
    re.compile(r"(?<=\[plan_id=)\d+(?=\])"),
    re.compile(r"(?<=RDD\[)\d+(?=\])"),
)


def stable_ids(plan: str) -> str:
    """Renumber each kind of session id in first-appearance order, so the
    same plan prints the same text in any session and every reference
    between nodes still points at the same node."""
    for pat in _SESSION_IDS:
        ids: dict[str, int] = {}
        plan = pat.sub(lambda m: str(ids.setdefault(m.group(), len(ids))), plan)
    return plan


def _plan(df) -> str:
    from fineweb_legal_spark.session import explain_formatted

    # literal separator bytes (e.g. the dedup singleton-key "\x00" concat)
    # would make the artifact binary; render them as escapes
    plan = re.sub(
        r"[\x00-\x08\x0b-\x1f]",
        lambda m: f"\\x{ord(m.group()):02x}",
        explain_formatted(df),
    )
    return stable_ids(plan.replace(str(REPO), "<repo>"))


def main() -> None:
    import __spark_entry__ as entrymod
    from fineweb_legal_spark.session import get_spark

    # a fixed master: the committed docs/PLANS.md text (exchange widths,
    # partition counts) must not change with the host that regenerates it
    spark = get_spark(master="local[8]", app_name="dump_plans")
    qs = entrymod.queries()
    out = [
        "# PLANS — physical-plan audit of representative queries",
        "",
        "Generated by `python tools/dump_plans.py` (plan build only, no jobs).",
        "Each section lists the shuffle (Exchange) inventory first — every",
        "shuffle should be explainable, or it is a bug.",
        "",
    ]
    entries = [
        (name, why, qs.get(name) or getattr(entrymod, f"q_{name}"))
        for name, why in PICKS.items()
    ]
    entries += [
        (name, why, fn) for name, (why, fn) in _extra_builders().items()
    ]
    for name, why, fn in entries:
        plan = _plan(fn(spark, SF_DIR))
        exchanges = [
            ln.strip()
            for ln in plan.splitlines()
            if re.match(r"^\(\d+\) (Exchange|BroadcastExchange)", ln.strip())
        ]
        out += [
            f"## {name}",
            "",
            why,
            "",
            f"**Exchanges ({len(exchanges)}):**"
            + ("" if exchanges else " none"),
            *[f"- `{e}`" for e in exchanges],
            "",
            "```",
            plan.strip(),
            "```",
            "",
        ]
    (REPO / "docs" / "PLANS.md").write_text("\n".join(out))
    print("wrote docs/PLANS.md")
    spark.stop()


if __name__ == "__main__":
    main()
