"""Physical-plan regression tests: lock in the scale properties the engine
was tuned for (broadcast dims, parquet pushdown/pruning, no CodegenFallback
higher-order functions in hot paths). These only build plans — no jobs run
— so they are cheap and catch silent plan regressions (a lost broadcast
hint, a filter that stopped reaching the scan) before any benchmark does.
"""

from __future__ import annotations

import re

import pytest

SF_DIR = "/root/testdata/sf0.01"


from fineweb_legal_spark.session import explain_formatted as _plan


def _assert_one_arrow_kernel(plan: str, call: str) -> None:
    """One Python boundary: exactly one ArrowEvalPython node, no
    MapInPandas, and one call of the kernel in it."""
    assert plan.count(") ArrowEvalPython") == 1, plan
    assert ") MapInPandas" not in plan, plan
    assert plan.count(call) == 1, plan


@pytest.fixture(scope="module")
def queries():
    import __spark_entry__ as entrymod

    return entrymod.queries()


def test_revenue_join_broadcasts_dimension(spark, queries):
    # nation (25 rows) must be broadcast, never shuffled
    plan = _plan(queries["revenue_by_nation"](spark, SF_DIR))
    assert "BroadcastHashJoin" in plan


def test_length_filter_pushes_down_to_scan(spark, queries):
    plan = _plan(queries["length_filter_docs"](spark, SF_DIR))
    # column pruning: the 2-column query must not read text-adjacent extras
    assert "ReadSchema" in plan
    read = [ln for ln in plan.splitlines() if "ReadSchema" in ln][0]
    assert "lang" not in read and "source" not in read


def test_topk_orders_is_take_ordered(spark, queries):
    # ORDER BY + LIMIT must plan as TakeOrderedAndProject (per-partition
    # top-k + merge), not a global sort
    plan = _plan(queries["top_k_orders"](spark, SF_DIR))
    assert "TakeOrderedAndProject" in plan


def test_cosine_queries_have_no_lambda_hofs(spark, queries):
    # aggregate()/zip_with lambda HOFs are CodegenFallback (interpreted
    # per element); the cosine kernels must stay numpy-in-Arrow-batch
    for name in ("embedding_topk_cosine", "lsh_ann_topk", "ivf_ann_topk"):
        plan = _plan(queries[name](spark, SF_DIR))
        assert "aggregate(" not in plan, name
        assert "zip_with(" not in plan, name


def test_pipeline_filter_stage_is_whole_stage_codegen(spark, t1_transcripts):
    from fineweb_legal_spark.pipeline import run_pipeline

    # the only Python boundary is the single scalar Arrow UDF of the model
    # stage, called once per row for both dedup strategies: no
    # row-at-a-time Python UDF (BatchEvalPython), no grouped-pandas
    # shuffle, no mapInPandas. (AQE shows isFinalPlan=false pre-execution,
    # so codegen-id annotations are not visible here.)
    for slim in (True, False):
        plan = _plan(run_pipeline(spark, t1_transcripts, slim_dedup=slim))
        assert ") BatchEvalPython" not in plan
        assert ") FlatMapGroupsInPandas" not in plan
        _assert_one_arrow_kernel(plan, "model_kernel(")


def test_partitioned_write_prunes_partitions(spark, tmp_path):
    # partition-on-disk layout must turn a partition-key predicate into
    # PartitionFilters at the scan (directories skipped, not row-filtered)
    src = spark.read.parquet(f"{SF_DIR}/events.parquet")
    out = str(tmp_path / "events_by_type")
    src.write.partitionBy("event_type").parquet(out)
    df = spark.read.parquet(out).filter("event_type = 'click'")
    plan = _plan(df)
    scan = plan[plan.index("PartitionFilters") :].splitlines()[0]
    assert "event_type" in scan
    # the predicate must NOT degrade to a post-scan row Filter node — it
    # is fully absorbed into directory pruning
    assert ") Filter" not in plan
    assert df.count() == src.filter("event_type = 'click'").count()


def test_runtime_bloom_filter_prunes_probe_side(spark):
    # Runtime row-level filtering: with a selective build side, Catalyst
    # injects a bloom filter (might_contain) on the probe side of a
    # shuffle join, cutting shuffle volume before the exchange — the
    # 100TB selective-join technique. Thresholds are lowered because the
    # sf0.01 tables are below the production defaults.
    import pyspark.sql.functions as F  # noqa: F401

    confs = {
        "spark.sql.optimizer.runtime.bloomFilter.enabled": "true",
        "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold": "10GB",
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "0",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
    }
    prev = {k: spark.conf.get(k, None) for k in confs}
    for k, v in confs.items():
        spark.conf.set(k, v)
    try:
        orders = spark.read.parquet(f"{SF_DIR}/orders.parquet")
        cust = spark.read.parquet(f"{SF_DIR}/customer.parquet").filter(
            "c_mktsegment = 'BUILDING'"
        )
        j = orders.join(cust, orders.o_custkey == cust.c_custkey)
        assert "might_contain" in _plan(j).lower()
    finally:
        for k, v in prev.items():
            if v is not None:
                spark.conf.set(k, v)


def test_slim_dedup_exchange_carries_no_text(spark, t1_transcripts):
    # VERDICT r2 item: the global-dedup exchange must not ship the kept
    # corpus. With slim_dedup (default) the only norm_key hash exchange
    # carries exactly (norm_key, conv_id, turn_idx); loser decisions come
    # back as a broadcast join on the persisted scored frame.

    from fineweb_legal_spark.pipeline import run_pipeline

    plan = _plan(run_pipeline(spark, t1_transcripts, slim_dedup=True))
    found = False
    for block in re.split(r"\n(?=\(\d+\) )", plan):
        header = block.splitlines()[0]
        if ") Exchange" in header and "hashpartitioning(norm_key" in block:
            found = True
            assert "scrubbed_text" not in block, block
            m = re.search(r"Input \[(\d+)\]", block)
            assert m and int(m.group(1)) == 3, block
    assert found, "no norm_key hash exchange in plan"
    assert "BroadcastHashJoin LeftOuter" in plan


def test_pq_shortlist_is_local_not_global(spark, queries):
    # VERDICT r2 item: the PQ shortlist must be truncated inside the scan
    # (mapInPandas emits per-batch top-s), never a crossJoin of all codes
    # with all queries feeding a global window. One MapInPandas node, the
    # ADC shortlist scan; encode is a scalar Arrow UDF over the embedding
    # (one ArrowEvalPython); no nested-loop/cartesian join.
    plan = _plan(queries["pq_ann_topk"](spark, SF_DIR))
    assert plan.count(") MapInPandas") == 1, plan.count(") MapInPandas")
    encode = r"\) ArrowEvalPython\n.*\nArguments: \[pq_codes\("
    assert len(re.findall(encode, plan)) == 1, plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_tfidf_construction_launches_zero_jobs(spark, queries):
    # round 3 ran an eager df.count() at plan-build; N_docs is now a lazy
    # broadcast scalar, so constructing the OPERATOR must launch no Spark
    # job. (spark.read.parquet itself runs a 1-task footer-schema job on
    # every call — that's the reader, so the input frame is built first.)
    from fineweb_legal_spark.operators.textql import tfidf_top_terms

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    tracker = spark.sparkContext.statusTracker()
    before = set(tracker.getJobIdsForGroup(None))
    df = tfidf_top_terms(docs, k=5)
    after = set(tracker.getJobIdsForGroup(None))
    assert after == before, "tfidf plan construction ran a Spark job"
    assert df.schema is not None


def test_registry_fits_driver_budget_and_has_oracle_parity():
    # the driver's correctness sweep covers at most 50 queries; a larger
    # registry silently shadows its own tail (the round-1..3 failure mode).
    # every queries() entry must have a matching oracle_sql() entry so the
    # driver's gate can hash-compare it.
    import __spark_entry__ as entrymod

    q = entrymod.queries()
    o = entrymod.oracle_sql()
    assert len(q) <= 50, f"registry has {len(q)} entries; driver sweeps 50"
    assert set(q) == set(o), (
        f"queries/oracle key mismatch: only-queries={sorted(set(q) - set(o))} "
        f"only-oracle={sorted(set(o) - set(q))}"
    )


def test_text_analysis_wide_branch_is_one_pass_no_join(spark):
    # round-4 consolidation contract: langid + native projections compose
    # in ONE Arrow pass with the scalars passed through keep_cols — a
    # regression to the join-back-on-doc_id shape would shuffle the corpus
    from __spark_entry__ import _text_analysis_wide

    plan = _plan(_text_analysis_wide(spark, SF_DIR))
    _assert_one_arrow_kernel(plan, "langid_kernel(")
    for node in ("SortMergeJoin", "ShuffledHashJoin", "BroadcastHashJoin"):
        assert node not in plan, node


def test_text_analysis_full_query_single_arrow_stage_no_cartesian(spark, queries):
    # the KN-perplexity branch joined on top of the wide branch is
    # JVM-native: it must add ZERO Python boundaries (still exactly one
    # ArrowEvalPython — the langid UDF), no row-at-a-time Python UDF, and its
    # joins must all be key equi-joins (never a cartesian). The doc_id
    # join-back itself is inherent — an LM trained on the corpus cannot
    # be a row-local projection (see docs/PLANS.md `text_analysis_docs`).
    plan = _plan(queries["text_analysis_docs"](spark, SF_DIR))
    _assert_one_arrow_kernel(plan, "langid_kernel(")
    assert "BatchEvalPython" not in plan
    assert ") CartesianProduct" not in plan


def test_neardup_pairs_has_no_cartesian_on_t1(spark, queries):
    # the minhash/simhash members must stay banded equi-joins; only the
    # documents-side exact-Jaccard baseline is allowed its documented
    # O(n^2) join (a single cartesian over the small docs table)
    plan = _plan(queries["neardup_pairs"](spark, SF_DIR))
    assert plan.count(") CartesianProduct") <= 1


def test_preference_pairs_single_exchange(spark):
    # both window orderings must reuse ONE group-key hash exchange; a
    # second Exchange means the reverse sort stopped reusing the
    # partitioning (or a self-join crept in)
    from pyspark.sql import functions as F

    from fineweb_legal_spark.operators.preference import preference_pairs

    cands = spark.read.parquet(f"{SF_DIR}/documents.parquet").select(
        F.col("source").alias("group_key"),
        F.col("doc_id").alias("cand_id"),
        "text",
        F.col("n_chars").cast("double").alias("score"),
    )
    for mode in ("best_vs_rest", "best_vs_worst"):
        plan = _plan(preference_pairs(cands, mode=mode))
        n_ex = sum(
            1
            for ln in plan.splitlines()
            if ln.strip().startswith("+- Exchange")
            or ln.strip().startswith(":- Exchange")
            or "] Exchange [" in ln
            or ln.lstrip(" +:-").startswith("Exchange ")
        )
        assert n_ex == 1, (mode, plan)
        assert "Join" not in plan, mode


def test_conversation_rollup_single_exchange_no_text(spark):
    # the roll-up exchange carries (conv_id, counters) only — text must
    # be pruned before the shuffle, and there is exactly one Exchange
    from fineweb_legal_spark.operators.convfilter import (
        conversation_verdicts,
    )

    v = spark.read.parquet(f"{SF_DIR}/documents.parquet").selectExpr(
        "source AS conv_id",
        "doc_id AS turn_idx",
        "n_chars > 500 AS keep",
        "CASE WHEN n_chars <= 500 THEN 'length' END AS reject_reason",
        "text AS scrubbed_text",
    )
    plan = _plan(conversation_verdicts(v, fatal_reasons=("duplicate",)))
    assert plan.count("Exchange") >= 1
    read = [ln for ln in plan.splitlines() if "ReadSchema" in ln][0]
    assert "text" not in read, read


def test_bpe_word_count_is_partial_agg_single_exchange(spark):
    # the tokenizer trainer's only corpus-scale stage: partial (map-side)
    # count below ONE hash exchange on the word key, and the exchange
    # carries (word, count) — never doc ids or full text rows
    from fineweb_legal_spark.operators.bpe import word_counts

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    plan = _plan(word_counts(docs))
    # formatted output repeats node names in the detail section; count
    # tree nodes only
    tree = plan.split("\n\n")[0]
    assert sum("Exchange (" in ln for ln in tree.splitlines()) == 1
    assert "partial_count" in plan
    assert "hashpartitioning(word" in plan
    # column pruning reached the scan: only text is read
    read = [ln for ln in plan.splitlines() if "ReadSchema" in ln][0]
    assert "text" in read and "doc_id" not in read


def test_transcript_repairs_pseudo_branch_adds_no_shuffle(spark, queries):
    """The 'pseudo' branch sorts the shared conv_id partitioning and
    streams it through one MapInArrow: the query keeps its nine hash
    exchanges and plans no grouped-map Python node."""
    plan = _plan(queries["transcript_repairs_t2"](spark, SF_DIR))
    assert plan.count("Arguments: hashpartitioning(") == 9, plan
    assert ") FlatMapGroupsInPandas" not in plan, plan
    assert plan.count(") MapInArrow") == 1, plan
