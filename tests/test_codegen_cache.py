"""Generated-code cache regression guard: a plan executed a second time
in a steady session compiles no Java class (Janino compile + JIT of a
freshly loaded class is CPU the benchmark's ops_suite paid on every
operation while Spark's 100-entry default cache was smaller than its
working set)."""

from __future__ import annotations

import __spark_entry__ as entrymod

SF_DIR = "/root/testdata/sf0.01"


def test_ops_suite_second_execution_compiles_nothing(spark):
    # Spark's generated-code cache must hold a steady workload's classes:
    # at the default 100 entries transcript_repairs_t2 alone (~140
    # classes) evicted itself, so every execution recompiled with Janino
    # and re-JITted the classes. One cycle over the benchmark's three
    # heavy queries (perfbench OpsSuite, here over the sf0.01 tables),
    # then each second execution must compile 0 classes.
    from fineweb_legal_spark.session import codegen_compiles

    names = (
        "transcript_repairs_t2",
        "repetition_signals_docs",
        "scrub_repeated_spans_docs",
    )
    queries = entrymod.queries()
    dfs = {q: queries[q](spark, SF_DIR) for q in names}

    def run(df):
        df.write.format("noop").mode("overwrite").save()

    for df in dfs.values():
        run(df)
    compiled = {}
    for q, df in dfs.items():
        before = codegen_compiles(spark)
        run(df)
        compiled[q] = codegen_compiles(spark) - before
    assert compiled == dict.fromkeys(names, 0)
