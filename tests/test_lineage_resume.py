"""Kill-and-resume idempotence (FIXTURES.md §4 invariant 5, reference
T3/T4/T7 semantics), on both lineage stores: the output directory
(lineage.py) and the catalog tables (lineage_table.py)."""

from __future__ import annotations

import shutil
import time

import pyarrow.parquet as pq
import pytest
from pyspark import StorageLevel
from pyspark.sql import functions as F

from fineweb_legal_spark import lineage, lineage_table, spec
from fineweb_legal_spark.datasets import DATA_DIR
from fineweb_legal_spark.lineage import (
    bucket_of,
    committed_buckets,
    read_committed_output,
    read_lineage,
    run_with_lineage,
)
from fineweb_legal_spark.lineage_table import (
    committed_buckets_table,
    read_committed_table,
    run_with_lineage_table,
)
from fineweb_legal_spark.session import explain_formatted
from fineweb_legal_spark.sources.catalog import TableIO

OUT = DATA_DIR / "tmp" / "lineage_test"
DATA_T = "lintbl_data"
LIN_T = "lintbl_lineage"


class _Directory:
    def __init__(self, spark):
        self.spark = spark

    def clean(self):
        shutil.rmtree(OUT, ignore_errors=True)

    def run(self, df, **kw):
        return run_with_lineage(self.spark, df, OUT, **kw)

    def committed(self):
        return committed_buckets(OUT)

    def read(self):
        return read_committed_output(self.spark, OUT)

    def lineage_df(self):
        return read_lineage(self.spark, OUT)

    def lineage(self):
        return self.lineage_df().toPandas()

    def uncommit(self, bucket):
        """Delete the lineage record of ``bucket``'s group (with its
        group mates): the kill between the data write and the lineage
        publish."""
        for f in (OUT / "_lineage").glob("group-*.parquet"):
            if bucket in pq.read_table(f, columns=["bucket"])["bucket"].to_pylist():
                f.unlink()


class _Table:
    def __init__(self, spark):
        self.spark = spark

    def clean(self):
        for t in (DATA_T, LIN_T):
            self.spark.sql(f"DROP TABLE IF EXISTS {t}")

    def run(self, df, **kw):
        return run_with_lineage_table(self.spark, df, DATA_T, LIN_T, **kw)

    def committed(self):
        return committed_buckets_table(self.spark, LIN_T)

    def read(self):
        return read_committed_table(self.spark, DATA_T, LIN_T)

    def lineage_df(self):
        return self.spark.table(LIN_T)

    def lineage(self):
        return self.lineage_df().toPandas()

    def uncommit(self, bucket):
        """Drop ``bucket``'s lineage partition: the kill between the data
        write and the lineage write."""
        self.spark.sql(f"ALTER TABLE {LIN_T} DROP PARTITION (bucket={bucket})")


@pytest.fixture(params=["directory", "table"])
def store(request, spark):
    s = {"directory": _Directory, "table": _Table}[request.param](spark)
    s.clean()
    yield s
    s.clean()


def _assert_golden(out, t1_golden):
    """Committed output == golden kept set, exactly, no duplicates."""
    kept_gold = t1_golden[t1_golden.keep]
    assert len(out) == len(kept_gold)
    assert not out.duplicated(subset=["conv_id", "turn_idx"]).any()
    merged = kept_gold.merge(
        out, on=["conv_id", "turn_idx"], suffixes=("_g", "_s"), how="inner"
    )
    assert len(merged) == len(kept_gold)
    assert (merged.scrubbed_text_g == merged.scrubbed_text_s).all()


def test_kill_resume_idempotent(spark, t1_transcripts, t1_golden, store):
    # simulated kill: only 2 of 4 commit groups run
    r1 = store.run(t1_transcripts, n_groups=4, max_groups=2)
    assert r1["groups_processed"] == 2
    n_committed = len(store.committed())
    assert 0 < n_committed < spec.LINEAGE_BUCKETS
    # the loop counts its publishes instead of re-reading the lineage
    assert r1["committed_now"] == n_committed
    partial_rows = store.read().count()

    # resume: completes only the remaining buckets
    r2 = store.run(t1_transcripts, n_groups=4)
    assert r2["committed_before"] == n_committed
    assert len(store.committed()) == spec.LINEAGE_BUCKETS
    assert r2["committed_now"] == spec.LINEAGE_BUCKETS

    out = store.read().toPandas()
    assert len(out) > partial_rows
    _assert_golden(out, t1_golden)

    # lineage metrics add up to the full table
    lin = store.lineage()
    assert len(lin) == spec.LINEAGE_BUCKETS  # replay produced no dup rows
    assert int(lin.kept.sum()) == int(t1_golden.keep.sum())
    assert int((lin.kept + lin.dropped).sum()) == len(t1_golden)
    assert (lin.status == "committed").all()
    assert lin.committed_at.notna().all()

    # rerun of a completed job is a no-op
    r3 = store.run(t1_transcripts, n_groups=4)
    assert r3["groups_processed"] == 0
    assert r3["committed_now"] == spec.LINEAGE_BUCKETS


def test_resume_runs_pipeline_once(spark, t1_transcripts, store, monkeypatch):
    """The resume evaluates the pipeline once over the pending rows, not
    once per bucket group: each group's write must not drop the persisted
    verdicts that the next group slices."""
    store.run(t1_transcripts, n_groups=4, max_groups=2)
    done = sorted(store.committed())
    pending = t1_transcripts.filter(~bucket_of(F.col("conv_id")).isin(done)).count()

    acc = spark.sparkContext.accumulator(0)

    def _seen(_):
        acc.add(1)
        return True

    seen = F.udf(_seen, "boolean").asNondeterministic()
    real = lineage.run_pipeline
    monkeypatch.setattr(
        lineage,
        "run_pipeline",
        lambda *a, **kw: real(*a, **kw).filter(seen(F.col("conv_id"))),
    )
    r = store.run(t1_transcripts, n_groups=4)
    assert r["groups_processed"] == 4
    assert acc.value == pending


def test_commit_leaves_session_overwrite_mode(spark, t1_transcripts, t1_golden, store):
    """Only the touched buckets are replaced, and the session's own
    overwrite mode is left as it was."""
    key = "spark.sql.sources.partitionOverwriteMode"
    before = spark.conf.get(key)
    spark.conf.set(key, "STATIC")
    try:
        store.run(t1_transcripts, n_groups=2, max_groups=1)
        assert spark.conf.get(key) == "STATIC"
        store.run(t1_transcripts, n_groups=2)
        assert spark.conf.get(key) == "STATIC"
        _assert_golden(store.read().toPandas(), t1_golden)
    finally:
        spark.conf.set(key, before)


def test_replayed_group_rewrites_not_duplicates(spark, t1_transcripts, t1_golden, store):
    """Forcing the same buckets through commit twice (the crashed-between-
    data-and-lineage window, or a task retry at the job level) must
    converge: partition overwrite replaces, never appends."""
    store.run(t1_transcripts, n_groups=4, max_groups=2)
    first = store.read().toPandas()

    # uncommit one committed bucket whose data is visible: the rerun must
    # count it as uncommitted and recompute it
    some_bucket = int(first.bucket.iloc[0])
    store.uncommit(some_bucket)
    assert some_bucket not in store.committed()

    store.run(t1_transcripts, n_groups=4)
    _assert_golden(store.read().toPandas(), t1_golden)
    assert len(store.lineage()) == spec.LINEAGE_BUCKETS


def test_all_rejected_bucket_commits_and_resumes(spark, store):
    """A committed bucket with ZERO kept rows writes no data (dynamic
    partition overwrite); the reader and the resume path must tolerate
    that instead of failing with PATH_NOT_FOUND."""
    from datetime import datetime

    from fineweb_legal_spark.streaming.filter_stream import TRANSCRIPT_SCHEMA

    # conversations whose every turn fails the length rule (too short) ->
    # whole buckets end up all-rejected
    ts = datetime(2025, 1, 1)
    rows = [
        (f"conv{i}", t, "user", "tiny", None, ts)
        for i in range(64)
        for t in range(3)
    ]
    df = spark.createDataFrame(rows, schema=TRANSCRIPT_SCHEMA)

    r1 = store.run(df, n_groups=1)
    assert r1["buckets_processed"] == spec.LINEAGE_BUCKETS
    lin = store.lineage()
    assert int(lin.kept.sum()) == 0
    assert int(lin.dropped.sum()) == len(rows)
    assert "committed_at" in lin.columns and lin.committed_at.notna().all()

    # reader: all buckets committed, none have data -> no rows, not an error
    committed = store.read()
    if isinstance(store, _Directory):
        assert committed is None
    else:
        assert committed.count() == 0

    # resume on the fully-committed (but dataless) output is a no-op
    r2 = store.run(df, n_groups=1)
    assert r2["groups_processed"] == 0


def test_committed_at_keeps_its_instant_off_utc(
    spark, t1_transcripts, store, driver_off_utc
):
    """pyspark hands the observed commit time back as a naive LOCAL
    datetime; both stores must record its instant, not its wall time read
    as UTC."""
    store.run(t1_transcripts, n_groups=4, max_groups=1)
    got = store.lineage_df().select(F.col("committed_at").cast("double")).collect()
    assert got
    for (epoch_s,) in got:
        assert abs(time.time() - epoch_s) < 120


class _FailingWrite(lineage.DirectoryStore):
    def write_data(self, staged):
        raise RuntimeError("write failed")


def test_failed_write_releases_kept_all(spark, t1_transcripts, monkeypatch):
    """A failing group write must not leave the full-payload cache behind
    for the rest of the session."""
    persisted = []
    frame_cls = type(t1_transcripts)
    real_persist = frame_cls.persist

    def _persist(self, *a, **kw):
        persisted.append(self)
        return real_persist(self, *a, **kw)

    monkeypatch.setattr(frame_cls, "persist", _persist)
    shutil.rmtree(OUT, ignore_errors=True)
    try:
        with pytest.raises(RuntimeError, match="write failed"):
            lineage.commit_groups(spark, t1_transcripts, _FailingWrite(spark, OUT))
    finally:
        shutil.rmtree(OUT, ignore_errors=True)
    assert persisted
    assert all(df.storageLevel == StorageLevel.NONE for df in persisted)


class _RecordingIO(TableIO):
    def __init__(self, spark):
        super().__init__(spark)
        self.frames = []

    def ensure(self, df, table, **kw):
        self.frames.append(df)
        return super().ensure(df, table, **kw)

    def overwrite_partitions(self, df, table):
        self.frames.append(df)
        super().overwrite_partitions(df, table)


def test_table_store_writes_no_python_rdd(spark, t1_transcripts):
    """Every frame TableStore hands to TableIO plans without a Python RDD
    (``Scan ExistingRDD``): a Python-list frame would start Python tasks
    in a second worker pool beside the model stage's."""
    _Table(spark).clean()
    io = _RecordingIO(spark)
    try:
        run_with_lineage_table(
            spark, t1_transcripts, DATA_T, LIN_T, n_groups=2, max_groups=1, io=io
        )
        # data + lineage table creation, one group's data + lineage write
        assert len(io.frames) == 4
        for df in io.frames:
            assert "ExistingRDD" not in explain_formatted(df)
    finally:
        _Table(spark).clean()


def test_commit_reads_lineage_table_once(spark, t1_transcripts, monkeypatch):
    """One ``run_with_lineage_table`` call reads the lineage table once,
    both from scratch and on a resume."""
    reads = []
    real = lineage_table.committed_buckets_table

    def _counted(*a, **kw):
        reads.append(1)
        return real(*a, **kw)

    monkeypatch.setattr(lineage_table, "committed_buckets_table", _counted)
    table = _Table(spark)
    table.clean()
    try:
        for kw in ({"max_groups": 1}, {}):
            reads.clear()
            run_with_lineage_table(spark, t1_transcripts, DATA_T, LIN_T, n_groups=2, **kw)
            assert len(reads) == 1
    finally:
        table.clean()
