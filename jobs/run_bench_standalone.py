"""Pipeline throughput bench as a spark-submit primary file — the north
rule's ACTUAL launch surface ("launched via spark-submit --py-files on
multi-executor clusters at N and 4N executors").

Unlike bench.py's local[N] session (one JVM, threads as executors), this
job is submitted to a REAL standalone cluster: separate master / worker /
executor JVMs, Python UDF workers forked per executor, shuffle blocks
served executor-to-executor over netty. Every serialization boundary a
1000-executor deployment has exists here — broadcast artifacts really
ship, closures really pickle, Arrow batches really cross process
boundaries.

    spark-submit --master spark://127.0.0.1:7077 \
        --py-files dist/fineweb_legal_spark.zip \
        --executor-cores 4 --executor-memory 6g \
        --conf spark.cores.max=8 \
        jobs/run_bench_standalone.py --input data/transcripts/bench

Protocol is identical to bench.py's pipeline phase (``_pipeline_bench``)
so numbers are comparable: full pipeline plan into a noop sink (a bare
count() lets Catalyst prune the dedup window + its exchange), cold first
execution, then steady = min of --reps re-executions of the SAME
DataFrame (codegen warm), session caches dropped outside the timer
between reps. Prints one ``STANDALONE_RESULT {json}`` line; the
orchestrator (tools/standalone_round.py) owns cluster lifecycle and the
cache.
"""

from __future__ import annotations

import argparse
import json
import time


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--input", required=True, help="parquet dir of transcript turns")
    ap.add_argument("--reps", type=int, default=3)
    ap.add_argument("--shuffle-partitions", type=int, default=None)
    args = ap.parse_args()

    from pyspark.sql import SparkSession
    from pyspark.storagelevel import StorageLevel

    # master/executor topology comes entirely from spark-submit; only
    # runtime-settable SQL confs are applied here (mirrors session.get_spark)
    b = SparkSession.builder.appName("bench_standalone")
    spark = b.getOrCreate()
    sc = spark.sparkContext
    # spark.cores.max is the declared cluster slice; defaultParallelism
    # only reflects executors registered SO FAR (racing executor launch at
    # session start once reported 2 and would have pinned the 32-core run
    # to 8 shuffle partitions)
    slots = int(spark.conf.get("spark.cores.max", "0")) or sc.defaultParallelism
    exec_cores = int(spark.conf.get("spark.executor.cores", "4"))
    shuffle = args.shuffle_partitions or max(8, slots)
    for k, v in {
        "spark.sql.shuffle.partitions": str(shuffle),
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.coalescePartitions.enabled": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "16m",
        "spark.sql.session.timeZone": "UTC",
        "spark.sql.execution.arrow.pyspark.enabled": "true",
        "spark.sql.execution.arrow.maxRecordsPerBatch": "10000",
        "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
    }.items():
        spark.conf.set(k, v)
    sc.setLogLevel("WARN")

    def n_executors() -> int:
        try:
            # block managers = executors + 1 driver
            return sc._jsc.sc().getExecutorMemoryStatus().size() - 1
        except Exception:
            return -1

    # wait for the full executor complement before timing anything: the
    # cold number should measure the PLAN cold (codegen, cache build), not
    # executor JVM launch + -Xms pre-touch racing the first stage
    want = max(1, slots // max(1, exec_cores))
    deadline = time.time() + 120
    while n_executors() < want and time.time() < deadline:
        time.sleep(1)

    from fineweb_legal_spark.pipeline import run_pipeline

    src = spark.read.parquet(args.input)
    verdicts = run_pipeline(spark, src)
    cached = getattr(verdicts, "_fineweb_persisted", [])

    def run_once() -> None:
        for df in cached:
            df.persist(StorageLevel.MEMORY_AND_DISK)
        verdicts.write.format("noop").mode("overwrite").save()

    def drop_caches() -> None:
        for df in cached:
            df.unpersist(blocking=True)

    rows = src.count()
    t0 = time.time()
    run_once()
    cold = time.time() - t0
    drop_caches()
    steadies = []
    for _ in range(args.reps):
        t0 = time.time()
        run_once()
        steadies.append(time.time() - t0)
        drop_caches()
    steady = min(steadies) if steadies else cold

    n_exec = n_executors()
    print(
        "STANDALONE_RESULT "
        + json.dumps(
            {
                "rows": rows,
                "cold_sec": round(cold, 2),
                "steady_sec": round(steady, 2),
                "steady_all": [round(s, 2) for s in steadies],
                "turns_per_sec": round(rows / steady, 1),
                "cores": slots,
                "executors": n_exec,
            }
        ),
        flush=True,
    )
    spark.stop()


if __name__ == "__main__":
    main()
