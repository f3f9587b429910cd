"""Per-query isolation bench (guide §1.4): times individual declared
queries (and optionally sub-branches) with the noop sink so the
computation, not the sink, is measured. bench.py is FROZEN for driver
measurement; this file holds the round's extra evidence runs.

Usage:
    SPARK_GRAFT_SF_DIR=/root/testdata/sf1.0 python bench_extra.py q1 q2 ...
    python bench_extra.py --branches neardup_pairs   # per-union-branch

Prints one JSON line: {"sf_dir": ..., "queries": {name: {"cold": s,
"steady": s}}}.
"""

from __future__ import annotations

import json
import os
import sys
import time
from pathlib import Path

REPO = Path(__file__).resolve().parent
sys.path.insert(0, str(REPO))

REPS = int(os.environ.get("BENCH_REPS", "2"))


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def time_df(spark, name, df, out) -> None:
    spark.sparkContext.setJobDescription(f"bench_extra: {name}")
    t0 = time.time()
    _noop(df)
    cold = time.time() - t0
    steadies = []
    for _ in range(REPS):
        t0 = time.time()
        _noop(df)
        steadies.append(time.time() - t0)
    out[name] = {"cold": round(cold, 2), "steady": round(min(steadies), 2)}
    print(f"  {name}: cold={cold:.2f}s steady={min(steadies):.2f}s", file=sys.stderr, flush=True)
    spark.sparkContext.setJobDescription(None)


def neardup_branches(spark, sf_dir, out) -> None:
    import __spark_entry__ as e
    from fineweb_legal_spark.operators.prefixdedup import prefix_dedup_pairs
    from fineweb_legal_spark.datasets import ensure_transcripts

    time_df(spark, "neardup:minhash_t1", e._t1_minhash_pairs(spark), out)
    time_df(spark, "neardup:simhash_t1", e.q_simhash_neardup_t1(spark, sf_dir), out)
    time_df(spark, "neardup:jaccard_docs", e.q_jaccard_exact_docs(spark, sf_dir), out)
    time_df(
        spark,
        "neardup:prefix_t1",
        prefix_dedup_pairs(spark.read.parquet(str(ensure_transcripts("t1")))),
        out,
    )


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    from fineweb_legal_spark.session import get_spark

    spark = get_spark(app_name="bench_extra")
    import __spark_entry__ as entrymod

    qs = entrymod.queries()
    out: dict = {}
    args = [a for a in sys.argv[1:]]
    branches = "--branches" in args
    names = [a for a in args if not a.startswith("--")]
    for name in names:
        if branches and name == "neardup_pairs":
            neardup_branches(spark, sf_dir, out)
            continue
        fn = qs.get(name) or getattr(entrymod, f"q_{name}")
        time_df(spark, name, fn(spark, sf_dir), out)
    print(json.dumps({"sf_dir": sf_dir, "queries": out}), flush=True)
    spark.stop()


if __name__ == "__main__":
    main()
