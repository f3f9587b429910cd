"""Build a larger documents table by upsampling sf0.1 (bench evidence only).

The driver's round-end measurement runs at a driver-generated sf (sf=1.0
in BENCH_r05.json) whose directory is not kept between rounds.  To
profile the heavy document queries at that scale locally, replicate the
sf0.1 documents table K times with disjoint id ranges.  Token
vocabulary, text distribution and duplicate saturation per replica are
preserved; absolute duplicate-group sizes grow by K (pessimistic for
skew, which is what we want to stress).

Usage: python tools/upsample_docs.py [K] [out_dir]
"""

from __future__ import annotations

import sys
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))


def main() -> None:
    k = int(sys.argv[1]) if len(sys.argv) > 1 else 10
    out = sys.argv[2] if len(sys.argv) > 2 else "/tmp/sfup/"
    src = "/root/testdata/sf0.1/documents.parquet"
    from pyspark.sql import functions as F

    from fineweb_legal_spark.session import get_spark

    spark = get_spark(app_name="upsample_docs")
    d = spark.read.parquet(src)
    n, lo, hi = d.agg(F.count("*"), F.min("doc_id"), F.max("doc_id")).first()
    # replica r shifts ids by r*10n: disjoint only while ids lie in [0, 10n)
    if not (0 <= lo and hi < 10 * n):
        raise SystemExit(f"doc_id range [{lo}, {hi}] breaks the 10n replica offsets")
    reps = d.crossJoin(spark.range(k).withColumnRenamed("id", "rep"))
    up = reps.withColumn(
        "doc_id", (F.col("doc_id") + F.col("rep") * F.lit(n) * 10).cast("long")
    ).drop("rep")
    Path(out).mkdir(parents=True, exist_ok=True)
    up.repartition(8).write.mode("overwrite").parquet(out + "documents.parquet")
    print(f"wrote {out}documents.parquet: {n} x {k} rows")
    spark.stop()


if __name__ == "__main__":
    main()
