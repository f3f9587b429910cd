"""Report the north rule's acceptance metric — keep/drop F1 vs the golden
reference labels plus exact scrubbed-text agreement — for the t1 and t2
transcript corpora. Prints one JSON line.

    python tools/eval_f1.py
"""

from __future__ import annotations

import json
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))


def main() -> int:
    from fineweb_legal_spark.datasets import ensure_golden, ensure_transcripts
    from fineweb_legal_spark.pipeline import run_pipeline
    from fineweb_legal_spark.session import get_spark
    from fineweb_legal_spark.validation import keep_drop_f1

    spark = get_spark(app_name="eval_f1")
    report = {}
    for corpus in ("t1", "t2"):
        pred = run_pipeline(
            spark, spark.read.parquet(str(ensure_transcripts(corpus)))
        )
        gold = spark.read.parquet(str(ensure_golden(corpus)))
        row = keep_drop_f1(pred, gold).collect()[0].asDict()
        report[corpus] = {
            k: (float(v) if isinstance(v, float) else int(v))
            for k, v in row.items()
        }
    ok = all(
        r["f1"] >= 0.99 and r["text_mismatch"] == 0 and r["missing_pred"] == 0
        for r in report.values()
    )
    print(json.dumps({"metric": "keep_drop_f1", "ok": ok, "corpora": report}))
    return 0 if ok else 1


if __name__ == "__main__":
    raise SystemExit(main())
