"""Dump the formatted physical plan of one declared query to a file.

Usage: python tools/dump_plan_one.py <query> <outfile> [sf_dir]
"""

from __future__ import annotations

import sys
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))


def main() -> None:
    name, outfile = sys.argv[1], sys.argv[2]
    sf_dir = sys.argv[3] if len(sys.argv) > 3 else "/root/testdata/sf0.01"
    import __spark_entry__ as entrymod
    from fineweb_legal_spark.session import explain_formatted, get_spark

    spark = get_spark(app_name="dump_plan_one")
    qs = entrymod.queries()
    fn = qs.get(name) or getattr(entrymod, f"q_{name}")
    df = fn(spark, sf_dir)
    Path(outfile).parent.mkdir(parents=True, exist_ok=True)
    Path(outfile).write_text(explain_formatted(df))
    print(f"wrote {outfile}")
    spark.stop()


if __name__ == "__main__":
    main()
