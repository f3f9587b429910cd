"""Seeded inputs and expected-output digests, built once per (workload, seed).

Run as its own process before the timed one, so input generation and the
oracles never count toward any metric:

    python3 perfbench/inputs.py <workload> <seed> <work_dir>

It prints the path of the workload's ``manifest.json``. A finished build
is cached under ``<work_dir>/inputs/<workload>/<seed>/`` and reused;
inputs that do not depend on the seed are built once under
``<work_dir>/shared/``.

- ``commit_resume``: COMMIT_TURNS transcript turns in COMMIT_FILES parquet
  files. File ``i`` is ``generator.generate_transcripts`` of its own
  derived seed with conv_ids prefixed ``c<i>_``, so conversations never
  span files (the same scheme as ``datasets.CHUNKED_TIERS``). Files are
  generated and run through ``oracle.oracle_verdicts`` in parallel; the
  per-file verdicts are merged by re-applying the oracle's global dedup
  rule (winner = min (conv_id, turn_idx) per normalised-text hash) across
  files. The expected digest covers the kept rows.
- ``ops_suite``: t1/t2 transcript tiers from the seed in a per-seed data
  dir (read by ``datasets`` through ``FINEWEB_SPARK_DATA``), the goldens
  the suite's oracles read, and one digest per query from DuckDB running
  ``__spark_entry__.oracle_sql()``. The documents are the fixed sf0.1
  test table, a byte-identical copy of which is kept in ``DOCS_DIR``.
- ``shared/kernel_sample_*.json``: a fixed seeded sample of heuristic
  survivors for the traced run's single-thread kernel timings.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
from concurrent.futures import ProcessPoolExecutor
from multiprocessing import get_context
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent

COMMIT_TURNS = 6_000
COMMIT_FILES = 8
COMMIT_COLUMNS = ("conv_id", "turn_idx", "scrubbed_text", "lang", "ppl_bucket")

OPS_T1_TURNS = 600
OPS_T2_TURNS = 3_000
DOCS_DIR = Path(__file__).resolve().parent / "data" / "sf0.1"
# SHA-256 of the sf0.1 test tables' documents.parquet (5,000 documents)
DOCS_SHA256 = "d10b0da67e5aceb465e89365781dab5c69d3c62b64a8308398c6fd3fb09bcf82"
OPS_QUERIES = (
    "transcript_repairs_t2",
    "repetition_signals_docs",
    "scrub_repeated_spans_docs",
)

KERNEL_SAMPLE_SEED = 9_001
KERNEL_SAMPLE_TURNS = 6_000
KERNEL_SAMPLE_SIZE = 1_500

def derived_seed(seed: int, part: int) -> int:
    return (seed * 7_919 + part * 104_729 + 1) % (2**32)


def _transcript_schema():
    from fineweb_legal_spark import datasets

    return datasets._TRANSCRIPT_SCHEMA  # noqa: SLF001 — the tiers' file schema


def _write_transcripts(df, path: Path) -> None:
    import pyarrow as pa
    import pyarrow.parquet as pq

    df = df.copy()
    df["ts"] = df["ts"].astype("datetime64[us]")
    path.parent.mkdir(parents=True, exist_ok=True)
    table = pa.Table.from_pandas(df, schema=_transcript_schema(), preserve_index=False)
    pq.write_table(table, path, compression="snappy")


def _oracle_frame(df):
    from fineweb_legal_spark.oracle import oracle_verdicts

    src = df.copy()
    src["text"] = src["text"].astype("string")
    src["conv_id"] = src["conv_id"].astype("string")
    return oracle_verdicts(src)


def build_chunk(seed: int, part: int, n_turns: int, path: str):
    """Generate one input file and its oracle verdicts.

    Returns the verdict frame plus ``_norm``, the dedup hash of each kept
    row, which the cross-file merge needs."""
    from fineweb_legal_spark.generator import generate_transcripts
    from fineweb_legal_spark.textstats import norm_hash

    df = generate_transcripts(n_turns, seed=derived_seed(seed, part))
    df["conv_id"] = f"c{part}_" + df["conv_id"]
    _write_transcripts(df, Path(path))
    v = _oracle_frame(df)
    text = dict(zip(zip(df["conv_id"].astype(str), df["turn_idx"]), df["text"]))
    v["_norm"] = [
        norm_hash(str(text[(c, t)])) if k else None
        for c, t, k in zip(v["conv_id"], v["turn_idx"], v["keep"])
    ]
    return v


def merge_chunk_verdicts(frames):
    """Global verdicts from per-file oracle verdicts.

    Within a file the oracle kept exactly the first (min (conv_id,
    turn_idx)) row of each normalised hash; across files only the
    smallest of those winners survives, the rest become duplicates."""
    import pandas as pd

    v = pd.concat(frames, ignore_index=True)
    winners = v[v["keep"]].sort_values(["_norm", "conv_id", "turn_idx"], kind="mergesort")
    losers = winners.index[winners.duplicated(subset=["_norm"], keep="first")]
    v.loc[losers, "keep"] = False
    v.loc[losers, "reject_reason"] = "duplicate"
    v.loc[losers, "scrubbed_text"] = pd.NA
    v = v.drop(columns=["_norm"])
    return v.sort_values(["conv_id", "turn_idx"], kind="mergesort").reset_index(drop=True)


def build_commit_resume(seed: int, out: Path, work: Path) -> dict:
    from perfbench.digest import digest_pandas

    per_file = COMMIT_TURNS // COMMIT_FILES
    paths = [out / "input" / f"part_{i:03d}.parquet" for i in range(COMMIT_FILES)]
    workers = min(COMMIT_FILES, os.cpu_count() or 1)
    with ProcessPoolExecutor(max_workers=workers, mp_context=get_context("spawn")) as pool:
        futs = [
            pool.submit(build_chunk, seed, i, per_file, str(p)) for i, p in enumerate(paths)
        ]
        frames = [f.result() for f in futs]
    v = merge_chunk_verdicts(frames)
    kept = v[v["keep"]]
    return {
        "input": str(out / "input"),
        "input_rows": int(len(v)),
        "kept_rows": int(len(kept)),
        "duplicate_rows": int((v["reject_reason"] == "duplicate").sum()),
        "digest_columns": list(COMMIT_COLUMNS),
        "expected": list(digest_pandas(kept, COMMIT_COLUMNS)),
    }


def _duck(docs_path: Path):
    import duckdb

    con = duckdb.connect()
    con.execute(f"CREATE VIEW documents AS SELECT * FROM read_parquet('{docs_path}')")
    return con


def _digest_sql(con, sql: str) -> list[int]:
    from perfbench.digest import digest_rows

    cur = con.execute(sql)
    return list(digest_rows(cur.fetchall()))


def _columns(con, sql: str) -> list[str]:
    return [d[0] for d in con.execute(f"SELECT * FROM ({sql}) LIMIT 0").description]


def _golden_misc():
    """tools/build_golden_misc.py, the single-node twins' golden builders."""
    import importlib.util

    spec = importlib.util.spec_from_file_location(
        "build_golden_misc", REPO / "tools" / "build_golden_misc.py"
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def _pseudonymize_golden(data_dir: str) -> None:
    out = Path(data_dir) / "golden" / "t2"
    out.mkdir(parents=True, exist_ok=True)
    _golden_misc().build_pseudonymize(out)


def input_dir(work: Path, workload: str, seed: int) -> Path:
    """Cache dir of one (workload, seed); the sizes are part of its name."""
    size = {
        "commit_resume": f"t{COMMIT_TURNS}_f{COMMIT_FILES}",
        "ops_suite": f"t{OPS_T1_TURNS}_{OPS_T2_TURNS}_{DOCS_DIR.name}",
    }[workload]
    return work / "inputs" / f"{workload}_{size}" / str(seed)


def ops_data_dir(work: Path, seed: int) -> Path:
    """Per-seed ``FINEWEB_SPARK_DATA`` dir of the ops suite."""
    return input_dir(work, "ops_suite", seed) / "data"


def build_ops_suite(seed: int, out: Path, work: Path) -> dict:
    """Needs ``FINEWEB_SPARK_DATA`` set to ``ops_data_dir`` before
    ``fineweb_legal_spark.datasets`` is first imported."""
    from fineweb_legal_spark.datasets import DATA_DIR
    from fineweb_legal_spark.generator import generate_transcripts

    data = ops_data_dir(work, seed)
    if Path(DATA_DIR) != data:
        raise RuntimeError(f"FINEWEB_SPARK_DATA is {DATA_DIR}, expected {data}")
    _write_transcripts(
        generate_transcripts(OPS_T1_TURNS, seed=derived_seed(seed, 1)),
        data / "transcripts" / "t1" / "transcripts.parquet",
    )
    _write_transcripts(
        generate_transcripts(OPS_T2_TURNS, seed=derived_seed(seed, 2)),
        data / "transcripts" / "t2" / "transcripts.parquet",
    )
    _pseudonymize_golden(str(data))

    import __spark_entry__ as entry

    # the first call also builds the goldens its SQL reads (t2 verdicts,
    # web fixtures, LSH planes, ANN codebooks) in the seed's data dir
    oracles = entry.oracle_sql()
    con = _duck(DOCS_DIR / "documents.parquet")
    expected, columns = {}, {}
    for q in OPS_QUERIES:
        columns[q] = sorted(_columns(con, oracles[q]))
        expected[q] = _digest_sql(con, f"SELECT {', '.join(columns[q])} FROM ({oracles[q]})")
    return {
        "sf_dir": str(DOCS_DIR),
        "data_dir": str(data),
        "input_rows": OPS_T2_TURNS + con.execute("SELECT count(*) FROM documents").fetchone()[0],
        "digest_columns": columns,
        "expected": expected,
    }


def ensure_kernel_sample(work: Path) -> Path:
    """A fixed sample of heuristic survivors: turns whose oracle verdict is
    kept or rejected only after the heuristics (lang, perplexity,
    duplicate)."""
    path = work / "shared" / f"kernel_sample_{KERNEL_SAMPLE_SEED}_{KERNEL_SAMPLE_SIZE}.json"
    if path.exists():
        return path
    from fineweb_legal_spark.generator import generate_transcripts

    df = generate_transcripts(KERNEL_SAMPLE_TURNS, seed=KERNEL_SAMPLE_SEED)
    v = _oracle_frame(df)
    post = v["keep"] | v["reject_reason"].isin(["lang", "perplexity", "duplicate"])
    keys = set(zip(v.loc[post, "conv_id"], v.loc[post, "turn_idx"]))
    texts = [
        str(t)
        for c, i, t in zip(df["conv_id"].astype(str), df["turn_idx"], df["text"])
        if (c, i) in keys
    ]
    path.parent.mkdir(parents=True, exist_ok=True)
    tmp = path.with_suffix(".tmp")
    tmp.write_text(json.dumps(texts[:KERNEL_SAMPLE_SIZE]))
    os.replace(tmp, path)
    return path


BUILDERS = {"commit_resume": build_commit_resume, "ops_suite": build_ops_suite}


def ensure_inputs(workload: str, seed: int, work: Path) -> Path:
    out = input_dir(work, workload, seed)
    manifest = out / "manifest.json"
    if manifest.exists():
        return manifest
    shutil.rmtree(out, ignore_errors=True)
    out.mkdir(parents=True)
    m = BUILDERS[workload](seed, out, work)
    m.update(workload=workload, seed=seed)
    m["kernel_sample"] = str(ensure_kernel_sample(work))
    tmp = manifest.with_suffix(".tmp")
    tmp.write_text(json.dumps(m))
    os.replace(tmp, manifest)
    return manifest


def main() -> int:
    workload, seed, work = sys.argv[1], int(sys.argv[2]), Path(sys.argv[3]).resolve()
    if workload not in BUILDERS:
        print(f"unknown workload {workload!r}", file=sys.stderr)
        return 2
    # datasets binds DATA_DIR at import; spawned pool workers inherit it
    os.environ["FINEWEB_SPARK_DATA"] = str(ops_data_dir(work, seed))
    print(ensure_inputs(workload, seed, work))
    return 0


if __name__ == "__main__":
    sys.path.insert(0, str(REPO))
    raise SystemExit(main())
