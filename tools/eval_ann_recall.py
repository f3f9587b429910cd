"""Recall@k of every ANN path vs an INDEPENDENT exact ground truth.

Correctness rows (CORRECTNESS_r*.json) prove each ANN query matches its
oracle — i.e. the operator computes what it claims. This tool answers
the different question a user of an approximate index actually has: how
much of the TRUE top-k does each configuration recover, and what does
each recall lever (more planes, multi-probe, more cells, more probes)
buy? Ground truth is all-pairs exact cosine computed here in numpy
straight from the parquet file (pyarrow, no engine code), under the
operators' published contract: self excluded, cos_sim rounded to 4
decimals before ranking, ties broken by ascending vec_id.

recall@k = |ANN top-k ∩ exact top-k| / k, averaged over the query set.

Usage: python tools/eval_ann_recall.py [sf_dir] [k] [n_queries]
Prints one JSON line; BENCH.md carries the measured table.
"""

from __future__ import annotations

import json
import os
import sys
from pathlib import Path

import numpy as np
import pyarrow.parquet as pq

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))


def exact_topk(path: str, query_ids: list[int], k: int) -> dict[int, set[int]]:
    t = pq.read_table(path, columns=["vec_id", "embedding"])
    ids = t.column("vec_id").to_numpy()
    mat = np.stack(t.column("embedding").to_pylist()).astype(np.float64)
    norms = np.linalg.norm(mat, axis=1, keepdims=True)
    norms[norms == 0] = 1.0
    unit = mat / norms
    pos = {int(v): i for i, v in enumerate(ids)}
    out: dict[int, set[int]] = {}
    for qid in query_ids:
        sims = np.round(unit @ unit[pos[qid]], 4)
        # contract: self excluded; order by (-cos_sim, vec_id)
        order = sorted(
            (i for i in range(len(ids)) if int(ids[i]) != qid),
            key=lambda i: (-sims[i], int(ids[i])),
        )
        out[qid] = {int(ids[i]) for i in order[:k]}
    return out


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else os.environ.get(
        "SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"
    )
    k = int(sys.argv[2]) if len(sys.argv) > 2 else 10
    n_q = int(sys.argv[3]) if len(sys.argv) > 3 else 32
    query_ids = list(range(n_q))
    path = os.path.join(sf_dir, "embeddings.parquet")
    gt = exact_topk(path, query_ids, k)

    from fineweb_legal_spark.operators.similarity import (
        ivf_ann_topk,
        lsh_ann_topk,
        pq_ann_topk,
        train_ivf_centroids,
    )
    from fineweb_legal_spark.session import get_spark

    spark = get_spark(app_name="eval_ann_recall")
    emb = spark.read.parquet(path)
    n_rows = emb.count()
    dim = len(emb.select("embedding").first()[0])

    methods = {
        "lsh_p6": lambda: lsh_ann_topk(emb, query_ids, k, dim, n_planes=6),
        "lsh_p8": lambda: lsh_ann_topk(emb, query_ids, k, dim, n_planes=8),
        "lsh_p8_mp4": lambda: lsh_ann_topk(
            emb, query_ids, k, dim, n_planes=8, n_probes=4
        ),
        "lsh_p8_mp8": lambda: lsh_ann_topk(
            emb, query_ids, k, dim, n_planes=8, n_probes=8
        ),
        "ivf_c16_np2": lambda: ivf_ann_topk(
            emb, query_ids, k, dim, nprobe=2, n_cells=16
        ),
        "ivf_c16_np4": lambda: ivf_ann_topk(
            emb, query_ids, k, dim, nprobe=4, n_cells=16
        ),
        "ivf_c64_np4": lambda: ivf_ann_topk(
            emb, query_ids, k, dim, nprobe=4, n_cells=64
        ),
        "ivf_c64_np8": lambda: ivf_ann_topk(
            emb, query_ids, k, dim, nprobe=8, n_cells=64
        ),
        "pq_adc": lambda: pq_ann_topk(emb, query_ids, k, dim),
    }
    # data-adapted quantizer: spherical k-means on a hash-sample of the
    # same corpus (the recall lever for clustered real embeddings that
    # seeded-gaussian cells can't exploit)
    for n_cells, nprobe in ((16, 2), (16, 4), (64, 4), (64, 8)):
        cents = train_ivf_centroids(emb, dim=dim, n_cells=n_cells)
        methods[f"ivf_trained_c{n_cells}_np{nprobe}"] = (
            lambda c=cents, nc=n_cells, np_=nprobe: ivf_ann_topk(
                emb, query_ids, k, dim, nprobe=np_, n_cells=nc, centroids=c
            )
        )
    result = {}
    for name, fn in methods.items():
        got: dict[int, set[int]] = {q: set() for q in query_ids}
        for r in fn().collect():
            got[int(r["query_id"])].add(int(r["vec_id"]))
        recall = float(
            np.mean([len(got[q] & gt[q]) / k for q in query_ids])
        )
        result[name] = round(recall, 4)
        print(f"{name}: recall@{k} = {recall:.4f}", file=sys.stderr)
    print(
        json.dumps(
            {
                "metric": "ann_recall_at_k",
                "k": k,
                "n_queries": n_q,
                "n_rows": n_rows,
                "dim": dim,
                "sf_dir": sf_dir,
                "recall": result,
            }
        )
    )


if __name__ == "__main__":
    main()
