"""Goldens for the non-SQL-expressible operators, built by single-node
numpy/pandas twins (no Spark executors):

- langid over sf0.01 documents          -> golden/sf0.01/langid_docs.parquet
- LSH-ANN top-k over sf0.01 embeddings  -> golden/sf0.01/lsh_ann.parquet
- media frame sampling + fake embedding -> golden/media_t1/*.parquet

Scope of these checks, stated honestly: the twins share the model-artifact
library code with the Spark operators (get_artifacts().predict_lang,
planes_for, the frame/histogram logic), so the corresponding driver
'oracle' rows verify DISTRIBUTED-EXECUTION DETERMINISM AND PLUMBING —
Arrow round-trips, partitioning, join topology, bucket assignment — not
model correctness against an independent implementation. Independent
model-semantics coverage lives in tests/test_artifacts.py (hand-derived
spot fixtures).
"""

from __future__ import annotations

import json
import math
import sys
from pathlib import Path

import numpy as np
import pandas as pd
import pyarrow.parquet as pq

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from fineweb_legal_spark.artifacts import get_artifacts  # noqa: E402
from fineweb_legal_spark.datasets import (  # noqa: E402
    DATA_DIR,
    ensure_media,
    ensure_transcripts,
)
from fineweb_legal_spark.operators.pseudonymize import (  # noqa: E402
    pseudonymize_conversation,
)
from fineweb_legal_spark.operators.similarity import (  # noqa: E402
    N_PLANES,
    planes_for,
)

SF_DIR = "/root/testdata/sf0.01"
ANN_QUERY_IDS = list(range(10))
ANN_K = 5
# mirrored by q_mixture_sample_docs' dsir config (__spark_entry__.py)
DSIR_K = 100
DSIR_TARGET_MOD = 13


def build_langid(out: Path) -> None:
    docs = pq.read_table(f"{SF_DIR}/documents.parquet").to_pandas()
    arts = get_artifacts()
    preds = [None if t is None else arts.predict_lang(t) for t in docs["text"]]
    pd.DataFrame({"doc_id": docs["doc_id"], "pred_lang": preds}).to_parquet(
        out / "langid_docs.parquet", index=False
    )


def build_ann(out: Path) -> None:
    emb = pq.read_table(f"{SF_DIR}/embeddings.parquet").to_pandas()
    mat = np.stack(emb["embedding"].to_numpy()).astype(np.float64)
    ids = emb["vec_id"].to_numpy()
    dim = mat.shape[1]
    planes = planes_for(dim)
    bits = (mat @ planes.T) > 0
    weights = (1 << np.arange(N_PLANES)).astype(np.int64)
    buckets = bits @ weights
    rows = {"query_id": [], "vec_id": [], "rank": [], "cos_sim": []}
    norms = np.linalg.norm(mat, axis=1)
    for qid in ANN_QUERY_IDS:
        qi = int(np.where(ids == qid)[0][0])
        mask = (buckets == buckets[qi]) & (ids != qid)
        cand = np.where(mask)[0]
        if cand.size == 0:
            continue
        cos = (mat[cand] @ mat[qi]) / (norms[cand] * norms[qi])
        cos = np.round(cos, 4)
        order = sorted(zip(-cos, ids[cand]))[:ANN_K]
        for rank, (negc, vid) in enumerate(order, start=1):
            rows["query_id"].append(qid)
            rows["vec_id"].append(int(vid))
            rows["rank"].append(rank)
            rows["cos_sim"].append(float(-negc))
    pd.DataFrame(rows).to_parquet(out / "lsh_ann.parquet", index=False)


def build_dsir(out: Path) -> None:
    """Single-node twin of operators/dsir.dsir_resample over the sf
    documents: numpy-only replay of the identical float path — integer
    trigram counts (exactly equal to the distributed sparse reduction),
    smoothed log-prob difference, one reduceat weigh pass, hash-derived
    Gumbel keys, top-DSIR_K. The library-code caveat in this file's
    docstring applies (plumbing/determinism check; independent semantics
    fixtures live in tests/test_operators.py)."""
    import hashlib

    from fineweb_legal_spark.artifacts import _HASH_SLOTS, _batch_trigrams
    from fineweb_legal_spark.operators.lm import logprob_table
    from fineweb_legal_spark.spec import PPL_PREFIX_CHARS

    docs = pq.read_table(f"{SF_DIR}/documents.parquet").to_pandas()
    docs = docs[docs["doc_id"].notna()].reset_index(drop=True)

    def counts_of(texts) -> np.ndarray:
        sel = [t for t in texts if t is not None]
        if not sel:
            return np.zeros(_HASH_SLOTS, dtype=np.int64)
        h, _, _ = _batch_trigrams(sel, PPL_PREFIX_CHARS)
        return np.bincount(h, minlength=_HASH_SLOTS)

    raw_c = counts_of(docs["text"])
    tgt_c = counts_of(docs[docs["doc_id"] % DSIR_TARGET_MOD == 0]["text"])
    diff = logprob_table(tgt_c) - logprob_table(raw_c)

    texts = ["" if t is None else t for t in docs["text"]]
    h, starts, counts = _batch_trigrams(texts, PPL_PREFIX_CHARS)
    logw = np.zeros(len(texts), dtype=np.float64)
    if h.size:
        logw[counts > 0] = np.add.reduceat(diff[h], starts)
    v = np.array(
        [
            int(hashlib.md5(str(int(i)).encode()).hexdigest()[:8], 16)
            for i in docs["doc_id"]
        ],
        dtype=np.float64,
    )
    key = logw - np.log(-np.log((v + 0.5) / float(16**8)))
    sel = sorted(
        zip(-key, docs["doc_id"].astype(int), docs["source"]),
    )[:DSIR_K]
    pd.DataFrame(
        {"doc_id": [d for _, d, _ in sel], "source": [s for _, _, s in sel]}
    ).to_parquet(out / "dsir_selected.parquet", index=False)


def build_media(out: Path) -> None:
    media = pq.read_table(ensure_media("t1")).to_pandas()
    vids = media[media["kind"] == "video"]
    frames = {"media_id": [], "frame_idx": [], "frame_bytes": [], "frame_mean": []}
    every_n = 2
    for mid, meta_s, payload in zip(vids["media_id"], vids["meta"], vids["payload"]):
        meta = json.loads(meta_s)
        fsize = meta["width"] * meta["height"] * meta["channels"]
        for fi in range(0, len(payload) // fsize, every_n):
            chunk = np.frombuffer(payload[fi * fsize : (fi + 1) * fsize], np.uint8)
            frames["media_id"].append(mid)
            frames["frame_idx"].append(fi)
            frames["frame_bytes"].append(fsize)
            frames["frame_mean"].append(round(float(chunk.mean()), 4))
    pd.DataFrame(frames).to_parquet(out / "media_frames.parquet", index=False)

    dim = 16
    embs = {"media_id": [], "embedding": []}
    for mid, payload in zip(media["media_id"], media["payload"]):
        arr = np.frombuffer(payload, dtype=np.uint8)
        hist, _ = np.histogram(arr, bins=dim, range=(0, 256))
        # host-independent norm: exact int64 sum of squares, float64 sqrt
        n = math.sqrt(int((hist.astype(np.int64) ** 2).sum()))
        embs["media_id"].append(mid)
        # mirror the operator's array<float> output contract: the Spark
        # side casts the rounded values to float32 at the schema boundary,
        # so the golden must store those exact float32 values too — else
        # %.6f formatting diverges by 1 ULP near a 6th-decimal boundary
        embs["embedding"].append(
            (hist / (n or 1.0)).round(6).astype(np.float32).tolist()
        )
    pd.DataFrame(embs).to_parquet(out / "media_embeddings.parquet", index=False)


def build_pseudonymize(out: Path) -> None:
    """Single-node twin of operators/pseudonymize.pseudonymize_pii over the
    t2 transcripts: plain pandas groupby in conv order, no Spark. Shares
    the per-conversation kernel (the library-code caveat in this file's
    docstring applies); hand-derived semantics fixtures live in
    tests/test_operators.py."""
    t = pq.read_table(ensure_transcripts("t2")).to_pandas()
    t = t.sort_values(["conv_id", "turn_idx"], kind="stable")
    rows = {"conv_id": [], "turn_idx": [], "role": [], "text": [], "n_pseudo": []}
    for conv_id, g in t.groupby("conv_id", sort=True):
        texts, counts = pseudonymize_conversation(
            [None if pd.isna(x) else x for x in g["text"]]
        )
        rows["conv_id"].extend([conv_id] * len(g))
        rows["turn_idx"].extend(int(i) for i in g["turn_idx"])
        rows["role"].extend(g["role"])
        rows["text"].extend(texts)
        rows["n_pseudo"].extend(counts)
    df = pd.DataFrame(rows)
    df["turn_idx"] = df["turn_idx"].astype("int32")
    df["n_pseudo"] = df["n_pseudo"].astype("int64")
    df.to_parquet(out / "pseudonymize.parquet", index=False)


def main() -> None:
    # an explicit sf-dir argument builds ONLY the sf-dependent goldens
    # (langid, LSH-ANN) for that scale under golden/<sf-name>/ — this is
    # how check_correctness gets hash-verifiable oracles at sf0.1 (it
    # rewrites the golden path in the oracle SQL when the dir exists)
    global SF_DIR
    if len(sys.argv) > 1:
        SF_DIR = sys.argv[1]
        out = DATA_DIR / "golden" / Path(SF_DIR).name
        out.mkdir(parents=True, exist_ok=True)
        build_langid(out)
        build_ann(out)
        build_dsir(out)
        print("sf goldens written to", out)
        return
    out = DATA_DIR / "golden" / "sf0.01"
    out.mkdir(parents=True, exist_ok=True)
    build_langid(out)
    build_ann(out)
    build_dsir(out)
    mout = DATA_DIR / "golden" / "media_t1"
    mout.mkdir(parents=True, exist_ok=True)
    build_media(mout)
    tout = DATA_DIR / "golden" / "t2"
    tout.mkdir(parents=True, exist_ok=True)
    build_pseudonymize(tout)
    print("goldens written to", out, ",", mout, "and", tout)


if __name__ == "__main__":
    main()
