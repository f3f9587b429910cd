"""Row kernels take only their payload columns.

Every per-row Python kernel below is a scalar Arrow UDF over its payload
(text, embedding, media payload); the row id stays in the JVM row. A
``mapInPandas`` pass would hand a ``bigint`` id column to pandas, which
turns it into ``float64`` in any batch that also holds a null id, so ids
above 2^53 would come back rounded.
"""

from __future__ import annotations

import ast
import json
import re
from pathlib import Path

import numpy as np
import pytest

from fineweb_legal_spark.operators import (
    boilerplate,
    decontam,
    embed,
    multimodal,
    similarity,
    spandedup,
)
from fineweb_legal_spark.session import arrow_table, explain_formatted

REPO = Path(__file__).resolve().parent.parent
A, B = (1 << 53) + 1, (1 << 53) + 3  # adjacent float64 neighbours round both
TO_BIG = {1: A, 3: B}

_SPAN = "the quick brown fox jumps over the lazy dog near the old mill"
_TEXTS = (
    f"alpha beta {_SPAN} gamma",
    f"{_SPAN} and a few more words",  # the null-id row
    f"canned licence block {_SPAN}",
)


def _docs(spark, a, b):
    rows = [(a, _TEXTS[0]), (None, _TEXTS[1]), (b, _TEXTS[2])]
    return spark.createDataFrame(
        arrow_table(rows, "doc_id bigint, text string")
    ).coalesce(1)


def _vecs(spark, a, b):
    rs = np.random.RandomState(5)
    base = rs.randn(64)
    rows = [
        (vid, [float(x) for x in base + 0.1 * rs.randn(64)])
        for vid in (a, None, b)
    ]
    return spark.createDataFrame(
        arrow_table(rows, "vec_id bigint, embedding array<float>")
    ).coalesce(1)


def _media(spark, a, b):
    meta = json.dumps({"width": 2, "height": 2, "channels": 3, "frames": 4})
    rows = [
        (mid, "video", meta, bytes(range(i, i + 48)))
        for i, mid in enumerate((a, None, b))
    ]
    return spark.createDataFrame(
        arrow_table(
            rows, "media_id bigint, kind string, meta string, payload binary"
        )
    ).coalesce(1)


# name -> (input builder, operator(frame, query ids), id columns,
#          {row kernel: ArrowEvalPython nodes calling it})
CASES = {
    "ngram_hashes": (
        _docs,
        lambda d, q: decontam.ngram_hashes(d, "doc_id", "text", 8),
        ("id",),
        {"gram_stream_kernel": 1},
    ),
    "decontaminate": (  # the benchmark side and the corpus side
        _docs,
        lambda d, q: decontam.decontaminate(d, d, n=8),
        ("doc_id",),
        {"gram_stream_kernel": 2},
    ),
    "scrub_repeated_spans": (  # every repeated gram is hot: no join-back
        _docs,
        lambda d, q: spandedup.scrub_repeated_spans(d, n=8, min_docs=2),
        ("doc_id",),
        {"mask_kernel": 1},
    ),
    "embed_docs": (
        _docs, lambda d, q: embed.embed_docs(d, dim=16), ("id",), {"embed_kernel": 1}
    ),
    "c4_line_filter": (
        _docs,
        lambda d, q: boilerplate.c4_line_filter(d, min_lines=1),
        ("id",),
        {"c4_kernel": 1},
    ),
    "lsh_buckets": (
        _vecs,
        lambda d, q: similarity.lsh_buckets(d, 64),
        ("vec_id",),
        {"lsh_probes": 1},
    ),
    "ivf_assign": (
        _vecs,
        lambda d, q: similarity.ivf_assign(d, 64),
        ("vec_id",),
        {"ivf_cells": 1},
    ),
    "pq_encode": (
        _vecs, lambda d, q: similarity.pq_encode(d, 64), ("vec_id",), {"pq_codes": 1}
    ),
    "ivf_ann_topk": (  # the corpus's cells and the queries' probes
        _vecs,
        lambda d, q: similarity.ivf_ann_topk(d, q, k=2, dim=64, nprobe=16),
        ("query_id", "vec_id"),
        {"ivf_cells": 2, "cosine_sim": 1},
    ),
    "lsh_ann_topk_multiprobe": (
        _vecs,
        lambda d, q: similarity.lsh_ann_topk(
            d, q, k=2, dim=64, n_planes=2, n_probes=3
        ),
        ("query_id", "vec_id"),
        {"lsh_probes": 2, "cosine_sim": 1},
    ),
    "embedding_neardup_pairs": (  # one bucket kernel per self-join side
        _vecs,
        lambda d, q: similarity.embedding_neardup_pairs(
            d, 64, threshold=-1.0, n_planes=1
        ),
        ("id_a", "id_b"),
        {"lsh_probes": 2},
    ),
    "sample_frames": (
        _media,
        lambda d, q: multimodal.sample_frames(d, every_n=2),
        ("media_id",),
        {"frames_kernel": 1},
    ),
    "fake_embedding": (
        _media,
        lambda d, q: multimodal.fake_embedding(d, dim=16),
        ("media_id",),
        {"embed_kernel": 1},
    ),
}


def _kernel_nodes(plan: str) -> list[str]:
    """The Python function each ArrowEvalPython node calls."""
    return re.findall(r"\) ArrowEvalPython\n.*\nArguments: \[(\w+)\(", plan)


def _rows(df, id_cols, to_big):
    out = []
    for r in df.collect():
        d = r.asDict()
        for c in id_cols:
            v = d[c]
            d[c] = v if v is None else type(v)(to_big.get(int(v), int(v)))
        out.append(repr(sorted(d.items())))
    return sorted(out)


@pytest.mark.parametrize("name", sorted(CASES))
def test_row_kernel_ids_exact(spark, name):
    """Ids 2^53+1 and 2^53+3 beside a null id in one Arrow batch come
    back exact, with the values the same operator gives for ids 1 and 3."""
    build, op, id_cols, _ = CASES[name]
    big = op(build(spark, A, B), [A])
    want = _rows(op(build(spark, 1, 3), [1]), id_cols, TO_BIG)
    got = _rows(big, id_cols, {})
    assert want and got == want
    ids = {str(r[c]) for r in big.collect() for c in id_cols}
    assert {str(A), str(B)} <= ids, ids


@pytest.mark.parametrize("name", sorted(CASES))
def test_row_kernel_plans(spark, name):
    """Each row kernel runs in one ArrowEvalPython per input it reads,
    and no MapInPandas is left."""
    build, op, _, kernels = CASES[name]
    plan = explain_formatted(op(build(spark, A, B), [A]))
    assert ") MapInPandas" not in plan, plan
    nodes = _kernel_nodes(plan)
    assert {k: nodes.count(k) for k in kernels} == kernels, plan


def test_ngram_hashes_are_distinct_grams_of_the_stream(spark):
    got = {}
    for r in CASES["ngram_hashes"][1](_docs(spark, A, B), None).collect():
        got.setdefault(r["id"], []).append(r["gram"])
    for rid, text in ((A, _TEXTS[0]), (None, _TEXTS[1]), (B, _TEXTS[2])):
        words = decontam.ascii_words(text)
        stream = decontam.rolling_gram_hash_stream(words, 8).view(np.int64)
        assert sorted(got[rid]) == sorted(set(stream.tolist()))


def _map_in_pandas_calls(path: Path) -> int:
    return sum(
        isinstance(node, ast.Call)
        and isinstance(node.func, ast.Attribute)
        and node.func.attr == "mapInPandas"
        for node in ast.walk(ast.parse(path.read_text()))
    )


@pytest.mark.parametrize(
    "module, calls",
    [
        ("decontam", 0),
        ("spandedup", 0),
        ("embed", 0),
        ("multimodal", 0),
        ("similarity", 1),  # the PQ ADC scan, a per-batch kernel
    ],
)
def test_row_kernel_modules_have_no_map_in_pandas(module, calls):
    path = REPO / "fineweb_legal_spark" / "operators" / f"{module}.py"
    assert _map_in_pandas_calls(path) == calls


def test_scrub_all_hot_vs_tail_plan(spark, monkeypatch):
    """With a tail the scrub runs three kernels (gram frequency, tail
    positions, mask), each one ArrowEvalPython."""
    monkeypatch.setattr(spandedup, "_HOT_GRAMS", 0)
    plan = explain_formatted(
        spandedup.scrub_repeated_spans(_docs(spark, A, B), n=8, min_docs=2)
    )
    assert ") MapInPandas" not in plan, plan
    assert sorted(_kernel_nodes(plan)) == [
        "gram_stream_kernel",
        "gram_stream_kernel",
        "mask_kernel",
    ], plan
    assert "posexplode" in plan, plan
