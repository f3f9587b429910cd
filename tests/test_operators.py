"""Training-data operators vs their independent single-node twins."""

from __future__ import annotations

import pandas as pd
import pyspark.sql.functions as F
import pytest

from fineweb_legal_spark.datasets import DATA_DIR, ensure_media, ensure_transcripts


def _t1_turns(spark):
    return (
        spark.read.parquet(str(ensure_transcripts("t1")))
        .filter("text is not null")
        .select(
            F.concat_ws("#", "conv_id", F.format_string("%06d", "turn_idx")).alias(
                "id"
            ),
            "text",
        )
    )


def _pairs_equal(got: pd.DataFrame, gold: pd.DataFrame, value_col: str) -> None:
    m = gold.merge(got, on=["id_a", "id_b"], how="outer", indicator=True,
                   suffixes=("_g", "_s"))
    assert (m["_merge"] == "both").all(), m[m._merge != "both"].head()
    assert (m[value_col + "_g"] == m[value_col + "_s"]).all()


def test_minhash_lsh_equals_brute_force(spark):
    from fineweb_legal_spark.operators.dedup import minhash_neardup_pairs

    got = minhash_neardup_pairs(_t1_turns(spark), threshold=0.9).toPandas()
    gold = pd.read_parquet(DATA_DIR / "golden/t1/neardup_minhash.parquet")
    _pairs_equal(got, gold, "jaccard")


def test_simhash_lsh_equals_brute_force(spark):
    from fineweb_legal_spark.operators.dedup import simhash_neardup_pairs

    got = simhash_neardup_pairs(_t1_turns(spark), max_hamming=3).toPandas()
    gold = pd.read_parquet(DATA_DIR / "golden/t1/neardup_simhash.parquet")
    _pairs_equal(got, gold, "hamming")


def test_lsh_ann_matches_numpy_twin(spark):
    from fineweb_legal_spark.operators.similarity import lsh_ann_topk

    emb = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    got = (
        lsh_ann_topk(emb, query_ids=list(range(10)), k=5, dim=64)
        .toPandas()
        .sort_values(["query_id", "rank"])
        .reset_index(drop=True)
    )
    gold = (
        pd.read_parquet(DATA_DIR / "golden/sf0.01/lsh_ann.parquet")
        .sort_values(["query_id", "rank"])
        .reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(
        got.astype({"rank": "int64"}), gold.astype({"rank": "int64"})
    )


def test_media_ops(spark):
    from fineweb_legal_spark.operators.multimodal import (
        fake_embedding,
        media_meta,
        sample_frames,
    )

    media = spark.read.parquet(str(ensure_media("t1")))
    meta = media_meta(media).toPandas()
    assert len(meta) == 200
    img = meta[meta.kind == "image"]
    assert (img.n_bytes == img.width * img.height * img.channels).all()

    frames = sample_frames(media, every_n=2).toPandas()
    gold = pd.read_parquet(DATA_DIR / "golden/media_t1/media_frames.parquet")
    m = gold.merge(frames, on=["media_id", "frame_idx"], suffixes=("_g", "_s"))
    assert len(m) == len(gold) == len(frames)
    assert (m.frame_mean_g == m.frame_mean_s).all()

    emb = fake_embedding(media, dim=16).toPandas()
    assert len(emb) == 200
    import numpy as np

    norms = [np.linalg.norm(np.array(e)) for e in emb.embedding]
    assert all(abs(n - 1.0) < 1e-3 for n in norms)

    # host-independent values: every row equals the float64 reference
    # (exact integer sum of squares, float64 sqrt/divide, round(6), float32
    # at the schema boundary); a float32 norm flips 6th-decimal midpoints
    import math

    import pyarrow.parquet as pq

    got = dict(zip(emb.media_id, emb.embedding))
    raw = pq.read_table(ensure_media("t1"), columns=["media_id", "payload"])
    bad = []
    for mid, payload in zip(
        raw.column("media_id").to_pylist(), raw.column("payload").to_pylist()
    ):
        hist, _ = np.histogram(
            np.frombuffer(payload, dtype=np.uint8), bins=16, range=(0, 256)
        )
        norm = math.sqrt(sum(int(h) * int(h) for h in hist))
        want = (hist / (norm or 1.0)).round(6).astype(np.float32)
        if not np.array_equal(np.asarray(got[mid], dtype=np.float32), want):
            bad.append(mid)
    assert bad == [], bad


def test_textql_token_counts(spark):
    from fineweb_legal_spark.operators.textql import fingerprint, token_counts

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    got = token_counts(docs).select("doc_id", "text", "ws_tokens", "bpe_ish_tokens").toPandas()
    for _, r in got.head(50).iterrows():
        words = r.text.split()
        assert r.ws_tokens == len(words)
        assert r.bpe_ish_tokens == sum((len(w) + 3) // 4 for w in words)
    fp = fingerprint(docs).select("fingerprint").toPandas()
    assert fp.fingerprint.str.fullmatch("[0-9a-f]{16}").all()


def test_embedding_neardup_matches_numpy_twin(spark):
    """Bucket-restricted cosine near-dup pairs == a numpy recomputation of
    the same contract (buckets from the plane matrix + exact cosine)."""
    import numpy as np

    from fineweb_legal_spark.operators.similarity import (
        N_PLANES,
        embedding_neardup_pairs,
        planes_for,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    got = (
        embedding_neardup_pairs(emb, dim=64, threshold=0.4)
        .toPandas()
        .sort_values(["id_a", "id_b"])
        .reset_index(drop=True)
    )

    pdf = emb.toPandas()
    mat = np.stack(pdf.embedding.to_numpy()).astype(np.float64)
    ids = pdf.vec_id.to_numpy()
    bits = (np.stack(pdf.embedding.to_numpy()) @ planes_for(64).T) > 0
    buckets = bits @ (1 << np.arange(N_PLANES))
    norms = np.linalg.norm(mat, axis=1)
    expect = []
    for b in np.unique(buckets):
        sel = np.where(buckets == b)[0]
        sub = mat[sel]
        cos = np.round((sub @ sub.T) / np.outer(norms[sel], norms[sel]), 4)
        for i in range(len(sel)):
            for j in range(len(sel)):
                ia, ib = int(ids[sel[i]]), int(ids[sel[j]])
                if ia < ib and cos[i, j] >= 0.4:
                    expect.append((ia, ib, cos[i, j]))
    expect.sort()
    assert list(map(tuple, got.itertuples(index=False))) == [
        (a, b, float(c)) for a, b, c in expect
    ]


def test_connected_components_tiny_graph(spark):
    # two chains and a singleton-free triangle: {a,b,c}, {x,y}, {p,q,r}
    from fineweb_legal_spark.operators.cluster import connected_components

    pairs = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("x", "y"), ("q", "p"), ("q", "r")],
        ["id_a", "id_b"],
    )
    got = {
        (r["id"], r["cluster_id"])
        for r in connected_components(pairs).collect()
    }
    assert got == {
        ("a", "a"), ("b", "a"), ("c", "a"),
        ("x", "x"), ("y", "x"),
        ("p", "p"), ("q", "p"), ("r", "p"),
    }


def test_sessionize_gap_splits(spark):
    from fineweb_legal_spark.operators.cluster import sessionize

    rows = [
        # user 1: two sessions (gap 4000s > 1800s), first has 2 events
        (1, 1, "2024-01-01 00:00:00"),
        (2, 1, "2024-01-01 00:10:00"),
        (3, 1, "2024-01-01 01:30:00"),
        # user 2: one session
        (4, 2, "2024-01-01 05:00:00"),
    ]
    e = spark.createDataFrame(rows, ["event_id", "user_id", "ts_s"]).select(
        "event_id", "user_id", F.col("ts_s").cast("timestamp").alias("ts")
    )
    got = {
        (r["user_id"], r["sess_idx"]): (r["n_events"], r["duration_s"])
        for r in sessionize(e, gap_s=1800).collect()
    }
    assert got == {(1, 1): (2, 600), (1, 2): (1, 0), (2, 1): (1, 0)}


def test_salted_join_matches_plain_join(spark):
    from fineweb_legal_spark.operators.skew import salted_join

    # heavy-hitter: 90% of fact rows share key 0
    fact = spark.range(20000).select(
        F.when(F.col("id") % 10 < 9, 0).otherwise(F.col("id") % 50).alias("k"),
        F.col("id").alias("v"),
    )
    dim = spark.range(50).select(
        F.col("id").alias("k"), F.concat(F.lit("d"), F.col("id")).alias("name")
    )
    got = salted_join(fact, dim, "k", salt=8)
    plain = fact.join(dim, "k")
    assert got.count() == plain.count()
    assert got.select(F.sum("v")).first()[0] == plain.select(F.sum("v")).first()[0]
    # every hot-key row survived with the right payload
    assert got.filter("k = 0 and name = 'd0'").count() == fact.filter("k = 0").count()


def test_asof_join_tiny(spark):
    from fineweb_legal_spark.operators.asof import asof_join

    left = spark.createDataFrame(
        [(1, "u", 100), (2, "u", 205), (3, "v", 50)], ["event_id", "k", "t"]
    )
    right = spark.createDataFrame(
        [("u", 100), ("u", 200), ("v", 60)], ["k", "t"]
    )
    got = {
        r["event_id"]: r["asof_ts"]
        for r in asof_join(left, right, key="k", ts="t").collect()
    }
    # equal timestamps match (>=); no prior click -> null
    assert got == {1: 100, 2: 200, 3: None}


def test_range_bucket_join_tiny(spark):
    from fineweb_legal_spark.operators.asof import range_bucket_join

    facts = spark.createDataFrame(
        [(1, 10.0), (2, 75.0), (3, 150.0)], ["id", "v"]
    )
    bands = spark.createDataFrame(
        [("a", 0.0, 100.0), ("b", 50.0, 200.0)], ["band", "lo", "hi"]
    )
    got = {
        (r["id"], r["band"])
        for r in range_bucket_join(facts, bands, "v", step=30.0).collect()
    }
    # 75 overlaps both bands; 150 only band b; boundary 0<=10<100 in a
    assert got == {(1, "a"), (2, "a"), (2, "b"), (3, "b")}


def test_connected_components_raises_on_nonconvergence(spark):
    import pytest as _pytest

    from fineweb_legal_spark.operators.cluster import _cc_hashmin

    # a 6-node chain needs 5 propagation rounds; hashmin with max_iter=2
    # must raise, never silently return split clusters
    chain = spark.createDataFrame(
        [(f"n{i}", f"n{i+1}") for i in range(5)], ["id_a", "id_b"]
    )
    with _pytest.raises(RuntimeError, match="did not converge"):
        _cc_hashmin(chain, max_iter=2)
    # and with enough rounds the same chain is one cluster
    got = _cc_hashmin(chain, max_iter=10)
    assert got.select("cluster_id").distinct().count() == 1


def test_connected_components_star_long_chain(spark):
    # adversarial diameter: a 26-node chain (diameter 25 > default
    # max_iter=20). hashmin alone raises; star, and connected_components'
    # fallback to it, both collapse it to one cluster rooted at the min id.
    import pytest as _pytest

    from fineweb_legal_spark.operators.cluster import (
        _cc_hashmin,
        _cc_star,
        connected_components,
    )

    chain = spark.createDataFrame(
        [(f"n{i:02d}", f"n{i+1:02d}") for i in range(25)], ["id_a", "id_b"]
    )
    with _pytest.raises(RuntimeError, match="did not converge"):
        _cc_hashmin(chain, max_iter=20)
    for name, cc in (("star", _cc_star), ("fallback", connected_components)):
        got = cc(chain, max_iter=20).collect()
        assert len(got) == 26, name
        assert {r["cluster_id"] for r in got} == {"n00"}, name


def test_connected_components_star_matches_hashmin(spark):
    from fineweb_legal_spark.operators.cluster import _cc_hashmin, _cc_star

    pairs = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("x", "y"), ("q", "p"), ("q", "r")],
        ["id_a", "id_b"],
    )
    hm = {
        (r["id"], r["cluster_id"])
        for r in _cc_hashmin(pairs, max_iter=20).collect()
    }
    st = {
        (r["id"], r["cluster_id"]) for r in _cc_star(pairs, max_iter=20).collect()
    }
    assert hm == st


def test_pack_turns_greedy_boundaries(spark):
    from fineweb_legal_spark.operators.packing import pack_turns

    # token estimates: max(1, len//4). Texts of 40/40/400/40 chars ->
    # 10/10/100/10 tokens with budget 25: [t0,t1] then oversized t2 alone
    # (overflows but opens its own chunk) then [t3]
    rows = [
        ("c", 0, "x" * 40), ("c", 1, "x" * 40),
        ("c", 2, "x" * 400), ("c", 3, "x" * 40),
    ]
    df = spark.createDataFrame(rows, ["conv_id", "turn_idx", "text"])
    got = {
        r["chunk_idx"]: (r["n_turns"], r["tokens"], r["first_turn"], r["last_turn"])
        for r in pack_turns(df, budget=25).collect()
    }
    assert got == {0: (2, 20, 0, 1), 1: (1, 100, 2, 2), 2: (1, 10, 3, 3)}


def test_pack_kernel_is_per_chunk_not_per_turn():
    # the greedy kernel must stay fast on a pathological conversation:
    # 100k turns pack via per-chunk searchsorted (O(chunks log n)), not a
    # per-turn Python loop. Pure-pandas call, no Spark — this bounds the
    # per-task cost directly.
    import time

    import numpy as np
    import pandas as pd

    from fineweb_legal_spark.operators.packing import _pack_group

    n = 100_000
    rng = np.random.RandomState(7)
    pdf = pd.DataFrame(
        {
            "conv_id": "giant",
            "turn_idx": np.arange(n, dtype="int32"),
            "tok": rng.randint(1, 60, size=n).astype("int64"),
        }
    )
    t0 = time.time()
    out = _pack_group(budget=512)(pdf)
    el = time.time() - t0
    assert el < 2.0, f"pack kernel took {el:.2f}s on 100k turns"
    # invariants: contiguous cover, budget respected (oversize impossible
    # here: max tok 59 < 512), chunks maximal (adding the next turn would
    # overflow)
    assert out["n_turns"].sum() == n
    assert (out["tokens"] <= 512).all()
    assert (out["first_turn"].iloc[1:].to_numpy()
            == out["last_turn"].iloc[:-1].to_numpy() + 1).all()
    toks = pdf["tok"].to_numpy()
    nxt = out["last_turn"].to_numpy()[:-1] + 1
    assert ((out["tokens"].to_numpy()[:-1] + toks[nxt]) > 512).all()


def test_pack_span_presplit_bounded_and_renumbered(spark):
    from fineweb_legal_spark.operators.packing import pack_turns

    # 2000-turn conversation, span_turns=500 -> 4 independent span tasks.
    rows = [("c", i, "x" * 40) for i in range(2000)]  # 10 tokens each
    df = spark.createDataFrame(rows, ["conv_id", "turn_idx", "text"])
    got = (
        pack_turns(df, budget=95, span_turns=500)
        .orderBy("chunk_idx")
        .toPandas()
    )
    # budget 95 / 10-token turns -> 9 turns per chunk; 500 % 9 != 0 so the
    # span boundary forces a short 5-turn chunk at each span edge —
    # the documented span-mode semantic (chunks never cross a span)
    assert got["n_turns"].sum() == 2000
    assert (got["tokens"] <= 95).all()
    assert list(got["chunk_idx"]) == list(range(len(got)))  # global renumber
    assert (got["first_turn"].iloc[1:].to_numpy()
            == got["last_turn"].iloc[:-1].to_numpy() + 1).all()
    spans = got["first_turn"] // 500
    assert (spans == got["last_turn"] // 500).all()  # no chunk crosses a span
    # exact mode on the same input: one long run of 9s (global greedy)
    exact = pack_turns(df, budget=95).toPandas()
    assert set(exact["n_turns"].iloc[:-1]) == {9}


def test_suggest_n_planes_scales_with_corpus():
    from fineweb_legal_spark.operators.similarity import suggest_n_planes

    assert suggest_n_planes(1_000, target_bucket_size=1024) == 1
    assert suggest_n_planes(2**20 * 1024, target_bucket_size=1024) == 20
    # doubling the corpus adds a plane: occupancy stays ~target
    assert (
        suggest_n_planes(2 * 10**9) == suggest_n_planes(10**9) + 1
    )


def test_planes_prefix_stable_across_configs():
    import numpy as np

    from fineweb_legal_spark.operators.similarity import (
        ivf_centroids,
        planes_for,
    )

    # goldens built at the default config must stay valid when a larger
    # one is added: row i is identical for every n >= i
    assert np.array_equal(planes_for(64, 6), planes_for(64, 8)[:6])
    assert np.array_equal(ivf_centroids(64, 16), ivf_centroids(64, 64)[:16])


def test_train_ivf_centroids_improves_quantization(spark):
    import numpy as np

    from fineweb_legal_spark.operators.similarity import (
        ivf_centroids,
        train_ivf_centroids,
    )

    emb = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    trained = train_ivf_centroids(emb, dim=64, n_cells=16, sample_n=1024)
    assert trained.shape == (16, 64)
    assert np.allclose(np.linalg.norm(trained, axis=1), 1.0)
    pdf = emb.limit(2000).toPandas()
    mat = np.stack(pdf.embedding.to_numpy()).astype(np.float64)
    mat = mat / np.linalg.norm(mat, axis=1, keepdims=True)
    # spherical k-means objective: mean max-cosine to the nearest centroid
    seeded_obj = (mat @ ivf_centroids(64, 16).T).max(axis=1).mean()
    trained_obj = (mat @ trained.T).max(axis=1).mean()
    assert trained_obj > seeded_obj


def test_multiprobe_lsh_expands_candidates_monotonically(spark):
    """Multi-probe LSH guarantees: strictly more probed coverage (rows)
    and per-rank weakly better cosine for every query — the search only
    ever ADDS candidates (own bucket is always probe #1)."""
    from fineweb_legal_spark.operators.similarity import lsh_ann_topk

    emb = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    qids = list(range(10))
    single = lsh_ann_topk(emb, qids, k=5, dim=64, n_planes=8).toPandas()
    multi = lsh_ann_topk(
        emb, qids, k=5, dim=64, n_planes=8, n_probes=3
    ).toPandas()
    # at 256 buckets over ~n=1e3 vectors many buckets hold <6 rows, so
    # 3 probes must surface strictly more results
    assert len(multi) > len(single), (len(single), len(multi))
    m = single.merge(multi, on=["query_id", "rank"], suffixes=("_1", "_3"))
    assert (m.cos_sim_3 >= m.cos_sim_1).all()
    # and the single-probe result set is dominated: every single-probe hit
    # is either kept or displaced by a strictly better candidate
    for qid in qids:
        s = single[single.query_id == qid]
        if not len(s):
            continue
        worst3 = multi[multi.query_id == qid].cos_sim.min()
        dropped = s[~s.vec_id.isin(multi[multi.query_id == qid].vec_id)]
        assert (dropped.cos_sim <= worst3).all()


def test_decontaminate_flags_planted_overlap(spark):
    from fineweb_legal_spark.operators.decontam import decontaminate

    gram = "alpha beta gamma delta epsilon zeta eta theta"  # 8 words
    docs = spark.createDataFrame(
        [
            (1, f"prefix words {gram} suffix words here"),   # contaminated
            (2, "totally unrelated text with enough words to form grams ok"),
            (3, "short text"),                                # < n words
            (4, None),                                        # null text
        ],
        ["doc_id", "text"],
    )
    bench = spark.createDataFrame(
        [(100, f"the benchmark question contains {gram} verbatim indeed")],
        ["doc_id", "text"],
    )
    got = {
        r["doc_id"]: (r["n_contaminated_grams"], r["contaminated"])
        for r in decontaminate(docs, bench, n=8).collect()
    }
    assert got[1] == (1, True)
    assert got[2] == (0, False)
    assert got[3] == (0, False)
    assert got[4] == (0, False)


def test_mixture_sample_rates_and_determinism(spark):
    from fineweb_legal_spark.operators.mixture import mixture_sample

    d = spark.range(20000).select(
        F.concat(F.lit("s"), (F.col("id") % 4).cast("string")).alias("source"),
        F.col("id").alias("doc_id"),
    )
    rates = {"s0": 0.9, "s1": 0.5, "s2": 0.1, "s3": 0.0}
    kept = mixture_sample(d, rates).toPandas()
    counts = kept.groupby("source").size().to_dict()
    # ~5000 rows per source; md5 hashing keeps each within a loose CLT band
    assert abs(counts.get("s0", 0) / 5000 - 0.9) < 0.05
    assert abs(counts.get("s1", 0) / 5000 - 0.5) < 0.05
    assert abs(counts.get("s2", 0) / 5000 - 0.1) < 0.05
    assert "s3" not in counts
    # deterministic: the exact same row set on a re-run
    again = mixture_sample(d, rates).toPandas()
    assert sorted(kept.doc_id) == sorted(again.doc_id)


def test_mixture_sample_rate_one_keeps_everything(spark):
    # rate 1.0 must keep EVERY row, including keys whose md5 prefix is
    # 'ffffffff' (threshold sentinel 'g' > any hex prefix)
    from fineweb_legal_spark.operators.mixture import (
        mixture_sample,
        rate_threshold_hex,
    )

    assert rate_threshold_hex(1.0) == "g"
    d = spark.range(5000).select(
        F.lit("s0").alias("source"), F.col("id").alias("doc_id")
    )
    assert mixture_sample(d, {"s0": 1.0}).count() == 5000


def test_strip_common_lines_planted(spark):
    from fineweb_legal_spark.operators.boilerplate import strip_common_lines

    boiler = "All rights reserved by the example corp."
    docs = spark.createDataFrame(
        [
            (1, f"unique first line\n{boiler}\nunique last line"),
            (2, f"{boiler}\nanother unique body"),
            (3, f"solo content without chrome"),
            (4, boiler),            # only the common line -> ''
            (5, None),              # null text -> null
            (6, f"keep\n\nblank lines stay\n{boiler}"),
        ],
        ["doc_id", "text"],
    )
    got = {
        r["id"]: r["clean_text"]
        for r in strip_common_lines(docs, min_docs=3).collect()
    }
    assert got["1"] == "unique first line\nunique last line"
    assert got["2"] == "another unique body"
    assert got["3"] == "solo content without chrome"
    assert got["4"] == ""
    assert got["5"] is None
    assert got["6"] == "keep\n\nblank lines stay"

    # the fractional threshold (3/6 docs = 0.5) gives the same answer
    alt = {
        r["id"]: r["clean_text"]
        for r in strip_common_lines(docs, min_docs=0.5).collect()
    }
    assert alt == got

    # the shuffle path: with both broadcast thresholds off the strip join
    # cannot broadcast the common-line set, and the answer is the same
    from fineweb_legal_spark.session import explain_formatted

    confs = (
        "spark.sql.autoBroadcastJoinThreshold",
        "spark.sql.adaptive.autoBroadcastJoinThreshold",
    )
    prev = {k: spark.conf.get(k, None) for k in confs}
    try:
        for k in confs:
            spark.conf.set(k, "-1")
        for min_docs in (3, 0.5):
            stripped = strip_common_lines(docs, min_docs=min_docs)
            alt = {r["id"]: r["clean_text"] for r in stripped.collect()}
            assert alt == got, min_docs
            assert "BroadcastHashJoin" not in explain_formatted(stripped)
    finally:
        for k, v in prev.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_transcript_structure_checks_planted(spark):
    from fineweb_legal_spark.validation import transcript_structure_checks

    rows = [
        # clean conversation
        ("c1", 0, "user", None),
        ("c1", 1, "assistant", None),
        ("c1", 2, "tool", "shell"),       # tool after assistant: ok
        ("c1", 3, "tool", "python"),      # tool chain: ok
        # violations
        ("c2", 0, "assistant", None),     # opens with assistant
        ("c2", 1, "tool", None),          # tool role without name AND
                                          # tool after non-assistant? prev
                                          # is assistant -> ordering ok
        ("c2", 3, "user", "shell"),       # gap (2 missing) + name on user
        ("c3", 0, "user", None),
        ("c3", 1, "tool", "sql"),         # tool directly after user
    ]
    df = spark.createDataFrame(rows, ["conv_id", "turn_idx", "role", "tool"])
    got = {
        r["check"]: r["violations"]
        for r in transcript_structure_checks(df).collect()
    }
    assert got == {
        "tool_role_without_tool_name": 1,
        "tool_name_on_non_tool_role": 1,
        "tool_turn_not_after_assistant": 1,
        "conv_opens_with_tool_or_assistant": 1,
        "turn_idx_gap": 1,
    }


def test_scrub_repeated_spans_planted(spark):
    from fineweb_legal_spark.operators.spandedup import scrub_repeated_spans

    span = "all rights reserved this text is a canned licence block here"
    docs = spark.createDataFrame(
        [
            (1, f"alpha beta {span} gamma delta"),
            (2, f"{span} unrelated tail words"),
            (3, "independent document with no repeats at all ok"),
            (4, span),          # nothing but the span -> ''
            (5, None),          # null text -> null
            (6, "short text"),  # < n words -> normalized passthrough
        ],
        ["doc_id", "text"],
    )
    got = {
        r["doc_id"]: (r["clean_text"], r["n_masked"])
        for r in scrub_repeated_spans(docs, n=8, min_docs=2).collect()
    }
    # the 11-word span occurs in docs 1, 2, 4; its constituent 8-grams all
    # have df >= 2, so the whole span is masked wherever it appears
    assert got[1] == ("alpha beta gamma delta", 11)
    assert got[2] == ("unrelated tail words", 11)
    assert got[3] == ("independent document with no repeats at all ok", 0)
    assert got[4] == ("", 11)
    assert got[5] == (None, 0)
    assert got[6] == ("short text", 0)


def test_scrub_repeated_spans_hot_tier_identical(spark, monkeypatch):
    # round 6: the duplicate-saturation guard (hot-gram broadcast tier)
    # must not change a single output row. Three plans over the same
    # corpus: join-only (_HOT_GRAMS=0, the round-5 shape), all-hot
    # (default: every repeated gram fits the top-K), and a FORCED
    # hot/tail split (_HOT_GRAMS=1: one gram hot, the rest take the
    # join-back) — identical results, including null/short/empty rows.
    from fineweb_legal_spark.operators import spandedup
    from fineweb_legal_spark.operators.spandedup import scrub_repeated_spans

    span = "all rights reserved this text is a canned licence block here"
    other = "another repeated paragraph that shows up in two documents too"
    docs = spark.createDataFrame(
        [
            (1, f"alpha beta {span} gamma delta"),
            (2, f"{span} unrelated tail words and then {other}"),
            (3, f"prefix words here {other} suffix"),
            (4, span),
            (5, None),
            (6, "short text"),
            (7, "independent document with no repeats at all ok"),
        ],
        ["doc_id", "text"],
    )

    def run(hot_grams):
        monkeypatch.setattr(spandedup, "_HOT_GRAMS", hot_grams)
        return sorted(
            (r["doc_id"], r["clean_text"], r["n_masked"])
            for r in scrub_repeated_spans(docs, n=8, min_docs=2).collect()
        )

    default = spandedup._HOT_GRAMS
    ref = run(0)
    assert any(nm > 0 for _, _, nm in ref)  # the fixture really masks
    assert run(default) == ref  # default top-K covers everything
    assert run(1) == ref  # forced hot/tail split


def _py_words(text):
    """The dedup normalization: lowercase ASCII-whitespace tokens."""
    import re

    return [w for w in re.split(r"[ \t\n\r\f\x0b]+", text.lower()) if w]


def _py_top_grams(text, ns):
    """Pure-Python Counter twin of the top-gram signal: {n: (gram, count,
    covered chars)} under max(count * len(gram), gram); n omitted when
    the document has fewer than n words."""
    from collections import Counter

    words = _py_words(text)
    out = {}
    for n in ns:
        grams = [" ".join(words[j : j + n]) for j in range(len(words) - n + 1)]
        if not grams:
            continue
        gram, c = max(
            Counter(grams).items(), key=lambda kv: (kv[1] * len(kv[0]), kv[0])
        )
        out[n] = (gram, c, c * len(gram))
    return out


def _py_dup_fracs(text, ns):
    """Pure-Python string-Counter twin of the duplicate-gram coverage:
    {n: word chars covered by a gram occurring >= 2 times (intervals
    unioned) / total word chars}; n omitted below n words."""
    from collections import Counter

    w = _py_words(text)
    total = sum(len(x) for x in w)
    out = {}
    for n in ns:
        if len(w) < n:
            continue
        grams = [" ".join(w[j : j + n]) for j in range(len(w) - n + 1)]
        cnt = Counter(grams)
        covered: set[int] = set()
        for j, g in enumerate(grams):
            if cnt[g] >= 2:
                covered.update(range(j, j + n))
        out[n] = sum(len(w[j]) for j in covered) / total
    return out


def _py_round6(x):
    """Spark's round(x, 6) on a double: HALF_UP on its decimal form."""
    from decimal import ROUND_HALF_UP, Decimal

    return float(Decimal(repr(x)).quantize(Decimal("1e-6"), ROUND_HALF_UP))


def test_repetition_signals_exact_and_plan(spark):
    from fineweb_legal_spark.operators.textql import repetition_signals

    docs = spark.createDataFrame(
        [
            (1, "spark spark spark is fast"),
            (2, "a b a b a b"),   # tie at n=3 -> lexicographically greatest
            (3, None),            # null text -> excluded
            (4, "   "),           # whitespace-only -> no grams
            (5, "one"),           # < 2 words -> excluded everywhere
            (6, "x\ty  z\nx y z x y"),  # mixed whitespace tokenization
        ],
        ["doc_id", "text"],
    )
    out = repetition_signals(docs)
    # plan BEFORE execution: post-collect explain shows the final AQE
    # plan whose node format differs (isFinalPlan=true, query stages)
    plan = out._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"
        )
    )
    # scale contract (round 5, after the 10M ENOSPC finding): the arrow
    # kernel plans ZERO exchanges — one Arrow eval + a row-local explode,
    # nothing shuffles at any corpus size
    assert plan.count(") Exchange") == 0, plan
    assert "ArrowEvalPython" in plan
    assert ") Window" not in plan
    got = {
        (r["doc_id"], r["n"]): (r["top_gram"], r["top_cnt"], r["top_gram_char_frac"])
        for r in out.collect()
    }
    assert got[(1, 2)] == ("spark spark", 2, 0.88)
    assert got[(1, 3)] == ("spark spark spark", 1, 0.68)
    assert got[(1, 4)] == ("spark spark spark is", 1, 0.8)
    # "a b a" and "b a b" both occur twice (overlapping); covered ties at
    # 10 chars -> deterministic tie-break to the greatest gram
    assert got[(2, 3)] == ("b a b", 2, round(10 / 11, 6))
    # overlapping occurrences can push the ratio above 1 on degenerate
    # short docs -- documented property, not a bug
    assert got[(2, 4)] == ("a b a b", 2, round(14 / 11, 6))
    assert got[(6, 2)][0] == "x y"
    assert {k[0] for k in got} == {1, 2, 6}


def test_semantic_dedup_clusters_and_singletons(spark):
    from fineweb_legal_spark.operators.cluster import semantic_dedup

    dim = 8
    e1 = [1.0] + [0.0] * (dim - 1)
    e2 = [0.0, 1.0] + [0.0] * (dim - 2)
    neg = [-1.0] + [0.0] * (dim - 1)
    rows = [
        (1, e1), (2, e1), (3, e1),   # identical -> one semantic cluster
        (4, neg),                     # cos=-1 to e1 -> never a pair
        (5, e2),                      # orthogonal -> never a pair
    ]
    emb = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>"
    )
    out = {
        r["vec_id"]: (r["cluster_id"], r["keep"])
        for r in semantic_dedup(emb, dim=dim, threshold=0.9).collect()
    }
    # every input vector is labeled; the identical triple collapses to its
    # minimum id; non-duplicates are their own singleton clusters
    assert out == {
        1: (1, True),
        2: (1, False),
        3: (1, False),
        4: (4, True),
        5: (5, True),
    }


def test_rolling_gram_hash_stream_short_input():
    import numpy as np

    from fineweb_legal_spark.operators.decontam import rolling_gram_hash_stream

    out = rolling_gram_hash_stream(["only", "three", "words"], 8)
    assert out.dtype == np.uint64 and len(out) == 0


def test_semantic_dedup_honors_id_col(spark):
    from fineweb_legal_spark.operators.cluster import semantic_dedup

    dim = 8
    e1 = [1.0] + [0.0] * (dim - 1)
    rows = [(10, e1), (11, e1), (12, [0.0, 1.0] + [0.0] * (dim - 2))]
    emb = spark.createDataFrame(rows, "doc_id long, embedding array<float>")
    out = {
        r["doc_id"]: (r["cluster_id"], r["keep"])
        for r in semantic_dedup(
            emb, dim=dim, threshold=0.9, id_col="doc_id"
        ).collect()
    }
    assert out == {10: (10, True), 11: (10, False), 12: (12, True)}


def test_repetition_signals_randomized_python_parity(spark):
    """200 seeded random docs (tiny vocab forces heavy gram collisions,
    mixed whitespace separators, empties/nulls): the kernel == a
    pure-Python Counter twin on (top_gram, top_cnt) exactly and frac to
    1e-6."""
    import random

    rng = random.Random(42)
    vocab = ["a", "b", "ab", "the", "xx", "spark", "q", "zz"]
    seps = [" ", " ", " ", "\t", "\n", "  "]
    docs = []
    for i in range(200):
        k = rng.randint(0, 30)
        if k == 0:
            docs.append((i, rng.choice([None, "", "   "])))
            continue
        words = [rng.choice(vocab) for _ in range(k)]
        text = words[0] + "".join(
            rng.choice(seps) + w for w in words[1:]
        )
        docs.append((i, text))

    from fineweb_legal_spark.operators.textql import repetition_signals

    df = spark.createDataFrame(docs, "doc_id long, text string")
    got = {
        (r["doc_id"], r["n"]): (r["top_gram"], r["top_cnt"], r["top_gram_char_frac"])
        for r in repetition_signals(df).collect()
    }

    want = {
        (i, n): (gram, c, cov / len(text))
        for i, text in docs
        if text is not None
        for n, (gram, c, cov) in _py_top_grams(text, (2, 3, 4)).items()
    }

    assert set(got) == set(want)
    for key, (gram, c, frac) in want.items():
        g_gram, g_cnt, g_frac = got[key]
        assert (g_gram, g_cnt) == (gram, c), (key, got[key], want[key])
        assert abs(g_frac - frac) < 1e-6, (key, g_frac, frac)


def test_temperature_mixture_lifts_rare_sources(spark):
    """alpha=0.5 on a 16:1 two-source corpus: the rare source keeps
    everything (rate 1.0 sentinel), the dominant one samples at
    (c_min/c)^0.5 = 0.25 +- hash noise; deterministic across reruns."""
    from fineweb_legal_spark.operators.mixture import temperature_mixture

    df = spark.range(2125).select(
        F.col("id").alias("doc_id"),
        F.when(F.col("id") < 2000, "big").otherwise("small").alias("source"),
    )
    kept = temperature_mixture(df, alpha=0.5)
    counts = {r["source"]: r["n"] for r in
              kept.groupBy("source").agg(F.count(F.lit(1)).alias("n")).collect()}
    assert counts["small"] == 125
    assert 400 <= counts["big"] <= 600  # 0.25 rate +- hash noise
    again = {r["source"]: r["n"] for r in
             temperature_mixture(df, alpha=0.5).groupBy("source")
             .agg(F.count(F.lit(1)).alias("n")).collect()}
    assert again == counts


def test_temperature_mixture_null_sources_excluded(spark):
    """A tiny NULL-source group must neither become c_min (crushing real
    sources' rates) nor survive the sampler."""
    from fineweb_legal_spark.operators.mixture import temperature_mixture

    df = spark.range(2128).select(
        F.col("id").alias("doc_id"),
        F.when(F.col("id") < 2000, "big")
        .when(F.col("id") < 2125, "small")
        .otherwise(None)
        .alias("source"),
    )
    counts = {r["source"]: r["n"] for r in
              temperature_mixture(df, alpha=0.5).groupBy("source")
              .agg(F.count(F.lit(1)).alias("n")).collect()}
    assert None not in counts
    assert counts["small"] == 125          # c_min is small's 125, not NULL's 3
    assert 400 <= counts["big"] <= 600     # rate (125/2000)^0.5 = 0.25


def test_leakage_safe_splits_keep_clusters_together(spark):
    """Near-dup cluster members always share a split; singletons follow
    their own hash; no pair straddles a split boundary."""
    from fineweb_legal_spark.operators.splits import leakage_safe_splits

    docs = spark.range(500).select(F.col("id").alias("doc_id"))
    # chain 0-1-2, pair (10,11), and a pair whose members' OWN hashes
    # would split apart somewhere in 100 random pairs
    import random

    rng = random.Random(7)
    edges = [(0, 1), (1, 2), (10, 11)] + [
        tuple(sorted(rng.sample(range(500), 2))) for _ in range(100)
    ]
    pairs = spark.createDataFrame(edges, ["id_a", "id_b"])
    out = leakage_safe_splits(docs, pairs).collect()
    split_of = {r["doc_id"]: r["split"] for r in out}
    cluster_of = {r["doc_id"]: r["cluster_id"] for r in out}
    assert len(split_of) == 500
    for a, b in edges:
        assert split_of[a] == split_of[b], (a, b)
        assert cluster_of[a] == cluster_of[b]
    # singleton keeps its own id and all three splits exist corpus-wide
    assert cluster_of[499] == 499 or any(499 in e for e in edges)
    assert {"train", "val", "test"} <= set(split_of.values())


def test_leakage_safe_splits_null_keys_and_recluster(spark):
    """NULL-key rows are excluded (no identity -> they must not silently
    pile into the last split), and a frame that already carries
    cluster_id/split (e.g. semantic_dedup output) is relabeled without
    ambiguous-column errors."""
    from fineweb_legal_spark.operators.splits import leakage_safe_splits

    docs = spark.createDataFrame(
        [(1, 10, "train"), (2, 10, "test"), (None, 99, "val")],
        "doc_id long, cluster_id long, split string",
    )
    pairs = spark.createDataFrame([(1, 2)], ["id_a", "id_b"])
    out = leakage_safe_splits(docs, pairs).collect()
    got = {r["doc_id"]: (r["cluster_id"], r["split"]) for r in out}
    assert set(got) == {1, 2}              # NULL key excluded
    assert got[1][0] == got[2][0] == 1     # old cluster_id replaced
    assert got[1][1] == got[2][1]          # pair shares a split


def test_filter_repetition_gopher_thresholds(spark):
    from fineweb_legal_spark.operators.textql import filter_repetition

    docs = spark.createDataFrame(
        [
            (1, "spark spark spark spark spark spark"),  # extreme repetition
            (2, "a perfectly ordinary sentence with no repeats here"),
            (3, "one"),   # too short to form any n-gram -> passes
            (4, None),    # null text -> passes (no signal)
        ],
        ["doc_id", "text"],
    )
    got = {r["doc_id"]: r["rep_reject_reason"]
           for r in filter_repetition(docs).collect()}
    assert got[1] == "top_2gram"  # smallest violated n reported
    assert got[2] is None and got[3] is None and got[4] is None


def test_dup_ngram_signals_exact_and_plan(spark):
    from fineweb_legal_spark.operators.textql import dup_ngram_signals

    docs = spark.createDataFrame(
        [
            # "a b c d e" at word 0 and 5 (disjoint) -> 10 of 12 unit-len
            # words covered at n=5; no duplicate 6-gram
            (1, "a b c d e a b c d e x y"),
            (2, "w1 w2 w3 w4 w5 w6"),  # no repeats -> 0.0 rows still emitted
            (3, None),                  # null text -> excluded
            (4, "p q r s"),             # < 5 words -> no rows at all
            (5, "a a a a a a a"),       # overlapping dups -> union, not 3x
        ],
        ["doc_id", "text"],
    )
    out = dup_ngram_signals(docs, ns=(5, 6))
    plan = out._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"
        )
    )
    # scale contract: a pure per-row signal -- zero Exchange in the plan
    assert ") Exchange" not in plan, plan
    got = {(r["doc_id"], r["n"]): r["dup_char_frac"] for r in out.collect()}
    assert got[(1, 5)] == round(10 / 12, 6)
    assert got[(1, 6)] == 0.0
    assert got[(2, 5)] == 0.0 and got[(2, 6)] == 0.0
    # doc 5: all three 5-gram starts duplicate; interval union covers all
    # 7 words exactly once -> 1.0 (a per-occurrence count would give >1)
    assert got[(5, 5)] == 1.0 and got[(5, 6)] == 1.0
    assert {k[0] for k in got} == {1, 2, 5}


def test_dup_ngram_signals_randomized_python_parity(spark):
    """150 seeded random docs (tiny vocab -> heavy gram collisions, mixed
    whitespace): Spark (crc32+Horner hash kernel) == a pure-Python
    string-Counter twin with interval-union coverage, frac to 1e-6."""
    import random

    rng = random.Random(7)
    vocab = ["a", "b", "ab", "the", "xx", "spark", "q", "zz"]
    seps = [" ", " ", " ", "\t", "\n", "  "]
    docs = []
    for i in range(150):
        k = rng.randint(0, 40)
        if k == 0:
            docs.append((i, rng.choice([None, "", "   "])))
            continue
        words = [rng.choice(vocab) for _ in range(k)]
        docs.append(
            (i, words[0] + "".join(rng.choice(seps) + w for w in words[1:]))
        )

    from fineweb_legal_spark.operators.textql import dup_ngram_signals

    ns = (5, 6, 7, 8, 9, 10)
    df = spark.createDataFrame(docs, "doc_id long, text string")
    got = {
        (r["doc_id"], r["n"]): r["dup_char_frac"]
        for r in dup_ngram_signals(df, ns=ns).collect()
    }

    want = {
        (i, n): frac
        for i, text in docs
        if text is not None
        for n, frac in _py_dup_fracs(text, ns).items()
    }
    assert set(got) == set(want)
    for k, v in want.items():
        assert abs(got[k] - v) < 1e-6, (k, got[k], v)


def test_filter_repetition_dup_gram_rule(spark):
    from fineweb_legal_spark.operators.textql import filter_repetition

    # a 5-word phrase repeated 3x between unique 5-char filler words:
    # dup_5gram coverage 66/366 = 0.18 > 0.15 fires, while every top-n
    # fraction stays under its threshold (top_4 = 66/440 = 0.15 < 0.16)
    phrase = "alpha beta gamma delta eps"
    filler = [f"fil{i:02d}" for i in range(60)]
    words = (
        filler[0:20] + phrase.split() + filler[20:40] + phrase.split()
        + filler[40:60] + phrase.split()
    )
    docs = spark.createDataFrame(
        [
            (1, " ".join(words)),
            (2, "spark spark spark spark spark spark"),  # top_2 AND dup_5
            (3, "a clean sentence with nothing repeated anywhere at all"),
        ],
        ["doc_id", "text"],
    )
    got = {r["doc_id"]: r["rep_reject_reason"]
           for r in filter_repetition(docs).collect()}
    assert got[1] == "dup_5gram"
    assert got[2] == "top_2gram"  # top rules outrank dup rules
    assert got[3] is None
    # family can be disabled independently
    got_top_only = {
        r["doc_id"]: r["rep_reject_reason"]
        for r in filter_repetition(docs, dup_thresholds={}).collect()
    }
    assert got_top_only[1] is None and got_top_only[2] == "top_2gram"


def test_c4_line_filter_rules_and_plan(spark):
    from fineweb_legal_spark.operators.boilerplate import c4_line_filter

    docs = spark.createDataFrame(
        [
            # kept: terminal punct + >=3 words; dropped: no punct / short /
            # javascript mention
            (1, "This line stays here.\nno punct line\nShort stop.\n"
                "Please enable javascript now.\nAnother good line stays!"),
            (2, "Lorem Ipsum dolor sit amet.\nA fine line otherwise."),
            (3, "A good line with words.\nif (x) { return; }"),
            (4, None),
            (5, "word\nword word\nword word word"),  # nothing survives
            (6, '"A quoted line counts too."'),
        ],
        ["doc_id", "text"],
    )
    out = c4_line_filter(docs, min_words=3, min_lines=1)
    plan = out._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"
        )
    )
    assert ") Exchange" not in plan, plan  # pure per-row: zero shuffle
    got = {r["id"]: (r["clean_text"], r["n_kept"], r["verdict"])
           for r in out.collect()}
    assert got["1"] == (
        "This line stays here.\nAnother good line stays!", 2, "keep"
    )
    # page rules outrank the kept-line count, lorem before brace
    assert got["2"] == (
        "Lorem Ipsum dolor sit amet.\nA fine line otherwise.", 2,
        "drop_lorem_ipsum",
    )
    assert got["3"] == ("A good line with words.", 1, "drop_brace")
    assert got["4"] == (None, None, "drop_null")
    assert got["5"] == ("", 0, "drop_min_lines")
    assert got["6"] == ('"A quoted line counts too."', 1, "keep")
    # min_lines page gate
    got5 = {r["id"]: r["verdict"]
            for r in c4_line_filter(docs, min_lines=2).collect()}
    assert got5["1"] == "keep" and got5["6"] == "drop_min_lines"


def test_doc_shape_signals_and_filter(spark):
    from fineweb_legal_spark.operators.textql import (
        doc_shape_signals,
        filter_doc_shape,
    )

    docs = spark.createDataFrame(
        [
            (1, "normal words here\nand more words"),       # clean
            (2, "12 34 56 78 x9"),                           # 1/5 alpha
            (3, "- one thing\n- another\n  * indented\nplain"),  # 3/4 bullet
            (4, "to be continued...\nmore…  \nfinal line"),  # 2/3 ellipsis
            (5, None),
            (6, ""),                                          # no words
            (7, "... …"),  # ellipsis line AND only-symbol words
        ],
        ["doc_id", "text"],
    )
    sig = {
        r["doc_id"]: (
            r["alpha_word_frac"], r["bullet_line_frac"],
            r["ellipsis_line_frac"],
        )
        for r in doc_shape_signals(docs).collect()
    }
    assert sig[1] == (1.0, 0.0, 0.0)
    assert sig[2] == (0.2, 0.0, 0.0)
    assert sig[3] == (0.625, 0.75, 0.0)  # bullets are non-alpha words
    assert sig[4] == (1.0, 0.0, round(2 / 3, 6))
    assert sig[5] == (None, None, None)       # null text propagates
    assert sig[6] == (None, 0.0, 0.0)         # no words -> alpha undefined
    assert sig[7] == (0.0, 0.0, 1.0)
    got = {r["doc_id"]: r["shape_reject_reason"]
           for r in filter_doc_shape(docs).collect()}
    assert got[1] is None
    assert got[2] == "alpha_words"
    assert got[4] == "ellipsis_lines"
    assert got[5] is None and got[6] is None  # no signal -> pass
    assert got[7] == "alpha_words"            # first violated rule wins
    # doc 3 trips alpha (0.625 < 0.80) before its bullet fraction (0.75,
    # under the 0.90 bar) is even consulted
    assert got[3] == "alpha_words"


def test_fineweb_quality_signals_and_dup_line(spark):
    from fineweb_legal_spark.operators.textql import (
        dup_line_chars,
        fineweb_quality_signals,
    )

    docs = spark.createDataFrame(
        [
            (1, "Good sentence one.\nAnother good sentence that is long!"),
            (2, "nav menu\ncontent here\nnav menu"),  # dup 16/28 chars
            (3, None),
            (4, ""),            # one empty line, zero line chars
            (5, "a.\n\n\nb."),  # duplicate BLANK lines weigh zero chars
        ],
        ["doc_id", "text"],
    )
    out = dup_line_chars(fineweb_quality_signals(docs))
    plan = out._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"
        )
    )
    assert ") Exchange" not in plan, plan  # pure per-row: zero shuffle
    got = {
        r["doc_id"]: (
            r["punct_line_frac"],
            r["short_line_frac"],
            r["newline_word_frac"],
            r["dup_line_char_frac"],
        )
        for r in out.collect()
    }
    # doc 1: both lines end in punct; line 1 (18 chars) is short, line 2
    # (36 chars) is not; 1 newline / 9 words; no duplicate lines
    assert got[1] == (1.0, 0.5, round(1 / 9, 6), 0.0)
    assert got[2] == (0.0, 1.0, round(2 / 6, 6), round(16 / 28, 6))
    assert got[3] == (None, None, None, None)
    assert got[4] == (0.0, 1.0, None, None)  # wordless / zero line chars
    assert got[5] == (0.5, 1.0, round(3 / 2, 6), 0.0)


def _pandas_dup_line_fracs(texts: pd.Series) -> pd.Series:
    """Vectorized pandas twin of the duplicated-line fraction (one explode
    + one (row, line) groupby, the library's former mapInPandas kernel):
    unrounded, NaN for null text or zero line characters."""
    import numpy as np

    ex = texts.str.split("\n").explode()
    ex = ex[ex.notna()]
    if not len(ex):
        return pd.Series(np.nan, index=texts.index)
    g = (
        pd.DataFrame(
            {"_i": ex.index, "_line": ex.to_numpy(),
             "_len": ex.str.len().to_numpy()}
        )
        .groupby(["_i", "_line"], sort=False)
        .agg(_cnt=("_len", "size"), _len=("_len", "first"))
        .reset_index()
    )
    tot = (g["_len"] * g["_cnt"]).to_numpy()
    per = pd.DataFrame(
        {"_tot": tot, "_dup": np.where(g["_cnt"].to_numpy() > 1, tot, 0)},
        index=g["_i"].to_numpy(),
    ).groupby(level=0).sum()
    frac = per["_dup"] / per["_tot"].where(per["_tot"] > 0)
    return frac.reindex(texts.index)


def test_dup_line_chars_randomized_pandas_parity(spark):
    """dup_line_chars (a field of the one repetition kernel) == the
    pandas groupby twin on 400 seeded docs with blank lines, CRLF line
    ends, non-ASCII lines, "" and None."""
    import math
    import random

    from fineweb_legal_spark.operators.textql import dup_line_chars

    rng = random.Random(23)
    pool = ["nav menu", "", "  ", "Home | About", "naïve café", "日本語の行",
            "line\r", "a", "Zürich.", "x" * 40]
    rows = []
    for i in range(400):
        k = rng.random()
        if k < 0.03:
            rows.append((i, None))
        elif k < 0.06:
            rows.append((i, ""))
        else:
            lines = [rng.choice(pool) for _ in range(rng.randint(1, 12))]
            sep = "\r\n" if rng.random() < 0.2 else "\n"
            rows.append((i, sep.join(lines)))
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r["doc_id"]: r["dup_line_char_frac"]
        for r in dup_line_chars(docs).collect()
    }
    texts = pd.Series([t for _, t in rows], dtype=object)
    want = {
        i: None if math.isnan(f) else _py_round6(f)
        for (i, _), f in zip(rows, _pandas_dup_line_fracs(texts).tolist())
    }
    assert got == want
    # non-trivial: nulls, zeros and duplicated lines all occur
    vals = list(want.values())
    assert None in vals and 0.0 in vals and any(v and v > 0 for v in vals)


def test_filter_fineweb_quality_reasons(spark):
    from fineweb_legal_spark.operators.textql import filter_fineweb_quality

    long_punct = "This line is comfortably longer than thirty characters."
    lp2 = "Another comfortably long line with plenty of words inside it."
    lp3 = "Third line that is also long enough and ends with a period."
    # 9 distinct long unpunctuated lines + 1 punct line -> punct frac 0.1
    no_punct = "\n".join(
        [
            f"unpunctuated filler line number {i} padded long enough"
            for i in range(9)
        ]
        + [long_punct]
    )
    # 4 distinct 31-char single-word punct lines -> 3 newlines / 4 words
    list_like = "\n".join(c * 30 + "." for c in "abcd")
    docs = spark.createDataFrame(
        [
            (1, f"{long_punct}\n{lp2}\n{lp3}"),          # keeps everything
            (2, no_punct),
            (3, "Hi.\nYo.\nOk."),                         # all short
            (4, f"{long_punct}\n{long_punct}\n{long_punct}\n{lp2}"),
            (5, list_like),
            (6, None),
            (7, ""),
        ],
        ["doc_id", "text"],
    )
    got = {r["doc_id"]: r["fw_reject_reason"]
           for r in filter_fineweb_quality(docs).collect()}
    assert got[1] is None
    assert got[2] == "line_punct"      # 1/10 lines end in punct < 0.12
    assert got[3] == "short_lines"     # punct 1.0 passes, all lines short
    assert got[4] == "dup_line_chars"  # 3x duplicated long line
    assert got[5] == "newline_words"   # 3 newlines / 4 words = 0.75
    assert got[6] is None and got[7] is None  # signal-less docs pass


def test_quality_classifier_train_and_score(spark):
    """Distributed hashed-BoW logistic regression == a pure-numpy twin
    replaying the identical feature matrix (zlib.crc32 reproduces the
    JVM's crc32 hashing exactly) and identical full-batch GD steps."""
    import re
    import zlib

    import numpy as np

    from fineweb_legal_spark.operators.classifier import (
        featurize,
        score_quality,
        train_quality_classifier,
    )

    spammy = [
        "buy cheap pills now click here free offer " * 3,
        "click click free free winner prize claim now",
        "cheap offer free pills winner click claim prize now here",
        "free free free click now buy buy cheap prize",
    ]
    clean = [
        "The court considered the statute and its legislative history.",
        "This agreement is governed by the laws of the state concerned.",
        "A contract requires offer, acceptance, and valid consideration.",
        "The appellate court reviewed the finding for clear error.",
    ]
    rows = [(i, t, 0) for i, t in enumerate(spammy)] + [
        (100 + i, t, 1) for i, t in enumerate(clean)
    ]
    rows.append((200, None, 1))  # null text trains as all-zero features
    docs = spark.createDataFrame(rows, ["doc_id", "text", "label"])

    DIM, ITERS, LR, L2 = 1 << 12, 25, 0.5, 1e-4
    feats = featurize(docs, label_col="label", dim=DIM).persist()
    model = train_quality_classifier(
        spark, feats, dim=DIM, iters=ITERS, lr=LR, l2=L2
    )

    # numpy twin on the identical feature matrix
    X = np.zeros((len(rows), DIM))
    y = np.array([r[2] for r in rows], dtype=float)
    for r_i, (_, text, _) in enumerate(rows):
        for w_ in re.split("[ \t\n\r\f\x0b]+", (text or "").lower()):
            if w_:
                X[r_i, zlib.crc32(w_.encode()) % DIM] += 1
    w = np.zeros(DIM)
    b = 0.0
    for _ in range(ITERS):
        p = 1.0 / (1.0 + np.exp(-(X @ w + b)))
        w -= LR * (X.T @ (p - y) / len(y) + L2 * w)
        b -= LR * float(np.sum(p - y)) / len(y)
    assert np.allclose(model.weights, w, atol=1e-8)
    assert abs(model.bias - b) < 1e-8
    assert model.losses[-1] < model.losses[0] / 3  # actually learned

    # native scoring path separates the classes and matches the twin
    scored = {
        r["doc_id"]: r["quality_prob"]
        for r in score_quality(spark, docs, model).collect()
    }
    twin = 1.0 / (1.0 + np.exp(-(X @ w + b)))
    for r_i, (did, _, lbl) in enumerate(rows):
        assert abs(scored[did] - round(float(twin[r_i]), 6)) <= 1e-6
        if did != 200:
            assert (scored[did] > 0.5) == bool(lbl)

    # scoring plan is JVM-only: no Python/Arrow eval nodes
    plan = score_quality(spark, docs, model)._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"
        )
    )
    assert "InPandas" not in plan and "PythonUDF" not in plan, plan
    feats.unpersist()


def test_document_quality_cascade(spark):
    from fineweb_legal_spark.operators.quality import (
        document_quality_verdicts,
        quality_stage_counts,
    )

    clean = (
        "The court considered the statute and its legislative history. "
        "A contract requires offer and acceptance with consideration."
    )
    numbers = "12 34 56 78 x9."                      # shape: alpha_words
    no_punct = "\n".join(                            # fineweb: line_punct
        f"unpunctuated filler line number {i} padded long enough"
        for i in range(10)
    )
    # passes shape+fineweb (one long punct-terminated line, alpha words)
    # but the top bigram covers most characters -> repetition: top_2gram
    repeaty = "spam ham spam ham spam ham spam ham spam ham."
    # violates BOTH shape (alpha 0.2) and repetition -> cheapest stage wins
    both = "11 22 11 22 11 22 11 22 11 22 11 22 11 z9."
    docs = spark.createDataFrame(
        [
            (1, clean),
            (2, numbers),
            (3, no_punct),
            (4, repeaty),
            (5, both),
            (6, None),
        ],
        ["doc_id", "text"],
    )
    out = document_quality_verdicts(docs)
    got = {
        r["doc_id"]: (
            r["quality_keep"],
            r["quality_reject_stage"],
            r["quality_reject_reason"],
        )
        for r in out.collect()
    }
    assert got[1] == (True, None, None)
    assert got[2] == (False, "shape", "alpha_words")
    assert got[3] == (False, "fineweb", "line_punct")
    assert got[4] == (False, "repetition", "top_2gram")
    assert got[5] == (False, "shape", "alpha_words")  # cheapest stage wins
    assert got[6] == (True, None, None)

    counts = {
        (r["stage"], r["reason"]): r["n"]
        for r in quality_stage_counts(out).collect()
    }
    assert counts == {
        (None, None): 2,
        ("shape", "alpha_words"): 2,
        ("fineweb", "line_punct"): 1,
        ("repetition", "top_2gram"): 1,
    }


def test_repetition_signals_docs_survivors_match_oracle(spark, tmp_path):
    """The cascade's repetition stage against the DuckDB oracle on text
    that reaches it: every line of the sf0.1 documents (all rejected as
    fineweb/line_punct as shipped) ends with a period here, so most
    documents pass the cheap stages and the repetition rules decide."""
    from collections import Counter

    import duckdb

    import __spark_entry__ as entrymod

    src = spark.read.parquet("/root/testdata/sf0.1/documents.parquet")
    path = str(tmp_path / "documents.parquet")
    src.withColumn(
        "text", F.regexp_replace("text", r"(?m)$", ".")
    ).write.parquet(path)

    got = [
        tuple(r)
        for r in entrymod.q_repetition_signals_docs(
            spark, str(tmp_path)
        ).collect()
    ]
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM read_parquet('{path}/*.parquet')"
    )
    want = con.execute(
        "SELECT doc_id, signal, n, gram, cnt, char_frac FROM ("
        + entrymod.oracle_sql()["repetition_signals_docs"]
        + ")"
    ).fetchall()
    assert len(got) == len(want)
    assert Counter(got) == Counter(want)
    verdicts = Counter(r[3] for r in got if r[1] == "cascade")
    assert verdicts[None] > 0  # keeps
    assert any(v and v.startswith("repetition/") for v in verdicts)


def test_keep_top_fraction(spark):
    import pytest as _pytest

    from fineweb_legal_spark.operators.classifier import keep_top_fraction

    df = spark.range(1000).select(
        F.col("id"), (F.col("id").cast("double") / 1000).alias("score")
    )
    kept = keep_top_fraction(df, "score", fraction=0.1)
    ids = sorted(r["id"] for r in kept.collect())
    # approx_percentile at accuracy 10000 over 1000 distinct values is
    # exact: threshold = the 0.9-quantile value, >= keeps the top decile
    assert len(ids) in (100, 101) and min(ids) >= 899
    # lazy: constructing the frame launches no jobs
    tracker = spark.sparkContext.statusTracker()
    before = len(tracker.getJobIdsForGroup(None) or [])
    _ = keep_top_fraction(df, "score", fraction=0.25)
    after = len(tracker.getJobIdsForGroup(None) or [])
    assert after == before
    with _pytest.raises(ValueError):
        keep_top_fraction(df, "score", fraction=0.0)


def test_string_id_generality_repetition_and_decontam(spark):
    """Kernels that declare an output id schema must inherit the INPUT id
    type: a hardcoded LongType once made string conv ids coerce the
    verdict join key to bigint (runtime cast crash at 2M turns)."""
    from fineweb_legal_spark.operators.decontam import decontaminate
    from fineweb_legal_spark.operators.quality import (
        document_quality_verdicts,
    )
    from fineweb_legal_spark.operators.spandedup import scrub_repeated_spans

    docs = spark.createDataFrame(
        [
            ("conv_0#000001", "spam ham spam ham spam ham spam ham spam."),
            ("conv_0#000002",
             "The court considered the statute and its legislative history "
             "before reaching a decision on the merits of the appeal."),
            ("conv_1#000001", None),
        ],
        ["doc_id", "text"],
    )
    got = {
        r["doc_id"]: r["quality_reject_reason"]
        for r in document_quality_verdicts(docs).collect()
    }
    assert got["conv_0#000001"] == "top_2gram"
    assert got["conv_0#000002"] is None and got["conv_1#000001"] is None

    bench = spark.createDataFrame(
        [("b1", "the statute and its legislative history before reaching")],
        ["doc_id", "text"],
    )
    dec = {
        r["doc_id"]: r["contaminated"]
        for r in decontaminate(docs, bench, n=5).collect()
    }
    assert dec["conv_0#000002"] and not dec["conv_0#000001"]

    scrubbed = scrub_repeated_spans(
        spark.createDataFrame(
            [("a#1", "one two three four five six"),
             ("b#2", "one two three four five seven")],
            ["doc_id", "text"],
        ),
        n=5,
        min_docs=2,
    )
    out = {r["doc_id"]: r["clean_text"] for r in scrubbed.collect()}
    assert "one two three four five" not in out["a#1"]


def test_filter_repetition_python_parity_and_plan(spark):
    """filter_repetition == a pure-Python verdict built from the Counter
    and interval-union twins on 120 seeded random docs (tiny vocab ->
    heavy gram collisions and covered-char ties) and 30 planted-phrase
    docs. Its plan, and the cascade's, has zero Exchange, zero
    MapInPandas and exactly ONE ArrowEvalPython: the repetition kernel
    is evaluated once per row. repetition_signals_docs reads the
    documents once, through one kernel call and no Union."""
    import random

    import __spark_entry__ as entrymod
    from fineweb_legal_spark.operators.quality import (
        document_quality_verdicts,
    )
    from fineweb_legal_spark.operators.textql import (
        GOPHER_DUP_NGRAM_MAX,
        GOPHER_TOP_NGRAM_MAX,
        filter_repetition,
    )

    rng = random.Random(11)
    vocab = ["a", "b", "ab", "the", "xx", "spark", "q", "zz"]
    seps = [" ", " ", " ", "\t", "\n", "  "]
    rows = []
    for i in range(120):
        n_words = rng.randint(0, 40)
        toks = [rng.choice(vocab) for _ in range(n_words)]
        text = "".join(
            t + rng.choice(seps) for t in toks
        ) if toks else rng.choice(["", None])
        rows.append((i, text))
    # plus 30 wide-vocab docs with a planted repeated phrase, where the
    # dup rules fire without any top rule
    wide = [f"w{k:03d}" for k in range(300)]
    for i in range(120, 150):
        phrase = " ".join(rng.sample(wide, rng.randint(4, 9)))
        parts = [
            " ".join(rng.sample(wide, rng.randint(5, 25)))
            for _ in range(rng.randint(2, 4))
        ]
        rows.append((i, f" {phrase} ".join(parts)))
    docs = spark.createDataFrame(rows, ["doc_id", "text"])

    def py_verdict(text):
        if text is None:
            return None
        top = _py_top_grams(text, sorted(GOPHER_TOP_NGRAM_MAX))
        for n, thr in sorted(GOPHER_TOP_NGRAM_MAX.items()):
            if n in top and top[n][1] >= 2 and (
                _py_round6(top[n][2] / len(text)) > thr
            ):
                return f"top_{n}gram"
        dup = _py_dup_fracs(text, sorted(GOPHER_DUP_NGRAM_MAX))
        for n, thr in sorted(GOPHER_DUP_NGRAM_MAX.items()):
            if n in dup and _py_round6(dup[n]) > thr:
                return f"dup_{n}gram"
        return None

    def plan_of(frame):
        return frame._jdf.queryExecution().explainString(
            spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                "formatted"
            )
        )

    out = filter_repetition(docs)
    for plan in (plan_of(out), plan_of(document_quality_verdicts(docs))):
        assert ") Exchange" not in plan, plan
        assert ") MapInPandas" not in plan, plan
        assert plan.count(") ArrowEvalPython") == 1, plan
        # one node may batch several UDFs: pin that it holds one kernel
        assert plan.count("repetition_kernel(") == 1, plan
    plan = plan_of(
        entrymod.q_repetition_signals_docs(spark, "/root/testdata/sf0.01")
    )
    scans = [ln for ln in plan.splitlines() if ") Scan parquet" in ln]
    assert len(scans) == 1, plan
    assert "documents.parquet" in plan[plan.index(scans[0]):], plan
    assert plan.count("repetition_kernel(") == 1, plan
    assert ") Union" not in plan and ") MapInPandas" not in plan, plan

    got = {r["doc_id"]: r["rep_reject_reason"] for r in out.collect()}
    want = {i: py_verdict(text) for i, text in rows}
    assert got == want
    # non-trivial corpus: both rule families fire
    assert {v[:4] for v in want.values() if v} == {"top_", "dup_"}


def _per_doc_repetition(texts, gates, ns, dup_ns) -> dict[str, list]:
    """Verification twin of ``textql.repetition_profile``: the kernel's
    former per-document body (one crc32 per word, Horner gram hashes and
    one ``np.unique`` per (document, n)), field for field."""
    from collections import Counter

    import numpy as np

    from fineweb_legal_spark.operators.decontam import (
        ascii_words,
        gram_hashes_from_word_hashes,
        word_hashes,
    )

    ns, dup_ns = tuple(sorted(ns)), tuple(sorted(dup_ns))
    cols = [f"{f}_{n}" for n in ns for f in ("top_gram", "top_cnt", "top_cov")]
    cols += [f"dup_frac_{n}" for n in dup_ns] + ["dup_line_frac"]
    out = {c: [None] * len(texts) for c in cols}
    for i, (text, gate) in enumerate(zip(texts, gates)):
        if text is None:
            continue
        lines = Counter(text.split("\n"))
        line_chars = sum(len(s) * c for s, c in lines.items())
        if line_chars:
            dup = sum(len(s) * c for s, c in lines.items() if c > 1)
            out["dup_line_frac"][i] = dup / line_chars
        w = ascii_words(text) if gate else []
        if not w:
            continue
        wl = np.fromiter((len(x) for x in w), dtype=np.int64, count=len(w))
        cum = np.concatenate(([0], np.cumsum(wl)))
        wh = word_hashes(w)
        for n in ns:
            if len(w) < n:
                break
            g = gram_hashes_from_word_hashes(wh, n)
            _, first, cnt = np.unique(g, return_index=True, return_counts=True)
            cov = cnt * (cum[first + n] - cum[first] + (n - 1))
            mx = cov.max()
            best = max(
                np.nonzero(cov == mx)[0],
                key=lambda u: " ".join(w[first[u] : first[u] + n]),
            )
            out[f"top_gram_{n}"][i] = " ".join(w[first[best] : first[best] + n])
            out[f"top_cnt_{n}"][i] = int(cnt[best])
            out[f"top_cov_{n}"][i] = int(mx)
        for n in dup_ns:
            if len(w) < n:
                break
            g = gram_hashes_from_word_hashes(wh, n)
            _, inv, cnt = np.unique(g, return_inverse=True, return_counts=True)
            starts = np.nonzero(cnt[inv] >= 2)[0]
            d = np.zeros(len(w) + 1, dtype=np.int64)
            np.add.at(d, starts, 1)
            np.add.at(d, starts + n, -1)
            covered = np.cumsum(d[:-1]) > 0
            out[f"dup_frac_{n}"][i] = float(wl[covered].sum() / cum[-1])
    return out


def test_repetition_profile_batch_matches_per_doc_twin(spark, monkeypatch):
    """The batch kernel equals its per-document twin field by field,
    None included, over whole batches: seeded small-vocabulary docs
    (top-coverage ties), null / empty / whitespace-only / shorter-than-n
    text, non-ASCII words, mixed gates and 1,000 t1 transcript turns, for
    every (ns, dup_ns) shape its callers use — with the default word
    slice and with one so small that documents of one batch land in
    many slices."""
    import random

    from fineweb_legal_spark.operators import textql

    rng = random.Random(23)
    vocab = ["a", "b", "ab", "the", "xx", "q", "İ", "été", "Straße", "日本"]
    seps = [" ", " ", " ", "\t", "\n", "  ", "\n\n", "\xa0"]
    texts = [None, "", "   ", "\n\n", "a", "a b", "a a", "x\ny\nx"]
    for _ in range(2500):
        toks = [rng.choice(vocab) for _ in range(rng.randint(0, 60))]
        texts.append("".join(t + rng.choice(seps) for t in toks))
    turns = pd.read_parquet(ensure_transcripts("t1"))["text"].head(1000)
    texts += [None if pd.isna(t) else t for t in turns]
    gates = [True, True, False, None] * (len(texts) // 4 + 1)
    rng.shuffle(gates)
    gates = gates[: len(texts)]

    shapes = [
        ((2, 3, 4), (5, 6, 7, 8, 9, 10)),
        ((), ()),
        ((3,), ()),
        ((), (5,)),
        ((1, 2), (2, 3)),
    ]
    for slice_words in (textql._GRAM_SLICE_WORDS, 97):
        monkeypatch.setattr(textql, "_GRAM_SLICE_WORDS", slice_words)
        for ns, dup_ns in shapes:
            kernel = textql.repetition_profile(ns, dup_ns).func
            got = kernel(
                pd.Series(texts, dtype=object), pd.Series(gates, dtype=object)
            )
            want = _per_doc_repetition(texts, gates, ns, dup_ns)
            assert list(got.columns) == list(want), (ns, dup_ns)
            for c, col in want.items():
                assert got[c].tolist() == col, (slice_words, ns, dup_ns, c)
    # non-trivial corpus: repeated grams cover part of some documents
    assert any(f not in (None, 0.0, 1.0) for f in want["dup_frac_3"])


def _one_text_kernel(frame, kernel: str) -> str:
    """Pin one Python boundary: exactly one ArrowEvalPython, no
    MapInPandas, one call of ``kernel``, and the text column as its only
    argument (no other column crosses into Python). Returns the plan."""
    import re

    from fineweb_legal_spark.session import explain_formatted

    plan = explain_formatted(frame)
    assert plan.count(") ArrowEvalPython") == 1, plan
    assert ") MapInPandas" not in plan, plan
    assert re.findall(rf"{kernel}\((.*?)\)#", plan) == [
        re.search(r"\btext#\d+", plan).group(0)
    ], plan
    return plan


def test_train_trigram_lm_exact_and_score(spark, tmp_path):
    """Distributed trigram counting is EXACTLY the single-process count
    (integer partials, order-free), the smoothed table matches
    artifacts' math, and the trained scorer separates in- vs
    off-distribution text."""
    import numpy as np

    from fineweb_legal_spark.artifacts import _HASH_SLOTS, _batch_trigrams
    from fineweb_legal_spark.operators.lm import (
        load_counts,
        logprob_table,
        save_counts,
        score_perplexity,
        train_trigram_counts,
    )

    legal = [
        "the court considered the statute and its legislative history",
        "a contract requires offer acceptance and valid consideration",
        "the appellate court reviewed the finding for clear error",
        "this agreement is governed by the laws of the state",
    ] * 3
    rows = [(i, t, "en") for i, t in enumerate(legal)]
    rows += [(900, None, "en"), (901, "zz", "en")]  # null + sub-trigram
    rows += [(950 + i, "ein vertrag braucht angebot und annahme", "de")
             for i in range(3)]
    docs = spark.createDataFrame(rows, ["doc_id", "text", "lang"])

    got = train_trigram_counts(spark, docs.repartition(7), label_col="lang")
    # single-process twin over the same texts, any order
    def twin(texts):
        h, _, _ = _batch_trigrams([t for t in texts if t], 1 << 30)
        return np.bincount(h, minlength=_HASH_SLOTS)

    import fineweb_legal_spark.spec as spec_
    assert spec_.PPL_PREFIX_CHARS >= 64  # fixtures shorter than the prefix
    assert np.array_equal(got["en"], twin([r[1] for r in rows if r[2] == "en"]))
    assert np.array_equal(got["de"], twin([r[1] for r in rows if r[2] == "de"]))

    # unlabeled variant sums everything
    all_ = train_trigram_counts(spark, docs)
    assert np.array_equal(all_["all"], got["en"] + got["de"])

    # persist roundtrip is exact
    p = tmp_path / "lm_counts.parquet"
    save_counts(got, p)
    back = load_counts(p)
    assert set(back) == {"en", "de"}
    assert np.array_equal(back["en"], got["en"])

    # trained scorer: in-distribution text scores lower ppl than novel
    table = logprob_table(got["en"])
    test = spark.createDataFrame(
        [(1, "the court considered the statute"),
         (2, "quantum flux capacitors misalign frequently"),
         (3, None), (4, "ab")],
        ["doc_id", "text"],
    )
    out = score_perplexity(spark, test, table)
    plan = _one_text_kernel(out, "perplexity_kernel")
    assert ") Exchange" not in plan, plan
    ppl = {r["doc_id"]: r["ppl"] for r in out.collect()}
    assert ppl[1] < ppl[2]
    assert ppl[3] is None and ppl[4] == 1.0


def test_score_langid_trained_tables(spark):
    """Language-ID from TRAINED per-language tables: fit on labeled seed
    rows, classify held-out sentences of both languages correctly."""
    from fineweb_legal_spark.operators.lm import (
        score_langid,
        train_trigram_counts,
    )

    en = [
        "the court considered the statute and its legislative history",
        "a contract requires offer acceptance and valid consideration",
        "the appellate court reviewed the finding for clear error",
    ]
    de = [
        "das gericht hat die sache zur entscheidung angenommen",
        "ein vertrag braucht angebot und annahme der parteien",
        "die beschwerde wurde durch das gericht verworfen",
    ]
    seed = spark.createDataFrame(
        [(i, t, "en") for i, t in enumerate(en)]
        + [(100 + i, t, "de") for i, t in enumerate(de)],
        ["doc_id", "text", "lang"],
    )
    counts = train_trigram_counts(spark, seed, label_col="lang")

    test = spark.createDataFrame(
        [
            (1, "the court reviewed the contract for error"),
            (2, "das gericht hat den vertrag angenommen"),
            (3, None),
            (4, "zz"),  # sub-trigram -> deterministic fallback
        ],
        ["doc_id", "text"],
    )
    out = score_langid(spark, test, counts)
    _one_text_kernel(out, "langid_kernel")
    got = {r["doc_id"]: r["pred_lang"] for r in out.collect()}
    assert got[1] == "en" and got[2] == "de"
    assert got[3] is None and got[4] == "de"  # alphabetical fallback


def test_trigram_scorers_pass_int64_columns_through_unchanged(spark):
    """A bigint column holding null and +-(2^53 + 1) comes back exact from
    every trigram scorer: only the text crosses into Python, so no other
    column can round-trip through a float64 pandas column. The scores
    equal the artifact's batch kernels on the same texts."""
    import numpy as np

    from fineweb_legal_spark import spec
    from fineweb_legal_spark.artifacts import (
        _HASH_SLOTS,
        _batch_trigrams,
        get_artifacts,
    )
    from fineweb_legal_spark.corpus import LANG_SENTENCES
    from fineweb_legal_spark.operators.lm import score_langid, score_perplexity
    from fineweb_legal_spark.operators.textql import predict_language

    big = 2**53 + 1
    texts = ["the court considered the statute", None, "das gericht hat"]
    rows = [(1, big, texts[0]), (2, None, texts[1]), (3, -big, texts[2])]
    df = spark.createDataFrame(rows, "doc_id int, n bigint, text string").coalesce(1)
    want_n = {1: big, 2: None, 3: -big}
    counts = {
        lg: np.bincount(
            _batch_trigrams(list(LANG_SENTENCES[lg]), spec.LANGID_PREFIX_CHARS)[0],
            minlength=_HASH_SLOTS,
        )
        for lg in ("de", "en")
    }
    arts = get_artifacts()
    ppl = arts.perplexity_batch([texts[0], texts[2]])
    lang = arts.predict_lang_batch([texts[0], texts[2]])
    for frame, col, want in (
        (score_perplexity(spark, df, arts.ppl_logprob), "ppl", ppl),
        (score_langid(spark, df, counts), "pred_lang", ["en", "de"]),
        (predict_language(spark, df, "doc_id", keep_cols=("n",)), "pred_lang", lang),
    ):
        got = {r["doc_id"]: (r["n"], r[col]) for r in frame.collect()}
        assert got == {
            1: (want_n[1], want[0]), 2: (None, None), 3: (want_n[3], want[1])
        }, col

def test_line_signal_regex_parity_randomized(spark):
    """Spark's whole-text (?m) Java-regex line signals == a pure-Python
    PER-LINE twin on 200 seeded random docs (bullets, ellipses, unicode
    letters, emoji, tabs, blanks) — guards the multiline-regex semantics
    the doc-shape/FineWeb fractions are built on. Spark values are
    round(.,6) HALF_UP; the twin compares unrounded at 5e-7."""
    import random
    import re

    from fineweb_legal_spark.operators.textql import (
        doc_shape_signals,
        fineweb_quality_signals,
    )

    rng = random.Random(23)
    words = ["word", "法律", "éclair", "123", "x9", "—", "🙂", "a.b",
             "end.", "no", "the", "-", "..."]
    line_starts = ["", " ", "\t ", "- ", "• ", "* ", "  * "]
    line_ends = ["", ".", "!", "?", '"', "'", "...", "…", "... ", "…\t"]
    docs = []
    for i in range(200):
        n_lines = rng.randint(0, 6)
        lines = []
        for _ in range(n_lines):
            body = " ".join(rng.choice(words)
                            for _ in range(rng.randint(0, 8)))
            lines.append(rng.choice(line_starts) + body
                         + rng.choice(line_ends))
        docs.append((i, "\n".join(lines) if n_lines else ""))
    df = spark.createDataFrame(docs, ["doc_id", "text"])
    got = {
        r["doc_id"]: r.asDict()
        for r in fineweb_quality_signals(doc_shape_signals(df)).collect()
    }

    for i, text in docs:
        lines = text.split("\n")
        ws = re.findall(r"\S+", text)
        alpha = [w for w in ws if re.search(r"[A-Za-z]", w)]
        exp = {
            "alpha_word_frac": len(alpha) / len(ws) if ws else None,
            "bullet_line_frac": sum(
                bool(re.match(r"[ \t]*[-•*]", ln)) for ln in lines
            ) / len(lines),
            "ellipsis_line_frac": sum(
                bool(re.search(r"(\.\.\.|…)[ \t]*$", ln)) for ln in lines
            ) / len(lines),
            "punct_line_frac": sum(
                bool(re.search(r"[.!?\"'][ \t]*$", ln)) for ln in lines
            ) / len(lines),
            "short_line_frac": sum(len(ln) < 30 for ln in lines)
            / len(lines),
            "newline_word_frac": (len(lines) - 1) / len(ws)
            if ws else None,
        }
        for k, v in exp.items():
            g = got[i][k]
            if v is None:
                assert g is None, (i, k, g, text)
            else:
                assert g is not None and abs(g - v) <= 5e-7, (
                    i, k, g, v, text,
                )


def test_classifier_spark_reduce_matches_driver_reduce(spark):
    """spark_reduce=True (posexplode per-index gradient sum, dim+3 rows to
    the driver per iteration) trains to the same weights as the default
    driver-side reduction within float-summation error."""
    import numpy as np

    from fineweb_legal_spark.operators.classifier import (
        featurize,
        train_quality_classifier,
    )

    rows = [(i, f"spam offer free prize number {i}", 0) for i in range(6)]
    rows += [(50 + i, f"the court reviewed statute section {i}", 1)
             for i in range(6)]
    docs = spark.createDataFrame(rows, ["doc_id", "text", "label"])
    feats = featurize(docs, label_col="label", dim=1 << 10).persist()
    a = train_quality_classifier(spark, feats, dim=1 << 10, iters=8)
    b = train_quality_classifier(
        spark, feats, dim=1 << 10, iters=8, spark_reduce=True
    )
    feats.unpersist()
    assert np.allclose(a.weights, b.weights, atol=1e-8)
    assert abs(a.bias - b.bias) < 1e-8
    assert np.allclose(a.losses, b.losses, atol=1e-8)


def test_prefix_dedup_pairs_semantics(spark):
    """A full-prefix conversation loses to its longest superset; identical
    groups keep the conv_id-min member; near-miss prefixes (one differing
    turn) survive."""
    from fineweb_legal_spark.operators.prefixdedup import (
        prefix_dedup,
        prefix_dedup_pairs,
    )

    rows = [
        # A = first 2 turns of B and of C (C longer than B)
        ("A", 0, "hello there"), ("A", 1, "hi!"),
        ("B", 0, "Hello there "), ("B", 1, "HI!"),  # normalization folds case
        ("B", 2, "more"),
        ("C", 0, "hello there"), ("C", 1, "hi!"),
        ("C", 2, "x"), ("C", 3, "y"),
        # D == E == F identical singletons -> D (min id) survives
        ("D", 0, "ok"), ("E", 0, "ok"), ("F", 0, "ok"),
        # G shares B's first turn but diverges at turn 1 -> no loss
        ("G", 0, "hello there"), ("G", 1, "different"),
    ]
    df = spark.createDataFrame(rows, "conv_id string, turn_idx int, text string")
    pairs = {
        r.loser: (r.winner, r.matched_turns)
        for r in prefix_dedup_pairs(df).collect()
    }
    # winner on equal-length ties = conv_id-max among eligible superset
    # runs (E sees only D; F sees D and E and picks E)
    assert pairs == {"A": ("C", 2), "E": ("D", 1), "F": ("E", 1)}
    kept = sorted(
        r.conv_id for r in prefix_dedup(df).select("conv_id").distinct().collect()
    )
    assert kept == ["B", "C", "D", "G"]


def test_prefix_dedup_null_turns_and_min_turns(spark):
    """Null-text turns are invisible to the digest (both sides of a match
    skip them identically); min_turns suppresses short losers."""
    from fineweb_legal_spark.operators.prefixdedup import prefix_dedup_pairs

    rows = [
        ("A", 0, "x"), ("A", 1, None), ("A", 2, "y"),
        ("B", 0, "x"), ("B", 1, "y"), ("B", 2, "z"),
    ]
    df = spark.createDataFrame(rows, "conv_id string, turn_idx int, text string")
    got = prefix_dedup_pairs(df).collect()
    assert [(r.loser, r.winner, r.matched_turns) for r in got] == [("A", "B", 2)]
    assert prefix_dedup_pairs(df, min_turns=3).count() == 0


def test_coerce_roles_merges_runs(spark):
    from fineweb_legal_spark.operators.repairs import coerce_roles

    rows = [
        ("X", 0, "user", "q1"),
        ("X", 1, "assistant", "a1"),
        ("X", 2, "assistant", "a2"),
        ("X", 3, "assistant", "a3"),
        ("X", 4, "user", "q2"),
        # null roles merge with each other (null-safe equality)
        ("Y", 0, None, "m1"), ("Y", 1, None, "m2"), ("Y", 2, "user", "q"),
    ]
    df = spark.createDataFrame(
        rows, "conv_id string, turn_idx int, role string, text string"
    )
    out = {
        (r.conv_id, r.new_idx): (r.role, r.text, r.n_merged)
        for r in coerce_roles(df).collect()
    }
    assert out == {
        ("X", 0): ("user", "q1", 1),
        ("X", 1): ("assistant", "a1\na2\na3", 3),
        ("X", 2): ("user", "q2", 1),
        ("Y", 0): (None, "m1\nm2", 2),
        ("Y", 1): ("user", "q", 1),
    }


def test_truncate_conversation_tokens_prefix_rule(spark):
    from fineweb_legal_spark.operators.repairs import (
        truncate_conversation_tokens,
    )

    rows = [
        ("X", 0, "user", "a" * 40),        # 10 tokens
        ("X", 1, "assistant", "b" * 40),   # cum 20
        ("X", 2, "user", "c" * 400),       # cum 120 > 25 -> cut here
        ("X", 3, "user", "tiny"),          # later small turn must NOT sneak in
        # first turn alone over budget -> whole conversation dropped
        ("Z", 0, "user", "z" * 400),
        ("Z", 1, "user", "small"),
    ]
    df = spark.createDataFrame(
        rows, "conv_id string, turn_idx int, role string, text string"
    )
    out = truncate_conversation_tokens(df, budget=25).collect()
    assert sorted((r.conv_id, r.turn_idx, r.cum_tok) for r in out) == [
        ("X", 0, 10), ("X", 1, 20),
    ]


def test_cluster_representatives_quality_argmax(spark):
    from fineweb_legal_spark.operators.cluster import cluster_representatives

    labels = spark.createDataFrame(
        [("a", "a"), ("b", "a"), ("c", "a"), ("x", "x"), ("y", "x")],
        "id string, cluster_id string",
    )
    scores = spark.createDataFrame(
        [("a", 5), ("b", 9), ("c", 9), ("x", 1), ("y", 1)],
        "id string, score int",
    )
    got = {
        r.cluster_id: r.keep_id
        for r in cluster_representatives(labels, scores, score_col="score").collect()
    }
    # argmax score, id-max tie-break: cluster a -> c (9, ties b), x -> y
    assert got == {"a": "c", "x": "y"}


def test_repair_protocol_rules(spark):
    from fineweb_legal_spark.operators.repairs import repair_protocol

    rows = [
        # leading assistant + tool dropped; tool run after assistant kept;
        # tool run after user dropped
        ("A", 0, "assistant", "hi"),
        ("A", 1, "tool", "r0"),
        ("A", 2, "user", "q"),
        ("A", 3, "assistant", "a"),
        ("A", 4, "tool", "r1"),
        ("A", 5, "tool", "r2"),
        ("A", 6, "user", "q2"),
        ("A", 7, "tool", "orphan"),
        ("A", 8, "assistant", "a2"),
        # unknown role dropped; conversation with no user/system start
        ("B", 0, "narrator", "x"),
        ("B", 1, "tool", "y"),
        ("B", 2, "assistant", "z"),
    ]
    df = spark.createDataFrame(
        rows, "conv_id string, turn_idx int, role string, text string"
    )
    got = [
        (r.conv_id, r.new_idx, r.role, r.orig_idx)
        for r in repair_protocol(df).orderBy("conv_id", "new_idx").collect()
    ]
    assert got == [
        ("A", 0, "user", 2),
        ("A", 1, "assistant", 3),
        ("A", 2, "tool", 4),
        ("A", 3, "tool", 5),
        ("A", 4, "user", 6),
        ("A", 5, "assistant", 8),
    ]


def test_chunk_text_overlap_and_edges(spark):
    from fineweb_legal_spark.operators.textql import chunk_text

    d = spark.createDataFrame(
        [(1, "abcdefghij"), (2, "xy"), (3, ""), (4, None), (5, "abcd")],
        "doc_id int, text string",
    )
    got = {
        (r.doc_id, r.chunk_idx): r.chunk_text
        for r in chunk_text(d, size=4, overlap=1).collect()
    }
    # stride 3: doc 1 -> [0:4],[3:7],[6:10],[9:10]; doc 5 len==size -> 2
    # chunks (the second carries the trailing overlap window)
    assert got == {
        (1, 0): "abcd", (1, 1): "defg", (1, 2): "ghij", (1, 3): "j",
        (2, 0): "xy",
        (5, 0): "abcd", (5, 1): "d",
    }
    # no-overlap path: exact partition of the text
    got2 = {
        (r.doc_id, r.chunk_idx): r.chunk_text
        for r in chunk_text(d, size=5).collect()
    }
    assert got2 == {(1, 0): "abcde", (1, 1): "fghij", (2, 0): "xy",
                    (5, 0): "abcd"}
    # pandas twin over random strings
    import numpy as np
    rng = np.random.RandomState(7)
    rows = [(i, "".join(rng.choice(list("abc "), rng.randint(0, 40))))
            for i in range(50)]
    df = spark.createDataFrame(rows, "doc_id int, text string")
    size, overlap, stride = 7, 2, 5
    want = {}
    for i, t in rows:
        k = 0
        while k * stride < len(t):
            want[(i, k)] = t[k * stride: k * stride + size]
            k += 1
    got3 = {
        (r.doc_id, r.chunk_idx): r.chunk_text
        for r in chunk_text(df, size=size, overlap=overlap).collect()
    }
    assert got3 == want


def test_pseudonymize_pii_stable_indices(spark):
    from fineweb_legal_spark.operators.pseudonymize import pseudonymize_pii

    rows = [
        # case variants of one address share an index; new address gets 2
        ("A", 0, "user", "mail me at Bob@Example.COM now"),
        ("A", 1, "assistant", "cc bob@example.com and alice@x.org"),
        # dashed SSN and the bare 9-digit run are the SAME identity
        ("A", 2, "user", "ssn 123-45-6789 then bare 123456789"),
        # three phone formats of one number share an index
        ("A", 3, "user",
         "call (555) 123-4567 or +1 555 123 4567 or 555.123.4567"),
        ("A", 4, "tool", None),
        # guard near-misses: version string, 13-digit ISBN
        ("A", 5, "user", "v1.2.123-45-6789 and ISBN 9780306406157 stay"),
        # numbering resets per conversation
        ("B", 0, "user", "alice@x.org"),
    ]
    # out-of-order + repartitioned input: the kernel must sort by turn_idx
    df = spark.createDataFrame(
        rows[::-1], "conv_id string, turn_idx int, role string, text string"
    ).repartition(7)
    got = {
        (r.conv_id, r.turn_idx): (r.text, r.n_pseudo)
        for r in pseudonymize_pii(df).collect()
    }
    assert got == {
        ("A", 0): ("mail me at [EMAIL_1] now", 1),
        ("A", 1): ("cc [EMAIL_1] and [EMAIL_2]", 2),
        ("A", 2): ("ssn [SSN_1] then bare [SSN_1]", 2),
        ("A", 3): ("call [PHONE_1] or [PHONE_1] or [PHONE_1]", 3),
        ("A", 4): (None, 0),
        ("A", 5): ("v1.2.123-45-6789 and ISBN 9780306406157 stay", 0),
        ("B", 0): ("[EMAIL_1]", 1),
    }


def test_pseudonymize_pii_stream_spans_batches(spark):
    """With 3-row Arrow batches every multi-turn conversation spans
    batches, so the per-partition pass must carry a conversation's
    trailing run into the next batch. Output equals
    pseudonymize_conversation applied per conversation in turn_idx
    order, for a null-conv_id conversation (one conversation, as in
    groupBy), null turns and a null turn_idx (ordered last), and bigint
    conv_ids above 2^53 come back exact from batches that also hold the
    null one; the plan is one MapInArrow and no FlatMapGroupsInPandas."""
    import random

    from fineweb_legal_spark.operators.pseudonymize import (
        pseudonymize_conversation,
        pseudonymize_pii,
    )
    from fineweb_legal_spark.session import explain_formatted

    rng = random.Random(3)
    pii = ["Bob@Example.COM", "bob@example.com", "a@x.org", "123-45-6789",
           "123456789", "(555) 123-4567", "+1 555 123 4567", "hi", "ok"]
    rows = []
    for conv in range(40):
        for t in range(rng.randint(1, 9)):
            text = None if rng.random() < 0.1 else " and ".join(
                rng.sample(pii, rng.randint(1, 3))
            )
            rows.append((conv, t, "user", text))
    # the null-conv_id conversation numbers its second address 2 only if
    # its turns are one conversation
    null_conv = ["mail a@x.org", None, "b@y.org and a@x.org", "b@y.org",
                 "call (555) 123-4567", "+1 555 123 4567 again", "c@z.org"]
    rows += [(None, t, "user", text) for t, text in enumerate(null_conv)]
    rows.append((1, None, "tool", "mail a@x.org"))
    rng.shuffle(rows)

    want = {}
    for conv in {r[0] for r in rows}:
        turns = sorted(
            (r for r in rows if r[0] == conv),
            key=lambda r: (r[1] is None, r[1] or 0),
        )
        texts, counts = pseudonymize_conversation([r[3] for r in turns])
        for r, text, n in zip(turns, texts, counts):
            want[(conv, r[1])] = (text, n)

    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    prev = spark.conf.get(key)
    spark.conf.set(key, "3")
    try:
        # bigint ids are odd values above 2^53, which float64 cannot hold
        for conv_type, cast in (
            ("string", str),
            ("bigint", lambda c: 2**53 + 1 + 2 * c),
        ):
            df = spark.createDataFrame(
                [(None if c is None else cast(c), *r) for c, *r in rows],
                f"conv_id {conv_type}, turn_idx int, role string, text string",
            ).repartition(5)
            out = pseudonymize_pii(df)
            plan = explain_formatted(out)
            assert ") FlatMapGroupsInPandas" not in plan, plan
            assert plan.count(") MapInArrow") == 1, plan
            got = {
                (r.conv_id, r.turn_idx): (r.text, r.n_pseudo)
                for r in out.collect()
            }
            assert len(got) == len(rows)
            assert got == {
                (None if c is None else cast(c), t): v
                for (c, t), v in want.items()
            }, conv_type
    finally:
        spark.conf.set(key, prev)


def test_pseudonymize_matches_scrub_coverage(spark):
    """Anything the scrubber masks, pseudonymize replaces (same regexes,
    same cascade order): on scrub-changed turns the pseudonymized text
    must differ from the original wherever scrub differs."""
    import pandas as pd

    from fineweb_legal_spark.datasets import ensure_transcripts
    from fineweb_legal_spark.operators.pseudonymize import (
        pseudonymize_conversation,
    )
    from fineweb_legal_spark.scrub import scrub_text

    t = pd.read_parquet(ensure_transcripts("t1")).head(4000)
    texts = [None if pd.isna(x) else x for x in t["text"]]
    pseudo, counts = pseudonymize_conversation(texts)
    import re

    strip_idx = re.compile(r"\[(EMAIL|SSN|PHONE)_\d+\]")
    for orig, ps, n in zip(texts, pseudo, counts):
        if orig is None:
            continue
        sc = scrub_text(orig)
        # profanity is scrub-only; reverse it for the comparison
        sc_no_prof = sc.replace("[CENSORED]", "")
        ps_flat = strip_idx.sub("[X]", ps)
        sc_flat = strip_idx.sub(
            "[X]",
            sc_no_prof.replace("[EMAIL]", "[EMAIL_0]")
            .replace("[SSN]", "[SSN_0]")
            .replace("[PHONE]", "[PHONE_0]"),
        )
        # same hit positions => same flattened text (modulo profanity)
        from fineweb_legal_spark import spec

        if not spec.PROFANITY_RE.search(orig):
            assert ps_flat == sc_flat, orig[:120]
        assert (n > 0) == (ps != orig)


def test_clean_web_text_fixtures(spark):
    from fineweb_legal_spark.operators.textclean import clean_web_text

    rows = [
        # tag strip inserts a space so words never fuse
        (1, "a</p><p>b", "a b"),
        # script blocks go wholly (case-insensitive, dotall, '<' in body)
        (2, "<SCRIPT>var x = 1 < 2;\n</script>tail", "tail"),
        # decode-once: &amp;lt; -> literal &lt;, never <
        (
            3,
            "Tom &amp; Jerry &amp;lt;keep&amp;gt; &lt;3",
            'Tom & Jerry &lt;keep&gt; <3',
        ),
        # mojibake table
        (4, "donâ€™t â€” stop Ã©lan", "don’t — stop élan"),
        # CRLF / CR -> LF; bell removed
        (5, "a\r\nb\rc\x07d", "a\nb\ncd"),
        # whitespace: runs collapse, 3+ newlines -> 2, edges trimmed
        (6, "x   y\t\tz\n\n\n\n\nw  \n  v", "x y z\n\nw\nv"),
        # unterminated tag survives (documented naive trade)
        (7, "<div unterminated stays", "<div unterminated stays"),
        # bare '<' in prose eats to the next '>' iff one exists
        (8, "1 < 2 > 3", "1 3"),
    ]
    df = spark.createDataFrame(
        [(i, t) for i, t, _ in rows], ["doc_id", "text"]
    )
    got = {
        r["doc_id"]: (r["clean_text"], r["clean_text_removed"])
        for r in clean_web_text(df).collect()
    }
    for i, t, want in rows:
        assert got[i][0] == want, f"doc {i}: {got[i][0]!r} != {want!r}"
        assert got[i][1] == len(t) - len(want)


def test_clean_web_text_duckdb_twin_parity(spark):
    """The RE2 re-expression (oracle_clean_expr) must agree char-for-char
    with the Spark chain on adversarial inputs."""
    import duckdb

    from fineweb_legal_spark.operators.textclean import (
        clean_web_text,
        oracle_clean_expr,
    )

    texts = [
        "a</p><p>b",
        "<SCRIPT a='>'>x</script>done",
        "<style>p{}</style>text",
        "Tom &amp; Jerry &amp;lt;k&amp;gt; &lt;3 &quot;q&quot; &#39;s&nbsp;d",
        "donâ€™t â€“xâ€” â€œqâ€¦ Ã©Ã¨Ã¤Ã¶Ã¼Ã±Ã§ Â end",
        "a\r\nb\rc\x07\x0b\x1fd\x7fe",
        "x   y\t\tz\n\n\n\n\nw  \n  v  ",
        "<div unterminated",
        "1 < 2 > 3 < 4",
        "it's an 'apostrophe' || pipe",
        "",
    ]
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], ["doc_id", "text"]
    )
    got = {
        r["doc_id"]: r["clean_text"] for r in clean_web_text(df).collect()
    }
    con = duckdb.connect()
    for i, t in enumerate(texts):
        con.execute("CREATE OR REPLACE TABLE x AS SELECT ? AS text", [t])
        want = con.execute(
            f"SELECT {oracle_clean_expr('text')} FROM x"
        ).fetchone()[0]
        assert got[i] == want, f"text {i}: spark {got[i]!r} != duckdb {want!r}"


def test_rule_overlap_counts(spark):
    import pyspark.sql.functions as SF

    from fineweb_legal_spark.operators.audit import rule_overlap

    rows = [
        # (a, b, c) independent trip flags
        (True, True, False),
        (True, False, False),
        (False, True, True),
        (True, True, True),
        (False, False, False),
    ]
    df = spark.createDataFrame(rows, ["a", "b", "c"])
    flags = {n: SF.col(n) for n in ("a", "b", "c")}
    got = {
        (r["rule_a"], r["rule_b"]): r["docs"]
        for r in rule_overlap(df, flags).collect()
    }
    want = {}
    names = ["a", "b", "c"]
    for i, x in enumerate(names):
        for y in names[i:]:
            want[(x, y)] = sum(
                1 for r in rows if r[names.index(x)] and r[names.index(y)]
            )
    assert got == want
    # one aggregate pass: the physical plan has exactly one HashAggregate
    # pair (partial+final) and no join
    plan = rule_overlap(df, flags)._jdf.queryExecution().executedPlan().toString()
    assert "Join" not in plan


def test_threshold_sweep_matches_duckdb(spark):
    import duckdb

    from fineweb_legal_spark.operators.audit import threshold_sweep

    scores = [0.5, 1.0, 2.5, None, 3.0, 3.0, 0.1, 7.0, None, 2.5]
    ts = [0.5, 2.5, 5.0, 100.0]
    df = spark.createDataFrame([(s,) for s in scores], "score double")
    got = {
        r["threshold"]: (r["kept"], r["keep_frac"])
        for r in threshold_sweep(df, "score", ts).collect()
    }
    con = duckdb.connect()
    con.execute(
        "CREATE TABLE s AS SELECT * FROM (VALUES "
        + ",".join(f"({s if s is not None else 'NULL'})" for s in scores)
        + ") v(score)"
    )
    for t in ts:
        kept, frac = con.execute(
            f"SELECT count(*) FILTER (WHERE score >= {t}),"
            f" round(count(*) FILTER (WHERE score >= {t})"
            f" / CAST(count(*) AS DOUBLE), 6) FROM s"
        ).fetchone()
        assert got[t] == (kept, frac), (t, got[t], (kept, frac))


def test_web_rule_flags_null_text_trips_only_length(spark):
    from fineweb_legal_spark.operators.audit import rule_overlap
    from fineweb_legal_spark.operators.webfilter import web_rule_flags

    df = spark.createDataFrame([(1, None, None)], "id long, text string, url string")
    got = {
        (r["rule_a"], r["rule_b"]): r["docs"]
        for r in rule_overlap(df, web_rule_flags()).collect()
    }
    assert got[("length", "length")] == 1
    assert all(v == 0 for k, v in got.items() if k != ("length", "length"))


def test_keep_drop_f1_planted_confusion(spark):
    from fineweb_legal_spark.validation import keep_drop_f1

    gold = spark.createDataFrame(
        [
            ("c1", 0, True, "a"),
            ("c1", 1, True, "b"),
            ("c1", 2, False, None),
            ("c2", 0, True, "d"),
            ("c2", 1, False, None),
            ("c2", 2, True, "f"),  # missing from pred
        ],
        "conv_id string, turn_idx int, keep boolean, scrubbed_text string",
    )
    pred = spark.createDataFrame(
        [
            ("c1", 0, True, "a"),     # tp, text match
            ("c1", 1, False, None),   # fn
            ("c1", 2, True, "c"),     # fp
            ("c2", 0, True, "D"),     # tp, text MISMATCH
            ("c2", 1, False, None),   # tn
            ("c3", 0, True, "x"),     # extra row (missing_gold)
        ],
        "conv_id string, turn_idx int, keep boolean, scrubbed_text string",
    )
    r = keep_drop_f1(pred, gold).collect()[0]
    assert (r["tp"], r["fp"], r["fn"], r["tn"]) == (2, 1, 1, 1)
    assert (r["missing_pred"], r["missing_gold"]) == (1, 1)
    assert (r["text_match"], r["text_mismatch"]) == (1, 1)
    assert r["precision"] == round(2 / 3, 6)
    assert r["recall"] == round(2 / 3, 6)
    assert r["f1"] == round(4 / 6, 6)
    assert r["text_match_frac"] == 0.5


def test_skew_report_heavy_key(spark):
    from fineweb_legal_spark.operators.skew import skew_report

    rows = [("hot",)] * 60 + [("warm",)] * 25 + [(f"k{i}",) for i in range(15)]
    df = spark.createDataFrame(rows, ["user"])
    rep = skew_report(df, "user", top_k=2, salt_target_rows=10).collect()
    assert [r["key"] for r in rep] == ["hot", "warm"]
    hot = rep[0]
    assert hot["rows"] == 60
    assert hot["share"] == 0.6
    assert hot["suggested_salt"] == 6
    assert hot["max_group"] == 60
    assert rep[1]["suggested_salt"] == 3


def test_calibrate_threshold_hits_target(spark):
    from fineweb_legal_spark.operators.audit import (
        calibrate_threshold,
        threshold_sweep,
    )

    # 1000 distinct scores 1..1000 plus 250 NULLs: target fractions are
    # over the WHOLE table, so NULLs force the adjusted-percentile path
    rows = [(float(i),) for i in range(1, 1001)] + [(None,)] * 250
    df = spark.createDataFrame(rows, "score double")
    t = calibrate_threshold(df, "score", target_keep_frac=0.4)
    kept = threshold_sweep(df, "score", [t]).collect()[0]
    assert abs(kept["keep_frac"] - 0.4) < 0.01, (t, kept)
    # unreachable target (> non-NULL share) degrades to keep-all-scored
    t_all = calibrate_threshold(df, "score", target_keep_frac=1.0)
    assert t_all <= 1.0
    import pytest as _pytest

    with _pytest.raises(ValueError):
        calibrate_threshold(df, "score", target_keep_frac=0.0)


def test_sft_pairs_window_assembly(spark):
    import duckdb

    from fineweb_legal_spark.operators.sft import sft_pairs

    rows = [
        ("c1", 0, "user", "hi"),
        ("c1", 1, "assistant", "hello"),
        ("c1", 2, "user", None),
        ("c1", 3, "assistant", "still here"),
        ("c2", 0, "assistant", "cold open"),
        ("c2", 1, "tool", "run"),
        ("c2", 2, "assistant", "done"),
    ]
    df = spark.createDataFrame(
        rows, "conv_id string, turn_idx int, role string, text string"
    )
    got = {
        (r["conv_id"], r["turn_idx"]): (
            r["n_context"],
            r["context"],
            r["target"],
        )
        for r in sft_pairs(df, context_turns=2).collect()
    }
    assert got[("c1", 1)] == (1, "user: hi", "hello")
    assert got[("c1", 3)] == (2, "assistant: hello\nuser: ", "still here")
    assert got[("c2", 0)] == (0, "", "cold open")
    assert got[("c2", 2)] == (2, "assistant: cold open\ntool: run", "done")
    # DuckDB LAG twin over the same rows — independent window semantics
    con = duckdb.connect()
    con.execute(
        "CREATE TABLE t(conv_id VARCHAR, turn_idx INT, role VARCHAR,"
        " text VARCHAR)"
    )
    con.executemany("INSERT INTO t VALUES (?,?,?,?)", rows)
    want = con.execute("""
        WITH lines AS (
          SELECT conv_id, turn_idx, role, text,
                 coalesce(role,'') || ': ' || coalesce(text,'') AS line
          FROM t
        ), lagged AS (
          SELECT conv_id, turn_idx, role, text,
                 lag(line, 2) OVER w AS l2, lag(line, 1) OVER w AS l1
          FROM lines
          WINDOW w AS (PARTITION BY conv_id ORDER BY turn_idx)
        )
        SELECT conv_id, turn_idx,
               (l2 IS NOT NULL)::INT + (l1 IS NOT NULL)::INT AS n_context,
               concat_ws(chr(10), l2, l1) AS context, text AS target
        FROM lagged WHERE role = 'assistant'
    """).fetchall()
    assert {(c, i): (n, ctx, tg) for c, i, n, ctx, tg in want} == got


def test_domain_blocklist_parent_matching(spark):
    from fineweb_legal_spark.operators.domains import (
        domain_blocklist_filter,
        domain_suffix_chain,
        url_host,
    )

    urls = [
        (1, "https://spam.example/x"),            # exact hit
        (2, "http://cdn.a.spam.example:8080/y"),  # parent hit, port strip
        (3, "https://notspam.example/z"),         # substring trap: clean
        (4, "https://SPAM.Example./w"),           # case + trailing dot
        (5, "https://fine.example/ok"),           # clean
        (6, "not a url"),                         # no host: never blocked
        (7, None),                                # NULL url
        (8, "https://example/x"),                 # single-label host
    ]
    df = spark.createDataFrame(urls, "id long, url string")
    bl = spark.createDataFrame(
        [("spam.example",), ("blocked.tld",)], ["domain"]
    )
    for bcast in (True, False):
        got = {
            r["id"]: r["blocked"]
            for r in domain_blocklist_filter(
                df, bl, broadcast_list=bcast
            ).collect()
        }
        assert got == {
            1: True, 2: True, 3: False, 4: True,
            5: False, 6: False, 7: False, 8: False,
        }, (bcast, got)
    chain = (
        spark.range(1)
        .select(domain_suffix_chain(F.lit("a.b.co")).alias("c"))
        .collect()[0]["c"]
    )
    assert chain == ["a.b.co", "b.co", "co"]
    host = (
        spark.range(1)
        .select(url_host(F.lit("HTTPS://User@Host.Example.:443/p?q=1")).alias("h"))
        .collect()[0]["h"]
    )
    assert host == "host.example"


def test_agentstats_duckdb_twin(spark):
    import datetime as dt

    import duckdb

    from fineweb_legal_spark.operators.agentstats import (
        conversation_tool_profile,
        tool_usage_stats,
    )

    t0 = dt.datetime(2026, 1, 1, 12, 0, 0)
    s = lambda sec: t0 + dt.timedelta(seconds=sec)  # noqa: E731
    rows = [
        ("c1", 0, "user", "run search", None, s(0)),
        ("c1", 1, "tool", "ok: 3 results", "search", s(2)),
        ("c1", 2, "assistant", "found", None, s(3)),
        ("c1", 3, "tool", "Timeout waiting", "search", s(33)),
        ("c2", 0, "user", "calc", None, s(0)),
        ("c2", 1, "tool", "Error: divide by zero", "calc", s(1)),
        ("c2", 2, "tool", "7", "calc", None),      # NULL ts: no latency
        ("c3", 0, "assistant", "no tools here", None, s(0)),
    ]
    df = spark.createDataFrame(
        rows,
        "conv_id string, turn_idx int, role string, text string,"
        " tool string, ts timestamp",
    )
    got = {r["tool"]: r.asDict() for r in tool_usage_stats(df).collect()}
    assert got["search"]["calls"] == 2
    assert got["search"]["conversations"] == 1
    assert got["search"]["error_frac"] == 0.5  # "Timeout waiting"
    assert got["search"]["mean_latency_s"] == 16.0  # (2 + 30) / 2
    assert got["search"]["max_latency_s"] == 30.0
    assert got["calc"]["calls"] == 2
    assert got["calc"]["error_frac"] == 0.5
    assert got["calc"]["mean_latency_s"] == 1.0  # NULL-ts call drops out
    prof = {
        r["conv_id"]: r.asDict()
        for r in conversation_tool_profile(df).collect()
    }
    assert prof["c1"]["tool_calls"] == 2 and prof["c1"]["tool_frac"] == 0.5
    assert prof["c2"]["distinct_tools"] == 1
    assert prof["c3"]["tool_calls"] == 0 and prof["c3"]["distinct_tools"] == 0
    # DuckDB twin for the per-tool frame
    con = duckdb.connect()
    con.execute(
        "CREATE TABLE t(conv_id VARCHAR, turn_idx INT, role VARCHAR,"
        " text VARCHAR, tool VARCHAR, ts TIMESTAMP)"
    )
    con.executemany("INSERT INTO t VALUES (?,?,?,?,?,?)", rows)
    want = con.execute("""
        WITH lagged AS (
          SELECT *, epoch(ts) - lag(epoch(ts)) OVER
                 (PARTITION BY conv_id ORDER BY turn_idx) AS lat
          FROM t
        )
        SELECT tool, count(*) AS calls,
               count(DISTINCT conv_id) AS conversations,
               round(avg((regexp_matches(text,
                 '(?i)\\b(error|exception|traceback|failed|timeout)\\b'
               ))::INT), 6) AS error_frac,
               round(avg(lat), 3) AS mean_latency_s,
               round(max(lat), 3) AS max_latency_s
        FROM lagged WHERE role = 'tool' AND tool IS NOT NULL
        GROUP BY tool ORDER BY tool
    """).fetchdf().set_index("tool").to_dict("index")
    for k, v in want.items():
        for col in ("calls", "conversations", "error_frac",
                    "mean_latency_s", "max_latency_s"):
            assert float(got[k][col]) == float(v[col]), (k, col, got[k], v)


def test_drop_retry_duplicates(spark):
    from fineweb_legal_spark.operators.repairs import drop_retry_duplicates

    rows = [
        ("c1", 0, "user", "hi"),
        ("c1", 1, "assistant", "yo"),
        ("c1", 2, "assistant", "yo"),      # retry: drop
        ("c1", 3, "assistant", "yo!"),     # same role, new text: keep
        ("c1", 4, "user", "yo!"),          # same text, new role: keep
        ("c2", 0, "tool", None),
        ("c2", 1, "tool", None),           # null-safe retry pair: drop
        ("c2", 2, "tool", "out"),
    ]
    df = spark.createDataFrame(
        rows, "conv_id string, turn_idx int, role string, text string"
    )
    got = sorted(
        (r["conv_id"], r["turn_idx"], r["role"], r["text"])
        for r in drop_retry_duplicates(df).collect()
    )
    assert got == [
        ("c1", 0, "user", "hi"),
        ("c1", 1, "assistant", "yo"),
        ("c1", 2, "assistant", "yo!"),
        ("c1", 3, "user", "yo!"),
        ("c2", 0, "tool", None),
        ("c2", 1, "tool", "out"),
    ]


def test_split_episodes_gap_and_null_ts(spark):
    import datetime as dt

    from fineweb_legal_spark.operators.repairs import split_episodes

    t0 = dt.datetime(2026, 1, 1, 9, 0, 0)
    s = lambda sec: t0 + dt.timedelta(seconds=sec)  # noqa: E731
    rows = [
        ("c1", 0, s(0)),
        ("c1", 1, s(30)),
        ("c1", 2, None),        # untimestamped: inherits episode 0
        ("c1", 3, s(5000)),     # 4970s > 3600 from LAST KNOWN (t=30): new
        ("c1", 4, s(5010)),
        ("c1", 5, None),
        ("c1", 6, s(99999)),    # new again
        ("c2", 0, None),        # conversation with no leading ts
        ("c2", 1, s(0)),
        ("c2", 2, s(10)),
    ]
    df = spark.createDataFrame(
        [(c, i, ts, "user", "x") for c, i, ts in rows],
        "conv_id string, turn_idx int, ts timestamp, role string, text string",
    )
    got = {
        (r["conv_id"], r["turn_idx"]): r["episode_idx"]
        for r in split_episodes(df).collect()
    }
    assert got == {
        ("c1", 0): 0, ("c1", 1): 0, ("c1", 2): 0,
        ("c1", 3): 1, ("c1", 4): 1, ("c1", 5): 1, ("c1", 6): 2,
        ("c2", 0): 0, ("c2", 1): 0, ("c2", 2): 0,
    }


def test_lang_consistency_majority_and_ties(spark):
    import duckdb

    from fineweb_legal_spark.operators.agentstats import lang_consistency

    rows = [
        ("c1", "en"), ("c1", "en"), ("c1", "fr"), ("c1", None),
        ("c2", "de"), ("c2", "es"),            # tie -> 'de' (lex smallest)
        ("c3", "it"),
    ]
    df = spark.createDataFrame(rows, "conv_id string, lang string")
    got = {r["conv_id"]: r.asDict() for r in lang_consistency(df).collect()}
    assert got["c1"]["majority_lang"] == "en"
    assert got["c1"]["lang_turns"] == 3
    assert got["c1"]["majority_frac"] == round(2 / 3, 6)
    assert got["c1"]["n_langs"] == 2
    assert got["c2"]["majority_lang"] == "de"
    assert got["c2"]["majority_frac"] == 0.5
    assert got["c3"] == {
        "conv_id": "c3", "majority_lang": "it", "lang_turns": 1,
        "majority_frac": 1.0, "n_langs": 1,
    }
    # DuckDB twin
    con = duckdb.connect()
    con.execute("CREATE TABLE t(conv_id VARCHAR, lang VARCHAR)")
    con.executemany("INSERT INTO t VALUES (?,?)", rows)
    want = con.execute("""
        WITH pl AS (
          SELECT conv_id, lang, count(*) AS n FROM t
          WHERE lang IS NOT NULL GROUP BY 1, 2
        )
        SELECT conv_id,
               min({'neg': -n, 'lang': lang}).lang AS majority_lang,
               sum(n) AS lang_turns,
               round(max(n) / CAST(sum(n) AS DOUBLE), 6) AS majority_frac,
               count(*) AS n_langs
        FROM pl GROUP BY conv_id
    """).fetchdf().set_index("conv_id").to_dict("index")
    for k, v in want.items():
        assert got[k]["majority_lang"] == v["majority_lang"]
        assert got[k]["lang_turns"] == v["lang_turns"]
        assert float(got[k]["majority_frac"]) == float(v["majority_frac"])
        assert got[k]["n_langs"] == v["n_langs"]


def test_blob_signals_planted(spark):
    import math

    from fineweb_legal_spark.operators.textql import blob_signals

    b64 = "QUJDREVGR0hJSktMTU5PUFFSU1RVVldYWVphYmNkZWZnaGlqa2xtbm9w"  # 56
    hx = "deadbeef" * 5  # 40 hex chars
    rows = [
        (1, "plain english text with no blobs at all here"),
        (2, f"key: {b64} trailing"),
        (3, f"hash {hx} end"),
        (4, "aaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaa"),  # low entropy; 32 hex-ish 'a's
        (5, None),
        (6, ""),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["doc_id"]: r.asDict() for r in blob_signals(df).collect()}
    assert got[1]["base64_frac"] == 0.0 and got[1]["hex_frac"] == 0.0
    assert got[2]["base64_frac"] == round(len(b64) / len(rows[1][1]), 6)
    assert got[3]["hex_frac"] == round(len(hx) / len(rows[2][1]), 6)
    # 'a'*32 is ALSO a 32-char hex run — the documented trade of a
    # character-class detector; entropy separates it (0 bits)
    assert got[4]["hex_frac"] == 1.0
    assert got[4]["char_entropy"] == 0.0
    assert got[5]["base64_frac"] is None and got[5]["char_entropy"] is None
    assert got[6]["char_entropy"] == 0.0
    # entropy spot-check vs a hand computation
    t = rows[0][1]
    b = t.encode()
    from collections import Counter

    want = -sum(
        (c / len(b)) * math.log2(c / len(b)) for c in Counter(b).values()
    )
    assert abs(got[1]["char_entropy"] - round(want, 4)) < 1e-9
    assert got[2]["char_entropy"] > got[4]["char_entropy"]


def test_cross_neardup_only_cross_pairs(spark):
    from fineweb_legal_spark.operators.dedup import cross_neardup_pairs

    base = (
        "the committee reviewed the proposal and agreed to fund the "
        "project for another year with careful review of the plan "
    ) * 3
    rows_new = [
        ("n1", base + "tail one"),
        ("n2", base + "tail one"),      # near-dups each other: NOT a pair
        ("n3", "completely different words about gardens and rivers " * 6),
    ]
    rows_old = [
        ("o1", base + "tail one?"),     # near-dup of n1/n2
        ("o2", "another unrelated existing document about music " * 6),
    ]
    new = spark.createDataFrame(rows_new, ["id", "text"])
    old = spark.createDataFrame(rows_old, ["id", "text"])
    got = {
        (r["id_new"], r["id_old"])
        for r in cross_neardup_pairs(new, old, threshold=0.8).collect()
    }
    assert got == {("n1", "o1"), ("n2", "o1")}


def _crossjoin_jaccard_pairs(df, threshold):
    """Verification twin of ``exact_jaccard_pairs``: the O(n^2) cross join
    over word sets (bounded inputs only)."""
    from fineweb_legal_spark.operators.parallel import group_parallelism

    words = F.array_distinct(F.split(F.lower(F.trim("text")), " "))
    t = df.select(F.col("id").cast("string"), words.alias("w"))
    # nested-loop join parallelism == partitions of the streamed side
    a, b = t.repartition(group_parallelism(t)).alias("a"), t.alias("b")
    inter = F.size(F.array_intersect(F.col("a.w"), F.col("b.w")))
    union = F.size(F.col("a.w")) + F.size(F.col("b.w")) - inter
    return (
        a.crossJoin(b)
        .filter(F.col("a.id") < F.col("b.id"))
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            F.round(inter.cast("double") / union, 4).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )


def test_exact_jaccard_impls_identical(spark):
    # round 6: exact_jaccard_pairs grew two scale plans (auto->bitmask for
    # <=64-token vocabularies; prefix-filtered AllPairs otherwise). Both
    # must reproduce the O(n^2) cross join bit-for-bit — including rows
    # whose true J < t but round(J, 4) >= t, and empty/NULL-text rows.
    from fineweb_legal_spark.operators.dedup import exact_jaccard_pairs

    def pairs(df, impl, thr=0.8):
        got = (
            _crossjoin_jaccard_pairs(df, thr)
            if impl == "crossjoin"
            else exact_jaccard_pairs(df, thr, impl=impl)
        )
        return sorted((r.id_a, r.id_b, r.jaccard) for r in got.collect())

    d = spark.read.parquet("/root/testdata/sf0.001/documents.parquet").select(
        F.col("doc_id").cast("string").alias("id"), "text"
    )
    ref = pairs(d, "crossjoin")
    assert ref  # fixture must actually produce near-dup pairs
    assert pairs(d, "auto") == ref
    assert pairs(d, "prefix") == ref

    # corner cases: empty strings (the [""] token set), NULL text, a
    # rounding-boundary pair (J = 4/5 = 0.8), and a >64-token vocabulary
    # so auto routes through the prefix path
    vocab_blower = " ".join(f"tok{i}" for i in range(70))
    rows = [
        ("a", "x y z w v"),
        ("b", "x y z w q"),          # J = 4/6 = 0.6667: out at 0.8
        ("c", "x y z w v u"),        # vs a: J = 5/6 = 0.8333: in
        ("d", ""),
        ("e", ""),                   # d-e: the [""] sets, J = 1.0
        ("f", None),
        ("g", vocab_blower),
        ("h", vocab_blower),         # g-h: J = 1.0
    ]
    corner = spark.createDataFrame(rows, ["id", "text"])
    ref2 = pairs(corner, "crossjoin")
    assert ("d", "e", 1.0) in ref2 and ("g", "h", 1.0) in ref2
    assert pairs(corner, "auto") == ref2
    assert pairs(corner, "prefix") == ref2


def test_exact_jaccard_threshold_range(spark):
    # a threshold above 1 used to make the bitmask plan's popcount band
    # sequence(lo, hi) count DOWN and emit spurious candidates; the range
    # is now checked at entry
    from fineweb_legal_spark.operators.dedup import exact_jaccard_pairs

    df = spark.createDataFrame(
        [("a", "x y z"), ("b", "z y x"), ("c", "x y"), ("d", "x y z w")],
        ["id", "text"],
    )
    ref = [tuple(r) for r in _crossjoin_jaccard_pairs(df, 1.0).collect()]
    assert ref == [("a", "b", 1.0)]
    for impl in ("auto", "prefix"):
        got = [tuple(r) for r in exact_jaccard_pairs(df, 1.0, impl=impl).collect()]
        assert got == ref, impl
    for bad in (1.5, -0.1):
        with pytest.raises(ValueError):
            exact_jaccard_pairs(df, bad)
    with pytest.raises(ValueError, match="'auto', 'prefix'"):
        exact_jaccard_pairs(df, 0.8, impl="crossjoin")


def test_calibration_curve_bins_and_exclusions(spark):
    from fineweb_legal_spark.operators.classifier import calibration_curve

    rows = [
        (0.05, 0), (0.08, 0),            # bin 0
        (0.55, 1), (0.52, 0),            # bin 5
        (1.0, 1),                        # exactly 1.0 -> top bin (9)
        (None, 1), (0.4, None),          # excluded -> bin -1
    ]
    df = spark.createDataFrame(rows, "quality_prob double, label int")
    got = {r["bin"]: r.asDict() for r in calibration_curve(df).collect()}
    assert got[0]["n"] == 2 and got[0]["frac_pos"] == 0.0
    assert got[0]["mean_prob"] == round((0.05 + 0.08) / 2, 6)
    assert got[5]["n"] == 2 and got[5]["frac_pos"] == 0.5
    assert got[9]["n"] == 1 and got[9]["frac_pos"] == 1.0
    assert got[-1]["n"] == 2
    assert got[-1]["mean_prob"] is None or got[-1]["mean_prob"] == 0.4


def test_canonicalize_url_cases(spark):
    from fineweb_legal_spark.operators.domains import canonicalize_url

    cases = [
        # (input, expected) — expected forms hand-derived from the
        # documented contract, not from running the operator
        (
            "HTTPS://WWW.Example.COM:443/a/b/?utm_source=x&b=2&a=1#frag",
            "https://example.com/a/b?a=1&b=2",
        ),
        ("http://example.com:80/", "http://example.com"),
        ("http://example.com./x", "http://example.com/x"),
        ("example.com/path?gclid=1&q=Keep", "example.com/path?q=Keep"),
        ("http://user@WWW.ex.com/", "http://user@ex.com"),
        ("https://ex.com/a//b///", "https://ex.com/a//b"),
        ("https://ex.com/?fbclid=abc", "https://ex.com"),
        ("https://ex.com/s?b=2&a=1&a=0", "https://ex.com/s?a=0&a=1&b=2"),
        ("ftp://Ex.Com:21/f", "ftp://ex.com:21/f"),  # non-default port kept
        (None, None),
    ]
    df = spark.createDataFrame(
        [(i, u) for i, (u, _) in enumerate(cases)], ["i", "url"]
    )
    got = {
        r["i"]: r["c"]
        for r in df.select(
            "i", canonicalize_url(F.col("url")).alias("c")
        ).collect()
    }
    for i, (u, want) in enumerate(cases):
        assert got[i] == want, f"{u!r}: {got[i]!r} != {want!r}"
    # fold_scheme: http and https fetches share one key
    df2 = spark.createDataFrame(
        [("http://A.com/x",), ("https://a.com/x/",)], ["url"]
    )
    keys = {
        r["c"]
        for r in df2.select(
            canonicalize_url(F.col("url"), fold_scheme=True).alias("c")
        ).collect()
    }
    assert keys == {"a.com/x"}


def test_dedup_by_url_winner_and_nulls(spark):
    from fineweb_legal_spark.operators.domains import dedup_by_url

    rows = [
        (1, "https://www.ex.com/a?utm_source=t"),
        (2, "https://ex.com/a"),          # same canonical as 1 -> loses
        (3, "http://other.com/b/"),
        (4, "http://other.com/b"),        # same canonical as 3 -> loses
        (5, None),                        # null URL always kept
        (6, "https://unique.com/c"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "url"])
    for bl in (True, False):
        kept = sorted(
            r["doc_id"]
            for r in dedup_by_url(df, broadcast_losers=bl).collect()
        )
        assert kept == [1, 3, 5, 6]


def test_preference_pairs_modes_and_duckdb_twin(spark):
    import duckdb

    from fineweb_legal_spark.operators.preference import preference_pairs

    rows = [
        # g1: tie between ids 1 and 3 at 0.9 -> id 1 chosen (id tie-break)
        ("g1", 1, "a", 0.9),
        ("g1", 2, "b", 0.4),
        ("g1", 3, "c", 0.9),
        ("g2", 4, "d", 0.5),     # singleton: no pairs
        ("g3", 5, "e", None),    # NULL score: dropped from both roles
        ("g3", 6, "f", 0.2),
        ("g3", 7, None, 0.7),    # NULL text chosen passes through
        ("g4", 8, "h", None),    # all-NULL group: nothing
    ]
    schema = "group_key string, cand_id int, text string, score double"
    df = spark.createDataFrame(rows, schema)

    rest = {
        (r["group_key"], r["rejected_id"]): (
            r["chosen_id"], r["chosen"], r["rejected"], round(r["margin"], 9)
        )
        for r in preference_pairs(df).collect()
    }
    assert rest == {
        ("g1", 2): (1, "a", "b", 0.5),
        ("g1", 3): (1, "a", "c", 0.0),   # tie pair kept at margin 0.0
        ("g3", 6): (7, None, "f", 0.5),
    }
    # strict margin drops the tie pair
    strict = {
        (r["group_key"], r["rejected_id"])
        for r in preference_pairs(df, min_margin=0.1).collect()
    }
    assert strict == {("g1", 2), ("g3", 6)}
    # best_vs_worst: one pair per multi-candidate group, argmin rejected
    worst = {
        r["group_key"]: (r["chosen_id"], r["rejected_id"])
        for r in preference_pairs(df, mode="best_vs_worst").collect()
    }
    assert worst == {"g1": (1, 2), "g3": (7, 6)}
    import pytest as _pytest

    with _pytest.raises(ValueError):
        preference_pairs(df, mode="nope")

    # DuckDB first_value twin (independent window semantics) vs the
    # best_vs_rest output over the same rows
    con = duckdb.connect()
    con.execute(
        "CREATE TABLE t(group_key VARCHAR, cand_id INT, text VARCHAR,"
        " score DOUBLE)"
    )
    con.executemany("INSERT INTO t VALUES (?,?,?,?)", rows)
    want = con.execute("""
        WITH scored AS (SELECT * FROM t WHERE score IS NOT NULL),
        w AS (
          SELECT group_key, cand_id, text, score,
                 first_value(cand_id) OVER o AS c_id,
                 first_value(text) OVER o AS c_text,
                 first_value(score) OVER o AS c_score
          FROM scored
          WINDOW o AS (PARTITION BY group_key
                       ORDER BY score DESC, cand_id ASC
                       ROWS BETWEEN UNBOUNDED PRECEDING
                       AND UNBOUNDED FOLLOWING)
        )
        SELECT group_key, c_id, c_text, c_score, cand_id, text, score,
               c_score - score AS margin
        FROM w WHERE cand_id <> c_id AND c_score - score >= 0.0
    """).fetchall()
    twin = {
        (g, rid): (cid, ctext, rtext, round(m, 9))
        for g, cid, ctext, _cs, rid, rtext, _rs, m in want
    }
    assert twin == rest


def test_conversation_verdicts_rollup_and_duckdb_twin(spark):
    import duckdb

    from fineweb_legal_spark.operators.convfilter import (
        conversation_verdicts,
        filter_conversations,
    )

    rows = [
        ("c1", 0, True, None), ("c1", 1, True, None),
        ("c1", 2, False, "perplexity"), ("c1", 3, False, "duplicate"),
        # c2: exactly 1/10 kept — the 0.1-boundary case ceil() would break
        *[("c2", i, i == 0, None if i == 0 else "length") for i in range(10)],
        ("c3", 0, False, "lang"), ("c3", 1, False, "lang"),
        ("c4", 0, True, None),
    ]
    df = spark.createDataFrame(
        rows, "conv_id string, turn_idx int, keep boolean, reject_reason string"
    )
    got = {
        r["conv_id"]: (
            r["turns"], r["kept_turns"], r["keep_frac"],
            r["fatal_turns"], r["conv_keep"],
        )
        for r in conversation_verdicts(
            df, min_keep_frac=0.5, fatal_reasons=("duplicate",)
        ).collect()
    }
    assert got == {
        "c1": (4, 2, 0.5, 1, False),   # frac passes, fatal duplicate kills
        "c2": (10, 1, 0.1, 0, False),
        "c3": (2, 0, 0.0, 0, False),
        "c4": (1, 1, 1.0, 0, True),
    }
    # the 1/10 >= 0.1 boundary must keep (IEEE-exact division compare)
    b = {
        r["conv_id"]: r["conv_keep"]
        for r in conversation_verdicts(df, min_keep_frac=0.1).collect()
    }
    assert b == {"c1": True, "c2": True, "c3": False, "c4": True}

    kept = filter_conversations(
        df, min_keep_frac=0.5, fatal_reasons=("duplicate",)
    ).collect()
    assert {(r["conv_id"], r["turn_idx"]) for r in kept} == {("c4", 0)}
    audit = filter_conversations(df, min_keep_frac=0.5, kept_turns_only=False)
    assert {r["conv_id"] for r in audit.collect()} == {"c1", "c4"}

    import pytest as _pytest

    with _pytest.raises(ValueError):
        conversation_verdicts(df, min_keep_frac=1.5)

    con = duckdb.connect()
    con.execute(
        "CREATE TABLE v(conv_id VARCHAR, turn_idx INT, keep BOOLEAN,"
        " reject_reason VARCHAR)"
    )
    con.executemany("INSERT INTO v VALUES (?,?,?,?)", rows)
    want = con.execute("""
        SELECT conv_id, count(*) AS turns,
               sum(keep::BIGINT) AS kept_turns,
               round(sum(keep::BIGINT) / count(*), 6) AS keep_frac,
               sum(coalesce((reject_reason = 'duplicate')::BIGINT, 0))
                   AS fatal_turns,
               (sum(keep::BIGINT) / count(*) >= 0.5
                AND coalesce(sum((reject_reason = 'duplicate')::BIGINT), 0)
                    = 0) AS conv_keep
        FROM v GROUP BY conv_id
    """).fetchall()
    twin = {c: (t, k, f, ft, ck) for c, t, k, f, ft, ck in want}
    assert twin == got


def test_dsir_resample_prefers_target_like_docs(spark):
    # two disjoint trigram styles; target = style A. With long texts the
    # log-likelihood-ratio gap (hundreds of nats) dwarfs the Gumbel noise
    # (~+-5), so the top-k must be exactly the style-A population.
    from fineweb_legal_spark.operators.dsir import dsir_resample

    rows = []
    for i in range(200):
        style = "abcdefg " if i % 2 == 0 else "zyxwvut "
        rows.append((i, style * 40, "sA" if i % 2 == 0 else "sB"))
    d = spark.createDataFrame(rows, ["doc_id", "text", "source"])
    target = d.filter(F.col("doc_id") % 2 == 0).limit(20)
    sel = dsir_resample(spark, d, target, k=50).toPandas()
    assert len(sel) == 50
    assert set(sel.source) == {"sA"}
    # deterministic: identical selection on a re-run over a repartitioned
    # input (partitioning- and batching-independence of the float path)
    again = dsir_resample(spark, d.repartition(13), target, k=50).toPandas()
    assert sorted(sel.doc_id) == sorted(again.doc_id)


def test_dsir_keys_null_handling(spark):
    from fineweb_legal_spark.operators.dsir import dsir_keys, fit_dsir_diff

    d = spark.createDataFrame(
        [(1, "hello world"), (2, None), (None, "dropped")],
        ["doc_id", "text"],
    )
    diff = fit_dsir_diff(spark, d, d.filter(F.col("doc_id") == 1))
    got = dsir_keys(d, diff).toPandas()
    # null id dropped; null text -> finite pure-Gumbel key
    assert sorted(got.doc_id) == [1, 2]
    assert got.dsir_key.notna().all()


def test_kn_doc_perplexity_matches_independent_python(spark):
    # from-scratch dict-based interpolated-KN twin (no shared kernels,
    # no SQL) over a small corpus with a forced-unk vocabulary
    from collections import Counter

    from fineweb_legal_spark.operators.knlm import kn_doc_perplexity

    docs = [
        (1, "the cat sat on the mat"),
        (2, "the dog sat on the log"),
        (3, "a cat and a dog"),
        (4, "singleton"),
        (5, None),
        (6, "the cat sat"),
    ]
    V, D, UNK = 6, 0.75, "\x00"
    toks = {i: t.lower().split() for i, t in docs if t is not None}
    wc = Counter(w for ws in toks.values() for w in ws)
    vocab = set(
        w for w, _ in sorted(wc.items(), key=lambda kv: (-kv[1], kv[0]))[:V]
    )
    m = {i: [w if w in vocab else UNK for w in ws] for i, ws in toks.items()}
    bigrams = {i: list(zip(ws, ws[1:])) for i, ws in m.items()}
    c12 = Counter(b for bs in bigrams.values() for b in bs)
    c1 = Counter()
    n1p_left = Counter()
    n1p_right = Counter()
    for (w1, w2), c in c12.items():
        c1[w1] += c
        n1p_left[w1] += 1
        n1p_right[w2] += 1
    n1p_all = len(c12)

    def p(w1, w2):
        return (
            max(c12[(w1, w2)] - D, 0.0)
            + D * n1p_left[w1] * (n1p_right[w2] / n1p_all)
        ) / c1[w1]

    import math

    want = {}
    for i, _ in docs:
        bs = bigrams.get(i, [])
        if not bs:
            want[i] = 1.0
        else:
            want[i] = round(
                math.exp(-sum(math.log(p(*b)) for b in bs) / len(bs)), 4
            )

    d = spark.createDataFrame(docs, "doc_id long, text string")
    got = {
        r.doc_id: r.kn_ppl
        for r in kn_doc_perplexity(d, vocab_size=V, discount=D).collect()
    }
    assert got == want
    # sanity: real smoothing happened (not all 1.0), unk-folding engaged
    assert any(v != 1.0 for v in got.values())
    assert len(wc) > V


def test_compression_signals_match_independent_zlib(spark):
    import zlib

    from fineweb_legal_spark.operators.textql import (
        compression_signals,
        filter_compression,
    )

    prose = (
        "The appellate court reviewed the statutory framework governing "
        "maritime liens and concluded the district judge erred in part."
    )
    filler = "buy now " * 400
    blob = bytes(range(256)).hex()
    docs = [(1, prose), (2, filler), (3, blob), (4, None), (5, "")]
    df = spark.createDataFrame(docs, "doc_id long, text string")

    got = {
        r.doc_id: r.compression_ratio
        for r in compression_signals(df).collect()
    }
    for i, t in docs:
        if not t:
            assert got[i] is None, i
        else:
            b = t.encode("utf-8")
            assert got[i] == round(len(zlib.compress(b, 6)) / len(b), 6), i
    # the two tails are separable from prose by the default band
    flt = {
        r.doc_id: r.comp_reject_reason for r in filter_compression(df).collect()
    }
    assert flt[1] is None
    assert flt[2] == "comp_ratio_low"
    assert flt[4] is None and flt[5] is None
