"""Determinism + sanity of the broadcastable model artifacts."""

from __future__ import annotations

import numpy as np

from fineweb_legal_spark import spec
from fineweb_legal_spark.artifacts import build_artifacts, trigram_hashes
from fineweb_legal_spark.corpus import LANG_SENTENCES


def test_build_is_deterministic():
    a, b = build_artifacts(), build_artifacts()
    assert np.array_equal(a.langid_logprob, b.langid_logprob)
    assert np.array_equal(a.ppl_logprob, b.ppl_logprob)


def test_langid_bank_accuracy_is_perfect():
    a = build_artifacts()
    for lang, sents in LANG_SENTENCES.items():
        for s in sents:
            assert a.predict_lang(s) == lang


def test_ppl_separates_english_from_rest():
    a = build_artifacts()
    en = max(a.perplexity(s) for s in LANG_SENTENCES["en"])
    de = min(a.perplexity(s) for s in LANG_SENTENCES["de"])
    assert en <= spec.PPL_MAX < de


def test_trigram_hashes_unicode_and_short():
    assert trigram_hashes("ab").size == 0
    h = trigram_hashes("héllo 漢字!")
    assert h.size == len("héllo 漢字!") - 2
    assert (h >= 0).all() and (h < (1 << spec.LANGID_HASH_BITS)).all()


def _py_trigrams(text: str, prefix: int) -> list[int]:
    """Independent pure-Python re-statement of the trigram hash (no numpy,
    no shared code): (c0*31^2 + c1*31 + c2) mod 2^LANGID_HASH_BITS over the
    lowercased prefix."""
    t = text[:prefix].lower()
    mask = (1 << spec.LANGID_HASH_BITS) - 1
    return [
        (ord(t[i]) * 961 + ord(t[i + 1]) * 31 + ord(t[i + 2])) & mask
        for i in range(len(t) - 2)
    ]


def test_scoring_matches_independent_python_reimplementation():
    """Model-semantics spot check independent of the vectorized kernels:
    language-ID and perplexity recomputed with plain Python loops over the
    same log-prob tables must equal the batch kernels exactly."""
    import math

    a = build_artifacts()
    samples = [
        "The quick brown fox jumps over the lazy dog near the river bank.",
        "Der schnelle braune Fuchs springt über den faulen Hund am Fluss.",
        "El rápido zorro marrón salta sobre el perro perezoso del río.",
        "xq zv 漢字 7#!",
    ]
    for s in samples:
        tri = _py_trigrams(s, spec.LANGID_PREFIX_CHARS)
        if tri:
            sums = [
                sum(float(a.langid_logprob[i][h]) for h in tri)
                for i in range(len(a.langs))
            ]
            expect_lang = a.langs[sums.index(max(sums))]
        else:
            expect_lang = spec.LANGID_KEEP_LANG
        assert a.predict_lang(s) == expect_lang, s

        tri_p = _py_trigrams(s, spec.PPL_PREFIX_CHARS)
        if tri_p:
            lp = sum(float(a.ppl_logprob[h]) for h in tri_p)
            expect_ppl = math.exp(-(lp / len(tri_p)))
        else:
            expect_ppl = 1.0
        assert abs(a.perplexity(s) - expect_ppl) < 1e-9, s


def test_ppl_bucket_clamps():
    a = build_artifacts()
    assert a.ppl_bucket(0.0) == 0
    assert a.ppl_bucket(1e9) == spec.PPL_BUCKET_MAX


# --- reference twin of the pre-refactor scorers --------------------------
# The per-language gather, argmax and perplexity code each scorer carried
# before the one kernel (artifacts.trigram_logprob_sums) replaced them,
# kept verbatim as the reference the kernel must match bit for bit.


def _twin_logprob_table(c: np.ndarray) -> np.ndarray:
    from fineweb_legal_spark.artifacts import _HASH_SLOTS

    return np.log((c + 0.5) / (c.sum() + 0.5 * _HASH_SLOTS))


def _twin_langid(texts, tables, langs, fallback, prefix):
    from fineweb_legal_spark.artifacts import _batch_trigrams

    h, starts, counts = _batch_trigrams(texts, prefix)
    out = [fallback] * len(texts)
    if h.size == 0:
        return out
    sums = np.empty((len(langs), starts.size))
    for i in range(len(langs)):
        sums[i] = np.add.reduceat(tables[i][h], starts)
    best = np.argmax(sums, axis=0)
    j = 0
    for i, c in enumerate(counts):
        if c > 0:
            out[i] = langs[int(best[j])]
            j += 1
    return out


def _twin_perplexity(texts, table, prefix):
    from fineweb_legal_spark.artifacts import _batch_trigrams

    h, starts, counts = _batch_trigrams(texts, prefix)
    out = np.ones(len(texts), dtype=np.float64)
    if h.size == 0:
        return out
    sums = np.add.reduceat(table[h], starts)
    nz = counts[counts > 0]
    out[counts > 0] = np.exp(-(sums / nz))
    return out


def _twin_logw(texts, table, prefix):
    from fineweb_legal_spark.artifacts import _batch_trigrams

    h, starts, counts = _batch_trigrams(texts, prefix)
    logw = np.zeros(len(texts), dtype=np.float64)
    if h.size:
        logw[counts > 0] = np.add.reduceat(table[h], starts)
    return logw


def _random_texts(seed: int, n: int) -> list[str | None]:
    """None, "", sub-trigram, longer than either prefix, mixed case,
    accented, CJK, non-BMP (emoji, math letters) and newlines."""
    import random

    rng = random.Random(seed)
    alphabet = "abcdefghijklmnop XYZ éèüß 漢字法 \n\t🙂𝔘𝔙 .,;"
    words = [s for s in LANG_SENTENCES["en"][0].split()] + ["der", "el", "les"]
    out: list[str | None] = [None, "", "a", "ab", "abc", "🙂🙂", "🙂🙂🙂"]
    for _ in range(n):
        k = rng.choice([0, 1, 2, 3, 5, 40, 300, 1200, 2500])
        if rng.random() < 0.5:
            t = "".join(rng.choice(alphabet) for _ in range(k))
        else:
            t = " ".join(rng.choice(words) for _ in range(k // 4))
        out.append(None if rng.random() < 0.05 else t)
    rng.shuffle(out)
    return out


def test_kernel_matches_reference_twin_bit_for_bit():
    """Language-ID, perplexity and the DSIR log-weight from the one
    kernel == the pre-refactor per-scorer code, exactly (==, not
    approx), for the embedded tables and for a trained table; and the
    build_artifacts() tables == the twin's smoothing."""
    from fineweb_legal_spark.artifacts import (
        _HASH_SLOTS,
        _batch_trigrams,
        _counts_for,
        logprob_table,
        perplexities,
        predict_langs,
        trigram_logprob_sums,
    )
    from fineweb_legal_spark.operators.lm import logprob_table as lm_table

    assert lm_table is logprob_table
    a = build_artifacts()
    twin_lid = np.stack(
        [_twin_logprob_table(_counts_for(LANG_SENTENCES[lg])) for lg in a.langs]
    )
    assert np.array_equal(a.langid_logprob, twin_lid)
    assert np.array_equal(
        a.ppl_logprob, _twin_logprob_table(_counts_for(LANG_SENTENCES["en"]))
    )

    texts = _random_texts(7, 600)
    filled = ["" if t is None else t for t in texts]
    present = [t for t in texts if t is not None]
    lp, pp = spec.LANGID_PREFIX_CHARS, spec.PPL_PREFIX_CHARS

    # embedded tables, through the ModelArtifacts API the oracle uses
    assert a.predict_lang_batch(present) == _twin_langid(
        present, a.langid_logprob, a.langs, spec.LANGID_KEEP_LANG, lp
    )
    assert np.array_equal(
        a.perplexity_batch(present), _twin_perplexity(present, a.ppl_logprob, pp)
    )

    # a trained table: three "languages" fitted on disjoint random texts,
    # integer counts smoothed by both formulas
    train = [t for t in _random_texts(8, 90) if t]
    counts = [
        np.bincount(_batch_trigrams(train[k::3], pp)[0], minlength=_HASH_SLOTS)
        for k in range(3)
    ]
    trained = np.stack([logprob_table(c) for c in counts])
    assert np.array_equal(
        trained, np.stack([_twin_logprob_table(c.astype(np.float64)) for c in counts])
    )

    for tables, langs in ((a.langid_logprob, a.langs), (trained, ("x", "y", "z"))):
        got = predict_langs(texts, tables, langs, langs[-1], lp)
        assert got.tolist() == _twin_langid(filled, tables, langs, langs[-1], lp)
        for table in tables:
            assert np.array_equal(
                perplexities(texts, table, pp), _twin_perplexity(filled, table, pp)
            )
            sums, n = trigram_logprob_sums(texts, (table,), pp)
            logw = np.zeros(n.size)
            logw[n > 0] = sums[0]
            assert np.array_equal(logw, _twin_logw(filled, table, pp))
    # the DSIR table is a log-prob difference
    diff = trained[0] - trained[1]
    sums, n = trigram_logprob_sums(texts, (diff,), pp)
    logw = np.zeros(n.size)
    logw[n > 0] = sums[0]
    assert np.array_equal(logw, _twin_logw(filled, diff, pp))
