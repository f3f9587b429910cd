"""Broadcastable model artifacts: hashed char-trigram language-ID +
char-trigram perplexity LM.

Stand-ins for fastText lid.176 and a KenLM n-gram model (north_rule), built
deterministically from the embedded phrase banks — no downloads. The scoring
functions are pure numpy over Arrow/pandas batches and are shared verbatim by
the single-node oracle and the Spark pandas UDFs, so engine/oracle parity is
exact by construction.

Reference analog for the lifecycle (load once per executor, score in
vectorized batches): scripts/model_inference_stage2_cuda.py:143-191,232-303.
Here "load once" = a Spark broadcast variable holding two numpy tables.
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np

from . import spec
from .corpus import LANG_SENTENCES

_HASH_SLOTS = 1 << spec.LANGID_HASH_BITS
_HASH_MASK = _HASH_SLOTS - 1


def trigram_hashes(text: str) -> np.ndarray:
    """Vectorized rolling polynomial hash of all char trigrams.

    Decodes codepoints via utf-32-le (fixed width -> alignment-safe for any
    unicode), then computes (c0*31^2 + c1*31 + c2) & mask with numpy slicing.
    Deterministic across processes (no PYTHONHASHSEED dependence).
    """
    cp = np.frombuffer(text.encode("utf-32-le"), dtype=np.uint32).astype(np.int64)
    if cp.size < 3:
        return np.empty(0, dtype=np.int64)
    return (cp[:-2] * 961 + cp[1:-1] * 31 + cp[2:]) & _HASH_MASK


def _batch_trigrams(
    texts: list[str], prefix: int
) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """All trigram hashes of a batch in one vectorized pass.

    Returns (hashes, segment_starts, per_row_counts): rows are concatenated
    into one codepoint buffer; trigrams that would straddle a row boundary
    are dropped by index arithmetic. ``segment_starts`` indexes `hashes`
    once per row with count>0 (for np.add.reduceat).
    """
    encoded = [t[:prefix].lower().encode("utf-32-le") for t in texts]
    lens = np.fromiter((len(e) >> 2 for e in encoded), dtype=np.int64, count=len(texts))
    counts = np.maximum(lens - 2, 0)
    total = int(counts.sum())
    if total == 0:
        return np.empty(0, np.int64), np.empty(0, np.int64), counts
    cp = np.frombuffer(b"".join(encoded), dtype=np.uint32).astype(np.int64)
    tri_all = (cp[:-2] * 961 + cp[1:-1] * 31 + cp[2:]) & _HASH_MASK
    # a trigram starting at global position p is valid iff it does not
    # straddle a row boundary: exactly the last two positions before each
    # row end are invalid (positions falling in earlier rows are already
    # invalid for the same reason, so the clip is safe)
    ends = np.cumsum(lens)
    invalid = np.concatenate((ends - 1, ends - 2))
    invalid = invalid[(invalid >= 0) & (invalid < tri_all.size)]
    valid = np.ones(tri_all.size, dtype=bool)
    valid[invalid] = False
    h = tri_all[valid]
    keep_rows = counts > 0
    starts = np.concatenate(([0], np.cumsum(counts[keep_rows])[:-1]))
    return h, starts, counts


def logprob_table(counts: np.ndarray) -> np.ndarray:
    """Add-0.5-smoothed log-probs over the hash slots: log((c + 0.5) /
    (total + 0.5·slots)). The one smoothing of every trigram table, the
    embedded ones and the trained ones (operators/lm.py) alike."""
    c = counts.astype(np.float64)
    return np.log((c + 0.5) / (c.sum() + 0.5 * _HASH_SLOTS))


def trigram_logprob_sums(
    texts: list[str | None], tables, prefix: int
) -> tuple[np.ndarray, np.ndarray]:
    """The one scoring kernel over hashed char-trigram log-prob tables.

    ``tables`` is a sequence of 1-D tables (the rows of a 2-D array count).
    Returns ``(sums, counts)``: ``counts[i]`` is row i's trigram count, and
    ``sums[k, j]`` is table k's log-prob sum over the j-th row that has a
    trigram (rows without one are compacted out). None reads as "".

    One ``_batch_trigrams`` pass, then per table a 1-D gather plus
    ``np.add.reduceat``: sequential float64 accumulation within a row, so
    the oracle, the pipeline and every Spark scorer share the exact bits
    whatever the batching."""
    if None in texts:
        texts = ["" if t is None else t for t in texts]
    h, starts, counts = _batch_trigrams(texts, prefix)
    sums = np.empty((len(tables), starts.size))
    for k, table in enumerate(tables):
        # bound to a name so the last gather is freed on return, not
        # between the reduceat and the caller's next allocation: that free
        # let glibc trim and re-fault its heap on every call (+0.8 us/row
        # on perplexity over 10k generator texts, 4 vCPU, default malloc
        # settings)
        vals = table[h]
        sums[k] = np.add.reduceat(vals, starts)
    return sums, counts


def predict_langs(
    texts: list[str | None], tables, langs, fallback: str, prefix: int
) -> np.ndarray:
    """Object array of the language whose table sums highest per row
    (the first on a tie); ``fallback`` for a row without a trigram."""
    sums, counts = trigram_logprob_sums(texts, tables, prefix)
    out = np.full(counts.size, fallback, dtype=object)
    out[counts > 0] = np.asarray(langs, dtype=object)[np.argmax(sums, axis=0)]
    return out


def perplexities(texts: list[str | None], table: np.ndarray, prefix: int) -> np.ndarray:
    """exp(-mean trigram log-prob) per row; 1.0 for a row without a
    trigram."""
    sums, counts = trigram_logprob_sums(texts, (table,), prefix)
    out = np.ones(counts.size, dtype=np.float64)
    nz = counts > 0
    out[nz] = np.exp(-(sums[0] / counts[nz]))
    return out


@dataclass(frozen=True)
class ModelArtifacts:
    """What gets broadcast to executors: two dense log-prob tables.

    Stored float64 and LANG-major (langs, slots), so batch scoring runs
    one 1-D gather + reduceat per language over a 513 KB cache-resident
    row. The former slot-major layout's single 2-D gather materialized a
    (trigrams x langs) temp — ~390 MB per 10k-row Arrow batch — and on
    this memory-commit-pathological host the per-language form measured
    2.3x faster with BITWISE-identical sums (same sequential accumulation
    order per language, so oracle parity and goldens are unchanged)."""

    langid_logprob: np.ndarray  # float64 [n_langs, 2^16]
    ppl_logprob: np.ndarray  # float64 [2^16]
    langs: tuple[str, ...]

    def predict_lang(self, text: str) -> str:
        return self.predict_lang_batch([text])[0]

    def perplexity(self, text: str) -> float:
        return float(self.perplexity_batch([text])[0])

    def predict_lang_batch(self, texts: list[str]) -> list[str]:
        """Vectorized language-ID over a whole batch (the oracle calls
        THIS function too, so float ordering is shared by construction)."""
        return predict_langs(
            texts,
            self.langid_logprob,
            self.langs,
            spec.LANGID_KEEP_LANG,
            spec.LANGID_PREFIX_CHARS,
        ).tolist()

    def perplexity_batch(self, texts: list[str]) -> np.ndarray:
        return perplexities(texts, self.ppl_logprob, spec.PPL_PREFIX_CHARS)

    @staticmethod
    def ppl_bucket(ppl: float) -> int:
        return min(int(ppl / spec.PPL_BUCKET_WIDTH), spec.PPL_BUCKET_MAX)


def _counts_for(sentences: tuple[str, ...]) -> np.ndarray:
    counts = np.zeros(_HASH_SLOTS, dtype=np.float64)
    for s in sentences:
        h = trigram_hashes(s.lower())
        np.add.at(counts, h, 1.0)
    return counts


def build_artifacts() -> ModelArtifacts:
    """Deterministic build (pure function of the embedded corpus)."""
    langs = tuple(spec.LANGID_LANGS)
    return ModelArtifacts(
        langid_logprob=np.stack(
            [logprob_table(_counts_for(LANG_SENTENCES[lang])) for lang in langs]
        ),
        ppl_logprob=logprob_table(_counts_for(LANG_SENTENCES["en"])),
        langs=langs,
    )


_CACHED: ModelArtifacts | None = None


def get_artifacts() -> ModelArtifacts:
    global _CACHED
    if _CACHED is None:
        _CACHED = build_artifacts()
    return _CACHED
