"""Property-based tests (hypothesis) over the PURE kernels.

These exercise the deterministic Python/numpy kernels that the Spark
operators wrap — no SparkSession, so the suite runs in seconds and can
afford hundreds of randomized examples per property. Each property is
checked against an independent naive reference implementation written
here from the operator's documented contract (not by importing the
kernel's own helper twice), so a kernel bug cannot self-certify.

Covered contracts:
- decontam/spandedup gram hashing: Horner rolling hash == naive per-gram
  recomputation; distinct view == sorted unique of the positional stream.
- packing: greedy chunker partitions every conversation exactly, respects
  the token budget (singleton-oversize excepted), and is greedy-maximal.
- mixture sampling: the md5-prefix threshold is monotone in rate, so a
  row kept at rate r stays kept at every r' >= r (the contract that makes
  downsampling reproducible across mixture revisions); rate 1.0 keeps
  the "ffffffff" corner.
- PII pseudonymization: deterministic, identity-stable across turns,
  first-occurrence indexing, and a no-op on text with no candidate spans.
- ascii_words tokenizer: exactly the oracle's ASCII-whitespace boundary.
"""

from __future__ import annotations

import re
import zlib

import numpy as np
import pandas as pd
import pytest

hyp = pytest.importorskip("hypothesis")
from hypothesis import given, settings  # noqa: E402
from hypothesis import strategies as st  # noqa: E402

from fineweb_legal_spark.operators.decontam import (  # noqa: E402
    ascii_words,
    rolling_gram_hash_stream,
)
from fineweb_legal_spark.operators.mixture import (  # noqa: E402
    HEX_SPACE,
    rate_threshold_hex,
)
from fineweb_legal_spark.operators.packing import _pack_group  # noqa: E402
from fineweb_legal_spark.operators.pseudonymize import (  # noqa: E402
    pseudonymize_conversation,
)

# ---------------------------------------------------------------- grams

_BASE = 1099511628211  # documented kernel base (FNV prime), mod 2^64

words_st = st.lists(
    st.text(
        alphabet=st.characters(codec="utf-8", exclude_categories=("Cs",)),
        min_size=1,
        max_size=8,
    ),
    max_size=40,
)


def _naive_gram_hashes(words: list[str], n: int) -> list[int]:
    """Reference: per-gram Horner over word CRCs, plain Python ints."""
    out = []
    for i in range(len(words) - n + 1):
        h = 0
        for w in words[i : i + n]:
            h = (h * _BASE + zlib.crc32(w.encode("utf-8"))) % (1 << 64)
        out.append(h)
    return out


@settings(max_examples=300, deadline=None)
@given(words_st, st.integers(min_value=1, max_value=6))
def test_rolling_gram_hash_matches_naive(words, n):
    got = rolling_gram_hash_stream(words, n)
    want = _naive_gram_hashes(words, n)
    assert got.dtype == np.uint64
    assert [int(x) for x in got] == want


# -------------------------------------------------------------- packing

toks_st = st.lists(st.integers(min_value=0, max_value=50), min_size=1, max_size=60)


def _naive_greedy_chunks(toks: list[int], budget: int) -> list[tuple[int, int]]:
    """Reference per-turn greedy scan: (start, end) inclusive indices."""
    chunks = []
    i = 0
    while i < len(toks):
        j = i
        total = toks[i]
        while j + 1 < len(toks) and total + toks[j + 1] <= budget:
            j += 1
            total += toks[j]
        chunks.append((i, j))
        i = j + 1
    return chunks


@settings(max_examples=300, deadline=None)
@given(toks_st, st.integers(min_value=1, max_value=80))
def test_pack_group_matches_naive_greedy(toks, budget):
    pdf = pd.DataFrame(
        {
            "conv_id": ["c"] * len(toks),
            "turn_idx": np.arange(len(toks), dtype="int32"),
            "tok": np.array(toks, dtype="int64"),
        }
    )
    out = _pack_group(budget)(pdf)
    want = _naive_greedy_chunks(toks, budget)
    got = list(zip(out["first_turn"].tolist(), out["last_turn"].tolist()))
    assert got == want
    # partition exactness: chunks tile [0, n) in order with no gaps
    assert out["chunk_idx"].tolist() == list(range(len(want)))
    assert int(out["n_turns"].sum()) == len(toks)
    for (s, e), tokens, n_turns in zip(
        want, out["tokens"].tolist(), out["n_turns"].tolist()
    ):
        assert n_turns == e - s + 1
        assert tokens == sum(toks[s : e + 1])
        # budget respected unless a single oversized turn forced a singleton
        assert tokens <= budget or n_turns == 1


# -------------------------------------------------------------- mixture

rate_st = st.one_of(
    st.floats(min_value=0.0, max_value=1.0, allow_nan=False),
    st.sampled_from([0.0, 1.0, 0.5, 1.0 - 2**-33]),
)


@settings(max_examples=300, deadline=None)
@given(rate_st, rate_st)
def test_mixture_threshold_monotone_in_rate(r1, r2):
    lo, hi = sorted((r1, r2))
    # "g" > every 8-hex prefix, so plain string compare is the keep order
    assert rate_threshold_hex(lo) <= rate_threshold_hex(hi)


@settings(max_examples=300, deadline=None)
@given(rate_st, rate_st, st.integers(min_value=0, max_value=HEX_SPACE - 1))
def test_mixture_keep_set_nested_across_rates(r1, r2, prefix_int):
    """A row kept at the lower rate is kept at every higher rate — the
    nesting that makes mixture revisions reproducible supersets."""
    lo, hi = sorted((r1, r2))
    prefix = format(prefix_int, "08x")
    if prefix < rate_threshold_hex(lo):
        assert prefix < rate_threshold_hex(hi)


def test_mixture_rate_one_keeps_ffffffff_corner():
    assert "ffffffff" < rate_threshold_hex(1.0)
    assert rate_threshold_hex(0.0) == "00000000"  # keeps nothing


@settings(max_examples=200, deadline=None)
@given(st.floats(min_value=0.0, max_value=1.0, allow_nan=False))
def test_mixture_kept_fraction_floor_exact(rate):
    """Kept fraction of the 32-bit key space is exactly floor(r*16^8)/16^8
    for r < 1 (never over-samples), and exactly 1 at r = 1."""
    thr = rate_threshold_hex(rate)
    kept = HEX_SPACE if thr == "g" else int(thr, 16)
    if rate >= 1.0:
        assert kept == HEX_SPACE
    else:
        assert kept == min(int(rate * HEX_SPACE), HEX_SPACE - 1)
        assert kept <= rate * HEX_SPACE


# ------------------------------------------------------- pseudonymize

_EMAILISH = st.sampled_from(
    ["ann@ex.com", "Bob@Ex.com", "c.d@firm.org", "z9@a.co"]
)
_SSNISH = st.sampled_from(["123-45-6789", "987-65-4321", "123456789"])
_PLAIN = st.text(
    alphabet=st.characters(min_codepoint=97, max_codepoint=122),
    max_size=12,
)

turn_st = st.one_of(
    st.none(),
    _PLAIN,
    st.tuples(_PLAIN, _EMAILISH, _PLAIN).map(" ".join),
    st.tuples(_EMAILISH, _SSNISH).map(lambda t: f"{t[0]} ssn {t[1]}"),
    st.tuples(_EMAILISH, _EMAILISH).map(" and ".join),
)


@settings(max_examples=300, deadline=None)
@given(st.lists(turn_st, max_size=8))
def test_pseudonymize_deterministic_and_shape(turns):
    out1, counts1 = pseudonymize_conversation(list(turns))
    out2, counts2 = pseudonymize_conversation(list(turns))
    assert out1 == out2 and counts1 == counts2
    assert len(out1) == len(turns) and len(counts1) == len(turns)
    for t, o, c in zip(turns, out1, counts1):
        assert (o is None) == (t is None)
        assert c >= 0


@settings(max_examples=300, deadline=None)
@given(st.lists(turn_st, max_size=8))
def test_pseudonymize_identity_stable_and_first_occurrence_indexed(turns):
    out, _ = pseudonymize_conversation(list(turns))
    text = " \n ".join(t for t in out if t is not None)
    for label in ("EMAIL", "SSN", "PHONE"):
        ids = [int(m) for m in re.findall(rf"\[{label}_(\d+)\]", text)]
        # indices are assigned 1..k in first-occurrence order: the first
        # time index i appears, every j < i has already appeared
        seen: set[int] = set()
        for i in ids:
            if i not in seen:
                assert set(range(1, i)) <= seen
                seen.add(i)


@settings(max_examples=200, deadline=None)
@given(st.lists(st.one_of(st.none(), _PLAIN), max_size=8))
def test_pseudonymize_noop_on_clean_text(turns):
    """No '@' and no 3-digit run -> byte-identical output, zero counts."""
    out, counts = pseudonymize_conversation(list(turns))
    assert out == list(turns)
    assert counts == [0] * len(turns)


def test_pseudonymize_same_identity_same_placeholder_across_turns():
    out, counts = pseudonymize_conversation(
        ["mail ann@ex.com", "again ANN@EX.COM", "other bob@ex.com"]
    )
    assert out[0] == "mail [EMAIL_1]"
    assert out[1] == "again [EMAIL_1]"  # case-insensitive identity
    assert out[2] == "other [EMAIL_2]"
    assert counts == [1, 1, 1]


# ------------------------------------------- extended PII (IP / card)


def _check_digit(body: str) -> str:
    """Reference Luhn check digit for a digit string (naive spec form)."""
    total = 0
    for i, ch in enumerate(reversed(body)):
        d = int(ch)
        if i % 2 == 0:  # doubling starts at the digit left of the check
            d *= 2
            if d > 9:
                d -= 9
        total += d
    return str((10 - total % 10) % 10)


@settings(max_examples=200, deadline=None)
@given(
    st.text(alphabet="0123456789", min_size=12, max_size=18),
    st.sampled_from(["", " ", "-"]),
)
def test_extended_ccn_luhn_gate(body, sep):
    """A Luhn-valid card is pseudonymized; flipping its check digit
    leaves the text byte-identical (validator rejects, no index burned)."""
    from fineweb_legal_spark.operators.pseudonymize import (
        pseudonymize_conversation,
    )

    good = body + _check_digit(body)
    bad = body + str((int(_check_digit(body)) + 1) % 10)
    fmt = sep.join(good[i : i + 4] for i in range(0, len(good), 4))
    out, counts = pseudonymize_conversation([f"card {fmt} ok"], extended=True)
    assert out[0] == "card [CCN_1] ok" and counts[0] == 1
    fmt_bad = sep.join(bad[i : i + 4] for i in range(0, len(bad), 4))
    out, counts = pseudonymize_conversation([f"card {fmt_bad} ok"], extended=True)
    assert out[0] == f"card {fmt_bad} ok" and counts[0] == 0


def test_extended_ccn_identity_across_formats():
    out, counts = pseudonymize_conversation(
        [
            "pay 4111 1111 1111 1111 now",
            "again 4111-1111-1111-1111",
            "other 5500005555555559",
        ],
        extended=True,
    )
    assert out[0] == "pay [CCN_1] now"
    assert out[1] == "again [CCN_1]"  # separators normalize to one identity
    assert out[2] == "other [CCN_2]"
    assert counts == [1, 1, 1]


def test_extended_ip_stage():
    out, counts = pseudonymize_conversation(
        [
            "from 10.0.0.1 and 192.168.1.7",
            "10.0.0.1 again",
            "version 1.2.3.4.5 and 999.1.1.1 stay",
        ],
        extended=True,
    )
    assert out[0] == "from [IP_1] and [IP_2]"
    assert out[1] == "[IP_1] again"
    # 5-part version strings and out-of-range octets are not addresses
    assert out[2] == "version 1.2.3.4.5 and 999.1.1.1 stay"
    assert counts == [2, 1, 0]


def test_extended_card_not_nibbled_by_phone_and_default_untouched():
    text = "call 555-123-4567, card 4111-1111-1111-1111"
    out, _ = pseudonymize_conversation([text], extended=True)
    assert out[0] == "call [PHONE_1], card [CCN_1]"
    # default path: reference-cascade parity — card and IP text untouched
    out, counts = pseudonymize_conversation(
        ["card 4111-1111-1111-1111 ip 10.0.0.1"], extended=False
    )
    assert out[0] == "card 4111-1111-1111-1111 ip 10.0.0.1"
    assert counts == [0]


# ------------------------------------------------------------ tokenizer

_WS_RE = re.compile(r"[ \t\n\r\f\x0b]+")


@settings(max_examples=300, deadline=None)
@given(
    st.text(
        alphabet=st.characters(codec="utf-8", exclude_categories=("Cs",)),
        max_size=80,
    )
)
def test_ascii_words_matches_oracle_boundary(text):
    want = [w for w in _WS_RE.split(text.lower()) if w]
    assert ascii_words(text) == want


# ---------------------------------------------------------------------------
# distributed prefix-sum kernels (sources/shards._cumshard_fn,
# operators/seqpack._piece_fn): the segmented running sum must equal the
# naive per-bucket cumulative sum for ANY chop of the sorted stream into
# Arrow batches — the cross-batch bucket-boundary carry is exactly what
# the 2M-row corruption hid from the small fixtures.
# ---------------------------------------------------------------------------


@st.composite
def _bucketed_stream(draw):
    """A sorted (pid, tok) stream plus a random batch chop of it."""
    n = draw(st.integers(min_value=1, max_value=60))
    pids = sorted(draw(st.lists(st.integers(0, 6), min_size=n, max_size=n)))
    toks = draw(
        st.lists(st.integers(1, 9), min_size=n, max_size=n)
    )
    # random chop points -> list of batch lengths covering the stream
    cuts = sorted(draw(st.sets(st.integers(1, n - 1), max_size=5))) if n > 1 else []
    bounds = [0] + cuts + [n]
    return pids, toks, [(bounds[i], bounds[i + 1]) for i in range(len(bounds) - 1)]


@given(_bucketed_stream())
@settings(max_examples=200, deadline=None)
def test_cumshard_segmented_carry_matches_naive(stream):
    from fineweb_legal_spark.sources.shards import _cumshard_fn

    pids, toks, batches = stream
    offs = {p: 1000 * p for p in set(pids)}  # arbitrary distinct bucket offsets
    budget = 7

    def gen():
        for a, b in batches:
            yield pd.DataFrame(
                {
                    "doc_id": list(range(a, b)),
                    "tok": toks[a:b],
                    "_pid": pids[a:b],
                    "_off": [offs[p] for p in pids[a:b]],
                }
            )

    out = pd.concat(list(_cumshard_fn(budget)(gen())), ignore_index=True)
    # naive reference: per-pid running sum over the unchopped stream
    run: dict[int, int] = {}
    want_start, want_shard = [], []
    for p, t in zip(pids, toks):
        s = offs[p] + run.get(p, 0)
        want_start.append(s)
        want_shard.append(s // budget)
        run[p] = run.get(p, 0) + t
    assert list(out["start_tok"]) == want_start
    assert list(out["shard_id"]) == want_shard
    assert list(out["doc_id"]) == list(range(len(pids)))


@given(_bucketed_stream(), st.integers(2, 9))
@settings(max_examples=200, deadline=None)
def test_piece_fn_segmented_carry_matches_naive(stream, seq_len):
    from fineweb_legal_spark.operators.seqpack import _piece_fn

    pids, toks, batches = stream
    eod = -1
    # per-row token arrays: lengths tok-1 plus the EOD the emitter appends
    ids = [[j % 5 for j in range(t - 1)] for t in toks]
    offs = {p: 100 * p for p in set(pids)}

    def gen():
        for a, b in batches:
            yield pd.DataFrame(
                {
                    "ids": ids[a:b],
                    "_pid": pids[a:b],
                    "_off": [offs[p] for p in pids[a:b]],
                }
            )

    out = pd.concat(list(_piece_fn(seq_len, eod)(gen())), ignore_index=True)
    # naive reference: rebuild every bucket's stream, chunk it globally
    got: dict[int, dict[int, list]] = {}
    for _, r in out.iterrows():
        got.setdefault(int(r["seq_id"]), {})[int(r["start"])] = list(r["piece"])
    want: dict[int, dict[int, list]] = {}
    run: dict[int, int] = {}
    for p, arr in zip(pids, ids):
        toks_row = list(arr) + [eod]
        g = offs[p] + run.get(p, 0)
        run[p] = run.get(p, 0) + len(toks_row)
        a = 0
        while a < len(toks_row):
            seq = (g + a) // seq_len
            take = min(len(toks_row) - a, (seq + 1) * seq_len - (g + a))
            want.setdefault(seq, {})[(g + a) - seq * seq_len] = toks_row[a : a + take]
            a += take
    assert got == want
