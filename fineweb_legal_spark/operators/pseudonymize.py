"""Stable PII pseudonymization: indexed placeholders with referential
integrity.

The scrubber (`scrub.py`) masks every PII hit with one fixed token —
correct for the reference contract (stream_filter_stage1.py's scrub
stage) but lossy for TRANSCRIPT training data: a conversation where the
user gives an email in turn 2 and the assistant repeats it in turn 9
collapses both into ``[EMAIL]``, destroying the co-reference a model
must learn to track. This operator replaces each DISTINCT PII value
with a stable per-conversation indexed placeholder (``[EMAIL_1]``,
``[SSN_2]``, ``[PHONE_1]``), numbered by first appearance in turn
order, so the rewritten transcript preserves who-said-what-to-whom
while leaking nothing. No reference analog — a transcript-corpus op
(the reference is a single-document pipeline; its scrub is the fixed
token, `stream_filter_stage1.py:230-260`-adjacent semantics live in
`scrub.py`).

Identity is NORMALIZED per type, so format variants of the same value
share one index:

- EMAIL: the matched text lowercased (addresses are case-insensitive in
  practice; display case varies across turns);
- SSN: digits only — ``123-45-6789`` and a bare ``123456789`` run are
  the same number;
- PHONE: digits only, with a single leading US country code ``1``
  dropped when 11 digits — ``(555) 123-4567``, ``555.123.4567`` and
  ``+1 555 123 4567`` share one index.

Pattern order and the necessary-condition gates mirror `scrub.py`
exactly (EMAIL -> SSN -> SSN9 -> PHONE, each stage scanning the
previous stage's output), so a value the scrubber would mask is a value
this op pseudonymizes — same Python `re` engine on both the Spark side
and the oracle twin (the repo-wide policy: JVM regexp dialects drift on
the lookaround guards). Profanity is intentionally NOT pseudonymized —
it has no identity to preserve; compose with `scrub_series` if masking
is also wanted.

Scale shape (10^12 turns): numbering is per-conversation cross-turn
state, so the kernel needs every turn of a conversation co-located —
ONE hash exchange on conv_id (the partitioning the pipeline's
conv-stats stage already uses; on a conv_id-bucketed Iceberg table it
becomes a storage-partitioned zero-exchange pass), a sort of each
partition on (conv_id, turn_idx), then one mapInArrow pass that walks
each Arrow batch's runs of one conv_id and calls the kernel once per
conversation: linear in characters, with no pandas frame built per
conversation (applyInPandas built one per group, and that glue cost
more than the kernel). The giant-conversation trade is the documented
one shared with repairs/packing: a 10^8-turn conversation lands on one
task but costs O(chars); the skew-robust alternative (extract match stream ->
window-number first appearances -> join mapping back -> rebuild) costs
two extra text-free shuffles plus a per-turn rebuild join and only wins
when single conversations exceed a task's memory — not worth the
default.
"""

from __future__ import annotations

import re
from collections.abc import Iterator

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .. import spec

_ANY_3_DIGITS = re.compile(r"\d\d\d")
_NON_DIGIT = re.compile(r"\D")
_IP_GATE = re.compile(r"\d\.\d")
_CCN_GATE = re.compile(r"\d{3}|\d[ -]\d[ -]\d")

# Extended-PII patterns (beyond the reference scrub's EMAIL/SSN/PHONE —
# opt-in via ``extended=True`` so the default path stays byte-identical
# to the reference cascade). IPv4: octet-bounded dotted quad, digit/dot
# guards reject version-string tails like 1.2.3.4.5. Card: 13-19 digits
# with optional single space/dash separators, digit/dash guards against
# partial runs; a candidate only becomes a card if Luhn-valid, else the
# text is left untouched (ISBNs, order ids, and timestamps fail Luhn
# 90% of the time, and a non-card false positive is a rewrite a
# training corpus never gets back).
_OCTET = r"(?:25[0-5]|2[0-4]\d|1\d\d|[1-9]?\d)"
IP_RE = re.compile(r"(?<![\d.])" + _OCTET + r"(?:\." + _OCTET + r"){3}(?![\d.])")
CCN_RE = re.compile(r"(?<![\d-])\d(?:[ -]?\d){12,18}(?![\d-])")


def _email_key(v: str) -> str:
    return v.lower()


def _digits_key(v: str) -> str:
    return _NON_DIGIT.sub("", v)


def _phone_key(v: str) -> str:
    d = _NON_DIGIT.sub("", v)
    if len(d) == 11 and d.startswith("1"):
        d = d[1:]
    return d


def _ip_key(v: str) -> str:
    # leading zeros are display variants of the same address
    return ".".join(str(int(o)) for o in v.split("."))


def _luhn_ok(digits: str) -> bool:
    total = 0
    for i, ch in enumerate(reversed(digits)):
        d = int(ch)
        if i % 2 == 1:
            d = d * 2 - 9 if d > 4 else d * 2
        total += d
    return total % 10 == 0


def _gate_email(t: str) -> bool:
    return "@" in t


def _gate_3digits(t: str) -> bool:
    return _ANY_3_DIGITS.search(t) is not None


def _gate_ip(t: str) -> bool:
    return _IP_GATE.search(t) is not None


def _gate_ccn(t: str) -> bool:
    return _CCN_GATE.search(t) is not None


def _ccn_valid(normalized: str) -> bool:
    return _luhn_ok(normalized)


# (label, compiled regex, identity normalizer, cheap necessary-condition
# gate, post-normalization validator) in scrub-cascade order; SSN and
# SSN9 share the "SSN" label and therefore one identity space. The
# extended stages run BEFORE the digit-soup stages (a card must not be
# nibbled by PHONE, an IP must not feed SSN9) and AFTER EMAIL (whose
# matches can contain digits the others would misread).
_STAGES = (
    ("EMAIL", spec.EMAIL_RE, _email_key, _gate_email, None),
    ("SSN", spec.SSN_RE, _digits_key, _gate_3digits, None),
    ("SSN", spec.SSN9_RE, _digits_key, _gate_3digits, None),
    ("PHONE", spec.PHONE_RE, _phone_key, _gate_3digits, None),
)
_EXT_STAGES = (
    ("EMAIL", spec.EMAIL_RE, _email_key, _gate_email, None),
    ("CCN", CCN_RE, _digits_key, _gate_ccn, _ccn_valid),
    ("IP", IP_RE, _ip_key, _gate_ip, None),
    ("SSN", spec.SSN_RE, _digits_key, _gate_3digits, None),
    ("SSN", spec.SSN9_RE, _digits_key, _gate_3digits, None),
    ("PHONE", spec.PHONE_RE, _phone_key, _gate_3digits, None),
)


def pseudonymize_conversation(
    turns: list[str | None],
    extended: bool = False,
) -> tuple[list[str | None], list[int]]:
    """Single-conversation kernel: turns in turn order -> (rewritten
    turns, per-turn replacement counts). Pure Python/`re`; shared by the
    Spark kernel and the golden twin (the library-code-sharing caveat
    documented in tools/build_golden_misc.py applies — independent
    semantics coverage lives in tests/test_operators.py's hand-derived
    fixtures). ``extended=True`` adds the IP / Luhn-validated-card
    stages (beyond the reference cascade; default off keeps strict
    scrub parity)."""
    stages = _EXT_STAGES if extended else _STAGES
    maps: dict[str, dict[str, int]] = {
        label: {} for label, *_ in stages
    }
    out: list[str | None] = []
    counts: list[int] = []
    for t in turns:
        if t is None:
            out.append(None)
            counts.append(0)
            continue
        n = 0
        for label, rx, norm, gate, validate in stages:
            # the same necessary-condition gates as scrub.py: clean text
            # (the overwhelming majority) never runs the expensive subs
            if not gate(t):
                continue
            ids = maps[label]

            def _repl(
                mo: re.Match,
                _ids=ids,
                _label=label,
                _norm=norm,
                _validate=validate,
            ) -> str:
                nonlocal n
                k = _norm(mo.group(0))
                if _validate is not None and not _validate(k):
                    return mo.group(0)
                if k not in _ids:
                    _ids[k] = len(_ids) + 1
                n += 1
                return f"[{_label}_{_ids[k]}]"

            t = rx.sub(_repl, t)
        out.append(t)
        counts.append(n)
    return out, counts


def pseudonymize_pii(
    df: DataFrame,
    conv_col: str = "conv_id",
    turn_col: str = "turn_idx",
    role_col: str = "role",
    text_col: str = "text",
    extended: bool = False,
) -> DataFrame:
    """(conv_id, turn_idx, role, text, n_pseudo) with text rewritten and
    n_pseudo = replacements made in that turn. Deterministic under any
    input partitioning/order: each partition is sorted by (conv_id,
    turn_idx) before the kernel reads it. ``extended=True`` adds the
    IP-address and Luhn-validated credit-card stages (opt-in; the
    default is strict reference-scrub parity)."""
    schema = T.StructType(
        [
            T.StructField("conv_id", df.schema[conv_col].dataType),
            T.StructField("turn_idx", T.IntegerType()),
            T.StructField("role", T.StringType()),
            T.StructField("text", T.StringType()),
            T.StructField("n_pseudo", T.LongType()),
        ]
    )

    def _rewrite(t: pa.Table, heads: list[int]) -> list[pa.RecordBatch]:
        """Pseudonymize every conversation of ``t``, whose runs of one
        conv_id start at ``heads``; the other columns pass through."""
        turns = t["text"].to_pylist()
        texts: list[str | None] = []
        counts: list[int] = []
        for a, b in zip(heads, heads[1:] + [t.num_rows]):
            x, c = pseudonymize_conversation(turns[a:b], extended=extended)
            texts += x
            counts += c
        return pa.table(
            {
                "conv_id": t["conv_id"],
                "turn_idx": t["turn_idx"],
                "role": t["role"],
                "text": pa.array(texts, t["text"].type),
                "n_pseudo": pa.array(counts, pa.int64()),
            }
        ).to_batches()

    def _stream(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        # a conversation may span Arrow batches: the trailing run of each
        # batch waits for the next one
        carry = None
        for batch in batches:
            t = pa.Table.from_batches([batch])
            if carry is not None:
                t = pa.concat_tables([carry, t])
            if not t.num_rows:
                continue
            ids = t["conv_id"]
            nxt, prev = ids.slice(1), ids.slice(0, t.num_rows - 1)
            # a null conv_id is one conversation, as in groupBy
            same = pc.or_(
                pc.fill_null(pc.equal(nxt, prev), False),
                pc.and_(pc.is_null(nxt), pc.is_null(prev)),
            )
            heads = [0] + (np.flatnonzero(~same.to_numpy()) + 1).tolist()
            carry = t.slice(heads[-1])
            if len(heads) > 1:
                yield from _rewrite(t.slice(0, heads[-1]), heads[:-1])
        if carry is not None and carry.num_rows:
            yield from _rewrite(carry, [0])

    from .parallel import repartition_for_group_kernel

    slim = df.select(
        F.col(conv_col).alias("conv_id"),
        F.col(turn_col).cast("int").alias("turn_idx"),
        F.col(role_col).alias("role"),
        F.col(text_col).alias("text"),
    )
    # width-pinned exchange (operators/parallel.py): AQE would coalesce
    # this few-MB shuffle to 1-2 partitions and serialize the Python
    # kernel. Sorting each partition by (conv_id, turn_idx) lays every
    # conversation out as one run in turn order (a null turn_idx last),
    # so one mapInArrow pass rewrites a partition without building a
    # frame per conversation, and the other columns pass through as
    # Arrow arrays (a pandas batch would hold a bigint conv_id as
    # float64 whenever it also holds a null one)
    slim = repartition_for_group_kernel(slim, "conv_id").sortWithinPartitions(
        "conv_id", F.col("turn_idx").asc_nulls_last()
    )
    return slim.mapInArrow(_stream, schema=schema)
