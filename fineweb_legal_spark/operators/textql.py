"""Text-analysis operators over document tables (training-data pipeline
utilities): language-ID, quality scoring, token counting, fingerprinting.

All JVM-native except language-ID (Arrow-batched pandas UDF with the
broadcast trigram artifact — the D2 pattern, SURVEY.md §2.10).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from .. import spec
from ..artifacts import get_artifacts
from .lm import langid_udf

# BPE-ish token estimate: word pieces of <=4 chars (reference F16 analog:
# annotator.py:96-98 uses len//4; here per-word ceil(len/4) which tracks
# subword tokenizers better)
_TOKEN_RX = r"\S{1,4}"


def token_counts(df: DataFrame, text_col: str = "text") -> DataFrame:
    t = F.col(text_col)
    ws_words = F.size(F.regexp_extract_all(t, F.lit(r"\S+"), 0)).cast("long")
    bpe_ish = F.size(F.regexp_extract_all(t, F.lit(_TOKEN_RX), 0)).cast("long")
    return df.withColumn("ws_tokens", ws_words).withColumn("bpe_ish_tokens", bpe_ish)


def quality_score(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Deterministic [0,1] heuristic quality score: length saturation +
    stopword presence (mirrors the reference's cheap-heuristics-then-score
    shape; SQL-mirrored in the driver oracle)."""
    t = F.col(text_col)
    wc = F.size(F.split(t, " "))
    stop_hits = F.size(
        F.regexp_extract_all(
            F.concat(F.lit(" "), F.lower(t), F.lit(" ")),
            F.lit("(?<= )(?:the|a|and|of|to|in|is)(?= )"),
            0,
        )
    )
    score = F.round(
        F.least(F.lit(1.0), wc.cast("double") / 50) * 0.5
        + F.least(F.lit(1.0), stop_hits.cast("double") * 10 / wc) * 0.5,
        6,
    )
    return df.withColumn("quality_score", score)


def fingerprint(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Document fingerprint: sha256 of the whitespace-normalized lowercase
    text, truncated to 16 hex chars (stable content address)."""
    norm = F.regexp_replace(
        F.regexp_replace(F.lower(F.col(text_col)), "[ \t\n\r]+", " "), "^ | $", ""
    )
    return df.withColumn("fingerprint", F.substring(F.sha2(norm, 256), 1, 16))


def predict_language(
    spark: SparkSession,
    df: DataFrame,
    id_col: str,
    text_col: str = "text",
    keep_cols: tuple[str, ...] = (),
) -> DataFrame:
    """(id, *keep_cols, pred_lang) via the embedded hashed-trigram
    classifier: one scalar Arrow UDF over the text column, so ``keep_cols``
    stay in the JVM row — the way to combine langid with native
    projections in ONE pass (no join back on id, no second scan)."""
    arts = get_artifacts()
    kernel = langid_udf(
        spark,
        arts.langid_logprob,
        arts.langs,
        spec.LANGID_KEEP_LANG,
        spec.LANGID_PREFIX_CHARS,
    )
    return df.select(id_col, *keep_cols, kernel(F.col(text_col)).alias("pred_lang"))


def repetition_profile(
    ns: tuple[int, ...] = (2, 3, 4),
    dup_ns: tuple[int, ...] = (5, 6, 7, 8, 9, 10),
):
    """The repetition family's ONE kernel (Gopher n-gram rules, Rae et
    al. 2021 §A1.1, and the FineWeb duplicated-line rule, Penedo et al.
    2024 §3.6): a scalar Arrow ``pandas_udf`` called as
    ``kernel(text, gate)``, returning a struct with

    - ``top_gram_{n}`` / ``top_cnt_{n}`` / ``top_cov_{n}`` for n in
      ``ns`` — the most frequent word n-gram, its occurrence count and
      the characters its occurrences cover (count × gram-string length);
      ties resolve to max(covered, gram string), i.e. the
      lexicographically greatest gram among the highest-covering ones;
    - ``dup_frac_{n}`` for n in ``dup_ns`` — the unrounded fraction of
      word characters covered by at least one occurrence of a gram that
      occurs more than once, overlapping intervals unioned so no
      character counts twice;
    - ``dup_line_frac`` — the unrounded fraction of line characters
      (newlines excluded) inside lines that occur more than once in the
      document, lines from an exact split('\\n'); null when the text is
      null or has zero line characters.

    The n-gram fields are computed only where ``gate`` is true, and are
    null where it is false or null, or the text is null or has fewer than
    n words; ``dup_line_frac`` is computed wherever the text is non-null.
    The gate lets a cheap-first cascade send each document's text into
    Python once and pay for n-grams on its survivors only.
    ``repetition_signals``, ``dup_ngram_signals``, ``dup_line_chars`` and
    the verdicts built on them are JVM projections of this struct; every
    rounding happens JVM-side.

    Words are the dedup normalization (lowercase, ASCII-whitespace
    tokens — the boundary of decontam/spandedup and the DuckDB oracle).
    The n-gram fields are computed a batch at a time by
    :func:`_gram_profile`: the gated documents' words are flattened into
    one stream (cut into slices of about ``_GRAM_SLICE_WORDS`` words),
    and per n one sort groups every (document, gram) pair of the slice
    at once, so the numpy call overhead is paid per (slice, n), not per
    (document, n). Lines are counted with one ``Counter`` per document.

    Gram identity is the 64-bit gram hash, not the string: two different
    grams of one document colliding would merge their counts. The
    in-document birthday bound of the 64-bit combine is ~1e-12 at ~10^4
    grams per document, the trade decontam already makes. Its inputs are
    crc32 word hashes, so two distinct words of one document sharing a
    crc32 merge as well (~W^2 / 2^33 for W distinct words). The top-gram
    tie-break compares Python str (code points) where the JVM compares
    UTF-8 bytes — identical on BMP text.
    """
    from collections import Counter

    from pyspark.sql.functions import pandas_udf

    from .decontam import ascii_words

    ns = tuple(sorted(ns))
    dup_ns = tuple(sorted(dup_ns))
    fields = (
        [
            (f"{name}_{n}", dtype)
            for n in ns
            for name, dtype in (
                ("top_gram", "string"), ("top_cnt", "bigint"), ("top_cov", "bigint")
            )
        ]
        + [(f"dup_frac_{n}", "double") for n in dup_ns]
        + [("dup_line_frac", "double")]
    )
    ddl = "struct<" + ",".join(f"{c}:{t}" for c, t in fields) + ">"

    @pandas_udf(ddl)
    def repetition_kernel(texts: pd.Series, gates: pd.Series) -> pd.DataFrame:
        out: dict[str, list] = {c: [None] * len(texts) for c, _ in fields}
        rows: list[int] = []
        nw: list[int] = []
        words: list[str] = []
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
            rows.append(i)
            nw.append(len(w))
            words += w
            if len(words) >= _GRAM_SLICE_WORDS:
                _gram_profile(out, rows, nw, words, ns, dup_ns)
                rows, nw, words = [], [], []
        if words:
            _gram_profile(out, rows, nw, words, ns, dup_ns)
        return pd.DataFrame(
            {c: pd.Series(v, dtype=object) for c, v in out.items()}
        )

    return repetition_kernel


# Words per numpy pass of the repetition kernel. A batch's gated word
# stream is cut after the document that reaches this size, so the pass
# peaks at ~3 MB however large the Arrow batch is (11 MB at 64k words,
# at the same speed); Python workers keep their peak heap
# (session.get_spark sets MALLOC_TRIM_THRESHOLD_=-1).
_GRAM_SLICE_WORDS = 1 << 14


def _gram_profile(
    out: dict[str, list],
    rows: list[int],
    nw: list[int],
    words: list[str],
    ns: tuple[int, ...],
    dup_ns: tuple[int, ...],
) -> None:
    """Fill ``out``'s n-gram fields for a slice of documents in one numpy
    pass: ``rows`` are the documents' batch rows, ``nw`` their word counts
    and ``words`` their words concatenated in that order.

    Each distinct word is crc32-hashed once (``decontam.word_hashes``),
    gram hashes are ``decontam``'s Horner combine over the flat stream,
    and only starts whose gram ends inside its own document are kept.
    Per n, the hashes become exact dense ids and one argsort of
    ``(document << 32) | id`` makes every (document, gram) group
    contiguous: group sizes are the counts, the group's least start its
    first occurrence, and each document's top gram its highest-covering
    group, ties to the greatest gram string. Dup coverage is one +1/-1
    diff array over the whole stream, summed per document with
    ``np.add.reduceat``."""
    import numpy as np

    from .decontam import gram_hashes_from_word_hashes, word_hashes

    nw = np.asarray(nw, dtype=np.int64)
    n_words = len(words)
    start = np.zeros(len(nw), dtype=np.int64)
    np.cumsum(nw[:-1], out=start[1:])
    doc = np.repeat(np.arange(len(nw)), nw)
    # words from each position to its document's end, itself included
    left = np.repeat(start + nw, nw) - np.arange(n_words)
    wl = np.fromiter(map(len, words), dtype=np.int64, count=n_words)
    cum = np.zeros(n_words + 1, dtype=np.int64)
    np.cumsum(wl, out=cum[1:])
    codes, distinct = pd.factorize(np.asarray(words, dtype=object))
    wh = word_hashes(distinct)[codes]
    del codes, distinct

    def one_n(n: int) -> None:
        # a function per n, so its temporaries are freed before the next
        h = gram_hashes_from_word_hashes(wh, n)
        s = np.flatnonzero(left[: len(h)] >= n)  # in-document gram starts
        if not len(s):
            return
        # documents in order, each document's grams contiguous; both
        # halves fit 32 bits (a slice holds far fewer than 2^31 words)
        key = np.unique(h[s], return_inverse=True)[1].astype(np.int64)
        key |= doc[s] << 32
        order = np.argsort(key)
        key = key[order]
        head = np.flatnonzero(np.concatenate(([True], key[1:] != key[:-1])))
        gdoc = key[head] >> 32
        del key
        cnt = np.diff(np.append(head, len(s)))
        first = np.minimum.reduceat(s[order], head)
        if n in ns:
            # gram-string length at the first occurrence: window word
            # chars + (n-1) separators
            cov = cnt * (cum[first + n] - cum[first] + (n - 1))
            dh = np.flatnonzero(np.concatenate(([True], gdoc[1:] != gdoc[:-1])))
            best = np.repeat(
                np.maximum.reduceat(cov, dh), np.diff(np.append(dh, len(head)))
            )
            win: dict[int, tuple[str, int]] = {}
            for k in np.flatnonzero(cov == best).tolist():
                j = int(gdoc[k])
                f = int(first[k])
                gram = " ".join(words[f : f + n])
                if j not in win or gram > win[j][0]:
                    win[j] = (gram, k)
            for j, (gram, k) in win.items():
                out[f"top_gram_{n}"][rows[j]] = gram
                out[f"top_cnt_{n}"][rows[j]] = int(cnt[k])
                out[f"top_cov_{n}"][rows[j]] = int(cov[k])
        if n in dup_ns:
            rep = s[order[np.repeat(cnt >= 2, cnt)]]  # repeated grams' starts
            diff = np.bincount(rep, minlength=n_words + 1)
            diff -= np.bincount(rep + n, minlength=n_words + 1)
            covered = np.cumsum(diff[:-1]) > 0
            frac = np.add.reduceat(wl * covered, start) / np.add.reduceat(wl, start)
            has_n = np.flatnonzero(nw >= n)
            for j, f in zip(has_n.tolist(), frac[has_n].tolist()):
                out[f"dup_frac_{n}"][rows[j]] = f

    for n in sorted(set(ns) | set(dup_ns)):
        one_n(n)


def _profile_rows(
    df: DataFrame,
    ns: tuple[int, ...],
    dup_ns: tuple[int, ...],
    per_n: dict[str, str],
    id_col: str,
    text_col: str,
) -> DataFrame:
    """(id, _chars, n, *per_n) — one row per document per n of the
    profile struct, where ``per_n`` maps an output column to its field
    prefix (``{"_frac": "dup_frac"}`` reads ``dup_frac_{n}``). A row
    exists where its first field is non-null: documents with fewer than
    n words omit that n. Row-local explode of an array(struct(...)) —
    zero Exchange, no lambda HOF."""
    prof = repetition_profile(ns, dup_ns)(F.col(text_col), F.lit(True))
    first = next(iter(per_n.values()))
    recs = F.array(
        *[
            F.struct(
                F.when(prof[f"{first}_{n}"].isNotNull(), F.lit(n)).alias("n"),
                *[prof[f"{f}_{n}"].alias(c) for c, f in per_n.items()],
            )
            for n in ns + dup_ns
        ]
    )
    return (
        df.filter(F.col(text_col).isNotNull())
        .select(
            F.col(id_col),
            F.length(F.col(text_col)).alias("_chars"),
            F.explode(recs).alias("_r"),
        )
        .filter(F.col("_r.n").isNotNull())
        .select(id_col, "_chars", "_r.*")
    )


def repetition_signals(
    df: DataFrame,
    ns: tuple[int, ...] = (2, 3, 4),
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Gopher-style repetition signals: for each document and each n in
    ``ns``, the most frequent word n-gram and the fraction of the
    document's characters its occurrences cover (Rae et al. 2021 §A1.1
    "fraction of characters in the most common n-gram"; the reference's
    heuristic family is the same quality-rule school — annotator.py's
    duplicate-line fraction is the sibling signal, already native in
    pipeline.py).

    Output: (id, n, top_gram, top_cnt, top_gram_char_frac) — one row per
    document per n, documents with fewer than n words omitted for that n.
    Ties resolve deterministically to the lexicographically greatest gram
    among those with the highest covered-character count. The fraction's
    denominator is length(text), rounded JVM-side (HALF_UP, like the
    oracle's round()).

    The per-document top gram is a ROW-LOCAL computation — no other
    document's data enters it — so the plan is one Arrow evaluation of
    :func:`repetition_profile` plus a row-local explode: ZERO exchanges
    and O(words-in-doc) memory per row. An exchange plan (exploded gram
    triples through two map-side combinable aggregations), though fine
    at 2M rows, was measured DYING at 10M rows on 32 cores (round 5,
    tools/stress10m.py): ~1.5B exploded gram strings hit sort-based
    aggregation fallback and spilled >70 GB to disk before ENOSPC.

    Counts are by 64-bit gram-hash identity, not exact strings — the
    trade the dup signals and the verdict share; :func:`repetition_profile`
    states the collision bounds. Pathological single documents (10^8+ words)
    should be span-pre-split upstream, the same policy packing applies to
    giant conversations.
    """
    rows = _profile_rows(
        df,
        tuple(int(n) for n in ns),
        (),
        {"top_gram": "top_gram", "top_cnt": "top_cnt", "_cov": "top_cov"},
        id_col,
        text_col,
    )
    return rows.select(
        id_col,
        "n",
        "top_gram",
        "top_cnt",
        F.round(F.col("_cov").cast("double") / F.col("_chars"), 6).alias(
            "top_gram_char_frac"
        ),
    )


def tfidf_top_terms(
    df: DataFrame,
    k: int = 5,
    id_col: str = "doc_id",
    text_col: str = "text",
    source_col: str = "source",
    n_docs: int | None = None,
) -> DataFrame:
    """Top-k TF-IDF terms per source — the classic corpus-characterization
    report ("what words distinguish each slice of the mixture").

    tf = term occurrences within the source's documents;
    idf = ln(N_docs / doc_freq); score = round(tf * idf, 4) with a
    (score desc, term asc) tiebreak. All JVM-native: one explode + two
    aggregations (both map-side combinable) + one small top-k window;
    doc_freq's exchange carries (term, doc) pairs, never text.

    N_docs is either the caller-supplied ``n_docs`` (e.g. from catalog
    stats) or a LAZY one-row count aggregate broadcast-cross-joined into
    the scored frame — plan construction launches zero jobs (round 3
    ran an eager df.count() here: a blocking extra action before the
    query started). The count's scan is column-pruned to the text
    null-check and runs inside the same job.
    """
    from pyspark.sql import Window

    nonnull = df.filter(F.col(text_col).isNotNull())
    words = nonnull.select(
        F.col(id_col).alias("_id"),
        F.col(source_col).alias("source"),
        F.explode(
            F.split(F.lower(F.col(text_col)), "[ \t\n\r\f\x0b]+")
        ).alias("term"),
    ).filter(F.col("term") != "")
    docfreq = words.groupBy("term").agg(
        F.count_distinct("_id").alias("_df")
    )
    tf = words.groupBy("source", "term").agg(F.count(F.lit(1)).alias("_tf"))
    scored = tf.join(docfreq, "term")
    if n_docs is not None:
        scored = scored.withColumn("_n", F.lit(float(n_docs)))
    else:
        n_frame = nonnull.agg(
            F.count(F.lit(1)).cast("double").alias("_n")
        )
        scored = scored.crossJoin(F.broadcast(n_frame))
    scored = scored.select(
        "source",
        "term",
        F.round(
            F.col("_tf") * F.log(F.col("_n") / F.col("_df")), 4
        ).alias("tfidf"),
    )
    w = Window.partitionBy("source").orderBy(F.desc("tfidf"), F.asc("term"))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
        .select("source", "rank", "term", "tfidf")
    )


# Gopher rule thresholds (Rae et al. 2021, Table A1): max fraction of
# characters in the most common n-gram
GOPHER_TOP_NGRAM_MAX = {2: 0.20, 3: 0.18, 4: 0.16}

# ... and max fraction of characters inside DUPLICATE n-grams (same table,
# the family's other half: all n-grams occurring more than once, coverage
# counted once per word even when duplicated grams overlap)
GOPHER_DUP_NGRAM_MAX = {5: 0.15, 6: 0.14, 7: 0.13, 8: 0.12, 9: 0.11, 10: 0.10}


def dup_ngram_signals(
    df: DataFrame,
    ns: tuple[int, ...] = (5, 6, 7, 8, 9, 10),
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Gopher duplicate-n-gram coverage (Rae et al. 2021 §A1.1 "fraction
    of characters in duplicate n-grams", the top-n-gram family's sibling —
    ``repetition_signals`` measures the single most frequent gram, this
    measures ALL grams that occur more than once).

    Output: (id, n, dup_char_frac) per document per n in ``ns`` —
    ``dup_char_frac`` = word characters covered by at least one occurrence
    of a duplicated n-gram / total word characters, with overlapping gram
    intervals unioned so no character is counted twice (the published
    rule's stated semantics). Characters are WORD characters under the
    dedup normalization (lowercase, ASCII-whitespace tokens — the same
    boundary as decontam/spandedup and the DuckDB oracle); separator
    whitespace is excluded from numerator and denominator alike, which
    makes the fraction invariant to run-length of whitespace. Documents
    with fewer than n words omit that n's row (no gram can form), matching
    ``repetition_signals``.

    Scale shape: the signal is a pure per-row function of the document, so
    the plan is one Arrow evaluation of :func:`repetition_profile` over
    the text column plus a row-local explode — zero Exchange, zero lambda
    HOFs, embarrassingly parallel (pytest-pinned). The fraction is
    rounded JVM-side (HALF_UP, same as the oracle's round()) — Python's
    round() is half-even and would diverge on exact midpoints.
    """
    rows = _profile_rows(
        df, (), tuple(ns), {"_frac": "dup_frac"}, id_col, text_col
    )
    return rows.select(
        id_col, "n", F.round("_frac", 6).alias("dup_char_frac")
    )


def filter_repetition(
    df: DataFrame,
    thresholds: dict[int, float] | None = None,
    dup_thresholds: dict[int, float] | None = None,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Gopher repetition FILTER: df + (rep_reject_reason) where the reason
    names the first violated rule ("top_2gram" < "top_3gram" < ... <
    "dup_5gram" < ...) or is null for keeps. Thresholds default to the
    published Gopher values; pass ``{}`` to disable a family. Documents
    too short to form an n-gram trivially pass that rule, like the
    reference's length-gated heuristics; null text passes every rule.

    Each rule compares the same HALF_UP round-to-6 fraction that
    ``repetition_signals`` / ``dup_ngram_signals`` report. A top gram
    occurring ONCE is not repetition: short documents would trivially
    "violate" any fraction threshold (one 18-char bigram is 36% of a
    50-char doc), so the top rule only fires at top_cnt >= 2 — the
    length-gating Gopher gets implicitly from web-scale document lengths,
    made explicit here. The dup rule needs no such gate: coverage is zero
    unless some gram genuinely occurs twice.

    Plan: ONE Arrow evaluation of :func:`repetition_profile` over the
    text column, the verdict a JVM CASE over its fields — zero Exchange,
    no join back, and only the text crosses into Python. ``id_col`` is
    accepted for signature compatibility; the verdict is per row.
    """
    thresholds = GOPHER_TOP_NGRAM_MAX if thresholds is None else thresholds
    dup_thresholds = (
        GOPHER_DUP_NGRAM_MAX if dup_thresholds is None else dup_thresholds
    )
    if not (thresholds or dup_thresholds):
        return df.withColumn("rep_reject_reason", F.lit(None).cast("string"))
    prof = repetition_profile(tuple(thresholds), tuple(dup_thresholds))(
        F.col(text_col), F.lit(True)
    )
    return df.withColumn(
        "rep_reject_reason",
        _repetition_reason(prof, text_col, thresholds, dup_thresholds),
    )


def _repetition_reason(
    prof: Column,
    text_col: str,
    thresholds: dict[int, float] = GOPHER_TOP_NGRAM_MAX,
    dup_thresholds: dict[int, float] = GOPHER_DUP_NGRAM_MAX,
) -> Column:
    """The repetition rule CASE over a :func:`repetition_profile` struct:
    the first violated rule's name, null when every rule passes or has no
    signal. The one home of the rule order and rounding, shared by
    :func:`filter_repetition` and the quality cascade."""
    chars = F.length(F.col(text_col)).cast("double")
    rules = [
        (
            (prof[f"top_cnt_{n}"] >= 2)
            & (F.round(prof[f"top_cov_{n}"] / chars, 6) > thr),
            f"top_{n}gram",
        )
        for n, thr in sorted(thresholds.items())
    ] + [
        (F.round(prof[f"dup_frac_{n}"], 6) > thr, f"dup_{n}gram")
        for n, thr in sorted(dup_thresholds.items())
    ]
    (cond, reason), *rest = rules  # first violated rule wins
    verdict = F.when(cond, F.lit(reason))
    for cond, reason in rest:
        verdict = verdict.when(cond, F.lit(reason))
    return verdict


# Gopher document-shape thresholds (Rae et al. 2021, Table A1)
GOPHER_MIN_ALPHA_WORD_FRAC = 0.80   # >=80% of words contain a letter
GOPHER_MAX_BULLET_LINE_FRAC = 0.90  # <=90% of lines start with a bullet
GOPHER_MAX_ELLIPSIS_LINE_FRAC = 0.30  # <=30% of lines end with an ellipsis


def doc_shape_signals(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Gopher document-shape quality signals (Rae et al. 2021 §A1.1), the
    rule family's remaining members next to the pipeline's stop-word /
    dup-line / symbol rules and this module's repetition signals:

    - ``alpha_word_frac`` — fraction of whitespace words containing at
      least one ASCII letter (rule: >= 0.80; catches number/symbol soup);
      null when the document has no words;
    - ``bullet_line_frac`` — fraction of lines starting with a bullet
      (``- • *`` after optional indent; rule: <= 0.90);
    - ``ellipsis_line_frac`` — fraction of lines ending with ``...`` or
      ``…`` (rule: <= 0.30; truncated-content listings).

    All three are JVM-native regexp counts over the row — zero UDF, zero
    shuffle, whole-stage-codegen'd; line fractions count split('\\n')
    parts including blanks (blank lines match neither pattern), the
    engine-neutral denominator.
    """
    t = F.col(text_col)
    words = F.size(F.regexp_extract_all(t, F.lit(r"\S+"), 0))
    alpha = F.size(F.regexp_extract_all(t, F.lit(r"\S*[A-Za-z]\S*"), 0))
    lines = F.size(F.split(t, "\n"))
    bullet = F.size(F.regexp_extract_all(t, F.lit(r"(?m)^[ \t]*[-•*]"), 0))
    ellipsis = F.size(
        F.regexp_extract_all(t, F.lit(r"(?m)(\.\.\.|…)[ \t]*$"), 0)
    )
    frac = lambda num, den: F.round(  # noqa: E731
        num.cast("double") / F.when(den > 0, den), 6
    )
    return (
        df.withColumn("alpha_word_frac", frac(alpha, words))
        .withColumn("bullet_line_frac", frac(bullet, lines))
        .withColumn("ellipsis_line_frac", frac(ellipsis, lines))
    )


def filter_doc_shape(df: DataFrame, text_col: str = "text") -> DataFrame:
    """df + shape_reject_reason ('alpha_words' | 'bullet_lines' |
    'ellipsis_lines', first violated in that order; null = keep) at the
    published Gopher thresholds over :func:`doc_shape_signals`. Wordless
    or null documents have no alpha signal and pass that rule (the
    pipeline's length gates own empty-text rejection)."""
    sig = doc_shape_signals(df, text_col=text_col)
    return sig.withColumn(
        "shape_reject_reason",
        F.when(
            F.col("alpha_word_frac") < GOPHER_MIN_ALPHA_WORD_FRAC,
            F.lit("alpha_words"),
        )
        .when(
            F.col("bullet_line_frac") > GOPHER_MAX_BULLET_LINE_FRAC,
            F.lit("bullet_lines"),
        )
        .when(
            F.col("ellipsis_line_frac") > GOPHER_MAX_ELLIPSIS_LINE_FRAC,
            F.lit("ellipsis_lines"),
        ),
    ).drop("alpha_word_frac", "bullet_line_frac", "ellipsis_line_frac")


# FineWeb custom quality-rule thresholds (Penedo et al. 2024 §3.6 — the
# three filters their ablations added on top of the C4/Gopher sets, plus
# the companion newline-density rule; exact cut points vary slightly
# between published configs, so they're parameters with these defaults)
FINEWEB_MIN_PUNCT_LINE_FRAC = 0.12    # drop if < 12% of lines end in punct
FINEWEB_SHORT_LINE_CHARS = 30
FINEWEB_MAX_SHORT_LINE_FRAC = 0.67    # drop if > 67% of lines are short
FINEWEB_MAX_DUP_LINE_CHAR_FRAC = 0.10  # drop if > 10% of chars in dup lines
FINEWEB_MAX_NEWLINE_WORD_FRAC = 0.30  # drop if newlines/words > 0.30
_FW_PUNCT_RX = r"(?m)[.!?\"'][ \t]*$"  # line's last non-blank char
_FW_SIGNALS = ("punct_line_frac", "short_line_frac", "newline_word_frac")


def fineweb_quality_signals(df: DataFrame, text_col: str = "text") -> DataFrame:
    """FineWeb custom quality signals (Penedo et al. 2024 §3.6), the
    line-shape half of the rule family (the duplicated-line-character
    signal needs per-document line grouping and lives in
    :func:`dup_line_chars`):

    - ``punct_line_frac`` — fraction of lines whose last non-blank char is
      terminal punctuation (``. ! ? " '``; rule: >= 0.12, low values are
      menus/listings);
    - ``short_line_frac`` — fraction of lines shorter than 30 characters
      (rule: <= 0.67; raw line length, blanks count as short);
    - ``newline_word_frac`` — newline count / whitespace-word count
      (rule: <= 0.30; catches list-like pages); null when wordless.

    All JVM-native regexp/length arithmetic — zero UDF, zero shuffle,
    whole-stage-codegen'd; line fractions share doc_shape_signals'
    split('\\n')-including-blanks denominator.
    """
    t = F.col(text_col)
    lines = F.size(F.split(t, "\n"))
    punct = F.size(F.regexp_extract_all(t, F.lit(_FW_PUNCT_RX), 0))
    long_lines = F.size(
        F.regexp_extract_all(
            t, F.lit(r"(?m)^.{%d,}" % FINEWEB_SHORT_LINE_CHARS), 0
        )
    )
    words = F.size(F.regexp_extract_all(t, F.lit(r"\S+"), 0))
    frac = lambda num, den: F.round(  # noqa: E731
        num.cast("double") / F.when(den > 0, den), 6
    )
    return (
        df.withColumn("punct_line_frac", frac(punct, lines))
        .withColumn("short_line_frac", frac(lines - long_lines, lines))
        .withColumn("newline_word_frac", frac(lines - 1, words))
    )


def dup_line_chars(df: DataFrame, text_col: str = "text") -> DataFrame:
    """df + ``dup_line_char_frac`` — fraction of the document's line
    characters (newlines excluded) inside lines that occur MORE THAN ONCE
    within the document, exact match on the raw split('\\n') line. The
    FineWeb/Gopher duplicated-line signal at character granularity
    (Penedo et al. 2024 §3.6; Rae et al. 2021 §A1.1): boilerplate
    navigation repeated down a page survives word-gram rules when lines
    are short, and this catches it. Blank duplicate lines weigh zero
    chars, so the signal is blank-robust with no special-casing. Null
    when the text is null or has zero line characters.

    Scale shape: a pure per-row signal, the ``dup_line_frac`` field of
    :func:`repetition_profile` with its n-gram work gated off, rounded
    JVM-side (HALF_UP, matching the oracle's round()) — one Arrow
    evaluation over the text column only, zero Exchange (pytest-pinned).
    """
    return df.withColumn(
        "dup_line_char_frac", F.round(_dup_line_frac(text_col), 6)
    )


def _dup_line_frac(text_col: str) -> Column:
    return repetition_profile((), ())(F.col(text_col), F.lit(False))[
        "dup_line_frac"
    ]


def _fineweb_reason(dup_line_frac: Column) -> Column:
    """The FineWeb rule CASE ('line_punct' | 'short_lines' |
    'dup_line_chars' | 'newline_words', first violated in that order;
    null = keep) over :func:`fineweb_quality_signals`' columns and an
    unrounded duplicated-line fraction. Wordless documents (null
    ``newline_word_frac``: null/empty/whitespace text) skip every rule.
    A null ``dup_line_frac`` leaves the JVM-native rules only — the
    cascade's gate. The one home of the rule order, shared by
    :func:`filter_fineweb_quality` and the quality cascade."""
    verdict = (
        F.when(
            F.col("punct_line_frac") < FINEWEB_MIN_PUNCT_LINE_FRAC,
            F.lit("line_punct"),
        )
        .when(
            F.col("short_line_frac") > FINEWEB_MAX_SHORT_LINE_FRAC,
            F.lit("short_lines"),
        )
        .when(
            F.round(dup_line_frac, 6) > FINEWEB_MAX_DUP_LINE_CHAR_FRAC,
            F.lit("dup_line_chars"),
        )
        .when(
            F.col("newline_word_frac") > FINEWEB_MAX_NEWLINE_WORD_FRAC,
            F.lit("newline_words"),
        )
    )
    return F.when(F.col("newline_word_frac").isNotNull(), verdict)


def filter_fineweb_quality(df: DataFrame, text_col: str = "text") -> DataFrame:
    """df + ``fw_reject_reason`` ('line_punct' | 'short_lines' |
    'dup_line_chars' | 'newline_words', first violated in that order;
    null = keep) at the module-default FineWeb thresholds over
    :func:`fineweb_quality_signals` and the duplicated-line fraction of
    :func:`dup_line_chars`. Wordless documents (null/empty/whitespace
    text) skip every rule and pass — the pipeline's length gates own
    empty-text rejection, same contract as filter_doc_shape. Plan: native
    signal columns and one Arrow evaluation of :func:`repetition_profile`
    (its n-gram work gated off) — zero Exchange end to end.
    """
    return (
        fineweb_quality_signals(df, text_col=text_col)
        .withColumn("fw_reject_reason", _fineweb_reason(_dup_line_frac(text_col)))
        .drop(*_FW_SIGNALS)
    )


def chunk_text(
    df: DataFrame,
    size: int,
    overlap: int = 0,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Split documents into fixed-size character chunks with optional
    overlap (context-window prep for training/retrieval). Chunk i covers
    [i*stride, i*stride + size) with stride = size - overlap; the last
    chunk may be shorter; empty/null text yields no chunks.

    Pure JVM: sequence + explode + substring — chunk COUNT per row is
    computed natively, the explode is row-local (no shuffle at any
    scale), and text bytes are touched exactly once at the substring.
    """
    if not 0 <= overlap < size:
        raise ValueError("need 0 <= overlap < size")
    stride = size - overlap
    n_chunks = F.when(
        F.length(text_col) > 0,
        (F.floor((F.length(text_col) - 1) / stride) + 1).cast("int"),
    ).otherwise(F.lit(0))
    # drop a trailing chunk that would start past the end AND be fully
    # contained in the previous one (starts >= len are impossible by the
    # n_chunks formula except when overlap creates a start < len but the
    # previous chunk already covers to len — keep those: they carry the
    # overlap contract)
    return (
        df.select(
            F.col(id_col).alias("doc_id"),
            F.col(text_col).alias("_t"),
            # sequence(0, -1) DESCENDS in Spark, so the empty case must be
            # an explicit empty array, not an empty range
            F.explode(
                F.when(
                    n_chunks > 0, F.sequence(F.lit(0), n_chunks - 1)
                ).otherwise(F.array().cast("array<int>"))
            ).alias("chunk_idx"),
        )
        .select(
            "doc_id",
            "chunk_idx",
            F.substring(
                F.col("_t"), F.col("chunk_idx") * stride + 1, size
            ).alias("chunk_text"),
        )
    )


def blob_signals(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Gibberish / binary-blob quality signals per document:

    - ``base64_frac`` / ``hex_frac``: fraction of characters inside long
      base64-ish (>= 48 chars of [A-Za-z0-9+/=]) or hex-ish (>= 32 chars
      of [0-9a-fA-F]) runs — inlined keys, data-URI payloads, and dumps
      that length/word heuristics miss. Pure JVM: regexp_extract_all +
      an aggregate HOF summing match lengths (runs once per match list,
      not per char; CodegenFallback on this Spark but still JVM-side).
    - ``char_entropy``: Shannon entropy in bits/byte over the UTF-8
      encoding, a vectorized-numpy Pandas UDF (bincount per string —
      per-string Python like the MinHash shingler, the documented
      category for inherently per-string kernels). English prose sits
      ~4.1-4.7; base64 blobs ~6; repeated filler < 3.5.

    NULL text yields NULL signals (never 0 — absence, not cleanliness).
    """
    import numpy as np
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("double")
    def _entropy(s: pd.Series) -> pd.Series:
        out = np.full(len(s), np.nan)
        for i, t in enumerate(s):
            if t is None:
                continue
            b = np.frombuffer(t.encode("utf-8"), dtype=np.uint8)
            if len(b) == 0:
                out[i] = 0.0
                continue
            counts = np.bincount(b, minlength=256)
            p = counts[counts > 0] / len(b)
            out[i] = float(-(p * np.log2(p)).sum())
        return pd.Series(out)

    text = F.col(text_col)

    def run_frac(rx: str) -> Column:
        matched = F.aggregate(
            F.regexp_extract_all(text, F.lit(rx), F.lit(0)),
            F.lit(0),
            lambda acc, m: acc + F.length(m),
        )
        return F.when(
            text.isNotNull(),
            F.round(
                matched / F.greatest(F.length(text), F.lit(1)), 6
            ),
        )

    return df.withColumns(
        {
            "base64_frac": run_frac(r"[A-Za-z0-9+/=]{48,}"),
            "hex_frac": run_frac(r"[0-9a-fA-F]{32,}"),
            "char_entropy": F.when(
                text.isNotNull(), F.round(_entropy(text), 4)
            ),
        }
    )


def compression_signals(
    df: DataFrame, text_col: str = "text", level: int = 6
) -> DataFrame:
    """``compression_ratio`` per document: deflate(utf-8 bytes) size over
    raw size (zlib level ``level``, header+trailer included — the exact
    number any independent zlib reproduces bit-for-bit, so tests pin
    equality, not tolerance).

    The corpus-hygiene signal the entropy/repetition family can't see
    alone: duplicated-paragraph templating compresses far below prose
    (ratio < ~0.3 at a few KB), while encrypted/compressed/random blobs
    sit near or ABOVE 1.0 (deflate adds framing on incompressible input) —
    both tails are off-distribution for training text (Dolma and
    RedPajama-v2 ship the same gzip/zlib-ratio quality tag). One scalar
    Pandas UDF; zlib's C loop does the work, same per-string-kernel
    category as the MinHash shingler. NULL text -> NULL; empty text -> NULL
    (a 0-byte payload has no meaningful ratio; length gates own empties).

    Scale note: compression cost is linear in bytes with a small constant
    (~100 MB/s/core at level 6) — at 10^12 turns prefer gating it behind
    the cheap cascade stages like the repetition family, or drop
    ``level`` to 1 (~3x faster, ratios shift but order is stable).
    """
    import zlib

    import numpy as np
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("double")
    def _ratio(s: pd.Series) -> pd.Series:
        out = np.full(len(s), np.nan)
        for i, t in enumerate(s):
            if not t:  # None or empty
                continue
            b = t.encode("utf-8")
            out[i] = len(zlib.compress(b, level)) / len(b)
        return pd.Series(out)

    return df.withColumn(
        "compression_ratio",
        F.when(F.col(text_col).isNotNull(), F.round(_ratio(F.col(text_col)), 6)),
    )


def filter_compression(
    df: DataFrame,
    text_col: str = "text",
    min_ratio: float = 0.25,
    max_ratio: float = 1.05,
) -> DataFrame:
    """``comp_reject_reason`` from the compression-ratio band: below
    ``min_ratio`` -> 'comp_ratio_low' (templated/repeated filler), above
    ``max_ratio`` -> 'comp_ratio_high' (incompressible blob). NULL/empty
    text passes (absence is owned by the length gates), matching every
    other rule family's null contract."""
    out = compression_signals(df, text_col=text_col)
    r = F.col("compression_ratio")
    reason = (
        F.when(r.isNull(), F.lit(None).cast("string"))
        .when(r < min_ratio, F.lit("comp_ratio_low"))
        .when(r > max_ratio, F.lit("comp_ratio_high"))
    )
    return out.withColumn("comp_reject_reason", reason)
