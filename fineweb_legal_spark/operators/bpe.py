"""Distributed BPE tokenizer training + corpus encoding.

Shard planning, token-budget truncation, and packing all want REAL token
counts, and a from-scratch corpus usually has no tokenizer yet. This
module trains a byte-pair-encoding vocabulary (Sennrich et al. 2016,
"Neural Machine Translation of Rare Words with Subword Units") from the
corpus itself and applies it at scale. No reference analog — a
training-data toolkit op.

Spark-first shape, and why the merge loop is DRIVER-side on purpose:

- **The only corpus-scale pass is the word count** — explode the shared
  ascii-whitespace tokens and groupBy(word): map-side combinable, the
  exchange carries (word, partial count), never text. At 10^12 turns
  this is the whole cost, and it is one shuffle.
- **BPE learns from word TYPES, not the token stream.** Every practical
  trainer (the original subword-nmt, HF tokenizers, SentencePiece's BPE
  mode) collapses the corpus to (word, count) first, because the merge
  objective only depends on type frequencies. Types grow ~O(tokens^0.55)
  (Heaps' law) and the trainer caps them at ``max_word_types`` via
  TakeOrderedAndProject (count desc, word asc — per-partition heads,
  no global sort); the dropped tail is singleton-frequency mass that
  cannot win a merge against the head at realistic vocab sizes. The
  capped table (10^5-10^6 rows) collects to the driver and the merge
  loop runs there — distributing an inherently sequential argmax loop
  over a megabyte of state would be shuffle theater.
- **The merge loop is the incremental-update algorithm** (pair counts
  maintained per merge, only words containing the winning pair are
  re-segmented), O(types * word_len + merges * affected), not the
  recount-everything quadratic form (the naive recount twin lives in
  the tests as the correctness reference).
- **Encoding is embarrassingly parallel**: one mapInPandas over
  (id, text), merge ranks shipped in the task closure (a few hundred KB
  — the same broadcast-artifact pattern as artifacts.py), with a
  per-batch word -> tokens memo. Zipf makes the memo hit rate high:
  each Arrow batch re-segments only its distinct words.

Determinism: the winning pair each round is (count desc, pair asc) —
exact integer counts, total order, so the merge list is reproducible
across partitionings, engines, and retries. ``learn_merges`` is a pure
function over the (word, count) dict; the hypothesis suite fuzzes it
against the naive recount reference.

End-of-word convention: the final character of each word carries the
``EOW`` suffix marker (subword-nmt's convention), so token streams are
unambiguous and round-trip: ``"".join(tokens) == word + EOW``.
"""

from __future__ import annotations

import re
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..session import arrow_table

WS_SPLIT = "[ \\t\\n\\r\\f\\x0b]+"
EOW = "▁"  # lower-one-eighth block: not produced by the tokenizer


def word_counts(
    df: DataFrame,
    text_col: str = "text",
    lowercase: bool = True,
    max_word_types: int | None = None,
) -> DataFrame:
    """(word, n) — the single corpus-scale pass. Lowercased (by default)
    ascii-whitespace tokens, the engine's shared tokenizer contract
    (operators/decontam.ascii_words); map-side-combinable count, optional
    TakeOrderedAndProject cap to the most frequent types."""
    text = F.col(text_col)
    if lowercase:
        text = F.lower(text)
    arr = F.filter(F.split(text, WS_SPLIT), lambda x: x != F.lit(""))
    out = (
        df.filter(F.col(text_col).isNotNull())
        .select(F.explode(arr).alias("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    if max_word_types is not None:
        out = out.orderBy(F.desc("n"), F.asc("word")).limit(max_word_types)
    return out


def _segment(word: str) -> tuple[str, ...]:
    """Initial character segmentation with the EOW marker fused onto the
    final character (empty words cannot occur: the tokenizer drops them)."""
    return tuple(word[:-1]) + (word[-1] + EOW,)


def learn_merges(counts: dict[str, int], num_merges: int) -> list[tuple[str, str]]:
    """Pure BPE trainer over a (word -> count) table.

    Incremental form: pair counts and a pair -> {word index} occurrence
    index are maintained across merges; each round re-segments ONLY the
    words containing the winning pair and applies count deltas. Winner =
    max count, ties broken by lexicographically SMALLEST pair, so the
    merge list is a pure function of the count table.
    """
    words = [list(_segment(w)) for w in counts]
    freq = list(counts.values())

    pair_counts: dict[tuple[str, str], int] = {}
    where: dict[tuple[str, str], set[int]] = {}
    for i, syms in enumerate(words):
        c = freq[i]
        for a, b in zip(syms, syms[1:]):
            pair_counts[(a, b)] = pair_counts.get((a, b), 0) + c
            where.setdefault((a, b), set()).add(i)

    merges: list[tuple[str, str]] = []
    for _ in range(num_merges):
        best_n = 0
        best: tuple[str, str] | None = None
        for p, n in pair_counts.items():
            if n > best_n or (n == best_n and best is not None and p < best):
                best_n, best = n, p
        if best is None or best_n <= 0:
            break
        merges.append(best)
        joined = best[0] + best[1]
        for i in sorted(where.get(best, ())):
            syms = words[i]
            c = freq[i]
            # remove this word's contribution to every adjacent pair
            for a, b in zip(syms, syms[1:]):
                pair_counts[(a, b)] -= c
                if pair_counts[(a, b)] <= 0:
                    del pair_counts[(a, b)]
                s = where.get((a, b))
                if s is not None:
                    s.discard(i)
                    if not s:
                        del where[(a, b)]
            # re-segment the word with the new merge applied
            out: list[str] = []
            j = 0
            while j < len(syms):
                if j + 1 < len(syms) and syms[j] == best[0] and syms[j + 1] == best[1]:
                    out.append(joined)
                    j += 2
                else:
                    out.append(syms[j])
                    j += 1
            words[i] = out
            # add the new contribution back
            for a, b in zip(out, out[1:]):
                pair_counts[(a, b)] = pair_counts.get((a, b), 0) + c
                where.setdefault((a, b), set()).add(i)
    return merges


UNK_ID = 0
EOD_ID = 1


@dataclass(frozen=True)
class BpeModel:
    merges: tuple[tuple[str, str], ...]
    # base symbols (chars + char+EOW forms) observed in the training
    # word-count table; empty for models trained before vocab support —
    # those still encode to strings, they just can't mint integer ids
    alphabet: tuple[str, ...] = ()

    def ranks(self) -> dict[tuple[str, str], int]:
        return {p: r for r, p in enumerate(self.merges)}

    def vocab(self) -> dict[str, int]:
        """token string -> integer id. Layout is a pure function of the
        model: 0 = UNK (symbols unseen at train time), 1 = EOD (the
        document separator seqpack appends), then the sorted base
        alphabet, then one id per merge in merge order. Duplicate
        strings keep their FIRST id (a merge product can collide with a
        base symbol only if the corpus text itself contains the EOW
        mark; first-wins keeps the mapping total and deterministic)."""
        out: dict[str, int] = {}
        nxt = 2
        for s in sorted(self.alphabet):
            if s not in out:
                out[s] = nxt
                nxt += 1
        for a, b in self.merges:
            j = a + b
            if j not in out:
                out[j] = nxt
                nxt += 1
        return out


def train_bpe(
    df: DataFrame,
    text_col: str = "text",
    num_merges: int = 1000,
    max_word_types: int | None = 2**17,
    lowercase: bool = True,
) -> BpeModel:
    """One distributed word-count pass + the driver merge loop (see module
    docstring for why the loop is driver-side). The collect is bounded by
    ``max_word_types`` rows of (word, long)."""
    rows = word_counts(df, text_col, lowercase, max_word_types).collect()
    table = {r["word"]: r["n"] for r in rows}
    alphabet = sorted({s for w in table for s in _segment(w)})
    return BpeModel(tuple(learn_merges(table, num_merges)), tuple(alphabet))


def merges_table(spark: SparkSession, model: BpeModel) -> DataFrame:
    """(rank, left, right) — the publishable artifact form (pairs with
    tools/train_ivf.py's centroid-parquet convention: the model ships as
    data, not pickled code). Base-alphabet symbols ride along as
    rank = -(i+1) rows (left = symbol, right = '') so one parquet file
    round-trips the whole model; tables written before vocab support
    simply have no negative ranks and load with an empty alphabet."""
    rows = [(r, a, b) for r, (a, b) in enumerate(model.merges)] + [
        (-(i + 1), s, "") for i, s in enumerate(model.alphabet)
    ]
    return spark.createDataFrame(
        arrow_table(rows, "rank int, left string, right string")
    )


def model_from_table(df: DataFrame) -> BpeModel:
    rows = df.select("rank", "left", "right").collect()
    rows.sort(key=lambda r: r["rank"])
    merges = tuple((r["left"], r["right"]) for r in rows if r["rank"] >= 0)
    alphabet = tuple(r["left"] for r in rows if r["rank"] < 0)[::-1]
    return BpeModel(merges, alphabet)


def vocab_table(spark: SparkSession, model: BpeModel) -> DataFrame:
    """(id, token) — the trained vocabulary as data (loader-side detok /
    embedding-table sizing). UNK and EOD appear as '<unk>' / '<eod>'
    markers purely for display; inside the engine they are ids, never
    strings the tokenizer could produce."""
    rows = [(UNK_ID, "<unk>"), (EOD_ID, "<eod>")] + [
        (i, t) for t, i in model.vocab().items()
    ]
    return spark.createDataFrame(arrow_table(rows, "id int, token string"))


def encode_word(word: str, ranks: dict[tuple[str, str], int]) -> list[str]:
    """Apply merges to one word, lowest-rank-first (the standard greedy
    BPE apply: the training-time merge order IS the inference-time
    priority)."""
    syms = list(_segment(word))
    while len(syms) > 1:
        best_rank = None
        best_j = -1
        for j in range(len(syms) - 1):
            r = ranks.get((syms[j], syms[j + 1]))
            if r is not None and (best_rank is None or r < best_rank):
                best_rank, best_j = r, j
        if best_rank is None:
            break
        syms[best_j : best_j + 2] = [syms[best_j] + syms[best_j + 1]]
    return syms


def encode_bpe(
    df: DataFrame,
    model: BpeModel,
    text_col: str = "text",
    id_col: str = "doc_id",
    lowercase: bool = True,
) -> DataFrame:
    """(id, tokens array<string>, n_tokens) — one mapInPandas pass, merge
    ranks in the task closure, per-batch word -> tokens memo (Zipf makes
    repeated words the common case, so each batch pays one ``encode_word``
    per DISTINCT word it contains)."""
    import pandas as pd

    ranks = model.ranks()
    ws = re.compile("[ \t\n\r\f\x0b]+")

    def fn(batches):
        for pdf in batches:
            cache: dict[str, list[str]] = {}
            toks_col = []
            for text in pdf[text_col]:
                if text is None:
                    toks_col.append([])
                    continue
                if lowercase:
                    text = text.lower()
                toks: list[str] = []
                for w in ws.split(text):
                    if not w:
                        continue
                    got = cache.get(w)
                    if got is None:
                        got = cache[w] = encode_word(w, ranks)
                    toks.extend(got)
                toks_col.append(toks)
            yield pd.DataFrame(
                {
                    id_col: pdf[id_col],
                    "tokens": toks_col,
                    "n_tokens": [len(t) for t in toks_col],
                }
            )

    src = df.select(id_col, text_col)
    schema = f"{id_col} string, tokens array<string>, n_tokens int"
    return src.withColumn(id_col, F.col(id_col).cast("string")).mapInPandas(
        fn, schema=schema
    )


def encode_ids(
    df: DataFrame,
    model: BpeModel,
    text_col: str = "text",
    id_col: str = "doc_id",
    lowercase: bool = True,
) -> DataFrame:
    """(id, ids array<int>, n_tokens) — ``encode_bpe`` composed with the
    model's integer vocabulary in the same single mapInPandas pass (the
    per-batch memo caches the ID list per distinct word, so the vocab
    lookup is paid once per word type per batch). Symbols outside the
    training alphabet map to ``UNK_ID``; ``EOD_ID`` is reserved for
    seqpack's document separator and never produced here."""
    import pandas as pd

    ranks = model.ranks()
    vocab = model.vocab()
    ws = re.compile("[ \t\n\r\f\x0b]+")

    def fn(batches):
        for pdf in batches:
            cache: dict[str, list[int]] = {}
            ids_col = []
            for text in pdf[text_col]:
                if text is None:
                    ids_col.append([])
                    continue
                if lowercase:
                    text = text.lower()
                ids: list[int] = []
                for w in ws.split(text):
                    if not w:
                        continue
                    got = cache.get(w)
                    if got is None:
                        got = cache[w] = [
                            vocab.get(t, UNK_ID) for t in encode_word(w, ranks)
                        ]
                    ids.extend(got)
                ids_col.append(ids)
            yield pd.DataFrame(
                {
                    id_col: pdf[id_col],
                    "ids": ids_col,
                    "n_tokens": [len(t) for t in ids_col],
                }
            )

    src = df.select(id_col, text_col)
    schema = f"{id_col} string, ids array<int>, n_tokens int"
    return src.withColumn(id_col, F.col(id_col).cast("string")).mapInPandas(
        fn, schema=schema
    )


def tokenizer_stats(
    df: DataFrame,
    model: BpeModel,
    text_col: str = "text",
    id_col: str = "doc_id",
    lowercase: bool = True,
) -> DataFrame:
    """One-row tokenizer acceptance report over a corpus sample:
    ``fertility`` (tokens per whitespace word — the standard subword
    metric; 1.0 = every word is a single token), ``bytes_per_token``
    (UTF-8 corpus bytes per token — the cross-vocab-size comparable),
    plus the raw totals. All aggregation is JVM-native over the
    encode_bpe output; run it on a hash sample, not the full corpus —
    the estimate converges long before 10^9 rows."""
    enc = encode_bpe(df, model, text_col=text_col, id_col=id_col)
    text = F.col(text_col)
    if lowercase:
        text = F.lower(text)
    words = F.size(
        F.filter(F.split(text, WS_SPLIT), lambda x: x != F.lit(""))
    )
    base = df.select(
        F.col(id_col).cast("string").alias(id_col),
        F.when(F.col(text_col).isNotNull(), words)
        .otherwise(F.lit(0))
        .alias("n_words"),
        F.coalesce(F.octet_length(text_col), F.lit(0)).alias("n_bytes"),
    )
    return (
        enc.select(id_col, "n_tokens")
        .join(base, id_col)
        .agg(
            F.sum("n_tokens").alias("tokens"),
            F.sum("n_words").alias("words"),
            F.sum("n_bytes").alias("bytes"),
            (F.sum("n_tokens") / F.sum("n_words")).alias("fertility"),
            (F.sum("n_bytes") / F.sum("n_tokens")).alias("bytes_per_token"),
        )
    )
