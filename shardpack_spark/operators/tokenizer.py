"""Byte-pair-encoding tokenizer: train on a corpus, encode at scale.

Token-accurate pipelines (sequence packing budgets, per-token pricing,
context-length filtering) need the real tokenizer, not a whitespace
proxy.  Classic BPE (Sennrich et al., 2016) splits in two parts with
very different scales, and the implementation follows that split:

- **Training** reduces the corpus to a word-frequency table first — a
  fully distributed groupBy whose result (distinct words, optionally
  top-``max_words``) is orders of magnitude smaller than the corpus.
  Merge learning then runs driver-side over that table, exactly like
  every production tokenizer trainer; it is deterministic (pair-count
  ties break lexicographically).
- **Encoding** is the 100 TB side and stays distributed: an
  Arrow-batched pandas UDF applies the merge ranks per word with a
  per-batch memo cache (natural-language word frequency follows Zipf,
  so the cache hit rate is high).  The merges list (a few thousand
  pairs) travels in the closure — broadcast-sized model state, the same
  shape as the hashed classifier's weights.

Words are whitespace-split; each word's symbol sequence is its
characters plus a terminal ``</w>`` marker, so merges never cross word
boundaries and detokenization stays unambiguous.
"""

from __future__ import annotations

from collections import Counter
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    LongType,
    StringType,
    StructField,
    StructType,
)

END = "</w>"


# one whitespace definition for BOTH train and encode: an explicit ASCII
# class evaluated identically by Java regex (train, executor-side split)
# and Python re (encode).  str.split() / \s would disagree between the
# engines on NBSP / U+2028-style unicode whitespace, making the trainer
# learn merges over words the encoder never produces.
WS_SPLIT = r"[ \t\n\r\f\x0b]+"


def _split_words(text: str) -> list[str]:
    import re

    return [w for w in re.split(WS_SPLIT, text or "") if w]


def _word_symbols(word: str) -> tuple[str, ...]:
    return tuple(word) + (END,)


def _pair_counts(vocab: dict[tuple[str, ...], int]) -> Counter:
    counts: Counter = Counter()
    for syms, freq in vocab.items():
        for a, b in zip(syms, syms[1:]):
            counts[(a, b)] += freq
    return counts


def _merge_word(syms: tuple[str, ...], pair: tuple[str, str]) -> tuple[str, ...]:
    out = []
    i, n = 0, len(syms)
    merged = pair[0] + pair[1]
    while i < n:
        if i + 1 < n and syms[i] == pair[0] and syms[i + 1] == pair[1]:
            out.append(merged)
            i += 2
        else:
            out.append(syms[i])
            i += 1
    return tuple(out)


def bpe_train(
    df: DataFrame,
    n_merges: int = 1000,
    max_words: int = 100_000,
    text_col: str = "text",
) -> list[tuple[str, str]]:
    """Learn ``n_merges`` BPE merges from the corpus; returns them in
    merge order (rank = position).

    The distributed part is one explode + groupBy(word); only the
    ``max_words`` most frequent words (ties broken by word, exact and
    deterministic) reach the driver.  Truncation is logged in the
    return's behavior, not silent: rare words beyond the cap contribute
    no pair counts, which is the standard trainer approximation.
    """
    toks = F.filter(F.split(F.col(text_col), WS_SPLIT), lambda t: t != F.lit(""))
    freq_rows = (
        df.select(F.explode(toks).alias("__w"))
        .groupBy("__w")
        .agg(F.count(F.lit(1)).alias("__f"))
        .orderBy(F.desc("__f"), F.asc("__w"))
        .limit(max_words)
        .collect()
    )
    vocab: dict[tuple[str, ...], int] = {
        _word_symbols(r["__w"]): r["__f"] for r in freq_rows
    }
    merges: list[tuple[str, str]] = []
    for _ in range(n_merges):
        counts = _pair_counts(vocab)
        if not counts:
            break
        # deterministic: max count, then lexicographically smallest pair
        best = min(counts.items(), key=lambda kv: (-kv[1], kv[0]))[0]
        merges.append(best)
        vocab = {_merge_word(s, best): f for s, f in vocab.items()}
    return merges


def encode_word(word: str, ranks: dict[tuple[str, str], int]) -> list[str]:
    """Apply merges to one word: repeatedly merge the lowest-rank pair."""
    syms = list(_word_symbols(word))
    while len(syms) > 1:
        pairs = [(syms[i], syms[i + 1]) for i in range(len(syms) - 1)]
        ranked = [(ranks[p], p) for p in pairs if p in ranks]
        if not ranked:
            break
        _, best = min(ranked)
        syms = list(_merge_word(tuple(syms), best))
    return syms


def bpe_encode(
    df: DataFrame,
    merges: list[tuple[str, str]],
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """(id, tokens, n_tokens) — BPE-encode every document.

    Arrow-batched mapInPandas; the merge table rides in the closure and
    a per-partition word memo (capped at 250k entries so a high-diversity
    partition — URLs, hashes, random strings — cannot grow it without
    bound) collapses Zipf-repeated words to one encode.
    Output token order is the document's word order with per-word BPE
    symbols flattened (word boundaries remain recoverable from ``</w>``).
    """
    ranks = {tuple(p): i for i, p in enumerate(merges)}
    id_field = df.schema[id_col]
    schema = StructType(
        [
            StructField(id_col, id_field.dataType),
            StructField("tokens", ArrayType(StringType())),
            StructField("n_tokens", LongType()),
        ]
    )
    src = df.select(id_col, text_col)

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        memo: dict[str, list[str]] = {}

        def enc(text) -> list[str]:
            out: list[str] = []
            for w in _split_words(text):
                t = memo.get(w)
                if t is None:
                    t = encode_word(w, ranks)
                    if len(memo) < 250_000:
                        memo[w] = t
                out.extend(t)
            return out

        for pdf in batches:
            toks = [enc(t) for t in pdf[text_col]]
            yield pd.DataFrame(
                {
                    id_col: pdf[id_col],
                    "tokens": toks,
                    "n_tokens": [len(t) for t in toks],
                }
            )

    return src.mapInPandas(run, schema)


def bpe_decode_tokens(tokens: list[str]) -> str:
    """Driver-side inverse for tests/debugging: tokens -> text."""
    return "".join(tokens).replace(END, " ").strip()
