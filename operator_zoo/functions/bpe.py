"""Vocab-driven BPE: learned merge table + distributed application.

``bpe_token_count_expr`` (functions/text.py) counts pretokenizer-regex
matches — a length *proxy*. Token-budgeted data curation needs counts
from an actual merge table. This module implements the classic BPE
split (Sennrich et al., ACL'16) with the scale shape right:

- **word-frequency table** (distributed): pretokenize JVM-side with the
  shared lookahead-free regex, explode, hash-aggregate counts. At
  100 TB this is one shuffle on the pretoken key; Zipf makes the
  result tiny relative to the corpus.
- **merge learning** (driver): collect the top ``max_words`` pretokens
  by (count desc, token asc) — a deterministic cap, the same
  "train the tokenizer on a bounded sample" move every production
  tokenizer makes — then learn ``n_merges`` merges in pure Python over
  the word-freq dict. Ties break (count desc, pair lexicographic), so
  training is fully deterministic. The merge table is k rows of driver
  metadata, like k-means centroids.
- **application** (distributed): ``mapInPandas`` with the merge ranks
  in the closure; per-batch memoization on distinct pretokens (Zipf
  again: a 2048-row batch hits the cache for almost every token).

The expected-output oracle is a materialized parquet generated by the
sequential replay in scripts/gen_expected.py (BPE merging is not
SQL-expressible).
"""

from __future__ import annotations

import re
from collections.abc import Iterator

import pandas as pd

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from operator_zoo.functions.text import BPE_TOKEN_PATTERN

_PRETOKEN_RE = re.compile(BPE_TOKEN_PATTERN)

N_MERGES = 200
MAX_TRAIN_WORDS = 50_000


def pretokens_expr(text_col: str | Column) -> Column:
    """Non-whitespace pretokenizer matches as an array column."""
    c = F.col(text_col) if isinstance(text_col, str) else text_col
    toks = F.regexp_extract_all(c, F.lit(BPE_TOKEN_PATTERN), F.lit(0))
    return F.filter(toks, lambda t: F.trim(t) != "")


def word_freqs(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Distributed pretoken frequency table ``(word, freq)``."""
    return (
        docs.select(F.explode(pretokens_expr(text_col)).alias("word"))
        .groupBy("word")
        .agg(F.count("*").alias("freq"))
    )


def _pair_counts(freqs: dict[tuple[str, ...], int]) -> dict[tuple[str, str], int]:
    counts: dict[tuple[str, str], int] = {}
    for sym, f in freqs.items():
        for i in range(len(sym) - 1):
            pair = (sym[i], sym[i + 1])
            counts[pair] = counts.get(pair, 0) + f
    return counts


def _merge_word(sym: tuple[str, ...], pair: tuple[str, str]) -> tuple[str, ...]:
    out: list[str] = []
    i = 0
    while i < len(sym):
        if i < len(sym) - 1 and (sym[i], sym[i + 1]) == pair:
            out.append(sym[i] + sym[i + 1])
            i += 2
        else:
            out.append(sym[i])
            i += 1
    return tuple(out)


def learn_merges_from_freqs(
    word_freq: list[tuple[str, int]], n_merges: int = N_MERGES
) -> list[tuple[str, str]]:
    """Classic BPE learning over a word-frequency list (pure Python,
    deterministic: best pair = max count, ties to the lexicographically
    smallest pair)."""
    freqs: dict[tuple[str, ...], int] = {}
    for w, f in word_freq:
        key = tuple(w)
        freqs[key] = freqs.get(key, 0) + f
    merges: list[tuple[str, str]] = []
    for _ in range(n_merges):
        counts = _pair_counts(freqs)
        if not counts:
            break
        pair, cnt = min(counts.items(), key=lambda kv: (-kv[1], kv[0]))
        if cnt < 2:
            break
        merges.append(pair)
        freqs = {_merge_word(s, pair): f for s, f in freqs.items()}
    return merges


def learn_merges(
    docs: DataFrame,
    text_col: str = "text",
    n_merges: int = N_MERGES,
    max_words: int = MAX_TRAIN_WORDS,
) -> list[tuple[str, str]]:
    """Train the merge table: distributed word-freq aggregate, then a
    deterministic top-``max_words`` cap (count desc, token asc — a
    TakeOrdered, no full sort), then driver-side learning."""
    top = (
        word_freqs(docs, text_col)
        .orderBy(F.col("freq").desc(), F.col("word").asc())
        .limit(max_words)
        .collect()
    )
    return learn_merges_from_freqs([(r.word, int(r.freq)) for r in top], n_merges)


def learn_tokenizer(
    docs: DataFrame,
    text_col: str = "text",
    n_merges: int = N_MERGES,
    max_words: int = MAX_TRAIN_WORDS,
) -> tuple[list[tuple[str, str]], dict[str, int]]:
    """Train merges AND the vocab in one pass over the word-frequency
    table; returns ``(merges, vocab)``."""
    top_rows = (
        word_freqs(docs, text_col)
        .orderBy(F.col("freq").desc(), F.col("word").asc())
        .limit(max_words)
        .collect()
    )
    top = [(r.word, int(r.freq)) for r in top_rows]
    merges = learn_merges_from_freqs(top, n_merges)
    return merges, build_vocab(top, merges)


def encode_word(word: str, ranks: dict[tuple[str, str], int]) -> list[str]:
    """Apply merges to one pretoken by rank order (lowest rank first —
    the standard BPE inference loop)."""
    sym = tuple(word)
    while len(sym) > 1:
        best_rank = None
        best_pair = None
        for i in range(len(sym) - 1):
            r = ranks.get((sym[i], sym[i + 1]))
            if r is not None and (best_rank is None or r < best_rank):
                best_rank = r
                best_pair = (sym[i], sym[i + 1])
        if best_pair is None:
            break
        sym = _merge_word(sym, best_pair)
    return list(sym)


def encode_text(text: str, ranks: dict[tuple[str, str], int], cache: dict) -> int:
    """Token count for one document (pretokenize + merge, memoized)."""
    n = 0
    for m in _PRETOKEN_RE.findall(text):
        if m.strip() == "":
            continue
        hit = cache.get(m)
        if hit is None:
            hit = len(encode_word(m, ranks))
            cache[m] = hit
        n += hit
    return n


def build_vocab(
    word_freq: list[tuple[str, int]], merges: list[tuple[str, str]]
) -> dict[str, int]:
    """Deterministic vocab: base characters of the training words
    (sorted, ids 0..n-1), then one token per merge in merge order —
    exactly the id layout BPE vocabularies use. Unknown symbols at
    encode time map to -1 (can only happen for characters absent from
    the capped training sample)."""
    chars = sorted({c for w, _ in word_freq for c in w})
    vocab = {c: i for i, c in enumerate(chars)}
    nxt = len(vocab)
    for a, b in merges:
        tok = a + b
        if tok not in vocab:
            vocab[tok] = nxt
            nxt += 1
    return vocab


def encode_text_ids(
    text: str,
    ranks: dict[tuple[str, str], int],
    vocab: dict[str, int],
    cache: dict,
) -> list[int]:
    """Token-id sequence for one document (pretokenize + merge + vocab
    lookup, memoized per pretoken)."""
    out: list[int] = []
    for m in _PRETOKEN_RE.findall(text):
        if m.strip() == "":
            continue
        hit = cache.get(m)
        if hit is None:
            hit = [vocab.get(t, -1) for t in encode_word(m, ranks)]
            cache[m] = hit
        out.extend(hit)
    return out


def bpe_token_ids(
    docs: DataFrame,
    merges: list[tuple[str, str]],
    vocab: dict[str, int],
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """``(doc_id, pos, token_id)`` — the tokenized corpus as a long
    relation (exploded, so every value is scalar and oracle-hashable).
    Merge ranks + vocab ride the closure (tiny driver metadata)."""
    ranks = {pair: i for i, pair in enumerate(merges)}

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        cache: dict = {}
        for b in batches:
            ids_col = []
            doc_col = []
            pos_col = []
            for doc_id, text in zip(b[id_col], b[text_col]):
                ids = encode_text_ids(str(text), ranks, vocab, cache)
                doc_col.extend([doc_id] * len(ids))
                pos_col.extend(range(len(ids)))
                ids_col.extend(ids)
            yield pd.DataFrame(
                {"doc_id": doc_col, "pos": pos_col, "token_id": ids_col}
            )

    return docs.select(id_col, text_col).mapInPandas(
        run, "doc_id long, pos int, token_id int"
    )


def bpe_token_counts(
    docs: DataFrame,
    merges: list[tuple[str, str]],
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """``(doc_id, bpe_tokens)`` with true merge-table token counts —
    Arrow-batched pandas UDF; the merge ranks ride the closure (tiny)."""
    ranks = {pair: i for i, pair in enumerate(merges)}

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        cache: dict = {}
        for b in batches:
            yield pd.DataFrame(
                {
                    "doc_id": b[id_col],
                    "bpe_tokens": [
                        encode_text(str(t), ranks, cache) for t in b[text_col]
                    ],
                }
            )

    return docs.select(id_col, text_col).mapInPandas(
        run, "doc_id long, bpe_tokens int"
    )
