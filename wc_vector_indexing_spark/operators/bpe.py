"""Byte-pair-encoding tokenizer training over a corpus (Sennrich et al.
2016, "Neural Machine Translation of Rare Words with Subword Units").

Scale split — the part that touches the corpus is ONE distributed
aggregation; the iterative part never sees the corpus:

  * ``word_counts``: corpus → (word, n) — a hash aggregation with
    map-side combine, the only full scan. At 100 TB the distinct-word
    table is bounded (Heaps' law) and further capped by ``max_words``
    (top-K by frequency keeps ~all token mass).
  * ``train_bpe_from_counts``: the classic merge loop over the
    word-frequency table, driver-local — exactly how production
    tokenizer trainers (subword-nmt, HF tokenizers) structure it. Cost
    is O(vocab · merges), independent of corpus size.
  * ``bpe_encode_col``: applying the learned merges back over the
    corpus — an Arrow-batched pandas UDF (per-row greedy rank merges,
    no shuffle).

Determinism: merge selection breaks count ties on the lexicographically
smallest pair, so the merge list is a pure function of the corpus.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf

END_WORD = "</w>"


def word_counts(
    docs: DataFrame,
    text_col: str = "text",
    max_words: int = 1_000_000,
) -> DataFrame:
    """(word, n) by frequency desc, word asc — the single corpus-wide
    aggregation BPE training needs. ``max_words`` caps the table at the
    top-K; the dropped tail is exactly the words rare enough that their
    subword statistics barely move the merge counts."""
    words = docs.select(
        F.explode(
            F.filter(F.split(F.lower(F.trim(F.col(text_col))), r"\s+"), lambda w: w != "")
        ).alias("word")
    )
    return (
        words.groupBy("word")
        .agg(F.count("*").alias("n"))
        .orderBy(F.desc("n"), F.asc("word"))
        .limit(max_words)
    )


def train_bpe_from_counts(
    counts: dict[str, int],
    num_merges: int = 200,
    min_pair_count: int = 2,
    end_of_word: bool = True,
) -> list[tuple[str, str]]:
    """The Sennrich merge loop over a word-frequency dict. Returns the
    ordered merge list. Deterministic: argmax by (count, then
    lexicographically smallest pair)."""
    vocab: dict[tuple[str, ...], int] = {}
    for w, n in counts.items():
        sym = tuple(w) + ((END_WORD,) if end_of_word else ())
        vocab[sym] = vocab.get(sym, 0) + n

    merges: list[tuple[str, str]] = []
    for _ in range(num_merges):
        pairs: dict[tuple[str, str], int] = {}
        for sym, n in vocab.items():
            for a, b in zip(sym, sym[1:]):
                pairs[(a, b)] = pairs.get((a, b), 0) + n
        if not pairs:
            break
        best = min(pairs.items(), key=lambda kv: (-kv[1], kv[0]))
        if best[1] < min_pair_count:
            break
        (a, b), _n = best
        merged = a + b
        new_vocab: dict[tuple[str, ...], int] = {}
        for sym, n in vocab.items():
            out: list[str] = []
            i = 0
            while i < len(sym):
                if i + 1 < len(sym) and sym[i] == a and sym[i + 1] == b:
                    out.append(merged)
                    i += 2
                else:
                    out.append(sym[i])
                    i += 1
            t = tuple(out)
            new_vocab[t] = new_vocab.get(t, 0) + n
        vocab = new_vocab
        merges.append((a, b))
    return merges


def train_bpe(
    docs: DataFrame,
    num_merges: int = 200,
    min_pair_count: int = 2,
    text_col: str = "text",
    max_words: int = 1_000_000,
) -> list[tuple[str, str]]:
    """End-to-end: distributed word counting + driver-local merge loop."""
    counts = {r.word: r.n for r in word_counts(docs, text_col, max_words).collect()}
    return train_bpe_from_counts(counts, num_merges, min_pair_count)


def segment_word(word: str, ranks: dict[tuple[str, str], int]) -> list[str]:
    """Greedy lowest-rank-first merge application (GPT-2-style) — the
    canonical way to apply a learned merge list to one word."""
    sym = list(word) + [END_WORD]
    while len(sym) > 1:
        best_rank = None
        best_i = -1
        for i, (a, b) in enumerate(zip(sym, sym[1:])):
            r = ranks.get((a, b))
            if r is not None and (best_rank is None or r < best_rank):
                best_rank, best_i = r, i
        if best_rank is None:
            break
        sym[best_i : best_i + 2] = [sym[best_i] + sym[best_i + 1]]
    return sym


def bpe_encode_col(merges: list[tuple[str, str]], text_col: str | Column) -> Column:
    """Arrow-batched subword segmentation of every word in ``text_col``
    (array<string> output). The merge list broadcasts in the closure —
    no shuffle, no per-row python round-trip."""
    ranks = {pair: i for i, pair in enumerate(merges)}

    @pandas_udf("array<string>")
    def enc(texts: pd.Series) -> pd.Series:
        out = []
        for t in texts:
            pieces: list[str] = []
            for w in (t or "").lower().split():
                pieces.extend(segment_word(w, ranks))
            out.append(pieces)
        return pd.Series(out)

    c = F.col(text_col) if isinstance(text_col, str) else text_col
    return enc(c)


def tokenizer_eval(
    docs: DataFrame,
    merges: list[tuple[str, str]] | None,
    text_col: str = "text",
) -> DataFrame:
    """One row per tokenizer — (tokenizer, n_tokens, n_bytes,
    bytes_per_token): the compression scorecard that decides whether a
    trained BPE earns its place (more bytes per token = fewer sequence
    positions per document = cheaper training; the standard tokenizer-
    comparison metric, cf. public tokenizer-fertility analyses).

    Compares three rungs over the SAME corpus scan lineage:
      * whitespace  — `textstats.token_count`
      * regex BPE-ish — `textstats.bpe_ish_token_count` (untrained)
      * trained BPE — `bpe_encode_col(merges)` (Arrow-batched)
    Each rung is a per-row column + one scalar aggregate; the
    1-row aggregates union into the scorecard. No shuffle beyond the
    map-side-combined scalar aggs.

    ``merges=None`` skips the trained rung: the remaining two rungs are
    pure codegen regex arithmetic with an exact ANSI-SQL twin, which is
    the DuckDB-oracle-backed form the driver gate records; the trained
    rung (not SQL-expressible) is golden-tested in tests/test_bpe.py
    and cataloged separately as a rows-only query."""
    from wc_vector_indexing_spark.operators.textstats import (
        bpe_ish_token_count,
        token_count,
    )

    nbytes = F.octet_length(text_col)
    rungs = {
        "whitespace": token_count(text_col),
        "regex_bpeish": bpe_ish_token_count(text_col),
    }
    if merges is not None:
        rungs["trained_bpe"] = F.size(bpe_encode_col(merges, text_col))
    parts = []
    for name, col in rungs.items():
        parts.append(
            docs.agg(
                F.lit(name).alias("tokenizer"),
                F.sum(col).alias("n_tokens"),
                F.sum(nbytes).alias("n_bytes"),
            )
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out.withColumn(
        "bytes_per_token", F.round(F.col("n_bytes") / F.col("n_tokens"), 4)
    )


def train_or_load_bpe(
    docs: DataFrame,
    path: str,
    num_merges: int = 200,
    min_pair_count: int = 2,
    text_col: str = "text",
    max_words: int = 1_000_000,
) -> list[tuple[str, str]]:
    """Load the persisted merge list if ``path`` exists, else train and
    persist — tokenizer training is an amortized one-time build like the
    IVF quantizer (ivf.IVFIndex.train_or_load), not a per-query cost."""
    import json
    import os

    if os.path.exists(path):
        with open(path) as fh:
            return [tuple(m) for m in json.load(fh)]
    merges = train_bpe(docs, num_merges, min_pair_count, text_col, max_words)
    tmp = path + ".tmp"
    with open(tmp, "w") as fh:
        json.dump([list(m) for m in merges], fh)
    os.replace(tmp, path)
    return merges
