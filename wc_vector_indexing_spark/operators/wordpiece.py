"""WordPiece tokenizer training and inference (Schuster & Nakajima
2012; the BERT tokenizer) — completes the subword trio next to BPE
(operators/bpe.py) and unigram-LM (operators/unigram_lm.py).

Same production scale split as its siblings:

  * corpus-scale: ONE distributed word-count aggregation
    (``bpe.word_counts`` is reused verbatim — identical contract), and
    :func:`pair_scores`, the first-iteration pair-likelihood table in
    PURE Catalyst (transform/zip_with/explode + two bounded aggs) —
    the stage you profile to see what the trainer will merge first,
    and the oracle-backed registry surface.
  * driver-local: :func:`train_wordpiece_from_counts`, the merge loop
    over the bounded word-frequency table. WordPiece differs from BPE
    in exactly one line: the merged pair maximizes
    ``count(ab) / (count(a)·count(b))`` (a likelihood-ratio score
    favoring pairs that co-occur beyond chance) instead of raw
    ``count(ab)``. Score comparison is done by INTEGER
    cross-multiplication — no float ever enters the argmax, so the
    vocab is an exact function of the corpus on any platform.
  * inference: :func:`wordpiece_encode_col`, the BERT greedy
    longest-match-first segmentation as an Arrow-batched pandas UDF
    (vocab broadcasts in the closure; no shuffle).

Continuation pieces carry the ``##`` prefix; a word with any
un-matchable remainder encodes as a single ``[UNK]`` (the published
algorithm's all-or-nothing rule, not per-char fallback — that's the
unigram tokenizer's convention, kept deliberately distinct).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf

from wc_vector_indexing_spark.operators.bpe import word_counts

UNK = "[UNK]"
_SCALE = 1_000_000_000  # parts-per-billion integer score


def _symbols(word: str) -> list[str]:
    return [word[0]] + ["##" + c for c in word[1:]] if word else []


def pair_scores(counts: DataFrame, top_k: int = 20) -> DataFrame:
    """(a, b, pair_n, score_ppb): the first-iteration WordPiece pair
    table over a (word, n) frequency DataFrame — score as an EXACT
    integer, ``pair_n · 10^9 div (n_a · n_b)``, so any engine
    reproduces it bit-for-bit (no float in the ranking, mirroring the
    trainer's cross-multiplied argmax).

    All Catalyst: chars via split + transform (index 0 bare, rest
    ``##``-prefixed), adjacent pairs via two slices zip_with'd, one
    explode per side, two hash aggs over the BOUNDED symbol/pair
    alphabets, broadcast-joined back. The corpus never shuffles — only
    (word, n) rows do, and those are already the capped dim table."""
    syms = F.transform(
        F.split(F.col("word"), ""),
        lambda c, i: F.when(i == 0, c).otherwise(F.concat(F.lit("##"), c)),
    )
    with_syms = counts.select("word", "n", syms.alias("syms"))
    pairs = with_syms.select(
        "n",
        F.explode(
            F.zip_with(
                F.slice(F.col("syms"), 1, F.size("syms") - 1),
                F.slice(F.col("syms"), 2, F.size("syms") - 1),
                lambda a, b: F.struct(a.alias("a"), b.alias("b")),
            )
        ).alias("p"),
    )
    pair_counts = (
        pairs.groupBy(F.col("p.a").alias("a"), F.col("p.b").alias("b"))
        .agg(F.sum("n").alias("pair_n"))
    )
    sym_counts = (
        with_syms.select("n", F.explode("syms").alias("sym"))
        .groupBy("sym").agg(F.sum("n").alias("sym_n"))
    )
    a_n = F.broadcast(sym_counts.select(F.col("sym").alias("a"),
                                        F.col("sym_n").alias("a_n")))
    b_n = F.broadcast(sym_counts.select(F.col("sym").alias("b"),
                                        F.col("sym_n").alias("b_n")))
    return (
        pair_counts.join(a_n, "a").join(b_n, "b")
        .select(
            "a", "b", "pair_n",
            # integer `div`, never a double: exact on any engine
            F.expr(f"pair_n * {_SCALE}L div (a_n * b_n)")
            .alias("score_ppb"),
        )
        .orderBy(F.desc("score_ppb"), "a", "b")
        .limit(top_k)
    )


def train_wordpiece_from_counts(
    counts: dict[str, int],
    vocab_size: int = 200,
    min_pair_count: int = 2,
) -> list[str]:
    """The WordPiece merge loop over a word-frequency dict → the vocab
    list (alphabet first, then merged tokens in creation order).
    Argmax by likelihood score with EXACT integer cross-multiplication;
    ties break on the lexicographically smallest (a, b)."""
    vocab_words: dict[tuple[str, ...], int] = {}
    for w, n in counts.items():
        if not w:
            continue
        sym = tuple(_symbols(w))
        vocab_words[sym] = vocab_words.get(sym, 0) + n

    alphabet = sorted({s for sym in vocab_words for s in sym})
    vocab: list[str] = list(alphabet)
    seen = set(vocab)

    while len(vocab) < vocab_size:
        sym_n: dict[str, int] = {}
        pair_n: dict[tuple[str, str], int] = {}
        for sym, n in vocab_words.items():
            for s in sym:
                sym_n[s] = sym_n.get(s, 0) + n
            for a, b in zip(sym, sym[1:]):
                pair_n[(a, b)] = pair_n.get((a, b), 0) + n
        best: tuple[str, str] | None = None
        best_num = best_den = 0  # score = num/den, compared exactly
        for (a, b), c in pair_n.items():
            if c < min_pair_count:
                continue
            num, den = c, sym_n[a] * sym_n[b]
            if best is None or num * best_den > best_num * den or (
                num * best_den == best_num * den and (a, b) < best
            ):
                best, best_num, best_den = (a, b), num, den
        if best is None:
            break
        a, b = best
        merged = a + b[2:] if b.startswith("##") else a + b
        new_words: dict[tuple[str, ...], int] = {}
        for sym, n in vocab_words.items():
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
            new_words[t] = new_words.get(t, 0) + n
        vocab_words = new_words
        if merged not in seen:
            vocab.append(merged)
            seen.add(merged)
    return vocab


def train_wordpiece(
    docs: DataFrame,
    vocab_size: int = 200,
    min_pair_count: int = 2,
    text_col: str = "text",
    max_words: int = 1_000_000,
) -> list[str]:
    """End-to-end: distributed word counting (shared with BPE) +
    driver-local merge loop."""
    counts = {r.word: r.n
              for r in word_counts(docs, text_col, max_words).collect()}
    return train_wordpiece_from_counts(counts, vocab_size, min_pair_count)


def wordpiece_tokenize(
    word: str, vocab: set[str], max_word_chars: int = 100,
) -> list[str]:
    """BERT greedy longest-match-first over ONE word: repeatedly take
    the longest vocab piece matching at the cursor (continuation
    pieces ``##``-prefixed); any dead end → the whole word is [UNK]."""
    if not word:
        return []
    if len(word) > max_word_chars:
        return [UNK]
    pieces: list[str] = []
    start = 0
    while start < len(word):
        end = len(word)
        cur = None
        while end > start:
            piece = word[start:end]
            if start > 0:
                piece = "##" + piece
            if piece in vocab:
                cur = piece
                break
            end -= 1
        if cur is None:
            return [UNK]
        pieces.append(cur)
        start = end
    return pieces


def wordpiece_encode_col(
    vocab: list[str] | set[str], text_col: str | Column,
    max_word_chars: int = 100,
) -> Column:
    """Arrow-batched WordPiece segmentation of every whitespace word in
    ``text_col`` (array<string>). The vocab set broadcasts in the
    closure — no shuffle, no per-row python round-trip. Normalization
    matches the trainer's word_counts contract (lower + split)."""
    vset = set(vocab)

    @pandas_udf("array<string>")
    def enc(texts: pd.Series) -> pd.Series:
        out = []
        for t in texts:
            pieces: list[str] = []
            for w in (t or "").lower().split():
                pieces.extend(wordpiece_tokenize(w, vset, max_word_chars))
            out.append(pieces)
        return pd.Series(out)

    c = F.col(text_col) if isinstance(text_col, str) else text_col
    return enc(c)
