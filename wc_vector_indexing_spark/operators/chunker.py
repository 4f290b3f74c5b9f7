"""Deterministic sentence-aware token-budget chunker (SURVEY §2.3, C1-C5).

Reference behavior (class-chunker.php:24-267): normalize text; split into
paragraph/sentence units; greedily pack units into chunks of
``size * 4.0`` characters; on overflow flush the chunk and carry a
word-safe overlap tail (``overlap * 4.0`` chars) into the next chunk;
over-budget sentences are word-split, over-budget single words are
hard-split fixed-width. Emits ``{index, text, chars, approx_tokens}``.

Chunking MUST be bit-for-bit deterministic — it feeds the chunk
fingerprint and the delta diff (dev-plan :779-794, acceptance :938-940).
Divergence note (SURVEY §7.4): budgets here are in *characters* (PHP's
``strlen`` counts bytes); golden tests in tests/test_chunker.py pin OUR
behavior.

Spark integration: the packing loop is inherently sequential per document,
so it runs as a vectorized pandas UDF returning ``array<struct>`` which is
then ``posexplode``d — one row in, N chunk rows out. This parallelizes
perfectly across documents (each doc is independent), which is the axis
that matters at 100 TB.
"""

from __future__ import annotations

import math
import re
from dataclasses import dataclass

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.functions import pandas_udf

from wc_vector_indexing_spark.config import (
    CHARS_PER_TOKEN,
    DEFAULT_CHUNK_OVERLAP,
    DEFAULT_CHUNK_SIZE,
)

CHUNK_STRUCT = T.StructType(
    [
        T.StructField("index", T.IntegerType(), False),
        T.StructField("text", T.StringType(), False),
        T.StructField("chars", T.IntegerType(), False),
        T.StructField("approx_tokens", T.IntegerType(), False),
    ]
)
CHUNK_ARRAY_TYPE = T.ArrayType(CHUNK_STRUCT)

_SENTENCE_SPLIT = re.compile(r"(?<=[.!?…。！？])\s+")  # class-chunker.php:163-176
_PARA_SPLIT = re.compile(r"\n{2,}")


def normalize_text(text: str) -> str:
    """CRLF→LF, tabs→space, per-line edge-trim, ≥3 newlines→2, trim ends
    (C2, class-chunker.php:109-123). Must match functions.text.normalize_text."""
    if not text:
        return ""
    t = re.sub(r"\r\n?", "\n", text)
    t = t.replace("\t", " ")
    t = re.sub(r"[ \t]*\n[ \t]*", "\n", t)
    t = re.sub(r"\n{3,}", "\n\n", t)
    return t.strip()


def to_units(text: str) -> list[str]:
    """Paragraph split (explicit '\\n\\n' delimiter units) then sentence
    split with punctuation kept (C3, class-chunker.php:129-176). The
    concatenation of all units round-trips the normalized text."""
    units: list[str] = []
    paras = _PARA_SPLIT.split(text)
    for i, para in enumerate(paras):
        if i > 0:
            units.append("\n\n")
        if not para:
            continue
        sentences = _SENTENCE_SPLIT.split(para)
        for j, s in enumerate(sentences):
            units.append(s if j == len(sentences) - 1 else s + " ")
    return units


def split_long_unit(unit: str, budget: int) -> list[str]:
    """Over-budget sentence → word fragments ≤ budget; over-budget single
    word → fixed-width hard split (C4, class-chunker.php:197-242).

    Words are delimited by ANY whitespace run (the reference splits on
    ``/\\s+/u``, class-chunker.php:199) — splitting on spaces alone made
    ``'giantword\\nshort'`` one giant "word" whose fixed-width hard split
    could land inside ``short``, losing a word the budget had room for
    (hypothesis-found). Inside an over-budget unit, internal newlines
    collapse to the single-space rejoin, same as the reference."""
    frags: list[str] = []
    cur = ""
    for word in unit.split():
        while len(word) > budget:  # hard split a giant word
            if cur:
                frags.append(cur + " ")
                cur = ""
            frags.append(word[:budget])
            word = word[budget:]
        cand = f"{cur} {word}" if cur else word
        if len(cand) > budget:
            frags.append(cur + " ")
            cur = word
        else:
            cur = cand
    if cur:
        frags.append(cur)
    return frags


def word_safe_tail(chunk: str, overlap_chars: int) -> str:
    """Overlap tail from the chunk end, snapped forward to the next
    whitespace so it never starts mid-word, then left-trimmed (C5,
    class-chunker.php:247-267)."""
    if overlap_chars <= 0 or not chunk:
        return ""
    if len(chunk) <= overlap_chars:
        return chunk.lstrip()
    cut = len(chunk) - overlap_chars
    if chunk[cut - 1] not in " \n":
        nxt = -1
        for k in range(cut, len(chunk)):
            if chunk[k] in " \n":
                nxt = k
                break
        if nxt == -1:
            return ""  # tail would be a fragment of one giant word: skip overlap
        cut = nxt
    return chunk[cut:].lstrip()


@dataclass(frozen=True)
class Chunk:
    index: int
    text: str
    chars: int
    approx_tokens: int


def chunk_text(
    text: str,
    size: int = DEFAULT_CHUNK_SIZE,
    overlap: int = DEFAULT_CHUNK_OVERLAP,
    chars_per_token: float = CHARS_PER_TOKEN,
) -> list[Chunk]:
    """The C1 packing loop (class-chunker.php:24-103). Pure function of its
    arguments — no clock, randomness, or locale dependence.

    Size invariant: every chunk's ``chars <= budget + overlap_chars``.
    The overlap tail carried into a chunk is *extra* context on top of
    the packing budget — shrinking the first piece to compensate would
    split mid-sentence, defeating the sentence-aware design.
    """
    budget = max(1, int(size * chars_per_token))
    overlap_chars = max(0, int(overlap * chars_per_token))
    overlap_chars = min(overlap_chars, budget // 2)  # overlap may never dominate
    t = normalize_text(text)
    if not t:
        return []

    out: list[str] = []
    cur = ""

    def flush() -> str:
        nonlocal cur
        c = cur.strip()
        if c:
            out.append(c)
        cur = ""
        return c

    for unit in to_units(t):
        pieces = split_long_unit(unit, budget) if len(unit) > budget else [unit]
        for piece in pieces:
            if cur and len(cur) + len(piece) > budget:
                done = flush()
                tail = word_safe_tail(done, overlap_chars)
                cur = tail + (" " if tail and not tail.endswith(("\n", " ")) else "")
            cur += piece
    flush()

    return [
        Chunk(i, c, len(c), math.ceil(len(c) / chars_per_token))
        for i, c in enumerate(out)
    ]


def chunk_udf(
    size: int = DEFAULT_CHUNK_SIZE,
    overlap: int = DEFAULT_CHUNK_OVERLAP,
) -> Column:
    """Factory for the vectorized chunking UDF: string -> array<struct>."""

    @pandas_udf(CHUNK_ARRAY_TYPE)
    def _chunk(texts: pd.Series) -> pd.Series:
        return texts.map(
            lambda t: [
                {
                    "index": c.index,
                    "text": c.text,
                    "chars": c.chars,
                    "approx_tokens": c.approx_tokens,
                }
                for c in chunk_text(t or "", size=size, overlap=overlap)
            ]
        )

    return _chunk


def chunk_documents(
    df: DataFrame,
    text_col: str = "text",
    size: int = DEFAULT_CHUNK_SIZE,
    overlap: int = DEFAULT_CHUNK_OVERLAP,
) -> DataFrame:
    """1 document row -> N chunk rows (the engine's one 'table-generating
    function', SURVEY §2.11). Keeps every input column, adds
    ``chunk_index, chunk_text, chunk_chars, approx_tokens``.

    Documents with empty or NULL text produce zero rows — matching the
    reference's skip-empty behavior. The empty chunk arrays are dropped
    by ``explode_outer`` + a NULL filter, not by ``explode``: Spark infers
    ``size(_chunks) > 0`` from an inner explode and pushes it below the
    fan-out exchange, which evaluates the chunking UDF a second time.

    Partitioning: a small parquet file arrives as ONE partition, which
    would serialize the (python-side) chunking onto one core — so the
    input is fanned out (``fan_out``) to the session's default
    parallelism first when it is under-partitioned. At real scale the
    scan already yields hundreds of partitions and the repartition is a
    no-op branch.
    """
    from wc_vector_indexing_spark.functions.partitioning import fan_out

    chunked = fan_out(df).withColumn(
        "_chunks", chunk_udf(size=size, overlap=overlap)(F.col(text_col))
    )
    exploded = (
        chunked.select("*", F.explode_outer("_chunks").alias("_c"))
        .drop("_chunks")
        .filter(F.col("_c").isNotNull())
    )
    return (
        exploded.withColumn("chunk_index", F.col("_c.index"))
        .withColumn("chunk_text", F.col("_c.text"))
        .withColumn("chunk_chars", F.col("_c.chars"))
        .withColumn("approx_tokens", F.col("_c.approx_tokens"))
        .drop("_c")
    )
