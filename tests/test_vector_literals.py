"""``cosine_to`` / ``dot_to`` (functions/vectors.py) score a column
against a constant vector as one SQL expression. They must return
exactly the rows of the Column-built ``cosine`` / ``dot`` over an
array literal, bit for bit, on every edge a float can take."""

from __future__ import annotations

import struct

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from wc_vector_indexing_spark.functions.vectors import cosine, cosine_to, dot, dot_to
from wc_vector_indexing_spark.operators.similarity import knn_exact

NAN, INF = float("nan"), float("inf")

ROWS = [
    (1, [1.0, 2.0, 3.0]),
    (2, [0.0, 0.0, 0.0]),  # zero-norm row
    (3, [NAN, 1.0, 1.0]),
    (4, [INF, 1.0, 0.0]),
    (5, [-INF, -0.0, 1.0]),
    (6, [1e-30, 1e30, -2.5]),
    (7, [3.4e38, -3.4e38, 1e-45]),  # float32 extremes: the squares overflow
    (8, None),
]

QUERIES = [
    [0.0, 0.0, 0.0],
    [-0.0, 0.0, -0.0],
    [1.0, -2.0, 0.5],
    [1e-300, 1e300, 5e-324],
    [1e-200, 0.0, 0.0],  # nonzero, but its squared norm underflows to 0
    [NAN, 1.0, 2.0],
    [INF, -INF, 1.0],
    [1.7976931348623157e308, 2.2250738585072014e-308, -1.5],
]


def _frame(spark, name, rows=ROWS):
    schema = T.StructType(
        [T.StructField("id", T.IntegerType()), T.StructField(name, T.ArrayType(T.FloatType()))]
    )
    return spark.createDataFrame(rows, schema)


def _bits(rows):
    """Rows with every double as its IEEE bytes: NaN == NaN, -0.0 != 0.0."""
    return [
        tuple(struct.pack("<d", v) if isinstance(v, float) else v for v in r) for r in rows
    ]


@pytest.mark.parametrize("name", ["v", "values", "a b", "a.b", "a`b"])
def test_constant_vector_scores_equal_column_built(spark, name):
    df = _frame(spark, name)
    ref = F.col("`" + name.replace("`", "``") + "`")
    for q in QUERIES:
        lit = F.array(*[F.lit(float(x)) for x in q])
        got = df.select("id", cosine_to(name, q), dot_to(name, q)).orderBy("id")
        want = df.select("id", cosine(ref, lit), dot(ref, lit)).orderBy("id")
        assert _bits(got.collect()) == _bits(want.collect()), q


def test_constant_vector_scores_on_empty_index(spark):
    df = _frame(spark, "v", rows=[])
    q = QUERIES[2]
    assert df.select(cosine_to("v", q), dot_to("v", q)).collect() == []
    assert knn_exact(df, q, vec_col="v", id_col="id").collect() == []


def test_knn_exact_matches_column_built_top_k(spark):
    df = _frame(spark, "v", rows=[r for r in ROWS if r[1] is not None and r[0] not in (3, 4, 5, 7)])
    for q in ([1.0, -2.0, 0.5], [0.0, 0.0, 0.0]):
        lit = F.array(*[F.lit(float(x)) for x in q])
        want = (
            df.select("id", cosine(F.col("v"), lit).alias("score"))
            .orderBy(F.desc("score"), F.asc("id"))
            .limit(3)
        )
        got = knn_exact(df, q, k=3, vec_col="v", id_col="id")
        assert _bits(got.collect()) == _bits(want.collect()), q
