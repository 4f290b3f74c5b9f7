"""Vector math as Catalyst expressions over ``array<float>`` columns.

All JVM-side (``zip_with`` + ``aggregate`` fold inside codegen) — no Python
in the hot path. Elements are cast to double before multiplying so results
are stable and match a double-precision oracle.

These power the similarity-search operators (operators/similarity.py): the
reference delegates ANN to Pinecone's data plane; here the vector index is
a local columnar table and kNN is a scan + top-K.

``dot_to`` / ``cosine_to`` score a column against a CONSTANT vector. They
build the same expression tree as ``dot`` / ``cosine`` over an array
literal, but as one SQL string that Spark parses on the JVM: one py4j
round trip per expression instead of one per literal, cast and lambda
(about 150 for a 64-dim cosine, about 1 ms each).
"""

from __future__ import annotations

import math

from pyspark.sql import Column
from pyspark.sql import functions as F


def _c(col: Column | str) -> Column:
    return F.col(col) if isinstance(col, str) else col


def _d(col: Column | str) -> Column:
    """array<float> -> array<double> for stable arithmetic."""
    return F.transform(_c(col), lambda x: x.cast("double"))


def dot(a: Column | str, b: Column | str) -> Column:
    """Σ a_i·b_i via zip_with + aggregate (left-fold, deterministic order)."""
    prods = F.zip_with(_d(a), _d(b), lambda x, y: x * y)
    return F.aggregate(prods, F.lit(0.0), lambda acc, x: acc + x)


def l2_norm(a: Column | str) -> Column:
    sq = F.aggregate(_d(a), F.lit(0.0), lambda acc, x: acc + x * x)
    return F.sqrt(sq)


def cosine(a: Column | str, b: Column | str) -> Column:
    """Cosine similarity; 0.0 when either norm is zero."""
    denom = l2_norm(a) * l2_norm(b)
    return F.when(denom == 0.0, F.lit(0.0)).otherwise(dot(a, b) / denom)


def l2_distance(a: Column | str, b: Column | str) -> Column:
    diff = F.zip_with(_d(a), _d(b), lambda x, y: (x - y) * (x - y))
    return F.sqrt(F.aggregate(diff, F.lit(0.0), lambda acc, x: acc + x))


def normalized(a: Column | str) -> Column:
    """Unit-normalize; pre-normalizing the index once turns cosine kNN
    into a pure dot-product scan (the 100 TB-friendly layout)."""
    n = l2_norm(a)
    return F.when(n == 0.0, _d(a)).otherwise(F.transform(_d(a), lambda x: x / n))


def _sql_name(name: str) -> str:
    """Column ``name`` as one backtick-quoted SQL identifier."""
    return "`" + name.replace("`", "``") + "`"


def _sql_double(x: float) -> str:
    """A DOUBLE literal that parses back to exactly ``x``: ``repr`` is the
    shortest round-tripping form, but NaN and ±inf have no literal
    syntax, so they are cast from their string."""
    x = float(x)
    return f"{x!r}D" if math.isfinite(x) else f"CAST('{x!r}' AS DOUBLE)"


def _sql_d(vec_col: str) -> str:
    """SQL form of ``_d``."""
    return f"transform({_sql_name(vec_col)}, x -> CAST(x AS DOUBLE))"


def _sql_dot(vec_col: str, c: list[float]) -> str:
    arr = f"array({', '.join(_sql_double(x) for x in c)})"
    return f"aggregate(zip_with({_sql_d(vec_col)}, {arr}, (x, y) -> x * y), 0.0D, (acc, x) -> acc + x)"


def dot_to(vec_col: str, c: list[float]) -> Column:
    """``dot(vec_col, c)`` for a constant vector ``c``, as one expression."""
    return F.expr(_sql_dot(vec_col, c))


def cosine_to(vec_col: str, q: list[float]) -> Column:
    """``cosine(vec_col, q)`` for a constant vector ``q``, as one
    expression; ``q``'s norm is folded to a literal, so each row runs one
    dot fold and one norm fold."""
    qnorm = _sql_double(math.sqrt(sum(float(x) * float(x) for x in q)))
    denom = f"(sqrt(aggregate({_sql_d(vec_col)}, 0.0D, (acc, x) -> acc + x * x)) * {qnorm})"
    return F.expr(f"CASE WHEN {denom} = 0.0D THEN 0.0D ELSE {_sql_dot(vec_col, q)} / {denom} END")
