"""Vector math as Column expressions (JVM-side, no Python).

``F.zip_with`` + a sequential ``F.aggregate`` fold keeps summation
order deterministic (left-to-right), which is what lets the DuckDB
oracle reproduce results bit-for-bit. For 64-dim embeddings the fold
is a few hundred codegen'd instructions — far cheaper than shipping
vectors through Arrow into Python.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def _c(col: str | Column) -> Column:
    return F.col(col) if isinstance(col, str) else col


def as_double_array(col: str | Column) -> Column:
    return F.transform(_c(col), lambda v: v.cast("double"))


def dot(a: str | Column, b: str | Column) -> Column:
    """Left-to-right fold of pairwise products (order-deterministic)."""
    prods = F.zip_with(_c(a), _c(b), lambda x, y: x * y)
    return F.aggregate(prods, F.lit(0.0), lambda acc, v: acc + v)


def norm2(a: str | Column) -> Column:
    return F.sqrt(dot(a, a))


def cosine(a: str | Column, b: str | Column) -> Column:
    """Cosine similarity; assumes nonzero vectors."""
    return dot(a, b) / (norm2(a) * norm2(b))
