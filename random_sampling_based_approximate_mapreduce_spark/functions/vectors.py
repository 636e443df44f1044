"""Vector math over ``array<float>`` embedding columns — pure Column
expressions (``zip_with``/``aggregate``), JVM-side, no UDFs.

Used by the similarity-search operators (operators/similarity.py). At
100 TB scale these run inside whole-stage codegen per row; the quadratic
part of kNN is handled by blocking (LSH/IVF) in the operator layer, not
here.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def dot(a: Column, b: Column) -> Column:
    """Dot product of two equal-length numeric arrays."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def norm(a: Column) -> Column:
    """Euclidean norm of a numeric array."""
    return F.sqrt(F.aggregate(a, F.lit(0.0), lambda acc, v: acc + v * v))


def cosine(a: Column, b: Column) -> Column:
    """Cosine similarity; 0.0 when either vector has zero norm."""
    denom = norm(a) * norm(b)
    return F.when(denom == 0, F.lit(0.0)).otherwise(dot(a, b) / denom)

