"""Vector math over ``array<float>`` columns — pure Column expressions.

Everything stays JVM-side (``F.zip_with`` / ``F.aggregate`` run inside
codegen), so a 100 TB embedding scan never crosses the Python boundary.
Used by the similarity-search and embedding-dedup operators (SURVEY §2.2
B48/B49).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def dot(a: Column, b: Column) -> Column:
    """Dot product of two array<numeric> columns."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def norm(a: Column) -> Column:
    """L2 norm."""
    return F.sqrt(F.aggregate(a, F.lit(0.0), lambda acc, x: acc + x * x))


def cosine(a: Column, b: Column) -> Column:
    """Cosine similarity; NULL-safe-ish (0-norm yields NULL, as in DuckDB)."""
    return dot(a, b) / (norm(a) * norm(b))
