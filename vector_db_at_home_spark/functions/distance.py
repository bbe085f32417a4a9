"""Vector-distance column expressions.

The reference computes exact L2 distance with a NumPy broadcast subtract +
row-wise norm (``vector_store.py:291``).  Here the kernel is expressed with
Spark's built-in higher-order functions ``zip_with`` + ``aggregate``: it stays
JVM-side with no Python in the hot path (SURVEY.md §2.2), but it is NOT
whole-stage codegen — higher-order functions are interpreted row by row (the
``Project`` holding them has no ``*(n)`` marker in ``explain()``).  A
16-query ``VectorStore.search`` built on it took about 1.3 s (6 Spark jobs)
over 20k × 64 vectors on a 4-core host; the store now scores with
``operators.knn.knn_search_collect``, which reproduces the arithmetic below
in NumPy.  On ``array<float>`` inputs the element difference and square are
float32 and the fold accumulates them in double, left to right; the
reference's float32 results differ by < 1e-6 relative (SURVEY.md §7.4.1).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def _sum_elements(col: Column) -> Column:
    """Sequential left-to-right fold — deterministic, matches a scalar loop."""
    return F.aggregate(col, F.lit(0.0), lambda acc, v: acc + v)


def squared_l2_distance(a: Column | str, b: Column | str) -> Column:
    diff_sq = F.zip_with(a, b, lambda x, y: (x - y) * (x - y))
    return _sum_elements(diff_sq)


def l2_distance(a: Column | str, b: Column | str) -> Column:
    """Exact Euclidean distance between two float-array columns."""
    return F.sqrt(squared_l2_distance(a, b))


def dot_product(a: Column | str, b: Column | str) -> Column:
    return _sum_elements(F.zip_with(a, b, lambda x, y: x * y))


def l2_norm(a: Column | str) -> Column:
    return F.sqrt(_sum_elements(F.zip_with(a, a, lambda x, y: x * y)))


def cosine_similarity(a: Column | str, b: Column | str) -> Column:
    """Cosine similarity; 0.0 when either vector has zero norm."""
    denom = l2_norm(a) * l2_norm(b)
    return F.when(denom == 0.0, F.lit(0.0)).otherwise(dot_product(a, b) / denom)
