"""Vector column expressions over array<float>/array<double> embeddings.

All JVM-side (F.aggregate / F.zip_with fold over the array in element
order) — no Python in the hot path, and the left-to-right fold makes the
result deterministic for a given array, independent of partitioning.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def _c(col: Column | str) -> Column:
    return F.col(col) if isinstance(col, str) else col


def dot(a: Column | str, b: Column | str) -> Column:
    """Sequential-fold dot product in double."""
    prods = F.zip_with(_c(a), _c(b), lambda x, y: x.cast("double") * y.cast("double"))
    return F.aggregate(prods, F.lit(0.0), lambda acc, x: acc + x)


def l2_norm(a: Column | str) -> Column:
    return F.sqrt(F.aggregate(
        _c(a), F.lit(0.0),
        lambda acc, x: acc + x.cast("double") * x.cast("double")))


def cosine_sim(a: Column | str, b: Column | str) -> Column:
    """NULL when either vector is all zeros (try_divide, so ANSI mode
    does not raise) — the contract of retrieval_index.cosine()."""
    return F.try_divide(dot(a, b), l2_norm(a) * l2_norm(b))
