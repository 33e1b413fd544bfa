"""Vector algebra over embedding columns (``array<float>``).

:func:`dot` and :func:`norm` are ``zip_with`` / ``aggregate`` column
algebra — JVM-side, no UDFs. Entity linkage scores mention contexts
against entity embeddings with them (:mod:`.linkage`).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def norm(a: Column) -> Column:
    return F.sqrt(
        F.aggregate(a, F.lit(0.0), lambda acc, v: acc + v * v)
    )
