"""Shared column-expression helpers (JVM-side, whole-stage-codegen friendly).

Everything here returns Column expressions built from `pyspark.sql.functions`
— no Python UDFs — so they fuse into codegen and survive 100× scale-ups.
"""

from __future__ import annotations

from pyspark.sql import Column, functions as F


def tokens(col, lowercase: bool = True) -> Column:
    """Non-empty whitespace tokens."""
    c = F.lower(col) if lowercase else col
    return F.filter(F.split(c, r"\s+"), lambda x: x != "")


def shingles(col, n: int = 3) -> Column:
    """Distinct word n-gram shingles."""
    t = tokens(col)
    idx = F.sequence(F.lit(0), F.greatest(F.size(t) - n, F.lit(0)))
    return F.array_distinct(
        F.transform(idx, lambda i: F.array_join(F.slice(t, i + 1, n), " "))
    )


def dot(a, b) -> Column:
    """Element-wise dot product of two array<numeric> columns (double)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def cosine(a, b) -> Column:
    return dot(a, b) / (F.sqrt(dot(a, a)) * F.sqrt(dot(b, b)))
