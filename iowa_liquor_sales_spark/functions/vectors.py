"""Vector math over ``array<float>`` embedding columns — JVM-side only.

``F.zip_with``/``F.aggregate`` are Catalyst higher-order functions: the dot
product runs in the JVM with zero Python involvement, but Spark evaluates
higher-order functions interpreted, not inside whole-stage codegen.
Accumulation is sequential over the array (deterministic), matching a
single-threaded oracle's evaluation order.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def dot(a: Column | str, b: Column | str) -> Column:
    ca = F.col(a) if isinstance(a, str) else a
    cb = F.col(b) if isinstance(b, str) else b
    return F.aggregate(
        F.zip_with(ca, cb, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def l2_norm(a: Column | str) -> Column:
    ca = F.col(a) if isinstance(a, str) else a
    return F.sqrt(
        F.aggregate(
            ca,
            F.lit(0.0),
            lambda acc, v: acc + v.cast("double") * v.cast("double"),
        )
    )


def cosine_similarity(a: Column | str, b: Column | str) -> Column:
    """Cosine similarity; NULL-safe via try-division semantics at callers
    (embeddings here are never zero vectors)."""
    return dot(a, b) / (l2_norm(a) * l2_norm(b))
