"""JVM-side vector math over array<float> columns.

The engine's replacement for the reference's numpy inner products
(reference clip_back.py:362 index.search — unit vectors, so inner product
IS cosine; normalization at mapper.py:58,66). Python/pandas is used for
nothing here.

The higher-order functions used here (``zip_with``, ``aggregate``,
``transform``) do NOT compile: in spark-catalyst 4.1.2 ``ZipWith``,
``ArrayAggregate`` and ``ArrayTransform`` implement ``CodegenFallback``,
so whole-stage codegen calls back into the interpreted expression for
them. They stay because the compiled alternative measured slower: a
``dot`` unrolled into 64 generated multiply-adds was bit-identical but 4x
slower (1.27 s against 0.29-0.34 s over the 40,913 entity pairs of a
``build_open_vocab`` seed-3 build), its generated method being too large
for the JVM to JIT-compile.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def dot(a: Column | str, b: Column | str) -> Column:
    """Dot product of two equal-length array<float|double> columns,
    accumulated in double, left-to-right (deterministic)."""
    a, b = F.col(a) if isinstance(a, str) else a, F.col(b) if isinstance(b, str) else b
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def l2_norm(a: Column | str) -> Column:
    a = F.col(a) if isinstance(a, str) else a
    return F.sqrt(
        F.aggregate(
            a,
            F.lit(0.0),
            lambda acc, x: acc + x.cast("double") * x.cast("double"),
        )
    )


def cosine(a: Column | str, b: Column | str) -> Column:
    """Full cosine (pays two norms); prefer ``dot`` for unit vectors."""
    return dot(a, b) / (l2_norm(a) * l2_norm(b))


def l2_normalize(a: Column | str) -> Column:
    """array<double>, unit length (zero vector passes through)."""
    a = F.col(a) if isinstance(a, str) else a
    n = l2_norm(a)
    return F.when(n == 0.0, a.cast("array<double>")).otherwise(
        F.transform(a, lambda x: x.cast("double") / n)
    )


def blend(a: Column | str, b: Column | str, weight: float) -> Column:
    """Renormalized weighted vector blend: unit(a + weight*b) — the
    reference's aesthetic-re-rank query arithmetic (clip_back.py:250-253:
    query = normalized(query + aesthetic_embedding * weight)) as a
    Catalyst expression."""
    a = F.col(a) if isinstance(a, str) else a
    b = F.col(b) if isinstance(b, str) else b
    summed = F.zip_with(
        a, b,
        lambda x, y: x.cast("double") + F.lit(float(weight)) * y.cast("double"),
    )
    n = F.sqrt(
        F.aggregate(summed, F.lit(0.0), lambda acc, x: acc + x * x)
    )
    return F.when(n == 0.0, summed).otherwise(
        F.transform(summed, lambda x: x / n)
    )
