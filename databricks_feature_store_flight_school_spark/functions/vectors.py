"""Vector math over ``array<float>`` embedding columns, as pure Column
expressions (JVM higher-order functions — no Python in the scoring loop).

All math is done in double after an explicit element cast, so results are
bit-identical to the DuckDB oracle's ``CAST(x AS DOUBLE[])`` path (both
engines then run the same left-to-right IEEE summation).
"""

from __future__ import annotations

from pyspark.sql import Column, functions as F


def to_double(vec: Column) -> Column:
    return F.transform(vec, lambda x: x.cast("double"))


def dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, v: acc + v
    )


def norm(a: Column) -> Column:
    return F.sqrt(dot(a, a))


def cosine(a: Column, b: Column) -> Column:
    """Cosine similarity of two double vectors (null/zero-norm safe)."""
    d = dot(a, b)
    denom = norm(a) * norm(b)
    return F.when(denom > 0, d / denom)


def hyperplane_bucket(vec: Column, planes: list[list[float]]) -> Column:
    """Random-hyperplane LSH bucket id: bit i = sign(vec · plane_i).

    ``planes`` are driver-side constants (deterministic seed), folded into
    the expression as array literals — broadcast-free, shuffle-free."""
    bucket = F.lit(0).cast("long")
    for i, plane in enumerate(planes):
        lit_plane = F.array(*[F.lit(float(v)) for v in plane])
        bucket = bucket + F.when(
            dot(vec, lit_plane) >= 0, F.shiftleft(F.lit(1).cast("long"), i)
        ).otherwise(F.lit(0).cast("long"))
    return bucket
