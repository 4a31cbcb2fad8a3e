"""Vector (embedding) column functions — built-in expressions only.

Operate on ``array<float>`` / ``array<double>`` embedding columns.
``F.zip_with`` + ``F.aggregate`` keep the arithmetic JVM-side in a
strict left-to-right fold, which an external oracle can reproduce
exactly (same operation order → bit-identical doubles). For wide
vectors on the hot path a pandas UDF over Arrow would be faster per
batch; at 64-dim the codegen'd fold is competitive and avoids Python.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def as_double(v: Column) -> Column:
    """Normalize any numeric array to array<double> so mixed float32
    inputs don't produce engine-dependent single-precision folds."""
    return v.cast("array<double>")


def dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(as_double(a), as_double(b), lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def norm2(a: Column) -> Column:
    return F.sqrt(dot(a, a))


def cosine(a: Column, b: Column) -> Column:
    """Cosine similarity; null when either vector has zero norm."""
    return F.try_divide(dot(a, b), norm2(a) * norm2(b))


def lsh_bucket(v: Column, planes: list[list[float]]) -> Column:
    """Sign-random-projection LSH bucket id (SimHash for vectors).

    ``planes`` is a small deterministic list of hyperplane normals
    (driver-side constants, broadcast with the plan). bucket =
    sum_i sign(v·p_i) * 2^i. Vectors in the same bucket are candidate
    near neighbors — the scale path for ANN: group/join on bucket
    instead of the full cross join.
    """
    out = None
    for i, p in enumerate(planes):
        arr = F.array(*[F.lit(float(x)) for x in p])
        bit = F.when(dot(v, arr) >= 0, F.lit(1)).otherwise(F.lit(0)).cast("long")
        term = bit * F.lit(2**i).cast("long")
        out = term if out is None else out + term
    return out if out is not None else F.lit(0).cast("long")


def random_planes(num_planes: int, dim: int, seed: int = 11) -> list[list[float]]:
    """Deterministic pseudo-random hyperplanes via an LCG (no numpy RNG
    state, so the same constants are derivable anywhere, incl. SQL)."""
    planes = []
    x = seed
    for _ in range(num_planes):
        row = []
        for _ in range(dim):
            x = (x * 1_103_515_245 + 12_345) % 2_147_483_647
            row.append((x / 2_147_483_647.0) * 2.0 - 1.0)
        planes.append(row)
    return planes
