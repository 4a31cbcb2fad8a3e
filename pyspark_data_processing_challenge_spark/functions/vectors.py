"""Vector (embedding) column functions — built-in expressions only.

Operate on ``array<float>`` / ``array<double>`` embedding columns.
``zip_with`` + ``aggregate`` keep the arithmetic JVM-side in a strict
left-to-right fold, which an external oracle can reproduce
exactly (same operation order → bit-identical doubles). For wide
vectors on the hot path a pandas UDF over Arrow would be faster per
batch; at 64-dim the codegen'd fold is competitive and avoids Python.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# The left fold of :func:`dot` as Spark SQL text over two array<double>
# operands. ``F.expr`` parses a kernel built from it in ONE JVM call;
# the Python lambda builders (``F.zip_with``/``F.aggregate``) cost
# dozens of Py4J round trips per kernel at DataFrame-build time. The
# expression tree is the same, so the doubles are the same.
_DOT_SQL = "aggregate(zip_with({a}, {b}, (x, y) -> x * y), 0D, (acc, x) -> acc + x)"


def _double(col: str) -> str:
    return f"cast({col} as array<double>)"


def _norm_sql(v: str) -> str:
    return f"sqrt({_DOT_SQL.format(a=v, b=v)})"


def _cosine_sql(va: str, na: str, vb: str, nb: str) -> str:
    return f"try_divide({_DOT_SQL.format(a=va, b=vb)}, {na} * {nb})"


def as_double(v: Column) -> Column:
    """Normalize any numeric array to array<double> so mixed float32
    inputs don't produce engine-dependent single-precision folds."""
    return v.cast("array<double>")


def dot(a: Column, b: Column) -> Column:
    """Left-fold dot product of two Column operands.

    Only for operands that are not columns — a literal array (the
    hyperplanes of :func:`lsh_bucket`) or a HOF lambda variable — which
    SQL text cannot name. Kernels over named columns go through
    :func:`stage`/:func:`staged_cosine`/:func:`cosine_cols`, one JVM
    call each instead of dozens of Py4J round trips."""
    return F.aggregate(
        F.zip_with(as_double(a), as_double(b), lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def cosine(a: Column, b: Column) -> Column:
    """Cosine similarity; null when either vector has zero norm.

    Column form for operands that are not columns (a HOF lambda
    variable, as in ``codebook_assign_column``); see :func:`dot`."""
    return F.try_divide(dot(a, b), F.sqrt(dot(a, a)) * F.sqrt(dot(b, b)))


def cosine_cols(a: str, b: str) -> Column:
    """:func:`cosine` of two named array columns as one SQL expression
    (bit-identical: same casts, same folds, same order). It still folds
    both norms per pair; where one side meets many rows, :func:`stage`
    the norms once per row and score with :func:`staged_cosine`."""
    va, vb = _double(a), _double(b)
    return F.expr(_cosine_sql(va, _norm_sql(va), vb, _norm_sql(vb)))


def stage(
    df: DataFrame, vec_col: str, *keep: str, vec: str = "__v", norm: str = "__n"
) -> DataFrame:
    """Per-ROW norm staging in one ``selectExpr``: the ``keep``
    expressions, ``vec_col`` as array<double> (``vec``) and its norm
    sqrt(dot(v, v)) (``norm``).

    cosine(a, b) = dot(a, b) / (|a| |b|) written as one pair expression
    re-folds dot(a, a) and dot(b, b) for EVERY pair: three folds per
    pair where one suffices (knn_graph measured 9.5 s -> 2.6 s at
    sf0.1). |v| is a per-row quantity; stage it on each side, then
    score pairs with :func:`staged_cosine`. sqrt(dot(v, v)) is
    deterministic, so the staged norm equals the inline recompute
    bit-for-bit and no oracle changes."""
    v = _double(vec_col)
    return df.selectExpr(*keep, f"{v} AS {vec}", f"{_norm_sql(v)} AS {norm}")


def staged_cosine(va: str, na: str, vb: str, nb: str) -> Column:
    """try_divide(dot(va, vb), na * nb) over two :func:`stage`d sides:
    one fold per pair, one JVM call to build. Null when either norm is
    zero, like :func:`cosine`."""
    return F.expr(_cosine_sql(va, na, vb, nb))


def lsh_bucket(v: Column, planes: list[list[float]]) -> Column:
    """Sign-random-projection LSH bucket id (SimHash for vectors).

    ``planes`` is a small deterministic list of hyperplane normals
    (driver-side constants, broadcast with the plan). bucket =
    sum_i sign(v·p_i) * 2^i. Vectors in the same bucket are candidate
    near neighbors — the scale path for ANN: group/join on bucket
    instead of the full cross join.

    Keeps the Column form of :func:`dot`: the planes are literal
    arrays, not columns.
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
