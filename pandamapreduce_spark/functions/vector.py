"""Cosine similarity over ``array<float>`` embedding columns, in its
three forms: the JVM column expression (``cosine``), the DuckDB SQL
text the oracles use (``cosine_sql``), and the numpy block kernel the
cogrouped Arrow similarity joins use (``cosine_block``); plus
``vec_lit``, the one way to put a driver-side float vector into a plan.

All arithmetic is double-precision, sequential left-to-right fold —
the same evaluation order DuckDB's list functions use — so cosine /
dot values are bitwise-reproducible against the oracle in every form.

The column expressions are JVM-side (``zip_with`` + ``aggregate``): no
Python crosses the per-row path, and they participate in codegen.
``cosine_block`` is for all-pairs work inside one Arrow task, where
numpy array ops over a whole block beat per-pair codegen rows.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def _dbl(col: Column | str) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    return c.cast("array<double>")


def vec_lit(values) -> Column:
    """A driver-side float vector as ONE ``array<double>`` literal.
    PySpark ships the ndarray as a Java ``double[]`` filled element by
    element: about half the py4j commands of ``F.array(*[F.lit(v) ...])``
    (a ``lit`` per element plus the ``array``). Values are the same
    doubles either way; the element type is ``containsNull``."""
    import numpy as np

    return F.lit(np.asarray(values, dtype=np.float64))


def dot(a: Column | str, b: Column | str) -> Column:
    """Sequential-fold dot product in double precision."""
    return F.aggregate(
        F.zip_with(_dbl(a), _dbl(b), lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def dot_sql(a: str, b: str) -> str:
    return f"list_dot_product(cast({a} as double[]), cast({b} as double[]))"


def l2norm(a: Column | str) -> Column:
    return F.sqrt(dot(a, a))


def cosine(a: Column | str, b: Column | str) -> Column:
    """Cosine similarity; 0.0 for zero-norm inputs."""
    d = dot(a, b)
    na, nb = l2norm(a), l2norm(b)
    return F.when((na > 0) & (nb > 0), d / (na * nb)).otherwise(F.lit(0.0))


def cosine_sql(a: str, b: str) -> str:
    da = f"sqrt(list_dot_product(cast({a} as double[]), cast({a} as double[])))"
    db = f"sqrt(list_dot_product(cast({b} as double[]), cast({b} as double[])))"
    return (
        f"CASE WHEN {da} > 0 AND {db} > 0 "
        f"THEN list_dot_product(cast({a} as double[]), cast({b} as double[])) / ({da} * {db}) "
        f"ELSE 0.0 END"
    )


def cosine_block(a_pdf, b_pdf):
    """Every pair of one left and one right pandas block (``vec_id``,
    ``embedding`` columns; other columns are ignored): returns
    ``(aid, bid, cos)`` with ``cos[i, j]`` the cosine of left row i and
    right row j. Both blocks must be non-empty.

    Bitwise contract: reproduces ``cosine`` EXACTLY — elements cast
    float32 -> float64 first, products rounded one at a time,
    accumulated SEQUENTIALLY over dimensions (a python loop over d of
    vectorized adds: each += is one correctly-rounded IEEE add per
    element, same order as the JVM fold and DuckDB's
    list_dot_product), norms the same way, then cos = dot / (na * nb)
    with the identical two roundings and the identical zero-norm guard
    (na > 0) & (nb > 0). NO np.dot/BLAS — pairwise summation would
    re-associate the fold and could flip a rank at a 1-ulp tie."""
    import numpy as np

    A = np.stack(a_pdf["embedding"].to_numpy()).astype(np.float64)
    B = np.stack(b_pdf["embedding"].to_numpy()).astype(np.float64)
    dot = np.zeros((len(A), len(B)))
    na = np.zeros(len(A))
    nb = np.zeros(len(B))
    for d in range(A.shape[1]):  # sequential fold, one rounded add per step
        dot += A[:, d, None] * B[None, :, d]
        na += A[:, d] * A[:, d]
        nb += B[:, d] * B[:, d]
    na, nb = np.sqrt(na), np.sqrt(nb)
    with np.errstate(divide="ignore", invalid="ignore"):
        cos = np.where((na[:, None] > 0) & (nb[None, :] > 0), dot / (na[:, None] * nb[None, :]), 0.0)
    return a_pdf["vec_id"].to_numpy(), b_pdf["vec_id"].to_numpy(), cos
