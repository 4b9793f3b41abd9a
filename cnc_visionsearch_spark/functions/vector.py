"""Vector expressions as pure Spark column expressions (SURVEY §2.7).

The reference's vector math lives in numpy/torch/FAISS:
- L2 normalize: ``embedding /= np.linalg.norm(embedding)``
  (reference main.py:87 — note: NO zero-vector guard; a zero vector
  produces NaNs. ``l2_normalize`` reproduces that by default and offers
  ``zero_guard=True`` as the documented divergence).
- squared-L2 distance: implicit in ``faiss.IndexHNSWFlat`` L2 metric
  (reference main.py:60, 155); because vectors are normalized, ranking
  is cosine and the reported score is squared L2 (SURVEY §1.1).

Here they are higher-order array functions (``aggregate``/``zip_with``/
``transform``) over ``ARRAY<DOUBLE>`` — these compile to JVM codegen in
the physical plan, so the kNN hot path has NO Python boundary and no
UDF serialization. At 100 TB this is the difference between a scan-rate
bound job and a Python-pickle bound one.

All functions accept Column or column-name and compute in DOUBLE
(inputs are cast) so results are deterministic and match a
double-precision oracle bit-for-bit (sequential left-fold accumulation,
same order as the array).

A driver-side query vector enters a plan one way: :func:`unit`
normalizes it, :func:`vec_lit` makes it ONE parsed literal
``CAST(array(<repr(float(x))>D, ...) AS array<double>)``. ``repr``
round-trips every double (−0.0 and subnormals too), so the literal is
bit-identical to a per-element ``F.lit`` array at one parse instead of
one py4j round trip per dimension. NaN and ±inf are written
``CAST('NaN' AS DOUBLE)`` and ``CAST('[-]Infinity' AS DOUBLE)``.
"""

from __future__ import annotations

import math
from collections.abc import Iterable

from pyspark.sql import Column
from pyspark.sql import functions as F

__all__ = ["vec_lit", "unit", "as_double_array", "dot", "l2_norm", "l2_normalize", "l2_sq", "cosine_sim", "abs_max", "int8_dequant_errors", "int8_dequant", "fixed_point_q", "FIXED_POINT_SQL"]


def _c(col: Column | str) -> Column:
    return F.col(col) if isinstance(col, str) else col


def _token(x) -> str:
    # float() first: under numpy 2, repr(np.float64(x)) is "np.float64(x)"
    v = float(x)
    if math.isnan(v):
        return "CAST('NaN' AS DOUBLE)"
    if math.isinf(v):
        return "CAST('Infinity' AS DOUBLE)" if v > 0 else "CAST('-Infinity' AS DOUBLE)"
    return repr(v) + "D"


def vec_lit(values: Iterable) -> Column:
    """A driver-side vector as one parsed ``ARRAY<DOUBLE>`` literal (the
    literal contract is in the module docstring)."""
    return F.expr(
        "CAST(array(" + ", ".join(_token(x) for x in values) + ") AS array<double>)"
    )


def unit(q: Iterable) -> list[float]:
    """L2-normalize a driver-side query vector (reference main.py:87,145).

    The norm is the sequential fold ``sum(x * x) ** 0.5`` the SQL
    oracles replay. A zero vector gives all NaN, like the reference's
    numpy ``x / 0.0``: distances come back NaN as a result, not an
    exception."""
    q = [float(x) for x in q]
    n = sum(x * x for x in q) ** 0.5
    return [x / n for x in q] if n != 0.0 else [float("nan")] * len(q)


def as_double_array(col: Column | str) -> Column:
    """Cast ARRAY<FLOAT> (parquet storage type) to ARRAY<DOUBLE> for math."""
    return _c(col).cast("array<double>")


def dot(a: Column | str, b: Column | str) -> Column:
    """Dot product: left-fold of elementwise products (codegen'd, no UDF)."""
    prods = F.zip_with(as_double_array(a), as_double_array(b), lambda x, y: x * y)
    return F.aggregate(prods, F.lit(0.0), lambda acc, v: acc + v)


def l2_norm(a: Column | str) -> Column:
    """Euclidean norm sqrt(sum(x^2))."""
    sq = F.transform(as_double_array(a), lambda x: x * x)
    return F.sqrt(F.aggregate(sq, F.lit(0.0), lambda acc, v: acc + v))


def l2_normalize(a: Column | str, zero_guard: bool = False) -> Column:
    """Unit-normalize a vector, mirroring reference main.py:87.

    zero_guard=False reproduces the reference exactly: a zero vector
    divides by 0.0 -> NaN elements. zero_guard=True returns the zero
    vector unchanged (the sane behavior, flagged as a divergence in
    SURVEY §7f).
    """
    arr = as_double_array(a)
    norm = l2_norm(arr)
    if zero_guard:
        norm = F.when(norm == 0.0, F.lit(1.0)).otherwise(norm)
    else:
        # ANSI mode (Spark 4 default) raises DIVIDE_BY_ZERO on 0/0; the
        # reference's numpy 0/0 yields NaN. x / NaN == NaN reproduces that
        # without disabling ANSI session-wide.
        norm = F.when(norm == 0.0, F.lit(float("nan"))).otherwise(norm)
    # Divide via zip_with against array_repeat(norm): HOF *arguments*
    # evaluate once per row, whereas an expression referenced inside a
    # transform lambda re-evaluates per ELEMENT (CollapseProject happily
    # inlines a materialized norm column back into the lambda, making
    # normalization O(d^2) per row — fatal at dim 2048). Same division
    # per element, so results are bit-identical.
    return F.zip_with(arr, F.array_repeat(norm, F.size(arr)), lambda x, n: x / n)


def l2_sq(a: Column | str, b: Column | str) -> Column:
    """Squared-L2 distance — the score the reference returns to users
    (main.py:155,163: FAISS L2 metric, raw distances in the response).
    """
    diffs = F.zip_with(
        as_double_array(a), as_double_array(b), lambda x, y: (x - y) * (x - y)
    )
    return F.aggregate(diffs, F.lit(0.0), lambda acc, v: acc + v)


def cosine_sim(a: Column | str, b: Column | str) -> Column:
    """Cosine similarity dot(a,b)/(|a||b|).

    On L2-normalized inputs this equals ``1 - l2_sq/2`` (SURVEY §1.1:
    ||a-b||^2 = 2 - 2 a.b), which is how the reference's L2-over-
    normalized-vectors ranking is cosine ranking.
    """
    return dot(a, b) / (l2_norm(a) * l2_norm(b))


def abs_max(a: Column | str) -> Column:
    """max(|x_i|) — the symmetric int8 quantization range."""
    return F.array_max(F.transform(as_double_array(a), lambda x: F.abs(x)))


def int8_dequant_errors(a: Column | str) -> Column:
    """Per-element |x - dequant(quant_int8(x))| for symmetric int8
    scalar quantization (scale = amax/127, round-half-up via
    floor(x+0.5), clamp to [-127,127]) — 4x storage reduction for
    embedding columns at 100 TB with a measurable error bound.

    Quant + dequant + error are fused into ONE element lambda so both
    engines evaluate the identical left-to-right double chain (the
    registry's per-row determinism rule); zero vectors (amax=0) yield
    all-zero errors instead of an ANSI division-by-zero. amax enters
    the lambda as a zip_with argument via array_repeat — HOF arguments
    evaluate once per row, whereas an expression referenced inside the
    lambda re-evaluates per ELEMENT (the l2_normalize O(d^2) trap).
    """
    v = as_double_array(a)
    amax = abs_max(v)
    dequant_err = lambda x, m: F.abs(  # noqa: E731
        x
        - F.least(
            F.greatest(F.floor(x * F.lit(127.0) / m + F.lit(0.5)), F.lit(-127.0)),
            F.lit(127.0),
        )
        * m
        / F.lit(127.0)
    )
    return F.when(
        amax == 0.0, F.transform(v, lambda x: F.lit(0.0))
    ).otherwise(
        F.zip_with(v, F.array_repeat(amax, F.size(v)), dequant_err)
    )


def int8_dequant(a: Column | str) -> Column:
    """dequant(quant_int8(x)) — the reconstructed vector an int8
    storage tier serves to candidate scoring (same quantization
    contract as int8_dequant_errors; zero vector round-trips to
    zeros). amax hoisted via zip_with/array_repeat (once per row)."""
    v = as_double_array(a)
    amax = abs_max(v)
    dq = lambda x, m: (  # noqa: E731
        F.least(
            F.greatest(F.floor(x * F.lit(127.0) / m + F.lit(0.5)), F.lit(-127.0)),
            F.lit(127.0),
        )
        * m
        / F.lit(127.0)
    )
    return F.when(
        amax == 0.0, F.transform(v, lambda x: F.lit(0.0))
    ).otherwise(F.zip_with(v, F.array_repeat(amax, F.size(v)), dq))


# Cross-engine bit-stable reduction key for full-precision doubles:
# floor(x*1e9 + 0.5) is pure IEEE double arithmetic (identical on every
# engine), and BIGINT sums are exact and order-free — whereas
# double<->DECIMAL casts round differently per engine at every scale.
# 1e-9 resolution is far below fp32 embedding noise. Keep the Spark
# expression and the SQL template in lockstep.
FIXED_POINT_SQL = "CAST(floor({x} * 1000000000.0 + 0.5) AS BIGINT)"


def fixed_point_q(col: Column | str) -> Column:
    """``floor(x * 1e9 + 0.5)`` as BIGINT — quantize a full-precision
    double for an exact integer reduction (SQL twin: FIXED_POINT_SQL)."""
    return F.floor(_c(col) * 1000000000.0 + 0.5).cast("bigint")
