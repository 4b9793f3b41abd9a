"""Vector expression semantics vs numpy, incl. the reference quirks
pinned in SURVEY §5.2: L2-normalize (main.py:87), squared-L2 scores
(main.py:155), zero-vector NaN (no guard in the reference).
"""

from __future__ import annotations

import math
import struct

import numpy as np
import pytest
from pyspark.sql import functions as F

from cnc_visionsearch_spark.functions.vector import (
    cosine_sim,
    dot,
    l2_norm,
    l2_normalize,
    l2_sq,
    unit,
    vec_lit,
)

VECS = [
    (1, [1.0, 2.0, 2.0]),
    (2, [3.0, 0.0, 4.0]),
    (3, [-1.0, 1.0, 0.5]),
]


@pytest.fixture(scope="module")
def vdf(spark):
    return spark.createDataFrame(
        [(i, v) for i, v in VECS], "id: long, v: array<double>"
    )


def test_dot_and_norm_match_numpy(vdf):
    rows = vdf.select(
        "id",
        dot("v", "v").alias("d"),
        l2_norm("v").alias("n"),
    ).collect()
    for r in rows:
        v = np.array(dict(VECS)[r.id])
        assert r.d == pytest.approx(float(v @ v), abs=1e-12)
        assert r.n == pytest.approx(float(np.linalg.norm(v)), abs=1e-12)


def test_l2_sq_pairwise(vdf):
    a = dict(VECS)[1]
    qcol = F.array(*[F.lit(x) for x in a]).cast("array<double>")
    rows = vdf.select("id", l2_sq("v", qcol).alias("d")).collect()
    for r in rows:
        v = np.array(dict(VECS)[r.id])
        assert r.d == pytest.approx(float(((v - np.array(a)) ** 2).sum()), abs=1e-12)


def test_normalize_unit_norm(vdf):
    rows = vdf.select(l2_norm(l2_normalize("v")).alias("n")).collect()
    for r in rows:
        assert r.n == pytest.approx(1.0, abs=1e-12)


def test_normalize_idempotent(vdf):
    """Property (SURVEY §5.4): normalize(normalize(v)) == normalize(v)."""
    once = vdf.select("id", l2_normalize("v").alias("nv"))
    twice = once.select("id", l2_normalize("nv").alias("nv2"), "nv").collect()
    for r in twice:
        for x, y in zip(r.nv, r.nv2):
            assert x == pytest.approx(y, abs=1e-12)


def test_zero_vector_nan_quirk(spark):
    """Reference main.py:87 has no zero guard -> NaN; we reproduce it,
    and offer zero_guard=True as the documented divergence."""
    df = spark.createDataFrame([(1, [0.0, 0.0])], "id: long, v: array<double>")
    vals = df.select(l2_normalize("v").alias("nv")).first().nv
    assert all(math.isnan(x) for x in vals)
    guarded = df.select(l2_normalize("v", zero_guard=True).alias("nv")).first().nv
    assert guarded == [0.0, 0.0]


def test_cosine_on_normalized_equals_one_minus_half_l2sq(vdf):
    """SURVEY §1.1: on unit vectors, ||a-b||^2 = 2 - 2 cos."""
    n = vdf.select("id", l2_normalize("v").alias("nv"))
    b = dict(VECS)[2]
    nb = (np.array(b) / np.linalg.norm(b)).tolist()
    bcol = F.array(*[F.lit(x) for x in nb]).cast("array<double>")
    rows = n.select(
        cosine_sim("nv", bcol).alias("cos"), l2_sq("nv", bcol).alias("d2")
    ).collect()
    for r in rows:
        assert r.d2 == pytest.approx(2 - 2 * r.cos, abs=1e-9)


def test_int8_quant_error_bounded_by_half_step(spark):
    """Symmetric int8 quantization: |x - dequant(quant(x))| <= scale/2
    for in-range values (round-half-up), and a zero vector produces
    zero errors instead of an ANSI divide-by-zero."""
    from cnc_visionsearch_spark.functions.vector import (
        abs_max,
        int8_dequant_errors,
    )

    df = spark.createDataFrame(
        [(1, [0.5, -0.25, 0.125, 0.0]), (2, [1e-3, 2e-3, -3e-3, 4e-3]),
         (3, [0.0, 0.0, 0.0, 0.0])],
        "id: long, v: array<double>",
    )
    rows = df.select(
        "id",
        (abs_max("v") / F.lit(127.0)).alias("scale"),
        int8_dequant_errors("v").alias("errs"),
    ).collect()
    by_id = {r.id: r for r in rows}
    for rid in (1, 2):
        r = by_id[rid]
        assert max(r.errs) <= r.scale / 2 + 1e-15
    assert by_id[3].errs == [0.0, 0.0, 0.0, 0.0]
    assert by_id[3].scale == 0.0


def _bits(xs) -> list[bytes]:
    return [struct.pack(">d", float(x)) for x in xs]


def test_vec_lit_is_bit_identical_to_the_per_element_literal(spark):
    """One parsed literal collects the same doubles, bit for bit, as the
    element-by-element F.lit array it replaces: repr round-trips every
    finite double, and NaN/inf go through CAST of their string names."""
    rng = np.random.default_rng(8)
    cases = [
        rng.standard_normal(64).tolist(),
        [-0.0, 0.0, 5e-324, -5e-324, 2.2250738585072014e-308,
         -2.2250738585072014e-308, 1e308, -1e308, 1.7976931348623157e308,
         1e22, 1 / 3, math.inf, -math.inf, math.nan],
        [],
        rng.standard_normal(8).astype(np.float32),
        rng.standard_normal(8).astype(np.float64),
    ]
    cols = []
    for i, vals in enumerate(cases):
        per_element = F.array(*[F.lit(float(x)) for x in vals]).cast("array<double>")
        cols += [vec_lit(vals).alias(f"p{i}"), per_element.alias(f"e{i}")]
    df = spark.range(1).select(*cols)
    assert all(f.dataType.simpleString() == "array<double>" for f in df.schema)
    row = df.first()
    for i, vals in enumerate(cases):
        assert _bits(row[f"p{i}"]) == _bits(row[f"e{i}"]) == _bits(vals), i


def test_unit_is_the_sequential_fold_and_nan_on_zero():
    rng = np.random.default_rng(9)
    q = rng.standard_normal(64).astype(np.float32)
    n = 0.0
    for x in q.tolist():
        n = n + x * x
    n = n ** 0.5
    assert _bits(unit(q)) == _bits([float(x) / n for x in q])
    assert unit([3, 4]) == [0.6, 0.8]
    assert all(math.isnan(x) for x in unit([0.0, -0.0]))
