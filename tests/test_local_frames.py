"""Every DataFrame the driver builds from Python rows goes through
``session.local_frame``: an Arrow table that Spark plans as a local
relation, so collecting or joining it starts no Python worker and no
job. These tests keep the Python-list ``createDataFrame`` from coming
back, pin the zero-job contract, and check that the Arrow path carries
every value bit for bit."""

from __future__ import annotations

import ast
import math
import struct
from pathlib import Path

import pytest
from pyspark.sql import functions as F

from cnc_visionsearch_spark.operators.knn import with_normalized
from cnc_visionsearch_spark.session import local_frame
from cnc_visionsearch_spark.sources.catalog import load_table

PKG = Path(__file__).resolve().parent.parent / "cnc_visionsearch_spark"
SF_01 = "/root/testdata/sf0.01"


def _jobs(spark, group: str, fn) -> int:
    """Jobs ``fn`` submits, counted through a job group."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_no_create_dataframe_outside_local_frame():
    """The package has one constructor for driver-built frames."""
    offenders = []
    for p in sorted(PKG.rglob("*.py")):
        tree = ast.parse(p.read_text())
        allowed = set()
        if p.name == "session.py":
            for fn in ast.walk(tree):
                if isinstance(fn, ast.FunctionDef) and fn.name == "local_frame":
                    allowed |= {id(n) for n in ast.walk(fn)}
        for node in ast.walk(tree):
            if (
                isinstance(node, ast.Call)
                and isinstance(node.func, ast.Attribute)
                and node.func.attr == "createDataFrame"
                and id(node) not in allowed
            ):
                offenders.append(f"{p.relative_to(PKG)}:{node.lineno}")
    assert offenders == []


_DDL = "a bigint, b int, c double, s string, v array<double>"
_ROWS = [
    (2**63 - 1, 2**31 - 1, float("nan"), "x", [1.5, float("nan"), -0.0]),
    (-(2**63), -(2**31), float("inf"), "", [float("-inf"), float("inf")]),
    (0, 0, float("-inf"), "ünï", []),
    (None, None, -0.0, None, None),
    (7, -1, None, "a b", [None, 2.0]),
    (1, 1, 5e-324, "y", [1.7976931348623157e308]),
]


def _bits(x):
    """A value with every double replaced by its IEEE bytes, so NaN,
    -0.0 and the infinities compare exactly."""
    if isinstance(x, float):
        return struct.pack(">d", x)
    if isinstance(x, (list, tuple)):
        return tuple(_bits(v) for v in x)
    return x


@pytest.mark.parametrize("rows", [_ROWS, []], ids=["filled", "empty"])
def test_round_trip_is_bit_exact(spark, rows):
    got = local_frame(spark, rows, _DDL)
    ref = spark.createDataFrame(rows, _DDL)
    assert got.schema == ref.schema
    assert [_bits(tuple(r)) for r in got.collect()] == [
        _bits(tuple(r)) for r in ref.collect()
    ]
    if rows:
        assert math.isnan(got.collect()[0]["c"])
        assert math.copysign(1.0, got.collect()[3]["c"]) == -1.0


def test_local_frames_collect_without_a_job(spark):
    """A Python-list frame plans an RDD scan that runs one job per
    evaluation on Python workers; a local frame is a local relation."""
    filled = local_frame(spark, _ROWS, _DDL)
    empty = local_frame(spark, [], _DDL)
    assert _jobs(spark, "local-frame-filled", filled.collect) == 0
    assert _jobs(spark, "local-frame-empty", empty.collect) == 0
    assert "LocalTableScan" in filled._jdf.queryExecution().executedPlan().toString()


def test_local_frame_accepts_a_struct_type(spark):
    schema = local_frame(spark, [], _DDL).schema
    df = local_frame(spark, [(1, 2, 3.0, "z", [4.0])], schema)
    assert df.schema == schema
    assert df.collect()[0]["v"] == [4.0]


# jobs per rq_build at tests/test_ann_trained.py's append geometry
# (first 400 vectors of sf0.01, k1=8, k2=16, iters=2): 34 with local
# frames and the checkpointed residual set, 40 with Python-list frames
# re-running the level-1 assignment; the bound fails the moment a
# change adds a job
_RQ_BUILD_JOB_BUDGET = 34


def test_rq_build_job_budget(spark, tmp_path):
    from cnc_visionsearch_spark.operators.rq import rq_build

    emb = with_normalized(load_table(spark, SF_01, "embeddings"))
    base = emb.filter(F.col("vec_id") < 400)
    path = str(tmp_path / "rq")
    jobs = _jobs(
        spark,
        "rq-build-budget",
        lambda: rq_build(spark, path, base, k1=8, k2=16, iters=2),
    )
    assert jobs <= _RQ_BUILD_JOB_BUDGET, jobs
