"""operators/rank.py — the scale-safe global ranking primitives that
replace unpartitioned WindowExec (the "No Partition Defined ... Moving
all data to a single partition" trap the r5 verdict flagged). Each test
pins BOTH exactness (bit-identical to the single-partition window
semantics the DuckDB oracles replay) AND the plan contract (zero
unbounded global windows, detected by plans.unbounded_global_windows —
the same detector scripts/plan_audit.py gates the whole registry with).
"""

from __future__ import annotations

import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F

from cnc_visionsearch_spark.operators.rank import (
    distributed_cumsum,
    exact_ntile,
    global_topn,
)
from cnc_visionsearch_spark.plans import (
    unbounded_global_windows,
    unpartitioned_windows,
)


@pytest.fixture(scope="module")
def df(spark):
    # 10007 rows (prime — uneven band splits), pseudo-random values with
    # deliberate TIES in v so total-order tie-breaking is exercised
    return spark.range(10007).select(
        F.col("id"),
        ((F.col("id") * 2654435761) % 997).alias("v"),
        ((F.col("id") * 97) % 13).alias("g"),
    )


def _sorted_rows(d, cols):
    return [tuple(r) for r in d.select(*cols).orderBy(*cols).collect()]


def test_distributed_cumsum_matches_global_window(df):
    order = [(F.col("v"), "desc"), ("id", "asc")]
    got = distributed_cumsum(
        df, order, sums=[(F.col("v"), "cs")], rn_col="rn"
    )
    w = Window.orderBy(F.col("v").desc(), F.col("id").asc())
    ref = df.select(
        "id",
        F.sum("v")
        .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
        .alias("cs"),
        F.row_number().over(w).cast("bigint").alias("rn"),
    )
    assert _sorted_rows(got, ["id", "cs", "rn"]) == _sorted_rows(
        ref, ["id", "cs", "rn"]
    )


def test_distributed_cumsum_plan_has_no_global_window(df):
    got = distributed_cumsum(
        df, [(F.col("v"), "desc"), "id"], sums=[(F.col("v"), "cs")],
        rn_col="rn",
    )
    assert unbounded_global_windows(got) == []


def test_distributed_cumsum_exact_decimal(df):
    dd = df.select("id", "v", F.col("v").cast("decimal(18,6)").alias("dv"))
    got = distributed_cumsum(
        dd, [(F.col("v"), "desc"), "id"], sums=[(F.col("dv"), "cs")]
    ).select("id", F.col("cs").cast("decimal(38,6)").alias("cs"))
    ref = dd.select(
        "id",
        F.sum("dv")
        .over(
            Window.orderBy(F.col("v").desc(), F.col("id")).rowsBetween(
                Window.unboundedPreceding, Window.currentRow
            )
        )
        .cast("decimal(38,6)")
        .alias("cs"),
    )
    assert _sorted_rows(got, ["id", "cs"]) == _sorted_rows(ref, ["id", "cs"])


@pytest.mark.parametrize("n", [10, 5, 7, 20000])
def test_exact_ntile_matches_sql_ntile(df, n):
    # 20000 > row count exercises the T < n edge (base = 0)
    got = exact_ntile(
        df, ["v", "id"], n, "b"
    ).select("id", "b")
    ref = df.select(
        "id",
        F.ntile(n)
        .over(Window.orderBy(F.col("v").asc(), F.col("id").asc()))
        .cast("int")
        .alias("b"),
    )
    assert _sorted_rows(got, ["id", "b"]) == _sorted_rows(ref, ["id", "b"])


def test_exact_ntile_plan_has_no_global_window(df):
    got = exact_ntile(df, [F.col("v"), F.col("id")], 10, "b")
    assert unbounded_global_windows(got) == []


def test_global_topn_takeordered_and_bounded_rank(df):
    got = global_topn(
        df, [F.col("v").desc(), F.col("id").asc()], 17, rank_col="r"
    )
    from cnc_visionsearch_spark.plans import formatted_plan

    plan = formatted_plan(got)
    assert "TakeOrderedAndProject" in plan
    # the rank window IS unpartitioned but sits above the limit —
    # bounded by construction, so the gate detector exempts it
    assert unpartitioned_windows(plan) != []
    assert unbounded_global_windows(plan) == []
    rows = got.orderBy("r").collect()
    ref = df.orderBy(F.col("v").desc(), F.col("id").asc()).limit(17).collect()
    assert [r.id for r in rows] == [r.id for r in ref]
    assert [r.r for r in rows] == list(range(1, 18))


def test_detector_classifies_window_shapes(spark):
    d = spark.range(100).select(
        F.col("id"), (F.col("id") % 7).alias("g")
    )
    unpart = d.withColumn("rn", F.row_number().over(Window.orderBy("id")))
    part = d.withColumn(
        "rn", F.row_number().over(Window.partitionBy("g").orderBy("id"))
    )
    part_unordered = d.withColumn(
        "mx", F.max("id").over(Window.partitionBy("g"))
    )
    unpart_unordered = d.withColumn(
        "mx", F.max("id").over(Window.partitionBy())
    )
    assert unbounded_global_windows(unpart) != []
    assert unbounded_global_windows(part) == []
    assert unbounded_global_windows(part_unordered) == []
    assert unbounded_global_windows(unpart_unordered) != []


def test_order_spec_rejects_sortorder_columns(df):
    # the (expr, 'asc'|'desc') contract: a pre-built SortOrder column
    # cannot be unwrapped into the boundary CASE — must raise, never
    # silently treat DESC as ASC
    with pytest.raises(ValueError):
        distributed_cumsum(df, [F.col("v").desc(), "id"], rn_col="rn")


def test_distributed_cumsum_no_checkpoint_no_range_exchange(df):
    """r7 contract: band assignment is a pure CASE over collected
    boundary literals — the plan must carry NO localCheckpoint scan
    (ExistingRDD) and NO range exchange; the only data-proportional
    shuffle is the hash exchange on the band column."""
    from cnc_visionsearch_spark.plans import formatted_plan

    got = distributed_cumsum(
        df, [(F.col("v"), "desc"), "id"], sums=[(F.col("v"), "cs")],
        rn_col="rn",
    )
    plan = formatted_plan(got)
    assert "ExistingRDD" not in plan
    assert "rangepartitioning" not in plan
    assert "hashpartitioning(_rk_band" in plan
    assert unbounded_global_windows(plan) == []


def test_distributed_cumsum_band_assignment_deterministic(df):
    """Boundary literals are collected once per build; two independent
    builds over the same input must produce identical results AND the
    band expression must be a pure function (same row -> same band
    within one build, pinned by the exactness test; here we pin
    cross-build stability of the full output)."""
    order = [(F.col("v"), "desc"), ("id", "asc")]
    a = distributed_cumsum(df, order, sums=[(F.col("v"), "cs")], rn_col="rn")
    b = distributed_cumsum(df, order, sums=[(F.col("v"), "cs")], rn_col="rn")
    assert _sorted_rows(a, ["id", "cs", "rn"]) == _sorted_rows(
        b, ["id", "cs", "rn"]
    )


def test_distributed_cumsum_total_col_exact(df):
    got = distributed_cumsum(
        df, ["v", "id"], rn_col="rn", total_col="tot"
    )
    rows = got.select("tot").distinct().collect()
    assert [r.tot for r in rows] == [10007]


def test_distributed_cumsum_zipf_skew_matches_window(spark):
    """Task-2 skew stress: a Zipf-ish hot key (half the rows share one
    order-key value) must still produce exact global prefix sums — the
    hot value collapses into one band (exact semantics make that
    unavoidable) but correctness and the plan gate must hold."""
    n = 20011
    d = spark.range(n).select(
        F.col("id"),
        # ~50% of rows get v=0; the rest spread over 1..996
        F.when((F.col("id") % 2) == 0, F.lit(0))
        .otherwise((F.col("id") * 2654435761) % 997)
        .alias("v"),
    )
    got = distributed_cumsum(
        d, ["v", "id"], sums=[(F.col("v"), "cs")], rn_col="rn"
    )
    w = Window.orderBy(F.col("v").asc(), F.col("id").asc())
    ref = d.select(
        "id",
        F.sum("v")
        .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
        .alias("cs"),
        F.row_number().over(w).cast("bigint").alias("rn"),
    )
    assert _sorted_rows(got, ["id", "cs", "rn"]) == _sorted_rows(
        ref, ["id", "cs", "rn"]
    )
    assert unbounded_global_windows(got) == []


def test_distributed_cumsum_empty_input(spark):
    d = spark.range(0).select(F.col("id"), (F.col("id") % 7).alias("v"))
    got = distributed_cumsum(
        d, ["v", "id"], sums=[(F.col("v"), "cs")], rn_col="rn",
        total_col="tot",
    )
    assert got.count() == 0
    assert set(got.columns) == {"id", "v", "cs", "rn", "tot"}


def test_distributed_cumsum_zipf_band_balance(spark):
    """Task-2 skew evidence (r6 verdict): under a Zipf-ish order key
    (50% of rows share one value) the band assignment must stay
    BALANCED — the required unique tie-break column lets boundaries
    split INSIDE the hot value, so no band holds more than 2x the mean.
    (Exact NTILE/rank semantics make a keyless hot value unsplittable;
    the total-order contract is precisely what buys this balance.)"""
    from cnc_visionsearch_spark.operators.rank import (
        _band_boundaries,
        _band_expr,
        _norm_order,
        DEFAULT_BANDS,
    )

    n = 200003
    d = spark.range(n).select(
        F.col("id"),
        F.when((F.col("id") % 2) == 0, F.lit(0))
        .otherwise((F.col("id") * 2654435761) % 997)
        .alias("v"),
    )
    keys = _norm_order(["v", "id"])
    bnds = _band_boundaries(d, keys, DEFAULT_BANDS)
    assert len(bnds) >= DEFAULT_BANDS // 2  # boundaries split the hot value
    sizes = [
        r.n
        for r in d.withColumn("_b", _band_expr(keys, bnds))
        .groupBy("_b")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    ]
    # mean over the configured band constant — a degenerate banding
    # (few non-empty bands) must fail, not vacuously pass
    mean = n / DEFAULT_BANDS
    assert max(sizes) <= 2 * mean, (max(sizes), mean, sorted(sizes))


def test_distributed_cumsum_null_sums_match_window(spark):
    """NULL semantics must match the global window exactly: the running
    sum is NULL iff every value so far is NULL. Two null strips — one
    at the very start (stays NULL until the first non-null) and a wide
    one mid-stream (bands starting inside it must surface the PRIOR
    bands' total, not NULL) — compared bit-for-bit to the
    single-partition window."""
    n = 10007
    d = spark.range(n).select(
        F.col("id"),
        F.when(
            (F.col("id") < 500)
            | ((F.col("id") >= 2000) & (F.col("id") < 6000)),
            F.lit(None).cast("bigint"),
        )
        .otherwise((F.col("id") * 2654435761) % 997)
        .alias("x"),
    )
    got = distributed_cumsum(d, ["id"], sums=[(F.col("x"), "cs")])
    ref = d.select(
        "id",
        F.sum("x")
        .over(
            Window.orderBy("id").rowsBetween(
                Window.unboundedPreceding, Window.currentRow
            )
        )
        .alias("cs"),
    )
    assert _sorted_rows(got, ["id", "cs"]) == _sorted_rows(ref, ["id", "cs"])


def test_desc_null_key_raises(spark):
    """r7 verdict #4 / ADVICE: a NULL value under a DESCENDING key must
    raise, never silently band to 0 (the top of a desc order). The
    guard rides the band-totals aggregate — no extra scan."""
    d = spark.range(100).select(
        F.col("id"),
        F.when(F.col("id") == 37, F.lit(None).cast("bigint"))
        .otherwise(F.col("id") % 7)
        .alias("v"),
    )
    with pytest.raises(ValueError, match="DESCENDING"):
        distributed_cumsum(
            d, [(F.col("v"), "desc"), "id"], rn_col="rn"
        ).collect()
    # pure-ascending orders keep accepting NULLs (NULLS FIRST default)
    got = distributed_cumsum(d, [(F.col("v"), "asc"), "id"], rn_col="rn")
    assert got.count() == 100


def test_norm_order_accepts_nulls_like_string_literal(spark):
    """ADVICE r7: SortOrder detection must inspect the expression node,
    not the repr — a legitimate key whose repr contains ' NULLS FIRST'
    (a string-literal comparison) is NOT a SortOrder and must pass."""
    d = spark.range(50).select(
        F.col("id"),
        F.when(F.col("id") % 2 == 0, F.lit(" NULLS FIRST"))
        .otherwise(F.lit("z"))
        .alias("s"),
    )
    key = (F.col("s") == F.lit(" NULLS FIRST")).cast("int")
    got = distributed_cumsum(d, [key.alias("k"), "id"], rn_col="rn")
    assert got.count() == 50
    # and a genuine SortOrder still raises
    with pytest.raises(ValueError):
        distributed_cumsum(d, [F.col("id").desc()], rn_col="rn")


def test_exact_ntile_multi_matches_chained(df):
    """exact_ntile_multi must be value-identical to chaining single
    exact_ntile calls (NTILE is a pure function of each total order) —
    the RFM pattern: three specs over one input, one shared sample,
    one grouping-sets totals job, no caching."""
    from cnc_visionsearch_spark.operators.rank import exact_ntile_multi

    specs = [
        (["v", "id"], 5, "t_v"),
        ([(F.col("g"), "asc"), "id"], 7, "t_g"),
        ([(F.col("id"), "asc")], 10, "t_id"),
    ]
    multi = exact_ntile_multi(df, specs)
    chained = df
    for oc, n, out in specs:
        chained = exact_ntile(chained, oc, n, out)
    cols = ["id", "t_v", "t_g", "t_id"]
    assert _sorted_rows(multi, cols) == _sorted_rows(chained, cols)
    # and against the real SQL NTILE
    ref = df.select(
        "id",
        F.ntile(5).over(Window.orderBy("v", "id")).alias("t_v"),
        F.ntile(7).over(Window.orderBy("g", "id")).alias("t_g"),
        F.ntile(10).over(Window.orderBy("id")).alias("t_id"),
    )
    assert _sorted_rows(multi, cols) == _sorted_rows(ref, cols)


def test_exact_ntile_multi_plan_no_global_window(df):
    from cnc_visionsearch_spark.operators.rank import exact_ntile_multi

    got = exact_ntile_multi(
        df, [(["v", "id"], 5, "a"), (["g", "id"], 5, "b")]
    )
    assert unbounded_global_windows(got) == []


def test_exact_ntile_multi_desc_null_raises(spark):
    from cnc_visionsearch_spark.operators.rank import exact_ntile_multi

    d = spark.range(60).select(
        F.col("id"),
        F.when(F.col("id") == 3, F.lit(None).cast("bigint"))
        .otherwise(F.col("id") % 5)
        .alias("v"),
    )
    with pytest.raises(ValueError, match="DESCENDING"):
        exact_ntile_multi(
            d,
            [
                (["id"], 4, "a"),
                ([(F.col("v"), "desc"), "id"], 4, "b"),
            ],
        ).collect()


def test_kernel_memo_skips_construction_jobs_and_keeps_values(spark):
    """r8 verdict #1: re-CONSTRUCTING the same ranked query (bench
    passes, chained registry calls) must not re-pay the boundary
    sample + band-totals collects. Second construction runs ZERO
    sample jobs and the values are identical; a DIFFERENT input plan
    misses the memo."""
    import cnc_visionsearch_spark.operators.rank as rank_mod
    from cnc_visionsearch_spark import memo
    from cnc_visionsearch_spark.operators.rank import distributed_cumsum

    memo.clear()
    d = spark.range(500).select(
        F.col("id"), (F.col("id") % 7).alias("v")
    )
    calls = {"n": 0}
    real = rank_mod._band_boundaries

    def counting(*a, **k):
        calls["n"] += 1
        return real(*a, **k)

    rank_mod._band_boundaries = counting
    try:
        r1 = distributed_cumsum(
            d, ["id"], sums=[(F.col("v"), "cum_v")], rn_col="rn"
        ).collect()
        assert calls["n"] == 1
        r2 = distributed_cumsum(
            d, ["id"], sums=[(F.col("v"), "cum_v")], rn_col="rn"
        ).collect()
        assert calls["n"] == 1  # memo hit: no second sample job
        assert sorted(map(tuple, r1)) == sorted(map(tuple, r2))
        # different plan -> different key -> fresh collects
        distributed_cumsum(
            d.filter(F.col("id") < 100),
            ["id"],
            sums=[(F.col("v"), "cum_v")],
        )
        assert calls["n"] == 2
        # the one clear drops the entry
        memo.clear()
        distributed_cumsum(d, ["id"], rn_col="rn")
        assert calls["n"] == 3
    finally:
        rank_mod._band_boundaries = real


def test_kernel_memo_auto_invalidates_on_file_mutation(spark, tmp_path):
    """r9 verdict #4 hardening: the memo key carries the scanned
    files' (path, size, mtime) fingerprint — overwriting the input
    parquet and reconstructing the SAME plan yields FRESH literals
    (the total reflects the new data) with NO memo clear."""
    from cnc_visionsearch_spark.operators.rank import distributed_cumsum

    p = str(tmp_path / "t")
    spark.range(100).select(F.col("id"), F.lit(1).alias("v")).write.mode(
        "overwrite"
    ).parquet(p)
    r1 = (
        distributed_cumsum(
            spark.read.parquet(p),
            ["id"],
            sums=[(F.col("v"), "cum_v")],
            total_col="tot",
        )
        .agg(F.max("tot").alias("t"))
        .collect()[0]
        .t
    )
    assert r1 == 100
    spark.range(250).select(F.col("id"), F.lit(1).alias("v")).write.mode(
        "overwrite"
    ).parquet(p)
    r2 = (
        distributed_cumsum(
            spark.read.parquet(p),
            ["id"],
            sums=[(F.col("v"), "cum_v")],
            total_col="tot",
        )
        .agg(F.max("tot").alias("t"))
        .collect()[0]
        .t
    )
    assert r2 == 250  # a stale memo entry would replay 100


def test_exact_ntile_multi_memo_replays_identically(spark):
    """The multi-spec kernel's shared-sample + grouping-sets collects
    memoize the same way: a second identical construction is job-free
    and value-identical."""
    from cnc_visionsearch_spark import memo
    from cnc_visionsearch_spark.operators.rank import exact_ntile_multi

    memo.clear()
    d = spark.range(300).select(
        F.col("id"), (F.col("id") * 13 % 97).alias("v")
    )
    specs = [(["v", "id"], 5, "q_v"), ([("id", "desc")], 4, "q_i")]
    r1 = exact_ntile_multi(d, specs).collect()
    r2 = exact_ntile_multi(d, specs).collect()
    assert sorted(map(tuple, r1)) == sorted(map(tuple, r2))
    # oracle: SQL NTILE over the unpartitioned window
    exp = d.select(
        "id",
        "v",
        F.ntile(5).over(Window.orderBy("v", "id")).alias("q_v"),
        F.ntile(4).over(Window.orderBy(F.col("id").desc())).alias("q_i"),
    ).collect()
    assert sorted(map(tuple, r2)) == sorted(map(tuple, exp))


def test_band_expr_sql_path_matches_column_builder(spark):
    """r11: the band CASE renders as ONE parsed SQL string when every
    key/boundary has an exact literal form (construction-cost fix).
    The SQL path must band every row exactly like the Column builder —
    across int, float, string, date and timestamp keys — and must
    REFUSE (fall back) on values it cannot render exactly."""
    import datetime

    from cnc_visionsearch_spark.operators.rank import (
        _band_expr,
        _band_expr_sql,
        _norm_order,
    )

    rows = [
        (i, float(i) / 3.0, f"s{i:02d}",
         datetime.date(2020, 1, 1 + i % 27),
         datetime.datetime(2021, 5, 1, i % 24, 30))
        for i in range(40)
    ]
    df = spark.createDataFrame(
        rows, "i bigint, x double, s string, d date, t timestamp"
    )
    for spec, bvals in [
        ([("i", "asc")], [(7,), (21,)]),
        ([("x", "desc"), ("i", "asc")], [(5.0 / 3.0, 11), (11.0 / 3.0, 30)]),
        ([("s", "asc")], [("s05",), ("s25",)]),
        ([("d", "asc"), ("i", "asc")],
         [(datetime.date(2020, 1, 9), 3)]),
        ([("t", "asc")], [(datetime.datetime(2021, 5, 1, 12, 30),)]),
    ]:
        keys = _norm_order(spec)
        sql = _band_expr_sql(keys, bvals)
        assert sql is not None, f"SQL path refused a renderable spec {spec}"
        got = [r[0] for r in df.select(F.expr(sql)).collect()]
        # force the Column fallback by rendering through it directly
        band = F.lit(0)
        for b in bvals:
            gt, eq = F.lit(False), F.lit(True)
            for (e, asc), v in zip(keys, b):
                lit = F.lit(v)
                gt = gt | (eq & ((e > lit) if asc else (e < lit)))
                eq = eq & (e == lit)
            band = band + F.when(gt, 1).otherwise(0)
        want = [r[0] for r in df.select(band).collect()]
        assert got == want, f"band mismatch for {spec}"
    # unsupported renderings fall back instead of guessing: a quoted
    # string, NaN, a tz-aware timestamp
    assert _band_expr_sql(_norm_order([("s", "asc")]), [("a'b",)]) is None
    assert (
        _band_expr_sql(_norm_order([("x", "asc")]), [(float("nan"),)]) is None
    )
    aware = datetime.datetime(2021, 1, 1, tzinfo=datetime.timezone.utc)
    assert _band_expr_sql(_norm_order([("t", "asc")]), [(aware,)]) is None


def test_sql_literal_timestamp_is_tz_independent(spark):
    """r12 (advisor): a naive TIMESTAMP '<iso>' literal parses in the
    SESSION timezone (UTC here) while the Column fallback F.lit converts
    via the DRIVER's local timezone — under driver tz != session tz the
    two paths banded at shifted boundaries. The literal now renders the
    exact internal micros F.lit would produce (timestamp_micros), so the
    paths agree under ANY tz pairing. Shift the driver tz and pin it."""
    import datetime
    import os
    import time

    from cnc_visionsearch_spark.operators.rank import _sql_literal

    old = os.environ.get("TZ")
    os.environ["TZ"] = "America/New_York"
    time.tzset()
    try:
        v = datetime.datetime(2021, 5, 1, 12, 30, 15, 123456)
        sql = _sql_literal(v)
        assert sql is not None and sql.startswith("timestamp_micros(")
        row = (
            spark.range(1)
            .select(F.expr(sql).alias("a"), F.lit(v).alias("b"))
            .first()
        )
        assert row.a == row.b
    finally:
        if old is None:
            os.environ.pop("TZ", None)
        else:
            os.environ["TZ"] = old
        time.tzset()
