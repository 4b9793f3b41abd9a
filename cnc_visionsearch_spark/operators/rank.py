"""Scale-safe global ranking / cumulative primitives.

The reference's core operator is a global top-k that never materializes
a global ordering of the corpus (main.py:155 — ``index.search`` returns
k hits, not a rank for every vector). These helpers are the SQL-shaped
twin of that discipline: they replace ``row_number() / ntile() /
sum() OVER (ORDER BY ...)`` — which Spark plans as a SINGLE-PARTITION
WindowExec ("No Partition Defined ... Moving all data to a single
partition") — with plans where every data-proportional stage is
partition-parallel:

- ``global_topn``: ``orderBy().limit(n)`` → TakeOrderedAndProject
  (per-partition heaps + k-way driver merge). The optional rank window
  runs over the <= n survivors — a CONSTANT-size single partition, so
  the plan is corpus-size-invariant. scripts/plan_audit.py's
  ``window_no_partition`` gate exempts windows above a limit for
  exactly this reason.
- ``distributed_cumsum``: EXACT global running totals (and optionally
  the exact global row number) with no global sort. Band assignment is
  a PURE FUNCTION of the order key: <= bands-1 boundary values are
  collected ONCE (a bounded TakeOrderedAndProject sample job → driver
  literals, the ivf_probe_cells pattern from operators/ann.py), and
  every consumer assigns bands with the same literal CASE expression.
  Per-band partitioned windows compute local prefixes; the <= bands
  per-band totals are a second bounded collect folded into exclusive
  offsets ON THE DRIVER (constant-size arithmetic) and broadcast-joined
  back. Because the band expression is deterministic given the
  literals, any stage can be recomputed freely after executor loss —
  there is NO lineage barrier (the r6 ``localCheckpoint`` pinned a
  data-proportional materialization whose block loss would kill the
  job; this design retires that hazard class entirely). The result is
  bit-identical to the single-partition window for ANY boundary
  placement because the order is total and addition is associative.
- ``exact_ntile``: exact NTILE(n) semantics (first ``T mod n`` buckets
  get one extra row) from the distributed row number plus the
  closed-form bucket formula — integer-only, hash-stable, and the
  production replacement for the "NTILE over an unpartitioned window"
  banding this repo previously documented as a fixture-scale trade
  (SCALE.md banded-NTILE row). T comes from the same per-band totals
  collect — no second scan of the input.

Order-spec contract (``order_cols``): a sequence whose elements are a
column name (str, ascending), a Column expression (ascending), or a
``(name_or_expr, "asc"|"desc")`` tuple. Do NOT pass ``col.asc()`` /
``col.desc()`` SortOrder columns — the primitives must evaluate the
bare key expression to build the boundary CASE, and a SortOrder cannot
be unwrapped through the public API (a guard raises). The order MUST
be total (include a unique tie-break column) and, when any key is
descending, the key columns must be non-NULL: NULL keys short-circuit
the boundary comparisons into band 0, which matches Spark's
NULLS-FIRST default for ascending keys but not NULLS-LAST for
descending ones. This is ENFORCED, not advisory (r7 verdict #4): a
per-band NULL-key count rides the existing band-totals aggregate (no
extra scan) and any order with a descending key raises ``ValueError``
the moment a NULL key value is observed — the documented trap is now
an exception, never a silently mis-banded result.
"""

from __future__ import annotations

from functools import cmp_to_key
from typing import Iterable, Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from cnc_visionsearch_spark.memo import LRU, file_fingerprint

__all__ = [
    "global_topn",
    "distributed_cumsum",
    "exact_ntile",
    "exact_ntile_multi",
]

_BAND = "_rk_band"
_LRN = "_rk_lrn"
_BN = "_rk_bn"
_OFFN = "_rk_offn"

DEFAULT_BANDS = 32
# boundary sample size per band — 32*32 = 1024 keys collected, a
# constant independent of data size (TakeOrderedAndProject job)
_SAMPLE_PER_BAND = 32

# ---- construction-time memo (r8 verdict #1) -----------------------------
# The kernel's two bounded collects (boundary sample + band totals)
# execute at query CONSTRUCTION. Serving paths construct the same
# query repeatedly over immutable inputs (bench passes, chained
# registry calls), re-paying both jobs each time; this memo keys the
# collected literals on (_input_key, order spec, sums spec, bands) so
# identical constructions reuse them. SAFETY: boundary placement never
# affects VALUES (only balance), but band totals do — so the key
# carries the scanned files' fingerprint (r10): overwriting the files
# under an unchanged plan auto-invalidates (memo.py contract).
# Bounded: LRU, <= 64 entries of <= bands rows each.
_KERNELS = LRU(64)


def _input_key(df: DataFrame):
    """(analyzed-plan semantic hash, file fingerprint) of ``df`` — the
    memo key of anything computed from ``df``'s CONTENT. A plan with no
    file sources fingerprints as empty (its inputs are per-plan
    literals, immutable under an unchanged semantic hash). None when
    the JVM handle is unavailable (Connect) or a file cannot be
    stat'd — the caller then skips memoization."""
    try:
        ph = df._jdf.queryExecution().analyzed().semanticHash()
        files = df.inputFiles()
    except Exception:
        return None
    fp = file_fingerprint(files)
    return None if fp is None else (ph, fp)


def _cols(order_cols: Sequence) -> list[Column]:
    return [F.col(c) if isinstance(c, str) else c for c in order_cols]


def global_topn(
    df: DataFrame,
    order_cols: Sequence,
    n: int,
    rank_col: str | None = None,
) -> DataFrame:
    """Global top-n by ``order_cols`` (must be a total order) as a
    TakeOrderedAndProject — per-partition heaps, never a global sort.
    With ``rank_col``, adds the 1-based global rank via a window over
    the <= n survivors (bounded by construction; plan-audit-exempt).
    Unlike the cumulative primitives, SortOrder columns (``.desc()``)
    are accepted here — the order is only ever passed to ``orderBy``."""
    oc = _cols(order_cols)
    top = df.orderBy(*oc).limit(n)
    if rank_col is not None:
        top = top.withColumn(rank_col, F.row_number().over(Window.orderBy(*oc)))
    return top


def _is_sortorder(e: Column) -> bool:
    """True iff ``e`` is a pre-built SortOrder column (``.asc()`` /
    ``.desc()``). Primary check inspects the JVM expression node class
    (exact — a string literal whose repr happens to contain
    ' NULLS FIRST' is NOT falsely rejected); the repr-substring match
    survives only as the fallback for column implementations without a
    JVM handle (e.g. Connect)."""
    try:
        return e._jc.node().getClass().getSimpleName() == "SortOrder"
    except Exception:
        r = str(e)
        return r.endswith(" NULLS FIRST'>") or r.endswith(" NULLS LAST'>")


def _norm_order(order_cols: Sequence) -> list[tuple[Column, bool]]:
    """Normalize the order spec to (bare expression, ascending) pairs,
    rejecting pre-built SortOrder columns (they cannot be unwrapped)."""
    out: list[tuple[Column, bool]] = []
    for c in order_cols:
        if isinstance(c, tuple):
            e, d = c
            e = F.col(e) if isinstance(e, str) else e
            asc = d if isinstance(d, bool) else str(d).lower() != "desc"
        elif isinstance(c, str):
            e, asc = F.col(c), True
        else:
            e, asc = c, True
        if _is_sortorder(e):
            raise ValueError(
                "distributed_cumsum/exact_ntile take (expr, 'asc'|'desc') "
                f"tuples, not SortOrder columns: {e}"
            )
        out.append((e, asc))
    return out


def _null_guard_expr(keys: list[tuple[Column, bool]]) -> Column | None:
    """NULL-key indicator for orders with a descending key, folded into
    the band-totals aggregate (costs zero extra scans). Returns None
    for pure-ascending orders — there NULL keys band to 0, which IS
    Spark's NULLS-FIRST ascending default, so they are legal. Callers
    alias the returned sum."""
    if all(asc for _, asc in keys):
        return None
    cond = F.lit(False)
    for e, _ in keys:
        cond = cond | e.isNull()
    return F.sum(cond.cast("int"))


def _raise_if_null_desc_keys(n_null: int, keys: list[tuple[Column, bool]]):
    if n_null:
        raise ValueError(
            "distributed_cumsum/exact_ntile: the order has a DESCENDING "
            f"key and {n_null} row(s) carry a NULL key value — NULL keys "
            "band to position 0 (NULLS FIRST), which contradicts the "
            "NULLS-LAST default of a descending sort and would silently "
            "mis-rank those rows. Filter NULLs out, coalesce the key, or "
            "make every key ascending."
        )


def _cmp_keys(a: tuple, b: tuple, ascs: list[bool]) -> int:
    for x, y, asc in zip(a, b, ascs):
        if x == y:
            continue
        lt = x < y
        if lt:
            return -1 if asc else 1
        return 1 if asc else -1
    return 0


def _band_boundaries(
    df: DataFrame, keys: list[tuple[Column, bool]], bands: int
) -> list[tuple]:
    """<= bands-1 order-key boundary tuples, collected ONCE.

    The sample is a TakeOrderedAndProject over ``xxhash64(key)`` — a
    bounded (bands * 32 rows), deterministic (pure function of the
    key values; hash ties broken by the key itself) uniform-ish draw.
    Boundary PLACEMENT only affects balance, never results: the
    cumulative values are invariant to where bands split because the
    order is total and the band expression is the same literal CASE
    for every consumer."""
    n = bands * _SAMPLE_PER_BAND
    named = [e.alias(f"_rk_k{i}") for i, (e, _) in enumerate(keys)]
    kc = [F.col(f"_rk_k{i}") for i in range(len(keys))]
    rows = (
        df.select(*named)
        .orderBy(F.xxhash64(*kc).asc(), *[c.asc() for c in kc])
        .limit(n)
        .collect()
    )
    sample = [tuple(r) for r in rows]
    return _boundaries_from_sample(sample, [asc for _, asc in keys], bands)


def _boundaries_from_sample(
    sample: list[tuple], ascs: list[bool], bands: int
) -> list[tuple]:
    """Boundary tuples from an already-collected key sample: drop
    NULL-bearing tuples, sort in the spec's order, pick bands-1
    deduplicated quantile positions. Shared by the single-spec sample
    job and the multi-spec shared-sample job (exact_ntile_multi)."""
    sample = [t for t in sample if all(v is not None for v in t)]
    if not sample:
        return []
    sample.sort(key=cmp_to_key(lambda a, b: _cmp_keys(a, b, ascs)))
    m = len(sample)
    bnds: list[tuple] = []
    for i in range(1, bands):
        v = sample[(i * m) // bands]
        if not bnds or _cmp_keys(v, bnds[-1], ascs) != 0:
            bnds.append(v)
    return bnds


def _sql_literal(v):
    """Render a collected boundary/offset value as an EXACT Spark SQL
    literal, or None when the type has no safe rendering (caller falls
    back to the Column builder). Floats go through repr (shortest
    round-trip decimal) parsed back by CAST — bit-exact; Decimals keep
    their full textual form."""
    import datetime
    import decimal
    import math

    if isinstance(v, bool):
        return "TRUE" if v else "FALSE"
    if isinstance(v, int):
        return f"CAST({v} AS BIGINT)" if abs(v) > 2147483647 else str(v)
    if isinstance(v, float):
        if math.isnan(v) or math.isinf(v):
            return None
        return f"CAST('{v!r}' AS DOUBLE)"
    if isinstance(v, decimal.Decimal):
        return f"CAST('{v}' AS DECIMAL(38,18))"
    if isinstance(v, str):
        if "\\" in v or "'" in v:
            return None  # not worth escaping-edge-case risk; fallback
        return f"'{v}'"
    if isinstance(v, datetime.datetime):
        if v.tzinfo is not None:
            return None
        # tz-independent rendering (r12, advisor): a naive TIMESTAMP
        # '<iso>' literal parses in the SESSION timezone while the
        # Column fallback (F.lit) converts via the DRIVER's local
        # timezone — the two paths diverge when those differ. Render
        # the exact internal micros F.lit would produce instead
        # (TimestampType.toInternal is PySpark's own F.lit conversion),
        # so SQL path == Column path bit-for-bit under any tz pairing.
        from pyspark.sql.types import TimestampType

        return f"timestamp_micros({TimestampType().toInternal(v)})"
    if isinstance(v, datetime.date):
        return f"DATE '{v.isoformat()}'"
    return None


def _expr_sql(e: Column):
    """The SQL form of a key Column, or None when it is not a PLAIN
    column reference (the only shape with a faithful textual form —
    Spark 4's ColumnNode.sql() is a debug rendering for compound
    expressions) or the JVM handle is unavailable (Connect). Every
    kernel caller orders by plain columns; anything else falls back to
    the Column builder."""
    import re

    try:
        node = e._jc.node()
        if node.getClass().getSimpleName() != "UnresolvedAttribute":
            return None
        s = node.sql()
    except Exception:
        return None
    if not re.fullmatch(r"[A-Za-z_][A-Za-z0-9_]*", s):
        return None
    return f"`{s}`"


def _band_expr_sql(keys: list[tuple[Column, bool]], bnds: list[tuple]):
    """The band CASE as ONE SQL string (r11): the Column-by-Column
    builder costs 6+ py4j round trips per boundary per key — ~300 ms
    of construction per kernel call at 16 bands — where a single
    F.expr parse costs one. Returns None when any key expression or
    boundary value cannot be rendered exactly (caller falls back)."""
    key_sqls = []
    for e, _ in keys:
        s = _expr_sql(e)
        if s is None:
            return None
        key_sqls.append(f"({s})")
    terms = []
    for b in bnds:
        conds = []
        eqs: list[str] = []
        for ks, (_, asc), v in zip(key_sqls, keys, b):
            lit = _sql_literal(v)
            if lit is None:
                return None
            op = ">" if asc else "<"
            cmp_ = f"({ks} {op} {lit})"
            if eqs:
                cmp_ = "(" + " AND ".join(eqs) + f" AND {cmp_})"
            conds.append(cmp_)
            eqs.append(f"({ks} = {lit})")
        terms.append(
            "(CASE WHEN " + " OR ".join(conds) + " THEN 1 ELSE 0 END)"
        )
    return "(" + (" + ".join(terms) if terms else "0") + ")"


def _band_expr(keys: list[tuple[Column, bool]], bnds: list[tuple]) -> Column:
    """Band id as a pure CASE over the boundary literals: the count of
    boundaries the row's key is strictly greater than (in sort order).
    Lexicographic strictly-greater with per-column direction; a NULL
    anywhere collapses the comparison to false → band 0 (NULLS FIRST
    for ascending keys — see module docstring for the desc caveat).
    Built as ONE parsed SQL string when every key/boundary renders
    exactly (r11 construction-cost fix), else the Column builder."""
    sql = _band_expr_sql(keys, bnds)
    if sql is not None:
        return F.expr(sql)
    band = F.lit(0)
    for b in bnds:
        gt = F.lit(False)
        eq = F.lit(True)
        for (e, asc), v in zip(keys, b):
            lit = F.lit(v)
            gt = gt | (eq & ((e > lit) if asc else (e < lit)))
            eq = eq & (e == lit)
        band = band + F.when(gt, 1).otherwise(0)
    return band


def distributed_cumsum(
    df: DataFrame,
    order_cols: Sequence,
    sums: Iterable[tuple[Column, str]] = (),
    rn_col: str | None = None,
    bands: int = DEFAULT_BANDS,
    total_col: str | None = None,
    cache_input: bool = False,
    sum_total_cols: Sequence[str | None] = (),
) -> DataFrame:
    """df + exact global running totals over a total order, no global
    sort and no lineage barrier. ``sums`` is (source_expr, out_col)
    pairs; ``rn_col`` adds the exact global row number (BIGINT,
    1-based); ``total_col`` adds the exact global row COUNT to every
    row (from the same bounded per-band-totals collect — callers that
    need T, e.g. exact_ntile, get it without a second input scan).

    ``order_cols`` must be a TOTAL order (unique tie-break column) of
    (expr, 'asc'|'desc') specs — see the module docstring contract.
    Two bounded collects (<= bands*32 sampled keys; <= bands per-band
    totals) turn band assignment and band offsets into driver
    literals, so every data-proportional stage is a freely
    recomputable pure function of the input.

    ``sum_total_cols`` (aligned with ``sums``, None to skip one) adds
    each sum's GRAND total as a literal column — it falls out of the
    same band-totals collect, so a Pareto-style caller gets SUM(x)
    without a second scan of the input in its final job. Both
    collects' literals are replayed when the identical (input plan,
    spec) was already constructed — see the module-level memo notes."""
    sums = list(sums)
    keys = _norm_order(order_cols)
    # memo lookup: identical (input plan, specs) constructions reuse
    # the collected literals — zero jobs at re-construction (see the
    # module-level memo notes on the immutable-input assumption)
    ik = _input_key(df)
    memo_key = None if ik is None else (
        "cumsum",
        ik,
        df.schema.simpleString(),
        tuple((str(e), asc) for e, asc in keys),
        tuple(str(e) for e, _ in sums),
        bands,
    )
    hit = _KERNELS.get(memo_key)
    if hit is not None:
        # replay the collected literals — ZERO jobs at construction.
        # (A memo entry is stored only after the desc-NULL guard
        # passed, so replaying it cannot admit NULL keys.)
        bnds, btot, btot_schema, total = hit
    else:
        # cache_input: OPT-IN advisory persist for CHAINED callers,
        # where the input lineage is expensive and the construction's
        # two bounded jobs (boundary sample + band totals) would
        # re-execute it. persist is NOT a barrier: lineage is kept,
        # lost blocks recompute (the fault-tolerance property the r6
        # localCheckpoint lacked). LIFETIME (r7/r8 advice closed): the
        # persist is scoped to CONSTRUCTION — unpersisted right after
        # the band-totals collect, so the CacheManager never
        # accumulates session-lifetime entries; the caller's final
        # action recomputes the input once, exactly as with no cache.
        if cache_input:
            from pyspark.storagelevel import StorageLevel

            df = df.persist(StorageLevel.MEMORY_AND_DISK)
        bnds = _band_boundaries(df, keys, bands)
        # Per-band totals: a map-side-combined hash aggregate over the
        # SAME pure band expression, collected (<= bands rows — bounded
        # by the band constant, the ivf_probe_cells collect doctrine)
        # and folded into exclusive prefix offsets on the driver. The
        # offsets then go back as ANOTHER pure CASE over the band
        # column — no join, no broadcast, no second window execution,
        # and — because both the band expression and the offsets are
        # driver literals — no cross-branch banding hazard to barrier
        # over and nothing a lost executor cannot recompute.
        # desc-NULL guard rides the SAME aggregate (appended LAST so
        # the positional sum indices r[2+i] stay stable) — see module
        # docstring
        guard = _null_guard_expr(keys)
        tb = df.withColumn(_BAND, _band_expr(keys, bnds))
        btot_df = tb.groupBy(_BAND).agg(
            F.count(F.lit(1)).alias(_BN),
            *[F.sum(e).alias(f"_rk_t{i}") for i, (e, _) in enumerate(sums)],
            *([guard.alias("_rk_nullk")] if guard is not None else []),
        )
        btot_schema = btot_df.schema
        btot = btot_df.collect()
        btot.sort(key=lambda r: r[0])
        if cache_input:
            # construction jobs done — release the blocks now (the
            # CacheManager entry would otherwise outlive the call)
            df.unpersist(False)
        if guard is not None:
            _raise_if_null_desc_keys(
                sum(r[2 + len(sums)] or 0 for r in btot), keys
            )
        total = sum(r[1] for r in btot)
        _KERNELS.put(memo_key, (bnds, btot, btot_schema, total))
    t = df.withColumn(_BAND, _band_expr(keys, bnds))
    order = [e.asc() if asc else e.desc() for e, asc in keys]
    wp = Window.partitionBy(_BAND).orderBy(*order)
    wf = wp.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    local = t.select(
        "*",
        F.row_number().over(wp).alias(_LRN),
        *[F.sum(e).over(wf).alias(f"_rk_l{i}") for i, (e, _) in enumerate(sums)],
    )

    def _acc(a, b):
        if b is None:
            return a
        return b if a is None else a + b

    def _off_case(pairs, dtype):
        """band_id -> offset literal as a chained CASE (<= bands arms).
        Rendered as ONE parsed SQL string when every offset value has
        an exact literal form (r11 construction-cost fix; band ids are
        distinct so arm order is irrelevant), else the Column chain."""
        import decimal

        tname = dtype if isinstance(dtype, str) else dtype.simpleString()
        arms = []
        for bid, v in pairs:
            if v is None or v == 0:
                continue
            # offsets are numeric (sum/count folds): render through the
            # TARGET type so decimals never squeeze through a narrower
            # intermediate; repr round-trips doubles exactly
            if isinstance(v, bool) or not isinstance(
                v, (int, float, decimal.Decimal)
            ):
                arms = None
                break
            txt = repr(v) if isinstance(v, float) else str(v)
            if "inf" in txt or "nan" in txt:
                arms = None
                break
            arms.append(f"WHEN {_BAND} = {int(bid)} THEN CAST('{txt}' AS {tname})")
        if arms is not None:
            if not arms:
                return F.expr(f"CAST(0 AS {tname})")
            return F.expr(
                "CASE " + " ".join(arms) + f" ELSE CAST(0 AS {tname}) END"
            )
        c = F.lit(0).cast(dtype)
        for bid, v in pairs:
            if v is None or v == 0:
                continue
            c = F.when(F.col(_BAND) == F.lit(bid), F.lit(v).cast(dtype)).otherwise(c)
        return c

    n_pairs = []
    s_pairs: list[list] = [[] for _ in sums]
    run_n = 0
    run_s = [None] * len(sums)
    for r in btot:
        n_pairs.append((r[0], run_n))
        for i in range(len(sums)):
            s_pairs[i].append((r[0], run_s[i]))
        run_n += r[1]
        for i in range(len(sums)):
            run_s[i] = _acc(run_s[i], r[2 + i])
    out = local
    if rn_col is not None:
        out = out.withColumn(
            rn_col,
            (F.col(_LRN) + _off_case(n_pairs, "bigint")).cast("bigint"),
        )
    for i, (_, name) in enumerate(sums):
        dtype = btot_schema[2 + i].dataType
        off = _off_case(s_pairs[i], dtype)
        # NULL semantics must match the global window exactly: the
        # running sum is NULL iff EVERY value so far is NULL. A band
        # whose local prefix is all-NULL must still surface the prior
        # bands' total when one exists; it stays NULL only when no
        # prior band carried a non-NULL total. `has_prior` is band
        # membership in the set whose prior fold is non-None — ONE
        # parsed IN list (band ids are small ints; r11 construction
        # fix, same truth table as the old chained CASE).
        prior_bids = [int(bid) for bid, v in s_pairs[i] if v is not None]
        has_prior = (
            F.expr(f"{_BAND} IN ({','.join(map(str, prior_bids))})")
            if prior_bids
            else F.lit(False)
        )
        out = out.withColumn(
            name,
            F.when(
                F.col(f"_rk_l{i}").isNotNull(), F.col(f"_rk_l{i}") + off
            ).otherwise(
                F.when(has_prior, off).otherwise(F.lit(None).cast(dtype))
            ),
        )
    if total_col is not None:
        out = out.withColumn(total_col, F.lit(total).cast("bigint"))
    # grand totals of the sums as literal columns: after the offsets
    # loop, run_s[i] holds the fold across EVERY band — the same
    # bounded collect the offsets came from, no extra scan
    for i, tname in enumerate(sum_total_cols):
        if tname is not None:
            out = out.withColumn(
                tname, F.lit(run_s[i]).cast(btot_schema[2 + i].dataType)
            )
    drop = [_BAND, _LRN]
    drop += [f"_rk_l{i}" for i in range(len(sums))]
    return out.drop(*drop)


def exact_ntile(
    df: DataFrame,
    order_cols: Sequence,
    n: int,
    out_col: str,
    bands: int = DEFAULT_BANDS,
    cache_input: bool = False,
) -> DataFrame:
    """Exact NTILE(n) over a total order, distributed: SQL NTILE
    assigns ``T div n`` rows per bucket with the first ``T mod n``
    buckets taking one extra — a pure function of (row_number, T), so
    the distributed row number + the band-totals count reproduce it
    bit-for-bit without a single-partition sort (and without a second
    scan of the input for T — ``total_col`` rides the same bounded
    per-band-totals collect). ``order_cols`` follows the
    (expr, 'asc'|'desc') contract in the module docstring."""
    rn = "_rk_rn"
    ranked = distributed_cumsum(
        df,
        order_cols,
        rn_col=rn,
        bands=bands,
        total_col="_rk_tot",
        cache_input=cache_input,
    )
    base = F.expr(f"_rk_tot div {n}")
    rem = F.expr(f"_rk_tot % {n}")
    cut = (base + F.lit(1)) * rem
    r = F.col(rn)
    # rows 1..(base+1)*rem fill the first `rem` (base+1)-sized buckets;
    # the rest fill base-sized buckets. When T < n, base = 0 and every
    # row takes the first branch (cut = T), so the div-by-zero branch
    # is never evaluated for a kept row (Spark `div` yields NULL, and
    # the `when` guard masks it).
    bucket = F.when(
        r <= cut,
        F.expr(f"({rn} - 1) div (_rk_tot div {n} + 1)") + F.lit(1),
    ).otherwise(
        rem
        + F.expr(
            f"({rn} - 1 - (_rk_tot div {n} + 1) * (_rk_tot % {n})) "
            f"div (_rk_tot div {n})"
        )
        + F.lit(1)
    )
    return ranked.withColumn(out_col, bucket.cast("int")).drop(rn, "_rk_tot")


def exact_ntile_multi(
    df: DataFrame,
    specs: Sequence[tuple],
    bands: int = DEFAULT_BANDS,
) -> DataFrame:
    """Several exact NTILEs over the SAME input in one pass — the
    shared-scan form of stacking ``exact_ntile`` calls (the RFM
    pattern: R/F/M quintiles over one customer aggregate). ``specs``
    is a sequence of ``(order_cols, n, out_col)`` triples, each
    following the module's (expr, 'asc'|'desc') order contract; the
    result carries every ``out_col`` (INT, 1-based) and is value-
    identical to chaining single calls (NTILE is a pure function of
    the total order, so composition order cannot matter).

    Why a dedicated form: chained calls pay each pass's bounded jobs
    (boundary sample + band totals) ON TOP of the prior passes'
    windows, compounding re-execution multiplicatively unless the
    caller opts into session-lifetime caching (the r7-flagged
    ``cache_input`` growth). Here:

    - ONE boundary-sample job collects every spec's keys (the sample
      is a shared xxhash64 draw over the union of key columns;
      boundary PLACEMENT only affects balance, never values, so one
      sample serves all specs);
    - ONE grouping-sets aggregate computes every spec's per-band
      totals — and the desc-NULL guards — straight off the band CASE
      columns, with NO window in its lineage;
    - the per-spec local row numbers land in ONE select (one
      WindowExec per spec, executed back-to-back in the consumer's
      single job).

    Total: 2 bounded collects + the consumer job, regardless of how
    many specs — no caching, no recompute compounding."""
    norm = [(_norm_order(oc), int(n), out) for oc, n, out in specs]
    band_cols = [f"_rk_band{si}" for si in range(len(norm))]
    # memo (same contract as distributed_cumsum's): identical
    # (input plan, specs) constructions replay the sample boundaries
    # and per-band totals with zero jobs
    ik = _input_key(df)
    memo_key = None if ik is None else (
        "ntile_multi",
        ik,
        df.schema.simpleString(),
        tuple(
            (tuple((str(e), asc) for e, asc in keys), n, out)
            for keys, n, out in norm
        ),
        bands,
    )
    hit = _KERNELS.get(memo_key)
    if hit is not None:
        bnds_list, per_spec = hit
        t = df
        for si, (keys, _, _) in enumerate(norm):
            t = t.withColumn(band_cols[si], _band_expr(keys, bnds_list[si]))
    else:
        # ---- one shared boundary-sample job over every spec's keys
        sel: list[Column] = []
        flat: list[str] = []
        for si, (keys, _, _) in enumerate(norm):
            for ki, (e, _) in enumerate(keys):
                a = f"_rk_s{si}k{ki}"
                sel.append(e.alias(a))
                flat.append(a)
        kc = [F.col(a) for a in flat]
        rows = (
            df.select(*sel)
            .orderBy(F.xxhash64(*kc).asc(), *[c.asc() for c in kc])
            .limit(bands * _SAMPLE_PER_BAND)
            .collect()
        )
        bnds_list = []
        t = df
        for si, (keys, _, _) in enumerate(norm):
            sample = [
                tuple(r[f"_rk_s{si}k{ki}"] for ki in range(len(keys)))
                for r in rows
            ]
            bnds = _boundaries_from_sample(
                sample, [asc for _, asc in keys], bands
            )
            bnds_list.append(bnds)
            t = t.withColumn(band_cols[si], _band_expr(keys, bnds))
        # ---- one grouping-sets aggregate: per-spec per-band counts
        # plus the desc-NULL guards in a single job. Band values are
        # never NULL in the data (the CASE always yields an int), so
        # the one non-NULL band column identifies each row's spec.
        guard_cols: dict[int, str] = {}
        aggs = [F.count(F.lit(1)).alias(_BN)]
        for si, (keys, _, _) in enumerate(norm):
            g = _null_guard_expr(keys)
            if g is not None:
                name = f"_rk_nullk{si}"
                aggs.append(g.alias(name))
                guard_cols[si] = name
        btot_rows = (
            t.groupingSets(
                [[F.col(b)] for b in band_cols],
                *[F.col(b) for b in band_cols],
            )
            .agg(*aggs)
            .collect()
        )
        per_spec = {si: [] for si in range(len(norm))}
        null_counts: dict[int, int] = {si: 0 for si in guard_cols}
        for r in btot_rows:
            for si, b in enumerate(band_cols):
                if r[b] is not None:
                    per_spec[si].append((r[b], r[_BN]))
                    if si in guard_cols:
                        null_counts[si] += r[guard_cols[si]] or 0
                    break
        for si, nn in null_counts.items():
            _raise_if_null_desc_keys(nn, norm[si][0])
        _KERNELS.put(memo_key, (bnds_list, per_spec))
    # ---- every spec's local row number in one select (one WindowExec
    # per spec in the consumer's single job)
    lrn_cols = [f"_rk_lrn{si}" for si in range(len(norm))]
    wins = []
    for si, (keys, _, _) in enumerate(norm):
        order = [e.asc() if asc else e.desc() for e, asc in keys]
        wp = Window.partitionBy(band_cols[si]).orderBy(*order)
        wins.append(F.row_number().over(wp).alias(lrn_cols[si]))
    out = t.select("*", *wins)
    for si, (_, n, out_col) in enumerate(norm):
        run = 0
        arms = []
        for bid, cnt in sorted(per_spec[si]):
            if run:
                arms.append(
                    f"WHEN {band_cols[si]} = {int(bid)} "
                    f"THEN CAST({run} AS BIGINT)"
                )
            run += cnt
        off = (
            F.expr("CASE " + " ".join(arms) + " ELSE CAST(0 AS BIGINT) END")
            if arms
            else F.lit(0).cast("bigint")
        )  # one parsed CASE — r11, see _off_case
        total = run
        base, rem = total // n, total % n
        cut = (base + 1) * rem
        rn_name = f"_rk_rn{si}"
        out = out.withColumn(
            rn_name, (F.col(lrn_cols[si]) + off).cast("bigint")
        )
        # same closed-form bucket as exact_ntile, with T a driver
        # literal; when T < n, base = 0 and cut = T so the second
        # branch (div 0 -> NULL) is masked by the `when` for every row
        bucket = F.when(
            F.col(rn_name) <= F.lit(cut),
            F.expr(f"({rn_name} - 1) div {base + 1}") + F.lit(1),
        ).otherwise(
            F.lit(rem)
            + F.expr(f"({rn_name} - 1 - {cut}) div {base}")
            + F.lit(1)
        )
        out = out.withColumn(out_col, bucket.cast("int")).drop(rn_name)
    return out.drop(*band_cols, *lrn_cols)
