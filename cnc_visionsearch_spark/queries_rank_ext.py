"""Fact-scale showcases of the shared rank primitives ([EXT], r6).

operators/rank.py (global_topn / distributed_cumsum / exact_ntile)
exists because the reference's core operator is a global top-k that
never materializes a global ordering (main.py:155); these queries run
the primitives over FACT-scale and aggregate-scale inputs so the
plan-audit gate (window_no_partition == 0) is exercised where it
matters most — Pareto coverage over the customer base, engagement
banding over users, length banding over the corpus.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from cnc_visionsearch_spark.operators.rank import distributed_cumsum, exact_ntile
from cnc_visionsearch_spark.registry import register
from cnc_visionsearch_spark.session import local_frame
from cnc_visionsearch_spark.sources.catalog import load_table


@register(
    "customer_pareto_coverage",
    oracle="""
WITH rev AS (
  SELECT o_custkey,
    CAST(SUM(CAST(floor(o_totalprice * 100.0 + 0.5) AS BIGINT))
      AS BIGINT) AS rev_c
  FROM orders GROUP BY o_custkey
),
ranked AS (
  SELECT rev_c,
    CAST(SUM(rev_c) OVER (ORDER BY rev_c DESC, o_custkey ASC
      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_c
  FROM rev
),
tot AS (
  SELECT CAST(SUM(rev_c) AS BIGINT) AS t,
    CAST(count(*) AS BIGINT) AS n_customers
  FROM rev
),
th(threshold_pct) AS (VALUES (50), (80), (95))
SELECT CAST(th.threshold_pct AS BIGINT) AS threshold_pct,
  CAST(sum(CASE WHEN (r.cum_c - r.rev_c) * 100 < tot.t * th.threshold_pct
                THEN 1 ELSE 0 END) AS BIGINT) AS n_customers_needed,
  CAST(sum(CASE WHEN (r.cum_c - r.rev_c) * 100 < tot.t * th.threshold_pct
                THEN 1 ELSE 0 END) * 1000000 // tot.n_customers AS BIGINT)
    AS customer_share_ppm
FROM ranked r, tot, th
GROUP BY th.threshold_pct, tot.n_customers ORDER BY threshold_pct
""",
    doc="Revenue-concentration coverage: the minimum number of "
    "customers whose lifetime revenue covers 50/80/95% of the book "
    "(the customer-side Pareto complement to part_abc_classification) "
    "— a customer is NEEDED at threshold t iff the cumulative revenue "
    "STRICTLY BEFORE it has not yet reached t% (exact integer-cents "
    "comparison, cum*100 < total*t). The running total is operators/"
    "rank.distributed_cumsum over the customer aggregate — range-"
    "repartitioned prefix sums, no single-partition sort (the r6 "
    "primitive exercised at customer scale); thresholds are a 3-row "
    "literal table, so the coverage table is one broadcast-joined "
    "conditional aggregate.",
)
def customer_pareto_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    rev = o.groupBy("o_custkey").agg(
        F.sum(
            F.floor(F.col("o_totalprice") * F.lit(100.0) + F.lit(0.5)).cast(
                "bigint"
            )
        )
        .cast("bigint")
        .alias("rev_c")
    )
    # the grand totals (t, n_customers) ride the kernel's band-totals
    # collect as literal columns — the final job scans the orders
    # rollup ONCE (the r8 `tot` branch re-aggregated it a second time).
    # bands=16 (r10): driver-side plan ANALYSIS is linear in the band
    # count (two 32-arm CASE trees dominated the serving wall — the
    # kernel's values are band-invariant by construction, only balance
    # changes), and 16 bands keeps per-band rows tiny at any benched
    # scale; a 1000-executor deployment raises the knob with the
    # cluster, not the query (measured: 32 bands 2.3-2.5s warm
    # construct+action, 16 bands 1.35-1.5s, same hashes)
    ranked = distributed_cumsum(
        rev,
        [(F.col("rev_c"), "desc"), ("o_custkey", "asc")],
        sums=[(F.col("rev_c"), "cum_c")],
        total_col="n_customers",
        sum_total_cols=["t"],
        bands=16,
    ).withColumn("t", F.col("t").cast("bigint"))
    th = local_frame(spark, [(50,), (80,), (95,)], "threshold_pct int")
    needed = (F.col("cum_c") - F.col("rev_c")) * 100 < F.col("t") * F.col(
        "threshold_pct"
    )
    return (
        ranked.crossJoin(F.broadcast(th))
        .groupBy(
            F.col("threshold_pct").cast("bigint").alias("threshold_pct"),
            "n_customers",
        )
        .agg(
            F.sum(needed.cast("int"))
            .cast("bigint")
            .alias("n_customers_needed")
        )
        .select(
            "threshold_pct",
            "n_customers_needed",
            F.expr(
                "CAST(n_customers_needed * 1000000 DIV n_customers AS BIGINT)"
            ).alias("customer_share_ppm"),
        )
        .orderBy("threshold_pct")
    )


@register(
    "events_user_engagement_deciles",
    oracle="""
WITH per_user AS (
  SELECT user_id, CAST(count(*) AS BIGINT) AS n_events,
    CAST(count(DISTINCT event_type) AS BIGINT) AS n_types
  FROM events GROUP BY user_id
),
tiled AS (
  SELECT *,
    CAST(ntile(10) OVER (ORDER BY n_events ASC, user_id ASC) AS INT)
      AS decile
  FROM per_user
)
SELECT decile,
  CAST(count(*) AS BIGINT) AS n_users,
  CAST(min(n_events) AS BIGINT) AS min_events,
  CAST(max(n_events) AS BIGINT) AS max_events,
  CAST(sum(n_events) AS BIGINT) AS total_events,
  CAST(sum(n_types) AS BIGINT) AS sum_types
FROM tiled GROUP BY decile ORDER BY decile
""",
    doc="User-engagement decile banding: per-user event volume -> "
    "exact NTILE(10) -> per-band population and activity mass — the "
    "standard engagement-tiering report (which decile produces the "
    "events, where the inactive tail starts). Banding is operators/"
    "rank.exact_ntile over the USER aggregate (user-scale, grows with "
    "the product): distributed row numbers + the closed-form bucket "
    "formula, bit-identical to the oracle's global-window NTILE with "
    "no single-partition sort.",
)
def events_user_engagement_deciles(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    per_user = ev.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_events"),
        F.countDistinct("event_type").cast("bigint").alias("n_types"),
    )
    tiled = exact_ntile(
        per_user,
        ["n_events", "user_id"],
        10,
        "decile",
    )
    return (
        tiled.groupBy("decile")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_users"),
            F.min("n_events").cast("bigint").alias("min_events"),
            F.max("n_events").cast("bigint").alias("max_events"),
            F.sum("n_events").cast("bigint").alias("total_events"),
            F.sum("n_types").cast("bigint").alias("sum_types"),
        )
        .orderBy("decile")
    )


@register(
    "doc_length_deciles",
    oracle="""
WITH per_doc AS (
  SELECT doc_id, lang,
    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
    n_chars
  FROM documents
),
tiled AS (
  SELECT *,
    CAST(ntile(10) OVER (ORDER BY n_tokens ASC, doc_id ASC) AS INT)
      AS decile
  FROM per_doc
)
SELECT decile,
  CAST(count(*) AS BIGINT) AS n_docs,
  CAST(min(n_tokens) AS BIGINT) AS min_tokens,
  CAST(max(n_tokens) AS BIGINT) AS max_tokens,
  CAST(sum(n_chars) AS BIGINT) AS total_chars,
  CAST(count(DISTINCT lang) AS BIGINT) AS n_langs
FROM tiled GROUP BY decile ORDER BY decile
""",
    doc="Corpus length-decile profile: documents banded into exact "
    "equal-population token-count deciles with per-band char mass "
    "and language spread — the curation view that decides truncation "
    "and packing policy (which deciles hold the short-doc noise, "
    "whether long docs skew to one language). exact NTILE over the "
    "CORPUS itself (one row per document — this is the fact-scale "
    "banding case where the unpartitioned-window form would be worst) "
    "via operators/rank.exact_ntile; token counts are exact "
    "whitespace-split lengths, the corpus tokenization convention.",
)
def doc_length_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    per_doc = d.select(
        "doc_id",
        "lang",
        F.size(F.split("text", " ")).cast("bigint").alias("n_tokens"),
        "n_chars",
    )
    tiled = exact_ntile(
        per_doc,
        ["n_tokens", "doc_id"],
        10,
        "decile",
    )
    return (
        tiled.groupBy("decile")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.min("n_tokens").cast("bigint").alias("min_tokens"),
            F.max("n_tokens").cast("bigint").alias("max_tokens"),
            F.sum("n_chars").cast("bigint").alias("total_chars"),
            F.countDistinct("lang").cast("bigint").alias("n_langs"),
        )
        .orderBy("decile")
    )


@register(
    "customer_segment_migration",
    oracle="""
WITH bounds AS (
  SELECT min(o_orderdate) AS mn, max(o_orderdate) AS mx FROM orders
),
halved AS (
  SELECT o_custkey,
    CAST(floor(o_totalprice * 100.0 + 0.5) AS BIGINT) AS price_c,
    2 * date_diff('second', bounds.mn, o_orderdate)
      < date_diff('second', bounds.mn, bounds.mx) AS in_h1
  FROM orders, bounds
),
h1 AS (
  SELECT o_custkey, CAST(sum(price_c) AS BIGINT) AS spend_c
  FROM halved WHERE in_h1 GROUP BY o_custkey
),
h2 AS (
  SELECT o_custkey, CAST(sum(price_c) AS BIGINT) AS spend_c
  FROM halved WHERE NOT in_h1 GROUP BY o_custkey
),
q1 AS (
  SELECT o_custkey,
    CAST(ntile(5) OVER (ORDER BY spend_c ASC, o_custkey ASC) AS BIGINT) AS q
  FROM h1
),
q2 AS (
  SELECT o_custkey,
    CAST(ntile(5) OVER (ORDER BY spend_c ASC, o_custkey ASC) AS BIGINT) AS q
  FROM h2
)
SELECT coalesce(q1.q, 0) AS h1_quintile,
  coalesce(q2.q, 0) AS h2_quintile,
  CAST(count(*) AS BIGINT) AS n_customers
FROM q1 FULL OUTER JOIN q2 USING (o_custkey)
GROUP BY 1, 2 ORDER BY h1_quintile, h2_quintile
""",
    doc="Customer-value segment MIGRATION: spend quintile in the "
    "first half of the order history vs the second (split at the "
    "integer-seconds midpoint of the date range — no timestamp "
    "construction, just one exact comparison), cross-tabulated into "
    "the 6x6 migration matrix (quintile 0 = absent from that half: "
    "churned or newly acquired) — the report a CRM team reads to see "
    "whether champions persist or decay, one level deeper than the "
    "static RFM snapshot. BOTH quintile passes are operators/rank."
    "exact_ntile (distributed, bit-identical to the oracle's window "
    "NTILE); the halves come from one scan with the bounds folded "
    "out of the same table, and the matrix is a full-outer join of "
    "two customer-keyed aggregates.",
)
def customer_segment_migration(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    bounds = o.agg(
        F.min("o_orderdate").alias("mn"), F.max("o_orderdate").alias("mx")
    )
    halved = o.crossJoin(F.broadcast(bounds)).select(
        "o_custkey",
        F.floor(F.col("o_totalprice") * F.lit(100.0) + F.lit(0.5))
        .cast("bigint")
        .alias("price_c"),
        (
            F.lit(2)
            * (F.col("o_orderdate").cast("long") - F.col("mn").cast("long"))
            < (F.col("mx").cast("long") - F.col("mn").cast("long"))
        ).alias("in_h1"),
    )
    h1 = (
        halved.filter(F.col("in_h1"))
        .groupBy("o_custkey")
        .agg(F.sum("price_c").cast("bigint").alias("spend_c"))
    )
    h2 = (
        halved.filter(~F.col("in_h1"))
        .groupBy("o_custkey")
        .agg(F.sum("price_c").cast("bigint").alias("spend_c"))
    )
    q1 = exact_ntile(
        h1, ["spend_c", "o_custkey"], 5, "q"
    ).select("o_custkey", F.col("q").cast("bigint").alias("q1"))
    q2 = exact_ntile(
        h2, ["spend_c", "o_custkey"], 5, "q"
    ).select("o_custkey", F.col("q").cast("bigint").alias("q2"))
    return (
        q1.join(q2, "o_custkey", "full_outer")
        .groupBy(
            F.coalesce("q1", F.lit(0)).alias("h1_quintile"),
            F.coalesce("q2", F.lit(0)).alias("h2_quintile"),
        )
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_customers"))
        .orderBy("h1_quintile", "h2_quintile")
    )
