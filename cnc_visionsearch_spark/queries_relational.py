"""Relational operator coverage over the TPC-H-ish star schema
(SURVEY §2.2-§2.6): multi-way joins, hash aggregation, window top-k,
rollup, set ops, semi/anti joins, point lookups.

The reference itself only ever does point lookups (P1/P2) and one
equi-join (J1); everything else here is the [EXT] general-analytics
surface the rebuilt engine gets from Catalyst. Scale doctrine: an
author broadcast hint appears ONLY on sides that are bounded BY
CONSTRUCTION — region (5 rows), nation (25 rows), and 1-row/n-row
scalar aggregates (stats, totals, maxima). EVERYTHING that grows with
scale factor carries no hint: not just orders/customer/lineitem but
also part (~1/30 of lineitem — TBs at the 100 TB design point) and
supplier (~1/600 — still far beyond any broadcast budget), and any
filtered or key-derived subset of them (a LIKE filter cuts a constant
fraction; linear times a constant is linear). At bench scale AQE's
size-based planning broadcasts those sides anyway (same local plan,
same speed); at 100 TB it correctly shuffles them — the hint would
have been the OOM. Aggregates are partial+final map-side combined.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from cnc_visionsearch_spark.registry import register
from cnc_visionsearch_spark.session import local_frame
from cnc_visionsearch_spark.sources.catalog import load_table, spread_scan


def _dec_sum(col, alias, scale=6):
    """Exact decimal sum cast back to double (registry determinism rule)."""
    return F.sum(col.cast(f"decimal(18,{scale})")).cast("double").alias(alias)


@register(
    "q1_pricing_summary",
    oracle="""
SELECT l_returnflag, l_linestatus,
  CAST(SUM(CAST(l_quantity AS DECIMAL(18,6))) AS DOUBLE) AS sum_qty,
  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,6))) AS DOUBLE) AS sum_base_price,
  CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6))) AS DOUBLE) AS sum_disc_price,
  CAST(SUM(CAST(l_extendedprice * (1 - l_discount) * (1 + l_tax) AS DECIMAL(18,6))) AS DOUBLE) AS sum_charge,
  CAST(SUM(CAST(l_discount AS DECIMAL(18,6))) AS DOUBLE) AS sum_disc,
  CAST(count(*) AS BIGINT) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
GROUP BY l_returnflag, l_linestatus
""",
    doc="TPC-H Q1 analog: scan -> filter (pushed to parquet) -> partial+final "
    "hash aggregate. The workhorse agg benchmark.",
)
def q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    # the 5 decimal partial sums fuse into the scan stage; on the
    # single-row-group fixture file that stage is ONE effective task —
    # spread_scan (guide §2.5) parallelizes it and is a no-op on
    # multi-file production layouts (measured 1.55s -> 0.83s at sf0.1)
    li = spread_scan(load_table(spark, sf_dir, "lineitem"), "l_orderkey")
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    charge = disc_price * (1 + F.col("l_tax"))
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02 00:00:00").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            _dec_sum(F.col("l_quantity"), "sum_qty"),
            _dec_sum(F.col("l_extendedprice"), "sum_base_price"),
            _dec_sum(disc_price, "sum_disc_price"),
            _dec_sum(charge, "sum_charge"),
            _dec_sum(F.col("l_discount"), "sum_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


@register(
    "q3_shipping_priority",
    oracle="""
SELECT l.l_orderkey,
  CAST(SUM(CAST(l.l_extendedprice * (1 - l.l_discount) AS DECIMAL(18,6))) AS DOUBLE) AS revenue,
  o.o_orderdate
FROM customer c
JOIN orders o ON c.c_custkey = o.o_custkey
JOIN lineitem l ON o.o_orderkey = l.l_orderkey
WHERE c.c_mktsegment = 'BUILDING'
  AND o.o_orderdate < TIMESTAMP '1995-03-15 00:00:00'
  AND l.l_shipdate > TIMESTAMP '1995-03-15 00:00:00'
GROUP BY l.l_orderkey, o.o_orderdate
ORDER BY revenue DESC, l_orderkey ASC
LIMIT 10
""",
    doc="TPC-H Q3 analog: filtered fact joins -> agg -> top-10 "
    "(TakeOrderedAndProject). No broadcast hints: customer and orders "
    "grow with scale factor, so customer x orders shuffles on custkey "
    "and the result x lineitem on orderkey; AQE upgrades either join to "
    "broadcast at runtime if the filtered side is actually small.",
)
def q3_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer").filter(
        F.col("c_mktsegment") == "BUILDING"
    )
    o = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < F.lit("1995-03-15 00:00:00").cast("timestamp")
    )
    # r12: spread_scan on lineitem re-measured on a QUIET window
    # (the r11 rejection was under partial capacity) — still 1.14x
    # slower interleaved: q3's scan already overlaps the join build
    # sides, and the added exchange only delays the probe. Rejected
    # again; q1 remains the only relational spread site.
    li = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > F.lit("1995-03-15 00:00:00").cast("timestamp")
    )
    return (
        li.join(
            o.join(c, o.o_custkey == c.c_custkey),
            li.l_orderkey == o.o_orderkey,
        )
        .groupBy("l_orderkey", "o_orderdate")
        .agg(_dec_sum(F.col("l_extendedprice") * (1 - F.col("l_discount")), "revenue"))
        .select("l_orderkey", "revenue", "o_orderdate")
        .orderBy(F.col("revenue").desc(), F.col("l_orderkey").asc())
        .limit(10)
    )


@register(
    "q5_local_supplier_volume",
    oracle="""
SELECT n.n_name,
  CAST(SUM(CAST(l.l_extendedprice * (1 - l.l_discount) AS DECIMAL(18,6))) AS DOUBLE) AS revenue
FROM customer c
JOIN orders o ON c.c_custkey = o.o_custkey
JOIN lineitem l ON o.o_orderkey = l.l_orderkey
JOIN supplier s ON l.l_suppkey = s.s_suppkey AND c.c_nationkey = s.s_nationkey
JOIN nation n ON s.s_nationkey = n.n_nationkey
JOIN region r ON n.n_regionkey = r.r_regionkey
WHERE r.r_name = 'ASIA'
GROUP BY n.n_name
ORDER BY revenue DESC, n_name ASC
""",
    doc="TPC-H Q5 analog: 6-way join. Bounded dims (nation/region) carry "
    "hints; supplier and the fact-fact joins (lineitem x orders on "
    "orderkey, x customer on custkey) are AQE's call — supplier is "
    "~1/600 of lineitem (hundreds of GB at 100 TB), broadcast only "
    "when its runtime size fits. AQE handles skew and late upgrades.",
)
def q5_local_supplier_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    # r12: spread_scan re-measured on a quiet window — block ratios
    # 1.36/0.93/0.95, inconsistent (the 6-way join overlaps its build
    # sides with the probe scan); no reproducible win, kept unspread.
    li = load_table(spark, sf_dir, "lineitem")
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(
            s,
            (li.l_suppkey == s.s_suppkey) & (c.c_nationkey == s.s_nationkey),
        )
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("n_name")
        .agg(_dec_sum(F.col("l_extendedprice") * (1 - F.col("l_discount")), "revenue"))
        .orderBy(F.col("revenue").desc(), F.col("n_name").asc())
    )


@register(
    "top_customers_per_nation",
    oracle="""
WITH ranked AS (
  SELECT n.n_name, c.c_custkey, c.c_name, c.c_acctbal,
    row_number() OVER (PARTITION BY n.n_name ORDER BY c.c_acctbal DESC, c.c_custkey ASC) AS rn
  FROM customer c JOIN nation n ON c.c_nationkey = n.n_nationkey
)
SELECT n_name, c_custkey, c_name, c_acctbal, CAST(rn AS INT) AS rn
FROM ranked WHERE rn <= 3
""",
    doc="W3 ranking window: top-3 customers by balance per nation. Spark >=3.5 "
    "plans the rank filter as WindowGroupLimit (partial top-k pre-shuffle).",
)
def top_customers_per_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    w = Window.partitionBy("n_name").orderBy(
        F.col("c_acctbal").desc(), F.col("c_custkey").asc()
    )
    return (
        c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .select("n_name", "c_custkey", "c_name", "c_acctbal")
        .withColumn("rn", F.row_number().over(w).cast("int"))
        .filter(F.col("rn") <= 3)
    )


@register(
    "rollup_order_stats",
    oracle="""
SELECT o_orderstatus, o_orderpriority,
  CAST(count(*) AS BIGINT) AS n_orders,
  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE) AS total_price
FROM orders
GROUP BY ROLLUP (o_orderstatus, o_orderpriority)
""",
    doc="A3 grouping sets: ROLLUP(status, priority) — partial aggregates with "
    "grouping-id expansion, one shuffle.",
)
def rollup_order_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    return o.rollup("o_orderstatus", "o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_orders"),
        _dec_sum(F.col("o_totalprice"), "total_price"),
    )


@register(
    "customers_without_orders",
    oracle="""
SELECT c.c_custkey, c.c_name
FROM customer c
WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
""",
    doc="J2 family: anti join (NOT EXISTS). The reference's existence probe "
    "(main.py:120-121) generalized to a set operation.",
)
def customers_without_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    return c.join(o, c.c_custkey == o.o_custkey, "left_anti").select(
        "c_custkey", "c_name"
    )


@register(
    "set_ops_buyer_segments",
    oracle="""
SELECT c_custkey FROM customer c JOIN orders o ON c.c_custkey = o.o_custkey
WHERE o.o_totalprice > 200000
INTERSECT
SELECT c_custkey FROM customer WHERE c_acctbal > 0
EXCEPT
SELECT c_custkey FROM customer WHERE c_mktsegment = 'AUTOMOBILE'
""",
    doc="§2.6 set ops: INTERSECT / EXCEPT (distinct semantics) — planned as "
    "aggregated semi/anti joins.",
)
def set_ops_buyer_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    big_buyers = (
        c.join(o, c.c_custkey == o.o_custkey)
        .filter(F.col("o_totalprice") > 200000)
        .select("c_custkey")
    )
    positive = c.filter(F.col("c_acctbal") > 0).select("c_custkey")
    auto = c.filter(F.col("c_mktsegment") == "AUTOMOBILE").select("c_custkey")
    return big_buyers.intersect(positive).exceptAll(auto.distinct())


@register(
    "point_lookup_customer",
    oracle="""
SELECT c_custkey, c_name, c_acctbal FROM customer WHERE c_custkey = 42
""",
    doc="P1/P2: point lookup by key (reference main.py:120-121, 160-162). "
    "Parquet scan with pushed-down predicate (min/max rowgroup skipping).",
)
def point_lookup_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    return c.filter(F.col("c_custkey") == 42).select("c_custkey", "c_name", "c_acctbal")


@register(
    "q6_forecast_revenue",
    oracle="""
SELECT CAST(SUM(CAST(l_extendedprice * l_discount AS DECIMAL(18,6))) AS DOUBLE) AS revenue,
  CAST(count(*) AS BIGINT) AS n_rows
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
  AND l_discount BETWEEN 0.03 AND 0.07
  AND l_quantity < 24
""",
    doc="TPC-H Q6 analog: pure filter+agg — every predicate pushes to the "
    "parquet scan (row-group min/max skipping); the canonical scan-rate "
    "benchmark at 100 TB.",
)
def q6_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1997-01-01 00:00:00").cast("timestamp"))
            & (F.col("l_discount") >= 0.03)
            & (F.col("l_discount") <= 0.07)
            & (F.col("l_quantity") < 24)
        )
        .agg(
            _dec_sum(F.col("l_extendedprice") * F.col("l_discount"), "revenue"),
            F.count(F.lit(1)).alias("n_rows"),
        )
    )


@register(
    "q4_order_priority",
    oracle="""
SELECT o.o_orderpriority, CAST(count(*) AS BIGINT) AS n_orders
FROM orders o
WHERE o.o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND o.o_orderdate < TIMESTAMP '1996-10-01 00:00:00'
  AND EXISTS (
    SELECT 1 FROM lineitem l
    WHERE l.l_orderkey = o.o_orderkey AND l.l_shipdate > o.o_orderdate
  )
GROUP BY o.o_orderpriority
""",
    doc="TPC-H Q4 analog: EXISTS -> left-semi join (fact-fact, shuffles on "
    "orderkey with AQE) -> grouped count.",
)
def q4_order_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1996-10-01 00:00:00").cast("timestamp"))
    )
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    matched = o.join(
        li,
        (o.o_orderkey == li.l_orderkey) & (li.l_shipdate > o.o_orderdate),
        "left_semi",
    )
    return matched.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_orders")
    )


@register(
    "q7_volume_shipping",
    oracle="""
SELECT supp_nation, cust_nation, l_year,
  CAST(SUM(CAST(volume AS DECIMAL(18,6))) AS DOUBLE) AS revenue
FROM (
  SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
    CAST(EXTRACT(year FROM l.l_shipdate) AS INT) AS l_year,
    l.l_extendedprice * (1 - l.l_discount) AS volume
  FROM supplier s
  JOIN lineitem l ON s.s_suppkey = l.l_suppkey
  JOIN orders o ON o.o_orderkey = l.l_orderkey
  JOIN customer c ON c.c_custkey = o.o_custkey
  JOIN nation n1 ON s.s_nationkey = n1.n_nationkey
  JOIN nation n2 ON c.c_nationkey = n2.n_nationkey
  WHERE ((n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
      OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1'))
    AND l.l_shipdate BETWEEN TIMESTAMP '1995-01-01 00:00:00'
                         AND TIMESTAMP '1996-12-31 00:00:00'
) shipping
GROUP BY supp_nation, cust_nation, l_year
""",
    doc="TPC-H Q7 analog: two roles of the same dim (nation) in one plan — "
    "both nation copies broadcast (bounded dims); supplier joins are "
    "AQE-sized; the disjunctive "
    "nation-pair predicate applies post-join. The fact-fact joins "
    "(lineitem x orders, x customer) shuffle on their keys — customer is "
    "fact-scale and carries no broadcast hint.",
)
def q7_volume_shipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1995-01-01 00:00:00").cast("timestamp"))
        & (F.col("l_shipdate") <= F.lit("1996-12-31 00:00:00").cast("timestamp"))
    )
    s = load_table(spark, sf_dir, "supplier")
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    n1 = n.select(
        F.col("n_nationkey").alias("n1_key"), F.col("n_name").alias("supp_nation")
    )
    n2 = n.select(
        F.col("n_nationkey").alias("n2_key"), F.col("n_name").alias("cust_nation")
    )
    pair = (
        (F.col("supp_nation") == "NATION_1") & (F.col("cust_nation") == "NATION_2")
    ) | ((F.col("supp_nation") == "NATION_2") & (F.col("cust_nation") == "NATION_1"))
    return (
        li.join(s, li.l_suppkey == s.s_suppkey)
        .join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n1), F.col("s_nationkey") == F.col("n1_key"))
        .join(F.broadcast(n2), F.col("c_nationkey") == F.col("n2_key"))
        .filter(pair)
        .withColumn("l_year", F.year("l_shipdate").cast("int"))
        .groupBy("supp_nation", "cust_nation", "l_year")
        .agg(_dec_sum(F.col("l_extendedprice") * (1 - F.col("l_discount")), "revenue"))
    )


@register(
    "q10_returned_items",
    oracle="""
SELECT c.c_custkey, c.c_name,
  CAST(SUM(CAST(l.l_extendedprice * (1 - l.l_discount) AS DECIMAL(18,6))) AS DOUBLE) AS revenue,
  c.c_acctbal, n.n_name
FROM customer c
JOIN orders o ON c.c_custkey = o.o_custkey
JOIN lineitem l ON l.l_orderkey = o.o_orderkey
JOIN nation n ON c.c_nationkey = n.n_nationkey
WHERE o.o_orderdate >= TIMESTAMP '1995-10-01 00:00:00'
  AND o.o_orderdate < TIMESTAMP '1996-01-01 00:00:00'
  AND l.l_returnflag = 'R'
GROUP BY c.c_custkey, c.c_name, c.c_acctbal, n.n_name
ORDER BY revenue DESC, c_custkey ASC
LIMIT 20
""",
    doc="TPC-H Q10 analog: who returned the most revenue last quarter. "
    "Date + returnflag predicates push to both fact scans; top-20 is "
    "TakeOrderedAndProject (per-partition heap, no global sort).",
)
def q10_returned_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1995-10-01 00:00:00").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1996-01-01 00:00:00").cast("timestamp"))
    )
    li = load_table(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    n = load_table(spark, sf_dir, "nation")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("c_custkey", "c_name", "c_acctbal", "n_name")
        .agg(_dec_sum(F.col("l_extendedprice") * (1 - F.col("l_discount")), "revenue"))
        .select("c_custkey", "c_name", "revenue", "c_acctbal", "n_name")
        .orderBy(F.col("revenue").desc(), F.col("c_custkey").asc())
        .limit(20)
    )


@register(
    "q14_promo_revenue",
    oracle="""
SELECT 100.0 * (
    CAST(SUM(CAST(CASE WHEN p.p_type LIKE 'PROMO%'
        THEN l.l_extendedprice * (1 - l.l_discount) ELSE 0 END AS DECIMAL(18,6))) AS DOUBLE)
    / CAST(SUM(CAST(l.l_extendedprice * (1 - l.l_discount) AS DECIMAL(18,6))) AS DOUBLE)
  ) AS promo_revenue_pct
FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
WHERE l.l_shipdate >= TIMESTAMP '1995-09-01 00:00:00'
  AND l.l_shipdate < TIMESTAMP '1995-10-01 00:00:00'
""",
    doc="TPC-H Q14 analog: conditional aggregate ratio over a fact-dim join "
    "(part is AQE-sized: auto-broadcast at bench scale, shuffle at "
    "100 TB where part is TB-scale). Decimal partials, then the ratio "
    "taken in DOUBLE on both engines (a decimal-arithmetic division "
    "would round differently per engine).",
)
def q14_promo_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1995-09-01 00:00:00").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1995-10-01 00:00:00").cast("timestamp"))
    )
    p = load_table(spark, sf_dir, "part")
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    promo = F.when(F.col("p_type").like("PROMO%"), disc_price).otherwise(F.lit(0.0))
    return (
        li.join(p, li.l_partkey == p.p_partkey)
        .agg(
            (
                F.lit(100.0)
                * (
                    F.sum(promo.cast("decimal(18,6)")).cast("double")
                    / F.sum(disc_price.cast("decimal(18,6)")).cast("double")
                )
            ).alias("promo_revenue_pct")
        )
    )


@register(
    "q18_large_volume_customers",
    oracle="""
SELECT c.c_name, c.c_custkey, o.o_orderkey, o.o_orderdate, o.o_totalprice,
  CAST(SUM(CAST(l.l_quantity AS DECIMAL(18,6))) AS DOUBLE) AS total_qty
FROM customer c
JOIN orders o ON c.c_custkey = o.o_custkey
JOIN lineitem l ON o.o_orderkey = l.l_orderkey
WHERE o.o_orderkey IN (
  SELECT l_orderkey FROM lineitem GROUP BY l_orderkey
  HAVING SUM(CAST(l_quantity AS DECIMAL(18,6))) > 300
)
GROUP BY c.c_name, c.c_custkey, o.o_orderkey, o.o_orderdate, o.o_totalprice
ORDER BY o_totalprice DESC, o_orderkey ASC
LIMIT 100
""",
    doc="TPC-H Q18 analog: IN-subquery over a grouped HAVING -> left-semi "
    "join against the pre-aggregated key set. The agg and the semi join "
    "share the l_orderkey hash partitioning, so AQE reuses the exchange.",
)
def q18_large_volume_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    big_orders = (
        li.groupBy("l_orderkey")
        .agg(F.sum(F.col("l_quantity").cast("decimal(18,6)")).alias("q"))
        .filter(F.col("q") > 300)
        .select("l_orderkey")
    )
    return (
        o.join(big_orders, o.o_orderkey == big_orders.l_orderkey, "left_semi")
        .join(li, o.o_orderkey == li.l_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .groupBy("c_name", "c_custkey", "o_orderkey", "o_orderdate", "o_totalprice")
        .agg(_dec_sum(F.col("l_quantity"), "total_qty"))
        .orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey").asc())
        .limit(100)
    )


@register(
    "q19_discounted_revenue",
    oracle="""
SELECT CAST(SUM(CAST(l.l_extendedprice * (1 - l.l_discount) AS DECIMAL(18,6))) AS DOUBLE) AS revenue,
  CAST(count(*) AS BIGINT) AS n_rows
FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
WHERE (p.p_brand = 'Brand#12' AND p.p_size BETWEEN 1 AND 5
       AND l.l_quantity BETWEEN 1 AND 11)
   OR (p.p_brand = 'Brand#23' AND p.p_size BETWEEN 1 AND 10
       AND l.l_quantity BETWEEN 10 AND 20)
   OR (p.p_brand = 'Brand#34' AND p.p_size BETWEEN 1 AND 15
       AND l.l_quantity BETWEEN 20 AND 30)
""",
    doc="TPC-H Q19 analog: OR-of-ANDs join predicate. The common "
    "sub-predicates Catalyst can factor out (p_size >= 1, quantity bounds) "
    "push to the scans; the residual disjunction evaluates post-join in "
    "codegen. Part is AQE-sized (auto-broadcast at bench scale), so "
    "the local plan has no shuffle at all.",
)
def q19_discounted_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part")
    branch = (
        (F.col("p_brand") == "Brand#12")
        & F.col("p_size").between(1, 5)
        & F.col("l_quantity").between(1, 11)
    ) | (
        (F.col("p_brand") == "Brand#23")
        & F.col("p_size").between(1, 10)
        & F.col("l_quantity").between(10, 20)
    ) | (
        (F.col("p_brand") == "Brand#34")
        & F.col("p_size").between(1, 15)
        & F.col("l_quantity").between(20, 30)
    )
    return (
        li.join(p, li.l_partkey == p.p_partkey)
        .filter(branch)
        .agg(
            _dec_sum(F.col("l_extendedprice") * (1 - F.col("l_discount")), "revenue"),
            F.count(F.lit(1)).alias("n_rows"),
        )
    )


@register(
    "q13_customer_distribution",
    oracle="""
SELECT c_count, CAST(count(*) AS BIGINT) AS custdist
FROM (
  SELECT c.c_custkey, CAST(count(o.o_orderkey) AS BIGINT) AS c_count
  FROM customer c
  LEFT JOIN orders o
    ON c.c_custkey = o.o_custkey AND o.o_orderpriority <> '1-URGENT'
  GROUP BY c.c_custkey
)
GROUP BY c_count
""",
    doc="TPC-H Q13 analog: order-count distribution INCLUDING zero-order "
    "customers (null-generating outer join; the o_orderpriority predicate "
    "stands in for Q13's o_comment NOT LIKE filter — it must apply to the "
    "join's right side, not post-join, or zero-order customers vanish). "
    "Scale shape: aggregate orders per custkey FIRST (partial+final on the "
    "fact table), then LEFT JOIN customer to the counted rows and "
    "COALESCE nulls to 0 — the join moves one row per customer, never one "
    "per order.",
)
def q13_customer_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderpriority") != "1-URGENT"
    )
    ocounts = o.groupBy("o_custkey").agg(F.count(F.lit(1)).alias("__n"))
    per_cust = c.join(ocounts, c.c_custkey == ocounts.o_custkey, "left").select(
        F.coalesce(F.col("__n"), F.lit(0)).cast("bigint").alias("c_count")
    )
    return per_cust.groupBy("c_count").agg(
        F.count(F.lit(1)).cast("bigint").alias("custdist")
    )


@register(
    "q2_min_cost_supplier",
    oracle="""
WITH offers AS (
  SELECT l_partkey, l_suppkey, min(l_extendedprice / l_quantity) AS unit_price
  FROM lineitem GROUP BY l_partkey, l_suppkey
),
eu AS (
  SELECT s.s_suppkey, s.s_name, s.s_acctbal, n.n_name
  FROM supplier s
  JOIN nation n ON s.s_nationkey = n.n_nationkey
  JOIN region r ON n.n_regionkey = r.r_regionkey
  WHERE r.r_name = 'EUROPE'
),
ranked AS (
  SELECT e.s_acctbal, e.s_name, e.n_name, p.p_partkey, p.p_name, o.unit_price,
    row_number() OVER (
      PARTITION BY p.p_partkey ORDER BY o.unit_price ASC, e.s_suppkey ASC
    ) AS rn
  FROM offers o
  JOIN part p ON o.l_partkey = p.p_partkey
    AND p.p_size = 15 AND p.p_type = 'STANDARD'
  JOIN eu e ON o.l_suppkey = e.s_suppkey
)
SELECT s_acctbal, s_name, n_name, p_partkey, p_name, unit_price
FROM ranked WHERE rn = 1
""",
    doc="TPC-H Q2 analog (no partsupp table: per-(part,supplier) min unit "
    "price from lineitem plays supplycost): for each qualifying part, the "
    "EUROPE supplier offering the minimum unit price — the correlated-min "
    "subquery family, decorrelated as group-by + rank-1 join-back. Scale "
    "shape: one lineitem shuffle on (partkey, suppkey) with map-side "
    "combine; part/supplier/nation/region are dims (filtered part is a "
    "few rows, joined to supplier as AQE sizes it); the rank window partitions on "
    "partkey — WindowGroupLimit keeps it a partial top-1.",
)
def q2_min_cost_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part").filter(
        (F.col("p_size") == 15) & (F.col("p_type") == "STANDARD")
    )
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region").filter(F.col("r_name") == "EUROPE")
    eu = (
        s.join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .select("s_suppkey", "s_name", "s_acctbal", "n_name")
    )
    offers = li.groupBy("l_partkey", "l_suppkey").agg(
        F.min(F.col("l_extendedprice") / F.col("l_quantity")).alias("unit_price")
    )
    w = Window.partitionBy("p_partkey").orderBy(
        F.col("unit_price").asc(), F.col("s_suppkey").asc()
    )
    return (
        offers.join(p, offers.l_partkey == p.p_partkey)
        .join(eu, offers.l_suppkey == F.col("s_suppkey"))
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("s_acctbal", "s_name", "n_name", "p_partkey", "p_name", "unit_price")
    )


@register(
    "q15_top_supplier",
    oracle="""
WITH revenue AS (
  SELECT l_suppkey,
    CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6))) AS DOUBLE)
      AS total_revenue
  FROM lineitem
  WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
    AND l_shipdate < TIMESTAMP '1996-04-01 00:00:00'
  GROUP BY l_suppkey
)
SELECT s.s_suppkey, s.s_name, r.total_revenue
FROM supplier s JOIN revenue r ON s.s_suppkey = r.l_suppkey
WHERE r.total_revenue = (SELECT max(total_revenue) FROM revenue)
""",
    doc="TPC-H Q15 analog: supplier(s) with the maximum quarterly revenue "
    "— scalar aggregate subquery joined back against its own source "
    "(Q15's CREATE VIEW, inlined). Exact decimal partials make the "
    "double equality safe across engines. Scale shape: one lineitem "
    "shuffle on suppkey; the max is one tiny agg over the revenue rows, "
    "broadcast back as a 1-row cross join.",
)
def q15_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1996-04-01 00:00:00").cast("timestamp"))
    )
    s = load_table(spark, sf_dir, "supplier")
    revenue = li.groupBy("l_suppkey").agg(
        _dec_sum(F.col("l_extendedprice") * (1 - F.col("l_discount")), "total_revenue")
    )
    mx = revenue.agg(F.max("total_revenue").alias("__mx"))
    return (
        revenue.crossJoin(F.broadcast(mx))
        .filter(F.col("total_revenue") == F.col("__mx"))
        .join(s, F.col("l_suppkey") == s.s_suppkey)
        .select("s_suppkey", "s_name", "total_revenue")
    )


@register(
    "q17_small_quantity_revenue",
    oracle="""
SELECT CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,6))) AS DOUBLE) / 7.0
  AS avg_yearly
FROM lineitem l
JOIN part p ON p.p_partkey = l.l_partkey
  AND p.p_brand = 'Brand#23' AND p.p_size < 5
JOIN (
  SELECT l_partkey,
    SUM(CAST(l_quantity AS DECIMAL(18,6))) AS sum_qty,
    CAST(count(*) AS BIGINT) AS n_li
  FROM lineitem GROUP BY l_partkey
) agg ON agg.l_partkey = l.l_partkey
WHERE CAST(l.l_quantity AS DECIMAL(18,6)) * 5 * agg.n_li < agg.sum_qty
""",
    doc="TPC-H Q17 analog (p_size < 5 stands in for p_container): revenue "
    "from orders of less than 20%% of a part's average quantity — the "
    "correlated-average family, decorrelated as a per-partkey aggregate "
    "joined back. The threshold l_quantity < 0.2*avg is evaluated as "
    "5*qty*n < sum in exact decimal/integer arithmetic, so no "
    "double-rounding can flip a boundary row between engines. Scale "
    "shape: the per-part aggregate shuffles lineitem on partkey once "
    "(map-side combine), the join-back reuses that partitioning, part "
    "joins as AQE sizes it (auto-broadcast at bench scale).",
)
def q17_small_quantity_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part").filter(
        (F.col("p_brand") == "Brand#23") & (F.col("p_size") < 5)
    )
    per_part = li.groupBy(F.col("l_partkey").alias("__pk")).agg(
        F.sum(F.col("l_quantity").cast("decimal(18,6)")).alias("sum_qty"),
        F.count(F.lit(1)).alias("n_li"),
    )
    return (
        li.join(p, li.l_partkey == p.p_partkey)
        .join(per_part, li.l_partkey == F.col("__pk"))
        .filter(
            F.col("l_quantity").cast("decimal(18,6)") * 5 * F.col("n_li")
            < F.col("sum_qty")
        )
        .agg(
            (F.sum(F.col("l_extendedprice").cast("decimal(18,6)")).cast("double") / 7.0)
            .alias("avg_yearly")
        )
    )


@register(
    "q9_profit_by_nation_year",
    oracle="""
SELECT n.n_name AS nation,
  CAST(EXTRACT(year FROM l.l_shipdate) AS INT) AS o_year,
  CAST(SUM(CAST(l.l_extendedprice * (1 - l.l_discount) AS DECIMAL(18,6))) AS DOUBLE)
    AS profit
FROM lineitem l
JOIN part p ON p.p_partkey = l.l_partkey AND p.p_name LIKE '%bolt%'
JOIN supplier s ON s.s_suppkey = l.l_suppkey
JOIN nation n ON s.s_nationkey = n.n_nationkey
GROUP BY nation, o_year
""",
    doc="TPC-H Q9 analog (no partsupp: revenue plays profit): product-line "
    "profit by supplier nation and ship year. The LIKE filter prunes part "
    "to ~1/8 before its join (still linear in SF, so AQE decides the "
    "strategy); nation broadcasts; lineitem "
    "never shuffles until the (nation, year) aggregate.",
)
def q9_profit_by_nation_year(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part").filter(F.col("p_name").like("%bolt%"))
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    return (
        li.join(p, li.l_partkey == p.p_partkey)
        .join(s, li.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .select(
            F.col("n_name").alias("nation"),
            F.year("l_shipdate").cast("int").alias("o_year"),
            (F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("__v"),
        )
        .groupBy("nation", "o_year")
        .agg(_dec_sum(F.col("__v"), "profit"))
    )


@register(
    "q22_idle_rich_customers",
    oracle="""
WITH stats AS (
  SELECT CAST(count(*) AS BIGINT) AS n_pos,
    SUM(CAST(c_acctbal AS DECIMAL(18,6))) AS sum_pos
  FROM customer WHERE c_acctbal > 0.0
)
SELECT c.c_nationkey, CAST(count(*) AS BIGINT) AS numcust,
  CAST(SUM(CAST(c.c_acctbal AS DECIMAL(18,6))) AS DOUBLE) AS totacctbal
FROM customer c, stats
WHERE CAST(c.c_acctbal AS DECIMAL(18,6)) * stats.n_pos > stats.sum_pos
  AND NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey
                  AND o.o_orderdate >= TIMESTAMP '2000-01-01')
GROUP BY c.c_nationkey
""",
    doc="TPC-H Q22 analog (c_nationkey plays the phone prefix; the "
    "no-orders test is date-bounded to 'no orders since 2000' because "
    "every synthetic customer has at least one lifetime order): customers "
    "with above-average positive balance and no recent orders — scalar "
    "aggregate subquery + anti join. The above-average threshold is "
    "evaluated as bal*n > sum in exact decimal (no double average whose "
    "partial-sum order could flip boundary rows between engines). The "
    "1-row stats aggregate broadcasts; the anti join shuffles on custkey "
    "with the date filter pushed to the orders scan.",
)
def q22_idle_rich_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") >= F.lit("2000-01-01").cast("timestamp")
    )
    stats = c.filter(F.col("c_acctbal") > 0.0).agg(
        F.count(F.lit(1)).alias("n_pos"),
        F.sum(F.col("c_acctbal").cast("decimal(18,6)")).alias("sum_pos"),
    )
    return (
        c.crossJoin(F.broadcast(stats))
        .filter(
            F.col("c_acctbal").cast("decimal(18,6)") * F.col("n_pos")
            > F.col("sum_pos")
        )
        .join(o, c.c_custkey == o.o_custkey, "left_anti")
        .groupBy("c_nationkey")
        .agg(
            F.count(F.lit(1)).alias("numcust"),
            _dec_sum(F.col("c_acctbal"), "totacctbal"),
        )
    )


@register(
    "cube_order_stats",
    oracle="""
SELECT o_orderstatus, o_orderpriority,
  CAST(GROUPING(o_orderstatus) * 2 + GROUPING(o_orderpriority) AS INT) AS gid,
  CAST(count(*) AS BIGINT) AS n_orders,
  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE) AS total_price
FROM orders
GROUP BY CUBE (o_orderstatus, o_orderpriority)
""",
    doc="A3 grouping sets, full CUBE: all four grouping combinations in "
    "one pass (grouping-id expansion before the single aggregate "
    "shuffle); GROUPING bits disambiguate NULL-as-total from NULL data, "
    "computed identically (MSB = first key) on both engines.",
)
def cube_order_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    return o.cube("o_orderstatus", "o_orderpriority").agg(
        (F.grouping("o_orderstatus") * 2 + F.grouping("o_orderpriority"))
        .cast("int")
        .alias("gid"),
        F.count(F.lit(1)).alias("n_orders"),
        _dec_sum(F.col("o_totalprice"), "total_price"),
    )


@register(
    "order_price_window_stats",
    oracle="""
WITH ranked AS (
  SELECT o_orderpriority, o_orderkey, o_totalprice,
    CAST(row_number() OVER w AS INT) AS rn,
    CAST(percent_rank() OVER w AS DOUBLE) AS pr,
    CAST(cume_dist() OVER w AS DOUBLE) AS cd,
    CAST(ntile(4) OVER w AS INT) AS quartile
  FROM orders
  WINDOW w AS (
    PARTITION BY o_orderpriority
    ORDER BY o_totalprice DESC, o_orderkey ASC
  )
)
SELECT o_orderpriority, o_orderkey, o_totalprice, rn, pr, cd, quartile
FROM ranked WHERE rn <= 5
""",
    doc="W3 ranking-family coverage beyond row_number: percent_rank, "
    "cume_dist, ntile over one shared window (unique total order via the "
    "orderkey tie-break makes ntile deterministic; percent_rank/cume_dist "
    "are integer-ratio doubles, identical across engines). Top-5 rows per "
    "priority are emitted but the distribution functions need the full "
    "partition, so no WindowGroupLimit — the partition key (priority) "
    "spreads, and at 100 TB this window runs per bounded partition.",
)
def order_price_window_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_orderpriority").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey").asc()
    )
    return (
        o.select(
            "o_orderpriority",
            "o_orderkey",
            "o_totalprice",
            F.row_number().over(w).cast("int").alias("rn"),
            F.percent_rank().over(w).cast("double").alias("pr"),
            F.cume_dist().over(w).cast("double").alias("cd"),
            F.ntile(4).over(w).cast("int").alias("quartile"),
        )
        .filter(F.col("rn") <= 5)
    )


@register(
    "order_price_quantiles",
    oracle="""
SELECT o_orderpriority,
  quantile_cont(o_totalprice, 0.25) AS p25,
  quantile_cont(o_totalprice, 0.5) AS p50,
  quantile_cont(o_totalprice, 0.9) AS p90,
  CAST(count(*) AS BIGINT) AS n
FROM orders GROUP BY o_orderpriority
""",
    doc="A3 percentiles: exact interpolated quantiles per priority "
    "(Spark `percentile` == DuckDB quantile_cont, linear interpolation). "
    "At 100 TB swap to percentile_approx (t-digest sketch, one pass, "
    "mergeable partials) — tested for closeness in test_sketches.py.",
)
def order_price_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    return o.groupBy("o_orderpriority").agg(
        F.percentile("o_totalprice", F.lit(0.25)).alias("p25"),
        F.percentile("o_totalprice", F.lit(0.5)).alias("p50"),
        F.percentile("o_totalprice", F.lit(0.9)).alias("p90"),
        F.count(F.lit(1)).alias("n"),
    )


@register(
    "q8_nation_market_share",
    oracle="""
WITH rev AS (
  SELECT CAST(EXTRACT(year FROM o.o_orderdate) AS INT) AS o_year,
    CAST(l.l_extendedprice * (1 - l.l_discount) AS DECIMAL(18,6)) AS volume,
    n2.n_name AS supp_nation
  FROM lineitem l
  JOIN part p ON p.p_partkey = l.l_partkey AND p.p_type = 'MEDIUM'
  JOIN orders o ON o.o_orderkey = l.l_orderkey
  JOIN customer c ON c.c_custkey = o.o_custkey
  JOIN nation n1 ON n1.n_nationkey = c.c_nationkey
  JOIN region r ON r.r_regionkey = n1.n_regionkey AND r.r_name = 'AMERICA'
  JOIN supplier s ON s.s_suppkey = l.l_suppkey
  JOIN nation n2 ON n2.n_nationkey = s.s_nationkey
)
SELECT o_year,
  CAST(CAST(SUM(CASE WHEN supp_nation = 'NATION_3' THEN volume
                     ELSE CAST(0 AS DECIMAL(18,6)) END) AS DOUBLE)
     / CAST(SUM(volume) AS DOUBLE) AS DOUBLE) AS mkt_share
FROM rev GROUP BY o_year
""",
    doc="TPC-H Q8 analog: national market share — conditional-sum ratio "
    "over a 7-table join. Scale shape: part (1/6 after the type filter), "
    "nation x2 and region broadcast; part/supplier joins are AQE-sized; "
    "the two fact-fact joins "
    "shuffle — lineitem x orders on orderkey, then x region-filtered "
    "customer keys on custkey (customer grows with SF, so no hint; AQE "
    "may upgrade the 1/5-region key set at runtime). Both sums are exact "
    "decimal partials; the final double/double division is one "
    "deterministic op per group.",
)
def q8_nation_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part").filter(F.col("p_type") == "MEDIUM")
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    n1 = load_table(spark, sf_dir, "nation")
    n2 = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region").filter(F.col("r_name") == "AMERICA")
    s = load_table(spark, sf_dir, "supplier")
    cust_in_region = (
        c.join(F.broadcast(n1), c.c_nationkey == n1.n_nationkey)
        .join(F.broadcast(r), n1.n_regionkey == r.r_regionkey)
        .select("c_custkey")
    )
    volume = (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(
        "decimal(18,6)"
    )
    return (
        li.join(p, li.l_partkey == p.p_partkey)
        .join(o, li.l_orderkey == o.o_orderkey)
        .join(cust_in_region, o.o_custkey == F.col("c_custkey"))
        .join(s, li.l_suppkey == s.s_suppkey)
        .join(
            F.broadcast(n2.select(F.col("n_nationkey").alias("n2_key"), F.col("n_name").alias("supp_nation"))),
            s.s_nationkey == F.col("n2_key"),
        )
        .select(
            F.year("o_orderdate").cast("int").alias("o_year"),
            volume.alias("volume"),
            "supp_nation",
        )
        .groupBy("o_year")
        .agg(
            (
                F.sum(
                    F.when(F.col("supp_nation") == "NATION_3", F.col("volume"))
                    .otherwise(F.lit(0).cast("decimal(18,6)"))
                ).cast("double")
                / F.sum("volume").cast("double")
            )
            .cast("double")
            .alias("mkt_share")
        )
    )


@register(
    "q12_ship_speed_priority",
    oracle="""
SELECT CASE WHEN date_diff('day', o.o_orderdate, l.l_shipdate) < 30 THEN 'fast'
            WHEN date_diff('day', o.o_orderdate, l.l_shipdate) < 90 THEN 'normal'
            ELSE 'slow' END AS ship_speed,
  CAST(SUM(CASE WHEN o.o_orderpriority IN ('1-URGENT','2-HIGH')
                THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
  CAST(SUM(CASE WHEN o.o_orderpriority NOT IN ('1-URGENT','2-HIGH')
                THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
WHERE l.l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND l.l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
GROUP BY ship_speed
""",
    doc="TPC-H Q12 analog (no l_shipmode column: order-to-ship latency "
    "buckets play the mode): conditional counts of urgent vs non-urgent "
    "order lines per shipping-speed bucket. The one shuffle is lineitem "
    "x orders on orderkey (the ship-date filter pushes to the lineitem "
    "scan and prunes ~6/7 of the fact before the join); the 3-bucket "
    "aggregate is map-side partial. Timestamps are midnight-aligned so "
    "Spark datediff(date-cast) == DuckDB date_diff('day').",
)
def q12_ship_speed_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-01-01 00:00:00").cast("timestamp"))
    )
    delay = F.datediff(F.col("l_shipdate"), F.col("o_orderdate"))
    speed = (
        F.when(delay < 30, "fast").when(delay < 90, "normal").otherwise("slow")
    )
    urgent = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        o.join(li, o.o_orderkey == li.l_orderkey)
        .select(speed.alias("ship_speed"), urgent.alias("is_urgent"))
        .groupBy("ship_speed")
        .agg(
            F.sum(F.when(F.col("is_urgent"), 1).otherwise(0)).alias(
                "high_line_count"
            ),
            F.sum(F.when(~F.col("is_urgent"), 1).otherwise(0)).alias(
                "low_line_count"
            ),
        )
    )


@register(
    "q16_supplier_part_counts",
    oracle="""
SELECT p.p_brand, p.p_type, p.p_size,
  CAST(count(DISTINCT l.l_suppkey) AS BIGINT) AS supplier_cnt
FROM part p JOIN lineitem l ON l.l_partkey = p.p_partkey
WHERE p.p_brand <> 'Brand#1' AND p.p_size IN (1, 7, 14, 23, 36, 45)
  AND l.l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
GROUP BY p.p_brand, p.p_type, p.p_size
""",
    doc="TPC-H Q16 analog (lineitem plays partsupp as the part-supplier "
    "bridge): distinct-supplier counts per (brand, type, size) excluding "
    "suppliers in a NOT-IN subquery. s_suppkey is non-null so NOT IN == "
    "anti join (no tri-valued-NULL trap); the excluded-supplier set is "
    "a constant fraction of supplier (linear in SF) — the left_anti "
    "probe strategy is AQE's size-based call. The count-distinct "
    "expands to a two-level aggregate keyed on (brand,type,size,suppkey) "
    "then (brand,type,size) — both map-side partial, one logical shuffle.",
)
def q16_supplier_part_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = load_table(spark, sf_dir, "part").filter(
        (F.col("p_brand") != "Brand#1")
        & F.col("p_size").isin(1, 7, 14, 23, 36, 45)
    )
    li = load_table(spark, sf_dir, "lineitem")
    bad_supp = load_table(spark, sf_dir, "supplier").filter(
        F.col("s_acctbal") < 0
    ).select("s_suppkey")
    return (
        li.join(bad_supp, li.l_suppkey == F.col("s_suppkey"), "left_anti")
        .join(p, li.l_partkey == p.p_partkey)
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.count_distinct(F.col("l_suppkey")).alias("supplier_cnt"))
    )


@register(
    "q20_bulk_bolt_suppliers",
    oracle="""
SELECT s.s_name, s.s_acctbal
FROM supplier s
JOIN nation n ON n.n_nationkey = s.s_nationkey
  AND n.n_name IN ('NATION_1','NATION_2','NATION_3')
WHERE s.s_suppkey IN (
  SELECT l.l_suppkey FROM lineitem l
  JOIN part p ON p.p_partkey = l.l_partkey AND p.p_name LIKE '%bolt%'
  WHERE l.l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
    AND l.l_shipdate < TIMESTAMP '1998-01-01 00:00:00'
  GROUP BY l.l_suppkey
  HAVING SUM(CAST(l.l_quantity AS DECIMAL(18,6))) > 50
)
""",
    doc="TPC-H Q20 analog (shipped quantity plays availqty): suppliers in "
    "a nation set who moved > 50 units of bolt parts in 1997 — a grouped "
    "HAVING subquery feeding a left-semi join. The date+LIKE filters "
    "prune lineitem before its one shuffle (groupBy suppkey); the "
    "resulting qualifying-supplier key set is usually tiny — AQE "
    "broadcasts it at runtime when it is — feeding "
    "the semi join against the nation-filtered supplier dim.",
)
def q20_bulk_bolt_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation").filter(
        F.col("n_name").isin("NATION_1", "NATION_2", "NATION_3")
    )
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1997-01-01 00:00:00").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1998-01-01 00:00:00").cast("timestamp"))
    )
    p = load_table(spark, sf_dir, "part").filter(F.col("p_name").like("%bolt%"))
    qualifying = (
        li.join(p, li.l_partkey == p.p_partkey)
        .groupBy("l_suppkey")
        .agg(F.sum(F.col("l_quantity").cast("decimal(18,6)")).alias("__qty"))
        .filter(F.col("__qty") > 50)
        .select("l_suppkey")
    )
    return (
        s.join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .join(qualifying, s.s_suppkey == F.col("l_suppkey"), "left_semi")
        .select("s_name", "s_acctbal")
    )


@register(
    "q21_sole_blame_suppliers",
    oracle="""
SELECT s.s_name, CAST(count(*) AS BIGINT) AS numwait
FROM supplier s
JOIN lineitem l1 ON s.s_suppkey = l1.l_suppkey
JOIN orders o ON o.o_orderkey = l1.l_orderkey AND o.o_orderstatus = 'F'
WHERE l1.l_returnflag = 'R'
  AND EXISTS (SELECT 1 FROM lineitem l2 WHERE l2.l_orderkey = l1.l_orderkey
              AND l2.l_suppkey <> l1.l_suppkey)
  AND NOT EXISTS (SELECT 1 FROM lineitem l3 WHERE l3.l_orderkey = l1.l_orderkey
              AND l3.l_suppkey <> l1.l_suppkey AND l3.l_returnflag = 'R')
GROUP BY s.s_name
""",
    doc="TPC-H Q21 analog (l_returnflag='R' on a finished order plays "
    "'failed delivery'): suppliers who were the SOLE supplier with a "
    "returned line on a multi-supplier order — the classic "
    "EXISTS + NOT-EXISTS pair. Implemented decorrelated: one per-order "
    "aggregate [n distinct suppliers, n distinct R-suppliers] replaces "
    "both correlated self-joins; EXISTS(other supplier) == n_supp >= 2, "
    "NOT EXISTS(other R supplier) == n_r_supp == 1 given l1 itself is R. "
    "lineitem shuffles once on orderkey for the agg and reuses that "
    "partitioning for the join back; the supplier join is AQE-sized.",
)
def q21_sole_blame_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    s = load_table(spark, sf_dir, "supplier")
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders").filter(F.col("o_orderstatus") == "F")
    per_order = li.groupBy("l_orderkey").agg(
        F.count_distinct("l_suppkey").alias("n_supp"),
        F.count_distinct(
            F.when(F.col("l_returnflag") == "R", F.col("l_suppkey"))
        ).alias("n_r_supp"),
    )
    l1 = li.filter(F.col("l_returnflag") == "R").select("l_orderkey", "l_suppkey")
    return (
        l1.join(o, l1.l_orderkey == o.o_orderkey)
        .join(
            per_order.filter((F.col("n_supp") >= 2) & (F.col("n_r_supp") == 1)),
            on="l_orderkey",
        )
        .join(s, l1.l_suppkey == s.s_suppkey)
        .groupBy("s_name")
        .agg(F.count(F.lit(1)).alias("numwait"))
    )


@register(
    "q11_important_stock_values",
    oracle="""
WITH val AS (
  SELECT l.l_suppkey, l.l_partkey,
    SUM(CAST(l.l_extendedprice * l.l_quantity AS DECIMAL(18,6))) AS part_value
  FROM lineitem l
  JOIN supplier s ON s.s_suppkey = l.l_suppkey
  JOIN nation n ON n.n_nationkey = s.s_nationkey AND n.n_name = 'NATION_1'
  GROUP BY l.l_suppkey, l.l_partkey
),
total AS (SELECT SUM(part_value) AS tv FROM val)
SELECT v.l_suppkey, v.l_partkey, CAST(v.part_value AS DOUBLE) AS part_value
FROM val v, total t
WHERE v.part_value > t.tv * 0.002
""",
    doc="TPC-H Q11 analog (shipped value plays stock value; lineitem "
    "plays partsupp): (supplier, part) groups whose value exceeds a "
    "fraction of the NATION-wide total — the group-vs-global-scalar "
    "threshold family. One grouped aggregate, then a 1-row total that "
    "broadcasts back over the grouped result; the nation filter prunes "
    "via the nation-filtered supplier key set before the only fact "
    "shuffle (join strategy AQE-sized). "
    "Decimal partials; the threshold compare happens in double on an "
    "exactly-representable scaled integer (values < 2^53), identical "
    "on both engines.",
)
def q11_important_stock_values(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation").filter(F.col("n_name") == "NATION_1")
    nation_supp = s.join(F.broadcast(n), s.s_nationkey == n.n_nationkey).select(
        "s_suppkey"
    )
    val = (
        li.join(nation_supp, li.l_suppkey == F.col("s_suppkey"))
        .groupBy("l_suppkey", "l_partkey")
        .agg(
            F.sum(
                (F.col("l_extendedprice") * F.col("l_quantity")).cast(
                    "decimal(18,6)"
                )
            ).alias("part_value")
        )
    )
    total = val.agg(F.sum("part_value").alias("tv"))
    return (
        val.crossJoin(F.broadcast(total))
        .filter(F.col("part_value") > F.col("tv") * F.lit(0.002))
        .select(
            "l_suppkey",
            "l_partkey",
            F.col("part_value").cast("double").alias("part_value"),
        )
    )


@register(
    "grouping_sets_order_stats",
    oracle="""
SELECT o_orderstatus, o_orderpriority,
  CAST(GROUPING(o_orderstatus) * 2 + GROUPING(o_orderpriority) AS INT) AS gid,
  CAST(count(*) AS BIGINT) AS n_orders,
  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE) AS total_price
FROM orders
GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
""",
    doc="A3 explicit GROUPING SETS — the custom-set shape neither "
    "ROLLUP (prefix hierarchy) nor CUBE (all combos) expresses: "
    "per-status totals, per-priority totals, and the grand total, "
    "WITHOUT the (status, priority) cross. Same one-pass grouping-id "
    "expansion + single aggregate shuffle as the cube/rollup family.",
)
def grouping_sets_order_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    return o.groupingSets(
        [["o_orderstatus"], ["o_orderpriority"], []],
        "o_orderstatus",
        "o_orderpriority",
    ).agg(
        (F.grouping("o_orderstatus") * 2 + F.grouping("o_orderpriority"))
        .cast("int")
        .alias("gid"),
        F.count(F.lit(1)).alias("n_orders"),
        _dec_sum(F.col("o_totalprice"), "total_price"),
    )


@register(
    "customer_churn_full_outer",
    oracle="""
WITH h1 AS (
  SELECT o_custkey, CAST(count(*) AS BIGINT) AS n1,
    SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS v1
  FROM orders
  WHERE o_orderdate >= TIMESTAMP '1996-01-01' AND o_orderdate < TIMESTAMP '1997-01-01'
  GROUP BY 1
),
h2 AS (
  SELECT o_custkey, CAST(count(*) AS BIGINT) AS n2,
    SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS v2
  FROM orders
  WHERE o_orderdate >= TIMESTAMP '1997-01-01' AND o_orderdate < TIMESTAMP '1998-01-01'
  GROUP BY 1
)
SELECT
  CASE WHEN h2.o_custkey IS NULL THEN 'churned'
       WHEN h1.o_custkey IS NULL THEN 'new'
       ELSE 'retained' END AS segment,
  CAST(count(*) AS BIGINT) AS n_customers,
  CAST(SUM(v1) AS DOUBLE) AS y1996_value,
  CAST(SUM(v2) AS DOUBLE) AS y1997_value
FROM h1 FULL OUTER JOIN h2 USING (o_custkey)
GROUP BY 1
""",
    doc="FULL OUTER join family (the one null-generating join shape the "
    "rest of the registry lacks): per-customer 1996-vs-1997 order "
    "aggregates joined full-outer on custkey -> churned / new / "
    "retained segments with per-segment value mass (decimal-exact all "
    "the way; the year a segment has no orders in stays NULL on both "
    "engines). Plan: both year aggregates hash-partition on custkey, "
    "so the full-outer join reuses the same partitioning — one logical "
    "shuffle, no broadcast (both sides are customer-scale), AQE-sized.",
)
def customer_churn_full_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")

    def half(y0: str, y1: str, n: str, v: str) -> DataFrame:
        return (
            o.filter(
                (F.col("o_orderdate") >= F.lit(y0).cast("timestamp"))
                & (F.col("o_orderdate") < F.lit(y1).cast("timestamp"))
            )
            .groupBy("o_custkey")
            .agg(
                F.count(F.lit(1)).alias(n),
                F.sum(F.col("o_totalprice").cast("decimal(18,6)")).alias(v),
            )
        )

    h1 = half("1996-01-01", "1997-01-01", "n1", "v1")
    h2 = half("1997-01-01", "1998-01-01", "n2", "v2")
    seg = (
        F.when(F.col("n2").isNull(), "churned")
        .when(F.col("n1").isNull(), "new")
        .otherwise("retained")
    )
    return (
        h1.join(h2, "o_custkey", "full")
        .groupBy(seg.alias("segment"))
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            F.sum("v1").cast("double").alias("y1996_value"),
            F.sum("v2").cast("double").alias("y1997_value"),
        )
    )


@register(
    "lineitem_unpivot_measures",
    oracle="""
WITH u AS (
  SELECT 'quantity' AS measure, l_quantity AS value FROM lineitem WHERE l_orderkey < 1000
  UNION ALL
  SELECT 'extendedprice', l_extendedprice FROM lineitem WHERE l_orderkey < 1000
  UNION ALL
  SELECT 'discount', l_discount FROM lineitem WHERE l_orderkey < 1000
  UNION ALL
  SELECT 'tax', l_tax FROM lineitem WHERE l_orderkey < 1000
)
SELECT measure,
  CAST(count(*) AS BIGINT) AS n,
  CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS total,
  CAST(min(value) AS DOUBLE) AS min_value,
  CAST(max(value) AS DOUBLE) AS max_value
FROM u GROUP BY measure
""",
    doc="UNPIVOT (wide measures -> long (measure, value) rows via "
    "stack()) + per-measure stats — the inverse of events_daily_pivot, "
    "completing the reshape pair. stack() is a Generate (no shuffle, "
    "no UDF); the only exchange feeds the 4-group aggregate. The "
    "melt-then-describe pass every profiling job runs on a wide table.",
)
def lineitem_unpivot_measures(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").filter(F.col("l_orderkey") < 1000)
    long = li.select(
        F.expr(
            "stack(4, 'quantity', l_quantity, 'extendedprice', l_extendedprice, "
            "'discount', l_discount, 'tax', l_tax) AS (measure, value)"
        )
    )
    return long.groupBy("measure").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("value").cast("decimal(18,6)")).cast("double").alias("total"),
        F.min("value").cast("double").alias("min_value"),
        F.max("value").cast("double").alias("max_value"),
    )


# ------------------------------------------- co-purchase graph kernel
# Shared by every graph query over "parts bought together" (market
# basket, PageRank, association rules, item-item, LPA, k-truss —
# _bucket_pairs' docstring is right that copies WILL drift, so the
# basket expansion lives HERE once).


def _copurchase_baskets(li: DataFrame) -> DataFrame:
    """One row per multi-part order with its sorted distinct part set.
    Basket-capped: an order holds <= 7 parts, so downstream in-row pair
    expansion is O(21) per order — never a lineitem self-join."""
    return (
        li.select("l_orderkey", "l_partkey")
        .distinct()
        .groupBy("l_orderkey")
        .agg(F.sort_array(F.collect_set("l_partkey")).alias("members"))
        .filter(F.size("members") >= 2)
    )


def _copurchase_pair_stream(li: DataFrame) -> DataFrame:
    """One canonical (src < dst) pair PER ORDER — duplicates across
    orders kept, because support counting needs them."""
    from cnc_visionsearch_spark.operators.dedup import _bucket_pairs

    return _bucket_pairs(
        _copurchase_baskets(li), "named_struct('a', x, 'b', y)"
    ).select(F.col("p.a").alias("src"), F.col("p.b").alias("dst"))


def _copurchase_edges(li: DataFrame) -> DataFrame:
    """DISTINCT undirected edge set, both orientations: dedupe on the
    canonical orientation THEN mirror (the mirror of a distinct set is
    distinct and the orientations are disjoint — half the distinct's
    shuffle vs distinct-after-union)."""
    pairs = _copurchase_pair_stream(li).distinct()
    return pairs.union(
        pairs.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )


# Derivation version of the persisted edge artifact: bump whenever
# _copurchase_edges (or the layout below) changes, so a code change can
# never serve a stale persisted edge set built by an older derivation
# (the corpus content tag alone only tracks the DATA).
_EDGES_VERSION = "v3"
_EDGES_BUCKETS = 32


def ensure_copurchase_edges_built(spark: SparkSession, sf_dir: str) -> str:
    """Idempotent, ATOMIC build of the co-purchase edge list — the
    GRAPH MATERIALIZATION every iterative graph query (PageRank, LPA,
    degree fit, k-core/k-truss) probes. The reference builds its graph
    structure once and probes it per query (the HNSW file,
    main.py:57/171); the graph tier follows the same build-once
    doctrine: the basket expansion + distinct shuffle is paid once per
    corpus version (content-fingerprinted like the ANN layouts), and
    each query's per-round joins read the persisted layout instead of
    re-deriving the edge set from lineitem inside every run.

    r7 hardening: (a) the layout is BUCKETED on ``src``
    (write_bucketed_table discipline, sources/catalog.py) so per-round
    label joins at node-scale — past the broadcast threshold, the
    100-TB LPA/PageRank shape — run with ZERO exchange on the edge
    side, every round, forever; (b) the path carries the derivation
    version ``_EDGES_VERSION`` besides the corpus tag; (c) the build
    is staged and published by ``build_once`` — concurrent sessions
    (bench + pytest) race safely: one wins, losers drop their stage,
    readers never see a half-written artifact.

    r8 (v3): the edge stream is REPARTITIONED ON THE BUCKET KEY before
    the bucketed write — repartition(n, src) and bucketBy(n, src)
    share Spark's hash family, so every writer task holds exactly one
    bucket and the layout lands as ONE FILE PER BUCKET instead of
    (writer tasks x buckets) fragments (the v2 artifact carried 640
    files at sf0.1; v3 carries 32). Measured min-of-3 LPA at sf0.1:
    2.66s compacted vs 2.98s fragmented-bucketed vs 2.95s raw-parquet
    — the r7 'bucketed-read regression' (SCALE.md row) was mostly
    bench-run contention, and the compaction retires the remainder
    while keeping the exchange-free at-scale join."""
    import os

    from cnc_visionsearch_spark.queries_ann import artifact_path, build_once

    def build(stage):
        build_tbl = f"copurchase_edges_build_{os.getpid()}"
        li = load_table(spark, sf_dir, "lineitem")
        (
            _copurchase_edges(li)
            # one writer task per bucket (same hash family) -> one
            # file per bucket; see docstring (r8 v3)
            .repartition(_EDGES_BUCKETS, "src")
            .write.bucketBy(_EDGES_BUCKETS, "src")
            .sortBy("src")
            .option("path", stage)
            .mode("overwrite")
            .format("parquet")
            .saveAsTable(build_tbl)
        )
        # external table: DROP removes only the catalog entry (the
        # stage keeps its files for the publish)
        spark.sql(f"DROP TABLE IF EXISTS {build_tbl}")

    return build_once(
        artifact_path(sf_dir, f"copurchase_edges_{_EDGES_VERSION}", "lineitem"),
        build,
        log=False,
    )


def _edges_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The persisted co-purchase edge set (build-once, probe-cheap),
    read THROUGH the session catalog so Spark sees the bucketed-on-src
    layout (a raw parquet read would drop the bucket metadata and
    re-shuffle the edges in every per-round join)."""
    path = ensure_copurchase_edges_built(spark, sf_dir)
    name = "copurchase_edges_" + "".join(
        ch if ch.isalnum() else "_" for ch in path.rsplit("/", 2)[-2]
    ) + f"_{_EDGES_VERSION}"
    if not spark.catalog.tableExists(name):
        spark.sql(
            f"CREATE TABLE IF NOT EXISTS {name} (src BIGINT, dst BIGINT) "
            f"USING parquet CLUSTERED BY (src) SORTED BY (src) "
            f"INTO {_EDGES_BUCKETS} BUCKETS LOCATION '{path}'"
        )
    return spark.table(name)


@register(
    "orders_part_cooccurrence",
    oracle="""
WITH lp AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
pairs AS (
  SELECT a.l_partkey AS part_a, b.l_partkey AS part_b
  FROM lp a JOIN lp b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
)
SELECT part_a, part_b, CAST(count(*) AS BIGINT) AS n_orders
FROM pairs GROUP BY part_a, part_b
ORDER BY n_orders DESC, part_a ASC, part_b ASC
LIMIT 20
""",
    doc="Market-basket co-occurrence (frequent-pair mining): parts "
    "bought together in the same order, top pairs by support — the "
    "association-rules building block. Plan: ONE group-by on orderkey "
    "collecting each basket's distinct part set (baskets are bounded "
    "by construction — an order has at most 7 lines — so the in-row "
    "pair expansion is O(21) per order, via the same shared "
    "_bucket_pairs helper as the dedup blockers), then a (part_a, "
    "part_b) count shuffle of bigint pairs. The oracle's per-order "
    "self-join is the quadratic formulation the basket expansion "
    "avoids; neither the order table nor lineitem ever self-joins in "
    "the Spark plan.",
)
def orders_part_cooccurrence(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    pairs = _copurchase_pair_stream(li)
    return (
        pairs.groupBy(F.col("src").alias("part_a"), F.col("dst").alias("part_b"))
        .agg(F.count(F.lit(1)).alias("n_orders"))
        .orderBy(F.col("n_orders").desc(), F.col("part_a").asc(), F.col("part_b").asc())
        .limit(20)
    )


# --------------------------------------------------------------- PIVOT


@register(
    "orders_pivot_status_year",
    oracle="""
SELECT CAST(EXTRACT(year FROM o_orderdate) AS INT) AS o_year,
  CAST(SUM(CASE WHEN o_orderstatus = 'O'
    THEN CAST(o_totalprice AS DECIMAL(18,6)) END) AS DOUBLE) AS rev_o,
  CAST(SUM(CASE WHEN o_orderstatus = 'O' THEN 1 ELSE 0 END) AS BIGINT) AS n_o,
  CAST(SUM(CASE WHEN o_orderstatus = 'F'
    THEN CAST(o_totalprice AS DECIMAL(18,6)) END) AS DOUBLE) AS rev_f,
  CAST(SUM(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END) AS BIGINT) AS n_f,
  CAST(SUM(CASE WHEN o_orderstatus = 'P'
    THEN CAST(o_totalprice AS DECIMAL(18,6)) END) AS DOUBLE) AS rev_p,
  CAST(SUM(CASE WHEN o_orderstatus = 'P' THEN 1 ELSE 0 END) AS BIGINT) AS n_p
FROM orders
GROUP BY 1
""",
    doc="PIVOT / wide cross-tab report: revenue + order count per "
    "order-status, one column set per status, one row per year — the "
    "long-to-wide reshape every BI layer asks of an engine (reverse "
    "of lineitem_unpivot_measures). Spark's relational pivot "
    "(RelationalGroupedDataset.pivot) with EXPLICIT values compiles "
    "to a two-phase aggregate — (year, status) partial+final, then "
    "the pivot agg by year; both exchanges carry at most "
    "|years|x|statuses| rows per partition after map-side combine, "
    "so the reshape is scan-bound at any scale (pivoting without "
    "explicit values would add a distinct-scan job to discover "
    "them; never do that at 100 TB). "
    "Decimal sums for cross-engine bit-stability per the registry "
    "determinism rules.",
)
def orders_pivot_status_year(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    piv = (
        o.withColumn("o_year", F.year("o_orderdate").cast("int"))
        .groupBy("o_year")
        .pivot("o_orderstatus", ["O", "F", "P"])
        .agg(
            F.sum(F.col("o_totalprice").cast("decimal(18,6)"))
            .cast("double")
            .alias("rev"),
            F.count(F.lit(1)).alias("n"),
        )
    )
    # pivot names columns "<value>_<aggAlias>"; counts arrive BIGINT but
    # a status absent from a year would be NULL — the oracle's ELSE 0
    # twin is coalesce
    return piv.select(
        "o_year",
        F.col("O_rev").alias("rev_o"),
        F.coalesce(F.col("O_n"), F.lit(0)).cast("bigint").alias("n_o"),
        F.col("F_rev").alias("rev_f"),
        F.coalesce(F.col("F_n"), F.lit(0)).cast("bigint").alias("n_f"),
        F.col("P_rev").alias("rev_p"),
        F.coalesce(F.col("P_n"), F.lit(0)).cast("bigint").alias("n_p"),
    )


# ----------------------------------------------------------- PageRank

_PR_ITERS = 3


def _pagerank_sql(iters: int = _PR_ITERS) -> str:
    """PageRank power iterations as generated chained CTEs — all-integer
    arithmetic (pr mass in 1e-9 units, damping 0.85 as the rational
    85/100, integer floor division everywhere), so both engines iterate
    bit-identically: the same oracle-replay contract as the trained-PQ
    Lloyd chain."""
    parts = [
        """
lp AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
e AS (
  SELECT a.l_partkey AS src, b.l_partkey AS dst
  FROM lp a JOIN lp b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey <> b.l_partkey
),
edges AS (SELECT DISTINCT src, dst FROM e),
deg AS (SELECT src, CAST(count(*) AS BIGINT) AS outdeg FROM edges GROUP BY src),
nn AS (SELECT CAST(count(*) AS BIGINT) AS n_nodes FROM deg),
pr0 AS (SELECT src AS node, 1000000000 // n_nodes AS pr_q FROM deg, nn)"""
    ]
    for i in range(1, iters + 1):
        parts.append(
            f""",
pr{i} AS (
  SELECT e.dst AS node,
    15000000000 // (100 * nn.n_nodes)
      + CAST(sum((p.pr_q * 85) // (100 * d.outdeg)) AS BIGINT) AS pr_q
  FROM edges e
  JOIN pr{i - 1} p ON e.src = p.node
  JOIN deg d ON d.src = e.src
  CROSS JOIN nn
  GROUP BY e.dst, nn.n_nodes
)"""
        )
    return "".join(parts) + f",\nprt AS (SELECT node, pr_q FROM pr{iters})"


@register(
    "part_pagerank_power_iter",
    oracle=f"""
WITH {_pagerank_sql(_PR_ITERS)}
SELECT node AS part, pr_q FROM prt
ORDER BY pr_q DESC, part ASC
LIMIT 20
""",
    doc="PageRank over the part co-purchase graph (3 power "
    "iterations, damping 0.85): the iterative graph-centrality "
    "algorithm — which parts anchor the co-purchase network, the "
    "recommendation/popularity signal association rules alone miss. "
    "Determinism: PageRank mass lives in integer 1e-9 units, damping "
    "is the rational 85/100, every spread is integer floor division "
    "and every gather an exact BIGINT sum — both engines iterate "
    "bit-identically (the oracle replays the iterations as chained "
    "CTEs, same contract as the trained-PQ Lloyd chain). Plan per "
    "iteration: edges join the pr vector on src (both hash-"
    "partitioned on the same key -> exchange reuse across "
    "iterations), aggregate keyed dst — the canonical Pregel-as-"
    "join-agg loop; the edge set builds ONCE via the bounded basket "
    "expansion (never a lineitem self-join) and localCheckpoints so "
    "iterations do not recompute it.",
)
def part_pagerank_power_iter(
    spark: SparkSession, sf_dir: str, iters: int = _PR_ITERS
) -> DataFrame:
    from cnc_visionsearch_spark.iterative import check_rounds

    check_rounds(iters, "part_pagerank_power_iter")

    edges = _edges_table(spark, sf_dir)
    deg = edges.groupBy("src").agg(F.count(F.lit(1)).alias("outdeg"))
    n_nodes = deg.agg(F.count(F.lit(1)).alias("n_nodes"))
    pr = deg.crossJoin(F.broadcast(n_nodes)).select(
        F.col("src").alias("node"),
        F.expr("1000000000 div n_nodes").alias("pr_q"),
    )
    for _ in range(iters):
        pr = (
            edges.join(pr, edges.src == pr.node)
            .join(F.broadcast(deg), "src")
            .crossJoin(F.broadcast(n_nodes))
            .select(
                F.col("dst"),
                F.expr("(pr_q * 85) div (100 * outdeg)").alias("contrib"),
                F.expr("15000000000 div (100 * n_nodes)").alias("base"),
            )
            .groupBy("dst", "base")
            .agg(F.sum("contrib").alias("mass"))
            .select(
                F.col("dst").alias("node"),
                (F.col("base") + F.col("mass")).alias("pr_q"),
            )
        )
    return (
        pr.select(F.col("node").alias("part"), "pr_q")
        .orderBy(F.col("pr_q").desc(), F.col("part").asc())
        .limit(20)
    )


@register(
    "customer_spend_deciles",
    oracle="""
WITH spend AS (
  SELECT o_custkey,
    CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE) AS total_spend
  FROM orders GROUP BY o_custkey
),
tiled AS (
  SELECT o_custkey, total_spend,
    CAST(ntile(10) OVER (ORDER BY total_spend ASC, o_custkey ASC) AS INT)
      AS decile
  FROM spend
)
SELECT decile, CAST(count(*) AS BIGINT) AS n_customers,
  min(total_spend) AS min_spend,
  max(total_spend) AS max_spend,
  CAST(SUM(CAST(total_spend AS DECIMAL(18,6))) AS DOUBLE) AS sum_spend
FROM tiled GROUP BY decile
""",
    doc="Customer-value decile segmentation: lifetime spend per "
    "customer -> NTILE(10) bands -> per-band stats — the RFM-style "
    "banding every marketing/finance report runs. Determinism: the "
    "NTILE ordering tie-breaks on custkey, band populations are "
    "fixed by row count, band sums are exact decimals. Plan note: "
    "banding runs DISTRIBUTED via operators/rank.exact_ntile (range-"
    "repartitioned row numbers + the closed-form NTILE bucket "
    "formula) — bit-identical to the oracle's global-window NTILE "
    "but with no single-partition sort, so the plan survives a "
    "customer table that grows with the corpus; the aggregate before "
    "it is the standard partial+final shape.",
)
def customer_spend_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cnc_visionsearch_spark.operators.rank import exact_ntile

    o = load_table(spark, sf_dir, "orders")
    spend = o.groupBy("o_custkey").agg(
        F.sum(F.col("o_totalprice").cast("decimal(18,6)"))
        .cast("double")
        .alias("total_spend")
    )
    tiled = exact_ntile(
        spend,
        ["total_spend", "o_custkey"],
        10,
        "decile",
    ).select("o_custkey", "total_spend", "decile")
    return tiled.groupBy("decile").agg(
        F.count(F.lit(1)).alias("n_customers"),
        F.min("total_spend").alias("min_spend"),
        F.max("total_spend").alias("max_spend"),
        F.sum(F.col("total_spend").cast("decimal(18,6)"))
        .cast("double")
        .alias("sum_spend"),
    )


@register(
    "part_name_fuzzy_matches",
    oracle="""
WITH names AS (
  SELECT p_name, CAST(count(*) AS BIGINT) AS n_parts
  FROM part GROUP BY p_name
),
blocked AS (
  SELECT p_name, n_parts, string_split(p_name, ' ')[1] AS blk FROM names
)
SELECT a.p_name AS name_a, b.p_name AS name_b,
  CAST(levenshtein(a.p_name, b.p_name) AS INT) AS edit_dist,
  a.n_parts AS n_parts_a, b.n_parts AS n_parts_b
FROM blocked a JOIN blocked b
  ON a.blk = b.blk AND a.p_name < b.p_name
WHERE levenshtein(a.p_name, b.p_name) BETWEEN 1 AND 3
""",
    doc="Fuzzy string matching / entity resolution over the part-name "
    "dictionary: blocked (first token) pair generation + Levenshtein "
    "verify (edit distance 1..3) — the blocking-then-verify shape of "
    "every record-linkage pipeline, and the same candidate-pruning "
    "doctrine as the dedup family: the quadratic edit-distance "
    "comparison runs only INSIDE blocks, never all-pairs. Crucially "
    "the expensive match runs on the DISTINCT-name dictionary "
    "(dimension-sized: 64 names for 2000 parts here; vocabulary-"
    "sized at 100 TB), not the fact table — resolve the dictionary, "
    "broadcast the verdict back. Levenshtein is an integer metric, "
    "so the fuzzy join itself is hash-gated.",
)
def part_name_fuzzy_matches(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = load_table(spark, sf_dir, "part")
    names = p.groupBy("p_name").agg(F.count(F.lit(1)).alias("n_parts"))
    blocked = names.select(
        "p_name", "n_parts", F.split("p_name", " ")[0].alias("blk")
    )
    a = blocked.select(
        F.col("p_name").alias("name_a"),
        F.col("n_parts").alias("n_parts_a"),
        "blk",
    )
    b = blocked.select(
        F.col("p_name").alias("name_b"),
        F.col("n_parts").alias("n_parts_b"),
        "blk",
    )
    lev = F.levenshtein("name_a", "name_b")
    return (
        a.join(b, "blk")
        .filter(F.col("name_a") < F.col("name_b"))
        .filter(lev.between(1, 3))
        .select(
            "name_a",
            "name_b",
            lev.cast("int").alias("edit_dist"),
            "n_parts_a",
            "n_parts_b",
        )
    )


@register(
    "order_price_mad_robust_z",
    oracle="""
WITH med AS (
  SELECT o_orderpriority, quantile_cont(o_totalprice, 0.5) AS m
  FROM orders GROUP BY o_orderpriority
),
mad AS (
  SELECT o.o_orderpriority, max(m.m) AS m,
    quantile_cont(abs(o.o_totalprice - m.m), 0.5) AS mad_v
  FROM orders o JOIN med m ON o.o_orderpriority = m.o_orderpriority
  GROUP BY o.o_orderpriority
)
SELECT o.o_orderpriority, CAST(count(*) AS BIGINT) AS n,
  max(d.m) AS median_price, max(d.mad_v) AS mad,
  max(abs(o.o_totalprice - d.m) / (1.4826 * d.mad_v)) AS max_robust_z,
  CAST(SUM(CASE WHEN abs(o.o_totalprice - d.m) > 1.4826 * d.mad_v
    THEN 1 ELSE 0 END) AS BIGINT) AS n_beyond_1z
FROM orders o JOIN mad d ON o.o_orderpriority = d.o_orderpriority
GROUP BY o.o_orderpriority
""",
    doc="Robust dispersion profile via median absolute deviation "
    "(MAD): per priority band, the median, the MAD, the max robust "
    "z-score |x - median| / (1.4826 * MAD), and how many rows sit "
    "beyond one robust sigma — the outlier gate that, unlike "
    "mean/stddev, a few extreme rows cannot drag (1.4826 scales MAD "
    "to sigma under normality). Two exact interpolated quantiles "
    "(Spark percentile == DuckDB quantile_cont) then one "
    "broadcast-scalar scoring pass; at 100 TB both medians come from "
    "percentile_approx (mergeable t-digest) and the scoring pass is "
    "unchanged — the standard data-quality profile before metric "
    "aggregation.",
)
def order_price_mad_robust_z(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    med = o.groupBy("o_orderpriority").agg(
        F.percentile("o_totalprice", F.lit(0.5)).alias("m")
    )
    mad = (
        o.join(F.broadcast(med), "o_orderpriority")
        .groupBy("o_orderpriority")
        .agg(
            F.max("m").alias("m"),
            F.percentile(
                F.abs(F.col("o_totalprice") - F.col("m")), F.lit(0.5)
            ).alias("mad_v"),
        )
    )
    z = F.abs(F.col("o_totalprice") - F.col("m")) / (1.4826 * F.col("mad_v"))
    return (
        o.join(F.broadcast(mad), "o_orderpriority")
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.max("m").alias("median_price"),
            F.max("mad_v").alias("mad"),
            F.max(z).alias("max_robust_z"),
            F.sum(
                F.when(
                    F.abs(F.col("o_totalprice") - F.col("m"))
                    > 1.4826 * F.col("mad_v"),
                    1,
                ).otherwise(0)
            )
            .cast("bigint")
            .alias("n_beyond_1z"),
        )
    )


@register(
    "lineitem_profile",
    oracle="""
WITH u AS (
  SELECT unnest(['quantity', 'extendedprice', 'discount', 'tax']) AS col_name,
    unnest([l_quantity, l_extendedprice, l_discount, l_tax]) AS value
  FROM lineitem
)
SELECT col_name,
  CAST(count(*) AS BIGINT) AS n_rows,
  CAST(SUM(CASE WHEN value IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_null,
  CAST(count(DISTINCT value) AS BIGINT) AS n_distinct,
  min(value) AS min_value,
  max(value) AS max_value,
  CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
FROM u GROUP BY col_name
""",
    doc="Column profiler (the describe/data-quality pass every "
    "ingestion job runs): per measure — row count, null count, "
    "distinct cardinality, min/max, exact decimal sum — in ONE scan "
    "via the unpivot-then-aggregate shape (stack() is a Generate, no "
    "shuffle; the only exchanges feed the 4-group aggregate and its "
    "distinct pre-aggregation). At 100 TB the n_distinct column is "
    "the knob: swap count(DISTINCT) for approx_count_distinct (HLL, "
    "one pass, mergeable) or the KMV sketch when exactness is not "
    "required — the query shape is otherwise unchanged.",
)
def lineitem_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    long = li.select(
        F.expr(
            "stack(4, 'quantity', l_quantity, 'extendedprice', l_extendedprice, "
            "'discount', l_discount, 'tax', l_tax) AS (col_name, value)"
        )
    )
    return long.groupBy("col_name").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.col("value").isNull().cast("int")).cast("bigint").alias("n_null"),
        F.countDistinct("value").alias("n_distinct"),
        F.min("value").alias("min_value"),
        F.max("value").alias("max_value"),
        F.sum(F.col("value").cast("decimal(18,6)")).cast("double").alias("sum_value"),
    )


@register(
    "orders_snapshot_diff",
    oracle="""
WITH prev AS (
  SELECT o_orderkey,
    CASE WHEN o_orderkey % 37 = 0 THEN 'STALE' ELSE o_orderstatus END
      AS o_orderstatus,
    o_totalprice
  FROM orders WHERE o_orderkey % 50 <> 0
),
cur AS (SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders),
joined AS (
  SELECT cur.o_orderkey AS ck, prev.o_orderkey AS pk,
    CASE WHEN cur.o_orderstatus = prev.o_orderstatus
          AND cur.o_totalprice = prev.o_totalprice
         THEN 1 ELSE 0 END AS same
  FROM cur FULL OUTER JOIN prev ON cur.o_orderkey = prev.o_orderkey
)
SELECT
  CAST(SUM(CASE WHEN pk IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_added,
  CAST(SUM(CASE WHEN ck IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_removed,
  CAST(SUM(CASE WHEN ck IS NOT NULL AND pk IS NOT NULL AND same = 0
    THEN 1 ELSE 0 END) AS BIGINT) AS n_changed,
  CAST(SUM(CASE WHEN ck IS NOT NULL AND pk IS NOT NULL AND same = 1
    THEN 1 ELSE 0 END) AS BIGINT) AS n_unchanged
FROM joined
""",
    doc="Snapshot reconciliation / data diff (the CDC audit between "
    "two table versions): FULL OUTER join on the key, per-row "
    "compare, one-row added/removed/changed/unchanged report. The "
    "'previous' snapshot is derived deterministically in-query "
    "(every 50th key removed, every 37th status mutated) so the diff "
    "is hash-gated; a real deployment points the two sides at two "
    "table versions and the plan is identical — one key-partitioned "
    "shuffle join, comparison in codegen, counts partial+final. At "
    "100 TB: compare HASHES of the value columns, not the columns "
    "(32-byte md5 per side crosses the shuffle instead of the row), "
    "same doctrine as the exact-dedup fingerprint projection.",
)
def orders_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    cur = o.select("o_orderkey", "o_orderstatus", "o_totalprice")
    prev = (
        o.filter(F.col("o_orderkey") % 50 != 0)
        .select(
            "o_orderkey",
            F.when(F.col("o_orderkey") % 37 == 0, F.lit("STALE"))
            .otherwise(F.col("o_orderstatus"))
            .alias("o_orderstatus"),
            "o_totalprice",
        )
    )
    joined = cur.alias("c").join(
        prev.alias("p"),
        F.col("c.o_orderkey") == F.col("p.o_orderkey"),
        "full_outer",
    )
    ck = F.col("c.o_orderkey")
    pk = F.col("p.o_orderkey")
    same = (
        (F.col("c.o_orderstatus") == F.col("p.o_orderstatus"))
        & (F.col("c.o_totalprice") == F.col("p.o_totalprice"))
    ).cast("int")
    return joined.agg(
        F.sum(pk.isNull().cast("int")).cast("bigint").alias("n_added"),
        F.sum(ck.isNull().cast("int")).cast("bigint").alias("n_removed"),
        F.sum(
            (ck.isNotNull() & pk.isNotNull() & (same == 0)).cast("int")
        )
        .cast("bigint")
        .alias("n_changed"),
        F.sum(
            (ck.isNotNull() & pk.isNotNull() & (same == 1)).cast("int")
        )
        .cast("bigint")
        .alias("n_unchanged"),
    )


@register(
    "nation_revenue_pareto",
    oracle="""
WITH rev AS (
  SELECT n.n_name AS nation,
    CAST(SUM(CAST(l.l_extendedprice * (1 - l.l_discount) AS DECIMAL(18,6)))
      AS DOUBLE) AS revenue
  FROM lineitem l
  JOIN orders o ON o.o_orderkey = l.l_orderkey
  JOIN customer c ON c.c_custkey = o.o_custkey
  JOIN nation n ON n.n_nationkey = c.c_nationkey
  GROUP BY n.n_name
),
tot AS (SELECT CAST(SUM(CAST(revenue AS DECIMAL(18,6))) AS DOUBLE) AS total FROM rev)
SELECT nation, revenue,
  CAST(rank() OVER (ORDER BY revenue DESC, nation ASC) AS INT) AS rnk,
  revenue / total AS share,
  CAST(SUM(CAST(revenue AS DECIMAL(18,6))) OVER (
    ORDER BY revenue DESC, nation ASC
    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
  ) AS DOUBLE) / total AS cum_share
FROM rev, tot
""",
    doc="Pareto / ratio-to-report analysis: revenue per customer "
    "nation, each nation's share of total, and the cumulative share "
    "in rank order — the 80/20 concentration report. The fact joins "
    "reduce to a 25-row nation aggregate BEFORE any ranking; the "
    "rank and running total come from operators/rank."
    "distributed_cumsum (boundary-literal banded windows + "
    "band-offset CASE literals — no single-partition node even "
    "though the nation table is tiny, so the same code is safe for "
    "any grouping dimension). rank() == row_number() here because "
    "the (revenue, nation) order is total. Decimal sums for the "
    "aggregate AND the running total keep both order-independent; "
    "shares divide two exact-decimal-derived doubles per row.",
)
def nation_revenue_pareto(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    rev = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy(F.col("n_name").alias("nation"))
        .agg(
            F.sum(
                (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(
                    "decimal(18,6)"
                )
            )
            .cast("double")
            .alias("revenue")
        )
    )
    tot = rev.agg(
        F.sum(F.col("revenue").cast("decimal(18,6)")).cast("double").alias("total")
    )
    from cnc_visionsearch_spark.operators.rank import distributed_cumsum

    ranked = distributed_cumsum(
        rev,
        [(F.col("revenue"), "desc"), ("nation", "asc")],
        sums=[(F.col("revenue").cast("decimal(18,6)"), "_cum_rev")],
        rn_col="_rn",
    )
    return ranked.crossJoin(F.broadcast(tot)).select(
        "nation",
        "revenue",
        F.col("_rn").cast("int").alias("rnk"),
        (F.col("revenue") / F.col("total")).alias("share"),
        (F.col("_cum_rev").cast("double") / F.col("total")).alias(
            "cum_share"
        ),
    )


# ---------------------------------------------------------------------------
# RFM customer segmentation


@register(
    "customer_rfm_segments",
    oracle="""
WITH anchor AS (SELECT max(o_orderdate::TIMESTAMP) AS mx FROM orders),
rfm AS (
  SELECT o_custkey,
    CAST(date_diff('day', max(o_orderdate::TIMESTAMP), anchor.mx) AS BIGINT)
      AS recency_days,
    CAST(count(*) AS BIGINT) AS frequency,
    SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS monetary
  FROM orders, anchor GROUP BY o_custkey, anchor.mx
),
scored AS (
  SELECT o_custkey, recency_days, frequency, monetary,
    CAST(6 - ntile(5) OVER (ORDER BY recency_days ASC, o_custkey ASC)
      AS BIGINT) AS r_score,
    CAST(ntile(5) OVER (ORDER BY frequency ASC, o_custkey ASC)
      AS BIGINT) AS f_score,
    CAST(ntile(5) OVER (ORDER BY monetary ASC, o_custkey ASC)
      AS BIGINT) AS m_score
  FROM rfm
),
seg AS (
  SELECT *,
    CASE
      WHEN r_score >= 4 AND f_score >= 4 AND m_score >= 4 THEN 'champions'
      WHEN r_score >= 4 AND f_score <= 2 THEN 'new_or_reactivated'
      WHEN r_score <= 2 AND f_score >= 4 THEN 'at_risk_loyal'
      WHEN r_score <= 2 AND m_score <= 2 THEN 'hibernating'
      ELSE 'core'
    END AS segment
  FROM scored
)
SELECT segment,
  CAST(count(*) AS BIGINT) AS n_customers,
  (CAST(SUM(recency_days) AS DOUBLE) / CAST(count(*) AS DOUBLE))
    AS avg_recency_days,
  (CAST(SUM(frequency) AS DOUBLE) / CAST(count(*) AS DOUBLE))
    AS avg_frequency,
  CAST(SUM(monetary) AS DOUBLE) AS total_monetary
FROM seg GROUP BY segment ORDER BY segment
""",
    doc="RFM (recency / frequency / monetary) segmentation — the "
    "classic CRM warehouse rollup: per-customer stats from one orders "
    "scan, quintile scores via three DISTRIBUTED exact-NTILE passes "
    "over the CUSTOMER AGGREGATE (operators/rank.exact_ntile: range-"
    "repartitioned row numbers + the closed-form bucket formula — "
    "bit-identical to the oracle's global-window NTILEs with no "
    "single-partition sort; ties broken by custkey so boundaries are "
    "deterministic), r-score inverted so 5 = most recent, then a "
    "rule-based segment label and a per-segment rollup. Monetary "
    "keeps exact DECIMAL until the final DOUBLE cast.",
)
def customer_rfm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    anchor = orders.agg(F.max("o_orderdate").alias("mx"))
    rfm = (
        orders.crossJoin(F.broadcast(anchor))
        .groupBy("o_custkey", "mx")
        .agg(
            (
                (F.col("mx").cast("long") - F.max("o_orderdate").cast("long"))
                / 86400
            )
            .cast("bigint")
            .alias("recency_days"),
            F.count(F.lit(1)).cast("bigint").alias("frequency"),
            F.sum(F.col("o_totalprice").cast("decimal(18,6)")).alias(
                "monetary"
            ),
        )
    )
    # three DISTRIBUTED quintiles in ONE shared-scan pass (operators/
    # rank.exact_ntile_multi) — bit-identical to the oracle's global-
    # window NTILEs; one boundary-sample job + one grouping-sets
    # band-totals job cover all three specs, and the three banded
    # windows run back-to-back in the consumer's single job. This
    # retired the r7-flagged cache_input lifetime (three chained
    # passes previously persisted the input per pass to stop window
    # recompute compounding; the multi form has no recompute to stop).
    from cnc_visionsearch_spark.operators.rank import exact_ntile_multi

    scored = exact_ntile_multi(
        rfm,
        [
            (["recency_days", "o_custkey"], 5, "_r_tile"),
            (["frequency", "o_custkey"], 5, "_f_tile"),
            (["monetary", "o_custkey"], 5, "_m_tile"),
        ],
    )
    scored = scored.select(
        "o_custkey",
        "recency_days",
        "frequency",
        "monetary",
        (F.lit(6) - F.col("_r_tile")).cast("bigint").alias("r_score"),
        F.col("_f_tile").cast("bigint").alias("f_score"),
        F.col("_m_tile").cast("bigint").alias("m_score"),
    )
    seg = scored.withColumn(
        "segment",
        F.when(
            (F.col("r_score") >= 4)
            & (F.col("f_score") >= 4)
            & (F.col("m_score") >= 4),
            "champions",
        )
        .when((F.col("r_score") >= 4) & (F.col("f_score") <= 2), "new_or_reactivated")
        .when((F.col("r_score") <= 2) & (F.col("f_score") >= 4), "at_risk_loyal")
        .when((F.col("r_score") <= 2) & (F.col("m_score") <= 2), "hibernating")
        .otherwise("core"),
    )
    return (
        seg.groupBy("segment")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_customers"),
            (
                F.sum("recency_days").cast("double")
                / F.count(F.lit(1)).cast("double")
            ).alias("avg_recency_days"),
            (
                F.sum("frequency").cast("double")
                / F.count(F.lit(1)).cast("double")
            ).alias("avg_frequency"),
            F.sum("monetary").cast("double").alias("total_monetary"),
        )
        .orderBy("segment")
    )


# ---------------------------------------------------------------------------
# association rules (support / confidence / lift)

_RULE_MIN_PAIR = 3  # min co-occurrence support count for a rule


@register(
    "part_association_rules",
    oracle=f"""
WITH lp AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
n_orders AS (SELECT CAST(count(DISTINCT l_orderkey) AS BIGINT) AS n FROM lp),
item AS (SELECT l_partkey, CAST(count(*) AS BIGINT) AS n_item
         FROM lp GROUP BY l_partkey),
pairs AS (
  SELECT a.l_partkey AS part_a, b.l_partkey AS part_b,
    CAST(count(*) AS BIGINT) AS n_ab
  FROM lp a JOIN lp b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
  GROUP BY 1, 2 HAVING count(*) >= {_RULE_MIN_PAIR}
),
rules AS (
  SELECT part_a AS antecedent, part_b AS consequent, n_ab FROM pairs
  UNION ALL
  SELECT part_b, part_a, n_ab FROM pairs
)
SELECT r.antecedent, r.consequent, r.n_ab,
  (CAST(r.n_ab AS DOUBLE) / CAST(n_orders.n AS DOUBLE)) AS support,
  (CAST(r.n_ab AS DOUBLE) / CAST(ia.n_item AS DOUBLE)) AS confidence,
  ((CAST(r.n_ab AS DOUBLE) / CAST(ia.n_item AS DOUBLE))
    / (CAST(ic.n_item AS DOUBLE) / CAST(n_orders.n AS DOUBLE))) AS lift
FROM rules r
JOIN item ia ON ia.l_partkey = r.antecedent
JOIN item ic ON ic.l_partkey = r.consequent, n_orders
ORDER BY lift DESC, r.antecedent ASC, r.consequent ASC
LIMIT 20
""",
    doc="Association rules over co-purchased parts — support, "
    "confidence, and lift for every directed rule whose pair support "
    f"clears {_RULE_MIN_PAIR} orders, top-20 by lift: the "
    "market-basket classic built ON the orders_part_cooccurrence "
    "basket expansion (one group-by per order, in-row O(basket^2) "
    "pair expansion — bounded by construction, never a lineitem "
    "self-join) plus a per-item count and a 1-row order count, both "
    "broadcast. Every metric is a single double chain over exact "
    "integers. The support floor is what bounds the rule table at "
    "100 TB — pairs below it never leave the first aggregate.",
)
def part_association_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    lp = li.select("l_orderkey", "l_partkey").distinct()
    n_orders = lp.agg(
        F.count_distinct("l_orderkey").cast("bigint").alias("n")
    )
    item = lp.groupBy("l_partkey").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_item")
    )
    pairs = (
        _copurchase_pair_stream(li)
        .groupBy(
            F.col("src").alias("part_a"),
            F.col("dst").alias("part_b"),
        )
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_ab"))
        .filter(F.col("n_ab") >= _RULE_MIN_PAIR)
    )
    rules = pairs.select(
        F.col("part_a").alias("antecedent"),
        F.col("part_b").alias("consequent"),
        "n_ab",
    ).unionAll(
        pairs.select(
            F.col("part_b").alias("antecedent"),
            F.col("part_a").alias("consequent"),
            "n_ab",
        )
    )
    ia = item.select(
        F.col("l_partkey").alias("antecedent"),
        F.col("n_item").alias("n_ant"),
    )
    ic = item.select(
        F.col("l_partkey").alias("consequent"),
        F.col("n_item").alias("n_con"),
    )
    conf = F.col("n_ab").cast("double") / F.col("n_ant").cast("double")
    return (
        rules.join(F.broadcast(ia), "antecedent")
        .join(F.broadcast(ic), "consequent")
        .crossJoin(F.broadcast(n_orders))
        .select(
            "antecedent",
            "consequent",
            "n_ab",
            (F.col("n_ab").cast("double") / F.col("n").cast("double")).alias(
                "support"
            ),
            conf.alias("confidence"),
            (
                conf
                / (F.col("n_con").cast("double") / F.col("n").cast("double"))
            ).alias("lift"),
        )
        .orderBy(
            F.col("lift").desc(),
            F.col("antecedent").asc(),
            F.col("consequent").asc(),
        )
        .limit(20)
    )


# ---------------------------------------------------------------------------
# equi-depth histogram (quantile buckets)


@register(
    "order_price_equidepth_histogram",
    oracle="""
WITH b AS (
  SELECT o_totalprice,
    CAST(ntile(10) OVER (ORDER BY o_totalprice ASC, o_orderkey ASC)
      AS BIGINT) AS bucket
  FROM orders
)
SELECT bucket,
  CAST(count(*) AS BIGINT) AS n_orders,
  min(o_totalprice) AS lo,
  max(o_totalprice) AS hi
FROM b GROUP BY bucket ORDER BY bucket
""",
    doc="Equi-DEPTH (quantile-bucket) histogram of order prices — the "
    "companion to the equi-width events_value_histogram and the shape "
    "optimizer statistics actually store (bucket boundaries adapt to "
    "the distribution, so every bucket carries equal weight). "
    "Distributed exact NTILE over the FACT with a deterministic "
    "orderkey tie-break (operators/rank.exact_ntile: range-"
    "repartitioned row numbers + the closed-form bucket formula — "
    "this is the one ntile in the repo that runs over fact-scale "
    "rows, so the no-single-partition plan is mandatory, not a "
    "nicety); bit-identical to the oracle's global-window NTILE.",
)
def order_price_equidepth_histogram(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from cnc_visionsearch_spark.operators.rank import exact_ntile

    orders = load_table(spark, sf_dir, "orders")
    # bands=16 (r10, the customer_pareto_coverage decision): Catalyst
    # analysis of the band CASE trees is linear in the band count and
    # NTILE values are band-invariant by construction — 16 bands
    # halves the driver-side plan cost at identical hashes; scale the
    # knob with the cluster, not the query
    b = exact_ntile(
        orders.select("o_totalprice", "o_orderkey"),
        ["o_totalprice", "o_orderkey"],
        10,
        "_b",
        bands=16,
    ).select("o_totalprice", F.col("_b").cast("bigint").alias("bucket"))
    return (
        b.groupBy("bucket")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_orders"),
            F.min("o_totalprice").alias("lo"),
            F.max("o_totalprice").alias("hi"),
        )
        .orderBy("bucket")
    )


# ---------------------------------------------------------------------------
# supplier lead-time percentiles


@register(
    "supplier_lead_time_percentiles",
    oracle="""
WITH lt AS (
  SELECT l_suppkey,
    CAST(date_diff('day', o.o_orderdate::TIMESTAMP, l.l_shipdate::TIMESTAMP)
      AS DOUBLE) AS lead_days
  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
)
SELECT l_suppkey,
  CAST(count(*) AS BIGINT) AS n_shipments,
  quantile_cont(lead_days, 0.5) AS p50_days,
  quantile_cont(lead_days, 0.9) AS p90_days,
  CAST(max(lead_days) AS BIGINT) AS max_days
FROM lt GROUP BY l_suppkey
ORDER BY p90_days DESC, l_suppkey ASC
LIMIT 15
""",
    doc="Supplier lead-time SLA report: order-to-ship days per "
    "shipment (one orderkey-keyed fact-fact join — the bucketed-table "
    "layout pays this shuffle once at write time, per SCALE.md), "
    "exact interpolated p50/p90 per supplier (Spark percentile == "
    "DuckDB quantile_cont, FIXTURES rules), worst suppliers first. "
    "At 100 TB the per-group exact percentile swaps for "
    "percentile_approx's mergeable t-digest — the same one-line swap "
    "every quantile query here documents.",
)
def supplier_lead_time_percentiles(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    lt = li.join(
        orders, li.l_orderkey == orders.o_orderkey
    ).select(
        "l_suppkey",
        (
            (
                F.col("l_shipdate").cast("long")
                - F.col("o_orderdate").cast("long")
            )
            / 86400
        ).alias("lead_days"),
    )
    return (
        lt.groupBy("l_suppkey")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_shipments"),
            F.expr("percentile(lead_days, 0.5)").alias("p50_days"),
            F.expr("percentile(lead_days, 0.9)").alias("p90_days"),
            F.max("lead_days").cast("bigint").alias("max_days"),
        )
        .orderBy(F.col("p90_days").desc(), F.col("l_suppkey").asc())
        .limit(15)
    )


# ---------------------------------------------------------------------------
# Gini concentration of brand revenue


@register(
    "part_brand_revenue_gini",
    oracle="""
WITH rev AS (
  SELECT p.p_brand,
    SUM(CAST(l.l_extendedprice AS DECIMAL(18,6))) AS r
  FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
  GROUP BY p.p_brand
),
ranked AS (
  SELECT p_brand, r,
    CAST(row_number() OVER (ORDER BY r ASC, p_brand ASC) AS BIGINT) AS i
  FROM rev
)
SELECT CAST(count(*) AS BIGINT) AS n_brands,
  CAST(SUM(r) AS DOUBLE) AS total_revenue,
  (((2.0 * CAST(SUM(i * r) AS DOUBLE)) / (CAST(count(*) AS DOUBLE)
      * CAST(SUM(r) AS DOUBLE)))
    - ((CAST(count(*) AS DOUBLE) + 1.0) / CAST(count(*) AS DOUBLE)))
    AS gini
FROM ranked
""",
    doc="Gini coefficient of revenue concentration across part brands "
    "— the inequality statistic next to nation_revenue_pareto's "
    "cumulative-share view: rank brands by exact-DECIMAL revenue "
    "(deterministic brand tie-break), then the closed-form "
    "G = 2*sum(i*r_i)/(n*sum(r)) - (n+1)/n as one double chain over "
    "DECIMAL-exact sums (i*r stays DECIMAL until the final cast). "
    "The rank comes from operators/rank.distributed_cumsum over the "
    "BRAND AGGREGATE — bounded dimension cardinality here, and the "
    "distributed-rank plan stays safe if the grouping dimension "
    "grows (no single-partition sort anywhere).",
)
def part_brand_revenue_gini(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cnc_visionsearch_spark.operators.rank import distributed_cumsum

    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    rev = (
        li.join(part, li.l_partkey == part.p_partkey)
        .groupBy("p_brand")
        .agg(
            F.sum(F.col("l_extendedprice").cast("decimal(18,6)")).alias("r")
        )
    )
    ranked = distributed_cumsum(
        rev, ["r", "p_brand"], rn_col="i"
    )
    n = F.count(F.lit(1)).cast("double")
    sr = F.sum("r").cast("double")
    sir = F.sum(F.col("i") * F.col("r")).cast("double")
    return ranked.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_brands"),
        F.sum("r").cast("double").alias("total_revenue"),
        (((F.lit(2.0) * sir) / (n * sr)) - ((n + F.lit(1.0)) / n)).alias(
            "gini"
        ),
    )


# ---------------------------------------------------------------------------
# year-over-year growth


@register(
    "nation_yoy_revenue_growth",
    oracle="""
WITH rev AS (
  SELECT n.n_name AS nation,
    CAST(EXTRACT(year FROM o.o_orderdate) AS BIGINT) AS o_year,
    SUM(CAST(l.l_extendedprice * (1 - l.l_discount) AS DECIMAL(18,6)))
      AS r
  FROM lineitem l
  JOIN orders o ON l.l_orderkey = o.o_orderkey
  JOIN customer c ON o.o_custkey = c.c_custkey
  JOIN nation n ON c.c_nationkey = n.n_nationkey
  GROUP BY 1, 2
),
g AS (
  SELECT nation, o_year, r,
    lag(r) OVER (PARTITION BY nation ORDER BY o_year) AS prev_r
  FROM rev
)
SELECT nation, o_year,
  CAST(r AS DOUBLE) AS revenue,
  CAST(prev_r AS DOUBLE) AS prev_revenue,
  ((CAST(r AS DOUBLE) - CAST(prev_r AS DOUBLE)) / CAST(prev_r AS DOUBLE))
    AS yoy_growth
FROM g WHERE prev_r IS NOT NULL
ORDER BY nation, o_year
""",
    doc="Year-over-year revenue growth per nation — the BI report "
    "every warehouse serves: discounted revenue through the "
    "lineitem-orders-customer-nation star (dims broadcast, fact "
    "joins AQE-sized — the q5 doctrine), exact DECIMAL sums per "
    "(nation, year), then a lag window over the AGGREGATE (25 "
    "nations x a handful of years — dimension-scale, never the "
    "fact). Growth is one double chain over the two DECIMAL-exact "
    "sums cast at the end.",
)
def nation_yoy_revenue_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    rev = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .groupBy(
            F.col("n_name").alias("nation"),
            F.year("o_orderdate").cast("bigint").alias("o_year"),
        )
        .agg(
            F.sum(
                (
                    F.col("l_extendedprice") * (F.lit(1) - F.col("l_discount"))
                ).cast("decimal(18,6)")
            ).alias("r")
        )
    )
    w = Window.partitionBy("nation").orderBy("o_year")
    g = rev.withColumn("prev_r", F.lag("r").over(w)).filter(
        F.col("prev_r").isNotNull()
    )
    return g.select(
        "nation",
        "o_year",
        F.col("r").cast("double").alias("revenue"),
        F.col("prev_r").cast("double").alias("prev_revenue"),
        (
            (F.col("r").cast("double") - F.col("prev_r").cast("double"))
            / F.col("prev_r").cast("double")
        ).alias("yoy_growth"),
    ).orderBy("nation", "o_year")


# --------------------------------------------------- k-anonymity audit


@register(
    "customer_k_anonymity",
    oracle="""
WITH quasi AS (
  SELECT c_custkey, c_nationkey, c_mktsegment,
    CAST(floor(c_acctbal / 1000.0) AS BIGINT) AS bal_band
  FROM customer
),
classes AS (
  SELECT c_nationkey, c_mktsegment, bal_band,
    CAST(count(*) AS BIGINT) AS k
  FROM quasi GROUP BY c_nationkey, c_mktsegment, bal_band
)
SELECT k,
  CAST(count(*) AS BIGINT) AS n_classes,
  CAST(sum(k) AS BIGINT) AS n_rows,
  CAST(CASE WHEN k < 5 THEN sum(k) ELSE 0 END AS BIGINT) AS rows_at_risk
FROM classes GROUP BY k ORDER BY k
""",
    doc="k-anonymity audit over the quasi-identifier tuple (nation, "
    "market segment, $1000 account-balance band) — the re-identification "
    "risk scan a governed data platform runs BEFORE sharing a table "
    "(Sweeney 2002): every row in an equivalence class of size k hides "
    "among k-1 others, so classes with k < 5 are the rows a linkage "
    "attack can single out and the rows generalization/suppression "
    "must treat. Output: the full k histogram (classes, rows, at-risk "
    "rows per k). Scale shape: one scan, one (quasi-tuple) partial "
    "aggregate, one dimension-sized histogram aggregate — the same "
    "cost as any group-by census; no joins, nothing driver-side.",
)
def customer_k_anonymity(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer")
    classes = (
        cust.select(
            "c_nationkey",
            "c_mktsegment",
            F.floor(F.col("c_acctbal") / 1000.0).cast("bigint").alias(
                "bal_band"
            ),
        )
        .groupBy("c_nationkey", "c_mktsegment", "bal_band")
        .agg(F.count(F.lit(1)).cast("bigint").alias("k"))
    )
    return (
        classes.groupBy("k")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_classes"),
            F.sum("k").cast("bigint").alias("n_rows"),
            F.when(F.col("k") < 5, F.sum("k"))
            .otherwise(F.lit(0))
            .cast("bigint")
            .alias("rows_at_risk"),
        )
        .orderBy("k")
    )


# ------------------------------------- item-item cosine recommender


@register(
    "part_item_item_recommender",
    oracle="""
WITH lp AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
cnt AS (SELECT l_partkey, CAST(count(*) AS BIGINT) AS n FROM lp GROUP BY 1),
pairs AS (
  SELECT a.l_partkey AS pa, b.l_partkey AS pb
  FROM lp a JOIN lp b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey <> b.l_partkey
),
cab AS (SELECT pa, pb, CAST(count(*) AS BIGINT) AS c FROM pairs GROUP BY 1, 2),
seeds AS (SELECT l_partkey FROM cnt ORDER BY n DESC, l_partkey ASC LIMIT 15),
sim AS (
  SELECT c.pa, c.pb, c.c,
    CAST(c.c AS DOUBLE)
      / sqrt(CAST(na.n AS DOUBLE) * CAST(nb.n AS DOUBLE)) AS cosine
  FROM cab c
  JOIN seeds s ON s.l_partkey = c.pa
  JOIN cnt na ON na.l_partkey = c.pa
  JOIN cnt nb ON nb.l_partkey = c.pb
),
ranked AS (
  SELECT pa, pb, c, cosine,
    row_number() OVER (PARTITION BY pa ORDER BY cosine DESC, pb ASC) AS rn
  FROM sim
)
SELECT pa AS part_a, pb AS recommended, c AS n_joint, cosine,
  CAST(rn AS BIGINT) AS rank
FROM ranked WHERE rn <= 3
ORDER BY part_a, rank
""",
    doc="Item-item collaborative filtering ('customers who bought X "
    "also bought Y', Sarwar et al. WWW'01): cosine similarity over "
    "basket co-occurrence vectors — sim(a,b) = c_ab / sqrt(n_a n_b) "
    "from the SAME bounded basket-pair expansion the co-occurrence "
    "and association-rules queries ride (an order holds <= 7 parts, "
    "so the in-row expansion is O(21) and no table self-joins). "
    "Top-3 recommendations for the 15 highest-traffic parts; counts "
    "are exact integers and the cosine is one sqrt per ROW (no float "
    "reduction). Scale: the pair count shuffle carries bigint "
    "triples; seed filtering broadcasts 15 keys into the pair stream "
    "so the ranked window sees seed rows only.",
)
def part_item_item_recommender(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    lp = li.select("l_orderkey", "l_partkey").distinct()
    cnt = lp.groupBy("l_partkey").agg(
        F.count(F.lit(1)).cast("bigint").alias("n")
    )
    half = _copurchase_pair_stream(li).select(
        F.col("src").alias("pa"), F.col("dst").alias("pb")
    )
    pairs = half.unionByName(
        half.select(F.col("pb").alias("pa"), F.col("pa").alias("pb"))
    )
    cab = pairs.groupBy("pa", "pb").agg(
        F.count(F.lit(1)).cast("bigint").alias("c")
    )
    seeds = (
        cnt.orderBy(F.col("n").desc(), F.col("l_partkey").asc())
        .limit(15)
        .select(F.col("l_partkey").alias("pa"))
    )
    sim = (
        cab.join(F.broadcast(seeds), "pa")
        .join(
            F.broadcast(cnt.select(F.col("l_partkey").alias("pa"), F.col("n").alias("na"))),
            "pa",
        )
        .join(
            F.broadcast(cnt.select(F.col("l_partkey").alias("pb"), F.col("n").alias("nb"))),
            "pb",
        )
        .select(
            "pa",
            "pb",
            "c",
            (
                F.col("c").cast("double")
                / F.sqrt(F.col("na").cast("double") * F.col("nb").cast("double"))
            ).alias("cosine"),
        )
    )
    wr = Window.partitionBy("pa").orderBy(
        F.col("cosine").desc(), F.col("pb").asc()
    )
    return (
        sim.withColumn("rank", F.row_number().over(wr))
        .filter(F.col("rank") <= 3)
        .select(
            F.col("pa").alias("part_a"),
            F.col("pb").alias("recommended"),
            F.col("c").alias("n_joint"),
            "cosine",
            F.col("rank").cast("bigint").alias("rank"),
        )
        .orderBy("part_a", "rank")
    )


# ------------------------------------------------ Benford first-digit audit

# log10(1 + 1/d) for d = 1..9, embedded as shared literals in both
# engines (no runtime log() — libm is not a cross-engine contract)
_BENFORD_P = {
    1: 0.301029995664,
    2: 0.176091259056,
    3: 0.124938736608,
    4: 0.09691001300806,
    5: 0.079181246048,
    6: 0.066946789631,
    7: 0.057991946978,
    8: 0.051152522447,
    9: 0.045757490561,
}


@register(
    "lineitem_benford_audit",
    oracle=f"""
WITH digits AS (
  SELECT CAST(substr(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) AS VARCHAR),
              1, 1) AS BIGINT) AS d
  FROM lineitem WHERE l_extendedprice >= 1
),
obs AS (SELECT d, CAST(count(*) AS BIGINT) AS n_obs FROM digits GROUP BY d),
tot AS (SELECT CAST(sum(n_obs) AS BIGINT) AS n FROM obs),
expect(d, p) AS (VALUES
  {", ".join(f"({d}, {p})" for d, p in sorted(_BENFORD_P.items()))})
SELECT e.d AS leading_digit,
  CAST(coalesce(o.n_obs, 0) AS BIGINT) AS n_obs,
  e.p * CAST(t.n AS DOUBLE) AS expected_n,
  (CAST(coalesce(o.n_obs, 0) AS DOUBLE) - e.p * CAST(t.n AS DOUBLE))
    * (CAST(coalesce(o.n_obs, 0) AS DOUBLE) - e.p * CAST(t.n AS DOUBLE))
    / (e.p * CAST(t.n AS DOUBLE)) AS chi2_term
FROM expect e LEFT JOIN obs o ON o.d = e.d, tot t
ORDER BY e.d
""",
    doc="Benford's-law first-digit audit over line-item extended "
    "prices — the classic fraud / fabricated-data screen (Nigrini "
    "'96): naturally occurring multiplicative amounts follow "
    "P(d) = log10(1 + 1/d), and a digit row whose chi-square term "
    "explodes marks injected or clipped values. The nine expected "
    "proportions are EMBEDDED LITERALS (no runtime log(), which is "
    "not a cross-engine contract); the first digit comes from the "
    "DECIMAL(18,2) string form so both engines see identical "
    "rendering; counts are exact and each chi-square term is one "
    "per-row double chain. One scan, a 9-row aggregate, a broadcast "
    "constant table.",
)
def lineitem_benford_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    digits = li.filter(F.col("l_extendedprice") >= 1).select(
        F.substring(
            F.col("l_extendedprice").cast("decimal(18,2)").cast("string"),
            1,
            1,
        )
        .cast("bigint")
        .alias("d")
    )
    obs = digits.groupBy("d").agg(F.count(F.lit(1)).cast("bigint").alias("n_obs"))
    tot = obs.agg(F.sum("n_obs").cast("bigint").alias("n"))
    expect = local_frame(spark, sorted(_BENFORD_P.items()), "d bigint, p double")
    en = F.col("p") * F.col("n").cast("double")
    nobs = F.coalesce(F.col("n_obs"), F.lit(0)).cast("bigint")
    nobs_d = nobs.cast("double")
    return (
        F.broadcast(expect)
        .join(obs, "d", "left")
        .crossJoin(F.broadcast(tot))
        .select(
            F.col("d").alias("leading_digit"),
            nobs.alias("n_obs"),
            en.alias("expected_n"),
            ((nobs_d - en) * (nobs_d - en) / en).alias("chi2_term"),
        )
        .orderBy("leading_digit")
    )


# ---------------------------------------------------------------------------
# duplicate-invoice detection (blocked business near-dup)

@register(
    "orders_duplicate_invoice_pairs",
    oracle="""
WITH o AS (
  SELECT o_orderkey, o_custkey, o_orderdate,
    CAST(o_totalprice AS DOUBLE) AS price,
    CAST(FLOOR(CAST(o_totalprice AS DOUBLE) / 100.0) AS BIGINT) AS band
  FROM orders
)
SELECT a.o_custkey,
  a.o_orderkey AS o1, b.o_orderkey AS o2,
  a.price AS price1, b.price AS price2,
  (b.price - a.price) AS price_diff,
  CAST(abs(date_diff('day', a.o_orderdate, b.o_orderdate)) AS BIGINT)
    AS gap_days
FROM o a JOIN o b
  ON a.o_custkey = b.o_custkey AND a.band = b.band
  AND a.o_orderkey < b.o_orderkey
""",
    doc="Duplicate-invoice detection — the finance-ops twin of the "
    "text near-dup family: two orders from the SAME customer whose "
    "totals land in the same 100-unit price band are double-billing "
    "candidates, reported as pairs with the exact price delta and "
    "day gap so an auditor can triage (tight gap + tiny delta = "
    "likely resubmission). The self-join is BLOCKED on (custkey, "
    "price-band) — an equi-join on a composite key, so it plans as a "
    "hash join whose per-block fan-out is orders-per-customer-per-"
    "band (single digits), never a customer-wide or global pair "
    "expansion; the o1 < o2 predicate halves the pairs and "
    "deduplicates orientation, exactly the dedup family's in-bucket "
    "pair discipline on relational keys. Band-edge misses are the "
    "standard blocking trade (run a +50 offset pass for full "
    "coverage); the price double cast is exact (DECIMAL(12,2) "
    "< 2^53).",
)
def orders_duplicate_invoice_pairs(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_custkey",
        "o_orderdate",
        F.col("o_totalprice").cast("double").alias("price"),
        F.floor(F.col("o_totalprice").cast("double") / F.lit(100.0))
        .cast("bigint")
        .alias("band"),
    )
    a = o.alias("a")
    b = o.alias("b")
    return a.join(
        b,
        (F.col("a.o_custkey") == F.col("b.o_custkey"))
        & (F.col("a.band") == F.col("b.band"))
        & (F.col("a.o_orderkey") < F.col("b.o_orderkey")),
    ).select(
        F.col("a.o_custkey").alias("o_custkey"),
        F.col("a.o_orderkey").alias("o1"),
        F.col("b.o_orderkey").alias("o2"),
        F.col("a.price").alias("price1"),
        F.col("b.price").alias("price2"),
        (F.col("b.price") - F.col("a.price")).alias("price_diff"),
        F.abs(
            F.datediff(F.col("b.o_orderdate"), F.col("a.o_orderdate"))
        )
        .cast("bigint")
        .alias("gap_days"),
    )


# ------------------------------------------- label-propagation communities

_LPA_ROUNDS = 3


def _lpa_sql(rounds: int = _LPA_ROUNDS) -> str:
    """Synchronous label propagation as chained CTEs: labels start as
    node ids, each round every node adopts the most frequent label
    among its neighbors (ties -> smallest label) — all-integer, so
    both engines iterate bit-identically (the PageRank oracle-replay
    contract)."""
    parts = [
        """
lp AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
e AS (
  SELECT a.l_partkey AS src, b.l_partkey AS dst
  FROM lp a JOIN lp b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey <> b.l_partkey
),
edges AS (SELECT DISTINCT src, dst FROM e),
lab0 AS (SELECT DISTINCT src AS node, src AS lab FROM edges)"""
    ]
    for i in range(1, rounds + 1):
        parts.append(
            f""",
cnt{i} AS (
  SELECT e.dst AS node, p.lab, CAST(count(*) AS BIGINT) AS c
  FROM edges e JOIN lab{i - 1} p ON e.src = p.node
  GROUP BY e.dst, p.lab
),
lab{i} AS (
  SELECT node, lab FROM (
    SELECT node, lab, row_number() OVER (
      PARTITION BY node ORDER BY c DESC, lab ASC) AS rn
    FROM cnt{i}
  ) WHERE rn = 1
)"""
        )
    return "".join(parts) + f",\nlabf AS (SELECT node, lab FROM lab{rounds})"


def _lpa_labels(
    spark: SparkSession, sf_dir: str, rounds: int = _LPA_ROUNDS
) -> DataFrame:
    """(node, lab) after ``rounds`` synchronous LPA rounds — the full
    assignment (one row per co-purchase node); the registered query
    aggregates it, tests assert the partition property on it."""
    # Exchange audit (r5 verdict task #4): the per-round edges⋈labels
    # join plans as BroadcastHashJoin on the LABEL side at every bench
    # scale — the edge set is never re-shuffled between rounds, so
    # pinning its partitioning up front (.repartition(n, "src")) only
    # ADDS an exchange: measured min-of-3 at sf0.1 was 6.49s pinned vs
    # 5.71s unpinned. r6: the edge set is the build-once persisted
    # artifact (ensure_copurchase_edges_built). r7: that artifact is
    # BUCKETED on src and read through the catalog, so when labels
    # outgrow the broadcast threshold (node-scale at 100 TB) every
    # round's sort-merge join runs exchange-free on the edge side —
    # plan-pinned by tests/test_plans.py
    # test_copurchase_edges_bucketed_join_exchange_free_on_edge_side.
    edges = _edges_table(spark, sf_dir)
    # round 1 from identity labels is CLOSED-FORM: every neighbor holds
    # a unique label, so all counts are 1 and the (count DESC, label
    # ASC) argmax is simply min(neighbor id) — one aggregate, no join
    # (the oracle replays the generic round; results are identical)
    lab = edges.groupBy(F.col("dst").alias("node")).agg(
        F.min("src").alias("lab")
    )
    # r12 measured-and-rejected (OPTIMIZATION_r12.md): per-round
    # localCheckpoint(eager) to truncate lineage (1.06x SLOWER — the
    # eager barrier serializes what AQE already pipelines), and a
    # per-query-scoped coalescePartitions.minPartitionSize=64k around
    # the checkpointed rounds to widen the 3-task count stage (0.97
    # ratio — inside noise at matched capacity). The 3-round chained
    # plan stays; its quiet-window cost is ~2.9s, the r11 bench's 4.8s
    # was mostly machine contention.
    for _ in range(rounds - 1):
        # per-node argmax (count DESC, label ASC) as a HASH aggregate —
        # max(struct(c, -lab)) is the oracle's row_number()=1 pick, but
        # gets map-side partial combine instead of a per-node sort
        # (the window formulation measured 11s at bench sf; this shape ~5s)
        lab = (
            edges.join(lab, edges.src == lab.node)
            .groupBy(F.col("dst").alias("nnode"), "lab")
            .agg(F.count(F.lit(1)).cast("bigint").alias("c"))
            .groupBy(F.col("nnode").alias("node"))
            .agg(
                F.max(
                    F.struct(F.col("c"), (-F.col("lab")).alias("nl"))
                ).alias("best")
            )
            .select("node", (-F.col("best.nl")).alias("lab"))
        )
    return lab


@register(
    "part_lpa_communities",
    oracle=f"""
WITH {_lpa_sql(_LPA_ROUNDS)}
SELECT lab AS community, CAST(count(*) AS BIGINT) AS n_members,
  CAST(min(node) AS BIGINT) AS min_part, CAST(max(node) AS BIGINT) AS max_part
FROM labf GROUP BY lab
ORDER BY n_members DESC, community ASC
LIMIT 20
""",
    doc="Label-propagation community detection (Raghavan et al. 2007) "
    f"over the part co-purchase graph, {_LPA_ROUNDS} synchronous "
    "rounds: labels start as node ids; each round a node adopts the "
    "MOST FREQUENT label among its neighbors (frequency desc, label "
    "asc tie-break — the determinism patch over classic LPA's random "
    "tie coin). Finds frequency-based communities the pure "
    "connectivity pass (neardup_cluster_keepers' connected "
    "components) cannot: CC merges everything reachable, LPA splits "
    "a connected graph along dense cores — the catalog's actual "
    "co-purchase clusters, PageRank's centrality complement. "
    "All-integer state -> the oracle replays every round as chained "
    "CTEs (the PageRank/BPE contract). Plan per round: edges JOIN "
    "labels on src (exchange-reusable hash partitioning, the "
    "Pregel-as-join-agg loop), (node, lab) count aggregate, "
    "per-node argmax via the row_number window; the edge set builds "
    "ONCE via the bounded basket expansion (never a lineitem "
    "self-join) into the persisted src-bucketed artifact, so rounds "
    "probe a catalog table instead of recomputing it. "
    "Output: top-20 communities by size with member id ranges.",
)
def part_lpa_communities(
    spark: SparkSession, sf_dir: str, rounds: int = _LPA_ROUNDS
) -> DataFrame:
    from cnc_visionsearch_spark.iterative import check_rounds

    check_rounds(rounds, "part_lpa_communities")

    lab = _lpa_labels(spark, sf_dir, rounds)
    return (
        lab.groupBy(F.col("lab").alias("community"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_members"),
            F.min("node").cast("bigint").alias("min_part"),
            F.max("node").cast("bigint").alias("max_part"),
        )
        .orderBy(F.col("n_members").desc(), F.col("community").asc())
        .limit(20)
    )


# ------------------------------------------------- open-order backlog sweep


@register(
    "orders_open_backlog_peaks",
    oracle="""
WITH opens AS (
  SELECT CAST(o_orderdate AS DATE) AS day, CAST(1 AS BIGINT) AS delta
  FROM orders
),
closes AS (
  SELECT CAST(max(l_shipdate) AS DATE) + INTERVAL 1 DAY AS day,
    CAST(-1 AS BIGINT) AS delta
  FROM lineitem GROUP BY l_orderkey
),
deltas AS (
  SELECT day, CAST(SUM(delta) AS BIGINT) AS d
  FROM (SELECT * FROM opens UNION ALL SELECT CAST(day AS DATE), delta FROM closes)
  GROUP BY day
),
running AS (
  SELECT day, CAST(SUM(d) OVER (ORDER BY day
    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
    AS open_orders
  FROM deltas
)
SELECT day, open_orders FROM running
ORDER BY open_orders DESC, day ASC
LIMIT 15
""",
    doc="Open-order backlog peaks via a sweep-line over order "
    "lifetimes: an order is OPEN from its order date until its last "
    "line ships (+1 delta at open, -1 the day after max(l_shipdate); "
    "orders with no shipped lines never close). Interval stabbing "
    "('how many intervals cover day X') converted to the event-sweep "
    "prefix sum — the warehouse-ops 'work in progress' curve, the "
    "same sweep shape as events_max_concurrency but over DERIVED "
    "per-order intervals joined from two tables. Scale design: the "
    "per-order close is a (orderkey)-keyed max aggregate, then both "
    "delta streams collapse to DAILY deltas FIRST — calendar-"
    "bounded — and the running sum is operators/rank."
    "distributed_cumsum (boundary-literal banded, band-offset CASE "
    "join): no single-partition node at all, so the same sweep code "
    "is safe at finer granularities (hourly/minutely) where the "
    "timeline DOES grow with the corpus; exact BIGINT arithmetic "
    "throughout.",
)
def orders_open_backlog_peaks(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    opens = o.select(
        F.to_date("o_orderdate").alias("day"),
        F.lit(1).cast("bigint").alias("delta"),
    )
    closes = (
        li.groupBy("l_orderkey")
        .agg(F.max("l_shipdate").alias("last_ship"))
        .select(
            F.date_add(F.to_date("last_ship"), 1).alias("day"),
            F.lit(-1).cast("bigint").alias("delta"),
        )
    )
    deltas = (
        opens.unionByName(closes)
        .groupBy("day")
        .agg(F.sum("delta").cast("bigint").alias("d"))
    )
    from cnc_visionsearch_spark.operators.rank import distributed_cumsum

    running = distributed_cumsum(
        deltas, ["day"], sums=[(F.col("d"), "_cum")]
    ).select("day", F.col("_cum").cast("bigint").alias("open_orders"))
    return running.orderBy(
        F.col("open_orders").desc(), F.col("day").asc()
    ).limit(15)


# --------------------------------------------- seasonal decomposition

# THE detrending kernel — monthly BIGINT-cents revenue, 13-month
# centered MA trend, detrended delta — shared verbatim by the
# decomposition and the residual-anomaly query so the published
# seasonal indices and the anomaly residuals can never desync.
_SEASONAL_DETR_CTES = """
monthly AS (
  SELECT CAST(EXTRACT(year FROM o_orderdate) AS BIGINT) AS yy,
    CAST(EXTRACT(month FROM o_orderdate) AS BIGINT) AS mm,
    CAST(SUM(CAST(floor(o_totalprice * 100.0 + 0.5) AS BIGINT))
      AS BIGINT) AS rev_c
  FROM orders GROUP BY 1, 2
),
seq AS (
  SELECT yy, mm, rev_c,
    CAST(SUM(rev_c) OVER (ORDER BY yy, mm
      ROWS BETWEEN 6 PRECEDING AND 6 FOLLOWING) AS BIGINT) AS wsum,
    CAST(count(*) OVER (ORDER BY yy, mm
      ROWS BETWEEN 6 PRECEDING AND 6 FOLLOWING) AS BIGINT) AS wn
  FROM monthly
),
detr AS (
  SELECT yy, mm, rev_c, rev_c - (wsum // 13) AS dt,
    (wsum // 13) AS trend_c
  FROM seq WHERE wn = 13
)"""


def _seasonal_detrended(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(yy, mm, rev_c, dt, trend_c) — the Spark twin of
    ``_SEASONAL_DETR_CTES``; both seasonal queries reduce from this."""
    o = load_table(spark, sf_dir, "orders")
    monthly = o.groupBy(
        F.year("o_orderdate").cast("bigint").alias("yy"),
        F.month("o_orderdate").cast("bigint").alias("mm"),
    ).agg(
        F.sum(
            F.floor(F.col("o_totalprice") * F.lit(100.0) + F.lit(0.5)).cast(
                "bigint"
            )
        )
        .cast("bigint")
        .alias("rev_c")
    )
    # calendar-bounded window: dozens of rows at any corpus size
    w = Window.orderBy("yy", "mm").rowsBetween(-6, 6)
    return (
        monthly.select(
            "yy",
            "mm",
            "rev_c",
            F.sum("rev_c").over(w).cast("bigint").alias("wsum"),
            F.count(F.lit(1)).over(w).cast("bigint").alias("wn"),
        )
        .filter(F.col("wn") == 13)
        .select(
            "yy",
            "mm",
            "rev_c",
            (F.col("rev_c") - F.expr("wsum div 13")).alias("dt"),
            F.expr("wsum div 13").cast("bigint").alias("trend_c"),
        )
    )


@register(
    "orders_seasonal_decomposition",
    oracle=f"""
WITH {_SEASONAL_DETR_CTES}
SELECT CAST(mm AS BIGINT) AS month_of_year,
  CAST(count(*) AS BIGINT) AS n_obs,
  CAST(SUM(dt) AS BIGINT) // CAST(count(*) AS BIGINT) AS seasonal_c
FROM detr GROUP BY mm
""",
    doc="Classical additive seasonal decomposition of monthly order "
    "revenue (the moving-average step of STL/X-11, integer-exact): "
    "trend = 13-month CENTERED moving average (odd window, rows-"
    "framed over the present months; edge months without a full "
    "window are excluded from estimation, the textbook rule), "
    "detrended = month - trend, seasonal index per calendar month = "
    "mean detrended across years. Revenue lives in BIGINT cents "
    "(per-row floor(price*100+0.5) is one double chain; every "
    "reduction after that is exact integer sum / floor division), so "
    "all 12 indices hash-gate. Scale: the corpus collapses to the "
    "CALENDAR-bounded monthly table FIRST (partial+final aggregate), "
    "then the single-partition MA window runs over dozens of rows — "
    "the same bounded-sweep discipline as the backlog peaks query. "
    "The quarter-end spike audit (orders_quarter_end_spike) detects "
    "one seasonal shape; this measures ALL of them, the input a "
    "forecaster subtracts before fitting trend models like "
    "events_holt_linear_forecast.",
)
def orders_seasonal_decomposition(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    detr = _seasonal_detrended(spark, sf_dir)
    return detr.groupBy(F.col("mm").alias("month_of_year")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_obs"),
        F.expr("CAST(SUM(dt) AS BIGINT) div CAST(count(*) AS BIGINT)")
        .cast("bigint")
        .alias("seasonal_c"),
    )


# --------------------------------------------------- k-truss edge peeling

_TRUSS_K = 4  # edge survives while it sits in >= K-2 triangles
_TRUSS_ROUNDS = 2


def _truss_sql(rounds: int = _TRUSS_ROUNDS, k: int = _TRUSS_K) -> str:
    """k-truss peel rounds as chained CTEs: each round computes every
    surviving edge's triangle support, then drops edges below k-2 —
    all-integer, oracle-replayed like the PageRank/LPA chains."""
    parts = [
        """
lp AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
pe AS (
  SELECT a.l_partkey AS src, b.l_partkey AS dst
  FROM lp a JOIN lp b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
),
e0 AS (SELECT DISTINCT src, dst FROM pe),
ed0 AS (SELECT src, dst FROM e0 UNION ALL SELECT dst, src FROM e0)"""
    ]
    for i in range(1, rounds + 1):
        parts.append(
            f""",
sup{i} AS (
  SELECT e.src, e.dst, CAST(count(*) AS BIGINT) AS sup
  FROM e{i - 1} e
  JOIN ed{i - 1} a ON a.src = e.src
  JOIN ed{i - 1} b ON b.src = e.dst AND b.dst = a.dst
  GROUP BY e.src, e.dst
),
e{i} AS (SELECT src, dst FROM sup{i} WHERE sup >= {k - 2}),
ed{i} AS (SELECT src, dst FROM e{i} UNION ALL SELECT dst, src FROM e{i})"""
        )
    return "".join(parts)


@register(
    "part_ktruss_edges",
    oracle=f"""
WITH {_truss_sql(_TRUSS_ROUNDS, _TRUSS_K)}
SELECT e.src AS part_a, e.dst AS part_b, s.sup AS support
FROM e{_TRUSS_ROUNDS} e JOIN sup{_TRUSS_ROUNDS} s
  ON e.src = s.src AND e.dst = s.dst
ORDER BY support DESC, part_a ASC, part_b ASC
LIMIT 20
""",
    doc=f"{_TRUSS_K}-truss edge decomposition of the part co-purchase "
    f"graph ({_TRUSS_ROUNDS} peel rounds): an edge survives only "
    f"while it participates in >= {_TRUSS_K - 2} triangles among "
    "SURVIVING edges — the edge-centric densification of k-core "
    "(part_kcore_peel peels weak NODES; truss peels weak TIES, so a "
    "hub connected by one-off purchases drops out while genuinely "
    "co-bought cliques stay — the community-CORE extractor, "
    "complementing part_lpa_communities' partition with a strength "
    "filter). Support per round is the edge-centric triangle join "
    "(edge (u,v) matched to wedges u-w, v-w), exact BIGINT counts; "
    "rounds are chained CTEs in the oracle, the PageRank replay "
    "contract. Plan shape: the per-round join is vertex-keyed with "
    "fan-out bounded by the basket-capped degree (an order holds <= "
    "7 parts); at open-web graph scale production orients wedges by "
    "(degree, id) to bound the skew — the same salting doctrine as "
    "lineitem_key_skew_report. Output: top-20 surviving edges by "
    "final-round support.",
)
def part_ktruss_edges(
    spark: SparkSession,
    sf_dir: str,
    rounds: int = _TRUSS_ROUNDS,
    k: int = _TRUSS_K,
) -> DataFrame:
    from cnc_visionsearch_spark.iterative import check_rounds

    check_rounds(rounds, "part_ktruss_edges")

    li = load_table(spark, sf_dir, "lineitem")
    e = _copurchase_pair_stream(li).distinct().localCheckpoint(eager=False)
    sup = None
    for _ in range(rounds):
        ed = e.unionByName(
            e.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        )
        a = ed.select(F.col("src").alias("ea"), F.col("dst").alias("w"))
        b = ed.select(F.col("src").alias("eb"), F.col("dst").alias("w"))
        sup = (
            e.join(a, e.src == a.ea)
            .join(b, (e.dst == b.eb) & (a.w == b.w))
            .groupBy("src", "dst")
            .agg(F.count(F.lit(1)).cast("bigint").alias("sup"))
        )
        e = (
            sup.filter(F.col("sup") >= k - 2)
            .select("src", "dst")
            .localCheckpoint(eager=False)
        )
    # the final edge set IS sup filtered — no join back (it would
    # recompute the last round's triangle aggregate on both sides)
    return (
        sup.filter(F.col("sup") >= k - 2)
        .select(
            F.col("src").alias("part_a"),
            F.col("dst").alias("part_b"),
            F.col("sup").alias("support"),
        )
        .orderBy(
            F.col("support").desc(), F.col("part_a").asc(), F.col("part_b").asc()
        )
        .limit(20)
    )


# ------------------------------------------------------ CDC MERGE INTO


@register(
    "orders_cdc_merge_report",
    oracle="""
WITH base AS (
  SELECT o_orderkey,
    CAST(floor(o_totalprice * 100.0 + 0.5) AS BIGINT) AS price_c
  FROM orders
),
target AS (SELECT * FROM base WHERE o_orderkey % 13 <> 0),
src AS (
  SELECT o_orderkey,
    CASE WHEN o_orderkey % 17 = 0 THEN 'D'
         WHEN o_orderkey % 13 = 0 THEN 'I'
         ELSE 'U' END AS op,
    (price_c * 105) // 100 AS new_price_c
  FROM base
  WHERE o_orderkey % 17 = 0 OR o_orderkey % 13 = 0 OR o_orderkey % 10 = 0
),
merged AS (
  SELECT COALESCE(t.o_orderkey, s.o_orderkey) AS o_orderkey,
    t.price_c AS t_price, s.op, s.new_price_c,
    (t.o_orderkey IS NOT NULL) AS matched
  FROM target t FULL OUTER JOIN src s ON t.o_orderkey = s.o_orderkey
),
result AS (
  -- POSITIVE keep condition (3VL-safe: a target row untouched by the
  -- batch has op NULL — a negated filter would NULL out and silently
  -- drop the whole untouched snapshot):
  --   keep matched rows unless the batch deletes them;
  --   insert unmatched batch rows marked I (D/U of an absent key: no-op)
  SELECT o_orderkey,
    CASE WHEN op = 'U' AND matched THEN new_price_c
         WHEN op = 'I' AND NOT matched THEN new_price_c
         ELSE t_price END AS price_c
  FROM merged
  WHERE (matched AND (op IS NULL OR op <> 'D'))
     OR (NOT matched AND op = 'I')
)
SELECT
  (SELECT CAST(count(*) AS BIGINT) FROM target) AS n_before,
  (SELECT CAST(SUM(price_c) AS BIGINT) FROM target) AS checksum_before,
  (SELECT CAST(count(*) AS BIGINT) FROM merged
     WHERE op = 'D' AND matched) AS n_deleted,
  (SELECT CAST(count(*) AS BIGINT) FROM merged
     WHERE op = 'U' AND matched) AS n_updated,
  (SELECT CAST(count(*) AS BIGINT) FROM merged
     WHERE op = 'I' AND NOT matched) AS n_inserted,
  (SELECT CAST(count(*) AS BIGINT) FROM result) AS n_after,
  (SELECT CAST(SUM(price_c) AS BIGINT) FROM result) AS checksum_after
""",
    doc="CDC MERGE INTO semantics as one auditable query — the "
    "relational edition of the streaming upsert tier (St1's "
    "id_mapping merge, but over a warehouse snapshot): a "
    "deterministic change batch (op precedence D > I > U, derived "
    "from key residues so both engines build the identical batch) "
    "applied with the full MERGE decision table — MATCHED+D deletes, "
    "MATCHED+U updates, NOT-MATCHED+I inserts, update/delete of an "
    "absent key is a no-op. Output: action counts + exact BIGINT-"
    "cents checksums before/after (the reconciliation row a CDC "
    "pipeline logs per batch; checksum_after - checksum_before "
    "decomposes exactly into the actions). Plan: ONE key-keyed full "
    "outer join of snapshot x batch drives every action — no "
    "per-action passes; at 100 TB the batch side is "
    "AQE-broadcastable when small and the snapshot is key-clustered "
    "so only touched files rewrite (the bucket-versioned swap "
    "discipline of streaming/pipelines.upsert, relational edition — "
    "with Delta this is literally MERGE INTO).",
)
def orders_cdc_merge_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    base = o.select(
        "o_orderkey",
        F.floor(F.col("o_totalprice") * F.lit(100.0) + F.lit(0.5))
        .cast("bigint")
        .alias("price_c"),
    )
    target = base.filter(F.col("o_orderkey") % 13 != 0)
    src = base.filter(
        (F.col("o_orderkey") % 17 == 0)
        | (F.col("o_orderkey") % 13 == 0)
        | (F.col("o_orderkey") % 10 == 0)
    ).select(
        "o_orderkey",
        F.when(F.col("o_orderkey") % 17 == 0, F.lit("D"))
        .when(F.col("o_orderkey") % 13 == 0, F.lit("I"))
        .otherwise(F.lit("U"))
        .alias("op"),
        F.expr("(price_c * 105) div 100").cast("bigint").alias("new_price_c"),
    )
    t = target.alias("t")
    s = src.alias("s")
    merged = t.join(
        s, F.col("t.o_orderkey") == F.col("s.o_orderkey"), "full_outer"
    ).select(
        F.coalesce(F.col("t.o_orderkey"), F.col("s.o_orderkey")).alias(
            "o_orderkey"
        ),
        F.col("t.price_c").alias("t_price"),
        F.col("s.op").alias("op"),
        F.col("s.new_price_c").alias("new_price_c"),
        F.col("t.o_orderkey").isNotNull().alias("matched"),
    )
    merged = merged.localCheckpoint(eager=False)
    # positive 3VL-safe keep condition — see the oracle's comment
    result = merged.filter(
        (
            F.col("matched")
            & (F.col("op").isNull() | (F.col("op") != "D"))
        )
        | (~F.col("matched") & (F.col("op") == "I"))
    ).select(
        "o_orderkey",
        F.when((F.col("op") == "U") & F.col("matched"), F.col("new_price_c"))
        .when((F.col("op") == "I") & ~F.col("matched"), F.col("new_price_c"))
        .otherwise(F.col("t_price"))
        .alias("price_c"),
    )
    before = target.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_before"),
        F.sum("price_c").cast("bigint").alias("checksum_before"),
    )
    actions = merged.agg(
        F.sum(
            F.when((F.col("op") == "D") & F.col("matched"), 1).otherwise(0)
        )
        .cast("bigint")
        .alias("n_deleted"),
        F.sum(
            F.when((F.col("op") == "U") & F.col("matched"), 1).otherwise(0)
        )
        .cast("bigint")
        .alias("n_updated"),
        F.sum(
            F.when((F.col("op") == "I") & ~F.col("matched"), 1).otherwise(0)
        )
        .cast("bigint")
        .alias("n_inserted"),
    )
    after = result.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_after"),
        F.sum("price_c").cast("bigint").alias("checksum_after"),
    )
    return (
        before.crossJoin(F.broadcast(actions))
        .crossJoin(F.broadcast(after))
        .select(
            "n_before",
            "checksum_before",
            "n_deleted",
            "n_updated",
            "n_inserted",
            "n_after",
            "checksum_after",
        )
    )


# ------------------------------------------- degree power-law diagnostic


@register(
    "part_degree_powerlaw",
    oracle="""
WITH lp AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
e AS (
  SELECT a.l_partkey AS src, b.l_partkey AS dst
  FROM lp a JOIN lp b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey <> b.l_partkey
),
edges AS (SELECT DISTINCT src, dst FROM e),
deg AS (SELECT src, CAST(count(*) AS BIGINT) AS d FROM edges GROUP BY src),
hist AS (SELECT d, CAST(count(*) AS BIGINT) AS n_nodes FROM deg GROUP BY d),
head AS (
  SELECT d, n_nodes, row_number() OVER (ORDER BY d ASC) AS hr
  FROM hist WHERE d >= 2
),
pts AS (
  SELECT CAST(floor(ln(d::DOUBLE) * 1000000.0 + 0.5) AS BIGINT) AS xq,
    CAST(floor(ln(n_nodes::DOUBLE) * 1000000.0 + 0.5) AS BIGINT) AS yq
  FROM head WHERE hr <= 100
),
sums AS (
  SELECT CAST(count(*) AS BIGINT) AS n,
    CAST(sum(xq) AS BIGINT) AS sx, CAST(sum(yq) AS BIGINT) AS sy,
    CAST(sum(xq * yq) AS BIGINT) AS sxy,
    CAST(sum(xq * xq) AS BIGINT) AS sxx
  FROM pts
)
SELECT
  (SELECT CAST(count(*) AS BIGINT) FROM deg) AS n_nodes,
  (SELECT CAST(count(*) AS BIGINT) // 2 FROM edges) AS n_edges,
  (SELECT CAST(max(d) AS BIGINT) FROM deg) AS max_degree,
  n AS n_histogram_pts,
  (n * sxy - sx * sy)::DOUBLE / (n * sxx - sx * sx)::DOUBLE
    AS powerlaw_slope
FROM sums
""",
    doc="Degree-distribution power-law fit for the co-purchase graph: "
    "least-squares slope of ln(#nodes with degree d) vs ln(d) over "
    "the HEAD of the degree histogram (the 100 smallest degrees >= 2 "
    "— degree-1 leaves sit off any power-law line, and the cap "
    "bounds the BIGINT regression sums exactly like doc_zipf_slope's "
    "top-100 ranks). Scale-free graphs (the open-web default) show "
    "slope ~ -2..-3; a basket-capped retail graph is much flatter-"
    "bounded — THE diagnostic that says whether the skew doctrines "
    "(degree-orientation for k-truss, salting for joins) are needed "
    "on this data or not, read BEFORE running the iterative tier. "
    "Same determinism contract as doc_zipf_slope: ln coordinates are "
    "1e-6-quantized BEFORE the regression sums, the regression is "
    "exact integer arithmetic, one final double division. Plan: "
    "edges -> degree aggregate -> histogram aggregate (rows bounded "
    "by max degree) -> 1-row sums.",
)
def part_degree_powerlaw(spark: SparkSession, sf_dir: str) -> DataFrame:
    edges = _edges_table(spark, sf_dir)
    deg = edges.groupBy("src").agg(F.count(F.lit(1)).cast("bigint").alias("d"))
    deg = deg.localCheckpoint(eager=False)
    hist = deg.groupBy("d").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_nodes")
    )
    # fit over the 100 SMALLEST degrees >= 2 (the head of the power
    # law) — the same sum-bounding cap as doc_zipf_slope's top-100
    # ranks: an unbounded histogram would overflow the BIGINT
    # regression products (sx*sx) on open-web-scale graphs
    head = (
        hist.filter(F.col("d") >= 2)
        .withColumn(
            "hr", F.row_number().over(Window.orderBy(F.col("d").asc()))
        )
        .filter(F.col("hr") <= 100)
    )
    pts = head.select(
        F.floor(F.log(F.col("d").cast("double")) * 1000000.0 + 0.5)
        .cast("bigint")
        .alias("xq"),
        F.floor(F.log(F.col("n_nodes").cast("double")) * 1000000.0 + 0.5)
        .cast("bigint")
        .alias("yq"),
    )
    sums = pts.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("xq").cast("bigint").alias("sx"),
        F.sum("yq").cast("bigint").alias("sy"),
        F.sum(F.col("xq") * F.col("yq")).cast("bigint").alias("sxy"),
        F.sum(F.col("xq") * F.col("xq")).cast("bigint").alias("sxx"),
    )
    meta = deg.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_nodes"),
        F.max("d").cast("bigint").alias("max_degree"),
    )
    ne = edges.agg(
        (F.count(F.lit(1)) / 2).cast("bigint").alias("n_edges")
    )
    return (
        meta.crossJoin(F.broadcast(ne))
        .crossJoin(F.broadcast(sums))
        .select(
            "n_nodes",
            "n_edges",
            "max_degree",
            F.col("n").alias("n_histogram_pts"),
            (
                (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")).cast(
                    "double"
                )
                / (
                    F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
                ).cast("double")
            ).alias("powerlaw_slope"),
        )
    )


# --------------------------------------- seasonally-adjusted anomalies


@register(
    "orders_seasonal_residual_anomalies",
    oracle=f"""
WITH {_SEASONAL_DETR_CTES},
seasonal AS (
  SELECT mm, CAST(SUM(dt) AS BIGINT) // CAST(count(*) AS BIGINT)
    AS seasonal_c
  FROM detr GROUP BY mm
)
SELECT d.yy, d.mm, d.rev_c, d.trend_c, s.seasonal_c,
  (d.dt - s.seasonal_c) AS resid_c
FROM detr d JOIN seasonal s ON d.mm = s.mm
ORDER BY abs(d.dt - s.seasonal_c) DESC, d.yy ASC, d.mm ASC
LIMIT 10
""",
    doc="Seasonally-ADJUSTED revenue anomalies — the composition the "
    "decomposition exists for: residual = month - trend - seasonal "
    "index (orders_seasonal_decomposition's exact integer chain, "
    "reused verbatim), top-10 months by |residual|. A December spike "
    "is NOT an anomaly if every December spikes; this query only "
    "flags months that deviate from their OWN calendar expectation — "
    "what events_seasonal_anomalies does for hourly event load, here "
    "for the revenue ledger with exact BIGINT-cents arithmetic end "
    "to end. Plan: the calendar-bounded monthly table drives "
    "everything (the decomposition's sweep discipline); the seasonal "
    "join is 12 broadcast rows.",
)
def orders_seasonal_residual_anomalies(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    detr = _seasonal_detrended(spark, sf_dir).localCheckpoint(eager=False)
    seasonal = detr.groupBy("mm").agg(
        F.expr("CAST(SUM(dt) AS BIGINT) div CAST(count(*) AS BIGINT)")
        .cast("bigint")
        .alias("seasonal_c")
    )
    return (
        detr.join(F.broadcast(seasonal), "mm")
        .select(
            "yy",
            "mm",
            "rev_c",
            "trend_c",
            "seasonal_c",
            (F.col("dt") - F.col("seasonal_c")).alias("resid_c"),
        )
        .orderBy(
            F.abs(F.col("resid_c")).desc(), F.col("yy").asc(), F.col("mm").asc()
        )
        .limit(10)
    )
