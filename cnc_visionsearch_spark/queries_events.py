"""Event-time analytics over the `events` fixture (SURVEY §2.8, W3,
F13) — the batch expressions of the streaming semantics; the same
logical plans run under Structured Streaming (see streaming/pipelines.py)
with watermarks.

Scale notes: all grouped aggs here key on (window, type) or user_id —
high-cardinality, well-spread keys; AQE coalesces the post-shuffle
partitions. Window functions partition by user_id (bounded state per
key), the same partitioning a streaming stateful operator would use.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from cnc_visionsearch_spark.registry import register
from cnc_visionsearch_spark.session import local_frame
from cnc_visionsearch_spark.sources.catalog import load_table


@register(
    "events_tumbling_hourly",
    oracle="""
WITH ev AS (SELECT event_id, ts::TIMESTAMP AS ts, user_id, event_type, value, props FROM events)
SELECT time_bucket(INTERVAL '1 hour', ts) AS ts_hour, event_type,
  CAST(count(*) AS BIGINT) AS n_events,
  CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value,
  CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
FROM ev
GROUP BY 1, 2
""",
    doc="Tumbling 1h event-time window x type: counts, exact sums, distinct "
    "users. Streaming equivalent: withWatermark + window(ts, '1 hour').",
)
def events_tumbling_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,6)")).cast("double").alias("sum_value"),
            F.countDistinct("user_id").alias("n_users"),
        )
        .select(F.col("w.start").alias("ts_hour"), "event_type", "n_events", "sum_value", "n_users")
    )


@register(
    "events_sliding_windows",
    oracle="""
WITH ev AS (SELECT event_id, ts::TIMESTAMP AS ts, user_id, event_type, value, props FROM events),
exploded AS (
  SELECT time_bucket(INTERVAL '30 minutes', ts) - (o.o * INTERVAL '30 minutes') AS win_start,
         value
  FROM ev, (SELECT unnest([0, 1]) AS o) o
)
SELECT win_start,
  CAST(count(*) AS BIGINT) AS n_events,
  CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
FROM exploded
GROUP BY win_start
""",
    doc="Sliding window (1h length, 30m slide): each event lands in 2 "
    "windows. Spark's window() explodes then aggregates; oracle replicates "
    "via the two-offset union.",
)
def events_sliding_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(F.window("ts", "1 hour", "30 minutes").alias("w"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,6)")).cast("double").alias("sum_value"),
        )
        .select(F.col("w.start").alias("win_start"), "n_events", "sum_value")
    )


@register(
    "events_sessionize",
    oracle="""
WITH ev AS (SELECT event_id, ts::TIMESTAMP AS ts, user_id, event_type, value, props FROM events),
seq AS (
  SELECT user_id, ts, value,
    lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts
  FROM ev
),
flagged AS (
  SELECT user_id, ts, value,
    CASE WHEN prev_ts IS NULL OR ts > prev_ts + INTERVAL '30 minutes' THEN 1 ELSE 0 END AS new_session
  FROM seq
),
sessions AS (
  SELECT user_id, ts, value,
    SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts
                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
  FROM flagged
)
SELECT user_id, CAST(session_id AS BIGINT) AS session_id,
  min(ts) AS session_start, max(ts) AS session_end,
  CAST(count(*) AS BIGINT) AS n_events,
  CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
FROM sessions
GROUP BY user_id, session_id
""",
    doc="Gap-based sessionization (30 min) — the batch expression of "
    "session_window(). lag -> cumulative-sum-of-flags -> group. Bounded "
    "per-user state, shuffle only on user_id.",
)
def events_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    w_seq = Window.partitionBy("user_id").orderBy("ts", "event_id")
    w_cum = Window.partitionBy("user_id").orderBy("ts").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    flagged = ev.withColumn("prev_ts", F.lag("ts").over(w_seq)).withColumn(
        "new_session",
        F.when(
            F.col("prev_ts").isNull()
            | (F.col("ts") > F.col("prev_ts") + F.expr("INTERVAL 30 MINUTES")),
            1,
        ).otherwise(0),
    )
    sessions = flagged.withColumn("session_id", F.sum("new_session").over(w_cum))
    return sessions.groupBy("user_id", "session_id").agg(
        F.min("ts").alias("session_start"),
        F.max("ts").alias("session_end"),
        F.count(F.lit(1)).alias("n_events"),
        F.sum(F.col("value").cast("decimal(18,6)")).cast("double").alias("sum_value"),
    )


@register(
    "events_rolling_user_stats",
    oracle="""
WITH ev AS (SELECT event_id, ts::TIMESTAMP AS ts, user_id, event_type, value, props FROM events),
seq AS (
  SELECT user_id, event_id, ts, event_type, value,
    row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn,
    CAST(SUM(CAST(value AS DECIMAL(18,6))) OVER (
      PARTITION BY user_id ORDER BY ts, event_id
      ROWS BETWEEN 3 PRECEDING AND CURRENT ROW) AS DOUBLE) AS rolling_value,
    CAST(SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) OVER (
      PARTITION BY user_id ORDER BY ts, event_id
      ROWS BETWEEN 3 PRECEDING AND CURRENT ROW) AS BIGINT) AS rolling_errors
  FROM ev
)
SELECT user_id, event_id, CAST(rn AS INT) AS rn, rolling_value, rolling_errors
FROM seq WHERE user_id < 50
""",
    doc="W3 analytic windows: rolling 4-row sums per user (decimal-exact), "
    "error counts. ROWS frame = bounded state, streaming-friendly.",
)
def events_rolling_user_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id").rowsBetween(-3, 0)
    w_rn = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return (
        ev.withColumn("rn", F.row_number().over(w_rn).cast("int"))
        .withColumn(
            "rolling_value",
            F.sum(F.col("value").cast("decimal(18,6)")).over(w).cast("double"),
        )
        .withColumn(
            "rolling_errors",
            F.sum(F.when(F.col("event_type") == "error", 1).otherwise(0))
            .over(w)
            .cast("bigint"),
        )
        .filter(F.col("user_id") < 50)
        .select("user_id", "event_id", "rn", "rolling_value", "rolling_errors")
    )


@register(
    "events_lag_lead_delta",
    oracle="""
WITH ev AS (SELECT event_id, ts::TIMESTAMP AS ts, user_id, event_type, value, props FROM events),
seq AS (
  SELECT user_id, event_id, ts, value,
    lag(value) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_value,
    lead(event_id) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS next_event_id
  FROM ev
)
SELECT user_id, event_id, value - prev_value AS value_delta, next_event_id
FROM seq WHERE user_id < 20 AND prev_value IS NOT NULL
""",
    doc="W3: lag/lead navigation — per-row double delta (deterministic, no "
    "cross-row summation).",
)
def events_lag_lead_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return (
        ev.withColumn("prev_value", F.lag("value").over(w))
        .withColumn("next_event_id", F.lead("event_id").over(w))
        .filter((F.col("user_id") < 20) & F.col("prev_value").isNotNull())
        .select(
            "user_id",
            "event_id",
            (F.col("value") - F.col("prev_value")).alias("value_delta"),
            "next_event_id",
        )
    )


@register(
    "events_json_props",
    oracle="""
WITH ev AS (SELECT event_id, ts::TIMESTAMP AS ts, user_id, event_type, value, props FROM events)
SELECT event_type,
  CAST(SUM(CAST(json_extract_string(props, '$.k') AS INT)) AS BIGINT) AS sum_k,
  CAST(count(*) AS BIGINT) AS n,
  CAST(min(CAST(json_extract_string(props, '$.k') AS INT)) AS INT) AS min_k,
  CAST(max(CAST(json_extract_string(props, '$.k') AS INT)) AS INT) AS max_k
FROM ev
GROUP BY event_type
""",
    doc="F13: semi-structured JSON prop extraction (get_json_object) + "
    "integer aggregate — exact, order-independent.",
)
def events_json_props(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("int")
    return ev.groupBy("event_type").agg(
        F.sum(k).alias("sum_k"),
        F.count(F.lit(1)).alias("n"),
        F.min(k).alias("min_k"),
        F.max(k).alias("max_k"),
    )


@register(
    "events_daily_pivot",
    oracle="""
WITH ev AS (SELECT event_id, ts::TIMESTAMP AS ts, user_id, event_type, value, props FROM events)
SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
  CAST(SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS click,
  CAST(SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT) AS error,
  CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS purchase,
  CAST(SUM(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END) AS BIGINT) AS signup,
  CAST(SUM(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS BIGINT) AS view
FROM ev
GROUP BY 1
""",
    doc="Pivot: daily event-type matrix. Spark pivot with explicit values "
    "(single-pass conditional aggregation, one shuffle).",
)
def events_daily_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    types = ["click", "error", "purchase", "signup", "view"]
    out = (
        ev.groupBy(F.date_trunc("day", "ts").alias("day"))
        .pivot("event_type", types)
        .agg(F.count(F.lit(1)))
    )
    # pivot yields nullable counts; normalize nulls to 0 like the oracle
    for t in types:
        out = out.withColumn(t, F.coalesce(F.col(t), F.lit(0)).cast("bigint"))
    return out


@register(
    "events_asof_last_purchase",
    oracle="""
WITH ev AS (SELECT event_id, ts::TIMESTAMP AS ts, user_id, event_type, value FROM events),
err AS (SELECT * FROM ev WHERE event_type = 'error'),
pur AS (SELECT * FROM ev WHERE event_type = 'purchase'),
pairs AS (
  SELECT e.event_id, e.user_id, e.ts,
         p.event_id AS purchase_id, p.value AS purchase_value,
         row_number() OVER (
           PARTITION BY e.event_id
           ORDER BY p.ts DESC, p.event_id DESC
         ) AS rn
  FROM err e LEFT JOIN pur p
    ON e.user_id = p.user_id AND p.ts <= e.ts
)
SELECT event_id, user_id, ts,
  CAST(purchase_id AS BIGINT) AS purchase_id_asof,
  purchase_value AS purchase_value_asof
FROM pairs WHERE rn = 1 OR rn IS NULL
""",
    doc="As-of join (SURVEY §2.3: the join type Spark lacks natively): "
    "each error event enriched with the same user's most recent purchase "
    "at-or-before it. Implemented as union + one hash shuffle + running "
    "last() — O(|L|+|R|) per key, never the O(|L|*|R|) range join the "
    "naive formulation (and this DuckDB oracle) performs.",
)
def events_asof_last_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cnc_visionsearch_spark.operators.asof import asof_join

    ev = load_table(spark, sf_dir, "events")
    err = ev.filter(F.col("event_type") == "error").select(
        "event_id", "user_id", "ts"
    )
    pur = ev.filter(F.col("event_type") == "purchase").select(
        F.col("user_id"),
        F.col("ts").alias("pts"),
        F.col("event_id").alias("purchase_id"),
        F.col("value").alias("purchase_value"),
    )
    return asof_join(
        err,
        pur,
        on="user_id",
        left_time="ts",
        right_time="pts",
        right_payload=["purchase_id", "purchase_value"],
        tiebreak="purchase_id",
    )


@register(
    "events_skewsafe_distinct_users",
    oracle="""
WITH ev AS (SELECT event_type, user_id FROM events)
SELECT event_type, CAST(count(DISTINCT user_id) AS BIGINT) AS n_distinct
FROM ev GROUP BY event_type
""",
    doc="Skew-safe exact distinct count (operators/skew.py): two-phase "
    "salted aggregation — 5 event types would otherwise funnel 20k rows "
    "each through single reducers; salting by hash(user) splits every "
    "type into 16 cells whose partial distincts add exactly.",
)
def events_skewsafe_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cnc_visionsearch_spark.operators.skew import salted_distinct_count

    ev = load_table(spark, sf_dir, "events")
    return salted_distinct_count(ev, "event_type", "user_id", n_salts=16)


@register(
    "events_range_purchases_after_error",
    oracle="""
WITH ev AS (SELECT event_id, ts::TIMESTAMP AS ts, user_id, event_type, value FROM events),
err AS (SELECT event_id, ts, user_id FROM ev WHERE event_type = 'error'),
pur AS (SELECT event_id AS pid, ts AS pts, user_id, value FROM ev WHERE event_type = 'purchase')
SELECT e.event_id, e.user_id,
  CAST(count(*) AS BIGINT) AS n_purchases,
  CAST(SUM(CAST(p.value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
FROM err e JOIN pur p
  ON e.user_id = p.user_id
 AND floor(epoch(p.pts))::BIGINT >= floor(epoch(e.ts))::BIGINT
 AND floor(epoch(p.pts))::BIGINT <= floor(epoch(e.ts))::BIGINT + 3600
GROUP BY e.event_id, e.user_id
""",
    doc="Range/interval join (operators/skew.py): purchases within 1h "
    "after each error, same user — time-bucket equi-join (fan-out <= 2, "
    "one hash shuffle) + exact residual filter, never the per-key "
    "nested-loop the naive range predicate plans to (this oracle runs "
    "the naive form). Second-granularity bounds on both engines.",
)
def events_range_purchases_after_error(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cnc_visionsearch_spark.operators.skew import range_join_bucketed

    ev = load_table(spark, sf_dir, "events")
    err = ev.filter(F.col("event_type") == "error").select(
        "event_id", "ts", "user_id"
    )
    pur = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("pid"),
        F.col("ts").alias("pts"),
        F.col("user_id"),
        F.col("value"),
    )
    pairs = range_join_bucketed(
        err, pur, key="user_id", left_time="ts", right_time="pts",
        lo_seconds=0, hi_seconds=3600,
    )
    return pairs.groupBy("event_id", "user_id").agg(
        F.count(F.lit(1)).alias("n_purchases"),
        F.sum(F.col("value").cast("decimal(18,6)")).cast("double").alias("sum_value"),
    )


@register(
    "events_funnel_conversion",
    oracle="""
WITH ev AS (SELECT ts::TIMESTAMP AS ts, user_id, event_type FROM events),
v AS (SELECT user_id, min(ts) AS t0 FROM ev WHERE event_type = 'view' GROUP BY user_id),
c AS (SELECT e.user_id, min(e.ts) AS t1 FROM ev e JOIN v ON v.user_id = e.user_id
        AND e.ts > v.t0 AND e.ts <= v.t0 + INTERVAL '12 hours'
      WHERE e.event_type = 'click' GROUP BY e.user_id),
p AS (SELECT e.user_id, min(e.ts) AS t2 FROM ev e JOIN c ON c.user_id = e.user_id
        AND e.ts > c.t1 AND e.ts <= c.t1 + INTERVAL '48 hours'
      WHERE e.event_type = 'purchase' GROUP BY e.user_id)
SELECT 'view' AS stage, CAST(1 AS INT) AS stage_idx,
       CAST((SELECT count(*) FROM v) AS BIGINT) AS n_users
UNION ALL SELECT 'click', CAST(2 AS INT), CAST((SELECT count(*) FROM c) AS BIGINT)
UNION ALL SELECT 'purchase', CAST(3 AS INT), CAST((SELECT count(*) FROM p) AS BIGINT)
""",
    doc="Ordered funnel (view -> click within 12h -> purchase within 48h "
    "of the click): per-user sequential conversion, the canonical "
    "product-analytics shape. Spark side is a single shuffle: groupBy "
    "user_id -> sort_array(collect_list(ts, type)) -> F.aggregate walks "
    "the sorted events with a (stage, stage_ts) state — the whole walk "
    "is a JVM higher-order expression, no Python. The oracle's "
    "equivalent min-ts CTE chain is 3 correlated joins; the walk "
    "computes the same first-qualifying-event-per-stage because events "
    "are scanned in ascending ts order. Scale: state is one struct per "
    "user; per-user event lists are bounded by the funnel horizon in "
    "practice — for unbounded histories, pre-filter to the funnel's "
    "event types and time range (done here) and cap with a per-user "
    "window if a skewed user appears. Streaming equivalent: "
    "applyInPandasWithState keyed on user_id with the same state tuple.",
)
def events_funnel_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").filter(
        F.col("event_type").isin("view", "click", "purchase")
    )
    per_user = ev.groupBy("user_id").agg(
        F.sort_array(
            F.collect_list(F.struct(F.col("ts"), F.col("event_type")))
        ).alias("evs")
    )
    init = F.struct(
        F.lit(0).alias("stage"), F.lit(None).cast("timestamp").alias("t")
    )

    def step(st, e):
        adv = lambda n: F.struct(F.lit(n).alias("stage"), e["ts"].alias("t"))
        return (
            F.when((st["stage"] == 0) & (e["event_type"] == "view"), adv(1))
            .when(
                (st["stage"] == 1)
                & (e["event_type"] == "click")
                & (e["ts"] > st["t"])
                & (e["ts"] <= st["t"] + F.expr("INTERVAL 12 HOURS")),
                adv(2),
            )
            .when(
                (st["stage"] == 2)
                & (e["event_type"] == "purchase")
                & (e["ts"] > st["t"])
                & (e["ts"] <= st["t"] + F.expr("INTERVAL 48 HOURS")),
                adv(3),
            )
            .otherwise(st)
        )

    stages = per_user.select(
        F.aggregate(F.col("evs"), init, step)["stage"].alias("stage")
    )
    totals = stages.agg(
        F.sum(F.when(F.col("stage") >= 1, 1).otherwise(0)).alias("n1"),
        F.sum(F.when(F.col("stage") >= 2, 1).otherwise(0)).alias("n2"),
        F.sum(F.when(F.col("stage") >= 3, 1).otherwise(0)).alias("n3"),
    )
    return totals.selectExpr(
        "stack(3, 'view', CAST(1 AS INT), CAST(n1 AS BIGINT),"
        " 'click', CAST(2 AS INT), CAST(n2 AS BIGINT),"
        " 'purchase', CAST(3 AS INT), CAST(n3 AS BIGINT))"
        " AS (stage, stage_idx, n_users)"
    )


@register(
    "events_cohort_retention",
    oracle="""
WITH ev AS (SELECT ts::TIMESTAMP AS ts, user_id, event_type FROM events),
cohort AS (SELECT user_id, CAST(date_trunc('day', min(ts)) AS TIMESTAMP) AS cohort_day
           FROM ev WHERE event_type = 'signup' GROUP BY user_id),
activity AS (
  SELECT DISTINCT c.cohort_day,
    CAST(date_diff('day', c.cohort_day,
                   CAST(date_trunc('day', e.ts) AS TIMESTAMP)) AS INT) AS day_n,
    e.user_id
  FROM ev e JOIN cohort c ON c.user_id = e.user_id
  WHERE e.ts >= c.cohort_day
)
SELECT cohort_day, day_n, CAST(count(*) AS BIGINT) AS n_active
FROM activity GROUP BY cohort_day, day_n
""",
    doc="Cohort retention: users grouped by first-signup day, counted "
    "as active on each later day they produced any event — the "
    "retention-triangle shape behind every DAU/cohort dashboard. Two "
    "shuffles, both on user_id (the cohort agg and the activity join — "
    "AQE reuses the exchange), then the distinct + final agg key on "
    "(cohort_day, day_n, user): bounded by users x horizon days. The "
    "cohort side is user-scale (grows with the corpus) so it is NOT "
    "hint-broadcast.",
)
def events_cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    cohort = (
        ev.filter(F.col("event_type") == "signup")
        .groupBy("user_id")
        .agg(F.date_trunc("day", F.min("ts")).alias("cohort_day"))
    )
    return (
        ev.join(cohort, "user_id")
        .filter(F.col("ts") >= F.col("cohort_day"))
        .select(
            "cohort_day",
            F.datediff(F.date_trunc("day", F.col("ts")), F.col("cohort_day"))
            .cast("int")
            .alias("day_n"),
            "user_id",
        )
        .distinct()
        .groupBy("cohort_day", "day_n")
        .agg(F.count(F.lit(1)).alias("n_active"))
    )


@register(
    "events_time_range_rolling",
    oracle="""
WITH ev AS (SELECT event_id, ts::TIMESTAMP AS ts, user_id, value FROM events)
SELECT event_id, user_id,
  CAST(count(*) OVER w AS BIGINT) AS n_1h,
  CAST(SUM(CAST(value AS DECIMAL(18,6))) OVER w AS DOUBLE) AS sum_1h
FROM ev
WHERE user_id < 10
WINDOW w AS (
  PARTITION BY user_id ORDER BY ts
  RANGE BETWEEN INTERVAL '1 hour' PRECEDING AND CURRENT ROW
)
""",
    doc="W3 time-RANGE frame (vs the rowsBetween rolling stats): per "
    "event, activity in the trailing 1-hour window — frame membership "
    "is defined by event-time distance, not row count, so ties and "
    "irregular event spacing are handled exactly. The sum is an exact "
    "DECIMAL window aggregate: rows sharing a timestamp have "
    "nondeterministic intra-frame order, which would scramble a double "
    "sum but not a decimal one. Same user_id partitioning as every "
    "other per-user window (bounded state per key).",
)
def events_time_range_rolling(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").filter(F.col("user_id") < 10)
    frame = (
        "PARTITION BY user_id ORDER BY ts "
        "RANGE BETWEEN INTERVAL 1 HOUR PRECEDING AND CURRENT ROW"
    )
    return ev.select(
        "event_id",
        "user_id",
        F.expr(f"CAST(count(*) OVER ({frame}) AS BIGINT)").alias("n_1h"),
        F.expr(
            f"CAST(SUM(CAST(value AS DECIMAL(18,6))) OVER ({frame}) AS DOUBLE)"
        ).alias("sum_1h"),
    )


@register(
    "events_gapfill_locf",
    oracle="""
WITH ev AS (SELECT event_id, ts::TIMESTAMP AS ts, user_id, event_type, value FROM events),
p AS (
  SELECT user_id, time_bucket(INTERVAL '1 day', ts) AS day,
    max(struct_pack(ts := ts, eid := event_id, v := value)).v AS day_value
  FROM ev WHERE event_type = 'purchase' GROUP BY 1, 2
),
bounds AS (SELECT user_id, min(day) AS d0, max(day) AS d1 FROM p GROUP BY 1),
spine AS (
  SELECT user_id, unnest(generate_series(d0, d1, INTERVAL 1 DAY)) AS day
  FROM bounds
),
joined AS (
  SELECT s.user_id, s.day, p.day_value, (p.day_value IS NULL) AS is_gap
  FROM spine s LEFT JOIN p USING (user_id, day)
)
SELECT user_id, day, is_gap,
  last_value(day_value IGNORE NULLS) OVER (
    PARTITION BY user_id ORDER BY day
    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS value
FROM joined
""",
    doc="Time-series regularization: per-user daily purchase series with "
    "gap-filling by last-observation-carried-forward — the resample "
    "step before any per-entity ML featurization. Plan: daily "
    "downsample agg (last event per day via lexicographic struct max) "
    "-> per-user date spine via sequence()+explode (no driver loop, no "
    "cross join against a calendar table) -> left join + "
    "last(ignorenulls) window. Everything keys on user_id: one "
    "shuffle, bounded per-user state, linear at 100 TB.",
)
def events_gapfill_locf(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    p = (
        ev.filter(F.col("event_type") == "purchase")
        .groupBy("user_id", F.date_trunc("day", "ts").alias("day"))
        .agg(
            F.max(
                F.struct(F.col("ts"), F.col("event_id"), F.col("value").alias("v"))
            )["v"].alias("day_value")
        )
    )
    spine = (
        p.groupBy("user_id")
        .agg(F.min("day").alias("d0"), F.max("day").alias("d1"))
        .select(
            "user_id",
            F.explode(
                F.sequence("d0", "d1", F.expr("INTERVAL 1 DAY"))
            ).alias("day"),
        )
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("day")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        spine.join(p, ["user_id", "day"], "left")
        .select(
            "user_id",
            "day",
            F.col("day_value").isNull().alias("is_gap"),
            F.last("day_value", ignorenulls=True).over(w).alias("value"),
        )
    )


@register(
    "events_value_anomalies",
    oracle="""
WITH ev AS (SELECT event_id, ts::TIMESTAMP AS ts, user_id, event_type, value FROM events),
stats AS (
  SELECT event_id, user_id, value,
    CAST(count(value) OVER w AS BIGINT) AS n,
    CAST(SUM(CAST(value AS DECIMAL(18,6))) OVER w AS DOUBLE) AS s,
    CAST(SUM(CAST(value AS DECIMAL(18,6)) * CAST(value AS DECIMAL(18,6))) OVER w AS DOUBLE) AS ss
  FROM ev
  WINDOW w AS (
    PARTITION BY user_id ORDER BY ts, event_id
    ROWS BETWEEN 20 PRECEDING AND 1 PRECEDING
  )
)
SELECT event_id, user_id, value,
  (value - s / n) / sqrt(ss / n - (s / n) * (s / n)) AS z
FROM stats
WHERE n >= 10
  AND ss / n - (s / n) * (s / n) > 0
  AND abs((value - s / n) / sqrt(ss / n - (s / n) * (s / n))) > 3.0
""",
    doc="Rolling z-score anomaly detection per user: each event scored "
    "against its own trailing 20-event mean/std (current row excluded "
    "— no leakage), flag |z| > 3. The streaming-monitor shape run as "
    "batch: one shuffle on user_id, bounded per-key window state, "
    "moments from DECIMAL-exact window sums (the trailing frame is "
    "fully ordered by (ts, event_id), so both engines fold the same "
    "sequence) -> the z arithmetic is a deterministic double chain.",
)
def events_value_anomalies(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    frame = (
        "PARTITION BY user_id ORDER BY ts, event_id "
        "ROWS BETWEEN 20 PRECEDING AND 1 PRECEDING"
    )
    n = F.expr(f"CAST(count(value) OVER ({frame}) AS BIGINT)")
    s = F.expr(
        f"CAST(SUM(CAST(value AS DECIMAL(18,6))) OVER ({frame}) AS DOUBLE)"
    )
    ss = F.expr(
        f"CAST(SUM(CAST(value AS DECIMAL(18,6)) * CAST(value AS DECIMAL(18,6))) "
        f"OVER ({frame}) AS DOUBLE)"
    )
    stats = ev.select(
        "event_id", "user_id", "value", n.alias("n"), s.alias("s"), ss.alias("ss")
    )
    mean = F.col("s") / F.col("n")
    var = F.col("ss") / F.col("n") - mean * mean
    z = (F.col("value") - mean) / F.sqrt(var)
    return (
        stats.filter((F.col("n") >= 10) & (var > 0) & (F.abs(z) > 3.0))
        .select("event_id", "user_id", "value", z.alias("z"))
    )


# --------------------------------------------------- cardinality sketch


@register(
    "events_kmv_distinct",
    oracle="""
WITH h AS (
  SELECT DISTINCT
    ('0x' || substr(md5(user_id::VARCHAR), 1, 8))::BIGINT % 1073741824 AS hv
  FROM events
),
kmin AS (SELECT hv FROM h ORDER BY hv ASC LIMIT 64),
kth AS (
  SELECT CAST(max(hv) AS BIGINT) AS kth_hash,
    CAST(count(*) AS BIGINT) AS k
  FROM kmin
),
ex AS (SELECT CAST(count(DISTINCT user_id) AS BIGINT) AS n_exact FROM events)
SELECT ex.n_exact, kth.k, kth.kth_hash,
  CAST(kth.k - 1 AS DOUBLE)
    / (CAST(kth.kth_hash AS DOUBLE) / 1073741824.0) AS kmv_estimate
FROM ex, kth
""",
    doc="KMV (k-minimum-values) distinct-count sketch (Bar-Yossef et "
    "al. RANDOM'02): estimate |distinct users| from the k=64 smallest "
    "deterministic md5 hash values — estimate = (k-1)/u_k with u_k the "
    "k-th smallest unit-interval hash. The streaming/mergeable "
    "cardinality primitive an event pipeline keeps per partition and "
    "unions by re-min-ing (same family as HyperLogLog, but exactly "
    "reproducible in ANSI SQL — no engine-specific register layout, so "
    "the sketch itself is hash-gated against the oracle, alongside the "
    "exact count for the measured error). At 100 TB: the shuffle "
    "carries 8-byte DISTINCT hashes (Spark's TakeOrdered computes "
    "per-partition k-minima then merges k·P rows on the driver side "
    "of the exchange — never raw user ids).",
)
def events_kmv_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cnc_visionsearch_spark.functions.text import kmv_hash

    ev = load_table(spark, sf_dir, "events")
    hv = kmv_hash(F.col("user_id"))
    h = ev.select(hv.alias("hv")).distinct()
    kth = (
        h.orderBy(F.col("hv").asc())
        .limit(64)
        .agg(
            F.max("hv").alias("kth_hash"),
            F.count(F.lit(1)).alias("k"),
        )
    )
    ex = ev.agg(F.countDistinct("user_id").alias("n_exact"))
    est = (F.col("k") - 1).cast("double") / (
        F.col("kth_hash").cast("double") / F.lit(1073741824.0)
    )
    return ex.crossJoin(kth).select(
        "n_exact", "k", "kth_hash", est.alias("kmv_estimate")
    )



@register(
    "events_scd2_intervals",
    oracle="""
WITH daily AS (
  SELECT user_id, date_trunc('day', ts)::TIMESTAMP AS day,
    max(struct_pack(ts := ts, eid := event_id, v := value)).v AS day_value
  FROM events WHERE user_id < 20
  GROUP BY user_id, date_trunc('day', ts)::TIMESTAMP
),
marked AS (
  SELECT user_id, day, day_value,
    CASE WHEN lag(day_value) OVER w IS NULL
           OR lag(day_value) OVER w <> day_value
         THEN 1 ELSE 0 END AS is_start
  FROM daily
  WINDOW w AS (PARTITION BY user_id ORDER BY day ASC)
),
starts AS (
  SELECT user_id, day AS effective_from, day_value,
    lead(day) OVER (PARTITION BY user_id ORDER BY day ASC) AS next_from
  FROM marked WHERE is_start = 1
)
SELECT user_id, effective_from, next_from AS effective_to, day_value,
  CAST(next_from IS NULL AS BOOLEAN) AS is_current
FROM starts
""",
    doc="Slowly-changing-dimension (SCD Type 2) interval build: "
    "collapse a per-day observation series into validity intervals "
    "[effective_from, effective_to) per entity — the versioned-"
    "dimension table a warehouse maintains so the as-of join "
    "(events_asof_last_purchase) has something to join against. "
    "Change detection via lag(), interval close via lead(), both "
    "over the same (user, day) window — one shuffle keyed user_id, "
    "windows and the daily pre-aggregate reuse the partitioning. "
    "Interval semantics: half-open, effective_to NULL = current row "
    "(flagged). Entity-bounded (user_id < 20) like every per-entity "
    "expansion here; at 100 TB the daily pre-aggregate is the "
    "volume-reducer (events -> entity-days) before any window runs.",
)
def events_scd2_intervals(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").filter(F.col("user_id") < 20)
    daily = (
        ev.select(
            "user_id",
            F.date_trunc("day", F.col("ts")).alias("day"),
            F.struct(
                F.col("ts"), F.col("event_id").alias("eid"), F.col("value").alias("v")
            ).alias("tev"),
        )
        .groupBy("user_id", "day")
        .agg(F.max("tev")["v"].alias("day_value"))
    )
    w = Window.partitionBy("user_id").orderBy(F.col("day").asc())
    marked = daily.withColumn(
        "is_start",
        F.when(
            F.lag("day_value").over(w).isNull()
            | (F.lag("day_value").over(w) != F.col("day_value")),
            1,
        ).otherwise(0),
    )
    starts = marked.filter(F.col("is_start") == 1).withColumn(
        "next_from", F.lead("day").over(w)
    )
    return starts.select(
        "user_id",
        F.col("day").alias("effective_from"),
        F.col("next_from").alias("effective_to"),
        "day_value",
        F.col("next_from").isNull().alias("is_current"),
    )


@register(
    "events_value_histogram",
    oracle="""
WITH ext AS (
  SELECT min(value) AS lo, max(value) AS hi FROM events
),
binned AS (
  SELECT least(CAST(floor((value - lo) / ((hi - lo) / 20.0)) AS INT), 19)
    AS bin, value
  FROM events, ext
)
SELECT bin, CAST(count(*) AS BIGINT) AS n,
  min(value) AS bin_min, max(value) AS bin_max
FROM binned GROUP BY bin
""",
    doc="Equi-width histogram (20 bins over the observed range) — the "
    "describe-step distribution summary. Two passes: a scalar min/max "
    "aggregate (broadcast back), then one binning scan with a "
    "partial+final count — the exact shape Spark's own "
    "df.stat.histogram RDD helper uses, expressed relationally so it "
    "stays in codegen and hash-gates. The least(...) clamp puts the "
    "range maximum into the last bin (the standard closed-top rule). "
    "Bin arithmetic is a single IEEE double chain per row — "
    "deterministic across engines.",
)
def events_value_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    ext = ev.agg(F.min("value").alias("lo"), F.max("value").alias("hi"))
    width = (F.col("hi") - F.col("lo")) / F.lit(20.0)
    binned = ev.crossJoin(F.broadcast(ext)).select(
        F.least(
            F.floor((F.col("value") - F.col("lo")) / width).cast("int"),
            F.lit(19),
        ).alias("bin"),
        "value",
    )
    return binned.groupBy("bin").agg(
        F.count(F.lit(1)).alias("n"),
        F.min("value").alias("bin_min"),
        F.max("value").alias("bin_max"),
    )


@register(
    "events_transition_matrix",
    oracle="""
WITH seq AS (
  SELECT user_id, event_type,
    lag(event_type) OVER (
      PARTITION BY user_id ORDER BY ts ASC, event_id ASC
    ) AS prev_type
  FROM events
),
trans AS (
  SELECT prev_type, event_type AS next_type,
    CAST(count(*) AS BIGINT) AS n
  FROM seq WHERE prev_type IS NOT NULL
  GROUP BY prev_type, event_type
),
rowtot AS (
  SELECT prev_type, CAST(SUM(n) AS BIGINT) AS row_n FROM trans GROUP BY prev_type
)
SELECT t.prev_type, t.next_type, t.n,
  CAST(t.n AS DOUBLE) / CAST(r.row_n AS DOUBLE) AS p
FROM trans t JOIN rowtot r ON t.prev_type = r.prev_type
""",
    doc="Behavioral transition matrix (first-order Markov estimate): "
    "per-user event sequences -> (prev_type, next_type) bigram counts "
    "-> row-normalized transition probabilities — the session-flow "
    "model product analytics and anomaly detection both start from. "
    "One user-keyed window (bounded per-key state, the streaming-"
    "friendly frame), then a |types|^2-row aggregate; probabilities "
    "divide two exact counts, so the matrix hash-gates. At 100 TB "
    "the only full-data operation is the lag window over the "
    "user-partitioned shuffle the sessionizer already pays.",
)
def events_transition_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(F.col("ts").asc(), F.col("event_id").asc())
    seq = ev.select(
        "event_type", F.lag("event_type").over(w).alias("prev_type")
    ).filter(F.col("prev_type").isNotNull())
    trans = seq.groupBy("prev_type", F.col("event_type").alias("next_type")).agg(
        F.count(F.lit(1)).alias("n")
    )
    rowtot = trans.groupBy("prev_type").agg(F.sum("n").alias("row_n"))
    return trans.join(F.broadcast(rowtot), "prev_type").select(
        "prev_type",
        "next_type",
        "n",
        (F.col("n").cast("double") / F.col("row_n").cast("double")).alias("p"),
    )


# ---------------------------------------------------------------------------
# session quality stats (bounce rate / duration distribution)


@register(
    "events_session_stats",
    oracle="""
WITH ev AS (SELECT event_id, ts::TIMESTAMP AS ts, user_id FROM events),
seq AS (
  SELECT user_id, ts,
    lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts
  FROM ev
),
flagged AS (
  SELECT user_id, ts,
    CASE WHEN prev_ts IS NULL OR ts > prev_ts + INTERVAL '30 minutes'
         THEN 1 ELSE 0 END AS new_session
  FROM seq
),
sessions AS (
  SELECT user_id, ts,
    SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts
                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
      AS session_id
  FROM flagged
),
per_session AS (
  SELECT user_id, session_id,
    CAST(count(*) AS BIGINT) AS n_events,
    CAST(date_diff('second', min(ts), max(ts)) AS BIGINT) AS duration_s
  FROM sessions GROUP BY user_id, session_id
)
SELECT CAST(count(*) AS BIGINT) AS n_sessions,
  CAST(SUM(CASE WHEN n_events = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_bounces,
  (CAST(SUM(CASE WHEN n_events = 1 THEN 1 ELSE 0 END) AS DOUBLE)
    / CAST(count(*) AS DOUBLE)) AS bounce_rate,
  (CAST(SUM(n_events) AS DOUBLE) / CAST(count(*) AS DOUBLE))
    AS avg_events_per_session,
  quantile_cont(CAST(duration_s AS DOUBLE), 0.5) AS median_duration_s,
  CAST(max(duration_s) AS BIGINT) AS max_duration_s
FROM per_session
""",
    doc="Session quality rollup over the SAME 30-minute gap "
    "sessionization events_sessionize gates (lag -> flag -> "
    "cumulative sum, per-user windows only): bounce rate "
    "(single-event sessions), events per session, median/max "
    "duration. Spark `percentile` == DuckDB `quantile_cont` "
    "(FIXTURES determinism rules); every ratio is a single double "
    "chain over exact integers. The product-analytics companion to "
    "sessionize/funnel/cohort — one extra user-keyed aggregate, no "
    "new shuffle key.",
)
def events_session_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    w_seq = Window.partitionBy("user_id").orderBy("ts", "event_id")
    w_cum = (
        Window.partitionBy("user_id")
        .orderBy("ts")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    seq = ev.select(
        "user_id", "ts", F.lag("ts").over(w_seq).alias("prev_ts")
    )
    flagged = seq.select(
        "user_id",
        "ts",
        F.when(
            F.col("prev_ts").isNull()
            | (F.col("ts") > F.col("prev_ts") + F.expr("INTERVAL 30 MINUTES")),
            1,
        )
        .otherwise(0)
        .alias("new_session"),
    )
    sessions = flagged.select(
        "user_id", "ts", F.sum("new_session").over(w_cum).alias("session_id")
    )
    per_session = sessions.groupBy("user_id", "session_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_events"),
        (F.max("ts").cast("long") - F.min("ts").cast("long"))
        .cast("bigint")
        .alias("duration_s"),
    )
    bounces = F.sum(F.when(F.col("n_events") == 1, 1).otherwise(0))
    return per_session.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_sessions"),
        bounces.cast("bigint").alias("n_bounces"),
        (bounces.cast("double") / F.count(F.lit(1)).cast("double")).alias(
            "bounce_rate"
        ),
        (
            F.sum("n_events").cast("double")
            / F.count(F.lit(1)).cast("double")
        ).alias("avg_events_per_session"),
        F.expr("percentile(CAST(duration_s AS DOUBLE), 0.5)").alias(
            "median_duration_s"
        ),
        F.max("duration_s").cast("bigint").alias("max_duration_s"),
    )


# ---------------------------------------------------------------------------
# DAU / WAU stickiness


@register(
    "events_dau_wau_stickiness",
    oracle="""
WITH du AS (
  SELECT DISTINCT CAST(ts::TIMESTAMP AS DATE) AS d, user_id FROM events
),
days AS (SELECT DISTINCT d FROM du),
dau AS (SELECT d, CAST(count(*) AS BIGINT) AS dau FROM du GROUP BY d),
wau AS (
  SELECT days.d, CAST(count(DISTINCT du.user_id) AS BIGINT) AS wau
  FROM days JOIN du
    ON du.d <= days.d AND du.d > days.d - 7
  GROUP BY days.d
)
SELECT dau.d AS day, dau.dau, wau.wau,
  (CAST(dau.dau AS DOUBLE) / CAST(wau.wau AS DOUBLE)) AS stickiness
FROM dau JOIN wau ON dau.d = wau.d
ORDER BY day
""",
    doc="DAU / trailing-7-day WAU / stickiness per day — the growth "
    "dashboard every event platform serves. Computed from the "
    "per-(day, user) DISTINCT projection (the shuffle carries 12-byte "
    "rows, never events); the trailing window is a day-spine range "
    "join with fan-out <= 7 (the bucketed interval-join shape — at "
    "100 TB the same metric merges per-day KMV sketches instead of "
    "re-distinct-counting, the swap events_kmv_distinct documents). "
    "Stickiness is one double division of exact counts.",
)
def events_dau_wau_stickiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    du = ev.select(
        F.col("ts").cast("date").alias("d"), "user_id"
    ).distinct()
    days = du.select("d").distinct()
    dau = du.groupBy("d").agg(
        F.count(F.lit(1)).cast("bigint").alias("dau")
    )
    wau = (
        days.alias("sp")
        .join(
            du.alias("u"),
            (F.col("u.d") <= F.col("sp.d"))
            & (F.col("u.d") > F.date_sub(F.col("sp.d"), 7)),
        )
        .groupBy(F.col("sp.d").alias("d"))
        .agg(F.count_distinct("u.user_id").cast("bigint").alias("wau"))
    )
    return (
        dau.join(wau, "d")
        .select(
            F.col("d").alias("day"),
            "dau",
            "wau",
            (F.col("dau").cast("double") / F.col("wau").cast("double")).alias(
                "stickiness"
            ),
        )
        .orderBy("day")
    )


# ---------------------------------------------------------------------------
# funnel time-to-convert


@register(
    "events_funnel_time_to_convert",
    oracle="""
WITH ev AS (SELECT ts::TIMESTAMP AS ts, user_id, event_type FROM events),
v AS (SELECT user_id, min(ts) AS t0 FROM ev WHERE event_type = 'view' GROUP BY user_id),
c AS (SELECT e.user_id, min(e.ts) AS t1 FROM ev e JOIN v ON v.user_id = e.user_id
        AND e.ts > v.t0 AND e.ts <= v.t0 + INTERVAL '12 hours'
      WHERE e.event_type = 'click' GROUP BY e.user_id),
p AS (SELECT e.user_id, min(e.ts) AS t2 FROM ev e JOIN c ON c.user_id = e.user_id
        AND e.ts > c.t1 AND e.ts <= c.t1 + INTERVAL '48 hours'
      WHERE e.event_type = 'purchase' GROUP BY e.user_id),
d1 AS (
  SELECT CAST(date_diff('second', v.t0, c.t1) AS DOUBLE) AS s
  FROM c JOIN v USING (user_id)
),
d2 AS (
  SELECT CAST(date_diff('second', c.t1, p.t2) AS DOUBLE) AS s
  FROM p JOIN c USING (user_id)
)
SELECT 'view_to_click' AS stage_pair, CAST(1 AS INT) AS pair_idx,
  CAST(count(*) AS BIGINT) AS n_users,
  quantile_cont(s, 0.5) AS p50_s, quantile_cont(s, 0.9) AS p90_s
FROM d1
UNION ALL
SELECT 'click_to_purchase', CAST(2 AS INT),
  CAST(count(*) AS BIGINT), quantile_cont(s, 0.5), quantile_cont(s, 0.9)
FROM d2
""",
    doc="Time-to-convert between funnel stages — the latency half of "
    "the funnel report (events_funnel_conversion counts WHO "
    "converts; this measures HOW FAST): p50/p90 seconds from first "
    "view to first qualifying click, and from that click to the "
    "first qualifying purchase, over the SAME min-ts stage chain the "
    "funnel gate pins. Exact interpolated percentiles (Spark "
    "percentile == DuckDB quantile_cont); every join keys on "
    "user_id, so the whole report reuses one partitioning. At scale "
    "the per-pair percentile swaps for the mergeable "
    "percentile_approx sketch.",
)
def events_funnel_time_to_convert(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").select(
        "ts", "user_id", "event_type"
    )
    v = (
        ev.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts").alias("t0"))
    )
    c = (
        ev.filter(F.col("event_type") == "click")
        .alias("e")
        .join(v.alias("v"), "user_id")
        .filter(
            (F.col("e.ts") > F.col("t0"))
            & (F.col("e.ts") <= F.col("t0") + F.expr("INTERVAL 12 HOURS"))
        )
        .groupBy("user_id")
        .agg(F.min("e.ts").alias("t1"))
    )
    p = (
        ev.filter(F.col("event_type") == "purchase")
        .alias("e")
        .join(c.alias("c"), "user_id")
        .filter(
            (F.col("e.ts") > F.col("t1"))
            & (F.col("e.ts") <= F.col("t1") + F.expr("INTERVAL 48 HOURS"))
        )
        .groupBy("user_id")
        .agg(F.min("e.ts").alias("t2"))
    )
    d1 = c.join(v, "user_id").select(
        (F.col("t1").cast("long") - F.col("t0").cast("long"))
        .cast("double")
        .alias("s")
    )
    d2 = p.join(c, "user_id").select(
        (F.col("t2").cast("long") - F.col("t1").cast("long"))
        .cast("double")
        .alias("s")
    )

    def pair(df: DataFrame, name: str, idx: int) -> DataFrame:
        return df.agg(
            F.lit(name).alias("stage_pair"),
            F.lit(idx).cast("int").alias("pair_idx"),
            F.count(F.lit(1)).cast("bigint").alias("n_users"),
            F.expr("percentile(s, 0.5)").alias("p50_s"),
            F.expr("percentile(s, 0.9)").alias("p90_s"),
        ).select("stage_pair", "pair_idx", "n_users", "p50_s", "p90_s")

    return pair(d1, "view_to_click", 1).unionAll(
        pair(d2, "click_to_purchase", 2)
    )


# ---------------------------------------------------------------------------
# sequential pattern mining: top event trigram paths


@register(
    "events_top_trigram_paths",
    oracle="""
WITH ev AS (
  SELECT user_id, event_type, ts::TIMESTAMP AS ts, event_id FROM events
),
seq AS (
  SELECT user_id, event_type,
    lead(event_type, 1) OVER (PARTITION BY user_id ORDER BY ts, event_id)
      AS nxt1,
    lead(event_type, 2) OVER (PARTITION BY user_id ORDER BY ts, event_id)
      AS nxt2
  FROM ev
)
SELECT event_type AS step1, nxt1 AS step2, nxt2 AS step3,
  CAST(count(*) AS BIGINT) AS n_occurrences,
  CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
FROM seq WHERE nxt1 IS NOT NULL AND nxt2 IS NOT NULL
GROUP BY 1, 2, 3
ORDER BY n_occurrences DESC, step1, step2, step3
LIMIT 15
""",
    doc="Order-2 sequential pattern mining: the most frequent "
    "3-event paths across user journeys (the transition matrix "
    "events_transition_matrix generalized one step deeper) — "
    "occurrence and distinct-user support per path. lead() windows "
    "partitioned by user_id with deterministic (ts, event_id) "
    "ordering; the per-user window and the path group-by reuse the "
    "same user-keyed partitioning, then the path aggregate shuffles "
    "only (type^3)-cardinality keys. The product-analytics input to "
    "journey-map dashboards and Markov-chain attribution.",
)
def events_top_trigram_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        "user_id",
        F.col("event_type").alias("step1"),
        F.lead("event_type", 1).over(w).alias("step2"),
        F.lead("event_type", 2).over(w).alias("step3"),
    ).filter(F.col("step2").isNotNull() & F.col("step3").isNotNull())
    return (
        seq.groupBy("step1", "step2", "step3")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_occurrences"),
            F.count_distinct("user_id").cast("bigint").alias("n_users"),
        )
        .orderBy(
            F.col("n_occurrences").desc(), "step1", "step2", "step3"
        )
        .limit(15)
    )


# --------------------------------------------- KMV sketch set operations


@register(
    "events_kmv_set_ops",
    oracle="""
WITH ha AS (
  SELECT DISTINCT
    ('0x' || substr(md5(user_id::VARCHAR), 1, 8))::BIGINT % 1073741824 AS hv
  FROM events WHERE event_type = 'purchase' AND value > 70.0
),
hb AS (
  SELECT DISTINCT
    ('0x' || substr(md5(user_id::VARCHAR), 1, 8))::BIGINT % 1073741824 AS hv
  FROM events WHERE event_type = 'error' AND value > 70.0
),
ka AS (SELECT hv FROM ha ORDER BY hv ASC LIMIT 64),
kb AS (SELECT hv FROM hb ORDER BY hv ASC LIMIT 64),
ku AS (
  SELECT hv FROM (SELECT hv FROM ka UNION SELECT hv FROM kb) u
  ORDER BY hv ASC LIMIT 64
),
sa AS (SELECT CAST(count(*) AS BIGINT) AS k, CAST(max(hv) AS BIGINT) AS u FROM ka),
sb AS (SELECT CAST(count(*) AS BIGINT) AS k, CAST(max(hv) AS BIGINT) AS u FROM kb),
su AS (SELECT CAST(count(*) AS BIGINT) AS k, CAST(max(hv) AS BIGINT) AS u FROM ku),
exact AS (
  SELECT
    CAST((SELECT count(DISTINCT user_id) FROM events
          WHERE event_type = 'purchase' AND value > 70.0) AS BIGINT) AS n_a,
    CAST((SELECT count(DISTINCT user_id) FROM events
          WHERE event_type = 'error' AND value > 70.0) AS BIGINT) AS n_b,
    CAST((SELECT count(*) FROM
           (SELECT DISTINCT user_id FROM events
            WHERE event_type = 'purchase' AND value > 70.0) a
           JOIN
           (SELECT DISTINCT user_id FROM events
            WHERE event_type = 'error' AND value > 70.0) b
           USING (user_id)) AS BIGINT) AS n_inter
)
SELECT exact.n_a, exact.n_b, exact.n_inter,
  CAST(sa.k - 1 AS DOUBLE) / (CAST(sa.u AS DOUBLE) / 1073741824.0) AS est_a,
  CAST(sb.k - 1 AS DOUBLE) / (CAST(sb.u AS DOUBLE) / 1073741824.0) AS est_b,
  CAST(su.k - 1 AS DOUBLE) / (CAST(su.u AS DOUBLE) / 1073741824.0) AS est_union,
  CAST(sa.k - 1 AS DOUBLE) / (CAST(sa.u AS DOUBLE) / 1073741824.0)
    + CAST(sb.k - 1 AS DOUBLE) / (CAST(sb.u AS DOUBLE) / 1073741824.0)
    - CAST(su.k - 1 AS DOUBLE) / (CAST(su.u AS DOUBLE) / 1073741824.0)
    AS est_intersection
FROM exact, sa, sb, su
""",
    doc="KMV sketch SET OPERATIONS (the theta-sketch trick, Dasgupta "
    "et al.): distinct-user audiences of two segments (high-value "
    "purchasers vs high-value error reporters) estimated from their "
    "k=64-minima sketches — the UNION sketch is just a re-min over "
    "the two sketch hash sets (mergeability is the whole point: per-"
    "segment sketches persist per partition/day and any ad-hoc "
    "audience overlap is answered from 64-row artifacts, never a "
    "corpus rescan), and the INTERSECTION estimate falls out by "
    "inclusion-exclusion. Exact counts sit alongside so the hash-"
    "gated output shows the measured error. Deterministic md5 hashing "
    "keeps every estimate bit-reproducible cross-engine. At 100 TB "
    "the shuffle per segment carries distinct 8-byte hashes only.",
)
def events_kmv_set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cnc_visionsearch_spark.functions.text import kmv_hash

    ev = load_table(spark, sf_dir, "events")
    K = 64

    def seg(etype: str):
        return ev.filter(
            (F.col("event_type") == etype) & (F.col("value") > 70.0)
        )

    def minima(df) -> DataFrame:
        return (
            df.select(kmv_hash(F.col("user_id")).alias("hv"))
            .distinct()
            .orderBy(F.col("hv").asc())
            .limit(K)
        )

    def sketch_stats(kdf: DataFrame, k_alias: str, u_alias: str) -> DataFrame:
        return kdf.agg(
            F.count(F.lit(1)).cast("bigint").alias(k_alias),
            F.max("hv").cast("bigint").alias(u_alias),
        )

    ka = minima(seg("purchase")).localCheckpoint(eager=True)
    kb = minima(seg("error")).localCheckpoint(eager=True)
    ku = ka.union(kb).distinct().orderBy(F.col("hv").asc()).limit(K)
    sa = sketch_stats(ka, "k_a", "u_a")
    sb = sketch_stats(kb, "k_b", "u_b")
    su = sketch_stats(ku, "k_u", "u_u")
    a_users = seg("purchase").select("user_id").distinct()
    b_users = seg("error").select("user_id").distinct()
    exact = (
        seg("purchase")
        .agg(F.countDistinct("user_id").cast("bigint").alias("n_a"))
        .crossJoin(
            seg("error").agg(
                F.countDistinct("user_id").cast("bigint").alias("n_b")
            )
        )
        .crossJoin(
            a_users.join(b_users, "user_id")
            .agg(F.count(F.lit(1)).cast("bigint").alias("n_inter"))
        )
    )

    def est(k_col: str, u_col: str):
        return (F.col(k_col) - 1).cast("double") / (
            F.col(u_col).cast("double") / F.lit(1073741824.0)
        )

    return (
        exact.crossJoin(sa)
        .crossJoin(sb)
        .crossJoin(su)
        .select(
            "n_a",
            "n_b",
            "n_inter",
            est("k_a", "u_a").alias("est_a"),
            est("k_b", "u_b").alias("est_b"),
            est("k_u", "u_u").alias("est_union"),
            (
                est("k_a", "u_a") + est("k_b", "u_b") - est("k_u", "u_u")
            ).alias("est_intersection"),
        )
    )


# ------------------------------------------ next-event Markov transitions


@register(
    "events_markov_transitions",
    oracle="""
WITH seq AS (
  SELECT event_type AS src,
    lead(event_type) OVER (
      PARTITION BY user_id ORDER BY ts ASC, event_id ASC
    ) AS dst
  FROM events
),
t AS (
  SELECT src, dst, CAST(count(*) AS BIGINT) AS n
  FROM seq WHERE dst IS NOT NULL GROUP BY src, dst
),
tot AS (SELECT src, CAST(SUM(n) AS BIGINT) AS row_total FROM t GROUP BY src)
SELECT t.src, t.dst, t.n, tot.row_total,
  CAST(t.n AS DOUBLE) / CAST(tot.row_total AS DOUBLE) AS p
FROM t JOIN tot USING (src)
ORDER BY t.src, t.dst
""",
    doc="First-order Markov transition matrix over per-user event "
    "sequences: P(next event type | current) — the behavioral model "
    "behind churn prediction and next-action recommendation, and the "
    "sanity check every sessionization pipeline runs (a broken "
    "collector shows up as impossible transitions). One lead() window "
    "per user (ts, event_id tie-break: deterministic under same-"
    "timestamp events), then a (src, dst) count and a per-src "
    "normalize — 25 output rows regardless of corpus size; the only "
    "shuffle is the user_id window partition the sessionization "
    "family already pays.",
)
def events_markov_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(F.col("ts").asc(), F.col("event_id").asc())
    seq = ev.select(
        F.col("event_type").alias("src"),
        F.lead("event_type").over(w).alias("dst"),
    ).filter(F.col("dst").isNotNull())
    t = seq.groupBy("src", "dst").agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    tot = t.groupBy("src").agg(F.sum("n").cast("bigint").alias("row_total"))
    return (
        t.join(tot, "src")
        .select(
            "src",
            "dst",
            "n",
            "row_total",
            (F.col("n").cast("double") / F.col("row_total").cast("double")).alias("p"),
        )
        .orderBy("src", "dst")
    )


# ------------------------------------------------- bot-timing detection


@register(
    "events_bot_timing_report",
    oracle="""
WITH gaps AS (
  SELECT user_id,
    CAST(floor(epoch(ts)) - floor(epoch(lag(ts) OVER w)) AS BIGINT) AS gap_s
  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
per_user AS (
  SELECT user_id,
    count(*) AS n_gaps,
    CAST(sum(gap_s) AS BIGINT) AS sum_s,
    CAST(sum(gap_s * gap_s) AS BIGINT) AS sum_s2
  FROM gaps WHERE gap_s IS NOT NULL
  GROUP BY user_id HAVING count(*) >= 20
),
scored AS (
  SELECT user_id, n_gaps,
    sum_s::DOUBLE / n_gaps AS mean_gap_s,
    (sum_s2::DOUBLE / n_gaps) - (sum_s::DOUBLE / n_gaps)
      * (sum_s::DOUBLE / n_gaps) AS var_gap
  FROM per_user
)
SELECT user_id, CAST(n_gaps AS BIGINT) AS n_gaps, mean_gap_s,
  sqrt(var_gap) / mean_gap_s AS cv
FROM scored
WHERE mean_gap_s > 0
ORDER BY cv ASC, user_id ASC
LIMIT 15
""",
    doc="Bot detection by timing regularity: humans produce bursty "
    "inter-event gaps, schedulers produce metronomic ones — so the "
    "coefficient of variation (stddev/mean) of a user's gap sequence "
    "is the classic first-line bot signal. Per user with >= 20 gaps: "
    "gap count, mean gap, CV; the 15 most-regular users surface for "
    "review. Gaps are integer seconds (lag over the per-user time "
    "window — the shuffle keys on user_id), and mean/variance come "
    "from exact integer sum/sum-of-squares partials, so the only "
    "float arithmetic is the final single-chain divide/sqrt — "
    "hash-stable without quantization. At 100 TB this is one window "
    "pass plus a user-keyed aggregate, the same shape as the "
    "rolling-stats family.",
)
def events_bot_timing_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gaps = e.select(
        "user_id",
        (
            F.col("ts").cast("long") - F.lag(F.col("ts").cast("long")).over(w)
        ).alias("gap_s"),
    ).filter(F.col("gap_s").isNotNull())
    per_user = (
        gaps.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_gaps"),
            F.sum("gap_s").cast("bigint").alias("sum_s"),
            F.sum(F.col("gap_s") * F.col("gap_s")).cast("bigint").alias("sum_s2"),
        )
        .filter(F.col("n_gaps") >= 20)
    )
    mean = F.col("sum_s").cast("double") / F.col("n_gaps")
    var = (F.col("sum_s2").cast("double") / F.col("n_gaps")) - mean * mean
    return (
        per_user.select(
            "user_id",
            F.col("n_gaps").cast("bigint").alias("n_gaps"),
            mean.alias("mean_gap_s"),
            (F.sqrt(var) / mean).alias("cv"),
        )
        .filter(F.col("mean_gap_s") > 0)
        .orderBy(F.col("cv").asc(), F.col("user_id").asc())
        .limit(15)
    )


# ---------------------------------------------- gaps-and-islands audit


@register(
    "events_activity_islands",
    oracle="""
WITH d AS (
  SELECT DISTINCT user_id, CAST(date_trunc('day', ts) AS DATE) AS day
  FROM events WHERE user_id < 40
),
marked AS (
  SELECT user_id, day,
    CASE WHEN date_diff('day', lag(day) OVER w, day) = 1 THEN 0 ELSE 1
    END AS new_island
  FROM d WINDOW w AS (PARTITION BY user_id ORDER BY day)
),
islands AS (
  SELECT user_id, day,
    sum(new_island) OVER (PARTITION BY user_id ORDER BY day
                          ROWS UNBOUNDED PRECEDING) AS island_id
  FROM marked
),
spans AS (
  SELECT user_id, island_id, count(*) AS span_days,
    min(day) AS island_start
  FROM islands GROUP BY user_id, island_id
)
SELECT user_id,
  CAST(count(*) AS BIGINT) AS n_islands,
  CAST(max(span_days) AS BIGINT) AS longest_streak_days,
  CAST(min(island_start) AS DATE) AS first_active_day
FROM spans GROUP BY user_id ORDER BY user_id
""",
    doc="Gaps-and-islands over activity days: consecutive-day streaks "
    "per user (an island starts wherever the previous active day is "
    "not exactly one day back; cumulative-sum of starts assigns "
    "island ids — the classic SQL idiom, same machinery as shot "
    "segmentation and SCD2). Per user: islands, longest streak, "
    "first active day — the engagement-streak surface gamification "
    "and retention features read. Distinct-day projection first, so "
    "the window runs over at most (users x days) rows; both windows "
    "key on user_id — no cross-user shuffle beyond the one "
    "partitioning.",
)
def events_activity_islands(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events").filter(F.col("user_id") < 40)
    d = e.select(
        "user_id", F.date_trunc("day", "ts").cast("date").alias("day")
    ).distinct()
    w = Window.partitionBy("user_id").orderBy("day")
    marked = d.withColumn(
        "new_island",
        F.when(F.datediff("day", F.lag("day").over(w)) == 1, 0).otherwise(1),
    )
    islands = marked.withColumn(
        "island_id",
        F.sum("new_island").over(w.rowsBetween(Window.unboundedPreceding, 0)),
    )
    spans = islands.groupBy("user_id", "island_id").agg(
        F.count(F.lit(1)).alias("span_days"),
        F.min("day").alias("island_start"),
    )
    return (
        spans.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_islands"),
            F.max("span_days").cast("bigint").alias("longest_streak_days"),
            F.min("island_start").alias("first_active_day"),
        )
        .orderBy("user_id")
    )


# -------------------------------------------------- weekly load heatmap


@register(
    "events_weekly_heatmap",
    oracle="""
SELECT CAST(isodow(ts) AS BIGINT) AS weekday,
  CAST(hour(ts) AS BIGINT) AS hour_of_day,
  CAST(count(*) AS BIGINT) AS n_events,
  CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
FROM events
GROUP BY 1, 2
HAVING count(*) >= 10
ORDER BY weekday, hour_of_day
""",
    doc="Weekly load heatmap: events and distinct users per (ISO "
    "weekday, hour-of-day) cell — the capacity-planning and "
    "anomaly-baseline matrix every ops dashboard renders (traffic at "
    "Tuesday 3am vs Friday noon), floored at 10 events per cell to "
    "keep sparse cells out of baselines. Pure calendar projection + "
    "one aggregate; the distinct-user count is the only "
    "non-combinable piece (exact here; the KMV/HLL sketch is the "
    "100 TB swap, same group keys). Spark's dayofweek is "
    "Sunday-based, so the ISO mapping is spelled out rather than "
    "trusted across engines.",
)
def events_weekly_heatmap(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    # ISO weekday (Mon=1..Sun=7) from Spark's Sunday-based dayofweek
    iso = ((F.dayofweek("ts") + 5) % 7) + 1
    return (
        e.groupBy(
            iso.cast("bigint").alias("weekday"),
            F.hour("ts").cast("bigint").alias("hour_of_day"),
        )
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_events"),
            F.countDistinct("user_id").cast("bigint").alias("n_users"),
        )
        .filter(F.col("n_events") >= 10)
        .orderBy("weekday", "hour_of_day")
    )


# -------------------------------------------- inter-purchase intervals


@register(
    "events_repurchase_intervals",
    oracle="""
WITH p AS (
  SELECT user_id, ts, event_id FROM events WHERE event_type = 'purchase'
),
gaps AS (
  SELECT user_id,
    CAST(floor(epoch(ts)) - floor(epoch(lag(ts) OVER w)) AS BIGINT)
      AS gap_s
  FROM p WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
valid AS (SELECT gap_s FROM gaps WHERE gap_s IS NOT NULL)
SELECT CAST(count(*) AS BIGINT) AS n_intervals,
  CAST(min(gap_s) AS BIGINT) AS min_s,
  CAST(quantile_disc(gap_s, 0.25) AS BIGINT) AS p25_s,
  CAST(quantile_disc(gap_s, 0.5) AS BIGINT) AS p50_s,
  CAST(quantile_disc(gap_s, 0.75) AS BIGINT) AS p75_s,
  CAST(max(gap_s) AS BIGINT) AS max_s
FROM valid
""",
    doc="Repurchase-interval distribution: integer-second gaps between "
    "consecutive purchases per user, summarized as exact discrete "
    "quartiles — the replenishment-cycle curve that sets reorder-"
    "reminder timing and the baseline the churn-cadence score "
    "divides by (this is its event-stream twin; the orders-table "
    "version works in days). Filter pushes to the scan "
    "(event_type = 'purchase' prunes ~80% of rows before the "
    "user-keyed window); quartiles are discrete order statistics "
    "(percentile_approx at exactness accuracy — the sketch knob is "
    "the documented 100 TB trade).",
)
def events_repurchase_intervals(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events").filter(
        F.col("event_type") == "purchase"
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gaps = e.select(
        "user_id",
        (
            F.col("ts").cast("long") - F.lag(F.col("ts").cast("long")).over(w)
        ).alias("gap_s"),
    ).filter(F.col("gap_s").isNotNull())
    return gaps.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_intervals"),
        F.min("gap_s").cast("bigint").alias("min_s"),
        F.percentile_approx("gap_s", 0.25, 1000000)
        .cast("bigint")
        .alias("p25_s"),
        F.percentile_approx("gap_s", 0.5, 1000000)
        .cast("bigint")
        .alias("p50_s"),
        F.percentile_approx("gap_s", 0.75, 1000000)
        .cast("bigint")
        .alias("p75_s"),
        F.max("gap_s").cast("bigint").alias("max_s"),
    )


# ---------------------------------------------------------------------------
# sequence pattern matching (MATCH_RECOGNIZE analog)

# view, then any run of views/clicks, then purchase — the char class
# excludes 'e'rror and 's'ignup, so an interrupted journey never
# matches. The pattern is unambiguous (the quantified class cannot
# consume 'p'), so Java regex (Spark) and RE2 (DuckDB) agree on every
# non-overlapping leftmost match.
_SEQ_PATTERN = "v[vc]*p"


@register(
    "events_sequence_pattern_match",
    oracle=f"""
WITH seq AS (
  SELECT user_id,
    string_agg(substr(event_type, 1, 1), '' ORDER BY ts, event_id) AS s
  FROM events GROUP BY user_id
),
m AS (
  SELECT user_id, regexp_extract_all(s, '{_SEQ_PATTERN}') AS ms FROM seq
),
per_user AS (
  SELECT user_id, CAST(len(ms) AS BIGINT) AS n_matches,
    CAST(coalesce(list_max(list_transform(ms, x -> len(x))), 0) AS BIGINT)
      AS longest
  FROM m
)
SELECT n_matches, CAST(count(*) AS BIGINT) AS n_users,
  CAST(max(longest) AS BIGINT) AS max_run_len
FROM per_user GROUP BY n_matches ORDER BY n_matches
""",
    doc="Row-sequence pattern matching — the MATCH_RECOGNIZE analog "
    "(PATTERN (VIEW (VIEW|CLICK)* PURCHASE)): each user's event "
    "history becomes a symbol string (one char per event, ordered by "
    "ts with event_id tie-break) and the uninterrupted "
    "view-to-purchase journey is counted as non-overlapping regex "
    f"matches of '{_SEQ_PATTERN}' — an error or signup breaks the "
    "run, which plain funnel counting cannot express. Reported: users "
    "and longest-run length per match count (0 bucket included). "
    "Scale shape: ONE shuffle keyed user_id builds the per-user "
    "string (sort_array over collect_list of (ts, id, sym) structs — "
    "per-key state exactly like the streaming evolution of this "
    "operator via applyInPandasWithState); the regex runs per row in "
    "codegen; the report aggregates a per-user table. A user's "
    "history must fit a row — true for clickstreams (the same bound "
    "MATCH_RECOGNIZE imposes per partition).",
)
def events_sequence_pattern_match(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").select(
        "user_id",
        F.struct("ts", "event_id", F.substring("event_type", 1, 1).alias("sym")).alias(
            "rec"
        ),
    )
    seq = ev.groupBy("user_id").agg(
        F.array_join(
            F.transform(
                F.sort_array(F.collect_list("rec")), lambda r: r["sym"]
            ),
            "",
        ).alias("s")
    )
    m = seq.select(
        "user_id",
        F.regexp_extract_all("s", F.lit(_SEQ_PATTERN), 0).alias("ms"),
    )
    per_user = m.select(
        "user_id",
        F.size("ms").cast("bigint").alias("n_matches"),
        F.coalesce(
            F.array_max(F.transform("ms", F.length)), F.lit(0)
        )
        .cast("bigint")
        .alias("longest"),
    )
    return (
        per_user.groupBy("n_matches")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_users"),
            F.max("longest").cast("bigint").alias("max_run_len"),
        )
        .orderBy("n_matches")
    )


# ---------------------------------------------------------------------------
# deterministic Poisson bootstrap

_BOOT_B = 32  # bootstrap replicas

# Poisson(1) CDF cutoffs scaled to the 32-bit hash domain — weight w
# for (event, replica) is the quantile of h/2^32 under Poisson(1), the
# online-bootstrap weighting (Oza & Russell '01; Chamandy et al.,
# Google '12 "Estimating Uncertainty for Massive Data Streams").
# Derived once here and embedded as integer literals in BOTH engines.
_POIS_CUTS = [
    int(c * 2**32)
    for c in (
        0.36787944117144233,  # P(X=0)
        0.7357588823428847,  # P(X<=1)
        0.9196986029286058,  # P(X<=2)
        0.9810118431238462,  # P(X<=3)
        0.9963401531726563,  # P(X<=4)
        0.9994058151824183,  # P(X<=5)
    )
]


def _pois_case_sql(h: str) -> str:
    branches = "".join(
        f" WHEN {h} < {c} THEN {i}" for i, c in enumerate(_POIS_CUTS)
    )
    return f"CASE{branches} ELSE {len(_POIS_CUTS)} END"


@register(
    "events_bootstrap_ci",
    oracle=f"""
WITH purch AS (
  SELECT event_id, value FROM events WHERE event_type = 'purchase'
),
reps AS (
  SELECT p.event_id, p.value, t.b,
    ('0x' || substr(md5(p.event_id::VARCHAR || ':' || t.b::VARCHAR), 1, 8))
      ::BIGINT AS h
  FROM purch p, unnest(range({_BOOT_B})) AS t(b)
),
wtd AS (
  SELECT b, value, {_pois_case_sql("h")} AS w FROM reps
),
per AS (
  SELECT b, CAST(SUM(w) AS BIGINT) AS n_eff,
    CAST(SUM(w * CAST(floor(value * 1000000000.0 + 0.5) AS BIGINT))
      AS BIGINT) AS sum_q
  FROM wtd GROUP BY b
),
means AS (
  SELECT b,
    CAST(sum_q AS DOUBLE) / CAST(n_eff AS DOUBLE) / 1000000000.0 AS m
  FROM per
),
ord AS (
  SELECT m, row_number() OVER (ORDER BY m, b) AS rn FROM means
),
pt AS (
  SELECT CAST(count(*) AS BIGINT) AS n_events,
    CAST(SUM(CAST(floor(value * 1000000000.0 + 0.5) AS BIGINT)) AS BIGINT)
      AS psum_q
  FROM purch
)
SELECT pt.n_events,
  CAST(pt.psum_q AS DOUBLE) / CAST(pt.n_events AS DOUBLE) / 1000000000.0
    AS point_mean,
  (SELECT m FROM ord WHERE rn = 2) AS ci_lo,
  (SELECT m FROM ord WHERE rn = {_BOOT_B - 1}) AS ci_hi
FROM pt
""",
    doc="Deterministic Poisson bootstrap for the mean purchase value — "
    "metric uncertainty WITHOUT rerunning the pipeline (Oza-Russell "
    "online bootstrap; Chamandy et al.'s Poisson bootstrap for massive "
    f"streams): each of {_BOOT_B} replicas reweights every event by a "
    "Poisson(1) draw derived from md5(event_id, replica) — a pure "
    "function both engines evaluate identically, so resampling is "
    "reproducible and the whole estimator hash-gates. Per replica the "
    "weighted mean reduces as exact fixed-point BIGINT sums; the "
    "~95% interval is the 2nd/31st order statistic of the replica "
    "means. Scale shape: ONE scan fans out x" f"{_BOOT_B} inside the "
    "map stage (no extra I/O), the shuffle carries (replica, 2 "
    "BIGINTs) = 32 rows of sufficient statistics, and the order "
    "statistics run on the replica table — the uncertainty of any "
    "pipeline aggregate for one extra scan-multiply, no resample "
    "storage, no RNG state.",
)
def events_bootstrap_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cnc_visionsearch_spark.functions.text import hex_to_long
    from cnc_visionsearch_spark.functions.vector import fixed_point_q

    purch = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("event_type") == "purchase")
        .select("event_id", "value")
    )
    reps = purch.select(
        "event_id",
        "value",
        F.explode(F.sequence(F.lit(0), F.lit(_BOOT_B - 1))).alias("b"),
    ).withColumn(
        "h",
        hex_to_long(
            F.substring(
                F.md5(
                    F.concat(
                        F.col("event_id").cast("string"),
                        F.lit(":"),
                        F.col("b").cast("string"),
                    ).cast("binary")
                ),
                1,
                8,
            )
        ),
    )
    w = F.lit(len(_POIS_CUTS))
    for i in range(len(_POIS_CUTS) - 1, -1, -1):
        w = F.when(F.col("h") < _POIS_CUTS[i], F.lit(i)).otherwise(w)
    per = (
        reps.select("b", "value", w.alias("w"))
        .groupBy("b")
        .agg(
            F.sum("w").cast("bigint").alias("n_eff"),
            F.sum(F.col("w") * fixed_point_q("value"))
            .cast("bigint")
            .alias("sum_q"),
        )
    )
    means = per.select(
        "b",
        (
            F.col("sum_q").cast("double")
            / F.col("n_eff").cast("double")
            / F.lit(1e9)
        ).alias("m"),
    )
    # 32 replica means -> order statistics in one tiny sorted array
    stats = means.agg(
        F.sort_array(F.collect_list(F.struct("m", "b"))).alias("ms")
    ).select(
        F.col("ms")[1]["m"].alias("ci_lo"),
        F.col("ms")[_BOOT_B - 2]["m"].alias("ci_hi"),
    )
    pt = purch.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_events"),
        F.sum(fixed_point_q("value")).cast("bigint").alias("psum_q"),
    ).select(
        "n_events",
        (
            F.col("psum_q").cast("double")
            / F.col("n_events").cast("double")
            / F.lit(1e9)
        ).alias("point_mean"),
    )
    return pt.crossJoin(F.broadcast(stats)).select(
        "n_events", "point_mean", "ci_lo", "ci_hi"
    )


# ---------------------------------------------------------------------------
# CUSUM changepoint detection


@register(
    "events_cusum_changepoint",
    oracle="""
WITH q AS (
  SELECT event_type, event_id, ts,
    CAST(floor(value * 1000000000.0 + 0.5) AS BIGINT) AS vq
  FROM events
),
base AS (
  SELECT event_type, CAST(count(*) AS BIGINT) AS n,
    CAST(SUM(vq) AS BIGINT) AS tot
  FROM q GROUP BY event_type
),
walk AS (
  SELECT q.event_type, q.event_id,
    row_number() OVER w AS k,
    SUM(q.vq) OVER w - row_number() OVER w * (b.tot // b.n) AS s
  FROM q JOIN base b USING (event_type)
  WINDOW w AS (PARTITION BY q.event_type ORDER BY q.ts, q.event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
),
peak AS (
  SELECT event_type,
    max(struct_pack(a := abs(s), nk := -k, s := s, e := event_id)) AS p
  FROM walk GROUP BY event_type
)
SELECT b.event_type, b.n AS n_events,
  CAST(-(p.p.nk) AS BIGINT) AS peak_pos,
  CAST(p.p.e AS BIGINT) AS peak_event_id,
  CAST(p.p.s AS DOUBLE) / 1000000000.0 AS peak_dev,
  CASE WHEN p.p.s >= 0 THEN 'up' ELSE 'down' END AS direction
FROM base b JOIN peak p USING (event_type)
ORDER BY b.event_type
""",
    doc="CUSUM changepoint detection (Page 1954) per event type: the "
    "cumulative sum of deviations from the series mean peaks exactly "
    "where the level shifts, so the arg-max of |CUSUM| is the maximum-"
    "likelihood single changepoint — the 'WHEN did this metric move' "
    "primitive behind deployment-regression and drift monitors. All "
    "arithmetic is exact integers: values quantize at 1e-9, the "
    "reference mean is an integer floor (tot DIV n), the walk is a "
    "running BIGINT sum, and the peak is a lexicographic struct max "
    "(|s|, earliest position) — bit-stable across engines, no float "
    "accumulates across rows. Scale shape: one scan, per-key windows "
    "(never a global sort), a dimension-sized peak table; the "
    "streaming twin is the same statistic under "
    "applyInPandasWithState with (cum, k) as the keyed state.",
)
def events_cusum_changepoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cnc_visionsearch_spark.functions.vector import fixed_point_q

    ev = load_table(spark, sf_dir, "events").select(
        "event_type", "event_id", "ts", fixed_point_q("value").alias("vq")
    )
    base = ev.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("vq").cast("bigint").alias("tot"),
    )
    wo = Window.partitionBy("event_type").orderBy("ts", "event_id")
    w = wo.rowsBetween(Window.unboundedPreceding, 0)
    walk = (
        ev.join(F.broadcast(base), "event_type")
        .withColumn("k", F.row_number().over(wo))
        .withColumn(
            "s",
            # FLOOR division in exact integers ((tot - pmod) DIV n):
            # Spark's DIV truncates toward zero, DuckDB's // floors —
            # they disagree on negative totals, and pmod closes the gap
            F.sum("vq").over(w)
            - F.col("k") * F.expr("(tot - pmod(tot, n)) DIV n"),
        )
    )
    peak = walk.groupBy("event_type").agg(
        F.max(
            F.struct(
                F.abs("s").alias("a"),
                (-F.col("k")).alias("nk"),
                F.col("s").alias("s"),
                F.col("event_id").alias("e"),
            )
        ).alias("p")
    )
    return (
        base.join(peak, "event_type")
        .select(
            "event_type",
            F.col("n").alias("n_events"),
            (-F.col("p.nk")).cast("bigint").alias("peak_pos"),
            F.col("p.e").cast("bigint").alias("peak_event_id"),
            (F.col("p.s").cast("double") / F.lit(1e9)).alias("peak_dev"),
            F.when(F.col("p.s") >= 0, "up").otherwise("down").alias(
                "direction"
            ),
        )
        .orderBy("event_type")
    )


# ---------------------------------------------------------------------------
# survival analysis: repurchase hazard table


@register(
    "events_repurchase_hazard",
    oracle="""
WITH p AS (
  SELECT user_id, ts, event_id FROM events WHERE event_type = 'purchase'
),
mx AS (SELECT max(ts) AS end_ts FROM p),
seq AS (
  SELECT user_id, ts,
    lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS nxt
  FROM p
),
gaps AS (
  SELECT
    CASE WHEN nxt IS NOT NULL
      THEN date_diff('second', ts, nxt) // 86400
      ELSE date_diff('second', ts, (SELECT end_ts FROM mx)) // 86400
    END AS dur,
    CASE WHEN nxt IS NOT NULL THEN 1 ELSE 0 END AS complete
  FROM seq
),
by_dur AS (
  SELECT dur, CAST(count(*) AS BIGINT) AS n_all,
    CAST(sum(complete) AS BIGINT) AS n_events
  FROM gaps GROUP BY dur
),
risk AS (
  SELECT dur, n_events,
    SUM(n_all) OVER (ORDER BY dur DESC
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
      AS n_at_risk
  FROM by_dur
)
SELECT CAST(dur AS BIGINT) AS duration_days,
  CAST(n_at_risk AS BIGINT) AS n_at_risk, n_events,
  CAST((n_events * 1000000) // n_at_risk AS BIGINT) AS hazard_ppm
FROM risk WHERE n_events > 0
ORDER BY duration_days ASC
LIMIT 30
""",
    doc="Discrete-time survival hazard for repurchase (the "
    "Kaplan-Meier ingredients): each inter-purchase gap is a "
    "duration, a user's open gap to the observation end is a "
    "CENSORED duration (it joins every risk set it survives but "
    "never counts as an event — dropping censored spells is the "
    "classic churn-analysis bias), and hazard(d) = events-at-d / "
    "at-risk-at-d in exact integer ppm. The at-risk set is a "
    "descending cumulative sum over the duration histogram "
    "(operators/rank.distributed_cumsum — boundary-literal banded, no "
    "single-partition sort even if durations are measured at finer "
    "grain), so no per-duration rescan of the gaps. First 30 "
    "event-bearing durations. Scale shape: per-user lead() windows "
    "(per-key, never global), one histogram aggregate, one "
    "distributed prefix sum.",
)
def events_repurchase_hazard(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("event_type") == "purchase")
        .select("user_id", "ts", "event_id")
    )
    end_ts = p.agg(F.max("ts").alias("end_ts"))
    wu = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = p.withColumn("nxt", F.lead("ts").over(wu)).crossJoin(
        F.broadcast(end_ts)
    )
    dur = F.when(
        F.col("nxt").isNotNull(),
        F.expr(
            "(unix_timestamp(nxt) - unix_timestamp(ts)) DIV 86400"
        ),
    ).otherwise(
        F.expr("(unix_timestamp(end_ts) - unix_timestamp(ts)) DIV 86400")
    )
    gaps = seq.select(
        dur.alias("dur"),
        F.when(F.col("nxt").isNotNull(), 1).otherwise(0).alias("complete"),
    )
    by_dur = gaps.groupBy("dur").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_all"),
        F.sum("complete").cast("bigint").alias("n_events"),
    )
    from cnc_visionsearch_spark.operators.rank import distributed_cumsum

    risk = distributed_cumsum(
        by_dur, [(F.col("dur"), "desc")], sums=[(F.col("n_all"), "n_at_risk")]
    )
    return (
        risk.filter(F.col("n_events") > 0)
        .select(
            F.col("dur").cast("bigint").alias("duration_days"),
            F.col("n_at_risk").cast("bigint").alias("n_at_risk"),
            "n_events",
            F.expr(
                "CAST((n_events * 1000000) DIV n_at_risk AS BIGINT)"
            ).alias("hazard_ppm"),
        )
        .orderBy(F.col("duration_days").asc())
        .limit(30)
    )


# ---------------------------------------------------------------------------
# behavioral diversity: inverse-Simpson effective event-type count

@register(
    "events_user_diversity_profile",
    oracle="""
WITH c AS (
  SELECT user_id, event_type, CAST(count(*) AS BIGINT) AS c
  FROM events GROUP BY 1, 2
),
u AS (
  SELECT user_id,
    CAST(SUM(c) AS BIGINT) AS n_events,
    CAST(SUM(c * c) AS BIGINT) AS sum_sq
  FROM c GROUP BY 1
),
d AS (
  SELECT user_id, n_events,
    CAST(n_events AS DOUBLE) * CAST(n_events AS DOUBLE)
      / CAST(sum_sq AS DOUBLE) AS inv_simpson
  FROM u
)
SELECT CAST(FLOOR(inv_simpson * 2.0) AS BIGINT) AS diversity_half_bucket,
  CAST(count(*) AS BIGINT) AS n_users,
  CAST(SUM(n_events) AS BIGINT) AS n_events,
  CAST(MIN(n_events) AS BIGINT) AS min_events,
  CAST(MAX(n_events) AS BIGINT) AS max_events
FROM d GROUP BY 1
""",
    doc="Per-user behavioral diversity as the inverse-Simpson index "
    "n^2 / sum(c_t^2) over the user's event-type counts — the "
    "'effective number of event types' (Hill number of order 2, the "
    "ecology workhorse), histogrammed into half-unit buckets with the "
    "user/event mass per bucket. A user doing one thing repeatedly "
    "scores 1.0 however active they are; a uniform 5-type user scores "
    "5.0 — the single-number bot-vs-human mix signal that complements "
    "events_bot_timing_report's cadence view. Simpson, not Shannon, "
    "deliberately: the index is a pure rational of exact BIGINT "
    "counts (one double division per user), so it is bit-stable "
    "across engines where Shannon's ln() is libm-dependent and would "
    "break the hash gate — same reasoning as doc_unigram_surprisal's "
    "floor(log2) trick. Two partial-aggregating shuffles, both keyed "
    "user_id (AQE reuses the exchange), then a |buckets|-row reduce; "
    "no row leaves its partition unaggregated.",
)
def events_user_diversity_profile(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    c = ev.groupBy("user_id", "event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("c")
    )
    u = c.groupBy("user_id").agg(
        F.sum("c").cast("bigint").alias("n_events"),
        F.sum(F.col("c") * F.col("c")).cast("bigint").alias("sum_sq"),
    )
    inv_simpson = (
        F.col("n_events").cast("double")
        * F.col("n_events").cast("double")
        / F.col("sum_sq").cast("double")
    )
    d = u.select(
        "user_id",
        "n_events",
        inv_simpson.alias("inv_simpson"),
    )
    return d.groupBy(
        F.floor(F.col("inv_simpson") * F.lit(2.0))
        .cast("bigint")
        .alias("diversity_half_bucket")
    ).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_users"),
        F.sum("n_events").cast("bigint").alias("n_events"),
        F.min("n_events").cast("bigint").alias("min_events"),
        F.max("n_events").cast("bigint").alias("max_events"),
    )


# ---------------------------------------------------------------------------
# Markov removal-effect attribution (data-driven attribution)

_ATTR_ITERS = 8
_ATTR_CHANNELS = ("click", "error", "signup", "view")
_ATTR_SCALE = 1_000_000_000


def _attr_journey_sql() -> str:
    """Shared journey/transition construction: per-user sequences
    truncated at the FIRST purchase, START/DROP boundary states."""
    return """
seq0 AS (
  SELECT user_id, ts, event_id, event_type,
    SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) OVER (
      PARTITION BY user_id ORDER BY ts ASC, event_id ASC
      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
    ) AS prior_purchases
  FROM events
),
j AS (SELECT * FROM seq0 WHERE COALESCE(prior_purchases, 0) = 0),
s AS MATERIALIZED (
  SELECT user_id, event_type,
    ROW_NUMBER() OVER w AS rn,
    LEAD(event_type) OVER w AS nxt
  FROM j
  WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC, event_id ASC)
),
trans0 AS (
  SELECT event_type AS src, nxt AS dst FROM s WHERE nxt IS NOT NULL
  UNION ALL
  SELECT 'START', event_type FROM s WHERE rn = 1
  UNION ALL
  SELECT event_type, 'DROP' FROM s
  WHERE nxt IS NULL AND event_type <> 'purchase'
),
trans AS MATERIALIZED (
  SELECT src, dst, CAST(count(*) AS BIGINT) AS n FROM trans0 GROUP BY 1, 2
),
tot AS MATERIALIZED (
  SELECT src, CAST(SUM(n) AS BIGINT) AS row_total FROM trans GROUP BY 1
)"""


def _attr_chain_sql(tag: str, removed: str | None, iters: int) -> str:
    """One absorption power-iteration chain as generated CTEs — exact
    integer arithmetic (1e-9 probability units, one floor division per
    (state, iteration)), the oracle-replay contract of
    part_pagerank_power_iter. The shared journey CTEs (s, trans, tot)
    feed every step of five chains, so they and the steps are
    MATERIALIZED rather than re-derived inline."""
    removed_case = (
        f"WHEN t.dst = '{removed}' THEN 0 " if removed is not None else ""
    )
    parts = [
        f",\n{tag}_0 AS (SELECT src AS node, CAST(0 AS BIGINT) AS p_q FROM tot)"
    ]
    for i in range(1, iters + 1):
        parts.append(
            f""",
{tag}_{i} AS MATERIALIZED (
  SELECT t.src AS node,
    CAST(SUM(t.n * (CASE {removed_case}WHEN t.dst = 'purchase' THEN {_ATTR_SCALE}
                         WHEN t.dst = 'DROP' THEN 0
                         ELSE COALESCE(p.p_q, 0) END)) AS BIGINT)
      // tot.row_total AS p_q
  FROM trans t
  JOIN tot ON tot.src = t.src
  LEFT JOIN {tag}_{i - 1} p ON p.node = t.dst
  GROUP BY t.src, tot.row_total
)"""
        )
    return "".join(parts)


def _attr_oracle(iters: int = _ATTR_ITERS) -> str:
    chains = _attr_chain_sql("pb", None, iters)
    for ch in _ATTR_CHANNELS:
        chains += _attr_chain_sql(f"pr_{ch}", ch, iters)
    res_rows = " UNION ALL ".join(
        f"SELECT '{ch}' AS channel, "
        f"(SELECT p_q FROM pb_{iters} WHERE node = 'START') AS p_base_q, "
        f"(SELECT p_q FROM pr_{ch}_{iters} WHERE node = 'START') AS p_removed_q"
        for ch in _ATTR_CHANNELS
    )
    return f"""
WITH {_attr_journey_sql()}{chains},
res AS ({res_rows}),
w AS (SELECT CAST(SUM(p_base_q - p_removed_q) AS BIGINT) AS wsum FROM res)
SELECT res.channel, res.p_base_q, res.p_removed_q,
  CAST(res.p_base_q - res.p_removed_q AS BIGINT) AS removal_q,
  CAST(CASE WHEN w.wsum > 0
    THEN ((res.p_base_q - res.p_removed_q) * 1000000) // w.wsum
    ELSE 0 END AS BIGINT) AS attr_ppm
FROM res, w
"""


@register(
    "events_markov_removal_attribution",
    oracle=_attr_oracle(_ATTR_ITERS),
    doc=f"Markov removal-effect attribution (Anderl et al. 2016 — the "
    "'data-driven attribution' model behind Google's DDA, replacing "
    "the first/last/linear heuristics this repo also implements): "
    "per-user journeys truncated at the first purchase become a "
    "first-order chain over START / channel / purchase / DROP "
    f"states, {_ATTR_ITERS}-step absorption probability to purchase "
    "is solved by exact integer power iteration (1e-9 probability "
    "units, one floor division per state-iteration — the PageRank "
    "oracle-replay contract), and each channel's credit is the "
    "NORMALIZED DROP in conversion probability when transitions into "
    "it are removed (denominators kept — the standard removal-effect "
    "convention). The 100 TB split is the whole point: the DATA-scale "
    "work (journey windows + transition counts) is one user_id-keyed "
    "window family and a (src, dst) count — the sessionization "
    "shuffle the events family already pays — while the solve runs "
    "on the collected transition matrix, bounded by the EVENT-TYPE "
    "SCHEMA at (|types|+1)^2 rows (~36 here), genuine planner state "
    "like the BPE argmax and IVF probe cells (bound commented at the "
    "collect). Output per channel: base and channel-removed "
    "conversion probability (1e-9 units), removal effect, and the "
    "integer-exact ppm attribution share.",
)
def events_markov_removal_attribution(
    spark: SparkSession, sf_dir: str, iters: int = _ATTR_ITERS
) -> DataFrame:
    from cnc_visionsearch_spark.iterative import check_rounds

    check_rounds(iters, "events_markov_removal_attribution")
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(
        F.col("ts").asc(), F.col("event_id").asc()
    )
    prior = F.sum(
        F.when(F.col("event_type") == "purchase", 1).otherwise(0)
    ).over(w.rowsBetween(Window.unboundedPreceding, -1))
    j = ev.withColumn("pp", F.coalesce(prior, F.lit(0))).filter(
        F.col("pp") == 0
    )
    s = j.select(
        "user_id",
        "event_type",
        F.row_number().over(w).alias("rn"),
        F.lead("event_type").over(w).alias("nxt"),
    )
    trans0 = (
        s.filter(F.col("nxt").isNotNull()).select(
            F.col("event_type").alias("src"), F.col("nxt").alias("dst")
        )
        .unionByName(
            s.filter(F.col("rn") == 1).select(
                F.lit("START").alias("src"),
                F.col("event_type").alias("dst"),
            )
        )
        .unionByName(
            s.filter(
                F.col("nxt").isNull() & (F.col("event_type") != "purchase")
            ).select(
                F.col("event_type").alias("src"), F.lit("DROP").alias("dst")
            )
        )
    )
    trans = trans0.groupBy("src", "dst").agg(
        F.count(F.lit(1)).cast("bigint").alias("n")
    )
    # collect bound: states are the EVENT-TYPE SCHEMA plus START/DROP,
    # so the matrix is <= (|types|+1) x (|types|+2) rows (~36 on this
    # schema) REGARDLESS of corpus size — planner state, same doctrine
    # as the BPE 1-row argmax and the IVF probe-cell list
    rows = trans.collect()
    c: dict[tuple[str, str], int] = {(r.src, r.dst): int(r.n) for r in rows}
    tot: dict[str, int] = {}
    for (src, _), n in c.items():
        tot[src] = tot.get(src, 0) + n

    def _absorb(removed: str | None) -> int:
        p = {srcname: 0 for srcname in tot}
        for _ in range(iters):
            p = {
                srcname: sum(
                    n
                    * (
                        0
                        if dst == removed
                        else _ATTR_SCALE
                        if dst == "purchase"
                        else 0
                        if dst == "DROP"
                        else p.get(dst, 0)
                    )
                    for (s2, dst), n in c.items()
                    if s2 == srcname
                )
                // tot[srcname]
                for srcname in tot
            }
        return p.get("START", 0)

    base = _absorb(None)
    removed = {ch: _absorb(ch) for ch in _ATTR_CHANNELS}
    wsum = sum(base - removed[ch] for ch in _ATTR_CHANNELS)
    out = [
        (
            ch,
            base,
            removed[ch],
            base - removed[ch],
            ((base - removed[ch]) * 1_000_000) // wsum if wsum > 0 else 0,
        )
        for ch in _ATTR_CHANNELS
    ]
    return local_frame(
        spark, out,
        "channel string, p_base_q bigint, p_removed_q bigint, "
        "removal_q bigint, attr_ppm bigint",
    )


# ---------------------------------------------------------------------------
# Shapley-value attribution (exact, coalition model)

_SHAP_BITS = {ch: 1 << i for i, ch in enumerate(_ATTR_CHANNELS)}
# s!(k-1-s)! marginal weights for k=4 (denominator k!=24 left
# unapplied — phi is reported as the exact integer numerator in
# SCALE/24 units, so no floor-of-negative division ever happens)
_SHAP_W = {0: 6, 1: 2, 2: 2, 3: 6}


def _shap_user_mask_sql() -> str:
    mask_terms = " + ".join(
        f"MAX(CASE WHEN event_type = '{ch}' THEN 1 ELSE 0 END) * {b}"
        for ch, b in _SHAP_BITS.items()
    )
    return f"""
seq0 AS (
  SELECT user_id, ts, event_id, event_type,
    SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) OVER (
      PARTITION BY user_id ORDER BY ts ASC, event_id ASC
      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
    ) AS prior_purchases
  FROM events
),
j AS (SELECT * FROM seq0 WHERE COALESCE(prior_purchases, 0) = 0),
u AS (
  SELECT user_id,
    CAST(MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT)
      AS conv,
    CAST({mask_terms} AS BIGINT) AS mask
  FROM j GROUP BY user_id
),
sub AS (
  SELECT mask, CAST(count(*) AS BIGINT) AS users,
    CAST(SUM(conv) AS BIGINT) AS convs
  FROM u GROUP BY 1
),
v AS (
  SELECT mask, (convs * {_ATTR_SCALE}) // users AS v_q FROM sub
)"""


def _shap_pairs_sql() -> str:
    rows = []
    for ch, bit in _SHAP_BITS.items():
        others = [b for c, b in _SHAP_BITS.items() if c != ch]
        for sub_idx in range(1 << len(others)):
            s_mask = sum(
                b for i, b in enumerate(others) if sub_idx & (1 << i)
            )
            s_size = bin(sub_idx).count("1")
            rows.append(
                f"SELECT '{ch}' AS channel, {s_mask | bit} AS m_with, "
                f"{s_mask} AS m_without, {_SHAP_W[s_size]} AS wt"
            )
    return " UNION ALL ".join(rows)


def _shap_bits_sql() -> str:
    return " UNION ALL ".join(
        f"SELECT '{ch}' AS channel, {b} AS bit"
        for ch, b in _SHAP_BITS.items()
    )


@register(
    "events_shapley_attribution",
    oracle=f"""
WITH {_shap_user_mask_sql()},
pairs AS ({_shap_pairs_sql()}),
phi AS (
  SELECT channel,
    CAST(SUM(wt * (COALESCE(vw.v_q, 0) - COALESCE(vo.v_q, 0))) AS BIGINT)
      AS phi_num_q
  FROM pairs
  LEFT JOIN v vw ON vw.mask = pairs.m_with
  LEFT JOIN v vo ON vo.mask = pairs.m_without
  GROUP BY channel
),
cb AS ({_shap_bits_sql()}),
wth AS (
  SELECT cb.channel,
    CAST(COALESCE(SUM(CASE WHEN (sub.mask & cb.bit) <> 0
                           THEN sub.users ELSE 0 END), 0) AS BIGINT)
      AS n_users_with
  FROM cb, sub GROUP BY cb.channel
)
SELECT phi.channel, wth.n_users_with, phi.phi_num_q
FROM phi JOIN wth ON wth.channel = phi.channel
""",
    doc="Exact Shapley-value attribution over observed channel "
    "coalitions (Shapley 1953 applied to MTA; the other standard "
    "data-driven model next to events_markov_removal_attribution — "
    "together with first/last/linear they complete the attribution "
    "suite): each user's truncated-at-first-purchase journey reduces "
    "to a channel SET (4-bit mask) + converted flag, the "
    "characteristic function v(S) is the exact integer conversion "
    "rate of users with exactly that coalition (1e-9 units, one "
    "floor division per OBSERVED subset — at most 2^4), and each "
    "channel's phi is the exact weighted marginal sum reported as "
    "the integer NUMERATOR in SCALE/24 units — the k!-division is "
    "never applied, so no floor-of-negative-quotient can diverge "
    "between engines (marginals can be negative; Python floors, "
    "DuckDB truncates — sidestepped entirely). Scale split mirrors "
    "the Markov query: the corpus-scale work is one user_id window "
    "+ one per-user aggregate + a |2^k|-row subset census; the "
    "Shapley enumeration runs on that census — bounded by the "
    "CHANNEL SCHEMA (2^4 rows), planner state (bound commented at "
    "the collect). Exponential in k by nature, which is why k here "
    "is the event-type schema, never a data-derived set.",
)
def events_shapley_attribution(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(
        F.col("ts").asc(), F.col("event_id").asc()
    )
    prior = F.sum(
        F.when(F.col("event_type") == "purchase", 1).otherwise(0)
    ).over(w.rowsBetween(Window.unboundedPreceding, -1))
    j = ev.withColumn("pp", F.coalesce(prior, F.lit(0))).filter(
        F.col("pp") == 0
    )
    mask = sum(
        F.max(
            F.when(F.col("event_type") == ch, F.lit(b)).otherwise(0)
        )
        for ch, b in _SHAP_BITS.items()
    )
    u = j.groupBy("user_id").agg(
        F.max(
            F.when(F.col("event_type") == "purchase", 1).otherwise(0)
        )
        .cast("bigint")
        .alias("conv"),
        mask.cast("bigint").alias("mask"),
    )
    sub = u.groupBy("mask").agg(
        F.count(F.lit(1)).cast("bigint").alias("users"),
        F.sum("conv").cast("bigint").alias("convs"),
    )
    # collect bound: masks are subsets of the CHANNEL SCHEMA -> <= 2^4
    # rows regardless of corpus size — planner state, same doctrine as
    # the Markov transition matrix above
    stats = {int(r.mask): (int(r.users), int(r.convs)) for r in sub.collect()}
    v_q = {
        m: (convs * _ATTR_SCALE) // users
        for m, (users, convs) in stats.items()
    }
    out = []
    for ch, bit in _SHAP_BITS.items():
        others = [b for c, b in _SHAP_BITS.items() if c != ch]
        phi = 0
        for sub_idx in range(1 << len(others)):
            s_mask = sum(
                b for i, b in enumerate(others) if sub_idx & (1 << i)
            )
            s_size = bin(sub_idx).count("1")
            phi += _SHAP_W[s_size] * (
                v_q.get(s_mask | bit, 0) - v_q.get(s_mask, 0)
            )
        n_with = sum(
            users for m, (users, _) in stats.items() if m & bit
        )
        out.append((ch, n_with, phi))
    return local_frame(
        spark, out, "channel string, n_users_with bigint, phi_num_q bigint"
    )


# ---------------------------------------------------------------------------
# cohort LTV curve (monetized sibling of events_cohort_retention)

@register(
    "events_cohort_ltv",
    oracle="""
WITH sign AS (
  SELECT user_id, MIN(ts) AS s_ts FROM events
  WHERE event_type = 'signup' GROUP BY user_id
),
cohort AS (
  SELECT user_id, CAST(date_trunc('month', s_ts) AS DATE) AS cohort_month
  FROM sign
),
csize AS (
  SELECT cohort_month, CAST(count(*) AS BIGINT) AS n_users
  FROM cohort GROUP BY 1
),
purch AS (
  SELECT c.cohort_month,
    (year(e.ts) - year(c.cohort_month)) * 12
      + (month(e.ts) - month(c.cohort_month)) AS age_months,
    e.user_id,
    CAST(FLOOR(e.value * 1000000.0 + 0.5) AS BIGINT) AS vq
  FROM events e JOIN cohort c USING (user_id)
  WHERE e.event_type = 'purchase'
),
per AS (
  SELECT cohort_month, CAST(age_months AS BIGINT) AS age_months,
    CAST(count(DISTINCT user_id) AS BIGINT) AS n_buyers,
    CAST(count(*) AS BIGINT) AS n_purchases,
    CAST(SUM(vq) AS BIGINT) AS rev_q
  FROM purch WHERE age_months >= 0 GROUP BY 1, 2
),
cum AS (
  SELECT cohort_month, age_months, n_buyers, n_purchases,
    CAST(SUM(rev_q) OVER (
      PARTITION BY cohort_month ORDER BY age_months ASC
    ) AS BIGINT) AS cum_rev_q
  FROM per
)
SELECT cum.cohort_month, cum.age_months, csize.n_users, cum.n_buyers,
  cum.n_purchases,
  CAST(cum.cum_rev_q AS DOUBLE) / 1000000.0 AS cum_rev,
  (CAST(cum.cum_rev_q AS DOUBLE) / 1000000.0)
    / CAST(csize.n_users AS DOUBLE) AS ltv_per_user
FROM cum JOIN csize USING (cohort_month)
""",
    doc="Customer-lifetime-value curve by signup cohort — the "
    "monetized sibling of events_cohort_retention, and the number a "
    "growth team actually steers by (payback period = the age where "
    "ltv_per_user crosses acquisition cost): users cohorted by "
    "first-signup month, their purchase `value` accumulated per "
    "cohort-age month (pre-signup purchases excluded by the age >= 0 "
    "convention), cumulative within cohort, divided by the FULL "
    "cohort size (not just buyers — LTV averages over everyone "
    "acquired). Determinism: per-row 1e-6 fixed-point quantization "
    "of the full-precision value double, exact BIGINT sums and an "
    "exact BIGINT cumulative window (cross-row double addition never "
    "happens — the registry's standard discipline), one deterministic "
    "double chain per output row. Rows exist only for ages with "
    "purchases (sparse grid; the cumulative is still exact at every "
    "emitted point). Shuffles: one user-keyed cohort join (the "
    "sessionization key), one (cohort, age) aggregate over "
    "pre-reduced rows, one cohort-keyed window over a "
    "months-x-cohorts-sized table.",
)
def events_cohort_ltv(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    sign = (
        ev.filter(F.col("event_type") == "signup")
        .groupBy("user_id")
        .agg(F.min("ts").alias("s_ts"))
    )
    cohort = sign.select(
        "user_id",
        F.date_trunc("month", F.col("s_ts")).cast("date").alias(
            "cohort_month"
        ),
    )
    csize = cohort.groupBy("cohort_month").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_users")
    )
    purch = (
        ev.filter(F.col("event_type") == "purchase")
        .join(cohort, "user_id")
        .withColumn(
            "age_months",
            (
                (F.year("ts") - F.year("cohort_month")) * 12
                + (F.month("ts") - F.month("cohort_month"))
            ).cast("bigint"),
        )
        .filter(F.col("age_months") >= 0)
        .withColumn(
            "vq",
            F.floor(F.col("value") * F.lit(1000000.0) + F.lit(0.5)).cast(
                "bigint"
            ),
        )
    )
    per = purch.groupBy("cohort_month", "age_months").agg(
        F.countDistinct("user_id").cast("bigint").alias("n_buyers"),
        F.count(F.lit(1)).cast("bigint").alias("n_purchases"),
        F.sum("vq").cast("bigint").alias("rev_q"),
    )
    w = Window.partitionBy("cohort_month").orderBy(F.col("age_months").asc())
    cum = per.withColumn(
        "cum_rev_q", F.sum("rev_q").over(w).cast("bigint")
    )
    return cum.join(csize, "cohort_month").select(
        "cohort_month",
        "age_months",
        "n_users",
        "n_buyers",
        "n_purchases",
        (F.col("cum_rev_q").cast("double") / F.lit(1000000.0)).alias(
            "cum_rev"
        ),
        (
            (F.col("cum_rev_q").cast("double") / F.lit(1000000.0))
            / F.col("n_users").cast("double")
        ).alias("ltv_per_user"),
    )


# --------------------------------------------- Holt linear-trend forecast


@register(
    "events_holt_linear_forecast",
    oracle="""
WITH RECURSIVE daily AS (
  SELECT event_type, CAST(ts AS DATE) AS day,
    CAST(count(*) AS BIGINT) * 1000000000 AS y_q
  FROM events GROUP BY 1, 2
),
idx AS (
  SELECT event_type, y_q,
    CAST(row_number() OVER (PARTITION BY event_type ORDER BY day)
      AS BIGINT) AS rid,
    CAST(count(*) OVER (PARTITION BY event_type) AS BIGINT) AS n_days
  FROM daily
),
rec AS (
  SELECT event_type, CAST(1 AS BIGINT) AS i, y_q AS l,
    CAST(0 AS BIGINT) AS t, n_days
  FROM idx WHERE rid = 1
  UNION ALL
  SELECT r.event_type, r.i + 1,
    (d.y_q + r.l + r.t) >> 1 AS l,
    (((d.y_q + r.l + r.t) >> 1) - r.l + r.t) >> 1 AS t,
    r.n_days
  FROM rec r JOIN idx d
    ON d.event_type = r.event_type AND d.rid = r.i + 1
)
SELECT event_type, n_days, l AS level_q, t AS trend_q,
  (l + 7 * t) AS forecast7_q
FROM rec WHERE i = n_days
""",
    doc="Holt's linear-trend double exponential smoothing over the "
    "per-type daily event-count series, plus the 7-step-ahead "
    "forecast l + 7t — the trend-aware upgrade of events_ewma_trend "
    "(EWMA tracks level only, so it lags any ramp; Holt's trend term "
    "is how capacity forecasting actually extrapolates). alpha = "
    "beta = 1/2 as EXACT integer arithmetic: counts live in 1e-9 "
    "units and every smoothing step is an arithmetic right-shift "
    "(floor division by 2 — Spark shiftright and DuckDB >> agree on "
    "negatives, verified, so a decaying trend stays bit-identical). "
    "The recursion is inherently sequential IN TIME but the series "
    "axis is tiny: Spark folds each type's day-ordered array with "
    "ONE codegen aggregate() after a (type, day) count shuffle — "
    "per-type state is 2 BIGINTs, days-per-type is bounded by the "
    "calendar, so at 100 TB the heavy part remains the count "
    "aggregate (scan + partial/final combine) and the fold costs "
    "|types| x |days| integer ops. The oracle replays the identical "
    "recurrence as a recursive CTE. Forecast in 1e-9 count units.",
)
def events_holt_linear_forecast(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type", F.to_date("ts").alias("day")
    ).agg(
        (F.count(F.lit(1)).cast("bigint") * F.lit(1000000000).cast("bigint"))
        .alias("y_q")
    )
    series = daily.groupBy("event_type").agg(
        F.sort_array(F.collect_list(F.struct("day", "y_q"))).alias("s"),
        F.count(F.lit(1)).cast("bigint").alias("n_days"),
    )
    fold = F.expr(
        """
aggregate(
  slice(s, 2, size(s) - 1),
  named_struct('l', element_at(s, 1).y_q, 't', CAST(0 AS BIGINT)),
  (acc, x) -> named_struct(
    'l', shiftright(x.y_q + acc.l + acc.t, 1),
    't', shiftright(shiftright(x.y_q + acc.l + acc.t, 1) - acc.l + acc.t, 1)
  ),
  acc -> acc)
"""
    )
    return series.select(
        "event_type",
        "n_days",
        fold.getField("l").alias("level_q"),
        fold.getField("t").alias("trend_q"),
        (fold.getField("l") + F.lit(7).cast("bigint") * fold.getField("t"))
        .alias("forecast7_q"),
    )


# --------------------------------------------- Holt forecast backtest

_HOLT_HOLDOUT = 7


@register(
    "events_holt_backtest",
    oracle=f"""
WITH RECURSIVE daily AS (
  SELECT event_type, CAST(ts AS DATE) AS day,
    CAST(count(*) AS BIGINT) * 1000000000 AS y_q
  FROM events GROUP BY 1, 2
),
idx AS (
  SELECT event_type, y_q,
    CAST(row_number() OVER (PARTITION BY event_type ORDER BY day)
      AS BIGINT) AS rid,
    CAST(count(*) OVER (PARTITION BY event_type) AS BIGINT) AS n_days
  FROM daily
),
eligible AS (SELECT * FROM idx WHERE n_days >= {_HOLT_HOLDOUT + 2}),
rec AS (
  SELECT event_type, CAST(1 AS BIGINT) AS i, y_q AS l,
    CAST(0 AS BIGINT) AS t, n_days
  FROM eligible WHERE rid = 1
  UNION ALL
  SELECT r.event_type, r.i + 1,
    (d.y_q + r.l + r.t) >> 1 AS l,
    (((d.y_q + r.l + r.t) >> 1) - r.l + r.t) >> 1 AS t,
    r.n_days
  FROM rec r JOIN eligible d
    ON d.event_type = r.event_type AND d.rid = r.i + 1
  WHERE r.i + 1 <= r.n_days - {_HOLT_HOLDOUT}
),
fitted AS (
  SELECT event_type, l, t, n_days FROM rec
  WHERE i = n_days - {_HOLT_HOLDOUT}
),
preds AS (
  SELECT f.event_type, e.rid - (f.n_days - {_HOLT_HOLDOUT}) AS h,
    f.l + (e.rid - (f.n_days - {_HOLT_HOLDOUT})) * f.t AS yhat_q,
    e.y_q
  FROM fitted f JOIN eligible e
    ON e.event_type = f.event_type
    AND e.rid > f.n_days - {_HOLT_HOLDOUT}
)
SELECT event_type,
  CAST(count(*) AS BIGINT) AS n_holdout,
  CAST(SUM(abs(y_q - yhat_q)) AS BIGINT) AS abs_err_q,
  CAST(SUM(abs(y_q - yhat_q)) AS BIGINT) // CAST(count(*) AS BIGINT)
    AS mae_q
FROM preds GROUP BY event_type
""",
    doc="Rolling-origin BACKTEST of the Holt linear-trend model "
    "(events_holt_linear_forecast's eval harness — the evidence that "
    f"the forecast is worth shipping): per event type, fit on all but "
    f"the last {_HOLT_HOLDOUT} days (same exact integer recurrence), "
    f"forecast h = 1..{_HOLT_HOLDOUT} as l + h*t, and report the "
    "holdout MAE in exact 1e-9 count units (types shorter than "
    f"{_HOLT_HOLDOUT + 2} days are excluded — no trend is fittable). "
    "The forecasting-eval discipline every capacity model needs "
    "(train/test split in TIME, never random — the same leakage "
    "doctrine as doc_train_val_test_split). Plan: the corpus "
    "collapses to the calendar-bounded daily table once; the "
    "truncated fold and the 7-row-per-type holdout join are "
    "|types| x |days| integer work. Errors are exact BIGINTs, so "
    "the whole backtest hash-gates.",
)
def events_holt_backtest(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type", F.to_date("ts").alias("day")
    ).agg(
        (F.count(F.lit(1)).cast("bigint") * F.lit(1000000000).cast("bigint"))
        .alias("y_q")
    )
    series = daily.groupBy("event_type").agg(
        F.sort_array(F.collect_list(F.struct("day", "y_q"))).alias("s"),
        F.count(F.lit(1)).cast("bigint").alias("n_days"),
    ).filter(F.col("n_days") >= _HOLT_HOLDOUT + 2)
    h = _HOLT_HOLDOUT
    fold = F.expr(
        f"""
aggregate(
  slice(s, 2, size(s) - 1 - {h}),
  named_struct('l', element_at(s, 1).y_q, 't', CAST(0 AS BIGINT)),
  (acc, x) -> named_struct(
    'l', shiftright(x.y_q + acc.l + acc.t, 1),
    't', shiftright(shiftright(x.y_q + acc.l + acc.t, 1) - acc.l + acc.t, 1)
  ),
  acc -> acc)
"""
    )
    fitted = series.select(
        "event_type",
        "n_days",
        "s",
        fold.getField("l").alias("l"),
        fold.getField("t").alias("t"),
    )
    # per-type holdout errors as an in-row fold over the last h points
    # (bounded by the holdout length — no explode, no extra shuffle)
    err = F.expr(
        f"""
aggregate(
  transform(sequence(1, {h}),
    hh -> abs(element_at(s, CAST(size(s) - {h} + hh AS INT)).y_q
              - (l + hh * t))),
  CAST(0 AS BIGINT), (acc, x) -> acc + x, acc -> acc)
"""
    )
    return fitted.select(
        "event_type",
        F.lit(h).cast("bigint").alias("n_holdout"),
        err.alias("abs_err_q"),
    ).withColumn("mae_q", F.expr(f"abs_err_q div {h}").cast("bigint"))


# ------------------------------------------- burst segmentation (Viterbi)


@register(
    "events_burst_segmentation",
    oracle="""
WITH RECURSIVE hourly AS (
  SELECT event_type, date_trunc('hour', ts) AS h,
    CAST(count(*) AS BIGINT) AS y
  FROM events GROUP BY 1, 2
),
idx AS (
  SELECT event_type, y,
    CAST(row_number() OVER (PARTITION BY event_type ORDER BY h)
      AS BIGINT) AS rid,
    CAST(count(*) OVER (PARTITION BY event_type) AS BIGINT) AS n_hours
  FROM hourly
),
rates AS (
  SELECT event_type, CAST(SUM(y) // count(*) AS BIGINT) AS r0
  FROM idx GROUP BY event_type
),
rec AS (
  SELECT i.event_type, CAST(1 AS BIGINT) AS i,
    abs(i.y - r.r0) AS c0,
    r.r0 + abs(i.y - 2 * r.r0) AS c1,
    CAST(0 AS BIGINT) AS b0, CAST(0 AS BIGINT) AS h0,
    CAST(1 AS BIGINT) AS b1, CAST(1 AS BIGINT) AS h1,
    i.n_hours, r.r0
  FROM idx i JOIN rates r USING (event_type) WHERE i.rid = 1
  UNION ALL
  SELECT r.event_type, r.i + 1,
    least(r.c0, r.c1) + abs(d.y - r.r0) AS c0,
    least(r.c1, r.c0 + r.r0) + abs(d.y - 2 * r.r0) AS c1,
    CASE WHEN r.c0 <= r.c1 THEN r.b0 ELSE r.b1 END AS b0,
    CASE WHEN r.c0 <= r.c1 THEN r.h0 ELSE r.h1 END AS h0,
    CASE WHEN r.c1 <= r.c0 + r.r0 THEN r.b1 ELSE r.b0 + 1 END AS b1,
    CASE WHEN r.c1 <= r.c0 + r.r0 THEN r.h1 + 1 ELSE r.h0 + 1 END AS h1,
    r.n_hours, r.r0
  FROM rec r JOIN idx d
    ON d.event_type = r.event_type AND d.rid = r.i + 1
)
SELECT event_type, n_hours, r0 AS base_rate,
  least(c0, c1) AS path_cost_q,
  CASE WHEN c0 <= c1 THEN b0 ELSE b1 END AS n_bursts,
  CASE WHEN c0 <= c1 THEN h0 ELSE h1 END AS burst_hours
FROM rec WHERE i = n_hours
""",
    doc="Burst segmentation of the per-type hourly series: a 2-state "
    "min-cost Viterbi DP (the integer-exact analog of Kleinberg's "
    "burst automaton, KDD'02) — state 0 emits near the baseline rate "
    "r0 = mean hourly count, state 1 near the burst rate 2*r0, L1 "
    "emission costs, an r0 switch penalty for ENTERING a burst (no "
    "charge to leave), ties prefer the quiet state. Reports the "
    "optimal path's burst count and burst hours — segmentation-level "
    "output that point detectors (events_cusum_changepoint flags one "
    "shift; events_seasonal_anomalies flags single hours) cannot "
    "give: how MANY distinct elevated episodes and their total "
    "dwell. All-integer DP (costs, penalties, argmin tie-breaks) so "
    "the oracle replays it as a recursive CTE bit-identically — the "
    "Holt contract extended to path-tracking state (per-state best "
    "(cost, n_bursts, hours) triples ride the fold). Plan: the "
    "corpus collapses to the calendar-bounded hourly table, then ONE "
    "codegen aggregate() fold per type — |types| x |hours| integer "
    "ops, O(1) state per type.",
)
def events_burst_segmentation(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    hourly = ev.groupBy(
        "event_type", F.date_trunc("hour", F.col("ts")).alias("h")
    ).agg(F.count(F.lit(1)).cast("bigint").alias("y"))
    series = hourly.groupBy("event_type").agg(
        F.sort_array(F.collect_list(F.struct("h", "y"))).alias("s"),
        F.count(F.lit(1)).cast("bigint").alias("n_hours"),
        F.expr("CAST(SUM(y) div count(*) AS BIGINT)").alias("r0"),
    )
    fold = F.expr(
        """
aggregate(
  slice(s, 2, size(s) - 1),
  named_struct(
    'c0', abs(element_at(s, 1).y - r0),
    'c1', r0 + abs(element_at(s, 1).y - 2 * r0),
    'b0', CAST(0 AS BIGINT), 'h0', CAST(0 AS BIGINT),
    'b1', CAST(1 AS BIGINT), 'h1', CAST(1 AS BIGINT)),
  (acc, x) -> named_struct(
    'c0', least(acc.c0, acc.c1) + abs(x.y - r0),
    'c1', least(acc.c1, acc.c0 + r0) + abs(x.y - 2 * r0),
    'b0', CASE WHEN acc.c0 <= acc.c1 THEN acc.b0 ELSE acc.b1 END,
    'h0', CASE WHEN acc.c0 <= acc.c1 THEN acc.h0 ELSE acc.h1 END,
    'b1', CASE WHEN acc.c1 <= acc.c0 + r0 THEN acc.b1 ELSE acc.b0 + 1 END,
    'h1', CASE WHEN acc.c1 <= acc.c0 + r0 THEN acc.h1 + 1
               ELSE acc.h0 + 1 END),
  acc -> acc)
"""
    )
    return series.select(
        "event_type",
        "n_hours",
        F.col("r0").alias("base_rate"),
        F.least(fold.getField("c0"), fold.getField("c1")).alias(
            "path_cost_q"
        ),
        F.when(
            fold.getField("c0") <= fold.getField("c1"), fold.getField("b0")
        )
        .otherwise(fold.getField("b1"))
        .alias("n_bursts"),
        F.when(
            fold.getField("c0") <= fold.getField("c1"), fold.getField("h0")
        )
        .otherwise(fold.getField("h1"))
        .alias("burst_hours"),
    )
